package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.table.TableChecks

case class KV(k: String, v: Long)

class TableChecksSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("columnStats: counts, nulls, min/max in one pass") {
    val df = Seq(("a", Some(1)), ("b", None), ("c", Some(3))).toDF("s", "x")
    val stats = TableChecks.columnStats(df, Seq("s", "x")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats("x").getAs[Long]("nulls") == 1)
    assert(stats("x").getAs[String]("min") == "1")
    assert(stats("x").getAs[String]("max") == "3")
    assert(stats("s").getAs[Long]("count") == 3)
    assert(math.abs(stats("x").getAs[Double]("null_frac") - 1.0 / 3) < 1e-9)
  }

  test("uniquenessViolations finds duplicate keys with multiplicities, incl. hot key") {
    // one hot key duplicated 1000x (the skew case salting is for)
    val rows = (1 to 1000).map(_ => KV("hot", 1L)) ++ Seq(KV("a", 1), KV("a", 2), KV("b", 1))
    val df = rows.toDF()
    val dups = TableChecks.uniquenessViolations(df, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(dups == Map("hot" -> 1000L, "a" -> 2L))
  }

  test("uniquenessViolations shuffles at most one record per key per input partition") {
    // 1000 copies of one key over n map tasks: the partial count leaves
    // one row per task, so the query's exchanges write <= n records in all
    val n = 4
    val df = spark.sparkContext.parallelize(Seq.fill(1000)(KV("hot", 1L)), n).toDF()
    val q = TableChecks.uniquenessViolations(df, Seq("k"))
    assert(q.collect().map(r => r.getString(0) -> r.getAs[Long]("cnt")).toSeq == Seq("hot" -> 1000L))
    // executed plan, looking through the AQE query stages
    val written = collect(q.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      .map(_.metrics("shuffleRecordsWritten").value)
    assert(written.nonEmpty && written.sum <= n, s"shuffle records written per exchange: $written")
  }

  test("duplicateRows returns every row of each duplicate group") {
    val df = Seq(KV("a", 1), KV("a", 2), KV("b", 1)).toDF()
    val d = TableChecks.duplicateRows(df, Seq("k")).collect()
    assert(d.length == 2 && d.forall(_.getString(0) == "a"))
  }

  test("referentialViolations via anti join (broadcast and shuffle paths)") {
    val fact = Seq(KV("a", 1), KV("x", 2), KV("b", 3)).toDF()
    val dim = Seq("a", "b").toDF("k")
    for (bc <- Seq(true, false)) {
      val v = TableChecks.referentialViolations(fact, Seq("k"), dim, Seq("k"), bc).collect()
      assert(v.map(_.getString(0)).toSeq == Seq("x"))
    }
  }

  test("histogram buckets with under/overflow") {
    val df = Seq(-5.0, 0.0, 5.0, 9.99, 10.0, 25.0).toDF("x")
    val h = TableChecks.histogram(df, "x", 0, 10, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // [0,5) → bucket 0: {0.0}; [5,10) → bucket 1: {5.0, 9.99}
    assert(h == Map(-1L -> 1L, 0L -> 1L, 1L -> 2L, 2L -> 2L))
  }

  test("psi/ks: identical → 0, shifted → large") {
    val a = Map(0L -> 100L, 1L -> 100L, 2L -> 100L)
    val b = Map(0L -> 10L, 1L -> 40L, 2L -> 250L)
    assert(TableChecks.psi(a, a) == 0d)
    assert(TableChecks.ks(a, a) == 0d)
    assert(TableChecks.psi(a, b) > 0.2)
    assert(TableChecks.ks(a, b) > 0.2)
  }

  test("quantileSketch returns requested quantiles") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val q = TableChecks.quantileSketch(df, Seq("x"), Seq(0.5, 0.99)).collect()(0)
    val qs = q.getSeq[Double](1)
    assert(math.abs(qs(0) - 500) < 20 && math.abs(qs(1) - 990) < 20)
  }
}
