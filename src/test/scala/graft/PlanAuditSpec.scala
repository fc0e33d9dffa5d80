package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.run.Validation
import graft.table.TableChecks
import graft.ann.Ann

/** Physical-plan audits: the plans we'd want at 100TB, not just plans
  * that pass (builder prompt: ".explain the plan and iterate"). */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("column pruning: violations over a 2-column spec reads only 3 columns") {
    val plan = Validation.compile(
      """{"properties":{"o_totalprice":{"maximum":200000}},"required":["o_custkey"]}""",
      orders.schema)
    val q = plan.violations(orders, Seq("o_orderkey"))
    val scan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    val readCols = readSchema.split(",").map(_.split(":")(0).trim).toSet
    assert(readCols == Set("o_orderkey", "o_custkey", "o_totalprice"), readSchema)
  }

  test("columnStats reads only the requested columns") {
    val q = TableChecks.columnStats(orders, Seq("o_custkey"))
    val scan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(readSchema.trim == "o_custkey:bigint", readSchema)
  }

  test("brute-force top-k plans as TakeOrdered, not a global sort") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Ann.topKCosine(emb, "embedding", "vec_id", Array.fill(64)(0.1f), 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("referential check: broadcast flag yields BroadcastHashJoin, shuffle path avoids it") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val bPlan = TableChecks.referentialViolations(orders, Seq("o_custkey"), cust, Seq("c_custkey"),
      broadcastDim = true).queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    // non-broadcast path must not rely on the driver collecting the dim
    val sPlan = TableChecks.referentialViolations(orders, Seq("o_custkey"), cust, Seq("c_custkey"),
      broadcastDim = false).queryExecution.sparkPlan.toString
    assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"), sPlan)
  }

  test("uniqueness: one shuffle exchange on the key, fed by a partial count") {
    val q = TableChecks.uniquenessViolations(orders, Seq("o_custkey"))
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange (\\w+)\\(([^,)]*)".r.findAllMatchIn(plan)
      .map(m => (m.group(1), m.group(2).takeWhile(_ != '#'))).toSeq
    assert(exchanges == Seq(("hashpartitioning", "o_custkey")), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("validation predicates stay inside whole-stage codegen") {
    val plan = Validation.compile(
      """{"properties":{"o_totalprice":{"maximum":200000},"o_orderpriority":{"pattern":"^[1-5]-"}}}""",
      orders.schema)
    val q = plan.withValidation(orders)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p) // WholeStageCodegen stage marker
  }

  test("FULL clips suite fuses into one codegen stage (r2 regression: filter() HOF evicted it)") {
    // the violations array must be built from codegen-capable concat, not a
    // higher-order function — one non-codegen expression drops the whole
    // Project out of WholeStageCodegen and re-evaluates the audio decode
    // interpreted per entry (measured 6x per row)
    val clips = graft.audio.ClipsGen.generate(spark, 50, partitions = 1, corruptionRate = 0.0)
    val df = clips.toDF()
    val plan = graft.audio.AudioChecks.fullPlan(df.schema)
    val q = plan.withValidation(df)
    val projects = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Project")).toSeq
    assert(projects.nonEmpty)
    projects.foreach(l => assert(l.trim.matches("^[+:\\-\\s]*\\*\\(\\d+\\).*"),
      s"Project fell out of WholeStageCodegen:\n$l"))
  }

  test("text-stats queries are codegen'd (r2 regression: aggregate/filter HOFs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(
      graft.text.TextOps.tokenCount(col("text")).as("n"),
      graft.text.TextOps.qualityScore(col("text")).as("q"),
      graft.text.TextOps.langId(col("text")).as("l"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p)
    assert(!p.toLowerCase.contains("lambdafunction"), p) // no interpreted HOFs
  }

  test("cohort histogram (drift input): one scan, partial aggregation, O(buckets) result") {
    val q = TableChecks.histogramBy(
      orders.withColumn("_cohort", crc32(col("o_orderkey").cast("string")) % 2),
      "o_totalprice", 0, 600000, 24, "_cohort")
    val plan = q.queryExecution.executedPlan.toString
    // one parquet scan feeding a two-phase (partial + final) aggregate —
    // the drift comparison itself is O(buckets) on the driver
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_"), plan)
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val readCols = readSchema.split(",").map(_.split(":")(0).trim).toSet
    assert(readCols == Set("o_orderkey", "o_totalprice"), readSchema)
  }
}
