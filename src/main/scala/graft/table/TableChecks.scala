package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset-level checks — the north-rule lift of the reference's row-scoped
  * verdict semantics to table scope (SURVEY.md §2.6). Per-row keyword
  * semantics stay faithful to the reference; the distribution strategy
  * (partial aggregation, broadcast-vs-shuffle joins) is new architecture,
  * designed for 10^12-row tables.
  */
object TableChecks {

  /** Per-column statistics in ONE aggregation pass (partial/map-side agg →
    * one shuffle of a single tiny row; no per-column jobs). Output: one row
    * per column: (column, count, nulls, null_frac, min, max, approx_distinct).
    * min/max rendered as strings so heterogeneous columns share a schema.
    * The nullness stats generalize `type`+`required`; approx distinct is
    * the HLL++ analog of `uniqueItems` hashing (`unique.rs:67-100`). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val total = count(lit(1)).as("_total")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"_cnt$i"),
        min(col(c)).cast(StringType).as(s"_min$i"),
        max(col(c)).cast(StringType).as(s"_max$i"),
        approx_count_distinct(col(c)).as(s"_dist$i"))
    }
    val row = df.agg(total, aggs: _*)
    val structs = cols.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("column"),
        col("_total").as("count"),
        (col("_total") - col(s"_cnt$i")).as("nulls"),
        when(col("_total") === 0, 0d)
          .otherwise((col("_total") - col(s"_cnt$i")).cast(DoubleType) / col("_total")).as("null_frac"),
        col(s"_min$i").as("min"),
        col(s"_max$i").as("max"),
        col(s"_dist$i").as("approx_distinct"))
    }
    row.select(explode(array(structs: _*)).as("s")).select("s.*")
  }

  /** Keys violating a uniqueness constraint, with multiplicities — the
    * dataset-level `uniqueItems` (SURVEY §2.2 / north rule `clip_id`).
    *
    * One group-by with a combinable `count`: the partial aggregate emits at
    * most one row per key per map task (also after it falls back to
    * sort-based aggregation), so a hot key's reduce-side input is bounded
    * by the number of map tasks, whatever the key's frequency. */
  def uniquenessViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /** All rows participating in a duplicate group (the "all duplicate ids,
    * not just counts" requirement). Broadcast the (small) violating-key set
    * back against the table when it fits; fall back to a shuffled semi
    * join otherwise. */
  def duplicateRows(df: DataFrame, keys: Seq[String], broadcastKeys: Boolean = true): DataFrame = {
    val dups = uniquenessViolations(df, keys).select(keys.map(col): _*)
    val right = if (broadcastKeys) broadcast(dups) else dups
    df.join(right, keys, "left_semi")
  }

  /** Referential-integrity violations: rows of `df` whose `fkCols` have no
    * match in `dim.pkCols` — the dataset-level `enum` membership
    * (`enum_.rs:239`). Broadcast left-anti for small dims; shuffled
    * (sort-merge capable) anti join for large ones. */
  def referentialViolations(df: DataFrame, fkCols: Seq[String],
                            dim: DataFrame, pkCols: Seq[String],
                            broadcastDim: Boolean = true): DataFrame = {
    val d = dim.select(pkCols.map(col): _*).distinct()
    // broadcast for small dims; explicit merge hint for large ones (at
    // test scale Catalyst would auto-broadcast and hide the SMJ path)
    val right = if (broadcastDim) broadcast(d) else d.hint("merge")
    val cond = fkCols.zip(pkCols).map { case (f, p) => df(f) <=> right(p) }.reduce(_ && _)
    df.join(right, cond, "left_anti")
  }

  /** Fixed-bucket histogram of a numeric column: bucket i covers
    * [lo + i*w, lo + (i+1)*w); underflow → bucket -1, overflow → bucket n.
    * One partial-agg pass; result size = O(buckets), independent of rows. */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(hi > lo && buckets > 0)
    val w = (hi - lo) / buckets
    val b = when(col(c).isNull, lit(null))
      .when(col(c) < lo, lit(-1L))
      .when(col(c) >= hi, lit(buckets.toLong))
      .otherwise(floor((col(c) - lit(lo)) / lit(w)))
      .cast(LongType).as("bucket")
    df.select(b).where(col("bucket").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-cohort histogram in ONE scan: (bucket, group, cnt) for each value
    * of `groupCol` — the drift input for comparing cohorts without
    * re-scanning the table per cohort. Same bucket layout as `histogram`. */
  def histogramBy(df: DataFrame, c: String, lo: Double, hi: Double, buckets: Int,
                  groupCol: String): DataFrame = {
    require(hi > lo && buckets > 0)
    val w = (hi - lo) / buckets
    val b = when(col(c).isNull, lit(null))
      .when(col(c) < lo, lit(-1L))
      .when(col(c) >= hi, lit(buckets.toLong))
      .otherwise(floor((col(c) - lit(lo)) / lit(w)))
      .cast(LongType).as("bucket")
    df.select(b, col(groupCol).as("group")).where(col("bucket").isNotNull)
      .groupBy("bucket", "group").agg(count(lit(1)).as("cnt"))
  }

  /** Population Stability Index between two histograms over the same
    * buckets. Inputs are tiny (O(buckets)) — collected and computed on
    * the driver, like the reference computes final verdicts after
    * aggregation. Zero-count buckets are floored at `eps` of mass. */
  def psi(current: Map[Long, Long], baseline: Map[Long, Long], eps: Double = 1e-6): Double = {
    val cTot = current.values.sum.toDouble.max(1)
    val bTot = baseline.values.sum.toDouble.max(1)
    val allBuckets = (current.keySet ++ baseline.keySet).toSeq.sorted
    allBuckets.map { k =>
      val p = math.max(current.getOrElse(k, 0L) / cTot, eps)
      val q = math.max(baseline.getOrElse(k, 0L) / bTot, eps)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** Kolmogorov–Smirnov statistic between two histograms (max |ΔCDF|). */
  def ks(current: Map[Long, Long], baseline: Map[Long, Long]): Double = {
    val cTot = current.values.sum.toDouble.max(1)
    val bTot = baseline.values.sum.toDouble.max(1)
    val allBuckets = (current.keySet ++ baseline.keySet).toSeq.sorted
    var cAcc = 0d; var bAcc = 0d; var maxD = 0d
    allBuckets.foreach { k =>
      cAcc += current.getOrElse(k, 0L) / cTot
      bAcc += baseline.getOrElse(k, 0L) / bTot
      maxD = math.max(maxD, math.abs(cAcc - bAcc))
    }
    maxD
  }

  /** Drift check: histogram `df.c` at the given buckets, compare to a
    * baseline histogram, return (psi, ks, pass). The big-data side is one
    * aggregation; the comparison is O(buckets) on the driver. */
  def driftCheck(df: DataFrame, c: String, lo: Double, hi: Double, buckets: Int,
                 baseline: Map[Long, Long], psiMax: Double): DriftResult = {
    val cur = histogram(df, c, lo, hi, buckets).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = psi(cur, baseline)
    val k = ks(cur, baseline)
    DriftResult(p, k, p <= psiMax, cur)
  }

  /** Exact quantiles are a sort at scale; `percentile_approx` (GK sketch)
    * is the mergeable one-pass path (PAPERS.md: KLL/moment sketches).
    * Returns one row per column with the requested quantiles. */
  def quantileSketch(df: DataFrame, cols: Seq[String], qs: Seq[Double],
                     accuracy: Int = 10000): DataFrame = {
    val aggs = cols.map(c =>
      percentile_approx(col(c), typedlit(qs), lit(accuracy)).as(s"_q_$c"))
    // (r06: a conditional repartition before this agg was measured and
    // reverted — merging per-partition GK sketches cost more than the
    // single-split scan it parallelized at bench scale)
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map(c => struct(lit(c).as("column"), col(s"_q_$c").as("quantiles")))
    row.select(explode(array(structs: _*)).as("s")).select("s.*")
  }
}

final case class DriftResult(psi: Double, ks: Double, pass: Boolean,
                             histogram: Map[Long, Long])
