package graft.functions

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor (optimization guide §2.5, "input
  * skew: one huge unsplittable file / fix at the source or repartition
  * after the read"). When a source collapses to fewer scan splits than
  * the session has cores — a single small parquet file, routine for
  * dimension tables and small fixtures — every per-row kernel downstream
  * of the scan runs on ONE core while the rest of the cluster idles.
  *
  * `toCores` round-robins such inputs across the default parallelism.
  * It is deliberately conditional, NOT a constant repartition:
  *  - at scale it is a provable no-op — an input with ≥ cores splits
  *    (anything bigger than cores × maxPartitionBytes) passes through
  *    untouched, so no 100-TB table is ever re-shuffled by this;
  *  - when it does fire, the extra exchange is bounded by
  *    cores · maxPartitionBytes bytes — the definition of the condition.
  *
  * Callers apply it AFTER projecting the columns the downstream kernel
  * needs, so the exchange carries the narrow projection (column pruning
  * also pushes projections below Repartition for callers that pass the
  * raw frame). */
object Spread {
  def toCores(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
