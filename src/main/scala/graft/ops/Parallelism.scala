package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-parallelism floor for expensive per-row passes.
  *
  * A tiny parquet fixture scans as ONE partition, so a costly per-row
  * UDF over it (the MinHash and SimHash signatures, image dHash) runs as
  * a single task, and so does the probe side of a broadcast join
  * downstream (SimHash's chunk self-join, with the fan-out of its
  * candidate pairs: 3-18 s single-task jobs measured at sf0.1).
  * Re-keying the frame with `repartition(cols)` does not fix it: AQE
  * coalesces keyed repartitions back down by BYTES, which are tiny
  * before the UDF, and a REPARTITION_BY_COL exchange under a join
  * disables AQE's skew-join splitting at scale.
  *
  * The fix that is a no-op at scale: when the frame's physical
  * partitioning is NARROWER than the session's default parallelism,
  * round-robin it up with a PINNED partition count
  * (`repartition(defaultParallelism)`) — pinned counts are never
  * AQE-coalesced. On a real cluster the scan already has
  * ≥ parallelism partitions, so no repartition node is added and the
  * plan is byte-identical to the unwidened one. `defaultParallelism`
  * is the session's cluster-derived core count, not a local constant.
  */
object Parallelism {

  /** Widen `df` to at least the session default parallelism. Intended
    * for exchange-free, scan-rooted frames (every current caller):
    * probing `.rdd.getNumPartitions` on such a lineage is free; on an
    * exchange-bearing frame AQE may materialize upstream stages to
    * answer it (work the caller's next action would do anyway, via
    * shuffle reuse).
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
