package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

/** The one parallelism seam: every operator spread — round-robin before a
  * wide map-only pass, or keyed to co-partition an iterative loop's edge
  * list — goes through [[spread]].
  *
  *  - Why spread: the testdata parquet files are ONE row group each, so a
  *    map-only stage over a raw scan (a fused kernel, a ×N generator, a
  *    global decimal-moment agg) runs on one core locally; the spread
  *    restores the scan-split parallelism of a real multi-split corpus.
  *    Sites keep their own measured A/B figures.
  *  - Why `spark.sql.shuffle.partitions`, as the planner reads it: a keyed
  *    spread then has the count the planner gives each round's `groupBy`
  *    exchange on that key, under any setting (ParallelSpec), and every
  *    spread is varied by DeterminismSpec's sweep. `Sessions.local` sets it
  *    to the core count. With AQE on, `localCheckpoint` records the unknown
  *    partitioning of the `AdaptiveSparkPlan` root, so the checkpointed
  *    loops still re-shuffle their edge list each round (q_pagerank_xxl).
  *  - Why an explicit count: a count-less `repartition(cols)` is coalescible
  *    by AQE, which on small inputs collapses the spread to one partition.
  */
object Parallel {
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }
}
