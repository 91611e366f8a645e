package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Parallel

/** The keyed spread is the co-partitioning idiom of the iterative loops
  * (pagerank, label propagation, k-means): an edge list spread on `src` and
  * checkpointed keeps `HashPartitioning(src, n)`, and each round joins it
  * to a `groupBy` of the same key. The join needs no Exchange on the
  * checkpointed side only if `n` is the count the planner gives the
  * `groupBy` exchange, the shuffle-partition setting, whatever it is.
  *
  * AQE is off here because only then does the checkpoint keep the
  * partitioning: with AQE on, `localCheckpoint` records the partitioning
  * of the `AdaptiveSparkPlan` root, which is always unknown, so the join
  * re-shuffles a checkpointed spread under any count. */
class ParallelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Exchange nodes of the executed plan above the checkpointed frame. */
  private def exchangesOverCheckpoint(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec if e.exists(_.isInstanceOf[RDDScanExec]) => e
    }.size

  test("a keyed spread co-partitions with groupBy at a non-core shuffle count") {
    val settings = Seq("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      val edges = spark.range(400)
        .select((col("id") % 23).as("src"), col("id").as("dst"))
      val labels = spark.range(200)
        .select((col("id") % 23).as("node"), col("id").as("v"))
        .groupBy(col("node")).agg(min(col("v")).as("lbl"))
      def extra(spread: DataFrame): Int = exchangesOverCheckpoint(
        spread.localCheckpoint()
          .join(labels.hint("shuffle_hash"), col("src") === col("node")))
      val e = Parallel.spread(edges, col("src"))
      assert(e.rdd.getNumPartitions == 7)
      assert(extra(e) == 0)
      // the core-count form it replaced (local[4] against 7) re-shuffles
      // the checkpoint, so the check above can fail
      assert(extra(edges.repartition(
        spark.sparkContext.defaultParallelism, col("src"))) == 1)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
