package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.CoPurchase

/** The co-purchase graph builder against reference forms of the same
  * edge sets. */
class CoPurchaseSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** The support ≥ 2 edge list as q_triangles/q_conncomp built it before
    * the graph moved to CoPurchase: a self-join of the distinct
    * (order, part) rows on the order key, plus the planted 4-clique. */
  private def supportedBySelfJoin(sf: String): DataFrame = {
    import spark.implicits._
    val lp = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
    val organic = lp.as("a").join(lp.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("s"))
      .filter($"s" >= 2)
      .select($"pa", $"pb")
    val k4 = Seq(9000001L, 9000002L, 9000003L, 9000004L)
    organic.unionByName(
      k4.combinations(2).map { case Seq(x, y) => (x, y) }.toSeq.toDF("pa", "pb"))
  }

  private def edges(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"support >= 2 edge list equals the self-join reference at $sf") {
      val got = edges(CoPurchase.supported(spark, sf).select("pa", "pb"))
      val want = edges(supportedBySelfJoin(sf))
      assert(got.size == got.distinct.size, "an edge appears twice")
      assert(got.forall { case (a, b) => a < b }, "an edge is not pa < pb")
      assert(got.toSet == want.toSet)
      assert(got.size > 6, "only the planted clique survived")
    }
}
