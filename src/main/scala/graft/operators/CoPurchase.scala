package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** The co-purchase graph behind the graph family, in both engines: part
  * pairs bought in the same order. Every graph query takes its edge list
  * from here and never re-derives it; each function below has a DuckDB
  * twin (`…Sql`) that the query's oracle uses, so the two engines build
  * the same edge set by construction.
  *
  * Edge lists are undirected `(pa, pb)` frames with `pa < pb`, one row
  * per edge:
  *  - [[smallParts]]: pairs of small parts (`p_size <= 10`) bought in at
  *    least one common order. The pair explode is quadratic per order, so
  *    the restriction keeps |E| SF-linear (q_pagerank: 21 s for the full
  *    graph at sf0.1 against 2.3 s for the same plan on small parts).
  *  - [[supported]]: pairs bought in at least two distinct orders, plus
  *    the planted 4-clique on part ids 9000001–9000004 that keeps
  *    triangle and clique outputs non-vacuous at every SF. The support
  *    floor is what keeps this graph sparse (1.2M raw pairs → 3.6k edges
  *    at sf0.1).
  */
object CoPurchase {

  /** Endpoint shift of replica k in [[replicate]]: k·10,000,000, clear of
    * the organic part ids and of the planted clique. */
  private val ReplicaShift = 10000000L

  private val clique = Seq(9000001L, 9000002L, 9000003L, 9000004L)
  private val cliqueEdges = clique.combinations(2).map { case Seq(x, y) => (x, y) }.toSeq

  /** One `(pa, pb)` row per order and unordered pair of distinct parts
    * in it (`pa < pb`), from an `(l_orderkey, l_partkey)` frame; a pair
    * bought in n orders appears n times. Each order's part SET is
    * collected in one shuffle and its C(n,2) combinations exploded from
    * the sorted array, so i < j gives pa < pb: measured faster than the
    * self-join on the order key (1.12 s vs 1.34 s at sf0.1,
    * q_copurchase), since the (order, part) table shuffles once, not
    * twice. No `.distinct()` on the input: the set aggregate already
    * dedups parts per order, and a distinct was one more full shuffle of
    * the (order, part) rows for the same arrays (measured in r15). */
  def orderPairs(op: DataFrame): DataFrame =
    op.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ps)-1), i -> " +
          "transform(sequence(i+1, size(ps)), j -> " +
          "struct(element_at(ps, i) as pa, element_at(ps, j) as pb))))"))
        .as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))

  /** Distinct pairs of small parts (`p_size <= 10`) bought together. */
  def smallParts(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir),
        col("l_partkey") === col("p_partkey") && col("p_size") <= 10)
      .select(col("l_orderkey"), col("l_partkey"))
    orderPairs(op).distinct()
  }

  /** Pairs bought together in at least two distinct orders, plus the
    * planted 4-clique. */
  def supported(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val organic = orderPairs(Tables.lineitem(spark, dir))
      .groupBy($"pa", $"pb")
      .agg(count(lit(1)).as("s"))
      .filter($"s" >= 2)
      .select($"pa", $"pb")
    organic.unionByName(cliqueEdges.toDF("pa", "pb"))
  }

  /** `expand` disjoint copies of an edge list (the xdocs idiom: an
    * explode of sequence(0, expand-1), never a cross join), both
    * endpoints of copy k shifted by k·[[ReplicaShift]], so every
    * per-round join and aggregate of an _xxl twin moves `expand`× the
    * rows. `expand <= 1` returns the edges unchanged. */
  def replicate(und: DataFrame, expand: Int): DataFrame =
    if (expand <= 1) und
    else und.select(col("pa"), col("pb"),
        explode(expr(s"sequence(0, ${expand - 1})")).as("k"))
      .select((col("pa") + col("k").cast("long") * lit(ReplicaShift)).as("pa"),
        (col("pb") + col("k").cast("long") * lit(ReplicaShift)).as("pb"))

  /** Both directions `(src, dst)` of every undirected edge. */
  def directed(und: DataFrame): DataFrame =
    und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(und.select(col("pb").as("src"), col("pa").as("dst")))

  /** The distinct endpoints `v` of an edge list. */
  def vertices(und: DataFrame): DataFrame =
    und.select(col("pa").as("v"))
      .unionByName(und.select(col("pb").as("v"))).distinct()

  /** The vertex set and the [[directed]] edges plus a self-loop per
    * vertex: the loop folds "keep / vote for your own label" into the one
    * equi-join per round of the label-propagation loops. */
  def withSelfLoops(und: DataFrame): (DataFrame, DataFrame) = {
    val verts = vertices(und)
    (verts, directed(und)
      .unionByName(verts.select(col("v").as("src"), col("v").as("dst"))))
  }

  /** Twin of [[orderPairs]] over a relation `op(l_orderkey, l_partkey)`
    * without duplicate rows: a self-join on the order key. */
  def orderPairsSql(op: String): String =
    s"""SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM $op a JOIN $op b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin

  /** CTE definitions ending in `name(pa, pb)`, the twin of [[smallParts]]. */
  def smallPartsSql(name: String): String =
    s"""cp_op AS (
       |  SELECT DISTINCT l_orderkey, l_partkey
       |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size <= 10),
       |$name AS MATERIALIZED (
       |  SELECT DISTINCT pa, pb FROM (${orderPairsSql("cp_op")}) cp)""".stripMargin

  /** CTE definitions ending in `name(pa, pb)`, the twin of [[supported]]. */
  def supportedSql(name: String): String = {
    val planted = cliqueEdges.map { case (x, y) => s"($x, $y)" }.mkString(", ")
    s"""cp_lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |$name AS MATERIALIZED (
       |  SELECT pa, pb FROM (${orderPairsSql("cp_lp")}) cp
       |  GROUP BY pa, pb HAVING count(*) >= 2
       |  UNION ALL
       |  SELECT cast(pa as bigint), cast(pb as bigint)
       |  FROM (VALUES $planted) v(pa, pb))""".stripMargin
  }

  /** Twin of [[replicate]]: a SELECT of `(pa, pb)` over relation `und`. */
  def replicateSql(und: String, expand: Int): String =
    if (expand <= 1) s"SELECT pa, pb FROM $und"
    else
      s"""SELECT pa + k * $ReplicaShift AS pa, pb + k * $ReplicaShift AS pb
         |  FROM $und, unnest(generate_series(0, ${expand - 1})) AS xk(k)""".stripMargin

  /** Twin of [[withSelfLoops]] over relation `und(pa, pb)`: CTE
    * definitions of `verts(v)` and `e(src, dst)`. */
  def withSelfLoopsSql(und: String): String =
    s"""verts AS (
       |  SELECT pa AS v FROM $und UNION SELECT pb FROM $und),
       |e AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst FROM $und
       |  UNION ALL SELECT pb, pa FROM $und
       |  UNION ALL SELECT v, v FROM verts)""".stripMargin
}
