package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine query: the Spark-native implementation plus (when
  * SQL-expressible) the ANSI SQL the driver runs in DuckDB as the oracle.
  * Column names MUST match between `run`'s output and the oracle's
  * projection — the driver sorts columns by name before hashing.
  */
final case class GQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GQuery {
  /** Determinism helpers (SURVEY.md §5.2 hash-match hardening).
    *
    * Two cross-engine float hazards, both observed empirically:
    *  1. Aggregation order: Spark's shuffle-fetch (and any cluster's merge
    *     order) is nondeterministic, so double sums vary run to run.
    *  2. round(): Spark rounds the double's shortest decimal representation
    *     (BigDecimal HALF_UP) while DuckDB rounds the binary value — they
    *     disagree on values like 1222.74499999….
    *
    * Fixes: accumulate sums in exact decimal and scale down IN DECIMAL
    * (both engines round decimal ties away from zero), and round computed
    * doubles with pure IEEE arithmetic (`floor(x*1eN+0.5)/1eN`) which is
    * bit-identical everywhere — including a 1000-executor cluster.
    */
  def dsum(c: Column, outScale: Int = 2): Column =
    rN(sum(c.cast(DecimalType(30, 6))).cast("double"), outScale)

  /** SQL twin of [[dsum]] for the DuckDB oracle. */
  def dsumSql(expr: String, outScale: Int = 2): String =
    rNSql(s"cast(sum(cast(($expr) as decimal(30,6))) as double)", outScale)

  /** Deterministic average: exact decimal sum → double, one IEEE division,
    * IEEE rounding — bit-identical in Spark and DuckDB (their native
    * decimal AVG implementations differ, so we avoid them).
    */
  def davg(c: Column, outScale: Int = 6): Column =
    rN(sum(c.cast(DecimalType(30, 6))).cast("double") / count(c), outScale)

  def davgSql(expr: String, outScale: Int = 6): String =
    rNSql(s"cast(sum(cast(($expr) as decimal(30,6))) as double) / count($expr)", outScale)

  /** Pure-IEEE rounding of a computed double — identical bits in both
    * engines (unlike round(), see above). Ties round toward +infinity. */
  def rN(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale.toDouble)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  def rNSql(expr: String, scale: Int): String =
    s"floor(($expr) * 1e$scale + 0.5) / 1e$scale"

  def r2(c: Column): Column = rN(c, 2)
  def r2Sql(expr: String): String = rNSql(expr, 2)
  def r6(c: Column): Column = rN(c, 6)
  def r6Sql(expr: String): String = rNSql(expr, 6)
}
