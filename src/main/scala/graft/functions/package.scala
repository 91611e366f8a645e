package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** The engine's native Catalyst expression kernels (SURVEY.md §4,
  * escalation case (b)): codegen'd per-row text/vector primitives, each
  * byte-identical to a relational reference form proven in its spec.
  *
  * Engine code calls a kernel through its typed function below, which
  * builds the kernel's `Expression` directly: no session setup, and a
  * misspelled kernel or a wrong arity fails the build. The SQL names
  * exist only for SQL-text users, via [[registerAllFunctions]].
  */
package object functions {

  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def ngramStats(toks: Column, n: Int): Column =
    column(NgramStats(expression(toks), n))

  def ngramDigests(toks: Column, n: Int): Column =
    column(NgramDigests(expression(toks), n))

  def wordGrams(toks: Column, n: Int): Column =
    column(WordGrams(expression(toks), n))

  def repetitionStats(text: Column): Column =
    column(RepetitionStats(expression(text)))

  def minhashSig(toks: Column): Column =
    column(MinHashSig(expression(toks)))

  def cdcChunks(toks: Column): Column =
    column(CdcChunks(expression(toks)))

  def windowDigests(toks: Column, w: Int): Column =
    column(WindowDigests(expression(toks), w))

  def simhash64(toks: Column): Column =
    column(SimHash64(expression(toks)))

  /** Resolve the integer-literal argument of a registered kernel at
    * ANALYSIS time with a clean error: `window_digests(toks, w)` and
    * friends require a foldable non-null integer (the kernel is
    * specialized on it before execution), and a bare
    * `exprs(1).eval()` on a non-foldable or null argument would surface
    * as an opaque eval-time exception / NPE instead (round-13 ADVICE).
    * The typed functions take an `Int`, so only SQL callers need it. */
  private[functions] def literalIntArg(
      e: Expression, fn: String, arg: String): Int = {
    def fail(what: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"$fn: the $arg argument must be an integer literal, got $what"),
        None)
    if (!e.foldable) fail(e.sql)
    e.eval() match {
      case n: Number => n.intValue()
      case other => fail(String.valueOf(other))
    }
  }

  /** Each kernel's SQL name and the builder the function registry calls
    * with the parsed arguments. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "dot_product" -> (e => DotProduct(e(0), e(1))),
      "cosine_sim" -> (e => CosineSim(e(0), e(1))),
      "ngram_stats" -> (e =>
        NgramStats(e(0), literalIntArg(e(1), "ngram_stats", "n"))),
      "ngram_digests" -> (e =>
        NgramDigests(e(0), literalIntArg(e(1), "ngram_digests", "n"))),
      "word_grams" -> (e =>
        WordGrams(e(0), literalIntArg(e(1), "word_grams", "n"))),
      "repetition_stats" -> (e => RepetitionStats(e(0))),
      "minhash_sig" -> (e => MinHashSig(e(0))),
      "cdc_chunks" -> (e => CdcChunks(e(0))),
      "window_digests" -> (e =>
        WindowDigests(e(0), literalIntArg(e(1), "window_digests", "width"))),
      "simhash64" -> (e => SimHash64(e(0))))

  /** Register every kernel under its SQL name on this session, so a
    * SQL-text user can call them from `expr`/`spark.sql`:
    * `dot_product`, `cosine_sim`, `ngram_stats`, `ngram_digests`,
    * `word_grams`, `repetition_stats`, `minhash_sig`, `cdc_chunks`,
    * `window_digests`, `simhash64`. Idempotent; temp functions,
    * session-scoped. */
  def registerAllFunctions(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }
}
