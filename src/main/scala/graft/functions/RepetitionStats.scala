package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass GOPHER REPETITION statistics over a raw document string:
  * returns `array<long>` of
  * `[tl, n_lines, n_dup_lines, n_paras, n_dup_paras,
  *    top2_chars, top3_chars, top4_chars, dup10_chars]`
  * — everything `q_repetition_rules`' six rule verdicts need, computed
  * per row with NO explode and NO doc-keyed shuffle.
  *
  * Every repetition signal is WITHIN-document, so the relational form
  * (combined unit explode → (doc, kind, unit) count groupBy → per-doc
  * re-aggregation + a window self-semi-join for the 10-gram coverage)
  * exists only to mirror the oracle's SQL: it shuffles ~3 unit rows per
  * token, twice, for state that never crosses a document. This kernel is
  * escalation case (b) of SURVEY.md §4 (the [[NgramStats]] precedent): a
  * native Catalyst `Expression` turns the whole per-doc stats stage into
  * one codegen'd row-loop call — the only remaining shuffle in the query
  * is the |sources|-row rollup.
  *
  * Exactness contract (RepetitionStatsSpec proves row-for-row equality
  * with the relational form on the fixture + crafted docs):
  * - splits use Java regex semantics with limit -1 (Spark's `split`):
  *   tokens on `' '`, lines on `'\n'`, paragraphs on `'\n\n'`;
  * - char counts are CODE POINTS (Spark/DuckDB `length()`), gram length
  *   = Σ token code points + (n − 1) separators;
  * - duplicate line/paragraph counts are OCCURRENCES inside groups with
  *   count ≥ 2; top-n-gram winner = max of `cnt·100000 + glen` among
  *   grams with cnt ≥ 2 (count first, char length as the deterministic
  *   tiebreak), mass = cnt·glen;
  * - dup10 coverage merges duplicated 10-token window start positions
  *   into islands (gap > 10 breaks) and counts the characters of each
  *   island's token span — union semantics, no double counting.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.RepetitionStats.compute($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {

  private def cp(s: String): Long = s.codePointCount(0, s.length).toLong

  /** Occurrences belonging to groups of size >= 2 (the relational
    * `sum(cnt | cnt >= 2)` over per-unit counts). */
  private def dupOccurrences(units: Array[String]): Long = {
    val m = new java.util.HashMap[String, Int](units.length * 2)
    var i = 0
    while (i < units.length) { m.merge(units(i), 1, Integer.sum); i += 1 }
    var dup = 0L
    val it = m.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c >= 2) dup += c }
    dup
  }

  /** Top-n-gram character mass among grams occurring >= 2 times: winner
    * by `cnt*100000 + glen` (exactly the relational integer key), mass =
    * cnt * glen; 0 when nothing repeats. */
  private def topMass(toks: Array[String], lens: Array[Long], n: Int): Long = {
    if (toks.length < n) return 0L
    // key: the gram's start index of FIRST occurrence -> (cnt, glen);
    // gram identity via a string join (hash map on the joined gram)
    val m = new java.util.HashMap[String, long2](toks.length * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      var glen = (n - 1).toLong
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k)); glen += lens(i + k); k += 1
      }
      val g = sb.toString
      val e = m.get(g)
      if (e == null) m.put(g, new long2(1L, glen)) else e.a += 1L
      i += 1
    }
    var best = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.a >= 2L) {
        val key = e.a * 100000L + e.b
        if (key > best) best = key
      }
    }
    if (best == 0L) 0L else (best / 100000L) * (best % 100000L)
  }

  // tiny mutable pair (avoids tuple boxing in the hot loop)
  private final class long2(var a: Long, var b: Long)

  /** Island-union character coverage of duplicated 10-token windows. */
  private def dup10Chars(toks: Array[String], lens: Array[Long]): Long = {
    val w = 10
    val t = toks.length
    if (t < w) return 0L
    val total = t - w + 1
    val m = new java.util.HashMap[String, Int](total * 2)
    val keys = new Array[String](total)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var k = 0
      while (k < w) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
      val g = sb.toString
      keys(i) = g
      m.merge(g, 1, Integer.sum)
      i += 1
    }
    // duplicated window start positions in ascending order
    var chars = 0L
    var s = -1; var last = -1
    def closeIsland(): Unit = if (s >= 0) {
      // island [s, last] covers tokens s .. last + 9
      var j = s
      var c = (last + (w - 1) - s).toLong // separators
      while (j <= last + w - 1) { c += lens(j); j += 1 }
      chars += c
    }
    i = 0
    while (i < total) {
      if (m.get(keys(i)) >= 2) {
        if (s < 0) { s = i; last = i }
        else if (i - last > w) { closeIsland(); s = i; last = i }
        else last = i
      }
      i += 1
    }
    closeIsland()
    chars
  }

  def compute(text: UTF8String): GenericArrayData = {
    val str = text.toString
    val tl = cp(str)
    val lines = str.split("\n", -1)
    val paras = str.split("\n\n", -1)
    val toks = str.split(" ", -1)
    val lens = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { lens(i) = cp(toks(i)); i += 1 }
    new GenericArrayData(Array(
      tl,
      lines.length.toLong, dupOccurrences(lines),
      paras.length.toLong, dupOccurrences(paras),
      topMass(toks, lens, 2), topMass(toks, lens, 3), topMass(toks, lens, 4),
      dup10Chars(toks, lens)))
  }
}
