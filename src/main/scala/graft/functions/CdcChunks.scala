package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass CONTENT-DEFINED CHUNKING over a token array: returns
  * `array<struct<ch: string, tok: bigint>>` — the per-document DISTINCT
  * eligible chunk digests `q_dedup_cdc` pairs on (md5 hex of the chunk
  * text, token count), for chunks of ≥ 5 tokens.
  *
  * Byte-identical to the relational stage the DuckDB oracle mirrors:
  * a token ENDS a chunk when `conv(substring(md5(tok), 1, 8), 16, 10)
  * % 8 = 0` (the first 4 md5 bytes as an unsigned 32-bit word), chunks
  * are the token runs between boundaries (boundary token INCLUDED in the
  * ending chunk, a trailing run forms a final chunk), chunk text is the
  * single-space join, and duplicate digests within a doc collapse
  * (CdcChunksSpec proves (doc, ch, tok)-set equality with the
  * explode + window-cumsum + groupBy reference through codegen).
  *
  * Why a native Expression (SURVEY.md §4 escalation case (b), the
  * [[MinHashSig]] precedent): the relational form explodes every token,
  * runs a per-doc window cumsum (one doc-keyed shuffle), re-aggregates
  * chunks (second shuffle), and re-assembles chunk text through a
  * collect_list sort — all for state that never leaves the document. The
  * kernel pays 1 md5 per token + 1 per eligible chunk in one map-only
  * codegen'd pass, which is also the form a STREAMING ingest gate needs
  * (stateless, no aggregation state).
  */
case class CdcChunks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects array<string> tokens, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ch", StringType, nullable = false),
      StructField("tok", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.CdcChunks.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  private val HEX = "0123456789abcdef".toCharArray
  private val MIN_TOKENS = 5L

  private def hex32(digest: Array[Byte]): UTF8String = {
    val hex = new Array[Char](32)
    var b = 0
    while (b < 16) {
      hex(2 * b) = HEX((digest(b) >> 4) & 0xf)
      hex(2 * b + 1) = HEX(digest(b) & 0xf)
      b += 1
    }
    UTF8String.fromString(new String(hex))
  }

  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    // distinct digests in first-occurrence order (set semantics; the
    // relational groupBy is orderless and downstream re-groups anyway)
    val seen = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    val sb = new java.lang.StringBuilder
    // emit tokens[s..e] as a chunk if it clears the 5-token floor
    def emit(s: Int, e: Int): Unit = {
      val tok = e - s + 1
      if (tok >= MIN_TOKENS) {
        sb.setLength(0)
        var k = s
        while (k <= e) {
          if (k > s) sb.append(' ')
          sb.append(arr.getUTF8String(k).toString)
          k += 1
        }
        val ch = hex32(md.digest(
          sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        if (!seen.containsKey(ch)) seen.put(ch, tok.toLong)
      }
    }
    var start = 0
    var i = 0
    while (i < n) {
      val d = md.digest(arr.getUTF8String(i).getBytes)
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      if (v % 8 == 0) { emit(start, i); start = i + 1 } // boundary ends chunk
      i += 1
    }
    if (start <= n - 1) emit(start, n - 1) // trailing run
    val out = new Array[Any](seen.size())
    val it = seen.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(
        Array[Any](e.getKey, e.getValue.longValue())): InternalRow
      j += 1
    }
    new GenericArrayData(out)
  }
}
