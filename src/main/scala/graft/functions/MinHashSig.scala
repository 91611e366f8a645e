package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass PORTABLE MINHASH SIGNATURE over a token array: the 16
  * md5-derived minhashes every near-dup query in this engine shares
  * (q_neardup_minhash/_xl/_xxl, q_band_sweep family, q_neardup_banded,
  * q_dup_matrix, q_minhash_acc, q_dedup_incr, the NearDup library and the
  * streamed signature gate), as `array<string>` of 16 8-char lowercase-hex
  * values `h0..h15` — empty array when the document has < 3 tokens (such
  * docs contribute no 3-gram shingles and must yield no signature row,
  * exactly like the relational explode-of-empty-array form).
  *
  * Byte-identical to the relational stage
  * `min(substring(md5(concat_ws('|', s/4, gram)), 8*(s%4)+1, 8))` over
  * exploded distinct word 3-grams: hash s reads hex chars
  * [8·(s%4)+1, 8·(s%4)+8] of digest s/4 — i.e. digest BYTES
  * [4·(s%4), 4·(s%4)+4) — and the lexicographic min of fixed-width
  * lowercase hex equals the unsigned-numeric min of that 32-bit word
  * (hex digits are ASCII-ascending), so the kernel tracks 16 unsigned
  * ints and re-emits hex only once per document. MinHashSigSpec proves
  * row-for-row equality with the relational groupBy form on the fixture
  * plus crafted edge docs, through the codegen path.
  *
  * Why a native Expression (SURVEY.md §4 escalation case (b), the
  * [[NgramStats]]/[[RepetitionStats]] precedent): the relational form
  * computes SIXTEEN independent aggregate expressions, each evaluating its
  * own `md5(concat_ws(...))` per gram row — Catalyst does not CSE across
  * aggregate functions, so every gram pays 16 md5s + 16 concats + 16
  * substrings plus an explode and a doc-keyed shuffle, for state that
  * never crosses a document. The kernel pays 4 md5s per gram position
  * streamed from pre-fetched token bytes with zero per-gram allocation
  * (duplicate grams re-hash rather than deduplicate — min is idempotent,
  * and the skipped hash-set was costlier than the extra md5s); signature
  * building becomes one map-only codegen'd pass.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string> tokens, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.MinHashSig.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  private val HEX = "0123456789abcdef".toCharArray
  private val EMPTY = new GenericArrayData(Array.empty[Any])
  private val SPACE = Array[Byte](' ')
  // "0|".."3|" seed prefixes, one md.update each
  private val PREFIX: Array[Array[Byte]] =
    (0 until 4).map(s => Array(('0' + s).toByte, '|'.toByte)).toArray

  def compute(arr: ArrayData): GenericArrayData = {
    val len = arr.numElements()
    if (len < 3) return EMPTY
    val md = java.security.MessageDigest.getInstance("MD5")
    // running unsigned-32 minima, h0..h15. Duplicate grams are hashed
    // again rather than deduplicated: min is idempotent, and skipping the
    // hash-set (plus the gram-string build it keyed on) costs ~10% extra
    // md5 on organic text but removes every per-gram allocation — token
    // bytes are fetched once and streamed straight into the digest, the
    // 16-byte output buffer is reused (measured ~3x on the _xxl corpus).
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, 0xFFFFFFFFL)
    val toks = new Array[Array[Byte]](len)
    var t = 0
    while (t < len) { toks(t) = arr.getUTF8String(t).getBytes; t += 1 }
    val d = new Array[Byte](16)
    var i = 0
    val total = len - 2
    while (i < total) {
      var seed = 0
      while (seed < 4) {
        md.update(PREFIX(seed))
        md.update(toks(i))
        md.update(SPACE)
        md.update(toks(i + 1))
        md.update(SPACE)
        md.update(toks(i + 2))
        md.digest(d, 0, 16) // writes into d and resets
        var j = 0
        while (j < 4) {
          val v = ((d(4 * j) & 0xFFL) << 24) | ((d(4 * j + 1) & 0xFFL) << 16) |
            ((d(4 * j + 2) & 0xFFL) << 8) | (d(4 * j + 3) & 0xFFL)
          val idx = 4 * seed + j
          if (v < mins(idx)) mins(idx) = v
          j += 1
        }
        seed += 1
      }
      i += 1
    }
    val out = new Array[Any](16)
    var s = 0
    while (s < 16) {
      val v = mins(s)
      val hex = new Array[Char](8)
      var k = 0
      while (k < 8) {
        hex(k) = HEX(((v >>> (28 - 4 * k)) & 0xFL).toInt)
        k += 1
      }
      out(s) = UTF8String.fromString(new String(hex))
      s += 1
    }
    new GenericArrayData(out)
  }
}
