package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass 64-BIT SIMHASH over a token array — the q_neardup_simhash64
  * fingerprint (`struct<lo, hi>`, each half < 2³² so no bigint sign edge
  * anywhere downstream) as a map-only codegen'd kernel.
  *
  * Byte-identical to the relational stage it replaces (proven row-for-row
  * in Round14Spec, through the codegen path):
  * `explode(array_distinct(tokens))` → per token
  * `h1 = conv(substring(md5(tok), 1, 8), 16, 10)`,
  * `h2 = conv(substring(md5(tok), 9, 8), 16, 10)` → 64 ±1 majority votes
  * (`sum((h >> i & 1) * 2 - 1)` per bit) → bit i set iff its vote sum is
  * strictly positive. Hex chars [1,8] / [9,16] of an md5 ARE digest bytes
  * [0,4) / [4,8) read big-endian-unsigned, so the kernel assembles the two
  * 32-bit words straight from the digest buffer.
  *
  * Why a native Expression (SURVEY.md §4 escalation case (b), the
  * [[MinHashSig]] precedent): the relational form pays an explode, a
  * doc-keyed shuffle, and SIXTY-FOUR independent aggregate expressions for
  * per-document state that never crosses a document. Unlike MinHashSig the
  * kernel MUST deduplicate tokens (the reference form votes once per
  * DISTINCT token, and votes — unlike minima — are not idempotent), so a
  * per-row hash set replaces `array_distinct`. One md5 per distinct token,
  * zero shuffles; stateless and usable on an unbounded stream (the
  * bandedSignaturesPerRow contract).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string> tokens, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.SimHash64.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[UTF8String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = new Array[Byte](16)
    var i = 0
    while (i < n) {
      // Skip null elements, matching the relational form it claims
      // byte-identity with (explode → md5 → sum silently drops null
      // tokens); unreachable via split() but legal for a library caller
      // passing array<string> with containsNull=true.
      val tok = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (tok != null && seen.add(tok)) {
        md.update(tok.getBytes)
        md.digest(d, 0, 16) // writes into d and resets
        val h1 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        val h2 = ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
          ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h1 >> b) & 1L) == 1L) 1 else -1)
          votes(32 + b) += (if (((h2 >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) lo |= 1L << b
      if (votes(32 + b) > 0) hi |= 1L << b
      b += 1
    }
    new GenericInternalRow(Array[Any](lo, hi))
  }
}
