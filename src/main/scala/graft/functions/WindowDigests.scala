package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** STRIDE-1 SLIDING-WINDOW DIGESTS over a token array: element i is the
  * md5 hex of `concat_ws(' ', slice(l, i + 1, w))` — one digest per start
  * position, `n − w + 1` of them (empty array when the doc is shorter
  * than w). This is the shared first stage of the span/shift dedup and
  * decontamination-span queries (q_dedup_span/_excise, q_dedup_shift,
  * q_decontam_span/_excise): `posexplode(window_digests(l, w))` yields
  * exactly the (pos, digest) rows the relational
  * `posexplode(transform(sequence(0, size(l) − w), i -> md5(concat_ws(
  * ' ', slice(l, i + 1, w)))))` chain yields (WindowDigestsSpec proves
  * element-for-element equality through the codegen path).
  *
  * Why a native Expression (SURVEY.md §4 escalation case (b), the
  * [[NgramStats]] precedent): the higher-order chain runs INTERPRETED
  * and allocates per window a sequence element, a sliced token array,
  * and a concatenated window string before hashing. The kernel streams
  * each window's token bytes straight into one reused MessageDigest —
  * the md5 work is unchanged, every intermediate allocation disappears,
  * and the whole stage stays inside whole-stage codegen.
  */
case class WindowDigests(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"window_digests expects (array<string>, w >= 1), got (${t.sql}, $w)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WindowDigests.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.WindowDigests.compute($a, $w);"
    })

  override protected def withNewChildInternal(newChild: Expression): WindowDigests =
    copy(child = newChild)
}

object WindowDigests {

  private val HEX = "0123456789abcdef".toCharArray
  private val SPACE = Array[Byte](' ')
  private val EMPTY = new GenericArrayData(Array.empty[Any])

  def compute(arr: ArrayData, w: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n < w) return EMPTY
    // token bytes fetched once, windows streamed straight into the digest
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).getBytes; i += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n - w + 1)
    i = 0
    while (i <= n - w) {
      var k = i
      while (k < i + w) {
        if (k > i) md.update(SPACE)
        md.update(toks(k))
        k += 1
      }
      val digest = md.digest() // digest() also resets
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HEX((digest(b) >> 4) & 0xf)
        hex(2 * b + 1) = HEX(digest(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }
}
