package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word n-gram statistics over a token array: returns
  * `array<long>` of `[n_grams, n_distinct]` — the inputs to a repetition
  * score (1 − distinct/total).
  *
  * The composable form — `transform(sequence(...), i -> concat_ws(' ',
  * slice(l, i, n)))` then `array_distinct` — is correct but runs
  * INTERPRETED: four higher-order passes that each materialize an array of
  * gram strings per row. Repetition scoring touches every document in the
  * corpus, so this is a per-row hot loop worth a native Catalyst
  * `Expression` (SURVEY.md §4 decision record, escalation case (b)), like
  * [[DotProduct]] for the vector path: one pass, one hash set, no
  * intermediate arrays.
  *
  * Distinctness is computed on the actual gram byte strings (a HashSet of
  * UTF8String), not a lossy hash, so counts are exactly the composable
  * form's (NgramStatsSpec proves equality, plus codegen ≡ interpreted).
  * Token elements must be non-null (true for `split` output, the only
  * producer in this engine).
  */
case class NgramStats(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngram_stats expects (array<string>, n >= 1), got " +
        s"(${child.dataType.sql}, $n)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    NgramStats.count(arr, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.NgramStats.count($a, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): NgramStats =
    copy(child = newChild)
}

/** One-pass word n-gram DIGESTS over a token array: the per-row-distinct
  * md5 hex digests of every n-gram, as `array<string>` — the candidate-key
  * generator for decontamination and n-gram dedup. Byte-compatible with
  * the composable `md5(concat_ws(' ', slice(...)))` + `array_distinct`
  * chain (md5 over the gram's UTF-8 bytes, lowercase hex), in one pass
  * with no intermediate gram arrays. Emitting digests instead of grams
  * also keeps the downstream explode/shuffle rows at a fixed 32 bytes. */
case class NgramDigests(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngram_digests expects (array<string>, n >= 1), got " +
        s"(${child.dataType.sql}, $n)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    NgramStats.digests(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.NgramStats.digests($a, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): NgramDigests =
    copy(child = newChild)
}

/** One-pass DISTINCT word n-grams over a token array, as the gram
  * STRINGS themselves (first-occurrence order): the kernel twin of the
  * composable `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice/element_at ...)))` chain, which runs interpreted and
  * materializes a sequence element, sliced parts, and the distinct pass
  * per row. Byte-identical output set (NgramStatsSpec/WordGramsSpec);
  * used where downstream needs the gram text (df-ordered prefix
  * selection, gram equi-joins), where [[NgramDigests]]'s fixed-width
  * digests can't serve. */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"word_grams expects (array<string>, n >= 1), got " +
        s"(${child.dataType.sql}, $n)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    NgramStats.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.NgramStats.grams($a, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object NgramStats {

  private val SEP = UTF8String.fromString(" ")

  private val HEX = "0123456789abcdef".toCharArray

  /** Kernel for [[NgramDigests]]: distinct grams in insertion order
    * (deterministic), each md5'd to lowercase hex exactly like Spark's and
    * DuckDB's `md5(varchar)`. */
  def digests(arr: ArrayData, n: Int): GenericArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    val total = len - n + 1
    while (i < total) {
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      set.add(UTF8String.concatWs(SEP, parts: _*))
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](set.size())
    val it = set.iterator()
    var j = 0
    while (it.hasNext) {
      val digest = md.digest(it.next().getBytes)
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HEX((digest(b) >> 4) & 0xf)
        hex(2 * b + 1) = HEX(digest(b) & 0xf)
        b += 1
      }
      out(j) = UTF8String.fromString(new String(hex))
      md.reset()
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Kernel for [[WordGrams]]: distinct gram strings in first-occurrence
    * order. */
  def grams(arr: ArrayData, n: Int): GenericArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](n)
    var i = 0
    val total = len - n + 1
    while (i < total) {
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      set.add(UTF8String.concatWs(SEP, parts: _*))
      i += 1
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[AnyRef]]
      .asInstanceOf[Array[Any]])
  }

  /** Shared kernel for the interpreted and codegen paths (codegen emits a
    * static call instead of inlining the loop — the loop body is a hash
    * set, not arithmetic, so there is nothing for codegen to fuse; what
    * matters is evaluating inside the generated row loop without lambda
    * frames or intermediate arrays). */
  def count(arr: ArrayData, n: Int): GenericArrayData = {
    val len = arr.numElements()
    val total = if (len >= n) (len - n + 1).toLong else 0L
    var distinct = 0L
    if (total > 0) {
      val set = new java.util.HashSet[UTF8String]()
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < total) {
        var k = 0
        while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
        set.add(UTF8String.concatWs(SEP, parts: _*))
        i += 1
      }
      distinct = set.size().toLong
    }
    new GenericArrayData(Array(total, distinct))
  }
}
