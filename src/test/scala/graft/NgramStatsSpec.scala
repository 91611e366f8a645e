package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NgramStatsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** The composable reference the fused expression must equal exactly. */
  private def hofCounts(n: Int) = {
    val g = s"transform(sequence(1, size(l) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice(l, i, $n)))"
    expr(s"if(size(l) >= $n, array(cast(size($g) as bigint), " +
      s"cast(size(array_distinct($g)) as bigint)), array(0L, 0L))")
  }

  test("ngram_stats equals the transform/array_distinct composition") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("l"))
    val diffs = docs
      .select(expr("ngram_stats(l, 3)").as("a"), hofCounts(3).as("b"))
      .filter($"a" =!= $"b").count()
    assert(diffs == 0, s"$diffs docs differ between fused and composed counts")
  }

  test("ngram_stats edge cases: empty, shorter than n, all-repeated") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq(
      "",                 // 1 empty-string token -> shorter than n
      "a b",              // shorter than n=3
      "a b c",            // exactly one gram
      "a b a b a b a b",  // repeated: 6 grams, 2 distinct ("a b a"/"b a b")
      "x y z w"           // 2 grams, both distinct
    ).toDF("text").select(split($"text", " ").as("l"))
    val out = df.select(expr("ngram_stats(l, 3)").as("s"))
      .collect().map(_.getSeq[Long](0).toList)
    assert(out.toList == List(
      List(0L, 0L), List(0L, 0L), List(1L, 1L), List(6L, 2L), List(2L, 2L)))
  }

  test("ngram_stats codegen and interpreted paths agree") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("l"))
    def total() = docs.select(expr("ngram_stats(l, 2)").as("s"))
      .agg(sum(expr("s[0] + s[1]"))).collect()(0).getLong(0)
    val viaCodegen = total()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted =
      try total()
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(viaCodegen == interpreted)
  }

  test("ngram_digests equals md5-of-composed-grams as a set, per row") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("l"))
    val g = "transform(sequence(1, size(l) - 4), " +
      "i -> md5(concat_ws(' ', slice(l, i, 5))))"
    val composed =
      expr(s"if(size(l) >= 5, array_sort(array_distinct($g)), array())")
    val diffs = docs
      .select(expr("array_sort(ngram_digests(l, 5))").as("a"),
        composed.as("b"))
      .filter($"a" =!= $"b").count()
    assert(diffs == 0, s"$diffs docs differ between fused and composed digests")
  }

  test("ngram_stats rejects wrong input types at analysis time") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq(1).toDF("a")
    val ex = intercept[Exception] {
      df.select(expr("ngram_stats(a, 3)")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("ngram_stats") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"), ex.getMessage)
  }
}
