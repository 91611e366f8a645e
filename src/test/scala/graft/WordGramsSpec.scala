package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused [[graft.functions.WordGrams]] kernel must produce exactly
  * the gram SET of the composable chain it replaces
  * (`array_distinct(transform(sequence(1, size(l)-2), i -> concat_ws(' ',
  * element_at(l, i), element_at(l, i+1), element_at(l, i+2))))` with the
  * size < 3 empty-array guard) — per doc, on the fixture and edge docs.
  */
class WordGramsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def both(docs: DataFrame): (Set[(Long, String)], Set[(Long, String)]) = {
    graft.functions.registerAllFunctions(spark)
    def key(c: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), explode(c).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    (key(expr("word_grams(l, 3)")),
      key(when(size(col("l")) < 3, array().cast("array<string>"))
        .otherwise(expr(
          "array_distinct(transform(sequence(1, size(l)-2), i -> concat_ws(' ', " +
            "element_at(l, i), element_at(l, i+1), element_at(l, i+2))))"))))
  }

  test("fused kernel == composable chain on the fixture") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val (fused, rel) = both(docs)
    assert(fused == rel, s"${(fused diff rel).take(3)} / ${(rel diff fused).take(3)}")
    assert(fused.size > 1000)
  }

  test("fused kernel == composable chain on edge docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, Seq.fill(10)("w").mkString(" ")),  // one distinct gram
      (5L, "a  b c d"),                        // empty token
      (6L, "émo ünï 漢字 émo ünï")             // multi-byte
    ).toDF("doc_id", "text")
    val (fused, rel) = both(docs)
    assert(fused == rel, s"${(fused diff rel)} / ${(rel diff fused)}")
    assert(!fused.exists(t => t._1 == 1L || t._1 == 2L))
  }
}
