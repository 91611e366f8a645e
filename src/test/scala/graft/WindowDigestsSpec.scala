package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused [[graft.functions.WindowDigests]] kernel must be
  * element-for-element equal to the relational stride-1 window chain
  * (`transform(sequence(0, size(l) − w), i -> md5(concat_ws(' ',
  * slice(l, i + 1, w))))`) every span/shift/decontam query shares — on
  * the organic fixture and on crafted edge docs, for both window widths
  * in use (5, 20). The fixture run exercises the CODEGEN path.
  */
class WindowDigestsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def both(docs: DataFrame, w: Int) = {
    graft.functions.registerAllFunctions(spark)
    def key(c: String) = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= w)
      .select(col("doc_id"), posexplode(expr(c)))
      .toDF("doc_id", "pos", "wh")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    (key(s"window_digests(l, $w)"),
      key(s"transform(sequence(0, size(l) - $w), " +
        s"i -> md5(concat_ws(' ', slice(l, i + 1, $w))))"))
  }

  test("fused kernel == relational chain on the fixture, w = 5 and 20") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    Seq(5, 20).foreach { w =>
      val (fused, rel) = both(docs, w)
      assert(fused == rel, s"w=$w mismatch: ${(fused diff rel).take(3)}")
      assert(fused.size > 1000, s"w=$w suspiciously few windows")
    }
  }

  test("fused kernel == relational chain on crafted edge docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 5).map(i => s"t$i").mkString(" ")),  // exactly one window
      (2L, Seq.fill(8)("w").mkString(" ")),           // identical windows
      (3L, "a  b c d e f"),                           // empty token inside
      (4L, "émo ünï 漢字 émo ünï 漢字 émo")            // multi-byte UTF-8
    ).toDF("doc_id", "text")
    val (fused, rel) = both(docs, 5)
    assert(fused == rel, s"${(fused diff rel).take(5)} / ${(rel diff fused).take(5)}")
    // doc 1 has exactly one window at pos 0
    assert(fused.count(_._1 == 1L) == 1 && fused.exists(t => t._1 == 1L && t._2 == 0))
  }
}
