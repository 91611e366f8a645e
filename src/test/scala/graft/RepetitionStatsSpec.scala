package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.PipelineOps

/** The fused [[graft.functions.RepetitionStats]] kernel must be
  * row-for-row equal to the relational reference (the form the DuckDB
  * oracle mirrors) — on the organic fixture, on every planted repetition
  * family, and on crafted edge docs (empty-ish strings, consecutive
  * separators, sub-window docs). The fixture run exercises the CODEGEN
  * path (whole-stage codegen is on by default), so interpreted-vs-codegen
  * divergence would also fail here.
  */
class RepetitionStatsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def both(docs: org.apache.spark.sql.DataFrame) = {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(1) -> (2 to 7).map(r.getLong).toList).toMap
    (key(PipelineOps.repetitionRuleFlags(docs)),
      key(PipelineOps.repetitionRuleFlagsRelational(docs)))
  }

  test("fused kernel == relational reference on fixture + plant families") {
    import spark.implicits._
    val base = graft.engine.Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text")
    val rich = base.filter($"doc_id" < 8 &&
      size(split($"text", " ")) >= 12)
    val line6 = concat_ws(" ", slice(split($"text", " "), 1, 6))
    val para10 = concat_ws(" ", slice(split($"text", " "), 1, 10))
    val docs = base
      .unionByName(rich.select($"source",
        ($"doc_id" + 800000L).as("doc_id"),
        concat_ws("\n", line6, line6, line6, line6, line6).as("text")))
      .unionByName(rich.select($"source",
        ($"doc_id" + 810000L).as("doc_id"),
        concat_ws("\n\n", para10, para10, para10).as("text")))
      .unionByName(rich.select($"source",
        ($"doc_id" + 820000L).as("doc_id"),
        lit(("lp qy " * 40).trim).as("text")))
    val (fused, rel) = both(docs)
    assert(fused.size == rel.size && fused.size > 500)
    rel.foreach { case (id, f) =>
      assert(fused(id) == f, s"doc $id: fused ${fused(id)} != relational $f")
    }
  }

  test("fused kernel == relational reference on crafted edge docs") {
    import spark.implicits._
    val docs = Seq(
      ("s", 1L, "x"),                                  // 1 token, no grams
      ("s", 2L, "a b"),                                // 2 tokens, 1 bigram
      ("s", 3L, "a  b"),                               // empty token between
      ("s", 4L, "tail space "),                        // trailing empty token
      ("s", 5L, "a\n\n\nb"),                           // odd newline runs
      ("s", 6L, Seq.fill(12)("w").mkString(" ")),      // all-same tokens
      ("s", 7L, ("ha he " * 20).trim + "\n" + ("ha he " * 20).trim),
      ("s", 8L, (1 to 40).map(i => s"t$i").mkString(" ")) // all distinct
    ).toDF("source", "doc_id", "text")
    val (fused, rel) = both(docs)
    rel.foreach { case (id, f) =>
      assert(fused(id) == f, s"doc $id: fused ${fused(id)} != relational $f")
    }
  }

  test("raw stats: loop doc numbers are exactly right") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    // "lp qy " * 3 trimmed = "lp qy lp qy lp qy": 6 tokens, 17 chars.
    // 2-grams: "lp qy" x3 (glen 5), "qy lp" x2 (glen 5) -> winner key
    // 3*100000+5 -> mass 15. 3-grams: "lp qy lp" x2, "qy lp qy" x2, glen 8
    // -> mass 16. 4-grams: "lp qy lp qy" x2 wait 6 tokens -> 3 4-grams:
    // positions 0,1,2: "lp qy lp qy" x... [lp qy lp qy], [qy lp qy lp],
    // [lp qy lp qy] -> x2 -> mass 2*11=22. <10 tokens -> dup10 = 0.
    val st = Seq(("lp qy " * 3).trim).toDF("text")
      .select(expr("repetition_stats(text)")).collect()(0).getSeq[Long](0)
    assert(st == Seq(17L, 1L, 0L, 1L, 0L, 15L, 16L, 22L, 0L), st.toString)
  }
}
