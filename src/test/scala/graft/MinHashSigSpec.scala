package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused [[graft.functions.MinHashSig]] kernel must be byte-identical
  * to the relational signature stage every near-dup oracle mirrors
  * (`explode(distinct word 3-grams) → groupBy(doc).agg(16 ×
  * min(substring(md5('seed|' || gram), 8·(s%4)+1, 8)))`) — on the organic
  * fixture, on planted duplicate families, and on crafted edge docs. The
  * fixture run exercises the CODEGEN path. LlmSpec separately proves the
  * banded library forms (per-row kernel vs relational aggregate) emit
  * identical (id, band_id, sig) sets.
  */
class MinHashSigSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** The relational reference stage, verbatim from the oracle SQL shape. */
  private def relationalSigs(docs: DataFrame): DataFrame = {
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"),
        explode(array_distinct(
          when(size(col("l")) < 3, array().cast("array<string>"))
            .otherwise(expr(
              "transform(sequence(1, size(l)-2), i -> concat_ws(' ', " +
                "element_at(l, i), element_at(l, i+1), element_at(l, i+2)))"))))
          .as("gram"))
    val minhashes = (0 until 16).map { s =>
      val digest = md5(concat_ws("|", lit((s / 4).toString), col("gram")))
      min(substring(digest, 8 * (s % 4) + 1, 8)).as(s"h$s")
    }
    g.groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
  }

  private def kernelSigs(docs: DataFrame): DataFrame = {
    graft.functions.registerAllFunctions(docs.sparkSession)
    docs
      .select(col("doc_id"), expr("minhash_sig(split(text, ' '))").as("mh"))
      .filter(size(col("mh")) === 16)
      .select(col("doc_id") +: (0 until 16).map(i =>
        element_at(col("mh"), i + 1).as(s"h$i")): _*)
  }

  private def toMap(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getString)).toMap

  test("fused kernel == relational reference on fixture + planted dups") {
    import spark.implicits._
    val base = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val docs = base.unionByName(
      base.filter($"doc_id" < 50)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    val fused = toMap(kernelSigs(docs))
    val rel = toMap(relationalSigs(docs))
    assert(fused.size == rel.size && fused.size > 400)
    rel.foreach { case (id, hs) =>
      assert(fused(id) == hs, s"doc $id: fused ${fused(id)} != relational $hs")
    }
  }

  test("fused kernel == relational reference on crafted edge docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),                                    // exactly one gram
      (2L, "a  b c"),                                   // empty token inside
      (3L, "tail space  "),                             // trailing empties
      (4L, Seq.fill(30)("w").mkString(" ")),            // one distinct gram x28
      (5L, ("ha he hi " * 20).trim),                    // 3 distinct grams
      (6L, (1 to 60).map(i => s"t$i").mkString(" ")),   // all-distinct grams
      (7L, "émo ünï 漢字 émo ünï 漢字")                  // multi-byte UTF-8
    ).toDF("doc_id", "text")
    val fused = toMap(kernelSigs(docs))
    val rel = toMap(relationalSigs(docs))
    assert(fused.keySet == rel.keySet && fused.size == 7)
    rel.foreach { case (id, hs) =>
      assert(fused(id) == hs, s"doc $id: fused ${fused(id)} != relational $hs")
    }
  }

  test("docs with < 3 tokens yield no signature row, like the explode form") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "a b c"))
      .toDF("doc_id", "text")
    assert(toMap(kernelSigs(docs)).keySet == Set(4L))
    assert(toMap(relationalSigs(docs)).keySet == Set(4L))
  }

  test("single-gram doc: h values are the md5 hex substrings themselves") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val hs = Seq("a b c").toDF("text")
      .select(expr("minhash_sig(split(text, ' '))"))
      .collect()(0).getSeq[String](0)
    val expected = Seq("a b c").toDF("g").select(
      (0 until 16).map(s =>
        substring(md5(concat_ws("|", lit((s / 4).toString), col("g"))),
          8 * (s % 4) + 1, 8).as(s"h$s")): _*)
      .collect()(0)
    (0 until 16).foreach { s =>
      assert(hs(s) == expected.getString(s), s"h$s mismatch")
    }
  }
}
