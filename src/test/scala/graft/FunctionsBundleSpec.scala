package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.functions._

/** `graft.functions.registerAllFunctions` must make every kernel
  * callable by its SQL name in one shot — the SQL-text user's entry
  * point — and each SQL name must build the same kernel as its typed
  * function, the way engine code calls it. Deep semantics live in the
  * per-kernel specs.
  */
class FunctionsBundleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("all ten kernels callable from SQL after one registration call") {
    graft.functions.registerAllFunctions(spark)
    import spark.implicits._
    val r = Seq(("a b c a b c d e f g h i j", Seq(1.0, 2.0), Seq(3.0, 4.0)))
      .toDF("text", "va", "vb")
      .selectExpr(
        "dot_product(va, vb) AS dp",
        "cosine_sim(va, vb) AS cs",
        "ngram_stats(split(text, ' '), 2) AS ns",
        "size(ngram_digests(split(text, ' '), 2)) AS nd",
        "size(word_grams(split(text, ' '), 3)) AS wg",
        "repetition_stats(text) AS rs",
        "size(minhash_sig(split(text, ' '))) AS mh",
        "size(cdc_chunks(split(text, ' '))) AS cc",
        "size(window_digests(split(text, ' '), 5)) AS wd",
        "simhash64(split(text, ' ')) AS sh")
      .collect()(0)
    val ns = r.getSeq[Long](r.fieldIndex("ns"))
    assert(math.abs(r.getAs[Double]("dp") - 11.0) < 1e-9)
    assert(r.getAs[Double]("cs") > 0.9)
    // 13 tokens -> 12 bigrams, 10 distinct ("a b"/"b c" repeat)
    assert(ns.toList == List(12L, 10L), ns.toString)
    assert(r.getAs[Int]("nd") == 10)
    assert(r.getAs[Int]("wg") > 0 && r.getAs[Int]("mh") == 16)
    assert(r.getSeq[Long](r.fieldIndex("rs")).length == 9)
    assert(r.getAs[Int]("cc") >= 0 && r.getAs[Int]("wd") == 13 - 5 + 1)
    val sh = r.getStruct(r.fieldIndex("sh"))
    assert(sh.getLong(0) < (1L << 32) && sh.getLong(1) < (1L << 32))
  }

  test("each typed kernel function equals its SQL name on the same rows") {
    graft.functions.registerAllFunctions(spark)
    import spark.implicits._
    import graft.functions._
    val sf = "/root/testdata/sf0.001"
    val crafted = Seq((900001L, "a b c a b c d e f g h i j"),
      (900002L, "x y\n\nx y\nx y\n\nz"), (900003L, ""), (900004L, "a"))
      .toDF("doc_id", "text")
    val docs = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text").unionByName(crafted)
      .withColumn("toks", split($"text", " "))
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("e"))
    val pairs = emb.as("a").crossJoin(emb.as("b").limit(5))
      .select($"a.e".as("va"), $"b.e".as("vb"))
    // SQL name -> (frame, typed call, SQL text of the same call)
    val cases: Map[String, (DataFrame, Column, String)] = Map(
      "dot_product" -> ((pairs, dotProduct($"va", $"vb"), "dot_product(va, vb)")),
      "cosine_sim" -> ((pairs, cosineSim($"va", $"vb"), "cosine_sim(va, vb)")),
      "ngram_stats" -> ((docs, ngramStats($"toks", 3), "ngram_stats(toks, 3)")),
      "ngram_digests" -> ((docs, ngramDigests($"toks", 5), "ngram_digests(toks, 5)")),
      "word_grams" -> ((docs, wordGrams($"toks", 3), "word_grams(toks, 3)")),
      "repetition_stats" -> ((docs, repetitionStats($"text"), "repetition_stats(text)")),
      "minhash_sig" -> ((docs, minhashSig($"toks"), "minhash_sig(toks)")),
      "cdc_chunks" -> ((docs, cdcChunks($"toks"), "cdc_chunks(toks)")),
      "window_digests" -> ((docs, windowDigests($"toks", 5), "window_digests(toks, 5)")),
      "simhash64" -> ((docs, simhash64($"toks"), "simhash64(toks)")))
    assert(sqlFunctions.map(_._1).toSet == cases.keySet)
    cases.foreach { case (name, (df, typed, sql)) =>
      val both = df.select(typed.as("t"), expr(sql).as("s"))
      // the SQL name resolves to the very tree the typed function builds
      val Seq(t, s) = both.queryExecution.analyzed.expressions
        .map(_.asInstanceOf[Alias].child)
      assert(t.semanticEquals(s), s"$name: $t vs $s")
      val n = both.count()
      val differ = both.filter(!($"t" <=> $"s")).count()
      assert(n > 0 && differ == 0, s"$name: $differ of $n rows differ")
    }
  }
}
