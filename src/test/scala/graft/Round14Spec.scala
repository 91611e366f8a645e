package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariant pins for the round-14 additions — the properties the shared
  * DuckDB oracle cannot see: the multi-round BPE dependence of round N on
  * round N-1's merge, the 64-bit SimHash pigeonhole recall, and the two
  * round-13 ADVICE hardening items (kernel literal-arg analysis errors,
  * quoted column names in the NearDup expr splices).
  */
class Round14Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bpeTrain: each round's winning pair only exists after the previous merge") {
    import spark.implicits._
    // "a b s c d s a b s c d s a b": round 1 learns "a b" (count 3,
    // unique top); every later winner is a pair whose FIRST element is a
    // token created by the previous round ("a_b s" -> "a_b_s c" ->
    // "a_b_s_c d") — none of them exists in the raw corpus, the property
    // that distinguishes the trained loop from q_bpe_merge's 4
    // independent round-0 winners. Occurrences are separated by >= 1
    // token so no replace-overlap artifact is in play here (that
    // semantics is pinned by the next test).
    val docs = Seq((1L, "s", "a b s c d s a b s c d s a b"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.LlmOps.bpeTrain(docs, 4).collect()
    assert(out.length == 1)
    val r = out.head
    def s(n: String) = r.getString(r.fieldIndex(n))
    assert(s("m1") == "a b", s"m1 = ${s("m1")}")
    assert(s("m2") == "a_b s", s"m2 = ${s("m2")}")
    assert(s("m3") == "a_b_s c", s"m3 = ${s("m3")}")
    assert(s("m4") == "a_b_s_c d", s"m4 = ${s("m4")}")
    assert(s("text") == "a_b_s_c_d s a_b_s_c_d s a_b",
      s"final = ${s("text")}")
    assert(r.getLong(r.fieldIndex("tb")) == 14L)
  }

  test("bpeTrain: space-padded replace consumes the separator on adjacent runs") {
    import spark.implicits._
    // "x x x x x": the padded ' x x ' replace consumes the separator
    // space, so after merging (1,2) the scan resumes at token 3's BODY —
    // the next match is (4,5), leaving token 3 single: "x_x x x_x".
    // Deterministic and identical in both engines (plain left-to-right
    // replace); this is the same semantics q_bpe_merge pinned in r13.
    val docs = Seq((1L, "s", "x x x x x")).toDF("doc_id", "source", "text")
    val out = graft.operators.LlmOps.bpeTrain(docs, 1).collect().head
    assert(out.getString(out.fieldIndex("m1")) == "x x")
    assert(out.getString(out.fieldIndex("text")) == "x_x x x_x")
  }

  test("q_bpe_train rolls up per source with merged_occ > 0") {
    val rows = SparkEntry.queries("q_bpe_train")(spark, sf).collect()
    assert(rows.nonEmpty)
    val occ = rows.map(r => r.getLong(r.fieldIndex("merged_occ"))).sum
    assert(occ > 0L, "4 learned merges never fired — vacuous")
    // the merge list is identical across sources (learned globally)
    assert(rows.map(_.getString(1)).distinct.length == 1)
  }

  test("q_neardup_simhash64: planted exact copies land at hamming 0; " +
    "pigeonhole recall vs brute-force 64-bit hamming <= 3") {
    import spark.implicits._
    val out = SparkEntry.queries("q_neardup_simhash64")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every planted copy (doc_id < 50 shifted +1000000) pairs with its
    // original at hamming 0
    val n = graft.engine.Tables.documents(spark, sf)
      .filter($"doc_id" < 50).count()
    val planted = out.filter { case (a, b, h) => b == a + 1000000L }
    assert(planted.length == n.toInt,
      s"expected $n planted hamming-0 pairs, got ${planted.length}")
    assert(planted.forall(_._3 == 0))
    // no candidate leaks past the hamming bound
    assert(out.forall(_._3 <= 3))
  }

  test("SimHash64 kernel is byte-identical to the relational 64-agg form") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    // fixture corpus + crafted edges: single token, duplicate tokens
    // (array_distinct semantics — votes once), empty text (split -> [""],
    // one empty-string token), and a token repeated across positions
    val extra = Seq((900001L, "a"), (900002L, "a a a"),
      (900003L, "x y z x y"), (900004L, ""))
      .toDF("doc_id", "text")
    val docs = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text").unionByName(extra)
    val kern = docs
      .select($"doc_id", expr("simhash64(split(text, ' '))").as("f"))
      .select($"doc_id", $"f.lo".as("lo"), $"f.hi".as("hi"))
    val toks = docs.select($"doc_id",
      explode(array_distinct(split($"text", " "))).as("tok"))
    val th = toks.select($"doc_id",
      conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long").as("h2"))
    val sumCols = (0 until 32).map(i =>
      sum(expr(s"(shiftright(h1, $i) & 1) * 2 - 1")).as(s"a$i")) ++
      (0 until 32).map(i =>
        sum(expr(s"(shiftright(h2, $i) & 1) * 2 - 1")).as(s"b$i"))
    val sums = th.groupBy($"doc_id").agg(sumCols.head, sumCols.tail: _*)
    val rel = sums.select($"doc_id",
      (0 until 32).map(i =>
        when(col(s"a$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("lo"),
      (0 until 32).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("hi"))
    assert(kern.count() == rel.count())
    assert(kern.except(rel).count() == 0 && rel.except(kern).count() == 0)
  }

  test("kernel registration: a non-literal width is a clean AnalysisException") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq((1, "a b c")).toDF("n", "text")
    val e = intercept[AnalysisException] {
      df.select(expr("word_grams(split(text, ' '), n)")).collect()
    }
    assert(e.getMessage.contains("word_grams"))
    assert(e.getMessage.contains("integer literal"))
    val e2 = intercept[AnalysisException] {
      df.select(expr("window_digests(split(text, ' '), n)")).collect()
    }
    assert(e2.getMessage.contains("window_digests"))
  }

  test("NearDup expr splices survive column names needing quoting") {
    import spark.implicits._
    // 'c' and 'h' are CDC boundaries for this token set (md5 word % 8),
    // so each doc yields exactly ONE chunk ("d e f g h"; the head "a b c"
    // and tail "i j" runs are under the 5-token floor) — a concrete count
    // instead of the vacuous >= 0 the r14 advice flagged.
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"))
      .toDF("doc id", "the text")
    val sigs = graft.llm.NearDup
      .bandedSignaturesPerRow(docs, "doc id", "the text")
    assert(sigs.count() == 8) // 4 bands per doc
    val cdc = graft.llm.NearDup
      .cdcChunkDigestsPerRow(docs, "doc id", "the text")
    assert(cdc.count() == 2) // one 5-token chunk per doc
    val sh = docs.select(graft.llm.NearDup.shingles("the text").as("s"))
    assert(sh.count() == 2)
  }
}
