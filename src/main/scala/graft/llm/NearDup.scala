package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cdcChunks, minhashSig, simhash64}

/** Near-duplicate detection (SURVEY.md §2.B.8 ◻ set) — the scale paths
  * that exact hashing can't cover. None of these are SQL-expressible, so
  * they are validated against the exact small-N oracle `q_jaccard_pairs`
  * in unit tests rather than declared to the driver.
  *
  * Scale posture (100 TB): all three techniques reduce the quadratic
  * all-pairs problem to an equi-join on a short key (LSH band hash /
  * SimHash band), which Spark shuffles by key — candidate generation is
  * linear in corpus size + output pairs, never |corpus|².
  */
object NearDup {

  /** Backtick-quote a column name before splicing it into an `expr` SQL
    * string, so names with spaces/hyphens/reserved words parse and resolve
    * exactly like the `col(...)`-built parameters do (embedded backticks
    * escaped by doubling, the SQL identifier convention). */
  private def q(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Character n-gram shingles as the token set for near-dup hashing
    * (robust to word-order edits, the standard choice for web dedup). */
  def shingles(textCol: String, n: Int = 5): Column = {
    val t = q(textCol)
    array_distinct(expr(
      s"transform(sequence(1, greatest(length($t) - ${n - 1}, 1)), " +
        s"i -> substring($t, i, $n))"))
  }

  /** MinHash + LSH banding via Spark ML: shingle → binary HashingTF vector
    * → MinHashLSH signatures → approxSimilarityJoin on banded buckets.
    * Returns candidate pairs (id_a, id_b, jaccard_dist) with
    * jaccard_dist <= 1 - minJaccard.
    */
  def minHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5,
      numHashTables: Int = 8,
      numFeatures: Int = 1 << 18): DataFrame = {
    val shingled = docs.select(
      col(idCol).as("id"),
      shingles(textCol).as("sh"))
    val tf = new HashingTF()
      .setInputCol("sh").setOutputCol("features")
      .setNumFeatures(numFeatures).setBinary(true)
    val vecs = tf.transform(shingled).filter(expr("size(sh) > 0"))
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("sig")
      .setNumHashTables(numHashTables).setSeed(42)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, 1.0 - minJaccard, "jaccard_dist")
      .select(
        col("datasetA.id").as("id_a"),
        col("datasetB.id").as("id_b"),
        col("jaccard_dist"))
      .filter(col("id_a") < col("id_b"))
  }

  /** 64-bit SimHash per document: xxhash64 each token, accumulate a
    * per-bit +1/-1 vote, take the sign vector. Pure DataFrame ops —
    * partial-aggregable (the vote sums are algebraic), no per-doc
    * buffering. */
  def simHash(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .withColumn("h", xxhash64(col("term")))
    val votes = toks
      .select(col("id"), posexplode(expr(
        "transform(sequence(0, 63), i -> CASE WHEN ((h >> i) & 1) = 1 " +
          "THEN 1 ELSE -1 END)")).as(Seq("bit", "vote")))
      .groupBy("id", "bit").agg(sum("vote").as("v"))
    votes
      .groupBy("id")
      .agg(sum(when(col("v") > 0,
        expr("shiftleft(1L, cast(bit as int))")).otherwise(0L))
        .as("simhash"))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: band the 64-bit hash into four 16-bit
    * keys; any shared band → candidate; filter by exact Hamming distance.
    * By pigeonhole, pairs with distance <= 3 always share a band. */
  def simHashPairs(
      hashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val banded = hashes.select(col("id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), i -> (simhash >> (i * 16)) & 65535)"))
        .as(Seq("band", "band_key")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-row 64-BIT SIMHASH fingerprint via the fused
    * [[graft.functions.SimHash64]] kernel — q_neardup_simhash64's voting
    * stage as a PURE PROJECTION (one md5 per distinct token, no explode,
    * no aggregation state), so it is usable on an unbounded stream (the
    * [[bandedSignaturesPerRow]] statelessness contract). Output:
    * (id, fp_lo, fp_hi), each half < 2³². */
  def simHash64PerRow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs.select(col(idCol).as("id"),
        simhash64(split(col(textCol), " ")).as("f"))
      .select(col("id"), col("f.lo").as("fp_lo"), col("f.hi").as("fp_hi"))
  }

  /** The four 16-bit band keys of a (fp_lo, fp_hi) fingerprint — the
    * q_neardup_simhash64 banding as a reusable projection. */
  private[graft] def simHash64Bands(fp: DataFrame): DataFrame =
    fp.select(col("id"), col("fp_lo"), col("fp_hi"),
      explode(array(
        struct(lit(0).as("band_id"), expr("fp_lo & 65535").as("val")),
        struct(lit(1).as("band_id"),
          expr("shiftright(fp_lo, 16) & 65535").as("val")),
        struct(lit(2).as("band_id"), expr("fp_hi & 65535").as("val")),
        struct(lit(3).as("band_id"),
          expr("shiftright(fp_hi, 16) & 65535").as("val")))).as("bs"))
      .select(col("id"), col("fp_lo"), col("fp_hi"),
        col("bs.band_id").as("band_id"), col("bs.val").as("val"))

  /** The standing corpus's SimHash band table
    * (band_id, val, corpus_id, c_lo, c_hi) — 4 short rows per document.
    * MATERIALIZE ONCE as a lake table keyed by (band_id, val); ingest
    * batches probe it (stream-static join) without re-scanning the
    * corpus. By pigeonhole, any new doc within Hamming 3 of a corpus doc
    * shares at least one band with it. */
  def simHash64BandTable(
      corpusDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simHash64Bands(simHash64PerRow(corpusDocs, idCol, textCol))
      .select(col("band_id"), col("val"), col("id").as("corpus_id"),
        col("fp_lo").as("c_lo"), col("fp_hi").as("c_hi"))

  /** Exact word n-gram Jaccard similarity for candidate pairs — the
    * verification step after LSH candidate generation, or a standalone
    * exact join for bounded sets. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minJaccard: Double = 0.0): DataFrame = {
    val tq = q(textCol)
    val grams = docs.select(col(idCol).as("id"),
      array_distinct(expr(
        s"transform(sequence(1, greatest(size(split($tq, ' ')) - ${n - 1}, 1)), " +
          s"i -> array_join(slice(split($tq, ' '), i, $n), ' '))"))
        .as("grams"))
    val t = grams.select(col("id"), explode(col("grams")).as("g"))
    val sizes = grams.select(col("id"), size(col("grams")).as("n_grams"))
    val inter = t.as("a").join(t.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Distinct word 3-gram shingles, one row per (id, gram) — shared by
    * signature building and exact verification below. Docs with < 3
    * tokens contribute no grams (and thus never pair). */
  private def wordGrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), split(col(textCol), " ").as("l"))
      .select(col("id"),
        explode(array_distinct(
          when(size(col("l")) < 3, array().cast("array<string>"))
            .otherwise(expr(
              "transform(sequence(1, size(l)-2), i -> concat_ws(' ', " +
                "element_at(l, i), element_at(l, i+1), element_at(l, i+2)))"))))
          .as("gram"))

  /** Portable banded minhash signatures — the same deterministic
    * construction the oracle-checked `q_neardup_banded` uses (16 md5
    * minhashes from 4 digests, 4 bands of 4): (id, band_id, sig), 4 rows
    * per document. MATERIALIZE THIS ONCE for the standing corpus (it is
    * 4 short rows per doc, cheap to store as a lake table); each ingest
    * batch then computes only its own signatures. */
  def bandedSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val g = wordGrams(docs, idCol, textCol)
    val minhashes = (0 until 16).map { s =>
      val digest = md5(concat_ws("|", lit((s / 4).toString), col("gram")))
      min(substring(digest, 8 * (s % 4) + 1, 8)).as(s"h$s")
    }
    val sigs = g.groupBy(col("id")).agg(minhashes.head, minhashes.tail: _*)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band_id"),
        md5(concat_ws("|", col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
          col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))).as("sig")))
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band_id").as("band_id"), col("bs.sig").as("sig"))
  }

  /** The SAME banded-signature construction computed entirely with
    * PER-ROW array expressions — `array_min` over the transformed gram
    * list replaces the explode + groupBy(min), so there is NO SHUFFLE at
    * all (lexicographic min of fixed-width hex is numeric min either
    * way; LlmSpec proves row-for-row equality with [[bandedSignatures]]).
    * This is the form a STREAMING ingest gate needs — stateless, no
    * aggregation state, usable on an unbounded stream — and it keeps
    * batch signature building inside one whole-stage-codegen pass. Docs
    * with < 3 tokens yield no signature rows (they cannot near-dup by
    * 3-gram shingles).
    *
    * r13: the per-row stage is the fused [[graft.functions.MinHashSig]]
    * kernel (4 md5s per distinct gram instead of 16, no intermediate gram
    * array) — byte-identical to the higher-order-function form it
    * replaces (MinHashSigSpec), same stateless/streamable contract. */
  def bandedSignaturesPerRow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sigs = docs
      .select(col(idCol).as("id"),
        minhashSig(split(col(textCol), " ")).as("mh"))
      .filter(size(col("mh")) === 16)
      .select(col("id") +: (0 until 16).map(i =>
        element_at(col("mh"), i + 1).as(s"h$i")): _*)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band_id"),
        md5(concat_ws("|", col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
          col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))).as("sig")))
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band_id").as("band_id"), col("bs.sig").as("sig"))
  }

  /** INCREMENTAL near-dup: match an ingest batch against the standing
    * corpus without ever pairing the corpus with itself — the shape a
    * daily 100 TB pipeline actually runs (corpus×corpus is a one-time
    * backfill; day N only needs batch×corpus ∪ batch×batch). Candidates
    * come from the band equi-join of the batch's signatures against the
    * PRECOMPUTED corpus signature table (pass `corpusSigs` from the lake;
    * recomputing from `corpusDocs` is the fallback), then exact word-gram
    * Jaccard verifies candidates only. Returns
    * (new_id, corpus_id, jaccard ≥ minJaccard). Batch-internal dups are
    * deliberately excluded here — run the symmetric pass on the batch
    * alone for those. */
  def incrementalNearDups(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      corpusSigs: Option[DataFrame] = None,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.8): DataFrame = {
    val nSigs = bandedSignatures(newDocs, idCol, textCol)
    val cSigs = corpusSigs.getOrElse(bandedSignatures(corpusDocs, idCol, textCol))
    val cand = nSigs.as("n").join(cSigs.as("c"),
        col("n.band_id") === col("c.band_id") && col("n.sig") === col("c.sig"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
    val gN = wordGrams(newDocs, idCol, textCol)
    val gC = wordGrams(corpusDocs, idCol, textCol)
    val nSizes = gN.groupBy(col("id")).agg(count(lit(1)).as("n_new"))
    val cSizes = gC.groupBy(col("id")).agg(count(lit(1)).as("n_corpus"))
    val inter = broadcast(cand)
      .join(gN.as("g1"), col("g1.id") === col("new_id"))
      .join(gC.as("g2"),
        col("g2.id") === col("corpus_id") && col("g2.gram") === col("g1.gram"))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(nSizes.select(col("id").as("new_id"), col("n_new")), "new_id")
      .join(cSizes.select(col("id").as("corpus_id"), col("n_corpus")), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (col("n_common").cast("double") /
          (col("n_new") + col("n_corpus") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-row paragraph chunk digests — q_dedup_para's 20-word chunking
    * (operators/PipelineOps.scala qDedupPara) as a PURE PROJECTION:
    * posexplode of a slice-transform then md5 per chunk, no aggregation,
    * so it is usable on an unbounded stream (the same statelessness
    * contract as [[bandedSignaturesPerRow]]). Output: (id, pos, ph). */
  def paragraphDigestsPerRow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      words: Int = 20): DataFrame =
    docs.select(col(idCol).as("id"), split(col(textCol), " ").as("l"))
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(l) / $words.0) as int) - 1), " +
          s"i -> concat_ws(' ', slice(l, i * $words + 1, $words)))")))
      .toDF("id", "pos", "para")
      .select(col("id"), col("pos"), md5(col("para")).as("ph"))

  /** The standing corpus's paragraph digest table: one row per DISTINCT
    * paragraph digest with its keep-first owner — q_dedup_para's
    * combinable min(struct) winner rule, so a boilerplate paragraph
    * repeated 10^8 times collapses map-side. MATERIALIZE ONCE as a lake
    * table keyed by ph; ingest batches probe it (stream-static join)
    * without ever re-scanning the corpus. */
  def paragraphDigestTable(
      corpusDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      words: Int = 20): DataFrame =
    paragraphDigestsPerRow(corpusDocs, idCol, textCol, words)
      .groupBy(col("ph"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
      .select(col("ph"), col("w.id").as("doc_id"), col("w.pos").as("pos"))

  /** Per-row CONTENT-DEFINED-CHUNK digests — q_dedup_cdc's chunking as a
    * pure projection over the fused [[graft.functions.CdcChunks]] kernel
    * (stateless, usable on an unbounded stream, the
    * [[bandedSignaturesPerRow]] contract). Unlike fixed-width paragraph
    * chunking, CDC boundaries re-synchronize after an insertion, so a
    * prefix-edited near-clone still shares most chunks with its source.
    * Output: (id, ch, tok) — distinct eligible (≥ 5-token) chunk digests
    * with their token counts. */
  def cdcChunkDigestsPerRow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs.select(col(idCol).as("id"),
        explode(cdcChunks(split(col(textCol), " "))).as("c"))
      .select(col("id"), col("c.ch").as("ch"), col("c.tok").as("tok"))
  }

  /** The standing corpus's CDC chunk table with keep-first owners —
    * MATERIALIZE ONCE as a lake table keyed by ch; ingest batches probe
    * it (stream-static join) without re-scanning the corpus. */
  def cdcChunkTable(
      corpusDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    cdcChunkDigestsPerRow(corpusDocs, idCol, textCol)
      .groupBy(col("ch"))
      .agg(min(col("id")).as("corpus_id"), max(col("tok")).as("tok"))
}
