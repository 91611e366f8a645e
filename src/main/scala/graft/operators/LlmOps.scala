package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._
import graft.functions.dotProduct

/** LLM-training-data pipeline operators (SURVEY.md §2.B.8): deduplication,
  * text analysis, document fingerprinting, similarity search, multimodal
  * joins. These are the operators a 100 TB corpus pipeline actually runs:
  *  - exact dedup is one hash-groupBy (shuffle carries hash+id, not text);
  *  - token analytics are per-row expressions — embarrassingly parallel,
  *    fully codegen'd, no shuffle at all;
  *  - TF-IDF is two map-side-combinable aggregations over the exploded
  *    token stream;
  *  - brute-force cosine is the *verification* path, deliberately bounded
  *    to a probe set; the scale path is LSH (graft.llm, unit-tested).
  */
object LlmOps {

  private val toks: Column = split(col("text"), " ")

  /** Exact dedup by content hash. The testdata has no exact duplicates, so
    * the query plants them (union with shifted ids) and then dedups: keep
    * the minimum doc_id per sha-256 of the text. */
  val qDedupExact: GQuery = GQuery(
    "q_dedup_exact",
    (spark, dir) => {
      import spark.implicits._
      val d = Tables.documents(spark, dir).select($"doc_id", $"text")
      val withDups = d.unionAll(
        d.filter($"doc_id" % 3 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      withDups
        .groupBy(sha2($"text", 256).as("text_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"keep_id")
    },
    Some("""
      SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0) d
      GROUP BY sha256(text)
      ORDER BY keep_id"""),
  )

  /** Corpus profiling: per (lang, source) doc counts and char-length stats. */
  val qDocProfile: GQuery = GQuery(
    "q_docprofile",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .groupBy($"lang", $"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("median_chars"))
        .orderBy($"lang", $"source")
    },
    Some("""
      SELECT lang, source, count(*) AS n_docs,
             cast(sum(n_chars) as bigint) AS total_chars,
             min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             round(quantile_cont(n_chars, 0.5), 6) AS median_chars
      FROM documents GROUP BY lang, source ORDER BY lang, source"""),
  )

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs | digit runs | single other chars). Pure per-row
    * expressions — zero shuffle. */
  val qTokenCount: GQuery = GQuery(
    "q_tokencount",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select(
          $"doc_id",
          size(toks).as("n_ws_tokens"),
          expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))")
            .as("n_bpe_tokens"),
          length($"text").as("len_chars"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        cast(len(string_split(text, ' ')) as int) AS n_ws_tokens,
        cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
          as int) AS n_bpe_tokens,
        cast(length(text) as int) AS len_chars
      FROM documents ORDER BY doc_id"""),
  )

  /** Marker stopword sets for the n-gram language-ID heuristic. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "les", "des", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language ID via stopword-marker counting, argmax with fixed precedence.
    * (The testdata text is a synthetic bag of English-ish code words, so
    * most rows resolve to 'unknown' — the operator semantics are what is
    * verified.) */
  val qLangId: GQuery = GQuery(
    "q_langid",
    (spark, dir) => {
      import spark.implicits._
      val scored = langMarkers.foldLeft(Tables.documents(spark, dir)) {
        case (df, (l, ms)) =>
          val inList = ms.map(m => s"'$m'").mkString(", ")
          df.withColumn(s"s_$l",
            expr(s"size(filter(split(text, ' '), t -> t IN ($inList)))"))
      }
      val best = langMarkers.map(_._1).foldRight(lit("unknown")) {
        case (l, elseCol) =>
          val isMax = langMarkers.map(_._1).map(o => col(s"s_$l") >= col(s"s_$o"))
            .reduce(_ && _)
          when(col(s"s_$l") > 0 && isMax, lit(l)).otherwise(elseCol)
      }
      scored
        .select($"doc_id", $"lang", best.as("lang_pred"),
          ($"lang" === best).as("agrees"))
        .orderBy($"doc_id")
    },
    Some {
      val scores = langMarkers.map { case (l, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS s_$l"
      }.mkString(",\n          ")
      val langs = langMarkers.map(_._1)
      val caseChain = langs.map { l =>
        val isMax = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN s_$l > 0 AND $isMax THEN '$l'"
      }.mkString("\n          ")
      s"""
      SELECT doc_id, lang, lang_pred, lang = lang_pred AS agrees FROM (
        SELECT doc_id, lang,
          CASE $caseChain
          ELSE 'unknown' END AS lang_pred
        FROM (SELECT doc_id, lang, $scores FROM documents) s) p
      ORDER BY doc_id"""
    },
  )

  private val enStop = Seq("the", "and", "of", "to", "in", "a", "is", "it")

  /** Quality scoring: length, token stats, punctuation + stopword ratios,
    * and a deterministic composite score — the filter columns of a corpus
    * cleaning pass. */
  val qTextQuality: GQuery = GQuery(
    "q_textquality",
    (spark, dir) => {
      import spark.implicits._
      val inList = enStop.map(s => s"'$s'").mkString(", ")
      Tables.documents(spark, dir)
        .select(
          $"doc_id",
          length($"text").as("len_chars"),
          size(toks).as("n_tokens"),
          r6(expr("aggregate(transform(split(text,' '), t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size(toks)).as("avg_token_len"),
          r6((length($"text") -
            length(regexp_replace($"text", "[A-Za-z0-9 ]", ""))).cast("double") /
            length($"text")).as("punct_ratio"),
          r6(expr(s"size(filter(split(text,' '), t -> t IN ($inList)))")
            .cast("double") / size(toks)).as("stopword_ratio"))
        .withColumn("quality_score",
          r6(least(($"n_tokens" / 100.0), lit(1.0)) * 0.5 +
            (lit(1.0) - $"punct_ratio") * 0.3 +
            least($"stopword_ratio" * 5.0, lit(1.0)) * 0.2))
        .orderBy($"doc_id")
    },
    Some {
      val inList = enStop.map(s => s"'$s'").mkString(", ")
      s"""
      SELECT doc_id, len_chars, n_tokens, avg_token_len, punct_ratio,
             stopword_ratio,
        floor((least(n_tokens / 100.0, 1.0) * 0.5 + (1.0 - punct_ratio) * 0.3
          + least(stopword_ratio * 5.0, 1.0) * 0.2) * 1e6 + 0.5) / 1e6
          AS quality_score
      FROM (
        SELECT doc_id,
          cast(length(text) as int) AS len_chars,
          cast(len(string_split(text, ' ')) as int) AS n_tokens,
          ${rNSql("cast(list_sum(list_transform(string_split(text,' '), t -> length(t))) as double) / len(string_split(text,' '))", 6)} AS avg_token_len,
          ${rNSql("cast(length(text) - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) as double) / length(text)", 6)} AS punct_ratio,
          ${rNSql(s"cast(len(list_filter(string_split(text,' '), t -> t IN ($inList))) as double) / len(string_split(text,' '))", 6)} AS stopword_ratio
        FROM documents) q
      ORDER BY doc_id"""
    },
  )

  /** Document fingerprinting: an order-insensitive bag fingerprint (sha-256
    * of the sorted distinct token set) + a prefix fingerprint. Bag
    * fingerprints catch shuffled near-copies that exact hashing misses. */
  val qFingerprint: GQuery = GQuery(
    "q_fingerprint",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select(
          $"doc_id",
          sha2(array_join(array_sort(array_distinct(toks)), " "), 256)
            .as("bag_fp"),
          sha2(substring($"text", 1, 64), 256).as("prefix_fp"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
          AS bag_fp,
        sha256(substring(text, 1, 64)) AS prefix_fp
      FROM documents ORDER BY doc_id"""),
  )

  /** Relational TF-IDF over the exploded token stream: two shuffles
    * (doc-term counts, term doc-frequency), both partial-aggregated.
    * Output bounded to doc_id < 30; statistics computed over the corpus. */
  val qTfidf: GQuery = GQuery(
    "q_tfidf",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val tokens = docs.select($"doc_id", explode(toks).as("term"))
      val tf = tokens.groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
        .withColumn("doclen",
          sum($"cnt").over(Window.partitionBy($"doc_id")))
      val dfreq = tokens.distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .filter($"doc_id" < 30)
        .select(
          $"doc_id", $"term", $"cnt", $"df",
          r6(($"cnt".cast("double") / $"doclen") * log($"n_docs" / $"df"))
            .as("tfidf"))
        .orderBy($"doc_id", $"term")
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS cnt,
               sum(count(*)) OVER (PARTITION BY doc_id) AS doclen
        FROM tokens GROUP BY doc_id, term),
      dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT doc_id, term, cnt, df,
        floor(((cast(cnt as double) / doclen) * ln(n_docs / df)) * 1e6 + 0.5)
          / 1e6 AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE doc_id < 30
      ORDER BY doc_id, term"""),
  )

  /** Exact pairwise Jaccard on a bounded doc set — the small-N ground truth
    * the MinHash-LSH path (graft.llm.NearDup) is validated against. */
  val qJaccardPairs: GQuery = GQuery(
    "q_jaccard_pairs",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).filter($"doc_id" < 50)
      val t = docs.select($"doc_id", explode(array_distinct(toks)).as("term"))
      val sizes = t.groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      val a = t.as("a"); val b = t.as("b")
      val inter = a.join(b, col("a.term") === col("b.term") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc1")
          .withColumnRenamed("n_terms", "n1"), "doc1")
        .join(sizes.withColumnRenamed("doc_id", "doc2")
          .withColumnRenamed("n_terms", "n2"), "doc2")
        .select($"doc1", $"doc2", $"n_common",
          r6($"n_common".cast("double") / ($"n1" + $"n2" - $"n_common"))
            .as("jaccard"))
        .orderBy($"doc1", $"doc2")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 50),
      sizes AS (SELECT doc_id, count(*) AS n_terms FROM t GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc1, doc2, n_common,
        floor((cast(n_common as double) / (s1.n_terms + s2.n_terms - n_common))
          * 1e6 + 0.5) / 1e6 AS jaccard
      FROM inter
      JOIN sizes s1 ON s1.doc_id = doc1
      JOIN sizes s2 ON s2.doc_id = doc2
      ORDER BY doc1, doc2"""),
  )

  /** Brute-force cosine top-k: bounded probe set (10 vectors) against the
    * full corpus via broadcast — the correctness oracle for the LSH/ANN
    * path in graft.llm.Ann. Ranking is on the ROUNDED score so a 1-ulp
    * engine difference cannot flip the order; ties break on vec_id. */
  val qSimTopk: GQuery = GQuery(
    "q_sim_topk",
    (spark, dir) => {
      import spark.implicits._
      // norms are computed once per VECTOR (not once per pair): at scale
      // this saves |corpus| norm folds per probe; the doubles are
      // identical either way, so the oracle still matches.
      val emb = Tables.embeddings(spark, dir)
        .select($"vec_id", expr("transform(embedding, x -> cast(x as double))")
          .as("emb"))
        .withColumn("norm", sqrt(dotProduct($"emb", $"emb")))
      val probes = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"), $"norm".as("p_norm"))
      val corpus = emb.select($"vec_id".as("c_id"), $"emb".as("c_emb"),
        $"norm".as("c_norm"))
      val scored = corpus.crossJoin(broadcast(probes))
        .select($"p_id", $"c_id",
          r6(dotProduct($"p_emb", $"c_emb") / ($"p_norm" * $"c_norm")).as("cos_sim"))
      val w = Window.partitionBy($"p_id").orderBy($"cos_sim".desc, $"c_id")
      scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .orderBy($"p_id", $"rnk")
    },
    Some("""
      WITH emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      scored AS (
        SELECT p.vec_id AS p_id, c.vec_id AS c_id,
          floor((list_inner_product(p.e, c.e) /
            (sqrt(list_inner_product(p.e, p.e)) *
             sqrt(list_inner_product(c.e, c.e)))) * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM emb p CROSS JOIN emb c WHERE p.vec_id < 10)
      SELECT p_id, c_id, cos_sim, rnk FROM (
        SELECT p_id, c_id, cos_sim,
          cast(row_number() OVER (PARTITION BY p_id
            ORDER BY cos_sim DESC, c_id) as int) AS rnk
        FROM scored) t
      WHERE rnk <= 5
      ORDER BY p_id, rnk"""),
  )

  /** Multimodal row: text + vector + scalar metadata in one result — join
    * documents to embeddings, filter on label and a text predicate, score
    * against a probe vector. */
  val qMultimodal: GQuery = GQuery(
    "q_multimodal",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("norm", sqrt(dotProduct($"emb", $"emb")))
      val probe = emb.filter($"vec_id" === 0)
        .select($"emb".as("probe_emb"), $"norm".as("probe_norm"))
      Tables.documents(spark, dir)
        .join(emb, $"doc_id" === $"vec_id")
        .crossJoin(broadcast(probe))
        .filter($"label".isin(1, 2, 3) && $"text".contains("data"))
        .select($"doc_id", $"lang", $"label", $"n_chars",
          r6(dotProduct($"emb", $"probe_emb") / ($"norm" * $"probe_norm"))
            .as("cos_to_probe"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      probe AS (SELECT e AS pe FROM emb WHERE vec_id = 0)
      SELECT doc_id, lang, label, n_chars,
        floor((list_inner_product(e, pe) /
          (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(pe, pe))))
          * 1e6 + 0.5) / 1e6 AS cos_to_probe
      FROM documents JOIN emb ON doc_id = vec_id CROSS JOIN probe
      WHERE label IN (1, 2, 3) AND contains(text, 'data')
      ORDER BY doc_id"""),
  )

  /** Document chunking: fixed-size token windows with overlap — the core
    * LLM-pretraining preprocessing op. Chunk starts stride by
    * (size - overlap); the generator is a per-row expression + explode,
    * so chunking is embarrassingly parallel and shuffle-free. */
  val qChunk: GQuery = GQuery(
    "q_chunk",
    (spark, dir) => {
      import spark.implicits._
      val chunkLen = 40; val stride = 30 // overlap 10
      Tables.documents(spark, dir)
        .filter($"doc_id" < 20)
        .select($"doc_id", toks.as("t"))
        .select($"doc_id",
          posexplode(expr(
            s"transform(sequence(0, greatest(cast(ceil((size(t) - $chunkLen) / $stride.0) as int), 0)), " +
              s"i -> array_join(slice(t, i * $stride + 1, $chunkLen), ' '))"))
            .as(Seq("chunk_id", "chunk_text")))
        .withColumn("n_chunk_tokens", size(split($"chunk_text", " ")))
        .orderBy($"doc_id", $"chunk_id")
    },
    Some("""
      SELECT doc_id, chunk_id, chunk_text,
        cast(len(string_split(chunk_text, ' ')) as int) AS n_chunk_tokens
      FROM (
        SELECT doc_id, cast(i as int) AS chunk_id,
          array_to_string(
            list_slice(t, cast(i as int) * 30 + 1, cast(i as int) * 30 + 40),
            ' ') AS chunk_text
        FROM (
          SELECT doc_id, t,
            unnest(range(0,
              greatest(cast(ceil((len(t) - 40) / 30.0) as int), 0) + 1)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE doc_id < 20) d0) d1) c
      ORDER BY doc_id, chunk_id"""),
  )

  /** Deterministic source interleaving: a stable round-robin training
    * order across sources (position = per-source rank × #sources +
    * source index) — how a training mix is laid out without a global
    * shuffle; the order is reproducible run to run. */
  val qInterleave: GQuery = GQuery(
    "q_interleave",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).filter($"source".isin("src0", "src1", "src2"))
      val srcIdx = expr("cast(substring(source, 4) as int)")
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      docs
        .select($"doc_id", $"source",
          row_number().over(w).as("rank_in_source"))
        .withColumn("position",
          ($"rank_in_source" - 1) * 3 + srcIdx)
        .orderBy($"position", $"doc_id")
    },
    Some("""
      SELECT doc_id, source, rank_in_source,
             (rank_in_source - 1) * 3 + cast(substring(source, 4) as int)
               AS position
      FROM (
        SELECT doc_id, source,
          cast(row_number() OVER (PARTITION BY source ORDER BY doc_id) as int)
            AS rank_in_source
        FROM documents WHERE source IN ('src0', 'src1', 'src2')) r
      ORDER BY position, doc_id"""),
  )

  /** PII scrubbing — regex redaction of emails and digit runs, plus the
    * per-doc redaction counts a compliance audit needs. Pure per-row
    * codegen'd expressions: zero shuffle, linear scan at any scale.
    * Patterns stay in the char-class subset where Java regex (Spark) and
    * RE2 (DuckDB) agree. */
  val qPiiRedact: GQuery = GQuery(
    "q_pii_redact",
    (spark, dir) => {
      import spark.implicits._
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      Tables.documents(spark, dir)
        .select(
          $"doc_id",
          substring(
            regexp_replace(regexp_replace($"text", emailPat, "[EMAIL]"),
              "[0-9]+", "[NUM]"), 1, 60).as("red_prefix"),
          size(regexp_extract_all($"text", lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).as("n_nums"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        substring(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '[0-9]+', '[NUM]', 'g'), 1, 60) AS red_prefix,
        cast(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as int) AS n_emails,
        cast(len(regexp_extract_all(text, '[0-9]+')) as int) AS n_nums
      FROM documents ORDER BY doc_id"""),
  )

  /** Near-exact dedup by canonical form: lowercase + whitespace-collapse +
    * trim, then group by the md5 of the canonical text. Catches the
    * reformatted-copy duplicates exact dedup misses, at exact-dedup cost
    * (one hash-groupBy; the shuffle carries 32-byte digests, not text). */
  val qDedupNorm: GQuery = GQuery(
    "q_dedup_norm",
    (spark, dir) => {
      import spark.implicits._
      val canon = trim(regexp_replace(lower($"text"), "\\s+", " "))
      Tables.documents(spark, dir)
        .select($"doc_id", md5(canon.cast("binary")).as("canon_id"))
        .groupBy($"canon_id")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"keep_id")
    },
    Some("""
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS canon_id,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents
      GROUP BY 1 ORDER BY keep_id"""),
  )

  /** BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query-term set —
    * the ranking function behind corpus search / quality-biased sampling.
    * Per-term scores stay separate columns and the total is one fixed-order
    * IEEE expression, so no float addition ever happens in shuffle-merge
    * order — deterministic on a 1000-executor cluster. Two map-side-
    * combinable aggs (tf per doc, df per term); df and avgdl are tiny and
    * broadcast. */
  val qBm25: GQuery = GQuery(
    "q_bm25",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val qterms = Seq("data", "model", "system")
      // ONE explode pass total. doclen and avgdl come from size(tokens) on
      // the un-exploded table (per-row expression, no shuffle); df is a
      // window over the query-term-filtered tf, so the token stream is
      // never re-derived per consumer (Spark's ReuseExchange can't merge
      // differently-pruned copies of the same subtree — avoid the copies).
      val tokens = docs.select($"doc_id", explode(toks).as("term"))
      val tf = tokens.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        .filter($"term".isin(qterms: _*))
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      val dl = docs.select($"doc_id", size(toks).cast("long").as("doclen"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        (sum(size(toks)).cast("double") / count(lit(1))).as("avgdl"))
      def score(term: String): Column = {
        val idf = log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
        val tfc = ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"doclen" / $"avgdl")))
        max(when($"term" === term, rN(idf * tfc, 6)))
      }
      // dl is corpus-sized — never force-broadcast it; AQE broadcasts at
      // small SF and shuffles on doc_id at scale, both correct
      tf.join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy($"doc_id")
        .agg(
          coalesce(score("data"), lit(0.0)).as("bm25_data"),
          coalesce(score("model"), lit(0.0)).as("bm25_model"),
          coalesce(score("system"), lit(0.0)).as("bm25_system"))
        .withColumn("bm25_total",
          rN($"bm25_data" + $"bm25_model" + $"bm25_system", 6))
        .orderBy($"bm25_total".desc, $"doc_id")
    },
    Some(s"""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
      dl AS (SELECT doc_id, cast(sum(tf) as bigint) AS doclen FROM tf GROUP BY 1),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      stats AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT cast(sum(doclen) as double) / count(*) FROM dl) AS avgdl),
      scored AS (
        SELECT tf.doc_id, tf.term,
          ${rNSql("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
            "((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (doclen / avgdl))))", 6)}
            AS s
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        WHERE term IN ('data', 'model', 'system')),
      pivoted AS (
        SELECT doc_id,
          coalesce(max(CASE WHEN term = 'data' THEN s END), 0.0) AS bm25_data,
          coalesce(max(CASE WHEN term = 'model' THEN s END), 0.0) AS bm25_model,
          coalesce(max(CASE WHEN term = 'system' THEN s END), 0.0) AS bm25_system
        FROM scored GROUP BY doc_id)
      SELECT doc_id, bm25_data, bm25_model, bm25_system,
        ${rNSql("bm25_data + bm25_model + bm25_system", 6)} AS bm25_total
      FROM pivoted
      ORDER BY bm25_total DESC, doc_id"""),
  )

  /** Embedding hygiene scan: L2 norm, dimensionality, and the normalized
    * first component for every vector. The sum-of-squares is a per-row
    * SEQUENTIAL fold over the array (Spark `aggregate` ≡ DuckDB `list_sum`,
    * verified bit-identical) — element order is fixed, so this is
    * deterministic everywhere, unlike a row-spanning float sum. Per-row
    * expression only: no shuffle, linear at 100 TB. */
  val qEmbedNorm: GQuery = GQuery(
    "q_embed_norm",
    (spark, dir) => {
      import spark.implicits._
      val ss = aggregate(transform($"embedding", x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      Tables.embeddings(spark, dir)
        .select(
          $"vec_id",
          size($"embedding").as("dim"),
          r6(sqrt(ss)).as("l2_norm"),
          r6(element_at($"embedding", 1).cast("double") / sqrt(ss)).as("first_unit"))
        .orderBy($"vec_id")
    },
    Some(s"""
      SELECT vec_id,
        cast(len(embedding) as int) AS dim,
        ${rNSql("sqrt(list_sum(list_transform(embedding, " +
          "x -> cast(x as double) * cast(x as double))))", 6)} AS l2_norm,
        ${rNSql("cast(embedding[1] as double) / sqrt(list_sum(list_transform(" +
          "embedding, x -> cast(x as double) * cast(x as double))))", 6)}
          AS first_unit
      FROM embeddings ORDER BY vec_id"""),
  )

  /** Corpus bigram statistics — the n-gram LM / collocation count over
    * the token stream. Bigrams come from `zip_with` over two shifted
    * slices (per-row, codegen'd, no self-join); the only shuffle is the
    * final count groupBy, map-side combined. The ≥5 support floor keeps
    * output bounded; at 100 TB the same floor is what makes n-gram tables
    * storable at all. */
  val qNgram: GQuery = GQuery(
    "q_ngram",
    (spark, dir) => {
      import spark.implicits._
      val len1 = greatest(size(toks) - 1, lit(0))
      val bigrams = zip_with(
        slice(toks, lit(1), len1),
        slice(toks, lit(2), len1),
        (a, b) => concat(a, lit(" "), b))
      Tables.documents(spark, dir)
        .select(explode(bigrams).as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= 5)
        .orderBy($"n".desc, $"bigram")
    },
    Some("""
      SELECT bigram, count(*) AS n FROM (
        SELECT l[i] || ' ' || l[i + 1] AS bigram FROM (
          SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
          FROM (SELECT string_split(text, ' ') AS l FROM documents) t0) t1)
      GROUP BY bigram HAVING count(*) >= 5
      ORDER BY n DESC, bigram"""),
  )

  /** Deterministic train/val/test split — assignment by multiplicative
    * hash of the document id (8/1/1), reproducible on any engine, any
    * partitioning, any re-run: the property `df.randomSplit` cannot give
    * across engines or cluster layouts. Verified by per-split per-lang
    * counts (the split manifest a training run records). */
  val qSplit: GQuery = GQuery(
    "q_split",
    (spark, dir) => {
      import spark.implicits._
      val bucket = ($"doc_id" * 2654435761L) % 10
      Tables.documents(spark, dir)
        .withColumn("split",
          when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars_total"))
        .orderBy($"split", $"lang")
    },
    Some("""
      SELECT CASE WHEN (doc_id * 2654435761) % 10 < 8 THEN 'train'
                  WHEN (doc_id * 2654435761) % 10 < 9 THEN 'val'
                  ELSE 'test' END AS split,
             lang, count(*) AS n_docs,
             cast(sum(n_chars) as bigint) AS n_chars_total
      FROM documents
      GROUP BY 1, 2 ORDER BY split, lang"""),
  )

  /** Stratified deterministic sampling — per-language keep rates applied
    * through the same multiplicative hash (downsample the dominant
    * language, keep the tail), the data-mixing primitive behind corpus
    * rebalancing. Pure filter: no shuffle before the verification agg. */
  val qSampleStrat: GQuery = GQuery(
    "q_sample_strat",
    (spark, dir) => {
      import spark.implicits._
      val h = ($"doc_id" * 2654435761L) % 100
      val rate = when($"lang" === "en", 20).otherwise(80) // keep 20% en, 80% rest
      Tables.documents(spark, dir)
        .filter(h < rate)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("n_chars_kept"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, count(*) AS n_kept,
             cast(sum(n_chars) as bigint) AS n_chars_kept
      FROM documents
      WHERE (doc_id * 2654435761) % 100 <
            CASE WHEN lang = 'en' THEN 20 ELSE 80 END
      GROUP BY lang ORDER BY lang"""),
  )

  /** DEDUP THRESHOLD SWEEP — the policy-tuning report behind "where do
    * we set τ": for τ ∈ {0.5, 0.7, 0.8, 0.9}, how many pairs and how
    * many distinct documents would near-dup dedup touch? Runs on the
    * bounded q_jaccard_pairs base with planted full-copy duplicates
    * (shifted ids — the rows>0-can-never-pass-vacuously convention), so
    * τ=0.9 always has members; thresholds are cast-double literals
    * compared against the SAME r6-rounded Jaccard in both engines, so
    * bucket membership cannot flip on a ulp. At scale the identical
    * sweep aggregates the LSH candidate pairs (q_neardup_banded's
    * output) instead of the exact ones. */
  val qDedupSweep: GQuery = GQuery(
    "q_dedup_sweep",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).filter($"doc_id" < 60)
        .select($"doc_id", $"text")
      val docs = base.unionByName(
        base.select(($"doc_id" + 825000L).as("doc_id"), $"text"))
      val t = docs.select($"doc_id", explode(array_distinct(toks)).as("term"))
      val sizes = t.groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      val inter = t.as("a").join(t.as("b"),
          col("a.term") === col("b.term") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .agg(count(lit(1)).as("n_common"))
      val pairs = inter
        .join(sizes.withColumnRenamed("doc_id", "doc1")
          .withColumnRenamed("n_terms", "n1"), "doc1")
        .join(sizes.withColumnRenamed("doc_id", "doc2")
          .withColumnRenamed("n_terms", "n2"), "doc2")
        .select($"doc1", $"doc2",
          r6($"n_common".cast("double") / ($"n1" + $"n2" - $"n_common"))
            .as("j"))
      val nDocs = sizes.agg(count(lit(1)).as("n_docs"))
      val sweep = pairs
        .select($"doc1", $"doc2", $"j",
          explode(array(lit(0.5), lit(0.7), lit(0.8), lit(0.9))).as("tau"))
        .filter($"j" >= $"tau")
      sweep
        .select($"tau", explode(array($"doc1", $"doc2")).as("d"))
        .groupBy($"tau")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct($"d").as("n_docs_hit"))
        .crossJoin(broadcast(nDocs))
        .select(r6($"tau").as("tau"), $"n_pairs", $"n_docs_hit",
          r6($"n_docs_hit".cast("double") / $"n_docs".cast("double"))
            .as("dup_rate"))
        .orderBy($"tau")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 60),
      docs AS (
        SELECT doc_id, text FROM base
        UNION ALL SELECT doc_id + 825000, text FROM base),
      t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
          AS term
        FROM docs),
      sizes AS (SELECT doc_id, count(*) AS n_terms FROM t GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      pairs AS (
        SELECT doc1, doc2,
               ${r6Sql("cast(n_common as double) / " +
                 "(s1.n_terms + s2.n_terms - n_common)")} AS j
        FROM inter
        JOIN sizes s1 ON s1.doc_id = doc1
        JOIN sizes s2 ON s2.doc_id = doc2),
      ndocs AS (SELECT cast(count(*) as bigint) AS n_docs FROM sizes),
      sweep AS (
        SELECT tau, doc1, doc2 FROM pairs,
          (SELECT unnest([cast(0.5 as double), cast(0.7 as double),
                          cast(0.8 as double), cast(0.9 as double)])
             AS tau) ts
        WHERE j >= tau),
      hits AS (
        SELECT tau, d FROM (
          SELECT tau, doc1 AS d FROM sweep
          UNION ALL SELECT tau, doc2 FROM sweep) u)
      SELECT ${r6Sql("tau")} AS tau,
             cast(count(*) / 2 as bigint) AS n_pairs,
             cast(count(DISTINCT d) as bigint) AS n_docs_hit,
             ${r6Sql("cast(count(DISTINCT d) as double) / " +
               "cast(n_docs as double)")} AS dup_rate
      FROM hits CROSS JOIN ndocs
      GROUP BY tau, n_docs ORDER BY tau"""),
  )

  /** PER-DIMENSION EMBEDDING HEALTH — the columnwise companion to
    * q_embed_norm's per-vector view: mean, variance, and
    * share-of-total-variance for each of the 64 dimensions, the
    * diagnostic that exposes dead dimensions (no variance → wasted
    * capacity) and dominant ones (a single dimension carrying the
    * space → degenerate embeddings). One posexplode + ONE combinable
    * per-dim moment pass; determinism rides the decimal-staging
    * contracts (values r6'd into dec(30,6) sums, squares 12-dp-staged,
    * variance a fixed IEEE form; the 64-term total-variance window sum
    * is itself 12-dp-staged). At 100 TB this is a map-side-combining
    * aggregate with 64 output rows — embedding QC for free. */
  val qEmbedDimstats: GQuery = GQuery(
    "q_embed_dimstats",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val ex = Tables.embeddings(spark, dir)
        .select(posexplode($"embedding"))
        .select(($"pos" + 1).cast("int").as("pos"),
          $"col".cast("double").as("x"))
      val d = (c: String) => col(c).cast("double")
      val cells = ex.groupBy($"pos")
        .agg(count(lit(1)).as("n"),
          sum(rN($"x", 6).cast(dec6)).cast("double").as("sx"),
          sum(rN($"x" * $"x", 12).cast(dec12)).cast("double").as("sxx"))
        .withColumn("var_raw",
          (d("n") * $"sxx" - $"sx" * $"sx") /
            (d("n") * (d("n") - lit(1.0))))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      cells
        .withColumn("tot",
          sum(rN($"var_raw", 12).cast(dec12)).over(wAll).cast("double"))
        .select($"pos", $"n".as("n_vecs"),
          r6($"sx" / d("n")).as("mean_val"),
          r6($"var_raw").as("var_val"),
          r6(rN($"var_raw", 12) / $"tot").as("var_share"))
        .orderBy($"pos")
    },
    Some(s"""
      WITH ex AS (
        SELECT cast(unnest(generate_series(1, len(embedding))) as int)
                 AS pos,
               unnest(list_transform(embedding, v -> cast(v as double)))
                 AS x
        FROM embeddings),
      cells AS (
        SELECT pos, cast(count(*) as bigint) AS n,
               cast(sum(cast(${rNSql("x", 6)} as decimal(30,6)))
                 as double) AS sx,
               cast(sum(cast(${rNSql("x * x", 12)} as decimal(30,12)))
                 as double) AS sxx
        FROM ex GROUP BY pos),
      v AS (
        SELECT pos, n, sx,
               (cast(n as double) * sxx - sx * sx) /
                 (cast(n as double) * (cast(n as double) -
                   cast(1.0 as double))) AS var_raw
        FROM cells),
      t AS (
        SELECT pos, n, sx, var_raw,
               cast(sum(cast(${rNSql("var_raw", 12)} as decimal(30,12)))
                 OVER () as double) AS tot
        FROM v)
      SELECT pos, n AS n_vecs,
             ${r6Sql("sx / cast(n as double)")} AS mean_val,
             ${r6Sql("var_raw")} AS var_val,
             ${r6Sql(rNSql("var_raw", 12) + " / tot")} AS var_share
      FROM t
      ORDER BY pos"""),
  )

  /** EMBEDDING DISTRIBUTION DRIFT between two deterministic hash slices
    * of the corpus (the q_split Knuth-bucket split — slice A = buckets
    * 0-4, B = 5-9): per-dimension two-sample z on the mean gap under a
    * pooled variance. This is the vector-space twin of q_kl_drift
    * (token space) and the two-sample extension of q_embed_dimstats —
    * the QC gate that catches a re-embedded or re-normalized shard
    * before it pollutes an index. ONE posexplode pass with conditional
    * per-slice staged moments (6/12-dp; |x| ≤ 1); the top-10 most
    * drifted dimensions come off the 64-row dim table under a
    * (|z|, pos) total order. */
  val qEmbedDrift: GQuery = GQuery(
    "q_embed_drift",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val ex = Tables.embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding"))
        .select((($"vec_id" * 2654435761L) % 10 < 5).as("a"),
          ($"pos" + 1).cast("int").as("pos"),
          $"col".cast("double").as("x"))
      def csum(flag: Boolean, c: org.apache.spark.sql.Column,
          dt: org.apache.spark.sql.types.DecimalType) =
        sum(when(if (flag) $"a" else !$"a", c.cast(dt))
          .otherwise(lit(0).cast(dt))).cast("double")
      val cells = ex.groupBy($"pos").agg(
        sum(when($"a", 1L).otherwise(0L)).as("na"),
        sum(when(!$"a", 1L).otherwise(0L)).as("nb"),
        csum(true, rN($"x", 6), dec6).as("sa"),
        csum(false, rN($"x", 6), dec6).as("sb"),
        csum(true, rN($"x" * $"x", 12), dec12).as("qa"),
        csum(false, rN($"x" * $"x", 12), dec12).as("qb"))
      val naD = $"na".cast("double")
      val nbD = $"nb".cast("double")
      val md = $"sa" / naD - $"sb" / nbD
      val vp = (($"qa" - $"sa" * $"sa" / naD) +
        ($"qb" - $"sb" * $"sb" / nbD)) / (naD + nbD - lit(2.0))
      val z = md / sqrt(vp * (lit(1.0) / naD + lit(1.0) / nbD))
      cells.select($"pos", $"na", $"nb",
          r6($"sa" / naD).as("mean_a"), r6($"sb" / nbD).as("mean_b"),
          r6(z).as("z_drift"))
        .orderBy(abs(r6(z)).desc, $"pos")
        .limit(10)
    },
    Some {
      val md = "(sa / cast(na as double) - sb / cast(nb as double))"
      val vp = "(((qa - sa * sa / cast(na as double)) + " +
        "(qb - sb * sb / cast(nb as double))) / " +
        "(cast(na as double) + cast(nb as double) - " +
        "cast(2.0 as double)))"
      val z = s"($md / sqrt($vp * (cast(1.0 as double) / " +
        s"cast(na as double) + cast(1.0 as double) / " +
        s"cast(nb as double))))"
      s"""
      WITH ex AS (
        SELECT (vec_id * 2654435761) % 10 < 5 AS a,
               cast(unnest(generate_series(1, len(embedding))) as int)
                 AS pos,
               unnest(list_transform(embedding, v -> cast(v as double)))
                 AS x
        FROM embeddings),
      cells AS (
        SELECT pos,
               cast(sum(CASE WHEN a THEN 1 ELSE 0 END) as bigint) AS na,
               cast(sum(CASE WHEN a THEN 0 ELSE 1 END) as bigint) AS nb,
               cast(sum(CASE WHEN a THEN cast(${rNSql("x", 6)}
                 as decimal(30,6)) ELSE cast(0 as decimal(30,6)) END)
                 as double) AS sa,
               cast(sum(CASE WHEN a THEN cast(0 as decimal(30,6))
                 ELSE cast(${rNSql("x", 6)} as decimal(30,6)) END)
                 as double) AS sb,
               cast(sum(CASE WHEN a THEN cast(${rNSql("x * x", 12)}
                 as decimal(30,12)) ELSE cast(0 as decimal(30,12)) END)
                 as double) AS qa,
               cast(sum(CASE WHEN a THEN cast(0 as decimal(30,12))
                 ELSE cast(${rNSql("x * x", 12)} as decimal(30,12)) END)
                 as double) AS qb
        FROM ex GROUP BY pos)
      SELECT pos, na, nb,
             ${r6Sql("sa / cast(na as double)")} AS mean_a,
             ${r6Sql("sb / cast(nb as double)")} AS mean_b,
             ${r6Sql(z)} AS z_drift
      FROM cells
      ORDER BY abs(${r6Sql(z)}) DESC, pos
      LIMIT 10"""
    },
  )

  /** TOKEN FERTILITY per language — the tokenizer-budget planner's
    * first table: characters per whitespace token and tokens per
    * document by lang (a CJK-like slice shows immediately as a
    * fertility outlier). Exact int64 sums (chars from the n_chars
    * column, tokens from ONE split pass); the two ratios are single
    * IEEE divisions. */
  val qTokenFertility: GQuery = GQuery(
    "q_token_fertility",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.documents(spark, dir)
        .select($"lang", $"n_chars".cast("long").as("nc"),
          size(split($"text", " ")).cast("long").as("nt"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"nc").as("chars"),
          sum($"nt").as("tokens"))
      g.select($"lang", $"n_docs", $"chars", $"tokens",
          r6($"chars".cast("double") / $"tokens".cast("double"))
            .as("chars_per_token"),
          r6($"tokens".cast("double") / $"n_docs".cast("double"))
            .as("tokens_per_doc"))
        .orderBy($"lang")
    },
    Some(s"""
      WITH d AS (
        SELECT lang, cast(n_chars as bigint) AS nc,
               cast(len(string_split(text, ' ')) as bigint) AS nt
        FROM documents),
      g AS (
        SELECT lang, cast(count(*) as bigint) AS n_docs,
               cast(sum(nc) as bigint) AS chars,
               cast(sum(nt) as bigint) AS tokens
        FROM d GROUP BY lang)
      SELECT lang, n_docs, chars, tokens,
             ${r6Sql("cast(chars as double) / cast(tokens as double)")}
               AS chars_per_token,
             ${r6Sql("cast(tokens as double) / cast(n_docs as double)")}
               AS tokens_per_doc
      FROM g ORDER BY lang"""),
  )

  /** BIGRAM PERPLEXITY per document under the CORPUS bigram LM with
    * add-1 smoothing — q_lm_score's order-2 companion and the standard
    * fluency/outlier filter: ppl = exp(−Σ ln p̂(w₂|w₁) / n_bigrams),
    * p̂ = (c(w₁w₂)+1)/(c(w₁·)+V). Bigrams come from ONE positional
    * token pass and a per-doc lag window (partitioned by doc — never
    * global); the smoothed log-prob is evaluated once per BIGRAM TYPE
    * (exact int64 counts + the 1-row vocab broadcast) and re-joined to
    * instances by equi-join; per-doc sums are 9-dp staged. The top-10
    * most-surprising docs come off a (ppl, doc_id) total-ordered
    * limit. */
  val qBigramPpl: GQuery = GQuery(
    "q_bigram_ppl",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", $"lang", posexplode(split($"text", " ")))
        .select($"doc_id", $"lang", $"pos", $"col".as("term"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val bigrams = toks
        .withColumn("prev", lag($"term", 1).over(w))
        .filter($"prev".isNotNull)
        .select($"doc_id", $"lang", $"prev", $"term")
      val types = bigrams.groupBy($"prev", $"term")
        .agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum($"c12").over(Window.partitionBy($"prev")))
      val vocab = toks.select($"term").distinct()
        .agg(count(lit(1)).as("v"))
      val lp = types.crossJoin(broadcast(vocab))
        .select($"prev", $"term",
          log(($"c12" + 1).cast("double") / ($"c1" + $"v").cast("double"))
            .as("lp"))
      val scored = bigrams.join(lp, Seq("prev", "term"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(rN($"lp", 9).cast(org.apache.spark.sql.types
            .DecimalType(30, 9))).cast("double").as("slp"))
      val ppl = exp(-$"slp" / $"n_bigrams".cast("double"))
      scored.select($"doc_id", $"lang", $"n_bigrams", r6(ppl).as("ppl"))
        .orderBy(r6(ppl).desc, $"doc_id")
        .limit(10)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang,
               cast(unnest(generate_series(1,
                 len(string_split(text, ' ')))) as int) AS pos,
               unnest(string_split(text, ' ')) AS term
        FROM documents),
      bigrams AS (
        SELECT doc_id, lang, prev, term
        FROM (SELECT doc_id, lang, term,
                lag(term, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS prev
              FROM toks) t
        WHERE prev IS NOT NULL),
      types AS (
        SELECT prev, term, cast(count(*) as bigint) AS c12,
               cast(sum(count(*)) OVER (PARTITION BY prev) as bigint)
                 AS c1
        FROM bigrams GROUP BY prev, term),
      vocab AS (
        SELECT cast(count(DISTINCT term) as bigint) AS v FROM toks),
      lp AS (
        SELECT prev, term,
               ln(cast(c12 + 1 as double) / cast(c1 + v as double)) AS lp
        FROM types CROSS JOIN vocab),
      scored AS (
        SELECT doc_id, lang, cast(count(*) as bigint) AS n_bigrams,
               cast(sum(cast(${rNSql("lp", 9)} as decimal(30,9)))
                 as double) AS slp
        FROM bigrams JOIN lp USING (prev, term)
        GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_bigrams,
             ${r6Sql("exp(-slp / cast(n_bigrams as double))")} AS ppl
      FROM scored
      ORDER BY ${r6Sql("exp(-slp / cast(n_bigrams as double))")} DESC,
        doc_id
      LIMIT 10"""),
  )

  /** ONE ROUND OF WORD-LEVEL BPE: learn the top-4 most frequent adjacent
    * token pairs from the corpus (exact integer counts, ties broken
    * lexicographically), then apply the ranked merge list SEQUENTIALLY to
    * every document — each merge rewrites ` w1 w2 ` to ` w1_w2 ` via
    * plain (non-regex) all-occurrence left-to-right string replacement on
    * the space-padded text, exactly the same deterministic procedure in
    * both engines. This is the tokenizer-training inner loop made
    * relational: pair counting is one lag window per doc (combinable
    * groupBy), merge selection is a distributed top-k
    * (TakeOrderedAndProject — never a global sort), and application is a
    * 1-row broadcast of the merge table into a per-row codegen'd replace
    * chain. Output: the learned merges + per-source token counts
    * before/after and the merge rate — the "how much would this vocab
    * compress each source" table a tokenizer build reads. Non-vacuous by
    * construction: the top pair occurs ≥ its learned count, so
    * merged_occ > 0 globally (Round13Spec pins it, plus the overlap
    * semantics on a crafted run-doc). */
  val qBpeMerge: GQuery = GQuery(
    "q_bpe_merge",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"text")
      val toks = docs.select($"doc_id", posexplode(split($"text", " ")))
        .select($"doc_id", $"pos", $"col".as("term"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val cnts = toks.withColumn("prev", lag($"term", 1).over(w))
        .filter($"prev".isNotNull)
        .select(concat($"prev", lit(" "), $"term").as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
      // distributed top-k, THEN rank the 4 survivors (the window sees
      // 4 rows, not |vocab²|)
      val top = cnts.orderBy($"cnt".desc, $"pair").limit(4)
        .withColumn("rn", row_number().over(
          Window.orderBy($"cnt".desc, $"pair")))
      val merges = top.groupBy().agg(
        max(when($"rn" === 1, $"pair")).as("m1"),
        max(when($"rn" === 2, $"pair")).as("m2"),
        max(when($"rn" === 3, $"pair")).as("m3"),
        max(when($"rn" === 4, $"pair")).as("m4"))
      // sequential ranked application; a missing merge slot (tiny corpus)
      // coalesces to a pattern that cannot match
      def mexpr(inner: String, i: Int): String =
        s"replace($inner, concat(' ', coalesce(m$i, '~~none~~'), ' '), " +
          s"concat(' ', replace(coalesce(m$i, '~~none~~'), ' ', '_'), ' '))"
      val chain = (1 to 4).foldLeft("concat(' ', text, ' ')")(mexpr)
      val applied = docs.crossJoin(broadcast(merges))
        .select($"source", $"m1", $"m2", $"m3", $"m4",
          size(split($"text", " ")).cast("long").as("tb"),
          size(split(trim(expr(chain)), " ")).cast("long").as("ta"))
      applied
        .groupBy($"source", $"m1", $"m2", $"m3", $"m4")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tb").as("tok_before"), sum($"ta").as("tok_after"))
        .select($"source", $"m1", $"m2", $"m3", $"m4",
          $"n_docs", $"tok_before", $"tok_after",
          ($"tok_before" - $"tok_after").as("merged_occ"),
          r6(($"tok_before" - $"tok_after").cast("double") /
            $"tok_before".cast("double")).as("merge_rate"))
        .orderBy($"source")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               cast(unnest(generate_series(1,
                 len(string_split(text, ' ')))) as int) AS pos,
               unnest(string_split(text, ' ')) AS term
        FROM documents),
      cnts AS (
        SELECT prev || ' ' || term AS pair, count(*) AS cnt
        FROM (SELECT term,
                lag(term, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS prev
              FROM toks) t
        WHERE prev IS NOT NULL
        GROUP BY 1),
      top AS (SELECT pair, cnt FROM cnts ORDER BY cnt DESC, pair LIMIT 4),
      ranked AS (
        SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rn
        FROM top),
      m AS (
        SELECT max(CASE WHEN rn = 1 THEN pair END) AS m1,
               max(CASE WHEN rn = 2 THEN pair END) AS m2,
               max(CASE WHEN rn = 3 THEN pair END) AS m3,
               max(CASE WHEN rn = 4 THEN pair END) AS m4
        FROM ranked),
      applied AS (
        SELECT source, m1, m2, m3, m4,
               cast(len(string_split(text, ' ')) as bigint) AS tb,
               cast(len(string_split(trim(
                 ${(1 to 4).foldLeft("' ' || text || ' '")((inner, i) =>
                   s"replace($inner, ' ' || coalesce(m$i, '~~none~~') || ' ', " +
                     s"' ' || replace(coalesce(m$i, '~~none~~'), ' ', '_') || ' ')")}
               ), ' ')) as bigint) AS ta
        FROM documents CROSS JOIN m)
      SELECT source, m1, m2, m3, m4,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(tb) as bigint) AS tok_before,
             cast(sum(ta) as bigint) AS tok_after,
             cast(sum(tb) - sum(ta) as bigint) AS merged_occ,
             ${r6Sql("cast(sum(tb) - sum(ta) as double) / " +
               "cast(sum(tb) as double)")} AS merge_rate
      FROM applied
      GROUP BY source, m1, m2, m3, m4
      ORDER BY source"""),
  )

  /** MULTI-ROUND BPE learn→apply loop (round-13 verdict item 2): classic
    * BPE semantics — each round learns the SINGLE most frequent adjacent
    * pair of the CURRENT (already-merged) corpus, applies it, and
    * re-counts, so round N's winning pair can be a token that only exists
    * after round N-1's merge (Round14Spec pins exactly that on a crafted
    * corpus). Output: (doc_id, source, text, tb, m1..mR) — the rewritten
    * corpus with the ordered merge list as constant columns.
    *
    * Shapes, per round: pair counting is a PER-ROW adjacency transform
    * (map-side explode, no doc-keyed window shuffle — cheaper than
    * [[qBpeMerge]]'s lag form and identical counts), the winner is a
    * distributed top-1 (TakeOrderedAndProject) folded to one row by an
    * always-one-row aggregate (an empty corpus yields a null merge, which
    * coalesces to a pattern that cannot match), and application is a
    * 1-row broadcast into a codegen'd replace. localCheckpoint between
    * rounds is the q_lpa bounded-iteration idiom: round N's plan would
    * otherwise nest N replace chains × N crossJoins and re-run every
    * earlier round's count per consumer. */
  private[graft] def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    // r15 A/B: a repartition before this checkpoint (the one-core-scan
    // fix) measured WORSE (2.2 -> 3.1 s) — at 5k docs the per-round
    // 32-task scheduling outweighs the single-core map work. Left as is.
    var cur = docs
      .withColumn("tb", size(split(col("text"), " ")).cast("long"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      val pairs = cur
        .select(split(col("text"), " ").as("l"))
        .select(explode(when(size(col("l")) < 2,
            array().cast("array<string>"))
          .otherwise(expr("transform(sequence(1, size(l) - 1), " +
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))")))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      val top1 = pairs.orderBy(col("cnt").desc, col("pair")).limit(1)
        .groupBy().agg(max(col("pair")).as(s"m$r"))
      val rewritten = expr(
        s"trim(replace(concat(' ', text, ' '), " +
          s"concat(' ', coalesce(m$r, '~~none~~'), ' '), " +
          s"concat(' ', replace(coalesce(m$r, '~~none~~'), ' ', '_'), ' ')))")
      cur = cur.crossJoin(broadcast(top1))
        .withColumn("text_next", rewritten)
        .drop("text").withColumnRenamed("text_next", "text")
        .localCheckpoint()
    }
    cur
  }

  /** SQL twin of one [[bpeTrain]] round for the DuckDB oracle: from the
    * previous round's MATERIALIZED corpus CTE `rPrev` (columns
    * doc_id, source, tb, text, m1..m(r-1)), learn pN and emit rN. CTEs are
    * MATERIALIZED because each round is consumed by the next round's
    * tokenizer AND the learner (the round-12 CTE-inlining OOM gotcha). */
  private def bpeRoundSql(r: Int, prev: String): String = {
    val carried = (1 until r).map(i => s"m$i, ").mkString
    s"""p$r AS MATERIALIZED (
        SELECT max(pair) AS m$r FROM (
          SELECT l[i] || ' ' || l[i + 1] AS pair, count(*) AS cnt
          FROM (SELECT string_split(text, ' ') AS l FROM $prev) t$r,
               unnest(generate_series(1, cast(len(l) as int) - 1)) AS u(i)
          GROUP BY 1
          ORDER BY cnt DESC, pair LIMIT 1)),
      r$r AS MATERIALIZED (
        SELECT doc_id, source, tb, $carried m$r,
               trim(replace(' ' || text || ' ',
                 ' ' || coalesce(m$r, '~~none~~') || ' ',
                 ' ' || replace(coalesce(m$r, '~~none~~'), ' ', '_')
                   || ' ')) AS text
        FROM $prev CROSS JOIN p$r)"""
  }

  /** Declared multi-round BPE trainer: 4 learn→apply rounds of
    * [[bpeTrain]] over the full corpus, rolled up per source exactly like
    * [[qBpeMerge]] — but here the merge list is a usable ORDERED
    * vocabulary (each entry learned from the corpus as rewritten by the
    * previous entries), not 4 independent round-0 winners. Non-vacuous by
    * construction: round 1's top pair occurs ≥ its learned count, so
    * merged_occ > 0 globally. */
  val qBpeTrain: GQuery = GQuery(
    "q_bpe_train",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"text")
      val trained = bpeTrain(docs, 4)
      trained
        .groupBy($"source", $"m1", $"m2", $"m3", $"m4")
        .agg(count(lit(1)).as("n_docs"),
          sum($"tb").as("tok_before"),
          sum(size(split($"text", " ")).cast("long")).as("tok_after"))
        .select($"source", $"m1", $"m2", $"m3", $"m4",
          $"n_docs", $"tok_before", $"tok_after",
          ($"tok_before" - $"tok_after").as("merged_occ"),
          r6(($"tok_before" - $"tok_after").cast("double") /
            $"tok_before".cast("double")).as("merge_rate"))
        .orderBy($"source")
    },
    Some(s"""
      WITH r0 AS MATERIALIZED (
        SELECT doc_id, source, text,
               cast(len(string_split(text, ' ')) as bigint) AS tb
        FROM documents),
      ${(1 to 4).map(r => bpeRoundSql(r, s"r${r - 1}")).mkString(",\n      ")}
      SELECT source, m1, m2, m3, m4,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(tb) as bigint) AS tok_before,
             cast(sum(len(string_split(text, ' '))) as bigint) AS tok_after,
             cast(sum(tb) - sum(len(string_split(text, ' '))) as bigint)
               AS merged_occ,
             ${r6Sql("cast(sum(tb) - sum(len(string_split(text, ' '))) " +
               "as double) / cast(sum(tb) as double)")} AS merge_rate
      FROM r4
      GROUP BY source, m1, m2, m3, m4
      ORDER BY source"""),
  )

  /** TOP-K-PER-ROUND BPE trainer (round-14 verdict item 3: "a usable
    * tokenizer-training surface needs top-K merges per round") — each
    * round counts adjacent pairs ONCE, takes the top K by (count desc,
    * pair asc), and applies all K merges IN RANK ORDER inside a single
    * projection before the next recount. This is the standard batched
    * approximation of classic BPE (ranks 2..K apply to text already
    * rewritten by ranks 1..j−1 of the same round but were learned from
    * the round-start counts — a lower-ranked pair whose tokens were
    * consumed by a higher rank simply no-ops), and it is deterministic
    * and engine-identical: the space-padded replace chain preserves
    * conjunct order in both engines and the r14 run-merge semantics pin
    * applies per replace. R×K merges for R recount passes — the
    * vocabulary-scale path (R·K = 16 here vs bpeTrain's 4) without R×
    * more corpus passes.
    *
    * Shapes per round: one map-side adjacency explode + combinable
    * count, ONE distributed top-K (TakeOrderedAndProject of K rows — the
    * K-row window ranking runs on a single K-row partition), a 1-row
    * broadcast apply, localCheckpoint to bound plan depth (the q_lpa
    * iterative idiom). Output keeps every m{r}_{j} as a constant column;
    * an empty/exhausted pair table yields null merges that coalesce to
    * an unmatchable sentinel (the bpeTrain contract). */
  private[graft] def bpeTrainTopK(docs: DataFrame, rounds: Int,
      k: Int): DataFrame = {
    // r15 A/B: a repartition before this checkpoint (the one-core-scan
    // fix) measured WORSE (2.2 -> 3.1 s) — at 5k docs the per-round
    // 32-task scheduling outweighs the single-core map work. Left as is.
    var cur = docs
      .withColumn("tb", size(split(col("text"), " ")).cast("long"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      val pairs = cur
        .select(split(col("text"), " ").as("l"))
        .select(explode(when(size(col("l")) < 2,
            array().cast("array<string>"))
          .otherwise(expr("transform(sequence(1, size(l) - 1), " +
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))")))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      val aggs = (1 to k).map(j =>
        max(when(col("rk") === j, col("pair"))).as(s"m${r}_$j"))
      val topk = pairs.orderBy(col("cnt").desc, col("pair")).limit(k)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("pair"))))
        .groupBy().agg(aggs.head, aggs.tail: _*)
      val rewritten = (1 to k).foldLeft("concat(' ', text, ' ')") {
        (acc, j) =>
          s"replace($acc, concat(' ', coalesce(m${r}_$j, '~~none~~'), ' '), " +
            s"concat(' ', replace(coalesce(m${r}_$j, '~~none~~'), ' ', '_'), ' '))"
      }
      cur = cur.crossJoin(broadcast(topk))
        .withColumn("text_next", expr(s"trim($rewritten)"))
        .drop("text").withColumnRenamed("text_next", "text")
        .localCheckpoint()
    }
    cur
  }

  /** SQL twin of one [[bpeTrainTopK]] round: learn the top-K ranked
    * pairs of `prev` as one MATERIALIZED 1-row CTE, apply them in rank
    * order via a nested replace chain. */
  private def bpeTopkRoundSql(r: Int, prev: String, k: Int,
      priorRounds: Int): String = {
    val mcols = (1 to k).map(j =>
      s"max(CASE WHEN rk = $j THEN pair END) AS m${r}_$j").mkString(",\n          ")
    val carried = (1 to priorRounds)
      .flatMap(i => (1 to k).map(j => s"m${i}_$j, ")).mkString
    val rewritten = (1 to k).foldLeft("' ' || text || ' '") { (acc, j) =>
      s"replace($acc, ' ' || coalesce(m${r}_$j, '~~none~~') || ' ', " +
        s"' ' || replace(coalesce(m${r}_$j, '~~none~~'), ' ', '_') || ' ')"
    }
    s"""p$r AS MATERIALIZED (
        SELECT $mcols
        FROM (
          SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
          FROM (
            SELECT l[i] || ' ' || l[i + 1] AS pair, count(*) AS cnt
            FROM (SELECT string_split(text, ' ') AS l FROM $prev) t$r,
                 unnest(generate_series(1, cast(len(l) as int) - 1)) AS u(i)
            GROUP BY 1) c$r) rt$r
        WHERE rk <= $k),
      r$r AS MATERIALIZED (
        SELECT doc_id, source, tb, $carried ${(1 to k).map(j => s"m${r}_$j").mkString(", ")},
               trim($rewritten) AS text
        FROM $prev CROSS JOIN p$r)"""
  }

  /** Declared top-K BPE trainer: 4 rounds × top-4 merges = a 16-entry
    * ordered vocabulary from 4 recount passes, rolled up per source like
    * [[qBpeTrain]], with each round's merge list concatenated
    * ('|'-joined in rank order; nulls drop out of concat_ws identically
    * in both engines). Non-vacuous by construction — round 1 rank 1
    * occurs ≥ its learned count, so merged_occ > 0. */
  val qBpeTrainTopk: GQuery = {
    val rounds = 4
    val k = 4
    GQuery(
      "q_bpe_train_topk",
      (spark, dir) => {
        import spark.implicits._
        val docs = Tables.documents(spark, dir)
          .select($"doc_id", $"source", $"text")
        val trained = bpeTrainTopK(docs, rounds, k)
        val vcols = (1 to rounds).map(r => concat_ws("|",
          (1 to k).map(j => col(s"m${r}_$j")): _*).as(s"v$r"))
        trained
          .select(Seq(col("source"), col("tb"), col("text")) ++ vcols: _*)
          .groupBy($"source", $"v1", $"v2", $"v3", $"v4")
          .agg(count(lit(1)).as("n_docs"),
            sum($"tb").as("tok_before"),
            sum(size(split($"text", " ")).cast("long")).as("tok_after"))
          .select($"source", $"v1", $"v2", $"v3", $"v4",
            $"n_docs", $"tok_before", $"tok_after",
            ($"tok_before" - $"tok_after").as("merged_occ"),
            r6(($"tok_before" - $"tok_after").cast("double") /
              $"tok_before".cast("double")).as("merge_rate"))
          .orderBy($"source")
      },
      Some {
        val vdefs = (1 to rounds).map(r => "concat_ws('|', " +
          (1 to k).map(j => s"m${r}_$j").mkString(", ") + s") AS v$r")
          .mkString(",\n             ")
        s"""
      WITH r0 AS MATERIALIZED (
        SELECT doc_id, source, text,
               cast(len(string_split(text, ' ')) as bigint) AS tb
        FROM documents),
      ${(1 to rounds).map(r =>
          bpeTopkRoundSql(r, s"r${r - 1}", k, r - 1)).mkString(",\n      ")}
      , vz AS (
        SELECT source, tb, text,
             $vdefs
        FROM r$rounds)
      SELECT source, v1, v2, v3, v4,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(tb) as bigint) AS tok_before,
             cast(sum(len(string_split(text, ' '))) as bigint) AS tok_after,
             cast(sum(tb) - sum(len(string_split(text, ' '))) as bigint)
               AS merged_occ,
             ${r6Sql("cast(sum(tb) - sum(len(string_split(text, ' '))) " +
                 "as double) / cast(sum(tb) as double)")} AS merge_rate
      FROM vz
      GROUP BY source, v1, v2, v3, v4
      ORDER BY source"""
      },
    )
  }

  /** PCA TOP COMPONENT of the embedding table by POWER ITERATION — the
    * dimensionality screen (which direction carries the corpus's
    * variance, and how much) expressed as pure relational algebra, fully
    * oracle-checked. Three stages, each the scale-honest shape:
    *
    * 1. COVARIANCE as outer-product aggregation: explode embeddings to
    *    (vec_id, i, x) rows, self-equi-join on vec_id, ONE combinable
    *    groupBy over (i, j) — 64×64 = 4,096 cells no matter how many
    *    vectors; the shuffle carries dim²-keyed partial sums, never a
    *    gram matrix per executor. Centering happens in the moment
    *    formula ((P − SᵢSⱼ/n)/n), so rows are never re-read or
    *    re-centered. This is the covariance pass a 100 TB embedding
    *    store runs (at that scale the explode feeds from the columnar
    *    vector file directly).
    * 2. POWER ITERATION (8 fixed rounds, the q_markov template): each
    *    round is one equi-join of the 4,096-cell matrix with the 64-row
    *    vector + one groupBy, then an unpartitioned-window L2 normalize
    *    over 64 rows — constant-size per round; the matrix is
    *    localCheckpoint'd once for its 8 consumers. A fixed round count
    *    is computed identically by both engines (the q_conncomp rule).
    * 3. Eigenvalue = the last pre-normalization norm ‖Cv‖ (v is unit).
    *
    * Cross-engine float determinism: every staged term (x products,
    * c·v products, w²) is IEEE double of magnitude ≪ 4.5e3, so the
    * decimal(30,12) casts round identically in both engines (the r8
    * staging-magnitude bound); all sums accumulate in exact decimal
    * (shuffle-order-free); v₀ = 0.125 exactly (dyadic); per-round v is
    * rN(·,12)-clipped so drift cannot build across 8 rounds. The
    * component's SIGN is a pure function of v₀ and the data — both
    * engines compute the identical sequence.
    *
    * PLANT (the embeddings-are-noise house rule): the organic vectors'
    * spectrum is flat (top two eigenvalues 0.0209/0.0206 at sf0.1 —
    * measured; no iteration count converges that), so 200 ±d vectors
    * along the fixed dyadic direction dᵢ = (i mod 4) − 1.5 are unioned
    * in at vec_id ≥ 10⁶. Signs alternate, so the planted mass is
    * mean-zero and contributes variance ~7.3 along d — a dominant,
    * well-separated component the 8 rounds provably recover
    * (Round15Spec pins |cos(v, d)| > 0.999 and the eigenvalue scale);
    * every value is an exact dyadic, identical in both engines. */
  private def mkPcaPower(name: String, expand: Int, plantN: Int): GQuery = {
    val iters = 8
    val dim = 64
    GQuery(
      name,
      (spark, dir) => {
        import spark.implicits._
        val planted = spark.range(plantN.toLong)
          .select(($"id" + 1000000L).as("vec_id"),
            expr("transform(sequence(1, 64), i -> " +
              "(case when id % 2 = 0 then 1.0d else -1.0d end) * " +
              "(cast(i % 4 as double) - 1.5d))").as("embedding"))
        // ×N twin mechanism: the ScaleOps.xvecs replica generator (id
        // shifted k·100000 < the 10⁶ plant floor; +k·0.001 per coordinate
        // so replicas aren't exact duplicates), and the plant count
        // scales WITH the corpus so the planted eigenvalue stays at the
        // same magnitude (λ ≈ plantN/n · 80) across twins.
        val emb = ScaleOps.xvecs(
            Tables.embeddings(spark, dir).select($"vec_id", $"embedding"),
            expand)
          .unionByName(planted)
        // r15 rewrite (guide §2.4): the r15-build form shipped the
        // exploded rows through a repartition-by-vec_id + checkpoint and
        // a co-partitioned self-join to expand the n·64² pair rows. The
        // same 4,096-cell covariance aggregate can be fed MAP-ONLY: a
        // double posexplode of each embedding generates the pair terms
        // in place — no exchange, no checkpoint, no per-partition sort;
        // the only shuffle left is the combinable groupBy's 4,096 cells
        // per partition. Term values (xi·xj as double → decimal(30,12))
        // are identical and decimal sums are order-free, so the matrix
        // is bit-identical. The round-robin spread is cheap (|emb| rows).
        val xRows = Parallel.spread(emb)
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "xf")))
          .select($"vec_id", ($"pos" + 1).cast("int").as("i"),
            $"xf".cast("double").as("x"))
        val nRow = emb.agg(count(lit(1)).cast("double").as("nn"))
        val s = xRows.groupBy($"i")
          .agg(sum($"x".cast("decimal(30,12)")).cast("double").as("s"))
        val p = Parallel.spread(emb)
          .select(posexplode($"embedding").as(Seq("pa", "xa")), $"embedding")
          .select(($"pa" + 1).cast("int").as("i"),
            $"xa".cast("double").as("xi"),
            posexplode($"embedding").as(Seq("pb", "xb")))
          .select($"i", ($"pb" + 1).cast("int").as("j"),
            ($"xi" * $"xb".cast("double")).as("t"))
          .groupBy($"i", $"j")
          .agg(sum($"t".cast("decimal(30,12)")).cast("double").as("p"))
        val c = p
          .join(s.select($"i", $"s".as("si")), "i")
          .join(s.select($"i".as("j"), $"s".as("sj")), "j")
          .crossJoin(broadcast(nRow))
          .select($"i", $"j",
            rN(($"p" - $"si" * $"sj" / $"nn") / $"nn", 12).as("c"))
          .localCheckpoint() // 4,096 cells, 8 iteration consumers
        var v = spark.range(dim)
          .select(($"id" + 1).cast("int").as("j"), lit(0.125).as("v"))
        val wAll = Window.partitionBy()
        for (_ <- 1 to iters) {
          val w = c.join(v.select($"j", $"v"), "j")
            .groupBy($"i")
            .agg(sum(rN($"c" * $"v", 12).cast("decimal(30,12)"))
              .cast("double").as("w"))
          v = w
            .select($"i", $"w",
              sqrt(sum(rN($"w" * $"w", 12).cast("decimal(30,12)"))
                .over(wAll).cast("double")).as("nrm"))
            .select($"i".as("j"), rN($"w" / $"nrm", 12).as("v"), $"nrm")
          // r15 A/B (PerfProbe): per-round 64-row checkpointing (the
          // kmeansCore cadence) measured SLOWER here — 2.7 → 4.3 s —
          // the 8 eager checkpoint jobs cost more than the nested
          // broadcast chain they flatten (unlike kmeans, whose rounds
          // carry corpus-sized joins). Deliberately left unchained.
        }
        v.select($"j".cast("int").as("dim"), r6($"v").as("loading"),
            r6($"nrm").as("eigenvalue"))
          .orderBy($"dim")
      },
      Some {
        val steps = (1 to iters).map { k =>
          s"""w$k AS MATERIALIZED (
             |  SELECT c.i AS i,
             |         cast(sum(cast(${rNSql("c.c * v.v", 12)}
             |           as decimal(30,12))) as double) AS w
             |  FROM c JOIN v${k - 1} v ON c.j = v.j
             |  GROUP BY c.i),
             |v$k AS MATERIALIZED (
             |  SELECT i AS j, ${rNSql("w / nrm", 12)} AS v, nrm
             |  FROM (SELECT i, w,
             |          sqrt(cast(sum(cast(${rNSql("w * w", 12)}
             |            as decimal(30,12))) OVER () as double)) AS nrm
             |        FROM w$k) t$k)""".stripMargin
        }.mkString(",\n      ")
        s"""
      WITH planted AS (
        SELECT 1000000 + k AS vec_id,
               list_transform(generate_series(1, 64), i ->
                 (CASE WHEN k % 2 = 0 THEN cast(1.0 as double)
                       ELSE cast(-1.0 as double) END) *
                 (cast(i % 4 as double) - cast(1.5 as double)))
                 AS embedding
        FROM unnest(generate_series(0, ${plantN - 1})) AS xk(k)),
      emb AS (
        SELECT vec_id, list_transform(embedding, e -> cast(e as double))
                 AS embedding FROM (${ScaleOps.xvecsSql(1000000L, expand)}) xbase
        UNION ALL SELECT vec_id, embedding FROM planted),
      x AS MATERIALIZED (
        SELECT vec_id,
               cast(unnest(generate_series(1, len(embedding))) as int) AS i,
               unnest(embedding) AS x
        FROM emb),
      nn AS (SELECT cast(count(*) as double) AS nn FROM emb),
      s AS MATERIALIZED (
        SELECT i, cast(sum(cast(x as decimal(30,12))) as double) AS s
        FROM x GROUP BY i),
      p AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j,
               cast(sum(cast(a.x * b.x as decimal(30,12))) as double) AS p
        FROM x a JOIN x b ON a.vec_id = b.vec_id
        GROUP BY 1, 2),
      c AS MATERIALIZED (
        SELECT p.i, p.j,
               ${rNSql("(p - si.s * sj.s / (SELECT nn FROM nn)) / " +
                 "(SELECT nn FROM nn)", 12)} AS c
        FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j),
      v0 AS (SELECT cast(unnest(generate_series(1, $dim)) as int) AS j,
                    cast(0.125 as double) AS v),
      $steps
      SELECT cast(j as int) AS dim, ${r6Sql("v")} AS loading,
             ${r6Sql("nrm")} AS eigenvalue
      FROM v$iters ORDER BY dim"""
      },
    )
  }

  val qPcaPower: GQuery = mkPcaPower("q_pca_power", 1, 200)

  /** ×4 scale twin: the covariance pass is the only corpus-proportional
    * stage (pair rows = n·dim², 36M at sf0.1×4 vs 9M declared); the
    * iteration cost is dim-bound and identical. plantN scales with the
    * corpus so the recovered eigenvalue stays ~22.9 — same signal, 4×
    * the data. */
  val qPcaPowerXl: GQuery = mkPcaPower("q_pca_power_xl", 4, 800)

  /** TOP-2 PRINCIPAL COMPONENTS: power iteration + Hotelling DEFLATION,
    * fully oracle-checked — the multi-component extension of
    * [[mkPcaPower]]. Same covariance pass (4,096 cells regardless of
    * corpus size), then 8 power rounds → (v₁, λ₁), then one relational
    * deflation C₂ = C − λ₁·v₁v₁ᵀ (two 64-row broadcast joins onto the
    * 4,096-cell matrix — constant-size, corpus-independent), then 8 more
    * rounds on C₂ → (v₂, λ₂). Every deflation term |λ₁·v₁ᵢ·v₁ⱼ| ≤ λ₁ ≪
    * 2³³ keeps the rN(·,12) staging contract; v₁ is localCheckpoint'd
    * (3 consumers: both deflation sides + output).
    *
    * PLANT: two orthogonal dyadic families (the flat organic spectrum
    * cannot converge either component): 200 ±d₁ (d₁ᵢ = (i mod 4) − 1.5,
    * the [[qPcaPower]] direction) at vec_id ≥ 10⁶ and 100 ±d₂ (d₂ = 1⃗,
    * ‖d₂‖² = 64; d₁·d₂ = 0 per 4-cycle) at vec_id ≥ 2·10⁶ — spectrum
    * λ₁ ≈ 20 vs λ₂ ≈ 8 at sf0.001, a 2.5× gap so 8 rounds converge both
    * (Round15Spec pins |cos| to each direction and both eigenvalue
    * scales). */
  private val pcaIters = 8
  private val pcaDim = 64

  /** Shared top-2 pipeline for q_pca_top2 / q_pca_outliers — one
    * definition of the covariance + both power chains so the component
    * query and the residual scorer can never diverge. Returns
    * (x exploded rows, nRow, per-dim sums s, v₁ with λ₁, v₂ with λ₂).
    * `outliers = true` additionally plants 5 large vectors along the
    * dyadic 4-cycle p = (1,1,−1,−1) — orthogonal to BOTH d₁ and d₂ (so
    * they inflate neither component; their p-variance ≈ 3.8 stays below
    * λ₂ ≈ 8) — at vec_id ≥ 3·10⁶, magnitudes (2 + k/2)·p, the planted
    * ground truth for the residual top-k. */
  private def pcaTop2Core(spark: org.apache.spark.sql.SparkSession,
      dir: String, outliers: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val iters = pcaIters
    val dim = pcaDim
    val planted1 = spark.range(200)
      .select(($"id" + 1000000L).as("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "(case when id % 2 = 0 then 1.0d else -1.0d end) * " +
          "(cast(i % 4 as double) - 1.5d))").as("embedding"))
    val planted2 = spark.range(100)
      .select(($"id" + 2000000L).as("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "(case when id % 2 = 0 then 1.0d else -1.0d end))")
          .as("embedding"))
    val emb0 = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
      .unionByName(planted1).unionByName(planted2)
    val emb = if (!outliers) emb0 else emb0.unionByName(
      spark.range(5)
        .select(($"id" + 3000000L).as("vec_id"),
          expr("transform(sequence(1, 64), i -> " +
            "(2.0d + cast(id as double) * 0.5d) * " +
            "(case when i % 4 = 1 or i % 4 = 2 then 1.0d " +
            "else -1.0d end))").as("embedding")))
    // r15 rewrite — see mkPcaPower: the covariance pair terms are
    // generated map-only by a double posexplode (no repartition-by-key,
    // no checkpoint, no self-join); x stays as the plain exploded rows
    // for the first moments and the outlier scoring pass (both
    // combinable aggs over map-only scans).
    val x = Parallel.spread(emb)
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "xf")))
          .select($"vec_id", ($"pos" + 1).cast("int").as("i"),
            $"xf".cast("double").as("x"))
        val nRow = emb.agg(count(lit(1)).cast("double").as("nn"))
        val s = x.groupBy($"i")
          .agg(sum($"x".cast("decimal(30,12)")).cast("double").as("s"))
        val p = Parallel.spread(emb)
          .select(posexplode($"embedding").as(Seq("pa", "xa")), $"embedding")
          .select(($"pa" + 1).cast("int").as("i"),
            $"xa".cast("double").as("xi"),
            posexplode($"embedding").as(Seq("pb", "xb")))
          .select($"i", ($"pb" + 1).cast("int").as("j"),
            ($"xi" * $"xb".cast("double")).as("t"))
          .groupBy($"i", $"j")
          .agg(sum($"t".cast("decimal(30,12)")).cast("double").as("p"))
        val c = p
          .join(s.select($"i", $"s".as("si")), "i")
          .join(s.select($"i".as("j"), $"s".as("sj")), "j")
          .crossJoin(broadcast(nRow))
          .select($"i", $"j",
            rN(($"p" - $"si" * $"sj" / $"nn") / $"nn", 12).as("c"))
          .localCheckpoint() // 4,096 cells; 8 consumers + deflation
        val wAll = Window.partitionBy()
        def powerIter(cm: DataFrame): DataFrame = {
          // v₀ must overlap BOTH planted directions: the uniform 0.125
          // start is exactly d₂ and exactly ⊥ d₁ (Σd₁ᵢ = 0), which
          // would stall component 1 on the organic leak alone (measured
          // cos(v₁,d₁) = 0.06 after 8 rounds). The parity-staggered
          // dyadic (0.0625/0.125 alternating) has overlap −1.0 with d₁
          // and 6.0 with d₂ — the λ₁/λ₂ = 2.5 per-round ratio then
          // converges v₁ → d₁ in 8 rounds (Round15Spec pins it).
          var v = spark.range(dim)
            .select(($"id" + 1).cast("int").as("j"),
              expr("cast(0.0625 as double) * " +
                "cast(1 + (id + 1) % 2 as double)").as("v"))
          for (_ <- 1 to iters) {
            val w = cm.join(v.select($"j", $"v"), "j")
              .groupBy($"i")
              .agg(sum(rN($"c" * $"v", 12).cast("decimal(30,12)"))
                .cast("double").as("w"))
            v = w
              .select($"i", $"w",
                sqrt(sum(rN($"w" * $"w", 12).cast("decimal(30,12)"))
                  .over(wAll).cast("double")).as("nrm"))
              .select($"i".as("j"), rN($"w" / $"nrm", 12).as("v"), $"nrm")
            // r15 A/B: per-round checkpoint measured SLOWER (see
            // mkPcaPower note) — left unchained on purpose.
          }
          v
        }
        val v1 = powerIter(c).localCheckpoint() // 64 rows, 3 consumers
        val c2 = c
          .join(broadcast(v1.select($"j".as("i"), $"v".as("vi"),
            $"nrm".as("l1"))), "i")
          .join(broadcast(v1.select($"j", $"v".as("vj"))), "j")
          .select($"i", $"j", rN($"c" - $"l1" * $"vi" * $"vj", 12).as("c"))
          .localCheckpoint() // deflated matrix; 8 consumers
        val v2 = powerIter(c2)
    (x, nRow, s, v1, v2)
  }

  /** DuckDB twin of [[pcaTop2Core]]: the shared WITH-clause body through
    * both converged components v${pcaIters}_1 / v${pcaIters}_2. */
  private def pcaTop2Ctes(outliers: Boolean): String = {
    val iters = pcaIters
    val dim = pcaDim
        def steps(mat: String, sfx: String): String =
          (1 to iters).map { k =>
            s"""w$k$sfx AS MATERIALIZED (
               |  SELECT c.i AS i,
               |         cast(sum(cast(${rNSql("c.c * v.v", 12)}
               |           as decimal(30,12))) as double) AS w
               |  FROM $mat c JOIN v${k - 1}$sfx v ON c.j = v.j
               |  GROUP BY c.i),
               |v$k$sfx AS MATERIALIZED (
               |  SELECT i AS j, ${rNSql("w / nrm", 12)} AS v, nrm
               |  FROM (SELECT i, w,
               |          sqrt(cast(sum(cast(${rNSql("w * w", 12)}
               |            as decimal(30,12))) OVER () as double)) AS nrm
               |        FROM w$k$sfx) t$k$sfx)""".stripMargin
          }.mkString(",\n      ")
        val v0 = s"""SELECT j, cast(0.0625 as double) *
                       cast(1 + j % 2 as double) AS v
                     FROM (SELECT cast(unnest(generate_series(1, $dim))
                       as int) AS j) vj"""
        val outlierLeg = if (!outliers) "" else """
        UNION ALL SELECT vec_id, embedding FROM planted3"""
        val outlierCte = if (!outliers) "" else """
      planted3 AS (
        SELECT 3000000 + k AS vec_id,
               list_transform(generate_series(1, 64), i ->
                 (cast(2.0 as double) + cast(k as double) *
                  cast(0.5 as double)) *
                 (CASE WHEN i % 4 = 1 OR i % 4 = 2
                       THEN cast(1.0 as double)
                       ELSE cast(-1.0 as double) END)) AS embedding
        FROM unnest(generate_series(0, 4)) AS xk(k)),"""
        s"""planted1 AS (
        SELECT 1000000 + k AS vec_id,
               list_transform(generate_series(1, 64), i ->
                 (CASE WHEN k % 2 = 0 THEN cast(1.0 as double)
                       ELSE cast(-1.0 as double) END) *
                 (cast(i % 4 as double) - cast(1.5 as double)))
                 AS embedding
        FROM unnest(generate_series(0, 199)) AS xk(k)),
      planted2 AS (
        SELECT 2000000 + k AS vec_id,
               list_transform(generate_series(1, 64), i ->
                 CASE WHEN k % 2 = 0 THEN cast(1.0 as double)
                      ELSE cast(-1.0 as double) END) AS embedding
        FROM unnest(generate_series(0, 99)) AS xk(k)),$outlierCte
      emb AS (
        SELECT vec_id, list_transform(embedding, e -> cast(e as double))
                 AS embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM planted1
        UNION ALL SELECT vec_id, embedding FROM planted2$outlierLeg),
      x AS MATERIALIZED (
        SELECT vec_id,
               cast(unnest(generate_series(1, len(embedding))) as int) AS i,
               unnest(embedding) AS x
        FROM emb),
      nn AS (SELECT cast(count(*) as double) AS nn FROM emb),
      s AS MATERIALIZED (
        SELECT i, cast(sum(cast(x as decimal(30,12))) as double) AS s
        FROM x GROUP BY i),
      p AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j,
               cast(sum(cast(a.x * b.x as decimal(30,12))) as double) AS p
        FROM x a JOIN x b ON a.vec_id = b.vec_id
        GROUP BY 1, 2),
      c AS MATERIALIZED (
        SELECT p.i, p.j,
               ${rNSql("(p - si.s * sj.s / (SELECT nn FROM nn)) / " +
                 "(SELECT nn FROM nn)", 12)} AS c
        FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j),
      v0_1 AS ($v0),
      ${steps("c", "_1")},
      defl AS MATERIALIZED (
        SELECT c.i, c.j,
               ${rNSql("c.c - vi.nrm * vi.v * vj.v", 12)} AS c
        FROM c JOIN v${iters}_1 vi ON vi.j = c.i
               JOIN v${iters}_1 vj ON vj.j = c.j),
      v0_2 AS ($v0),
      ${steps("defl", "_2")}"""
  }

  /** See [[pcaTop2Core]] for the algorithm/determinism/plant notes. */
  val qPcaTop2: GQuery = GQuery(
    "q_pca_top2",
    (spark, dir) => {
      import spark.implicits._
      val (_, _, _, v1, v2) = pcaTop2Core(spark, dir, outliers = false)
      def shape(v: DataFrame, comp: Int): DataFrame =
        v.select(lit(comp).as("component"), $"j".cast("int").as("dim"),
          r6($"v").as("loading"), r6($"nrm").as("eigenvalue"))
      shape(v1, 1).unionByName(shape(v2, 2))
        .orderBy($"component", $"dim")
    },
    Some(s"""
      WITH ${pcaTop2Ctes(outliers = false)}
      SELECT 1 AS component, cast(j as int) AS dim, ${r6Sql("v")}
               AS loading, ${r6Sql("nrm")} AS eigenvalue
      FROM v${pcaIters}_1
      UNION ALL
      SELECT 2 AS component, cast(j as int) AS dim, ${r6Sql("v")}
               AS loading, ${r6Sql("nrm")} AS eigenvalue
      FROM v${pcaIters}_2
      ORDER BY component, dim"""),
  )

  /** PCA-RESIDUAL OUTLIERS — embedding hygiene by reconstruction error:
    * residual² = ‖x−μ‖² − ((x−μ)·v₁)² − ((x−μ)·v₂)², top 20 by residual
    * (vec_id tiebreak). The scale shape: μ, v₁, v₂ are three 64-row
    * broadcasts onto the exploded rows and ONE combinable groupBy per
    * vector — scoring is a single corpus-linear pass, the form that
    * screens a 100 TB embedding store after the constant-size spectral
    * phase. Every staged term ((x−μ)², (x−μ)v) is < 300 ≪ 2³³ (r8
    * bound). Ground truth: the 5 planted p-direction vectors
    * ([[pcaTop2Core]], vec_id ≥ 3·10⁶) are ⊥ both components, so their
    * residuals ≈ ‖x‖² ∈ [256, 1024] dominate the ~1.0 organic floor —
    * Round15Spec pins the top-5 exactly. */
  val qPcaOutliers: GQuery = GQuery(
    "q_pca_outliers",
    (spark, dir) => {
      import spark.implicits._
      val (x, nRow, s, v1, v2) = pcaTop2Core(spark, dir, outliers = true)
      val mu = s.crossJoin(broadcast(nRow))
        .select($"i", rN($"s" / $"nn", 12).as("mu"))
      x.join(broadcast(mu), "i")
        .join(broadcast(v1.select($"j".as("i"), $"v".as("l1"))), "i")
        .join(broadcast(v2.select($"j".as("i"), $"v".as("l2"))), "i")
        .groupBy($"vec_id")
        .agg(
          sum(rN(($"x" - $"mu") * ($"x" - $"mu"), 12)
            .cast("decimal(30,12)")).cast("double").as("n2"),
          sum(rN(($"x" - $"mu") * $"l1", 12)
            .cast("decimal(30,12)")).cast("double").as("t1"),
          sum(rN(($"x" - $"mu") * $"l2", 12)
            .cast("decimal(30,12)")).cast("double").as("t2"))
        .select($"vec_id",
          r6($"n2" - $"t1" * $"t1" - $"t2" * $"t2").as("resid"))
        .orderBy($"resid".desc, $"vec_id").limit(20)
    },
    Some(s"""
      WITH ${pcaTop2Ctes(outliers = true)},
      mu AS MATERIALIZED (
        SELECT s.i, ${rNSql("s.s / (SELECT nn FROM nn)", 12)} AS mu
        FROM s),
      scored AS MATERIALIZED (
        SELECT x.vec_id,
               cast(sum(cast(${rNSql("(x.x - mu.mu) * (x.x - mu.mu)", 12)}
                 as decimal(30,12))) as double) AS n2,
               cast(sum(cast(${rNSql("(x.x - mu.mu) * v1.v", 12)}
                 as decimal(30,12))) as double) AS t1,
               cast(sum(cast(${rNSql("(x.x - mu.mu) * v2.v", 12)}
                 as decimal(30,12))) as double) AS t2
        FROM x
        JOIN mu ON mu.i = x.i
        JOIN v${pcaIters}_1 v1 ON v1.j = x.i
        JOIN v${pcaIters}_2 v2 ON v2.j = x.i
        GROUP BY x.vec_id)
      SELECT vec_id, ${r6Sql("n2 - t1 * t1 - t2 * t2")} AS resid
      FROM scored
      ORDER BY resid DESC, vec_id LIMIT 20"""),
  )

  // ---------------------------------------------------------------------
  // K-MEANS (Lloyd's algorithm) — the other half of the classical
  // unsupervised pair next to qPcaPower, as pure relational algebra.

  private val kmK = 4
  private val kmRounds = 5
  private val kmDim = 64

  /** Shared Lloyd's-iteration core for q_kmeans_lloyd / q_silhouette —
    * one definition so the two declared queries (and their oracles, built
    * from [[kmeansOracleCtes]]) can never diverge on the iteration.
    * Returns (exploded rows, final centroids, final assignment).
    *
    * Scale-honest shapes, per stage:
    *  - ASSIGNMENT: one broadcast equi-join of the exploded (vec_id, i, x)
    *    rows with the k·dim = 256-cell centroid table + one combinable
    *    groupBy over (vec_id, g) — the shuffle carries k rows per vector,
    *    never a pairwise matrix. Argmin is the keep-first survivorship
    *    idiom (window min + equality filter + min(g) tiebreak), NOT a
    *    struct min (cross-engine struct-comparison gotcha, r13).
    *  - UPDATE: one combinable groupBy over (g, i) — 256 cells out no
    *    matter the corpus size. This is the Lloyd pass a 100 TB embedding
    *    store runs: centroids broadcast out, partial sums combine
    *    map-side, nothing corpus-sized ever crosses the wire twice.
    *  - Fixed round count (the q_conncomp rule: both engines compute the
    *    identical sequence); the 256-row centroid table is
    *    localCheckpoint'd per round (the q_lpa cadence) so plan depth
    *    stays bounded; the exploded rows are checkpointed ONCE and
    *    repartitioned on vec_id first (single-row-group fixture gotcha;
    *    with AQE on the checkpoint drops the vec_id partitioning, so the
    *    2·R consumers still shuffle it, see Parallel's doc).
    *
    * Cross-engine float determinism (the qPcaPower contract): every
    * staged term ((x−c)², x) is an IEEE double of magnitude < 25 ≪ 2³³ so
    * decimal(30,12) casts round identically; sums accumulate in exact
    * decimal (shuffle-order-free); centroid means are rN(·,12)-clipped per
    * round so drift cannot build; the argmin equality filter compares
    * doubles both engines computed identically, with min(g) breaking exact
    * ties. Init centroids are exact dyadics (unit spikes on each residue
    * class), so round 1 is deterministic too.
    *
    * PLANT (embeddings-are-noise house rule): 60 vectors per cluster
    * g ∈ 0..3 at vec_id ≥ 10⁶, centered at 2·[(i−1) mod 4 = g] with a
    * ±0.25 alternating-parity perturbation — inter-center distance²
    * = 128 ≫ perturbation norm² = 4, so Lloyd provably separates them;
    * every coordinate is an exact dyadic. Organic vectors join whichever
    * centroid is nearest — deterministically, the same in both engines.
    * Round15Spec pins centroid recovery and plant purity. */
  private def kmeansCore(spark: org.apache.spark.sql.SparkSession,
      dir: String, expand: Int): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    // plant count scales WITH the ×N corpus (the mkPcaPower rule) so the
    // planted-cluster signal survives the organic dilution at every twin.
    val planted = spark.range(60L * kmK * expand)
      .select(($"id" + 1000000L).as("vec_id"),
        // perturbation parity uses id div kmK, NOT id: cluster g's member
        // ids are all ≡ g (mod kmK) hence share id-parity — an (id + i)
        // parity term would give every member of a cluster the IDENTICAL
        // vector (a degenerate single-point cluster; silhouette a = 0).
        // div-kmK parity alternates within each cluster: 30 members at
        // center + 0.25·t, 30 at center − 0.25·t, mean exactly center.
        expr(s"transform(sequence(1, $kmDim), i -> " +
          s"(case when (i - 1) % $kmK = id % $kmK then 2.0d else 0.0d end) + " +
          s"0.25d * (case when ((id div $kmK) + i) % 2 = 0 " +
          "then 1.0d else -1.0d end))")
          .as("embedding"))
    val emb = ScaleOps.xvecs(
        Tables.embeddings(spark, dir).select($"vec_id", $"embedding"),
        expand)
      .unionByName(planted)
    val x = Parallel.spread(emb, $"vec_id")
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "xf")))
      .select($"vec_id", ($"pos" + 1).cast("int").as("i"),
        $"xf".cast("double").as("x"))
      .localCheckpoint() // consumed by every round's assignment + update
    var cent = spark.range(kmK.toLong * kmDim).select(
      expr(s"cast(id div $kmDim as int)").as("g"),
      expr(s"cast(id % $kmDim + 1 as int)").as("i"),
      expr(s"case when (id % $kmDim) % $kmK = id div $kmDim " +
        "then 1.0d else 0.0d end").as("c"))
    var asg: DataFrame = null
    for (_ <- 1 to kmRounds) {
      val d = x.join(broadcast(cent), "i")
        .groupBy($"vec_id", $"g")
        .agg(sum(rN(($"x" - $"c") * ($"x" - $"c"), 12)
          .cast("decimal(30,12)")).cast("double").as("d"))
      // argmin fused to ONE aggregation: min(struct(d, g)) orders by the
      // exact-staged distance then by g — semantically identical to the
      // oracle's window-min + equality filter + min(g) tiebreak (the
      // lexicographic struct min IS "min d, ties by min g"), one shuffle
      // and no window sort. Spark-internal only: the struct comparison
      // never crosses engines (r13 gotcha), the oracle keeps the
      // relational form. NOT min_by: its tie-break is arbitrary, and the
      // symmetric plant geometry can produce exact distance ties.
      asg = d.groupBy($"vec_id")
        .agg(min(struct($"d", $"g")).getField("g").as("g"))
      // r15: shuffle_hash on the |vecs|-row assignment side — both
      // sides are already vec_id-partitioned (x's checkpoint keeps the
      // repartition's HashPartitioning), so the hint's only effect is
      // SMJ → SHJ: it stops re-SORTING the 340k exploded rows per round.
      cent = x.join(asg.hint("shuffle_hash"), "vec_id")
        .groupBy($"g", $"i")
        .agg(rN(sum(rN($"x", 12).cast("decimal(30,12)")).cast("double")
          / count(lit(1)), 12).as("c"))
        // PerfProbe-adjudicated (r8 rule): despite cent being
        // single-consumer per round, the checkpoint-free chain measured
        // SLOWER (6.8/9.8/8.6 s vs 5.0/5.9/4.0 s for lloyd/xl/silhouette
        // at sf0.1) — 5 rounds of broadcast-subtree nesting beat any
        // per-round job overhead the checkpoint adds.
        .localCheckpoint() // 256 rows; bounds per-round plan depth
    }
    (x, cent, asg)
  }

  /** DuckDB twin of [[kmeansCore]]: the shared WITH-clause body (planted ∪
    * organic → exploded x → cent0 → R alternating assign/update CTEs, all
    * MATERIALIZED — DuckDB inlines CTEs by default and each is consumed
    * 2–3×, the r12 pyramid gotcha). Final names: cent$kmRounds, a$kmRounds. */
  private def kmeansOracleCtes(expand: Int): String = {
    val rounds = (1 to kmRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT x.vec_id, ct.g,
         |         cast(sum(cast(${rNSql("(x.x - ct.c) * (x.x - ct.c)", 12)}
         |           as decimal(30,12))) as double) AS d
         |  FROM x JOIN cent${r - 1} ct ON ct.i = x.i
         |  GROUP BY 1, 2),
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, min(g) AS g FROM (
         |    SELECT vec_id, g, d, min(d) OVER (PARTITION BY vec_id) AS dm
         |    FROM d$r) t WHERE d = dm GROUP BY vec_id),
         |cent$r AS MATERIALIZED (
         |  SELECT a.g AS g, x.i AS i,
         |         ${rNSql("cast(sum(cast(" + rNSql("x.x", 12) +
                   " as decimal(30,12))) as double) / count(*)", 12)} AS c
         |  FROM x JOIN a$r a ON a.vec_id = x.vec_id
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n      ")
    s"""planted AS (
       |  SELECT 1000000 + k AS vec_id,
       |         list_transform(generate_series(1, $kmDim), i ->
       |           (CASE WHEN (i - 1) % $kmK = k % $kmK
       |                 THEN cast(2.0 as double)
       |                 ELSE cast(0.0 as double) END) +
       |           cast(0.25 as double) *
       |           (CASE WHEN ((k // $kmK) + i) % 2 = 0
       |                 THEN cast(1.0 as double)
       |                 ELSE cast(-1.0 as double) END)) AS embedding
       |  FROM unnest(generate_series(0, ${60 * kmK * expand - 1})) AS xk(k)),
       |emb AS (
       |  SELECT vec_id, list_transform(embedding, e -> cast(e as double))
       |    AS embedding FROM (${ScaleOps.xvecsSql(1000000L, expand)}) xbase
       |  UNION ALL SELECT vec_id, embedding FROM planted),
       |x AS MATERIALIZED (
       |  SELECT vec_id,
       |         cast(unnest(generate_series(1, len(embedding))) as int) AS i,
       |         unnest(embedding) AS x
       |  FROM emb),
       |cent0 AS (
       |  SELECT cast(s // $kmDim as int) AS g,
       |         cast(s % $kmDim + 1 as int) AS i,
       |         CASE WHEN (s % $kmDim) % $kmK = s // $kmDim
       |              THEN cast(1.0 as double)
       |              ELSE cast(0.0 as double) END AS c
       |  FROM unnest(generate_series(0, ${kmK * kmDim - 1})) AS xs(s)),
       |$rounds""".stripMargin
  }

  /** Lloyd's k-means, declared surface: final centroids + cluster sizes.
    * See [[kmeansCore]] for the full algorithm/determinism/plant notes. */
  private def mkKmeansLloyd(name: String, expand: Int): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val (_, cent, asg) = kmeansCore(spark, dir, expand)
      val sizes = asg.groupBy($"g")
        .agg(count(lit(1)).cast("int").as("csize"))
      cent.join(broadcast(sizes), "g")
        .select($"g".cast("int").as("cluster"), $"i".cast("int").as("dim"),
          r6($"c").as("centroid"), $"csize")
        .orderBy($"cluster", $"dim")
    },
    Some(s"""
      WITH ${kmeansOracleCtes(expand)}
      SELECT cast(ct.g as int) AS cluster, cast(ct.i as int) AS dim,
             ${r6Sql("ct.c")} AS centroid, sz.csize
      FROM cent$kmRounds ct
      JOIN (SELECT g, cast(count(*) as int) AS csize
            FROM a$kmRounds GROUP BY g) sz USING (g)
      ORDER BY cluster, dim"""),
  )

  val qKmeansLloyd: GQuery = mkKmeansLloyd("q_kmeans_lloyd", 1)

  /** ×4 scale twin: both Lloyd passes are corpus-linear (assignment ships
    * k rows per vector, update 256 cells out), so the twin measures the
    * constant-factor growth of the per-round shuffle at 4× vectors with
    * the plant scaled to keep the cluster signal. */
  val qKmeansLloydXl: GQuery = mkKmeansLloyd("q_kmeans_lloyd_xl", 4)

  /** Simplified (centroid-based) silhouette over the [[kmeansCore]]
    * clustering: one FINAL assignment pass against the round-R centroids,
    * then per vector a = dist to own centroid, b = min dist to any other,
    * s = (b−a)/max(a,b) — the medoid-free silhouette that needs k
    * distances per vector, not the O(n²) pairwise matrix (the form that
    * exists at 100 TB). Distances are IEEE sqrt of the exact-staged
    * squared distances (identical doubles both engines); per-cluster mean
    * is the dsum idiom at 12-dp staging. */
  val qSilhouette: GQuery = GQuery(
    "q_silhouette",
    (spark, dir) => {
      import spark.implicits._
      val (x, cent, _) = kmeansCore(spark, dir, 1)
      val dFin = x.join(broadcast(cent), "i")
        .groupBy($"vec_id", $"g")
        .agg(sum(rN(($"x" - $"c") * ($"x" - $"c"), 12)
          .cast("decimal(30,12)")).cast("double").as("d2"))
      // same fused argmin as kmeansCore (struct min = min d2, ties min g)
      val af = dFin.groupBy($"vec_id")
        .agg(min(struct($"d2", $"g")).getField("g").as("og"))
      val sil = dFin.join(af, "vec_id")
        .groupBy($"vec_id", $"og")
        .agg(sqrt(min(when($"g" === $"og", $"d2"))).as("a"),
          sqrt(min(when($"g" =!= $"og", $"d2"))).as("b"))
        .select($"vec_id", $"og",
          rN(($"b" - $"a") / greatest($"a", $"b"), 12).as("s"))
      sil.groupBy($"og".cast("int").as("cluster"))
        .agg(count(lit(1)).cast("int").as("n"),
          rN(sum(rN($"s", 12).cast("decimal(30,12)")).cast("double")
            / count(lit(1)), 6).as("mean_sil"))
        .orderBy($"cluster")
    },
    Some(s"""
      WITH ${kmeansOracleCtes(1)},
      dfin AS MATERIALIZED (
        SELECT x.vec_id, ct.g,
               cast(sum(cast(${rNSql("(x.x - ct.c) * (x.x - ct.c)", 12)}
                 as decimal(30,12))) as double) AS d2
        FROM x JOIN cent$kmRounds ct ON ct.i = x.i
        GROUP BY 1, 2),
      afin AS MATERIALIZED (
        SELECT vec_id, min(g) AS og FROM (
          SELECT vec_id, g, d2, min(d2) OVER (PARTITION BY vec_id) AS dm
          FROM dfin) t WHERE d2 = dm GROUP BY vec_id),
      sil AS MATERIALIZED (
        SELECT d.vec_id, a.og,
               ${rNSql("(sqrt(min(CASE WHEN d.g <> a.og THEN d.d2 END)) - " +
                 "sqrt(min(CASE WHEN d.g = a.og THEN d.d2 END))) / " +
                 "greatest(sqrt(min(CASE WHEN d.g = a.og THEN d.d2 END)), " +
                 "sqrt(min(CASE WHEN d.g <> a.og THEN d.d2 END)))", 12)} AS s
        FROM dfin d JOIN afin a ON a.vec_id = d.vec_id
        GROUP BY 1, 2)
      SELECT cast(og as int) AS cluster, cast(count(*) as int) AS n,
             ${rNSql("cast(sum(cast(" + rNSql("s", 12) +
               " as decimal(30,12))) as double) / count(*)", 6)} AS mean_sil
      FROM sil GROUP BY og ORDER BY cluster"""),
  )

  val all: Seq[GQuery] = Seq(
    qDedupExact, qDocProfile, qTokenCount, qLangId, qTextQuality,
    qFingerprint, qTfidf, qJaccardPairs, qSimTopk, qMultimodal,
    qChunk, qInterleave, qPiiRedact, qDedupNorm, qBm25, qEmbedNorm, qNgram,
    qSplit, qSampleStrat, qDedupSweep, qEmbedDimstats, qEmbedDrift,
    qTokenFertility, qBigramPpl, qBpeMerge, qBpeTrain, qBpeTrainTopk,
    qPcaPower, qPcaPowerXl, qPcaTop2, qPcaOutliers, qKmeansLloyd,
    qKmeansLloydXl, qSilhouette)
}
