package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._
import graft.functions.{cdcChunks, ngramDigests, ngramStats, repetitionStats,
  windowDigests}

/** Training-data pipeline operators beyond dedup/quality (SURVEY.md
  * §2.B.8 extension, round 4): benchmark decontamination, repetition
  * scoring, sequence packing, and source-mixture weights — the four ops a
  * corpus build runs between "cleaned documents" and "training batches".
  * All are relational (oracle-declared) and shuffle-lean:
  * gram explosion is per-row codegen, joins are equi-joins on 32-byte
  * digests, packing is one window per source shard.
  */
object PipelineOps {

  /** Word n-gram shingles over a pre-split token-array column `l` (empty
    * when the document is shorter than n tokens — `sequence(1, k<1)` would
    * count DOWN, so the guard is load-bearing). Taking the already-split
    * array instead of re-splitting `text` keeps the tokenization cost to
    * one pass per row. */
  private def grams(n: Int): Column = {
    val g = expr(
      s"transform(sequence(1, size(l) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice(l, i, $n)))")
    when(size(col("l")) >= n, g)
      .otherwise(array().cast("array<string>"))
  }

  private def tokens(d: org.apache.spark.sql.DataFrame) =
    d.select(col("doc_id"), split(col("text"), " ").as("l"))

  /** DuckDB twin of [[grams]]: l[i] || ' ' || l[i+1] … over
    * generate_series (empty when len(l) < n — generate_series(1, 0) is
    * empty in DuckDB, unlike Spark's sequence). */
  private def gramsSql(n: Int): String = {
    val concat = (0 until n).map(k => s"l[i + $k]").mkString(" || ' ' || ")
    s"""SELECT doc_id, $concat AS g FROM (
          SELECT doc_id, l, unnest(generate_series(1, len(l) - ${n - 1})) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) g0) g1"""
  }

  /** Shared decontam inputs: distinct (doc_id, 5-gram-md5) pairs split
    * into the held-out benchmark (doc_id < 20) and the candidate pool,
    * with shifted-id copies of the benchmark docs planted into the pool so
    * the check can never pass vacuously. array_distinct BEFORE explode:
    * pairs are unique by construction (per-row dedup, shuffle-free), so
    * the candidate set needs no shuffle-wide DISTINCT — only the small
    * benchmark gram set pays one. */
  private def decontamInputs(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    // fused gram->distinct->md5 kernel (one pass per row, 32-byte shuffle
    // keys); byte-compatible with md5(concat_ws(...)) + array_distinct
    val g = tokens(Tables.documents(spark, dir))
      .select($"doc_id", explode(ngramDigests($"l", 5)).as("g"))
    val bench = g.filter($"doc_id" < 20).select($"g").distinct()
    val cand = g.filter($"doc_id" >= 20)
      .unionByName(g.filter($"doc_id" < 20)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"g"))
    (cand, bench)
  }

  private val decontamOracle: String = s"""
      WITH grams AS (SELECT doc_id, md5(g) AS g FROM (${gramsSql(5)})),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
      cand AS (SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, g FROM grams WHERE doc_id >= 20
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, g FROM grams WHERE doc_id < 20))
      SELECT doc_id, count(*) AS n_shared
      FROM cand JOIN bench USING (g)
      GROUP BY doc_id
      ORDER BY doc_id"""

  /** Benchmark decontamination: flag training documents sharing any
    * 5-gram with the benchmark set. The join key is the md5 of the gram —
    * the shuffle carries 32-byte digests, not text — and candidate
    * generation is a plain equi-join: linear at 100 TB, exactly the shape
    * of the production n-gram-overlap decontam pass. */
  val qDecontam: GQuery = GQuery(
    "q_decontam",
    (spark, dir) => {
      import spark.implicits._
      val (cand, bench) = decontamInputs(spark, dir)
      cand.join(bench, "g")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },
    Some(decontamOracle),
  )

  /** Same semantics through the two-phase scale path
    * ([[graft.llm.Decontam.bloomOverlapCount]]): a broadcast Bloom filter
    * of benchmark grams prefilters candidates executor-locally — the full
    * candidate side never shuffles — and the exact join on the ~1%
    * survivors removes bloom false positives, so the result (and the
    * oracle) is identical to [[qDecontam]]'s plain join. */
  val qDecontamBloom: GQuery = GQuery(
    "q_decontam_bloom",
    (spark, dir) => {
      import spark.implicits._
      val (cand, bench) = decontamInputs(spark, dir)
      graft.llm.Decontam
        .bloomOverlapCount(cand, bench, keyCol = "g", idCol = "doc_id",
          expectedItems = 1000000L)
        .orderBy($"doc_id")
    },
    Some(decontamOracle),
  )

  /** Per-document repetition score: 1 − distinct/total over 3-gram
    * shingles — the cheap quality signal that catches degenerate
    * boilerplate and looped generations. Entirely per-row via the fused
    * [[graft.functions.NgramStats]] Catalyst expression (one pass, one
    * hash set — the composable transform/array_distinct chain runs four
    * interpreted passes): no explode, no groupBy, zero shuffles before
    * the output sort — the 100 TB shape. Docs with no grams are filtered
    * to match the oracle's unnest (which drops them). */
  val qRepetition: GQuery = GQuery(
    "q_repetition",
    (spark, dir) => {
      import spark.implicits._
      tokens(Tables.documents(spark, dir))
        .select($"doc_id", ngramStats($"l", 3).as("st"))
        .filter($"st".getItem(0) > 0)
        .select($"doc_id", $"st".getItem(0).as("n_grams"),
          $"st".getItem(1).as("n_distinct"))
        .select($"doc_id", $"n_grams",
          r6(lit(1.0) - $"n_distinct".cast("double") / $"n_grams".cast("double"))
            .as("rep_ratio"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id, count(*) AS n_grams,
             ${rNSql("1.0 - cast(count(DISTINCT g) as double) / cast(count(*) as double)", 6)}
               AS rep_ratio
      FROM (${gramsSql(3)})
      GROUP BY doc_id
      ORDER BY doc_id"""),
  )

  /** Sequence packing: assign documents to fixed-capacity context windows
    * (2048 whitespace tokens) in doc_id order WITHIN each source — the
    * batch-construction step of a training pipeline. One window per
    * source shard (running token count → pack id), so parallelism is the
    * number of sources/shards and no global sort exists. Integer `div`
    * keeps the bucket arithmetic exact in both engines. */
  val qPack: GQuery = GQuery(
    "q_pack",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      Tables.documents(spark, dir)
        .select($"source", $"doc_id",
          size(split($"text", " ")).cast("long").as("tok"))
        .withColumn("cum", sum($"tok").over(w))
        .withColumn("pack_id", expr("(cum - 1) div 2048"))
        .groupBy($"source", $"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"))
        .orderBy($"source", $"pack_id")
    },
    Some("""
      SELECT source, cast((cum - 1) // 2048 as bigint) AS pack_id,
             count(*) AS n_docs, cast(sum(tok) as bigint) AS n_tokens
      FROM (
        SELECT source, doc_id, tok,
               sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM (SELECT source, doc_id,
                     cast(len(string_split(text, ' ')) as bigint) AS tok
              FROM documents) p0) p1
      GROUP BY source, pack_id
      ORDER BY source, pack_id"""),
  )

  /** Source-mixture weights with temperature α = 0.5 (w_s ∝ √n_s,
    * normalized) — the data-mixing step that upsamples tail sources.
    * Cross-engine determinism: per-source terms are √ (IEEE-exact,
    * unlike pow), rounded to 6dp, summed IN DECIMAL (order-free), and
    * the final ratio is one IEEE division + floor-round. */
  val qMixWeights: GQuery = GQuery(
    "q_mix_weights",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.documents(spark, dir)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w_term", rN(sqrt($"n_docs"), 6).cast(DecimalType(30, 6)))
      val tot = c.agg(sum($"w_term").as("t"))
      c.crossJoin(broadcast(tot))
        .select($"source", $"n_docs",
          r6($"w_term".cast("double") / $"t".cast("double")).as("weight"))
        .orderBy($"source")
    },
    Some(s"""
      WITH c AS (
        SELECT source, count(*) AS n_docs,
               cast(${rNSql("sqrt(count(*))", 6)} as decimal(30,6)) AS w_term
        FROM documents GROUP BY source),
      t AS (SELECT sum(w_term) AS t FROM c)
      SELECT source, n_docs,
             ${r6Sql("cast(w_term as double) / cast(t as double)")} AS weight
      FROM c CROSS JOIN t
      ORDER BY source"""),
  )

  /** Token-budget corpus selection: keep documents (in doc_id order within
    * each source) until the source's running token total hits the budget —
    * how a fixed-size training mix is cut from a larger cleaned pool.
    * Same single-window shape as [[qPack]]: parallelism is the number of
    * sources, no global sort. */
  val qSelectBudget: GQuery = GQuery(
    "q_select_budget",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      Tables.documents(spark, dir)
        .select($"source", $"doc_id",
          size(split($"text", " ")).cast("long").as("tok"))
        .withColumn("cum_tokens", sum($"tok").over(w))
        .filter($"cum_tokens" <= 10000L)
        .orderBy($"source", $"doc_id")
    },
    Some("""
      SELECT source, doc_id, tok, cast(cum as bigint) AS cum_tokens
      FROM (
        SELECT source, doc_id, tok,
               sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM (SELECT source, doc_id,
                     cast(len(string_split(text, ' ')) as bigint) AS tok
              FROM documents) b0) b1
      WHERE cum <= 10000
      ORDER BY source, doc_id"""),
  )

  /** The cleaning funnel: every document is assigned the FIRST filter it
    * fails (short → repetitive → no-stopwords → kept) and the query
    * reports per-source drop counts — the accept/reject manifest a corpus
    * cleaning pass publishes. Entirely per-row (fused ngram_stats kernel
    * for the repetition signal, exact integer-derived ratios so the
    * threshold comparisons are bit-identical cross-engine) + one
    * combinable groupBy. Degenerate repeated-token docs are planted
    * (doc_id+835000 — an out-of-range id block, the shifted-id
    * convention) so the 'repetitive' bucket is non-vacuous at every SF. */
  val qFilterFunnel: GQuery = GQuery(
    "q_filter_funnel",
    (spark, dir) => {
      import spark.implicits._
      val d = Tables.documents(spark, dir).select($"doc_id", $"text", $"source")
      val spam = ("spam " * 49) + "spam"
      val docs = d
        .unionByName(d.filter($"doc_id" < 10)
          .select(($"doc_id" + 835000L).as("doc_id"), lit(spam).as("text"),
            $"source"))
      val inList = "'the','and','of','to','in','a','is','it'"
      docs
        .select($"source", split($"text", " ").as("l"))
        .select($"source", size($"l").as("n_tokens"),
          ngramStats($"l", 3).as("st"),
          expr(s"size(filter(l, t -> t IN ($inList)))").as("n_stop"))
        .select($"source", $"n_tokens",
          when($"st".getItem(0) > 0,
            lit(1.0) - $"st".getItem(1).cast("double") /
              $"st".getItem(0).cast("double"))
            .otherwise(lit(0.0)).as("rep_ratio"),
          ($"n_stop".cast("double") / $"n_tokens".cast("double"))
            .as("stop_ratio"))
        .select($"source",
          when($"n_tokens" < 30, "short")
            .when($"rep_ratio" > 0.2, "repetitive")
            .when($"stop_ratio" < 0.01, "no_stopwords")
            .otherwise("kept").as("verdict"))
        .groupBy($"source", $"verdict")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source", $"verdict")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 835000, repeat('spam ', 49) || 'spam', source
        FROM documents WHERE doc_id < 10),
      feat AS (
        SELECT source,
          cast(len(l) as int) AS n_tokens,
          CASE WHEN len(l) >= 3 THEN
            1.0 - cast(len(list_distinct(list_transform(
                generate_series(1, len(l) - 2),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) as double)
              / cast(len(l) - 2 as double)
          ELSE 0.0 END AS rep_ratio,
          cast(len(list_filter(l,
              t -> t IN ('the','and','of','to','in','a','is','it')))
            as double) / cast(len(l) as double) AS stop_ratio
        FROM (SELECT source, string_split(text, ' ') AS l FROM docs) f0)
      SELECT source,
        CASE WHEN n_tokens < 30 THEN 'short'
             WHEN rep_ratio > 0.2 THEN 'repetitive'
             WHEN stop_ratio < 0.01 THEN 'no_stopwords'
             ELSE 'kept' END AS verdict,
        count(*) AS n_docs
      FROM feat
      GROUP BY source, verdict
      ORDER BY source, verdict"""),
  )

  /** Paragraph-level exact dedup with reassembly — the FineWeb-style
    * pass that removes REPEATED BLOCKS (boilerplate headers, licence
    * stanzas, copied sections) while keeping the documents that carry
    * them: every document is split into deterministic 20-word chunks
    * ("paragraphs" — the synthetic corpus has no newlines; on real data
    * the splitter is the only line that changes), each paragraph is
    * deduplicated CORPUS-WIDE by md5 with first occurrence winning
    * ((doc_id, pos) order), and each document is reassembled from its
    * surviving paragraphs in original order. Scale shape: one
    * posexplode (linear); the keep-first decision is a COMBINABLE
    * min(struct(doc_id, pos)) per digest — map-side partials collapse a
    * boilerplate paragraph's 10^8 copies before the shuffle, where a
    * row_number window would sort them all inside one hot partition —
    * then a LEFT SEMI on row identity and one doc_id shuffle for the
    * ordered reassembly. No pairwise comparison anywhere, so the cost
    * is |paragraphs|, not |docs|². The DuckDB oracle states the same
    * keep-first semantics as a row_number window — the spec, not the
    * plan. Planted full-copy clones (doc_id <
    * 25, shifted +400000) dedup to nothing — n_kept = 0 and the empty
    * digest — so the pass can never pass vacuously; the LEFT join keeps
    * those emptied docs in the output (they exit the text pipeline but
    * stay in the manifest). */
  val qDedupPara: GQuery = GQuery(
    "q_dedup_para",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 25)
          .select(($"doc_id" + 400000L).as("doc_id"), $"text"))
      val withWords = docs.select($"doc_id", split($"text", " ").as("l"))
      val paras = withWords.select($"doc_id",
          posexplode(expr(
            "transform(sequence(0, cast(ceil(size(l) / 20.0) as int) - 1), " +
              "i -> concat_ws(' ', slice(l, i * 20 + 1, 20)))")))
        .toDF("doc_id", "pos", "para")
      // keep-first via a COMBINABLE min(struct), not a row_number window:
      // a boilerplate paragraph repeated 10^8 times at 100 TB lands every
      // copy in one window partition (full sort of the hot key), while
      // the aggregate collapses each digest's copies map-side before the
      // shuffle — the winner set that crosses the wire is |distinct
      // paragraphs| regardless of skew
      val winners = paras
        .groupBy(md5($"para").as("ph"))
        .agg(min(struct($"doc_id", $"pos")).as("w"))
        .select($"w.doc_id".as("w_doc"), $"w.pos".as("w_pos"))
      // LEFT SEMI on the (doc_id, pos) row identity — never on the
      // digest, which would re-concentrate the hot key's copies
      val kept = paras
        .join(winners,
          $"doc_id" === $"w_doc" && $"pos" === $"w_pos", "left_semi")
      val reassembled = kept
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).cast("int").as("n_kept"),
          concat_ws(" ",
            expr("transform(array_sort(collect_list(struct(pos, para))), " +
              "x -> x.para)")).as("out_text"))
      withWords
        .select($"doc_id",
          ceil(size($"l") / lit(20.0)).cast("int").as("n_paras"))
        .join(reassembled, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_paras",
          coalesce($"n_kept", lit(0)).as("n_kept"),
          length(coalesce($"out_text", lit(""))).cast("int").as("out_len"),
          md5(coalesce($"out_text", lit(""))).as("content_md5"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 400000, text FROM documents WHERE doc_id < 25),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      paras AS (
        SELECT doc_id, i AS pos,
               array_to_string(l[(i * 20 + 1):(i * 20 + 20)], ' ') AS para
        FROM lt, unnest(generate_series(0,
               cast(ceil(len(l) / 20.0) as int) - 1)) AS t(i)),
      kept AS (
        SELECT doc_id, pos, para FROM (
          SELECT doc_id, pos, para,
                 row_number() OVER (PARTITION BY md5(para)
                                    ORDER BY doc_id, pos) AS rn
          FROM paras)
        WHERE rn = 1),
      re AS (
        SELECT doc_id, cast(count(*) as int) AS n_kept,
               string_agg(para, ' ' ORDER BY pos) AS out_text
        FROM kept GROUP BY doc_id)
      SELECT lt.doc_id,
             cast(ceil(len(l) / 20.0) as int) AS n_paras,
             coalesce(n_kept, 0) AS n_kept,
             cast(length(coalesce(out_text, '')) as int) AS out_len,
             md5(coalesce(out_text, '')) AS content_md5
      FROM lt LEFT JOIN re ON lt.doc_id = re.doc_id
      ORDER BY lt.doc_id"""),
  )

  /** Perplexity-proxy quality score: each document's mean log-probability
    * under the corpus's own add-one-smoothed bigram LM — the classic
    * cheap LM filter (a doc whose bigrams are improbable under the corpus
    * distribution is boilerplate, gibberish, or the wrong language).
    * Pipeline: one bigram explode feeds BOTH the LM counts and the
    * per-doc instances; scoring is an equi-join on the bigram, the
    * unigram-context join, and two broadcast scalars (V, corpus size).
    * Every per-bigram term is ln of an integer ratio — IEEE-rounded and
    * decimal-summed, the same cross-engine ln contract as q_tfidf. */
  val qLmScore: GQuery = GQuery(
    "q_lm_score",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", split($"text", " ").as("l"))
      val len1 = greatest(size($"l") - 1, lit(0))
      val inst = docs
        .select($"doc_id", explode(zip_with(
          slice($"l", lit(1), len1), slice($"l", lit(2), len1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
      val bigramC = inst.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val uniC = inst.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val vocab = inst.select($"w1").unionByName(inst.select($"w2".as("w1")))
        .distinct().agg(count(lit(1)).cast("double").as("v"))
      inst
        .join(bigramC, Seq("w1", "w2"))
        .join(uniC, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select($"doc_id",
          r6(log(($"c12".cast("double") + 1.0) / ($"c1".cast("double") + $"v")))
            .as("lp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), davg($"lp", 6).as("avg_logp"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      inst AS (
        SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM (
          SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
          FROM lt) b0),
      bc AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY w1, w2),
      uc AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY w1),
      vv AS (SELECT cast(count(*) as double) AS v FROM (
               SELECT DISTINCT w1 FROM (
                 SELECT w1 FROM inst UNION ALL SELECT w2 AS w1 FROM inst) u0) u)
      SELECT doc_id, count(*) AS n_bigrams,
             ${davgSql("lp", 6)} AS avg_logp
      FROM (
        SELECT doc_id,
          ${r6Sql("ln((cast(c12 as double) + 1.0) / (cast(c1 as double) + v))")}
            AS lp
        FROM inst JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv) s
      GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** SMOOTHED TARGET ENCODING — the feature-prep operator that turns a
    * categorical into a leakage-resistant numeric: enc(c) = (Σ_c y +
    * k·ȳ)/(n_c + k) with prior weight k = 10, shrinking rare categories
    * toward the global mean. Target is order revenue in EXACT integer
    * cents (the q_changepoint trick), so every sum is int64 and the
    * encoding is one fixed-shape IEEE expression — no decimal staging
    * needed. One combinable groupBy over the fact; the global totals
    * ride a 1-row broadcast. At 100 TB this is the identical plan per
    * encoded column. */
  val qTargetEncode: GQuery = GQuery(
    "q_target_encode",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val g = Tables.orders(spark, dir)
        .select($"o_orderpriority", cents.as("c"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"c").as("s"))
      val tot = g.agg(sum($"n").as("nn"), sum($"s").as("ss"))
      val d = (c: String) => col(c).cast("double")
      g.crossJoin(broadcast(tot))
        .select($"o_orderpriority", $"n".as("n_orders"),
          r2(d("s") / d("n") / lit(100.0)).as("raw_mean"),
          r2((d("s") / lit(100.0) +
            lit(10.0) * (d("ss") / d("nn") / lit(100.0))) /
            (d("n") + lit(10.0))).as("encoded"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""
      WITH g AS (
        SELECT o_orderpriority, count(*) AS n,
               sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) AS s
        FROM orders GROUP BY o_orderpriority),
      tot AS (SELECT cast(sum(n) as bigint) AS nn,
                     cast(sum(s) as bigint) AS ss FROM g)
      SELECT o_orderpriority, cast(n as bigint) AS n_orders,
             ${r2Sql("cast(s as double) / cast(n as double) " +
               "/ cast(100.0 as double)")} AS raw_mean,
             ${r2Sql("(cast(s as double) / cast(100.0 as double) + " +
               "cast(10.0 as double) * (cast(ss as double) / " +
               "cast(nn as double) / cast(100.0 as double))) / " +
               "(cast(n as double) + cast(10.0 as double))")} AS encoded
      FROM g CROSS JOIN tot
      ORDER BY o_orderpriority"""),
  )

  /** CURRICULUM STAGING — order the corpus by a deterministic
    * difficulty proxy (distinct-token count: lexical richness) and cut
    * it into 5 equal-frequency training stages with ntile, easiest
    * stage first. The per-doc score is an integer computed INSIDE the
    * row's projection (array_distinct on the token array — no explode
    * shuffle); the ntile ORDER BY carries the (score, doc_id) unique
    * tiebreak so stage assignment is cluster-reproducible; per-stage
    * profiles are integer sums. The emitted plan (stage → doc count +
    * score/length profile) is what a data loader consumes to schedule
    * epochs. */
  val qCurriculum: GQuery = GQuery(
    "q_curriculum",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars",
          size(array_distinct(split($"text", " "))).cast("long").as("score"))
        .withColumn("stage", ntile(5).over(
          Window.orderBy($"score", $"doc_id")).cast("int"))
        .groupBy($"stage")
        .agg(count(lit(1)).as("n_docs"),
          min($"score").as("min_score"),
          max($"score").as("max_score"),
          sum($"n_chars").as("total_chars"))
        .orderBy($"stage")
    },
    Some("""
      SELECT stage, count(*) AS n_docs,
             min(score) AS min_score, max(score) AS max_score,
             cast(sum(n_chars) as bigint) AS total_chars
      FROM (
        SELECT doc_id, n_chars,
               cast(len(list_distinct(string_split(text, ' '))) as bigint)
                 AS score,
               cast(ntile(5) OVER (ORDER BY
                 cast(len(list_distinct(string_split(text, ' '))) as bigint),
                 doc_id) as int) AS stage
        FROM documents) t
      GROUP BY stage ORDER BY stage"""),
  )

  /** K-FOLD ASSIGNMENT BALANCE AUDIT: deterministic hash folds (the
    * portable conv(md5) idiom — reproducible on any cluster, no RNG
    * state) over the corpus, then the balance report every CV split
    * should ship with: per-fold size, share, mean length, language
    * entropy, and a χ² against the uniform fold split (accumulated on
    * the ≤k-row tail). A skewed fold histogram here means the ML
    * layer's foldCol splits train on a biased subset. */
  val qFoldBalance: GQuery = {
    val k = 5
    GQuery(
      "q_fold_balance",
      (spark, dir) => {
        import spark.implicits._
        val f = Tables.documents(spark, dir)
          .select($"doc_id", $"n_chars", $"lang",
            (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
              .cast("long") % k).as("fold"))
        val g = f.groupBy($"fold", $"lang").agg(
          count(lit(1)).as("nl"),
          sum($"n_chars").as("sc"))
        val byFold = g.groupBy($"fold").agg(
          sum($"nl").as("n_docs"),
          sum($"sc").as("sum_chars"),
          sum(rN(-($"nl".cast("double")) *
              log($"nl".cast("double")), 9)
            .cast("decimal(30,9)")).cast("double").as("hraw"))
        val wAll = Window.partitionBy()
        byFold
          .withColumn("n_total", sum($"n_docs").over(wAll))
          .select($"fold", $"n_docs",
            r6($"n_docs".cast("double") / $"n_total".cast("double"))
              .as("share"),
            r6($"sum_chars".cast("double") / $"n_docs".cast("double"))
              .as("mean_chars"),
            r6(($"hraw" / $"n_docs".cast("double")) +
              log($"n_docs".cast("double"))).as("lang_entropy"),
            r6(sum(
              rN(($"n_docs".cast("double") -
                  $"n_total".cast("double") / lit(k.toDouble)) *
                ($"n_docs".cast("double") -
                  $"n_total".cast("double") / lit(k.toDouble)) /
                ($"n_total".cast("double") / lit(k.toDouble)), 9)
                .cast("decimal(30,9)")).over(wAll).cast("double"))
              .as("chi2_uniform"))
          .orderBy($"fold")
      },
      Some(s"""
      WITH f AS (
        SELECT doc_id, n_chars, lang,
               ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::BIGINT
                 % $k AS fold
        FROM documents),
      g AS (
        SELECT fold, lang, count(*) AS nl,
               cast(sum(n_chars) as bigint) AS sc
        FROM f GROUP BY fold, lang),
      by_fold AS (
        SELECT fold,
               cast(sum(nl) as bigint) AS n_docs,
               cast(sum(sc) as bigint) AS sum_chars,
               cast(sum(cast(${rNSql(
                 "-cast(nl as double) * ln(cast(nl as double))", 9)}
                 as decimal(30,9))) as double) AS hraw
        FROM g GROUP BY fold),
      t AS (
        SELECT fold, n_docs, sum_chars, hraw,
               cast(sum(n_docs) OVER () as bigint) AS n_total
        FROM by_fold)
      SELECT fold, n_docs,
             ${r6Sql("cast(n_docs as double) / cast(n_total as double)")}
               AS share,
             ${r6Sql("cast(sum_chars as double) / cast(n_docs as double)")}
               AS mean_chars,
             ${r6Sql("hraw / cast(n_docs as double) + " +
               "ln(cast(n_docs as double))")} AS lang_entropy,
             ${r6Sql("cast(sum(cast(" + rNSql(
                 "(cast(n_docs as double) - cast(n_total as double) / " +
                   s"cast($k.0 as double)) * " +
                 "(cast(n_docs as double) - cast(n_total as double) / " +
                   s"cast($k.0 as double)) / " +
                 s"(cast(n_total as double) / cast($k.0 as double))", 9) +
               " as decimal(30,9))) OVER () as double)")} AS chi2_uniform
      FROM t ORDER BY fold"""),
    )
  }

  /** REJECTION RESAMPLING to a target language mixture — q_mix_weights
    * COMPUTES the weights; this op EXECUTES the resample: each doc is
    * kept with probability (t_l/s_l)/max_l(t_l/s_l) (retention-maximal
    * rejection toward the uniform 1/5 target — the largest-deficit
    * language keeps everything), decided by the deterministic
    * conv(md5) uniform so the SAME docs survive on any cluster, any
    * retry, and in the oracle. One combinable share pass (≤5-row
    * broadcast back), one decide-and-count pass. */
  val qRejectionSample: GQuery = GQuery(
    "q_rejection_sample",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id", $"lang")
      val shares = docs.groupBy($"lang").agg(count(lit(1)).as("n_before"))
      val wAll = Window.partitionBy()
      val rates = shares
        .withColumn("n_total", sum($"n_before").over(wAll))
        .withColumn("ratio",
          (lit(0.2) * $"n_total".cast("double")) /
            $"n_before".cast("double"))
        .withColumn("accept",
          $"ratio" / max($"ratio").over(wAll))
      val u = (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
      docs.join(broadcast(rates), "lang")
        .withColumn("keep", (u < $"accept").cast("long"))
        .groupBy($"lang")
        .agg(max($"n_before").as("n_before"),
          r6(max($"accept")).as("accept_rate"),
          sum($"keep").as("n_after"))
        .withColumn("share_after",
          r6($"n_after".cast("double") /
            sum($"n_after").over(wAll).cast("double")))
        .orderBy($"lang")
    },
    Some(s"""
      WITH docs AS (SELECT doc_id, lang FROM documents),
      shares AS (
        SELECT lang, count(*) AS n_before FROM docs GROUP BY lang),
      rates AS (
        SELECT lang, n_before,
               (cast(0.2 as double) * cast(sum(n_before) OVER () as double))
                 / cast(n_before as double) AS ratio
        FROM shares),
      acc AS (
        SELECT lang, n_before,
               ratio / max(ratio) OVER () AS accept
        FROM rates),
      dec AS (
        SELECT d.lang, a.n_before, a.accept,
               CASE WHEN (cast(cast(('0x' || substr(md5(
                   cast(d.doc_id as varchar)), 1, 8))::BIGINT as bigint)
                   as double) + cast(0.5 as double)) /
                   cast(4294967296.0 as double) < a.accept
                 THEN 1 ELSE 0 END AS keep
        FROM docs d JOIN acc a USING (lang)),
      g AS (
        SELECT lang,
               cast(max(n_before) as bigint) AS n_before,
               ${r6Sql("max(accept)")} AS accept_rate,
               cast(sum(keep) as bigint) AS n_after
        FROM dec GROUP BY lang)
      SELECT lang, n_before, accept_rate, n_after,
             ${r6Sql("cast(n_after as double) / " +
               "cast(sum(n_after) OVER () as double)")} AS share_after
      FROM g ORDER BY lang"""),
  )

  /** BOILERPLATE STRIP by cross-corpus paragraph frequency — the CCNet
    * move q_dedup_para (keep-FIRST) deliberately is not: a 20-word
    * paragraph whose digest appears in ≥ 3 DISTINCT documents is
    * boilerplate (footers, licenses, navigation chrome) and is dropped
    * from EVERY document, originals included. 25 planted docs carrying a
    * shared footer (the first 20 words of doc 0, PREPENDED in-query so
    * it aligns to a clean chunk boundary — never an out-of-band literal) guarantee a ≥ 26-doc digest at every
    * SF, so the gate can never pass vacuously. Same scale shape as
    * q_dedup_para: one chunk explode, a COMBINABLE distinct-doc count
    * per digest (map-side collapse — a 10⁸-copy footer at 100 TB never
    * sorts through one window partition), and the boiler set joins back
    * as a broadcast-able digest table. Output: per affected doc, chunk
    * counts, boilerplate fraction, and surviving token count. */
  val qBoilerplate: GQuery = GQuery(
    "q_boilerplate",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val footer = base.filter($"doc_id" === 0)
        .select(concat_ws(" ", slice(split($"text", " "), 1, 20)).as("ftr"))
      val planted = base.filter($"doc_id" < 25).crossJoin(broadcast(footer))
        .select(($"doc_id" + 500000L).as("doc_id"),
          concat($"ftr", lit(" "), $"text").as("text"))
      val docs = base.unionByName(planted)
      val withWords = docs.select($"doc_id", split($"text", " ").as("l"))
      val paras = withWords.select($"doc_id",
          posexplode(expr(
            "transform(sequence(0, cast(ceil(size(l) / 20.0) as int) - 1), " +
              "i -> concat_ws(' ', slice(l, i * 20 + 1, 20)))")))
        .toDF("doc_id", "pos", "para")
        .withColumn("ph", md5($"para"))
      val boiler = paras.select($"ph", $"doc_id").distinct()
        .groupBy($"ph").agg(count(lit(1)).as("df"))
        .filter($"df" >= 3)
      val flagged = paras
        .join(boiler.select($"ph", lit(1).as("is_b")), Seq("ph"), "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_paras"),
          sum(when($"is_b".isNotNull, 1L).otherwise(0L)).cast("int")
            .as("n_boiler"),
          sum(when($"is_b".isNull, size(split($"para", " ")).cast("long"))
            .otherwise(0L)).as("tokens_kept"))
      flagged.filter($"n_boiler" > 0)
        .select($"doc_id", $"n_paras", $"n_boiler",
          r6($"n_boiler".cast("double") / $"n_paras".cast("double"))
            .as("boiler_frac"),
          $"tokens_kept")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, text FROM documents),
      footer AS (
        SELECT array_to_string(string_split(text, ' ')[1:20], ' ') AS ftr
        FROM base WHERE doc_id = 0),
      docs AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 500000, ftr || ' ' || text
        FROM base CROSS JOIN footer WHERE doc_id < 25),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      paras AS (
        SELECT doc_id, i AS pos,
               array_to_string(l[(i * 20 + 1):(i * 20 + 20)], ' ') AS para,
               md5(array_to_string(l[(i * 20 + 1):(i * 20 + 20)], ' ')) AS ph
        FROM lt, unnest(generate_series(0,
               cast(ceil(len(l) / 20.0) as int) - 1)) AS t(i)),
      boiler AS (
        SELECT ph FROM (
          SELECT ph, count(DISTINCT doc_id) AS df FROM paras GROUP BY ph)
        WHERE df >= 3),
      flagged AS (
        SELECT p.doc_id,
               cast(count(*) as int) AS n_paras,
               cast(sum(CASE WHEN b.ph IS NOT NULL THEN 1 ELSE 0 END)
                 as int) AS n_boiler,
               cast(sum(CASE WHEN b.ph IS NULL
                 THEN len(string_split(para, ' ')) ELSE 0 END)
                 as bigint) AS tokens_kept
        FROM paras p LEFT JOIN boiler b ON p.ph = b.ph
        GROUP BY p.doc_id)
      SELECT doc_id, n_paras, n_boiler,
             ${r6Sql("cast(n_boiler as double) / cast(n_paras as double)")}
               AS boiler_frac,
             tokens_kept
      FROM flagged WHERE n_boiler > 0
      ORDER BY doc_id"""),
  )

  /** NEYMAN ALLOCATION of a 1000-row sampling budget across the
    * priority strata — the variance-optimal design (nₕ ∝ Nₕ·Sₕ) that
    * q_sample_strat's proportional split is not: a noisy stratum earns
    * more than its headcount share. Per-stratum Nₕ and sample sd come
    * from ONE combinable integer moment pass (dollar-scaled so Σx²
    * stays int64 at sf1 — the q_did bound); the weight Nₕ·Sₕ is
    * rescaled to mega-units before the 5-term decimal-staged total (the
    * 2³³ staging validity bound). Integer seats are dealt by LARGEST
    * REMAINDER (floor every quota, then hand the leftover seats to the
    * largest r6'd fractional parts, priority tiebreak) so the
    * allocations are integers that sum EXACTLY to the budget —
    * Round10Spec pins Σ = 1000. */
  val qNeymanAlloc: GQuery = GQuery(
    "q_neyman_alloc",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val o = Tables.orders(spark, dir).select($"o_orderpriority".as("pri"),
        expr("floor(o_totalprice * 100.0 + 0.5) div 100").cast("long")
          .as("x"))
      val cells = o.groupBy($"pri")
        .agg(count(lit(1)).as("nh"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"))
      val d = (c: String) => col(c).cast("double")
      val sd = sqrt((d("nh") * d("sxx") - d("sx") * d("sx")) /
        (d("nh") * (d("nh") - lit(1.0))))
      val w = cells.withColumn("wm", rN(d("nh") * sd / lit(1e6), 6))
      val tot = w.agg(sum($"wm".cast(dec6)).cast("double").as("wt"))
      val q = w.crossJoin(broadcast(tot))
        .withColumn("quota", lit(1000.0) * $"wm" / $"wt")
        .withColumn("base", floor($"quota").cast("long"))
        .withColumn("rem", rN($"quota" - $"base", 6))
      val wAll = Window.partitionBy()
      val wRank = Window.orderBy($"rem".desc, $"pri")
      q.withColumn("leftover", lit(1000L) - sum($"base").over(wAll))
        .withColumn("rk", row_number().over(wRank))
        .select($"pri", $"nh".as("n_rows"), r6(sd).as("sd_dollars"),
          ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
            .cast("int").as("alloc"))
        .orderBy($"pri")
    },
    Some {
      val sd = "sqrt((cast(nh as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double)) / " +
        "(cast(nh as double) * (cast(nh as double) - cast(1.0 as double))))"
      s"""
      WITH o AS (
        SELECT o_orderpriority AS pri,
               cast(floor(o_totalprice * 100.0 + 0.5) as bigint) // 100
                 AS x
        FROM orders),
      cells AS (
        SELECT pri, cast(count(*) as bigint) AS nh,
               cast(sum(x) as bigint) AS sx,
               cast(sum(x*x) as bigint) AS sxx
        FROM o GROUP BY pri),
      w AS (
        SELECT pri, nh, $sd AS sd,
               ${rNSql(s"cast(nh as double) * $sd / cast(1e6 as double)",
                 6)} AS wm
        FROM cells),
      tot AS (SELECT cast(sum(cast(wm as decimal(30,6))) as double) AS wt
              FROM w),
      q AS (
        SELECT pri, nh, sd,
               cast(1000.0 as double) * wm / wt AS quota
        FROM w CROSS JOIN tot),
      q2 AS (
        SELECT pri, nh, sd,
               cast(floor(quota) as bigint) AS base,
               ${rNSql("quota - floor(quota)", 6)} AS rem
        FROM q),
      q3 AS (
        SELECT pri, nh, sd, base, rem,
               cast(1000 - sum(base) OVER () as bigint) AS leftover,
               row_number() OVER (ORDER BY rem DESC, pri) AS rk
        FROM q2)
      SELECT pri, nh AS n_rows, ${r6Sql("sd")} AS sd_dollars,
             cast(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
               as int) AS alloc
      FROM q3
      ORDER BY pri"""
    },
  )

  /** DSIR-STYLE IMPORTANCE WEIGHTS for domain-targeted data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): each document scores
    * Σ_tokens ln(p̂_target(t)/p̂_corpus(t)) under add-1-smoothed unigram
    * LMs, target = the English slice. ONE token pass builds the shared
    * vocabulary with conditional (corpus, target) counts; the log-ratio
    * is a fixed IEEE form over exact int64 counts evaluated once per
    * VOCAB row, re-joined to token instances by term equi-join; the
    * per-document sum is 9-dp decimal-staged (|term| ≤ ~15 — ln ratio
    * of add-1 probabilities — at any SF). Top-10 selection is a
    * (weight, doc_id)-total-ordered limit, never a global sort. */
  val qDsir: GQuery = GQuery(
    "q_dsir",
    (spark, dir) => {
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("term"))
      val vocab = toks.groupBy($"term")
        .agg(count(lit(1)).as("ca"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("ce"))
      val tot = vocab.agg(sum($"ca").as("ta"), sum($"ce").as("te"),
        count(lit(1)).as("v"))
      val rat = vocab.crossJoin(broadcast(tot))
        .select($"term",
          (log(($"ce" + 1).cast("double") / ($"te" + $"v").cast("double")) -
            log(($"ca" + 1).cast("double") / ($"ta" + $"v").cast("double")))
            .as("lr"))
      val scored = toks.join(rat, "term")
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(rN($"lr", 9).cast(DecimalType(30, 9)))
            .cast("double").as("wraw"))
      scored.select($"doc_id", $"lang", $"n_tokens",
          r6($"wraw").as("dsir_weight"))
        .orderBy($"wraw".desc, $"doc_id")
        .limit(10)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents),
      vocab AS (
        SELECT term, cast(count(*) as bigint) AS ca,
               cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 as bigint) AS ce
        FROM toks GROUP BY term),
      tot AS (
        SELECT cast(sum(ca) as bigint) AS ta,
               cast(sum(ce) as bigint) AS te,
               cast(count(*) as bigint) AS v
        FROM vocab),
      rat AS (
        SELECT term,
               ln(cast(ce + 1 as double) / cast(te + v as double)) -
                 ln(cast(ca + 1 as double) / cast(ta + v as double)) AS lr
        FROM vocab CROSS JOIN tot),
      scored AS (
        SELECT doc_id, lang, cast(count(*) as bigint) AS n_tokens,
               cast(sum(cast(${rNSql("lr", 9)} as decimal(30,9)))
                 as double) AS wraw
        FROM toks JOIN rat USING (term)
        GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_tokens, ${r6Sql("wraw")} AS dsir_weight
      FROM scored
      ORDER BY wraw DESC, doc_id
      LIMIT 10"""),
  )

  /** GOPHER QUALITY RULES (Rae et al. 2021 §A1.1, adapted thresholds) —
    * the INDEPENDENT-rule matrix that complements q_filter_funnel's
    * first-match-wins verdicts: each document is scored against five
    * rules separately (word count ∈ [30, 10k]; mean word length ∈
    * [3, 10]; non-alphanumeric character ratio < 0.1; ≥80% of words
    * contain a letter; ≥2 distinct stopwords present), and the
    * per-source rollup reports each rule's pass count plus the
    * all-rules pass rate — the diagnosis view that says WHICH rule a
    * failing source trips, where the funnel only says that it failed.
    * One linear pass, per-row codegen'd expressions, one combinable
    * groupBy — nothing above |docs|. Ten planted junk docs (all-digit
    * tokens) trip the letter + stopword rules at every SF. */
  val qGopherRules: GQuery = GQuery(
    "q_gopher_rules",
    (spark, dir) => {
      import spark.implicits._
      val d = Tables.documents(spark, dir)
        .select($"doc_id", $"text", $"source")
      val junk = ("404 90210 " * 25).trim
      val docs = d.unionByName(
        d.filter($"doc_id" < 10)
          .select(($"doc_id" + 830000L).as("doc_id"), lit(junk).as("text"),
            $"source"))
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = docs
        .select($"source", $"text", split($"text", " ").as("l"))
        .select($"source",
          size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("mwl"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("alpha"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"))
      val r1 = ($"nw" >= 30 && $"nw" <= 10000).cast("long")
      val r2 = ($"mwl" >= 3.0 && $"mwl" <= 10.0).cast("long")
      val r3 = ($"sym" < 0.1).cast("long")
      val r4 = ($"alpha" >= 0.8).cast("long")
      val r5 = ($"nstop" >= 2).cast("long")
      feat
        .select($"source", r1.as("r1"), r2.as("r2"), r3.as("r3"),
          r4.as("r4"), r5.as("r5"),
          (r1 * r2 * r3 * r4 * r5).as("all_ok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"r1").as("n_wordcount_ok"),
          sum($"r2").as("n_wordlen_ok"),
          sum($"r3").as("n_symbol_ok"),
          sum($"r4").as("n_alpha_ok"),
          sum($"r5").as("n_stopword_ok"),
          sum($"all_ok").as("n_pass_all"))
        .withColumn("pass_rate",
          r6($"n_pass_all".cast("double") / $"n_docs".cast("double")))
        .orderBy($"source")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 830000, trim(repeat('404 90210 ', 25)), source
        FROM documents WHERE doc_id < 10),
      feat AS (
        SELECT source,
          cast(len(l) as int) AS nw,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS mwl,
          cast(length(regexp_replace(text,
            '[A-Za-z0-9 ]', '', 'g')) as double)
            / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS alpha,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop
        FROM (SELECT source, text, string_split(text, ' ') AS l
              FROM docs) f0),
      rules AS (
        SELECT source,
          CASE WHEN nw >= 30 AND nw <= 10000 THEN 1 ELSE 0 END AS r1,
          CASE WHEN mwl >= cast(3.0 as double) AND
            mwl <= cast(10.0 as double) THEN 1 ELSE 0 END AS r2,
          CASE WHEN sym < cast(0.1 as double) THEN 1 ELSE 0 END AS r3,
          CASE WHEN alpha >= cast(0.8 as double) THEN 1 ELSE 0 END AS r4,
          CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS r5
        FROM feat)
      SELECT source, cast(count(*) as bigint) AS n_docs,
             cast(sum(r1) as bigint) AS n_wordcount_ok,
             cast(sum(r2) as bigint) AS n_wordlen_ok,
             cast(sum(r3) as bigint) AS n_symbol_ok,
             cast(sum(r4) as bigint) AS n_alpha_ok,
             cast(sum(r5) as bigint) AS n_stopword_ok,
             cast(sum(r1 * r2 * r3 * r4 * r5) as bigint) AS n_pass_all,
             ${r6Sql("cast(sum(r1 * r2 * r3 * r4 * r5) as double) / " +
               "cast(count(*) as double)")} AS pass_rate
      FROM rules GROUP BY source
      ORDER BY source"""),
  )

  /** RefinedWeb-style SLIDING-window substring dedup — the alignment-proof
    * complement to [[qDedupPara]]'s fixed 20-word chunks: every 20-token
    * window at stride 1 is digested, so a clone that PREPENDS tokens
    * (which shifts every chunk boundary and evades aligned-chunk dedup
    * entirely) still shares every window of the copied body. Planted
    * shifted clones (3 junk tokens + the text of docs with >= 30 tokens,
    * doc_id < 40, shifted +500000) guarantee the >= 0.5-coverage band is
    * never vacuously empty. Per doc: window count, cross-doc-duplicated
    * window count (digest seen in >= 2 DISTINCT docs — self-repetition
    * inside one doc does not count), coverage fraction, and the longest
    * consecutive duplicated run (the "how long is the copied span"
    * signal RefinedWeb cuts on). Scale shape: stride-1 windows are
    * |tokens| rows per doc — the SAME linear cost as a token explode,
    * just one digest per position; the dup decision is a combinable
    * digest groupBy + one LEFT SEMI back on the digest; the run-length
    * window partitions by doc_id (bounded by doc length), so nothing is
    * quadratic and no global sort exists. */
  val qDedupShift: GQuery = GQuery(
    "q_dedup_shift",
    (spark, dir) => {
      import spark.implicits._
      val w = 20
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 40 && size(split($"text", " ")) >= 30)
          .select(($"doc_id" + 500000L).as("doc_id"),
            concat(lit("qz qx qv "), $"text").as("text")))
      val toks = docs.select($"doc_id", split($"text", " ").as("l"))
        .filter(size($"l") >= w)
      val wins = toks.select($"doc_id",
          posexplode(windowDigests($"l", w)))
        .toDF("doc_id", "pos", "wh")
      val dup = wins.groupBy($"wh")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2)
        .select($"wh")
      val runs = wins.join(dup, Seq("wh"), "left_semi")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"pos")))
        .withColumn("grp", $"pos" - $"rn")
        .groupBy($"doc_id", $"grp")
        .agg(count(lit(1)).as("runlen"))
        .groupBy($"doc_id")
        .agg(max($"runlen").cast("int").as("max_run"),
          sum($"runlen").cast("int").as("n_dup"))
      toks
        .select($"doc_id", (size($"l") - lit(w - 1)).cast("int").as("n_win"))
        .join(runs, Seq("doc_id"))
        .filter($"n_dup".cast("double") / $"n_win".cast("double") >=
          lit(0.5).cast("double"))
        .select($"doc_id", $"n_win", $"n_dup",
          r6($"n_dup".cast("double") / $"n_win".cast("double"))
            .as("dup_frac"),
          $"max_run")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 500000, 'qz qx qv ' || text FROM documents
        WHERE doc_id < 40 AND len(string_split(text, ' ')) >= 30),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs
             WHERE len(string_split(text, ' ')) >= 20),
      wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(l[(i + 1):(i + 20)], ' ')) AS wh
        FROM lt, unnest(generate_series(0, cast(len(l) as int) - 20)) AS t(i)),
      dup AS (SELECT wh FROM wins
              GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      rl AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp,
               pos
        FROM wins WHERE wh IN (SELECT wh FROM dup)),
      runs AS (SELECT doc_id, grp, count(*) AS runlen
               FROM rl GROUP BY doc_id, grp),
      agg AS (SELECT doc_id, cast(max(runlen) as int) AS max_run,
                     cast(sum(runlen) as int) AS n_dup
              FROM runs GROUP BY doc_id)
      SELECT lt.doc_id, cast(len(l) - 19 as int) AS n_win, n_dup,
             ${r6Sql("cast(n_dup as double) / cast(len(l) - 19 as double)")}
               AS dup_frac,
             max_run
      FROM lt JOIN agg ON lt.doc_id = agg.doc_id
      WHERE cast(n_dup as double) / cast(len(l) - 19 as double)
              >= cast(0.5 as double)
      ORDER BY lt.doc_id"""),
  )

  /** MAXIMAL SHARED-SPAN REPORTING (round-12 verdict item 5, the
    * Lee-et-al-style output an excision pass consumes): where
    * [[qDedupShift]] reports per-DOC duplicated-window coverage, this
    * reports per doc-PAIR the maximal contiguous shared spans — stride-1
    * 20-token window hits merged along their alignment DIAGONAL
    * (pa − pb) by gaps-and-islands (the q_decontam_span idiom): hits of
    * one contiguous copied region sit on a single diagonal at consecutive
    * positions, so a planted 3-token-offset clone collapses to ONE row
    * (start_a=0, start_b=3, span = |tokens|) instead of |tokens| window
    * rows. Windows shared by > 50 distinct docs are excluded as
    * boilerplate BEFORE pairing — the df-cap that keeps the pair join
    * linear in genuine clone mass at 100 TB (a stop-window shared by 10⁶
    * docs would otherwise emit 10¹² pairs; a production run tunes the
    * cap, the plan shape is the point). Candidates come ONLY from the
    * window-digest equi-join; spans are per (pair, diagonal) islands —
    * bounded by doc length, nothing quadratic in corpus size. */
  /** Shared pipeline of [[qDedupSpan]] / [[qDedupExcise]]: the planted
    * docs frame and the per-pair maximal diagonal-aligned shared spans
    * (id_a < id_b, start_a/start_b 0-based token offsets, span length in
    * tokens). */
  private def dedupSpanInputs(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val w = 20
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val docs = base.unionByName(
      base.filter($"doc_id" < 30 && size(split($"text", " ")) >= 30)
        .select(($"doc_id" + 870000L).as("doc_id"),
          concat(lit("qz qx qv "), $"text").as("text")))
    val toks = docs.select($"doc_id", split($"text", " ").as("l"))
      .filter(size($"l") >= w)
    val wins = toks.select($"doc_id",
        posexplode(windowDigests($"l", w)))
      .toDF("doc_id", "pos", "wh")
    val shared = wins.groupBy($"wh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2 && $"nd" <= 50)
      .select($"wh")
    val dw = wins.join(shared, Seq("wh"), "left_semi")
    val pairs = dw.as("a").join(dw.as("b"),
        col("a.wh") === col("b.wh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val byDiag = Window.partitionBy($"id_a", $"id_b", $"diag")
      .orderBy($"pa")
    val spans = pairs
      .withColumn("brk",
        when($"pa" - lag($"pa", 1).over(byDiag) > 1, 1L).otherwise(0L))
      .withColumn("isl", sum($"brk").over(byDiag))
      .groupBy($"id_a", $"id_b", $"diag", $"isl")
      .agg(min($"pa").as("sa"), max($"pa").as("ma"))
      .select($"id_a", $"id_b",
        $"sa".cast("long").as("start_a"),
        ($"sa" - $"diag").cast("long").as("start_b"),
        ($"ma" - $"sa" + lit(w)).cast("long").as("span_tokens"))
    (docs, spans)
  }

  val qDedupSpan: GQuery = GQuery(
    "q_dedup_span",
    (spark, dir) => {
      import spark.implicits._
      val (_, spans) = dedupSpanInputs(spark, dir)
      spans.orderBy($"id_a", $"id_b", $"start_a", $"start_b")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 870000, 'qz qx qv ' || text FROM documents
        WHERE doc_id < 30 AND len(string_split(text, ' ')) >= 30),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs
             WHERE len(string_split(text, ' ')) >= 20),
      wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(l[(i + 1):(i + 20)], ' ')) AS wh
        FROM lt, unnest(generate_series(0, cast(len(l) as int) - 20))
          AS t(i)),
      shared AS (SELECT wh FROM wins GROUP BY wh
                 HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
      dw AS MATERIALIZED (
        SELECT doc_id, pos, wh FROM wins
        WHERE wh IN (SELECT wh FROM shared)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, a.pos - b.pos AS diag
        FROM dw a JOIN dw b
          ON a.wh = b.wh AND a.doc_id < b.doc_id),
      brk AS (
        SELECT id_a, id_b, pa, diag,
               CASE WHEN pa - lag(pa) OVER (PARTITION BY id_a, id_b, diag
                 ORDER BY pa) > 1 THEN 1 ELSE 0 END AS b
        FROM pairs),
      isl AS (
        SELECT id_a, id_b, pa, diag,
               sum(b) OVER (PARTITION BY id_a, id_b, diag
                 ORDER BY pa) AS g
        FROM brk)
      SELECT id_a, id_b,
             cast(min(pa) as bigint) AS start_a,
             cast(min(pa) - diag as bigint) AS start_b,
             cast(max(pa) - min(pa) + 20 as bigint) AS span_tokens
      FROM isl
      GROUP BY id_a, id_b, diag, g
      ORDER BY id_a, id_b, start_a, start_b"""),
  )

  /** DUPLICATED-SPAN EXCISION (keep-first at SPAN level — the
    * RefinedWeb/Lee-et-al "remove duplicated text, keep one copy" pass):
    * every maximal shared span from [[qDedupSpan]] is cut from the
    * HIGHER-id document of its pair (the lower id keeps its text), the
    * per-doc covered positions are unioned (a doc duplicating several
    * earlier docs loses each region once), and survivors re-assemble
    * into `clean_text` via the [[qDecontamExcise]] deterministic-order
    * idiom. The planted 3-token-offset clones (+870000) lose their
    * entire copied body and keep exactly the 3-token junk prefix — the
    * excision-correct outcome an aligned-chunk dedup could never
    * produce. Scale shape: spans are pair-island-bounded, the coverage
    * explode is bounded by duplicated token mass, assembly is one
    * groupBy per affected doc. */
  val qDedupExcise: GQuery = GQuery(
    "q_dedup_excise",
    (spark, dir) => {
      import spark.implicits._
      val (docs, spans0) = dedupSpanInputs(spark, dir)
      // the span table is pair-island-bounded (small) but its subtree is
      // the whole window self-join — materialize once; `covered` feeds
      // BOTH the affected-doc semi-join and the token anti-join
      val spans = spans0.localCheckpoint()
      val covered = spans.select($"id_b".as("doc_id"),
        explode(sequence($"start_b".cast("int"),
          ($"start_b" + $"span_tokens" - 1).cast("int"))).as("pos"))
      val affected = covered.select($"doc_id").distinct()
      val toksE = docs.join(affected, Seq("doc_id"), "left_semi")
        .select($"doc_id", posexplode(split($"text", " ")))
        .toDF("doc_id", "pos", "tok")
      val kept = toksE.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("clean_text"))
      val sizes = docs.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      affected
        .join(sizes, Seq("doc_id"))
        .join(kept, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_tokens",
          ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"clean_text", lit("")).as("clean_text"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 870000, 'qz qx qv ' || text FROM documents
        WHERE doc_id < 30 AND len(string_split(text, ' ')) >= 30),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs
             WHERE len(string_split(text, ' ')) >= 20),
      wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(l[(i + 1):(i + 20)], ' ')) AS wh
        FROM lt, unnest(generate_series(0, cast(len(l) as int) - 20))
          AS t(i)),
      shared AS (SELECT wh FROM wins GROUP BY wh
                 HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
      dw AS MATERIALIZED (
        SELECT doc_id, pos, wh FROM wins
        WHERE wh IN (SELECT wh FROM shared)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos AS pa, a.pos - b.pos AS diag
        FROM dw a JOIN dw b
          ON a.wh = b.wh AND a.doc_id < b.doc_id),
      brk AS (
        SELECT id_a, id_b, pa, diag,
               CASE WHEN pa - lag(pa) OVER (PARTITION BY id_a, id_b, diag
                 ORDER BY pa) > 1 THEN 1 ELSE 0 END AS b
        FROM pairs),
      isl AS (
        SELECT id_a, id_b, pa, diag,
               sum(b) OVER (PARTITION BY id_a, id_b, diag
                 ORDER BY pa) AS g
        FROM brk),
      spans AS (
        SELECT id_b AS doc_id,
               cast(min(pa) - diag as int) AS sb,
               cast(max(pa) - min(pa) + 20 as int) AS spl
        FROM isl
        GROUP BY id_a, id_b, diag, g),
      covered AS (
        SELECT DISTINCT doc_id, cast(sb + u as int) AS pos
        FROM spans, unnest(generate_series(0, spl - 1)) AS gg(u)),
      affected AS (SELECT DISTINCT doc_id FROM covered),
      dtoks AS (
        SELECT d.doc_id, cast(i - 1 as int) AS pos, l[i] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM docs) d
        JOIN affected af ON af.doc_id = d.doc_id,
        unnest(generate_series(1, cast(len(l) as int))) AS t(i)),
      kept AS (
        SELECT t.doc_id, cast(count(*) as bigint) AS n_kept,
               string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
        FROM dtoks t LEFT JOIN covered c
          ON c.doc_id = t.doc_id AND c.pos = t.pos
        WHERE c.doc_id IS NULL
        GROUP BY t.doc_id),
      sizes AS (
        SELECT doc_id, cast(len(string_split(text, ' ')) as bigint)
          AS n_tokens
        FROM docs)
      SELECT affected.doc_id, n_tokens,
             n_tokens - coalesce(n_kept, 0) AS n_removed,
             coalesce(n_kept, 0) AS n_kept,
             coalesce(clean_text, '') AS clean_text
      FROM affected
      JOIN sizes ON sizes.doc_id = affected.doc_id
      LEFT JOIN kept ON kept.doc_id = affected.doc_id
      ORDER BY affected.doc_id"""),
  )

  /** Per-source curation dashboard — the mix report a corpus build
    * publishes before training: for every source, its size (docs,
    * tokens), its α=0.5 mixture weight (IDENTICAL numerics to
    * [[qMixWeights]]), its natural share, the implied up/downsampling
    * boost (weight/share), and two dedup-rate columns — exact-copy rate
    * (1 − distinct text digests / docs) and cross-doc duplicated
    * aligned-chunk rate (the [[qDedupPara]] digest, aggregated per
    * source). Planted same-source clones (doc_id < 15, +600000) keep
    * both rates non-vacuous at every SF. Scale shape: everything is one
    * linear pass + combinable groupBys collapsing to a |sources|-row
    * table; the chunk explode is recomputed per consumer in-pipeline
    * (the q_neardup_banded lesson: caching a cheap explode breaks
    * codegen fusion); the scalar totals cross-join is an explicit
    * broadcast. */
  val qMixReport: GQuery = GQuery(
    "q_mix_report",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 15)
          .select($"source", ($"doc_id" + 600000L).as("doc_id"), $"text"))
      val lt = docs.select($"source", $"doc_id", md5($"text").as("th"),
        split($"text", " ").as("l"))
      val ps = lt.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum(size($"l").cast("long")).as("n_tokens"),
          countDistinct($"th").as("n_uniq"))
        .withColumn("w_term", rN(sqrt($"n_docs"), 6).cast(DecimalType(30, 6)))
      val tot = ps.agg(sum($"w_term").as("t"), sum($"n_docs").as("nn"))
      val chunkExpr = expr(
        "transform(sequence(0, cast(ceil(size(l) / 20.0) as int) - 1), " +
          "i -> md5(concat_ws(' ', slice(l, i * 20 + 1, 20))))")
      val chunks = lt.select($"source", $"doc_id", explode(chunkExpr).as("ch"))
      val dup = chunks.groupBy($"ch")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2).select($"ch")
      val ct = chunks.groupBy($"source").agg(count(lit(1)).as("n_chunks"))
      val ca = chunks.join(dup, Seq("ch"), "left_semi")
        .groupBy($"source").agg(count(lit(1)).as("n_dup_chunks"))
      ps.crossJoin(broadcast(tot))
        .join(ct, Seq("source"))
        .join(ca, Seq("source"), "left_outer")
        .select($"source", $"n_docs", $"n_tokens",
          r6($"w_term".cast("double") / $"t".cast("double")).as("weight"),
          r6($"n_docs".cast("double") / $"nn".cast("double")).as("share"),
          r6(($"w_term".cast("double") * $"nn".cast("double")) /
            ($"t".cast("double") * $"n_docs".cast("double"))).as("boost"),
          r6(($"n_docs" - $"n_uniq").cast("double") /
            $"n_docs".cast("double")).as("exact_dup_rate"),
          r6(coalesce($"n_dup_chunks", lit(0L)).cast("double") /
            $"n_chunks".cast("double")).as("chunk_dup_rate"))
        .orderBy($"source")
    },
    Some(s"""
      WITH docs AS (
        SELECT source, doc_id, text FROM documents
        UNION ALL
        SELECT source, doc_id + 600000, text FROM documents
        WHERE doc_id < 15),
      lt AS (SELECT source, doc_id, md5(text) AS th,
                    string_split(text, ' ') AS l FROM docs),
      ps AS (SELECT source, count(*) AS n_docs,
                    cast(sum(len(l)) as bigint) AS n_tokens,
                    count(DISTINCT th) AS n_uniq,
                    cast(${rNSql("sqrt(count(*))", 6)} as decimal(30,6))
                      AS w_term
             FROM lt GROUP BY source),
      tot AS (SELECT sum(w_term) AS t, sum(n_docs) AS nn FROM ps),
      chunks AS (
        SELECT source, doc_id,
               md5(array_to_string(l[(i * 20 + 1):(i * 20 + 20)], ' '))
                 AS ch
        FROM lt, unnest(generate_series(0,
               cast(ceil(len(l) / 20.0) as int) - 1)) AS u(i)),
      dup AS (SELECT ch FROM chunks
              GROUP BY ch HAVING count(DISTINCT doc_id) >= 2),
      ct AS (SELECT source, count(*) AS n_chunks
             FROM chunks GROUP BY source),
      ca AS (SELECT source, count(*) AS n_dup_chunks
             FROM chunks WHERE ch IN (SELECT ch FROM dup) GROUP BY source)
      SELECT ps.source, n_docs, n_tokens,
             ${r6Sql("cast(w_term as double) / cast(t as double)")} AS weight,
             ${r6Sql("cast(n_docs as double) / cast(nn as double)")} AS share,
             ${r6Sql("(cast(w_term as double) * cast(nn as double)) / " +
               "(cast(t as double) * cast(n_docs as double))")} AS boost,
             ${r6Sql("cast(n_docs - n_uniq as double) / " +
               "cast(n_docs as double)")} AS exact_dup_rate,
             ${r6Sql("cast(coalesce(n_dup_chunks, 0) as double) / " +
               "cast(n_chunks as double)")} AS chunk_dup_rate
      FROM ps CROSS JOIN tot
      JOIN ct ON ps.source = ct.source
      LEFT JOIN ca ON ps.source = ca.source
      ORDER BY ps.source"""),
  )

  /** CONTAMINATION SPAN LOCALIZATION — not just WHICH training docs
    * overlap the benchmark ([[qDecontam]]'s doc-level flag) but WHERE:
    * per contaminated doc, the number of overlapping 5-gram windows,
    * how many contiguous SPANS they form, the longest span, and its
    * first token position — the report that lets a pipeline CUT the
    * contaminated span instead of dropping the whole document. Candidate
    * generation is the same digest equi-join as q_decontam (32-byte
    * keys, linear at 100 TB) but POSITIONAL (stride-1 windows, one
    * digest per token position — same linear explode as q_dedup_shift);
    * the span assembly is the pos − row_number run-length trick,
    * partitioned by doc_id (bounded by doc length). Planted shifted-id
    * copies of the benchmark docs guarantee full-coverage hits at every
    * SF. */
  val qDecontamSpan: GQuery = GQuery(
    "q_decontam_span",
    (spark, dir) => {
      import spark.implicits._
      val w = 5
      val toks = tokens(Tables.documents(spark, dir))
        .filter(size($"l") >= w)
      val wins = toks.select($"doc_id",
          posexplode(windowDigests($"l", w)))
        .toDF("doc_id", "pos", "g")
      val bench = wins.filter($"doc_id" < 20).select($"g").distinct()
      val cand = wins.filter($"doc_id" >= 20)
        .unionByName(wins.filter($"doc_id" < 20)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"pos", $"g"))
      val runs = cand.join(bench, Seq("g"), "left_semi")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"pos")))
        .withColumn("grp", $"pos" - $"rn")
        .groupBy($"doc_id", $"grp")
        .agg(count(lit(1)).as("runlen"), min($"pos").as("p0"))
      runs.groupBy($"doc_id")
        .agg(sum($"runlen").cast("int").as("n_contam"),
          count(lit(1)).cast("int").as("n_spans"),
          max($"runlen").cast("int").as("max_run"),
          min($"p0").cast("int").as("first_pos"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH lt AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(l[(i + 1):(i + 5)], ' ')) AS g
        FROM lt, unnest(generate_series(0, cast(len(l) as int) - 5))
          AS t(i)),
      bench AS (SELECT DISTINCT g FROM wins WHERE doc_id < 20),
      cand AS (
        SELECT doc_id, pos, g FROM wins WHERE doc_id >= 20
        UNION ALL
        SELECT doc_id + 1000000, pos, g FROM wins WHERE doc_id < 20),
      hits AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM cand WHERE g IN (SELECT g FROM bench)),
      runs AS (
        SELECT doc_id, grp, count(*) AS runlen, min(pos) AS p0
        FROM hits GROUP BY doc_id, grp)
      SELECT doc_id, cast(sum(runlen) as int) AS n_contam,
             cast(count(*) as int) AS n_spans,
             cast(max(runlen) as int) AS max_run,
             cast(min(p0) as int) AS first_pos
      FROM runs GROUP BY doc_id
      ORDER BY doc_id"""),
  )

  /** CONTAMINATION EXCISION APPLIED — the last step of the decontam
    * story ([[qDecontam]] flags, [[qDecontamSpan]] localizes, this CUTS):
    * per contaminated document, every token covered by a benchmark-
    * overlapping 5-gram window is removed and the surviving tokens are
    * re-assembled into `clean_text` — the output a cut-don't-drop
    * curation pass actually writes. Span token-coverage may overlap
    * between adjacent runs; the kept set is computed per TOKEN (anti-join
    * against exploded covered positions), so no token is double-counted
    * and n_removed + n_kept = n_tokens exactly. Re-assembly is
    * deterministic in both engines: Spark sorts the collected
    * (pos, token) structs (array_sort — collect_list order is NOT
    * deterministic), DuckDB uses string_agg(... ORDER BY pos). Planted
    * full copies of benchmark docs (+1000000) excise to the empty string
    * (n_kept = 0) at every SF — the degenerate all-contaminated path is
    * always exercised. Scale shape: same linear digest equi-join as
    * q_decontam_span; covered-position explode is bounded by contaminated
    * token mass; one groupBy per doc. */
  val qDecontamExcise: GQuery = GQuery(
    "q_decontam_excise",
    (spark, dir) => {
      import spark.implicits._
      val w = 5
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val candDocs = base.filter($"doc_id" >= 20)
        .unionByName(base.filter($"doc_id" < 20)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      def winsOf(d: DataFrame) = d
        .select($"doc_id", split($"text", " ").as("l"))
        .filter(size($"l") >= w)
        .select($"doc_id",
          posexplode(windowDigests($"l", w)))
        .toDF("doc_id", "pos", "g")
      val bench = winsOf(base.filter($"doc_id" < 20)).select($"g").distinct()
      val runs = winsOf(candDocs).join(bench, Seq("g"), "left_semi")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"pos")))
        .withColumn("grp", $"pos" - $"rn")
        .groupBy($"doc_id", $"grp")
        .agg(count(lit(1)).as("runlen"), min($"pos").as("p0"))
      val covered = runs.select($"doc_id",
        explode(sequence($"p0".cast("int"),
          ($"p0" + $"runlen" + lit(3)).cast("int"))).as("pos"))
      val toksE = candDocs
        .select($"doc_id", posexplode(split($"text", " ")))
        .toDF("doc_id", "pos", "tok")
      val kept = toksE.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("clean_text"))
      val sizes = candDocs.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      runs.select($"doc_id").distinct()
        .join(sizes, Seq("doc_id"))
        .join(kept, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_tokens",
          ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"clean_text", lit("")).as("clean_text"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, text FROM documents),
      cand AS (
        SELECT doc_id, text FROM base WHERE doc_id >= 20
        UNION ALL
        SELECT doc_id + 1000000, text FROM base WHERE doc_id < 20),
      blt AS (SELECT doc_id, string_split(text, ' ') AS l FROM base
              WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 5),
      bench AS (
        SELECT DISTINCT md5(array_to_string(l[(i + 1):(i + 5)], ' ')) AS g
        FROM blt, unnest(generate_series(0, cast(len(l) as int) - 5))
          AS t(i)),
      clt AS (SELECT doc_id, string_split(text, ' ') AS l FROM cand),
      wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(l[(i + 1):(i + 5)], ' ')) AS g
        FROM clt, unnest(generate_series(0, cast(len(l) as int) - 5))
          AS t(i)
        WHERE len(l) >= 5),
      hits AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM wins WHERE g IN (SELECT g FROM bench)),
      runs AS (
        SELECT doc_id, grp, count(*) AS runlen, min(pos) AS p0
        FROM hits GROUP BY doc_id, grp),
      covered AS (
        SELECT DISTINCT doc_id, cast(p0 + u as int) AS pos
        FROM runs, unnest(generate_series(0,
          cast(runlen + 3 as int))) AS g(u)),
      toks AS (
        SELECT doc_id, cast(i - 1 as int) AS pos, l[i] AS tok
        FROM clt, unnest(generate_series(1, cast(len(l) as int))) AS t(i)),
      kept AS (
        SELECT t.doc_id, cast(count(*) as bigint) AS n_kept,
               string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text
        FROM toks t LEFT JOIN covered c
          ON c.doc_id = t.doc_id AND c.pos = t.pos
        WHERE c.doc_id IS NULL
        GROUP BY t.doc_id),
      sizes AS (SELECT doc_id, cast(len(l) as bigint) AS n_tokens FROM clt),
      contam AS (SELECT DISTINCT doc_id FROM runs)
      SELECT contam.doc_id, n_tokens,
             n_tokens - coalesce(n_kept, 0) AS n_removed,
             coalesce(n_kept, 0) AS n_kept,
             coalesce(clean_text, '') AS clean_text
      FROM contam
      JOIN sizes ON sizes.doc_id = contam.doc_id
      LEFT JOIN kept ON kept.doc_id = contam.doc_id
      ORDER BY contam.doc_id"""),
  )

  /** DEDUP CASCADE FUNNEL — the stage-by-stage accounting report of a
    * multi-pass dedup pipeline: exact (md5 of raw text) → canonical
    * (lowercase + whitespace-collapse + trim, [[qDedupNorm]]'s key) →
    * 20-token-prefix near-dup (the cheap "same opening" heuristic), each
    * stage running only on the previous stage's survivors. Output is one
    * row per stage with n_in / n_out / n_removed — the funnel a curation
    * dashboard publishes. Plants one clone family per stage (verbatim
    * copy, leading-space copy, same-prefix-different-tail copy) so every
    * stage removes rows at every SF. Scale shape: ONE pass derives all
    * three 32-byte digests per row; the three survivor flags are windows
    * over digest partitions (shuffles carry digests + id, never text);
    * the later-stage flags reuse the earlier ones via
    * `min(CASE WHEN k THEN doc_id END) OVER (PARTITION BY next_key)` —
    * no sequential anti-joins, no per-stage re-scan; the funnel rows come
    * from exploding a 3-struct array off the single agg row (the
    * documents table is scanned exactly once). */
  private def mkDedupCascade(name: String, expand: Int = 1): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = ScaleOps.xdocs(
        Tables.documents(spark, dir).select($"doc_id", $"text"), expand)
      val docs = base
        .unionByName(base.filter($"doc_id" < 25)
          .select(($"doc_id" + 700000L).as("doc_id"), $"text"))
        .unionByName(base.filter($"doc_id" < 20)
          .select(($"doc_id" + 710000L).as("doc_id"),
            concat(lit(" "), $"text").as("text")))
        .unionByName(base
          .filter($"doc_id" < 15 && size(split($"text", " ")) >= 20)
          .select(($"doc_id" + 720000L).as("doc_id"),
            concat(concat_ws(" ", slice(split($"text", " "), 1, 20)),
              lit(" zzq tail "), $"doc_id".cast("string")).as("text")))
      val keyed = docs.select($"doc_id",
        md5($"text".cast("binary")).as("th"),
        md5(trim(regexp_replace(lower($"text"), "\\s+", " "))
          .cast("binary")).as("ch"),
        md5(concat_ws(" ", slice(split($"text", " "), 1, 20))
          .cast("binary")).as("ph"))
      val flagged = keyed
        .withColumn("k1",
          $"doc_id" === min($"doc_id").over(Window.partitionBy($"th")))
        .withColumn("k2", $"k1" && $"doc_id" ===
          min(when($"k1", $"doc_id")).over(Window.partitionBy($"ch")))
        .withColumn("k3", $"k2" && $"doc_id" ===
          min(when($"k2", $"doc_id")).over(Window.partitionBy($"ph")))
      flagged.agg(
          count(lit(1)).as("n0"),
          count(when($"k1", lit(1))).as("n1"),
          count(when($"k2", lit(1))).as("n2"),
          count(when($"k3", lit(1))).as("n3"))
        .select(explode(array(
          struct(lit(1).as("stage"), lit("exact").as("rule"),
            $"n0".as("n_in"), $"n1".as("n_out")),
          struct(lit(2).as("stage"), lit("canonical").as("rule"),
            $"n1".as("n_in"), $"n2".as("n_out")),
          struct(lit(3).as("stage"), lit("prefix20").as("rule"),
            $"n2".as("n_in"), $"n3".as("n_out")))).as("s"))
        .select($"s.stage".as("stage"), $"s.rule".as("rule"),
          $"s.n_in".as("n_in"), $"s.n_out".as("n_out"),
          ($"s.n_in" - $"s.n_out").as("n_removed"))
        .orderBy($"stage")
    },
    Some(s"""
      WITH xb AS (${ScaleOps.xdocsSql(1000000L, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 700000, text FROM xb WHERE doc_id < 25
        UNION ALL
        SELECT doc_id + 710000, ' ' || text FROM xb
        WHERE doc_id < 20
        UNION ALL
        SELECT doc_id + 720000,
               array_to_string((string_split(text, ' '))[1:20], ' ')
                 || ' zzq tail ' || doc_id
        FROM xb
        WHERE doc_id < 15 AND len(string_split(text, ' ')) >= 20),
      keyed AS (
        SELECT doc_id, md5(text) AS th,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 AS ch,
               md5(array_to_string((string_split(text, ' '))[1:20], ' '))
                 AS ph
        FROM docs),
      f1 AS (SELECT *, (doc_id = min(doc_id) OVER (PARTITION BY th)) AS k1
             FROM keyed),
      f2 AS (SELECT *, (k1 AND doc_id =
               min(CASE WHEN k1 THEN doc_id END) OVER (PARTITION BY ch))
               AS k2 FROM f1),
      f3 AS (SELECT *, (k2 AND doc_id =
               min(CASE WHEN k2 THEN doc_id END) OVER (PARTITION BY ph))
               AS k3 FROM f2),
      agg AS (SELECT count(*) AS n0,
                     count(CASE WHEN k1 THEN 1 END) AS n1,
                     count(CASE WHEN k2 THEN 1 END) AS n2,
                     count(CASE WHEN k3 THEN 1 END) AS n3
              FROM f3)
      SELECT 1 AS stage, 'exact' AS rule, n0 AS n_in, n1 AS n_out,
             n0 - n1 AS n_removed FROM agg
      UNION ALL
      SELECT 2, 'canonical', n1, n2, n1 - n2 FROM agg
      UNION ALL
      SELECT 3, 'prefix20', n2, n3, n2 - n3 FROM agg
      ORDER BY stage"""),
  )

  val qDedupCascade: GQuery = mkDedupCascade("q_dedup_cascade")

  /** x10-generated-corpus scaling twin (round-12 verdict item 2): same
    * funnel over ~50,000 docs at sf0.1 — the third scaling point. */
  val qDedupCascadeXxl: GQuery = mkDedupCascade("q_dedup_cascade_xxl", 10)

  /** CCNET-STYLE QUALITY TERCILES — bin documents into head / middle /
    * tail WITHIN each language by a deterministic quality proxy (scaled
    * chars-per-token, integer `div` so the ordering key is exact in both
    * engines), then report per-(lang, bin) document counts, token mass,
    * and mean score — the language-stratified quality binning CCNet runs
    * before choosing which bins to train on. NTILE(3) follows the SQL
    * standard in both engines (earlier buckets take the remainder rows)
    * and the ORDER BY carries a doc_id tiebreak, so bucket assignment is
    * total-order deterministic. Scale shape: one linear pass for the
    * score, one shuffle partitioned BY LANGUAGE for the ntile sort
    * (parallelism = |langs|; at 100 TB swap ntile for percentile-based
    * cutpoints if one language dominates), one combinable groupBy. */
  val qCcnetBins: GQuery = GQuery(
    "q_ccnet_bins",
    (spark, dir) => {
      import spark.implicits._
      val scored = Tables.documents(spark, dir)
        .select($"lang", $"doc_id",
          size(split($"text", " ")).cast("long").as("n_tokens"),
          expr("(n_chars * 1000) div " +
            "cast(size(split(text, ' ')) as bigint)").as("score"))
      scored
        .withColumn("bin", ntile(3).over(
          Window.partitionBy($"lang").orderBy($"score", $"doc_id")))
        .groupBy($"lang", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("sum_tokens"),
          davg($"score".cast("double")).as("avg_score"))
        .orderBy($"lang", $"bin")
    },
    Some(s"""
      WITH scored AS (
        SELECT lang, doc_id,
               cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
               (n_chars * 1000)
                 // cast(len(string_split(text, ' ')) as bigint) AS score
        FROM documents),
      binned AS (
        SELECT lang, n_tokens, score,
               cast(ntile(3) OVER (PARTITION BY lang
                 ORDER BY score, doc_id) as int) AS bin
        FROM scored)
      SELECT lang, bin, count(*) AS n_docs,
             cast(sum(n_tokens) as bigint) AS sum_tokens,
             ${davgSql("cast(score as double)")} AS avg_score
      FROM binned
      GROUP BY lang, bin
      ORDER BY lang, bin"""),
  )

  /** TOKEN-BUDGET EPOCH PLAN — the data-constrained mixing recipe: given
    * the α=0.5 mixture weights ([[qMixWeights]]'s exact numerics) and a
    * training budget of 4× the corpus token mass, each source's target
    * token allocation implies a repetition factor (epochs = target /
    * available); sources whose target exceeds the 4-epoch repetition cap
    * are clipped and the report carries their unmet deficit — exactly the
    * per-source plan a data-constrained training run publishes. All
    * arithmetic flows from two deterministic staged inputs (the r6'd
    * weight and the exact long token totals, both < 2^53 so their double
    * images are exact), so every derived column is one fixed IEEE
    * expression — bit-identical cross-engine with no sum-order exposure.
    * Scale shape: one combinable groupBy to a |sources|-row table, one
    * broadcast scalar agg; the plan itself costs one linear pass. */
  val qEpochPlan: GQuery = GQuery(
    "q_epoch_plan",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.documents(spark, dir)
        .select($"source", size(split($"text", " ")).cast("long").as("tok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"))
        .withColumn("w_term", rN(sqrt($"n_docs"), 6).cast(DecimalType(30, 6)))
      val tot = c.agg(sum($"w_term").as("t"), sum($"n_tokens").as("tt"))
      c.crossJoin(broadcast(tot))
        .withColumn("weight", r6($"w_term".cast("double") / $"t".cast("double")))
        .withColumn("target_tokens",
          rN($"weight" * ($"tt".cast("double") * lit(4.0)), 2))
        .withColumn("epochs_raw",
          r6($"target_tokens" / $"n_tokens".cast("double")))
        .withColumn("epochs", least($"epochs_raw", lit(4.0)))
        .select($"source", $"n_tokens", $"weight", $"target_tokens",
          $"epochs_raw", $"epochs",
          rN($"epochs" * $"n_tokens".cast("double"), 2).as("planned_tokens"),
          rN($"target_tokens" -
            rN($"epochs" * $"n_tokens".cast("double"), 2), 2).as("deficit"))
        .orderBy($"source")
    },
    Some(s"""
      WITH c AS (
        SELECT source, count(*) AS n_docs,
               cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens,
               cast(${rNSql("sqrt(count(*))", 6)} as decimal(30,6)) AS w_term
        FROM documents GROUP BY source),
      t AS (SELECT sum(w_term) AS t, sum(n_tokens) AS tt FROM c),
      w AS (
        SELECT source, n_tokens,
               ${r6Sql("cast(w_term as double) / cast(t as double)")}
                 AS weight,
               cast(tt as double) AS ttd
        FROM c CROSS JOIN t),
      p AS (
        SELECT source, n_tokens, weight,
               ${rNSql("weight * (ttd * cast(4.0 as double))", 2)}
                 AS target_tokens
        FROM w),
      e AS (
        SELECT source, n_tokens, weight, target_tokens,
               ${r6Sql("target_tokens / cast(n_tokens as double)")}
                 AS epochs_raw
        FROM p),
      f AS (
        SELECT *, least(epochs_raw, cast(4.0 as double)) AS epochs FROM e)
      SELECT source, n_tokens, weight, target_tokens, epochs_raw, epochs,
             ${rNSql("epochs * cast(n_tokens as double)", 2)}
               AS planned_tokens,
             ${rNSql(
               s"target_tokens - (${rNSql("epochs * cast(n_tokens as double)", 2)})",
               2)} AS deficit
      FROM f
      ORDER BY source"""),
  )

  /** RAG CHUNK PLAN — overlapping-window chunking accounting (size 100
    * tokens, stride 80, i.e. 20-token overlap): per source, how many
    * chunks an ingest pass will emit, the total chunked token mass, and
    * the expansion ratio the overlap costs. Chunk emission follows the
    * standard rule (emit [s, s+99]; stop once the chunk reaches the end),
    * so a document never emits a chunk fully contained in the previous
    * one: n_chunks = 1 for n ≤ 100, else (n−21) div 80 + 1, and the
    * chunked mass is n + 20·(n_chunks−1) — ALL closed-form integer
    * arithmetic per row (integer `div`/`//`, the round-9 quotient
    * contract): no explode, no window, zero pre-agg shuffles. The
    * per-source rollup is one combinable groupBy — at 100 TB this is a
    * metadata-only planning pass over the corpus, which is the point:
    * you cost the chunk step before running it. */
  val qChunkPlan: GQuery = GQuery(
    "q_chunk_plan",
    (spark, dir) => {
      import spark.implicits._
      val perDoc = Tables.documents(spark, dir)
        .select($"source",
          size(split($"text", " ")).cast("long").as("n"))
        .withColumn("n_chunks",
          when($"n" <= 100L, lit(1L))
            .otherwise(expr("(n - 21) div 80") + lit(1L)))
        .withColumn("chunk_tokens", $"n" + lit(20L) * ($"n_chunks" - 1L))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n").as("n_tokens"),
          sum($"n_chunks").as("n_chunks"),
          sum($"chunk_tokens").as("chunk_tokens"),
          max($"n_chunks").cast("long").as("max_chunks"))
        .withColumn("expansion",
          r6($"chunk_tokens".cast("double") / $"n_tokens".cast("double")))
        .orderBy($"source")
    },
    Some(s"""
      WITH perdoc AS (
        SELECT source,
               cast(len(string_split(text, ' ')) as bigint) AS n
        FROM documents),
      ch AS (
        SELECT source, n,
               CASE WHEN n <= 100 THEN 1
                    ELSE (n - 21) // 80 + 1 END AS n_chunks
        FROM perdoc),
      m AS (SELECT source, n, n_chunks,
                   n + 20 * (n_chunks - 1) AS chunk_tokens
            FROM ch)
      SELECT source, count(*) AS n_docs,
             cast(sum(n) as bigint) AS n_tokens,
             cast(sum(n_chunks) as bigint) AS n_chunks,
             cast(sum(chunk_tokens) as bigint) AS chunk_tokens,
             cast(max(n_chunks) as bigint) AS max_chunks,
             ${r6Sql("cast(sum(chunk_tokens) as double) / " +
               "cast(sum(n) as double)")} AS expansion
      FROM m
      GROUP BY source
      ORDER BY source"""),
  )

  /** TRAIN/VAL SPLIT LEAKAGE QC — after a deterministic 80/10/10 hash
    * split, count the val documents that share at least one aligned
    * 20-token chunk digest with ANY train document — the
    * dedup-across-splits check an eval pipeline must run before trusting
    * its val loss. The split bucket is the portable md5 hash
    * (conv-substr idiom), NOT [[qSplit]]'s multiplicative hash: the
    * fixture assigns doc_id ≡ source (mod 20), and a multiplier ending
    * in 1 makes `(id·2654435761) % 10 ≡ id % 10` — whole sources would
    * land in one split (a real production trap: a Fibonacci-ish
    * multiplier is only a mixer if the modulus shares no factor with
    * it). Planted leaks: every train doc with doc_id < 15 gets a
    * verbatim clone injected into val (curated-val-set shape), so the
    * leak count is non-vacuous at every SF. Scale shape: chunk digests
    * are one linear explode; the leak decision is a digest EQUI-join
    * (distinct train digest set → left-semi from the val side, 32-byte
    * shuffle keys); counts are combinable groupBys to a |sources|-row
    * report covering every source (test-only rows keep zeros). */
  val qSplitLeakage: GQuery = GQuery(
    "q_split_leakage",
    (spark, dir) => {
      import spark.implicits._
      val bucket =
        conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 10
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
        .withColumn("part",
          when(bucket < 8, "train").when(bucket < 9, "val")
            .otherwise("test"))
      val planted = base.filter($"doc_id" < 15 && $"part" === "train")
        .select($"source", ($"doc_id" + 740000L).as("doc_id"), $"text",
          lit("val").as("part"))
      val docs = base.unionByName(planted)
      val lt = docs.filter($"part" =!= "test")
        .select($"part", $"source", $"doc_id", split($"text", " ").as("l"))
      val chunkExpr = expr(
        "transform(sequence(0, cast(ceil(size(l) / 20.0) as int) - 1), " +
          "i -> md5(concat_ws(' ', slice(l, i * 20 + 1, 20))))")
      val chunks = lt.select($"part", $"source", $"doc_id",
        explode(chunkExpr).as("ch"))
      val trainCh = chunks.filter($"part" === "train")
        .select($"ch").distinct()
      val leaky = chunks.filter($"part" === "val")
        .join(trainCh, Seq("ch"), "left_semi")
        .select($"source", $"doc_id").distinct()
        .groupBy($"source").agg(count(lit(1)).as("n_leaky"))
      val counts = docs.groupBy($"source").agg(
        count(when($"part" === "train", lit(1))).as("n_train"),
        count(when($"part" === "val", lit(1))).as("n_val"))
      counts.join(leaky, Seq("source"), "left_outer")
        .select($"source", $"n_train", $"n_val",
          coalesce($"n_leaky", lit(0L)).as("n_leaky"),
          // a source can have zero val docs (the hash split is not
          // stratified) — ANSI division would throw, so gate the rate
          when($"n_val" > 0,
            r6(coalesce($"n_leaky", lit(0L)).cast("double") /
              $"n_val".cast("double")))
            .otherwise(lit(0.0)).as("leak_rate"))
        .orderBy($"source")
    },
    Some("""
      WITH base AS (
        SELECT source, doc_id, text,
               CASE WHEN ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))
                           ::BIGINT % 10 < 8 THEN 'train'
                    WHEN ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))
                           ::BIGINT % 10 < 9 THEN 'val'
                    ELSE 'test' END AS part
        FROM documents),
      docs AS (
        SELECT source, doc_id, text, part FROM base
        UNION ALL
        SELECT source, doc_id + 740000, text, 'val' FROM base
        WHERE doc_id < 15 AND part = 'train'),
      lt AS (SELECT part, source, doc_id, string_split(text, ' ') AS l
             FROM docs WHERE part <> 'test'),
      chunks AS (
        SELECT part, source, doc_id,
               md5(array_to_string(l[(i * 20 + 1):(i * 20 + 20)], ' '))
                 AS ch
        FROM lt, unnest(generate_series(0,
               cast(ceil(len(l) / 20.0) as int) - 1)) AS u(i)),
      trainch AS (SELECT DISTINCT ch FROM chunks WHERE part = 'train'),
      leaky AS (
        SELECT source, count(*) AS n_leaky FROM (
          SELECT DISTINCT source, doc_id FROM chunks
          WHERE part = 'val' AND ch IN (SELECT ch FROM trainch)) lk
        GROUP BY source),
      counts AS (
        SELECT source,
               count(CASE WHEN part = 'train' THEN 1 END) AS n_train,
               count(CASE WHEN part = 'val' THEN 1 END) AS n_val
        FROM docs GROUP BY source)
      SELECT c.source, n_train, n_val,
             coalesce(n_leaky, 0) AS n_leaky,
             CASE WHEN n_val > 0 THEN
               floor((cast(coalesce(n_leaky, 0) as double) /
                 cast(n_val as double)) * 1e6 + 0.5) / 1e6
             ELSE cast(0.0 as double) END AS leak_rate
      FROM counts c LEFT JOIN leaky l ON c.source = l.source
      ORDER BY c.source"""),
  )

  /** KEYWORD-BUCKET TOPIC TAGGING — assign every document the topic
    * whose keyword list it hits most (tie → fixed CASE order), then
    * report the per-(source, topic) composition: the cheap taxonomy
    * tagging pass a mixing pipeline runs to steer domain weights. All
    * scoring is a per-row higher-order filter over the one token split
    * (integer hit counts, no shuffle before the final combinable
    * groupBy); both engines evaluate the same lambda + CASE. */
  val qTopicTag: GQuery = GQuery(
    "q_topic_tag",
    (spark, dir) => {
      import spark.implicits._
      val lt = Tables.documents(spark, dir)
        .select($"source", split($"text", " ").as("l"))
        .withColumn("c_join",
          expr("size(filter(l, x -> x IN ('join','merge','hash','key')))"))
        .withColumn("c_stream",
          expr("size(filter(l, x -> x IN ('stream','window','batch','spark')))"))
        .withColumn("c_scan",
          expr("size(filter(l, x -> x IN ('scan','filter','sort','table')))"))
      val best = greatest($"c_join", $"c_stream", $"c_scan")
      lt.withColumn("topic",
          when($"c_join" === best, "joins")
            .when($"c_stream" === best, "streaming")
            .otherwise("scans"))
        .groupBy($"source", $"topic")
        .agg(count(lit(1)).as("n_docs"),
          davg(best.cast("double")).as("avg_hits"))
        .orderBy($"source", $"topic")
    },
    Some(s"""
      WITH sc AS (
        SELECT source,
               len(list_filter(l, x -> x IN ('join','merge','hash','key')))
                 AS c_join,
               len(list_filter(l, x ->
                 x IN ('stream','window','batch','spark'))) AS c_stream,
               len(list_filter(l, x ->
                 x IN ('scan','filter','sort','table'))) AS c_scan
        FROM (SELECT source, string_split(text, ' ') AS l
              FROM documents) lt),
      tagged AS (
        SELECT source,
               greatest(c_join, c_stream, c_scan) AS best,
               CASE WHEN c_join = greatest(c_join, c_stream, c_scan)
                      THEN 'joins'
                    WHEN c_stream = greatest(c_join, c_stream, c_scan)
                      THEN 'streaming'
                    ELSE 'scans' END AS topic
        FROM sc)
      SELECT source, topic, count(*) AS n_docs,
             ${davgSql("cast(best as double)")} AS avg_hits
      FROM tagged
      GROUP BY source, topic
      ORDER BY source, topic"""),
  )

  /** PADDING-WASTE PLAN — the pack-vs-pad tradeoff dashboard: in the
    * one-document-per-sequence regime (no cross-doc packing), each doc
    * occupies ceil(n/2048) context windows and the tail of its last
    * window is padding. Per source: windows, padded token slots, and
    * utilization — read AGAINST [[qPack]] (cross-doc packing, zero pad)
    * to cost the packing decision. Closed-form integer arithmetic per
    * row (`div`/`//`), one combinable groupBy; like [[qChunkPlan]] this
    * prices the batch-construction step without running it. */
  val qPadWaste: GQuery = GQuery(
    "q_pad_waste",
    (spark, dir) => {
      import spark.implicits._
      val perDoc = Tables.documents(spark, dir)
        .select($"source",
          size(split($"text", " ")).cast("long").as("n"))
        .withColumn("n_win", expr("(n - 1) div 2048") + lit(1L))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n").as("n_tokens"),
          sum($"n_win").as("n_windows"),
          sum($"n_win" * lit(2048L) - $"n").as("pad_slots"))
        .withColumn("utilization",
          r6($"n_tokens".cast("double") /
            ($"n_windows" * lit(2048L)).cast("double")))
        .orderBy($"source")
    },
    Some(s"""
      WITH perdoc AS (
        SELECT source,
               cast(len(string_split(text, ' ')) as bigint) AS n
        FROM documents),
      w AS (SELECT source, n, (n - 1) // 2048 + 1 AS n_win FROM perdoc)
      SELECT source, count(*) AS n_docs,
             cast(sum(n) as bigint) AS n_tokens,
             cast(sum(n_win) as bigint) AS n_windows,
             cast(sum(n_win * 2048 - n) as bigint) AS pad_slots,
             ${r6Sql("cast(sum(n) as double) / " +
               "cast(sum(n_win) * 2048 as double)")} AS utilization
      FROM w
      GROUP BY source
      ORDER BY source"""),
  )

  /** EVAL-SHARD × SOURCE CONTAMINATION MATRIX — not just WHICH training
    * docs overlap the benchmark ([[qDecontam]]) or WHERE ([[qDecontamSpan]])
    * but FROM WHERE: the benchmark is split into 4 shards (doc_id % 4)
    * and every (shard, source) cell reports how many training documents
    * of that source hit that shard and with how many shared 5-grams —
    * the report that tells a curation team which SOURCE leaked which
    * EVAL SET (one mirrored source usually explains one contaminated
    * shard). Same linear digest equi-join as q_decontam (32-byte keys),
    * just with shard and source carried through; the matrix is
    * |shards|·|sources| rows. Shifted-id copies of the bench docs keep
    * every shard's column non-vacuous. */
  val qContamMatrix: GQuery = GQuery(
    "q_contam_matrix",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.documents(spark, dir)
        .select($"source", $"doc_id", split($"text", " ").as("l"))
        .select($"source", $"doc_id",
          explode(ngramDigests($"l", 5)).as("g"))
      val bench = g.filter($"doc_id" < 20)
        .select(($"doc_id" % 4).cast("int").as("shard"), $"g").distinct()
      val cand = g.filter($"doc_id" >= 20)
        .unionByName(g.filter($"doc_id" < 20)
          .select($"source", ($"doc_id" + 1000000L).as("doc_id"), $"g"))
      cand.join(bench, "g")
        .groupBy($"shard", $"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_grams"))
        .orderBy($"shard", $"source")
    },
    Some(s"""
      WITH grams AS (
        -- DISTINCT matches the fused ngram_digests kernel's per-row dedup
        SELECT DISTINCT d.source, g.doc_id, md5(g.g) AS g
        FROM (${gramsSql(5)}) g JOIN documents d ON g.doc_id = d.doc_id),
      bench AS (SELECT DISTINCT cast(doc_id % 4 as int) AS shard, g
                FROM grams WHERE doc_id < 20),
      cand AS (
        SELECT source, doc_id, g FROM grams WHERE doc_id >= 20
        UNION ALL
        SELECT source, doc_id + 1000000, g FROM grams WHERE doc_id < 20)
      SELECT shard, source, count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_grams
      FROM cand JOIN bench USING (g)
      GROUP BY shard, source
      ORDER BY shard, source"""),
  )

  /** QUOTA SAMPLING (language rebalance to TARGETS) — unlike
    * [[graft.operators.LlmOps.qSampleStrat]]'s fixed keep rates, the
    * rates here are COMPUTED from a target mix: every language is
    * budgeted 15% of the corpus (targets: uniform-ish rebalance of a
    * skewed-lang corpus), the keep rate is the integer percentage
    * least(100, 100·target div n_lang), and the kept set is the
    * deterministic md5 bucket — so the plan is reproducible and
    * partitioning-independent end to end. Reports target, rate, and the
    * ACHIEVED count per language (the verify column a rebalance run
    * publishes — bucket granularity means achieved ≈ target, not =).
    * Scale: one combinable lang count, a broadcast 1-row total and a
    * broadcast |langs|-row rate table; the keep decision is a per-row
    * expression. */
  val qSampleTopup: GQuery = GQuery(
    "q_sample_topup",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"lang")
      val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum($"n_docs").as("n"))
      val rates = byLang.crossJoin(broadcast(tot))
        .withColumn("target_n", expr("(n * 15) div 100"))
        .withColumn("rate_pct",
          least(lit(100L), expr("(target_n * 100) div n_docs")))
        .select($"lang", $"n_docs", $"target_n", $"rate_pct")
      val bucket =
        conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 100
      val kept = docs.join(broadcast(rates), Seq("lang"))
        .filter(bucket < $"rate_pct")
        .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("lang"), "left_outer")
        .select($"lang", $"n_docs", $"target_n", $"rate_pct",
          coalesce($"n_kept", lit(0L)).as("n_kept"))
        .orderBy($"lang")
    },
    Some("""
      WITH bylang AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      tot AS (SELECT sum(n_docs) AS n FROM bylang),
      rates AS (
        SELECT lang, n_docs,
               (n * 15) // 100 AS target_n,
               least(100, (((n * 15) // 100) * 100) // n_docs) AS rate_pct
        FROM bylang CROSS JOIN tot),
      kept AS (
        SELECT d.lang, count(*) AS n_kept
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE ('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 8))
                ::BIGINT % 100 < r.rate_pct
        GROUP BY d.lang)
      SELECT r.lang, cast(n_docs as bigint) AS n_docs,
             cast(target_n as bigint) AS target_n,
             cast(rate_pct as bigint) AS rate_pct,
             cast(coalesce(n_kept, 0) as bigint) AS n_kept
      FROM rates r LEFT JOIN kept k ON r.lang = k.lang
      ORDER BY r.lang"""),
  )

  // -------------------------------------------------------------------
  // Model-scored quality gate (round-12: the fastText-classifier pipeline
  // shape with a declared, hash-matched instance)
  // -------------------------------------------------------------------

  /** Planted quality-classifier coefficients for [[qModelGate]] — PUBLIC
    * so MlSpec can rebuild the identical binary LogisticRegressionModel
    * via ModelExport.importLogistic and tie the relational margins to
    * model.transform bit-for-bit (f2jBLAS dot is a sequential fold, so
    * the SQL chain w0·f0 + w1·f1 + w2·f2 + w3·f3, THEN + intercept,
    * reproduces its exact IEEE op order). Feature space: f0 = tokens/100,
    * f1 = mean word length, f2 = stopword-token fraction, f3 =
    * letter-word fraction — every feature is an integer-derived single
    * IEEE division, bit-identical cross-engine. Intercept -5.6 puts the
    * organic corpus on both sides of the boundary (~94% keep). */
  val gateWeights: Array[Double] = Array(0.02, 0.8, 3.0, 2.0)
  val gateIntercept: Double = -5.6

  /** Per-doc gate features over a (source, doc_id, text) frame. */
  def gateFeatures(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"), col("text"),
        split(col("text"), " ").as("l"))
      .select(col("source"), col("doc_id"),
        (size(col("l")).cast("double") / lit(100.0)).as("f0"),
        (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
          .cast("double") / size(col("l")).cast("double")).as("f1"),
        (expr("size(filter(l, t -> array_contains(array('the','and','of'," +
          "'to','in','a','is','it'), t)))").cast("double") /
          size(col("l")).cast("double")).as("f2"),
        (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
          size(col("l")).cast("double")).as("f3"))

  /** The model's raw margin (decision value) over [[gateFeatures]]
    * columns, in f2jBLAS dot order: ((w0f0 + w1f1) + w2f2) + w3f3, then
    * + intercept. keep ⇔ margin > 0 ⇔ P(keep) > 0.5. */
  def gateMargin: Column =
    (lit(gateWeights(0)) * col("f0") + lit(gateWeights(1)) * col("f1") +
      lit(gateWeights(2)) * col("f2") + lit(gateWeights(3)) * col("f3")) +
      lit(gateIntercept)

  /** MODEL-SCORED QUALITY GATE — the fastText/classifier curation stage
    * (CCNet, Llama-style quality filters) run RELATIONALLY: a trained
    * binary logistic model's coefficients are a tiny constant table (here
    * planted literals; in production [[graft.ml.ModelExport]] exports
    * them from any fitted model), the margin is a fixed-order codegen'd
    * expression chain over per-doc features, and the gate is margin > 0
    * (= probability 0.5). No MLlib transform in the hot path — scoring a
    * 100 TB corpus is ONE linear scan with the coefficients folded into
    * the expression, and the oracle can hash-match it because every
    * feature is an integer-derived IEEE division and the dot product is
    * a literal left-assoc chain (the round-6 contract). Per-source
    * rollup: docs, keeps, keep rate, decimal-staged mean margin. MlSpec
    * ties the margins to ModelExport.importLogistic(...).transform
    * bit-for-bit — the declared plan IS the model. */
  val qModelGate: GQuery = GQuery(
    "q_model_gate",
    (spark, dir) => {
      import spark.implicits._
      val feat = gateFeatures(
        Tables.documents(spark, dir).select($"source", $"doc_id", $"text"))
      feat.select($"source", gateMargin.as("m"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"m" > 0.0, 1L).otherwise(0L)).as("n_keep"),
          davg(rN($"m", 6)).as("avg_margin"))
        .select($"source", $"n_docs", $"n_keep",
          r6($"n_keep".cast("double") / $"n_docs".cast("double"))
            .as("keep_rate"),
          $"avg_margin")
        .orderBy($"source")
    },
    Some {
      val m = "((((cast(0.02 as double) * f0) + (cast(0.8 as double) * f1))" +
        " + (cast(3.0 as double) * f2)) + (cast(2.0 as double) * f3))" +
        " + cast(-5.6 as double)"
      s"""
      WITH lt AS (
        SELECT source, doc_id, string_split(text, ' ') AS l
        FROM documents),
      feat AS (
        SELECT source,
          cast(len(l) as double) / cast(100.0 as double) AS f0,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS f1,
          cast(len(list_filter(l, t -> list_contains(
            ['the','and','of','to','in','a','is','it'], t))) as double)
            / cast(len(l) as double) AS f2,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS f3
        FROM lt),
      scored AS (SELECT source, ($m) AS m FROM feat)
      SELECT source, cast(count(*) as bigint) AS n_docs,
             cast(sum(CASE WHEN m > cast(0.0 as double) THEN 1 ELSE 0 END)
               as bigint) AS n_keep,
             ${r6Sql("cast(sum(CASE WHEN m > cast(0.0 as double) THEN 1 " +
               "ELSE 0 END) as double) / cast(count(*) as double)")}
               AS keep_rate,
             ${davgSql(rNSql("m", 6))} AS avg_margin
      FROM scored GROUP BY source
      ORDER BY source"""
    },
  )

  /** GATE CALIBRATION — the "QC of the QC" a pipeline publishes before
    * trusting a learned quality classifier: bucket documents by the
    * [[qModelGate]] margin (fixed 0.1-width bins — data-independent
    * edges, so the binning is total-order deterministic and shardable,
    * unlike quantile bins) and report each bin's [[qGopherRules]]
    * all-rules pass rate. A healthy classifier's curve RISES with the
    * margin — rule-based and model-based quality must agree in
    * direction, and the bin table is what a threshold review actually
    * reads. One scan computes BOTH feature sets (the margin features
    * and the five rule features share the token split), one combinable
    * groupBy — |bins| ≤ 20 output rows, nothing above |docs|. */
  val qGateCalibration: GQuery = GQuery(
    "q_gate_calibration",
    (spark, dir) => {
      import spark.implicits._
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = Tables.documents(spark, dir)
        .select($"doc_id", $"text", split($"text", " ").as("l"))
        .select(
          size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("f1"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("f3"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"),
          (expr("size(filter(l, t -> array_contains(array('the','and','of'," +
            "'to','in','a','is','it'), t)))").cast("double") /
            size($"l").cast("double")).as("f2"))
        .withColumn("f0", $"nw".cast("double") / lit(100.0))
        .withColumn("m", gateMargin)
      val gok = ($"nw" >= 30 && $"nw" <= 10000 &&
        $"f1" >= 3.0 && $"f1" <= 10.0 && $"sym" < 0.1 &&
        $"f3" >= 0.8 && $"nstop" >= 2).cast("long")
      feat.select(
          least(greatest(floor($"m" * lit(10.0)), lit(-10.0)), lit(9.0))
            .cast("int").as("bin"),
          $"m", gok.as("gok"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"m" > 0.0, 1L).otherwise(0L)).as("n_keep"),
          sum($"gok").as("n_gopher_ok"),
          davg(rN($"m", 6)).as("avg_margin"))
        .withColumn("gopher_rate",
          r6($"n_gopher_ok".cast("double") / $"n_docs".cast("double")))
        .orderBy($"bin")
    },
    Some {
      val m = "((((cast(0.02 as double) * f0) + (cast(0.8 as double) * f1))" +
        " + (cast(3.0 as double) * f2)) + (cast(2.0 as double) * f3))" +
        " + cast(-5.6 as double)"
      s"""
      WITH lt AS (
        SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
      feat AS (
        SELECT cast(len(l) as int) AS nw,
          cast(len(l) as double) / cast(100.0 as double) AS f0,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS f1,
          cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
            as double) / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS f3,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop,
          cast(len(list_filter(l, t -> list_contains(
            ['the','and','of','to','in','a','is','it'], t))) as double)
            / cast(len(l) as double) AS f2
        FROM lt),
      scored AS (
        SELECT cast(least(greatest(floor(($m) * cast(10.0 as double)),
                 cast(-10.0 as double)), cast(9.0 as double)) as int) AS bin,
               ($m) AS m,
               CASE WHEN nw >= 30 AND nw <= 10000
                 AND f1 >= cast(3.0 as double) AND f1 <= cast(10.0 as double)
                 AND sym < cast(0.1 as double)
                 AND f3 >= cast(0.8 as double) AND nstop >= 2
               THEN 1 ELSE 0 END AS gok
        FROM feat)
      SELECT bin, cast(count(*) as bigint) AS n_docs,
             cast(sum(CASE WHEN m > cast(0.0 as double) THEN 1 ELSE 0 END)
               as bigint) AS n_keep,
             cast(sum(gok) as bigint) AS n_gopher_ok,
             ${davgSql(rNSql("m", 6))} AS avg_margin,
             ${r6Sql("cast(sum(gok) as double) / cast(count(*) as double)")}
               AS gopher_rate
      FROM scored GROUP BY bin
      ORDER BY bin"""
    },
  )

  /** MIXTURE-TEMPERATURE SWEEP — the α-tuning curve a corpus build reads
    * before fixing its sampling temperature: per source and per
    * α ∈ {0.25, 0.5, 0.75, 1.0}, the nᵅ/Σnᵅ mixture weight, the natural
    * share, and the implied boost — showing how lowering α flattens the
    * mix toward uniform and raising it toward natural sampling
    * ([[qMixWeights]] is the α = 0.5 point of this curve). The exponent
    * grid is DELIBERATELY dyadic: n^0.25 = sqrt(sqrt(n)), n^0.75 =
    * sqrt(n)·sqrt(sqrt(n)) — every power is a composition of
    * correctly-rounded IEEE sqrts (bit-identical in both engines),
    * where a pow()/exp/ln form would be a libm coin flip. One combinable
    * groupBy → |sources| rows → a 4-way per-row explode and a 4-row
    * totals broadcast; nothing above |docs|. */
  val qMixAlphaSweep: GQuery = GQuery(
    "q_mix_alpha_sweep",
    (spark, dir) => {
      import spark.implicits._
      // |sources|-row aggregate consumed by BOTH the per-alpha totals and
      // the final join (via lv): materialize once — ReuseExchange dedup of
      // the corpus scan is not guaranteed across the two branches (the
      // q_curation_budget precedent; everything downstream recomputes only
      // the tiny explode over |sources| rows)
      val ps = Tables.documents(spark, dir)
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .localCheckpoint()
      val n = $"n_docs".cast("double")
      val lv = ps.select($"source", $"n_docs", explode(array(
          struct(lit(0.25).as("alpha"), sqrt(sqrt(n)).as("w")),
          struct(lit(0.5).as("alpha"), sqrt(n).as("w")),
          struct(lit(0.75).as("alpha"), (sqrt(n) * sqrt(sqrt(n))).as("w")),
          struct(lit(1.0).as("alpha"), n.as("w")))).as("s"))
        .select($"source", $"n_docs", $"s.alpha".as("alpha"),
          rN($"s.w", 6).cast(DecimalType(30, 6)).as("w_term"))
      val tot = lv.groupBy($"alpha")
        .agg(sum($"w_term").as("t"), sum($"n_docs").as("nn"))
      lv.join(broadcast(tot), "alpha")
        .select($"alpha", $"source", $"n_docs",
          r6($"w_term".cast("double") / $"t".cast("double")).as("weight"),
          r6($"n_docs".cast("double") / $"nn".cast("double")).as("share"),
          r6(($"w_term".cast("double") * $"nn".cast("double")) /
            ($"t".cast("double") * $"n_docs".cast("double"))).as("boost"))
        .orderBy($"alpha", $"source")
    },
    Some(s"""
      WITH ps AS (
        SELECT source, cast(count(*) as bigint) AS n_docs
        FROM documents GROUP BY source),
      lv AS (
        SELECT source, n_docs, cast(0.25 as double) AS alpha,
               cast(${rNSql("sqrt(sqrt(cast(n_docs as double)))", 6)}
                 as decimal(30,6)) AS w_term
        FROM ps
        UNION ALL
        SELECT source, n_docs, cast(0.5 as double),
               cast(${rNSql("sqrt(cast(n_docs as double))", 6)}
                 as decimal(30,6))
        FROM ps
        UNION ALL
        SELECT source, n_docs, cast(0.75 as double),
               cast(${rNSql("sqrt(cast(n_docs as double)) * " +
                 "sqrt(sqrt(cast(n_docs as double)))", 6)}
                 as decimal(30,6))
        FROM ps
        UNION ALL
        SELECT source, n_docs, cast(1.0 as double),
               cast(${rNSql("cast(n_docs as double)", 6)} as decimal(30,6))
        FROM ps),
      tot AS (SELECT alpha, sum(w_term) AS t, sum(n_docs) AS nn
              FROM lv GROUP BY alpha)
      SELECT lv.alpha, source, n_docs,
             ${r6Sql("cast(w_term as double) / cast(t as double)")}
               AS weight,
             ${r6Sql("cast(n_docs as double) / cast(nn as double)")}
               AS share,
             ${r6Sql("(cast(w_term as double) * cast(nn as double)) / " +
               "(cast(t as double) * cast(n_docs as double))")} AS boost
      FROM lv JOIN tot ON lv.alpha = tot.alpha
      ORDER BY lv.alpha, source"""),
  )

  /** QUALITY-AWARE CLUSTER KEEPER SELECTION — the dedup refinement that
    * keeps the BEST copy instead of the first: within each 20-token-
    * prefix duplicate family ([[qDedupCascade]]'s stage-3 key, where
    * members genuinely differ in quality — exact-dup clusters cannot,
    * their text is identical), the keeper is the member with the highest
    * gopher rule-pass count (0–5, [[qGopherRules]]' five rules), doc_id
    * ascending as the tiebreak. Reported against the naive min-id keeper
    * with an `upgraded` flag — the audit of what quality-aware keeping
    * actually changes. Planted: 12 low-quality clones at NEGATIVE ids
    * (prefix + all-digit tail, so they fail the letter-fraction rule the
    * originals always pass AND win the min-id race) force `upgraded`
    * clusters at every SF — a keeper rule that silently degenerates to
    * min-id fails the spec. One scan computes digest + score; keeper,
    * size, and naive keeper are three functions over ONE ph-partitioned
    * window — no self-join, nothing above |docs|. */
  val qClusterKeeper: GQuery = GQuery(
    "q_cluster_keeper",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 12 && size(split($"text", " ")) >= 25)
          .select(($"doc_id" - 1000000L).as("doc_id"),
            concat(concat_ws(" ", slice(split($"text", " "), 1, 20)),
              lit(" 9 9 9 9 9 9 9 9 9 9")).as("text")))
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = docs
        .select($"doc_id", $"text", split($"text", " ").as("l"))
        .select($"doc_id",
          md5(concat_ws(" ", slice($"l", 1, 20)).cast("binary")).as("ph"),
          size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("mwl"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("alpha"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"))
      val score =
        ($"nw" >= 30 && $"nw" <= 10000).cast("long") +
          ($"mwl" >= 3.0 && $"mwl" <= 10.0).cast("long") +
          ($"sym" < 0.1).cast("long") +
          ($"alpha" >= 0.8).cast("long") +
          ($"nstop" >= 2).cast("long")
      val byPh = Window.partitionBy($"ph")
      val w = byPh.orderBy($"score".desc, $"doc_id".asc)
      feat.select($"doc_id", $"ph", score.as("score"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(byPh))
        .withColumn("naive_id", min($"doc_id").over(byPh))
        .filter($"rn" === 1 && $"n_members" >= 2)
        .select($"ph".as("cluster"), $"n_members",
          $"doc_id".as("keeper_id"), $"score".as("keeper_score"),
          $"naive_id", ($"doc_id" =!= $"naive_id").as("upgraded"))
        .orderBy($"cluster")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, text FROM documents),
      docs AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id - 1000000,
               array_to_string((string_split(text, ' '))[1:20], ' ')
                 || ' 9 9 9 9 9 9 9 9 9 9'
        FROM base
        WHERE doc_id < 12 AND len(string_split(text, ' ')) >= 25),
      feat AS (
        SELECT doc_id,
          md5(array_to_string((string_split(text, ' '))[1:20], ' ')) AS ph,
          cast(len(l) as int) AS nw,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS mwl,
          cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
            as double) / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS alpha,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop
        FROM (SELECT doc_id, text, string_split(text, ' ') AS l
              FROM docs) f0),
      scored AS (
        SELECT doc_id, ph,
          cast((CASE WHEN nw >= 30 AND nw <= 10000 THEN 1 ELSE 0 END) +
          (CASE WHEN mwl >= cast(3.0 as double) AND
             mwl <= cast(10.0 as double) THEN 1 ELSE 0 END) +
          (CASE WHEN sym < cast(0.1 as double) THEN 1 ELSE 0 END) +
          (CASE WHEN alpha >= cast(0.8 as double) THEN 1 ELSE 0 END) +
          (CASE WHEN nstop >= 2 THEN 1 ELSE 0 END) as bigint) AS score
        FROM feat),
      win AS (
        SELECT doc_id, ph, score,
               row_number() OVER (PARTITION BY ph
                 ORDER BY score DESC, doc_id ASC) AS rn,
               cast(count(*) OVER (PARTITION BY ph) as bigint) AS n_members,
               min(doc_id) OVER (PARTITION BY ph) AS naive_id
        FROM scored)
      SELECT ph AS cluster, n_members, doc_id AS keeper_id,
             score AS keeper_score, naive_id,
             (doc_id <> naive_id) AS upgraded
      FROM win WHERE rn = 1 AND n_members >= 2
      ORDER BY cluster"""),
  )

  /** PER-SOURCE CURATION BUDGET — the JOINED keep-rate decision a
    * curation run actually executes (round-11 verdict item 5): the
    * [[qGopherRules]] quality verdict and global exact-dedup keep-first
    * survivorship are evaluated PER DOC in one pass, rolled up per
    * source, and joined with the α=0.5 mixture weight ([[qMixReport]]'s
    * numerics, computed over the POST-curation doc counts — budget is
    * allocated to what survives, not to what arrived). Output per
    * source: docs, quality passes, dedup survivors, joint keeps, keep
    * rate, mix weight, the allocated document budget out of a 100k-doc
    * target, and the implied sampling boost (budget / survivors).
    * Planted rows keep both gates non-vacuous at every SF: 15 same-text
    * clones (+600000) are dropped by dedup keep-first; 10 all-digit junk
    * docs (+300000 — OUTSIDE the organic id range at every SF, per the
    * shifted-id plant convention; the original +3000 landed inside sf0.1's
    * id space) fail the letter/stopword rules. Scale shape: one scan
    * computes digest + all five rule features; survivorship is a
    * min-over-window partitioned by the digest (bounded state per
    * digest group — the q_dedup_cascade idiom; the groupBy+join form
    * re-scanned the union per consumer, PlanAudit-measured);
    * everything collapses to a |sources|-row table (materialized once)
    * and the totals row is an explicit 1-row broadcast. */
  val qCurationBudget: GQuery = GQuery(
    "q_curation_budget",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val junk = ("404 90210 " * 25).trim
      val docs = base
        .unionByName(base.filter($"doc_id" < 15)
          .select($"source", ($"doc_id" + 600000L).as("doc_id"), $"text"))
        .unionByName(base.filter($"doc_id" < 10)
          .select($"source", ($"doc_id" + 300000L).as("doc_id"),
            lit(junk).as("text")))
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = docs
        .select($"source", $"doc_id", $"text", md5($"text").as("th"),
          split($"text", " ").as("l"))
        .select($"source", $"doc_id", $"th",
          size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("mwl"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("alpha"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"))
      val qual = ($"nw" >= 30 && $"nw" <= 10000 &&
        $"mwl" >= 3.0 && $"mwl" <= 10.0 && $"sym" < 0.1 &&
        $"alpha" >= 0.8 && $"nstop" >= 2).cast("long")
      val scored = feat.select($"source", $"doc_id", $"th", qual.as("q"))
      // survivor flag via min-over-window on the digest (the
      // q_dedup_cascade idiom): one pass, no groupBy+self-join — the
      // join form re-scanned the 3-way union per consumer (PlanAudit
      // measured documents x9 in the final plan)
      val flagged = scored
        .withColumn("sv",
          ($"doc_id" === min($"doc_id").over(Window.partitionBy($"th")))
            .cast("long"))
      val ps = flagged.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"q").as("n_quality_ok"),
          sum($"sv").as("n_dedup_keep"),
          sum($"q" * $"sv").as("n_keep"))
        .withColumn("w_term", rN(sqrt($"n_keep"), 6).cast(DecimalType(30, 6)))
        // |sources|-row table consumed twice (totals row + final report):
        // materialize once so neither consumer re-runs the corpus scan
        .localCheckpoint()
      val tot = ps.agg(sum($"w_term").as("t"))
      ps.crossJoin(broadcast(tot))
        .withColumn("budget_docs",
          floor(($"w_term".cast("double") / $"t".cast("double")) *
            lit(100000.0) + lit(0.5)).cast("long"))
        .select($"source", $"n_docs", $"n_quality_ok", $"n_dedup_keep",
          $"n_keep",
          r6($"n_keep".cast("double") / $"n_docs".cast("double"))
            .as("keep_rate"),
          r6($"w_term".cast("double") / $"t".cast("double")).as("weight"),
          $"budget_docs",
          when($"n_keep" > 0,
            r6($"budget_docs".cast("double") / $"n_keep".cast("double")))
            .otherwise(lit(0.0)).as("boost"))
        .orderBy($"source")
    },
    Some(s"""
      WITH base AS (SELECT source, doc_id, text FROM documents),
      docs AS (
        SELECT source, doc_id, text FROM base
        UNION ALL
        SELECT source, doc_id + 600000, text FROM base WHERE doc_id < 15
        UNION ALL
        SELECT source, doc_id + 300000, trim(repeat('404 90210 ', 25))
        FROM base WHERE doc_id < 10),
      feat AS (
        SELECT source, doc_id, md5(text) AS th,
          cast(len(l) as int) AS nw,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS mwl,
          cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
            as double) / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS alpha,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop
        FROM (SELECT source, doc_id, text, string_split(text, ' ') AS l
              FROM docs) f0),
      scored AS (
        SELECT source, doc_id, th,
          CASE WHEN nw >= 30 AND nw <= 10000
            AND mwl >= cast(3.0 as double) AND mwl <= cast(10.0 as double)
            AND sym < cast(0.1 as double)
            AND alpha >= cast(0.8 as double) AND nstop >= 2
          THEN 1 ELSE 0 END AS q
        FROM feat),
      flagged AS (
        SELECT source, q,
               CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY th)
               THEN 1 ELSE 0 END AS sv
        FROM scored),
      ps AS (
        SELECT source, cast(count(*) as bigint) AS n_docs,
               cast(sum(q) as bigint) AS n_quality_ok,
               cast(sum(sv) as bigint) AS n_dedup_keep,
               cast(sum(q * sv) as bigint) AS n_keep,
               cast(${rNSql("sqrt(sum(q * sv))", 6)} as decimal(30,6))
                 AS w_term
        FROM flagged GROUP BY source),
      tot AS (SELECT sum(w_term) AS t FROM ps),
      ps2 AS (
        SELECT source, n_docs, n_quality_ok, n_dedup_keep, n_keep, w_term, t,
               cast(floor((cast(w_term as double) / cast(t as double))
                 * cast(100000.0 as double) + cast(0.5 as double)) as bigint)
                 AS budget_docs
        FROM ps CROSS JOIN tot)
      SELECT source, n_docs, n_quality_ok, n_dedup_keep, n_keep,
             ${r6Sql("cast(n_keep as double) / cast(n_docs as double)")}
               AS keep_rate,
             ${r6Sql("cast(w_term as double) / cast(t as double)")} AS weight,
             budget_docs,
             CASE WHEN n_keep > 0 THEN
               ${r6Sql("cast(budget_docs as double) / cast(n_keep as double)")}
             ELSE cast(0.0 as double) END AS boost
      FROM ps2
      ORDER BY source"""),
  )

  /** Shared unit-explosion SQL for [[qRepetitionRules]]: per doc, ONE
    * combined array of repetition units — lines (kind 1), paragraphs
    * (kind 2), word 2/3/4-grams (kinds 3-5, with their character length)
    * and stride-1 10-token windows (kind 6, with their 0-based start
    * position) — exploded in a single pass. Units travel as md5 digests,
    * so the shuffle carries 32-byte keys, never text. The slice-guard
    * idiom (`slice(sequence(1, greatest(K,1)), 1, greatest(K,0))`) keeps
    * every branch empty-safe without CASE-typed empty arrays (Spark's
    * `sequence(1, k<1)` counts DOWN — the round-1 gotcha). */
  private def repUnitsExpr: Column = {
    def gbranch(kindId: Int, n: Int): String = {
      val g = s"concat_ws(' ', slice(l, i, $n))"
      s"transform(slice(sequence(1, greatest(size(l) - ${n - 1}, 1)), " +
        s"1, greatest(size(l) - ${n - 1}, 0)), " +
        s"i -> named_struct('kind', $kindId, 'unit', md5($g), " +
        s"'glen', length($g)))"
    }
    expr(s"""concat(
      transform(lines, x -> named_struct('kind', 1, 'unit', md5(x),
        'glen', 0)),
      transform(paras, x -> named_struct('kind', 2, 'unit', md5(x),
        'glen', 0)),
      ${gbranch(3, 2)},
      ${gbranch(4, 3)},
      ${gbranch(5, 4)})""")
  }

  /** Per-document GOPHER REPETITION rule flags (Rae et al. 2021 §A1.1,
    * the repetition half that complements [[qGopherRules]]' quality
    * half): duplicate-line fraction ≤ 0.30, duplicate-paragraph fraction
    * ≤ 0.30, top-2/3/4-gram character mass ≤ 0.20/0.18/0.16 of the
    * document (the top gram is the most frequent among grams occurring
    * ≥ 2× — a singleton gram is not repetition, and at fixture-length
    * docs the longest singleton 4-gram alone can cross 16%), and
    * characters inside duplicated 10-token windows ≤ 0.10
    * (coverage-union semantics — overlapping duplicated windows are
    * merged into maximal islands before counting, so a character is never
    * counted twice). ALL thresholds are evaluated as integer
    * cross-products (e.g. `10*dup ≤ 3*total`), so the verdicts are exact
    * in both engines — no float staging anywhere.
    *
    * Scale shape: one combined explode (~3 unit rows per token) feeding a
    * COMBINABLE (doc, kind, unit)-count groupBy — repeated units collapse
    * map-side, no sort-based window touches the bulk rows — plus a
    * separate stride-1 window pass for the 10-gram coverage using the
    * q_dedup_shift groupBy + left-semi idiom (only the per-occurrence
    * POSITIONS of duplicated windows ride the second shuffle). Every
    * shuffle key includes the doc id, state per key is bounded by
    * document length, nothing is quadratic. The top-gram winner is the
    * max of `cnt*100000 + glen` (count first, char length as the
    * deterministic tiebreak), decoded back by div/mod —
    * total-order deterministic without max_by.
    *
    * This RELATIONAL form exists to mirror the oracle's SQL and as the
    * reference implementation RepetitionStatsSpec proves the fused
    * kernel against — the declared query routes through
    * [[repetitionRuleFlags]], whose per-doc stats come from ONE
    * codegen'd [[graft.functions.RepetitionStats]] call per row
    * (no explode, no doc-keyed shuffle at all). */
  private[graft] def repetitionRuleFlagsRelational(docs: DataFrame): DataFrame = {
    val lt = docs.select(col("source"), col("doc_id"), col("text"),
      length(col("text")).cast("long").as("tl"),
      split(col("text"), "\n").as("lines"),
      split(col("text"), "\n\n").as("paras"),
      split(col("text"), " ").as("l"))
    val g5 = lt.select(col("source"), col("doc_id"), col("tl"),
        explode(repUnitsExpr).as("u"))
      .select(col("source"), col("doc_id"), col("tl"),
        col("u.kind").as("kind"), col("u.unit").as("unit"),
        col("u.glen").cast("long").as("glen"))
      .groupBy(col("source"), col("doc_id"), col("tl"), col("kind"),
        col("unit"))
      .agg(count(lit(1)).as("cnt"), max(col("glen")).as("glen"))
    // only grams that actually REPEAT compete for the top slot: a
    // singleton n-gram is not repetition, and at fixture-length documents
    // the longest singleton 4-gram alone can exceed 16% of the characters
    // (measured: 25% of organic sf0.001 docs failed) — a false-positive
    // mode the web-length Gopher corpus never exposes
    def topKey(k: Int): Column =
      coalesce(max(when(col("kind") === k && col("cnt") >= 2,
        col("cnt") * lit(100000L) + col("glen"))), lit(0L))
    def dupCount(k: Int): Column =
      sum(when(col("kind") === k && col("cnt") >= 2, col("cnt"))
        .otherwise(0L))
    def totCount(k: Int): Column =
      sum(when(col("kind") === k, col("cnt")).otherwise(0L))
    val agg1 = g5
      .groupBy(col("source"), col("doc_id"), col("tl"))
      .agg(totCount(1).as("n_lines"), dupCount(1).as("n_dup_lines"),
        totCount(2).as("n_paras"), dupCount(2).as("n_dup_paras"),
        topKey(3).as("k2"), topKey(4).as("k3"), topKey(5).as("k4"))
    // duplicated-10-gram coverage: dup window starts -> gaps-and-islands
    // (a break when starts are > 10 apart), island [s, m] covers tokens
    // s+1 .. m+10, whose characters are the length of that token slice
    // re-joined (exact for the single-space tokenization both engines use)
    val wins = lt
      .filter(size(col("l")) >= 10)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(l) - 10), " +
            "i -> md5(concat_ws(' ', slice(l, i + 1, 10))))")))
      .toDF("doc_id", "pos", "wh")
    val dup = wins.groupBy(col("doc_id"), col("wh"))
      .agg(count(lit(1)).as("nw"))
      .filter(col("nw") >= 2)
      .select(col("doc_id"), col("wh"))
    val wByDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = wins.join(dup, Seq("doc_id", "wh"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wByDoc) > 10, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(wByDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("m"))
    val d10 = spans
      .join(lt.select(col("doc_id"), col("l")), Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sum(length(concat_ws(" ",
          slice(col("l"), col("s") + 1, col("m") - col("s") + lit(10))))
          .cast("long"))
        .as("dup10_chars"))
    def mass(k: String): Column =
      expr(s"($k div 100000) * ($k % 100000)")
    agg1.join(d10, Seq("doc_id"), "left_outer")
      .select(col("source"), col("doc_id"), col("tl"),
        col("n_lines"), col("n_dup_lines"), col("n_paras"),
        col("n_dup_paras"),
        mass("k2").as("top2_chars"), mass("k3").as("top3_chars"),
        mass("k4").as("top4_chars"),
        coalesce(col("dup10_chars"), lit(0L)).as("dup10_chars"))
      .select(col("source"), col("doc_id"),
        (col("n_dup_lines") * 10L <= col("n_lines") * 3L).cast("long")
          .as("r_line"),
        (col("n_dup_paras") * 10L <= col("n_paras") * 3L).cast("long")
          .as("r_para"),
        (col("top2_chars") * 5L <= col("tl")).cast("long").as("r_top2"),
        (col("top3_chars") * 50L <= col("tl") * 9L).cast("long")
          .as("r_top3"),
        (col("top4_chars") * 25L <= col("tl") * 4L).cast("long")
          .as("r_top4"),
        (col("dup10_chars") * 10L <= col("tl")).cast("long").as("r_dup10"))
  }

  /** Per-document repetition rule flags through the FUSED
    * [[graft.functions.RepetitionStats]] Catalyst kernel: one codegen'd
    * call per row computes all nine stats (every repetition signal is
    * within-document — the relational explode shuffled ~3 unit rows per
    * token, twice, for state that never crossed a doc), then the six
    * verdicts are per-row integer cross-products. The ONLY shuffle left
    * in the declared query is the |sources|-row rollup — the true
    * 100 TB shape. Row-for-row equal to
    * [[repetitionRuleFlagsRelational]] (RepetitionStatsSpec). */
  def repetitionRuleFlags(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"), col("doc_id"),
        repetitionStats(col("text")).as("st"))
      .select(col("source"), col("doc_id"),
        (col("st")(2) * 10L <= col("st")(1) * 3L).cast("long").as("r_line"),
        (col("st")(4) * 10L <= col("st")(3) * 3L).cast("long").as("r_para"),
        (col("st")(5) * 5L <= col("st")(0)).cast("long").as("r_top2"),
        (col("st")(6) * 50L <= col("st")(0) * 9L).cast("long").as("r_top3"),
        (col("st")(7) * 25L <= col("st")(0) * 4L).cast("long").as("r_top4"),
        (col("st")(8) * 10L <= col("st")(0)).cast("long").as("r_dup10"))
  }

  /** THE GOPHER REPETITION-RULE FAMILY as a declared per-source rollup
    * (round-12 verdict item 1 — "the most commonly executed half of the
    * Gopher filter suite"): each document is scored against the six
    * repetition rules in [[repetitionRuleFlags]] and each source reports
    * its per-rule pass counts plus the all-rules pass rate — the
    * diagnosis table a FineWeb/Gopher-style curation run reads before
    * the quality rules. Three plant families (ids +800000/+810000/
    * +820000, outside the organic range at every SF) keep each rule
    * non-vacuous: 5×-repeated-line docs trip the line rule, 3×-repeated-
    * paragraph docs the paragraph rule, and a 2-token loop doc the
    * top-gram + duplicated-window rules (the fixture corpus is
    * single-line, so the multi-line shapes MUST be planted — organic
    * docs have one line and one paragraph and pass those rules by
    * construction). */
  val qRepetitionRules: GQuery = GQuery(
    "q_repetition_rules",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val rich = base.filter($"doc_id" < 8 &&
        size(split($"text", " ")) >= 12)
      val line6 = concat_ws(" ", slice(split($"text", " "), 1, 6))
      val para10 = concat_ws(" ", slice(split($"text", " "), 1, 10))
      val loop = ("lp qy " * 40).trim
      val docs = base
        .unionByName(rich.select($"source",
          ($"doc_id" + 800000L).as("doc_id"),
          concat_ws("\n", line6, line6, line6, line6, line6).as("text")))
        .unionByName(rich.select($"source",
          ($"doc_id" + 810000L).as("doc_id"),
          concat_ws("\n\n", para10, para10, para10).as("text")))
        .unionByName(rich.select($"source",
          ($"doc_id" + 820000L).as("doc_id"), lit(loop).as("text")))
      repetitionRuleFlags(docs)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"r_line").as("n_line_ok"),
          sum($"r_para").as("n_para_ok"),
          sum($"r_top2").as("n_top2_ok"),
          sum($"r_top3").as("n_top3_ok"),
          sum($"r_top4").as("n_top4_ok"),
          sum($"r_dup10").as("n_dup10_ok"),
          sum($"r_line" * $"r_para" * $"r_top2" * $"r_top3" * $"r_top4" *
            $"r_dup10").as("n_pass_all"))
        .withColumn("pass_rate",
          r6($"n_pass_all".cast("double") / $"n_docs".cast("double")))
        .orderBy($"source")
    },
    Some(s"""
      WITH base AS (SELECT source, doc_id, text FROM documents),
      rich AS (SELECT source, doc_id, text,
                      string_split(text, ' ') AS w FROM base
               WHERE doc_id < 8 AND len(string_split(text, ' ')) >= 12),
      docs AS (
        SELECT source, doc_id, text FROM base
        UNION ALL
        SELECT source, doc_id + 800000,
               concat_ws(chr(10),
                 array_to_string(w[1:6], ' '), array_to_string(w[1:6], ' '),
                 array_to_string(w[1:6], ' '), array_to_string(w[1:6], ' '),
                 array_to_string(w[1:6], ' '))
        FROM rich
        UNION ALL
        SELECT source, doc_id + 810000,
               concat_ws(chr(10) || chr(10),
                 array_to_string(w[1:10], ' '),
                 array_to_string(w[1:10], ' '),
                 array_to_string(w[1:10], ' '))
        FROM rich
        UNION ALL
        SELECT source, doc_id + 820000, trim(repeat('lp qy ', 40))
        FROM rich),
      lt AS (SELECT source, doc_id,
                    cast(length(text) as bigint) AS tl,
                    string_split(text, chr(10)) AS lines,
                    string_split(text, chr(10) || chr(10)) AS paras,
                    string_split(text, ' ') AS l
             FROM docs),
      units AS MATERIALIZED (
        SELECT source, doc_id, tl, 1 AS kind, md5(x) AS unit,
               0 AS pos, cast(0 as bigint) AS glen
        FROM (SELECT source, doc_id, tl, unnest(lines) AS x FROM lt) u1
        UNION ALL
        SELECT source, doc_id, tl, 2, md5(x), 0, 0
        FROM (SELECT source, doc_id, tl, unnest(paras) AS x FROM lt) u2
        UNION ALL
        SELECT source, doc_id, tl, 3, md5(g), 0,
               cast(length(g) as bigint)
        FROM (SELECT source, doc_id, tl,
                     array_to_string(l[i:(i + 1)], ' ') AS g
              FROM lt, unnest(generate_series(1,
                cast(len(l) as int) - 1)) AS t(i)) u3
        UNION ALL
        SELECT source, doc_id, tl, 4, md5(g), 0,
               cast(length(g) as bigint)
        FROM (SELECT source, doc_id, tl,
                     array_to_string(l[i:(i + 2)], ' ') AS g
              FROM lt, unnest(generate_series(1,
                cast(len(l) as int) - 2)) AS t(i)) u4
        UNION ALL
        SELECT source, doc_id, tl, 5, md5(g), 0,
               cast(length(g) as bigint)
        FROM (SELECT source, doc_id, tl,
                     array_to_string(l[i:(i + 3)], ' ') AS g
              FROM lt, unnest(generate_series(1,
                cast(len(l) as int) - 3)) AS t(i)) u5
        UNION ALL
        SELECT source, doc_id, tl, 6,
               md5(array_to_string(l[(i + 1):(i + 10)], ' ')), i, 0
        FROM lt, unnest(generate_series(0,
          cast(len(l) as int) - 10)) AS t(i)),
      uc AS MATERIALIZED (
        SELECT *, count(*) OVER (PARTITION BY doc_id, kind, unit) AS cnt
        FROM units),
      agg1 AS (
        SELECT source, doc_id, tl,
          sum(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS n_lines,
          sum(CASE WHEN kind = 1 AND cnt >= 2 THEN 1 ELSE 0 END)
            AS n_dup_lines,
          sum(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS n_paras,
          sum(CASE WHEN kind = 2 AND cnt >= 2 THEN 1 ELSE 0 END)
            AS n_dup_paras,
          coalesce(max(CASE WHEN kind = 3 AND cnt >= 2
            THEN cnt * 100000 + glen END), 0) AS k2,
          coalesce(max(CASE WHEN kind = 4 AND cnt >= 2
            THEN cnt * 100000 + glen END), 0) AS k3,
          coalesce(max(CASE WHEN kind = 5 AND cnt >= 2
            THEN cnt * 100000 + glen END), 0) AS k4
        FROM uc WHERE kind <= 5
        GROUP BY source, doc_id, tl),
      wdup AS (SELECT doc_id, pos FROM uc WHERE kind = 6 AND cnt >= 2),
      brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                 ORDER BY pos) > 10 THEN 1 ELSE 0 END AS b
        FROM wdup),
      isl AS (
        SELECT doc_id, pos,
               sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM brk),
      spans AS (SELECT doc_id, g, min(pos) AS s, max(pos) AS m
                FROM isl GROUP BY doc_id, g),
      d10 AS (
        SELECT spans.doc_id,
               sum(cast(length(array_to_string(
                 l[(s + 1):(m + 10)], ' ')) as bigint)) AS dup10_chars
        FROM spans JOIN lt ON lt.doc_id = spans.doc_id
        GROUP BY spans.doc_id),
      flags AS (
        SELECT source, agg1.doc_id,
          CASE WHEN n_dup_lines * 10 <= n_lines * 3 THEN 1 ELSE 0 END
            AS r_line,
          CASE WHEN n_dup_paras * 10 <= n_paras * 3 THEN 1 ELSE 0 END
            AS r_para,
          CASE WHEN (k2 // 100000) * (k2 % 100000) * 5 <= tl
            THEN 1 ELSE 0 END AS r_top2,
          CASE WHEN (k3 // 100000) * (k3 % 100000) * 50 <= tl * 9
            THEN 1 ELSE 0 END AS r_top3,
          CASE WHEN (k4 // 100000) * (k4 % 100000) * 25 <= tl * 4
            THEN 1 ELSE 0 END AS r_top4,
          CASE WHEN coalesce(dup10_chars, 0) * 10 <= tl
            THEN 1 ELSE 0 END AS r_dup10
        FROM agg1 LEFT JOIN d10 ON agg1.doc_id = d10.doc_id)
      SELECT source, cast(count(*) as bigint) AS n_docs,
             cast(sum(r_line) as bigint) AS n_line_ok,
             cast(sum(r_para) as bigint) AS n_para_ok,
             cast(sum(r_top2) as bigint) AS n_top2_ok,
             cast(sum(r_top3) as bigint) AS n_top3_ok,
             cast(sum(r_top4) as bigint) AS n_top4_ok,
             cast(sum(r_dup10) as bigint) AS n_dup10_ok,
             cast(sum(r_line * r_para * r_top2 * r_top3 * r_top4 * r_dup10)
               as bigint) AS n_pass_all,
             ${r6Sql("cast(sum(r_line * r_para * r_top2 * r_top3 * " +
               "r_top4 * r_dup10) as double) / cast(count(*) as double)")}
               AS pass_rate
      FROM flags GROUP BY source
      ORDER BY source"""),
  )

  /** QUALITY-RULE ABLATION — which Gopher rule does the work: per rule,
    * how many documents fail it AT ALL and how many fail ONLY it (the
    * docs a curation run would win back by dropping that one rule — the
    * marginal-impact number a threshold review actually argues about).
    * Two plant families keep the distinction non-vacuous at every SF:
    * all-digit junk (+840000) fails several rules at once (contributes
    * to n_fail, never n_fail_only), and long-word docs (+845000: two
    * stopwords + 30 34-char words → mean word length ≈ 32) fail EXACTLY
    * the word-length rule. One linear pass, one agg row, 5-struct
    * explode — nothing above |docs|. */
  val qQualityAblate: GQuery = GQuery(
    "q_quality_ablate",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val junk = ("404 90210 " * 25).trim
      val longw = "the and " + Seq.fill(30)(
        "supercalifragilisticexpialidocious").mkString(" ")
      val docs = base
        .unionByName(base.filter($"doc_id" < 10)
          .select($"source", ($"doc_id" + 840000L).as("doc_id"),
            lit(junk).as("text")))
        .unionByName(base.filter($"doc_id" < 10)
          .select($"source", ($"doc_id" + 845000L).as("doc_id"),
            lit(longw).as("text")))
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = docs
        .select($"text", split($"text", " ").as("l"))
        .select(size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("mwl"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("alpha"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"))
      val f = Seq(
        ("wordcount", ($"nw" < 30 || $"nw" > 10000).cast("long")),
        ("wordlen", ($"mwl" < 3.0 || $"mwl" > 10.0).cast("long")),
        ("symbol", ($"sym" >= 0.1).cast("long")),
        ("alpha", ($"alpha" < 0.8).cast("long")),
        ("stopword", ($"nstop" < 2).cast("long")))
      val flagged = feat.select(f.map { case (n, c) => c.as(s"f_$n") }: _*)
        .withColumn("n_fails",
          f.map { case (n, _) => col(s"f_$n") }.reduce(_ + _))
      val aggCols = count(lit(1)).as("n_docs") +:
        f.flatMap { case (n, _) =>
          Seq(sum(col(s"f_$n")).as(s"t_$n"),
            sum(when(col(s"f_$n") === 1L && $"n_fails" === 1L, 1L)
              .otherwise(0L)).as(s"o_$n"))
        }
      val agg = flagged.agg(aggCols.head, aggCols.tail: _*)
      agg.select(explode(array(f.map { case (n, _) =>
          struct(lit(n).as("rule"), $"n_docs",
            col(s"t_$n").as("n_fail"), col(s"o_$n").as("n_fail_only"))
        }: _*)).as("s"))
        .select($"s.rule".as("rule"), $"s.n_docs".as("n_docs"),
          $"s.n_fail".as("n_fail"), $"s.n_fail_only".as("n_fail_only"),
          r6($"s.n_fail".cast("double") / $"s.n_docs".cast("double"))
            .as("fail_rate"),
          r6($"s.n_fail_only".cast("double") / $"s.n_docs".cast("double"))
            .as("only_rate"))
        .orderBy($"rule")
    },
    Some(s"""
      WITH base AS (SELECT source, doc_id, text FROM documents),
      docs AS (
        SELECT text FROM base
        UNION ALL
        SELECT trim(repeat('404 90210 ', 25)) FROM base WHERE doc_id < 10
        UNION ALL
        SELECT 'the and ' || trim(repeat(
          'supercalifragilisticexpialidocious ', 30))
        FROM base WHERE doc_id < 10),
      feat AS (
        SELECT cast(len(l) as int) AS nw,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS mwl,
          cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
            as double) / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS alpha,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop
        FROM (SELECT text, string_split(text, ' ') AS l FROM docs) f0),
      flagged AS (
        SELECT
          CASE WHEN nw < 30 OR nw > 10000 THEN 1 ELSE 0 END AS f_wordcount,
          CASE WHEN mwl < cast(3.0 as double) OR
            mwl > cast(10.0 as double) THEN 1 ELSE 0 END AS f_wordlen,
          CASE WHEN sym >= cast(0.1 as double) THEN 1 ELSE 0 END
            AS f_symbol,
          CASE WHEN alpha < cast(0.8 as double) THEN 1 ELSE 0 END
            AS f_alpha,
          CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS f_stopword
        FROM feat),
      wf AS (
        SELECT *, f_wordcount + f_wordlen + f_symbol + f_alpha + f_stopword
          AS n_fails
        FROM flagged),
      agg AS (
        SELECT cast(count(*) as bigint) AS n_docs,
          ${Seq("wordcount", "wordlen", "symbol", "alpha", "stopword")
            .map(n => s"cast(sum(f_$n) as bigint) AS t_$n, " +
              s"cast(sum(CASE WHEN f_$n = 1 AND n_fails = 1 THEN 1 " +
              s"ELSE 0 END) as bigint) AS o_$n").mkString(",\n          ")}
        FROM wf)
      SELECT rule, n_docs, n_fail, n_fail_only,
             ${r6Sql("cast(n_fail as double) / cast(n_docs as double)")}
               AS fail_rate,
             ${r6Sql("cast(n_fail_only as double) / cast(n_docs as double)")}
               AS only_rate
      FROM (
        ${Seq("wordcount", "wordlen", "symbol", "alpha", "stopword")
          .map(n => s"SELECT '$n' AS rule, n_docs, t_$n AS n_fail, " +
            s"o_$n AS n_fail_only FROM agg").mkString("\n        UNION ALL ")}) u
      ORDER BY rule"""),
  )

  /** TWO-PHASE ANNEAL MIX PLANNER — the mid-training curriculum split a
    * modern pretraining run schedules (a long main phase over the full
    * mix, then a short anneal phase restricted to high-quality sources):
    * per source, token mass, the five-rule quality pass rate
    * ([[qGopherRules]]' conjunction), and the α=0.5 token-weighted
    * mixture weight; the 1M-token budget splits 90/10 — phase 1
    * allocated ∝ √tokens over ALL sources, phase 2 ∝ √tokens over
    * sources whose quality rate clears 0.7 (an INTEGER cross-product
    * test, `10·n_ok ≥ 7·n_docs`). A planted all-junk source
    * ('junkweb', 40 docs at +890000) fails the bar at every SF, so the
    * anneal-exclusion path is never vacuous. Output: per-source budgets,
    * total, and the anneal boost (phase-2 share / phase-1 share — > 1
    * exactly for the sources the anneal upweights). Numerics: decimal-
    * staged √ weights (the [[qMixWeights]] contract), floor+0.5 integer
    * budgets, one IEEE division per reported ratio. One linear pass +
    * |sources|-row table; the two totals are 1-row broadcasts. */
  val qAnnealPlan: GQuery = GQuery(
    "q_anneal_plan",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val junk = ("404 90210 " * 25).trim
      val docs = base.unionByName(
        base.filter($"doc_id" < 40)
          .select(lit("junkweb").as("source"),
            ($"doc_id" + 890000L).as("doc_id"), lit(junk).as("text")))
      val inList = "'the','and','of','to','in','a','is','it'"
      val feat = docs
        .select($"source", $"text", split($"text", " ").as("l"))
        .select($"source", size($"l").cast("long").as("tok"),
          size($"l").as("nw"),
          (expr("aggregate(transform(l, t -> length(t)), 0L, (s, x) -> s + x)")
            .cast("double") / size($"l").cast("double")).as("mwl"),
          (length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).cast("double") /
            length($"text")).as("sym"),
          (expr("size(filter(l, t -> t rlike '[A-Za-z]'))").cast("double") /
            size($"l").cast("double")).as("alpha"),
          expr(s"size(array_intersect(array_distinct(l), array($inList)))")
            .as("nstop"))
      val qual = ($"nw" >= 30 && $"nw" <= 10000 &&
        $"mwl" >= 3.0 && $"mwl" <= 10.0 && $"sym" < 0.1 &&
        $"alpha" >= 0.8 && $"nstop" >= 2).cast("long")
      val ps = feat.select($"source", $"tok", qual.as("q"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"),
          sum($"q").as("n_quality_ok"))
        .withColumn("w_term",
          rN(sqrt($"n_tokens"), 6).cast(DecimalType(30, 6)))
        .withColumn("hi",
          ($"n_quality_ok" * 10L >= $"n_docs" * 7L).cast("long"))
        .localCheckpoint()
      val tot = ps.agg(sum($"w_term").as("t1"),
        sum(when($"hi" === 1L, $"w_term").otherwise(lit(0).cast(
          DecimalType(30, 6)))).as("t2"))
      ps.crossJoin(broadcast(tot))
        .withColumn("p1_tokens",
          floor(($"w_term".cast("double") / $"t1".cast("double")) *
            lit(900000.0) + lit(0.5)).cast("long"))
        .withColumn("p2_tokens",
          when($"hi" === 1L,
            floor(($"w_term".cast("double") / $"t2".cast("double")) *
              lit(100000.0) + lit(0.5)).cast("long")).otherwise(0L))
        .select($"source", $"n_docs", $"n_tokens",
          r6($"n_quality_ok".cast("double") / $"n_docs".cast("double"))
            .as("qual_rate"),
          $"hi".as("anneal_eligible"),
          $"p1_tokens", $"p2_tokens",
          ($"p1_tokens" + $"p2_tokens").as("total_tokens"),
          when($"p1_tokens" > 0,
            r6(($"p2_tokens" * 9L).cast("double") /
              $"p1_tokens".cast("double"))).otherwise(lit(0.0))
            .as("anneal_boost"))
        .orderBy($"source")
    },
    Some(s"""
      WITH base AS (SELECT source, doc_id, text FROM documents),
      docs AS (
        SELECT source, doc_id, text FROM base
        UNION ALL
        SELECT 'junkweb', doc_id + 890000, trim(repeat('404 90210 ', 25))
        FROM base WHERE doc_id < 40),
      feat AS (
        SELECT source, cast(len(l) as bigint) AS tok,
          cast(len(l) as int) AS nw,
          cast(list_sum(list_transform(l, t -> length(t))) as double)
            / cast(len(l) as double) AS mwl,
          cast(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
            as double) / cast(length(text) as double) AS sym,
          cast(len(list_filter(l, t -> regexp_matches(t, '[A-Za-z]')))
            as double) / cast(len(l) as double) AS alpha,
          cast(len(list_intersect(list_distinct(l),
            ['the','and','of','to','in','a','is','it'])) as int) AS nstop
        FROM (SELECT source, text, string_split(text, ' ') AS l
              FROM docs) f0),
      scored AS (
        SELECT source, tok,
          CASE WHEN nw >= 30 AND nw <= 10000
            AND mwl >= cast(3.0 as double) AND mwl <= cast(10.0 as double)
            AND sym < cast(0.1 as double)
            AND alpha >= cast(0.8 as double) AND nstop >= 2
          THEN 1 ELSE 0 END AS q
        FROM feat),
      ps AS (
        SELECT source, cast(count(*) as bigint) AS n_docs,
               cast(sum(tok) as bigint) AS n_tokens,
               cast(sum(q) as bigint) AS n_quality_ok,
               cast(${rNSql("sqrt(sum(tok))", 6)} as decimal(30,6))
                 AS w_term,
               CASE WHEN sum(q) * 10 >= count(*) * 7 THEN 1 ELSE 0 END
                 AS hi
        FROM scored GROUP BY source),
      tot AS (
        SELECT sum(w_term) AS t1,
               sum(CASE WHEN hi = 1 THEN w_term
                   ELSE cast(0 as decimal(30,6)) END) AS t2
        FROM ps),
      alloc AS (
        SELECT source, n_docs, n_tokens, n_quality_ok, hi,
               cast(floor((cast(w_term as double) / cast(t1 as double))
                 * cast(900000.0 as double) + cast(0.5 as double))
                 as bigint) AS p1_tokens,
               CASE WHEN hi = 1 THEN
                 cast(floor((cast(w_term as double) / cast(t2 as double))
                   * cast(100000.0 as double) + cast(0.5 as double))
                   as bigint)
               ELSE 0 END AS p2_tokens
        FROM ps CROSS JOIN tot)
      SELECT source, n_docs, n_tokens,
             ${r6Sql("cast(n_quality_ok as double) / cast(n_docs as double)")}
               AS qual_rate,
             cast(hi as bigint) AS anneal_eligible,
             p1_tokens, p2_tokens,
             p1_tokens + p2_tokens AS total_tokens,
             CASE WHEN p1_tokens > 0 THEN
               ${r6Sql("cast(p2_tokens * 9 as double) / " +
                 "cast(p1_tokens as double)")}
             ELSE cast(0.0 as double) END AS anneal_boost
      FROM alloc
      ORDER BY source"""),
  )

  /** CONTENT-DEFINED-CHUNKING DEDUP (the storage/Rabin-fingerprint
    * technique applied to text): a token ENDS a chunk when its 32-bit
    * md5 hash ≡ 0 (mod 8) — boundaries are a pure local function of
    * content, so an insertion or deletion perturbs only the chunk it
    * lands in and the stream RE-SYNCHRONIZES at the next boundary,
    * where fixed 20-token windows (q_dedup_para) would misalign every
    * downstream chunk. Chunk digesting runs the fused map-only
    * [[graft.functions.CdcChunks]] kernel (byte-identical to the
    * relational explode + window-cumsum stage the oracle states —
    * CdcChunksSpec); per-doc DISTINCT digests, and pairs come ONLY from
    * the digest equi-join. Guards
    * that make the join safe at 100 TB: chunks shorter than 5 tokens
    * never pair (a single common word that hashes to a boundary on
    * both sides would otherwise pair half the corpus), and a
    * document-frequency cap of 50 per digest (the q_dedup_span
    * boilerplate cap) bounds any digest's pair fan-out. Planted
    * prefix-edited clones ('zq zr ' + text, ids +430000) re-sync
    * after the first boundary and MUST surface — the property that
    * defines CDC (Round13Spec also pins that aligned 20-token
    * chunking shares zero chunks on exactly those plants). Scale
    * shape: one token explode (linear), one per-doc window, one
    * digest equi-join; no all-pairs anywhere. */
  /** The relational reference for the CDC chunk-digest stage (the exact
    * shape the DuckDB oracle states) — retained for CdcChunksSpec's
    * kernel-equality proof; the declared query runs the fused
    * [[graft.functions.CdcChunks]] kernel instead. */
  private[graft] def cdcChunkDigestsRelational(
      docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id",
      posexplode(split($"text", " ")).as(Seq("pos", "tok")))
    val flagged = toks.withColumn("b",
      when(conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 8
        === 0, 1).otherwise(0))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val withChunk = flagged
      .withColumn("chunk_id", sum($"b").over(w) - $"b")
    val chunks = withChunk.groupBy($"doc_id", $"chunk_id").agg(
      count(lit(1)).as("n_tok"),
      concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(pos, tok))), " +
          "x -> x.tok)")).as("chunk"))
    chunks.filter($"n_tok" >= 5)
      .groupBy($"doc_id", md5($"chunk").as("ch"))
      .agg(max($"n_tok").as("tok"))
  }

  /** Kernel form: one map-only codegen'd pass (1 md5 per token + 1 per
    * eligible chunk), no explode, no doc-keyed shuffles; byte-identical
    * to [[cdcChunkDigestsRelational]] (CdcChunksSpec). localCheckpoint
    * because the pairing consumes it three ways (df table + both join
    * sides) and the table is tiny (≤ |tokens|/8 rows per doc). */
  private[graft] def cdcChunkDigests(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    Parallel.spread(docs)
      .select($"doc_id",
        explode(cdcChunks(split(col("text"), " "))).as("c"))
      .select($"doc_id", $"c.ch".as("ch"), $"c.tok".as("tok"))
      .localCheckpoint()
  }

  val qDedupCdc: GQuery = GQuery(
    "q_dedup_cdc",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 25)
          .select(($"doc_id" + 430000L).as("doc_id"),
            concat(lit("zq zr "), $"text").as("text")))
      val chs = cdcChunkDigests(docs)
      val dfc = chs.groupBy($"ch").agg(count(lit(1)).as("dfc"))
      val eligible = chs.join(dfc.filter($"dfc" <= 50), "ch")
      eligible.as("x").join(eligible.as("y"),
          col("x.ch") === col("y.ch") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"),
          sum(col("x.tok")).as("shared_tok"))
        .filter($"n_shared" >= 2)
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 430000, 'zq zr ' || text FROM documents
        WHERE doc_id < 25),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      t AS (SELECT doc_id, i - 1 AS pos, l[i] AS tok,
                   CASE WHEN ('0x' || substr(md5(l[i]), 1, 8))::BIGINT
                        % 8 = 0 THEN 1 ELSE 0 END AS b
            FROM lt, unnest(generate_series(1, cast(len(l) as int)))
              AS u(i)),
      wc AS (SELECT doc_id, pos, tok,
                    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) - b
                      AS chunk_id
             FROM t),
      chunks AS (SELECT doc_id, chunk_id, count(*) AS n_tok,
                        string_agg(tok, ' ' ORDER BY pos) AS chunk
                 FROM wc GROUP BY doc_id, chunk_id),
      chs AS MATERIALIZED (
              SELECT doc_id, md5(chunk) AS ch, max(n_tok) AS tok
              FROM chunks WHERE n_tok >= 5 GROUP BY doc_id, md5(chunk)),
      eligible AS (
        SELECT chs.doc_id, chs.ch, chs.tok FROM chs
        JOIN (SELECT ch FROM chs GROUP BY ch HAVING count(*) <= 50) d
          USING (ch))
      SELECT x.doc_id AS id_a, y.doc_id AS id_b,
             count(*) AS n_shared,
             cast(sum(x.tok) as bigint) AS shared_tok
      FROM eligible x JOIN eligible y
        ON x.ch = y.ch AND x.doc_id < y.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
      ORDER BY id_a, id_b"""),
  )

  val all: Seq[GQuery] =
    Seq(qDecontam, qDecontamBloom, qRepetition, qPack, qMixWeights,
      qSelectBudget, qFilterFunnel, qLmScore, qDedupPara, qTargetEncode,
      qCurriculum, qFoldBalance, qRejectionSample, qBoilerplate,
      qNeymanAlloc, qDsir, qGopherRules, qDedupShift, qMixReport,
      qDecontamSpan, qDecontamExcise, qDedupCascade, qDedupCascadeXxl, qCcnetBins, qEpochPlan, qChunkPlan,
      qSplitLeakage, qTopicTag, qPadWaste, qContamMatrix, qSampleTopup,
      qModelGate, qCurationBudget, qGateCalibration, qClusterKeeper,
      qMixAlphaSweep, qRepetitionRules, qDedupSpan, qDedupExcise,
      qAnnealPlan, qQualityAblate, qDedupCdc)
}
