package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._
import graft.functions.wordGrams

/** Corpus-quality and heavy-tail audits (SURVEY.md §2.B.8 extension,
  * round 7): n-gram novelty attribution, readability scoring, Hill
  * tail-index estimation, the language-id confusion matrix, and market
  * concentration (HHI). Like the rest of the LLM-data family, every
  * query collapses to (group, token/gram)-bounded intermediates via
  * combinable aggregations before any join, and keeps floating point to
  * final closed-form arithmetic under the established cross-engine ln()
  * + IEEE-rounding contracts.
  */
object QualityOps {

  /** Trigram novelty per document: the fraction of a doc's distinct
    * 3-gram shingles whose corpus-FIRST occurrence (min doc_id) is this
    * document — the originality/boilerplate gauge that complements the
    * dedup family (a doc can be pairwise-unique yet 0% novel). Shingles
    * are the q_neardup_banded per-row construction (no self-join); the
    * first-occurrence table is one combinable min-groupBy on gram; the
    * attribution is one equi-join on gram. At 100 TB the gram table is
    * the same one a stored-signature dedup already maintains. */
  val qNgramNovelty: GQuery = GQuery(
    "q_ngram_novelty",
    (spark, dir) => {
      import spark.implicits._
      // r15: fused word_grams kernel (byte-identical set, WordGramsSpec)
      // instead of the interpreted transform chain, a spread before it,
      // and the keep-first WINDOW min (r12 idiom) instead of
      // groupBy+self-join — the gram explode now runs once instead of
      // twice and one exchange replaces two.
      val g = Parallel.spread(Tables.documents(spark, dir))
        .select($"doc_id",
          explode(wordGrams(split($"text", " "), 3)).as("gram"))
      g.withColumn("first_doc", min($"doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
            .as("n_novel"))
        .select($"doc_id", $"n_grams", $"n_novel",
          r6($"n_novel".cast("double") / $"n_grams").as("novelty"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH lt AS (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(list_transform(
              generate_series(1, len(l) - 2),
              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM lt),
      f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
      SELECT g.doc_id, count(*) AS n_grams,
             cast(sum(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
               as bigint) AS n_novel,
             ${r6Sql("cast(sum(CASE WHEN first_doc = g.doc_id THEN 1 " +
               "ELSE 0 END) as double) / count(*)")} AS novelty
      FROM g JOIN f ON g.gram = f.gram
      GROUP BY g.doc_id ORDER BY g.doc_id"""),
  )

  /** Flesch-style readability per document from three exact integer
    * counts — words (whitespace tokens), sentences (maximal [.!?]+
    * runs, floored at 1), and a vowel-group syllable proxy — finished
    * by one fixed-order IEEE formula with every float literal cast to
    * double in the oracle (DuckDB folds bare decimals exactly,
    * CLAUDE.md). The per-row regex work is codegen'd and embarrassingly
    * parallel — the same per-row posture as q_textquality. */
  val qReadability: GQuery = GQuery(
    "q_readability",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_words"),
          greatest(
            expr("size(regexp_extract_all(text, '[.!?]+', 0))"), lit(1))
            .cast("long").as("n_sentences"),
          greatest(
            expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"),
            lit(1)).cast("long").as("n_syllables"))
        .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
          r6(lit(206.835) -
            lit(1.015) * ($"n_words".cast("double") / $"n_sentences") -
            lit(84.6) * ($"n_syllables".cast("double") / $"n_words"))
            .as("flesch"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id, n_words, n_sentences, n_syllables,
             ${r6Sql("cast(206.835 as double) - cast(1.015 as double) * " +
               "(cast(n_words as double) / n_sentences) - " +
               "cast(84.6 as double) * " +
               "(cast(n_syllables as double) / n_words)")} AS flesch
      FROM (
        SELECT doc_id,
               cast(len(string_split(text, ' ')) as bigint) AS n_words,
               cast(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                 as bigint) AS n_sentences,
               cast(greatest(len(regexp_extract_all(lower(text),
                 '[aeiouy]+')), 1) as bigint) AS n_syllables
        FROM documents) t
      ORDER BY doc_id"""),
  )

  /** Hill tail-index estimate of the order-value distribution over the
    * top k = 500 order statistics: α = k / Σ ln(x_i / x_{k+1}) — the
    * heavy-tail exponent behind "how extreme can a day get" risk
    * arithmetic (the continuous companion to q_zipf). The top-(k+1)
    * set comes from a distributed TakeOrdered (total order: value desc,
    * key asc — never a global sort of the fact); the per-term logs ride
    * the established ln() + dsum contract over that 501-row frame. */
  val qTailIndex: GQuery = {
    val k = 500
    GQuery(
      "q_tail_index",
      (spark, dir) => {
        import spark.implicits._
        val top = Tables.orders(spark, dir)
          .select($"o_totalprice".as("v"), $"o_orderkey")
          .orderBy($"v".desc, $"o_orderkey")
          .limit(k + 1)
        val wAll = Window.partitionBy()
        top
          .withColumn("xk1", min($"v").over(wAll))
          .withColumn("rk",
            row_number().over(Window.orderBy($"v".desc, $"o_orderkey")))
          .filter($"rk" <= k)
          .select(rN(log($"v" / $"xk1"), 9).as("term"), $"xk1")
          .groupBy($"xk1")
          .agg(count(lit(1)).as("n_top"), dsum($"term", 6).as("hill_sum"))
          .select($"n_top", $"xk1".as("x_kplus1"),
            r6($"hill_sum" / $"n_top").as("hill_mean"),
            r6($"n_top" / $"hill_sum").as("alpha"))
      },
      Some(s"""
        WITH top AS (
          SELECT o_totalprice AS v, o_orderkey FROM orders
          ORDER BY v DESC, o_orderkey LIMIT ${k + 1}),
        w AS (
          SELECT v, min(v) OVER () AS xk1,
                 row_number() OVER (ORDER BY v DESC, o_orderkey) AS rk
          FROM top),
        t AS (
          SELECT xk1, ${rNSql("ln(v / xk1)", 9)} AS term
          FROM w WHERE rk <= $k),
        s AS (
          SELECT xk1, count(*) AS n_top, ${dsumSql("term", 6)} AS hill_sum
          FROM t GROUP BY xk1)
        SELECT n_top, xk1 AS x_kplus1,
               ${r6Sql("hill_sum / n_top")} AS hill_mean,
               ${r6Sql("n_top / hill_sum")} AS alpha
        FROM s"""),
    )
  }

  /** Language-id confusion matrix: the declared-vs-predicted cross-tab
    * of q_langid's n-gram-marker classifier — the evaluation view every
    * corpus language filter ships with. Defined ON TOP of the declared
    * q_langid query (same classifier, no drift between the two), then
    * one combinable groupBy; the oracle wraps q_langid's own SQL. */
  val qLangConfusion: GQuery = GQuery(
    "q_lang_confusion",
    (spark, dir) => {
      import spark.implicits._
      LlmOps.qLangId.run(spark, dir)
        .groupBy($"lang", $"lang_pred")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"lang_pred")
    },
    LlmOps.qLangId.oracle.map(inner => s"""
      SELECT lang, lang_pred, count(*) AS n_docs
      FROM ($inner) li
      GROUP BY lang, lang_pred
      ORDER BY lang, lang_pred"""),
  )

  /** Supplier market concentration per nation: the Herfindahl–Hirschman
    * index (Σ share², ×10000) of lineitem revenue across suppliers —
    * the antitrust-style complement to q_concentration's Gini. Revenue
    * is IEEE-rounded to integer cents per row (one deterministic
    * floor), summed per (nation, supplier) in one combinable pass; the
    * nation totals ride a windowed sum over the |suppliers|-bounded
    * aggregate; shares close in IEEE and the HHI terms decimal-sum. */
  val qHhi: GQuery = GQuery(
    "q_hhi",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"l_extendedprice" *
        (lit(1.0) - $"l_discount") * lit(100.0) + lit(0.5)).cast("long")
      val bySupp = Tables.lineitem(spark, dir)
        .join(Tables.supplier(spark, dir),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_nationkey", $"s_suppkey", cents.as("c"))
        .groupBy($"s_nationkey", $"s_suppkey")
        .agg(sum($"c").as("rev"))
      val wNation = Window.partitionBy($"s_nationkey")
      bySupp
        .withColumn("tot", sum($"rev").over(wNation))
        .select($"s_nationkey",
          rN(pow($"rev".cast("double") / $"tot", 2.0) * lit(10000.0), 9)
            .as("term"))
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"), dsum($"term", 6).as("hhi"))
        .orderBy($"s_nationkey")
    },
    Some(s"""
      WITH r AS (
        SELECT s_nationkey, s_suppkey,
               cast(sum(cast(floor(l_extendedprice *
                 (cast(1.0 as double) - l_discount) *
                 cast(100.0 as double) + cast(0.5 as double)) as bigint))
                 as bigint) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey, s_suppkey),
      t AS (
        SELECT s_nationkey,
               ${rNSql("pow(cast(rev as double) / tot, 2.0) * " +
                 "cast(10000.0 as double)", 9)} AS term
        FROM (SELECT s_nationkey, rev,
                cast(sum(rev) OVER (PARTITION BY s_nationkey) as bigint)
                  AS tot
              FROM r) x)
      SELECT s_nationkey, count(*) AS n_suppliers,
             ${dsumSql("term", 6)} AS hhi
      FROM t GROUP BY s_nationkey ORDER BY s_nationkey"""),
  )

  /** LENGTH-BIAS CALIBRATION per source — map every document's length
    * to its CORPUS percentile with cume_dist and report each feed's
    * mean percentile: a balanced feed sits at ~0.5, a long-doc feed
    * drifts high — the check that catches a crawler that silently
    * started truncating. cume_dist carries the (n_chars, doc_id)
    * unique tiebreak, so no two rows are window peers and the value is
    * exactly rank/n in both engines — deterministic with no tie
    * semantics to disagree on. The unpartitioned window runs over the
    * |docs|-row metadata projection (never the text); at 100 TB the
    * same query ranks within partitions of a pre-sorted length index. */
  val qQuantileMap: GQuery = GQuery(
    "q_quantile_map",
    (spark, dir) => {
      import spark.implicits._
      val p = Tables.documents(spark, dir)
        .select($"source", $"n_chars", $"doc_id")
        .withColumn("pctl",
          cume_dist().over(Window.orderBy($"n_chars", $"doc_id")))
      p.select($"source", rN($"pctl", 9).as("t"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          davg($"t", 6).as("mean_pctl"))
        .orderBy($"source")
    },
    Some(s"""
      WITH p AS (
        SELECT source,
               cume_dist() OVER (ORDER BY n_chars, doc_id) AS pctl
        FROM documents)
      SELECT source, count(*) AS n_docs,
             ${davgSql(rNSql("pctl", 9), 6)} AS mean_pctl
      FROM p GROUP BY source ORDER BY source"""),
  )

  /** HEAPS'-LAW VOCABULARY GROWTH — how fast does the corpus vocabulary
    * grow as documents accumulate (in doc_id order)? The sub-linear
    * curve is the dedup/quality fingerprint: a vocabulary that grows
    * LINEARLY is noise or unique IDs; one that flattens early is
    * boilerplate. Cumulative-distinct without quadratic state via the
    * FIRST-OCCURRENCE trick: a token joins the vocabulary at its
    * min(doc_id), so vocab(checkpoint) = count(first_doc ≤ chk) — one
    * tokenize pass, one |vocab|-row aggregate, both combinable; the 10
    * decile checkpoints (ntile over doc ids) broadcast. Output per
    * checkpoint: cumulative tokens, vocabulary size, type-token ratio. */
  val qHeaps: GQuery = GQuery(
    "q_heaps",
    (spark, dir) => {
      import spark.implicits._
      val tok = Tables.documents(spark, dir)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
      val firsts = tok.groupBy($"token").agg(min($"doc_id").as("first_doc"))
      val perDoc = tok.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
      val chk = perDoc
        .withColumn("dec", ntile(10).over(
          Window.orderBy($"doc_id")).cast("int"))
        .groupBy($"dec").agg(max($"doc_id").as("chk"))
      val cumTok = broadcast(chk).join(perDoc, $"doc_id" <= $"chk")
        .groupBy($"dec", $"chk").agg(sum($"nt").as("cum_tokens"))
      val vocab = broadcast(chk.select($"dec".as("d2"), $"chk".as("c2")))
        .join(firsts, $"first_doc" <= $"c2")
        .groupBy($"d2".as("dec")).agg(count(lit(1)).as("vocab"))
      cumTok.join(vocab, "dec")
        .select($"dec".as("decile"), $"chk".as("last_doc"),
          $"cum_tokens", $"vocab",
          r6($"vocab".cast("double") / $"cum_tokens".cast("double"))
            .as("type_token_ratio"))
        .orderBy($"decile")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
      firsts AS (
        SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token),
      per_doc AS (
        SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
      chk AS (
        SELECT dec, max(doc_id) AS chk FROM (
          SELECT doc_id,
                 cast(ntile(10) OVER (ORDER BY doc_id) as int) AS dec
          FROM per_doc) t
        GROUP BY dec),
      ct AS (
        SELECT dec, chk, cast(sum(nt) as bigint) AS cum_tokens
        FROM chk JOIN per_doc ON doc_id <= chk
        GROUP BY dec, chk),
      vc AS (
        SELECT dec, count(*) AS vocab
        FROM chk JOIN firsts ON first_doc <= chk
        GROUP BY dec)
      SELECT ct.dec AS decile, chk AS last_doc, cum_tokens,
             cast(vocab as bigint) AS vocab,
             ${r6Sql("cast(vocab as double) / cast(cum_tokens as double)")}
               AS type_token_ratio
      FROM ct JOIN vc ON vc.dec = ct.dec
      ORDER BY decile"""),
  )

  /** PER-CLASS PRECISION / RECALL / F1 of the heuristic language-ID
    * against the declared label — the classification-evaluation
    * operator family, composed from the SAME classifier output that
    * feeds q_lang_confusion (one source of truth for the predictions;
    * the oracle nests q_langid's SQL the same way). All counts are
    * integers off the ≤25-cell confusion matrix; the metric divisions
    * are CASE-guarded on both sides because ANSI Spark ERRORS on /0
    * where a lazy engine would emit NaN — a class the classifier never
    * predicts gets NULL precision/F1, not a crash. */
  val qPrf: GQuery = GQuery(
    "q_prf",
    (spark, dir) => {
      import spark.implicits._
      val m = LlmOps.qLangId.run(spark, dir)
        .groupBy($"lang", $"lang_pred")
        .agg(count(lit(1)).as("n"))
      val rowT = m.groupBy($"lang").agg(sum($"n").as("n_true"))
      val colT = m.groupBy($"lang_pred").agg(sum($"n").as("n_pred"))
      val diag = m.filter($"lang" === $"lang_pred")
        .select($"lang", $"n".as("tp"))
      val j = rowT
        .join(broadcast(diag), Seq("lang"), "left")
        .join(broadcast(colT.select($"lang_pred".as("lang"), $"n_pred")),
          Seq("lang"), "left")
        .select($"lang",
          coalesce($"tp", lit(0L)).as("tp"),
          $"n_true",
          coalesce($"n_pred", lit(0L)).as("n_pred"))
      val p = when($"n_pred" > 0,
        $"tp".cast("double") / $"n_pred".cast("double"))
      val r = $"tp".cast("double") / $"n_true".cast("double")
      j.select($"lang", $"tp", $"n_true", $"n_pred",
          r6(p).as("precision"), r6(r).as("recall"),
          r6(when($"n_pred" > 0 && ($"tp" > 0),
            lit(2.0) * p * r / (p + r))).as("f1"))
        .orderBy($"lang")
    },
    LlmOps.qLangId.oracle.map(inner => s"""
      WITH m AS (
        SELECT lang, lang_pred, count(*) AS n
        FROM ($inner) li
        GROUP BY lang, lang_pred),
      rt AS (SELECT lang, cast(sum(n) as bigint) AS n_true
             FROM m GROUP BY lang),
      ct AS (SELECT lang_pred, cast(sum(n) as bigint) AS n_pred
             FROM m GROUP BY lang_pred),
      dg AS (SELECT lang, cast(n as bigint) AS tp
             FROM m WHERE lang = lang_pred),
      j AS (
        SELECT rt.lang, coalesce(dg.tp, 0) AS tp, rt.n_true,
               coalesce(ct.n_pred, 0) AS n_pred
        FROM rt
        LEFT JOIN dg ON dg.lang = rt.lang
        LEFT JOIN ct ON ct.lang_pred = rt.lang)
      SELECT lang, tp, n_true, n_pred,
             ${r6Sql("CASE WHEN n_pred > 0 THEN " +
               "cast(tp as double) / cast(n_pred as double) END")}
               AS precision,
             ${r6Sql("cast(tp as double) / cast(n_true as double)")}
               AS recall,
             ${r6Sql("CASE WHEN n_pred > 0 AND tp > 0 THEN " +
               "cast(2.0 as double) * " +
               "(cast(tp as double) / cast(n_pred as double)) * " +
               "(cast(tp as double) / cast(n_true as double)) / " +
               "((cast(tp as double) / cast(n_pred as double)) + " +
               "(cast(tp as double) / cast(n_true as double))) END")} AS f1
      FROM j ORDER BY lang"""),
  )

  /** HAPAX LEGOMENA profile per source: vocabulary size, share of
    * once-only tokens (hapax ratio), and type-token ratio — the
    * lexical-richness triple that distinguishes generative/natural text
    * from template spam (near-zero hapax share) at a glance. One
    * explode + one combinable (source, token) count + one combinable
    * per-source reduction; every ratio is a single IEEE division of
    * exact int64 counts. The intermediate is vocabulary-bounded per
    * source — the same posture as q_heaps/q_zipf at 100 TB. */
  val qHapax: GQuery = GQuery(
    "q_hapax",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"source", explode(split($"text", " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(count(lit(1)).as("vocab"),
          sum($"c").as("n_tokens"),
          sum(when($"c" === 1L, 1L).otherwise(0L)).as("hapax"))
        .select($"source", $"vocab", $"n_tokens", $"hapax",
          r6($"hapax".cast("double") / $"vocab".cast("double"))
            .as("hapax_ratio"),
          r6($"vocab".cast("double") / $"n_tokens".cast("double"))
            .as("ttr"))
        .orderBy($"source")
    },
    Some(s"""
      WITH c AS (
        SELECT source, tok, cast(count(*) as bigint) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents) t0
        GROUP BY source, tok),
      g AS (
        SELECT source, cast(count(*) as bigint) AS vocab,
               cast(sum(c) as bigint) AS n_tokens,
               cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) as bigint)
                 AS hapax
        FROM c GROUP BY source)
      SELECT source, vocab, n_tokens, hapax,
             ${r6Sql("cast(hapax as double) / cast(vocab as double)")}
               AS hapax_ratio,
             ${r6Sql("cast(vocab as double) / cast(n_tokens as double)")}
               AS ttr
      FROM g ORDER BY source"""),
  )

  /** PER-SOURCE LANGUAGE MIS-TAG TRIAGE — the curation screen that ranks
    * sources by how often the n-gram language identifier
    * ([[LlmOps.qLangId]]'s exact scorer) disagrees with the shipped
    * `lang` tag: a source with a high mismatch rate has a broken
    * upstream tagger (or isn't text at all) and gets audited before the
    * per-language mixture weights trust its labels. Unknowns (no marker
    * hits) are reported separately — short docs are not evidence of
    * mis-tagging. One doc_id equi-join to recover the source, then a
    * combinable groupBy to the |sources|-row report. */
  val qLangMismatch: GQuery = GQuery(
    "q_lang_mismatch",
    (spark, dir) => {
      import spark.implicits._
      val pred = LlmOps.qLangId.run(spark, dir)
        .select($"doc_id", $"lang", $"lang_pred")
      val src = Tables.documents(spark, dir).select($"doc_id", $"source")
      pred.join(src, "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"lang_pred" === "unknown", lit(1))).as("n_unknown"),
          count(when($"lang_pred" =!= "unknown" &&
            $"lang_pred" =!= $"lang", lit(1))).as("n_mismatch"))
        .withColumn("mismatch_rate",
          r6($"n_mismatch".cast("double") / $"n_docs".cast("double")))
        .orderBy($"source")
    },
    LlmOps.qLangId.oracle.map(inner => s"""
      SELECT d.source, count(*) AS n_docs,
             count(CASE WHEN lang_pred = 'unknown' THEN 1 END) AS n_unknown,
             count(CASE WHEN lang_pred <> 'unknown'
                         AND lang_pred <> p.lang THEN 1 END) AS n_mismatch,
             ${r6Sql("cast(count(CASE WHEN lang_pred <> 'unknown' " +
               "AND lang_pred <> p.lang THEN 1 END) as double) / " +
               "cast(count(*) as double)")} AS mismatch_rate
      FROM ($inner) p
      JOIN documents d ON p.doc_id = d.doc_id
      GROUP BY d.source
      ORDER BY d.source"""),
  )

  val all: Seq[GQuery] = Seq(
    qNgramNovelty, qReadability, qTailIndex, qLangConfusion, qHhi,
    qQuantileMap, qHeaps, qPrf, qHapax, qLangMismatch)
}
