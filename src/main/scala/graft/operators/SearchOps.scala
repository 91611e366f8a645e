package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._

/** Corpus search & drift: positional inverted-index phrase lookup and
  * per-source distribution drift — the retrieval/monitoring layer of a
  * training-data pipeline.
  */
object SearchOps {

  /** PHRASE SEARCH over a positional inverted index — exact multi-token
    * lookup, the operation a substring/quote scan at corpus scale
    * actually is (regex over raw text re-reads every byte; a positional
    * index turns it into equi-joins). The index is (token, doc, pos)
    * from ONE posexplode pass; the searched phrase is itself derived
    * in-query (the corpus's most frequent trigram, count-desc /
    * lexicographic tiebreak — deterministic at every SF, never an
    * out-of-band literal); the phrase match is two self equi-joins ON
    * TOKEN with adjacent-position conjuncts — candidate lists are
    * per-token posting lists, so the join never touches documents that
    * lack a phrase word. Output: matching docs with occurrence counts.
    * At 100 TB the same index is a bucketed table keyed by token and
    * the phrase join is three posting-list fetches.
    * Round-9 adjudication of the 10.2s-vs-4.15s driver-bench divergence
    * (BENCH_r08 #2 line item): PerfProbe best-of-3 measured 3.60s WITH
    * a full Bench running concurrently — in-sequence contention, not a
    * regression; the index-consumed-3x recompute form stays (the
    * checkpointed form measured slower, CLAUDE.md round-8 gotcha).
    * Bench's end-of-run "retimed" map now self-adjudicates this. */
  val qPhraseSearch: GQuery = GQuery(
    "q_phrase_search",
    (spark, dir) => {
      import spark.implicits._
      // r15 rewrite (guide §2.3/§2.4, the q_phrase_search_xl posting-cut
      // idiom): (a) split ONCE in a projection — the old transform
      // lambda re-ran split(text) per sequence element, O(len²) splits
      // per doc; (b) checkpoint the 1-row phrase — it feeds three
      // broadcast joins, each of which re-ran the whole gram groupBy;
      // (c) cut EACH posting leg with the broadcast 1-row phrase BEFORE
      // any doc/pos join, so the adjacency joins shuffle a few hundred
      // matching postings instead of the full index twice. The index is
      // still recomputed per leg (map-only; the checkpointed-index form
      // measured slower, r8 gotcha) and counts are unchanged: idx has
      // one row per (doc, pos), so each cut leg contributes the same
      // ≤1 row per position the old join-condition filter kept.
      val docsSplit = Parallel.spread(Tables.documents(spark, dir))
        .select($"doc_id", split($"text", " ").as("l"))
      val idx = docsSplit
        .select($"doc_id", posexplode($"l").as(Seq("pos", "tok")))
      // tokens contain no spaces, so lexicographic order on the joined
      // gram string == order on the token tuple — one sort key, same in
      // both engines
      val phrase = docsSplit
        .select(explode(expr(
          "transform(sequence(1, greatest(size(l) - 2, 0)), " +
            "i -> concat_ws(' ', element_at(l, i), " +
            "element_at(l, i+1), element_at(l, i+2)))")).as("gram"))
        .groupBy($"gram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"gram")
        .limit(1)
        .select(
          element_at(split($"gram", " "), 1).as("w1"),
          element_at(split($"gram", " "), 2).as("w2"),
          element_at(split($"gram", " "), 3).as("w3"))
        .localCheckpoint()
      val t1 = idx.join(broadcast(phrase), $"tok" === $"w1")
        .select($"doc_id", $"pos")
      val t2 = idx.join(broadcast(phrase), $"tok" === $"w2")
        .select($"doc_id".as("d2"), $"pos".as("p2"))
      val t3 = idx.join(broadcast(phrase), $"tok" === $"w3")
        .select($"doc_id".as("d3"), $"pos".as("p3"))
      t1.join(t2, $"d2" === $"doc_id" && $"p2" === $"pos" + 1)
        .join(t3, $"d3" === $"doc_id" && $"p3" === $"pos" + 2)
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_occurrences"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      idx AS (
        SELECT doc_id,
               unnest(generate_series(1, len(l))) - 1 AS pos,
               unnest(l) AS tok
        FROM toks),
      grams AS (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(l) - 2, 0)),
                 i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS gram
        FROM toks),
      top_gram AS (
        SELECT gram, count(*) AS n FROM grams GROUP BY gram
        ORDER BY n DESC, gram LIMIT 1),
      phrase AS (
        SELECT string_split(gram, ' ')[1] AS w1,
               string_split(gram, ' ')[2] AS w2,
               string_split(gram, ' ')[3] AS w3
        FROM top_gram)
      SELECT t1.doc_id AS doc_id,
             cast(count(*) as int) AS n_occurrences
      FROM idx t1
      JOIN phrase ON t1.tok = w1
      JOIN idx t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
                 AND t2.tok = w2
      JOIN idx t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
                 AND t3.tok = w3
      GROUP BY t1.doc_id ORDER BY doc_id"""),
  )

  /** Per-source KL DIVERGENCE from the corpus unigram distribution —
    * the drift monitor that tells a data pipeline WHICH feed is
    * shifting (q_ngram_novelty says how much is new; KL says how far
    * the whole distribution has moved). Both distributions come from
    * ONE tokenize+groupBy pass (combinable counts); the per-source
    * token table joins the corpus table on token (equi); each term
    * pₛ·ln(pₛ/p) follows the q_entropy ln contract — IEEE-rounded at 6
    * dp BEFORE the exact decimal sum, so 1-ulp libm skew can't
    * accumulate. A source's tokens are a subset of the corpus's, so
    * p(t) > 0 always — no smoothing term to disagree on. */
  val qKlDrift: GQuery = GQuery(
    "q_kl_drift",
    (spark, dir) => {
      import spark.implicits._
      val tok = Tables.documents(spark, dir)
        .select($"source", explode(split($"text", " ")).as("tok"))
      val bySrc = tok.groupBy($"source", $"tok")
        .agg(count(lit(1)).as("c_st"))
      val srcTot = bySrc.groupBy($"source").agg(sum($"c_st").as("n_s"))
      val corpus = tok.groupBy($"tok").agg(count(lit(1)).as("c_t"))
      val tot = corpus.agg(sum($"c_t").as("n"))
      bySrc.join(srcTot, "source").join(corpus, "tok")
        .crossJoin(broadcast(tot))
        .select($"source",
          rN(($"c_st".cast("double") / $"n_s".cast("double")) *
            log(($"c_st".cast("double") * $"n".cast("double")) /
              ($"n_s".cast("double") * $"c_t".cast("double"))), 6)
            .as("term"))
        .groupBy($"source")
        .agg(dsum($"term", 6).as("kl_nats"))
        .orderBy($"source")
    },
    Some(s"""
      WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      by_src AS (
        SELECT source, tok, count(*) AS c_st FROM tok GROUP BY source, tok),
      src_tot AS (
        SELECT source, sum(c_st) AS n_s FROM by_src GROUP BY source),
      corpus AS (SELECT tok, count(*) AS c_t FROM tok GROUP BY tok),
      tot AS (SELECT sum(c_t) AS n FROM corpus),
      terms AS (
        SELECT source,
               ${rNSql("(cast(c_st as double) / cast(n_s as double)) * " +
                 "ln((cast(c_st as double) * cast(n as double)) / " +
                 "(cast(n_s as double) * cast(c_t as double)))", 6)} AS term
        FROM by_src
        JOIN src_tot USING (source)
        JOIN corpus USING (tok)
        CROSS JOIN tot)
      SELECT source, ${dsumSql("term", 6)} AS kl_nats
      FROM terms GROUP BY source ORDER BY source"""),
  )

  /** MAP@10 RETRIEVAL QUALITY over the inverted index — the evaluation
    * loop closed over q_phrase_search's posting lists: queries are the
    * corpus's own 5 highest-document-frequency tokens (df desc,
    * lexicographic tiebreak — derived in-query, never an out-of-band
    * literal); retrieval ranks each query's posting list by term
    * frequency (tf desc, doc_id tiebreak), top-10; relevance is a
    * PLANTED binary table (doc_id % 3 = 0 — like q_ndcg's label-equality
    * gains, the VALUES are near-chance but the METRIC COMPUTATION is
    * exercised end-to-end and fully deterministic). AP@10 = Σ rel(r) ·
    * P@r / n_rel with P@r = cum_rel/r — small-integer rationals,
    * identical IEEE in both engines — summed under the dsum contract;
    * MAP is the decimal-staged mean of the PUBLISHED per-query AP column
    * (null AP → 0 credit, the convention for zero-relevant queries). At
    * 100 TB the posting lists are the bucketed token table q_phrase_search
    * ships, the query set is a broadcast, and the per-query top-10 is a
    * partitioned window — one shuffle by token. */
  val qMapAtK: GQuery = GQuery(
    "q_map_at_k",
    (spark, dir) => {
      import spark.implicits._
      val idx = Tables.documents(spark, dir)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val qset = idx.groupBy($"tok").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"tok").limit(5).select($"tok")
      val wRank = Window.partitionBy($"tok").orderBy($"tf".desc, $"doc_id")
      val ranked = idx.join(broadcast(qset), "tok")
        .withColumn("rn", row_number().over(wRank))
        .filter($"rn" <= 10)
        .withColumn("rel",
          when($"doc_id" % 3 === 0, 1L).otherwise(0L))
      val wCum = Window.partitionBy($"tok").orderBy($"rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ap = ranked
        .withColumn("p_at_r",
          sum($"rel").over(wCum).cast("double") / $"rn".cast("double"))
        .groupBy($"tok".as("q_tok"))
        .agg(sum($"rel").cast("int").as("n_rel"),
          dsum($"rel".cast("double") * $"p_at_r", 6).as("ap_sum"))
        .select($"q_tok", $"n_rel",
          when($"n_rel" > 0, r6($"ap_sum" / $"n_rel".cast("double")))
            .as("ap"))
      val wAll = Window.partitionBy()
      ap.withColumn("map_at_10",
          r6(sum(coalesce($"ap", lit(0.0)).cast(DecimalType(30, 6)))
            .over(wAll).cast("double") /
            count(lit(1)).over(wAll).cast("double")))
        .orderBy($"q_tok")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      idx AS (
        SELECT doc_id, tok, cast(count(*) as bigint) AS tf
        FROM toks GROUP BY doc_id, tok),
      qset AS (
        SELECT tok FROM (
          SELECT tok, count(*) AS df FROM idx GROUP BY tok
          ORDER BY df DESC, tok LIMIT 5) t),
      ranked AS (
        SELECT tok, doc_id, rn,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
        FROM (
          SELECT i.tok, i.doc_id,
                 cast(row_number() OVER (PARTITION BY i.tok
                   ORDER BY i.tf DESC, i.doc_id) as bigint) AS rn
          FROM idx i JOIN qset q ON i.tok = q.tok) t
        WHERE rn <= 10),
      prec AS (
        SELECT tok, rel,
               cast(sum(rel) OVER (PARTITION BY tok ORDER BY rn
                 ROWS UNBOUNDED PRECEDING) as double)
                 / cast(rn as double) AS p_at_r
        FROM ranked),
      ap AS (
        SELECT tok AS q_tok, cast(sum(rel) as int) AS n_rel,
               ${dsumSql("cast(rel as double) * p_at_r", 6)} AS ap_sum
        FROM prec GROUP BY tok),
      ap2 AS (
        SELECT q_tok, n_rel,
               CASE WHEN n_rel > 0 THEN
                 ${r6Sql("ap_sum / cast(n_rel as double)")} END AS ap
        FROM ap)
      SELECT q_tok, n_rel, ap,
             ${r6Sql("cast(sum(cast(coalesce(ap, 0.0) as decimal(30,6))) " +
               "OVER () as double) / cast(count(*) OVER () as double)")}
               AS map_at_10
      FROM ap2 ORDER BY q_tok"""),
  )

  /** CRAWL-OVER-CRAWL JS DIVERGENCE — symmetric unigram-distribution
    * drift between two corpus snapshots (halves by doc_id parity as the
    * old/new proxy): JS = ½KL(p‖m) + ½KL(q‖m) with m = (p+q)/2, the
    * drift score a recurring ingest publishes to decide whether mixture
    * weights need refitting. Unlike [[qKlDrift]] (one-sided, subset
    * vocabulary), JS needs NO smoothing: m > 0 wherever either side has
    * mass, and one-sided tokens contribute exactly p·ln2. Both sides'
    * counts come from ONE tokenize+groupBy pass pivoted by half; the
    * two 1-row totals broadcast; every p·ln(p/m) term is IEEE-rounded
    * at 6 dp before the exact decimal sum (the q_entropy ln contract).
    * Scale: one combinable (half, token) count, one token-keyed
    * aggregate — linear, and the vocab table is the shuffle, not the
    * corpus. */
  val qJsDrift: GQuery = GQuery(
    "q_js_drift",
    (spark, dir) => {
      import spark.implicits._
      val tok = Tables.documents(spark, dir)
        .select(($"doc_id" % 2).cast("int").as("half"),
          explode(split($"text", " ")).as("tok"))
      val cnt = tok.groupBy($"tok").agg(
        count(when($"half" === 0, lit(1))).as("ca"),
        count(when($"half" === 1, lit(1))).as("cb"))
      val tot = cnt.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      val terms = cnt.crossJoin(broadcast(tot))
        .withColumn("p", $"ca".cast("double") / $"na".cast("double"))
        .withColumn("q", $"cb".cast("double") / $"nb".cast("double"))
        .withColumn("m", ($"p" + $"q") / lit(2.0))
        .select(
          when($"ca" > 0, rN($"p" * log($"p" / $"m"), 6))
            .otherwise(lit(0.0)).as("ta"),
          when($"cb" > 0, rN($"q" * log($"q" / $"m"), 6))
            .otherwise(lit(0.0)).as("tb"),
          $"ca", $"cb")
      terms.agg(
          sum(when($"ca" > 0, 1L).otherwise(0L)).as("vocab_a"),
          sum(when($"cb" > 0, 1L).otherwise(0L)).as("vocab_b"),
          sum(when($"ca" > 0 && $"cb" > 0, 1L).otherwise(0L))
            .as("vocab_shared"),
          dsum($"ta", 6).as("kl_a"),
          dsum($"tb", 6).as("kl_b"))
        .select($"vocab_a", $"vocab_b", $"vocab_shared",
          rN(($"kl_a" + $"kl_b") / lit(2.0), 6).as("js_nats"))
    },
    Some(s"""
      WITH tok AS (
        SELECT cast(doc_id % 2 as int) AS half,
               unnest(string_split(text, ' ')) AS tok
        FROM documents),
      cnt AS (
        SELECT tok,
               count(CASE WHEN half = 0 THEN 1 END) AS ca,
               count(CASE WHEN half = 1 THEN 1 END) AS cb
        FROM tok GROUP BY tok),
      tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt),
      terms AS (
        SELECT ca, cb,
               CASE WHEN ca > 0 THEN ${rNSql(
                 "(cast(ca as double) / cast(na as double)) * " +
                 "ln((cast(ca as double) / cast(na as double)) / " +
                 "(((cast(ca as double) / cast(na as double)) + " +
                 "(cast(cb as double) / cast(nb as double))) / " +
                 "cast(2.0 as double)))", 6)}
                    ELSE cast(0.0 as double) END AS ta,
               CASE WHEN cb > 0 THEN ${rNSql(
                 "(cast(cb as double) / cast(nb as double)) * " +
                 "ln((cast(cb as double) / cast(nb as double)) / " +
                 "(((cast(ca as double) / cast(na as double)) + " +
                 "(cast(cb as double) / cast(nb as double))) / " +
                 "cast(2.0 as double)))", 6)}
                    ELSE cast(0.0 as double) END AS tb
        FROM cnt CROSS JOIN tot),
      agg AS (
        SELECT cast(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) as bigint)
                 AS vocab_a,
               cast(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) as bigint)
                 AS vocab_b,
               cast(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                 as bigint) AS vocab_shared,
               ${dsumSql("ta", 6)} AS kl_a,
               ${dsumSql("tb", 6)} AS kl_b
        FROM terms)
      SELECT vocab_a, vocab_b, vocab_shared,
             ${rNSql("(kl_a + kl_b) / cast(2.0 as double)", 6)} AS js_nats
      FROM agg"""),
  )

  /** BUCKETED-index phrase search over the ×10 corpus — the measured
    * form of [[qPhraseSearch]]'s 100 TB claim ("the same index is a
    * bucketed table keyed by token and the phrase join is posting-list
    * fetches"; r14 verdict item 4 flagged the claim as untested). The
    * (doc_id, pos, tok) index is materialized ONCE per corpus as a
    * 16-bucket lake table on doc_id (Lake.ensurePositionalIndex — the
    * write is the one-time layout decision; every probe after it reads
    * the layout for free), and everything downstream exploits the
    * bucketing: the searched phrase is derived from the index itself
    * (per-doc lead window — no second corpus scan, partition key =
    * bucket key so no Exchange), each phrase word's POSTING LIST is cut
    * out first (broadcast 1-row phrase onto the index — broadcast joins
    * preserve the streamed side's bucket partitioning), and the
    * adjacency joins then key on doc_id ALONE — exactly the bucket
    * column, so co-partitioning holds under Spark's default
    * requireAllClusterKeysForCoPartition and neither side exchanges.
    * The position adjacency rides the join condition as a both-sides
    * conjunct (pos2 − pos = 1), which Catalyst cannot lift into the
    * join keys — lifting it was what forced a full-triple repartition
    * of every leg in the first cut of this query. The final per-doc
    * occurrence count groups on the bucket key (again exchange-free).
    * The ONLY shuffle left moves post-aggregation gram counts — at
    * 100 TB that is the |vocabulary| table, not the corpus. A
    * (doc, pos) pair matches at most one (doc, pos+1) row — positions
    * are unique per doc — so join multiplicities equal the original
    * three-way tok-keyed form's. PlanSpec pins the no-Exchange shape;
    * the phrase itself lands on the k = 0 xdocs slice (replica-suffixed
    * tokens tie on count, '…0' wins lexicographically), so the probe
    * touches 1/10th of the index — the sub-linear access pattern a
    * posting-list layout exists for. */
  val qPhraseSearchXl: GQuery = GQuery(
    "q_phrase_search_xl",
    (spark, dir) => {
      import spark.implicits._
      graft.sources.Lake.ensurePositionalIndex(spark, dir,
        ScaleOps.xdocs(Tables.documents(spark, dir)
            .select($"doc_id", $"text"), 10)
          .select($"doc_id",
            posexplode(split($"text", " ")).as(Seq("pos", "tok"))))
      val idx = spark.table("graft_idx_bucketed")
      val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      // concat (not concat_ws) so a past-the-end lead nulls the gram out
      // in BOTH engines (DuckDB || is null-propagating too)
      val phrase = idx
        .select(concat($"tok", lit(" "), lead($"tok", 1).over(wd),
          lit(" "), lead($"tok", 2).over(wd)).as("gram"))
        .filter($"gram".isNotNull)
        .groupBy($"gram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"gram").limit(1)
        .select(element_at(split($"gram", " "), 1).as("w1"),
          element_at(split($"gram", " "), 2).as("w2"),
          element_at(split($"gram", " "), 3).as("w3"))
      val t1 = idx.join(broadcast(phrase.select($"w1")), $"tok" === $"w1")
        .select($"doc_id", $"pos")
      val t2 = idx.join(broadcast(phrase.select($"w2")), $"tok" === $"w2")
        .select($"doc_id".as("doc_id2"), $"pos".as("pos2"))
      val t3 = idx.join(broadcast(phrase.select($"w3")), $"tok" === $"w3")
        .select($"doc_id".as("doc_id3"), $"pos".as("pos3"))
      t1
        .join(t2, $"doc_id2" === $"doc_id" && $"pos2" - $"pos" === 1)
        .join(t3, $"doc_id3" === $"doc_id" && $"pos3" - $"pos" === 2)
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_occurrences"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH idx AS (
        SELECT doc_id, pos, tok FROM ${graft.sources.Lake.posIdxOracle}),
      grams AS (
        SELECT gram FROM (
          SELECT tok || ' ' || lead(tok, 1) OVER w || ' ' ||
                 lead(tok, 2) OVER w AS gram
          FROM idx WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) g
        WHERE gram IS NOT NULL),
      top_gram AS (
        SELECT gram, count(*) AS n FROM grams GROUP BY gram
        ORDER BY n DESC, gram LIMIT 1),
      phrase AS (
        SELECT string_split(gram, ' ')[1] AS w1,
               string_split(gram, ' ')[2] AS w2,
               string_split(gram, ' ')[3] AS w3
        FROM top_gram)
      SELECT t1.doc_id AS doc_id,
             cast(count(*) as int) AS n_occurrences
      FROM idx t1
      JOIN phrase ON t1.tok = w1
      JOIN idx t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
                 AND t2.tok = w2
      JOIN idx t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
                 AND t3.tok = w3
      GROUP BY t1.doc_id ORDER BY doc_id"""),
  )

  val all: Seq[GQuery] =
    Seq(qPhraseSearch, qKlDrift, qMapAtK, qJsDrift, qPhraseSearchXl)
}
