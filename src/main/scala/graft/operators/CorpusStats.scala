package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._
import graft.functions.wordGrams

/** Corpus-statistics operators (SURVEY.md §2.B.8 extension, round 4
  * continued): token-distribution entropy, bigram PMI collocations,
  * per-label embedding centroids, and transitive near-dup clustering.
  * These are the analysis passes a training-data pipeline runs AFTER
  * cleaning — measuring what is in the corpus rather than filtering it.
  * All shuffles are map-side-combinable groupBys or bounded self-joins;
  * nothing materializes on the driver.
  */
object CorpusStats {

  /** Per-document token-distribution (Shannon) entropy in nats — the
    * quality signal that separates natural text (high entropy) from
    * degenerate repetition (low). One explode + one combinable groupBy on
    * (doc, n, token) + one combinable groupBy on doc; the total token
    * count n rides the first grouping key (constant per doc) instead of a
    * second windowed shuffle. Per-term contributions are IEEE-rounded at
    * 6dp and decimal-summed, so the cross-engine ln() agreement contract
    * is the same one q_tfidf already relies on. */
  val qEntropy: GQuery = GQuery(
    "q_entropy",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n"),
          explode(split($"text", " ")).as("tok"))
        .groupBy($"doc_id", $"n", $"tok")
        .agg(count(lit(1)).as("c"))
        .select($"doc_id", $"n",
          rN(($"c".cast("double") / $"n".cast("double")) *
            log($"n".cast("double") / $"c".cast("double")), 6).as("term"))
        .groupBy($"doc_id")
        .agg(max($"n").as("n_tokens"), dsum($"term", 6).as("entropy"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH c AS (
        SELECT doc_id, n, tok, count(*) AS c FROM (
          SELECT doc_id, cast(len(string_split(text, ' ')) as bigint) AS n,
                 unnest(string_split(text, ' ')) AS tok
          FROM documents) t0
        GROUP BY doc_id, n, tok)
      SELECT doc_id, cast(max(n) as bigint) AS n_tokens,
             ${dsumSql("term", 6)} AS entropy
      FROM (SELECT doc_id, n,
              ${rNSql("(cast(c as double) / cast(n as double)) * " +
                "ln(cast(n as double) / cast(c as double))", 6)} AS term
            FROM c) t1
      GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** Bigram pointwise mutual information with a support floor — the
    * collocation detector over the corpus token stream. Bigrams come from
    * the same per-row zip_with shingling as q_ngram (no self-join); the
    * two count tables are map-side-combinable groupBys; totals are two
    * scalar broadcasts; the scoring join is a plain equi-join on token.
    * The ≥5 floor bounds output exactly as it bounds any stored n-gram
    * table at 100 TB. */
  val qPmi: GQuery = GQuery(
    "q_pmi",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select(split($"text", " ").as("l"))
      val len1 = greatest(size($"l") - 1, lit(0))
      val uni = docs.select(explode($"l").as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n_tok"))
      val big0 = docs
        .select(explode(zip_with(
          slice($"l", lit(1), len1), slice($"l", lit(2), len1),
          (a, b) => struct(a.as("tok1"), b.as("tok2")))).as("bg"))
        .select($"bg.tok1".as("tok1"), $"bg.tok2".as("tok2"))
        .groupBy($"tok1", $"tok2").agg(count(lit(1)).as("n_pair"))
      val nTotal = uni.agg(sum($"n_tok").cast("double").as("n_total"))
      val m = big0.agg(sum($"n_pair").cast("double").as("m"))
      big0.filter($"n_pair" >= 5)
        .join(uni.select($"tok".as("tok1"), $"n_tok".as("n1")), "tok1")
        .join(uni.select($"tok".as("tok2"), $"n_tok".as("n2")), "tok2")
        .crossJoin(broadcast(nTotal))
        .crossJoin(broadcast(m))
        .select($"tok1", $"tok2", $"n_pair",
          r6(log(($"n_pair".cast("double") / $"m") /
            (($"n1".cast("double") / $"n_total") *
              ($"n2".cast("double") / $"n_total")))).as("pmi"))
        .orderBy($"tok1", $"tok2")
    },
    Some(s"""
      WITH l AS (SELECT string_split(text, ' ') AS l FROM documents),
      uni AS (SELECT tok, count(*) AS n_tok
              FROM (SELECT unnest(l) AS tok FROM l) u GROUP BY tok),
      big0 AS (SELECT tok1, tok2, count(*) AS n_pair FROM (
          SELECT l[i] AS tok1, l[i + 1] AS tok2 FROM (
            SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM l) b0) b1
        GROUP BY tok1, tok2),
      tot AS (SELECT cast(sum(n_tok) as double) AS n_total FROM uni),
      m AS (SELECT cast(sum(n_pair) as double) AS m FROM big0)
      SELECT tok1, tok2, n_pair,
        ${r6Sql("ln((cast(n_pair as double) / m) / " +
          "((cast(u1.n_tok as double) / n_total) * " +
          "(cast(u2.n_tok as double) / n_total)))")} AS pmi
      FROM big0
      JOIN uni u1 ON u1.tok = big0.tok1
      JOIN uni u2 ON u2.tok = big0.tok2
      CROSS JOIN tot CROSS JOIN m
      WHERE n_pair >= 5
      ORDER BY tok1, tok2"""),
  )

  /** Per-label embedding centroid, long form (label, dimension, mean) —
    * the vector aggregate behind class prototypes, cluster summaries, and
    * centroid-based ANN. posexplode keeps it relational: one combinable
    * groupBy on (label, pos), 64·|labels| output rows regardless of corpus
    * size. Floats are widened to double (exact) before the decimal-sum
    * average. */
  val qEmbedCentroid: GQuery = GQuery(
    "q_embed_centroid",
    (spark, dir) => {
      import spark.implicits._
      Tables.embeddings(spark, dir)
        .select($"label", posexplode($"embedding"))
        .select($"label", ($"pos" + 1).cast("int").as("pos"),
          $"col".cast("double").as("x"))
        .groupBy($"label", $"pos")
        .agg(count(lit(1)).as("n_vecs"), davg($"x", 6).as("avg_val"))
        .orderBy($"label", $"pos")
    },
    Some(s"""
      SELECT label, pos, count(*) AS n_vecs, ${davgSql("x", 6)} AS avg_val
      FROM (
        SELECT label,
               cast(unnest(generate_series(1, len(embedding))) as int) AS pos,
               unnest(list_transform(embedding, v -> cast(v as double))) AS x
        FROM embeddings) e
      GROUP BY label, pos
      ORDER BY label, pos"""),
  )

  /** Transitive near-duplicate clustering: connected components over the
    * Jaccard ≥ 0.9 pair graph, by bounded min-label propagation (depth 3)
    * expressed as a recursive CTE — doc A dups B dups C puts all three in
    * ONE cluster, which pairwise dedup alone cannot conclude. Bounded doc
    * set with planted full-copy duplicates (id+815000, the out-of-range
    * shifted-id convention) so clusters exist by
    * construction; both engines run the SAME bounded recursion, so the
    * result is deterministic whether or not it reached a fixpoint. At
    * scale the identical loop runs over the LSH candidate pairs
    * (graft.llm.NearDup) instead of the exact ones. */
  val qDedupCluster: GQuery = GQuery(
    "q_dedup_cluster",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).filter($"doc_id" < 40)
        .select($"doc_id", $"text")
      val docs = base.unionByName(
        base.select(($"doc_id" + 815000L).as("doc_id"), $"text"))
      val t = docs.select($"doc_id",
        explode(array_distinct(split($"text", " "))).as("term"))
      val sizes = t.groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      val inter = t.as("a")
        .join(t.as("b"), col("a.term") === col("b.term") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_common"))
      val jac = inter
        .join(sizes.withColumnRenamed("doc_id", "d1")
          .withColumnRenamed("n_terms", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
          .withColumnRenamed("n_terms", "n2"), "d2")
        // exact-int ratio: one IEEE division — identical bits both engines
        .filter($"n_common".cast("double") /
          ($"n1" + $"n2" - $"n_common") >= 0.9)
        .select($"d1", $"d2")
      // materialize the edge list once: the recursive UNION ALL below
      // re-evaluates its sources every iteration, which would re-run the
      // whole shingle/self-join/Jaccard pipeline 4x (measured 3s -> sub-1s
      // at sf0.1). localCheckpoint truncates lineage to the stored rows.
      jac.select($"d1".as("a"), $"d2".as("b"))
        .unionByName(jac.select($"d2".as("a"), $"d1".as("b")))
        .localCheckpoint()
        .createOrReplaceTempView("g4_dedup_edges")
      docs.select($"doc_id").localCheckpoint()
        .createOrReplaceTempView("g4_dedup_nodes")
      spark.sql("""
        WITH RECURSIVE lbl(id, lab, d) AS (
          SELECT doc_id, doc_id, 0 FROM g4_dedup_nodes
          UNION ALL
          SELECT e.b, l.lab, l.d + 1
          FROM lbl l JOIN g4_dedup_edges e ON e.a = l.id WHERE l.d < 3)
        SELECT cluster_id, count(*) AS cluster_size
        FROM (SELECT id, min(lab) AS cluster_id FROM lbl GROUP BY id) c
        GROUP BY cluster_id ORDER BY cluster_id""")
    },
    Some("""
      WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 40),
      docs AS (SELECT doc_id, text FROM base
               UNION ALL SELECT doc_id + 815000, text FROM base),
      t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
            FROM docs),
      sizes AS (SELECT doc_id, count(*) AS n_terms FROM t GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
                FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      jac AS (SELECT d1, d2 FROM inter
              JOIN sizes s1 ON s1.doc_id = d1
              JOIN sizes s2 ON s2.doc_id = d2
              WHERE cast(n_common as double)
                    / (s1.n_terms + s2.n_terms - n_common) >= 0.9),
      edges AS (SELECT d1 AS a, d2 AS b FROM jac
                UNION ALL SELECT d2, d1 FROM jac),
      lbl AS (
        SELECT doc_id AS id, doc_id AS lab, 0 AS d FROM docs
        UNION ALL
        SELECT e.b, l.lab, l.d + 1
        FROM lbl l JOIN edges e ON e.a = l.id WHERE l.d < 3)
      SELECT cluster_id, count(*) AS cluster_size
      FROM (SELECT id, min(lab) AS cluster_id FROM lbl GROUP BY id) c
      GROUP BY cluster_id ORDER BY cluster_id"""),
  )

  /** Chi-square contingency analysis of the lang × source table — the
    * independence test a corpus audit runs to find sources skewed toward
    * a language. Observed counts are one combinable groupBy; row/column
    * marginals re-aggregate its (tiny) output; expected = r·c/N and the
    * χ² contribution (o−e)²/e are pure IEEE arithmetic over exact integer
    * counts — identical bits in both engines before the final 6dp round.
    * Every join side after the first groupBy is marginal-sized:
    * broadcast, never shuffled. */
  val qChi2: GQuery = GQuery(
    "q_chi2",
    (spark, dir) => {
      import spark.implicits._
      val obs = Tables.documents(spark, dir)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("n_docs"))
      val rowT = obs.groupBy($"lang").agg(sum($"n_docs").as("r"))
      val colT = obs.groupBy($"source").agg(sum($"n_docs").as("c"))
      val tot = obs.agg(sum($"n_docs").as("t"))
      val e = $"r".cast("double") * $"c".cast("double") / $"t".cast("double")
      val o = $"n_docs".cast("double")
      obs.join(broadcast(rowT), "lang")
        .join(broadcast(colT), "source")
        .crossJoin(broadcast(tot))
        .select($"lang", $"source", $"n_docs",
          r6(e).as("expected"),
          r6((o - e) * (o - e) / e).as("chi2_term"))
        .orderBy($"lang", $"source")
    },
    Some(s"""
      WITH obs AS (SELECT lang, source, count(*) AS n_docs
                   FROM documents GROUP BY lang, source),
      rt AS (SELECT lang, sum(n_docs) AS r FROM obs GROUP BY lang),
      ct AS (SELECT source, sum(n_docs) AS c FROM obs GROUP BY source),
      tt AS (SELECT sum(n_docs) AS t FROM obs)
      SELECT lang, source, n_docs,
        ${r6Sql("cast(r as double) * cast(c as double) / cast(t as double)")}
          AS expected,
        ${r6Sql(
          "(cast(n_docs as double) - cast(r as double) * cast(c as double) / cast(t as double))" +
          " * (cast(n_docs as double) - cast(r as double) * cast(c as double) / cast(t as double))" +
          " / (cast(r as double) * cast(c as double) / cast(t as double))")}
          AS chi2_term
      FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tt
      ORDER BY lang, source"""),
  )

  /** The FULL MinHash-LSH near-dup pipeline under the hash-match oracle —
    * the first oracle-checked entry in the near-dup family (q_neardup_
    * minhash/simhash are rows-only because MLlib's hash family is not
    * SQL-expressible). Portable construction: 3-word shingles → 16 minhash
    * values h_s = min(md5(s ‖ '|' ‖ gram)) (md5 hex is lowercase in both
    * engines, and lexicographic min of fixed-width hex IS numeric min of
    * the 128-bit value) → 4 bands of 4 hashes, band signature =
    * md5(h‖h‖h‖h) → candidate pairs by band equi-join → exact-Jaccard
    * verification ≥ 0.8 on candidates only. Every stage is combinable
    * aggregation or equi-join — no all-pairs anywhere; candidates are the
    * only rows that reach the (expensive) verification, exactly the shape
    * that holds at 100 TB. Full-copy docs planted at doc_id+100000 make
    * the output non-vacuous at every SF. */
  val qNeardupBanded: GQuery = GQuery(
    "q_neardup_banded",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 50)
          .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      val g = docs
        .select($"doc_id",
          explode(wordGrams(split($"text", " "), 3)).as("gram"))
      // fused-kernel signature stage (byte-identical to the relational
      // oracle stage below — 4 md5s per distinct gram in one map-only
      // pass; see ScaleOps.kernelSigs / MinHashSigSpec); the gram table
      // g stays — the exact-Jaccard verify pass needs it
      val sigs = ScaleOps.kernelSigs(docs)
      val bandStructs = (0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|", col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
            col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))).as("sig")))
      val bands = sigs
        .select($"doc_id", explode(array(bandStructs: _*)).as("bs"))
        .select($"doc_id", $"bs.band_id".as("band_id"), $"bs.sig".as("sig"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val sizes = g.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = broadcast(cand)
        .join(g.as("g1"), col("g1.doc_id") === $"d1")
        .join(g.as("g2"),
          col("g2.doc_id") === $"d2" && col("g2.gram") === col("g1.gram"))
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), "d1")
        .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), "d2")
        .select($"d1", $"d2",
          r6($"n_common".cast("double") / ($"n1" + $"n2" - $"n_common"))
            .as("jaccard"))
        .filter($"jaccard" >= 0.8)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      g AS (SELECT doc_id, unnest(list_distinct(list_transform(
              generate_series(1, len(l) - 2),
              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM lt),
      sig AS (SELECT doc_id,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM g GROUP BY doc_id),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', h${4 * b}, " +
            s"h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS sig FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.sig = y.sig
                    AND x.doc_id < y.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      inter AS (SELECT d1, d2, count(*) AS n_common
                FROM cand
                JOIN g g1 ON g1.doc_id = cand.d1
                JOIN g g2 ON g2.doc_id = cand.d2 AND g2.gram = g1.gram
                GROUP BY d1, d2)
      SELECT d1, d2, jaccard FROM (
        SELECT d1, d2,
          ${r6Sql("cast(n_common as double) / (s1.n + s2.n - n_common)")}
            AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2) j
      WHERE jaccard >= cast(0.8 as double)
      ORDER BY d1, d2"""),
  )

  /** Count-min sketch, fully oracle-checked — the frequency twin of the
    * HLL/GK/Bloom sketch family. The sketch is built RELATIONALLY: each
    * token emits (row, bucket) cells for 4 independent hash rows
    * (portable md5 bucket hash, same idiom as q_neardup_banded), and one
    * combinable groupBy collapses them into at most 4·1024 cells — the
    * shuffle carries the CONSTANT-SIZE sketch, never the token stream.
    * Estimates for the exact top-20 terms are min-over-rows lookups via a
    * broadcast join against the cells; CMS guarantees est ≥ exact, and
    * both engines compute identical integers (no floats anywhere).
    */
  val qSketchCm: GQuery = GQuery(
    "q_sketch_cm",
    (spark, dir) => {
      import spark.implicits._
      val width = 1024
      val tokens = Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("term"))
      // ONE md5 per token: hash row d reads hex chars [8d+1, 8d+8] of the
      // same digest — 4 independent 32-bit hashes for a single hash pass.
      def buckets(c: org.apache.spark.sql.Column) = {
        val h = md5(c)
        array((0 until 4).map(d =>
          struct(lit(d).as("d"),
            (conv(substring(h, 8 * d + 1, 8), 16, 10).cast("long") % width)
              .as("w"))): _*)
      }
      val cells = tokens
        .select(explode(buckets($"term")).as("c"))
        .groupBy($"c.d".as("d"), $"c.w".as("w"))
        .agg(count(lit(1)).as("cnt"))
      val top = tokens.groupBy($"term").agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"exact_cnt".desc, $"term").limit(20)
      val probes = top.select($"term", $"exact_cnt", explode(buckets($"term")).as("c"))
        .select($"term", $"exact_cnt", $"c.d".as("d"), $"c.w".as("w"))
      probes.join(broadcast(cells), Seq("d", "w"))
        .groupBy($"term", $"exact_cnt")
        .agg(min($"cnt").as("est_cnt"))
        .orderBy($"exact_cnt".desc, $"term")
    },
    Some("""
      WITH tokens AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      cells AS (
        SELECT d, cast(concat('0x', substr(md5(term), 8 * d + 1, 8))
                 as bigint) % 1024 AS w,
               count(*) AS cnt
        FROM tokens CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) ds
        GROUP BY d, w),
      tp AS (
        SELECT term, count(*) AS exact_cnt FROM tokens GROUP BY term
        ORDER BY exact_cnt DESC, term LIMIT 20),
      probes AS (
        SELECT term, exact_cnt, d,
               cast(concat('0x', substr(md5(term), 8 * d + 1, 8))
                 as bigint) % 1024 AS w
        FROM tp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) ds)
      SELECT term, exact_cnt, min(cnt) AS est_cnt
      FROM probes JOIN cells USING (d, w)
      GROUP BY term, exact_cnt
      ORDER BY exact_cnt DESC, term"""),
  )

  /** Embedding-space health check: per-label cosine of each vector to its
    * class centroid (avg + min intra-class cosine). The centroid is the
    * decimal-summed exact average (q_embed_centroid's contract) rebuilt
    * into an ordered array per label — |labels| rows, broadcast back onto
    * the corpus — so each vector's cosine is ONE per-row sequential fold
    * with zero per-vector shuffle; the only shuffles are the two
    * constant-size centroid aggregations and the final per-label rollup.
    * The training-data use: labels whose members sit far from their own
    * centroid are mislabeled or heterogeneous — drop or re-cluster them.
    */
  val qClassScatter: GQuery = GQuery(
    "q_class_scatter",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
      val centroidLong = emb
        .select($"label", posexplode($"embedding"))
        .select($"label", $"pos", $"col".cast("double").as("x"))
        .groupBy($"label", $"pos")
        .agg(davg($"x", 6).as("c"))
      val centroids = centroidLong
        .groupBy($"label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cvec"))
      emb.join(broadcast(centroids), "label")
        .select($"label", $"vec_id",
          r6(
            expr("aggregate(zip_with(embedding, cvec, (a, b) -> a * b), 0D, (s, v) -> s + v)") /
              (sqrt(expr(
                "aggregate(transform(embedding, a -> cast(a as double) * a), 0D, (s, v) -> s + v)")) *
                sqrt(expr("aggregate(transform(cvec, b -> b * b), 0D, (s, v) -> s + v)"))))
            .as("cos"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          davg($"cos", 6).as("avg_cos"),
          min($"cos").as("min_cos"))
        .orderBy($"label")
    },
    Some(s"""
      WITH lf AS (
        SELECT label,
               cast(unnest(generate_series(1, len(embedding))) as int) AS pos,
               unnest(list_transform(embedding, v -> cast(v as double))) AS x
        FROM embeddings),
      cl AS (SELECT label, pos, ${davgSql("x", 6)} AS c
             FROM lf GROUP BY label, pos),
      cent AS (SELECT label, list(c ORDER BY pos) AS cvec
               FROM cl GROUP BY label),
      scored AS (
        SELECT e.label, vec_id,
          ${r6Sql(
            "list_sum(list_transform(generate_series(1, len(embedding)), " +
              "i -> embedding[i] * cvec[i])) / " +
              "(sqrt(list_sum(list_transform(embedding, a -> cast(a as double) * a))) * " +
              "sqrt(list_sum(list_transform(cvec, b -> b * b))))")} AS cos
        FROM embeddings e JOIN cent ON cent.label = e.label)
      SELECT label, count(*) AS n_vecs,
             ${davgSql("cos", 6)} AS avg_cos,
             min(cos) AS min_cos
      FROM scored GROUP BY label ORDER BY label"""),
  )

  /** Inter-class centroid similarity matrix — q_class_scatter's partner
    * diagnostic: pairwise cosine between label centroids. Label pairs
    * whose centroids nearly coincide are candidate duplicate/confusable
    * classes. The expensive part (centroid build) is the same two
    * constant-size aggregations; the pairwise stage is a |labels|²/2
    * self-join over a handful of rows — output is independent of corpus
    * size, so the query costs one centroid pass at any scale. */
  val qCentroidSim: GQuery = GQuery(
    "q_centroid_sim",
    (spark, dir) => {
      import spark.implicits._
      val centroids = Tables.embeddings(spark, dir)
        .select($"label", posexplode($"embedding"))
        .select($"label", $"pos", $"col".cast("double").as("x"))
        .groupBy($"label", $"pos")
        .agg(davg($"x", 6).as("c"))
        .groupBy($"label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cvec"))
      centroids.as("a")
        .join(centroids.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          r6(
            expr("aggregate(zip_with(a.cvec, b.cvec, (x, y) -> x * y), 0D, (s, v) -> s + v)") /
              (sqrt(expr("aggregate(transform(a.cvec, x -> x * x), 0D, (s, v) -> s + v)")) *
                sqrt(expr("aggregate(transform(b.cvec, y -> y * y), 0D, (s, v) -> s + v)"))))
            .as("cos"))
        .orderBy($"label_a", $"label_b")
    },
    Some(s"""
      WITH lf AS (
        SELECT label,
               cast(unnest(generate_series(1, len(embedding))) as int) AS pos,
               unnest(list_transform(embedding, v -> cast(v as double))) AS x
        FROM embeddings),
      cl AS (SELECT label, pos, ${davgSql("x", 6)} AS c
             FROM lf GROUP BY label, pos),
      cent AS (SELECT label, list(c ORDER BY pos) AS cvec
               FROM cl GROUP BY label)
      SELECT a.label AS label_a, b.label AS label_b,
        ${r6Sql(
          "list_sum(list_transform(generate_series(1, len(a.cvec)), " +
            "i -> a.cvec[i] * b.cvec[i])) / " +
            "(sqrt(list_sum(list_transform(a.cvec, x -> x * x))) * " +
            "sqrt(list_sum(list_transform(b.cvec, y -> y * y))))")} AS cos
      FROM cent a JOIN cent b ON a.label < b.label
      ORDER BY label_a, label_b"""),
  )

  /** Edit-distance fuzzy dedup — the near-dup detector for SMALL local
    * corruptions (typo fixes, trailing boilerplate, OCR noise) that
    * shingle-Jaccard under-weights on short docs. The quadratic
    * Levenshtein verify only ever runs on candidates from a BLOCKING
    * equi-join (first-24-chars key + length-band post-filter), never
    * all-pairs — the classic record-linkage shape: at 100 TB the cost is
    * one shuffle on the block key and a per-bucket verify bounded by the
    * bucket size (the blocking key is chosen so buckets stay O(1); a
    * production pass would OR several keys — prefix, suffix, rare-token —
    * each its own linear equi-join). Planted trailing-noise copies
    * (`text || ' qq'`, distance 3) keep the output non-vacuous at every
    * SF; distances are integers, so no rounding contract is needed. */
  val qDedupEdit: GQuery = GQuery(
    "q_dedup_edit",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 40)
          .select(($"doc_id" + 200000L).as("doc_id"),
            concat($"text", lit(" qq")).as("text")))
      val keyed = docs.select($"doc_id", $"text",
        substring($"text", 1, 24).as("bk"),
        length($"text").cast("int").as("len"))
      // The distance bound lives INSIDE the join condition, written LAST:
      // And short-circuits left-to-right, so the O(1) doc_id and
      // length-band tests reject the ~|docs| self-pairs (every row hash-
      // matches its own block) before any O(len²) DP runs. Filtering on a
      // projected edit_dist instead lets Catalyst push the predicate into
      // the join CONDITION HEAD, where levenshtein then runs on every
      // block-mate first — measured 5.6s → 0.85s at sf0.1 for this
      // reordering alone (tools/PerfProbe). The bound itself uses the
      // THRESHOLDED levenshtein (banded O(k·n) DP that bails as soon as
      // the distance provably exceeds 6, returning -1) — same verdict as
      // `levenshtein(...) <= 6` at a fraction of the DP work. The
      // projection recomputes the exact distance only for the handful of
      // surviving pairs.
      keyed.as("x").join(keyed.as("y"),
          col("x.bk") === col("y.bk") &&
            col("x.doc_id") < col("y.doc_id") &&
            abs(col("x.len") - col("y.len")) <= 6 &&
            levenshtein(col("x.text"), col("y.text"), 6) >= 0)
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          levenshtein(col("x.text"), col("y.text")).cast("int").as("edit_dist"),
          col("x.len").as("len1"), col("y.len").as("len2"))
        .orderBy($"d1", $"d2")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text || ' qq' FROM documents WHERE doc_id < 40),
      k AS (SELECT doc_id, text, substr(text, 1, 24) AS bk,
                   cast(length(text) as int) AS len
            FROM docs)
      SELECT x.doc_id AS d1, y.doc_id AS d2,
             cast(levenshtein(x.text, y.text) as int) AS edit_dist,
             x.len AS len1, y.len AS len2
      FROM k x JOIN k y
        ON x.bk = y.bk AND x.doc_id < y.doc_id AND abs(x.len - y.len) <= 6
      WHERE levenshtein(x.text, y.text) <= 6
      ORDER BY d1, d2"""),
  )

  /** Shingle CONTAINMENT — the asymmetric twin of Jaccard that catches
    * SUBSET duplication (a fragment extracted from a longer doc scores
    * containment ~1 while Jaccard ~0.5, below every near-dup threshold).
    * Candidates come from an inverted-index equi-join restricted to RARE
    * shingles (document frequency <= 8): the df cap bounds each gram's
    * posting list, so candidate generation is a linear equi-join with
    * O(df²) pairs per gram — the standard way to keep an inverted-index
    * self-join from exploding on stopword-like shingles at corpus scale.
    * Verification counts shared grams on candidates only (broadcast pair
    * list, same shape as q_neardup_banded). Planted first-half fragments
    * of 30 docs guarantee containment-1.0 pairs at every SF. */
  private def mkContainment(name: String, expand: Int): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = ScaleOps.xdocs(Tables.documents(spark, dir)
        .filter($"doc_id" < 1000000L).select($"doc_id", $"text"), expand)
      val docs = base.unionByName(
        base.filter($"doc_id" < 30)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat_ws(" ",
              slice(split($"text", " "), lit(1),
                floor(size(split($"text", " ")) / 2).cast("int")))
              .as("text")))
      // r15 optimization-round rewrite (guide §2.3/§2.4): the old form
      // re-evaluated the corpus gram-explode FIVE times (df agg, posting
      // join, both verify sides, sizes agg). Now the per-doc distinct-gram
      // ARRAY is materialized once (50k rows ≪ the 5M exploded rows the
      // r14 A/B rejected checkpointing) and consumed three ways: one
      // explode for the df-capped posting list (df via a window count —
      // one exchange replaces the groupBy+join pair), and two array-sided
      // broadcast joins for the verify, where size(array_intersect) is
      // the exact shared-gram count — the whole 2-scan + groupBy verify
      // collapses into a map-side expression over |cand| rows.
      val dg = Parallel.spread(docs)
        .select($"doc_id",
          wordGrams(split($"text", " "), 3).as("grams"))
        .localCheckpoint()
      val g = dg.select($"doc_id", explode($"grams").as("gram"))
      val posting = g
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
        .filter($"df" <= 8).select($"doc_id", $"gram")
      // Candidates must share >= 2 rare grams: same shuffle count as a
      // DISTINCT (the pair groupBy IS the dedup) but cuts candidates ~50×
      // on this corpus (188k → 3.6k at sf0.1) before the exact
      // intersection verify — the standard posting-join support floor.
      // Recall tradeoff is explicit: a true pair sharing only ONE rare
      // gram is missed (1 of 30 planted fragments at sf0.1).
      val cand = posting.as("x").join(posting.as("y"),
          col("x.gram") === col("y.gram") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("ns"))
        .filter($"ns" >= 2)
        .select($"d1", $"d2")
      broadcast(cand)
        .join(dg.select($"doc_id".as("d1"), $"grams".as("g1")), "d1")
        .join(dg.select($"doc_id".as("d2"), $"grams".as("g2")), "d2")
        .select($"d1", $"d2",
          size($"g1").cast("long").as("n1"),
          size($"g2").cast("long").as("n2"),
          size(array_intersect($"g1", $"g2")).as("n_common"))
        .select($"d1", $"d2", $"n1", $"n2",
          r6($"n_common".cast("double") / least($"n1", $"n2"))
            .as("containment"))
        .filter($"containment" >= 0.9)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH xb AS (${ScaleOps.xdocsSql(1000000L, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(l[1:cast(floor(len(l) / 2) as int)], ' ')
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM xb)
        WHERE doc_id < 30),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      g AS (SELECT doc_id, unnest(list_distinct(list_transform(
              generate_series(1, len(l) - 2),
              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM lt),
      rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 8),
      posting AS (SELECT doc_id, gram FROM g JOIN rare USING (gram)),
      cand AS (SELECT x.doc_id AS d1, y.doc_id AS d2
               FROM posting x JOIN posting y
                 ON x.gram = y.gram AND x.doc_id < y.doc_id
               GROUP BY d1, d2 HAVING count(*) >= 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      inter AS (SELECT d1, d2, count(*) AS n_common
                FROM cand
                JOIN g g1 ON g1.doc_id = cand.d1
                JOIN g g2 ON g2.doc_id = cand.d2 AND g2.gram = g1.gram
                GROUP BY d1, d2)
      SELECT d1, d2, n1, n2, containment FROM (
        SELECT d1, d2, s1.n AS n1, s2.n AS n2,
          ${r6Sql("cast(n_common as double) / least(s1.n, s2.n)")}
            AS containment
        FROM inter
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2) j
      WHERE containment >= cast(0.9 as double)
      ORDER BY d1, d2"""),
  )

  val qContainment: GQuery = mkContainment("q_containment", 1)

  /** ×10 scaling twin: the df ≤ 8 posting cap is the quantity under
    * test — replica grams are k-suffixed so per-k posting lists keep the
    * organic df distribution, and candidate mass should grow ~linearly
    * with the corpus, not quadratically. */
  val qContainmentXxl: GQuery = mkContainment("q_containment_xxl", 10)

  /** EXACT-threshold set-similarity self-join via PREFIX FILTERING — the
    * PPJoin candidate bound, completing the dedup ladder: q_neardup_*
    * are probabilistic (bands can miss), q_containment caps posting
    * lists (documented recall loss), this one GUARANTEES every pair
    * with word-set Jaccard >= 0.8 is found. The filter: order each
    * document's distinct words by a single global order (ascending
    * document frequency, token as tiebreak — rarest first) and keep
    * only the first n - ceil(0.8·n) + 1 as its prefix; two sets with
    * Jaccard >= 0.8 MUST share a prefix token (pigeonhole on the
    * (1-t)/(1+t) overlap bound), so candidates come from an equi-join
    * on prefix tokens only — and prefixes are short AND rare by
    * construction, so posting lists stay small without any cap. The
    * set elements are 3-gram SHINGLES, not words: this corpus draws
    * from a ~50-word vocabulary, so word SETS are near-identical
    * across unrelated docs (word-level J >= 0.8 holds for half of all
    * pairs — quadratic output), while the shingle space keeps
    * unrelated docs near J = 0 and posting lists short. No global
    * token ranking is materialized: (df, token) tuple order IS the
    * global order, applied per-doc by a doc-partitioned window —
    * vocabulary never funnels through one partition. Verification
    * computes exact |intersection| on candidates only (broadcast pair
    * list). Planted one-extra-word clones (shingle J ≈ (g-2)/(g+1)
    * >= 0.8 for docs of >= ~15 words) keep the output non-vacuous at
    * every SF. */
  /** Shared exact-pair pipeline for q_jaccard_prefix / q_er_match: all
    * (d1 < d2) pairs with shingle-set Jaccard >= 0.8, found via the
    * prefix filter, with exact counts. Returns columns
    * (d1, d2, n1, n2, n_inter, jaccard).
    * `expand` is the ×N in-plan corpus generator (ScaleOps.xdocs) behind
    * the `_xxl` scaling twins — round-13 verdict item 3: the exact-verify
    * family's candidate density is the one super-linear hazard with no
    * measured scaling point. Replica tokens are suffixed by k, so the
    * ×N corpus has the organic near-dup structure ×N, never an N-way
    * clone family; plants shift +1000000, out of the xdocs id space
    * (doc_id + k·100000 < 10^6). */
  private def jaccardPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String, expand: Int = 1) = {
    import spark.implicits._
    val base = ScaleOps.xdocs(Tables.documents(spark, dir)
      .filter($"doc_id" < 1000000L).select($"doc_id", $"text"), expand)
    val docs = base.unionByName(
      base.filter($"doc_id" < 35)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" zzextra")).as("text")))
    // fused kernel gram explode (WordGramsSpec proves set equality with
    // the array_distinct(transform(...)) chain the oracle mirrors);
    // repartition first: single-row-group fixture parquet (CLAUDE.md
    // r13).
    // r15 optimization-round rewrite (guide §2.3/§2.4): the r14 form
    // re-evaluated the corpus kernel explode 4× at expand>1 (df agg,
    // ranking join, both verify sides) and shipped the 5M-row exploded
    // table through a groupBy+join for df and a 2-scan groupBy verify.
    // Now: (a) the per-doc distinct-gram ARRAY is checkpointed once
    // (|docs| rows — 100× fewer than the exploded form whose checkpoint
    // the r14 A/B measured slower) and explodes once for the prefix path;
    // (b) df comes from a window count over the token partition — one
    // exchange where groupBy+join paid two plus a kernel re-run; (c) the
    // per-doc gram count n rides along from size(grams) — no second
    // window; (d) the verify joins the gram ARRAYS to the broadcast
    // candidate list and counts size(array_intersect) map-side — the two
    // exploded verify scans and their groupBy disappear.
    val dg = Parallel.spread(docs)
      .select($"doc_id",
        wordGrams(split($"text", " "), 3).as("grams"))
      .localCheckpoint() // 3 consumers: prefix path + both verify sides
    val tok = dg.select($"doc_id",
      size($"grams").cast("long").as("n"), explode($"grams").as("token"))
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy($"token")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"token")
    val sized = tok
      .withColumn("df", count(lit(1)).over(wTok))
      .withColumn("pos", row_number().over(wDoc))
    val prefix = sized
      .filter($"pos" <= $"n" - ceil(lit(0.8) * $"n").cast("int") + 1)
      .select($"doc_id", $"token", $"n")
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.token") === col("y.token") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.n").as("n1"), col("y.n").as("n2"))
      .distinct()
    val inter = broadcast(cand)
      .join(dg.select($"doc_id".as("d1"), $"grams".as("g1")), "d1")
      .join(dg.select($"doc_id".as("d2"), $"grams".as("g2")), "d2")
      .select($"d1", $"d2", $"n1", $"n2",
        size(array_intersect($"g1", $"g2")).as("n_inter"))
    inter
      .select($"d1", $"d2", $"n1".cast("int").as("n1"),
        $"n2".cast("int").as("n2"), $"n_inter".cast("int").as("n_inter"),
        r6($"n_inter".cast("double") /
          ($"n1" + $"n2" - $"n_inter").cast("double")).as("jaccard"))
      .filter($"jaccard" >= 0.8)
  }

  /** SQL twin of [[jaccardPairs]]: CTE block ending in a relation
    * `pairs(d1, d2, n1, n2, n_inter, jaccard)`. */
  private def jaccardPairsCte(expand: Int = 1): String = s"""xb AS (
        ${ScaleOps.xdocsSql(1000000L, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 1000000, text || ' zzextra' FROM xb
        WHERE doc_id < 35),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      tok AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(l) < 3 THEN [] ELSE list_transform(
            generate_series(1, len(l) - 2),
            i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]) END)) AS token
        FROM lt),
      df AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      sized AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY df, token) AS pos,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM tok JOIN df USING (token)),
      prefix AS (
        SELECT doc_id, token, n FROM sized
        WHERE pos <= n - cast(ceil(cast(0.8 as double) * n) as int) + 1),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               x.n AS n1, y.n AS n2
        FROM prefix x JOIN prefix y
          ON x.token = y.token AND x.doc_id < y.doc_id),
      inter AS (
        SELECT d1, d2, n1, n2, count(*) AS n_inter
        FROM cand
        JOIN tok t1 ON t1.doc_id = cand.d1
        JOIN tok t2 ON t2.doc_id = cand.d2 AND t2.token = t1.token
        GROUP BY d1, d2, n1, n2),
      pairs AS (
        SELECT d1, d2, n1, n2, n_inter, jaccard FROM (
          SELECT d1, d2, cast(n1 as int) AS n1, cast(n2 as int) AS n2,
                 cast(n_inter as int) AS n_inter,
                 ${r6Sql("cast(n_inter as double) / " +
                   "cast(n1 + n2 - n_inter as double)")} AS jaccard
          FROM inter) j
        WHERE jaccard >= cast(0.8 as double))"""

  private def mkJaccardPrefix(name: String, expand: Int): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      jaccardPairs(spark, dir, expand).orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH ${jaccardPairsCte(expand)}
      SELECT d1, d2, n1, n2, n_inter, jaccard FROM pairs
      ORDER BY d1, d2"""),
  )

  val qJaccardPrefix: GQuery = mkJaccardPrefix("q_jaccard_prefix", 1)

  /** ×10 scaling twin — measures PPJoin prefix-filter selectivity and
    * exact-verify cost at ~50k docs (sf0.1 bench), the number a 100 TB
    * near-dup plan actually needs. */
  val qJaccardPrefixXxl: GQuery =
    mkJaccardPrefix("q_jaccard_prefix_xxl", 10)

  /** Entity resolution, the matching step: collapse the >= 0.8 similarity
    * pairs to MUTUAL-BEST 1:1 matches — each record pairs with its
    * single best counterpart, and the pair survives only if the choice
    * is mutual (the standard greedy-stable approximation; a record in
    * several near-dup relationships contributes exactly one merge edge,
    * which is what an identity-merge job can actually apply). Two
    * row_number windows over the pair table — |pairs|-sized, tiny after
    * candidate filtering — with the r6'd score and doc-id tiebreaks
    * making both engines pick identical winners. Planted one-word-off
    * clones resolve 1:1 to their originals at every SF. */
  private def mkErMatch(name: String, expand: Int): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      // the pair table is tiny (|near-dup pairs|); checkpointing it lets
      // the two window passes and the final sort run over a materialized
      // few-hundred-row input instead of re-entering the full pipeline
      val pairs = jaccardPairs(spark, dir, expand).localCheckpoint()
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy($"d1").orderBy($"jaccard".desc, $"d2")
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy($"d2").orderBy($"jaccard".desc, $"d1")
      pairs
        .withColumn("r1", row_number().over(w1))
        .withColumn("r2", row_number().over(w2))
        .filter($"r1" === 1 && $"r2" === 1)
        .select($"d1".as("canonical"), $"d2".as("duplicate"), $"jaccard")
        .orderBy($"canonical")
    },
    Some(s"""
      WITH ${jaccardPairsCte(expand)},
      rk AS (
        SELECT d1, d2, jaccard,
               row_number() OVER (PARTITION BY d1
                                  ORDER BY jaccard DESC, d2) AS r1,
               row_number() OVER (PARTITION BY d2
                                  ORDER BY jaccard DESC, d1) AS r2
        FROM pairs)
      SELECT d1 AS canonical, d2 AS duplicate, jaccard
      FROM rk WHERE r1 = 1 AND r2 = 1
      ORDER BY canonical"""),
  )

  val qErMatch: GQuery = mkErMatch("q_er_match", 1)

  /** ×10 scaling twin of the mutual-best ER matcher (shares
    * [[jaccardPairs]] with q_jaccard_prefix_xxl — the windowed 1:1
    * resolution runs over the pair table, so its extra cost at 10× docs
    * is the pair count, not the corpus). */
  val qErMatchXxl: GQuery = mkErMatch("q_er_match_xxl", 10)

  /** DUNNING G² (log-likelihood ratio) collocation score for bigrams —
    * the significance-based companion to q_pmi (PMI over-ranks rare
    * pairs; G² does not). The 2×2 contingency per bigram uses the
    * BIGRAM margins (count of pairs starting with tok1 / ending with
    * tok2), both derived from the same shingled pair-count table by two
    * combinable re-aggregations + equi-joins — no second corpus scan
    * and no self-join. All four cells are exact int64; G² =
    * 2·Σ O·ln(O/E) is a fixed per-row IEEE form (zero cells contribute
    * 0 via an identical CASE in both engines). The ≥5 support floor
    * bounds the output exactly as q_pmi's does at 100 TB. */
  val qCollocation: GQuery = GQuery(
    "q_collocation",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select(split($"text", " ").as("l"))
      val len1 = greatest(size($"l") - 1, lit(0))
      val big0 = docs
        .select(explode(zip_with(
          slice($"l", lit(1), len1), slice($"l", lit(2), len1),
          (a, b) => struct(a.as("tok1"), b.as("tok2")))).as("bg"))
        .select($"bg.tok1".as("tok1"), $"bg.tok2".as("tok2"))
        .groupBy($"tok1", $"tok2").agg(count(lit(1)).as("a"))
      val m1 = big0.groupBy($"tok1").agg(sum($"a").as("c1"))
      val m2 = big0.groupBy($"tok2").agg(sum($"a").as("c2"))
      val nTot = big0.agg(sum($"a").as("nn"))
      val cells = big0.filter($"a" >= 5)
        .join(m1, "tok1").join(m2, "tok2")
        .crossJoin(broadcast(nTot))
        .select($"tok1", $"tok2", $"a".as("n_pair"),
          $"a", $"c1" - $"a" as "b", $"c2" - $"a" as "c",
          $"nn" - $"c1" - $"c2" + $"a" as "d", $"c1", $"c2", $"nn")
      val dd = (c: Column) => c.cast("double")
      def term(o: Column, e: Column): Column =
        when(o > 0, dd(o) * log(dd(o) / e)).otherwise(lit(0.0))
      val n = dd($"nn")
      val ea = dd($"c1") * dd($"c2") / n
      val eb = dd($"c1") * (n - dd($"c2")) / n
      val ec = (n - dd($"c1")) * dd($"c2") / n
      val ed = (n - dd($"c1")) * (n - dd($"c2")) / n
      cells.select($"tok1", $"tok2", $"n_pair",
          r6(lit(2.0) * (term($"a", ea) + term($"b", eb) +
            term($"c", ec) + term($"d", ed))).as("g2"))
        .orderBy($"tok1", $"tok2")
    },
    Some {
      def t(o: String, e: String) =
        s"(CASE WHEN $o > 0 THEN cast($o as double) * " +
          s"ln(cast($o as double) / ($e)) ELSE cast(0.0 as double) END)"
      val n = "cast(nn as double)"
      val ea = s"cast(c1 as double) * cast(c2 as double) / $n"
      val eb = s"cast(c1 as double) * ($n - cast(c2 as double)) / $n"
      val ec = s"($n - cast(c1 as double)) * cast(c2 as double) / $n"
      val ed = s"($n - cast(c1 as double)) * ($n - cast(c2 as double)) / $n"
      s"""
      WITH l AS (SELECT string_split(text, ' ') AS l FROM documents),
      big0 AS (SELECT tok1, tok2, cast(count(*) as bigint) AS a FROM (
          SELECT l[i] AS tok1, l[i + 1] AS tok2 FROM (
            SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM l) b0) b1
        GROUP BY tok1, tok2),
      m1 AS (SELECT tok1, cast(sum(a) as bigint) AS c1
             FROM big0 GROUP BY tok1),
      m2 AS (SELECT tok2, cast(sum(a) as bigint) AS c2
             FROM big0 GROUP BY tok2),
      tot AS (SELECT cast(sum(a) as bigint) AS nn FROM big0),
      cells AS (
        SELECT tok1, tok2, a AS n_pair, a, c1 - a AS b, c2 - a AS c,
               nn - c1 - c2 + a AS d, c1, c2, nn
        FROM big0 JOIN m1 USING (tok1) JOIN m2 USING (tok2) CROSS JOIN tot
        WHERE a >= 5)
      SELECT tok1, tok2, n_pair,
             ${r6Sql(s"cast(2.0 as double) * (${t("a", ea)} + " +
               s"${t("b", eb)} + ${t("c", ec)} + ${t("d", ed)})")} AS g2
      FROM cells
      ORDER BY tok1, tok2"""
    },
  )

  /** CONDITIONAL TOKEN ENTROPY H(next|prev) and the information gain
    * H(next) − H(next|prev) — how much one token of left context is
    * worth, the corpus-level structure statistic that separates natural
    * language (high gain) from shuffled tokens (≈0). Same shingled
    * bigram + margin tables as q_collocation (combinable, no second
    * corpus scan); the entropy terms are IEEE-rounded at TWELVE dp
    * before decimal staging — per-term magnitudes are ~1e-5 over a
    * vocabulary-squared term count, so 6 dp staging would round away
    * the sum (measured hazard class, CLAUDE.md); at 12 dp the staged
    * error bound is ≪ 1e-6 while terms stay far under the 2³³ staging
    * validity bound. */
  val qCondEntropy: GQuery = GQuery(
    "q_cond_entropy",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val docs = Tables.documents(spark, dir).select(split($"text", " ").as("l"))
      val len1 = greatest(size($"l") - 1, lit(0))
      val big0 = docs
        .select(explode(zip_with(
          slice($"l", lit(1), len1), slice($"l", lit(2), len1),
          (a, b) => struct(a.as("tok1"), b.as("tok2")))).as("bg"))
        .select($"bg.tok1".as("tok1"), $"bg.tok2".as("tok2"))
        .groupBy($"tok1", $"tok2").agg(count(lit(1)).as("nij"))
        .localCheckpoint()
      val m1 = big0.groupBy($"tok1").agg(sum($"nij").as("ni"))
      val m2 = big0.groupBy($"tok2").agg(sum($"nij").as("nj"))
      val tot = big0.agg(sum($"nij").as("nn"))
      val d = (c: Column) => c.cast("double")
      val hCond = big0.join(m1, "tok1").crossJoin(broadcast(tot))
        .select(rN(d($"nij") / d($"nn") * log(d($"ni") / d($"nij")), 12)
          .as("t"))
        .agg(sum($"t".cast(dec12)).cast("double").as("h_cond"))
      val hNext = m2.crossJoin(broadcast(tot))
        .select(rN(d($"nj") / d($"nn") * log(d($"nn") / d($"nj")), 12)
          .as("t"))
        .agg(sum($"t".cast(dec12)).cast("double").as("h_next"))
      hCond.crossJoin(broadcast(hNext))
        .select(r6($"h_cond").as("h_cond"), r6($"h_next").as("h_next"),
          r6($"h_next" - $"h_cond").as("info_gain"))
    },
    Some(s"""
      WITH l AS (SELECT string_split(text, ' ') AS l FROM documents),
      big0 AS (SELECT tok1, tok2, cast(count(*) as bigint) AS nij FROM (
          SELECT l[i] AS tok1, l[i + 1] AS tok2 FROM (
            SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM l) b0) b1
        GROUP BY tok1, tok2),
      m1 AS (SELECT tok1, cast(sum(nij) as bigint) AS ni
             FROM big0 GROUP BY tok1),
      m2 AS (SELECT tok2, cast(sum(nij) as bigint) AS nj
             FROM big0 GROUP BY tok2),
      tot AS (SELECT cast(sum(nij) as bigint) AS nn FROM big0),
      hc AS (
        SELECT cast(sum(cast(${rNSql(
          "cast(nij as double) / cast(nn as double) * " +
            "ln(cast(ni as double) / cast(nij as double))", 12)}
          as decimal(30,12))) as double) AS h_cond
        FROM big0 JOIN m1 USING (tok1) CROSS JOIN tot),
      hn AS (
        SELECT cast(sum(cast(${rNSql(
          "cast(nj as double) / cast(nn as double) * " +
            "ln(cast(nn as double) / cast(nj as double))", 12)}
          as decimal(30,12))) as double) AS h_next
        FROM m2 CROSS JOIN tot)
      SELECT ${r6Sql("h_cond")} AS h_cond, ${r6Sql("h_next")} AS h_next,
             ${r6Sql("h_next - h_cond")} AS info_gain
      FROM hc CROSS JOIN hn"""),
  )

  /** SPARSE-VECTOR COSINE top-k via the inverted index — the weighted
    * companion to q_jaccard_prefix and the scale path for tf-idf /
    * sparse-embedding similarity: a document IS a sparse vector
    * (token → tf·ln(N/df) weight), and the pairwise dot product is a
    * POSTING-LIST SELF-JOIN on token — never a dense all-pairs pass.
    * Stop-tokens are df-pruned (df ≤ 50 — the impact-pruning move that
    * bounds every posting list, so the candidate join is
    * |list|²-bounded per token instead of |docs|²); pairs must share a
    * surviving token to exist at all. Weights are r6'd BEFORE any
    * multiplication (the q_kl_drift libm contract: ln at 6 dp, then
    * identical IEEE products), per-pair dot products and per-doc norm²
    * are decimal-staged sums (dsum), and cos = dot/(‖a‖‖b‖) is one
    * fixed expression; top-5 per doc by (cos desc, id). Docs bounded at
    * 200 (the declared-pair-generator convention — the SHAPE is what
    * scales: bucketed token postings, df-pruning, candidates-only
    * scoring). */
  val qSparseCosineTopk: GQuery = GQuery(
    "q_sparse_cosine_topk",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).filter($"doc_id" < 200)
      val tokens = docs
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val tf = tokens.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        .filter($"df" <= 50)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val wts = tf.join(dfreq, "tok").crossJoin(broadcast(nd))
        .select($"doc_id", $"tok",
          r6($"cnt".cast("double") * log($"n_docs" / $"df")).as("w"))
      val norms = wts.groupBy($"doc_id")
        .agg(sqrt(dsum(rN($"w" * $"w", 6), 6)).as("nrm"))
      val a = wts.select($"doc_id".as("d1"), $"tok", $"w".as("w1"))
      val b = wts.select($"doc_id".as("d2"), $"tok", $"w".as("w2"))
      val dots = a.join(b, Seq("tok"))
        .filter($"d1" =!= $"d2")
        .groupBy($"d1", $"d2")
        .agg(count(lit(1)).cast("int").as("n_shared"),
          dsum(rN($"w1" * $"w2", 6), 6).as("dot"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"d1").orderBy($"cos".desc, $"d2")
      dots
        .join(norms.select($"doc_id".as("d1"), $"nrm".as("na")), "d1")
        .join(norms.select($"doc_id".as("d2"), $"nrm".as("nb")), "d2")
        .select($"d1", $"d2", $"n_shared",
          r6($"dot" / ($"na" * $"nb")).as("cos"))
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter($"rnk" <= 5)
        .select($"d1", $"d2", $"n_shared", $"cos".as("cos_sim"), $"rnk")
        .orderBy($"d1", $"rnk")
    },
    Some(s"""
      WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
      tf AS (
        SELECT doc_id, tok, cast(count(*) as bigint) AS cnt
        FROM tokens GROUP BY doc_id, tok),
      dfreq AS (
        SELECT tok, cast(count(*) as bigint) AS df
        FROM tf GROUP BY tok HAVING count(*) <= 50),
      nd AS (SELECT count(*) AS n_docs FROM docs),
      wts AS (
        SELECT doc_id, tok,
               ${r6Sql("cast(cnt as double) * ln(n_docs / df)")} AS w
        FROM tf JOIN dfreq USING (tok) CROSS JOIN nd),
      norms AS (
        SELECT doc_id, sqrt(${dsumSql(rNSql("w * w", 6), 6)}) AS nrm
        FROM wts GROUP BY doc_id),
      dots AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               cast(count(*) as int) AS n_shared,
               ${dsumSql(rNSql("a.w * b.w", 6), 6)} AS dot
        FROM wts a JOIN wts b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      scored AS (
        SELECT d1, d2, n_shared,
               ${r6Sql("dot / (na.nrm * nb.nrm)")} AS cos
        FROM dots
        JOIN norms na ON na.doc_id = d1
        JOIN norms nb ON nb.doc_id = d2)
      SELECT d1, d2, n_shared, cos AS cos_sim, rnk FROM (
        SELECT d1, d2, n_shared, cos,
               cast(row_number() OVER (PARTITION BY d1
                 ORDER BY cos DESC, d2) as int) AS rnk
        FROM scored) t
      WHERE rnk <= 5
      ORDER BY d1, rnk"""),
  )

  /** DUPLICATION-COVERAGE QC — the corpus-level health metric a dedup
    * pipeline reports BEFORE deciding to run pair-level dedup at all:
    * for each document, the fraction of its distinct 3-word shingles
    * whose corpus document frequency is >= 2 (i.e. shared with at least
    * one other doc), aggregated per source as mean coverage and the
    * count of high-coverage (>= 0.5) docs. A source whose documents are
    * mostly made of shared shingles is a boilerplate/mirror suspect —
    * this is the per-source triage signal that says WHERE to spend the
    * pair-generation budget. 25 planted full-copy docs (shifted ids,
    * original source kept) force coverage 1.0 rows at every SF.
    * Fully linear: one shingle explode, one df groupBy (map-side
    * combinable), one posting equi-join back, two aggregations — no
    * pairs anywhere, the 100 TB-safe prepass to the q_neardup_* family.
    * Per-doc coverage is an exact int/int division; the per-source mean
    * is 12-dp decimal-staged (coverage terms are O(1) and number in the
    * thousands — both staging bounds hold). */
  val qDupCoverage: GQuery = GQuery(
    "q_dup_coverage",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val base = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 25)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"source", $"text"))
      val g = docs
        .select($"doc_id", $"source",
          explode(wordGrams(split($"text", " "), 3)).as("gram"))
      val df = g.groupBy($"gram").agg(count(lit(1)).as("gdf"))
      val cov = g.join(df, "gram")
        .groupBy($"doc_id", $"source")
        .agg((sum(when($"gdf" >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("cov"))
      cov.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          rN(sum(rN($"cov", 12).cast(dec12)).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_cov"),
          sum(when($"cov" >= 0.5, 1L).otherwise(0L)).as("n_high"))
        .orderBy($"source")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, source, text FROM documents
        WHERE doc_id < 25),
      lt AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM base),
      g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
              generate_series(1, len(l) - 2),
              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM lt),
      df AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
      cov AS (
        SELECT doc_id, source,
               cast(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) as double)
                 / cast(count(*) as double) AS cov
        FROM g JOIN df USING (gram)
        GROUP BY doc_id, source)
      SELECT source, cast(count(*) as bigint) AS n_docs,
             ${rNSql("cast(sum(cast(" + rNSql("cov", 12) +
               " as decimal(30,12))) as double) / cast(count(*) as double)",
               6)} AS mean_cov,
             cast(sum(CASE WHEN cov >= cast(0.5 as double) THEN 1 ELSE 0 END)
               as bigint) AS n_high
      FROM cov GROUP BY source
      ORDER BY source"""),
  )

  /** CROSS-SOURCE DUPLICATION MATRIX — the provenance-level rollup of
    * the near-dup family: which source PAIRS share content (mirror
    * detection, the "who copies whom" audit a crawl-mix decision needs).
    * Candidates come from the q_neardup_banded 4-band MinHash equi-join
    * with the source-inequality as an early conjunct (same-source pairs
    * are rejected before the distinct); verification is the SIGNATURE
    * ESTIMATE (≥13/16 matching minhashes ≈ J ≥ 0.8) — a constant-width
    * column compare per candidate, the verification a 100 TB pass
    * actually ships (q_neardup_minhash's argument), so the shingle sets
    * are never re-joined. The matrix itself is a count over the tiny
    * verified-pair table on the UNORDERED source pair. 30 planted
    * cross-source full copies (shifted ids, source rotated +1 mod 20)
    * guarantee a non-vacuous matrix at every SF. */
  val qDupMatrix: GQuery = GQuery(
    "q_dup_matrix",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 30)
          .select(($"doc_id" + 2000000L).as("doc_id"),
            concat(lit("src"),
              ((substring($"source", 4, 3).cast("int") + 1) % 20)
                .cast("string")).as("source"),
            $"text"))
      // fused-kernel signature stage carrying source through (byte-
      // identical to the relational oracle stage below; localCheckpoint
      // inside kernelSigs keeps the r11-measured three-consumer win)
      val sigs = ScaleOps.kernelSigs(docs, "source")
      val bandStructs = (0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|", col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
            col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))).as("sig")))
      val bands = sigs
        .select($"doc_id", $"source", explode(array(bandStructs: _*)).as("bs"))
        .select($"doc_id", $"source", $"bs.band_id".as("band_id"),
          $"bs.sig".as("sig"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id") &&
            col("x.source") =!= col("y.source"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val est = (0 until 16).map(s =>
        when(col(s"x.h$s") === col(s"y.h$s"), 1).otherwise(0))
        .reduce(_ + _)
      val verified = broadcast(cand)
        .join(sigs.as("x"), col("x.doc_id") === $"d1")
        .join(sigs.as("y"), col("y.doc_id") === $"d2")
        .select(col("x.source").as("s1"), col("y.source").as("s2"),
          est.as("n_match"))
        .filter($"n_match" >= 13)
      verified
        .groupBy(least($"s1", $"s2").as("source_a"),
          greatest($"s1", $"s2").as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"source_a", $"source_b")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000,
               'src' || cast((cast(substr(source, 4, 3) as int) + 1) % 20
                 as varchar),
               text
        FROM documents WHERE doc_id < 30),
      lt AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM base),
      g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
              generate_series(1, len(l) - 2),
              i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM lt),
      sig AS MATERIALIZED (SELECT doc_id, source,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM g GROUP BY doc_id, source),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, source, $b AS band_id, md5(concat_ws('|', " +
            s"h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) " +
            s"AS sig FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.sig = y.sig
                    AND x.doc_id < y.doc_id AND x.source <> y.source),
      verified AS (
        SELECT sx.source AS s1, sy.source AS s2,
               (${(0 until 16).map(s =>
                 s"(CASE WHEN sx.h$s = sy.h$s THEN 1 ELSE 0 END)")
                 .mkString(" + ")}) AS n_match
        FROM cand
        JOIN sig sx ON sx.doc_id = cand.d1
        JOIN sig sy ON sy.doc_id = cand.d2)
      SELECT least(s1, s2) AS source_a, greatest(s1, s2) AS source_b,
             cast(count(*) as bigint) AS n_pairs
      FROM verified WHERE n_match >= 13
      GROUP BY 1, 2
      ORDER BY source_a, source_b"""),
  )

  /** CROSS-SOURCE VOCABULARY OVERLAP — TRUE Jaccard similarity of the
    * top-50 term vocabularies between every source pair: the corpus-diff
    * signal that groups near-mirror sources before spending near-dup
    * budget on them (and flags a source whose vocabulary matches nothing
    * — likely mis-tagged or non-text). Ranking is count-desc with a term
    * tiebreak (exact integers + ASCII string order, total in both
    * engines). Each source's ACTUAL top-list size rides along (a source
    * with < 50 distinct terms — common under a closed vocabulary — has a
    * smaller union), so jaccard = n_common / (sz_a + sz_b - n_common) is
    * the real set Jaccard, not a fixed-denominator score. Scale shape:
    * one explode → combinable (source, term) count → per-source top-50
    * window over a |sources|·|vocab|-bounded aggregate — the pair table
    * then comes from a TERM equi-join on the ≤50·|sources|-row top list
    * with src_a < src_b as an early conjunct, and the per-source sizes
    * are a |sources|-row broadcast: no source×source cartesian anywhere,
    * and the quadratic object is |sources|², which is the report's own
    * output size. */
  val qVocabOverlap: GQuery = GQuery(
    "q_vocab_overlap",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.documents(spark, dir)
        .select($"source", explode(split($"text", " ")).as("term"))
        .groupBy($"source", $"term")
        .agg(count(lit(1)).as("c"))
      val top = cnt
        .withColumn("r", row_number().over(
          Window.partitionBy($"source").orderBy($"c".desc, $"term")))
        .filter($"r" <= 50)
        .select($"source", $"term")
      val sz = top.groupBy($"source").agg(count(lit(1)).as("sz"))
      val a = top.select($"source".as("src_a"), $"term")
      val b = top.select($"source".as("src_b"), $"term".as("term_b"))
      a.join(b, $"term" === $"term_b" && $"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sz.select($"source".as("src_a"), $"sz".as("sz_a"))),
          "src_a")
        .join(broadcast(sz.select($"source".as("src_b"), $"sz".as("sz_b"))),
          "src_b")
        .select($"src_a", $"src_b", $"n_common", $"sz_a", $"sz_b",
          r6($"n_common".cast("double") /
            ($"sz_a" + $"sz_b" - $"n_common").cast("double")).as("jaccard"))
        .orderBy($"src_a", $"src_b")
    },
    Some(s"""
      WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents),
      cnt AS (SELECT source, term, count(*) AS c
              FROM tok GROUP BY source, term),
      rk AS (SELECT source, term,
                    row_number() OVER (PARTITION BY source
                      ORDER BY c DESC, term) AS r
             FROM cnt),
      top AS (SELECT source, term FROM rk WHERE r <= 50),
      sz AS (SELECT source, cast(count(*) as bigint) AS sz
             FROM top GROUP BY source),
      common AS (
        SELECT a.source AS src_a, b.source AS src_b,
               cast(count(*) as bigint) AS n_common
        FROM top a JOIN top b
          ON a.term = b.term AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT c.src_a, c.src_b, c.n_common,
             za.sz AS sz_a, zb.sz AS sz_b,
             ${r6Sql("cast(c.n_common as double) / " +
               "cast(za.sz + zb.sz - c.n_common as double)")} AS jaccard
      FROM common c
      JOIN sz za ON za.source = c.src_a
      JOIN sz zb ON zb.source = c.src_b
      ORDER BY src_a, src_b"""),
  )

  /** TEMPLATE MINING — find templated document families: groups sharing
    * BOTH the same first-5-token and last-5-token digests with ≥ 3
    * members (web boilerplate, form letters, generated pages — the
    * near-dup family aligned-chunk and minhash passes under-catch
    * because the variable middle dilutes the signature). Per template:
    * member count, distinct sources, exemplar doc_id. Both keys are
    * per-row 32-byte digests (prefix/suffix slices of the one token
    * split), the group is ONE combinable groupBy — exact-dedup cost,
    * no candidate pairs at all. Planted: 12 synthetic docs (fixed
    * header + unique md5 middle + fixed footer) that only this
    * prefix+suffix key catches. */
  val qTemplateDocs: GQuery = GQuery(
    "q_template_docs",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 12)
          .select($"source", ($"doc_id" + 730000L).as("doc_id"),
            concat(lit("hdr h1 h2 h3 h4 "),
              md5($"doc_id".cast("string").cast("binary")),
              lit(" ftr f1 f2 f3 f4")).as("text")))
      val keyed = docs
        .select($"source", $"doc_id", split($"text", " ").as("l"))
        .filter(size($"l") >= 10)
        .select($"source", $"doc_id",
          md5(concat_ws(" ", slice($"l", 1, 5)).cast("binary")).as("pre"),
          md5(concat_ws(" ", expr("slice(l, size(l) - 4, 5)"))
            .cast("binary")).as("suf"))
      keyed.groupBy($"pre", $"suf")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          min($"doc_id").as("exemplar"))
        .filter($"n_docs" >= 3)
        .orderBy($"n_docs".desc, $"exemplar")
    },
    Some("""
      WITH docs AS (
        SELECT source, doc_id, text FROM documents
        UNION ALL
        SELECT source, doc_id + 730000,
               'hdr h1 h2 h3 h4 ' || md5(cast(doc_id as varchar))
                 || ' ftr f1 f2 f3 f4'
        FROM documents WHERE doc_id < 12),
      lt AS (SELECT source, doc_id, string_split(text, ' ') AS l
             FROM docs),
      keyed AS (
        SELECT source, doc_id,
               md5(array_to_string(l[1:5], ' ')) AS pre,
               md5(array_to_string(l[(len(l) - 4):len(l)], ' ')) AS suf
        FROM lt WHERE len(l) >= 10)
      SELECT pre, suf, count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             min(doc_id) AS exemplar
      FROM keyed
      GROUP BY pre, suf
      HAVING count(*) >= 3
      ORDER BY n_docs DESC, exemplar"""),
  )

  /** HAPAX-CARRIER TRIAGE — per source, the documents carrying
    * corpus-hapax tokens (df = 1): the OOV-risk screen that finds the
    * feeds injecting one-off garbage tokens (mangled encodings, serial
    * numbers, OCR junk) that bloat a tokenizer's byte-fallback rate.
    * Complements [[graft.operators.QualityOps]]'s q_hapax (corpus-level
    * hapax share) with the DOC-level accounting a cleanup pass acts on.
    * Fully linear: one distinct-token-per-doc explode → df groupBy →
    * df=1 posting join back to (source, doc) — no pairs anywhere. The
    * synthetic corpus's closed vocabulary has NO organic hapaxes, so 10
    * serial-number-style docs are planted (doc_id+750000, one unique
    * zqx_N token appended) — the gate can never pass vacuously. */
  val qRareTokenDocs: GQuery = GQuery(
    "q_rare_token_docs",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .select($"source", $"doc_id", $"text")
      val docs = base.unionByName(base.filter($"doc_id" < 10)
        .select($"source", ($"doc_id" + 750000L).as("doc_id"),
          concat($"text", lit(" zqx_"), $"doc_id".cast("string"))
            .as("text")))
      val tok = docs
        .select($"source", $"doc_id",
          explode(array_distinct(split($"text", " "))).as("tok"))
      val hapax = tok.groupBy($"tok")
        .agg(count(lit(1)).as("df"))
        .filter($"df" === 1)
        .select($"tok")
      val carriers = tok.join(hapax, Seq("tok"), "left_semi")
        .groupBy($"source", $"doc_id")
        .agg(count(lit(1)).as("n_hapax"))
      val counts = docs
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      counts.join(
          carriers.groupBy($"source")
            .agg(count(lit(1)).as("n_carriers"),
              sum($"n_hapax").as("n_hapax_tokens")),
          Seq("source"), "left_outer")
        .select($"source", $"n_docs",
          coalesce($"n_carriers", lit(0L)).as("n_carriers"),
          coalesce($"n_hapax_tokens", lit(0L)).as("n_hapax_tokens"),
          r6(coalesce($"n_carriers", lit(0L)).cast("double") /
            $"n_docs".cast("double")).as("carrier_rate"))
        .orderBy($"source")
    },
    Some(s"""
      WITH docs AS (
        SELECT source, doc_id, text FROM documents
        UNION ALL
        SELECT source, doc_id + 750000, text || ' zqx_' || doc_id
        FROM documents WHERE doc_id < 10),
      tok AS (
        SELECT source, doc_id, unnest(list_distinct(string_split(text, ' ')))
          AS tok
        FROM docs),
      hapax AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) = 1),
      carriers AS (
        SELECT source, doc_id, count(*) AS n_hapax
        FROM tok WHERE tok IN (SELECT tok FROM hapax)
        GROUP BY source, doc_id),
      bysrc AS (
        SELECT source, count(*) AS n_carriers,
               sum(n_hapax) AS n_hapax_tokens
        FROM carriers GROUP BY source),
      counts AS (SELECT source, count(*) AS n_docs
                 FROM docs GROUP BY source)
      SELECT c.source, n_docs,
             cast(coalesce(n_carriers, 0) as bigint) AS n_carriers,
             cast(coalesce(n_hapax_tokens, 0) as bigint) AS n_hapax_tokens,
             ${r6Sql("cast(coalesce(n_carriers, 0) as double) / " +
               "cast(n_docs as double)")} AS carrier_rate
      FROM counts c LEFT JOIN bysrc b ON c.source = b.source
      ORDER BY c.source"""),
  )

  /** LENGTH-DISTRIBUTION PSI between two corpus snapshots (doc_id-parity
    * halves): the STRUCTURAL drift companion to q_js_drift's lexical
    * drift — a crawl whose documents suddenly shorten drifts here first.
    * Lengths go into fixed-width integer buckets (50-token wide, capped
    * at bucket 9 — exact `div`, no data-dependent decile edges to
    * disagree on), Laplace-smoothed shares (c+1)/(n+10) keep every
    * log defined, and each (pA−pB)·ln(pA/pB) term is 6dp-rounded then
    * decimal-summed. One linear pass → 10-row bucket table. */
  val qLenDrift: GQuery = GQuery(
    "q_len_drift",
    (spark, dir) => {
      import spark.implicits._
      val b = Tables.documents(spark, dir)
        .select(($"doc_id" % 2).cast("int").as("half"),
          least(lit(9L), expr(
            "cast(size(split(text, ' ')) as bigint) div 50")).as("bucket"))
      val cnt = b.groupBy($"bucket").agg(
        count(when($"half" === 0, lit(1))).as("ca"),
        count(when($"half" === 1, lit(1))).as("cb"))
      val tot = cnt.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      val terms = cnt.crossJoin(broadcast(tot))
        .withColumn("pa",
          ($"ca" + lit(1L)).cast("double") / ($"na" + lit(10L)).cast("double"))
        .withColumn("pb",
          ($"cb" + lit(1L)).cast("double") / ($"nb" + lit(10L)).cast("double"))
        .select($"bucket", $"ca", $"cb",
          rN(($"pa" - $"pb") * log($"pa" / $"pb"), 6).as("term"))
      terms.agg(
          count(lit(1)).as("n_buckets"),
          sum($"ca").as("n_a"),
          sum($"cb").as("n_b"),
          dsum($"term", 6).as("psi"))
    },
    Some(s"""
      WITH b AS (
        SELECT cast(doc_id % 2 as int) AS half,
               least(9, cast(len(string_split(text, ' ')) as bigint) // 50)
                 AS bucket
        FROM documents),
      cnt AS (
        SELECT bucket,
               count(CASE WHEN half = 0 THEN 1 END) AS ca,
               count(CASE WHEN half = 1 THEN 1 END) AS cb
        FROM b GROUP BY bucket),
      tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt),
      terms AS (
        SELECT bucket, ca, cb,
               ${rNSql(
                 "((cast(ca + 1 as double) / cast(na + 10 as double)) - " +
                 "(cast(cb + 1 as double) / cast(nb + 10 as double))) * " +
                 "ln((cast(ca + 1 as double) / cast(na + 10 as double)) / " +
                 "(cast(cb + 1 as double) / cast(nb + 10 as double)))", 6)}
                 AS term
        FROM cnt CROSS JOIN tot)
      SELECT count(*) AS n_buckets,
             cast(sum(ca) as bigint) AS n_a,
             cast(sum(cb) as bigint) AS n_b,
             ${dsumSql("term", 6)} AS psi
      FROM terms"""),
  )

  val all: Seq[GQuery] =
    Seq(qEntropy, qPmi, qEmbedCentroid, qDedupCluster, qChi2, qNeardupBanded,
      qSketchCm, qClassScatter, qCentroidSim, qDedupEdit, qContainment,
      qJaccardPrefix, qErMatch, qCollocation, qCondEntropy, qSparseCosineTopk,
      qDupCoverage, qDupMatrix, qVocabOverlap, qTemplateDocs, qRareTokenDocs,
      qLenDrift, qJaccardPrefixXxl, qErMatchXxl, qContainmentXxl)
}
