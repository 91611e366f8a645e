package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._
import graft.functions.{dotProduct, minhashSig, wordGrams}

/** Scale-path operators under the FULL hash-match oracle (SURVEY.md §2.B.8
  * ◻ set, promoted from rows-only in round 6): MinHash signature-estimate
  * near-dup, SimHash near-dup, LSH and IVF approximate nearest neighbor,
  * and the HLL / GK sketch families.
  *
  * The declared queries use PORTABLE deterministic constructions (the
  * q_neardup_banded template, CorpusStats.scala): every hash is md5-derived
  * so both engines compute identical integers; every floating dot product
  * is a left-associative IEEE chain (Spark's codegen'd `dot_product` is a
  * sequential fold — bit-identical to DuckDB's explicit `a[1]*b[1] + … +
  * a[64]*b[64]`; DuckDB's own `list_inner_product` is NOT order-compatible
  * and is deliberately avoided); sketch values that genuinely cannot
  * hash-match (HLL registers, GK summaries) are checked via ERROR COLUMNS:
  * the Spark plan computes |sketch − exact| against the documented bound
  * in-plan and emits a boolean the oracle pins to `true`, so the exact
  * values hash-match AND a sketch drifting out of tolerance fails the row.
  *
  * The MLlib library paths (BucketedRandomProjectionLSH, KMeans-quantizer
  * IVF, MinHashLSH — graft.llm.Ann / graft.llm.NearDup) remain the
  * production surface for learned/seeded hash families and keep their
  * recall specs (LlmSpec, SkewAnnSpec); the declared twins here pin the
  * same PLAN SHAPES (band equi-join candidate generation, candidates-only
  * exact verification/re-rank, broadcast probe side) with hash families
  * both engines can replicate.
  *
  * Queries plant guaranteed duplicates (shifted-id unions) or probe from
  * the corpus itself, so no gate can pass vacuously on 0 rows.
  */
object ScaleOps {

  /** Declared pair generators run on a BOUNDED corpus slice (500 docs /
    * vectors + planted rows): the t2 dump is a correctness check of the
    * operator wiring at every SF, not a scale benchmark; the shapes
    * (equi-join candidates, no all-pairs) are what scale. */
  private val corpusBound = 500L

  /** Full-corpus bound for the `_xl` bench twins (round-11 verdict item 2:
    * "the LLM-pipeline bench never exercises the full documents table").
    * 1e6 covers every real doc/vector id at any SF (raw ids < 1e4) while
    * still EXCLUDING the +1000000-shifted planted clones from "unplanted
    * slice" filters. The 500-row declared variants stay the cheap
    * correctness probes; the _xl twins run the SAME plans over the whole
    * corpus (5,000 docs / 2,000 vectors at sf0.1), so the dedup/ANN
    * scaling story is measured by Bench, not argued from plan shape.
    * (At sf0.001/0.01 the corpus is 500 rows, so _xl there equals the
    * bounded variant — the oracle gate stays cheap.) */
  private val corpusBoundXl = 1000000L

  private val D = 64 // embeddings dimension (TESTDATA.md)

  /** ×N in-plan corpus generator for the `_xxl` scaling twins (round-12
    * verdict item 2: "two points don't make a curve" — the _xl twins top
    * out at the 5,000-doc testdata ceiling, so the third point is
    * SYNTHESIZED: each document is replicated N times with every token
    * suffixed by the replica index k and id shifted k·100000). The
    * suffix makes replicas share NO word 3-grams across k (so near-dup
    * structure is the organic structure ×N, not an artificial N-way
    * clone family), while k=0 keeps the original ids — plant filters and
    * probe sets (`doc_id < 50`, `vec_id < 5`) select the same logical
    * rows as the _xl twin, so the two configs differ ONLY in corpus
    * mass. Generator is SF-relative: the sf0.01 oracle sees 5,000 rows
    * (cheap), the sf0.1 bench sees ~50,000. */
  private[operators] def xdocs(base: DataFrame, n: Int): DataFrame =
    if (n <= 1) base
    // r15: spread the BASE before the ×N explode, or the per-replica
    // token-suffix rebuild of the whole ×N corpus runs on a single core
    // upstream of every consumer's first exchange (measured:
    // q_neardup_minhash_xxl 5.2 → 2.7 s, q_band_sweep_xxl 5.4 → 2.5 s,
    // q_containment_xxl 3.2 → 2.2 s).
    else Parallel.spread(base)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(0, ${n - 1})")).as("k"))
      .select((col("doc_id") + col("k").cast("long") * lit(100000L))
          .as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "t -> concat(t, cast(k as string))), ' ')").as("text"))

  /** DuckDB twin of [[xdocs]] over a bounded documents slice. */
  private[operators] def xdocsSql(corpusBound: Long, n: Int): String =
    if (n <= 1)
      s"SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound"
    else
      s"""SELECT doc_id + k * 100000 AS doc_id,
             array_to_string(list_transform(string_split(text, ' '),
               t -> t || cast(k as varchar)), ' ') AS text
           FROM (SELECT doc_id, text FROM documents
                 WHERE doc_id < $corpusBound) xb0,
                unnest(generate_series(0, ${n - 1})) AS xk(k)"""

  /** The shared 16-minhash signature table (doc_id, h0..h15) built by the
    * fused [[graft.functions.MinHashSig]] kernel — byte-identical to the
    * relational `explode(grams) → groupBy(doc_id).agg(16 × min(md5 hex
    * substring))` stage every near-dup oracle mirrors (MinHashSigSpec),
    * but map-only: 4 md5s per distinct gram instead of 16 per gram row,
    * no explode, no doc-keyed shuffle. Docs with < 3 tokens yield no row
    * (empty kernel array), exactly like explode-of-empty-array.
    * localCheckpoint because every consumer fans the tiny (|docs| × 16
    * hex8) table into 3–4 branches (bands self-join + both verify sides)
    * — the q_dup_matrix precedent (checkpoint measured faster than
    * recompute for multi-consumer signature tables, r11 PerfProbe). */
  private[operators] def kernelSigs(docs: DataFrame,
      extraCols: String*): DataFrame = {
    val keep = "doc_id" +: extraCols
    Parallel.spread(docs)
      .select(keep.map(col) :+ minhashSig(split(col("text"), " ")).as("mh"): _*)
      .filter(size(col("mh")) === 16)
      .select(keep.map(col) ++ (0 until 16).map(i =>
        element_at(col("mh"), i + 1).as(s"h$i")): _*)
      .localCheckpoint()
  }

  /** ×N vector generator: replica k adds k·0.001 to every coordinate (one
    * IEEE add per element, bit-identical cross-engine; k=0 is the original
    * vector), id shifted k·100000 — distinct probes, same logical probe
    * set at k=0. Output coordinates are DOUBLE (the makers' cast-to-double
    * becomes a no-op). */
  private[operators] def xvecs(base: DataFrame, n: Int): DataFrame =
    if (n <= 1) base
    // no spread, unlike xdocs: an r15 A/B measured it neutral here (the
    // 5k-row embedding base is cheap to rebuild)
    else base
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(0, ${n - 1})")).as("k"))
      .select((col("vec_id") + col("k").cast("long") * lit(100000L))
          .as("vec_id"),
        expr("transform(embedding, x -> cast(x as double) + " +
          "cast(k as double) * cast(0.001 as double))").as("embedding"))

  private[operators] def xvecsSql(corpusBound: Long, n: Int): String =
    if (n <= 1)
      s"SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound"
    else
      s"""SELECT vec_id + k * 100000 AS vec_id,
             list_transform(embedding, x -> cast(x as double) +
               cast(k as double) * cast(0.001 as double)) AS embedding
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id < $corpusBound) xb0,
                unnest(generate_series(0, ${n - 1})) AS xk(k)"""

  /** Fixed-COUNT coarse-quantizer sample size. The centroid set is the
    * nCentroids corpus rows with the smallest (md5-id-hash, id) — a
    * bottom-K by a data-independent hash (TakeOrderedAndProject:
    * per-partition top-K, tiny driver merge), so the broadcast stays
    * CONSTANT-size no matter the corpus size and the "centroids
    * broadcast, one codegen'd assignment pass at 100 TB" posture is
    * true in-plan. A fixed-RATE mod-sample (the pre-round-12 form)
    * would grow the broadcast ~n/61 and the argmax work ~n²/61 on an
    * unbounded corpus. 9 keeps the historical cell count. */
  private val nCentroids = 9

  /** Fixed-count PQ codebook size per subspace (same bottom-K idiom). */
  private val nCodewords = 10

  /** Portable 32-bit id hash (CLAUDE.md idiom: first 8 md5 hex chars as
    * a bigint — identical in both engines); the sampling key for the
    * fixed-count quantizer/codebook draws. */
  private def idHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  private def idHashSql(c: String): String =
    s"cast(('0x' || substr(md5(cast($c as varchar)), 1, 8)) as bigint)"

  /** DuckDB left-associative dot-product chain over two list columns —
    * bit-identical to graft.functions.DotProduct's sequential fold. */
  private def chainSql(a: String, b: String): String =
    (1 to D).map(i => s"(cast($a[$i] as double)*cast($b[$i] as double))")
      .mkString(" + ")

  /** DuckDB left-assoc dot chain over the FIRST n dims only (the
    * Matryoshka-truncation prefix). */
  private def chainSqlN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"(cast($a[$i] as double)*cast($b[$i] as double))")
      .mkString(" + ")

  /** MATRYOSHKA-TRUNCATION RETRIEVAL EVAL — the dimension-budget curve an
    * embedding-index operator reads before truncating vectors (MRL-style
    * prefixes, Kusupati et al. 2022): per probe and per prefix length
    * d ∈ {16, 32, 64}, the recall@10 of cosine ranking using only the
    * first d coordinates against the full-64-dim exact ranking (d = 64 is
    * the identity row — a built-in sanity check that must read 1.0). One
    * bounded 5-probe broadcast cross computes all three prefix cosines
    * per candidate in a single pass; rankings are per-(probe, d) windows
    * with id tiebreaks. Determinism: every cosine is a sequential-fold
    * dot (bit-matched by the oracle's left-assoc chain) and ONE IEEE
    * division — identical ranking keys in both engines. */
  val qMrlRecall: GQuery = GQuery(
    "q_mrl_recall",
    (spark, dir) => {
      import spark.implicits._
      val dims = Seq(16, 32, 64)
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
      val probes = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"))
      def cosD(d: Int): Column =
        (dotProduct(slice($"emb", 1, d), slice($"p_emb", 1, d)) /
          (sqrt(dotProduct(slice($"emb", 1, d), slice($"emb", 1, d))) *
            sqrt(dotProduct(slice($"p_emb", 1, d), slice($"p_emb", 1, d)))))
          .as(s"c$d")
      val scored = emb.crossJoin(broadcast(probes))
        .select(($"p_id" +: $"vec_id".as("c_id") +: dims.map(cosD)): _*)
        .select($"p_id", $"c_id", explode(array(dims.map(d =>
          struct(lit(d).as("dim"), col(s"c$d").as("cos"))): _*)).as("s"))
        .select($"p_id", $"c_id", $"s.dim".as("dim"), $"s.cos".as("cos"))
      val wR = Window.partitionBy($"p_id", $"dim")
        .orderBy($"cos".desc, $"c_id")
      val ranked = scored.withColumn("rn", row_number().over(wR))
        .filter($"rn" <= 10)
        .select($"p_id", $"dim", $"c_id")
      val exact = ranked.filter($"dim" === 64)
        .select($"p_id", $"c_id")
      ranked.join(exact, Seq("p_id", "c_id"))
        .groupBy($"p_id", $"dim")
        .agg(count(lit(1)).as("n_overlap"))
        .select($"p_id", $"dim", $"n_overlap",
          r6($"n_overlap".cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy($"p_id", $"dim")
    },
    Some {
      val dims = Seq(16, 32, 64)
      val legs = dims.map { d =>
        s"""
        SELECT p.vec_id AS p_id, c.vec_id AS c_id, $d AS dim,
               (${chainSqlN("c.embedding", "p.embedding", d)}) /
                 (sqrt(${chainSqlN("c.embedding", "c.embedding", d)}) *
                  sqrt(${chainSqlN("p.embedding", "p.embedding", d)}))
                 AS cos
        FROM corpus c CROSS JOIN probes p"""
      }.mkString(" UNION ALL ")
      s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound),
      probes AS (SELECT vec_id, embedding FROM corpus WHERE vec_id < 5),
      scored AS MATERIALIZED ($legs),
      ranked AS (
        SELECT p_id, dim, c_id FROM (
          SELECT p_id, dim, c_id,
                 row_number() OVER (PARTITION BY p_id, dim
                   ORDER BY cos DESC, c_id) AS rn
          FROM scored) t WHERE rn <= 10),
      exact AS (SELECT p_id, c_id FROM ranked WHERE dim = 64)
      SELECT r.p_id, r.dim, cast(count(*) as bigint) AS n_overlap,
             ${r6Sql("cast(count(*) as double) / cast(10.0 as double)")}
               AS recall_at_10
      FROM ranked r JOIN exact e
        ON e.p_id = r.p_id AND e.c_id = r.c_id
      GROUP BY r.p_id, r.dim
      ORDER BY r.p_id, r.dim"""
    },
  )

  /** 16 deterministic ±1 hyperplanes for sign-random-projection LSH,
    * derived from md5 so they are reproducible constants (embedded as
    * literals in BOTH the Spark plan and the oracle SQL — no cross-engine
    * hashing needed). */
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(16) { j =>
      Array.tabulate(D) { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"plane|$j|$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }

  private def planeArraySql(j: Int): String =
    planes(j).map(w => s"${w}D").mkString("array(", ", ", ")")

  /** DuckDB chain for embedding · plane_j with the ±1 literals inlined. */
  private def planeChainSql(emb: String, j: Int): String =
    (1 to D).map(i =>
      s"(cast($emb[$i] as double)*cast(${planes(j)(i - 1)} as double))")
      .mkString(" + ")

  // ---------------------------------------------------------------------
  // Near-duplicate detection
  // ---------------------------------------------------------------------

  /** MinHash near-dup by SIGNATURE ESTIMATE, fully oracle-checked: 3-word
    * shingles → 16 portable minhashes (min md5-substring per seed group,
    * the q_neardup_banded family) → 4-band LSH candidate generation →
    * estimated Jaccard = |matching minhashes| / 16 on CANDIDATES ONLY.
    * Where q_neardup_banded verifies candidates with the exact Jaccard
    * (a second pass over the shingle sets), this is the cheaper
    * signature-only estimate a 100 TB dedup pass actually ships: the
    * signatures are already materialized, so verification is a constant-
    * width column compare — no second shingle join. est_jaccard values are
    * dyadic rationals (k/16), exact in both engines' doubles. */
  // The maker's `corpusBound` parameter SHADOWS the object-level bound on
  // purpose: the declared query and its full-corpus _xl bench twin are the
  // same code, differing only in the corpus slice (and the oracle SQL
  // interpolates whichever bound is in scope).
  private def mkNeardupMinhash(name: String, corpusBound: Long,
      expand: Int = 1): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = xdocs(Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text"), expand)
      val docs = base.unionByName(
        base.filter($"doc_id" < 50)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      // fused-kernel signature stage (byte-identical to the relational
      // oracle stage below; see kernelSigs / MinHashSigSpec)
      val sigs = kernelSigs(docs)
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
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val sigsA = sigs.select(
        ($"doc_id".as("id_a") +: (0 until 16).map(i => col(s"h$i").as(s"a$i"))): _*)
      val sigsB = sigs.select(
        ($"doc_id".as("id_b") +: (0 until 16).map(i => col(s"h$i").as(s"b$i"))): _*)
      val nMatch = (0 until 16)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      broadcast(cand)
        .join(sigsA, "id_a").join(sigsB, "id_b")
        .select($"id_a", $"id_b", nMatch.as("n_match"),
          (nMatch.cast("double") / lit(16.0)).as("est_jaccard"))
        .filter($"est_jaccard" >= 0.5)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH xb AS (${xdocsSql(corpusBound, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 1000000, text FROM xb WHERE doc_id < 50),
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
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.sig = y.sig
                    AND x.doc_id < y.doc_id),
      scored AS (
        SELECT id_a, id_b,
          (${(0 until 16).map(i =>
            s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")})
            AS n_match
        FROM cand
        JOIN sig a ON a.doc_id = cand.id_a
        JOIN sig b ON b.doc_id = cand.id_b)
      SELECT id_a, id_b, n_match,
             cast(n_match as double) / cast(16.0 as double) AS est_jaccard
      FROM scored
      WHERE cast(n_match as double) / cast(16.0 as double) >= cast(0.5 as double)
      ORDER BY id_a, id_b"""),
  )

  val qNeardupMinhash: GQuery =
    mkNeardupMinhash("q_neardup_minhash", corpusBound)

  /** Full-corpus bench twin: same plan, whole documents table. */
  val qNeardupMinhashXl: GQuery =
    mkNeardupMinhash("q_neardup_minhash_xl", corpusBoundXl)

  /** INCREMENTAL batch×corpus NEAR-DUP (round-12 verdict item 4 — the
    * daily-crawl arrival path, promoted from library+spec into the
    * CORRECTNESS gate): a day-N ingest batch is matched against the
    * STANDING corpus through [[graft.llm.NearDup.incrementalNearDups]] —
    * batch signatures band-equi-join the corpus signature table
    * (recomputed here because the fixture has no materialized lake table;
    * a deployment passes its stored `corpusSigs`), candidates are
    * verified by exact distinct-3-gram Jaccard, and the corpus is NEVER
    * paired with itself — day-N cost is linear in the batch, not the
    * corpus. Planted batch: 40 exact copies (+850000, share all 16
    * minhashes → always caught, jaccard = 1) and 20 one-token-prefix
    * near-copies (+860000, jaccard = n/(n+1)). Jaccard is an
    * integer-count ratio — one IEEE division, bit-identical cross-engine;
    * r6 only at the output. */
  val qNeardupIncr: GQuery = GQuery(
    "q_neardup_incr",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text")
      val batch = base.filter($"doc_id" < 40)
        .select(($"doc_id" + 850000L).as("doc_id"), $"text")
        .unionByName(base.filter($"doc_id" >= 40 && $"doc_id" < 60)
          .select(($"doc_id" + 860000L).as("doc_id"),
            concat(lit("qq "), $"text").as("text")))
      graft.llm.NearDup
        .incrementalNearDups(batch, base, minJaccard = 0.5)
        .select($"new_id", $"corpus_id", r6($"jaccard").as("jaccard"))
        .orderBy($"new_id", $"corpus_id")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound),
      batch AS (
        SELECT doc_id + 850000 AS doc_id, text FROM base WHERE doc_id < 40
        UNION ALL
        SELECT doc_id + 860000, 'qq ' || text FROM base
        WHERE doc_id >= 40 AND doc_id < 60),
      gb AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(l) - 2),
          i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM batch) b0),
      gc AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(l) - 2),
          i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM base) c0),
      sigb AS (SELECT doc_id,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM gb GROUP BY doc_id),
      sigc AS (SELECT doc_id,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM gc GROUP BY doc_id),
      bandsb AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', h${4 * b}, " +
            s"h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS sig FROM sigb")
          .mkString("\n        UNION ALL ")}),
      bandsc AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', h${4 * b}, " +
            s"h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS sig FROM sigc")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
               FROM bandsb b JOIN bandsc c
                 ON b.band_id = c.band_id AND b.sig = c.sig),
      nsz AS (SELECT doc_id, count(*) AS n_new FROM gb GROUP BY doc_id),
      csz AS (SELECT doc_id, count(*) AS n_corpus FROM gc GROUP BY doc_id),
      inter AS (
        SELECT cand.new_id, cand.corpus_id, count(*) AS n_common
        FROM cand
        JOIN gb ON gb.doc_id = cand.new_id
        JOIN gc ON gc.doc_id = cand.corpus_id AND gc.gram = gb.gram
        GROUP BY cand.new_id, cand.corpus_id),
      scored AS (
        SELECT new_id, corpus_id,
               cast(n_common as double) /
                 cast(n_new + n_corpus - n_common as double) AS j
        FROM inter
        JOIN nsz ON nsz.doc_id = inter.new_id
        JOIN csz ON csz.doc_id = inter.corpus_id)
      SELECT new_id, corpus_id, ${r6Sql("j")} AS jaccard
      FROM scored
      WHERE j >= cast(0.5 as double)
      ORDER BY new_id, corpus_id"""),
  )

  /** WINNOWING FINGERPRINTS (Schleimer et al. 2003, the MOSS scheme,
    * adapted to word 3-grams): every 3-gram position gets a 32-bit
    * md5-derived hash; each sliding window of w = 4 consecutive hashes
    * SELECTS its minimum (leftmost on ties — the tie is folded into one
    * integer key `h·2²⁰ + pos`, so selection is a single integer MIN,
    * identical in both engines); the per-doc DISTINCT selected hashes are
    * the fingerprint set. Winnowing's guarantee: any shared run of
    * ≥ w + k − 1 = 6 tokens shares at least one selected hash VALUE, and
    * the fingerprint density is ~2/(w+1) of positions — a fixed-rate
    * sketch with a locality guarantee minhash doesn't give. Pairs
    * sharing ≥ 3 fingerprints are reported (candidates ONLY from the
    * fingerprint equi-join; hashes in > 50 docs dropped as boilerplate —
    * the q_dedup_span df-cap posture). Planted 2-token-prefix clones
    * (+880000) share their whole body and are always caught.
    * Maker parameter = the corpusBound-shadowing twin mechanism: the
    * declared 500-doc probe and the full-corpus `_xl` scaling point
    * (round-13 verdict item 3 — the exact-verify family had no measured
    * scaling point) are the same code. */
  private def mkWinnowing(name: String, corpusBound: Long): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 25 && size(split($"text", " ")) >= 30)
          .select(($"doc_id" + 880000L).as("doc_id"),
            concat(lit("qw qe "), $"text").as("text")))
      val wins = docs.select($"doc_id", split($"text", " ").as("l"))
        .filter(size($"l") >= 3)
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, size(l) - 3), " +
            "i -> substring(md5(concat_ws(' ', slice(l, i + 1, 3))), 1, 8))")))
        .toDF("doc_id", "pos", "h8")
        .select($"doc_id", $"pos",
          (conv($"h8", 16, 10).cast("long") * lit(1048576L) +
            $"pos".cast("long")).as("key"))
      val wSel = Window.partitionBy($"doc_id").orderBy($"pos")
        .rowsBetween(-3, 0)
      val fp = wins
        .withColumn("selkey", min($"key").over(wSel))
        .filter($"pos" >= 3)
        .select($"doc_id", expr("selkey div 1048576").as("h"))
        .distinct()
      val hdf = fp.groupBy($"h").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2 && $"nd" <= 50).select($"h")
      val fpb = fp.join(hdf, Seq("h"), "left_semi")
      fpb.as("a").join(fpb.as("b"),
          col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 3)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound),
      docs AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 880000, 'qw qe ' || text FROM base
        WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 30),
      lt AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs
             WHERE len(string_split(text, ' ')) >= 3),
      wins AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5(array_to_string(l[(i + 1):(i + 3)], ' ')),
                 1, 8))::BIGINT * 1048576 + i AS key
        FROM lt, unnest(generate_series(0, cast(len(l) as int) - 3))
          AS t(i)),
      sel AS (
        SELECT doc_id, pos,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS selkey
        FROM wins),
      fp AS (SELECT DISTINCT doc_id, selkey // 1048576 AS h
             FROM sel WHERE pos >= 3),
      hdf AS (SELECT h FROM fp GROUP BY h
              HAVING count(*) BETWEEN 2 AND 50),
      fpb AS MATERIALIZED (
        SELECT doc_id, h FROM fp WHERE h IN (SELECT h FROM hdf))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(count(*) as bigint) AS n_shared
      FROM fpb a JOIN fpb b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= 3
      ORDER BY id_a, id_b"""),
  )

  val qWinnowing: GQuery = mkWinnowing("q_winnowing", corpusBound)

  /** Full-corpus bench twin: same plan, whole documents table. */
  val qWinnowingXl: GQuery = mkWinnowing("q_winnowing_xl", corpusBoundXl)

  /** SimHash near-dup, fully oracle-checked: per-doc 32-bit fingerprint
    * (majority vote over md5-hashed distinct tokens, bit i weight ±1) →
    * 4 bands of 8 bits → band equi-join candidates → integer-popcount
    * Hamming verification ≤ 3 on candidates only. The 8-bit×4-band split
    * is EXACT by pigeonhole: any pair within Hamming 3 of each other
    * differs in at most 3 bands, so at least one band matches — candidate
    * generation loses nothing. All arithmetic is integer (md5 → hex →
    * int, shifts, popcount): both engines compute identical fingerprints
    * and identical Hamming distances, no floats anywhere. */
  val qNeardupSimhash: GQuery = GQuery(
    "q_neardup_simhash",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 50)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      val toks = docs.select($"doc_id",
        explode(array_distinct(split($"text", " "))).as("tok"))
      val th = toks.select($"doc_id",
        conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long").as("h"))
      val sumCols = (0 until 32).map(i =>
        sum(expr(s"(shiftright(h, $i) & 1) * 2 - 1")).as(s"s$i"))
      val sums = th.groupBy($"doc_id").agg(sumCols.head, sumCols.tail: _*)
      val fp = sums.select($"doc_id",
        (0 until 32).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
      val bands = fp.select($"doc_id",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            expr(s"shiftright(fp, ${8 * b}) & 255").as("val"))): _*)).as("bs"))
        .select($"doc_id", $"bs.band_id".as("band_id"), $"bs.val".as("val"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.val") === col("y.val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val fa = fp.select($"doc_id".as("id_a"), $"fp".as("fp_a"))
      val fb = fp.select($"doc_id".as("id_b"), $"fp".as("fp_b"))
      broadcast(cand).join(fa, "id_a").join(fb, "id_b")
        .select($"id_a", $"id_b",
          expr("cast(bit_count(fp_a ^ fp_b) as int)").as("hamming"))
        .filter($"hamming" <= 3)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
      toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                 AS tok FROM docs),
      th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
             FROM toks),
      sums AS (SELECT doc_id,
        ${(0 until 32).map(i =>
          s"sum(((h >> $i) & 1) * 2 - 1) AS s$i").mkString(",\n        ")}
        FROM th GROUP BY doc_id),
      fp AS (SELECT doc_id, cast(
        ${(0 until 32).map(i =>
          s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")}
        as bigint) AS fp FROM sums),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, (fp >> ${8 * b}) & 255 AS val FROM fp")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
                    AND x.doc_id < y.doc_id)
      SELECT id_a, id_b,
             cast(bit_count(xor(fa.fp, fb.fp)) as int) AS hamming
      FROM cand
      JOIN fp fa ON fa.doc_id = cand.id_a
      JOIN fp fb ON fb.doc_id = cand.id_b
      WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
      ORDER BY id_a, id_b"""),
  )

  /** SCALE-SAFE SimHash (round-13 verdict item 1): the web-scale 64-bit /
    * 4×16-bit-band configuration that the measured collapse of the 32-bit
    * operator names as its fix. [[qNeardupSimhash]]'s full-corpus twin was
    * measured and WITHDRAWN in round 13 because 8-bit bands of
    * majority-vote bits are nearly deterministic on a homogeneous corpus
    * (3,087 of 5,050 sf0.1 docs landed in ONE band value → ~5M candidate
    * pairs). Doubling the fingerprint (two 32-bit md5 words per token)
    * and doubling the band width drives the per-band collision rate from
    * p^8 to p^16 — the standard production config (Manku et al.'s
    * 64-bit/4-band split).
    *
    * Construction, identical in both engines and all-integer: per distinct
    * token two 32-bit hashes (md5 hex words 1-8 and 9-16), 64 per-bit ±1
    * majority votes, the two 32-bit halves packed separately
    * (`fp_lo`/`fp_hi`, each < 2^32 so no bigint sign/overflow edge
    * anywhere), four 16-bit band keys by shift/mask, candidates ONLY from
    * the band equi-join, and exact
    * — Spark side the voting stage is the fused map-only
    * [[graft.functions.SimHash64]] kernel (one md5 per distinct token, no
    * explode, no doc-keyed shuffle; byte-identical to the relational
    * 64-agg form the oracle mirrors, Round14Spec), the oracle the
    * relational SQL —
    * Hamming (`bit_count(lo⊕lo) + bit_count(hi⊕hi)`) ≤ 3 on candidates
    * only. Pigeonhole is exact: ≤ 3 differing bits cannot touch all 4
    * bands, so no true pair is lost. Scale posture: the band join
    * shuffles on short integer keys; the fingerprint table (3 longs/doc)
    * is BROADCAST to the candidate stream — candidates themselves are
    * never broadcast (the exact mistake the withdrawn 32-bit twin made).
    * Plants: exact copies of docs < 50 shifted +1000000 → Hamming 0, so
    * rows > 0 can never pass vacuously. */
  private def mkNeardupSimhash64(name: String, corpusBound: Long,
      expand: Int = 1): GQuery = {
    val sumsSqlCols = ((0 until 32).map(i =>
      s"sum(((h1 >> $i) & 1) * 2 - 1) AS a$i") ++
      (0 until 32).map(i =>
        s"sum(((h2 >> $i) & 1) * 2 - 1) AS b$i")).mkString(",\n        ")
    def packSql(pfx: String): String =
      (0 until 32).map(i =>
        s"(CASE WHEN $pfx$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    GQuery(
      name,
      (spark, dir) => {
        import spark.implicits._
        val base = xdocs(Tables.documents(spark, dir)
          .filter($"doc_id" < corpusBound).select($"doc_id", $"text"), expand)
        val docs = base.unionByName(
          base.filter($"doc_id" < 50)
            .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
        // fused-kernel fingerprint + banding via the NearDup helpers —
        // ONE band-layout definition shared with the streaming ingest
        // gate (r14 verdict: the inline band structs duplicated
        // NearDup.simHash64Bands and could silently diverge). The kernel
        // is byte-identical to the relational explode(array_distinct) →
        // 64-agg form the oracle mirrors (Round14Spec, row-for-row);
        // map-only, one md5 per distinct token, no doc-keyed shuffle.
        val fp = graft.llm.NearDup.simHash64PerRow(Parallel.spread(docs))
        // the (|docs| × 3 longs) fingerprint table feeds three consumers
        // (band explode + both hamming sides) — truncate the kernel
        // lineage once instead of re-running it per branch
        val fpc = fp.localCheckpoint()
        val bands = graft.llm.NearDup.simHash64Bands(fpc)
          .select($"id", $"band_id", $"val")
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band_id") === col("y.band_id") &&
              col("x.val") === col("y.val") &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .distinct()
        val fa = fpc.select($"id".as("id_a"),
          $"fp_lo".as("lo_a"), $"fp_hi".as("hi_a"))
        val fb = fpc.select($"id".as("id_b"),
          $"fp_lo".as("lo_b"), $"fp_hi".as("hi_b"))
        cand.join(broadcast(fa), "id_a").join(broadcast(fb), "id_b")
          .select($"id_a", $"id_b",
            (expr("bit_count(lo_a ^ lo_b)") +
              expr("bit_count(hi_a ^ hi_b)")).cast("int").as("hamming"))
          .filter($"hamming" <= 3)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""
      WITH xb AS (${xdocsSql(corpusBound, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 1000000, text FROM xb WHERE doc_id < 50),
      toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                 AS tok FROM docs),
      th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
                    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
             FROM toks),
      sums AS (SELECT doc_id,
        $sumsSqlCols
        FROM th GROUP BY doc_id),
      fp AS MATERIALIZED (SELECT doc_id,
        cast(${packSql("a")} as bigint) AS fp_lo,
        cast(${packSql("b")} as bigint) AS fp_hi
        FROM sums),
      bands AS (
        SELECT doc_id, 0 AS band_id, fp_lo & 65535 AS val FROM fp
        UNION ALL SELECT doc_id, 1, (fp_lo >> 16) & 65535 FROM fp
        UNION ALL SELECT doc_id, 2, fp_hi & 65535 FROM fp
        UNION ALL SELECT doc_id, 3, (fp_hi >> 16) & 65535 FROM fp),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
                    AND x.doc_id < y.doc_id)
      SELECT id_a, id_b,
             cast(cast(bit_count(xor(fa.fp_lo, fb.fp_lo)) as int) +
                  cast(bit_count(xor(fa.fp_hi, fb.fp_hi)) as int) as int)
               AS hamming
      FROM cand
      JOIN fp fa ON fa.doc_id = cand.id_a
      JOIN fp fb ON fb.doc_id = cand.id_b
      WHERE cast(bit_count(xor(fa.fp_lo, fb.fp_lo)) as int) +
            cast(bit_count(xor(fa.fp_hi, fb.fp_hi)) as int) <= 3
      ORDER BY id_a, id_b"""),
    )
  }

  /** 500-doc declared probe of the 64-bit SimHash config. */
  val qNeardupSimhash64: GQuery =
    mkNeardupSimhash64("q_neardup_simhash64", corpusBound)

  /** Full-corpus twin — the scaling point the 32-bit operator could not
    * field (round-13 negative result). Band-collision mass measured
    * before declaration (SimHash64Probe): the largest 16-bit band group
    * on the organic sf0.1 corpus stays in the tens, not thousands. */
  val qNeardupSimhash64Xl: GQuery =
    mkNeardupSimhash64("q_neardup_simhash64_xl", corpusBoundXl)

  /** ×10 scaling twin — the third point. Replica tokens are k-suffixed
    * (xdocs), so replicas carry DIFFERENT fingerprints and the band-group
    * concentration is the organic distribution per k-slice, not one
    * 10×-deep group; candidate mass should grow ~linearly. */
  val qNeardupSimhash64Xxl: GQuery =
    mkNeardupSimhash64("q_neardup_simhash64_xxl", corpusBoundXl, 10)

  // ---------------------------------------------------------------------
  // Approximate nearest neighbor
  // ---------------------------------------------------------------------

  /** LSH approximate nearest neighbor, fully oracle-checked: 16-bit
    * sign-random-projection signature (deterministic md5-derived ±1
    * hyperplanes, embedded as literals in both engines) → 4 bands of 4
    * bits → band equi-join candidate generation (probes × corpus, never
    * all-pairs) → exact cosine re-rank of candidates only, top-5 per
    * probe. Every float is a left-associative IEEE chain (see object
    * scaladoc), so candidate sets, cosines, and ranks are bit-identical
    * across engines. The learned/seeded MLlib path stays in
    * graft.llm.Ann.lshTopK (SkewAnnSpec recall vs brute force). */
  val qAnnLsh: GQuery = GQuery(
    "q_ann_lsh",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val projected = (0 until 16).foldLeft(emb) { (df, j) =>
        df.withColumn(s"p$j",
          dotProduct($"emb", array(planes(j).map(lit): _*)))
      }
      val sig = projected.select(
        ($"vec_id" +: $"emb" +: $"nrm" +:
          (0 until 4).map(b => (0 until 4).map(k =>
            when(col(s"p${4 * b + k}") > 0, lit(1 << k)).otherwise(lit(0)))
            .reduce(_ + _).as(s"band$b"))): _*)
      def bandRows(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band_id"), col(s"band$b").as("val"))): _*)).as("bs"))
          .select(col(idAs), $"bs.band_id".as("band_id"), $"bs.val".as("val"))
      val cand = bandRows(sig.filter($"vec_id" < 5), "p_id")
        .join(bandRows(sig, "c_id"), Seq("band_id", "val"))
        .select($"p_id", $"c_id").distinct()
      val p = sig.select($"vec_id".as("p_id"), $"emb".as("p_emb"), $"nrm".as("p_nrm"))
      val c = sig.select($"vec_id".as("c_id"), $"emb".as("c_emb"), $"nrm".as("c_nrm"))
      val w = Window.partitionBy($"p_id").orderBy($"cos".desc, $"c_id")
      cand.join(broadcast(p), "p_id").join(c, "c_id")
        .withColumn("cos",
          dotProduct($"p_emb", $"c_emb") / ($"p_nrm" * $"c_nrm"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .select($"p_id", $"c_id", r6($"cos").as("cos_sim"), $"rnk")
        .orderBy($"p_id", $"rnk")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound),
      sig AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm,
        ${(0 until 4).map(b => (0 until 4).map(k =>
            s"(CASE WHEN (${planeChainSql("embedding", 4 * b + k)}) > 0 " +
              s"THEN ${1 << k} ELSE 0 END)").mkString("(", " + ", s") AS band$b"))
          .mkString(",\n        ")}
        FROM emb),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT vec_id, $b AS band_id, band$b AS val FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.vec_id AS p_id, y.vec_id AS c_id
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
               WHERE x.vec_id < 5),
      scored AS (
        SELECT cand.p_id, cand.c_id,
               (${chainSql("p.embedding", "c.embedding")})
                 / (p.nrm * c.nrm) AS cos
        FROM cand
        JOIN sig p ON p.vec_id = cand.p_id
        JOIN sig c ON c.vec_id = cand.c_id),
      ranked AS (
        SELECT p_id, c_id, cos,
               cast(row_number() OVER (PARTITION BY p_id
                 ORDER BY cos DESC, c_id) as int) AS rnk
        FROM scored)
      SELECT p_id, c_id, ${r6Sql("cos")} AS cos_sim, rnk
      FROM ranked WHERE rnk <= 5
      ORDER BY p_id, rnk"""),
  )

  /** IVF approximate nearest neighbor, fully oracle-checked: the coarse
    * quantizer is a DETERMINISTIC fixed-COUNT hash-sample of the corpus
    * itself (the [[nCentroids]] rows with the smallest (md5-id-hash, id)
    * — bottom-K, constant-size at any corpus scale) instead of KMeans —
    * the IVF plan shape with a hash family both engines can replicate.
    * Every corpus vector is assigned to its nearest centroid by cosine
    * (argmax via row_number over a broadcast centroid cross join — at
    * 100 TB this is one codegen'd pass, centroids broadcast); each probe
    * searches its nProbe=3 nearest cells; candidates (corpus rows in
    * probed cells, equi-join on cell) get an exact cosine re-rank, top-5
    * per probe. The KMeans-quantizer path stays in graft.llm.Ann.ivfTopK
    * (SkewAnnSpec recall vs brute force). */
  private def mkAnnIvf(name: String, corpusBound: Long): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val cents = emb.orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id").orderBy($"cell_cos".desc, $"cell")
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .select($"vec_id".as("c_id"), $"emb".as("c_emb"), $"nrm".as("c_nrm"), $"cell")
      val probeW = Window.partitionBy($"vec_id").orderBy($"cell_cos".desc, $"cell")
      val probeCells = emb.filter($"vec_id" < 5).crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(probeW))
        .filter($"rn" <= 3)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"), $"nrm".as("p_nrm"), $"cell")
      val w = Window.partitionBy($"p_id").orderBy($"cos".desc, $"c_id")
      assigned.join(broadcast(probeCells), "cell")
        .withColumn("cos",
          dotProduct($"p_emb", $"c_emb") / ($"p_nrm" * $"c_nrm"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .select($"p_id", $"c_id", $"cell", r6($"cos").as("cos_sim"), $"rnk")
        .orderBy($"p_id", $"rnk")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < $corpusBound),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM emb
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      assigned AS (
        SELECT c_id, c_emb, c_nrm, cell FROM (
          SELECT e.vec_id AS c_id, e.embedding AS c_emb, e.nrm AS c_nrm,
                 cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${chainSql("e.embedding", "cents.cent")})
                     / (e.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM emb e CROSS JOIN cents) t WHERE rn = 1),
      pcells AS (
        SELECT p_id, p_emb, p_nrm, cell FROM (
          SELECT e.vec_id AS p_id, e.embedding AS p_emb, e.nrm AS p_nrm,
                 cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${chainSql("e.embedding", "cents.cent")})
                     / (e.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM emb e CROSS JOIN cents WHERE e.vec_id < 5) t WHERE rn <= 3),
      scored AS (
        SELECT p.p_id, a.c_id, a.cell,
               (${chainSql("p.p_emb", "a.c_emb")}) / (p.p_nrm * a.c_nrm) AS cos
        FROM assigned a JOIN pcells p ON a.cell = p.cell),
      ranked AS (
        SELECT p_id, c_id, cell, cos,
               cast(row_number() OVER (PARTITION BY p_id
                 ORDER BY cos DESC, c_id) as int) AS rnk
        FROM scored)
      SELECT p_id, c_id, cell, ${r6Sql("cos")} AS cos_sim, rnk
      FROM ranked WHERE rnk <= 5
      ORDER BY p_id, rnk"""),
  )

  val qAnnIvf: GQuery = mkAnnIvf("q_ann_ivf", corpusBound)

  /** Full-corpus bench twin: same plan, whole embeddings table. */
  val qAnnIvfXl: GQuery = mkAnnIvf("q_ann_ivf_xl", corpusBoundXl)

  /** Embedding-cosine near-duplicate pairs, fully oracle-checked — the
    * vector-space analog of MinHash near-dup (the brief's dedup family's
    * last member to reach the oracle surface): the same deterministic
    * 16-bit sign-projection signature as q_ann_lsh, but SELF-joined — a
    * pair is a candidate iff it collides in ≥1 of 4 bands — then exact
    * cosine verification ≥ 0.95 on candidates only. 25 planted duplicate
    * vectors (shifted ids, identical embeddings → cos = 1) make the
    * output non-vacuous at every SF; random vectors essentially never
    * clear 0.95, so the planted pairs ARE the contract. Same scale shape
    * as the text near-dups: band equi-join, no all-pairs, verification
    * touches candidates only. MLlib seeded path:
    * graft.llm.Ann.cosineNearDupPairs. */
  val qNeardupCosine: GQuery = GQuery(
    "q_neardup_cosine",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id", $"embedding")
      val corpus = base.unionByName(
        base.filter($"vec_id" < 25)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val projected = (0 until 16).foldLeft(corpus) { (df, j) =>
        df.withColumn(s"p$j",
          dotProduct($"emb", array(planes(j).map(lit): _*)))
      }
      val sig = projected.select(
        ($"vec_id" +: $"emb" +: $"nrm" +:
          (0 until 4).map(b => (0 until 4).map(k =>
            when(col(s"p${4 * b + k}") > 0, lit(1 << k)).otherwise(lit(0)))
            .reduce(_ + _).as(s"band$b"))): _*)
      val bands = sig.select($"vec_id",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"), col(s"band$b").as("val"))): _*)).as("bs"))
        .select($"vec_id", $"bs.band_id".as("band_id"), $"bs.val".as("val"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.val") === col("y.val") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
      val a = sig.select($"vec_id".as("id_a"), $"emb".as("a_emb"), $"nrm".as("a_nrm"))
      val b = sig.select($"vec_id".as("id_b"), $"emb".as("b_emb"), $"nrm".as("b_nrm"))
      cand.join(a, "id_a").join(b, "id_b")
        .withColumn("cos",
          dotProduct($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"))
        .filter($"cos" >= 0.95)
        .select($"id_a", $"id_b", r6($"cos").as("cos_sim"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 25),
      sig AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm,
        ${(0 until 4).map(b => (0 until 4).map(k =>
            s"(CASE WHEN (${planeChainSql("embedding", 4 * b + k)}) > 0 " +
              s"THEN ${1 << k} ELSE 0 END)").mkString("(", " + ", s") AS band$b"))
          .mkString(",\n        ")}
        FROM base),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT vec_id, $b AS band_id, band$b AS val FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
                    AND x.vec_id < y.vec_id),
      scored AS (
        SELECT cand.id_a, cand.id_b,
               (${chainSql("a.embedding", "b.embedding")})
                 / (a.nrm * b.nrm) AS cos
        FROM cand
        JOIN sig a ON a.vec_id = cand.id_a
        JOIN sig b ON b.vec_id = cand.id_b)
      SELECT id_a, id_b, ${r6Sql("cos")} AS cos_sim
      FROM scored WHERE cos >= cast(0.95 as double)
      ORDER BY id_a, id_b"""),
  )

  /** Embedding near-duplicate pairs with IVF-CELL BLOCKING — the
    * vector-space dedup gate that REUSES the ANN index as its candidate
    * generator: where q_neardup_cosine blocks on LSH sign bands, this
    * blocks on the same deterministic coarse quantizer as q_ann_ivf
    * (fixed-count bottom-K hash-sampled centroids), assigning every vector
    * to its TOP-2 nearest cells (nProbe=2 blocking, so near-dups that
    * straddle one cell boundary still collide in the other cell);
    * candidate pairs come ONLY from the cell equi-join; exact cosine
    * ≥ 0.95 verifies candidates only. 25 planted duplicate vectors
    * (shifted ids, identical embeddings → identical cell ranks → always
    * co-blocked, cos = 1) make the output non-vacuous at every SF. At
    * 100 TB this is the dedup pass a corpus that ALREADY maintains an
    * IVF index gets for free: the cell assignment is materialized once
    * for search and the dedup candidates are a self equi-join on the
    * cell column — no second hash family, no all-pairs. */
  val qNeardupEmbed: GQuery = GQuery(
    "q_neardup_embed",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id", $"embedding")
      val corpus = base.unionByName(
        base.filter($"vec_id" < 25)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      // centroids from the UNplanted corpus only: the quantizer is part
      // of the standing index, not of the batch being checked
      val cents = corpus.filter($"vec_id" < corpusBound)
        .orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      val blocked = corpus.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" <= 2)
        .select($"vec_id", $"cell")
      val cand = blocked.as("x").join(blocked.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
      val a = corpus.select($"vec_id".as("id_a"), $"emb".as("a_emb"),
        $"nrm".as("a_nrm"))
      val b = corpus.select($"vec_id".as("id_b"), $"emb".as("b_emb"),
        $"nrm".as("b_nrm"))
      cand.join(a, "id_a").join(b, "id_b")
        .withColumn("cos",
          dotProduct($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"))
        .filter($"cos" >= 0.95)
        .select($"id_a", $"id_b", r6($"cos").as("cos_sim"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 25),
      corpus AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM base),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM corpus WHERE vec_id < $corpusBound
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      blocked AS (
        SELECT vec_id, cell FROM (
          SELECT c.vec_id, cents.cell,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (${chainSql("c.embedding", "cents.cent")})
                     / (c.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM corpus c CROSS JOIN cents) t WHERE rn <= 2),
      cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM blocked x JOIN blocked y
                 ON x.cell = y.cell AND x.vec_id < y.vec_id),
      scored AS (
        SELECT cand.id_a, cand.id_b,
               (${chainSql("a.embedding", "b.embedding")})
                 / (a.nrm * b.nrm) AS cos
        FROM cand
        JOIN corpus a ON a.vec_id = cand.id_a
        JOIN corpus b ON b.vec_id = cand.id_b)
      SELECT id_a, id_b, ${r6Sql("cos")} AS cos_sim
      FROM scored WHERE cos >= cast(0.95 as double)
      ORDER BY id_a, id_b"""),
  )

  /** EMBEDDING OUTLIER GATE — the vector-space twin of q_outlier's
    * numeric IQR fence: flag vectors whose cosine to the GLOBAL corpus
    * centroid sits more than 3 sd below the corpus mean — the cheap
    * first-pass screen for corrupted/mis-embedded rows before they
    * poison ANN cells or centroid stats. One planted anti-vector (the
    * NEGATED base centroid, id 2000000) is maximally anti-aligned with
    * the corpus direction, so the gate can never pass vacuously. Determinism chain:
    * centroid components are davg's (exact decimal sums, one IEEE
    * division); per-vector dots/norms are 12-dp-staged decimal sums
    * over the pos-exploded equi-join (64 rows per vector — order-free
    * by construction); corpus mean/sd of the r6'd cosines are decimal-
    * staged moments. At 100 TB: one explode + two combinable aggs, the
    * centroid is a 64-row broadcast — no pairwise anything. */
  val qEmbedOutlier: GQuery = GQuery(
    "q_embed_outlier",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, v -> cast(v as double))").as("emb"))
      val ex0 = base
        .select($"vec_id", posexplode($"emb")).toDF("vec_id", "pos", "x")
      // the planted outlier is the NEGATED BASE CENTROID (id 2000000):
      // anti-aligned with the corpus direction by construction
      // (cos ~ -1), so the z < -3 gate can never pass vacuously — a
      // negated random vector's own alignment is only ~1-2 sd and is
      // NOT a reliable plant (measured: missed at sf0.001/sf0.1)
      val cent0 = ex0.groupBy($"pos").agg(davg($"x", 6).as("c0"))
      val ex = ex0.unionByName(cent0
        .select(lit(2000000L).as("vec_id"), $"pos", (-$"c0").as("x")))
      val cent = ex.groupBy($"pos").agg(davg($"x", 6).as("c"))
      val nc = cent.agg(
        sqrt(sum(rN($"c" * $"c", 12).cast(dec12)).cast("double")).as("nc"))
      val per = ex.join(cent, "pos")
        .groupBy($"vec_id")
        .agg(sum(rN($"x" * $"c", 12).cast(dec12)).cast("double").as("dot"),
          sqrt(sum(rN($"x" * $"x", 12).cast(dec12)).cast("double")).as("nv"))
      val cos = per.crossJoin(broadcast(nc))
        .select($"vec_id", r6($"dot" / ($"nv" * $"nc")).as("cs"))
      val st = cos.agg(count(lit(1)).as("n"),
        sum($"cs".cast(dec6)).cast("double").as("sc"),
        sum(rN($"cs" * $"cs", 12).cast(dec12)).cast("double").as("scc"))
      val d = (c: String) => col(c).cast("double")
      val m = $"sc" / d("n")
      val sd = sqrt((d("n") * $"scc" - $"sc" * $"sc") /
        (d("n") * (d("n") - lit(1.0))))
      cos.crossJoin(broadcast(st))
        .withColumn("z", r6(($"cs" - m) / sd))
        .filter($"z" < lit(-3.0))
        .select($"vec_id", $"cs".as("cos_to_centroid"), $"z")
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, v -> cast(v as double))
                 AS emb
        FROM embeddings WHERE vec_id < $corpusBound),
      ex0 AS (
        SELECT vec_id,
               cast(unnest(generate_series(1, len(emb))) as int) - 1 AS pos,
               unnest(emb) AS x
        FROM base),
      cent0 AS (SELECT pos, ${davgSql("x", 6)} AS c0 FROM ex0 GROUP BY pos),
      ex AS (
        SELECT vec_id, pos, x FROM ex0
        UNION ALL
        SELECT 2000000, pos, -c0 FROM cent0),
      cent AS (SELECT pos, ${davgSql("x", 6)} AS c FROM ex GROUP BY pos),
      nc AS (
        SELECT sqrt(cast(sum(cast(${rNSql("c * c", 12)} as decimal(30,12)))
          as double)) AS nc
        FROM cent),
      per AS (
        SELECT vec_id,
               cast(sum(cast(${rNSql("x * c", 12)} as decimal(30,12)))
                 as double) AS dot,
               sqrt(cast(sum(cast(${rNSql("x * x", 12)} as decimal(30,12)))
                 as double)) AS nv
        FROM ex JOIN cent USING (pos)
        GROUP BY vec_id),
      cos AS (
        SELECT vec_id, ${r6Sql("dot / (nv * nc)")} AS cs
        FROM per CROSS JOIN nc),
      st AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(cast(cs as decimal(30,6))) as double) AS sc,
               cast(sum(cast(${rNSql("cs * cs", 12)} as decimal(30,12)))
                 as double) AS scc
        FROM cos)
      SELECT vec_id, cs AS cos_to_centroid, z
      FROM (
        SELECT vec_id, cs,
               ${r6Sql("(cs - sc / cast(n as double)) / " +
                 "sqrt((cast(n as double) * scc - sc * sc) / " +
                 "(cast(n as double) * (cast(n as double) - " +
                 "cast(1.0 as double))))")} AS z
        FROM cos CROSS JOIN st) t
      WHERE z < cast(-3.0 as double)
      ORDER BY vec_id"""),
  )

  /** HARD-NEGATIVE MINING for contrastive training pairs — the
    * training-data op sitting directly on the ANN index: for each probe,
    * the best SAME-label candidate (the positive) and the most similar
    * DIFFERENT-label candidate (the hard negative — the pair that
    * actually teaches a contrastive model something). Candidates come
    * ONLY from the q_ann_lsh band equi-join (never all-pairs); exact
    * cosine re-ranks candidates; one row_number per (probe, same-label)
    * cell picks the winners, pivoted by conditional agg. Labels are
    * fixture noise w.r.t. the vectors (the q_ndcg convention) — the
    * MINING SHAPE is the contract: at 100 TB this is the per-probe
    * candidate fetch a contrastive pipeline runs off the standing LSH/
    * IVF index, with the same two-winner selection. */
  val qHardNegatives: GQuery = GQuery(
    "q_hard_negatives",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val projected = (0 until 16).foldLeft(emb) { (df, j) =>
        df.withColumn(s"p$j",
          dotProduct($"emb", array(planes(j).map(lit): _*)))
      }
      val sig = projected.select(
        ($"vec_id" +: $"label" +: $"emb" +: $"nrm" +:
          (0 until 4).map(b => (0 until 4).map(k =>
            when(col(s"p${4 * b + k}") > 0, lit(1 << k)).otherwise(lit(0)))
            .reduce(_ + _).as(s"band$b"))): _*)
      def bandRows(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band_id"), col(s"band$b").as("val"))): _*)).as("bs"))
          .select(col(idAs), $"bs.band_id".as("band_id"), $"bs.val".as("val"))
      val cand = bandRows(sig.filter($"vec_id" < 5), "p_id")
        .join(bandRows(sig, "c_id"), Seq("band_id", "val"))
        .filter($"p_id" =!= $"c_id")
        .select($"p_id", $"c_id").distinct()
      val pr = sig.select($"vec_id".as("p_id"), $"label".as("p_label"),
        $"emb".as("p_emb"), $"nrm".as("p_nrm"))
      val cr = sig.select($"vec_id".as("c_id"), $"label".as("c_label"),
        $"emb".as("c_emb"), $"nrm".as("c_nrm"))
      val w = Window.partitionBy($"p_id", $"same")
        .orderBy($"cos".desc, $"c_id")
      cand.join(broadcast(pr), "p_id").join(cr, "c_id")
        .withColumn("cos",
          dotProduct($"p_emb", $"c_emb") / ($"p_nrm" * $"c_nrm"))
        .withColumn("same", $"p_label" === $"c_label")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"p_id")
        .agg(
          max(when($"same", $"c_id")).as("pos_id"),
          max(when($"same", r6($"cos"))).as("pos_cos"),
          max(when(!$"same", $"c_id")).as("neg_id"),
          max(when(!$"same", r6($"cos"))).as("neg_cos"))
        .orderBy($"p_id")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, label, embedding
        FROM embeddings WHERE vec_id < $corpusBound),
      sig AS (
        SELECT vec_id, label, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm,
        ${(0 until 4).map(b => (0 until 4).map(k =>
            s"(CASE WHEN (${planeChainSql("embedding", 4 * b + k)}) > 0 " +
              s"THEN ${1 << k} ELSE 0 END)").mkString("(", " + ", s") AS band$b"))
          .mkString(",\n        ")}
        FROM emb),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT vec_id, $b AS band_id, band$b AS val FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.vec_id AS p_id, y.vec_id AS c_id
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
                    AND x.vec_id <> y.vec_id
               WHERE x.vec_id < 5),
      scored AS (
        SELECT cand.p_id, cand.c_id,
               p.label = c.label AS same,
               (${chainSql("p.embedding", "c.embedding")})
                 / (p.nrm * c.nrm) AS cos
        FROM cand
        JOIN sig p ON p.vec_id = cand.p_id
        JOIN sig c ON c.vec_id = cand.c_id),
      ranked AS (
        SELECT p_id, c_id, same, cos,
               row_number() OVER (PARTITION BY p_id, same
                 ORDER BY cos DESC, c_id) AS rn
        FROM scored)
      SELECT p_id,
             max(CASE WHEN same THEN c_id END) AS pos_id,
             max(CASE WHEN same THEN ${r6Sql("cos")} END) AS pos_cos,
             max(CASE WHEN NOT same THEN c_id END) AS neg_id,
             max(CASE WHEN NOT same THEN ${r6Sql("cos")} END) AS neg_cos
      FROM ranked WHERE rn = 1
      GROUP BY p_id
      ORDER BY p_id"""),
  )

  // ---------------------------------------------------------------------
  // Sketches: exact twins with in-plan error columns
  // ---------------------------------------------------------------------

  /** Distinct counts with the HLL sketch checked IN-PLAN: the oracle
    * hash-matches the exact counts, and the `hll_*_ok` error columns are
    * the sketch contract made oracle-visible — Spark computes
    * |HLL(rsd=0.02) − exact| / exact ≤ 0.05 inside the plan and the
    * oracle pins the boolean to true, so an out-of-tolerance sketch fails
    * the row (the oracle cannot recompute Spark's HLL — DuckDB's
    * approx_count_distinct is a different sketch — but it CAN hold Spark
    * to the documented bound). HLL register-merge is a max, so the sketch
    * value is partitioning- and order-invariant: the boolean is stable
    * across layouts (DeterminismSpec) and the swap story at 100 TB is
    * exactly this plan minus the exact column. */
  val qApproxDistinct: GQuery = GQuery(
    "q_approx_distinct",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_partkey").as("exact_parts"),
          countDistinct($"l_suppkey").as("exact_supps"),
          approx_count_distinct($"l_partkey", 0.02).as("hp"),
          approx_count_distinct($"l_suppkey", 0.02).as("hs"))
        .select($"l_returnflag", $"exact_parts", $"exact_supps",
          (abs($"hp" - $"exact_parts").cast("double")
            <= $"exact_parts" * 0.05).as("hll_parts_ok"),
          (abs($"hs" - $"exact_supps").cast("double")
            <= $"exact_supps" * 0.05).as("hll_supps_ok"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS exact_parts,
             count(DISTINCT l_suppkey) AS exact_supps,
             TRUE AS hll_parts_ok,
             TRUE AS hll_supps_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** Percentiles with the GK sketch checked IN-PLAN: the oracle
    * hash-matches the exact interpolated percentiles (percentile ≡
    * quantile_cont, the q_percentile idiom), and the `gk_*_ok` error
    * columns hold approx_percentile(accuracy=1000, rank error ≤ 1/1000)
    * to TWICE its guarantee: the GK estimate must lie between the exact
    * quantiles at p ± 0.002. The bound holds for ANY merge order (GK's
    * guarantee is worst-case), so the boolean is partitioning-stable even
    * though the sketch value itself is not. ApproxSpec + GkSwapSpec cover
    * the numeric swap story; this row makes it oracle-visible. */
  val qApproxPctl: GQuery = GQuery(
    "q_approx_pctl",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"),
          expr("percentile(l_extendedprice, 0.498)").as("lo50"),
          expr("percentile(l_extendedprice, 0.502)").as("hi50"),
          expr("percentile(l_extendedprice, 0.988)").as("lo99"),
          expr("percentile(l_extendedprice, 0.992)").as("hi99"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("gk50"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("gk99"))
        .select($"l_returnflag", $"p50_price", $"p99_price",
          ($"gk50" >= $"lo50" && $"gk50" <= $"hi50").as("gk_p50_ok"),
          ($"gk99" >= $"lo99" && $"gk99" <= $"hi99").as("gk_p99_ok"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
             TRUE AS gk_p50_ok,
             TRUE AS gk_p99_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** Approximate query processing from a DETERMINISTIC sample: estimate
    * per-flag revenue from the 10% of orders whose md5-derived hash lands
    * in buckets 0-9, scale by the known inverse sampling rate, and pin the
    * estimate IN-PLAN against the exact value (relative error as a data
    * column both engines hash-match, the q_approx_distinct contract).
    * Sampling by ORDER key — the cluster-sampling unit — keeps each
    * order's lineitems together, so per-order correlation doesn't bias
    * the estimator; the hash is the portable conv(md5) idiom, so the
    * sample (and hence the estimate, error and all) is bit-identical on
    * any engine, any partitioning, any rerun. The 100 TB story: the
    * exact column drops and the scan shrinks 100× — the estimator and
    * its plan stay byte-for-byte. Planted tolerance: 10% cluster samples
    * of this corpus sit within 25% relative error at every SF (a 1%
    * sample is ~6 orders per flag at sf0.001 — 40% swings; the rate is
    * the knob, the plan is fixed). */
  val qAqpSample: GQuery = GQuery(
    "q_aqp_sample",
    (spark, dir) => {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir)
      val bucket = expr(
        "conv(substring(md5(cast(l_orderkey as string)), 1, 8), 16, 10)")
        .cast("long") % 100
      val agg = li
        .groupBy($"l_returnflag")
        .agg(
          dsum($"l_extendedprice").as("exact_rev"),
          dsum(when(bucket < 10, $"l_extendedprice").otherwise(lit(0.0)))
            .as("sample_rev"),
          sum(when(bucket < 10, 1L).otherwise(0L)).as("n_sample"),
          count(lit(1)).as("n_total"))
      agg.select($"l_returnflag", $"exact_rev",
          r2($"sample_rev" * 10.0).as("est_rev"),
          $"n_sample", $"n_total",
          r6(abs($"sample_rev" * 10.0 - $"exact_rev") / $"exact_rev")
            .as("rel_err"),
          (abs($"sample_rev" * 10.0 - $"exact_rev")
            <= $"exact_rev" * 0.25).as("within_25pct"))
        .orderBy($"l_returnflag")
    },
    Some(s"""
      SELECT l_returnflag, exact_rev,
             ${r2Sql("sample_rev * cast(10.0 as double)")} AS est_rev,
             n_sample, n_total,
             ${r6Sql("abs(sample_rev * cast(10.0 as double) - exact_rev)" +
               " / exact_rev")} AS rel_err,
             abs(sample_rev * cast(10.0 as double) - exact_rev)
               <= exact_rev * cast(0.25 as double) AS within_25pct
      FROM (
        SELECT l_returnflag,
               ${dsumSql("l_extendedprice")} AS exact_rev,
               ${dsumSql("CASE WHEN ('0x' || substring(md5(" +
                 "cast(l_orderkey as varchar)), 1, 8))::BIGINT % 100 < 10 " +
                 "THEN l_extendedprice ELSE 0.0 END")} AS sample_rev,
               cast(sum(CASE WHEN ('0x' || substring(md5(
                 cast(l_orderkey as varchar)), 1, 8))::BIGINT % 100 < 10
                 THEN 1 ELSE 0 END) as bigint) AS n_sample,
               count(*) AS n_total
        FROM lineitem GROUP BY l_returnflag) t
      ORDER BY l_returnflag"""),
  )

  /** MINHASH CALIBRATION AUDIT — how good is the 16-hash signature
    * estimate, measured against the exact Jaccard on the SAME candidate
    * pairs the LSH bands surface? The production question behind every
    * sketch deployment ("can I trust est ≥ 0.5 as a dedup gate?")
    * answered in-engine: one summary row with the candidate count, mean
    * estimated vs mean exact similarity, and the mean/max absolute
    * estimation error (expected ~√(J(1−J)/16) ≈ 0.12 at J=0.5). Unlike
    * q_neardup_minhash (which SHIPS the estimate), this runs BOTH
    * passes — signature compare AND exact shingle intersection — on
    * candidates only; the exact pass joins the gram table twice per
    * pair, still bounded by candidate volume, never all-pairs. A band
    * collision without shared grams scores exact 0 via the left join
    * (no silent drop). Estimates are dyadic (k/16, exact doubles);
    * exact Jaccard is one integer division; errors are IEEE-rounded
    * then decimal-averaged (davg contract). */
  val qMinhashAcc: GQuery = GQuery(
    "q_minhash_acc",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text")
      val docs = base.unionByName(
        base.filter($"doc_id" < 50)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      val g = docs
        .select($"doc_id",
          explode(wordGrams(split($"text", " "), 3)).as("gram"))
      // fused-kernel signature stage (byte-identical to the relational
      // oracle stage below; see kernelSigs / MinHashSigSpec); the gram
      // table g stays — the exact-Jaccard verify pass needs it
      val sigs = kernelSigs(docs)
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
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val sz = g.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val inter = broadcast(cand)
        .join(g.select($"doc_id".as("id_a"), $"gram"), "id_a")
        .join(g.select($"doc_id".as("id_b"), $"gram"), Seq("id_b", "gram"))
        .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("inter"))
      val sigsA = sigs.select(
        ($"doc_id".as("id_a") +: (0 until 16).map(i => col(s"h$i").as(s"a$i"))): _*)
      val sigsB = sigs.select(
        ($"doc_id".as("id_b") +: (0 until 16).map(i => col(s"h$i").as(s"b$i"))): _*)
      val nMatch = (0 until 16)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      val scored = broadcast(cand)
        .join(sigsA, "id_a").join(sigsB, "id_b")
        .join(inter, Seq("id_a", "id_b"), "left")
        .join(broadcast(sz.select($"doc_id".as("id_a"), $"sz".as("sa"))), "id_a")
        .join(broadcast(sz.select($"doc_id".as("id_b"), $"sz".as("sb"))), "id_b")
        .select(
          (nMatch.cast("double") / lit(16.0)).as("est"),
          (coalesce($"inter", lit(0L)).cast("double") /
            ($"sa" + $"sb" - coalesce($"inter", lit(0L))).cast("double"))
            .as("exact"))
        .select($"est", $"exact",
          rN(abs($"est" - $"exact"), 6).as("err"))
      scored.agg(
        count(lit(1)).cast("int").as("n_pairs"),
        davg($"est", 6).as("mean_est"),
        davg($"exact", 6).as("mean_exact"),
        davg($"err", 6).as("mean_abs_err"),
        r6(max($"err")).as("max_abs_err"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
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
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.sig = y.sig
                    AND x.doc_id < y.doc_id),
      sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
        GROUP BY 1, 2),
      scored AS (
        SELECT
          cast((${(0 until 16).map(i =>
            s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")})
            as double) / cast(16.0 as double) AS est,
          cast(coalesce(inter, 0) as double) /
            cast(sa.sz + sb.sz - coalesce(inter, 0) as double) AS exact
        FROM cand c
        JOIN sig a ON a.doc_id = c.id_a
        JOIN sig b ON b.doc_id = c.id_b
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sz sa ON sa.doc_id = c.id_a
        JOIN sz sb ON sb.doc_id = c.id_b),
      t AS (
        SELECT est, exact, ${rNSql("abs(est - exact)", 6)} AS err
        FROM scored)
      SELECT cast(count(*) as int) AS n_pairs,
             ${davgSql("est", 6)} AS mean_est,
             ${davgSql("exact", 6)} AS mean_exact,
             ${davgSql("err", 6)} AS mean_abs_err,
             ${r6Sql("max(err)")} AS max_abs_err
      FROM t"""),
  )

  /** kNN CLASSIFICATION VIA RETRIEVAL — the "predict by neighbors"
    * operator a feature store runs next to its ANN index: classify each
    * probe embedding by the majority label of its 5 nearest corpus
    * neighbors (cosine), ties to the smaller label. The probe set is a
    * bounded broadcast against the corpus scan (the q_sim_topk shape —
    * at 100 TB the brute-force scan swaps for the q_ann_lsh/ivf
    * candidate join, identical vote logic); per-probe top-5 and the
    * vote argmax are row_number windows with total (cos desc, id) /
    * (votes desc, label) orders. Labels are noise w.r.t. the vectors
    * in this corpus (TESTDATA), so accuracy is NOT asserted anywhere —
    * graded is the retrieval + vote mechanics, bit-for-bit. */
  val qKnnClassify: GQuery = GQuery(
    "q_knn_classify",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"),
          $"label")
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val probes = base.filter($"vec_id" < 25)
        .select($"vec_id".as("pid"), $"emb".as("p_emb"),
          $"nrm".as("p_nrm"), $"label".as("true_label"))
      val scored = base.join(broadcast(probes), $"vec_id" =!= $"pid")
        .select($"pid", $"true_label", $"vec_id", $"label",
          (dotProduct($"emb", $"p_emb") / ($"nrm" * $"p_nrm")).as("cos"))
      val top5 = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy($"pid").orderBy($"cos".desc, $"vec_id")))
        .filter($"rk" <= 5)
      top5.groupBy($"pid", $"true_label", $"label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(
          Window.partitionBy($"pid").orderBy($"votes".desc, $"label")))
        .filter($"vr" === 1)
        .select($"pid".as("vec_id"), $"true_label",
          $"label".as("predicted"), $"votes".cast("int").as("n_votes"),
          ($"label" === $"true_label").as("correct"))
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, embedding, label,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < $corpusBound),
      probes AS (
        SELECT vec_id AS pid, embedding AS p_emb, nrm AS p_nrm,
               label AS true_label
        FROM base WHERE vec_id < 25),
      scored AS (
        SELECT pid, true_label, vec_id, label,
               (${chainSql("embedding", "p_emb")}) / (nrm * p_nrm) AS cos
        FROM base JOIN probes ON vec_id <> pid),
      top5 AS (
        SELECT pid, true_label, label FROM (
          SELECT pid, true_label, label,
                 row_number() OVER (PARTITION BY pid
                   ORDER BY cos DESC, vec_id) AS rk
          FROM scored) t WHERE rk <= 5),
      votes AS (
        SELECT pid, true_label, label, count(*) AS votes
        FROM top5 GROUP BY 1, 2, 3)
      SELECT pid AS vec_id, true_label, label AS predicted,
             cast(votes as int) AS n_votes,
             (label = true_label) AS correct
      FROM (SELECT pid, true_label, label, votes,
              row_number() OVER (PARTITION BY pid
                ORDER BY votes DESC, label) AS vr
            FROM votes) v
      WHERE vr = 1 ORDER BY vec_id"""),
  )

  /** INCREMENTAL (day-N) NEAR-DUP GATE as a declared query — the shape
    * that actually runs daily at 100 TB: an arriving BATCH is checked
    * against the existing CORPUS via the banded-minhash equi-join with
    * the batch side on the LEFT and the corpus on the RIGHT — candidates
    * are batch×corpus ONLY (corpus×corpus was the one-time backfill;
    * re-running it daily is the classic cost bug). Batch = docs with
    * id ≥ 400 plus planted near-copies of corpus docs (shifted ids), so
    * true incoming duplicates exist at every SF and the gate can never
    * pass vacuously. Signatures use the portable 16-minhash/4-band
    * family (q_neardup_banded); candidates get the exact-Jaccard
    * verification ≥ 0.8. Output: each duplicate batch doc with its
    * matched corpus doc — the reject list a day-N ingest applies. */
  val qDedupIncr: GQuery = GQuery(
    "q_dedup_incr",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text")
      val corpus = base.filter($"doc_id" < 400)
      val batch = base.filter($"doc_id" >= 400)
        .unionByName(base.filter($"doc_id" < 40)
          .select(($"doc_id" + 2000000L).as("doc_id"), $"text"))
      def grams(docs: org.apache.spark.sql.DataFrame) = docs
        .select($"doc_id",
          explode(wordGrams(split($"text", " "), 3)).as("gram"))
      def bands(s: org.apache.spark.sql.DataFrame) = {
        val bandStructs = (0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            md5(concat_ws("|", col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
              col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}"))).as("sig")))
        s.select($"doc_id", explode(array(bandStructs: _*)).as("bs"))
          .select($"doc_id", $"bs.band_id".as("band_id"), $"bs.sig".as("sig"))
      }
      val gb = grams(batch); val gc = grams(corpus)
      // fused-kernel signature stages (byte-identical to the relational
      // oracle stages below; see kernelSigs / MinHashSigSpec); the gram
      // tables gb/gc stay — the exact-Jaccard verify pass needs them
      val cand = bands(kernelSigs(batch)).as("x")
        .join(bands(kernelSigs(corpus)).as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.sig") === col("y.sig"))
        .select(col("x.doc_id").as("batch_id"),
          col("y.doc_id").as("corpus_id"))
        .distinct()
      val szB = gb.groupBy($"doc_id").agg(count(lit(1)).as("szb"))
      val szC = gc.groupBy($"doc_id").agg(count(lit(1)).as("szc"))
      val inter = broadcast(cand)
        .join(gb.select($"doc_id".as("batch_id"), $"gram"), "batch_id")
        .join(gc.select($"doc_id".as("corpus_id"), $"gram"),
          Seq("corpus_id", "gram"))
        .groupBy($"batch_id", $"corpus_id").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(szB.select($"doc_id".as("batch_id"),
          $"szb")), "batch_id")
        .join(broadcast(szC.select($"doc_id".as("corpus_id"),
          $"szc")), "corpus_id")
        .withColumn("j", $"inter".cast("double") /
          ($"szb" + $"szc" - $"inter").cast("double"))
        .filter($"j" >= 0.8)
        .select($"batch_id", $"corpus_id", r6($"j").as("jaccard"))
        .orderBy($"batch_id", $"corpus_id")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < $corpusBound),
      corpus AS (SELECT * FROM base WHERE doc_id < 400),
      batch AS (
        SELECT doc_id, text FROM base WHERE doc_id >= 400
        UNION ALL
        SELECT doc_id + 2000000, text FROM base WHERE doc_id < 40),
      ltb AS (SELECT doc_id, string_split(text, ' ') AS l FROM batch),
      ltc AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
      gb AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(l) - 2),
          i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
        FROM ltb),
      gc AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, len(l) - 2),
          i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
        FROM ltc),
      sb AS (SELECT doc_id,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM gb GROUP BY doc_id),
      sc AS (SELECT doc_id,
        ${(0 until 16).map(s =>
          s"min(substr(md5('${s / 4}' || '|' || gram), ${8 * (s % 4) + 1}, 8)) AS h$s")
          .mkString(",\n        ")}
        FROM gc GROUP BY doc_id),
      bb AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', h${4 * b}, " +
            s"h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS sig FROM sb")
          .mkString("\n        UNION ALL ")}),
      bc AS (
        ${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', h${4 * b}, " +
            s"h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS sig FROM sc")
          .mkString("\n        UNION ALL ")}),
      cand AS (
        SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
        FROM bb x JOIN bc y
          ON x.band_id = y.band_id AND x.sig = y.sig),
      szb AS (SELECT doc_id, count(*) AS szb FROM gb GROUP BY doc_id),
      szc AS (SELECT doc_id, count(*) AS szc FROM gc GROUP BY doc_id),
      inter AS (
        SELECT c.batch_id, c.corpus_id, count(*) AS inter
        FROM cand c
        JOIN gb ON gb.doc_id = c.batch_id
        JOIN gc ON gc.doc_id = c.corpus_id AND gc.gram = gb.gram
        GROUP BY 1, 2),
      j AS (
        SELECT batch_id, corpus_id,
               cast(inter as double) /
                 cast(szb.szb + szc.szc - inter as double) AS j
        FROM inter
        JOIN szb ON szb.doc_id = batch_id
        JOIN szc ON szc.doc_id = corpus_id)
      SELECT batch_id, corpus_id, ${r6Sql("j")} AS jaccard
      FROM j WHERE j >= cast(0.8 as double)
      ORDER BY batch_id, corpus_id"""),
  )

  /** SCALAR-QUANTIZATION AUDIT (int8, per-dimension min/max) for the
    * embedding store — the measurement behind the 4× memory cut every
    * large ANN index takes: per dimension, the quantization grid and
    * the reconstruction RMSE it would cost. Two combinable passes over
    * the posexploded (dim, value) table: per-dim min/max, then the
    * error moments of q = ⌊(v−mn)/(mx−mn)·255 + ½⌋ against the
    * broadcast 64-row grid. Floats widen to double exactly; the
    * per-row error² is IEEE-rounded at 12 dp and decimal-staged (terms
    * ≪ 1 — far under the 2³³ staging bound), so the per-dim mean is
    * order-free. Output is 64 rows at any corpus size. */
  val qVecQuant: GQuery = GQuery(
    "q_vec_quant",
    (spark, dir) => {
      import spark.implicits._
      val dims = Tables.embeddings(spark, dir)
        .select(posexplode($"embedding"))
        .select(($"pos" + 1).cast("int").as("dim"),
          $"col".cast("double").as("v"))
      val grid = dims.groupBy($"dim")
        .agg(min($"v").as("mn"), max($"v").as("mx"))
      val q = dims.join(broadcast(grid), "dim")
        .withColumn("qv",
          floor(($"v" - $"mn") / ($"mx" - $"mn") * lit(255.0) + lit(0.5)))
        .withColumn("err",
          $"v" - ($"mn" + $"qv" * (($"mx" - $"mn") / lit(255.0))))
      q.groupBy($"dim")
        .agg(count(lit(1)).as("n"),
          r6(min($"v")).as("mn"), r6(max($"v")).as("mx"),
          rN(sqrt(
            sum(rN($"err" * $"err", 12)
              .cast(org.apache.spark.sql.types.DecimalType(30, 12)))
              .cast("double") / count(lit(1))), 9).as("rmse"))
        .orderBy($"dim")
    },
    Some(s"""
      WITH dims AS (
        SELECT cast(unnest(generate_series(1, len(embedding))) as int)
                 AS dim,
               unnest(list_transform(embedding, x -> cast(x as double)))
                 AS v
        FROM embeddings),
      grid AS (
        SELECT dim, min(v) AS mn, max(v) AS mx FROM dims GROUP BY dim),
      q AS (
        SELECT dims.dim, v, mn, mx,
               floor((v - mn) / (mx - mn) * cast(255.0 as double) +
                 cast(0.5 as double)) AS qv
        FROM dims JOIN grid USING (dim)),
      e AS (
        SELECT dim, mn, mx,
               v - (mn + qv * ((mx - mn) / cast(255.0 as double))) AS err
        FROM q)
      SELECT dim, count(*) AS n,
             ${r6Sql("min(v2.mn)")} AS mn, ${r6Sql("max(v2.mx)")} AS mx,
             ${rNSql("sqrt(cast(sum(cast(" +
               rNSql("err * err", 12) +
               " as decimal(30,12))) as double) / count(*))", 9)} AS rmse
      FROM e v2
      GROUP BY dim ORDER BY dim"""),
  )

  /** ENERGY DISTANCE between two label groups in embedding space — the
    * metric-space two-sample test behind "did the embedding distribution
    * drift" checks (nonzero iff the distributions differ, no binning).
    * E = 2·Ā_XY − B̄_XX − C̄_YY over Euclidean distances
    * d = √max(‖x‖²+‖y‖²−2x·y, 0). The pair base is a DETERMINISTIC
    * 40-per-label probe subset (row_number by vec_id — bounded at any
    * SF, the documented estimator-on-a-probe pattern; at 100 TB the
    * subset is a broadcast and nothing pairs corpus×corpus). Dot
    * products are the sequential-fold dot_product Expression vs the
    * explicit left-assoc chain (the established bit-match contract);
    * per-pair distances are 6dp-IEEE-rounded then decimal-staged, so
    * each mean is order-free. */
  val qEnergyDist: GQuery = GQuery(
    "q_energy_dist",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"label".isin(0, 1))
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> cast(x as double))").as("e"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"label").orderBy($"vec_id")))
        .filter($"rn" <= 40)
        .withColumn("nsq", dotProduct($"e", $"e"))
        .localCheckpoint()
      val x = emb.filter($"label" === 0)
        .select($"vec_id".as("xid"), $"e".as("xe"), $"nsq".as("xn"))
      val y = emb.filter($"label" === 1)
        .select($"vec_id".as("yid"), $"e".as("ye"), $"nsq".as("yn"))
      def dist(n1: Column, n2: Column, dot: Column): Column =
        rN(sqrt(greatest(n1 + n2 - lit(2.0) * dot, lit(0.0))), 6)
      val a = x.crossJoin(broadcast(y))
        .select(dist($"xn", $"yn", dotProduct($"xe", $"ye")).as("d"))
        .agg(count(lit(1)).as("n_ab"), dsum($"d", 6).as("s_ab"))
      val b = x.as("p").join(broadcast(x.as("q")),
          col("p.xid") < col("q.xid"))
        .select(dist(col("p.xn"), col("q.xn"),
          dotProduct($"p.xe", $"q.xe")).as("d"))
        .agg(count(lit(1)).as("n_xx"), dsum($"d", 6).as("s_xx"))
      val c = y.as("p").join(broadcast(y.as("q")),
          col("p.yid") < col("q.yid"))
        .select(dist(col("p.yn"), col("q.yn"),
          dotProduct($"p.ye", $"q.ye")).as("d"))
        .agg(count(lit(1)).as("n_yy"), dsum($"d", 6).as("s_yy"))
      val dd = (c: String) => col(c).cast("double")
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
        .select($"n_ab", $"n_xx", $"n_yy",
          r6($"s_ab" / dd("n_ab")).as("mean_between"),
          r6($"s_xx" / dd("n_xx")).as("mean_within_x"),
          r6($"s_yy" / dd("n_yy")).as("mean_within_y"),
          r6(lit(2.0) * ($"s_ab" / dd("n_ab")) -
            $"s_xx" / dd("n_xx") - $"s_yy" / dd("n_yy"))
            .as("energy_dist"))
    },
    Some {
      val dxy = rNSql("sqrt(greatest(p.nsq + q.nsq - " +
        s"cast(2.0 as double) * (${chainSql("p.e", "q.e")}), " +
        "cast(0.0 as double)))", 6)
      s"""
      WITH emb0 AS (
        SELECT vec_id, label, list_transform(embedding,
                 x -> cast(x as double)) AS e,
               row_number() OVER (PARTITION BY label ORDER BY vec_id)
                 AS rn
        FROM embeddings WHERE label IN (0, 1)),
      emb AS (
        SELECT vec_id, label, e, (${chainSql("e", "e")}) AS nsq
        FROM emb0 WHERE rn <= 40),
      a AS (
        SELECT count(*) AS n_ab,
               ${dsumSql(dxy, 6)} AS s_ab
        FROM emb p JOIN emb q ON p.label = 0 AND q.label = 1),
      b AS (
        SELECT count(*) AS n_xx,
               ${dsumSql(dxy, 6)} AS s_xx
        FROM emb p JOIN emb q
          ON p.label = 0 AND q.label = 0 AND p.vec_id < q.vec_id),
      c AS (
        SELECT count(*) AS n_yy,
               ${dsumSql(dxy, 6)} AS s_yy
        FROM emb p JOIN emb q
          ON p.label = 1 AND q.label = 1 AND p.vec_id < q.vec_id)
      SELECT n_ab, n_xx, n_yy,
             ${r6Sql("s_ab / cast(n_ab as double)")} AS mean_between,
             ${r6Sql("s_xx / cast(n_xx as double)")} AS mean_within_x,
             ${r6Sql("s_yy / cast(n_yy as double)")} AS mean_within_y,
             ${r6Sql("cast(2.0 as double) * (s_ab / cast(n_ab as double))" +
               " - s_xx / cast(n_xx as double) - s_yy / " +
               "cast(n_yy as double)")} AS energy_dist
      FROM a CROSS JOIN b CROSS JOIN c"""
    },
  )

  /** ANN RECALL@10 — the accuracy side of the LSH speed/recall trade
    * q_ann_lsh only demonstrates: per probe, what fraction of the EXACT
    * cosine top-10 does the 4-band sign-projection candidate set
    * contain? Reuses q_ann_lsh's signature construction (identical
    * md5-derived hyperplanes as literals in both engines) and
    * q_sim_topk's brute-force ranking on the 6dp-rounded cosine with
    * vec_id tiebreak — both sides of the comparison are deterministic,
    * so recall is a stable number, not a seed-dependent estimate. The
    * probe side stays a 5-row broadcast; the only corpus-sized work is
    * the band equi-join and one broadcast-probe scan. */
  val qAnnRecall: GQuery = GQuery(
    "q_ann_recall",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val projected = (0 until 16).foldLeft(emb) { (df, j) =>
        df.withColumn(s"p$j",
          dotProduct($"emb", array(planes(j).map(lit): _*)))
      }
      val sig = projected.select(
        ($"vec_id" +: $"emb" +: $"nrm" +:
          (0 until 4).map(b => (0 until 4).map(k =>
            when(col(s"p${4 * b + k}") > 0, lit(1 << k)).otherwise(lit(0)))
            .reduce(_ + _).as(s"band$b"))): _*)
        .localCheckpoint()
      def bandRows(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("vec_id").as(idAs),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band_id"), col(s"band$b").as("val"))): _*))
            .as("bs"))
          .select(col(idAs), $"bs.band_id".as("band_id"),
            $"bs.val".as("val"))
      val cand = bandRows(sig.filter($"vec_id" < 5), "p_id")
        .join(bandRows(sig, "c_id"), Seq("band_id", "val"))
        .filter($"p_id" =!= $"c_id")
        .select($"p_id", $"c_id").distinct()
        .localCheckpoint()
      val p = sig.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"),
          $"nrm".as("p_nrm"))
      val c = sig.select($"vec_id".as("c_id"), $"emb".as("c_emb"),
        $"nrm".as("c_nrm"))
      val w = Window.partitionBy($"p_id").orderBy($"cos".desc, $"c_id")
      val exact = c.crossJoin(broadcast(p))
        .filter($"c_id" =!= $"p_id")
        .withColumn("cos",
          r6(dotProduct($"p_emb", $"c_emb") / ($"p_nrm" * $"c_nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 10)
        .select($"p_id", $"c_id")
      val hits = exact.join(cand, Seq("p_id", "c_id"), "left_semi")
        .groupBy($"p_id").agg(count(lit(1)).as("n_hits"))
      val nc = cand.groupBy($"p_id").agg(count(lit(1)).as("n_cand"))
      exact.groupBy($"p_id").agg(count(lit(1)).as("k"))
        .join(nc, Seq("p_id"), "left_outer")
        .join(hits, Seq("p_id"), "left_outer")
        .select($"p_id", coalesce($"n_cand", lit(0L)).as("n_cand"),
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          r6(coalesce($"n_hits", lit(0L)).cast("double") /
            $"k".cast("double")).as("recall_at_10"))
        .orderBy($"p_id")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound),
      sig AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm,
        ${(0 until 4).map(b => (0 until 4).map(k =>
            s"(CASE WHEN (${planeChainSql("embedding", 4 * b + k)}) > 0 " +
              s"THEN ${1 << k} ELSE 0 END)").mkString("(", " + ", s") AS band$b"))
          .mkString(",\n        ")}
        FROM emb),
      bands AS (
        ${(0 until 4).map(b =>
          s"SELECT vec_id, $b AS band_id, band$b AS val FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.vec_id AS p_id, y.vec_id AS c_id
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.val = y.val
               WHERE x.vec_id < 5 AND x.vec_id <> y.vec_id),
      exact AS (
        SELECT p_id, c_id FROM (
          SELECT p.vec_id AS p_id, c.vec_id AS c_id,
                 row_number() OVER (PARTITION BY p.vec_id ORDER BY
                   floor((${chainSql("p.embedding", "c.embedding")}) /
                     (p.nrm * c.nrm) * 1e6 + 0.5) / 1e6 DESC,
                   c.vec_id) AS rnk
          FROM sig p JOIN sig c ON p.vec_id < 5 AND c.vec_id <> p.vec_id) t
        WHERE rnk <= 10),
      hits AS (
        SELECT e.p_id, count(*) AS n_hits
        FROM exact e JOIN cand ON e.p_id = cand.p_id AND e.c_id = cand.c_id
        GROUP BY e.p_id),
      nc AS (SELECT p_id, count(*) AS n_cand FROM cand GROUP BY p_id),
      ek AS (SELECT p_id, count(*) AS k FROM exact GROUP BY p_id)
      SELECT ek.p_id,
             cast(coalesce(n_cand, 0) as bigint) AS n_cand,
             cast(coalesce(n_hits, 0) as bigint) AS n_hits,
             ${r6Sql("cast(coalesce(n_hits, 0) as double) / " +
               "cast(k as double)")} AS recall_at_10
      FROM ek LEFT JOIN nc ON ek.p_id = nc.p_id
      LEFT JOIN hits ON ek.p_id = hits.p_id
      ORDER BY ek.p_id"""),
  )

  /** IVF PROBE-BUDGET SWEEP — q_ann_ivf's recall companion (the
    * round-8 verdict's suggested widening): per probe AND per
    * nProbe ∈ {1, 3}, what fraction of the exact cosine top-10 lies in
    * the probed cells? This is the tuning curve an IVF deployment reads
    * before fixing its probe budget — recall@10 must be monotone in
    * nProbe (more cells ⊇ fewer cells), which the spec-side invariant
    * can check for free since both budgets ride ONE cell assignment.
    * Same plan economy as q_ann_ivf (broadcast mod-61 centroids, one
    * argmax assignment pass, candidates from the cell equi-join) and
    * q_ann_recall's deterministic exact side (6dp-rounded cosine,
    * vec_id tiebreak, self excluded). */
  val qAnnIvfProbe: GQuery = GQuery(
    "q_ann_ivf_probe",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val cents = emb.orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .select($"vec_id".as("c_id"), $"cell")
      val probeW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      val probeCells = emb.filter($"vec_id" < 5).crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(probeW))
        .filter($"rn" <= 3)
        .select($"vec_id".as("p_id"), $"cell", $"rn")
      // both probe budgets from the same ranked cells: np >= rn
      val budgets = probeCells
        .select($"p_id", $"cell", explode(array(lit(1), lit(3))).as("np"))
        .filter($"np" >= $"rn")
      val cand = assigned.join(broadcast(budgets), "cell")
        .filter($"c_id" =!= $"p_id")
        .select($"np", $"p_id", $"c_id")
      val p = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"), $"nrm".as("p_nrm"))
      val w = Window.partitionBy($"p_id").orderBy($"cos".desc, $"vec_id")
      val exact = emb.crossJoin(broadcast(p))
        .filter($"vec_id" =!= $"p_id")
        .withColumn("cos",
          r6(dotProduct($"p_emb", $"emb") / ($"p_nrm" * $"nrm")))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 10)
        .select($"p_id", $"vec_id".as("c_id"))
      val hits = exact.join(cand, Seq("p_id", "c_id"))
        .groupBy($"np", $"p_id").agg(count(lit(1)).as("n_hits"))
      val nc = cand.groupBy($"np", $"p_id").agg(count(lit(1)).as("n_cand"))
      // anchor on the FULL (p_id, np) budget grid: a probe whose probed
      // cells hold no corpus vector besides itself must still surface as
      // an n_cand=0 sweep point, not vanish from the curve
      val keys = budgets.select($"p_id", $"np").distinct()
      keys.join(nc, Seq("np", "p_id"), "left_outer")
        .join(hits, Seq("np", "p_id"), "left_outer")
        .select($"p_id", $"np".as("n_probe"),
          coalesce($"n_cand", lit(0L)).as("n_cand"),
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          r6(coalesce($"n_hits", lit(0L)).cast("double") / lit(10.0))
            .as("recall_at_10"))
        .orderBy($"p_id", $"n_probe")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < $corpusBound),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM emb
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      assigned AS (
        SELECT c_id, cell FROM (
          SELECT e.vec_id AS c_id, cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${chainSql("e.embedding", "cents.cent")})
                     / (e.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM emb e CROSS JOIN cents) t WHERE rn = 1),
      pcells AS (
        SELECT p_id, cell, rn FROM (
          SELECT e.vec_id AS p_id, cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${chainSql("e.embedding", "cents.cent")})
                     / (e.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM emb e CROSS JOIN cents WHERE e.vec_id < 5) t WHERE rn <= 3),
      budgets AS (
        SELECT p_id, cell, np FROM pcells
        CROSS JOIN (SELECT unnest([1, 3]) AS np) b
        WHERE np >= rn),
      cand AS (
        SELECT b.np, b.p_id, a.c_id
        FROM assigned a JOIN budgets b ON a.cell = b.cell
        WHERE a.c_id <> b.p_id),
      exact AS (
        SELECT p_id, c_id FROM (
          SELECT p.vec_id AS p_id, c.vec_id AS c_id,
                 row_number() OVER (PARTITION BY p.vec_id ORDER BY
                   floor((${chainSql("p.embedding", "c.embedding")}) /
                     (p.nrm * c.nrm) * 1e6 + 0.5) / 1e6 DESC,
                   c.vec_id) AS rnk
          FROM emb p JOIN emb c ON p.vec_id < 5 AND c.vec_id <> p.vec_id) t
        WHERE rnk <= 10),
      hits AS (
        SELECT cand.np, cand.p_id, count(*) AS n_hits
        FROM exact JOIN cand
          ON exact.p_id = cand.p_id AND exact.c_id = cand.c_id
        GROUP BY cand.np, cand.p_id),
      nc AS (SELECT np, p_id, count(*) AS n_cand
             FROM cand GROUP BY np, p_id),
      keys AS (SELECT DISTINCT p_id, np FROM budgets)
      SELECT k.p_id, k.np AS n_probe,
             cast(coalesce(nc.n_cand, 0) as bigint) AS n_cand,
             cast(coalesce(n_hits, 0) as bigint) AS n_hits,
             ${r6Sql("cast(coalesce(n_hits, 0) as double) / " +
               "cast(10.0 as double)")} AS recall_at_10
      FROM keys k
      LEFT JOIN nc ON k.np = nc.np AND k.p_id = nc.p_id
      LEFT JOIN hits ON k.np = hits.np AND k.p_id = hits.p_id
      ORDER BY k.p_id, n_probe"""),
  )

  /** SEMANTIC DEDUP (SemDeDup shape, Abbas et al. 2023): the dedup
    * DECISION layer on top of q_neardup_embed's candidate generator —
    * instead of emitting near-dup PAIRS, emit the per-cell keep/drop
    * summary a pruning pass acts on. Every vector is assigned to its ONE
    * nearest coarse-quantizer cell (same deterministic hash-sampled
    * centroids as q_ann_ivf: bottom-[[nCentroids]] by (md5-id-hash, id),
    * from the unplanted slice
    * only — the quantizer is part of the standing index, not the batch);
    * within a cell, a vector is DROPPED iff an earlier (smaller-id)
    * vector of the same cell has cosine >= 0.97 — keep-first semantics,
    * the same combinable rule as q_dedup_para, so re-partitioning can
    * never change the verdict. Candidates come ONLY from the cell
    * equi-join (id inequality + the expensive cosine bound LAST in the
    * join condition, per the And-short-circuit rule); 25 planted
    * duplicate vectors (shifted ids, identical embeddings → identical
    * cell assignment, cos = 1) keep every SF non-vacuous. At 100 TB:
    * [[nCentroids]] is a TUNING constant — a deployment sizes it to the
    * corpus (n / target cell occupancy, the graft.llm.Ann.ivfTopK
    * nCells knob) so per-cell pair work stays bounded; the declared
    * query pins the plan SHAPE (constant-size centroid broadcast, one
    * argmax assignment scan, drop set as a semi-join) — nothing
    * corpus-quadratic once the knob tracks the corpus. */
  private def mkSemdedup(name: String, corpusBound: Long): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id", $"embedding")
      val corpus = base.unionByName(
        base.filter($"vec_id" < 25)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val cents = corpus.filter($"vec_id" < corpusBound)
        .orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      val blocked = corpus.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .select($"vec_id", $"cell", $"emb", $"nrm")
        // the standing-index posture made literal: the cell assignment is
        // materialized ONCE and all three consumers (both self-join sides
        // + the per-cell totals) read it — without this the plan re-ran
        // the full centroid argmax per consumer (24 corpus scans)
        .localCheckpoint()
      val dropped = blocked.as("d").join(blocked.as("k"),
          col("d.cell") === col("k.cell") &&
            col("k.vec_id") < col("d.vec_id") &&
            dotProduct($"d.emb", $"k.emb") / (col("d.nrm") * col("k.nrm"))
              >= lit(0.97),
          "leftsemi")
        .select(col("vec_id"), col("cell"))
      blocked.groupBy($"cell").agg(count(lit(1)).as("n_docs"))
        .join(dropped.groupBy($"cell").agg(count(lit(1)).as("nd")),
          Seq("cell"), "left_outer")
        .select($"cell", $"n_docs",
          coalesce($"nd", lit(0L)).as("n_dropped"),
          r6(coalesce($"nd", lit(0L)).cast("double") /
            $"n_docs".cast("double")).as("drop_rate"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 25),
      corpus AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM base),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM corpus WHERE vec_id < $corpusBound
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      blocked AS (
        SELECT vec_id, cell, embedding, nrm FROM (
          SELECT c.vec_id, cents.cell, c.embedding, c.nrm,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (${chainSql("c.embedding", "cents.cent")})
                     / (c.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM corpus c CROSS JOIN cents) t WHERE rn = 1),
      dropped AS (
        SELECT DISTINCT d.vec_id, d.cell
        FROM blocked d JOIN blocked k
          ON d.cell = k.cell AND k.vec_id < d.vec_id
         AND (${chainSql("d.embedding", "k.embedding")}) / (d.nrm * k.nrm)
               >= cast(0.97 as double)),
      per AS (SELECT cell, count(*) AS n_docs FROM blocked GROUP BY cell),
      dr AS (SELECT cell, count(*) AS nd FROM dropped GROUP BY cell)
      SELECT per.cell, cast(n_docs as bigint) AS n_docs,
             cast(coalesce(nd, 0) as bigint) AS n_dropped,
             ${r6Sql("cast(coalesce(nd, 0) as double) / " +
               "cast(n_docs as double)")} AS drop_rate
      FROM per LEFT JOIN dr ON per.cell = dr.cell
      ORDER BY per.cell"""),
  )

  val qSemdedup: GQuery = mkSemdedup("q_semdedup", corpusBound)

  /** Full-corpus bench twin: same plan, whole embeddings table. */
  val qSemdedupXl: GQuery = mkSemdedup("q_semdedup_xl", corpusBoundXl)

  private val SUB = 16 // PQ subspace width (4 subspaces x 16 dims)

  /** DuckDB left-assoc chain of squared differences over one PQ subspace
    * of the 64-dim embedding (1-based dims lo .. lo+15) — bit-identical
    * to Spark's sequential `aggregate(zip_with(...))` fold. */
  private def sqDiffChainSql(a: String, b: String, lo: Int): String =
    (lo until lo + SUB).map(i =>
      s"((cast($a[$i] as double) - cast($b[$i] as double)) * " +
        s"(cast($a[$i] as double) - cast($b[$i] as double)))")
      .mkString(" + ")

  /** Full-dimension squared-L2 chain (the exact re-rank / recall oracle). */
  private def sqDiffFullSql(a: String, b: String): String =
    (1 to D).map(i =>
      s"((cast($a[$i] as double) - cast($b[$i] as double)) * " +
        s"(cast($a[$i] as double) - cast($b[$i] as double)))")
      .mkString(" + ")

  /** PRODUCT QUANTIZATION ANN (IVFADC's compression half, Jégou et al.
    * 2011): the 64-dim embedding splits into 4 subspaces of 16 dims; a
    * deterministic hash-sampled codebook per subspace (subvectors of
    * subvectors of the bottom-[[nCodewords]] corpus rows by
    * (md5-id-hash, id) — the q_ann_ivf fixed-count convention, so both
    * engines hold identical codewords and the codebook broadcast stays
    * constant-size at any corpus scale); every corpus vector stores only
    * its 4 nearest-codeword ids (the PQ code — 4 small ints replacing
    * 64 floats, the memory posture that makes billion-vector ANN fit);
    * a probe precomputes its distance to every codeword per subspace
    * (the ADC lookup table, |codebook|×4 rows, broadcast) and
    * approximate distance = sum of 4 table lookups. Output: recall@10 of
    * ADC top-10 vs exact squared-L2 top-10 per probe, on the full
    * (p_id) key table so an empty overlap surfaces as 0 instead of
    * vanishing. Determinism: subspace distances are left-assoc IEEE
    * chains (bit-equal in both engines), the 4-term ADC sum is 6-dp
    * decimal-staged (order-free), ranks tiebreak on id. At 100 TB: the
    * code assignment is one broadcast-codebook scan, ADC candidates cost
    * 4 int lookups per vector, and the exact re-rank runs only on the
    * declared probe set. */
  val qAnnPq: GQuery = GQuery(
    "q_ann_pq",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        // five consumers (subvectors -> codes/pdist, probes, exact side):
        // materialize the bounded slice once instead of 14 parquet scans
        .localCheckpoint()
      // (vec_id, m, sub): the 4 subvectors of every corpus vector
      val sub = emb.select($"vec_id", explode(expr(
          s"transform(sequence(0, 3), m -> named_struct('m', m, " +
            s"'sv', slice(emb, m * $SUB + 1, $SUB)))")).as("s"))
        .select($"vec_id", $"s.m".as("m"), $"s.sv".as("sv"))
      val cwIds = emb.select($"vec_id")
        .orderBy(idHash($"vec_id"), $"vec_id").limit(nCodewords)
        .select($"vec_id".as("cw_id"))
      val codebook = sub.join(broadcast(cwIds), $"vec_id" === $"cw_id")
        .select($"m", $"cw_id", $"sv".as("cw"))
      val fold = "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)), " +
        "0D, (s, v) -> s + v)"
      val assignW = Window.partitionBy($"vec_id", $"m")
        .orderBy($"d2".asc, $"cw_id")
      val codes = sub.join(broadcast(codebook), "m")
        .withColumn("d2", expr(fold))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .select($"vec_id".as("c_id"), $"m", $"cw_id")
      // ADC lookup table: probe x codeword distances per subspace
      val pdist = sub.filter($"vec_id" < 5)
        .join(broadcast(codebook), "m")
        .select($"vec_id".as("p_id"), $"m", $"cw_id",
          expr(fold).as("pd2"))
      val adc = codes.join(broadcast(pdist), Seq("m", "cw_id"))
        .groupBy($"p_id", $"c_id")
        .agg(sum(rN($"pd2", 6).cast(dec6)).cast("double").as("adc"))
      val wA = Window.partitionBy($"p_id").orderBy($"adc".asc, $"c_id")
      val topA = adc.withColumn("rn", row_number().over(wA))
        .filter($"rn" <= 10).select($"p_id", $"c_id")
      val probes = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"))
      val exact = emb.crossJoin(broadcast(probes))
        .select($"p_id", $"vec_id".as("c_id"),
          expr("aggregate(zip_with(p_emb, emb, (x, y) -> (x - y) * (x - y)), " +
            "0D, (s, v) -> s + v)").as("d2"))
      val wE = Window.partitionBy($"p_id").orderBy($"d2".asc, $"c_id")
      val topE = exact.withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10).select($"p_id", $"c_id")
      val overlap = topA.join(topE, Seq("p_id", "c_id"))
        .groupBy($"p_id").agg(count(lit(1)).as("n"))
      probes.select($"p_id")
        .join(overlap, Seq("p_id"), "left_outer")
        .select($"p_id", coalesce($"n", lit(0L)).as("n_overlap"),
          r6(coalesce($"n", lit(0L)).cast("double") / lit(10.0))
            .as("recall_at_10"))
        .orderBy($"p_id")
    },
    Some {
      // one distance leg per subspace: the chain must inline the 1-based
      // dim range, so the 4 legs are generated and UNION ALL'd
      val assignLegs = (0 to 3).map { m =>
        val lo = m * SUB + 1
        s"""
        SELECT c.vec_id, $m AS m, cb.cw_id,
               (${sqDiffChainSql("c.embedding", "cb.cw_emb", lo)}) AS d2
        FROM corpus c CROSS JOIN codebook cb"""
      }.mkString(" UNION ALL ")
      s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < $corpusBound),
      codebook AS (
        SELECT vec_id AS cw_id, embedding AS cw_emb
        FROM corpus
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCodewords),
      dists AS ($assignLegs),
      codes AS (
        SELECT vec_id AS c_id, m, cw_id FROM (
          SELECT vec_id, m, cw_id,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d2 ASC, cw_id) AS rn
          FROM dists) t WHERE rn = 1),
      pdist AS (
        SELECT vec_id AS p_id, m, cw_id, d2 AS pd2
        FROM dists WHERE vec_id < 5),
      adc AS (
        SELECT p.p_id, c.c_id,
               cast(sum(cast(${rNSql("p.pd2", 6)} as decimal(30,6)))
                 as double) AS adc
        FROM codes c JOIN pdist p ON p.m = c.m AND p.cw_id = c.cw_id
        GROUP BY p.p_id, c.c_id),
      topa AS (
        SELECT p_id, c_id FROM (
          SELECT p_id, c_id,
                 row_number() OVER (PARTITION BY p_id
                   ORDER BY adc ASC, c_id) AS rn
          FROM adc) t WHERE rn <= 10),
      exact AS (
        SELECT p.vec_id AS p_id, c.vec_id AS c_id,
               (${sqDiffFullSql("p.embedding", "c.embedding")}) AS d2
        FROM corpus c CROSS JOIN (SELECT * FROM corpus WHERE vec_id < 5) p),
      tope AS (
        SELECT p_id, c_id FROM (
          SELECT p_id, c_id,
                 row_number() OVER (PARTITION BY p_id
                   ORDER BY d2 ASC, c_id) AS rn
          FROM exact) t WHERE rn <= 10),
      ov AS (
        SELECT topa.p_id, count(*) AS n
        FROM topa JOIN tope ON topa.p_id = tope.p_id
          AND topa.c_id = tope.c_id
        GROUP BY topa.p_id)
      SELECT p.vec_id AS p_id,
             cast(coalesce(n, 0) as bigint) AS n_overlap,
             ${r6Sql("cast(coalesce(n, 0) as double) / cast(10.0 as double)")}
               AS recall_at_10
      FROM (SELECT vec_id FROM corpus WHERE vec_id < 5) p
      LEFT JOIN ov ON ov.p_id = p.vec_id
      ORDER BY p_id"""
    },
  )

  /** DuckDB left-assoc chain of squared RESIDUAL differences over one PQ
    * subspace: Σᵢ ((a[i]−ac[i]) − (b[i]−bc[i]))² for 1-based dims
    * lo..lo+15, where ac/bc are each side's coarse centroid. The inner
    * subtractions are recomputed per use — IEEE subtraction is
    * deterministic, so the values (and the fold) bit-match Spark's
    * zip_with residual arrays. */
  private def residDiffChainSql(a: String, ac: String, b: String,
      bc: String, lo: Int): String =
    (lo until lo + SUB).map { i =>
      val t = s"((cast($a[$i] as double) - cast($ac[$i] as double)) - " +
        s"(cast($b[$i] as double) - cast($bc[$i] as double)))"
      s"($t * $t)"
    }.mkString(" + ")

  /** IVFADC — the COMPLETE billion-scale ANN structure (Jégou et al.
    * 2011): where [[qAnnIvf]] re-ranks candidates with exact vectors and
    * [[qAnnPq]] quantizes raw vectors corpus-wide, IVFADC composes both
    * halves the way a production index does — a coarse quantizer
    * partitions the corpus into cells (bottom-[[nCentroids]] hash-sample,
    * squared-L2 assignment), product quantization encodes each vector's
    * RESIDUAL (x − centroid, the distribution PQ actually models well),
    * and a query scans ONLY its nProbe=2 nearest cells, scoring
    * candidates with an asymmetric-distance lookup table built per
    * probed cell (probe residual × codeword distances, |cells probed| ×
    * 4 × [[nCodewords]] rows, broadcast). Memory posture: 4 small ints
    * per corpus vector; compute posture: candidates cost 4 table
    * lookups each and the corpus outside probed cells is never touched
    * — both 100 TB properties hold in-plan (constant-size centroid +
    * codebook broadcasts, cell equi-join candidates, one codegen'd
    * assignment pass). Output: per-probe candidate count and recall@10
    * of ADC ranking vs exact squared-L2, on the full probe key table.
    * Determinism: every distance is a left-assoc IEEE chain (residual
    * subtractions recomputed identically in both engines), ADC sums are
    * 6dp-decimal-staged 4-term adds, ranks tiebreak on id. */
  private def mkIvfadc(name: String, corpusBound: Long,
      expand: Int = 1): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val emb = xvecs(Tables.embeddings(spark, dir)
          .filter($"vec_id" < corpusBound)
          .select($"vec_id", $"embedding"), expand)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        // consumed by centroids, assignment, codebook, probes, exact side
        .localCheckpoint()
      val cents = emb.orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"))
      val l2 = "aggregate(zip_with(emb, cent, (x, y) -> (x - y) * (x - y)), " +
        "0D, (s, v) -> s + v)"
      val assignW = Window.partitionBy($"vec_id").orderBy($"d2c".asc, $"cell")
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("d2c", expr(l2))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .select($"vec_id", $"emb", $"cell",
          expr("zip_with(emb, cent, (x, y) -> x - y)").as("rv"))
      // (vec_id, cell, m, rsv): residual subvectors
      val sub = assigned.select($"vec_id", $"cell", explode(expr(
          s"transform(sequence(0, 3), m -> named_struct('m', m, " +
            s"'sv', slice(rv, m * $SUB + 1, $SUB)))")).as("s"))
        .select($"vec_id", $"cell", $"s.m".as("m"), $"s.sv".as("rsv"))
      // residual codebook: subvectors of the bottom-K hash sample
      val cwIds = emb.select($"vec_id")
        .orderBy(idHash($"vec_id"), $"vec_id").limit(nCodewords)
        .select($"vec_id".as("cw_id"))
      val codebook = sub.join(broadcast(cwIds), $"vec_id" === $"cw_id")
        .select($"m", $"cw_id", $"rsv".as("cw"))
      val fold = "aggregate(zip_with(rsv, cw, (x, y) -> (x - y) * (x - y)), " +
        "0D, (s, v) -> s + v)"
      val codeW = Window.partitionBy($"vec_id", $"m")
        .orderBy($"d2".asc, $"cw_id")
      val codes = sub.join(broadcast(codebook), "m")
        .withColumn("d2", expr(fold))
        .withColumn("rn", row_number().over(codeW))
        .filter($"rn" === 1)
        .select($"vec_id".as("c_id"), $"cell", $"m", $"cw_id")
      // probes: nProbe=2 nearest cells by coarse L2, residual PER CELL
      val probeW = Window.partitionBy($"vec_id").orderBy($"d2c".asc, $"cell")
      val probeCells = emb.filter($"vec_id" < 5).crossJoin(broadcast(cents))
        .withColumn("d2c", expr(l2))
        .withColumn("rn", row_number().over(probeW))
        .filter($"rn" <= 2)
        .select($"vec_id".as("p_id"), $"cell",
          expr("zip_with(emb, cent, (x, y) -> x - y)").as("rv"))
      val pres = probeCells.select($"p_id", $"cell", explode(expr(
          s"transform(sequence(0, 3), m -> named_struct('m', m, " +
            s"'sv', slice(rv, m * $SUB + 1, $SUB)))")).as("s"))
        .select($"p_id", $"cell", $"s.m".as("m"), $"s.sv".as("rsv"))
      val pdist = pres.join(broadcast(codebook), "m")
        .select($"p_id", $"cell", $"m", $"cw_id", expr(fold).as("pd2"))
      // candidates = corpus codes in probed cells (cell equi-join);
      // approx distance = 4 staged table lookups
      val adc = codes.join(broadcast(pdist), Seq("cell", "m", "cw_id"))
        .groupBy($"p_id", $"c_id")
        .agg(sum(rN($"pd2", 6).cast(dec6)).cast("double").as("adc"))
      val wA = Window.partitionBy($"p_id").orderBy($"adc".asc, $"c_id")
      val topA = adc.withColumn("rn", row_number().over(wA))
        .filter($"rn" <= 10).select($"p_id", $"c_id")
      val nCand = adc.groupBy($"p_id").agg(count(lit(1)).as("n_cand"))
      val probes = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"))
      val exact = emb.crossJoin(broadcast(probes))
        .select($"p_id", $"vec_id".as("c_id"),
          expr("aggregate(zip_with(p_emb, emb, (x, y) -> (x - y) * (x - y)), " +
            "0D, (s, v) -> s + v)").as("d2"))
      val wE = Window.partitionBy($"p_id").orderBy($"d2".asc, $"c_id")
      val topE = exact.withColumn("rn", row_number().over(wE))
        .filter($"rn" <= 10).select($"p_id", $"c_id")
      val overlap = topA.join(topE, Seq("p_id", "c_id"))
        .groupBy($"p_id").agg(count(lit(1)).as("n"))
      probes.select($"p_id")
        .join(nCand, Seq("p_id"), "left_outer")
        .join(overlap, Seq("p_id"), "left_outer")
        .select($"p_id", coalesce($"n_cand", lit(0L)).as("n_cand"),
          coalesce($"n", lit(0L)).as("n_overlap"),
          r6(coalesce($"n", lit(0L)).cast("double") / lit(10.0))
            .as("recall_at_10"))
        .orderBy($"p_id")
    },
    Some {
      // coarse squared-L2 legs and residual-PQ legs are generated per
      // subspace so the 1-based dim ranges inline
      val codeLegs = (0 to 3).map { m =>
        val lo = m * SUB + 1
        s"""
        SELECT x.vec_id, x.cell, $m AS m, cb.cw_id,
               (${residDiffChainSql("x.emb", "x.cent", "cb.cw_emb",
                 "cb.cw_cent", lo)}) AS d2
        FROM xc x CROSS JOIN cb"""
      }.mkString(" UNION ALL ")
      val pdistLegs = (0 to 3).map { m =>
        val lo = m * SUB + 1
        s"""
        SELECT p.p_id, p.cell, $m AS m, cb.cw_id,
               (${residDiffChainSql("p.emb", "p.cent", "cb.cw_emb",
                 "cb.cw_cent", lo)}) AS pd2
        FROM pc p CROSS JOIN cb"""
      }.mkString(" UNION ALL ")
      s"""
      WITH corpus AS (
        SELECT vec_id, embedding AS emb
        FROM (${xvecsSql(corpusBound, expand)}) xv0),
      cents AS (
        SELECT vec_id AS cell, emb AS cent FROM corpus
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      assigned AS MATERIALIZED (
        SELECT vec_id, cell FROM (
          SELECT c.vec_id, cents.cell,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (${sqDiffFullSql("c.emb", "cents.cent")}) ASC,
                   cents.cell) AS rn
          FROM corpus c CROSS JOIN cents) t WHERE rn = 1),
      xc AS MATERIALIZED (
        SELECT c.vec_id, a.cell, c.emb, ct.cent
        FROM corpus c
        JOIN assigned a ON a.vec_id = c.vec_id
        JOIN cents ct ON ct.cell = a.cell),
      cwids AS (
        SELECT vec_id AS cw_id FROM corpus
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCodewords),
      cb AS MATERIALIZED (
        SELECT w.cw_id, x.emb AS cw_emb, x.cent AS cw_cent
        FROM cwids w JOIN xc x ON x.vec_id = w.cw_id),
      cdists AS MATERIALIZED ($codeLegs),
      codes AS MATERIALIZED (
        SELECT vec_id AS c_id, cell, m, cw_id FROM (
          SELECT vec_id, cell, m, cw_id,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d2 ASC, cw_id) AS rn
          FROM cdists) t WHERE rn = 1),
      pc AS MATERIALIZED (
        SELECT p_id, cell, emb, cent FROM (
          SELECT c.vec_id AS p_id, cents.cell, c.emb, cents.cent,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (${sqDiffFullSql("c.emb", "cents.cent")}) ASC,
                   cents.cell) AS rn
          FROM corpus c CROSS JOIN cents WHERE c.vec_id < 5) t
        WHERE rn <= 2),
      pdist AS MATERIALIZED ($pdistLegs),
      adc AS MATERIALIZED (
        SELECT p.p_id, c.c_id,
               cast(sum(cast(${rNSql("p.pd2", 6)} as decimal(30,6)))
                 as double) AS adc
        FROM codes c
        JOIN pdist p ON p.cell = c.cell AND p.m = c.m
          AND p.cw_id = c.cw_id
        GROUP BY p.p_id, c.c_id),
      topa AS (
        SELECT p_id, c_id FROM (
          SELECT p_id, c_id,
                 row_number() OVER (PARTITION BY p_id
                   ORDER BY adc ASC, c_id) AS rn
          FROM adc) t WHERE rn <= 10),
      ncand AS (SELECT p_id, count(*) AS n_cand FROM adc GROUP BY p_id),
      exact AS (
        SELECT p.vec_id AS p_id, c.vec_id AS c_id,
               (${sqDiffFullSql("p.emb", "c.emb")}) AS d2
        FROM corpus c CROSS JOIN
          (SELECT * FROM corpus WHERE vec_id < 5) p),
      tope AS (
        SELECT p_id, c_id FROM (
          SELECT p_id, c_id,
                 row_number() OVER (PARTITION BY p_id
                   ORDER BY d2 ASC, c_id) AS rn
          FROM exact) t WHERE rn <= 10),
      ov AS (
        SELECT topa.p_id, count(*) AS n
        FROM topa JOIN tope ON topa.p_id = tope.p_id
          AND topa.c_id = tope.c_id
        GROUP BY topa.p_id)
      SELECT p.vec_id AS p_id,
             cast(coalesce(n_cand, 0) as bigint) AS n_cand,
             cast(coalesce(n, 0) as bigint) AS n_overlap,
             ${r6Sql("cast(coalesce(n, 0) as double) / cast(10.0 as double)")}
               AS recall_at_10
      FROM (SELECT vec_id FROM corpus WHERE vec_id < 5) p
      LEFT JOIN ncand ON ncand.p_id = p.vec_id
      LEFT JOIN ov ON ov.p_id = p.vec_id
      ORDER BY p_id"""
    },
  )

  /** INCREMENTAL ANN-INDEX MAINTENANCE — the q_dedup_incr posture for
    * the vector index: a NEW BATCH (100 shifted-id vectors) is assigned
    * to the STANDING quantizer (the same bottom-[[nCentroids]] centroids
    * the index was built with — never refit on arrival), and the report
    * is the per-cell growth audit an index operator reads to decide when
    * to re-train: standing size, arrivals, growth ratio, and a rebalance
    * flag at 1.25×. The batch rides the same broadcast-argmax scan as
    * the original build — ONE pass over standing ∪ batch with an is_new
    * flag, so incremental maintenance costs exactly one assignment scan
    * of the arrivals at 100 TB (the standing corpus is only re-read here
    * because the fixture has no materialized assignment to reuse; a
    * deployment reads its stored cell column). Planted batch = copies of
    * the first 100 vectors → each lands in its source's cell, so growth
    * is deterministic and never vacuous. */
  val qAnnIncr: GQuery = GQuery(
    "q_ann_incr",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val corpus = base.withColumn("is_new", lit(0L))
        .unionByName(base.filter($"vec_id" < 100)
          .select(($"vec_id" + 2000000L).as("vec_id"), $"emb", $"nrm")
          .withColumn("is_new", lit(1L)))
      val cents = base.orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      corpus.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .groupBy($"cell")
        .agg(sum(lit(1L) - $"is_new").as("n_standing"),
          sum($"is_new").as("n_new"))
        .select($"cell", $"n_standing", $"n_new",
          r6(($"n_standing" + $"n_new").cast("double") /
            $"n_standing".cast("double")).as("growth_ratio"),
          (($"n_standing" + $"n_new").cast("double") /
            $"n_standing".cast("double") > lit(1.25)).as("rebalance"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH base AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < $corpusBound),
      corpus AS (
        SELECT vec_id, embedding, nrm, 0 AS is_new FROM base
        UNION ALL
        SELECT vec_id + 2000000, embedding, nrm, 1 AS is_new
        FROM base WHERE vec_id < 100),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM base
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      assigned AS (
        SELECT vec_id, cell, is_new FROM (
          SELECT c.vec_id, cents.cell, c.is_new,
                 row_number() OVER (PARTITION BY c.vec_id ORDER BY
                   (${chainSql("c.embedding", "cents.cent")})
                     / (c.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM corpus c CROSS JOIN cents) t WHERE rn = 1)
      SELECT cell,
             cast(sum(1 - is_new) as bigint) AS n_standing,
             cast(sum(is_new) as bigint) AS n_new,
             ${r6Sql("cast(sum(1 - is_new) + sum(is_new) as double) / " +
               "cast(sum(1 - is_new) as double)")} AS growth_ratio,
             (cast(sum(1 - is_new) + sum(is_new) as double) /
               cast(sum(1 - is_new) as double)) > cast(1.25 as double)
               AS rebalance
      FROM assigned GROUP BY cell
      ORDER BY cell"""),
  )

  val qIvfadc: GQuery = mkIvfadc("q_ivfadc", corpusBound)

  /** Full-corpus bench twin: same plan, whole embeddings table. */
  val qIvfadcXl: GQuery = mkIvfadc("q_ivfadc_xl", corpusBoundXl)

  /** K-MINIMUM-VALUES sketch SET OPERATIONS — the sketch family's set
    * algebra: where q_approx_distinct bounds ONE cardinality, KMV
    * sketches COMPOSE — the union sketch is the k smallest hashes of
    * the merged streams (mergeable without raw data, the property that
    * matters when each 100 TB shard ships back 256 values), and the
    * intersection estimate falls out of the union sketch by membership
    * counting (|A∩B| ≈ ρ·|A∪B|̂, ρ = fraction of union-sketch members
    * in both sets). Hash = first 8 md5 hex chars as a 32-bit integer
    * (the CLAUDE.md portable idiom — identical in both engines), so the
    * sketch contents are deterministic, not just the estimates.
    * Cardinality estimator: (k−1)·2³²/h_(k) (the classic KMV unbiased
    * form). Exact distinct counts ride the same pass; the oracle pins
    * |est − exact|/exact ≤ 0.25 (k = 256 → σ ≈ 1/√k ≈ 6%) as error
    * BOOLEANS the hash-match verifies — the q_approx_distinct
    * contract. Sets: click users vs purchase users. */
  val qKmvSetops: GQuery = GQuery(
    "q_kmv_setops",
    (spark, dir) => {
      import spark.implicits._
      val k = 256
      val two32 = 4294967296.0
      val users = Tables.events(spark, dir)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type".as("t"), $"user_id").distinct()
        .withColumn("h",
          conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .localCheckpoint()
      val a = users.filter($"t" === "click").select($"user_id", $"h")
      val b = users.filter($"t" === "purchase").select($"user_id", $"h")
      val u = users.select($"user_id", $"h").distinct()
      // total order (h, user_id): a first-8-hex md5 collision at the
      // k-boundary must not let the engines keep different rows
      def kth(df: org.apache.spark.sql.DataFrame, name: String) =
        df.select($"h", $"user_id").orderBy($"h".asc, $"user_id".asc)
          .limit(k)
          .agg(max($"h").cast("double").as(name), count(lit(1)).as(s"n_$name"))
      val est = (c: String, nc: String) =>
        (col(nc).cast("double") - lit(1.0)) * lit(two32) / col(c)
      // union-sketch membership counting for the intersection
      val uTop = u.orderBy($"h".asc, $"user_id".asc).limit(k)
      val inBoth = uTop
        .join(a.select($"user_id").withColumn("ina", lit(1)),
          Seq("user_id"), "left_outer")
        .join(b.select($"user_id").withColumn("inb", lit(1)),
          Seq("user_id"), "left_outer")
        .agg(count(lit(1)).as("ku"),
          sum(when($"ina" === 1 && $"inb" === 1, 1L).otherwise(0L))
            .as("kboth"))
      val exact = users.agg(
        countDistinct(when($"t" === "click", $"user_id")).as("ex_a"),
        countDistinct(when($"t" === "purchase", $"user_id")).as("ex_b"),
        countDistinct($"user_id").as("ex_u"))
      val r = kth(a, "ha").crossJoin(kth(b, "hb")).crossJoin(kth(u, "hu"))
        .crossJoin(broadcast(inBoth)).crossJoin(broadcast(exact))
        .select($"ex_a", $"ex_b", $"ex_u",
          ($"ex_a" + $"ex_b" - $"ex_u").as("ex_inter"),
          r2(est("ha", "n_ha")).as("est_a"),
          r2(est("hb", "n_hb")).as("est_b"),
          r2(est("hu", "n_hu")).as("est_u"),
          r2($"kboth".cast("double") / $"ku".cast("double") *
            est("hu", "n_hu")).as("est_inter"))
      r.select($"ex_a", $"ex_b", $"ex_u", $"ex_inter",
        $"est_a", $"est_b", $"est_u", $"est_inter",
        (abs($"est_a" - $"ex_a".cast("double")) <=
          lit(0.25) * $"ex_a".cast("double")).as("a_ok"),
        (abs($"est_b" - $"ex_b".cast("double")) <=
          lit(0.25) * $"ex_b".cast("double")).as("b_ok"),
        (abs($"est_u" - $"ex_u".cast("double")) <=
          lit(0.25) * $"ex_u".cast("double")).as("u_ok"))
    },
    Some {
      val k = 256
      def est(c: String, nc: String) =
        s"((cast($nc as double) - cast(1.0 as double)) * " +
          s"cast(4294967296.0 as double) / $c)"
      s"""
      WITH users AS MATERIALIZED (
        SELECT t, user_id,
               cast(('0x' || substr(md5(cast(user_id as varchar)), 1, 8))
                 as bigint) AS h
        FROM (SELECT DISTINCT event_type AS t, user_id
              FROM events WHERE event_type IN ('click', 'purchase')) d),
      a AS (SELECT user_id, h FROM users WHERE t = 'click'),
      b AS (SELECT user_id, h FROM users WHERE t = 'purchase'),
      u AS (SELECT DISTINCT user_id, h FROM users),
      ka AS (SELECT cast(max(h) as double) AS ha,
                    cast(count(*) as bigint) AS n_ha
             FROM (SELECT h FROM a ORDER BY h ASC, user_id ASC LIMIT $k) t0),
      kb AS (SELECT cast(max(h) as double) AS hb,
                    cast(count(*) as bigint) AS n_hb
             FROM (SELECT h FROM b ORDER BY h ASC, user_id ASC LIMIT $k) t0),
      ku AS (SELECT cast(max(h) as double) AS hu,
                    cast(count(*) as bigint) AS n_hu
             FROM (SELECT h FROM u ORDER BY h ASC, user_id ASC LIMIT $k) t0),
      utop AS (SELECT user_id, h FROM u ORDER BY h ASC, user_id ASC
               LIMIT $k),
      inboth AS (
        SELECT cast(count(*) as bigint) AS kub,
               cast(sum(CASE WHEN ia.user_id IS NOT NULL AND
                 ib.user_id IS NOT NULL THEN 1 ELSE 0 END) as bigint)
                 AS kboth
        FROM utop
        LEFT JOIN (SELECT DISTINCT user_id FROM a) ia
          ON utop.user_id = ia.user_id
        LEFT JOIN (SELECT DISTINCT user_id FROM b) ib
          ON utop.user_id = ib.user_id),
      exact AS (
        SELECT cast(count(DISTINCT CASE WHEN t = 'click' THEN user_id END)
                 as bigint) AS ex_a,
               cast(count(DISTINCT CASE WHEN t = 'purchase' THEN user_id
                 END) as bigint) AS ex_b,
               cast(count(DISTINCT user_id) as bigint) AS ex_u
        FROM users)
      SELECT ex_a, ex_b, ex_u, ex_a + ex_b - ex_u AS ex_inter,
             ${r2Sql(est("ha", "n_ha"))} AS est_a,
             ${r2Sql(est("hb", "n_hb"))} AS est_b,
             ${r2Sql(est("hu", "n_hu"))} AS est_u,
             ${r2Sql("cast(kboth as double) / cast(kub as double) * " +
               est("hu", "n_hu"))} AS est_inter,
             abs(${r2Sql(est("ha", "n_ha"))} - cast(ex_a as double)) <=
               cast(0.25 as double) * cast(ex_a as double) AS a_ok,
             abs(${r2Sql(est("hb", "n_hb"))} - cast(ex_b as double)) <=
               cast(0.25 as double) * cast(ex_b as double) AS b_ok,
             abs(${r2Sql(est("hu", "n_hu"))} - cast(ex_u as double)) <=
               cast(0.25 as double) * cast(ex_u as double) AS u_ok
      FROM ka CROSS JOIN kb CROSS JOIN ku
      CROSS JOIN inboth CROSS JOIN exact"""
    },
  )

  /** EMBEDDING-COSINE PAIR HISTOGRAM — the representation-collapse QC a
    * pipeline runs over a fresh embedding table: the distribution of
    * cosine similarity between ADJACENT-ID vector pairs (an unbiased
    * "random pair" proxy under hash/arrival ids), binned at 0.1 width.
    * A healthy embedding space piles mass near 0; collapse shows up as
    * mass at 0.9+. Pairing is a self-equi-join on vec_id + 1 — linear,
    * shuffle-partitioned by id, NO global-order window (a lag() over a
    * table-wide ORDER BY would serialize to one partition at 100 TB).
    * Cosine is the codegen'd sequential-fold dot_product over
    * double-cast elements (bit-matches the oracle's left-assoc chain,
    * CLAUDE.md round-6 contract); bin = floor(cos*10) clamped to
    * [-10, 9] — one IEEE multiply + floor on a bit-equal double, so the
    * bin edges cannot flake cross-engine. */
  val qCosineHist: GQuery = GQuery(
    "q_cosine_hist",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val a = emb.select($"vec_id", $"emb".as("ea"), $"nrm".as("na"))
      val b = emb.select(($"vec_id" - 1L).as("vec_id"),
        $"emb".as("eb"), $"nrm".as("nb"))
      a.join(b, "vec_id")
        .withColumn("cos",
          dotProduct($"ea", $"eb") / ($"na" * $"nb"))
        .withColumn("bin",
          least(greatest(floor($"cos" * lit(10.0)), lit(-10.0)), lit(9.0))
            .cast("int"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_pairs"),
          davg($"cos").as("avg_cos"))
        .orderBy($"bin")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings),
      pairs AS (
        SELECT (${chainSql("a.embedding", "b.embedding")})
                 / (a.nrm * b.nrm) AS cos
        FROM emb a JOIN emb b ON b.vec_id = a.vec_id + 1),
      binned AS (
        SELECT cos,
               cast(least(greatest(floor(cos * 10.0), -10.0), 9.0) as int)
                 AS bin
        FROM pairs)
      SELECT bin, count(*) AS n_pairs, ${davgSql("cos")} AS avg_cos
      FROM binned
      GROUP BY bin
      ORDER BY bin"""),
  )

  /** IVF CELL-BALANCE QC — the quantizer health report an ANN index
    * build publishes before serving: per-cell population min/max/mean,
    * the imbalance factor (max/mean — tail latency is the biggest
    * cell), and the expected candidate fraction a data-distributed
    * query scans at nProbe=1 (Σ szᵢ²/n² — the HHI of the cell
    * assignment; 1/n_cells when perfectly balanced). Reuses
    * [[qAnnIvf]]'s deterministic quantizer (bottom-[[nCentroids]]
    * seeds by (md5-id-hash, id),
    * argmax-cosine assignment with a cell tiebreak). All sufficient
    * statistics are exact integers; the two output ratios are single
    * IEEE divisions. Scale: assignment is the same bounded-centroid
    * broadcast as the index build itself — the QC is free when the
    * index materializes. */
  val qCellBalance: GQuery = GQuery(
    "q_cell_balance",
    (spark, dir) => {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < corpusBound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val cents = emb.orderBy(idHash($"vec_id"), $"vec_id").limit(nCentroids)
        .select($"vec_id".as("cell"), $"emb".as("cent"), $"nrm".as("cent_nrm"))
      val assignW = Window.partitionBy($"vec_id")
        .orderBy($"cell_cos".desc, $"cell")
      val cells = emb.crossJoin(broadcast(cents))
        .withColumn("cell_cos",
          dotProduct($"emb", $"cent") / ($"nrm" * $"cent_nrm"))
        .withColumn("rn", row_number().over(assignW))
        .filter($"rn" === 1)
        .groupBy($"cell")
        .agg(count(lit(1)).as("sz"))
      cells.agg(
          count(lit(1)).as("n_cells"),
          sum($"sz").as("n_vecs"),
          min($"sz").as("min_sz"),
          max($"sz").as("max_sz"),
          sum($"sz" * $"sz").as("ss"))
        .select($"n_cells", $"n_vecs", $"min_sz", $"max_sz",
          r6($"n_vecs".cast("double") / $"n_cells".cast("double"))
            .as("avg_sz"),
          r6(($"max_sz" * $"n_cells").cast("double") /
            $"n_vecs".cast("double")).as("imbalance"),
          r6($"ss".cast("double") /
            ($"n_vecs" * $"n_vecs").cast("double")).as("exp_scan_frac"))
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < $corpusBound),
      cents AS (
        SELECT vec_id AS cell, embedding AS cent, nrm AS cent_nrm
        FROM emb
        ORDER BY ${idHashSql("vec_id")}, vec_id LIMIT $nCentroids),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, cents.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${chainSql("e.embedding", "cents.cent")})
                     / (e.nrm * cents.cent_nrm) DESC, cents.cell) AS rn
          FROM emb e CROSS JOIN cents) t WHERE rn = 1),
      cells AS (SELECT cell, count(*) AS sz FROM assigned GROUP BY cell)
      SELECT count(*) AS n_cells,
             cast(sum(sz) as bigint) AS n_vecs,
             cast(min(sz) as bigint) AS min_sz,
             cast(max(sz) as bigint) AS max_sz,
             ${r6Sql("cast(sum(sz) as double) / cast(count(*) as double)")}
               AS avg_sz,
             ${r6Sql("cast(max(sz) * count(*) as double) / " +
               "cast(sum(sz) as double)")} AS imbalance,
             ${r6Sql("cast(sum(sz * sz) as double) / " +
               "cast(sum(sz) * sum(sz) as double)")} AS exp_scan_frac
      FROM cells"""),
  )

  /** LSH BAND-CONFIGURATION SWEEP — the b×r tuning report for the
    * 16-minhash signature family ([[qNeardupMinhash]]'s exact hashes):
    * candidate-pair count and high-similarity precision (est_jaccard ≥
    * 13/16) at b=2×r=8, b=4×r=4, and b=8×r=2. Key trick: band
    * candidacy NESTS — a pair matching an r=8 band matches both its
    * r=4 halves and all four r=2 quarters — so candidates(b=2) ⊆
    * candidates(b=4) ⊆ candidates(b=8) and ONE blocking equi-join at
    * the finest config (b=8) generates every config's candidates; the
    * coarser configs' membership is then a per-pair boolean fold over
    * the 16 h-equality bits, and the whole sweep is one conditional
    * aggregation — no per-config re-join, no re-blocking. Planted
    * shifted-id clones guarantee high-sim pairs at every SF. */
  private def mkBandSweep(name: String, corpusBound: Long,
      expand: Int = 1): GQuery = GQuery(
    name,
    (spark, dir) => {
      import spark.implicits._
      val base = xdocs(Tables.documents(spark, dir)
        .filter($"doc_id" < corpusBound).select($"doc_id", $"text"), expand)
      val docs = base.unionByName(
        base.filter($"doc_id" < 50)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      // fused-kernel signature stage (byte-identical to the relational
      // oracle stage below; see kernelSigs / MinHashSigSpec)
      val sigs = kernelSigs(docs)
      // finest blocking: 8 bands of 2 minhashes each
      val bandStructs = (0 until 8).map(b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|", col(s"h${2 * b}"), col(s"h${2 * b + 1}")))
            .as("sig")))
      val bands = sigs
        .select($"doc_id", explode(array(bandStructs: _*)).as("bs"))
        .select($"doc_id", $"bs.band_id".as("band_id"), $"bs.sig".as("sig"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val sigsA = sigs.select(
        ($"doc_id".as("id_a") +: (0 until 16).map(i => col(s"h$i").as(s"a$i"))): _*)
      val sigsB = sigs.select(
        ($"doc_id".as("id_b") +: (0 until 16).map(i => col(s"h$i").as(s"b$i"))): _*)
      def eq(i: Int): Column = col(s"a$i") === col(s"b$i")
      def m8(j: Int): Column = eq(2 * j) && eq(2 * j + 1)
      def m4(j: Int): Column = m8(2 * j) && m8(2 * j + 1)
      def m2(j: Int): Column = m4(2 * j) && m4(2 * j + 1)
      val nMatch = (0 until 16)
        .map(i => when(eq(i), 1).otherwise(0)).reduce(_ + _)
      val scored = broadcast(cand)
        .join(sigsA, "id_a").join(sigsB, "id_b")
        .select(
          (0 until 4).map(m4).reduce(_ || _).as("c4"),
          (0 until 2).map(m2).reduce(_ || _).as("c2"),
          (nMatch >= 13).as("hi"))
      scored.agg(
          count(lit(1)).as("n8"),
          count(when($"c4", lit(1))).as("n4"),
          count(when($"c2", lit(1))).as("n2"),
          count(when($"hi", lit(1))).as("h8"),
          count(when($"c4" && $"hi", lit(1))).as("h4"),
          count(when($"c2" && $"hi", lit(1))).as("h2"))
        .select(explode(array(
          struct(lit(2).as("n_bands"), lit(8).as("rows_per_band"),
            $"n2".as("n_cand"), $"h2".as("n_high")),
          struct(lit(4).as("n_bands"), lit(4).as("rows_per_band"),
            $"n4".as("n_cand"), $"h4".as("n_high")),
          struct(lit(8).as("n_bands"), lit(2).as("rows_per_band"),
            $"n8".as("n_cand"), $"h8".as("n_high")))).as("s"))
        .select($"s.n_bands".as("n_bands"),
          $"s.rows_per_band".as("rows_per_band"),
          $"s.n_cand".as("n_cand"), $"s.n_high".as("n_high"),
          when($"s.n_cand" > 0,
            r6($"s.n_high".cast("double") / $"s.n_cand".cast("double")))
            .otherwise(lit(0.0)).as("hi_rate"))
        .orderBy($"n_bands")
    },
    Some(s"""
      WITH xb AS (${xdocsSql(corpusBound, expand)}),
      docs AS (
        SELECT doc_id, text FROM xb
        UNION ALL
        SELECT doc_id + 1000000, text FROM xb WHERE doc_id < 50),
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
        ${(0 until 8).map(b =>
          s"SELECT doc_id, $b AS band_id, " +
            s"md5(concat_ws('|', h${2 * b}, h${2 * b + 1})) AS sig FROM sig")
          .mkString("\n        UNION ALL ")}),
      cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
               FROM bands x JOIN bands y
                 ON x.band_id = y.band_id AND x.sig = y.sig
                    AND x.doc_id < y.doc_id),
      scored AS (
        SELECT
          (${(0 until 4).map(j =>
            s"(${(4 * j to 4 * j + 3).map(i => s"a.h$i = b.h$i")
              .mkString(" AND ")})").mkString(" OR ")}) AS c4,
          (${(0 until 2).map(j =>
            s"(${(8 * j to 8 * j + 7).map(i => s"a.h$i = b.h$i")
              .mkString(" AND ")})").mkString(" OR ")}) AS c2,
          ((${(0 until 16).map(i =>
            s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
            .mkString(" + ")}) >= 13) AS hi
        FROM cand
        JOIN sig a ON a.doc_id = cand.id_a
        JOIN sig b ON b.doc_id = cand.id_b),
      agg AS (
        SELECT count(*) AS n8,
               count(CASE WHEN c4 THEN 1 END) AS n4,
               count(CASE WHEN c2 THEN 1 END) AS n2,
               count(CASE WHEN hi THEN 1 END) AS h8,
               count(CASE WHEN c4 AND hi THEN 1 END) AS h4,
               count(CASE WHEN c2 AND hi THEN 1 END) AS h2
        FROM scored)
      SELECT n_bands, rows_per_band, n_cand, n_high,
             CASE WHEN n_cand > 0 THEN
               floor((cast(n_high as double) / cast(n_cand as double))
                 * 1e6 + 0.5) / 1e6
             ELSE cast(0.0 as double) END AS hi_rate
      FROM (
        SELECT 2 AS n_bands, 8 AS rows_per_band, n2 AS n_cand, h2 AS n_high
        FROM agg
        UNION ALL
        SELECT 4, 4, n4, h4 FROM agg
        UNION ALL
        SELECT 8, 2, n8, h8 FROM agg) u
      ORDER BY n_bands"""),
  )

  val qBandSweep: GQuery = mkBandSweep("q_band_sweep", corpusBound)

  /** Full-corpus bench twin: same plan, whole documents table. */
  val qBandSweepXl: GQuery = mkBandSweep("q_band_sweep_xl", corpusBoundXl)

  // ---------------------------------------------------------------------
  // _xxl scaling twins: the same maker code over the x10 generated corpus
  // (~50,000 docs / ~20,000 vectors at sf0.1) — the third point of the
  // scaling curve the _xl twins started (round-12 verdict item 2)
  // ---------------------------------------------------------------------
  val qNeardupMinhashXxl: GQuery =
    mkNeardupMinhash("q_neardup_minhash_xxl", corpusBoundXl, 10)
  val qBandSweepXxl: GQuery =
    mkBandSweep("q_band_sweep_xxl", corpusBoundXl, 10)
  val qIvfadcXxl: GQuery = mkIvfadc("q_ivfadc_xxl", corpusBoundXl, 10)

  val all: Seq[GQuery] = Seq(
    qNeardupMinhash, qNeardupSimhash, qNeardupCosine, qNeardupEmbed,
    qEmbedOutlier, qHardNegatives, qAnnLsh, qAnnIvf,
    qApproxDistinct, qApproxPctl, qAqpSample, qMinhashAcc, qKnnClassify,
    qDedupIncr, qVecQuant, qEnergyDist, qAnnRecall, qAnnIvfProbe,
    qSemdedup, qAnnPq, qKmvSetops, qCosineHist, qCellBalance, qBandSweep,
    qNeardupMinhashXl, qAnnIvfXl, qSemdedupXl, qBandSweepXl, qIvfadc,
    qIvfadcXl, qAnnIncr, qNeardupIncr,
    qNeardupMinhashXxl, qBandSweepXxl, qIvfadcXxl, qMrlRecall,
    qWinnowing, qWinnowingXl, qNeardupSimhash64, qNeardupSimhash64Xl,
    qNeardupSimhash64Xxl)
}
