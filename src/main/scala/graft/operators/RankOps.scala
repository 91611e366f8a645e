package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{GQuery, Tables}
import graft.engine.GQuery._
import graft.functions.dotProduct

/** Retrieval-ranking metrics (NDCG@10, MRR) over the brute-force cosine
  * ranking that q_sim_topk established as the engine's retrieval
  * correctness oracle: 10 probe vectors against the rest of the corpus,
  * ranked on the 6dp-ROUNDED cosine with vec_id tiebreak so a 1-ulp
  * engine difference can never flip an order. Relevance is label
  * equality (binary gain) — the labels are noise w.r.t. the vectors, so
  * the metric VALUES are near-chance, but the metric COMPUTATION is
  * exercised end-to-end and is fully deterministic. Per-rank terms
  * (rel/log2(rank+1), 1/first_rank) are identical IEEE doubles in both
  * engines; sums over them are decimal-staged (dsum contract) so
  * accumulation order cannot drift. At 100 TB the probe set is still a
  * broadcast and the only corpus-sized pass is the scored scan; the
  * top-10 cut per probe is a bounded-heap aggregate in spirit — the
  * row_number window partitions on p_id exactly like q_sim_topk.
  */
object RankOps {

  /** Top-10 retrieval per probe: (p_id, c_id, rel, cos_sim, rnk).
    * Probes = vec_id < 10, corpus = the rest (no self-matches). Shared
    * by q_ndcg and q_mrr; the SQL twin below must stay in lockstep. */
  private def rankedTop10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .withColumn("norm", sqrt(dotProduct($"emb", $"emb")))
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("p_id"), $"label".as("p_label"),
        $"emb".as("p_emb"), $"norm".as("p_norm"))
    val corpus = emb.filter($"vec_id" >= 10)
      .select($"vec_id".as("c_id"), $"label".as("c_label"),
        $"emb".as("c_emb"), $"norm".as("c_norm"))
    val scored = corpus.crossJoin(broadcast(probes))
      .select($"p_id", $"c_id",
        when($"p_label" === $"c_label", 1L).otherwise(0L).as("rel"),
        r6(dotProduct($"p_emb", $"c_emb") / ($"p_norm" * $"c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy($"p_id").orderBy($"cos_sim".desc, $"c_id")
    scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 10)
  }

  private val rankedTop10Sql: String = """
      WITH emb AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      scored AS (
        SELECT p.vec_id AS p_id, c.vec_id AS c_id,
               CASE WHEN p.label = c.label THEN 1 ELSE 0 END AS rel,
               floor((list_inner_product(p.e, c.e) /
                 (sqrt(list_inner_product(p.e, p.e)) *
                  sqrt(list_inner_product(c.e, c.e)))) * 1e6 + 0.5) / 1e6
                 AS cos_sim
        FROM emb p CROSS JOIN emb c
        WHERE p.vec_id < 10 AND c.vec_id >= 10),
      ranked10 AS (
        SELECT p_id, c_id, rel, cos_sim, rnk FROM (
          SELECT p_id, c_id, rel, cos_sim,
                 cast(row_number() OVER (PARTITION BY p_id
                   ORDER BY cos_sim DESC, c_id) as int) AS rnk
          FROM scored) t
        WHERE rnk <= 10)"""

  /** NDCG@10 per probe. DCG sums rel/log2(rank+1) over the retrieved
    * order; IDCG re-ranks the same 10 rows by rel desc (rank tiebreak),
    * so NDCG = 1 exactly when all relevant hits sort to the top. Both
    * sums are decimal-staged; log2 of a small-integer double is the same
    * IEEE value in both engines, and the 6dp staging absorbs any final-
    * ulp libm difference. n_rel = 0 yields NULL ndcg (no ideal ranking
    * to normalize by), CASE-guarded identically on both sides. */
  val qNdcg: GQuery = GQuery(
    "q_ndcg",
    (spark, dir) => {
      import spark.implicits._
      val ranked = rankedTop10(spark, dir)
      val wi = Window.partitionBy($"p_id").orderBy($"rel".desc, $"rnk")
      ranked.withColumn("irnk", row_number().over(wi))
        .groupBy($"p_id")
        .agg(
          sum($"rel").cast("int").as("n_rel"),
          dsum($"rel".cast("double") / log2(($"rnk" + 1).cast("double")), 6)
            .as("dcg"),
          dsum($"rel".cast("double") / log2(($"irnk" + 1).cast("double")), 6)
            .as("idcg"))
        .select($"p_id", $"n_rel", $"dcg", $"idcg",
          when($"n_rel" > 0, r6($"dcg" / $"idcg")).as("ndcg"))
        .orderBy($"p_id")
    },
    Some(s"""
      $rankedTop10Sql,
      ideal AS (
        SELECT p_id, rel, rnk,
               cast(row_number() OVER (PARTITION BY p_id
                 ORDER BY rel DESC, rnk) as int) AS irnk
        FROM ranked10),
      agg AS (
        SELECT p_id, cast(sum(rel) as int) AS n_rel,
               ${dsumSql("cast(rel as double) / " +
                 "log2(cast(rnk + 1 as double))", 6)} AS dcg,
               ${dsumSql("cast(rel as double) / " +
                 "log2(cast(irnk + 1 as double))", 6)} AS idcg
        FROM ideal GROUP BY p_id)
      SELECT p_id, n_rel, dcg, idcg,
             CASE WHEN n_rel > 0 THEN ${r6Sql("dcg / idcg")} END AS ndcg
      FROM agg ORDER BY p_id"""),
  )

  /** MEAN RECIPROCAL RANK: per probe, the rank of the first relevant hit
    * within the top-10 (NULL first_rel_rank ⇒ rr = 0), plus the
    * probe-set MRR as a window aggregate over the 10-row probe table —
    * the per-probe rr is 6dp-rounded BEFORE the decimal-staged mean so
    * the headline derives from the published column. */
  val qMrr: GQuery = GQuery(
    "q_mrr",
    (spark, dir) => {
      import spark.implicits._
      val ranked = rankedTop10(spark, dir)
      val firsts = ranked.groupBy($"p_id")
        .agg(min(when($"rel" === 1, $"rnk")).as("fr"))
        .select($"p_id", $"fr".cast("int").as("first_rel_rank"),
          r6(coalesce(lit(1.0) / $"fr".cast("double"), lit(0.0))).as("rr"))
      val wAll = Window.partitionBy()
      firsts
        .withColumn("mrr",
          r6(sum($"rr".cast(DecimalType(30, 6))).over(wAll).cast("double") /
            count(lit(1)).over(wAll).cast("double")))
        .orderBy($"p_id")
    },
    Some(s"""
      $rankedTop10Sql,
      firsts AS (
        SELECT p_id,
               cast(min(CASE WHEN rel = 1 THEN rnk END) as int)
                 AS first_rel_rank
        FROM ranked10 GROUP BY p_id),
      rr AS (
        SELECT p_id, first_rel_rank,
               ${r6Sql("coalesce(cast(1.0 as double) / " +
                 "cast(first_rel_rank as double), cast(0.0 as double))")}
                 AS rr
        FROM firsts)
      SELECT p_id, first_rel_rank, rr,
             ${r6Sql("cast(sum(cast(rr as decimal(30,6))) OVER () as double)" +
               " / cast(count(*) OVER () as double)")} AS mrr
      FROM rr ORDER BY p_id"""),
  )

  /** DuckDB left-associative dot-product chain (bit-identical to
    * graft.functions.DotProduct's sequential fold) — local twin of
    * ScaleOps.chainSql for the fusion query's vector side. */
  private def chainSql64(a: String, b: String): String =
    (1 to 64).map(i => s"(cast($a[$i] as double)*cast($b[$i] as double))")
      .mkString(" + ")

  /** RECIPROCAL RANK FUSION — the standard hybrid-retrieval combiner
    * (RRF, k=60): for 5 probe documents, fuse a VECTOR ranking (exact
    * cosine top-10 over the bounded corpus, the q_sim_topk shape) with a
    * TEXT ranking (token-set Jaccard top-10, candidates ONLY from the
    * shared-token equi-join) into one list by Σ 1/(60 + rank). Ranks are
    * integers, each reciprocal is one IEEE division, and a fused score
    * is the sum of ≤ 2 exact terms — order-free, no staging needed; ties
    * break on c_id. doc_id and vec_id are aligned in the fixtures, so
    * the two modalities rank the same id space. At 100 TB each leg is
    * its own bucketed index (IVF cells / token postings), the fusion is
    * an id equi-join of two 10-row-per-probe lists — the cheap part. */
  val qRrf: GQuery = GQuery(
    "q_rrf",
    (spark, dir) => {
      import spark.implicits._
      val bound = 500L
      val emb = Tables.embeddings(spark, dir)
        .filter($"vec_id" < bound)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .withColumn("nrm", sqrt(dotProduct($"emb", $"emb")))
      val probesV = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("p_id"), $"emb".as("p_emb"), $"nrm".as("p_nrm"))
      val wv = Window.partitionBy($"p_id").orderBy($"cos".desc, $"c_id")
      val rankVec = emb.filter($"vec_id" >= 5).crossJoin(broadcast(probesV))
        .select($"p_id", $"vec_id".as("c_id"),
          r6(dotProduct($"p_emb", $"emb") / ($"p_nrm" * $"nrm")).as("cos"))
        .withColumn("vr", row_number().over(wv))
        .filter($"vr" <= 10)
        .select($"p_id", $"c_id", $"vr")
      val toks = Tables.documents(spark, dir)
        .filter($"doc_id" < bound)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .distinct()
      val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val probesT = toks.filter($"doc_id" < 5)
        .select($"doc_id".as("p_id"), $"tok")
      val inter = toks.filter($"doc_id" >= 5)
        .join(probesT, "tok")
        .groupBy($"p_id", $"doc_id".as("c_id"))
        .agg(count(lit(1)).as("inter"))
      val wt = Window.partitionBy($"p_id").orderBy($"jac".desc, $"c_id")
      val rankTxt = inter
        .join(sizes.select($"doc_id".as("p_id"), $"sz".as("sp")), "p_id")
        .join(sizes.select($"doc_id".as("c_id"), $"sz".as("sc")), "c_id")
        .select($"p_id", $"c_id",
          ($"inter".cast("double") /
            ($"sp" + $"sc" - $"inter").cast("double")).as("jac"))
        .withColumn("tr", row_number().over(wt))
        .filter($"tr" <= 10)
        .select($"p_id", $"c_id", $"tr")
      val wf = Window.partitionBy($"p_id").orderBy($"rrf".desc, $"c_id")
      rankVec.join(rankTxt, Seq("p_id", "c_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + $"vr".cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + $"tr".cast("double")), lit(0.0)))
        .withColumn("fused_rank", row_number().over(wf))
        .filter($"fused_rank" <= 10)
        .select($"p_id", $"c_id",
          $"vr".cast("int").as("vec_rank"), $"tr".cast("int").as("text_rank"),
          r6($"rrf").as("rrf_score"), $"fused_rank".cast("int").as("fused_rank"))
        .orderBy($"p_id", $"fused_rank")
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, embedding,
               sqrt(${chainSql64("embedding", "embedding")}) AS nrm
        FROM embeddings WHERE vec_id < 500),
      rank_vec AS (
        SELECT p_id, c_id, vr FROM (
          SELECT p.vec_id AS p_id, c.vec_id AS c_id,
                 cast(row_number() OVER (PARTITION BY p.vec_id ORDER BY
                   ${r6Sql(s"(${chainSql64("p.embedding", "c.embedding")})" +
                     " / (p.nrm * c.nrm)")} DESC, c.vec_id) as bigint) AS vr
          FROM emb p JOIN emb c ON p.vec_id < 5 AND c.vec_id >= 5) t
        WHERE vr <= 10),
      toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < 500),
      sizes AS (
        SELECT doc_id, cast(count(*) as bigint) AS sz
        FROM toks GROUP BY doc_id),
      inter AS (
        SELECT p.doc_id AS p_id, c.doc_id AS c_id,
               cast(count(*) as bigint) AS inter
        FROM toks p JOIN toks c ON p.tok = c.tok
        WHERE p.doc_id < 5 AND c.doc_id >= 5
        GROUP BY p.doc_id, c.doc_id),
      rank_txt AS (
        SELECT p_id, c_id, tr FROM (
          SELECT i.p_id, i.c_id,
                 cast(row_number() OVER (PARTITION BY i.p_id ORDER BY
                   (cast(i.inter as double) /
                    cast(sp.sz + sc.sz - i.inter as double)) DESC,
                   i.c_id) as bigint) AS tr
          FROM inter i
          JOIN sizes sp ON sp.doc_id = i.p_id
          JOIN sizes sc ON sc.doc_id = i.c_id) t
        WHERE tr <= 10),
      fused AS (
        SELECT coalesce(v.p_id, x.p_id) AS p_id,
               coalesce(v.c_id, x.c_id) AS c_id, v.vr, x.tr,
               coalesce(cast(1.0 as double) /
                 (cast(60.0 as double) + cast(v.vr as double)),
                 cast(0.0 as double)) +
               coalesce(cast(1.0 as double) /
                 (cast(60.0 as double) + cast(x.tr as double)),
                 cast(0.0 as double)) AS rrf
        FROM rank_vec v FULL OUTER JOIN rank_txt x
          ON v.p_id = x.p_id AND v.c_id = x.c_id)
      SELECT p_id, c_id, cast(vr as int) AS vec_rank,
             cast(tr as int) AS text_rank,
             ${r6Sql("rrf")} AS rrf_score,
             cast(fused_rank as int) AS fused_rank
      FROM (
        SELECT p_id, c_id, vr, tr, rrf,
               row_number() OVER (PARTITION BY p_id
                 ORDER BY rrf DESC, c_id) AS fused_rank
        FROM fused) t
      WHERE fused_rank <= 10
      ORDER BY p_id, fused_rank"""),
  )

  val all: Seq[GQuery] = Seq(qNdcg, qMrr, qRrf)
}
