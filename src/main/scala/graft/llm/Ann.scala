package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.dotProduct

/** Similarity search over an embedding column (SURVEY.md §2.B.8).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine against a bounded probe set; the
  *    correctness baseline (and the `q_sim_topk` oracle query's engine).
  *    Cost is |probes| × |corpus|: fine for verification, wrong at scale.
  *  - [[lshTopK]] — BucketedRandomProjectionLSH over L2-normalized
  *    vectors (Euclidean distance on normalized vectors is a monotone
  *    transform of cosine). Candidate generation is an equi-join on
  *    bucket ids — linear shuffle, the 100 TB path. Recall is tunable via
  *    numHashTables/bucketLength and verified against brute force in
  *    AnnSpec.
  */
object Ann {

  private def asDouble(c: String) = expr(s"transform($c, x -> cast(x as double))")

  /** Exact cosine top-k of each probe vector against the corpus.
    * Probes are broadcast; the corpus streams. */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // precompute per-vector norms: one fold per vector, not per pair
    val c = corpus.select(col(idCol).as("c_id"), asDouble(embCol).as("c_emb"))
      .withColumn("c_norm", sqrt(dotProduct(col("c_emb"), col("c_emb"))))
    val p = probes.select(col(idCol).as("p_id"), asDouble(embCol).as("p_emb"))
      .withColumn("p_norm", sqrt(dotProduct(col("p_emb"), col("p_emb"))))
    val scored = c.crossJoin(broadcast(p))
      .select(col("p_id"), col("c_id"),
        (dotProduct(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** L2-normalize an array<float|double> embedding into an ml Vector. */
  private def normalizedVector(embCol: String) = {
    val d = s"transform($embCol, x -> cast(x as double))"
    val norm = s"sqrt(aggregate(zip_with($d, $d, (p, q) -> p * q), 0D, (s, v) -> s + v))"
    array_to_vector(expr(s"transform($d, x -> x / $norm)"))
  }

  /** Approximate NN via LSH bucketing on normalized vectors. Returns up to
    * k neighbors per probe (ordered by exact cosine among candidates).
    * At scale, `approxSimilarityJoin` shuffles by bucket id only. */
  def lshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bucketLength: Double = 0.5,
      numHashTables: Int = 6,
      maxL2: Double = 1.2): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), normalizedVector(embCol).as("v"))
    val p = probes.select(col(idCol).as("p_id"), normalizedVector(embCol).as("v"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("buckets")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42)
    val model = lsh.fit(c)
    // Euclidean dist d on unit vectors ⇒ cosine = 1 - d²/2 (monotone).
    val joined = model.approxSimilarityJoin(
        model.transform(p), model.transform(c), maxL2, "l2")
      .select(
        col("datasetA.p_id").as("p_id"),
        col("datasetB.c_id").as("c_id"),
        (lit(1.0) - col("l2") * col("l2") / 2.0).as("cos_sim"))
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    joined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * corpus vector to a cell; a probe searches only its `nProbe` nearest
    * cells. Candidate generation is an equi-join on cell id — at 100 TB
    * the corpus assignment is one pass + small shuffle, and each query
    * touches nProbe/nCells of the data. Exact cosine ranks the candidates.
    */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("c_id"), asDouble(embCol).as("c_emb"))
      .withColumn("c_norm", sqrt(dotProduct(col("c_emb"), col("c_emb"))))
      .withColumn("v", array_to_vector(col("c_emb")))
    // The quantizer is fit on a deterministic hash-SAMPLE, never the full
    // corpus: KMeans only needs enough vectors to place nCells centroids
    // (~100 per cell), and a full-corpus fit would be the bottleneck at
    // 100 TB. Sampling = the fitTarget smallest xxhash64(id) values
    // (TakeOrderedAndProject: per-partition top-N, tiny driver merge) —
    // uniform because hash order is independent of the data, deterministic
    // across partitionings, and needs NO prior count() pass over the
    // corpus (a full extra scan at 100 TB just to size the sample).
    val fitTarget = math.max(100 * nCells, 10000)
    // c_id tiebreak makes the limit boundary total-ordered even if two
    // ids collide on xxhash64 — determinism must not depend on layout.
    val fitSet = c.orderBy(xxhash64(col("c_id")), col("c_id")).limit(fitTarget)
    val km = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("v").setPredictionCol("cell")
    val model = km.fit(fitSet)
    val assigned = model.transform(c).drop("v")

    // centroids as a tiny broadcast table: (cell, centroid array)
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq
      .toDF("cell", "cent")

    // each probe → its nProbe nearest cells (by cosine to the centroid)
    val p = probes.select(col(idCol).as("p_id"), asDouble(embCol).as("p_emb"))
      .withColumn("p_norm", sqrt(dotProduct(col("p_emb"), col("p_emb"))))
    val cellRank = Window.partitionBy(col("p_id"))
      .orderBy(col("cell_cos").desc, col("cell"))
    val probeCells = p.crossJoin(broadcast(cents))
      .withColumn("cell_cos",
        dotProduct(col("p_emb"), col("cent")) /
          (col("p_norm") * sqrt(dotProduct(col("cent"), col("cent")))))
      .withColumn("cell_rnk", row_number().over(cellRank))
      .filter(col("cell_rnk") <= nProbe)
      .select(col("p_id"), col("p_emb"), col("p_norm"), col("cell"))

    // candidates = corpus rows in the probed cells (equi-join on cell)
    val w = Window.partitionBy(col("p_id"))
      .orderBy(col("cos_sim").desc, col("c_id"))
    assigned.join(broadcast(probeCells), "cell")
      .select(col("p_id"), col("c_id"),
        (dotProduct(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm")))
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: LSH self-join on normalized
    * vectors, keeping pairs with cosine >= minCosine — the vector-space
    * analog of MinHash near-dup for text. */
  def cosineNearDupPairs(
      corpus: DataFrame,
      minCosine: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bucketLength: Double = 0.5,
      numHashTables: Int = 6): DataFrame = {
    // cos >= t  ⇔  L2 on unit vectors <= sqrt(2 - 2t)
    val maxL2 = math.sqrt(math.max(2.0 - 2.0 * minCosine, 0.0))
    val c = corpus.select(col(idCol).as("id"), normalizedVector(embCol).as("v"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("v").setOutputCol("buckets")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables)
      .setSeed(42)
    val model = lsh.fit(c)
    model.approxSimilarityJoin(c, c, maxL2, "l2")
      .select(
        col("datasetA.id").as("id_a"),
        col("datasetB.id").as("id_b"),
        (lit(1.0) - col("l2") * col("l2") / 2.0).as("cos_sim"))
      .filter(col("id_a") < col("id_b"))
  }
}
