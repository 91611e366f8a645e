package graft

import org.scalatest.funsuite.AnyFunSuite

/** Declared queries call the codegen'd kernels through their typed
  * `graft.functions` functions, so running one leaves the session's
  * function registry as it was: what a session can resolve by name never
  * depends on which queries ran on it before.
  *
  * The queries run on `newSession()` of the shared test session — same
  * SparkContext, its own (fresh) function registry — so no registration
  * made by another spec on the shared session can hide one made here.
  */
class FunctionRegistrySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Every declared query whose code reaches a kernel, directly or
    * through graft.llm. */
  val kernelQueries = Seq(
    "q_sim_topk", "q_multimodal", "q_neardup_minhash", "q_neardup_cosine",
    "q_neardup_embed", "q_hard_negatives", "q_ann_lsh", "q_ann_ivf",
    "q_minhash_acc", "q_knn_classify", "q_dedup_incr", "q_energy_dist",
    "q_ann_recall", "q_ann_ivf_probe", "q_semdedup", "q_cosine_hist",
    "q_cell_balance", "q_band_sweep", "q_neardup_minhash_xl", "q_ann_ivf_xl",
    "q_semdedup_xl", "q_band_sweep_xl", "q_ann_incr",
    "q_neardup_minhash_xxl", "q_band_sweep_xxl", "q_mrl_recall",
    "q_neardup_simhash64", "q_neardup_simhash64_xl",
    "q_neardup_simhash64_xxl", "q_decontam", "q_decontam_bloom",
    "q_repetition", "q_filter_funnel", "q_dedup_shift", "q_decontam_span",
    "q_decontam_excise", "q_contam_matrix", "q_repetition_rules",
    "q_dedup_span", "q_dedup_excise", "q_dedup_cdc", "q_neardup_banded",
    "q_containment", "q_jaccard_prefix", "q_er_match", "q_dup_coverage",
    "q_dup_matrix", "q_jaccard_prefix_xxl", "q_er_match_xxl",
    "q_containment_xxl", "q_ngram_novelty", "q_ndcg", "q_mrr", "q_rrf")

  test("no declared query writes to the session's function registry") {
    val fresh = spark.newSession()
    val kernels = graft.functions.sqlFunctions.map(_._1)
    def resolvable = kernels.filter(fresh.catalog.functionExists)
    assert(resolvable.isEmpty, s"a fresh session already resolves $resolvable")
    kernelQueries.foreach { name =>
      val q = graft.engine.Registry.byName(name)
      val n = q.run(fresh, sf).count()
      assert(resolvable.isEmpty, s"$name registered $resolvable")
      assert(n == q.run(spark, sf).count(), s"$name: row count differs")
    }
  }
}
