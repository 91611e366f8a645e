package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.engine.{Registry, Sessions}

/** Dump formatted physical plans for headline queries → PLANS.md, the
  * reviewable record that scans prune/push down, dims broadcast, fact
  * joins sort-merge, and top-k avoids global sorts. Query names after the
  * output file dump only those plans (before/after evidence for a plan
  * change). Each query is built under its own name as the Spark call
  * site, so a checkpoint scan reads `MapPartitionsRDD[<id>] at q_x`
  * rather than the source line of the `localCheckpoint` call, and an
  * edit that only moves lines leaves the dump unchanged;
  * `tools/plan_diff.py a.md b.md` compares two dumps. Run:
  *   sbt "runMain graft.tools.ExplainAll /root/testdata/sf0.01 PLANS.md"
  *   sbt "runMain graft.tools.ExplainAll <sfDir> before.md q_a q_b"
  */
object ExplainAll {
  val headline = Seq(
    "q_pricing", "q_filter", "q_project", "q_join_bcast", "q_join_smj",
    "q_join_q5", "q_join_asof", "q_sort_limit", "q_topk_group",
    "q_dedup_exact", "q_dedup_latest", "q_tfidf", "q_bm25", "q_sim_topk",
    "q_sessionize", "q_win_session", "q_win_slide", "q_gapfill",
    "q_pivot", "q_subquery", "q_grouping_sets", "q_sample",
    "q_lateral", "q_corr_scalar", "q_agg_salted",
    // round 4: partition pruning, decontam (plain + bloom-prefiltered),
    // fused-expression repetition, packing
    "q_scan_partitioned", "q_join_dpp", "q_decontam", "q_decontam_bloom",
    "q_repetition", "q_pack",
    // round 4 continued: layout levers (z-order scan, co-bucketed join),
    // skew-salted + full-outer joins, corpus stats, funnel, EWMA
    "q_scan_zorder", "q_join_bucketed", "q_join_salted", "q_join_full",
    "q_entropy", "q_pmi", "q_embed_centroid", "q_dedup_cluster",
    "q_filter_funnel", "q_ewma", "q_chi2",
    // round 4 continued: oracle-backed MinHash-LSH, event analytics,
    // CDC/SCD2 maintenance, robust stats, weighted sampling
    "q_neardup_banded", "q_funnel", "q_cohort", "q_streak", "q_scd2",
    "q_merge_cdc", "q_outlier", "q_mad", "q_sample_weighted", "q_set_all",
    // round 4 continued: integrity audit, RFM segmentation, growth curve,
    // keyword extraction, relational count-min sketch, embedding health
    "q_fk_audit", "q_rfm", "q_win_cumdistinct", "q_keywords",
    "q_sketch_cm", "q_class_scatter", "q_centroid_sim", "q_skew_profile",
    "q_seq_match", "q_lm_score", "q_join_q8", "q_agg_incremental", "q_join_pit",
    "q_locf", "q_fill_linear", "q_win_pctrank",
    // round 6: the remaining TPC-H plan shapes — pushdown of factored
    // disjunctions (Q19), outer-join-preserving stacked aggs (Q13),
    // semi/anti late-supplier pipeline (Q21), exchange-reused shared
    // aggregate (Q15)
    "q_join_q7", "q_join_q9", "q_join_q10", "q_join_q12", "q_join_q13",
    "q_join_q14", "q_join_q15", "q_join_q19", "q_join_q21", "q_join_q22",
    "q_agg_q6", "q_join_q2", "q_join_q11", "q_join_q20",
    // round 6 third session: linear paragraph dedup, iterative PageRank,
    // exact prefix-filtered similarity join, snapshot diff
    "q_dedup_para", "q_pagerank", "q_jaccard_prefix", "q_snapshot_diff",
    "q_seasonal", "q_anomaly",
    // round 7: graph statistics + distribution tests
    "q_conncomp", "q_triangles", "q_ks_test", "q_zipf", "q_autocorr",
    // round 8: graph algorithms as joins+aggs, search/drift layer,
    // market basket, calibration audits, retrieval classify, journeys
    "q_lpa", "q_hits", "q_kcore", "q_markov", "q_bfs", "q_bipartite_proj",
    "q_modularity", "q_phrase_search", "q_kl_drift", "q_assoc_rules",
    "q_itemsim", "q_psi", "q_minhash_acc", "q_knn_classify", "q_path_top",
    "q_sax", "q_trend", "q_curriculum", "q_variant", "q_spearman",
    // round 8 session 3: classifier eval (distinct-score AUC), link
    // prediction on sparse wedges, interval sweep, recursive Holt fold,
    // nearest asof (two frames / one sort), compaction planner,
    // bootstrap hash-resampling, DAU growth accounting, media dedup
    "q_roc_auc", "q_adamic_adar", "q_interval_union", "q_holt",
    "q_join_asof_near", "q_compaction", "q_bootstrap", "q_growth_acct",
    "q_media_dedup", "q_mannwhitney", "q_cohort_ltv", "q_poisson_fit",
    "q_season_strength", "q_fold_balance",
    // round 8 session 4: causal/experimentation, series diagnostics,
    // graph closeness, business-metric profiles — the queries added
    // after the 315-query regeneration (round-8 verdict hygiene item)
    "q_cuped", "q_did", "q_retention", "q_hurst", "q_croston",
    "q_closeness", "q_gap_analysis", "q_ohlc", "q_rolling_pctl",
    "q_price_volume", "q_simpson", "q_cond_entropy", "q_effect_size",
    "q_pr_curve", "q_mahalanobis", "q_xyz", "q_lead_time", "q_aging",
    "q_return_rate", "q_var_backtest",
    // round 9: nonparametric/post-hoc family, robust/extreme trend,
    // decay attribution, personalized PageRank, IVF probe sweep
    "q_wilcoxon", "q_friedman", "q_mcnemar", "q_tukey_hsd",
    "q_theil_sen", "q_gumbel", "q_attribution_decay",
    "q_pagerank_pers", "q_ann_ivf_probe",
    // round 10: IVF-cell-blocked vector near-dup, MAP@10 over the
    // inverted index
    "q_neardup_embed", "q_map_at_k",
    // round 10 batch 2: Dunn post-hoc, hybrid RRF fusion, sparse cosine
    "q_dunn_test", "q_rrf", "q_sparse_cosine_topk",
    // round 10 batch 3: binary-blocks Cochran Q, ordered-alternative
    // Page trend, Cramer-von Mises exponential fit
    "q_cochran_q", "q_page_trend", "q_cvm_exp",
    // round 10 batch 4: Yule-Walker AR(2), IV instrument screening,
    // RFM quartile migration matrix
    "q_yule_walker", "q_iv_2sls", "q_rfm_migration",
    // round 10 batch 5: CCNet-style boilerplate strip, sequential A/B
    // monitoring, seasonal Mann-Kendall
    "q_boilerplate", "q_group_seq", "q_seasonal_mk",
    // round 10 batch 6: partial correlation, Oaxaca-Blinder gap
    // decomposition, embedding outlier gate
    "q_partial_corr", "q_oaxaca", "q_embed_outlier",
    // round 10 batch 7: Holt-Winters triple smoothing
    "q_holt_winters",
    // round 10 batch 8: Cliff's delta effect size, two-sample CvM,
    // Neyman sampling allocation
    "q_cliffs_delta", "q_cvm2", "q_neyman_alloc",
    // round 10 batch 9: hard-negative mining, embedding dim health,
    // nearest-neighbor matching ATT
    "q_hard_negatives", "q_embed_dimstats", "q_psm_att",
    // round 10 batches 10-12: classical inference, stationarity,
    // multiple testing, selection/causal/graph/ops
    "q_jarque_bera", "q_moods_median", "q_variance_ratio", "q_pettitt",
    "q_kpss", "q_bh_fdr", "q_somers_d", "q_auc_delong", "q_dsir",
    "q_rdd", "q_link_jaccard", "q_newsvendor",
    // round 10 batches 13-14: equivalence/mediation/redundancy/
    // inventory + LLM-corpus QC (the PLANS gap the r10 verdict flagged)
    "q_tost", "q_sobel", "q_theil_u", "q_safety_stock",
    "q_embed_drift", "q_token_fertility", "q_bigram_ppl",
    // round 11: semantic dedup + PQ ANN + corpus provenance QC,
    // inference, spectra, graph walks
    "q_semdedup", "q_ann_pq", "q_dup_coverage", "q_dup_matrix",
    "q_g_test", "q_squared_ranks", "q_poisson_disp", "q_periodogram",
    "q_sortino", "q_katz", "q_reciprocity", "q_holm",
    // round 11 batches 6-7: sliding-window dedup, curation dashboard,
    // span decontam, MH pooled OR, structural break
    "q_dedup_shift", "q_mix_report", "q_decontam_span", "q_mh_or",
    "q_chow",
    // round 11 batches 8-11: dedup funnel, quality terciles, budget
    // plans, split leakage, template mining, vocab overlap, collapse
    // QC, quantizer balance, LSH tuning sweep
    "q_dedup_cascade", "q_ccnet_bins", "q_epoch_plan", "q_chunk_plan",
    "q_split_leakage", "q_topic_tag", "q_pad_waste", "q_vocab_overlap",
    "q_template_docs", "q_cosine_hist", "q_cell_balance", "q_band_sweep",
    // round 11 batch 12: language mis-tag triage, eval-shard x source
    // contamination matrix
    "q_lang_mismatch", "q_contam_matrix",
    // round 11 batch 13: crawl-over-crawl JS drift, quota sampling
    "q_js_drift", "q_sample_topup",
    // round 11 batch 14: hapax-carrier triage, length-distribution PSI
    "q_rare_token_docs", "q_len_drift",
    // round 12: model-scored quality gate, joined curation budget, and
    // the full-corpus bench twins of the dedup/ANN scale family
    "q_model_gate", "q_curation_budget",
    "q_neardup_minhash_xl", "q_ann_ivf_xl", "q_semdedup_xl",
    "q_band_sweep_xl",
    // round 12: the complete IVF + PQ-on-residuals ANN structure,
    // classifier-vs-rules calibration, incremental index maintenance
    "q_ivfadc", "q_gate_calibration", "q_ann_incr", "q_cluster_keeper",
    "q_mix_alpha_sweep",
    // round 13: Gopher repetition rules, span merge + excision (dedup and
    // decontam), incremental near-dup, winnowing fingerprints, anneal
    // planner, rule ablation, MRL truncation eval, and one x10-generated
    // scaling twin (the other _xxl plans match their _xl siblings)
    "q_repetition_rules", "q_dedup_span", "q_dedup_excise",
    "q_neardup_incr", "q_decontam_excise", "q_winnowing",
    "q_anneal_plan", "q_quality_ablate", "q_mrl_recall",
    "q_neardup_minhash_xxl",
    // round 14: the scale-safe 64-bit SimHash (band join + broadcast-
    // fingerprint hamming verify — candidates never broadcast), the
    // multi-round BPE trainer, and one exact-verify x10 twin (the
    // er_match/containment _xxl plans match their declared siblings)
    "q_neardup_simhash64", "q_neardup_simhash64_xl", "q_bpe_train",
    "q_jaccard_prefix_xxl",
    // round 15: bucketed positional-index phrase search (exchange-free
    // over index rows), top-K-per-round BPE, and the iterative-graph /
    // events x10 scaling twins (pagerank shown; conncomp/lpa/sessionize
    // twins match their declared siblings' shapes over 10x edges)
    "q_phrase_search_xl", "q_bpe_train_topk", "q_pagerank_xxl",
    "q_pca_power", "q_kmeans_lloyd")

  /** The formatted physical plan of query `name` on `sf`, built with
    * `name` as the call site of every RDD the build creates. */
  def plan(spark: SparkSession, sf: String, name: String): String = {
    val sc = spark.sparkContext
    sc.setCallSite(name)
    try Registry.byName(name).run(spark, sf).queryExecution
      .explainString(FormattedMode)
    finally sc.clearCallSite()
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("PLANS.md")
    val named = args.drop(2).toSeq
    val names = if (named.isEmpty) headline else named
    val spark = Sessions.local(4)
    // Named dumps show full scan Location lists (lake fixtures span many
    // files); PLANS.md keeps the default 100-char truncation.
    if (named.nonEmpty) spark.conf.set("spark.sql.maxMetadataStringLength", "1000")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Declared surface: ${Registry.all.size} queries; " +
      s"${names.size} headline plans dumped below (every plan-shape\n" +
      "family is represented; PlanAudit sweeps the full surface for\n" +
      "cartesian/BNL violations and duplicate scans).\n\n")
    sb.append(s"Generated by `graft.tools.ExplainAll` on $sf. What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` on scans (pushdown/pruning),\n")
    sb.append("`BroadcastHashJoin` on dims vs `SortMergeJoin` on fact-fact\n")
    sb.append("edges, `TakeOrderedAndProject` for top-k, paired partial/final\n")
    sb.append("`HashAggregate` around each exchange.\n")
    names.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${plan(spark, sf, name)}```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${names.size} plans)")
    spark.stop()
  }
}
