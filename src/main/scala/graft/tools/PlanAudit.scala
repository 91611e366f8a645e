package graft.tools

import graft.engine.{Registry, Sessions}

/** Whole-surface physical-plan audit. Executes every declared query once
  * and reports two things from its executed plan:
  *
  *  - the gate ([[violation]]): a CartesianProduct, or a
  *    BroadcastNestedLoopJoin outside the known-tiny set — the cheap
  *    global guard PlanSpec's per-query pins cannot give. It reads the
  *    whole plan string, whose `== Initial Plan ==` section is the
  *    pre-execution plan. `AUDIT` lines; exit status 1 on any finding.
  *  - shared-subtree review (`MULTISCAN` lines): how often each base table
  *    is scanned in the FINAL adaptive plan (`== Initial Plan ==` stripped
  *    — it double-counts every subtree AQE later deduplicates). A table
  *    scanned more than once is either a genuinely different
  *    projection/filter (fine — the scans prune differently) or a shared
  *    subtree that failed canonical equality, usually because one consumer
  *    carries an inferred isnotnull the other lacks; an explicit
  *    `.isNotNull` on the shared branch re-enables ReuseExchange (see
  *    TpchShapes Q15/Q20 scaladocs for measured cases). This is a REVIEW
  *    aid, not a gate — multi-scan is often legitimate (self-joins on
  *    different slices, union fixtures), so findings need case-by-case
  *    adjudication before "fixing".
  *
  * Run:
  *   sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.001"
  */
object PlanAudit {
  // BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
  // provably constant-size or bounded, audited case by case (round 6):
  private val allowedBnl = Set(
    // literal band tables / tiny dim crosses
    "q_join_range", "q_join_cross",
    // single-row scalar broadcasts (corpus totals, averages, thresholds)
    "q_pmi", "q_rfm", "q_histogram", "q_select_budget", "q_mix_weights",
    "q_chi2", "q_null_profile", "q_lm_score", "q_sample", "q_outlier",
    "q_tfidf", "q_bm25", "q_keywords", "q_multimodal", "q_fk_audit",
    "q_skew_profile", "q_copurchase", "q_join_q22", "q_join_q11",
    "q_pagerank", "q_pagerank_xxl", // same 1-row |V| broadcast as parent
    // scalar/uncorrelated subquery rewrites (1-row broadcast by definition)
    "q_subquery", "q_corr_scalar",
    // bounded generated spines (per-user day ranges, constant width)
    "q_gapfill", "q_locf", "q_fill_linear", "q_seasonal", "q_anomaly",
    // bounded probe/centroid/salt-replication sets
    "q_sim_topk", "q_ann_ivf", "q_centroid_sim", "q_join_salted",
    // round-8 single-row scalar broadcasts (series/corpus totals,
    // quantile-bound rows, constant lag tables) — audited 2026-08-14
    "q_sax", "q_survival", "q_cross_corr", "q_qq", "q_stickiness",
    "q_kl_drift", "q_cramers_v", "q_assoc_rules",
    // bounded probe set (25 vectors) against the corpus scan; decile-edge
    // and prior-total 1-row broadcasts
    "q_knn_classify", "q_psi", "q_target_encode",
    // 10-row checkpoint broadcasts driving <= range joins (Heaps curve)
    "q_heaps",
    // 1-row normalization/edge-count/grand-moment broadcasts
    "q_hits", "q_modularity", "q_jackknife", "q_clustering_coef",
    // calendar-bounded monthly self-pairs (~24-row broadcast; the τ-b
    // identity needs all C(n,2) pairs and n is fixed by the calendar)
    "q_kendall",
    // 1-row broadcast of the chance-agreement margin / log-log slope
    "q_kappa", "q_degree_dist",
    // q_seasonal's bounded generated spine (shared frame), q_survival's
    // 1-row broadcasts inherited by the Weibull composition, and the
    // bootstrap's 1-row raw-stats broadcast
    "q_season_strength", "q_weibull_fit", "q_bootstrap",
    // round-8 session 4 (audited 2026-08-14): 10-row probe-set broadcast
    // (the q_sim_topk posture) for the ranking metrics; 1-row calibration
    // broadcast for the Brier decomposition
    "q_ndcg", "q_mrr", "q_brier",
    // 1-row scalar broadcasts: global moments/totals (Grubbs stats row,
    // Kruskal n/ties row, Ljung-Box denominator, CUPED/MDE pooled moments
    // + first-day bound, permutation-test observed statistic, Hurst
    // 3-point OLS fit row)
    "q_grubbs", "q_kruskal", "q_ljung_box", "q_cuped", "q_mde",
    "q_perm_test", "q_hurst", "q_collocation",
    // 1-row observation-window-end broadcast for the retention censor
    "q_retention",
    // 40-per-label probe-subset pair joins (bounded at any SF)
    "q_energy_dist",
    // 1-row corpus-count broadcast (sweep denominator); 5-row probe
    // broadcast for the exact-top-10 side of the recall comparison
    "q_dedup_sweep", "q_ann_recall",
    // 5-probe bounded broadcast cross for the MRL truncation sweep (the
    // q_ann_recall posture)
    "q_mrl_recall",
    // 1-row phase-budget totals broadcast (the q_mix_weights posture)
    "q_anneal_plan",
    // 1-row broadcasts: bigram grand total (entropy denominators) and
    // pooled-moment row (Simpson pooled slope)
    "q_cond_entropy", "q_simpson",
    // 1-row covariance-stats broadcast scoring the fact scan
    "q_mahalanobis",
    // 1-row vector-count broadcast (covariance centering denominator)
    "q_pca_power", "q_pca_power_xl", "q_pca_top2", "q_pca_outliers",
    // 1-row broadcasts: global week count (XYZ CV denominator) and the
    // aging observation horizon
    "q_xyz", "q_aging",
    // 1-row broadcasts: pooled return cells; fitted VaR threshold
    "q_return_rate", "q_var_backtest",
    // calendar-bounded weekly self-pairs (~345-row broadcast; the
    // Mann-Kendall S needs all C(n,2) pairs and n is fixed by the
    // calendar — the q_kendall posture)
    "q_mk_trend",
    // round 9 (audited 2026-08-14): 5-row group-table pair join +
    // 1-row MSE broadcast (Tukey-Kramer); calendar-bounded weekly
    // self-pairs + 1-row median-slope broadcast (Sen estimator — the
    // q_mk_trend posture)
    "q_tukey_hsd", "q_theil_sen",
    // 1-row seed-count broadcast per iteration (personalized teleport —
    // the q_pagerank posture); broadcast centroid/5-probe crosses (the
    // q_ann_ivf / q_ann_recall posture)
    "q_pagerank_pers", "q_ann_ivf_probe",
    // round 10: broadcast centroid cross for the cell assignment (the
    // q_ann_ivf posture); candidates themselves come from the cell
    // equi-join only
    "q_neardup_embed",
    // round-10 batch 2: 5-row group-pair + 1-row moment broadcasts (Dunn
    // post-hoc — the q_tukey_hsd posture); 5-probe bounded crosses (RRF
    // vector leg — the q_sim_topk posture); 1-row n_docs broadcast
    // (sparse-cosine idf)
    "q_dunn_test", "q_rrf", "q_sparse_cosine_topk",
    // round-10 batch 3: 1-row scalar broadcasts (column-total row for
    // Cochran's Q; n/Σg total row for the CvM exponential fit — the
    // q_kruskal / q_grubbs posture)
    "q_cochran_q", "q_cvm_exp",
    // round-10 batch 4: 1-row broadcasts (epoch-day midpoint row, two
    // 1-row quartile-breakpoint tables — the q_rfm posture)
    "q_rfm_migration",
    // round-10 batch 5: 1-row broadcasts (the in-query footer row for
    // the boilerplate plant; the S-row x ties-row cross for seasonal MK
    // — the q_mk_trend posture)
    "q_boilerplate", "q_seasonal_mk",
    // round-10 batch 6: 1-row broadcasts (centroid-norm row + corpus
    // moment row for the embedding gate; the B-group cell row for the
    // Oaxaca decomposition — the q_cuped posture)
    "q_embed_outlier", "q_oaxaca",
    // round-10 batch 8: 1-row weight-total broadcast (Neyman quota
    // denominator — the q_mix_weights posture)
    "q_neyman_alloc",
    // round-10 batch 9: 1-row first-day broadcast (the q_cuped posture)
    "q_psm_att",
    // round-10 batch 10: 1-row grand-median broadcast scoring the
    // collapsed (brand, cents) table (the q_outlier posture)
    "q_moods_median",
    // round-10 batch 11: ≤35-cell contingency self-pairs + 1-row
    // diagonal broadcast (the q_kendall posture)
    "q_somers_d",
    // round-10 batch 12: 1-row vocabulary-totals broadcast feeding the
    // smoothed log-ratio projection (the q_tfidf posture)
    "q_dsir",
    // round-10 batch 13: two 1-row marginal-entropy broadcasts joined
    // to the 1-row joint-entropy row (the q_cond_entropy posture)
    "q_theil_u",
    // round-10 batch 14: 1-row vocab-size broadcast feeding the
    // smoothed bigram log-prob projection (the q_dsir posture)
    "q_bigram_ppl",
    // round 11: broadcast centroid cross for the cell assignment (the
    // q_ann_ivf / q_neardup_embed posture — drop candidates come only
    // from the cell equi-join); ≤10-row codebook broadcast crosses for
    // the PQ code assignment + 5-probe ADC table (the q_ann_recall
    // posture)
    "q_semdedup", "q_ann_pq",
    // round-11 batch 2: 1-row series-origin (min day) broadcast anchoring
    // the angle index (the q_cuped first-day posture)
    "q_periodogram",
    // round-11 batch 3: 1-row OLS-fit (a, b) broadcast scoring the
    // residual spread (the q_var_backtest fitted-threshold posture)
    "q_coint",
    // round-11 batch 4: 1-row parameter-vector broadcast per EM
    // iteration (the q_markov template on a parameter row); 1-row
    // sketch-summary crosses (four k-th-order-statistic rows + exact
    // row — the q_approx_distinct posture)
    "q_em_poisson2", "q_kmv_setops",
    // round-11 batch 5: 1-row mixture-weight/doc-grand-total broadcast
    // scoring the |sources|-row report (the q_neyman_alloc /
    // q_mix_weights posture)
    "q_mix_report",
    // round-11 batch 8: the same 1-row weight-total/token-total broadcast
    // scoring the |sources|-row epoch plan (q_mix_weights posture)
    "q_epoch_plan",
    // round-11 batch 11: bounded centroid-set broadcast for the IVF
    // assignment (the q_ann_ivf posture — the QC shares the index build)
    "q_cell_balance",
    // round 12: the full-corpus bench twin inherits q_ann_ivf's bounded
    // (9-centroid) broadcast cross exactly — the corpus side grew, the
    // broadcast did not
    "q_ann_ivf_xl",
    // round 12: 1-row mixture-weight-total broadcast scoring the
    // |sources|-row budget plan (the q_mix_report posture)
    "q_curation_budget",
    // round 12: IVFADC — bounded centroid broadcast for the coarse
    // assignment (q_ann_ivf posture) + bounded residual-codebook/5-probe
    // ADC-table broadcasts (q_ann_pq posture); candidates only from the
    // cell equi-join; the _xl/_xxl twins inherit the identical bounded
    // broadcasts over the full / x10-generated corpus
    "q_ivfadc", "q_ivfadc_xl", "q_ivfadc_xxl",
    // round 12: the same bounded centroid broadcast driving the
    // standing-index assignment of the arriving batch (q_ann_ivf posture)
    "q_ann_incr",
    // round-11 batch 13: 1-row token-total / doc-total broadcasts scoring
    // the vocab table (JS drift) and the |langs|-row rate table (quota
    // sampling) — the q_mix_weights posture
    "q_js_drift", "q_sample_topup",
    // round-11 batch 14: the same 1-row bucket-total broadcast over the
    // 10-row length-bucket table
    "q_len_drift",
    // round-11 batch 6: 1-row OLS-fit / calendar-bounds / series-origin
    // broadcasts over the |days|-row daily aggregate (the q_coint /
    // q_cuped / q_periodogram postures)
    "q_dw", "q_chow", "q_spectral_entropy",
    // round-11 batch 7: the same 1-row fit/moment-row broadcasts for the
    // auxiliary-regression and per-observation-influence diagnostics
    "q_breusch_pagan", "q_cooks_top",
    // round-13 late: 1-row learned-merge-table broadcast into the per-doc
    // replace chain (the q_mix_weights 1-row-totals posture; the merge
    // list is top-4 by construction, constant-size at any corpus)
    "q_bpe_merge")

  /** The gate: `Some(finding)` when query `name`'s physical plan string
    * holds a CartesianProduct or a BroadcastNestedLoopJoin it is not
    * allowed. */
  def violation(name: String, plan: String): Option[String] = {
    val cart = plan.contains("CartesianProduct")
    val bnl = plan.contains("BroadcastNestedLoopJoin") && !allowedBnl.contains(name)
    if (cart || bnl) Some(s"cartesian=$cart unexpected_bnl=$bnl") else None
  }

  /** `table -> n` for each base table scanned more than once in `plan`,
    * keyed by the last segment of the scan's Location root path (works for
    * single-file tables AND lake-fixture directories like orders_by_month /
    * media — a '.parquet' filename regex misses the latter entirely). */
  private def multiScans(plan: String): Seq[(String, Int)] =
    "Location: \\w+\\(\\d+ paths?\\)\\[([^\\]]*)\\]".r.findAllMatchIn(plan)
      .map(_.group(1).split(",")(0).trim
        .stripSuffix("/").split("/").last.stripSuffix(".parquet"))
      .toSeq.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > 1).toMap.toSeq.sortBy(-_._2)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Sessions.local(4)
    // Location strings truncate at the default 100-char metadata limit,
    // which would hide the path the multi-scan count keys on.
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    var bad = 0
    var multi = 0
    Registry.all.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        violation(q.name, plan).foreach { f =>
          bad += 1
          println(s"AUDIT ${q.name}: $f")
        }
        // the final plan only: AQE appends the pre-execution tree
        val fin = plan.split("== Initial Plan ==")(0)
        val scans = multiScans(fin)
        if (scans.nonEmpty) {
          multi += 1
          val reused = "ReusedExchange".r.findAllIn(fin).size
          println(s"MULTISCAN ${q.name}: " +
            scans.map { case (t, n) => s"$t=$n" }.mkString(",") + s" reused=$reused")
        }
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"AUDIT ${q.name}: failed ${e.getClass.getSimpleName}")
      }
    }
    println(s"AUDIT_DONE bad=$bad of ${Registry.all.size} multiscan=$multi")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
