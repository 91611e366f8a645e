package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Registry

/** Physical-plan assertions (SURVEY.md §4): the optimizations we rely on
  * for 100 TB scale must actually appear in the plan — predicate pushdown
  * into the parquet scan, column pruning, broadcast joins for dims,
  * sort-merge for fact⋈fact, top-k instead of global sort.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    Registry.byName(name).run(spark, sf)
      .queryExecution.executedPlan.toString

  test("q_filter pushes predicates into the parquet scan") {
    val plan = physicalPlan("q_filter")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("In(o_orderstatus"), plan)
  }

  test("q_project prunes the scan to the referenced columns") {
    val plan = physicalPlan("q_project")
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_returnflag"), "scan should not read l_returnflag")
    assert(!plan.contains("l_shipdate"), "scan should not read l_shipdate")
  }

  test("q_join_bcast uses broadcast hash joins for all three dims") {
    val plan = physicalPlan("q_join_bcast")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_join_bcast customer broadcast is threshold-driven; dims stay pinned") {
    // threshold off: the un-hinted customer edge must degrade to a
    // non-broadcast join (no forced broadcast of an SF-growing table),
    // while the hinted true dims (nation/region) remain broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = physicalPlan("q_join_bcast")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_smj pins a sort-merge join for the fact-fact edge") {
    val plan = physicalPlan("q_join_smj")
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("q_join_smj customer broadcast is threshold-driven, not hard-coded") {
    // default threshold: customer (tiny at this SF) is auto-broadcast
    val plan = physicalPlan("q_join_smj")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // threshold off: the SAME query must degrade to a non-broadcast join —
    // proof there is no forced broadcast hint on a table that grows with SF
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val noBcast = physicalPlan("q_join_smj")
      assert(!noBcast.contains("BroadcastHashJoin"), noBcast)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_q5 customer/supplier joins degrade off broadcast when the threshold is off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = physicalPlan("q_join_q5")
      // hinted geography dims stay broadcast; the SF-scaling customer and
      // supplier edges must fall back to sort-merge with the threshold off
      assert(plan.contains("SortMergeJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_sort_limit compiles to top-k, not a global sort") {
    val plan = physicalPlan("q_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_join_range broadcasts the band table (no cartesian shuffle)") {
    val plan = physicalPlan("q_join_range")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_pricing aggregates partially before the shuffle") {
    val plan = physicalPlan("q_pricing")
    // partial + final HashAggregate pair around the shuffle (AQE prints the
    // un-executed plan, so codegen span labels aren't visible here)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q_join_q5 builds the hash side from filtered orders, not lineitem") {
    val plan = physicalPlan("q_join_q5")
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      "fact-fact edge should be a shuffled-hash join (no sorts)")
  }

  test("q_sample pushes nothing to the driver and keeps the filter codegen'd") {
    val plan = physicalPlan("q_sample")
    assert(plan.contains("Filter"), plan)
    assert(!plan.contains("CollectLimit"), plan)
  }

  test("q_gapfill broadcasts the spine-dimension join") {
    val plan = physicalPlan("q_gapfill")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_dedup_latest ranks per key with exactly one shuffle of the input") {
    val plan = physicalPlan("q_dedup_latest")
    assert(plan.contains("row_number()"), plan)
    assert(plan.contains("Filter (rn"), plan)
    // one hash exchange for the window + one range exchange for the
    // presentation sort of the (much smaller) deduped output — no more
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
  }

  test("q_scan_partitioned turns the month predicate into partition filters") {
    val plan = physicalPlan("q_scan_partitioned")
    // the range predicate must land in PartitionFilters (directory-level
    // pruning), not in PushedFilters / a post-scan Filter
    val pf = "PartitionFilters: \\[[^\\]]*o_month[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, plan)
    assert(pf.get.contains(">=") && pf.get.contains("<="), pf.get)
  }

  test("q_join_dpp plants a dynamic-pruning subquery on the fact scan") {
    val plan = physicalPlan("q_join_dpp")
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("q_unpivot expands without shuffling") {
    val plan = physicalPlan("q_unpivot")
    assert(plan.contains("Expand"), plan)
    // only the presentation sort may exchange; the Expand itself must not
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
  }

  test("q_join_bucketed feeds the join from bucket layout, not an Exchange") {
    val plan = physicalPlan("q_join_bucketed")
    assert(plan.contains("SortMergeJoin"), plan)
    // co-bucketed sides: no hash-repartition of either join key may
    // appear between the scans and the join
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
  }

  test("q_phrase_search_xl never exchanges index rows (bucketed layout)") {
    // every index consumer keys on the bucket column doc_id: the gram
    // window, both adjacency self-joins, and the final per-doc count
    // must all read the bucket layout — no hash repartition on doc_id
    // anywhere in the plan. The only Exchange allowed moves gram counts
    // (post-aggregation vocabulary rows, not corpus rows). At sf0.001
    // the self-joins auto-broadcast (tiny index), so ALSO pin the
    // at-scale shape with broadcast off: bucketed SortMergeJoin, still
    // with zero doc_id exchanges.
    val plan = physicalPlan("q_phrase_search_xl")
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange hashpartitioning(doc_id"), plan)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = physicalPlan("q_phrase_search_xl")
      assert(p2.contains("SortMergeJoin"), p2)
      assert(!p2.contains("Exchange hashpartitioning(doc_id"), p2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_outlier broadcasts the per-group fence table onto the fact") {
    val plan = physicalPlan("q_outlier")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_neardup_banded stays equi-join end to end (no all-pairs operator)") {
    val plan = physicalPlan("q_neardup_banded")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_dedup_edit verifies only blocked candidates (no all-pairs operator)") {
    val plan = physicalPlan("q_dedup_edit")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_containment generates candidates from the rare-gram equi-join only") {
    val plan = physicalPlan("q_containment")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_attribution plans the interval as an equi-join post-filter, not BNL") {
    val plan = physicalPlan("q_attribution")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_triangles closes triangles via equi-joins on the oriented edges") {
    val plan = physicalPlan("q_triangles")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_ks_test collapses to per-value counts before the ECDF windows") {
    val plan = physicalPlan("q_ks_test")
    // the only pass over raw orders is the combinable groupBy(v):
    // partial+final HashAggregate pair below the window operators
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("PushedFilters: ["), plan)
  }

  test("q_merge_cdc applies the change set through one full outer join") {
    val plan = physicalPlan("q_merge_cdc")
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_funnel joins per-user aggregates, not raw events") {
    val plan = physicalPlan("q_funnel")
    // each stage pre-aggregates (partial+final pairs) before its join
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_scd2 runs both window passes over one partitioning of orders") {
    val plan = physicalPlan("q_scd2")
    // same partitionBy+orderBy for change-detect and valid_to passes: one
    // hash exchange, plus only the presentation sort's range exchange
    assert("Exchange".r.findAllIn(plan).size <= 2, plan)
  }

  test("q_rfm scores through broadcast breakpoints, never a global window") {
    // the scale contract: quartile assignment must NOT serialize
    // |customers| rows through a single unpartitioned Window/ntile task
    val plan = physicalPlan("q_rfm")
    assert(!plan.contains("Window"), plan)
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findFirstIn(plan).isDefined, plan)
  }

  test("q_sketch_cm probes the sketch via broadcast, no sort-merge join") {
    val plan = physicalPlan("q_sketch_cm")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan) // top-20, no global sort
  }

  test("q_class_scatter broadcasts centroids; embeddings never shuffle") {
    val plan = physicalPlan("q_class_scatter")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the corpus side must reach the join scan-direct: its only Exchanges
    // belong to the constant-size centroid aggregations (by label/pos)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_skew_profile takes top-20 keys without a global sort") {
    val plan = physicalPlan("q_skew_profile")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("promoted near-dup queries stay equi-join end to end (no all-pairs)") {
    // the round-6 oracle-green variants must keep q_neardup_banded's scale
    // shape: band equi-join candidate generation, never a cartesian
    for (q <- Seq("q_neardup_minhash", "q_neardup_simhash", "q_neardup_cosine")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    // q_neardup_embed: candidates only from the cell equi-join; the only
    // permitted non-equi joins are broadcast centroid assignments (tiny;
    // one per side of the blocked self-join — the q_ann_ivf allowance)
    val embed = physicalPlan("q_neardup_embed")
    assert(!embed.contains("CartesianProduct"), embed)
    assert("BroadcastNestedLoopJoin".r.findAllIn(embed).size <= 2, embed)
  }

  test("promoted ANN queries bucket candidates; cross joins only touch broadcast centroids") {
    // LSH: probes x corpus candidates come from the band equi-join only
    val lsh = physicalPlan("q_ann_lsh")
    assert(!lsh.contains("CartesianProduct"), lsh)
    assert(!lsh.contains("BroadcastNestedLoopJoin"), lsh)
    // IVF: the only non-equi joins are the corpus/probe x centroid
    // assignments, and both must be broadcast (centroids are tiny); the
    // candidate join itself is an equi-join on cell
    val ivf = physicalPlan("q_ann_ivf")
    assert(!ivf.contains("CartesianProduct"), ivf)
    assert("BroadcastNestedLoopJoin".r.findAllIn(ivf).size <= 2, ivf)
  }

  test("vector-query quantizers are fixed-COUNT bottom-K samples in-plan") {
    // the centroid/codebook subtree must be a TakeOrderedAndProject
    // (bottom-K by hash: per-partition top-K, constant-size broadcast)
    // — a fixed-RATE filter sample would grow the broadcast with the
    // corpus and void the 100 TB "centroids broadcast" posture
    // (q_semdedup shares the idiom but localCheckpoints the assignment,
    // so its centroid subtree is not visible in the final plan)
    for (q <- Seq("q_ann_ivf", "q_ann_ivf_probe", "q_neardup_embed",
        "q_ann_pq", "q_cell_balance")) {
      val plan = physicalPlan(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: no bottom-K quantizer sample in plan\n$plan")
    }
  }

  test("q_seq_match bounds per-user state in a single window pass") {
    val plan = physicalPlan("q_seq_match")
    // full-history count + trailing-256 rank share one (partition, order)
    // spec -> ONE WindowExec before the collect; a second Window would
    // mean the fusion regressed to two sorts
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_join_q19 pushes the factored OR bounds into both parquet scans") {
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val plan = physicalPlan("q_join_q19")
      // the hand-factored common bounds must reach the scans — Catalyst
      // does not CNF-push the straddling OR on its own
      assert(plan.contains("LessThanOrEqual(l_quantity,30.0)"), plan)
      assert(plan.contains("In(p_brand"), plan)
      assert(plan.contains("LessThanOrEqual(p_size,15)"), plan)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("q_agg_q6 pushes all three predicates to the scan (join-free shape)") {
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val plan = physicalPlan("q_agg_q6")
      assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
      assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)"), plan)
      assert(plan.contains("LessThan(l_quantity,24.0)"), plan)
      assert(!plan.contains("Join"), "Q6 must not join anything: " + plan)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("q_join_q13 keeps the outer join (exclusion lives in the join condition)") {
    val plan = physicalPlan("q_join_q13")
    // a WHERE-placed exclusion would let Catalyst turn this inner and
    // silently drop the k=0 bucket — the classic Q13 trap
    assert(plan.contains("LeftOuter"), plan)
  }

  test("q_join_q21 scans each fact once (EXISTS pair folded into one agg)") {
    val plan = physicalPlan("q_join_q21")
    // the naive semi+anti formulation re-derives the late set per
    // subquery — 6 lineitem scans in the final plan; the per-order
    // aggregate form must read each fact exactly once
    assert("lineitem\\.parquet".r.findAllIn(plan).size == 1, plan)
    assert("orders\\.parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // and the two stacked groupBys ride the join's orderkey partitioning:
    // exactly one exchange on the fact side feeds join + both aggs
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(plan).size <= 1, plan)
  }

  test("q_join_q10 takes the top 20 without a global sort") {
    val plan = physicalPlan("q_join_q10")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_join_q15 computes the per-supplier aggregate once (exchange reuse)") {
    // reuse is decided during adaptive execution — run the query, then
    // inspect the final plan; without the explicit isNotNull on the
    // shared subtree the two rev branches are not canonically equal and
    // lineitem is scanned twice
    val df = Registry.byName("q_join_q15").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("round-6 dedup/graph additions stay equi-join (no all-pairs operator)") {
    // prefix-filtered similarity join: candidates ONLY from the prefix
    // token equi-join; paragraph dedup: digest agg + row-identity semi;
    // pagerank: edge-list equi-joins (the 1-row nv broadcast is the
    // allowlisted scalar cross)
    for (q <- Seq("q_jaccard_prefix", "q_dedup_para")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    val pr = physicalPlan("q_pagerank")
    assert(!pr.contains("CartesianProduct"), pr)
  }

  test("q_scan_zorder pushes both cluster-column predicates to the scan") {
    // the default 100-char metadata truncation cuts the PushedFilters list
    // before the second column — widen it for this assertion
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val plan = physicalPlan("q_scan_zorder")
      // both z-order cluster columns must reach PushedFilters — that is
      // what lets parquet footer stats skip files the Morton layout made
      // tight
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
      assert(pushed.isDefined, plan)
      assert(pushed.get.contains("GreaterThanOrEqual(user_id"), pushed.get)
      assert(pushed.get.contains("GreaterThanOrEqual(value"), pushed.get)
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("ExplainAll names checkpoint scans after the query, not a source line") {
    // q_kcore's edge list and peeled levels are localCheckpoint'd; an RDD
    // call site of `<File>.scala:<line>` would make a dump change when an
    // edit only moves lines
    val plan = graft.tools.ExplainAll.plan(spark, sf, "q_kcore")
    assert(plan.contains("RDD["), plan)
    assert(!plan.contains(".scala:"), plan)
    assert(plan.contains(" at q_kcore"), plan)
  }
}
