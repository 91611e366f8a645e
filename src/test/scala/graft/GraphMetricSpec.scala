package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Registry, Tables}

/** Semantic invariants + plan pins for the round-8 graph/metric surface
  * (GraphOps, MetricOps), and the q_containment candidate-volume drift
  * guard (round-7 verdict item: an absolute rare-gram cutoff is
  * corpus-distribution-sensitive — pin the candidate volume so a data
  * regen that explodes it fails loudly here instead of silently going
  * quadratic in the bench).
  */
class GraphMetricSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf)
      .queryExecution.executedPlan.toString

  test("new graph/metric queries never degrade to a cartesian product") {
    for (q <- Seq("q_bipartite_proj", "q_kcore", "q_markov", "q_gini",
        "q_survival", "q_cross_corr", "q_qq")) {
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("q_kcore's fixed round count reaches the peeling fixed point") {
    // One more degree-filter round on the query's OUTPUT must remove
    // nothing: every reported member already has core_degree >= 3, and
    // the edge set it was computed from is stable under another peel.
    val core = Registry.byName("q_kcore").run(spark, sf)
    val n = core.count()
    assert(n > 0, "3-core is empty at sf0.001")
    assert(core.filter(col("core_degree") < 3).count() == 0,
      "a reported 3-core member has degree < 3 — rounds too low")
  }

  test("q_markov conserves probability mass through the power steps") {
    val v = Registry.byName("q_markov").run(spark, sf)
      .agg(sum(col("stationary_p"))).head.getDouble(0)
    // each step is v·P with row-stochastic P; 6dp rounding per cell
    assert(math.abs(v - 1.0) < 1e-4, s"mass after 4 steps: $v")
  }

  test("q_gini values are valid inequality coefficients") {
    val g = Registry.byName("q_gini").run(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      val v = r.getAs[Double]("gini")
      assert(v >= 0.0 && v < 1.0, s"${r.getAs[String]("n_name")}: $v")
    }
  }

  test("q_survival log-survival is non-increasing in lifetime") {
    val s = Registry.byName("q_survival").run(spark, sf)
      .orderBy(col("lifetime_days")).collect()
    assert(s.nonEmpty)
    s.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Double]("km_log_surv") <=
          a.getAs[Double]("km_log_surv") + 1e-9,
          s"S(t) increased at t=${b.getAs[Int]("lifetime_days")}")
      case _ => ()
    }
    // censoring-awareness: at least one user is censored (last event in
    // the final week), so deaths < users
    val users = s.map(_.getAs[Long]("n_deaths")).sum
    val atRisk = s.head.getAs[Long]("n_risk")
    assert(users < atRisk, "no censoring observed — definition drifted")
  }

  test("q_cross_corr emits all seven lags over full overlap windows") {
    val r = Registry.byName("q_cross_corr").run(spark, sf).collect()
    assert(r.map(_.getAs[Int]("lag_days")).toSeq.sorted == (-3 to 3).toSeq)
    r.foreach { row =>
      val v = row.getAs[Double]("r")
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"r out of range: $v")
    }
  }

  test("q_qq deciles are monotone within each series") {
    val rows = Registry.byName("q_qq").run(spark, sf)
      .orderBy(col("decile")).collect()
    assert(rows.length == 9)
    for (c <- Seq("click_value", "purchase_value")) {
      val vs = rows.map(_.getAs[Double](c))
      assert(vs.zip(vs.tail).forall { case (a, b) => a <= b },
        s"$c deciles not monotone")
    }
  }

  test("search/drift/stickiness/bfs invariants hold") {
    for (q <- Seq("q_phrase_search", "q_kl_drift", "q_stickiness", "q_bfs"))
      assert(!plan(q).contains("CartesianProduct"), q)
    val ps = Registry.byName("q_phrase_search").run(spark, sf).collect()
    assert(ps.nonEmpty, "top trigram matched no document")
    assert(ps.forall(_.getAs[Int]("n_occurrences") >= 1))
    val kl = Registry.byName("q_kl_drift").run(spark, sf).collect()
    assert(kl.nonEmpty)
    assert(kl.forall(_.getAs[Double]("kl_nats") >= -1e-9),
      "KL divergence must be non-negative")
    val st = Registry.byName("q_stickiness").run(spark, sf).collect()
    assert(st.nonEmpty)
    st.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("mau"))
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0, s"stickiness $s")
    }
    val bfs = Registry.byName("q_bfs").run(spark, sf).collect()
    val hop0 = bfs.filter(_.getAs[Int]("hops") == 0)
    assert(hop0.length == 1 && hop0.head.getAs[Long]("n_reached") == 1L,
      "exactly the seed at distance 0")
    assert(bfs.length > 1, "BFS never left the seed")
  }

  test("q_triangles/q_conncomp edge list stays sparse under data drift") {
    // The triangle close is two equi-joins whose wedge volume is
    // sum(deg^2); the support>=2 floor is what keeps it sparse. Pin the
    // resulting degree so a corpus regen that densifies co-purchases
    // fails here, not as a silent bench blow-up (the q_containment
    // lesson applied to the graph family). Threshold: max degree <= 64
    // (measured <= ~20 at every current SF).
    import spark.implicits._
    val e = graft.operators.CoPurchase.supported(spark, sf)
    val deg = e.select($"pa".as("v")).unionByName(e.select($"pb".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    val maxDeg = deg.agg(max($"d")).head.getLong(0)
    assert(maxDeg <= 64,
      s"max co-purchase degree $maxDeg — support floor no longer bounds " +
        "the wedge volume; add degree-ordered orientation before scaling")
  }

  test("q_containment candidate volume stays linear in the corpus") {
    // Reconstruct the candidate-generation stage (rare-gram posting
    // self-join, support >= 2) and pin its volume: if a testdata regen
    // shifts the gram-df distribution, candidates explode HERE, not as
    // an 8s bench mystery. Bound: candidates <= 30 x docs (measured
    // ~2-4x at every current SF; 30x is the alarm threshold).
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val g = docs
      .select($"doc_id", split($"text", " ").as("l"))
      .select($"doc_id",
        explode(expr(
          "array_distinct(transform(sequence(1, greatest(size(l)-2, 1)), " +
            "i -> concat_ws(' ', element_at(l, i), " +
            "element_at(l, least(i+1, size(l))), " +
            "element_at(l, least(i+2, size(l))))))")).as("gram"))
    val rare = g.groupBy($"gram").agg(count(lit(1)).as("df"))
      .filter($"df" <= 8).select($"gram")
    val posting = g.join(rare, "gram")
    val nCand = posting.as("x").join(posting.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id"), col("y.doc_id"))
      .agg(count(lit(1)).as("ns"))
      .filter($"ns" >= 2)
      .count()
    val nDocs = docs.count()
    assert(nCand <= 30L * nDocs,
      s"containment candidates $nCand > 30x docs $nDocs — " +
        "rare-gram cutoff no longer fits this corpus")
  }
}
