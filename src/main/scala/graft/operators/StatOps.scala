package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._

/** Distribution, text-distribution, and graph statistics (SURVEY.md §2.B
  * extension, round 7): two-sample Kolmogorov–Smirnov, winsorized robust
  * means, lexical diversity, Zipf-slope fitting, and triangle counting.
  * Scale posture: every query collapses its fact to a bounded
  * intermediate first — distinct values for KS, (group, token) counts
  * for the text statistics, a support-thresholded edge list for the
  * graph — so the exact passes downstream run over group-count- or
  * vocabulary-bounded inputs, not raw rows.
  */
object StatOps {

  /** Two-sample Kolmogorov–Smirnov statistic between the 1995 order-value
    * distributions of URGENT vs LOW priority orders: D = max over values
    * of |F1(v) − F2(v)|, located exactly. The fact collapses to per-
    * distinct-value counts first (combinable groupBy — the only pass
    * that sees raw rows); the ECDFs are integer running sums over that
    * value-bounded table. The unpartitioned cumulative window is the
    * inherent exact-KS shape; at 100 TB the same plan runs per
    * COMPARISON CELL (partitionBy the cell key), or the value axis is
    * pre-binned — both documented alternatives keep this query's
    * integer-count determinism; a third, for an unbounded value axis,
    * is the range-partitioned two-pass prefix sum proven bit-identical
    * in RankAtScaleSpec. The argmax row carries a total (D desc,
    * value asc) tiebreak. */
  val qKsTest: GQuery = GQuery(
    "q_ks_test",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .filter(year($"o_orderdate") === 1995 &&
          $"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .select($"o_totalprice".as("v"), $"o_orderpriority".as("pri"))
      val g = o.groupBy($"v")
        .agg(sum(when($"pri" === "1-URGENT", 1L).otherwise(0L)).as("c1"),
          sum(when($"pri" === "5-LOW", 1L).otherwise(0L)).as("c2"))
      val wc = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      g.withColumn("r1", sum($"c1").over(wc))
        .withColumn("r2", sum($"c2").over(wc))
        .withColumn("n1", sum($"c1").over(wAll))
        .withColumn("n2", sum($"c2").over(wAll))
        .withColumn("d", r6(abs($"r1".cast("double") / $"n1" -
          $"r2".cast("double") / $"n2")))
        .orderBy($"d".desc, $"v")
        .limit(1)
        .select($"n1", $"n2", $"d".as("ks_d"), $"v".as("at_value"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_totalprice AS v, o_orderpriority AS pri
        FROM orders
        WHERE year(o_orderdate) = 1995
          AND o_orderpriority IN ('1-URGENT', '5-LOW')),
      g AS (
        SELECT v,
               cast(sum(CASE WHEN pri = '1-URGENT' THEN 1 ELSE 0 END)
                 as bigint) AS c1,
               cast(sum(CASE WHEN pri = '5-LOW' THEN 1 ELSE 0 END)
                 as bigint) AS c2
        FROM o GROUP BY v),
      c AS (
        SELECT v,
               cast(sum(c1) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS r1,
               cast(sum(c2) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS r2,
               cast(sum(c1) OVER () as bigint) AS n1,
               cast(sum(c2) OVER () as bigint) AS n2
        FROM g)
      SELECT n1, n2,
             ${r6Sql("abs(cast(r1 as double) / n1 - " +
               "cast(r2 as double) / n2)")} AS ks_d,
             v AS at_value
      FROM c
      ORDER BY ${r6Sql("abs(cast(r1 as double) / n1 - " +
        "cast(r2 as double) / n2)")} DESC, v
      LIMIT 1"""),
  )

  /** Winsorized and raw means of l_quantity per return flag — the robust
    * location estimate that caps (rather than drops) the tails at
    * p05/p95. The per-group percentile bounds come from the SAME scan
    * via windowed aggregates (partitionBy flag) — not a separate
    * aggregate branch joined back, which would scan the fact twice (the
    * Q15 trap); clipping and the decimal-staged means then ride the one
    * pass. percentile ≡ quantile_cont bit-wise (q_percentile contract);
    * at 100 TB the GK sketch swaps in unchanged (GkSwapSpec). */
  val qWinsorize: GQuery = GQuery(
    "q_winsorize",
    (spark, dir) => {
      import spark.implicits._
      val wg = Window.partitionBy($"l_returnflag")
      Tables.lineitem(spark, dir)
        .select($"l_returnflag", $"l_quantity")
        .withColumn("lo", expr("percentile(l_quantity, 0.05)").over(wg))
        .withColumn("hi", expr("percentile(l_quantity, 0.95)").over(wg))
        .withColumn("clipped", least(greatest($"l_quantity", $"lo"), $"hi"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(min($"lo"), 6).as("p05"),
          round(min($"hi"), 6).as("p95"),
          davg($"l_quantity", 6).as("mean_raw"),
          davg($"clipped", 6).as("mean_winsor"))
        .orderBy($"l_returnflag")
    },
    Some(s"""
      WITH w AS (
        SELECT l_returnflag, l_quantity,
               quantile_cont(l_quantity, 0.05)
                 OVER (PARTITION BY l_returnflag) AS lo,
               quantile_cont(l_quantity, 0.95)
                 OVER (PARTITION BY l_returnflag) AS hi
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n,
             round(min(lo), 6) AS p05,
             round(min(hi), 6) AS p95,
             ${davgSql("l_quantity", 6)} AS mean_raw,
             ${davgSql("least(greatest(l_quantity, lo), hi)", 6)}
               AS mean_winsor
      FROM w GROUP BY l_returnflag ORDER BY l_returnflag"""),
  )

  /** Lexical diversity per document source: type-token ratio and Simpson
    * diversity (1 − Σf(f−1)/(N(N−1)) — the probability two sampled
    * tokens differ). One explode into a combinable (source, token)
    * count, one combinable per-source rollup; every statistic is an
    * exact integer until the final division. The corpus-health gauge
    * that catches a source collapsing into boilerplate (diversity drops
    * long before exact dedup fires). */
  val qDiversity: GQuery = GQuery(
    "q_diversity",
    (spark, dir) => {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"source", explode(split($"text", " ")).as("tok"))
        .groupBy($"source", $"tok")
        .agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(count(lit(1)).as("vocab"), sum($"c").as("n_tokens"),
          sum($"c" * ($"c" - 1)).as("rep"))
        .select($"source", $"vocab", $"n_tokens",
          r6(lit(1.0) - $"rep".cast("double") /
            ($"n_tokens".cast("double") * ($"n_tokens" - 1).cast("double")))
            .as("simpson"),
          r6($"vocab".cast("double") / $"n_tokens").as("ttr"))
        .orderBy($"source")
    },
    Some(s"""
      WITH c AS (
        SELECT source, tok, count(*) AS c FROM (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents) t0
        GROUP BY source, tok),
      s AS (
        SELECT source, count(*) AS vocab,
               cast(sum(c) as bigint) AS n_tokens,
               cast(sum(c * (c - 1)) as bigint) AS rep
        FROM c GROUP BY source)
      SELECT source, vocab, n_tokens,
             ${r6Sql("cast(1.0 as double) - cast(rep as double) / " +
               "(cast(n_tokens as double) * cast(n_tokens - 1 as double))")}
               AS simpson,
             ${r6Sql("cast(vocab as double) / n_tokens")} AS ttr
      FROM s ORDER BY source"""),
  )

  /** Zipf-slope fit of the corpus term-frequency distribution: least-
    * squares slope of ln(freq) on ln(rank) over the full vocabulary —
    * the one-number summary of whether a corpus has natural long-tail
    * token statistics (≈ −1) or degenerate ones. Term counts are one
    * combinable groupBy; ranking is a window over the VOCABULARY-sized
    * count table (bounded at any corpus scale — and if a tokenizer ever
    * unbounds it, the rank swaps for RankAtScaleSpec's range-partitioned
    * two-pass form bit-identically); the regression runs on
    * per-term contributions IEEE-rounded at 6dp and decimal-summed —
    * the same cross-engine ln() + dsum contract as q_entropy/q_tfidf.
    * Rank ties break on the token string, so ranks are total. */
  val qZipf: GQuery = GQuery(
    "q_zipf",
    (spark, dir) => {
      import spark.implicits._
      val tf = Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      val r = tf.withColumn("rank",
        row_number().over(Window.orderBy($"f".desc, $"tok")))
      val terms = r.select(
        rN(log($"rank".cast("double")), 6).as("x"),
        rN(log($"f".cast("double")), 6).as("y"))
        .select($"x", $"y", rN($"x" * $"y", 6).as("xy"),
          rN($"x" * $"x", 6).as("xx"))
      val s = terms.agg(count(lit(1)).cast("double").as("n"),
        dsum($"x", 6).as("sx"), dsum($"y", 6).as("sy"),
        dsum($"xy", 6).as("sxy"), dsum($"xx", 6).as("sxx"))
      s.select($"n".cast("long").as("n_terms"),
        r6(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx")).as("slope"),
        r6(($"sy" - ($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n").as("intercept"))
    },
    Some(s"""
      WITH tf AS (
        SELECT tok, count(*) AS f FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t0
        GROUP BY tok),
      r AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
        FROM tf),
      t AS (
        SELECT ${rNSql("ln(cast(rank as double))", 6)} AS x,
               ${rNSql("ln(cast(f as double))", 6)} AS y
        FROM r),
      t2 AS (
        SELECT x, y, ${rNSql("x * y", 6)} AS xy, ${rNSql("x * x", 6)} AS xx
        FROM t),
      s AS (
        SELECT cast(count(*) as double) AS n,
               ${dsumSql("x", 6)} AS sx, ${dsumSql("y", 6)} AS sy,
               ${dsumSql("xy", 6)} AS sxy, ${dsumSql("xx", 6)} AS sxx
        FROM t2)
      SELECT cast(n as bigint) AS n_terms,
             ${r6Sql("(n*sxy - sx*sy) / (n*sxx - sx*sx)")} AS slope,
             ${r6Sql("(sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n")}
               AS intercept
      FROM s"""),
  )

  /** Triangle counting over the co-purchase graph: edges are part pairs
    * co-purchased in ≥ 2 distinct orders plus a planted 4-clique
    * (`CoPurchase.supported` — fan-out is lines-per-order, never
    * part×part), stored once per pair as (a < b); triangles close via
    * two equi-joins on the canonical orientation (a<b<c visits each
    * triangle exactly once). The support floor is what bounds the edge
    * list; at 1000× add degree-ordered orientation so no high-degree
    * vertex anchors a quadratic wedge set — the join shape is
    * unchanged. */
  val qTriangles: GQuery = GQuery(
    "q_triangles",
    (spark, dir) => {
      import spark.implicits._
      val e = CoPurchase.supported(spark, dir)
      e.as("x").join(e.as("y"), col("x.pb") === col("y.pa"))
        .join(e.as("z"),
          col("z.pa") === col("x.pa") && col("z.pb") === col("y.pb"))
        .select(col("x.pa").as("a"), col("x.pb").as("b"),
          col("y.pb").as("c"))
        .orderBy($"a", $"b", $"c")
    },
    Some(s"""
      WITH ${CoPurchase.supportedSql("e")}
      SELECT x.pa AS a, x.pb AS b, y.pb AS c
      FROM e x JOIN e y ON x.pb = y.pa
               JOIN e z ON z.pa = x.pa AND z.pb = y.pb
      ORDER BY a, b, c"""),
  )

  /** Connected components over the co-purchase graph (support ≥ 2 edges
    * + the planted 4-clique, same edge list as q_triangles): EIGHT fixed
    * min-label-propagation iterations. Each iteration is ONE equi-join
    * of the (localCheckpoint'd, SELF-LOOP-augmented) edge list with the
    * current labels and one combinable min-groupBy — the self-loops
    * fold "keep your own label" into the same join, so every iteration
    * references the previous labels EXACTLY ONCE. That single-reference
    * shape matters twice: it is the q_pagerank iteration template on
    * the Spark side, and it keeps the oracle's chained CTEs linear — a
    * LEFT-JOIN formulation references each level twice and DuckDB
    * re-evaluates the chain exponentially (observed: disk-filling spill
    * at sf0.1). Eight hops cover every observed component diameter
    * here; on a larger graph the count is raised (or squared via
    * pointer doubling) with the same per-iteration shape — and a fixed
    * count is computed identically by both engines either way, so the
    * oracle match does not depend on convergence. Output: one row per
    * component (min vertex id as the label) with its size. */
  private def mkConncomp(name: String, expand: Int): GQuery = {
    val iters = 8
    GQuery(
      name,
      (spark, dir) => {
        import spark.implicits._
        val undX = CoPurchase.replicate(CoPurchase.supported(spark, dir), expand)
        // Checkpoint the UNDIRECTED edge list itself, not a derivative:
        // both the expanded edge list AND l0's vertex set hang off `und`,
        // so checkpointing only `e` left l0 re-evaluating the edge-list
        // build a second time inside the final 8-join query
        // (measured ~1s of the 4s warm runtime at sf0.1).
        val und = undX.localCheckpoint()
        // undirected edges + self-loops: min over in-neighbors ∪ self
        // e is referenced by all 8 iterations — checkpoint it as well (off
        // the cheap checkpointed und, this job is milliseconds) so the
        // per-iteration lineage is a flat scan, not union+distinct chains.
        // r15 (guide §2.4, the mkPagerank idiom), ×10 twin only:
        // hash-partition the edge list on src BEFORE the checkpoint,
        // meant to match the label table, which exits each groupBy(dst)
        // partitioned by the same key. With AQE on the checkpoint drops
        // that partitioning, so each of the 8 iterations still
        // re-shuffles the edge list (Parallel's doc); shuffle_hash on the
        // (small) label side avoids SMJ sorts. A/B at 1× measured
        // ~0.3-0.5 s WORSE (the repartition of a small edge list costs
        // more than it saves), so the declared query keeps the r14 shape.
        val (vs, e0) = CoPurchase.withSelfLoops(und)
        val e = (if (expand > 1)
            Parallel.spread(e0, $"src")
          else e0).localCheckpoint()
        var l = vs.select($"v".as("node"), $"v".as("lbl"))
        for (_ <- 1 to iters) {
          val lSide = if (expand > 1) l.hint("shuffle_hash") else l
          l = e.join(lSide, $"src" === $"node")
            .groupBy($"dst").agg(min($"lbl").as("l2"))
            .select($"dst".as("node"), $"l2".as("lbl"))
        }
        l.groupBy($"lbl".as("component"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy($"n_nodes".desc, $"component")
          .limit(50)
      },
      Some {
        val steps = (1 to iters).map { k =>
          s"""l$k AS (
             |  SELECT e.dst AS node, min(lp.lbl) AS lbl
             |  FROM e JOIN l${k - 1} lp ON e.src = lp.node
             |  GROUP BY e.dst)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH ${CoPurchase.supportedSql("und0")},
        und AS (${CoPurchase.replicateSql("und0", expand)}),
        ${CoPurchase.withSelfLoopsSql("und")},
        l0 AS (SELECT v AS node, v AS lbl FROM verts),
        $steps
        SELECT lbl AS component, count(*) AS n_nodes
        FROM l$iters
        GROUP BY lbl ORDER BY n_nodes DESC, component LIMIT 50"""
      },
    )
  }

  val qConncomp: GQuery = mkConncomp("q_conncomp", 1)

  /** ×10 scaling twin: 10 disjoint id-shifted copies of the edge list,
    * so each of the 8 min-label-propagation iterations joins and
    * re-aggregates 10× the edges — a measured scale point for the
    * iterative graph family (r14 verdict item 2). */
  val qConncompXxl: GQuery = mkConncomp("q_conncomp_xxl", 10)

  /** Mutual information between event type and weekday — the dependence
    * detector between two categoricals (0 nats = independent). The
    * contingency table is ONE combinable groupBy over raw events (the
    * only full pass); margins and the total ride windowed sums over the
    * |types|×|weekdays| cells. Per-cell MI terms use exact integer
    * products inside one IEEE division + ln (the q_entropy ln contract),
    * IEEE-rounded and decimal-summed. Weekday is epoch-day mod 7 in both
    * engines (the dayofweek convention trap). */
  val qMutualInfo: GQuery = GQuery(
    "q_mutual_info",
    (spark, dir) => {
      import spark.implicits._
      val cells = Tables.events(spark, dir)
        .select($"event_type",
          (datediff(to_date($"ts"), to_date(lit("1970-01-01"))) % 7)
            .cast("int").as("dow"))
        .groupBy($"event_type", $"dow")
        .agg(count(lit(1)).as("cxy"))
      val wx = Window.partitionBy($"event_type")
      val wy = Window.partitionBy($"dow")
      val wAll = Window.partitionBy()
      cells
        .withColumn("cx", sum($"cxy").over(wx))
        .withColumn("cy", sum($"cxy").over(wy))
        .withColumn("n", sum($"cxy").over(wAll))
        .select(
          $"n",
          rN(($"cxy".cast("double") / $"n") *
            log(($"cxy" * $"n").cast("double") /
              ($"cx" * $"cy").cast("double")), 9).as("term"))
        .groupBy($"n".as("n_events"))
        .agg(dsum($"term", 6).as("mi_nats"))
        .select($"n_events", $"mi_nats")
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type,
               cast(date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', ts) as date)) % 7 as int) AS dow,
               count(*) AS cxy
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT cast(cxy as bigint) AS cxy,
               cast(sum(cxy) OVER (PARTITION BY event_type) as bigint) AS cx,
               cast(sum(cxy) OVER (PARTITION BY dow) as bigint) AS cy,
               cast(sum(cxy) OVER () as bigint) AS n
        FROM cells)
      SELECT n AS n_events, ${dsumSql("term", 6)} AS mi_nats
      FROM (SELECT n,
              ${rNSql("(cast(cxy as double) / n) * " +
                "ln(cast(cxy * n as double) / cast(cx * cy as double))", 9)}
                AS term
            FROM m) t
      GROUP BY n"""),
  )

  /** Benford first-digit audit of order values — the fabricated-data
    * smell test. The leading digit comes from INTEGER string conversion
    * of IEEE-rounded cents (float-to-string formatting differs between
    * engines; int64-to-string doesn't), counts are one combinable
    * groupBy, and the expected Benford mass ln(1+1/d)/ln(10) plus each
    * digit's chi-square contribution finish in fixed-order IEEE. */
  val qBenford: GQuery = GQuery(
    "q_benford",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5))
        .cast("long")
      val wAll = Window.partitionBy()
      Tables.orders(spark, dir)
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy($"digit")
        .agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum($"n_obs").over(wAll))
        .select($"digit", $"n_obs",
          r6($"n_obs".cast("double") / $"n").as("obs_share"),
          r6(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)))
            .as("benford_p"),
          r6(pow($"n_obs".cast("double") -
            $"n" * (log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0))),
            2.0) /
            ($"n" * (log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)))))
            .as("chi2_term"))
        .orderBy($"digit")
    },
    Some(s"""
      WITH d AS (
        SELECT cast(substr(cast(cast(floor(o_totalprice
                 * cast(100.0 as double) + cast(0.5 as double)) as bigint)
                 as varchar), 1, 1) as int) AS digit
        FROM orders),
      g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
      t AS (SELECT digit, cast(n_obs as bigint) AS n_obs,
                   cast(sum(n_obs) OVER () as bigint) AS n
            FROM g)
      SELECT digit, n_obs,
             ${r6Sql("cast(n_obs as double) / n")} AS obs_share,
             ${r6Sql("ln(cast(1.0 as double) + cast(1.0 as double) / digit)" +
               " / ln(cast(10.0 as double))")} AS benford_p,
             ${r6Sql("pow(cast(n_obs as double) - n * " +
               "(ln(cast(1.0 as double) + cast(1.0 as double) / digit) / " +
               "ln(cast(10.0 as double))), 2.0) / (n * " +
               "(ln(cast(1.0 as double) + cast(1.0 as double) / digit) / " +
               "ln(cast(10.0 as double))))")} AS chi2_term
      FROM t ORDER BY digit"""),
  )

  /** Wald–Wolfowitz runs test on the daily-revenue series: is the
    * above/below-median sign sequence random, or does the series trend?
    * The fact collapses to daily integer cents first (the q_changepoint
    * posture, no planted shift); the median is a windowed exact
    * percentile over the |days| series; runs are counted by one lag
    * window; the z-statistic closes over exact integer (n₁, n₂, R).
    * Median-equal days are dropped (both engines agree exactly on
    * integer-vs-half comparisons). */
  val qRunsTest: GQuery = GQuery(
    "q_runs_test",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val daily = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"), cents.as("c"))
        .groupBy($"day").agg(sum($"c").as("rev"))
      val wAll = Window.partitionBy()
      val signs = daily
        .withColumn("med", expr("percentile(rev, 0.5)").over(wAll))
        .filter($"rev" =!= $"med")
        .select($"day", ($"rev" > $"med").cast("int").as("sgn"))
      val w = Window.orderBy($"day")
      signs
        .withColumn("chg",
          when(lag($"sgn", 1).over(w).isNull ||
            lag($"sgn", 1).over(w) =!= $"sgn", 1L).otherwise(0L))
        .agg(sum($"sgn").as("n_above"),
          sum(lit(1L) - $"sgn").as("n_below"),
          sum($"chg").as("runs"))
        .select($"n_above", $"n_below", $"runs",
          r6(($"runs".cast("double") -
            (lit(1.0) + lit(2.0) * $"n_above" * $"n_below" /
              ($"n_above" + $"n_below"))) /
            sqrt((lit(2.0) * $"n_above" * $"n_below" *
              (lit(2.0) * $"n_above" * $"n_below" - $"n_above" - $"n_below"))
              .cast("double") /
              (pow(($"n_above" + $"n_below").cast("double"), 2.0) *
                ($"n_above" + $"n_below" - 1).cast("double"))))
            .as("z"))
    },
    Some(s"""
      WITH daily AS (
        SELECT day, cast(sum(c) as bigint) AS rev
        FROM (SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
                     cast(floor(o_totalprice * cast(100.0 as double)
                       + cast(0.5 as double)) as bigint) AS c
              FROM orders) o
        GROUP BY day),
      sg AS (
        SELECT day, cast(rev > med as int) AS sgn
        FROM (SELECT day, rev,
                quantile_cont(rev, 0.5) OVER () AS med FROM daily) m
        WHERE rev <> med),
      r AS (
        SELECT sgn,
               CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                      OR lag(sgn) OVER (ORDER BY day) <> sgn
                    THEN 1 ELSE 0 END AS chg
        FROM sg),
      s AS (
        SELECT cast(sum(sgn) as bigint) AS n_above,
               cast(sum(1 - sgn) as bigint) AS n_below,
               cast(sum(chg) as bigint) AS runs
        FROM r)
      SELECT n_above, n_below, runs,
             ${r6Sql("(cast(runs as double) - (cast(1.0 as double) + " +
               "cast(2.0 as double) * n_above * n_below / " +
               "(n_above + n_below))) / " +
               "sqrt(cast(cast(2.0 as double) * n_above * n_below * " +
               "(cast(2.0 as double) * n_above * n_below - n_above - " +
               "n_below) as double) / " +
               "(pow(cast(n_above + n_below as double), 2.0) * " +
               "cast(n_above + n_below - 1 as double)))")} AS z
      FROM s"""),
  )

  /** Audience overlap between event types: Jaccard and containment of
    * the distinct-user sets behind each behavior pair. The fact
    * collapses to distinct (type, user) FIRST (combinable; the shuffle
    * carries |types|·|users| rows max); pair intersections are one self
    * equi-join ON USER (bounded fan-out: a user contributes at most
    * |types|² pairs); set sizes ride a windowed sum — no second pass.
    * All counts integer-exact; divisions close in IEEE at 6 dp. */
  val qUserOverlap: GQuery = GQuery(
    "q_user_overlap",
    (spark, dir) => {
      import spark.implicits._
      val tu = Tables.events(spark, dir)
        .select($"event_type".as("t"), $"user_id").distinct()
      val sized = tu.withColumn("sz",
        count(lit(1)).over(Window.partitionBy($"t")))
      val inter = sized.as("a").join(sized.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"),
          col("a.sz").as("na"), col("b.sz").as("nb"))
        .agg(count(lit(1)).as("inter"))
      inter.select($"type_a", $"type_b", $"na", $"nb", $"inter",
          r6($"inter".cast("double") / ($"na" + $"nb" - $"inter"))
            .as("jaccard"),
          r6($"inter".cast("double") / least($"na", $"nb"))
            .as("containment"))
        .orderBy($"type_a", $"type_b")
    },
    Some(s"""
      WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
      sized AS (
        SELECT t, user_id,
               cast(count(*) OVER (PARTITION BY t) as bigint) AS sz
        FROM tu),
      i AS (
        SELECT a.t AS type_a, b.t AS type_b, a.sz AS na, b.sz AS nb,
               count(*) AS inter
        FROM sized a JOIN sized b
          ON a.user_id = b.user_id AND a.t < b.t
        GROUP BY 1, 2, 3, 4)
      SELECT type_a, type_b, na, nb, inter,
             ${r6Sql("cast(inter as double) / (na + nb - inter)")}
               AS jaccard,
             ${r6Sql("cast(inter as double) / least(na, nb)")}
               AS containment
      FROM i ORDER BY type_a, type_b"""),
  )

  /** POPULATION STABILITY INDEX per event type — the industry drift
    * score between the first and second half of the event stream:
    * PSI = Σ_bins (p−q)·ln(p/q) over GLOBAL value deciles (edges from
    * one percentile pass over all events — percentile ≡ quantile_cont
    * bit-wise, the q_percentile contract — broadcast as a 1-row frame),
    * with +0.5 Laplace smoothing per bin so a bin empty on one side
    * stays finite. Bin assignment is 1 + Σ(value > edge_k) — pure
    * comparisons on identical doubles. One full pass bins and counts
    * (combinable); the PSI terms follow the ln contract (rN 9 before a
    * decimal sum). PSI > 0.25 is the conventional "investigate" bar. */
  val qPsi: GQuery = GQuery(
    "q_psi",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"event_type", $"value",
          when(to_date($"ts") < to_date(lit("2024-01-16")), "a")
            .otherwise("b").as("half"))
      val edgeCols = (1 to 9).map(k =>
        expr(s"percentile(value, 0.$k)").as(s"e$k"))
      val edges = ev.agg(edgeCols.head, edgeCols.tail: _*)
      val binned = ev.crossJoin(broadcast(edges))
        .select($"event_type", $"half",
          (lit(1) + (1 to 9).map(k =>
            when($"value" > col(s"e$k"), 1).otherwise(0)).reduce(_ + _))
            .as("bin"))
      val counts = binned.groupBy($"event_type", $"bin")
        .agg(sum(when($"half" === "a", 1L).otherwise(0L)).as("ca"),
          sum(when($"half" === "b", 1L).otherwise(0L)).as("cb"))
      val wt = Window.partitionBy($"event_type")
      counts
        .withColumn("na", sum($"ca").over(wt))
        .withColumn("nb", sum($"cb").over(wt))
        .select($"event_type", $"na", $"nb",
          rN((($"ca" + lit(0.5)) / ($"na" + lit(5.0)) -
            ($"cb" + lit(0.5)) / ($"nb" + lit(5.0))) *
            log((($"ca" + lit(0.5)) / ($"na" + lit(5.0))) /
              (($"cb" + lit(0.5)) / ($"nb" + lit(5.0)))), 9).as("term"))
        .groupBy($"event_type", $"na".as("n_first"), $"nb".as("n_second"))
        .agg(dsum($"term", 6).as("psi"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH ev AS (
        SELECT event_type, value,
               CASE WHEN cast(date_trunc('day', ts) as date)
                      < DATE '2024-01-16' THEN 'a' ELSE 'b' END AS half
        FROM events),
      edges AS (
        SELECT ${(1 to 9).map(k =>
          s"quantile_cont(value, 0.$k) AS e$k").mkString(", ")}
        FROM ev),
      binned AS (
        SELECT event_type, half,
               1 + ${(1 to 9).map(k =>
                 s"(CASE WHEN value > e$k THEN 1 ELSE 0 END)")
                 .mkString(" + ")} AS bin
        FROM ev CROSS JOIN edges),
      counts AS (
        SELECT event_type, bin,
               cast(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) as bigint)
                 AS ca,
               cast(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) as bigint)
                 AS cb
        FROM binned GROUP BY 1, 2),
      m AS (
        SELECT event_type, ca, cb,
               cast(sum(ca) OVER (PARTITION BY event_type) as bigint) AS na,
               cast(sum(cb) OVER (PARTITION BY event_type) as bigint) AS nb
        FROM counts),
      t AS (
        SELECT event_type, na, nb,
               ${rNSql(
                 "((ca + cast(0.5 as double)) / (na + cast(5.0 as double))" +
                 " - (cb + cast(0.5 as double)) / (nb + cast(5.0 as double)))" +
                 " * ln(((ca + cast(0.5 as double)) / (na + cast(5.0 as double)))" +
                 " / ((cb + cast(0.5 as double)) / (nb + cast(5.0 as double))))",
                 9)} AS term
        FROM m)
      SELECT event_type, na AS n_first, nb AS n_second,
             ${dsumSql("term", 6)} AS psi
      FROM t GROUP BY 1, 2, 3 ORDER BY event_type"""),
  )

  /** GLOBAL CLUSTERING COEFFICIENT — how much of the co-purchase
    * graph's wedge capacity closes into triangles: C = 3·T/W, computed
    * as 6·T/W₂ where W₂ = Σ deg(deg−1) keeps everything INTEGER (W₂ is
    * always even, so wedges = W₂ div 2 is exact). Same support-≥2 +
    * planted-4-clique edge list as q_triangles/q_conncomp
    * (localCheckpoint'd — the triple-join references it three times and
    * the degree pass twice); T is one count over the oriented
    * triple-join, degrees one combinable groupBy over the doubled list.
    * The planted clique guarantees T > 0 at every SF. */
  val qClusteringCoef: GQuery = GQuery(
    "q_clustering_coef",
    (spark, dir) => {
      import spark.implicits._
      val e = CoPurchase.supported(spark, dir).localCheckpoint()
      val tri = e.as("x").join(e.as("y"), col("x.pb") === col("y.pa"))
        .join(e.as("z"),
          col("z.pa") === col("x.pa") && col("z.pb") === col("y.pb"))
        .agg(count(lit(1)).as("t"))
      val w2 = e.select($"pa".as("v"))
        .unionByName(e.select($"pb".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("d"))
        .agg(sum($"d" * ($"d" - 1L)).as("w2"))
      tri.crossJoin(broadcast(w2))
        .select($"t".as("n_triangles"),
          expr("w2 div 2").as("n_wedges"),
          r6(lit(6L) * $"t".cast("double") / $"w2".cast("double"))
            .as("clustering_coef"))
    },
    Some(s"""
      WITH ${CoPurchase.supportedSql("e")},
      tri AS (
        SELECT cast(count(*) as bigint) AS t
        FROM e x JOIN e y ON x.pb = y.pa
                 JOIN e z ON z.pa = x.pa AND z.pb = y.pb),
      w AS (
        SELECT cast(sum(d * (d - 1)) as bigint) AS w2 FROM (
          SELECT v, count(*) AS d FROM (
            SELECT pa AS v FROM e UNION ALL SELECT pb FROM e) t
          GROUP BY v) dd)
      SELECT t AS n_triangles, w2 // 2 AS n_wedges,
             ${r6Sql("6 * cast(t as double) / cast(w2 as double)")}
               AS clustering_coef
      FROM tri CROSS JOIN w"""),
  )

  /** POISSON GOODNESS-OF-FIT for lines-per-order: observed k-histogram
    * vs N·e^{−λ}λᵏ/k! at the MLE λ = mean — the count-model audit
    * (q_benford's cousin for arrival-like counts). Two combinable
    * groupBys collapse the fact to a ≤\|max k\| histogram plus two
    * integer totals; the expected mass is exp(k·ln λ − λ)/k! — exp/ln
    * only (their cross-engine agreement is load-bearing across the
    * existing surface), integer factorial in both engines, NO pow()
    * (whose libm rounding is not pinned). χ² accumulates per-k IEEE
    * terms at 9 dp through an exact decimal sum and rides every row. */
  val qPoissonFit: GQuery = GQuery(
    "q_poisson_fit",
    (spark, dir) => {
      import spark.implicits._
      val perOrder = Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("k"))
      val hist = perOrder.groupBy($"k").agg(count(lit(1)).as("obs"))
      val wAll = Window.partitionBy()
      val withTot = hist
        .withColumn("n", sum($"obs").over(wAll))
        .withColumn("sk", sum($"k" * $"obs").over(wAll))
      val lam = $"sk".cast("double") / $"n".cast("double")
      val expected = $"n".cast("double") *
        exp($"k".cast("double") * log(lam) - lam) /
        factorial($"k".cast("int")).cast("double")
      val scored = withTot
        .withColumn("expected", r6(expected))
        .withColumn("chi2_term",
          rN(($"obs".cast("double") - $"expected") *
            ($"obs".cast("double") - $"expected") / $"expected", 9))
      scored
        .withColumn("chi2",
          r6(sum($"chi2_term".cast("decimal(30,9)")).over(wAll)
            .cast("double")))
        .select($"k".cast("int").as("k"), $"obs", $"expected", $"chi2")
        .orderBy($"k")
    },
    Some(s"""
      WITH per_order AS (
        SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY l_orderkey),
      hist AS (
        SELECT k, count(*) AS obs FROM per_order GROUP BY k),
      tot AS (
        SELECT k, obs,
               cast(sum(obs) OVER () as bigint) AS n,
               cast(sum(k * obs) OVER () as bigint) AS sk
        FROM hist),
      e AS (
        SELECT k, obs, n,
               ${r6Sql("cast(n as double) * " +
                 "exp(cast(k as double) * " +
                 "ln(cast(sk as double) / cast(n as double)) - " +
                 "cast(sk as double) / cast(n as double)) / " +
                 "cast(factorial(cast(k as int)) as double)")} AS expected
        FROM tot),
      t AS (
        SELECT k, obs, expected,
               ${rNSql("(cast(obs as double) - expected) * " +
                 "(cast(obs as double) - expected) / expected", 9)}
                 AS chi2_term
        FROM e)
      SELECT cast(k as int) AS k, obs, expected,
             ${r6Sql("cast(sum(cast(chi2_term as decimal(30,9))) OVER () " +
               "as double)")} AS chi2
      FROM t ORDER BY k"""),
  )

  /** CAPTURE–RECAPTURE population estimate (Chapman's nearly-unbiased
    * form): treat viewers and clickers as two independent samples of
    * the user universe; N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the overlap m
    * — the audit that says how many users the telemetry NEVER saw. One
    * combinable per-user flag reduction, three integer totals, one
    * closed form; coverage = observed/N̂. */
  val qCaptureRecapture: GQuery = GQuery(
    "q_capture_recapture",
    (spark, dir) => {
      import spark.implicits._
      val flags = Tables.events(spark, dir)
        .filter($"event_type".isin("view", "click"))
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "view", 1L).otherwise(0L)).as("v"),
          max(when($"event_type" === "click", 1L).otherwise(0L)).as("c"))
      val t = flags.agg(
        sum($"v").as("n1"),
        sum($"c").as("n2"),
        sum($"v" * $"c").as("m"),
        count(lit(1)).as("n_observed"))
      val d = (s: String) => col(s).cast("double")
      val nhat = (d("n1") + lit(1.0)) * (d("n2") + lit(1.0)) /
        (d("m") + lit(1.0)) - lit(1.0)
      t.select($"n1", $"n2", $"m", $"n_observed",
        r2(nhat).as("n_est"),
        r6(d("n_observed") / nhat).as("coverage"))
    },
    Some(s"""
      WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY user_id),
      t AS (
        SELECT cast(sum(v) as bigint) AS n1,
               cast(sum(c) as bigint) AS n2,
               cast(sum(v * c) as bigint) AS m,
               cast(count(*) as bigint) AS n_observed
        FROM flags)
      SELECT n1, n2, m, n_observed,
             ${r2Sql("(cast(n1 as double) + 1.0) * " +
               "(cast(n2 as double) + 1.0) / " +
               "(cast(m as double) + 1.0) - 1.0")} AS n_est,
             ${r6Sql("cast(n_observed as double) / " +
               "((cast(n1 as double) + 1.0) * " +
               "(cast(n2 as double) + 1.0) / " +
               "(cast(m as double) + 1.0) - 1.0)")} AS coverage
      FROM t"""),
  )

  /** GRUBBS' TEST for a single outlier in customer account balances:
    * G = max|x−x̄|/s with the offending row identified. The argmax runs
    * entirely in EXACT integers — |n·cents − Σcents| clears the mean's
    * division (the q_changepoint ×n trick), so no float tie can pick a
    * different row across engines; the unique-custkey tiebreak makes
    * the order total. One moments pass (Σcents² stays under int64 —
    * balances are bounded) + one broadcast of the 1-row stats + a
    * top-1. The fixed G>4 flag is documented as a rule-of-thumb
    * threshold (the exact critical value needs a t-quantile — out of
    * scope for both engines). */
  val qGrubbs: GQuery = GQuery(
    "q_grubbs",
    (spark, dir) => {
      import spark.implicits._
      val c = Tables.customer(spark, dir)
        .select($"c_custkey",
          floor($"c_acctbal" * lit(100.0) + lit(0.5)).cast("long")
            .as("cents"))
      val st = c.agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"cents" * $"cents").as("q"))
      val d = (x: String) => col(x).cast("double")
      val sd = sqrt((d("q") / d("n") - (d("s") / d("n")) * (d("s") / d("n")))
        * (d("n") / (d("n") - lit(1.0))))
      c.crossJoin(broadcast(st))
        .withColumn("devn", abs($"n" * $"cents" - $"s"))
        .orderBy($"devn".desc, $"c_custkey")
        .limit(1)
        .select($"c_custkey",
          r6($"cents".cast("double") / lit(100.0)).as("acctbal"),
          r6((d("devn") / d("n")) / lit(100.0)).as("abs_dev"),
          r6((d("devn") / d("n")) / sd).as("g"),
          ((d("devn") / d("n")) / sd > lit(4.0)).as("outlier_flag"))
    },
    Some {
      val sd = "sqrt((cast(q as double) / cast(n as double) - " +
        "(cast(s as double) / cast(n as double)) * " +
        "(cast(s as double) / cast(n as double))) * " +
        "(cast(n as double) / (cast(n as double) - cast(1.0 as double))))"
      s"""
      WITH c AS (
        SELECT c_custkey,
               cast(floor(c_acctbal * cast(100.0 as double) +
                 cast(0.5 as double)) as bigint) AS cents
        FROM customer),
      st AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(cents) as bigint) AS s,
               cast(sum(cents * cents) as bigint) AS q
        FROM c),
      top AS (
        SELECT c_custkey, cents, n, s, q,
               abs(n * cents - s) AS devn
        FROM c CROSS JOIN st
        ORDER BY devn DESC, c_custkey LIMIT 1)
      SELECT c_custkey,
             ${r6Sql("cast(cents as double) / cast(100.0 as double)")}
               AS acctbal,
             ${r6Sql("(cast(devn as double) / cast(n as double)) / " +
               "cast(100.0 as double)")} AS abs_dev,
             ${r6Sql(s"(cast(devn as double) / cast(n as double)) / $sd")}
               AS g,
             (cast(devn as double) / cast(n as double)) / $sd >
               cast(4.0 as double) AS outlier_flag
      FROM top"""
    },
  )

  /** MAHALANOBIS OUTLIERS in the (quantity, extendedprice) plane — the
    * multivariate companion to q_grubbs/q_outlier: a cheap item can
    * have an unremarkable price AND an unremarkable quantity yet an
    * absurd combination, which no per-column rule sees. The 2×2
    * covariance comes from ONE decimal-staged moment pass (the
    * q_corr_matrix contract) and inverts in closed form; d² per row is
    * a fixed IEEE quadratic, 6dp-rounded BEFORE the top-10 ordering
    * with the unique (orderkey, linenumber) tiebreak, so rank order
    * cannot flip on a ulp. Scale shape: moments pass + broadcast stats
    * row + TakeOrdered — no sort of the fact table. */
  val qMahalanobis: GQuery = GQuery(
    "q_mahalanobis",
    (spark, dir) => {
      import spark.implicits._
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(30,6)")
      // y in KILOdollars: extendedprice² (~1.2e10) crosses the 2³³
      // decimal-staging validity bound (CLAUDE.md); d² is invariant
      // under per-axis scaling, so the unit is free
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_linenumber",
          $"l_quantity".as("x"),
          ($"l_extendedprice" / lit(1000.0)).as("y"))
      // r15: spread the moment pass (the q_corr_matrix fix); decimal
      // sums are order-free.
      val st = Parallel.spread(li)
        .agg(count(lit(1)).as("n"),
        sum(dec($"x")).cast("double").as("sx"),
        sum(dec($"y")).cast("double").as("sy"),
        sum(dec($"x" * $"x")).cast("double").as("sxx"),
        sum(dec($"y" * $"y")).cast("double").as("syy"),
        sum(dec($"x" * $"y")).cast("double").as("sxy"))
      val d = (c: String) => col(c).cast("double")
      val n = d("n")
      val mx = $"sx" / n
      val my = $"sy" / n
      val vxx = $"sxx" / n - mx * mx
      val vyy = $"syy" / n - my * my
      val vxy = $"sxy" / n - mx * my
      val det = vxx * vyy - vxy * vxy
      val dx = $"x" - mx
      val dy = $"y" - my
      val d2 = (dx * dx * vyy - lit(2.0) * dx * dy * vxy +
        dy * dy * vxx) / det
      li.crossJoin(broadcast(st))
        .select($"l_orderkey", $"l_linenumber", $"x".as("quantity"),
          r6($"y" * lit(1000.0)).as("price"), r6(d2).as("d2"))
        .orderBy($"d2".desc, $"l_orderkey", $"l_linenumber")
        .limit(10)
    },
    Some {
      val n = "cast(n as double)"
      val mx = s"(sx / $n)"
      val my = s"(sy / $n)"
      val vxx = s"(sxx / $n - $mx * $mx)"
      val vyy = s"(syy / $n - $my * $my)"
      val vxy = s"(sxy / $n - $mx * $my)"
      val det = s"($vxx * $vyy - $vxy * $vxy)"
      val d2 = s"((x - $mx) * (x - $mx) * $vyy - cast(2.0 as double) * " +
        s"(x - $mx) * (y - $my) * $vxy + (y - $my) * (y - $my) * $vxx)" +
        s" / $det"
      s"""
      WITH li AS (
        SELECT l_orderkey, l_linenumber, l_quantity AS x,
               l_extendedprice / cast(1000.0 as double) AS y
        FROM lineitem),
      st AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(cast(x as decimal(30,6))) as double) AS sx,
               cast(sum(cast(y as decimal(30,6))) as double) AS sy,
               cast(sum(cast(x * x as decimal(30,6))) as double) AS sxx,
               cast(sum(cast(y * y as decimal(30,6))) as double) AS syy,
               cast(sum(cast(x * y as decimal(30,6))) as double) AS sxy
        FROM li)
      SELECT l_orderkey, l_linenumber, x AS quantity,
             ${r6Sql("y * cast(1000.0 as double)")} AS price,
             ${r6Sql(d2)} AS d2
      FROM li CROSS JOIN st
      ORDER BY d2 DESC, l_orderkey, l_linenumber
      LIMIT 10"""
    },
  )

  /** CRAMÉR–VON MISES goodness-of-fit of the inter-arrival gaps against
    * a FITTED EXPONENTIAL — the integral companion to q_ks_test's
    * supremum statistic (W² weighs the whole CDF discrepancy, not just
    * the worst point) and the distributional check behind every
    * Poisson-process assumption (q_poisson_fit, q_burstiness). Gaps are
    * integer seconds (ONE lag window per user, the q_interarrival pass);
    * λ̂ = 1/mean is one IEEE division over exact integer sums. The
    * order-statistic sum Σᵢ(F(x₍ᵢ₎)−(2i−1)/2n)² collapses to the
    * per-DISTINCT-gap table (the q_ks_test/RankAtScaleSpec scale shape):
    * for a gap value with count t and c predecessors, the run's closed
    * form is t·F² − F·t(2c+t)/n + S₂/(4n²) with S₂ = f(c+t) − f(c),
    * f(m) = m(2m−1)(2m+1)/3 — pure int64 (the pre-division product
    * caps validity at n ≈ 1.3e6, comfortably past sf1; the bound is
    * recorded like the other staging contracts). F is r6'd before
    * use (the libm exp contract), every term is one fixed IEEE
    * expression quantized at 12 dp into a decimal-staged sum (the
    * q_cond_entropy pattern: terms are tiny and numerous). */
  val qCvmExp: GQuery = GQuery(
    "q_cvm_exp",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val wLag = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val gaps = Tables.events(spark, dir)
        .select($"user_id", $"event_id", $"ts")
        .withColumn("g",
          $"ts".cast("long") - lag($"ts".cast("long"), 1).over(wLag))
        .filter($"g".isNotNull)
        .select($"g")
      val gv = gaps.groupBy($"g").agg(count(lit(1)).as("t"))
      val wc = Window.orderBy($"g")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tc = gv.withColumn("c", coalesce(sum($"t").over(wc), lit(0L)))
      val tot = tc.agg(sum($"t").as("n"), sum($"g" * $"t").as("sg"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val lam = d($"n") / d($"sg")
      val f = r6(lit(1.0) - exp(-lam * d($"g")))
      // f(m) = m(2m−1)(2m+1)/3 is always an exact integer — keep it in
      // int64 with `div` (Spark Column `/` on longs is DOUBLE division,
      // and the two ~n³ magnitudes would cancel catastrophically)
      val s2 = expr("(c + t) * (2*(c + t) - 1) * (2*(c + t) + 1) div 3 - " +
        "c * (2*c - 1) * (2*c + 1) div 3")
      val term = d($"t") * f * f -
        f * (d($"t" * (lit(2L) * $"c" + $"t")) / d($"n")) +
        d(s2) / (lit(4.0) * d($"n") * d($"n"))
      tc.crossJoin(broadcast(tot))
        .select($"n", lam.as("lam"), rN(term, 12).as("tm"))
        .groupBy($"n", $"lam")
        .agg(sum($"tm".cast(dec12)).cast("double").as("s"))
        .select($"n".as("n_gaps"), r6($"lam").as("lambda_hat"),
          r6(lit(1.0) / (lit(12.0) * d($"n")) + $"s").as("w2"))
    },
    Some {
      val lam = "(cast(n as double) / cast(sg as double))"
      val f = r6Sql(s"cast(1.0 as double) - exp(-$lam * cast(g as double))")
      // integer // in DuckDB (its / on integers is double division)
      val s2 = "((c + t) * (2*(c + t) - 1) * (2*(c + t) + 1) // 3 - " +
        "c * (2*c - 1) * (2*c + 1) // 3)"
      val term = s"cast(t as double) * ($f) * ($f) - " +
        s"($f) * (cast(t * (2*c + t) as double) / cast(n as double)) + " +
        s"cast($s2 as double) / (cast(4.0 as double) * " +
        "cast(n as double) * cast(n as double))"
      s"""
      WITH ev AS (
        SELECT user_id, event_id,
               epoch(date_trunc('second', ts))::BIGINT AS tse
        FROM events),
      gaps AS (
        SELECT tse - lag(tse) OVER (PARTITION BY user_id
                 ORDER BY tse, event_id) AS g
        FROM ev),
      gv AS (SELECT g, cast(count(*) as bigint) AS t
             FROM gaps WHERE g IS NOT NULL GROUP BY g),
      tc AS (
        SELECT g, t,
               cast(coalesce(sum(t) OVER (ORDER BY g
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 as bigint) AS c
        FROM gv),
      tot AS (SELECT cast(sum(t) as bigint) AS n,
                     cast(sum(g * t) as bigint) AS sg
              FROM tc),
      st AS (
        SELECT n, $lam AS lam,
               cast(sum(cast(${rNSql("term", 12).replace("term", s"($term)")}
                 as decimal(30,12))) as double) AS s
        FROM tc CROSS JOIN tot
        GROUP BY n, lam)
      SELECT n AS n_gaps, ${r6Sql("lam")} AS lambda_hat,
             ${r6Sql("cast(1.0 as double) / (cast(12.0 as double) * " +
               "cast(n as double)) + s")} AS w2
      FROM st"""
    },
  )

  /** THEIL'S U (uncertainty coefficients) for language × source over
    * the corpus — the NORMALIZED, DIRECTED companion to q_mutual_info:
    * U(lang|source) = I/H(lang) says what fraction of language
    * uncertainty the source column removes (and vice versa), the
    * categorical feature-redundancy gauge a dedup/mixture pipeline
    * reads before dropping a column. One combinable cell pass;
    * marginal and joint entropies are 12-dp-staged sums of
    * (c/n)·ln(c/n) terms over the ≤|langs|·|sources| cell table; the
    * two ratios are fixed IEEE. */
  val qTheilU: GQuery = GQuery(
    "q_theil_u",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val cells = Tables.documents(spark, dir)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy()
      def ent(df: org.apache.spark.sql.DataFrame, cnt: String) = {
        val t = df.withColumn("n", sum(col(cnt)).over(wAll))
        t.agg(max($"n").as("n"),
          (-sum(rN((col(cnt).cast("double") / $"n".cast("double")) *
            log(col(cnt).cast("double") / $"n".cast("double")), 12)
            .cast(dec12)).cast("double")).as("h"))
      }
      val hx = ent(cells.groupBy($"lang").agg(sum($"c").as("cl")), "cl")
        .select($"h".as("h_lang"))
      val hy = ent(cells.groupBy($"source").agg(sum($"c").as("cs")), "cs")
        .select($"h".as("h_source"))
      val hxy = ent(cells, "c").select($"n", $"h".as("h_joint"))
      val j = hxy.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      val mi = $"h_lang" + $"h_source" - $"h_joint"
      j.select($"n".as("n_docs"), r6($"h_lang").as("h_lang"),
        r6($"h_source").as("h_source"), r6($"h_joint").as("h_joint"),
        r6(mi).as("mi_nats"),
        r6(mi / $"h_lang").as("u_lang_given_source"),
        r6(mi / $"h_source").as("u_source_given_lang"))
    },
    Some {
      def entSql(src: String, cnt: String) =
        s"""SELECT max(n) AS n,
               -cast(sum(cast(${rNSql(
                 s"(cast($cnt as double) / cast(n as double)) * " +
                   s"ln(cast($cnt as double) / cast(n as double))", 12)}
                 as decimal(30,12))) as double) AS h
            FROM (SELECT $cnt, cast(sum($cnt) OVER () as bigint) AS n
                  FROM $src t)"""
      s"""
      WITH cells AS (
        SELECT lang, source, cast(count(*) as bigint) AS c
        FROM documents GROUP BY 1, 2),
      mx AS (SELECT lang, cast(sum(c) as bigint) AS cl
             FROM cells GROUP BY lang),
      my AS (SELECT source, cast(sum(c) as bigint) AS cs
             FROM cells GROUP BY source),
      hx AS (${entSql("mx", "cl")}),
      hy AS (${entSql("my", "cs")}),
      hxy AS (${entSql("cells", "c")}),
      j AS (
        SELECT hxy.n AS n_docs, hx.h AS h_lang, hy.h AS h_source,
               hxy.h AS h_joint,
               hx.h + hy.h - hxy.h AS mi
        FROM hxy CROSS JOIN hx CROSS JOIN hy)
      SELECT n_docs, ${r6Sql("h_lang")} AS h_lang,
             ${r6Sql("h_source")} AS h_source,
             ${r6Sql("h_joint")} AS h_joint,
             ${r6Sql("mi")} AS mi_nats,
             ${r6Sql("mi / h_lang")} AS u_lang_given_source,
             ${r6Sql("mi / h_source")} AS u_source_given_lang
      FROM j"""
    },
  )

  /** TWO-COMPONENT POISSON MIXTURE via EM (4 fixed iterations) on the
    * per-customer order-count distribution — the model-based customer
    * segmentation (casual vs frequent buyers) that q_poisson_fit's
    * single-λ χ² rejects: fit w·Pois(λ₁) + (1−w)·Pois(λ₂). The engine
    * template is q_markov/q_hits for a PARAMETER VECTOR: the E/M steps
    * are one crossJoin of the count HISTOGRAM (≤ ~50 rows — the raw
    * pass collapses orders to per-customer k, then k to (k, obs)) with
    * a broadcast 1-row parameter frame per iteration, each M-step sum
    * 9-dp decimal-staged. Responsibilities need NO factorial (k! cancels
    * in the ratio); the final log-likelihood does, so ln k! comes from a
    * sequence spine with 12-dp-staged ln terms summed in decimal by a
    * running window (order-free by exactness) — Spark's factorial()
    * nulls past k = 20 and DuckDB's goes hugeint, so neither is usable
    * cross-engine. Fixed iteration count + fixed expression shapes =
    * the q_holt determinism contract. */
  val qEmPoisson2: GQuery = GQuery(
    "q_em_poisson2",
    (spark, dir) => {
      import spark.implicits._
      val dec9 = org.apache.spark.sql.types.DecimalType(30, 9)
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val perCust = Tables.orders(spark, dir)
        .groupBy($"o_custkey").agg(count(lit(1)).as("k"))
      val hist = perCust.groupBy($"k").agg(count(lit(1)).as("obs"))
        .localCheckpoint()
      val m0 = hist.agg(sum($"obs").as("n"), sum($"k" * $"obs").as("sk"),
        max($"k").as("kmax"))
      val lbar = $"sk".cast("double") / $"n".cast("double")
      var p = m0.select($"n", $"kmax", lit(0.5).as("w1"),
        (lbar / lit(2.0)).as("l1"), (lbar * lit(2.0)).as("l2"))
      for (_ <- 1 to 4) {
        val kD = $"k".cast("double")
        val a1 = $"w1" * exp(kD * log($"l1") - $"l1")
        val a2 = (lit(1.0) - $"w1") * exp(kD * log($"l2") - $"l2")
        val r1 = a1 / (a1 + a2)
        val s = hist.crossJoin(broadcast(p))
          .select($"n", $"kmax", $"obs", $"k", r1.as("r1"))
          .groupBy($"n", $"kmax")
          .agg(
            sum(rN($"obs".cast("double") * $"r1", 9).cast(dec9))
              .cast("double").as("s1"),
            sum(rN($"obs".cast("double") * $"r1" * $"k".cast("double"), 9)
              .cast(dec9)).cast("double").as("sk1"),
            sum($"k" * $"obs").as("skAll"))
        p = s.select($"n", $"kmax",
          ($"s1" / $"n".cast("double")).as("w1"),
          ($"sk1" / $"s1").as("l1"),
          (($"skAll".cast("double") - $"sk1") /
            ($"n".cast("double") - $"s1")).as("l2"))
      }
      // ln k! spine for the log-likelihood (12dp-staged decimal prefix)
      val lnf = p.select($"kmax")
        .select(explode(expr("sequence(1, int(kmax))")).as("i"))
        .withColumn("t", rN(log($"i".cast("double")), 12).cast(dec12))
        .withColumn("lnf",
          sum($"t").over(Window.orderBy($"i")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select($"i".as("k"), $"lnf")
      val kD = $"k".cast("double")
      val a1 = $"w1" * exp(kD * log($"l1") - $"l1")
      val a2 = (lit(1.0) - $"w1") * exp(kD * log($"l2") - $"l2")
      val ll = hist.join(lnf, "k").crossJoin(broadcast(p))
        .select($"n", $"w1", $"l1", $"l2",
          rN($"obs".cast("double") * (log(a1 + a2) - $"lnf"), 9).as("t"))
        .groupBy($"n", $"w1", $"l1", $"l2")
        .agg(sum($"t".cast(dec9)).cast("double").as("loglik"))
      ll.select($"n".as("n_customers"), r6($"w1").as("w1"),
        r6($"l1").as("lambda1"), r6($"l2").as("lambda2"),
        r6($"loglik").as("loglik"))
    },
    Some {
      def step(i: Int): String = {
        val a1 = s"(w1 * exp(cast(k as double) * ln(l1) - l1))"
        val a2 = s"((cast(1.0 as double) - w1) * " +
          s"exp(cast(k as double) * ln(l2) - l2))"
        val r1 = s"($a1 / ($a1 + $a2))"
        s"""s$i AS (
           |  SELECT n, kmax,
           |    cast(sum(cast(${rNSql(s"cast(obs as double) * $r1", 9)}
           |      as decimal(30,9))) as double) AS s1,
           |    cast(sum(cast(${rNSql(
                  s"cast(obs as double) * $r1 * cast(k as double)", 9)}
           |      as decimal(30,9))) as double) AS sk1,
           |    cast(sum(k * obs) as bigint) AS skall
           |  FROM hist CROSS JOIN p${i - 1} GROUP BY n, kmax),
           |p$i AS (
           |  SELECT n, kmax, s1 / cast(n as double) AS w1,
           |         sk1 / s1 AS l1,
           |         (cast(skall as double) - sk1) /
           |           (cast(n as double) - s1) AS l2
           |  FROM s$i)""".stripMargin
      }
      val a1 = s"(w1 * exp(cast(k as double) * ln(l1) - l1))"
      val a2 = s"((cast(1.0 as double) - w1) * " +
        s"exp(cast(k as double) * ln(l2) - l2))"
      s"""
      WITH per_cust AS (
        SELECT o_custkey, count(*) AS k FROM orders GROUP BY o_custkey),
      hist AS MATERIALIZED (
        SELECT k, cast(count(*) as bigint) AS obs FROM per_cust GROUP BY k),
      m0 AS (
        SELECT cast(sum(obs) as bigint) AS n,
               cast(sum(k * obs) as bigint) AS sk,
               cast(max(k) as bigint) AS kmax
        FROM hist),
      p0 AS (
        SELECT n, kmax, cast(0.5 as double) AS w1,
               cast(sk as double) / cast(n as double) /
                 cast(2.0 as double) AS l1,
               cast(sk as double) / cast(n as double) *
                 cast(2.0 as double) AS l2
        FROM m0),
      ${(1 to 4).map(step).mkString(",\n      ")},
      lnf AS (
        SELECT i AS k,
               cast(sum(cast(${rNSql("ln(cast(i as double))", 12)}
                   as decimal(30,12)))
                 OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) as double) AS lnf
        FROM (SELECT unnest(generate_series(1, (SELECT cast(kmax as int)
                FROM m0))) AS i) sp),
      ll AS (
        SELECT n, w1, l1, l2,
               cast(sum(cast(${rNSql(
                 s"cast(obs as double) * (ln($a1 + $a2) - lnf)", 9)}
                 as decimal(30,9))) as double) AS loglik
        FROM hist JOIN lnf USING (k) CROSS JOIN p4
        GROUP BY n, w1, l1, l2)
      SELECT n AS n_customers, ${r6Sql("w1")} AS w1,
             ${r6Sql("l1")} AS lambda1, ${r6Sql("l2")} AS lambda2,
             ${r6Sql("loglik")} AS loglik
      FROM ll"""
    },
  )

  val all: Seq[GQuery] = Seq(
    qKsTest, qWinsorize, qDiversity, qZipf, qTriangles,
    qConncomp, qMutualInfo, qBenford, qRunsTest, qUserOverlap, qPsi,
    qClusteringCoef, qPoissonFit, qCaptureRecapture, qGrubbs,
    qMahalanobis, qCvmExp, qTheilU, qEmPoisson2, qConncompXxl)
}
