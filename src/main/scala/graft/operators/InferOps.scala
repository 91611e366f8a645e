package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._

/** Inferential statistics over the corpus and event stream: Welch's
  * two-sample t, one-way ANOVA, and Cramér's V effect size. All three
  * reduce the fact table to per-group INTEGER moment sums (n, Σx, Σx²)
  * in one combinable groupBy — the only pass that sees raw rows — then
  * evaluate the closed-form statistic over a handful of group rows.
  * Integer moments are exact in both engines (n_chars ≤ ~600, so Σx² at
  * sf0.1 is ~1.8e9 ≪ 2⁶³ and ≪ 2⁵³ when cast to double), which makes
  * the whole statistic a fixed-shape IEEE expression — bit-identical
  * across engines and shuffle orders with no decimal staging needed
  * until a sum over group terms appears (then dsum).
  */
object InferOps {

  /** WELCH'S t-TEST: does mean document length differ between English
    * and German docs? Unequal-variance form: t = (m₁−m₂)/√(v₁/n₁+v₂/n₂)
    * with Welch–Satterthwaite degrees of freedom. The fact collapses to
    * TWO rows of integer moments (conditional aggregation in one pass);
    * the statistic is one fixed IEEE expression over them — the same
    * plan at 100 TB is a single combinable aggregate, no shuffle beyond
    * the 2-row reduce. */
  val qTtest: GQuery = GQuery(
    "q_ttest",
    (spark, dir) => {
      import spark.implicits._
      val m = Tables.documents(spark, dir)
        .filter($"lang".isin("en", "de"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          sum($"n_chars").as("s"),
          sum($"n_chars" * $"n_chars").as("q"))
      val agg = m.agg(
        max(when($"lang" === "en", $"n")).as("n1"),
        max(when($"lang" === "en", $"s")).as("s1"),
        max(when($"lang" === "en", $"q")).as("q1"),
        max(when($"lang" === "de", $"n")).as("n2"),
        max(when($"lang" === "de", $"s")).as("s2"),
        max(when($"lang" === "de", $"q")).as("q2"))
      val d = (c: String) => col(c).cast("double")
      val m1 = d("s1") / d("n1")
      val m2 = d("s2") / d("n2")
      val v1 = (d("q1") - d("s1") * d("s1") / d("n1")) / (d("n1") - lit(1.0))
      val v2 = (d("q2") - d("s2") * d("s2") / d("n2")) / (d("n2") - lit(1.0))
      val se1 = v1 / d("n1")
      val se2 = v2 / d("n2")
      agg.select(
        $"n1", $"n2",
        r6(m1).as("mean_en"),
        r6(m2).as("mean_de"),
        r6((m1 - m2) / sqrt(se1 + se2)).as("t_stat"),
        r6((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (d("n1") - lit(1.0)) +
            se2 * se2 / (d("n2") - lit(1.0)))).as("df_welch"))
    },
    Some(s"""
      WITH m AS (
        SELECT
          cast(max(CASE WHEN lang = 'en' THEN n END) as bigint) AS n1,
          cast(max(CASE WHEN lang = 'en' THEN s END) as bigint) AS s1,
          cast(max(CASE WHEN lang = 'en' THEN q END) as bigint) AS q1,
          cast(max(CASE WHEN lang = 'de' THEN n END) as bigint) AS n2,
          cast(max(CASE WHEN lang = 'de' THEN s END) as bigint) AS s2,
          cast(max(CASE WHEN lang = 'de' THEN q END) as bigint) AS q2
        FROM (
          SELECT lang, count(*) AS n, sum(n_chars) AS s,
                 sum(n_chars * n_chars) AS q
          FROM documents WHERE lang IN ('en', 'de') GROUP BY lang) g),
      e AS (
        SELECT n1, n2,
               cast(s1 as double) / cast(n1 as double) AS m1,
               cast(s2 as double) / cast(n2 as double) AS m2,
               (cast(q1 as double) - cast(s1 as double) * cast(s1 as double)
                  / cast(n1 as double)) / (cast(n1 as double) - 1.0)
                 / cast(n1 as double) AS se1,
               (cast(q2 as double) - cast(s2 as double) * cast(s2 as double)
                  / cast(n2 as double)) / (cast(n2 as double) - 1.0)
                 / cast(n2 as double) AS se2
        FROM m)
      SELECT n1, n2,
             ${r6Sql("m1")} AS mean_en,
             ${r6Sql("m2")} AS mean_de,
             ${r6Sql("(m1 - m2) / sqrt(se1 + se2)")} AS t_stat,
             ${r6Sql("(se1 + se2) * (se1 + se2) / " +
               "(se1 * se1 / (cast(n1 as double) - 1.0) + " +
               "se2 * se2 / (cast(n2 as double) - 1.0))")} AS df_welch
      FROM e"""),
  )

  /** ONE-WAY ANOVA: F-statistic for document length across the five
    * languages. SSB = Σᵢ Sᵢ²/nᵢ − S²/n and SSW = Q − Σᵢ Sᵢ²/nᵢ from the
    * same per-group integer moments. The only cross-group float sum
    * (Σᵢ Sᵢ²/nᵢ, five terms) is IEEE-rounded per term and decimal-summed
    * (dsum) so group merge order can never flip a bit; grand totals stay
    * integer. */
  val qAnova: GQuery = GQuery(
    "q_anova",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.documents(spark, dir)
        .groupBy($"lang")
        .agg(count(lit(1)).as("ni"),
          sum($"n_chars").as("si"),
          sum($"n_chars" * $"n_chars").as("qi"))
      val agg = g.agg(
        count(lit(1)).cast("int").as("k"),
        sum($"ni").as("n"),
        sum($"si").as("s"),
        sum($"qi").as("q"),
        // Σ Sᵢ²/nᵢ: per-group IEEE term at 6 dp, exact decimal sum
        sum(rN(($"si" * $"si").cast("double") / $"ni".cast("double"), 6)
          .cast("decimal(30,6)")).cast("double").as("ssq_grp"))
      val d = (c: String) => col(c).cast("double")
      val ssb = $"ssq_grp" - d("s") * d("s") / d("n")
      val ssw = d("q") - $"ssq_grp"
      agg.select(
        $"k", $"n",
        r6(ssb).as("ss_between"),
        r6(ssw).as("ss_within"),
        r6((ssb / ($"k" - lit(1)).cast("double")) /
          (ssw / (d("n") - $"k".cast("double")))).as("f_stat"))
    },
    Some(s"""
      WITH g AS (
        SELECT lang, count(*) AS ni, sum(n_chars) AS si,
               sum(n_chars * n_chars) AS qi
        FROM documents GROUP BY lang),
      m AS (
        SELECT cast(count(*) as int) AS k,
               cast(sum(ni) as bigint) AS n,
               cast(sum(si) as bigint) AS s,
               cast(sum(qi) as bigint) AS q,
               cast(sum(cast(${rNSql(
                 "cast(si * si as double) / cast(ni as double)", 6)}
                 as decimal(30,6))) as double) AS ssq_grp
        FROM g)
      SELECT k, n,
             ${r6Sql("ssq_grp - cast(s as double) * cast(s as double) " +
               "/ cast(n as double)")} AS ss_between,
             ${r6Sql("cast(q as double) - ssq_grp")} AS ss_within,
             ${r6Sql("((ssq_grp - cast(s as double) * cast(s as double) " +
               "/ cast(n as double)) / (cast(k as double) - 1.0)) / " +
               "((cast(q as double) - ssq_grp) / " +
               "(cast(n as double) - cast(k as double)))")} AS f_stat
      FROM m"""),
  )

  /** CRAMÉR'S V effect size for event type × weekday — the normalized
    * companion to q_mutual_info's dependence test: V = √(χ²/(n·min(r−1,
    * c−1))) ∈ [0,1]. The contingency table is the one full pass
    * (combinable groupBy); χ² accumulates per-cell IEEE terms at 9 dp
    * through an exact decimal sum; r and c are windowed distinct counts
    * over the ≤35-cell table. Weekday is epoch-day mod 7 in both engines
    * (the dayofweek convention trap). */
  val qCramersV: GQuery = GQuery(
    "q_cramers_v",
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
      val e = $"cx".cast("double") * $"cy".cast("double") /
        $"n".cast("double")
      // r and c ride the SAME window pass over the <=35-cell table (a
      // separate countDistinct aggregate branch re-scanned events —
      // PlanAudit); element order in the set is irrelevant to size()
      cells
        .withColumn("cx", sum($"cxy").over(wx))
        .withColumn("cy", sum($"cxy").over(wy))
        .withColumn("n", sum($"cxy").over(wAll))
        .withColumn("r", size(collect_set($"event_type").over(wAll)))
        .withColumn("c", size(collect_set($"dow").over(wAll)))
        .select($"n", $"r", $"c",
          rN(($"cxy".cast("double") - e) * ($"cxy".cast("double") - e) / e,
            9).as("term"))
        .groupBy($"n".as("n_events"), $"r".as("n_types"),
          $"c".as("n_days"))
        .agg(sum($"term".cast("decimal(30,9)")).cast("double").as("chi2d"))
        .select($"n_events", $"n_types", $"n_days",
          r6($"chi2d").as("chi2"),
          r6(sqrt($"chi2d" / ($"n_events".cast("double") *
            least($"n_types" - 1, $"n_days" - 1).cast("double"))))
            .as("cramers_v"))
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type,
               cast(date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', ts) as date)) % 7 as int) AS dow,
               count(*) AS cxy
        FROM events GROUP BY 1, 2),
      dims AS (
        SELECT cast(count(DISTINCT event_type) as int) AS r,
               cast(count(DISTINCT dow) as int) AS c
        FROM cells),
      m AS (
        SELECT cast(cxy as bigint) AS cxy,
               cast(sum(cxy) OVER (PARTITION BY event_type) as bigint) AS cx,
               cast(sum(cxy) OVER (PARTITION BY dow) as bigint) AS cy,
               cast(sum(cxy) OVER () as bigint) AS n,
               r, c
        FROM cells CROSS JOIN dims),
      t AS (
        SELECT n, r, c,
               ${rNSql("(cast(cxy as double) - cast(cx as double) * " +
                 "cast(cy as double) / cast(n as double)) * " +
                 "(cast(cxy as double) - cast(cx as double) * " +
                 "cast(cy as double) / cast(n as double)) / " +
                 "(cast(cx as double) * cast(cy as double) / " +
                 "cast(n as double))", 9)} AS term
        FROM m),
      s AS (
        SELECT n AS n_events, r AS n_types, c AS n_days,
               cast(sum(cast(term as decimal(30,9))) as double) AS chi2d
        FROM t GROUP BY 1, 2, 3)
      SELECT n_events, n_types, n_days,
             ${r6Sql("chi2d")} AS chi2,
             ${r6Sql("sqrt(chi2d / (cast(n_events as double) * " +
               "cast(least(n_types - 1, n_days - 1) as double)))")}
               AS cramers_v
      FROM s"""),
  )

  /** SPEARMAN RANK CORRELATION between per-user click and purchase
    * volume — the monotone-association test that ignores the heavy
    * tails Pearson chokes on. Tie handling is the textbook average
    * rank, kept EXACT by working with DOUBLED ranks: 2·avgrank =
    * 2·minrank + ties − 1 is an INTEGER (rank() + a count window), so
    * the Pearson-on-ranks moments are exact int64 sums (the q_trend
    * contract) and rho is one fixed-shape IEEE expression. Scaling
    * ranks by 2 leaves the correlation unchanged. One groupBy builds
    * the per-user table; ranks ride two windows over |users| rows —
    * at a scale where |users| itself is too large for one task, each
    * window swaps for the range-partitioned two-pass rank proven
    * bit-identical in RankAtScaleSpec (integer rank arithmetic). */
  val qSpearman: GQuery = GQuery(
    "q_spearman",
    (spark, dir) => {
      import spark.implicits._
      val u = Tables.events(spark, dir)
        .groupBy($"user_id")
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      val rx = rank().over(Window.orderBy($"x")) * lit(2L) +
        count(lit(1)).over(Window.partitionBy($"x")) - lit(1L)
      val ry = rank().over(Window.orderBy($"y")) * lit(2L) +
        count(lit(1)).over(Window.partitionBy($"y")) - lit(1L)
      val m = u.select($"user_id", rx.cast("long").as("a"),
          ry.cast("long").as("b"))
        .agg(count(lit(1)).as("n"),
          sum($"a").as("sa"), sum($"b").as("sb"),
          sum($"a" * $"b").as("sab"),
          sum($"a" * $"a").as("saa"),
          sum($"b" * $"b").as("sbb"))
      val d = (c: String) => col(c).cast("double")
      val num = d("n") * d("sab") - d("sa") * d("sb")
      val den = sqrt((d("n") * d("saa") - d("sa") * d("sa")) *
        (d("n") * d("sbb") - d("sb") * d("sb")))
      m.select($"n".cast("int").as("n_users"),
        r6(num / den).as("spearman_rho"))
    },
    Some(s"""
      WITH u AS (
        SELECT user_id,
               cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 as bigint) AS x,
               cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 as bigint) AS y
        FROM events GROUP BY user_id),
      r AS (
        SELECT cast(rank() OVER (ORDER BY x) * 2
                 + count(*) OVER (PARTITION BY x) - 1 as bigint) AS a,
               cast(rank() OVER (ORDER BY y) * 2
                 + count(*) OVER (PARTITION BY y) - 1 as bigint) AS b
        FROM u),
      m AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(a) as bigint) AS sa, cast(sum(b) as bigint) AS sb,
               cast(sum(a * b) as bigint) AS sab,
               cast(sum(a * a) as bigint) AS saa,
               cast(sum(b * b) as bigint) AS sbb
        FROM r)
      SELECT cast(n as int) AS n_users,
             ${r6Sql("(cast(n as double) * sab - cast(sa as double) * sb)" +
               " / sqrt((cast(n as double) * saa - cast(sa as double) * sa)" +
               " * (cast(n as double) * sbb - cast(sb as double) * sb))")}
               AS spearman_rho
      FROM m"""),
  )

  /** JACKKNIFE STANDARD ERROR of the corpus mean document length with
    * SOURCES as the resampling unit — the honest uncertainty estimate
    * when documents within a feed are correlated (the iid SE lies).
    * Leave-one-source-out means come from the grand integer moments
    * minus each source's (one combinable groupBy + a 1-row broadcast —
    * NO g passes over the fact); the variance of the 20 loo means is
    * the only float sum, IEEE-rounded per term and decimal-staged.
    * SE = √((g−1)/g · Σ(θ̂ᵢ − θ̄)²). */
  val qJackknife: GQuery = GQuery(
    "q_jackknife",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.documents(spark, dir)
        .groupBy($"source")
        .agg(count(lit(1)).as("ni"), sum($"n_chars").as("si"))
      val tot = g.agg(count(lit(1)).as("gg"),
        sum($"ni").as("n"), sum($"si").as("s"))
      val d = (c: String) => col(c).cast("double")
      val loo = g.crossJoin(broadcast(tot))
        .select($"gg", $"n", $"s",
          ((d("s") - d("si")) / (d("n") - d("ni"))).as("theta_i"))
      val mloo = loo.groupBy($"gg", $"n", $"s")
        .agg(sum(rN($"theta_i", 9).cast("decimal(30,9)")).cast("double")
          .as("sum_theta"))
      loo.join(broadcast(mloo), Seq("gg", "n", "s"))
        .select($"gg", $"n", $"s",
          rN(($"theta_i" - $"sum_theta" / d("gg")) *
            ($"theta_i" - $"sum_theta" / d("gg")), 9).as("dev2"))
        .groupBy($"gg", $"n", $"s")
        .agg(sum($"dev2".cast("decimal(30,9)")).cast("double").as("ssd"))
        .select($"gg".cast("int").as("n_sources"),
          r6(d("s") / d("n")).as("mean_chars"),
          r6(sqrt(($"gg" - lit(1)).cast("double") / d("gg") * $"ssd"))
            .as("jackknife_se"))
    },
    Some(s"""
      WITH g AS (
        SELECT source, count(*) AS ni, sum(n_chars) AS si
        FROM documents GROUP BY source),
      tot AS (
        SELECT cast(count(*) as bigint) AS gg,
               cast(sum(ni) as bigint) AS n,
               cast(sum(si) as bigint) AS s
        FROM g),
      loo AS (
        SELECT gg, n, s,
               (cast(s as double) - cast(si as double))
                 / (cast(n as double) - cast(ni as double)) AS theta_i
        FROM g CROSS JOIN tot),
      ml AS (
        SELECT gg, n, s,
               cast(sum(cast(${rNSql("theta_i", 9)} as decimal(30,9)))
                 as double) AS sum_theta
        FROM loo GROUP BY 1, 2, 3),
      dv AS (
        SELECT loo.gg, loo.n, loo.s,
               ${rNSql("(theta_i - sum_theta / cast(loo.gg as double)) * " +
                 "(theta_i - sum_theta / cast(loo.gg as double))", 9)} AS dev2
        FROM loo JOIN ml ON loo.gg = ml.gg AND loo.n = ml.n
                        AND loo.s = ml.s),
      sd AS (
        SELECT gg, n, s,
               cast(sum(cast(dev2 as decimal(30,9))) as double) AS ssd
        FROM dv GROUP BY 1, 2, 3)
      SELECT cast(gg as int) AS n_sources,
             ${r6Sql("cast(s as double) / cast(n as double)")} AS mean_chars,
             ${r6Sql("sqrt(cast(gg - 1 as double) / cast(gg as double) " +
               "* ssd)")} AS jackknife_se
      FROM sd"""),
  )

  /** PEARSON CORRELATION MATRIX of the four lineitem measures — the
    * feature-selection screen, as ONE aggregation pass: all 4 first
    * moments + 4 second moments + 6 cross moments accumulate in exact
    * decimal(30,6) (per-term double products round identically at the
    * decimal cast — the dsum contract; raw integer staging would
    * overflow int64 on price²·|rows|), then each of the 6 pair
    * correlations is a fixed-shape IEEE expression over the single
    * moment row. No per-pair repass, no corr() (whose internal
    * accumulation order differs between engines). */
  val qCorrMatrix: GQuery = {
    val vars = Seq("qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    GQuery(
      "q_corr_matrix",
      (spark, dir) => {
        import spark.implicits._
        val dec = (c: Column) => c.cast("decimal(30,6)")
        val sums =
          Seq(count(lit(1)).as("n")) ++
          vars.map { case (a, c) => sum(dec(col(c))).cast("double").as(s"s_$a") } ++
          (for {
            i <- vars.indices; j <- i until vars.length
          } yield {
            val (na, ca) = vars(i); val (nb, cb) = vars(j)
            sum(dec(col(ca) * col(cb))).cast("double").as(s"p_${na}_$nb")
          })
        // r15: project to the 4 measures and spread before the
        // 15-decimal-sum pass, which otherwise ran single-core; the
        // exchange moves 4 narrow columns once and decimal sums are
        // order-free, so the moment row (and everything derived from it)
        // is bit-identical.
        val m = Parallel.spread(Tables.lineitem(spark, dir)
            .select(vars.map { case (_, c) => col(c) }: _*))
          .agg(sums.head, sums.tail: _*)
        val pairCols = for {
          i <- vars.indices; j <- (i + 1) until vars.length
        } yield {
          val (na, _) = vars(i); val (nb, _) = vars(j)
          val n = col("n").cast("double")
          val num = n * col(s"p_${na}_$nb") - col(s"s_$na") * col(s"s_$nb")
          val da = n * col(s"p_${na}_$na") - col(s"s_$na") * col(s"s_$na")
          val db = n * col(s"p_${nb}_$nb") - col(s"s_$nb") * col(s"s_$nb")
          struct(lit(na).as("var_a"), lit(nb).as("var_b"),
            rN(num / sqrt(da * db), 6).as("corr"))
        }
        m.select(explode(array(pairCols: _*)).as("p"))
          .select($"p.var_a".as("var_a"), $"p.var_b".as("var_b"),
            $"p.corr".as("corr"))
          .orderBy($"var_a", $"var_b")
      },
      Some {
        val moments =
          Seq("cast(count(*) as bigint) AS n") ++
          vars.map { case (a, c) =>
            s"cast(sum(cast($c as decimal(30,6))) as double) AS s_$a" } ++
          (for {
            i <- vars.indices; j <- i until vars.length
          } yield {
            val (na, ca) = vars(i); val (nb, cb) = vars(j)
            s"cast(sum(cast($ca * $cb as decimal(30,6))) as double) AS p_${na}_$nb"
          })
        val pairs = (for {
          i <- vars.indices; j <- (i + 1) until vars.length
        } yield {
          val (na, _) = vars(i); val (nb, _) = vars(j)
          val num = s"(cast(n as double) * p_${na}_$nb - s_$na * s_$nb)"
          val da = s"(cast(n as double) * p_${na}_$na - s_$na * s_$na)"
          val db = s"(cast(n as double) * p_${nb}_$nb - s_$nb * s_$nb)"
          s"SELECT '$na' AS var_a, '$nb' AS var_b, " +
            s"${rNSql(s"$num / sqrt($da * $db)", 6)} AS corr FROM m"
        }).mkString("\n      UNION ALL ")
        s"""
      WITH m AS (
        SELECT ${moments.mkString(",\n               ")}
        FROM lineitem)
      $pairs
      ORDER BY var_a, var_b"""
      },
    )
  }

  /** BAYESIAN BOOTSTRAP CI for the mean document length: B = 50
    * replicates, each reweighting every row with an Exponential(1)
    * weight w = −ln(u) derived from the portable conv(md5) hash of
    * (doc_id, replicate) — fully DETERMINISTIC resampling, identical on
    * any cluster and in the oracle, with no RNG state to coordinate.
    * The whole job is one combinable groupBy on the replicate id over
    * the ×B exploded scan (B is a constant; at 100 TB swap the explode
    * for per-partition weight generation — the bag-of-little-bootstraps
    * layout — without touching the statistic). The CI bounds are EXACT
    * order statistics of the 50 replicate means (ranks 2/49 ≈ the 2.5%
    * and 97.5% tails — no interpolated percentile, no cross-engine ulp
    * coin flip), and the bootstrap SE comes from decimal-staged moments
    * of the means. */
  val qBootstrap: GQuery = {
    val reps = 50
    GQuery(
      "q_bootstrap",
      (spark, dir) => {
        import spark.implicits._
        val dec = (c: Column) => c.cast("decimal(30,6)")
        val rep = Tables.documents(spark, dir)
          .select($"doc_id", $"n_chars")
          .select($"doc_id", $"n_chars",
            explode(expr(s"sequence(1, $reps)")).as("b"))
        val u = (conv(substring(md5(
            concat($"doc_id".cast("string"), lit("_"), $"b".cast("string"))),
            1, 8), 16, 10).cast("long").cast("double") + lit(0.5)) /
          lit(4294967296.0)
        val means = rep
          .select($"b", $"n_chars", (-log(u)).as("w"))
          .groupBy($"b")
          .agg((sum(dec($"w" * $"n_chars")).cast("double") /
            sum(dec($"w")).cast("double")).as("m"))
        val w = Window.orderBy($"m", $"b")
        val ranked = means.withColumn("rn", row_number().over(w))
        val ci = ranked.agg(
          max(when($"rn" === 2, $"m")).as("lo"),
          max(when($"rn" === reps - 1, $"m")).as("hi"),
          count(lit(1)).as("b_reps"),
          sum(rN($"m", 6).cast("decimal(30,6)")).cast("double").as("sm"),
          sum(rN($"m" * $"m", 6).cast("decimal(30,6)")).cast("double")
            .as("smm"))
        val raw = Tables.documents(spark, dir)
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sx"))
        val bd = $"b_reps".cast("double")
        raw.crossJoin(broadcast(ci))
          .select($"n_docs", $"b_reps",
            r6($"sx".cast("double") / $"n_docs".cast("double"))
              .as("mean_raw"),
            r6(sqrt(($"smm" - $"sm" * $"sm" / bd) / (bd - lit(1.0))))
              .as("boot_se"),
            r6($"lo").as("ci_lo"),
            r6($"hi").as("ci_hi"))
      },
      Some(s"""
      WITH rep AS (
        SELECT doc_id, n_chars, unnest(generate_series(1, $reps)) AS b
        FROM documents),
      wtd AS (
        SELECT b, n_chars,
               -ln((cast(cast(('0x' || substr(md5(
                   cast(doc_id as varchar) || '_' || cast(b as varchar)),
                   1, 8))::BIGINT as bigint) as double) +
                 cast(0.5 as double)) / cast(4294967296.0 as double)) AS w
        FROM rep),
      means AS (
        SELECT b,
               cast(sum(cast(w * n_chars as decimal(30,6))) as double) /
               cast(sum(cast(w as decimal(30,6))) as double) AS m
        FROM wtd GROUP BY b),
      ranked AS (
        SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
      ci AS (
        SELECT max(CASE WHEN rn = 2 THEN m END) AS lo,
               max(CASE WHEN rn = ${reps - 1} THEN m END) AS hi,
               cast(count(*) as bigint) AS b_reps,
               cast(sum(cast(${rNSql("m", 6)} as decimal(30,6)))
                 as double) AS sm,
               cast(sum(cast(${rNSql("m * m", 6)} as decimal(30,6)))
                 as double) AS smm
        FROM ranked),
      raw AS (
        SELECT count(*) AS n_docs, cast(sum(n_chars) as bigint) AS sx
        FROM documents)
      SELECT n_docs, b_reps,
             ${r6Sql("cast(sx as double) / cast(n_docs as double)")}
               AS mean_raw,
             ${r6Sql("sqrt((smm - sm * sm / cast(b_reps as double)) / " +
               "(cast(b_reps as double) - 1.0))")} AS boot_se,
             ${r6Sql("lo")} AS ci_lo,
             ${r6Sql("hi")} AS ci_hi
      FROM raw CROSS JOIN ci"""),
    )
  }

  /** VARIANCE INFLATION FACTORS for the (quantity, extendedprice,
    * discount) feature triple — the multicollinearity audit run before
    * any regression on them. For three features the inverse-correlation
    * diagonal has a closed form: VIFᵢ = (1 − r_jk²)/det with
    * det = 1 + 2·r₁₂r₁₃r₂₃ − r₁₂² − r₁₃² − r₂₃², so the whole audit is
    * the SAME one decimal-staged moment pass as q_corr_matrix (same
    * exactness contract) followed by fixed IEEE arithmetic — no second
    * scan, no matrix library. Price is staged in KILODOLLARS: price²
    * (~1.2e10 in dollars²) crosses the 2³³ decimal-staging validity
    * bound (CLAUDE.md round-8 gotcha), while k$² stays ≤ ~1e4;
    * correlations and VIFs are scale-invariant so outputs are
    * unchanged. The expression strings are shared verbatim by both
    * engines (IEEE double division is bit-identical). */
  val qVif: GQuery = {
    val vars = Seq("qty" -> "l_quantity",
      "price" -> "(l_extendedprice / cast(1000.0 as double))",
      "disc" -> "l_discount")
    GQuery(
      "q_vif",
      (spark, dir) => {
        import spark.implicits._
        val dec = (c: Column) => c.cast("decimal(30,6)")
        val sums =
          Seq(count(lit(1)).as("n")) ++
          vars.map { case (a, c) =>
            sum(dec(expr(c))).cast("double").as(s"s_$a") } ++
          (for {
            i <- vars.indices; j <- i until vars.length
          } yield {
            val (na, ca) = vars(i); val (nb, cb) = vars(j)
            sum(dec(expr(ca) * expr(cb))).cast("double").as(s"p_${na}_$nb")
          })
        val m = Tables.lineitem(spark, dir).agg(sums.head, sums.tail: _*)
        def corr(a: String, b: String): Column = {
          val n = col("n").cast("double")
          val num = n * col(s"p_${a}_$b") - col(s"s_$a") * col(s"s_$b")
          val da = n * col(s"p_${a}_$a") - col(s"s_$a") * col(s"s_$a")
          val db = n * col(s"p_${b}_$b") - col(s"s_$b") * col(s"s_$b")
          num / sqrt(da * db)
        }
        val r12 = corr("qty", "price")
        val r13 = corr("qty", "disc")
        val r23 = corr("price", "disc")
        val det = lit(1.0) + lit(2.0) * r12 * r13 * r23 -
          r12 * r12 - r13 * r13 - r23 * r23
        val rows = array(
          struct(lit("qty").as("feature"),
            rN((lit(1.0) - r23 * r23) / det, 6).as("vif")),
          struct(lit("price").as("feature"),
            rN((lit(1.0) - r13 * r13) / det, 6).as("vif")),
          struct(lit("disc").as("feature"),
            rN((lit(1.0) - r12 * r12) / det, 6).as("vif")))
        m.select(explode(rows).as("p"))
          .select($"p.feature".as("feature"), $"p.vif".as("vif"))
          .orderBy($"feature")
      },
      Some {
        val moments =
          Seq("cast(count(*) as bigint) AS n") ++
          vars.map { case (a, c) =>
            s"cast(sum(cast($c as decimal(30,6))) as double) AS s_$a" } ++
          (for {
            i <- vars.indices; j <- i until vars.length
          } yield {
            val (na, ca) = vars(i); val (nb, cb) = vars(j)
            s"cast(sum(cast($ca * $cb as decimal(30,6))) as double)" +
              s" AS p_${na}_$nb"
          })
        def corr(a: String, b: String): String = {
          val n = "cast(n as double)"
          val num = s"($n * p_${a}_$b - s_$a * s_$b)"
          val da = s"($n * p_${a}_$a - s_$a * s_$a)"
          val db = s"($n * p_${b}_$b - s_$b * s_$b)"
          s"($num / sqrt($da * $db))"
        }
        val r12 = corr("qty", "price")
        val r13 = corr("qty", "disc")
        val r23 = corr("price", "disc")
        val det = s"(cast(1.0 as double) + cast(2.0 as double) * $r12 * " +
          s"$r13 * $r23 - $r12 * $r12 - $r13 * $r13 - $r23 * $r23)"
        val arms = Seq(
          ("qty", r23), ("price", r13), ("disc", r12)).map { case (f, r) =>
          s"SELECT '$f' AS feature, ${rNSql(
            s"(cast(1.0 as double) - $r * $r) / $det", 6)} AS vif FROM m"
        }.mkString("\n      UNION ALL ")
        s"""
      WITH m AS (
        SELECT ${moments.mkString(",\n               ")}
        FROM lineitem)
      $arms
      ORDER BY feature"""
      },
    )
  }

  /** SIMPSON'S-PARADOX AUDIT on the discount→quantity association: the
    * pooled OLS slope vs the per-returnflag slopes, flagging groups
    * whose association sign flips the pooled one — the aggregation-bias
    * check run before trusting any whole-corpus correlation. ONE
    * decimal-staged moment pass per group (the q_corr_matrix exactness
    * contract); the pooled moments are the exact decimal SUMS of the
    * group moments, so no second scan and no float re-accumulation.
    * Output: one row per group plus sign-flip flags against the pooled
    * slope. */
  val qSimpson: GQuery = GQuery(
    "q_simpson",
    (spark, dir) => {
      import spark.implicits._
      val dec = (c: Column) => c.cast("decimal(30,6)")
      val g = Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec($"l_discount")).as("sx"),
          sum(dec($"l_quantity")).as("sy"),
          sum(dec($"l_discount" * $"l_quantity")).as("sxy"),
          sum(dec($"l_discount" * $"l_discount")).as("sxx"))
      val pool = g.agg(sum($"n").as("pn"), sum($"sx").as("psx"),
        sum($"sy").as("psy"), sum($"sxy").as("psxy"),
        sum($"sxx").as("psxx"))
      def slope(n: Column, sx: Column, sy: Column, sxy: Column,
          sxx: Column): Column = {
        val nd = n.cast("double")
        (nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")) /
          (nd * sxx.cast("double") - sx.cast("double") * sx.cast("double"))
      }
      g.crossJoin(broadcast(pool))
        .select($"l_returnflag", $"n",
          r6(slope($"n", $"sx", $"sy", $"sxy", $"sxx")).as("group_slope"),
          r6(slope($"pn", $"psx", $"psy", $"psxy", $"psxx"))
            .as("pooled_slope"),
          (slope($"n", $"sx", $"sy", $"sxy", $"sxx") *
            slope($"pn", $"psx", $"psy", $"psxy", $"psxx") < 0)
            .as("sign_flip"))
        .orderBy($"l_returnflag")
    },
    Some {
      def slope(n: String, sx: String, sy: String, sxy: String,
          sxx: String): String =
        s"((cast($n as double) * cast($sxy as double) - " +
          s"cast($sx as double) * cast($sy as double)) / " +
          s"(cast($n as double) * cast($sxx as double) - " +
          s"cast($sx as double) * cast($sx as double)))"
      val gs = slope("n", "sx", "sy", "sxy", "sxx")
      val ps = slope("pn", "psx", "psy", "psxy", "psxx")
      s"""
      WITH g AS (
        SELECT l_returnflag, count(*) AS n,
               sum(cast(l_discount as decimal(30,6))) AS sx,
               sum(cast(l_quantity as decimal(30,6))) AS sy,
               sum(cast(l_discount * l_quantity as decimal(30,6))) AS sxy,
               sum(cast(l_discount * l_discount as decimal(30,6))) AS sxx
        FROM lineitem GROUP BY l_returnflag),
      pool AS (
        SELECT cast(sum(n) as bigint) AS pn, sum(sx) AS psx,
               sum(sy) AS psy, sum(sxy) AS psxy, sum(sxx) AS psxx
        FROM g)
      SELECT l_returnflag, n,
             ${r6Sql(gs)} AS group_slope,
             ${r6Sql(ps)} AS pooled_slope,
             ($gs * $ps < 0) AS sign_flip
      FROM g CROSS JOIN pool ORDER BY l_returnflag"""
    },
  )

  /** STANDARDIZED EFFECT SIZES for the URGENT-vs-LOW order-value
    * contrast — the "is it LARGE, not just significant" companion to
    * q_ttest and q_mde: Cohen's d (pooled SD), Hedges' g (small-sample
    * bias correction — a fixed rational factor), and Glass's Δ
    * (control-group SD). One two-cell integer-cents moment pass;
    * every statistic is a fixed IEEE form over six exact integers. */
  val qEffectSize: GQuery = GQuery(
    "q_effect_size",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .select(($"o_orderpriority" === "1-URGENT").as("grp"),
          floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
            .as("c"))
      val a = o.agg(
        sum(when($"grp", 1L).otherwise(0L)).as("n1"),
        sum(when($"grp", $"c").otherwise(0L)).as("s1"),
        sum(when($"grp", ($"c" * $"c").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when(!$"grp", 1L).otherwise(0L)).as("n2"),
        sum(when(!$"grp", $"c").otherwise(0L)).as("s2"),
        sum(when(!$"grp", ($"c" * $"c").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q2"))
      val d = (c: String) => col(c).cast("double")
      def m(i: Int) = d(s"s$i") / d(s"n$i")
      def v(i: Int) = (d(s"q$i") - d(s"s$i") * d(s"s$i") / d(s"n$i")) /
        (d(s"n$i") - lit(1.0))
      val sp = sqrt(((d("n1") - lit(1.0)) * v(1) +
        (d("n2") - lit(1.0)) * v(2)) / (d("n1") + d("n2") - lit(2.0)))
      val cd = (m(1) - m(2)) / sp
      val df = d("n1") + d("n2") - lit(2.0)
      a.select($"n1", $"n2",
        r6((m(1) - m(2)) / lit(100.0)).as("mean_diff"),
        r6(cd).as("cohens_d"),
        r6(cd * (lit(1.0) - lit(3.0) / (lit(4.0) * df - lit(1.0))))
          .as("hedges_g"),
        r6((m(1) - m(2)) / sqrt(v(2))).as("glass_delta"))
    },
    Some {
      def m(i: Int) = s"(cast(s$i as double) / cast(n$i as double))"
      def v(i: Int) = s"((cast(q$i as double) - cast(s$i as double) * " +
        s"cast(s$i as double) / cast(n$i as double)) / " +
        s"(cast(n$i as double) - cast(1.0 as double)))"
      val sp = s"sqrt(((cast(n1 as double) - cast(1.0 as double)) * " +
        s"${v(1)} + (cast(n2 as double) - cast(1.0 as double)) * ${v(2)})" +
        s" / (cast(n1 as double) + cast(n2 as double) - " +
        s"cast(2.0 as double)))"
      val cd = s"((${m(1)} - ${m(2)}) / $sp)"
      val df = "(cast(n1 as double) + cast(n2 as double) - " +
        "cast(2.0 as double))"
      s"""
      WITH o AS (
        SELECT (o_orderpriority = '1-URGENT') AS grp,
               cast(floor(o_totalprice * cast(100.0 as double) +
                 cast(0.5 as double)) as bigint) AS c
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      a AS (
        SELECT cast(sum(CASE WHEN grp THEN 1 ELSE 0 END) as bigint) AS n1,
               cast(sum(CASE WHEN grp THEN c ELSE 0 END) as bigint) AS s1,
               sum(CASE WHEN grp THEN cast(c * c as decimal(38,0))
                 ELSE cast(0 as decimal(38,0)) END) AS q1,
               cast(sum(CASE WHEN NOT grp THEN 1 ELSE 0 END) as bigint)
                 AS n2,
               cast(sum(CASE WHEN NOT grp THEN c ELSE 0 END) as bigint)
                 AS s2,
               sum(CASE WHEN NOT grp THEN cast(c * c as decimal(38,0))
                 ELSE cast(0 as decimal(38,0)) END) AS q2
        FROM o)
      SELECT n1, n2,
             ${r6Sql(s"(${m(1)} - ${m(2)}) / cast(100.0 as double)")}
               AS mean_diff,
             ${r6Sql(cd)} AS cohens_d,
             ${r6Sql(s"$cd * (cast(1.0 as double) - " +
               s"cast(3.0 as double) / (cast(4.0 as double) * $df - " +
               s"cast(1.0 as double)))")} AS hedges_g,
             ${r6Sql(s"(${m(1)} - ${m(2)}) / sqrt(${v(2)})")}
               AS glass_delta
      FROM a"""
    },
  )

  /** TUKEY–KRAMER HSD post-hoc: after q_anova's omnibus F, WHICH
    * priority pairs differ on mean order value? Per-group moments in
    * KILODOLLARS (the q_levene staging bound: dollar² group moments
    * cross 2³³ where double→decimal casts diverge; k$² stays small),
    * pooled MSE from the same one pass, then all C(5,2)=10 pairs from
    * a 5-row broadcast self-join — the q_kendall bounded-pair posture,
    * never a fact-table pair join. The studentized-range statistic
    * q = |mᵢ−mⱼ| / √(MSE/2·(1/nᵢ+1/nⱼ)) closes in fixed IEEE
    * arithmetic per pair. */
  val qTukeyHsd: GQuery = GQuery(
    "q_tukey_hsd",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.orders(spark, dir)
        .select($"o_orderpriority".as("pri"),
          ($"o_totalprice" / lit(1000.0)).as("v"))
        .groupBy($"pri")
        .agg(count(lit(1)).as("ni"),
          sum($"v".cast(org.apache.spark.sql.types.DecimalType(30, 6))).cast("double").as("si"),
          sum(($"v" * $"v").cast(org.apache.spark.sql.types.DecimalType(30, 6))).cast("double")
            .as("qi"))
      val mseRow = g.agg(
        sum($"ni").as("n"), count(lit(1)).cast("long").as("k"),
        sum(rN($"si" * $"si" / $"ni".cast("double"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(30, 6))).cast("double").as("ssq_grp"),
        sum($"qi".cast(org.apache.spark.sql.types.DecimalType(30, 6))).cast("double").as("q"))
        .select((($"q" - $"ssq_grp") /
          ($"n" - $"k").cast("double")).as("mse"))
      val a = g.select($"pri".as("pri_a"), $"ni".as("na"), $"si".as("sa"))
      val b = g.select($"pri".as("pri_b"), $"ni".as("nb"), $"si".as("sb"))
      val diff = $"sa" / $"na".cast("double") - $"sb" / $"nb".cast("double")
      val se = sqrt($"mse" / lit(2.0) *
        (lit(1.0) / $"na".cast("double") + lit(1.0) / $"nb".cast("double")))
      a.join(broadcast(b), $"pri_a" < $"pri_b")
        .crossJoin(broadcast(mseRow))
        .select($"pri_a", $"pri_b",
          r6(diff).as("diff_k"),
          r6(abs(diff) / se).as("q_stat"))
        .orderBy($"pri_a", $"pri_b")
    },
    Some {
      val diff = "(sa / cast(na as double) - sb / cast(nb as double))"
      val se = "sqrt(mse / cast(2.0 as double) * " +
        "(cast(1.0 as double) / cast(na as double) + " +
        "cast(1.0 as double) / cast(nb as double)))"
      s"""
      WITH g AS (
        SELECT o_orderpriority AS pri, cast(count(*) as bigint) AS ni,
               cast(sum(cast(o_totalprice / cast(1000.0 as double)
                 as decimal(30,6))) as double) AS si,
               cast(sum(cast((o_totalprice / cast(1000.0 as double)) *
                 (o_totalprice / cast(1000.0 as double))
                 as decimal(30,6))) as double) AS qi
        FROM orders GROUP BY 1),
      m AS (
        -- cast each decimal sum to double BEFORE subtracting: the Spark
        -- side subtracts doubles, and decimal-exact subtraction followed
        -- by one cast could differ in the last ulp
        SELECT (cast(sum(cast(qi as decimal(30,6))) as double) -
                cast(sum(cast(${rNSql("si * si / cast(ni as double)", 6)}
                  as decimal(30,6))) as double)) /
               (cast(sum(ni) as double) - cast(count(*) as double)) AS mse
        FROM g)
      SELECT a.pri AS pri_a, b.pri AS pri_b,
             ${r6Sql("(a.si / cast(a.ni as double) - " +
               "b.si / cast(b.ni as double))")} AS diff_k,
             ${r6Sql("abs(a.si / cast(a.ni as double) - " +
               "b.si / cast(b.ni as double)) / " +
               "sqrt(mse / cast(2.0 as double) * " +
               "(cast(1.0 as double) / cast(a.ni as double) + " +
               "cast(1.0 as double) / cast(b.ni as double)))")} AS q_stat
      FROM g a JOIN g b ON a.pri < b.pri CROSS JOIN m
      ORDER BY pri_a, pri_b"""
    },
  )

  /** PARTIAL CORRELATION — q_corr_matrix's conditional sibling: how
    * correlated are gross and net line revenue once the discount level
    * is CONTROLLED FOR? r_xy·z = (r_xy − r_xz r_yz)/√((1−r_xz²)(1−r_yz²))
    * over (x = gross dollars, y = net dollars, z = discount hundredths)
    * — all exact integer columns from the established cents extraction,
    * so ONE combinable moment pass yields exact int64 sums and each
    * pairwise r is the n-cleared ratio of the q_cuped contract (int64
    * moments cast to double BEFORE the n-products). The partial is one
    * fixed IEEE expression over the three r6'd r's. Discount is the
    * only thing separating x from y, so controlling it drives the
    * partial toward 1 — visibly above the raw r_xy. */
  val qPartialCorr: GQuery = GQuery(
    "q_partial_corr",
    (spark, dir) => {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir).select(
        expr("floor(l_extendedprice * 100.0 + 0.5) div 100")
          .cast("long").as("x"),
        floor($"l_discount" * lit(100.0) + lit(0.5)).cast("long").as("z"))
        .withColumn("y", expr("x * (100 - z) div 100"))
      val s = li.agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"z").as("sxz"),
        sum($"y" * $"z").as("syz"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"z" * $"z").as("szz"))
      val d = (c: String) => col(c).cast("double")
      def cv(ab: String, a: String, b: String) =
        d("n") * d(ab) - d(a) * d(b)
      val rxy = r6(cv("sxy", "sx", "sy") /
        sqrt(cv("sxx", "sx", "sx") * cv("syy", "sy", "sy")))
      val rxz = r6(cv("sxz", "sx", "sz") /
        sqrt(cv("sxx", "sx", "sx") * cv("szz", "sz", "sz")))
      val ryz = r6(cv("syz", "sy", "sz") /
        sqrt(cv("syy", "sy", "sy") * cv("szz", "sz", "sz")))
      s.select($"n", rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
        r6((rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)))
          .as("r_xy_given_z"))
    },
    Some {
      def cv(ab: String, a: String, b: String) =
        s"(cast(n as double) * cast($ab as double) - " +
          s"cast($a as double) * cast($b as double))"
      val rxy = rNSql(cv("sxy", "sx", "sy") +
        s" / sqrt(${cv("sxx", "sx", "sx")} * ${cv("syy", "sy", "sy")})", 6)
      val rxz = rNSql(cv("sxz", "sx", "sz") +
        s" / sqrt(${cv("sxx", "sx", "sx")} * ${cv("szz", "sz", "sz")})", 6)
      val ryz = rNSql(cv("syz", "sy", "sz") +
        s" / sqrt(${cv("syy", "sy", "sy")} * ${cv("szz", "sz", "sz")})", 6)
      s"""
      WITH li0 AS (
        SELECT cast(floor(l_extendedprice * 100.0 + 0.5) as bigint) // 100
                 AS x,
               cast(floor(l_discount * 100.0 + 0.5) as bigint) AS z
        FROM lineitem),
      li AS (SELECT x, z, x * (100 - z) // 100 AS y FROM li0),
      s AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
               cast(sum(z) as bigint) AS sz,
               cast(sum(x*y) as bigint) AS sxy,
               cast(sum(x*z) as bigint) AS sxz,
               cast(sum(y*z) as bigint) AS syz,
               cast(sum(x*x) as bigint) AS sxx,
               cast(sum(y*y) as bigint) AS syy,
               cast(sum(z*z) as bigint) AS szz
        FROM li)
      SELECT n, $rxy AS r_xy, $rxz AS r_xz, $ryz AS r_yz,
             ${rNSql(s"(($rxy) - ($rxz) * ($ryz)) / " +
               s"sqrt((cast(1.0 as double) - ($rxz) * ($rxz)) * " +
               s"(cast(1.0 as double) - ($ryz) * ($ryz)))", 6)}
               AS r_xy_given_z
      FROM s"""
    },
  )

  /** JARQUE–BERA normality screen per return flag: JB = n/6·(S² +
    * (K−3)²/4) from the four raw moments of extendedprice. The fact
    * collapses in ONE combinable pass to (n, Σx, Σx², Σx³, Σx⁴) per
    * group — the moments are decimal(30,6)-staged, and the unit is
    * KILODOLLARS so the largest staged term (x⁴ ≤ 105⁴ ≈ 1.2e8) stays
    * under the 2³³ double→decimal cast-validity bound (the q_levene /
    * q_mahalanobis staging contract). Central moments, skewness,
    * kurtosis, and JB are then a fixed IEEE expression tree over the
    * staged doubles — bit-identical in both engines. */
  val qJarqueBera: GQuery = GQuery(
    "q_jarque_bera",
    (spark, dir) => {
      import spark.implicits._
      val dec = DecimalType(30, 6)
      val x = ($"l_extendedprice" / lit(1000.0)).as("x")
      val g = Tables.lineitem(spark, dir)
        .select($"l_returnflag", x)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast(dec)).cast("double").as("s1"),
          sum(($"x" * $"x").cast(dec)).cast("double").as("s2"),
          sum(($"x" * $"x" * $"x").cast(dec)).cast("double").as("s3"),
          sum(($"x" * $"x" * $"x" * $"x").cast(dec)).cast("double").as("s4"))
      val nD = $"n".cast("double")
      val mu = $"s1" / nD
      val m2 = $"s2" / nD - mu * mu
      val m3 = $"s3" / nD - lit(3.0) * mu * ($"s2" / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = $"s4" / nD - lit(4.0) * mu * ($"s3" / nD) +
        lit(6.0) * mu * mu * ($"s2" / nD) - lit(3.0) * mu * mu * mu * mu
      val skew = m3 / (m2 * sqrt(m2))
      val kurt = m4 / (m2 * m2)
      g.select($"l_returnflag", $"n",
          r6(skew).as("skewness"), r6(kurt).as("kurtosis"),
          r6(nD / lit(6.0) * (skew * skew +
            (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0))).as("jb"))
        .orderBy($"l_returnflag")
    },
    Some {
      val mu = "(s1 / n)"
      val m2 = s"(s2 / n - $mu * $mu)"
      val m3 = s"(s3 / n - cast(3.0 as double) * $mu * (s2 / n) + " +
        s"cast(2.0 as double) * $mu * $mu * $mu)"
      val m4 = s"(s4 / n - cast(4.0 as double) * $mu * (s3 / n) + " +
        s"cast(6.0 as double) * $mu * $mu * (s2 / n) - " +
        s"cast(3.0 as double) * $mu * $mu * $mu * $mu)"
      val skew = s"($m3 / ($m2 * sqrt($m2)))"
      val kurt = s"($m4 / ($m2 * $m2))"
      s"""
      WITH li AS (
        SELECT l_returnflag,
               l_extendedprice / cast(1000.0 as double) AS x
        FROM lineitem),
      g AS (
        SELECT l_returnflag, cast(count(*) as bigint) AS cnt,
               cast(sum(cast(x as decimal(30,6))) as double) AS s1,
               cast(sum(cast(x * x as decimal(30,6))) as double) AS s2,
               cast(sum(cast(x * x * x as decimal(30,6))) as double) AS s3,
               cast(sum(cast(x * x * x * x as decimal(30,6))) as double)
                 AS s4
        FROM li GROUP BY l_returnflag),
      m AS (
        SELECT l_returnflag, cnt, cast(cnt as double) AS n,
               s1, s2, s3, s4
        FROM g)
      SELECT l_returnflag, cnt AS n,
             ${rNSql(skew, 6)} AS skewness,
             ${rNSql(kurt, 6)} AS kurtosis,
             ${rNSql(s"n / cast(6.0 as double) * ($skew * $skew + " +
               s"($kurt - cast(3.0 as double)) * " +
               s"($kurt - cast(3.0 as double)) / cast(4.0 as double))",
               6)} AS jb
      FROM m ORDER BY l_returnflag"""
    },
  )

  /** BARTLETT variance-homogeneity test across the three return-flag
    * groups of l_quantity: T = [(N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²] / C,
    * C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)). Quantities are small
    * INTEGERS, so (nᵢ, Σq, Σq²) are exact int64 in one combinable
    * pass; each group's variance is a fixed IEEE form over exact
    * integers, and the three k-row reductions (ln-weighted sum, SSW
    * sum, reciprocal sum) are order-freed by 6/12-dp staged decimal
    * sums (terms bounded ≪ 2³³ and ≫ the truncation floor — both
    * staging-contract bounds hold). ln is bit-stable cross-engine
    * (proven by the hash-matched entropy/odds-ratio family). */
  val qBartlett: GQuery = GQuery(
    "q_bartlett",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.lineitem(spark, dir)
        .select($"l_returnflag", $"l_quantity".cast("long").as("q"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("ni"), sum($"q").as("si"),
          sum($"q" * $"q").as("qi"))
      val niD = $"ni".cast("double")
      val vi = (($"qi".cast("double") -
        $"si".cast("double") * $"si".cast("double") / niD) /
        (niD - lit(1.0))).as("vi")
      val per = g.select($"ni", vi)
      val agg = per.agg(
        count(lit(1)).cast("int").as("k"),
        sum($"ni").as("n"),
        sum(rN(($"ni".cast("double") - lit(1.0)) * $"vi", 6)
          .cast(DecimalType(30, 6))).cast("double").as("ssw"),
        sum(rN(($"ni".cast("double") - lit(1.0)) * log($"vi"), 6)
          .cast(DecimalType(30, 6))).cast("double").as("slnv"),
        sum(rN(lit(1.0) / ($"ni".cast("double") - lit(1.0)), 12)
          .cast(DecimalType(30, 12))).cast("double").as("sinv"))
      val nD = $"n".cast("double")
      val kD = $"k".cast("double")
      val nmk = nD - kD
      val sp2 = $"ssw" / nmk
      val c = lit(1.0) + ($"sinv" - lit(1.0) / nmk) /
        (lit(3.0) * (kD - lit(1.0)))
      agg.select($"k", $"n",
        r6(sp2).as("pooled_var"),
        r6((nmk * log(sp2) - $"slnv") / c).as("t_bartlett"))
    },
    Some(s"""
      WITH g AS (
        SELECT l_returnflag, cast(count(*) as bigint) AS ni,
               cast(sum(cast(l_quantity as bigint)) as bigint) AS si,
               cast(sum(cast(l_quantity as bigint) *
                 cast(l_quantity as bigint)) as bigint) AS qi
        FROM lineitem GROUP BY l_returnflag),
      p AS (
        SELECT ni,
               (cast(qi as double) - cast(si as double) *
                 cast(si as double) / cast(ni as double)) /
                 (cast(ni as double) - cast(1.0 as double)) AS vi
        FROM g),
      m AS (
        SELECT cast(count(*) as int) AS k,
               cast(sum(ni) as bigint) AS n,
               cast(sum(cast(${rNSql(
                 "(cast(ni as double) - cast(1.0 as double)) * vi", 6)}
                 as decimal(30,6))) as double) AS ssw,
               cast(sum(cast(${rNSql(
                 "(cast(ni as double) - cast(1.0 as double)) * ln(vi)",
                 6)} as decimal(30,6))) as double) AS slnv,
               cast(sum(cast(${rNSql(
                 "cast(1.0 as double) / " +
                   "(cast(ni as double) - cast(1.0 as double))", 12)}
                 as decimal(30,12))) as double) AS sinv
        FROM p)
      SELECT k, n,
             ${r6Sql("ssw / (cast(n as double) - cast(k as double))")}
               AS pooled_var,
             ${r6Sql(
               "((cast(n as double) - cast(k as double)) * " +
                 "ln(ssw / (cast(n as double) - cast(k as double))) - " +
                 "slnv) / (cast(1.0 as double) + (sinv - " +
                 "cast(1.0 as double) / " +
                 "(cast(n as double) - cast(k as double))) / " +
                 "(cast(3.0 as double) * " +
                 "(cast(k as double) - cast(1.0 as double))))")}
               AS t_bartlett
      FROM m"""),
  )

  /** WELCH heteroscedastic ANOVA on order totals across the five order
    * priorities — q_anova's robust companion when group variances
    * differ: F* = [Σwᵢ(x̄ᵢ−x̄w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ],
    * Λ = Σ(1−wᵢ/Σw)²/(nᵢ−1), wᵢ = nᵢ/sᵢ², df₂ = (k²−1)/(3Λ). One
    * combinable pass collapses orders to per-priority (n, Σx, Σx²) in
    * KILODOLLARS (x² ≤ 250k < 2³³ — the staging bound); the k=5
    * cross-group reductions are staged decimal sums over windowed
    * weights, so the whole statistic is order-free. */
  val qWelchAnova: GQuery = GQuery(
    "q_welch_anova",
    (spark, dir) => {
      import spark.implicits._
      val dec = DecimalType(30, 6)
      val x = ($"o_totalprice" / lit(1000.0)).as("x")
      val g = Tables.orders(spark, dir)
        .select($"o_orderpriority", x)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("ni"),
          sum($"x".cast(dec)).cast("double").as("si"),
          sum(($"x" * $"x").cast(dec)).cast("double").as("qi"))
      val niD = $"ni".cast("double")
      val per = g.select($"ni",
        (($"qi" - $"si" * $"si" / niD) / (niD - lit(1.0))).as("vi"),
        ($"si" / niD).as("mi"))
      val wAll = Window.partitionBy()
      val w = per.withColumn("wi", $"ni".cast("double") / $"vi")
        .withColumn("sw",
          sum(rN($"wi", 6).cast(DecimalType(30, 6))).over(wAll)
            .cast("double"))
        .withColumn("swm",
          sum(rN($"wi" * $"mi", 6).cast(DecimalType(30, 6))).over(wAll)
            .cast("double"))
      val xw = $"swm" / $"sw"
      val agg = w.agg(
        count(lit(1)).cast("int").as("k"),
        sum($"ni").as("n"),
        sum(rN($"wi" * ($"mi" - xw) * ($"mi" - xw), 6)
          .cast(DecimalType(30, 6))).cast("double").as("a"),
        sum(rN(
          (lit(1.0) - $"wi" / $"sw") * (lit(1.0) - $"wi" / $"sw") /
            ($"ni".cast("double") - lit(1.0)), 12)
          .cast(DecimalType(30, 12))).cast("double").as("lam"))
      val kD = $"k".cast("double")
      agg.select($"k", $"n",
        r6(($"a" / (kD - lit(1.0))) /
          (lit(1.0) + lit(2.0) * (kD - lit(2.0)) /
            ((kD * kD - lit(1.0))) * $"lam")).as("f_welch"),
        r6((kD * kD - lit(1.0)) / (lit(3.0) * $"lam")).as("df2"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderpriority,
               o_totalprice / cast(1000.0 as double) AS x
        FROM orders),
      g AS (
        SELECT o_orderpriority, cast(count(*) as bigint) AS ni,
               cast(sum(cast(x as decimal(30,6))) as double) AS si,
               cast(sum(cast(x * x as decimal(30,6))) as double) AS qi
        FROM o GROUP BY o_orderpriority),
      p AS (
        SELECT ni,
               (qi - si * si / cast(ni as double)) /
                 (cast(ni as double) - cast(1.0 as double)) AS vi,
               si / cast(ni as double) AS mi
        FROM g),
      w AS (
        SELECT ni, vi, mi, cast(ni as double) / vi AS wi,
               cast(sum(cast(${rNSql(
                 "cast(ni as double) / vi", 6)} as decimal(30,6)))
                 OVER () as double) AS sw,
               cast(sum(cast(${rNSql(
                 "(cast(ni as double) / vi) * mi", 6)}
                 as decimal(30,6))) OVER () as double) AS swm
        FROM p),
      m AS (
        SELECT cast(count(*) as int) AS k,
               cast(sum(ni) as bigint) AS n,
               cast(sum(cast(${rNSql(
                 "wi * (mi - swm / sw) * (mi - swm / sw)", 6)}
                 as decimal(30,6))) as double) AS a,
               cast(sum(cast(${rNSql(
                 "(cast(1.0 as double) - wi / sw) * " +
                   "(cast(1.0 as double) - wi / sw) / " +
                   "(cast(ni as double) - cast(1.0 as double))", 12)}
                 as decimal(30,12))) as double) AS lam
        FROM w)
      SELECT k, n,
             ${r6Sql(
               "(a / (cast(k as double) - cast(1.0 as double))) / " +
                 "(cast(1.0 as double) + cast(2.0 as double) * " +
                 "(cast(k as double) - cast(2.0 as double)) / " +
                 "(cast(k as double) * cast(k as double) - " +
                 "cast(1.0 as double)) * lam)")} AS f_welch,
             ${r6Sql(
               "(cast(k as double) * cast(k as double) - " +
                 "cast(1.0 as double)) / (cast(3.0 as double) * lam)")}
               AS df2
      FROM m"""),
  )

  /** BENJAMINI–HOCHBERG FDR over the 25-nation family of return-rate
    * z-tests — the multiple-testing layer every per-segment screen
    * needs: each nation's one-sample z against the pooled rate, its
    * two-sided p via the Zelen–Severo polynomial normal-CDF
    * approximation (|ε| < 7.5e-8; elementary ops + exp only — erf
    * exists in neither engine's shared surface, and exp is proven
    * bit-stable cross-engine by the hash-matched Poisson/odds-ratio
    * family), then the step-up rule at α=0.10 and monotone q-values
    * via a reverse running minimum. The fact tree is the
    * lineitem⋈orders⋈customer shuffle chain collapsed to 25 integer
    * (nᵢ, rᵢ) cells; every window rides that 25-row table. p-ties
    * rank with a nation-name tiebreak, so the BH ordering is total. */
  val qBhFdr: GQuery = GQuery(
    "q_bh_fdr",
    (spark, dir) => {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey",
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("ret"))
      val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      val cu = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")
      val na = Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")
      val g = li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(cu, $"o_custkey" === $"c_custkey")
        .join(broadcast(na), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("ni"), sum($"ret").as("ri"))
      val wAll = Window.partitionBy()
      val tot = g.withColumn("n", sum($"ni").over(wAll))
        .withColumn("r", sum($"ri").over(wAll))
      val niD = $"ni".cast("double")
      val p0 = $"r".cast("double") / $"n".cast("double")
      val z = ($"ri".cast("double") / niD - p0) /
        sqrt(p0 * (lit(1.0) - p0) / niD)
      val withZ = tot.withColumn("z", z).withColumn("az", abs($"z"))
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * $"az")
      val pdf = exp(-($"az" * $"az") / lit(2.0)) *
        lit(0.3989422804014327)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      val withP = withZ
        .withColumn("p2", least(lit(2.0) * pdf * poly, lit(1.0)))
        .withColumn("rk",
          row_number().over(Window.orderBy($"p2", $"n_name")))
        .withColumn("m", count(lit(1)).over(wAll))
      val thr = lit(0.1) * $"rk".cast("double") / $"m".cast("double")
      val dec = withP
        .withColumn("cut", max(when($"p2" <= thr, $"rk")).over(wAll))
        .withColumn("qraw",
          min($"p2" * $"m".cast("double") / $"rk".cast("double"))
            .over(Window.orderBy($"rk".desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      dec.select($"n_name", $"rk", $"ni", $"ri",
          r6($"ri".cast("double") / niD).as("rate"),
          r6($"z").as("z_stat"), r6($"p2").as("p_value"),
          r6(least($"qraw", lit(1.0))).as("q_value"),
          when($"rk" <= coalesce($"cut", lit(0)), 1).otherwise(0)
            .as("rejected"))
        .orderBy($"rk")
    },
    Some {
      val p0 = "(cast(r as double) / cast(n as double))"
      val zz = s"((cast(ri as double) / cast(ni as double) - $p0) / " +
        s"sqrt($p0 * (cast(1.0 as double) - $p0) / cast(ni as double)))"
      val tt = "(cast(1.0 as double) / (cast(1.0 as double) + " +
        "cast(0.2316419 as double) * az))"
      val pdf = "(exp(-(az * az) / cast(2.0 as double)) * " +
        "cast(0.3989422804014327 as double))"
      val poly = s"($tt * (cast(0.319381530 as double) + $tt * " +
        s"(cast(-0.356563782 as double) + $tt * " +
        s"(cast(1.781477937 as double) + $tt * " +
        s"(cast(-1.821255978 as double) + $tt * " +
        s"cast(1.330274429 as double))))))"
      s"""
      WITH g AS (
        SELECT n_name, cast(count(*) as bigint) AS ni,
               cast(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 as bigint) AS ri
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name),
      tot AS (
        SELECT *, cast(sum(ni) OVER () as bigint) AS n,
               cast(sum(ri) OVER () as bigint) AS r
        FROM g),
      wz AS (
        SELECT *, $zz AS z, abs($zz) AS az FROM tot),
      wp AS (
        SELECT *, least(cast(2.0 as double) * $pdf * $poly,
                 cast(1.0 as double)) AS p2
        FROM wz),
      rk AS (
        SELECT *, cast(row_number() OVER (ORDER BY p2, n_name) as int)
                 AS rk,
               cast(count(*) OVER () as bigint) AS m
        FROM wp),
      dec AS (
        SELECT *,
               max(CASE WHEN p2 <= cast(0.1 as double) *
                 cast(rk as double) / cast(m as double) THEN rk END)
                 OVER () AS cut,
               min(p2 * cast(m as double) / cast(rk as double))
                 OVER (ORDER BY rk DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS qraw
        FROM rk)
      SELECT n_name, rk, ni, ri,
             ${r6Sql("cast(ri as double) / cast(ni as double)")} AS rate,
             ${r6Sql("z")} AS z_stat, ${r6Sql("p2")} AS p_value,
             ${r6Sql("least(qraw, cast(1.0 as double))")} AS q_value,
             CASE WHEN rk <= coalesce(cut, 0) THEN 1 ELSE 0 END
               AS rejected
      FROM dec ORDER BY rk"""
    },
  )

  /** TOST EQUIVALENCE TEST (two one-sided tests) on mean order value,
    * HIGH vs NOT-SPECIFIED priority, margin ±$500 — the test q_ttest
    * cannot replace: failing to reject H₀ is NOT evidence of
    * equivalence; TOST demands BOTH (diff+δ)/se > z_α and
    * (diff−δ)/se < −z_α. One conditional-sum pass collapses orders to
    * the two groups' kilodollar-staged moments (the q_welch_anova
    * contract); the Welch standard error and both t-ratios are one
    * fixed IEEE tree, α = 0.05 one-sided (z = 1.645). */
  val qTost: GQuery = GQuery(
    "q_tost",
    (spark, dir) => {
      import spark.implicits._
      val dec = DecimalType(30, 6)
      val x = ($"o_totalprice" / lit(1000.0)).as("x")
      val o = Tables.orders(spark, dir)
        .filter($"o_orderpriority".isin("2-HIGH", "4-NOT SPECIFIED"))
        .select($"o_orderpriority".as("g"), x)
      val hiFlag = $"g" === "2-HIGH"
      val a = o.agg(
        sum(when(hiFlag, 1L).otherwise(0L)).as("n1"),
        sum(when(!hiFlag, 1L).otherwise(0L)).as("n2"),
        sum(when(hiFlag, $"x".cast(dec)).otherwise(lit(0).cast(dec)))
          .cast("double").as("s1"),
        sum(when(!hiFlag, $"x".cast(dec)).otherwise(lit(0).cast(dec)))
          .cast("double").as("s2"),
        sum(when(hiFlag, ($"x" * $"x").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("double").as("q1"),
        sum(when(!hiFlag, ($"x" * $"x").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("double").as("q2"))
      val n1D = $"n1".cast("double")
      val n2D = $"n2".cast("double")
      val m1 = $"s1" / n1D
      val m2 = $"s2" / n2D
      val v1 = ($"q1" - $"s1" * $"s1" / n1D) / (n1D - lit(1.0))
      val v2 = ($"q2" - $"s2" * $"s2" / n2D) / (n2D - lit(1.0))
      val diff = m1 - m2
      val se = sqrt(v1 / n1D + v2 / n2D)
      val tLo = (diff + lit(0.5)) / se
      val tHi = (diff - lit(0.5)) / se
      a.select($"n1", $"n2", r6(diff).as("diff_k"), r6(se).as("se"),
        r6(tLo).as("t_lower"), r6(tHi).as("t_upper"),
        when(tLo > 1.645 && tHi < -1.645, 1).otherwise(0)
          .as("equivalent"))
    },
    Some {
      val m1 = "(s1 / cast(n1 as double))"
      val m2 = "(s2 / cast(n2 as double))"
      val v1 = "((q1 - s1 * s1 / cast(n1 as double)) / " +
        "(cast(n1 as double) - cast(1.0 as double)))"
      val v2 = "((q2 - s2 * s2 / cast(n2 as double)) / " +
        "(cast(n2 as double) - cast(1.0 as double)))"
      val diff = s"($m1 - $m2)"
      val se = s"(sqrt($v1 / cast(n1 as double) + $v2 / " +
        s"cast(n2 as double)))"
      val tLo = s"(($diff + cast(0.5 as double)) / $se)"
      val tHi = s"(($diff - cast(0.5 as double)) / $se)"
      s"""
      WITH o AS (
        SELECT o_orderpriority = '2-HIGH' AS hi,
               o_totalprice / cast(1000.0 as double) AS x
        FROM orders
        WHERE o_orderpriority IN ('2-HIGH', '4-NOT SPECIFIED')),
      a AS (
        SELECT
          cast(sum(CASE WHEN hi THEN 1 ELSE 0 END) as bigint) AS n1,
          cast(sum(CASE WHEN hi THEN 0 ELSE 1 END) as bigint) AS n2,
          cast(sum(CASE WHEN hi THEN cast(x as decimal(30,6))
            ELSE cast(0 as decimal(30,6)) END) as double) AS s1,
          cast(sum(CASE WHEN hi THEN cast(0 as decimal(30,6))
            ELSE cast(x as decimal(30,6)) END) as double) AS s2,
          cast(sum(CASE WHEN hi THEN cast(x * x as decimal(30,6))
            ELSE cast(0 as decimal(30,6)) END) as double) AS q1,
          cast(sum(CASE WHEN hi THEN cast(0 as decimal(30,6))
            ELSE cast(x * x as decimal(30,6)) END) as double) AS q2
        FROM o)
      SELECT n1, n2, ${r6Sql(diff)} AS diff_k, ${r6Sql(se)} AS se,
             ${r6Sql(tLo)} AS t_lower, ${r6Sql(tHi)} AS t_upper,
             CASE WHEN $tLo > cast(1.645 as double) AND
               $tHi < cast(-1.645 as double) THEN 1 ELSE 0 END
               AS equivalent
      FROM a"""
    },
  )

  /** G-TEST (likelihood-ratio) of independence on the lang × source
    * contingency table — q_chi2's information-theoretic twin: G =
    * 2·Σ O·ln(O/E) is additive in the cells (χ² is not), so partitioned
    * sub-tables sum to the corpus statistic — the property that matters
    * when the contingency table itself is sharded at 100 TB. Same
    * one-pass combinable groupBy + broadcast-marginal shape as q_chi2;
    * only OBSERVED cells contribute (O·ln(O/E) → 0 as O → 0, and absent
    * combinations never materialize rows). Per-cell terms are IEEE
    * (ln over exact integer-count ratios), 9-dp decimal-staged for the
    * order-free total. Output: table dims, df, G, and G/2n (the mutual
    * information in nats the statistic estimates — ties this to
    * q_mutual_info). */
  val qGTest: GQuery = GQuery(
    "q_g_test",
    (spark, dir) => {
      import spark.implicits._
      val dec9 = DecimalType(30, 9)
      val obs = Tables.documents(spark, dir)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      val wAll = Window.partitionBy()
      val cells = obs
        .withColumn("r", sum($"o").over(Window.partitionBy($"lang")))
        .withColumn("c", sum($"o").over(Window.partitionBy($"source")))
        .withColumn("n", sum($"o").over(wAll))
        .withColumn("nr", size(collect_set($"lang").over(wAll)))
        .withColumn("nc", size(collect_set($"source").over(wAll)))
      val o = $"o".cast("double")
      val e = $"r".cast("double") * $"c".cast("double") / $"n".cast("double")
      val g = cells
        .select($"n", $"nr", $"nc",
          rN(o * log(o / e), 9).as("term"))
        .groupBy($"n".as("n_docs"), $"nr".as("n_langs"),
          $"nc".as("n_sources"))
        .agg((lit(2.0) * sum($"term".cast(dec9)).cast("double")).as("gd"))
      g.select($"n_docs", $"n_langs", $"n_sources",
        (($"n_langs" - 1) * ($"n_sources" - 1)).as("df"),
        r6($"gd").as("g_stat"),
        r6($"gd" / (lit(2.0) * $"n_docs".cast("double"))).as("mi_nats"))
    },
    Some(s"""
      WITH obs AS (SELECT lang, source, count(*) AS o
                   FROM documents GROUP BY lang, source),
      dims AS (
        SELECT cast(count(DISTINCT lang) as int) AS nr,
               cast(count(DISTINCT source) as int) AS nc
        FROM obs),
      m AS (
        SELECT cast(o as bigint) AS o,
               cast(sum(o) OVER (PARTITION BY lang) as bigint) AS r,
               cast(sum(o) OVER (PARTITION BY source) as bigint) AS c,
               cast(sum(o) OVER () as bigint) AS n,
               nr, nc
        FROM obs CROSS JOIN dims),
      t AS (
        SELECT n, nr, nc,
               ${rNSql("cast(o as double) * ln(cast(o as double) / " +
                 "(cast(r as double) * cast(c as double) / " +
                 "cast(n as double)))", 9)} AS term
        FROM m),
      s AS (
        SELECT n AS n_docs, nr AS n_langs, nc AS n_sources,
               cast(2.0 as double) *
                 cast(sum(cast(term as decimal(30,9))) as double) AS gd
        FROM t GROUP BY 1, 2, 3)
      SELECT n_docs, n_langs, n_sources,
             (n_langs - 1) * (n_sources - 1) AS df,
             ${r6Sql("gd")} AS g_stat,
             ${r6Sql("gd / (cast(2.0 as double) * cast(n_docs as double))")}
               AS mi_nats
      FROM s"""),
  )

  /** HOLM STEP-DOWN multiple-testing correction — q_bh_fdr's FWER
    * sibling on a different hypothesis family (per-BRAND return-rate
    * z-tests, lineitem⋈part only): adjusted pᵢ = max over the prefix of
    * (m−j+1)·pⱼ capped at 1 (a running-max window over the p-sorted
    * ≤25-row table), rejection = every rank before the first surviving
    * adjusted p > α (uniformly more powerful than Bonferroni, whose
    * adjusted p is also reported for contrast). Same scale shape as
    * q_bh_fdr: ONE combinable fact pass to (ni, ri) per brand, then all
    * windows ride the brand-count-bounded table; the normal-CDF
    * evaluation is the same fixed Abramowitz–Stegun polynomial (pure
    * IEEE, bit-identical cross-engine). */
  val qHolm: GQuery = GQuery(
    "q_holm",
    (spark, dir) => {
      import spark.implicits._
      val g = Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("ni"),
          sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("ri"))
      val wAll = Window.partitionBy()
      val tot = g.withColumn("n", sum($"ni").over(wAll))
        .withColumn("r", sum($"ri").over(wAll))
      val niD = $"ni".cast("double")
      val p0 = $"r".cast("double") / $"n".cast("double")
      val z = ($"ri".cast("double") / niD - p0) /
        sqrt(p0 * (lit(1.0) - p0) / niD)
      val withZ = tot.withColumn("z", z).withColumn("az", abs($"z"))
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * $"az")
      val pdf = exp(-($"az" * $"az") / lit(2.0)) *
        lit(0.3989422804014327)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      val withP = withZ
        .withColumn("p2", least(lit(2.0) * pdf * poly, lit(1.0)))
        .withColumn("rk",
          row_number().over(Window.orderBy($"p2", $"p_brand")))
        .withColumn("m", count(lit(1)).over(wAll))
      val holmRaw = ($"m".cast("double") - $"rk".cast("double") +
        lit(1.0)) * $"p2"
      val dec = withP
        .withColumn("hraw", holmRaw)
        .withColumn("p_holm", least(
          max($"hraw").over(Window.orderBy($"rk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          lit(1.0)))
        .withColumn("fail",
          min(when($"p_holm" > 0.05, $"rk")).over(wAll))
      dec.select($"p_brand".as("brand"), $"rk", $"ni", $"ri",
          r6($"z").as("z_stat"), r6($"p2").as("p_value"),
          r6($"p_holm").as("p_holm"),
          r6(least($"m".cast("double") * $"p2", lit(1.0))).as("p_bonf"),
          when($"rk" < coalesce($"fail", $"m" + 1), 1).otherwise(0)
            .as("rejected"))
        .orderBy($"rk")
    },
    Some {
      val p0 = "(cast(r as double) / cast(n as double))"
      val zz = s"((cast(ri as double) / cast(ni as double) - $p0) / " +
        s"sqrt($p0 * (cast(1.0 as double) - $p0) / cast(ni as double)))"
      val tt = "(cast(1.0 as double) / (cast(1.0 as double) + " +
        "cast(0.2316419 as double) * az))"
      val pdf = "(exp(-(az * az) / cast(2.0 as double)) * " +
        "cast(0.3989422804014327 as double))"
      val poly = s"($tt * (cast(0.319381530 as double) + $tt * " +
        s"(cast(-0.356563782 as double) + $tt * " +
        s"(cast(1.781477937 as double) + $tt * " +
        s"(cast(-1.821255978 as double) + $tt * " +
        s"cast(1.330274429 as double))))))"
      s"""
      WITH g AS (
        SELECT p_brand, cast(count(*) as bigint) AS ni,
               cast(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 as bigint) AS ri
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand),
      tot AS (
        SELECT *, cast(sum(ni) OVER () as bigint) AS n,
               cast(sum(ri) OVER () as bigint) AS r
        FROM g),
      wz AS (
        SELECT *, $zz AS z, abs($zz) AS az FROM tot),
      wp AS (
        SELECT *, least(cast(2.0 as double) * $pdf * $poly,
                 cast(1.0 as double)) AS p2
        FROM wz),
      rk AS (
        SELECT *, cast(row_number() OVER (ORDER BY p2, p_brand) as int)
                 AS rk,
               cast(count(*) OVER () as bigint) AS m
        FROM wp),
      dec AS (
        SELECT *,
               least(max((cast(m as double) - cast(rk as double) +
                   cast(1.0 as double)) * p2)
                 OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW), cast(1.0 as double)) AS p_holm
        FROM rk),
      fl AS (
        SELECT *, min(CASE WHEN p_holm > cast(0.05 as double)
                 THEN rk END) OVER () AS fail
        FROM dec)
      SELECT p_brand AS brand, rk, ni, ri,
             ${r6Sql("z")} AS z_stat, ${r6Sql("p2")} AS p_value,
             ${r6Sql("p_holm")} AS p_holm,
             ${r6Sql("least(cast(m as double) * p2, cast(1.0 as double))")}
               AS p_bonf,
             CASE WHEN rk < coalesce(fail, m + 1) THEN 1 ELSE 0 END
               AS rejected
      FROM fl ORDER BY rk"""
    },
  )

  /** FISHER-z CONFIDENCE INTERVALS for the per-region correlation
    * between a customer's account balance and their total order spend —
    * the interval companion to q_corr_matrix's point estimates (a point
    * r of 0.1 on n=300 vs n=30000 means opposite things; the z-CI says
    * which). r from exact integer-cent moment sums per nation (ONE
    * combinable pass over the customer⋈orders aggregate; moments are
    * exact int64, cross-engine identical after the double cast, and the
    * n·Σxy-style combinations happen in doubles to dodge int64
    * overflow); z = atanh(r) written as ½·ln((1+r)/(1−r)), CI back-
    * transformed with the explicit (e^{2u}−1)/(e^{2u}+1) — no library
    * tanh, one fixed IEEE expression shape in both engines. */
  val qFisherCi: GQuery = GQuery(
    "q_fisher_ci",
    (spark, dir) => {
      import spark.implicits._
      // whole-DOLLAR units: cent-squared sums would cross 2^63 at
      // sf0.1 (y_cents^2 ~ 2.5e15 x 6e3 rows); dollar moments stay exact
      val spend = Tables.orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("y"))
      val cu = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey",
          floor($"c_acctbal" + lit(0.5)).cast("long").as("x"))
      // REGION granularity: nations hold ~6 customers at sf0.001, where
      // n-3 hits zero; regions hold >=25 at every SF (n >= 10 guarded)
      val na = Tables.nation(spark, dir)
        .join(Tables.region(spark, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select($"n_nationkey", $"r_name")
      val g = cu.join(spend, $"c_custkey" === $"o_custkey")
        .join(broadcast(na), $"c_nationkey" === $"n_nationkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .filter($"n" >= 10)
      val d = (c: String) => col(c).cast("double")
      val num = d("n") * d("sxy") - d("sx") * d("sy")
      val den = sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
        (d("n") * d("syy") - d("sy") * d("sy")))
      val r = num / den
      val z = lit(0.5) * log((lit(1.0) + r) / (lit(1.0) - r))
      val se = lit(1.0) / sqrt(d("n") - lit(3.0))
      def tanh(u: org.apache.spark.sql.Column) =
        (exp(lit(2.0) * u) - lit(1.0)) / (exp(lit(2.0) * u) + lit(1.0))
      g.select($"r_name", $"n".as("n_cust"), r6(r).as("r"),
          r6(z).as("z_fisher"),
          r6(tanh(z - lit(1.959964) * se)).as("r_lo"),
          r6(tanh(z + lit(1.959964) * se)).as("r_hi"))
        .orderBy($"r_name")
    },
    Some {
      val num = "(cast(n as double) * cast(sxy as double) - " +
        "cast(sx as double) * cast(sy as double))"
      val den = "sqrt((cast(n as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double)) * " +
        "(cast(n as double) * cast(syy as double) - " +
        "cast(sy as double) * cast(sy as double)))"
      val r = s"($num / $den)"
      val z = s"(cast(0.5 as double) * ln((cast(1.0 as double) + $r) / " +
        s"(cast(1.0 as double) - $r)))"
      val se = "(cast(1.0 as double) / sqrt(cast(n as double) - " +
        "cast(3.0 as double)))"
      def tanh(u: String) =
        s"((exp(cast(2.0 as double) * $u) - cast(1.0 as double)) / " +
          s"(exp(cast(2.0 as double) * $u) + cast(1.0 as double)))"
      s"""
      WITH spend AS (
        SELECT o_custkey,
               cast(sum(cast(floor(o_totalprice + cast(0.5 as double))
                 as bigint)) as bigint) AS y
        FROM orders GROUP BY o_custkey),
      g AS (
        SELECT r_name, cast(count(*) as bigint) AS n,
               cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
               cast(sum(x * x) as bigint) AS sxx,
               cast(sum(y * y) as bigint) AS syy,
               cast(sum(x * y) as bigint) AS sxy
        FROM (SELECT c_custkey, c_nationkey,
                cast(floor(c_acctbal + cast(0.5 as double)) as bigint)
                  AS x
              FROM customer) c
        JOIN spend ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        HAVING count(*) >= 10)
      SELECT r_name, n AS n_cust, ${r6Sql(r)} AS r,
             ${r6Sql(z)} AS z_fisher,
             ${r6Sql(tanh(s"($z - cast(1.959964 as double) * $se)"))}
               AS r_lo,
             ${r6Sql(tanh(s"($z + cast(1.959964 as double) * $se)"))}
               AS r_hi
      FROM g ORDER BY r_name"""
    },
  )

  /** MANTEL–HAENSZEL POOLED ODDS RATIO — "does discounting associate
    * with returns, CONTROLLING for ship mode?" (the stratified companion
    * to q_oddsratio's single 2×2 and q_simpson's confounding demo).
    * Exposure = l_discount ≥ 0.05, outcome = l_returnflag = 'R', strata
    * = the 7 ship YEARS (period is the classic confounder: return
    * policy and discount prevalence both drift). Per stratum the 2×2
    * cells (n11 n10 n01 n00) are
    * exact integer counts from ONE combinable lineitem pass; the MH
    * pooled estimate Σ(n11·n00/n) / Σ(n10·n01/n) and the crude
    * (collapsed-table) OR both come from UNORDERED window sums over the
    * 7-row stratum table — each a·d/n term is 6-dp decimal-staged
    * (ad/n ≲ 2e4 at sf0.1, far under the 2³³ cast bound), so the
    * cross-stratum sums are exact and order-free. Contingency tables are
    * additive in cells → the whole statistic shards over any partition
    * of the fact table. */
  val qMhOr: GQuery = GQuery(
    "q_mh_or",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val cells = Tables.lineitem(spark, dir)
        .select(year($"l_shipdate").as("ship_year"),
          ($"l_discount" >= lit(0.05).cast("double")).as("e"),
          ($"l_returnflag" === "R").as("o"))
        .groupBy($"ship_year")
        .agg(
          sum(when($"e" && $"o", 1L).otherwise(0L)).as("n11"),
          sum(when($"e" && !$"o", 1L).otherwise(0L)).as("n10"),
          sum(when(!$"e" && $"o", 1L).otherwise(0L)).as("n01"),
          sum(when(!$"e" && !$"o", 1L).otherwise(0L)).as("n00"))
      val d = (c: String) => col(c).cast("double")
      val n = d("n11") + d("n10") + d("n01") + d("n00")
      val w = Window.partitionBy()
      val withTerms = cells
        .withColumn("t_num", rN(d("n11") * d("n00") / n, 6).cast(dec6))
        .withColumn("t_den", rN(d("n10") * d("n01") / n, 6).cast(dec6))
      withTerms
        .withColumn("s_num", sum($"t_num").over(w).cast("double"))
        .withColumn("s_den", sum($"t_den").over(w).cast("double"))
        .withColumn("c11", sum($"n11").over(w)).withColumn("c10", sum($"n10").over(w))
        .withColumn("c01", sum($"n01").over(w)).withColumn("c00", sum($"n00").over(w))
        .select($"ship_year", $"n11", $"n10", $"n01", $"n00",
          r6((d("n11") * d("n00")) / (d("n10") * d("n01"))).as("or_stratum"),
          r6($"s_num" / $"s_den").as("or_mh"),
          r6((d("c11") * d("c00")) / (d("c10") * d("c01"))).as("or_crude"))
        .orderBy($"ship_year")
    },
    Some(s"""
      WITH cells AS (
        SELECT cast(year(l_shipdate) as int) AS ship_year,
               cast(sum(CASE WHEN l_discount >= cast(0.05 as double)
                 AND l_returnflag = 'R' THEN 1 ELSE 0 END) as bigint) AS n11,
               cast(sum(CASE WHEN l_discount >= cast(0.05 as double)
                 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) as bigint) AS n10,
               cast(sum(CASE WHEN l_discount < cast(0.05 as double)
                 AND l_returnflag = 'R' THEN 1 ELSE 0 END) as bigint) AS n01,
               cast(sum(CASE WHEN l_discount < cast(0.05 as double)
                 AND l_returnflag <> 'R' THEN 1 ELSE 0 END) as bigint) AS n00
        FROM lineitem GROUP BY 1),
      t AS (
        SELECT *,
               cast(n11 + n10 + n01 + n00 as double) AS n,
               cast(${rNSql("cast(n11 as double) * cast(n00 as double) / " +
                 "cast(n11 + n10 + n01 + n00 as double)", 6)}
                 as decimal(30,6)) AS t_num,
               cast(${rNSql("cast(n10 as double) * cast(n01 as double) / " +
                 "cast(n11 + n10 + n01 + n00 as double)", 6)}
                 as decimal(30,6)) AS t_den
        FROM cells),
      ww AS (
        SELECT *, cast(sum(t_num) OVER () as double) AS s_num,
               cast(sum(t_den) OVER () as double) AS s_den,
               cast(sum(n11) OVER () as bigint) AS c11,
               cast(sum(n10) OVER () as bigint) AS c10,
               cast(sum(n01) OVER () as bigint) AS c01,
               cast(sum(n00) OVER () as bigint) AS c00
        FROM t)
      SELECT ship_year, n11, n10, n01, n00,
             ${r6Sql("(cast(n11 as double) * cast(n00 as double)) / " +
               "(cast(n10 as double) * cast(n01 as double))")} AS or_stratum,
             ${r6Sql("s_num / s_den")} AS or_mh,
             ${r6Sql("(cast(c11 as double) * cast(c00 as double)) / " +
               "(cast(c10 as double) * cast(c01 as double))")} AS or_crude
      FROM ww ORDER BY ship_year"""),
  )

  /** ONE-WAY RANDOM-EFFECTS ICC(1,1) of part retail price within brand
    * — "how much of price variance is BETWEEN brands?" (the reliability
    * companion to q_anova's F: same decomposition, reported as a
    * variance-ratio in [−1/(k̄−1), 1]). Whole-DOLLAR units keep every
    * staged per-group term far under the 2³³ double→decimal cast bound
    * at the tested SFs (within-brand SS ≲ 1e8, Sx²/n ≲ 2e9 at sf0.1 —
    * the q_levene rescale lesson). MSW/MSB from per-brand integer
    * moments (one combinable pass, 25-row group table); the two
    * cross-group sums (Σ SSW_g, Σ Sx_g²/n_g) are 6-dp decimal-staged →
    * exact and order-free; k0 = (N − Σn_g²/N)/(a−1) handles unequal
    * group sizes. Output is one summary row. */
  val qIcc: GQuery = GQuery(
    "q_icc",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val g = Tables.part(spark, dir)
        .select($"p_brand",
          floor($"p_retailprice" + lit(0.5)).cast("long").as("x"))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("ng"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"))
      val d = (c: String) => col(c).cast("double")
      val s = g.select(
          $"ng", $"sx", $"sxx",
          rN(d("sxx") - d("sx") * d("sx") / d("ng"), 6).cast(dec6)
            .as("ssw_g"),
          rN(d("sx") * d("sx") / d("ng"), 6).cast(dec6).as("sb_g"))
        .agg(count(lit(1)).as("a"), sum($"ng").as("nn"),
          sum($"ng" * $"ng").as("sn2"),
          sum($"sx").as("tsx"),
          sum($"ssw_g").cast("double").as("ssw"),
          sum($"sb_g").cast("double").as("sbg"))
      val nD = $"nn".cast("double")
      val aD = $"a".cast("double")
      val ssb = $"sbg" - $"tsx".cast("double") * $"tsx".cast("double") / nD
      val msw = $"ssw" / (nD - aD)
      val msb = ssb / (aD - lit(1.0))
      val k0 = (nD - $"sn2".cast("double") / nD) / (aD - lit(1.0))
      s.select($"a".cast("int").as("n_groups"), $"nn".as("n_parts"),
        r6(k0).as("k0"), r6(msb).as("msb"), r6(msw).as("msw"),
        r6((msb - msw) / (msb + (k0 - lit(1.0)) * msw)).as("icc"))
    },
    Some {
      val ssb = "(sbg - cast(tsx as double) * cast(tsx as double) / " +
        "cast(nn as double))"
      val msw = "(ssw / (cast(nn as double) - cast(a as double)))"
      val msb = s"($ssb / (cast(a as double) - cast(1.0 as double)))"
      val k0 = "((cast(nn as double) - cast(sn2 as double) / " +
        "cast(nn as double)) / (cast(a as double) - cast(1.0 as double)))"
      s"""
      WITH g AS (
        SELECT p_brand, cast(count(*) as bigint) AS ng,
               cast(sum(x) as bigint) AS sx,
               cast(sum(x * x) as bigint) AS sxx
        FROM (SELECT p_brand,
                cast(floor(p_retailprice + cast(0.5 as double)) as bigint)
                  AS x FROM part) p
        GROUP BY p_brand),
      s AS (
        SELECT cast(count(*) as bigint) AS a, cast(sum(ng) as bigint) AS nn,
               cast(sum(ng * ng) as bigint) AS sn2,
               cast(sum(sx) as bigint) AS tsx,
               cast(sum(cast(${rNSql("cast(sxx as double) - " +
                 "cast(sx as double) * cast(sx as double) / " +
                 "cast(ng as double)", 6)} as decimal(30,6)))
                 as double) AS ssw,
               cast(sum(cast(${rNSql("cast(sx as double) * " +
                 "cast(sx as double) / cast(ng as double)", 6)}
                 as decimal(30,6))) as double) AS sbg
        FROM g)
      SELECT cast(a as int) AS n_groups, nn AS n_parts,
             ${r6Sql(k0)} AS k0, ${r6Sql(msb)} AS msb, ${r6Sql(msw)} AS msw,
             ${r6Sql(s"($msb - $msw) / ($msb + ($k0 - cast(1.0 as double))" +
               s" * $msw)")} AS icc
      FROM s"""
    },
  )

  /** CRONBACH'S ALPHA treating the five event types as items and days
    * as subjects — "do the daily activity metrics move together enough
    * to be one reliability scale?" (the internal-consistency companion
    * to q_icc: same variance decomposition instinct, item-wise).
    * α = k/(k−1)·(1 − ΣSS_i/SS_total), computed ENTIRELY in exact int64:
    * daily per-type counts from one combinable pass, each sum-of-squares
    * as n·Σx² − (Σx)² on integers (≲2.4e11 at sf0.1 — far inside
    * int64), the item SS summed over a FIXED five-term chain. The only
    * double is the final ratio. */
  val qCronbach: GQuery = GQuery(
    "q_cronbach",
    (spark, dir) => {
      import spark.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cnt = (t: String) =>
        sum(when($"event_type" === t, 1L).otherwise(0L))
      val daily = Tables.events(spark, dir)
        .groupBy(to_date($"ts").as("day"))
        .agg(cnt(types.head).as("x1"), cnt(types(1)).as("x2"),
          cnt(types(2)).as("x3"), cnt(types(3)).as("x4"),
          cnt(types(4)).as("x5"))
      val tot = $"x1" + $"x2" + $"x3" + $"x4" + $"x5"
      val m = daily.agg(count(lit(1)).as("n"),
        sum($"x1").as("s1"), sum($"x1" * $"x1").as("q1"),
        sum($"x2").as("s2"), sum($"x2" * $"x2").as("q2"),
        sum($"x3").as("s3"), sum($"x3" * $"x3").as("q3"),
        sum($"x4").as("s4"), sum($"x4" * $"x4").as("q4"),
        sum($"x5").as("s5"), sum($"x5" * $"x5").as("q5"),
        sum(tot).as("st"), sum(tot * tot).as("qt"))
      def ss(s: String, q: String) = $"n" * col(q) - col(s) * col(s)
      val ssItems = ss("s1", "q1") + ss("s2", "q2") + ss("s3", "q3") +
        ss("s4", "q4") + ss("s5", "q5")
      val ssTotal = $"n" * $"qt" - $"st" * $"st"
      m.select($"n".as("n_days"), lit(5).as("k"),
        ssItems.as("ss_items"), ssTotal.as("ss_total"),
        r6(lit(1.25) * (lit(1.0) -
          ssItems.cast("double") / ssTotal.cast("double"))).as("alpha"))
    },
    Some {
      val items = Seq("click" -> 1, "error" -> 2, "purchase" -> 3,
        "signup" -> 4, "view" -> 5)
      val cols = items.map { case (t, i) =>
        s"cast(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) " +
          s"as bigint) AS x$i"
      }.mkString(", ")
      val ssI = (1 to 5).map(i => s"(n * q$i - s$i * s$i)").mkString(" + ")
      s"""
      WITH daily AS (
        SELECT cast(date_trunc('day', ts) as date) AS day, $cols
        FROM events GROUP BY 1),
      m AS (
        SELECT cast(count(*) as bigint) AS n,
               ${(1 to 5).map(i => s"cast(sum(x$i) as bigint) AS s$i, " +
                 s"cast(sum(x$i * x$i) as bigint) AS q$i").mkString(", ")},
               cast(sum(x1 + x2 + x3 + x4 + x5) as bigint) AS st,
               cast(sum((x1 + x2 + x3 + x4 + x5) *
                 (x1 + x2 + x3 + x4 + x5)) as bigint) AS qt
        FROM daily)
      SELECT n AS n_days, 5 AS k,
             cast($ssI as bigint) AS ss_items,
             cast(n * qt - st * st as bigint) AS ss_total,
             ${r6Sql("cast(1.25 as double) * (cast(1.0 as double) - " +
               s"cast($ssI as double) / " +
               "cast(n * qt - st * st as double))")} AS alpha
      FROM m"""
    },
  )

  val all: Seq[GQuery] = Seq(qTtest, qAnova, qCramersV, qSpearman,
    qJackknife, qCorrMatrix, qBootstrap, qVif, qSimpson, qEffectSize,
    qTukeyHsd, qPartialCorr, qJarqueBera, qBartlett, qWelchAnova, qBhFdr,
    qTost, qGTest, qHolm, qFisherCi, qMhOr, qIcc, qCronbach)
}
