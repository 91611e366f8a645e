package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Tables}
import graft.engine.GQuery._

/** Time-series statistics over the event stream and the order history
  * (SURVEY.md §2.B extension, round 7): autocorrelation, rolling
  * correlation, CUSUM change-point detection, conversion-delay
  * distribution, and weekly churn. The scale posture shared by all five:
  * the raw fact (events / orders) is collapsed FIRST by a map-side-
  * combinable aggregation onto its natural coarse key (day, week, user),
  * so every window or join downstream runs over a series whose size is
  * bounded by the calendar or the user count — never by raw event volume.
  * The unpartitioned windows below are over |days|-sized aggregates
  * (30–2500 rows at ANY SF); the 100 TB-sensitive work is all in the
  * first groupBy.
  *
  * Determinism: series values are exact integers (counts / integer
  * cents), so window sums and sufficient statistics are order-free; the
  * only floating point is the final closed-form arithmetic, IEEE-rounded
  * via rN (see GQuery scaladoc).
  */
object SeriesOps {

  /** Shared daily-count spine for the event series: calendar-complete
    * (missing days are real zeros, not missing rows — a lag-k pair that
    * silently skips a gap day is wrong). */
  private def dailyCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(to_date($"ts").as("day"))
    val daily = ev.groupBy($"day").agg(count(lit(1)).as("n"))
    // bounds from the |days|-row aggregate — not a second events scan
    // (PlanAudit: the two aggregations never canonically match)
    val spine = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    spine.join(daily, Seq("day"), "left_outer")
      .select($"day", coalesce($"n", lit(0L)).as("n"))
  }

  /** SQL twin of [[dailyCounts]], ending in `daily(day, n)`. */
  private val dailyCte: String = s"""
      ev AS (SELECT cast(date_trunc('day', ts) as date) AS day FROM events),
      daily0 AS (SELECT day, count(*) AS n FROM ev GROUP BY day),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
      spine AS (
        SELECT cast(unnest(generate_series(cast(d0 as timestamp),
                 cast(d1 as timestamp), INTERVAL 1 DAY)) as date) AS day
        FROM bounds),
      daily AS (
        SELECT spine.day, coalesce(n, 0) AS n
        FROM spine LEFT JOIN daily0 USING (day))"""

  /** Autocorrelation function of the daily event-count series, lags 1–7
    * — the first diagnostic run on any metric series (a weekly cycle
    * shows as a positive r at lag 7). Pearson r over the (x_t, x_{t−k})
    * overlap pairs, computed from INTEGER sufficient statistics (counts,
    * sums, sums of products — exact in int64 at any SF, since the series
    * is |days| long); the only doubles are the final closed form. The
    * lag columns come from one unpartitioned window over the |days|-row
    * aggregate (tiny by construction); stack() unpivots the 7 lags so
    * one grouped pass produces all seven rows. */
  val qAutocorr: GQuery = GQuery(
    "q_autocorr",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"day")
      val lagged = (1 to 7).foldLeft(dailyCounts(spark, dir)) {
        case (df, k) => df.withColumn(s"lag$k", lag($"n", k).over(w))
      }
      val stackArgs = (1 to 7).map(k => s"$k, lag$k").mkString(", ")
      lagged
        .selectExpr("n AS x", s"stack(7, $stackArgs) AS (k, y)")
        .filter($"y".isNotNull)
        .groupBy($"k")
        .agg(count(lit(1)).as("np"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
        .select($"k", $"np".as("n_pairs"),
          r6((($"np" * $"sxy" - $"sx" * $"sy").cast("double")) /
            sqrt(($"np" * $"sxx" - $"sx" * $"sx").cast("double") *
              ($"np" * $"syy" - $"sy" * $"sy").cast("double"))).as("r"))
        .orderBy($"k")
    },
    Some {
      val lagCols = (1 to 7).map(k => s"lag(n, $k) OVER w AS lag$k")
        .mkString(", ")
      val arms = (1 to 7).map(k =>
        s"SELECT $k AS k, n AS x, lag$k AS y FROM l WHERE lag$k IS NOT NULL")
        .mkString("\n        UNION ALL ")
      s"""
      WITH $dailyCte,
      l AS (SELECT n, $lagCols FROM daily WINDOW w AS (ORDER BY day)),
      p AS (
        $arms),
      s AS (
        SELECT k, count(*) AS np,
               cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
               cast(sum(x*y) as bigint) AS sxy,
               cast(sum(x*x) as bigint) AS sxx,
               cast(sum(y*y) as bigint) AS syy
        FROM p GROUP BY k)
      SELECT k, np AS n_pairs,
             ${r6Sql("cast(np*sxy - sx*sy as double) / " +
               "sqrt(cast(np*sxx - sx*sx as double) * " +
               "cast(np*syy - sy*sy as double))")} AS r
      FROM s ORDER BY k"""
    },
  )

  /** 7-day rolling Pearson correlation between the 'view' and 'click'
    * daily series — the co-movement monitor between two metrics. Both
    * series ride ONE spine (calendar-complete, zeros real); the frame
    * sums are integer-exact; the correlation is emitted only on full
    * 7-day frames, NULL when either series is constant in the frame
    * (zero variance — both engines agree via an explicit guard, not a
    * division error). The long difference terms are exact (≤ ~5e10 at
    * sf1), and are cast to double BEFORE the product, which would
    * overflow int64. */
  val qRollingCorr: GQuery = GQuery(
    "q_rolling_corr",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"event_type".isin("view", "click"))
        .select(to_date($"ts").as("day"), $"event_type")
      val daily = ev.groupBy($"day")
        .agg(sum(when($"event_type" === "view", 1L).otherwise(0L)).as("x"),
          sum(when($"event_type" === "click", 1L).otherwise(0L)).as("y"))
      val spine = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val series = spine.join(daily, Seq("day"), "left_outer")
        .select($"day", coalesce($"x", lit(0L)).as("x"),
          coalesce($"y", lit(0L)).as("y"))
      val fr = Window.orderBy($"day").rowsBetween(-6, 0)
      val nx = lit(7) * sum($"x" * $"x").over(fr) -
        sum($"x").over(fr) * sum($"x").over(fr)
      val ny = lit(7) * sum($"y" * $"y").over(fr) -
        sum($"y").over(fr) * sum($"y").over(fr)
      val cov = lit(7) * sum($"x" * $"y").over(fr) -
        sum($"x").over(fr) * sum($"y").over(fr)
      series
        .withColumn("nw", count(lit(1)).over(fr))
        .withColumn("r",
          when($"nw" === 7 && nx > 0 && ny > 0,
            r6(cov.cast("double") /
              sqrt(nx.cast("double") * ny.cast("double")))))
        .filter($"nw" === 7)
        .select($"day", $"x".cast("int").as("views"),
          $"y".cast("int").as("clicks"), $"r")
        .orderBy($"day")
    },
    Some(s"""
      WITH ev AS (
        SELECT cast(date_trunc('day', ts) as date) AS day, event_type
        FROM events WHERE event_type IN ('view', 'click')),
      daily0 AS (
        SELECT day,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
        FROM ev GROUP BY day),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      spine AS (
        SELECT cast(unnest(generate_series(cast(d0 as timestamp),
                 cast(d1 as timestamp), INTERVAL 1 DAY)) as date) AS day
        FROM bounds),
      series AS (
        SELECT spine.day, coalesce(x, 0) AS x, coalesce(y, 0) AS y
        FROM spine LEFT JOIN daily0 USING (day)),
      f AS (
        SELECT day, x, y, count(*) OVER fr AS nw,
               cast(7*sum(x*x) OVER fr - sum(x) OVER fr * sum(x) OVER fr
                 as bigint) AS nx,
               cast(7*sum(y*y) OVER fr - sum(y) OVER fr * sum(y) OVER fr
                 as bigint) AS ny,
               cast(7*sum(x*y) OVER fr - sum(x) OVER fr * sum(y) OVER fr
                 as bigint) AS cov
        FROM series
        WINDOW fr AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT day, cast(x as int) AS views, cast(y as int) AS clicks,
             CASE WHEN nx > 0 AND ny > 0 THEN
               ${r6Sql("cast(cov as double) / " +
                 "sqrt(cast(nx as double) * cast(ny as double))")}
             END AS r
      FROM f WHERE nw = 7 ORDER BY day"""),
  )

  /** CUSUM change-point detection on the daily order-revenue series: the
    * day t maximizing |n·prefix_t − t·total| — an integer rescaling of
    * the classic max-|cumulative-deviation-from-mean| statistic (×n
    * clears the mean's division, so the ENTIRE argmax runs in exact
    * int64 cents; ties impossible to mis-order across engines). Revenue
    * is IEEE-rounded to integer cents per order (the rN trick), summed
    * per day (combinable), and a deterministic +$5M/day level shift (~30% of a typical day) is
    * planted after 1998-06-01 so the detector has a true change to find
    * at every SF (same convention as q_anomaly's spike). Output: the
    * change-point day, the CUSUM peak in dollars, and the mean daily
    * revenue on each side. The cumulative window runs over the ~2400-row
    * daily aggregate — calendar-bounded at any scale. */
  val qChangepoint: GQuery = GQuery(
    "q_changepoint",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val daily = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"), cents.as("cents"))
        .groupBy($"day")
        .agg((sum($"cents") +
          when($"day" > to_date(lit("1998-06-01")), 500000000L).otherwise(0L))
          .as("rev"))
      val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
      // whole-series totals as an unpartitioned window over the SAME
      // 2400-row daily aggregate — not a second aggregate branch, which
      // would scan orders twice (the Q15 shared-subtree trap)
      val wAll = Window.partitionBy()
      val cum = daily
        .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
        .withColumn("prefix", sum($"rev").over(w))
        .withColumn("nd", max($"t").over(wAll))
        .withColumn("total", sum($"rev").over(wAll))
      cum
        .withColumn("d", $"nd" * $"prefix" - $"t" * $"total")
        .orderBy(abs($"d").desc, $"day")
        .limit(1)
        .select($"day".as("cp_day"),
          r6(abs($"d").cast("double") / $"nd" / lit(100.0)).as("max_cusum"),
          r6($"prefix".cast("double") / $"t" / lit(100.0)).as("mean_before"),
          r6(($"total" - $"prefix").cast("double") / ($"nd" - $"t") /
            lit(100.0)).as("mean_after"),
          $"nd".cast("int").as("n_days"))
    },
    Some(s"""
      WITH daily AS (
        SELECT day, cast(sum(c) as bigint)
               + (CASE WHEN day > DATE '1998-06-01' THEN 500000000 ELSE 0 END)
                 AS rev
        FROM (SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
                     cast(floor(o_totalprice * cast(100.0 as double)
                       + cast(0.5 as double)) as bigint) AS c
              FROM orders) o
        GROUP BY day),
      cum AS (
        SELECT day, rev,
               cast(row_number() OVER (ORDER BY day) as bigint) AS t,
               cast(sum(rev) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS prefix,
               cast(count(*) OVER () as bigint) AS nd,
               cast(sum(rev) OVER () as bigint) AS total
        FROM daily)
      SELECT day AS cp_day,
             ${r6Sql("cast(abs(nd*prefix - t*total) as double) / nd " +
               "/ cast(100.0 as double)")} AS max_cusum,
             ${r6Sql("cast(prefix as double) / t / cast(100.0 as double)")}
               AS mean_before,
             ${r6Sql("cast(total - prefix as double) / (nd - t) " +
               "/ cast(100.0 as double)")} AS mean_after,
             cast(nd as int) AS n_days
      FROM cum
      ORDER BY abs(nd*prefix - t*total) DESC, day LIMIT 1"""),
  )

  /** Conversion-delay distribution: seconds from a user's FIRST view to
    * their first purchase strictly after it, summarized as exact
    * quartiles + p90. Two per-user min-aggregations (combinable, the
    * q_funnel shape — the join is |users|-bounded) feed one tiny
    * percentile pass over |converted users| integer deltas; percentile ≡
    * quantile_cont bit-wise on integers (q_percentile contract). */
  val qConvertTime: GQuery = GQuery(
    "q_convert_time",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", $"event_type", $"ts")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val p = ev.filter($"event_type" === "purchase").join(v, "user_id")
        .filter($"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"), min($"t1").as("t1"))
      p.select(($"t2".cast("long") - $"t1".cast("long")).as("delay"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(delay, 0.25)"), 6).as("p25"),
          round(expr("percentile(delay, 0.5)"), 6).as("p50"),
          round(expr("percentile(delay, 0.75)"), 6).as("p75"),
          round(expr("percentile(delay, 0.9)"), 6).as("p90"),
          max($"delay").as("max_delay"))
    },
    Some("""
      WITH ev AS (SELECT user_id, event_type,
                         epoch(date_trunc('second', ts))::BIGINT AS tse
                  FROM events),
      v AS (SELECT user_id, min(tse) AS t1 FROM ev
            WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT ev.user_id, min(tse) AS t2, min(t1) AS t1
            FROM ev JOIN v USING (user_id)
            WHERE event_type = 'purchase' AND tse > t1
            GROUP BY ev.user_id),
      d AS (SELECT t2 - t1 AS delay FROM p)
      SELECT count(*) AS n_converted,
             round(quantile_cont(delay, 0.25), 6) AS p25,
             round(quantile_cont(delay, 0.5), 6) AS p50,
             round(quantile_cont(delay, 0.75), 6) AS p75,
             round(quantile_cont(delay, 0.9), 6) AS p90,
             cast(max(delay) as bigint) AS max_delay
      FROM d"""),
  )

  /** Weekly churn: of the users active in week w, how many are NOT seen
    * in week w+1. The fact collapses to distinct (user, week) FIRST
    * (map-side combinable; the shuffle carries |users|·|weeks|, never
    * raw events); retention is one self equi-join on (user, week+1);
    * the last week has no successor and is excluded. Weeks are
    * epoch-anchored day/7 buckets — weekday-convention-free in both
    * engines (CLAUDE.md dayofweek gotcha). */
  val qChurn: GQuery = GQuery(
    "q_churn",
    (spark, dir) => {
      import spark.implicits._
      val uw = Tables.events(spark, dir)
        .select($"user_id",
          // integer div, not `/` (double division) — stays exact in longs
          expr("datediff(to_date(ts), date '1970-01-01') div 7")
            .cast("long").as("wk"))
        .distinct()
      val next = uw.select($"user_id", ($"wk" - 1).as("wk"))
        .withColumn("retained", lit(1L)).distinct()
      val agg = uw.join(next, Seq("user_id", "wk"), "left_outer")
        .groupBy($"wk")
        .agg(count(lit(1)).as("active"),
          sum(coalesce($"retained", lit(0L))).as("retained"))
      // week bounds as unpartitioned windows over the |weeks|-row
      // aggregate (a second uw branch would re-shuffle the events)
      val wAll = Window.partitionBy()
      agg
        .withColumn("maxwk", max($"wk").over(wAll))
        .withColumn("minwk", min($"wk").over(wAll))
        .filter($"wk" < $"maxwk")
        .select(($"wk" - $"minwk").cast("int").as("week"),
          $"active", $"retained",
          r6(($"active" - $"retained").cast("double") / $"active")
            .as("churn_rate"))
        .orderBy($"week")
    },
    Some(s"""
      WITH uw AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', ts) as date)) // 7 AS wk
        FROM events),
      nxt AS (SELECT DISTINCT user_id, wk - 1 AS wk, 1 AS retained FROM uw),
      agg AS (
        SELECT uw.wk, count(*) AS active,
               cast(sum(coalesce(retained, 0)) as bigint) AS retained
        FROM uw LEFT JOIN nxt ON uw.user_id = nxt.user_id AND uw.wk = nxt.wk
        GROUP BY uw.wk),
      w2 AS (SELECT wk, active, retained,
                    max(wk) OVER () AS maxwk, min(wk) OVER () AS minwk
             FROM agg)
      SELECT cast(wk - minwk as int) AS week, active, retained,
             ${r6Sql("cast(active - retained as double) / active")}
               AS churn_rate
      FROM w2 WHERE wk < maxwk ORDER BY week"""),
  )

  /** PER-SERIES OLS TREND: least-squares slope of daily event counts per
    * event type, with r² goodness of fit. x = epoch-day, y = count — both
    * integers, so every moment sum (Σx, Σy, Σxy, Σx², Σy²) is EXACT
    * int64 (the q_ttest moment contract; magnitudes ≤ ~1e10 at sf0.1)
    * and the closed-form slope (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) is one
    * fixed-shape IEEE expression — bit-identical across engines with no
    * staging. The r² numerator is cast to double BEFORE squaring (its
    * integer square would exceed int64). One combinable groupBy per
    * stage; the regression itself runs over |types| rows. */
  val qTrend: GQuery = GQuery(
    "q_trend",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.events(spark, dir)
        .select($"event_type",
          datediff(to_date($"ts"), to_date(lit("1970-01-01")))
            .cast("long").as("x"))
        .groupBy($"event_type", $"x")
        .agg(count(lit(1)).as("y"))
      val m = daily.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"),
        sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      val d = (c: String) => col(c).cast("double")
      val num = d("n") * d("sxy") - d("sx") * d("sy")
      val denx = d("n") * d("sxx") - d("sx") * d("sx")
      val deny = d("n") * d("syy") - d("sy") * d("sy")
      m.select($"event_type", $"n".cast("int").as("n_days"),
          r6(d("sy") / d("n")).as("mean_daily"),
          r6(num / denx).as("slope_per_day"),
          r6(num * num / (denx * deny)).as("r2"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT event_type,
               cast(date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', ts) as date)) as bigint) AS x,
               count(*) AS y
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT event_type,
               cast(count(*) as bigint) AS n,
               cast(sum(x) as bigint) AS sx,
               cast(sum(y) as bigint) AS sy,
               cast(sum(x * y) as bigint) AS sxy,
               cast(sum(x * x) as bigint) AS sxx,
               cast(sum(y * y) as bigint) AS syy
        FROM daily GROUP BY event_type),
      e AS (
        SELECT event_type, n, sy,
               cast(n as double) * sxy - cast(sx as double) * sy AS num,
               cast(n as double) * sxx - cast(sx as double) * sx AS denx,
               cast(n as double) * syy - cast(sy as double) * sy AS deny
        FROM m)
      SELECT event_type, cast(n as int) AS n_days,
             ${r6Sql("cast(sy as double) / cast(n as double)")}
               AS mean_daily,
             ${r6Sql("num / denx")} AS slope_per_day,
             ${r6Sql("num * num / (denx * deny)")} AS r2
      FROM e ORDER BY event_type"""),
  )

  /** SAX SYMBOLIZATION of the daily order-revenue series: z-normalize
    * the ~2400-day series against its own mean/std, discretize into a
    * 4-letter alphabet at the standard Gaussian quartile breakpoints
    * (−0.6745, 0, 0.6745), slide a 3-day word over the letters, and
    * emit the motif histogram — the symbolic index that makes
    * subsequence matching over a 100 TB series a string equi-join
    * instead of a numeric scan. Determinism: daily revenue is exact
    * integer cents (the q_changepoint trick) turned into one IEEE
    * division; mean/std come from decimal-staged sums of value and
    * value² (dollar² ≤ 1e12 fits decimal(30,6)); z is rounded (rN 6)
    * BEFORE the breakpoint comparison so a 1-ulp straddle can't flip a
    * letter. The letter/word windows run over the calendar-bounded
    * daily table. */
  val qSax: GQuery = GQuery(
    "q_sax",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val daily = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"), cents.as("c"))
        .groupBy($"day")
        .agg((sum($"c").cast("double") / lit(100.0)).as("rd"))
      val wAll = Window.partitionBy()
      val z = daily
        .withColumn("n", count(lit(1)).over(wAll).cast("double"))
        .withColumn("s",
          sum($"rd".cast("decimal(30,6)")).over(wAll).cast("double"))
        .withColumn("q",
          sum(($"rd" * $"rd").cast("decimal(30,6)")).over(wAll)
            .cast("double"))
        .withColumn("z", rN(($"rd" - $"s" / $"n") /
          sqrt(($"q" - $"s" * $"s" / $"n") / ($"n" - lit(1.0))), 6))
        .withColumn("letter",
          when($"z" < lit(-0.6745), "a")
            .when($"z" < lit(0.0), "b")
            .when($"z" < lit(0.6745), "c")
            .otherwise("d"))
      val wDay = Window.orderBy($"day")
      val words = z
        .withColumn("word", concat($"letter",
          lead($"letter", 1).over(wDay), lead($"letter", 2).over(wDay)))
        .filter($"word".isNotNull)
        .groupBy($"word").agg(count(lit(1)).as("n_windows"))
      val tot = words.agg(sum($"n_windows").as("nw"))
      words.crossJoin(broadcast(tot))
        .select($"word", $"n_windows",
          r6($"n_windows".cast("double") / $"nw".cast("double"))
            .as("share"))
        .orderBy($"word")
    },
    Some(s"""
      WITH daily AS (
        SELECT day, cast(sum(c) as double) / cast(100.0 as double) AS rd
        FROM (SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
                     cast(floor(o_totalprice * cast(100.0 as double)
                       + cast(0.5 as double)) as bigint) AS c
              FROM orders) o
        GROUP BY day),
      stats AS (
        SELECT day, rd,
               cast(count(*) OVER () as double) AS n,
               cast(sum(cast(rd as decimal(30,6))) OVER () as double) AS s,
               cast(sum(cast(rd * rd as decimal(30,6))) OVER () as double)
                 AS q
        FROM daily),
      lets AS (
        SELECT day,
               CASE WHEN z < cast(-0.6745 as double) THEN 'a'
                    WHEN z < cast(0.0 as double) THEN 'b'
                    WHEN z < cast(0.6745 as double) THEN 'c'
                    ELSE 'd' END AS letter
        FROM (SELECT day,
                ${rNSql("(rd - s / n) / " +
                  "sqrt((q - s * s / n) / (n - 1.0))", 6)} AS z
              FROM stats) zt),
      words AS (
        SELECT letter || lead(letter, 1) OVER (ORDER BY day)
                      || lead(letter, 2) OVER (ORDER BY day) AS word
        FROM lets),
      wc AS (
        SELECT word, count(*) AS n_windows FROM words
        WHERE word IS NOT NULL GROUP BY word),
      tot AS (SELECT cast(sum(n_windows) as bigint) AS nw FROM wc)
      SELECT word, cast(n_windows as bigint) AS n_windows,
             ${r6Sql("cast(n_windows as double) / cast(nw as double)")}
               AS share
      FROM wc CROSS JOIN tot ORDER BY word"""),
  )

  /** SEASONAL-NAIVE FORECAST BACKTEST — the honesty check every
    * forecasting pipeline needs as its baseline: predict each day's
    * event count with the value 7 CALENDAR days earlier (ŷ_t = y_{t−7})
    * and score MAPE + RMSE per event type over the scorable days. The
    * lookback is a RANGE window frame pinned to exactly x−7 (`RANGE
    * BETWEEN 7 PRECEDING AND 7 PRECEDING` on the integer day) — the
    * one-pass form that is simultaneously calendar-correct (a missing
    * day yields an empty frame → unscored, where a row-offset lag
    * would silently misalign) and single-scan (the earlier self-join
    * form read events twice; ReuseExchange could not dedup across the
    * +7 projection). Counts are integers: squared errors sum exactly
    * (RMSE is one division + √); MAPE terms are IEEE-rounded then
    * decimal-averaged. */
  val qBacktestSnaive: GQuery = GQuery(
    "q_backtest_snaive",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.events(spark, dir)
        .select($"event_type",
          datediff(to_date($"ts"), to_date(lit("1970-01-01")))
            .cast("long").as("x"))
        .groupBy($"event_type", $"x")
        .agg(count(lit(1)).as("y"))
      val w7 = Window.partitionBy($"event_type").orderBy($"x")
        .rangeBetween(-7, -7)
      daily
        .withColumn("f", max($"y").over(w7))
        .filter($"f".isNotNull)
        .select($"event_type",
          ($"y" - $"f").as("e"),
          rN(abs($"y" - $"f").cast("double") / $"y".cast("double"), 9)
            .as("ape"))
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("int").as("n_scored"),
          davg($"ape", 6).as("mape"),
          r6(sqrt(sum($"e" * $"e").cast("double") /
            count(lit(1)).cast("double"))).as("rmse"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT event_type,
               cast(date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', ts) as date)) as bigint) AS x,
               count(*) AS y
        FROM events GROUP BY 1, 2),
      fc AS (
        SELECT event_type, y,
               max(y) OVER (PARTITION BY event_type ORDER BY x
                 RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS f
        FROM daily),
      j AS (
        SELECT event_type,
               cast(y as bigint) - cast(f as bigint) AS e,
               ${rNSql("cast(abs(cast(y as bigint) - cast(f as bigint))" +
                 " as double) / cast(y as double)", 9)} AS ape
        FROM fc WHERE f IS NOT NULL)
      SELECT event_type, cast(count(*) as int) AS n_scored,
             ${davgSql("ape", 6)} AS mape,
             ${r6Sql("sqrt(cast(sum(e * e) as double) / " +
               "cast(count(*) as double))")} AS rmse
      FROM j GROUP BY event_type ORDER BY event_type"""),
  )

  /** WEEK-OVER-WEEK REVENUE GROWTH — the KPI time series every
    * dashboard opens with. Weeks are epoch-day DIV 7 (pure integer
    * arithmetic, immune to both engines' week-numbering conventions —
    * the weekday-convention trap generalized); weekly revenue sums in
    * exact integer cents; the 1-week lookback is a RANGE frame pinned
    * to exactly wk−1 (the q_backtest_snaive one-pass form — a
    * row-offset lag would silently bridge gap weeks, and a self-join
    * scans orders twice). Growth is one IEEE division on integer
    * cents, NULL where the previous week is absent (empty frame). */
  val qWowGrowth: GQuery = GQuery(
    "q_wow_growth",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val weekly = Tables.orders(spark, dir)
        .select(expr(
          "datediff(to_date(o_orderdate), date '1970-01-01') div 7")
          .cast("long").as("wk"), cents.as("c"))
        .groupBy($"wk")
        .agg(sum($"c").as("rev"))
      val w1 = Window.orderBy($"wk").rangeBetween(-1, -1)
      weekly
        .withColumn("prev_rev", max($"rev").over(w1))
        .select($"wk".cast("int").as("week_idx"),
          r2($"rev".cast("double") / lit(100.0)).as("revenue"),
          r6(($"rev" - $"prev_rev").cast("double") /
            $"prev_rev".cast("double")).as("wow_growth"))
        .orderBy($"week_idx")
    },
    Some(s"""
      WITH weekly AS (
        SELECT cast(date_diff('day', DATE '1970-01-01',
                 cast(date_trunc('day', o_orderdate) as date)) // 7
                 as bigint) AS wk,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS rev
        FROM orders GROUP BY 1),
      fc AS (
        SELECT wk, rev,
               max(rev) OVER (ORDER BY wk
                 RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS prev_rev
        FROM weekly)
      SELECT cast(wk as int) AS week_idx,
             ${r2Sql("cast(rev as double) / cast(100.0 as double)")}
               AS revenue,
             ${r6Sql("cast(rev - prev_rev as double) / " +
               "cast(prev_rev as double)")} AS wow_growth
      FROM fc ORDER BY week_idx"""),
  )

  /** HOLT'S LINEAR TREND smoothing (α=0.5, β=0.3) over the daily order
    * series, with a 7-day-ahead forecast — the true RECURSIVE double
    * exponential smoother (unlike q_ewma's bounded convolution). The
    * fact collapses to a calendar-bounded daily table; the recursion
    * then runs over ONE sorted in-memory array via the aggregate() HOF
    * — single scan, whole-stage codegen, no per-step shuffle — while
    * the oracle replays the identical IEEE update chain with a
    * recursive CTE on the day index. Initialization is pinned (l₀=x₀,
    * b₀=0) and every coefficient is an explicit double cast, so both
    * engines walk bit-identical (l, b) states; only the final report
    * rounds. At 100 TB the daily reduce is the only data-sized pass;
    * the fold's array is |calendar| elements regardless of row count
    * (partition by series key for many series). */
  val qHolt: GQuery = GQuery(
    "q_holt",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val arr = daily
        .agg(array_sort(collect_list(struct($"day", $"x"))).as("s"))
      arr.select(
          size($"s").as("n_days"),
          expr("""aggregate(
              slice(s, 2, size(s) - 1),
              named_struct('l', element_at(s, 1).x, 'b', cast(0.0 as double)),
              (acc, e) -> named_struct(
                'l', cast(0.5 as double) * e.x +
                     cast(0.5 as double) * (acc.l + acc.b),
                'b', cast(0.3 as double) *
                       ((cast(0.5 as double) * e.x +
                         cast(0.5 as double) * (acc.l + acc.b)) - acc.l) +
                     cast(0.7 as double) * acc.b),
              acc -> acc)""").as("st"))
        .select($"n_days",
          r6($"st.l").as("level"),
          r6($"st.b").as("trend"),
          r6($"st.l" + lit(7.0) * $"st.b").as("forecast_7d"))
    },
    Some(s"""
      WITH RECURSIVE daily AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               cast(count(*) as double) AS x
        FROM orders GROUP BY 1),
      idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, x FROM daily),
      r AS (
        SELECT i, x AS l, cast(0.0 as double) AS b
        FROM idx WHERE i = 1
        UNION ALL
        SELECT idx.i,
               cast(0.5 as double) * idx.x +
                 cast(0.5 as double) * (r.l + r.b),
               cast(0.3 as double) *
                   ((cast(0.5 as double) * idx.x +
                     cast(0.5 as double) * (r.l + r.b)) - r.l) +
                 cast(0.7 as double) * r.b
        FROM r JOIN idx ON idx.i = r.i + 1),
      last AS (
        SELECT cast(max(i) as int) AS n_days FROM r),
      fin AS (
        SELECT r.l, r.b, last.n_days
        FROM r JOIN last ON r.i = last.n_days)
      SELECT n_days,
             ${r6Sql("l")} AS level,
             ${r6Sql("b")} AS trend,
             ${r6Sql("l + cast(7.0 as double) * b")} AS forecast_7d
      FROM fin"""),
  )

  /** PARTIAL AUTOCORRELATION (lags 1–3) of the daily event series via
    * the Durbin–Levinson recursion UNROLLED to closed form — the
    * AR-order diagnostic that separates direct lag influence from
    * propagated correlation (q_autocorr's ACF cannot). The standard
    * global-mean ACF numerators come from lag() columns on the
    * calendar-bounded daily spine (one tiny unpartitioned window);
    * everything after is a fixed IEEE expression on ONE pivoted moment
    * row: φ₁₁=ρ₁, φ₂₂=(ρ₂−ρ₁²)/(1−ρ₁²), and φ₃₃ from the k=2
    * prediction coefficients. Division guards: a constant series
    * (zero variance) yields NULL, not a crash. */
  val qPacf: GQuery = GQuery(
    "q_pacf",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"day")
      val lagged = (1 to 3).foldLeft(dailyCounts(spark, dir)) {
        case (df, k) => df.withColumn(s"lag$k", lag($"n", k).over(w))
      }
      val m = lagged.agg(
        count(lit(1)).as("nd"),
        sum($"n").as("s"),
        sum($"n" * $"n").as("q"),
        sum(when($"lag1".isNotNull, $"n" * $"lag1")).as("p1"),
        sum(when($"lag1".isNotNull, $"n")).as("a1"),
        sum(when($"lag1".isNotNull, $"lag1")).as("b1"),
        sum(when($"lag2".isNotNull, $"n" * $"lag2")).as("p2"),
        sum(when($"lag2".isNotNull, $"n")).as("a2"),
        sum(when($"lag2".isNotNull, $"lag2")).as("b2"),
        sum(when($"lag3".isNotNull, $"n" * $"lag3")).as("p3"),
        sum(when($"lag3".isNotNull, $"n")).as("a3"),
        sum(when($"lag3".isNotNull, $"lag3")).as("b3"))
      val d = (c: String) => col(c).cast("double")
      val xb = d("s") / d("nd")
      val c0 = d("q") - d("nd") * xb * xb
      def rho(k: Int) =
        (d(s"p$k") - xb * d(s"a$k") - xb * d(s"b$k") +
          (d("nd") - lit(k.toDouble)) * xb * xb) / c0
      val r1 = rho(1); val r2 = rho(2); val r3 = rho(3)
      val phi22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
      val a21 = r1 - phi22 * r1
      val phi33 = (r3 - a21 * r2 - phi22 * r1) /
        (lit(1.0) - a21 * r1 - phi22 * r2)
      val rows = array(
        struct(lit(1).as("k"), r6(when(c0 > 0, r1)).as("pacf")),
        struct(lit(2).as("k"), r6(when(c0 > 0, phi22)).as("pacf")),
        struct(lit(3).as("k"), r6(when(c0 > 0, phi33)).as("pacf")))
      m.select(explode(rows).as("r"))
        .select($"r.k".as("k"), $"r.pacf".as("pacf"))
        .orderBy($"k")
    },
    Some(s"""
      WITH $dailyCte,
      lagged AS (
        SELECT n,
               lag(n, 1) OVER (ORDER BY day) AS lag1,
               lag(n, 2) OVER (ORDER BY day) AS lag2,
               lag(n, 3) OVER (ORDER BY day) AS lag3
        FROM daily),
      m AS (
        SELECT cast(count(*) as bigint) AS nd,
               cast(sum(n) as bigint) AS s,
               cast(sum(n * n) as bigint) AS q,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN n * lag1 END)
                 as bigint) AS p1,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN n END)
                 as bigint) AS a1,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN lag1 END)
                 as bigint) AS b1,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN n * lag2 END)
                 as bigint) AS p2,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN n END)
                 as bigint) AS a2,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN lag2 END)
                 as bigint) AS b2,
               cast(sum(CASE WHEN lag3 IS NOT NULL THEN n * lag3 END)
                 as bigint) AS p3,
               cast(sum(CASE WHEN lag3 IS NOT NULL THEN n END)
                 as bigint) AS a3,
               cast(sum(CASE WHEN lag3 IS NOT NULL THEN lag3 END)
                 as bigint) AS b3
        FROM lagged),
      e AS (
        SELECT cast(s as double) / cast(nd as double) AS xb,
               cast(q as double) -
                 cast(nd as double) *
                 (cast(s as double) / cast(nd as double)) *
                 (cast(s as double) / cast(nd as double)) AS c0,
               m.* FROM m),
      r AS (
        SELECT c0,
               (cast(p1 as double) - xb * cast(a1 as double) -
                 xb * cast(b1 as double) +
                 (cast(nd as double) - cast(1.0 as double)) * xb * xb) / c0
                 AS r1,
               (cast(p2 as double) - xb * cast(a2 as double) -
                 xb * cast(b2 as double) +
                 (cast(nd as double) - cast(2.0 as double)) * xb * xb) / c0
                 AS r2,
               (cast(p3 as double) - xb * cast(a3 as double) -
                 xb * cast(b3 as double) +
                 (cast(nd as double) - cast(3.0 as double)) * xb * xb) / c0
                 AS r3
        FROM e),
      f AS (
        SELECT c0, r1, r2, r3,
               (r2 - r1 * r1) / (cast(1.0 as double) - r1 * r1) AS phi22
        FROM r),
      g AS (
        SELECT c0, r1, r2, r3, phi22,
               r1 - phi22 * r1 AS a21
        FROM f)
      SELECT k, pacf FROM (
        SELECT 1 AS k,
               ${r6Sql("CASE WHEN c0 > 0 THEN r1 END")} AS pacf FROM g
        UNION ALL
        SELECT 2 AS k,
               ${r6Sql("CASE WHEN c0 > 0 THEN phi22 END")} AS pacf FROM g
        UNION ALL
        SELECT 3 AS k,
               ${r6Sql("CASE WHEN c0 > 0 THEN " +
                 "(r3 - a21 * r2 - phi22 * r1) / " +
                 "(cast(1.0 as double) - a21 * r1 - phi22 * r2) END")}
                 AS pacf FROM g) t
      ORDER BY k"""),
  )

  /** PER-KEY CUSUM CHANGE-POINT: q_changepoint's statistic run
    * PARTITION-PARALLEL, one change-point per event type over its daily
    * count series — the shape the global query's scaladoc promises at
    * 100 TB ("the same plan runs per key"): every window below is
    * partitionBy(event_type), so series of different keys never
    * serialize through one task, and the per-key argmax is a
    * row_number pick with the total (|d| desc, day) tiebreak. Counts
    * are exact integers end to end. */
  val qChangepointKeyed: GQuery = GQuery(
    "q_changepoint_keyed",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.events(spark, dir)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"))
      val wc = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy($"event_type")
      val cum = daily
        .withColumn("t", row_number()
          .over(Window.partitionBy($"event_type").orderBy($"day"))
          .cast("long"))
        .withColumn("prefix", sum($"n").over(wc))
        .withColumn("nd", max($"t").over(wAll))
        .withColumn("total", sum($"n").over(wAll))
        .withColumn("d", $"nd" * $"prefix" - $"t" * $"total")
      cum
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type")
            .orderBy(abs($"d").desc, $"day")))
        .filter($"rn" === 1 && $"nd" > $"t")
        .select($"event_type",
          $"day".as("cp_day"),
          r6(abs($"d").cast("double") / $"nd".cast("double")).as("max_cusum"),
          r6($"prefix".cast("double") / $"t".cast("double")).as("mean_before"),
          r6(($"total" - $"prefix").cast("double") /
            ($"nd" - $"t").cast("double")).as("mean_after"),
          $"nd".cast("int").as("n_days"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH daily AS (
        SELECT event_type, cast(date_trunc('day', ts) as date) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, day, n,
               cast(row_number() OVER (PARTITION BY event_type
                 ORDER BY day) as bigint) AS t,
               cast(sum(n) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS prefix,
               cast(count(*) OVER (PARTITION BY event_type) as bigint) AS nd,
               cast(sum(n) OVER (PARTITION BY event_type) as bigint) AS total
        FROM daily),
      d AS (
        SELECT event_type, day, t, prefix, nd, total,
               nd * prefix - t * total AS d,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(nd * prefix - t * total) DESC, day) AS rn
        FROM cum)
      SELECT event_type, day AS cp_day,
             ${r6Sql("cast(abs(d) as double) / cast(nd as double)")}
               AS max_cusum,
             ${r6Sql("cast(prefix as double) / cast(t as double)")}
               AS mean_before,
             ${r6Sql("cast(total - prefix as double) / " +
               "cast(nd - t as double)")} AS mean_after,
             cast(nd as int) AS n_days
      FROM d WHERE rn = 1 AND nd > t
      ORDER BY event_type"""),
  )

  /** PEAK DETECTION on the daily revenue series: a day is a peak when
    * it beats both neighbors (strictly, ties broken toward the earlier
    * day by >= / > asymmetry) AND clears 1.25× its trailing 7-day mean
    * — the spike-mining op behind alerting and campaign attribution.
    * Exact integer cents; neighbors via lag/lead, the trailing mean as
    * one ROWS frame on the same calendar-bounded sort; prominence is
    * the only double. Top 10 by prominence with a total tiebreak. */
  val qPeaks: GQuery = GQuery(
    "q_peaks",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * lit(100.0) + lit(0.5))
          .cast("long")).as("rev"))
      val w = Window.orderBy($"day")
      val wTrail = Window.orderBy($"day").rowsBetween(-7, -1)
      daily
        .withColumn("prev", lag($"rev", 1).over(w))
        .withColumn("next", lead($"rev", 1).over(w))
        .withColumn("trail7", avg($"rev".cast("double")).over(wTrail))
        .filter($"prev".isNotNull && $"next".isNotNull &&
          $"rev" >= $"prev" && $"rev" > $"next" &&
          $"rev".cast("double") > lit(1.25) * $"trail7")
        .select($"day",
          r2($"rev".cast("double") / lit(100.0)).as("revenue"),
          r6($"rev".cast("double") / $"trail7").as("prominence"))
        .orderBy($"prominence".desc, $"day")
        .limit(10)
    },
    Some(s"""
      WITH daily AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double) +
                 cast(0.5 as double)) as bigint)) as bigint) AS rev
        FROM orders GROUP BY 1),
      x AS (
        SELECT day, rev,
               lag(rev, 1) OVER (ORDER BY day) AS prev,
               lead(rev, 1) OVER (ORDER BY day) AS next,
               avg(cast(rev as double)) OVER (ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail7
        FROM daily)
      SELECT day,
             ${r2Sql("cast(rev as double) / cast(100.0 as double)")}
               AS revenue,
             ${r6Sql("cast(rev as double) / trail7")} AS prominence
      FROM x
      WHERE prev IS NOT NULL AND next IS NOT NULL
        AND rev >= prev AND rev > next
        AND cast(rev as double) > cast(1.25 as double) * trail7
      ORDER BY ${r6Sql("cast(rev as double) / trail7")} DESC, day
      LIMIT 10"""),
  )

  /** HURST EXPONENT of the daily order-revenue series by rescaled-range
    * (R/S) analysis — the long-memory diagnostic (H≈0.5 random walk,
    * H>0.5 persistent). The calendar-complete daily series (zero-fill
    * days, integer DOLLARS via exact `div 100` of the cents sum — cents²
    * would overflow int64 in the chunk moments) is cut into
    * non-overlapping chunks of 16/32/64 days; within a chunk the
    * cumulative deviation is kept EXACT by the ×n rescaling
    * W_t·n = n·cum_t − t·Σx (all int64), so R = (maxW−minW)/n and
    * S = √(Σx²/n − (Σx/n)²) are fixed IEEE forms over exact integers.
    * Per size, mean ln(R/S) is decimal-staged (order-free); the Hurst
    * slope is the 3-point OLS of mean ln(R/S) on ln(size). Chunks with
    * zero spread (S=0 or R=0 — possible at sf0.001 where many days are
    * empty) are excluded by an exact INTEGER predicate so both engines
    * drop identical rows. Every window rides the ~2400-row daily
    * aggregate — calendar-bounded at any SF. */
  val qHurst: GQuery = GQuery(
    "q_hurst",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val daily0 = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"), cents.as("cents"))
        .groupBy($"day").agg(sum($"cents").as("c"))
      val spine = daily0.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = spine.join(daily0, Seq("day"), "left_outer")
        .select($"day", expr("coalesce(c, 0L) div 100").as("x"))
      val idx = daily
        .withColumn("i", row_number().over(Window.orderBy($"day")) - 1)
      val chunks = idx
        .select($"x", $"i",
          explode(array(lit(16L), lit(32L), lit(64L))).as("sz"))
        .selectExpr("sz", "x", "i div sz AS ck", "i % sz + 1 AS t")
      val wCk = Window.partitionBy($"sz", $"ck").orderBy($"t")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = chunks
        .withColumn("cumx", sum($"x").over(wCk))
        .withColumn("sxall",
          sum($"x").over(Window.partitionBy($"sz", $"ck")))
      val g = cum.groupBy($"sz", $"ck").agg(
        count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sq"),
        max($"cumx" * $"sz" - $"t" * $"sxall").as("maxd"),
        min($"cumx" * $"sz" - $"t" * $"sxall").as("mind"))
      val d = (c: String) => col(c).cast("double")
      val r = ($"maxd" - $"mind").cast("double") / d("sz")
      val s2 = d("sq") / d("sz") - (d("sx") / d("sz")) * (d("sx") / d("sz"))
      val perSize = g
        .filter($"n" === $"sz" && $"maxd" > $"mind" &&
          $"sq" * $"sz" > $"sx" * $"sx")
        .select($"sz", rN(log(r / sqrt(s2)), 6).as("lrs"))
        .groupBy($"sz").agg(count(lit(1)).as("n_chunks"),
          (sum($"lrs".cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double") / count(lit(1))).as("mean_log_rs"))
      val fit = perSize
        .select($"sz", $"mean_log_rs", log($"sz".cast("double")).as("u"))
        .agg(count(lit(1)).cast("double").as("k"),
          sum(rN($"u", 6)
            .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("su"),
          sum(rN($"mean_log_rs", 6)
            .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("sv"),
          sum(rN($"u" * $"mean_log_rs", 6)
            .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("suv"),
          sum(rN($"u" * $"u", 6)
            .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("suu"))
        .select(r6(($"k" * $"suv" - $"su" * $"sv") /
          ($"k" * $"suu" - $"su" * $"su")).as("hurst"))
      perSize.crossJoin(broadcast(fit))
        .select($"sz".cast("int").as("size"), $"n_chunks",
          r6($"mean_log_rs").as("mean_log_rs"), $"hurst")
        .orderBy($"size")
    },
    Some {
      val s2 = "(cast(sq as double) / cast(sz as double) - " +
        "(cast(sx as double) / cast(sz as double)) * " +
        "(cast(sx as double) / cast(sz as double)))"
      val rr = "(cast(maxd - mind as double) / cast(sz as double))"
      s"""
      WITH daily0 AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS c
        FROM orders GROUP BY 1),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
      spine AS (
        SELECT cast(unnest(generate_series(cast(d0 as timestamp),
                 cast(d1 as timestamp), INTERVAL 1 DAY)) as date) AS day
        FROM bounds),
      daily AS (
        SELECT spine.day, coalesce(c, 0) // 100 AS x
        FROM spine LEFT JOIN daily0 USING (day)),
      idx AS (
        SELECT x, cast(row_number() OVER (ORDER BY day) as bigint) - 1 AS i
        FROM daily),
      chunks AS (
        SELECT sz, x, i // sz AS ck, i % sz + 1 AS t
        FROM idx, (SELECT unnest([16, 32, 64]) AS sz) sizes),
      cum AS (
        SELECT sz, ck, t, x,
               cast(sum(x) OVER (PARTITION BY sz, ck ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS cumx,
               cast(sum(x) OVER (PARTITION BY sz, ck) as bigint) AS sxall
        FROM chunks),
      g AS (
        SELECT sz, ck, count(*) AS n,
               cast(sum(x) as bigint) AS sx,
               cast(sum(x*x) as bigint) AS sq,
               cast(max(cumx * sz - t * sxall) as bigint) AS maxd,
               cast(min(cumx * sz - t * sxall) as bigint) AS mind
        FROM cum GROUP BY sz, ck),
      persize AS (
        SELECT sz, count(*) AS n_chunks,
               cast(sum(cast(${rNSql(s"ln($rr / sqrt($s2))", 6)}
                 as decimal(30,6))) as double) / count(*) AS mean_log_rs
        FROM g
        WHERE n = sz AND maxd > mind AND sq * sz > sx * sx
        GROUP BY sz),
      fit AS (
        SELECT ${GQuery.r6Sql(
          "(k * suv - su * sv) / (k * suu - su * su)")} AS hurst
        FROM (
          SELECT cast(count(*) as double) AS k,
                 cast(sum(cast(${rNSql("ln(cast(sz as double))", 6)}
                   as decimal(30,6))) as double) AS su,
                 cast(sum(cast(${rNSql("mean_log_rs", 6)} as decimal(30,6)))
                   as double) AS sv,
                 cast(sum(cast(${rNSql(
                   "ln(cast(sz as double)) * mean_log_rs", 6)}
                   as decimal(30,6))) as double) AS suv,
                 cast(sum(cast(${rNSql(
                   "ln(cast(sz as double)) * ln(cast(sz as double))", 6)}
                   as decimal(30,6))) as double) AS suu
          FROM persize) t0)
      SELECT cast(sz as int) AS size, n_chunks,
             ${r6Sql("mean_log_rs")} AS mean_log_rs, hurst
      FROM persize CROSS JOIN fit
      ORDER BY size"""
    },
  )

  /** 14-DAY RSI (Cutler's SMA variant) of the daily order-revenue
    * series — the bounded momentum oscillator. On the zero-filled
    * calendar spine the day-over-day diff, its gain/loss split, and the
    * 14-row window sums are all EXACT integer dollars, so
    * RSI = 100·gain₁₄/(gain₁₄+loss₁₄) is a single IEEE division per row
    * — no recursive Wilder smoothing, no float accumulation. Rows
    * before the 15th observation (incomplete window) and all-flat
    * fortnights (gain₁₄+loss₁₄=0, possible only at tiny SF) are
    * excluded by exact integer predicates. Output is the last 90 days
    * — a bounded report over the calendar-bounded daily table. */
  val qRsi: GQuery = GQuery(
    "q_rsi",
    (spark, dir) => {
      import spark.implicits._
      val cents = floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
      val daily0 = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"), cents.as("cents"))
        .groupBy($"day").agg(sum($"cents").as("c"))
      val spine = daily0.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = spine.join(daily0, Seq("day"), "left_outer")
        .select($"day", expr("coalesce(c, 0L) div 100").as("x"))
      val w = Window.orderBy($"day")
      val w14 = Window.orderBy($"day").rowsBetween(-13, 0)
      val out = daily
        .withColumn("i", row_number().over(w))
        .withColumn("diff", $"x" - lag($"x", 1).over(w))
        .withColumn("gain14", sum(greatest($"diff", lit(0L))).over(w14))
        .withColumn("loss14", sum(greatest(-$"diff", lit(0L))).over(w14))
        .filter($"i" >= 15 && $"gain14" + $"loss14" > 0)
      out.select($"day", $"gain14", $"loss14",
          r6(lit(100.0) * $"gain14".cast("double") /
            ($"gain14" + $"loss14").cast("double")).as("rsi"))
        .orderBy($"day".desc).limit(90)
        .orderBy($"day")
    },
    Some(s"""
      WITH daily0 AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS c
        FROM orders GROUP BY 1),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
      spine AS (
        SELECT cast(unnest(generate_series(cast(d0 as timestamp),
                 cast(d1 as timestamp), INTERVAL 1 DAY)) as date) AS day
        FROM bounds),
      daily AS (
        SELECT spine.day, coalesce(c, 0) // 100 AS x
        FROM spine LEFT JOIN daily0 USING (day)),
      l AS (
        SELECT day, x,
               cast(row_number() OVER (ORDER BY day) as bigint) AS i,
               x - lag(x, 1) OVER (ORDER BY day) AS diff
        FROM daily),
      s AS (
        SELECT day, i,
               cast(sum(greatest(diff, 0)) OVER (ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) as bigint)
                 AS gain14,
               cast(sum(greatest(-diff, 0)) OVER (ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) as bigint)
                 AS loss14
        FROM l)
      SELECT day, gain14, loss14,
             ${r6Sql("cast(100.0 as double) * cast(gain14 as double) / " +
               "cast(gain14 + loss14 as double)")} AS rsi
      FROM (SELECT * FROM s WHERE i >= 15 AND gain14 + loss14 > 0
            ORDER BY day DESC LIMIT 90) t0
      ORDER BY day"""),
  )

  /** MANN–KENDALL trend test on WEEKLY order revenue — the
    * nonparametric is-there-a-monotone-trend check (the rank companion
    * to q_trend's OLS slope). S = Σ_{i<j} sign(xⱼ−xᵢ) over all week
    * pairs; the pair table is an EXPLICITLY CALENDAR-BOUNDED broadcast
    * non-equi self-join (~345 weeks → ~59k pairs at ANY SF — the
    * q_kendall posture, never data-scaled). Weeks via
    * date_trunc('week') — ISO Monday in BOTH engines (safe, unlike
    * dayofweek). S and the tie-corrected variance
    * (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 are pure int64; z applies the
    * standard ±1 continuity correction via integer sign tests. */
  val qMkTrend: GQuery = GQuery(
    "q_mk_trend",
    (spark, dir) => {
      import spark.implicits._
      val wk = Tables.orders(spark, dir)
        .groupBy(date_trunc("week", $"o_orderdate").as("w"))
        .agg(sum(floor($"o_totalprice" * lit(100.0) + lit(0.5))
          .cast("long")).as("x"))
        .localCheckpoint()
      val a = wk.select($"w".as("w1"), $"x".as("x1"))
      val b = wk.select($"w".as("w2"), $"x".as("x2"))
      val s = a.join(broadcast(b), $"w1" < $"w2")
        .agg(sum(signum(($"x2" - $"x1").cast("double")).cast("long"))
          .as("s"))
      val ties = wk.groupBy($"x").agg(count(lit(1)).as("t"))
        .agg(sum($"t").as("n"),
          sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("tt"))
      val d = (c: String) => col(c).cast("double")
      val varS = (d("n") * (d("n") - lit(1.0)) *
        (lit(2.0) * d("n") + lit(5.0)) - d("tt")) / lit(18.0)
      val num = when($"s" > 0, d("s") - lit(1.0))
        .when($"s" < 0, d("s") + lit(1.0)).otherwise(lit(0.0))
      s.crossJoin(broadcast(ties))
        .select($"n".cast("int").as("n_weeks"), $"s",
          r6(varS).as("var_s"),
          r6(num / sqrt(varS)).as("z"))
    },
    Some(s"""
      WITH wk AS (
        SELECT date_trunc('week', o_orderdate) AS w,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      s AS (
        SELECT cast(sum(CASE WHEN b.x > a.x THEN 1
                            WHEN b.x < a.x THEN -1 ELSE 0 END) as bigint)
                 AS s
        FROM wk a JOIN wk b ON a.w < b.w),
      ties AS (
        SELECT cast(sum(t) as bigint) AS n,
               cast(sum(t * (t - 1) * (2 * t + 5)) as bigint) AS tt
        FROM (SELECT x, cast(count(*) as bigint) AS t
              FROM wk GROUP BY x) t0)
      SELECT cast(n as int) AS n_weeks, s,
             ${r6Sql("(cast(n as double) * (cast(n as double) - " +
               "cast(1.0 as double)) * (cast(2.0 as double) * " +
               "cast(n as double) + cast(5.0 as double)) - " +
               "cast(tt as double)) / cast(18.0 as double)")} AS var_s,
             ${r6Sql("(CASE WHEN s > 0 THEN cast(s as double) - " +
               "cast(1.0 as double) WHEN s < 0 THEN cast(s as double) + " +
               "cast(1.0 as double) ELSE cast(0.0 as double) END) / " +
               "sqrt((cast(n as double) * (cast(n as double) - " +
               "cast(1.0 as double)) * (cast(2.0 as double) * " +
               "cast(n as double) + cast(5.0 as double)) - " +
               "cast(tt as double)) / cast(18.0 as double))")} AS z
      FROM s CROSS JOIN ties"""),
  )

  /** LJUNG–BOX portmanteau test (lags 1–7) on the daily event-count
    * series — "is there ANY autocorrelation left": the standard
    * residual-whiteness gate after a forecast fit. The ACF here is the
    * textbook full-series form, kept EXACT by the ×n clearing trick:
    * devₜ = n·xₜ − Σx is int64, so every lag's numerator Σdevₜdevₜ₋ₖ
    * and the common denominator Σdev² are exact integers (the n²
    * factors cancel in rₖ). Q = n(n+2)·Σ rₖ²/(n−k) decimal-stages its
    * 7-term sum. Windows ride the 30-row daily aggregate. */
  val qLjungBox: GQuery = GQuery(
    "q_ljung_box",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyCounts(spark, dir)
      val wAll = Window.partitionBy()
      val dev = daily
        .withColumn("nd", count(lit(1)).over(wAll))
        .withColumn("tot", sum($"n").over(wAll))
        .select($"day", $"nd", ($"nd" * $"n" - $"tot").as("dev"))
      val w = Window.orderBy($"day")
      val lagged = (1 to 7).foldLeft(dev) {
        case (df, k) => df.withColumn(s"l$k", lag($"dev", k).over(w))
      }
      val stackArgs = (1 to 7).map(k => s"$k, l$k").mkString(", ")
      val byLag = lagged
        .selectExpr("nd", "dev", s"stack(7, $stackArgs) AS (k, y)")
        .filter($"y".isNotNull)
        .groupBy($"k")
        .agg(max($"nd").as("nd"), sum($"dev" * $"y").as("num"))
      val den = dev.agg(sum($"dev" * $"dev").as("den"))
      val d = (c: String) => col(c).cast("double")
      val q = byLag.crossJoin(broadcast(den))
        .select($"k", $"nd",
          rN((d("num") / d("den")) * (d("num") / d("den")) /
            (d("nd") - col("k").cast("double")), 6).as("term"))
        .agg(max($"nd").as("nd"), count(lit(1)).cast("int").as("dof"),
          sum($"term".cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("double").as("s"))
      q.select($"nd".cast("int").as("n_days"), $"dof",
        r6(d("nd") * (d("nd") + lit(2.0)) * $"s").as("q_lb"))
    },
    Some(s"""
      WITH $dailyCte,
      dev AS (
        SELECT day,
               cast(count(*) OVER () as bigint) AS nd,
               cast(count(*) OVER () * n - sum(n) OVER () as bigint) AS dev
        FROM daily),
      l AS (
        SELECT nd, dev, ${(1 to 7).map(k =>
          s"lag(dev, $k) OVER (ORDER BY day) AS l$k").mkString(", ")}
        FROM dev),
      p AS (
        ${(1 to 7).map(k =>
          s"SELECT $k AS k, nd, dev, l$k AS y FROM l WHERE l$k IS NOT NULL")
          .mkString("\n        UNION ALL ")}),
      bylag AS (
        SELECT k, max(nd) AS nd,
               cast(sum(dev * y) as bigint) AS num
        FROM p GROUP BY k),
      den AS (SELECT cast(sum(dev * dev) as bigint) AS den FROM dev),
      st AS (
        SELECT max(nd) AS nd, cast(count(*) as int) AS dof,
               cast(sum(cast(${rNSql(
                 "(cast(num as double) / cast(den as double)) * " +
                 "(cast(num as double) / cast(den as double)) / " +
                 "(cast(nd as double) - cast(k as double))", 6)}
                 as decimal(30,6))) as double) AS s
        FROM bylag CROSS JOIN den)
      SELECT cast(nd as int) AS n_days, dof,
             ${r6Sql("cast(nd as double) * (cast(nd as double) + " +
               "cast(2.0 as double)) * s")} AS q_lb
      FROM st"""),
  )

  /** CROSTON'S METHOD for intermittent demand — the standard forecast
    * for sparse series where SES on the raw (mostly-zero) signal fails.
    * The probe series is the single most-ordered part's daily quantity
    * (deterministic pick: max demand-days, min-key tiebreak), which is
    * genuinely intermittent at every SF. Two coupled SES recursions
    * (α=0.2) over demand SIZE and inter-demand INTERVAL, initialized
    * z̄=z₁, x̄=gap₂ and folded over demands 2..m — the q_holt pattern:
    * Spark runs the fold as a codegen'd `aggregate` HOF over the
    * demand-bounded sorted array, DuckDB as a recursive CTE; both are
    * the identical IEEE chain, so they bit-match. Forecast = z̄/x̄
    * (demand per day). The per-part demand collapse is combinable; the
    * array is |demand days| ≤ |calendar| long. */
  val qCroston: GQuery = GQuery(
    "q_croston",
    (spark, dir) => {
      import spark.implicits._
      // r15 A/B: a repartition after this projection (the q_corr_matrix
      // one-core-scan fix) measured WORSE (1.08 → 1.72 s) — the integer
      // partial agg is cheap and the extra exchange dominates. Left in
      // the original shape on purpose.
      val li = Tables.lineitem(spark, dir)
        .select($"l_partkey", to_date($"l_shipdate").as("day"),
          floor($"l_quantity" + lit(0.5)).cast("long").as("qty"))
      val dem0 = li.groupBy($"l_partkey", $"day")
        .agg(sum($"qty").as("z"))
      val pick = dem0.groupBy($"l_partkey")
        .agg(count(lit(1)).as("nd"))
        .orderBy($"nd".desc, $"l_partkey").limit(1)
        .select($"l_partkey".as("pk"), $"nd")
      val dem = dem0.join(broadcast(pick), $"l_partkey" === $"pk")
        .withColumn("gap",
          datediff($"day", lag($"day", 1)
            .over(Window.partitionBy($"pk").orderBy($"day"))).cast("long"))
      val arr = dem.groupBy($"pk", $"nd")
        .agg(array_sort(collect_list(struct($"day", $"z", $"gap")))
          .as("s"))
      arr.select($"pk".as("part_key"), $"nd".cast("int").as("n_demands"),
          expr("""aggregate(
              slice(s, 2, size(s) - 1),
              named_struct(
                'zh', cast(element_at(s, 1).z as double),
                'xh', cast(element_at(s, 2).gap as double)),
              (acc, e) -> named_struct(
                'zh', cast(0.2 as double) * cast(e.z as double) +
                      cast(0.8 as double) * acc.zh,
                'xh', cast(0.2 as double) * cast(e.gap as double) +
                      cast(0.8 as double) * acc.xh),
              acc -> acc)""").as("st"))
        .select($"part_key", $"n_demands",
          r6($"st.zh").as("z_hat"),
          r6($"st.xh").as("x_hat"),
          r6($"st.zh" / $"st.xh").as("forecast_per_day"))
    },
    Some(s"""
      WITH RECURSIVE li AS (
        SELECT l_partkey, cast(date_trunc('day', l_shipdate) as date) AS day,
               cast(floor(l_quantity + cast(0.5 as double)) as bigint)
                 AS qty
        FROM lineitem),
      dem0 AS (
        SELECT l_partkey, day, cast(sum(qty) as bigint) AS z
        FROM li GROUP BY l_partkey, day),
      pick AS (
        SELECT l_partkey AS pk, cast(count(*) as bigint) AS nd
        FROM dem0 GROUP BY l_partkey
        ORDER BY nd DESC, l_partkey LIMIT 1),
      dem AS (
        SELECT pk, nd, day, z,
               cast(date_diff('day', lag(day, 1) OVER (ORDER BY day), day)
                 as bigint) AS gap,
               cast(row_number() OVER (ORDER BY day) as bigint) AS i
        FROM dem0 JOIN pick ON l_partkey = pk),
      r AS (
        SELECT i, cast(z as double) AS zh,
               (SELECT cast(gap as double) FROM dem WHERE i = 2) AS xh
        FROM dem WHERE i = 1
        UNION ALL
        SELECT dem.i,
               cast(0.2 as double) * cast(dem.z as double) +
                 cast(0.8 as double) * r.zh,
               cast(0.2 as double) * cast(dem.gap as double) +
                 cast(0.8 as double) * r.xh
        FROM r JOIN dem ON dem.i = r.i + 1),
      fin AS (
        SELECT r.zh, r.xh FROM r
        JOIN (SELECT max(i) AS m FROM r) lm ON r.i = lm.m)
      SELECT (SELECT pk FROM pick) AS part_key,
             (SELECT cast(nd as int) FROM pick) AS n_demands,
             ${r6Sql("zh")} AS z_hat,
             ${r6Sql("xh")} AS x_hat,
             ${r6Sql("zh / xh")} AS forecast_per_day
      FROM fin"""),
  )

  /** ZERO-REVENUE GAP ANALYSIS — the gaps-and-islands report ops runs
    * on any metric series: longest consecutive run of zero-revenue
    * days, number of distinct gap runs, runs of ≥3 days, and total
    * zero days. On the zero-filled calendar spine the island id is the
    * classic i − row_number() difference over zero days — pure integer
    * arithmetic end to end, windows riding the ~2400-row daily
    * aggregate. One output row at any SF. */
  val qGapAnalysis: GQuery = GQuery(
    "q_gap_analysis",
    (spark, dir) => {
      import spark.implicits._
      val daily0 = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = daily0.agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val daily = spine.join(daily0, Seq("day"), "left_outer")
        .select($"day", coalesce($"n", lit(0L)).as("n"))
      val w = Window.orderBy($"day")
      val zeros = daily
        .withColumn("i", row_number().over(w))
        .filter($"n" === 0L)
        .withColumn("rz", row_number().over(Window.orderBy($"day")))
        .withColumn("grp", $"i" - $"rz")
      val runs = zeros.groupBy($"grp").agg(count(lit(1)).as("len"))
      runs.agg(
        coalesce(max($"len"), lit(0L)).as("longest_gap_days"),
        count(lit(1)).as("n_gaps"),
        coalesce(sum(when($"len" >= 3L, 1L).otherwise(0L)), lit(0L))
          .as("n_gaps_3plus"),
        coalesce(sum($"len"), lit(0L)).as("total_zero_days"))
    },
    Some("""
      WITH daily0 AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               count(*) AS n
        FROM orders GROUP BY 1),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily0),
      spine AS (
        SELECT cast(unnest(generate_series(cast(d0 as timestamp),
                 cast(d1 as timestamp), INTERVAL 1 DAY)) as date) AS day
        FROM bounds),
      daily AS (
        SELECT spine.day, coalesce(n, 0) AS n
        FROM spine LEFT JOIN daily0 USING (day)),
      z AS (
        SELECT day, i, row_number() OVER (ORDER BY day) AS rz
        FROM (SELECT day, n, row_number() OVER (ORDER BY day) AS i
              FROM daily) t
        WHERE n = 0),
      runs AS (
        SELECT i - rz AS grp, cast(count(*) as bigint) AS len
        FROM z GROUP BY grp)
      SELECT cast(coalesce(max(len), 0) as bigint) AS longest_gap_days,
             count(*) AS n_gaps,
             cast(coalesce(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END), 0)
               as bigint) AS n_gaps_3plus,
             cast(coalesce(sum(len), 0) as bigint) AS total_zero_days
      FROM runs"""),
  )

  /** THEIL–SEN ROBUST TREND: the median of all pairwise slopes of the
    * weekly revenue series — the outlier-immune companion to
    * q_mk_trend's S test (same calendar-bounded weekly axis, same
    * C(n,2) broadcast pair join — |weeks| is fixed by the calendar, so
    * the pair count never grows with data). Week indices are pure
    * integer epoch-day arithmetic (epoch_day div 7 in BOTH engines —
    * never date_trunc('week'), whose alignment is an engine
    * convention); each slope
    * (cents/week) is one fixed IEEE expression. MEDIANS ARE TAKEN OVER
    * 2-dp-QUANTIZED INTEGERS then rescaled — the CLAUDE.md
    * interpolated-median contract (an even-count double median is a
    * one-ulp cross-engine coin flip; on integers both forms agree
    * exactly). 2 dp suffices (slopes are integer cents over integer
    * weeks) and keeps the quantized long below 2^53 at any SF — at 6 dp
    * a worst-case full-week-vs-empty-week slope at sf1 would overflow
    * the exact-integer range of double inside percentile/quantile_cont.
    * The intercept is med(xᵢ − m·tᵢ) under the same quantization. */
  val qTheilSen: GQuery = GQuery(
    "q_theil_sen",
    (spark, dir) => {
      import spark.implicits._
      val wk = Tables.orders(spark, dir)
        .select(expr(
          "datediff(to_date(o_orderdate), date '1970-01-01') div 7")
          .as("wi"),
          floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
            .as("cents"))
        .groupBy($"wi").agg(sum($"cents").as("x"))
        .localCheckpoint()
      val a = wk.select($"wi".as("w1"), $"x".as("x1"))
      val b = wk.select($"wi".as("w2"), $"x".as("x2"))
      val slope = ($"x2" - $"x1").cast("double") /
        ($"w2" - $"w1").cast("double")
      val m = a.join(broadcast(b), $"w1" < $"w2")
        .select(floor(slope * lit(1e2) + lit(0.5)).cast("long").as("sq"))
        .agg(count(lit(1)).as("n_pairs"),
          (expr("percentile(sq, 0.5)") / lit(1e2)).as("m"))
      val icpt = wk.crossJoin(broadcast(m))
        .select($"n_pairs", $"m",
          floor(($"x".cast("double") - $"m" * $"wi".cast("double")) *
            lit(1e2) + lit(0.5)).cast("long").as("iq"))
        .groupBy($"n_pairs", $"m")
        .agg((expr("percentile(iq, 0.5)") / lit(1e2)).as("b0"),
          count(lit(1)).cast("int").as("n_weeks"))
      icpt.select($"n_weeks", $"n_pairs",
        r6($"m").as("sen_slope"), r6($"b0").as("intercept"))
    },
    Some(s"""
      WITH wk AS (
        SELECT date_diff('day', DATE '1970-01-01',
                 cast(o_orderdate as date)) // 7 AS wi,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      m AS (
        SELECT cast(count(*) as bigint) AS n_pairs,
               quantile_cont(cast(floor(
                 (cast(b.x - a.x as double) / cast(b.wi - a.wi as double))
                 * cast(1e2 as double) + cast(0.5 as double)) as bigint),
                 0.5) / cast(1e2 as double) AS m
        FROM wk a JOIN wk b ON a.wi < b.wi),
      icpt AS (
        SELECT n_pairs, m,
               quantile_cont(cast(floor(
                 (cast(x as double) - m * cast(wi as double))
                 * cast(1e2 as double) + cast(0.5 as double)) as bigint),
                 0.5) / cast(1e2 as double) AS b0,
               cast(count(*) as int) AS n_weeks
        FROM wk CROSS JOIN m GROUP BY n_pairs, m)
      SELECT n_weeks, n_pairs, ${r6Sql("m")} AS sen_slope,
             ${r6Sql("b0")} AS intercept
      FROM icpt"""),
  )

  /** GUMBEL EXTREME-VALUE FIT on monthly block maxima of daily revenue
    * (in kilodollars — the q_levene unit bound) — the tail model behind
    * capacity planning and risk limits. Block maxima are exact maxes of
    * identically-computed doubles; the two moments over the ~|months|
    * table ride the decimal-staging contract, and the
    * method-of-moments closed form β = s√6/π, μ = m − γβ plus the
    * 99% return level μ − β·ln(−ln 0.99) is fixed IEEE arithmetic
    * (every constant cast per the cross-engine literal rule). Output is
    * one row at any SF; the only windowless global agg rides the
    * calendar-bounded month table. */
  val qGumbel: GQuery = GQuery(
    "q_gumbel",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("day"),
          floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
            .as("cents"))
        .groupBy($"day").agg((sum($"cents").cast("double") / lit(1e5))
          .as("v"))
      val mx = daily
        .groupBy(date_trunc("month", $"day").cast("date").as("m"))
        .agg(max($"v").as("mv"))
      val a = mx.agg(count(lit(1)).as("n"),
        sum(rN($"mv", 6).cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("s"),
        sum(rN($"mv" * $"mv", 6)
          .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("q"))
      val d = (c: String) => col(c).cast("double")
      val n = d("n")
      val mean = $"s" / n
      val sd = sqrt(($"q" - $"s" * $"s" / n) / (n - lit(1.0)))
      val beta = sd * sqrt(lit(6.0)) / lit(math.Pi)
      val mu = mean - lit(0.5772156649015329) * beta
      a.select($"n".cast("int").as("n_blocks"),
        r6(mean).as("mean_max"), r6(sd).as("sd_max"),
        r6(beta).as("beta"), r6(mu).as("mu"),
        r6(mu - beta * log(-log(lit(0.99)))).as("rl99"))
    },
    Some {
      val n = "cast(n as double)"
      val mean = s"(s / $n)"
      val sd = s"sqrt((q - s * s / $n) / ($n - cast(1.0 as double)))"
      val beta = s"($sd * sqrt(cast(6.0 as double)) / pi())"
      val mu = s"($mean - cast(0.5772156649015329 as double) * $beta)"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as double)
                 / cast(1e5 as double) AS v
        FROM orders GROUP BY 1),
      mx AS (
        SELECT cast(date_trunc('month', day) as date) AS m,
               max(v) AS mv
        FROM daily GROUP BY 1),
      a AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(cast(${rNSql("mv", 6)} as decimal(30,6)))
                 as double) AS s,
               cast(sum(cast(${rNSql("mv * mv", 6)} as decimal(30,6)))
                 as double) AS q
        FROM mx)
      SELECT cast(n as int) AS n_blocks,
             ${r6Sql(mean)} AS mean_max, ${r6Sql(sd)} AS sd_max,
             ${r6Sql(beta)} AS beta, ${r6Sql(mu)} AS mu,
             ${r6Sql(s"$mu - $beta * ln(-ln(cast(0.99 as double)))")}
               AS rl99
      FROM a"""
    },
  )

  /** YULE–WALKER AR(2) FIT on the daily event-count series — the
    * parametric model on top of q_autocorr's diagnostics (and q_pacf's
    * closed-form cousin): φ₁, φ₂ from the lag-1/lag-2 autocovariances.
    * The ACF here is the standard single-denominator estimator
    * rₖ = cₖ/c₀ (full-series mean, c₀ normalizer — NOT q_autocorr's
    * per-lag Pearson), kept EXACT by n²-clearing: n²·Σ'xₜxₜ₊ₖ −
    * n·sx·(s1ₖ+s2ₖ) + (n−k)·sx² is pure int64 (calendar-bounded n,
    * counts ≤ ~10⁴/day keep the products under 2·10¹⁸ at sf1 — bound
    * recorded like the staging contracts), so each rₖ is ONE IEEE
    * division of exact integers and the φ's are fixed expressions:
    * φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), innovation ratio
    * σ²ₑ/σ² = 1 − φ₁r₁ − φ₂r₂. Rides the zero-filled calendar spine
    * (gap days are real zeros; a lag pair skipping a gap is wrong). */
  val qYuleWalker: GQuery = GQuery(
    "q_yule_walker",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"day")
      val lagged = dailyCounts(spark, dir)
        .withColumn("lag1", lag($"n", 1).over(w))
        .withColumn("lag2", lag($"n", 2).over(w))
      val s = lagged.agg(
        count(lit(1)).as("n"), sum($"n").as("sx"),
        sum($"n" * $"n").as("sxx"),
        sum(when($"lag1".isNotNull, $"n" * $"lag1").otherwise(0L)).as("sp1"),
        sum(when($"lag1".isNotNull, $"n").otherwise(0L)).as("a1"),
        sum(when($"lag1".isNotNull, $"lag1").otherwise(0L)).as("b1"),
        sum(when($"lag2".isNotNull, $"n" * $"lag2").otherwise(0L)).as("sp2"),
        sum(when($"lag2".isNotNull, $"n").otherwise(0L)).as("a2"),
        sum(when($"lag2".isNotNull, $"lag2").otherwise(0L)).as("b2"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val n0 = $"n" * $"n" * $"sxx" - $"n" * $"sx" * $"sx"
      val n1 = $"n" * $"n" * $"sp1" - $"n" * $"sx" * ($"a1" + $"b1") +
        ($"n" - lit(1L)) * $"sx" * $"sx"
      val n2 = $"n" * $"n" * $"sp2" - $"n" * $"sx" * ($"a2" + $"b2") +
        ($"n" - lit(2L)) * $"sx" * $"sx"
      val r1 = d(n1) / d(n0)
      val r2 = d(n2) / d(n0)
      val den = lit(1.0) - r1 * r1
      val phi1 = r1 * (lit(1.0) - r2) / den
      val phi2 = (r2 - r1 * r1) / den
      s.select($"n".as("n_days"), r6(r1).as("r1"), r6(r2).as("r2"),
        r6(phi1).as("phi1"), r6(phi2).as("phi2"),
        r6(lit(1.0) - phi1 * r1 - phi2 * r2).as("innov_ratio"))
    },
    Some {
      val n0 = "(n*n*sxx - n*sx*sx)"
      val n1 = "(n*n*sp1 - n*sx*(a1 + b1) + (n - 1)*sx*sx)"
      val n2 = "(n*n*sp2 - n*sx*(a2 + b2) + (n - 2)*sx*sx)"
      val r1 = s"(cast($n1 as double) / cast($n0 as double))"
      val r2 = s"(cast($n2 as double) / cast($n0 as double))"
      val den = s"(cast(1.0 as double) - $r1 * $r1)"
      val phi1 = s"($r1 * (cast(1.0 as double) - $r2) / $den)"
      val phi2 = s"(($r2 - $r1 * $r1) / $den)"
      s"""
      WITH $dailyCte,
      l AS (SELECT n, lag(n, 1) OVER (ORDER BY day) AS lag1,
                   lag(n, 2) OVER (ORDER BY day) AS lag2
            FROM daily),
      s AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(n) as bigint) AS sx,
               cast(sum(n*n) as bigint) AS sxx,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN n*lag1 ELSE 0 END)
                 as bigint) AS sp1,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN n ELSE 0 END)
                 as bigint) AS a1,
               cast(sum(CASE WHEN lag1 IS NOT NULL THEN lag1 ELSE 0 END)
                 as bigint) AS b1,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN n*lag2 ELSE 0 END)
                 as bigint) AS sp2,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN n ELSE 0 END)
                 as bigint) AS a2,
               cast(sum(CASE WHEN lag2 IS NOT NULL THEN lag2 ELSE 0 END)
                 as bigint) AS b2
        FROM l)
      SELECT n AS n_days, ${r6Sql(r1)} AS r1, ${r6Sql(r2)} AS r2,
             ${r6Sql(phi1)} AS phi1, ${r6Sql(phi2)} AS phi2,
             ${r6Sql(s"cast(1.0 as double) - $phi1 * $r1 - $phi2 * $r2")}
               AS innov_ratio
      FROM s"""
    },
  )

  /** SEASONAL MANN–KENDALL — q_mk_trend's deseasonalized form: the S
    * statistic is computed WITHIN each month-of-year (January totals
    * compared only across years, never against a December) and summed,
    * so an annual cycle cannot masquerade as trend. Monthly cents
    * totals key on (year, month) — both engines' extraction functions
    * agree on dates, unlike week truncation. The per-season pair join
    * is an EQUI-join on month with the year inequality as conjunct
    * (12 groups × C(years,2) pairs — calendar-bounded, no broadcast
    * cross needed); per-season tie terms and variances follow
    * q_mk_trend's integer forms summed over seasons; one continuity-
    * corrected z at the end. */
  val qSeasonalMk: GQuery = GQuery(
    "q_seasonal_mk",
    (spark, dir) => {
      import spark.implicits._
      val mo = Tables.orders(spark, dir)
        .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("m"))
        .agg(sum(floor($"o_totalprice" * lit(100.0) + lit(0.5))
          .cast("long")).as("x"))
        .localCheckpoint()
      val a = mo.select($"m".as("ma"), $"y".as("ya"), $"x".as("xa"))
      val b = mo.select($"m".as("mb"), $"y".as("yb"), $"x".as("xb"))
      val s = a.join(b, $"ma" === $"mb" && $"ya" < $"yb")
        .agg(sum(signum(($"xb" - $"xa").cast("double")).cast("long")).as("s"))
      val ties = mo.groupBy($"m", $"x").agg(count(lit(1)).as("t"))
        .groupBy($"m").agg(sum($"t").as("nm"),
          sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("ttm"))
        .agg(count(lit(1)).cast("int").as("n_seasons"),
          sum($"nm" * ($"nm" - 1L) * (lit(2L) * $"nm" + 5L) - $"ttm")
            .as("v18"))
      val d = (c: String) => col(c).cast("double")
      val varS = d("v18") / lit(18.0)
      val num = when($"s" > 0, d("s") - lit(1.0))
        .when($"s" < 0, d("s") + lit(1.0)).otherwise(lit(0.0))
      s.crossJoin(broadcast(ties))
        .select($"n_seasons", $"s", r6(varS).as("var_s"),
          r6(num / sqrt(varS)).as("z"))
    },
    Some(s"""
      WITH mo AS (
        SELECT year(cast(o_orderdate as date)) AS y,
               month(cast(o_orderdate as date)) AS m,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS x
        FROM orders GROUP BY 1, 2),
      s AS (
        SELECT cast(sum(CASE WHEN b.x > a.x THEN 1
                            WHEN b.x < a.x THEN -1 ELSE 0 END) as bigint)
                 AS s
        FROM mo a JOIN mo b ON a.m = b.m AND a.y < b.y),
      tm AS (
        SELECT m, cast(sum(t) as bigint) AS nm,
               cast(sum(t * (t - 1) * (2 * t + 5)) as bigint) AS ttm
        FROM (SELECT m, x, cast(count(*) as bigint) AS t
              FROM mo GROUP BY m, x) t0
        GROUP BY m),
      ties AS (
        SELECT cast(count(*) as int) AS n_seasons,
               cast(sum(nm * (nm - 1) * (2 * nm + 5) - ttm) as bigint)
                 AS v18
        FROM tm)
      SELECT n_seasons, s,
             ${r6Sql("cast(v18 as double) / cast(18.0 as double)")} AS var_s,
             ${r6Sql("(CASE WHEN s > 0 THEN cast(s as double) - " +
               "cast(1.0 as double) WHEN s < 0 THEN cast(s as double) + " +
               "cast(1.0 as double) ELSE cast(0.0 as double) END) / " +
               "sqrt(cast(v18 as double) / cast(18.0 as double))")} AS z
      FROM s CROSS JOIN ties"""),
  )

  /** HOLT–WINTERS additive triple smoothing (weekly seasonality, m=7)
    * on the daily order-count series — the seasonal completion of
    * q_holt's level+trend fold and the in-model counterpart of
    * q_backtest_snaive's purely-seasonal baseline. Standard init
    * (l0 = mean of week 1, b0 = 0, seasonal s_j = x_j − l0), then ONE
    * sequential `aggregate` fold over the sorted remainder carrying
    * (l, b, step k, 7-slot seasonal array): identical recursions, in
    * identical order, in Spark's fold and DuckDB's recursive CTE —
    * the q_holt determinism contract, with every smoothing constant
    * cast per the float-literal rule and the seasonal slot updated by
    * index (k mod 7) via indexed transform / list slicing. α=0.5,
    * β=0.3, γ=0.4. Output: terminal level/trend, next-day forecast
    * l + b + s_next, and the seasonal amplitude (max−min of the
    * terminal seasonal array). Series length is calendar-bounded, so
    * the collected fold input is tiny at any SF — same posture as
    * q_holt/q_croston. */
  val qHoltWinters: GQuery = GQuery(
    "q_holt_winters",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val arr = daily
        .agg(array_sort(collect_list(struct($"day", $"x"))).as("s"))
      arr.select(
          size($"s").as("n_days"),
          expr("""aggregate(
              slice(s, 8, size(s) - 7),
              named_struct(
                'l', aggregate(slice(s, 1, 7), cast(0.0 as double),
                       (a, e) -> a + e.x) / cast(7.0 as double),
                'b', cast(0.0 as double),
                'k', 0,
                'se', transform(slice(s, 1, 7),
                        e -> e.x - aggregate(slice(s, 1, 7),
                          cast(0.0 as double), (a, x2) -> a + x2.x) /
                          cast(7.0 as double))),
              (acc, e) -> named_struct(
                'l', cast(0.5 as double) *
                       (e.x - element_at(acc.se, acc.k % 7 + 1)) +
                     cast(0.5 as double) * (acc.l + acc.b),
                'b', cast(0.3 as double) *
                       ((cast(0.5 as double) *
                           (e.x - element_at(acc.se, acc.k % 7 + 1)) +
                         cast(0.5 as double) * (acc.l + acc.b)) - acc.l) +
                     cast(0.7 as double) * acc.b,
                'k', acc.k + 1,
                'se', transform(acc.se, (v, j) -> IF(j = acc.k % 7,
                        cast(0.4 as double) * (e.x -
                          (cast(0.5 as double) *
                             (e.x - element_at(acc.se, acc.k % 7 + 1)) +
                           cast(0.5 as double) * (acc.l + acc.b))) +
                        cast(0.6 as double) * v,
                        v))),
              acc -> acc)""").as("st"))
        .select($"n_days",
          r6($"st.l").as("level"),
          r6($"st.b").as("trend"),
          r6($"st.l" + $"st.b" +
            element_at($"st.se", pmod($"st.k", lit(7)) + 1))
            .as("forecast_1d"),
          r6(array_max($"st.se") - array_min($"st.se"))
            .as("seasonal_amplitude"))
    },
    Some(s"""
      WITH RECURSIVE daily AS (
        SELECT cast(date_trunc('day', o_orderdate) as date) AS day,
               cast(count(*) as double) AS x
        FROM orders GROUP BY 1),
      idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, x FROM daily),
      init AS (
        SELECT avg0.l0, list(idx.x ORDER BY idx.i) AS w1
        FROM (SELECT sum(x) / cast(7.0 as double) AS l0
              FROM idx WHERE i <= 7) avg0,
             idx WHERE idx.i <= 7 GROUP BY avg0.l0),
      r AS (
        SELECT cast(7 as bigint) AS i, l0 AS l, cast(0.0 as double) AS b,
               list_transform(w1, v -> v - l0) AS se
        FROM init
        UNION ALL
        SELECT idx.i,
               cast(0.5 as double) * (idx.x - r.se[cast((r.i - 7) % 7 as int) + 1]) +
                 cast(0.5 as double) * (r.l + r.b),
               cast(0.3 as double) *
                   ((cast(0.5 as double) * (idx.x - r.se[cast((r.i - 7) % 7 as int) + 1]) +
                     cast(0.5 as double) * (r.l + r.b)) - r.l) +
                 cast(0.7 as double) * r.b,
               r.se[1:cast((r.i - 7) % 7 as int)] ||
                 [cast(0.4 as double) * (idx.x -
                    (cast(0.5 as double) * (idx.x - r.se[cast((r.i - 7) % 7 as int) + 1]) +
                     cast(0.5 as double) * (r.l + r.b))) +
                  cast(0.6 as double) * r.se[cast((r.i - 7) % 7 as int) + 1]] ||
                 r.se[cast((r.i - 7) % 7 as int) + 2:]
        FROM r JOIN idx ON idx.i = r.i + 1),
      last AS (SELECT cast(max(i) as int) AS n_days FROM r),
      fin AS (
        SELECT r.l, r.b, r.se, r.i, last.n_days
        FROM r JOIN last ON r.i = last.n_days)
      SELECT n_days,
             ${r6Sql("l")} AS level,
             ${r6Sql("b")} AS trend,
             ${r6Sql("l + b + se[cast((i - 7) % 7 as int) + 1]")}
               AS forecast_1d,
             ${r6Sql("list_max(se) - list_min(se)")} AS seasonal_amplitude
      FROM fin"""),
  )

  /** LO–MACKINLAY VARIANCE-RATIO test (q ∈ {2, 5}) on the cumulative
    * event count — is the daily series a random walk (VR≈1), trending
    * (VR>1), or mean-reverting (VR<1)? Determinism/scale trick: VR is
    * scale-invariant, so increments are normalized IN EXACT INTEGER
    * SPACE to mean units — δ_t = (T·d_t − Σd)/Σd and the overlapping
    * q-sums ζ_t = (T·(x_t − x_{t−q}) − q·Σd)/Σd are each ONE IEEE
    * division of exact int64s, bounded by ~2T regardless of SF (no
    * staged term ever approaches the 2³³ cast bound). The series is
    * calendar-bounded (|days| rows); z uses the homoskedastic
    * asymptotic φ(q) = 2(2q−1)(q−1)/(3qT). */
  val qVarianceRatio: GQuery = GQuery(
    "q_variance_ratio",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = Window.orderBy($"day")
      val inc = Seq(2, 5).foldLeft(dailyCounts(spark, dir)
          .withColumn("x", sum($"n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("d", $"x" - lag($"x", 1).over(w))) { case (df, q) =>
        // q-lags ride the FULL series (the x_{q+1}−x_1 boundary pair is
        // real); only the increment filter drops the seed row
        df.withColumn(s"z$q", $"x" - lag($"x", q).over(w))
      }
      val tot = inc.filter($"d".isNotNull)
        .withColumn("tt", count(lit(1)).over(Window.partitionBy()))
        .withColumn("sd", sum($"d").over(Window.partitionBy()))
      val stacked = tot.selectExpr("tt", "sd", "d",
          "stack(2, 2, z2, 5, z5) AS (q, z)")
      val delta = ($"tt" * $"d" - $"sd").cast("double") / $"sd".cast("double")
      val zeta = ($"tt" * $"z" - $"q" * $"sd").cast("double") /
        $"sd".cast("double")
      val g = stacked.groupBy($"q")
        .agg(max($"tt").as("t"),
          sum(rN(delta * delta, 12).cast(dec12)).cast("double").as("s1"),
          sum(when($"z".isNotNull, rN(zeta * zeta, 12)).cast(dec12))
            .cast("double").as("sq"),
          sum(when($"z".isNotNull, 1L).otherwise(0L)).as("nq"))
      val tD = $"t".cast("double")
      val qD = $"q".cast("double")
      val m = qD * $"nq".cast("double") * (lit(1.0) - qD / tD)
      val vr = ($"sq" / m) / ($"s1" / (tD - lit(1.0)))
      val phi = lit(2.0) * (lit(2.0) * qD - lit(1.0)) * (qD - lit(1.0)) /
        (lit(3.0) * qD * tD)
      g.select($"q", $"t".as("n_incr"), r6(vr).as("vr"),
          r6((vr - lit(1.0)) / sqrt(phi)).as("z_stat"))
        .orderBy($"q")
    },
    Some {
      val delta = "(cast(tt * d - sd as double) / cast(sd as double))"
      val zeta = "(cast(tt * z - q * sd as double) / cast(sd as double))"
      s"""
      WITH $dailyCte,
      cum AS (
        SELECT day,
               cast(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) as bigint) AS x
        FROM daily),
      inc AS (
        SELECT day, x, x - lag(x, 1) OVER (ORDER BY day) AS d,
               x - lag(x, 2) OVER (ORDER BY day) AS z2,
               x - lag(x, 5) OVER (ORDER BY day) AS z5
        FROM cum),
      base AS (SELECT * FROM inc WHERE d IS NOT NULL),
      tot AS (
        SELECT *, cast(count(*) OVER () as bigint) AS tt,
               cast(sum(d) OVER () as bigint) AS sd
        FROM base),
      st AS (
        SELECT tt, sd, d, 2 AS q, z2 AS z FROM tot
        UNION ALL
        SELECT tt, sd, d, 5 AS q, z5 AS z FROM tot),
      g AS (
        SELECT q, cast(max(tt) as bigint) AS t,
               cast(sum(cast(${rNSql(s"$delta * $delta", 12)}
                 as decimal(30,12))) as double) AS s1,
               cast(sum(CASE WHEN z IS NOT NULL THEN
                 cast(${rNSql(s"$zeta * $zeta", 12)} as decimal(30,12))
                 END) as double) AS sq,
               cast(sum(CASE WHEN z IS NOT NULL THEN 1 ELSE 0 END)
                 as bigint) AS nq
        FROM st GROUP BY q),
      f AS (
        SELECT q, t, s1, sq, nq, cast(t as double) AS td,
               cast(q as double) AS qd
        FROM g)
      SELECT q, t AS n_incr,
             ${r6Sql("(sq / (qd * cast(nq as double) * " +
               "(cast(1.0 as double) - qd / td))) / " +
               "(s1 / (td - cast(1.0 as double)))")} AS vr,
             ${r6Sql("((sq / (qd * cast(nq as double) * " +
               "(cast(1.0 as double) - qd / td))) / " +
               "(s1 / (td - cast(1.0 as double))) - " +
               "cast(1.0 as double)) / " +
               "sqrt(cast(2.0 as double) * (cast(2.0 as double) * qd - " +
               "cast(1.0 as double)) * (qd - cast(1.0 as double)) / " +
               "(cast(3.0 as double) * qd * td))")} AS z_stat
      FROM f ORDER BY q"""
    },
  )

  /** PETTITT change-point test on the daily event-count series — the
    * rank-based (distribution-free) companion to q_changepoint's CUSUM:
    * U_t = 2Σ_{i≤t}r̄_i − t(N+1) with midranks from the collapsed
    * distinct-value table (doubled midranks keep ties EXACT in int64 —
    * U_t is an integer identity, never a float rank). K = max|U_t| over
    * t<N, split day = earliest maximizer (deterministic tiebreak), and
    * the classic approximation p ≈ 2·exp(−6K²/(N³+N²)). Every window
    * rides the |days|-row calendar series; the midrank lookup is a
    * broadcast equi-join on the distinct-value axis. */
  val qPettitt: GQuery = GQuery(
    "q_pettitt",
    (spark, dir) => {
      import spark.implicits._
      val daily = dailyCounts(spark, dir)
      val vals = daily.groupBy($"n").agg(count(lit(1)).as("cnt"))
        .withColumn("cumb", coalesce(sum($"cnt").over(Window.orderBy($"n")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"n", (lit(2) * $"cumb" + $"cnt" + lit(1)).as("mr2"))
      val w = Window.orderBy($"day")
      val u = daily.join(broadcast(vals), Seq("n"))
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("cumr2", sum($"mr2").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter($"t" < $"nn")
        .select($"day", $"nn", ($"cumr2" - $"t" * ($"nn" + 1)).as("u"))
      val top = u
        .withColumn("rk", row_number().over(
          Window.orderBy(abs($"u").desc, $"day".asc)))
        .filter($"rk" === 1)
      val nD = $"nn".cast("double")
      val kD = abs($"u").cast("double")
      top.select($"nn".as("n_days"), abs($"u").as("k_stat"),
        $"day".as("change_day"),
        r6(lit(2.0) * exp(lit(-6.0) * kD * kD /
          (nD * nD * nD + nD * nD))).as("p_approx"))
    },
    Some(s"""
      WITH $dailyCte,
      vals AS (
        SELECT n, cast(count(*) as bigint) AS cnt
        FROM daily GROUP BY n),
      mr AS (
        SELECT n,
               cast(2 * coalesce(sum(cnt) OVER (ORDER BY n
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
                 cnt + 1 as bigint) AS mr2
        FROM vals),
      s AS (
        SELECT d.day,
               cast(row_number() OVER (ORDER BY d.day) as bigint) AS t,
               cast(count(*) OVER () as bigint) AS nn,
               cast(sum(mr2) OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) as bigint) AS cumr2
        FROM daily d JOIN mr ON d.n = mr.n),
      u AS (
        SELECT day, nn, cumr2 - t * (nn + 1) AS u
        FROM s WHERE t < nn),
      top AS (
        SELECT *, row_number() OVER (ORDER BY abs(u) DESC, day ASC) AS rk
        FROM u)
      SELECT nn AS n_days, cast(abs(u) as bigint) AS k_stat,
             day AS change_day,
             ${r6Sql("cast(2.0 as double) * exp(cast(-6.0 as double) * " +
               "cast(abs(u) as double) * cast(abs(u) as double) / " +
               "(cast(nn as double) * cast(nn as double) * " +
               "cast(nn as double) + " +
               "cast(nn as double) * cast(nn as double)))")} AS p_approx
      FROM top WHERE rk = 1"""),
  )

  /** DICKEY–FULLER unit-root screen (constant, no augmentation) on the
    * daily count series: Δx_t = a + ρ·x_{t−1} + ε; reports ρ̂ and its
    * t-ratio (the DF statistic — compare to the DF, not normal, table).
    * Sufficient statistics (Σx, Σy, Σxy, Σxx, Σyy over the |days|−1
    * lag pairs) are EXACT int64 (documented bound: cross-products stay
    * under 2⁶³ through sf1000 on this 30-day calendar); the closed-form
    * OLS slope, SSR decomposition, and standard error are one fixed
    * IEEE tree, the q_autocorr cast-after-exact-product convention. */
  val qAdf: GQuery = GQuery(
    "q_adf",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.orderBy($"day")
      val pairs = dailyCounts(spark, dir)
        .withColumn("xl", lag($"n", 1).over(w))
        .filter($"xl".isNotNull)
        .select($"xl".as("x"), ($"n" - $"xl").as("y"))
      val s = pairs.agg(count(lit(1)).as("np"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      val nD = $"np".cast("double")
      val den = ($"np" * $"sxx" - $"sx" * $"sx").cast("double")
      val rho = ($"np" * $"sxy" - $"sx" * $"sy").cast("double") / den
      val syyC = $"syy".cast("double") -
        $"sy".cast("double") * $"sy".cast("double") / nD
      val sxxC = $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double") / nD
      val ssr = syyC - rho * rho * sxxC
      val se = sqrt(ssr / (nD - lit(2.0)) / sxxC)
      s.select($"np".as("n_pairs"), r6(rho).as("rho"),
        r6(rho / se).as("df_stat"))
    },
    Some(s"""
      WITH $dailyCte,
      l AS (
        SELECT lag(n, 1) OVER (ORDER BY day) AS x,
               n - lag(n, 1) OVER (ORDER BY day) AS y
        FROM daily),
      p AS (SELECT x, y FROM l WHERE x IS NOT NULL),
      s AS (
        SELECT cast(count(*) as bigint) AS np,
               cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
               cast(sum(x*y) as bigint) AS sxy,
               cast(sum(x*x) as bigint) AS sxx,
               cast(sum(y*y) as bigint) AS syy
        FROM p),
      f AS (
        SELECT np,
               cast(np*sxy - sx*sy as double) /
                 cast(np*sxx - sx*sx as double) AS rho,
               cast(syy as double) - cast(sy as double) *
                 cast(sy as double) / cast(np as double) AS syyc,
               cast(sxx as double) - cast(sx as double) *
                 cast(sx as double) / cast(np as double) AS sxxc
        FROM s)
      SELECT np AS n_pairs, ${r6Sql("rho")} AS rho,
             ${r6Sql("rho / sqrt((syyc - rho * rho * sxxc) / " +
               "(cast(np as double) - cast(2.0 as double)) / sxxc)")}
               AS df_stat
      FROM f"""),
  )

  /** KPSS level-stationarity statistic with a Bartlett long-run
    * variance (L=4) on the daily counts — the complement of q_adf (KPSS
    * null = stationary; DF null = unit root). Determinism/scale: all
    * residual quantities are normalized IN INTEGER SPACE by the series
    * total — g_t = (N·n_t − Σn)/Σn and the partial sums
    * s_t = (N·X_t − t·Σn)/Σn are single IEEE divisions of exact int64s
    * with SF-INDEPENDENT bounds (|g|, |s| ≤ N+… ≤ 2N), so the 12-dp
    * staged decimal sums of g·g lag products and s² are valid at any
    * scale; the mean factor n̄² cancels algebraically from
    * η = Σs²/(N·(G₀+2Σwⱼ Gⱼ)). */
  val qKpss: GQuery = GQuery(
    "q_kpss",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = Window.orderBy($"day")
      val base = dailyCounts(spark, dir)
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("sn", sum($"n").over(Window.partitionBy()))
        .withColumn("e", $"nn" * $"n" - $"sn")
        .withColumn("cs", sum($"e").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val lagged = (1 to 4).foldLeft(base) { case (df, j) =>
        df.withColumn(s"el$j", lag($"e", j).over(w))
      }
      val g = ($"e".cast("double") / $"sn".cast("double"))
      val sNorm = ($"cs".cast("double") / $"sn".cast("double"))
      def gl(j: Int) = col(s"el$j").cast("double") / $"sn".cast("double")
      val agg = lagged.agg(
        max($"nn").as("n_days"),
        sum(rN(sNorm * sNorm, 12).cast(dec12)).cast("double").as("s2"),
        sum(rN(g * g, 12).cast(dec12)).cast("double").as("g0"),
        sum(when($"el1".isNotNull, rN(g * gl(1), 12)).cast(dec12))
          .cast("double").as("g1"),
        sum(when($"el2".isNotNull, rN(g * gl(2), 12)).cast(dec12))
          .cast("double").as("g2"),
        sum(when($"el3".isNotNull, rN(g * gl(3), 12)).cast(dec12))
          .cast("double").as("g3"),
        sum(when($"el4".isNotNull, rN(g * gl(4), 12)).cast(dec12))
          .cast("double").as("g4"))
      val nD = $"n_days".cast("double")
      val lrv = $"g0" + lit(2.0) * (lit(0.8) * $"g1" + lit(0.6) * $"g2" +
        lit(0.4) * $"g3" + lit(0.2) * $"g4")
      agg.select($"n_days", r6($"s2").as("s2_sum"),
        r6(lrv).as("lrv_norm"),
        r6($"s2" / (nD * lrv)).as("kpss_eta"))
    },
    Some {
      val gg = "(cast(e as double) / cast(sn as double))"
      val ss = "(cast(cs as double) / cast(sn as double))"
      def glj(j: Int) = s"(cast(el$j as double) / cast(sn as double))"
      val lagSel = (1 to 4).map(j =>
        s"lag(e, $j) OVER (ORDER BY day) AS el$j").mkString(",\n               ")
      val gSums = (1 to 4).map(j =>
        s"""cast(sum(CASE WHEN el$j IS NOT NULL THEN
                 cast(${rNSql(s"$gg * ${glj(j)}", 12)} as decimal(30,12))
                 END) as double) AS g$j""").mkString(",\n               ")
      s"""
      WITH $dailyCte,
      b AS (
        SELECT day, n,
               cast(count(*) OVER () as bigint) AS nn,
               cast(sum(n) OVER () as bigint) AS sn
        FROM daily),
      e AS (
        SELECT day, nn, sn, nn * n - sn AS e,
               cast(sum(nn * n - sn) OVER (ORDER BY day ROWS BETWEEN
                 UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cs
        FROM b),
      l AS (
        SELECT *,
               $lagSel
        FROM e),
      a AS (
        SELECT cast(max(nn) as bigint) AS n_days,
               cast(sum(cast(${rNSql(s"$ss * $ss", 12)}
                 as decimal(30,12))) as double) AS s2,
               cast(sum(cast(${rNSql(s"$gg * $gg", 12)}
                 as decimal(30,12))) as double) AS g0,
               $gSums
        FROM l),
      f AS (
        SELECT n_days, s2,
               g0 + cast(2.0 as double) * (cast(0.8 as double) * g1 +
                 cast(0.6 as double) * g2 + cast(0.4 as double) * g3 +
                 cast(0.2 as double) * g4) AS lrv
        FROM a)
      SELECT n_days, ${r6Sql("s2")} AS s2_sum, ${r6Sql("lrv")} AS lrv_norm,
             ${r6Sql("s2 / (cast(n_days as double) * lrv)")} AS kpss_eta
      FROM f"""
    },
  )

  /** POISSON DISPERSION INDEX of the daily event-count series — the
    * one-line overdispersion screen run before any Poisson model
    * (q_poisson_fit) is trusted: VMR = s²/x̄ and the dispersion statistic
    * D = (n−1)·VMR (χ²_{n−1} under the Poisson null; VMR ≫ 1 means
    * burst/clumping, q_burstiness's formal test). Everything derives
    * from three integer sufficient statistics (n, Σx, Σx²) of the
    * calendar-complete daily spine — exact at any SF, one combinable
    * pass over events, closed IEEE form after. */
  val qPoissonDisp: GQuery = GQuery(
    "q_poisson_disp",
    (spark, dir) => {
      import spark.implicits._
      val s = dailyCounts(spark, dir).agg(
        count(lit(1)).as("n"), sum($"n").as("sx"),
        sum($"n" * $"n").as("sxx"))
      val d = (c: String) => col(c).cast("double")
      val mean = $"sx".cast("double") / d("n")
      val vr = (d("n") * $"sxx" - $"sx".cast("double") * $"sx".cast("double")) /
        (d("n") * (d("n") - lit(1.0)))
      val vmr = vr / mean
      s.select($"n".as("n_days"), r6(mean).as("mean"),
        r6(vr).as("variance"), r6(vmr).as("vmr"),
        r6((d("n") - lit(1.0)) * vmr).as("disp_stat"))
    },
    Some {
      val mean = "(cast(sx as double) / cast(n as double))"
      val vr = "((cast(n as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double)) / " +
        "(cast(n as double) * (cast(n as double) - cast(1.0 as double))))"
      val vmr = s"($vr / $mean)"
      s"""
      WITH $dailyCte,
      s AS (
        SELECT cast(count(*) as bigint) AS n,
               cast(sum(n) as bigint) AS sx,
               cast(sum(n * n) as bigint) AS sxx
        FROM daily)
      SELECT n AS n_days, ${r6Sql(mean)} AS mean, ${r6Sql(vr)} AS variance,
             ${r6Sql(vmr)} AS vmr,
             ${r6Sql(s"(cast(n as double) - cast(1.0 as double)) * $vmr")}
               AS disp_stat
      FROM s"""
    },
  )

  /** PERIODOGRAM of the daily event-count series at candidate periods
    * 2–14 days — the direct spectral reading of what q_seasonal/
    * q_season_strength infer by decomposition: P(p) = S_c² + S_s² with
    * S_c = Σ(x_t − x̄)·cos(2πt/p), scaled 2/n. Cross-engine float
    * contract for the trig sums (the ONE place libm enters an oracle):
    * cos/sin are evaluated on identical double inputs (the angle
    * reduces t mod p FIRST, so inputs stay in [0,2π) and small), then
    * IEEE-rounded to 6 dp and cast to decimal — the rounding absorbs
    * any sub-ulp libm disagreement (flip probability ~1e-10/term), and
    * ALL downstream accumulation is exact bigint×decimal arithmetic,
    * order-free by construction; the mean-centering is algebraic
    * (Σx·c − x̄·Σc) so no non-integer series value is ever summed. One
    * events pass → calendar-bounded spine × 13 periods — the explode
    * is over the tiny aggregate, never the fact. */
  val qPeriodogram: GQuery = GQuery(
    "q_periodogram",
    (spark, dir) => {
      import spark.implicits._
      val twoPi = lit(6.283185307179586)
      val daily = dailyCounts(spark, dir)
      val d0 = daily.agg(min($"day").as("d0"))
      val t = daily.crossJoin(broadcast(d0))
        .select(datediff($"day", $"d0").as("t"), $"n")
        .select($"t", $"n", explode(expr("sequence(2, 14)")).as("p"))
        .withColumn("ang",
          twoPi * pmod($"t", $"p").cast("double") / $"p".cast("double"))
        .select($"p", $"n",
          rN(cos($"ang"), 6).cast("decimal(10,6)").as("ct"),
          rN(sin($"ang"), 6).cast("decimal(10,6)").as("st"))
      val s = t.groupBy($"p").agg(
        count(lit(1)).as("n_days"),
        sum($"n").as("sx"),
        sum($"n" * $"ct").as("snc"),
        sum($"n" * $"st").as("sns"),
        sum($"ct").as("sc"),
        sum($"st").as("ss"))
      val xbar = $"sx".cast("double") / $"n_days".cast("double")
      val cc = $"snc".cast("double") - xbar * $"sc".cast("double")
      val csn = $"sns".cast("double") - xbar * $"ss".cast("double")
      s.select($"p".as("period"), $"n_days",
        r6(cc).as("s_cos"), r6(csn).as("s_sin"),
        r6(lit(2.0) * (cc * cc + csn * csn) / $"n_days".cast("double"))
          .as("power"))
        .orderBy($"period")
    },
    Some {
      val xbar = "(cast(sx as double) / cast(n_days as double))"
      val cc = s"(cast(snc as double) - $xbar * cast(sc as double))"
      val cs = s"(cast(sns as double) - $xbar * cast(ss as double))"
      s"""
      WITH $dailyCte,
      d0 AS (SELECT min(day) AS d0 FROM daily),
      t AS (
        SELECT p, n,
               cast(${rNSql("cos(cast(6.283185307179586 as double) * " +
                 "cast((date_diff('day', d0, day)) % p as double) / " +
                 "cast(p as double))", 6)} as decimal(10,6)) AS ct,
               cast(${rNSql("sin(cast(6.283185307179586 as double) * " +
                 "cast((date_diff('day', d0, day)) % p as double) / " +
                 "cast(p as double))", 6)} as decimal(10,6)) AS st
        FROM daily CROSS JOIN d0
        CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p) ps),
      s AS (
        SELECT p, cast(count(*) as bigint) AS n_days,
               cast(sum(n) as bigint) AS sx,
               sum(n * ct) AS snc, sum(n * st) AS sns,
               sum(ct) AS sc, sum(st) AS ss
        FROM t GROUP BY p)
      SELECT cast(p as int) AS period, n_days,
             ${r6Sql(cc)} AS s_cos, ${r6Sql(cs)} AS s_sin,
             ${r6Sql(s"cast(2.0 as double) * ($cc * $cc + $cs * $cs) / " +
               "cast(n_days as double)")} AS power
      FROM s ORDER BY period"""
    },
  )

  /** SORTINO RATIO of the daily order-revenue series — the downside-
    * only companion to a Sharpe-style mean/vol summary: mean daily
    * return over the root-mean-square of NEGATIVE returns only
    * (downside deviation, 0-target). Returns are computed on exact
    * integer daily cents via one lag over the calendar-bounded daily
    * aggregate; each return is a single IEEE division (deterministic
    * per-row), and the two moment sums are 12-dp decimal-staged
    * (returns are O(1) and number ~2.5k — both staging bounds hold
    * comfortably). One orders pass, everything after is |days|-sized. */
  val qSortino: GQuery = GQuery(
    "q_sortino",
    (spark, dir) => {
      import spark.implicits._
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * lit(100.0) + lit(0.5))
          .cast("long")).as("x"))
      val w = Window.orderBy($"day")
      val r = daily
        .withColumn("xp", lag($"x", 1).over(w))
        .filter($"xp".isNotNull && $"xp" > 0)
        .select((($"x" - $"xp").cast("double") / $"xp".cast("double"))
          .as("ret"))
      val s = r.agg(
        count(lit(1)).as("n_days"),
        sum(rN($"ret", 12).cast(dec12)).cast("double").as("sr"),
        sum(when($"ret" < 0, rN($"ret" * $"ret", 12)).otherwise(lit(0.0))
          .cast(dec12)).cast("double").as("sdd"))
      val mean = $"sr" / $"n_days".cast("double")
      val ddev = sqrt($"sdd" / $"n_days".cast("double"))
      s.select($"n_days", r6(mean * lit(1000.0)).as("mean_ret_pm"),
        r6(ddev * lit(1000.0)).as("downside_dev_pm"),
        r6(mean / ddev).as("sortino"))
    },
    Some {
      val mean = "(sr / cast(n_days as double))"
      val ddev = "sqrt(sdd / cast(n_days as double))"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(sum(cast(floor(o_totalprice * cast(100.0 as double)
                 + cast(0.5 as double)) as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      l AS (
        SELECT x, lag(x, 1) OVER (ORDER BY day) AS xp FROM daily),
      r AS (
        SELECT cast(x - xp as double) / cast(xp as double) AS ret
        FROM l WHERE xp IS NOT NULL AND xp > 0),
      s AS (
        SELECT cast(count(*) as bigint) AS n_days,
               cast(sum(cast(${rNSql("ret", 12)} as decimal(30,12)))
                 as double) AS sr,
               cast(sum(cast(CASE WHEN ret < 0
                 THEN ${rNSql("ret * ret", 12)}
                 ELSE cast(0.0 as double) END as decimal(30,12)))
                 as double) AS sdd
        FROM r)
      SELECT n_days,
             ${r6Sql(s"$mean * cast(1000.0 as double)")} AS mean_ret_pm,
             ${r6Sql(s"$ddev * cast(1000.0 as double)")} AS downside_dev_pm,
             ${r6Sql(s"$mean / $ddev")} AS sortino
      FROM s"""
    },
  )

  /** ENGLE–GRANGER COINTEGRATION (2-step) between the daily click and
    * view count series — "do these two metrics share a common trend, or
    * does their spread wander?" Step 1: OLS view_t = a + b·click_t from
    * exact integer moments (one combinable pass to the per-(day) count
    * pair). Step 2: Dickey–Fuller t on the residual spread e_t (no
    * intercept, no lags — the q_adf shape on a DERIVED series):
    * ρ̂ = Σe_{t−1}Δe/Σe²_{t−1}, s² = (ΣΔe² − (Σe_{t−1}Δe)²/Σe²_{t−1})/
    * (n−1), t = ρ̂·√(Σe²_{t−1}/s²). A strongly negative t rejects a
    * unit root in the spread → cointegrated. Determinism: residuals are
    * per-row IEEE off broadcast (a, b); the three residual moments are
    * 6-dp decimal-staged (e ~ 1e4, e² ≲ 1e8 ≪ 2³³ — both staging
    * bounds hold); everything after the first groupBy is calendar-
    * bounded. */
  val qCoint: GQuery = GQuery(
    "q_coint",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val daily = Tables.events(spark, dir)
        .filter($"event_type".isin("click", "view"))
        .groupBy(to_date($"ts").as("day"))
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
          sum(when($"event_type" === "view", 1L).otherwise(0L)).as("y"))
      val m = daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"))
      val nD = $"n".cast("double")
      val b = (nD * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")) /
        (nD * $"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double"))
      val fit = m.select($"n".as("n_days"), b.as("b"),
        (($"sy".cast("double") - b * $"sx".cast("double")) / nD).as("a"))
      val w = Window.orderBy($"day")
      val resid = daily.crossJoin(broadcast(fit))
        .select($"day", $"n_days", $"a", $"b",
          ($"y".cast("double") - $"a" - $"b" * $"x".cast("double"))
            .as("e"))
        .withColumn("el", lag($"e", 1).over(w))
        .filter($"el".isNotNull)
        .select($"n_days", $"a", $"b", $"el", ($"e" - $"el").as("de"))
      val s = resid.groupBy($"n_days", $"a", $"b").agg(
        count(lit(1)).as("nr"),
        sum(rN($"el" * $"el", 6).cast(dec6)).cast("double").as("see"),
        sum(rN($"el" * $"de", 6).cast(dec6)).cast("double").as("sed"),
        sum(rN($"de" * $"de", 6).cast(dec6)).cast("double").as("sdd"))
      val rho = $"sed" / $"see"
      val s2 = ($"sdd" - $"sed" * $"sed" / $"see") /
        ($"nr".cast("double") - lit(1.0))
      s.select($"n_days", r6($"b").as("slope"), r6($"a").as("intercept"),
        r6(rho).as("rho"),
        r6(rho / sqrt(s2 / $"see")).as("adf_t"))
    },
    Some {
      val b = "((cast(n as double) * cast(sxy as double) - " +
        "cast(sx as double) * cast(sy as double)) / " +
        "(cast(n as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double)))"
      val rho = "(sed / see)"
      val s2 = "((sdd - sed * sed / see) / (cast(nr as double) - " +
        "cast(1.0 as double)))"
      s"""
      WITH daily AS (
        SELECT cast(date_trunc('day', ts) as date) AS day,
               cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 as bigint) AS x,
               cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 as bigint) AS y
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1),
      m AS (
        SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS sx,
               cast(sum(y) as bigint) AS sy,
               cast(sum(x * x) as bigint) AS sxx,
               cast(sum(x * y) as bigint) AS sxy
        FROM daily),
      fit AS (
        SELECT n AS n_days, $b AS b,
               (cast(sy as double) - $b * cast(sx as double)) /
                 cast(n as double) AS a
        FROM m),
      resid AS (
        SELECT n_days, a, b,
               cast(y as double) - a - b * cast(x as double) AS e,
               lag(cast(y as double) - a - b * cast(x as double), 1)
                 OVER (ORDER BY day) AS el
        FROM daily CROSS JOIN fit),
      d AS (
        SELECT n_days, a, b, el, e - el AS de
        FROM resid WHERE el IS NOT NULL),
      s AS (
        SELECT n_days, a, b, cast(count(*) as bigint) AS nr,
               cast(sum(cast(${rNSql("el * el", 6)} as decimal(30,6)))
                 as double) AS see,
               cast(sum(cast(${rNSql("el * de", 6)} as decimal(30,6)))
                 as double) AS sed,
               cast(sum(cast(${rNSql("de * de", 6)} as decimal(30,6)))
                 as double) AS sdd
        FROM d GROUP BY 1, 2, 3)
      SELECT n_days, ${r6Sql("b")} AS slope, ${r6Sql("a")} AS intercept,
             ${r6Sql(rho)} AS rho,
             ${r6Sql(s"$rho / sqrt($s2 / see)")} AS adf_t
      FROM s"""
    },
  )

  /** DURBIN–WATSON statistic on the residuals of the daily-revenue
    * trend OLS — the canonical "are my regression errors serially
    * correlated?" screen (DW ≈ 2(1−ρ̂); < 2 flags positive
    * autocorrelation, which invalidates the OLS standard errors every
    * trend query reports). One orders pass → exact integer daily
    * dollars; the fit (a, b) comes from integer moments and rides a
    * 1-row broadcast (the q_coint posture); residuals are per-row IEEE;
    * the numerator Σ(eₜ−eₜ₋₁)² and denominator Σeₜ² are 6-dp
    * decimal-staged in KILO-dollar units (e ≲ 1e3 → e² ≲ 1e6, far
    * under the 2³³ cast bound that raw dollar² would cross — the
    * q_levene rescale lesson); DW is a ratio, so the unit cancels. */
  val qDw: GQuery = GQuery(
    "q_dw",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("x"))
      val mom = daily.agg(count(lit(1)).as("n"), min($"day").as("d0"))
      val tx = daily.crossJoin(broadcast(mom))
        .select($"n", datediff($"day", $"d0").cast("long").as("t"), $"x",
          $"day")
      val m = tx.groupBy($"n").agg(
        sum($"t").as("st"), sum($"x").as("sx"),
        sum($"t" * $"t").as("stt"), sum($"t" * $"x").as("stx"))
      val nD = $"n".cast("double")
      val b = (nD * $"stx".cast("double") -
        $"st".cast("double") * $"sx".cast("double")) /
        (nD * $"stt".cast("double") -
          $"st".cast("double") * $"st".cast("double"))
      val fit = m.select($"n".as("n_days"), b.as("b"),
        (($"sx".cast("double") - b * $"st".cast("double")) / nD).as("a"))
      val w = Window.orderBy($"day")
      val resid = tx.select($"day", $"t", $"x")
        .crossJoin(broadcast(fit))
        .select($"day", $"n_days",
          (($"x".cast("double") - $"a" - $"b" * $"t".cast("double")) /
            lit(1000.0)).as("e"))
        .withColumn("el", lag($"e", 1).over(w))
      val s = resid.groupBy($"n_days").agg(
        sum(rN($"e" * $"e", 6).cast(dec6)).cast("double").as("see"),
        sum(when($"el".isNotNull,
          rN(($"e" - $"el") * ($"e" - $"el"), 6)).otherwise(lit(0.0))
          .cast(dec6)).cast("double").as("sdd"))
      s.select($"n_days", r6($"sdd" / $"see").as("dw"),
        r6(lit(1.0) - $"sdd" / (lit(2.0) * $"see")).as("rho_approx"))
    },
    Some {
      val b = "((cast(n as double) * cast(stx as double) - " +
        "cast(st as double) * cast(sx as double)) / " +
        "(cast(n as double) * cast(stt as double) - " +
        "cast(st as double) * cast(st as double)))"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(sum(cast(floor(o_totalprice + cast(0.5 as double))
                 as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      mom AS (SELECT cast(count(*) as bigint) AS n, min(day) AS d0
              FROM daily),
      tx AS (
        SELECT n, cast(date_diff('day', d0, day) as bigint) AS t, x, day
        FROM daily CROSS JOIN mom),
      m AS (
        SELECT n, cast(sum(t) as bigint) AS st,
               cast(sum(x) as bigint) AS sx,
               cast(sum(t * t) as bigint) AS stt,
               cast(sum(t * x) as bigint) AS stx
        FROM tx GROUP BY n),
      fit AS (
        SELECT n AS n_days, $b AS b,
               (cast(sx as double) - $b * cast(st as double)) /
                 cast(n as double) AS a
        FROM m),
      resid AS (
        SELECT n_days,
               (cast(x as double) - a - b * cast(t as double)) /
                 cast(1000.0 as double) AS e,
               lag((cast(x as double) - a - b * cast(t as double)) /
                 cast(1000.0 as double), 1) OVER (ORDER BY day) AS el
        FROM tx CROSS JOIN fit),
      s AS (
        SELECT n_days,
               cast(sum(cast(${rNSql("e * e", 6)} as decimal(30,6)))
                 as double) AS see,
               cast(sum(cast(CASE WHEN el IS NOT NULL
                 THEN ${rNSql("(e - el) * (e - el)", 6)}
                 ELSE cast(0.0 as double) END as decimal(30,6)))
                 as double) AS sdd
        FROM resid GROUP BY n_days)
      SELECT n_days, ${r6Sql("sdd / see")} AS dw,
             ${r6Sql("cast(1.0 as double) - sdd / " +
               "(cast(2.0 as double) * see)")} AS rho_approx
      FROM s"""
    },
  )

  /** CHOW STRUCTURAL-BREAK TEST at the calendar midpoint of the daily
    * revenue~time OLS — "did the trend CHANGE halfway through the
    * history?" F = ((SSRp − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)).
    * Everything reduces to SIX integer moments per segment (one
    * combinable pass over the |days|-row aggregate; segment = epoch-day
    * ≤ midpoint, midpoint from the same 1-row bounds broadcast via
    * integer `div` — the cross-engine-safe quotient); each SSR is the
    * closed form Syy − Sxy²/Sxx on exact int64 moments, so no residual
    * pass and no staging is needed. Daily revenue is in integer
    * KILO-dollars (x² ≲ 1e8 per day — int64-exact at any SF the moment
    * sums can reach; raw dollar² would cross 2⁶³ near sf1). */
  val qChow: GQuery = GQuery(
    "q_chow",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("xd"))
        .select($"day", expr("xd div 1000").cast("long").as("x"))
      val bounds = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
      val seg = daily.crossJoin(broadcast(bounds))
        .select(datediff($"day", $"d0").cast("long").as("t"), $"x",
          (datediff($"day", $"d0").cast("long") <=
            expr("datediff(d1, d0) div 2").cast("long")).as("s1"))
      val g = seg.groupBy($"s1").agg(
        count(lit(1)).as("n"), sum($"t").as("st"), sum($"x").as("sx"),
        sum($"t" * $"t").as("stt"), sum($"t" * $"x").as("stx"),
        sum($"x" * $"x").as("sxx"))
      def ssr(n: Column, st: Column, sx: Column, stt: Column,
          stx: Column, sxx: Column): Column = {
        val nD = n.cast("double")
        val cxx = nD * stt.cast("double") -
          st.cast("double") * st.cast("double")
        val cxy = nD * stx.cast("double") -
          st.cast("double") * sx.cast("double")
        val cyy = nD * sxx.cast("double") -
          sx.cast("double") * sx.cast("double")
        (cyy - cxy * cxy / cxx) / nD
      }
      def seg1(c: String) = sum(when($"s1", col(c)).otherwise(lit(0L)))
      def seg2(c: String) = sum(when(!$"s1", col(c)).otherwise(lit(0L)))
      val flat = g.agg(
        seg1("n").as("n1"), seg1("st").as("st1"), seg1("sx").as("sx1"),
        seg1("stt").as("stt1"), seg1("stx").as("stx1"),
        seg1("sxx").as("sxx1"),
        seg2("n").as("n2"), seg2("st").as("st2"), seg2("sx").as("sx2"),
        seg2("stt").as("stt2"), seg2("stx").as("stx2"),
        seg2("sxx").as("sxx2"))
      val s1r = ssr($"n1", $"st1", $"sx1", $"stt1", $"stx1", $"sxx1")
      val s2r = ssr($"n2", $"st2", $"sx2", $"stt2", $"stx2", $"sxx2")
      val spr = ssr($"n1" + $"n2", $"st1" + $"st2", $"sx1" + $"sx2",
        $"stt1" + $"stt2", $"stx1" + $"stx2", $"sxx1" + $"sxx2")
      val nT = ($"n1" + $"n2").cast("double")
      flat.select(($"n1" + $"n2").as("n_days"), $"n1", $"n2",
        r6(spr).as("ssr_pooled"), r6(s1r).as("ssr1"), r6(s2r).as("ssr2"),
        r6(((spr - s1r - s2r) / lit(2.0)) /
          ((s1r + s2r) / (nT - lit(4.0)))).as("chow_f"))
    },
    Some {
      def ssr(n: String, st: String, sx: String, stt: String,
          stx: String, sxx: String): String = {
        val nD = s"cast($n as double)"
        val cxx = s"($nD * cast($stt as double) - " +
          s"cast($st as double) * cast($st as double))"
        val cxy = s"($nD * cast($stx as double) - " +
          s"cast($st as double) * cast($sx as double))"
        val cyy = s"($nD * cast($sxx as double) - " +
          s"cast($sx as double) * cast($sx as double))"
        s"(($cyy - $cxy * $cxy / $cxx) / $nD)"
      }
      val s1r = ssr("n1", "st1", "sx1", "stt1", "stx1", "sxx1")
      val s2r = ssr("n2", "st2", "sx2", "stt2", "stx2", "sxx2")
      val spr = ssr("(n1 + n2)", "(st1 + st2)", "(sx1 + sx2)",
        "(stt1 + stt2)", "(stx1 + stx2)", "(sxx1 + sxx2)")
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(cast(sum(cast(floor(o_totalprice +
                 cast(0.5 as double)) as bigint)) as bigint) // 1000
                 as bigint) AS x
        FROM orders GROUP BY 1),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      seg AS (
        SELECT cast(date_diff('day', d0, day) as bigint) AS t, x,
               cast(date_diff('day', d0, day) as bigint) <=
                 cast(date_diff('day', d0, d1) as bigint) // 2 AS s1
        FROM daily CROSS JOIN bounds),
      g AS (
        SELECT s1, cast(count(*) as bigint) AS n,
               cast(sum(t) as bigint) AS st, cast(sum(x) as bigint) AS sx,
               cast(sum(t * t) as bigint) AS stt,
               cast(sum(t * x) as bigint) AS stx,
               cast(sum(x * x) as bigint) AS sxx
        FROM seg GROUP BY s1),
      flat AS (
        SELECT
          cast(sum(CASE WHEN s1 THEN n ELSE 0 END) as bigint) AS n1,
          cast(sum(CASE WHEN s1 THEN st ELSE 0 END) as bigint) AS st1,
          cast(sum(CASE WHEN s1 THEN sx ELSE 0 END) as bigint) AS sx1,
          cast(sum(CASE WHEN s1 THEN stt ELSE 0 END) as bigint) AS stt1,
          cast(sum(CASE WHEN s1 THEN stx ELSE 0 END) as bigint) AS stx1,
          cast(sum(CASE WHEN s1 THEN sxx ELSE 0 END) as bigint) AS sxx1,
          cast(sum(CASE WHEN NOT s1 THEN n ELSE 0 END) as bigint) AS n2,
          cast(sum(CASE WHEN NOT s1 THEN st ELSE 0 END) as bigint) AS st2,
          cast(sum(CASE WHEN NOT s1 THEN sx ELSE 0 END) as bigint) AS sx2,
          cast(sum(CASE WHEN NOT s1 THEN stt ELSE 0 END) as bigint) AS stt2,
          cast(sum(CASE WHEN NOT s1 THEN stx ELSE 0 END) as bigint) AS stx2,
          cast(sum(CASE WHEN NOT s1 THEN sxx ELSE 0 END) as bigint) AS sxx2
        FROM g)
      SELECT (n1 + n2) AS n_days, n1, n2,
             ${r6Sql(spr)} AS ssr_pooled, ${r6Sql(s1r)} AS ssr1,
             ${r6Sql(s2r)} AS ssr2,
             ${r6Sql(s"((($spr - $s1r - $s2r) / cast(2.0 as double)) / " +
               s"(($s1r + $s2r) / (cast(n1 + n2 as double) - " +
               "cast(4.0 as double))))")} AS chow_f
      FROM flat"""
    },
  )

  /** ARCH-LM TEST (1 lag) on the daily revenue CHANGES — "is volatility
    * clustered?" (today's squared shock predicting tomorrow's is the
    * defining ARCH effect; its presence invalidates constant-variance
    * assumptions in every interval the series queries report). The
    * shock proxy is the first difference of integer KILO-dollar daily
    * revenue — integer, so its square sₜ = dₜ² is EXACT int64 (≲1e6 per
    * day) and all six regression moments of sₜ on sₜ₋₁ are exact int64
    * sums (≲3e15 at sf0.1): the whole statistic is closed-form on
    * integers, no staging anywhere. LM = n·R²; 3.841 is the 5% χ²(1)
    * bar. One orders pass; the lag runs over the |days|-row aggregate. */
  val qArchLm: GQuery = GQuery(
    "q_arch_lm",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("xd"))
        .select($"day", expr("xd div 1000").cast("long").as("x"))
      val w = Window.orderBy($"day")
      val sq = daily
        .withColumn("xl", lag($"x", 1).over(w))
        .filter($"xl".isNotNull)
        .select((($"x" - $"xl") * ($"x" - $"xl")).as("s"), $"day")
        .withColumn("sl", lag($"s", 1).over(w))
        .filter($"sl".isNotNull)
      val m = sq.agg(count(lit(1)).as("n"), sum($"s").as("sy"),
        sum($"sl").as("sx"), sum($"s" * $"sl").as("sxy"),
        sum($"sl" * $"sl").as("sxx"), sum($"s" * $"s").as("syy"))
      val nD = $"n".cast("double")
      val cxy = nD * $"sxy".cast("double") -
        $"sx".cast("double") * $"sy".cast("double")
      val cxx = nD * $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double")
      val cyy = nD * $"syy".cast("double") -
        $"sy".cast("double") * $"sy".cast("double")
      val r2 = cxy * cxy / (cxx * cyy)
      m.select($"n".as("n_days"), r6(cxy / cxx).as("slope"),
        r6(r2).as("r2"), r6(nD * r2).as("lm_stat"),
        (nD * r2 > lit(3.841)).cast("int").as("arch_flag"))
    },
    Some {
      val cxy = "(cast(n as double) * cast(sxy as double) - " +
        "cast(sx as double) * cast(sy as double))"
      val cxx = "(cast(n as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double))"
      val cyy = "(cast(n as double) * cast(syy as double) - " +
        "cast(sy as double) * cast(sy as double))"
      val r2 = s"($cxy * $cxy / ($cxx * $cyy))"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(cast(sum(cast(floor(o_totalprice +
                 cast(0.5 as double)) as bigint)) as bigint) // 1000
                 as bigint) AS x
        FROM orders GROUP BY 1),
      dd AS (
        SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS xl FROM daily),
      sq0 AS (
        SELECT day, (x - xl) * (x - xl) AS s FROM dd WHERE xl IS NOT NULL),
      sq AS (
        SELECT s, lag(s, 1) OVER (ORDER BY day) AS sl FROM sq0),
      m AS (
        SELECT cast(count(*) as bigint) AS n, cast(sum(s) as bigint) AS sy,
               cast(sum(sl) as bigint) AS sx,
               cast(sum(s * sl) as bigint) AS sxy,
               cast(sum(sl * sl) as bigint) AS sxx,
               cast(sum(s * s) as bigint) AS syy
        FROM sq WHERE sl IS NOT NULL)
      SELECT n AS n_days, ${r6Sql(s"$cxy / $cxx")} AS slope,
             ${r6Sql(r2)} AS r2,
             ${r6Sql(s"cast(n as double) * $r2")} AS lm_stat,
             cast(cast(n as double) * $r2 > cast(3.841 as double) as int)
               AS arch_flag
      FROM m"""
    },
  )

  /** SPECTRAL ENTROPY of the daily event-count series — the
    * forecastability index over q_periodogram's period-2..14 power
    * spectrum: H = −Σ p̂ ln p̂ / ln 13 (1 = white noise, → 0 = one
    * dominant cycle). The 13 powers use the periodogram's exact
    * numerics (6-dp-rounded trig factors → exact bigint×decimal
    * accumulation); each power is then 6-dp rounded and decimal-cast so
    * the total-power sum is exact and order-free, and the 13 −q·ln(q)
    * terms are 12-dp decimal-staged (terms are O(1) and few — the
    * q_cond_entropy small-term bound). ln enters each oracle engine on
    * IDENTICAL doubles (q_fisher_ci precedent). Also reports the
    * dominant period (min period at the rounded-power argmax —
    * deterministic tiebreak). */
  val qSpectralEntropy: GQuery = GQuery(
    "q_spectral_entropy",
    (spark, dir) => {
      import spark.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
      val dec12 = org.apache.spark.sql.types.DecimalType(30, 12)
      val twoPi = lit(6.283185307179586)
      val daily = dailyCounts(spark, dir)
      val d0 = daily.agg(min($"day").as("d0"))
      val t = daily.crossJoin(broadcast(d0))
        .select(datediff($"day", $"d0").as("t"), $"n")
        .select($"t", $"n", explode(expr("sequence(2, 14)")).as("p"))
        .withColumn("ang",
          twoPi * pmod($"t", $"p").cast("double") / $"p".cast("double"))
        .select($"p", $"n",
          rN(cos($"ang"), 6).cast("decimal(10,6)").as("ct"),
          rN(sin($"ang"), 6).cast("decimal(10,6)").as("st"))
      val s = t.groupBy($"p").agg(
        count(lit(1)).as("n_days"), sum($"n").as("sx"),
        sum($"n" * $"ct").as("snc"), sum($"n" * $"st").as("sns"),
        sum($"ct").as("sc"), sum($"st").as("ss"))
      val xbar = $"sx".cast("double") / $"n_days".cast("double")
      val cc = $"snc".cast("double") - xbar * $"sc".cast("double")
      val csn = $"sns".cast("double") - xbar * $"ss".cast("double")
      val pw = s.select($"p",
        rN(lit(2.0) * (cc * cc + csn * csn) / $"n_days".cast("double"), 6)
          .cast(dec6).as("pw"))
      val w = Window.partitionBy()
      val q = pw
        .withColumn("tot", sum($"pw").over(w))
        .withColumn("mx", max($"pw").over(w))
        .withColumn("q", $"pw".cast("double") / $"tot".cast("double"))
      q.agg(
          count(lit(1)).cast("int").as("n_periods"),
          r6(max($"tot").cast("double")).as("total_power"),
          min(when($"pw" === $"mx", $"p")).cast("int").as("peak_period"),
          r6(sum(when($"q" > 0, rN(-$"q" * log($"q"), 12))
            .otherwise(lit(0.0)).cast(dec12)).cast("double") /
            log(lit(13.0))).as("spec_entropy"))
    },
    Some {
      val pwExpr = {
        val xbar = "(cast(sx as double) / cast(n_days as double))"
        val cc = s"(cast(snc as double) - $xbar * cast(sc as double))"
        val cs = s"(cast(sns as double) - $xbar * cast(ss as double))"
        s"cast(2.0 as double) * ($cc * $cc + $cs * $cs) / " +
          "cast(n_days as double)"
      }
      s"""
      WITH $dailyCte,
      d0 AS (SELECT min(day) AS d0 FROM daily),
      t AS (
        SELECT p, n,
               cast(${rNSql("cos(cast(6.283185307179586 as double) * " +
                 "cast((date_diff('day', d0, day)) % p as double) / " +
                 "cast(p as double))", 6)} as decimal(10,6)) AS ct,
               cast(${rNSql("sin(cast(6.283185307179586 as double) * " +
                 "cast((date_diff('day', d0, day)) % p as double) / " +
                 "cast(p as double))", 6)} as decimal(10,6)) AS st
        FROM daily CROSS JOIN d0
        CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p) ps),
      s AS (
        SELECT p, cast(count(*) as bigint) AS n_days,
               cast(sum(n) as bigint) AS sx,
               sum(n * ct) AS snc, sum(n * st) AS sns,
               sum(ct) AS sc, sum(st) AS ss
        FROM t GROUP BY p),
      pw AS (
        SELECT p, cast(${rNSql(pwExpr, 6)} as decimal(30,6)) AS pw
        FROM s),
      qq AS (
        SELECT p, pw, sum(pw) OVER () AS tot, max(pw) OVER () AS mx,
               cast(pw as double) / cast(sum(pw) OVER () as double) AS q
        FROM pw)
      SELECT cast(count(*) as int) AS n_periods,
             ${r6Sql("cast(max(tot) as double)")} AS total_power,
             cast(min(CASE WHEN pw = mx THEN p END) as int)
               AS peak_period,
             ${r6Sql("cast(sum(cast(CASE WHEN q > 0 THEN " +
               rNSql("-q * ln(q)", 12) +
               " ELSE cast(0.0 as double) END as decimal(30,12))) " +
               "as double) / ln(cast(13.0 as double))")} AS spec_entropy
      FROM qq"""
    },
  )

  /** BREUSCH–PAGAN TEST for heteroscedastic trend residuals — does the
    * VARIANCE of the daily-revenue shocks grow with time? (the
    * level-vs-time companion to q_arch_lm's shock-vs-lagged-shock
    * clustering; both invalidate homoscedastic OLS inference). Auxiliary
    * regression of the squared residual on t, LM = n·R². Numerics: e in
    * MEGA-dollars keeps v = e² at O(1); v is rounded ONCE per row at 9 dp
    * and decimal-cast, after which every moment (Σv, Σtv, Σv²) is EXACT
    * decimal×integer accumulation — order-free with no double-sum staging
    * at all (the q_periodogram pattern applied to residuals). Fit rides
    * the same 1-row broadcast as q_dw. */
  val qBreuschPagan: GQuery = GQuery(
    "q_breusch_pagan",
    (spark, dir) => {
      import spark.implicits._
      val dec9 = org.apache.spark.sql.types.DecimalType(12, 9)
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("x"))
      val mom = daily.agg(count(lit(1)).as("n"), min($"day").as("d0"))
      val tx = daily.crossJoin(broadcast(mom))
        .select($"n", datediff($"day", $"d0").cast("long").as("t"), $"x")
      val m = tx.groupBy($"n").agg(
        sum($"t").as("st"), sum($"x").as("sx"),
        sum($"t" * $"t").as("stt"), sum($"t" * $"x").as("stx"))
      val nD = $"n".cast("double")
      val b = (nD * $"stx".cast("double") -
        $"st".cast("double") * $"sx".cast("double")) /
        (nD * $"stt".cast("double") -
          $"st".cast("double") * $"st".cast("double"))
      val fit = m.select($"n".as("nn"), b.as("b"),
        (($"sx".cast("double") - b * $"st".cast("double")) / nD).as("a"))
      val e6 = ($"x".cast("double") - $"a" - $"b" * $"t".cast("double")) /
        lit(1.0e6)
      val v = tx.crossJoin(broadcast(fit))
        .select($"t", rN(e6 * e6, 9).cast(dec9).as("v"))
      val s = v.agg(count(lit(1)).as("n"), sum($"t").as("st"),
        sum($"t" * $"t").as("stt"), sum($"v").as("sv"),
        sum($"v" * $"t").as("stv"), sum($"v" * $"v").as("svv"))
      val n2 = $"n".cast("double")
      val cxy = n2 * $"stv".cast("double") -
        $"st".cast("double") * $"sv".cast("double")
      val cxx = n2 * $"stt".cast("double") -
        $"st".cast("double") * $"st".cast("double")
      val cyy = n2 * $"svv".cast("double") -
        $"sv".cast("double") * $"sv".cast("double")
      val r2 = cxy * cxy / (cxx * cyy)
      s.select($"n".as("n_days"), r6(cxy / cxx).as("slope"),
        r6(r2).as("r2"), r6(n2 * r2).as("lm_stat"),
        (n2 * r2 > lit(3.841)).cast("int").as("het_flag"))
    },
    Some {
      val b = "((cast(n as double) * cast(stx as double) - " +
        "cast(st as double) * cast(sx as double)) / " +
        "(cast(n as double) * cast(stt as double) - " +
        "cast(st as double) * cast(st as double)))"
      val cxy = "(cast(n as double) * cast(stv as double) - " +
        "cast(st as double) * cast(sv as double))"
      val cxx = "(cast(n as double) * cast(stt as double) - " +
        "cast(st as double) * cast(st as double))"
      val cyy = "(cast(n as double) * cast(svv as double) - " +
        "cast(sv as double) * cast(sv as double))"
      val r2 = s"($cxy * $cxy / ($cxx * $cyy))"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(sum(cast(floor(o_totalprice + cast(0.5 as double))
                 as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      mom AS (SELECT cast(count(*) as bigint) AS n, min(day) AS d0
              FROM daily),
      tx AS (
        SELECT n, cast(date_diff('day', d0, day) as bigint) AS t, x
        FROM daily CROSS JOIN mom),
      m AS (
        SELECT n, cast(sum(t) as bigint) AS st,
               cast(sum(x) as bigint) AS sx,
               cast(sum(t * t) as bigint) AS stt,
               cast(sum(t * x) as bigint) AS stx
        FROM tx GROUP BY n),
      fit AS (
        SELECT n AS nn, $b AS b,
               (cast(sx as double) - $b * cast(st as double)) /
                 cast(n as double) AS a
        FROM m),
      v AS (
        SELECT t,
               cast(${rNSql("((cast(x as double) - a - b * " +
                 "cast(t as double)) / cast(1.0e6 as double)) * " +
                 "((cast(x as double) - a - b * cast(t as double)) / " +
                 "cast(1.0e6 as double))", 9)} as decimal(12,9)) AS v
        FROM tx CROSS JOIN fit),
      s AS (
        SELECT cast(count(*) as bigint) AS n, cast(sum(t) as bigint) AS st,
               cast(sum(t * t) as bigint) AS stt, sum(v) AS sv,
               sum(v * t) AS stv, sum(v * v) AS svv
        FROM v)
      SELECT n AS n_days, ${r6Sql(s"$cxy / $cxx")} AS slope,
             ${r6Sql(r2)} AS r2,
             ${r6Sql(s"cast(n as double) * $r2")} AS lm_stat,
             cast(cast(n as double) * $r2 > cast(3.841 as double) as int)
               AS het_flag
      FROM s"""
    },
  )

  /** COOK'S DISTANCE TOP-10 — which individual days most INFLUENCE the
    * fitted revenue trend? (the per-observation companion to the global
    * diagnostics above: a holiday spike that bends the whole slope shows
    * up here first). D_t = e_t²·h_t / (2·s²·(1−h_t)²) with leverage
    * h_t = 1/n + (t−t̄)²/Sxx — entirely CLOSED-FORM per row off one
    * broadcast moment row (fit + Sxx + s², all from exact int64 moments;
    * dollar x² sums stay under 2⁶³ at the tested SFs): no sums of
    * doubles anywhere, so nothing needs staging. The top-10 boundary is
    * pinned by ordering on the 6-dp ROUNDED statistic with the day as
    * tiebreak (the LIMIT-boundary contract). */
  val qCooksTop: GQuery = GQuery(
    "q_cooks_top",
    (spark, dir) => {
      import spark.implicits._
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" + lit(0.5)).cast("long")).as("x"))
      val mom = daily.agg(count(lit(1)).as("n"), min($"day").as("d0"))
      val tx = daily.crossJoin(broadcast(mom))
        .select($"n", datediff($"day", $"d0").cast("long").as("t"), $"x",
          $"day")
      val m = tx.groupBy($"n").agg(
        sum($"t").as("st"), sum($"x").as("sx"),
        sum($"t" * $"t").as("stt"), sum($"t" * $"x").as("stx"),
        sum($"x" * $"x").as("sxx"))
      val nD = $"n".cast("double")
      val cxx = nD * $"stt".cast("double") -
        $"st".cast("double") * $"st".cast("double")
      val cxy = nD * $"stx".cast("double") -
        $"st".cast("double") * $"sx".cast("double")
      val cyy = nD * $"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double")
      val bb = cxy / cxx
      val fit = m.select($"n".as("nn"), bb.as("b"),
        (($"sx".cast("double") - bb * $"st".cast("double")) / nD).as("a"),
        ($"st".cast("double") / nD).as("tbar"),
        (cxx / nD).as("sxx_c"),
        (((cyy - cxy * cxy / cxx) / nD) /
          (nD - lit(2.0))).as("s2"))
      val e = $"x".cast("double") - $"a" - $"b" * $"t".cast("double")
      val h = lit(1.0) / $"nn".cast("double") +
        ($"t".cast("double") - $"tbar") * ($"t".cast("double") - $"tbar") /
          $"sxx_c"
      val dcol = e * e * h /
        (lit(2.0) * $"s2" * (lit(1.0) - h) * (lit(1.0) - h))
      tx.crossJoin(broadcast(fit))
        .select($"day", $"t".cast("int").as("t"), r6(e).as("resid"),
          r6(h).as("leverage"), r6(dcol).as("cooks_d"))
        .orderBy($"cooks_d".desc, $"day")
        .limit(10)
    },
    Some {
      val cxx = "(cast(n as double) * cast(stt as double) - " +
        "cast(st as double) * cast(st as double))"
      val cxy = "(cast(n as double) * cast(stx as double) - " +
        "cast(st as double) * cast(sx as double))"
      val cyy = "(cast(n as double) * cast(sxx as double) - " +
        "cast(sx as double) * cast(sx as double))"
      val b = s"($cxy / $cxx)"
      s"""
      WITH daily AS (
        SELECT cast(o_orderdate as date) AS day,
               cast(sum(cast(floor(o_totalprice + cast(0.5 as double))
                 as bigint)) as bigint) AS x
        FROM orders GROUP BY 1),
      mom AS (SELECT cast(count(*) as bigint) AS n, min(day) AS d0
              FROM daily),
      tx AS (
        SELECT n, cast(date_diff('day', d0, day) as bigint) AS t, x, day
        FROM daily CROSS JOIN mom),
      m AS (
        SELECT n, cast(sum(t) as bigint) AS st,
               cast(sum(x) as bigint) AS sx,
               cast(sum(t * t) as bigint) AS stt,
               cast(sum(t * x) as bigint) AS stx,
               cast(sum(x * x) as bigint) AS sxx
        FROM tx GROUP BY n),
      fit AS (
        SELECT n AS nn, $b AS b,
               (cast(sx as double) - $b * cast(st as double)) /
                 cast(n as double) AS a,
               cast(st as double) / cast(n as double) AS tbar,
               $cxx / cast(n as double) AS sxx_c,
               ((($cyy - $cxy * $cxy / $cxx) / cast(n as double)) /
                 (cast(n as double) - cast(2.0 as double))) AS s2
        FROM m),
      d AS (
        SELECT day, cast(t as int) AS t,
               (cast(x as double) - a - b * cast(t as double)) AS e,
               (cast(1.0 as double) / cast(nn as double) +
                 (cast(t as double) - tbar) * (cast(t as double) - tbar) /
                 sxx_c) AS h,
               s2
        FROM tx CROSS JOIN fit)
      SELECT day, t, ${r6Sql("e")} AS resid, ${r6Sql("h")} AS leverage,
             ${r6Sql("e * e * h / (cast(2.0 as double) * s2 * " +
               "(cast(1.0 as double) - h) * (cast(1.0 as double) - h))")}
               AS cooks_d
      FROM d
      ORDER BY cooks_d DESC, day
      LIMIT 10"""
    },
  )

  val all: Seq[GQuery] = Seq(
    qAutocorr, qRollingCorr, qChangepoint, qConvertTime, qChurn,
    qTrend, qSax, qBacktestSnaive, qWowGrowth, qHolt, qPacf,
    qChangepointKeyed, qPeaks, qHurst, qRsi, qMkTrend, qLjungBox,
    qCroston, qGapAnalysis, qTheilSen, qGumbel, qYuleWalker, qSeasonalMk,
    qHoltWinters, qVarianceRatio, qPettitt, qAdf, qKpss, qPoissonDisp,
    qPeriodogram, qSortino, qCoint, qDw, qChow, qArchLm, qSpectralEntropy,
    qBreuschPagan, qCooksTop)
}
