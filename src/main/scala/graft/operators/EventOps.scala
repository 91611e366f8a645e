package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Tables}
import graft.engine.GQuery._

/** Event-stream / CDC analytics (SURVEY.md §2.B extension, round 4
  * continued): ordered-sequence conversion funnels, retention cohorts,
  * SCD2 validity-interval compaction, and batch MERGE (upsert+delete)
  * application. These are the product-analytics and warehouse-maintenance
  * passes a lakehouse runs daily; each is one or two map-side-combinable
  * shuffles on the natural key (user/customer), so partitioning holds
  * unchanged at 1000 executors.
  */
object EventOps {

  /** Ordered conversion funnel view → click → purchase: a user counts for
    * stage N only with an event AFTER their stage N-1 entry time. Each
    * stage is a per-user min-aggregation (partial+final combinable) joined
    * to the previous stage's per-user row — the joined sides are already
    * one-row-per-user, i.e. pre-aggregated BEFORE the shuffle, so the join
    * cost is bounded by |users|, not |events|, at any scale. Timestamps
    * are compared at the second-truncated granularity both engines share
    * (engine/Tables.scala ns note). */
  val qFunnel: GQuery = GQuery(
    "q_funnel",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
      val s1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val s2 = ev.filter($"event_type" === "click").join(s1, "user_id")
        .filter($"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"))
      val s3 = ev.filter($"event_type" === "purchase").join(s2, "user_id")
        .filter($"ts" > $"t2")
        .groupBy($"user_id").agg(min($"ts").as("t3"))
      s1.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), $"n_users")
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), $"n_users"))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), $"n_users"))
        .orderBy($"stage")
    },
    Some("""
      WITH ev AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts
                  FROM events),
      s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT ev.user_id, min(ts) AS t2 FROM ev JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND ts > t1 GROUP BY ev.user_id),
      s3 AS (SELECT ev.user_id, min(ts) AS t3 FROM ev JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND ts > t2 GROUP BY ev.user_id)
      SELECT stage, n_users FROM (
        SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_click', count(*) FROM s2
        UNION ALL SELECT '3_purchase', count(*) FROM s3) u
      ORDER BY stage"""),
  )

  /** Weekly retention cohorts: users grouped by the week of their FIRST
    * event, activity counted as distinct users per (cohort_week, week
    * offset). Two combinable aggregations (per-user first-ts, then the
    * cohort matrix over per-user-per-day distinct activity); the join that
    * attaches the cohort label is per-user-row vs per-user-day-row — both
    * sides pre-aggregated, so the shuffle carries |users|·|active days|,
    * never raw events. Output is |weeks|², independent of scale. */
  val qCohort: GQuery = GQuery(
    "q_cohort",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", to_date(date_trunc("week", $"ts")).as("week"))
      val firstWeek = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
      val active = ev.distinct()
      active.join(firstWeek, "user_id")
        .groupBy($"cohort_week",
          (datediff($"week", $"cohort_week") / 7).cast("int").as("week_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""
      WITH ev AS (SELECT user_id, cast(date_trunc('week', ts) as date) AS week
                  FROM events),
      fw AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
      active AS (SELECT DISTINCT user_id, week FROM ev)
      SELECT cohort_week,
             cast(date_diff('day', cohort_week, week) / 7 as int) AS week_offset,
             count(DISTINCT user_id) AS n_users
      FROM active JOIN fw USING (user_id)
      GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset"""),
  )

  /** SCD2 compaction: collapse the per-customer order-status event stream
    * into validity intervals — keep only CHANGE rows (status differs from
    * the previous status in (date, orderkey) order), each valid from its
    * own date until the next change (open intervals end 9999-12-31). Two
    * window passes over ONE hash-partitioning by customer (Catalyst reuses
    * the sort), so the whole dimension build is a single shuffle of the
    * fact — the standard warehouse pattern for building type-2 dims from
    * CDC feeds. */
  val qScd2: GQuery = GQuery(
    "q_scd2",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val changes = Tables.orders(spark, dir)
        .select($"o_custkey", $"o_orderkey",
          to_date($"o_orderdate").as("o_orderdate"), $"o_orderstatus")
        .withColumn("prev_status", lag($"o_orderstatus", 1).over(w))
        .filter($"prev_status".isNull || $"prev_status" =!= $"o_orderstatus")
      val w2 = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      changes
        .select($"o_custkey", $"o_orderstatus".as("status"),
          $"o_orderdate".as("valid_from"), $"o_orderkey",
          coalesce(lead($"o_orderdate", 1).over(w2), lit("9999-12-31").cast("date"))
            .as("valid_to"))
        .drop($"o_orderkey")
        .orderBy($"o_custkey", $"valid_from", $"status")
    },
    Some("""
      WITH ordered AS (
        SELECT o_custkey, o_orderkey, cast(o_orderdate as date) AS o_orderdate,
               o_orderstatus,
               lag(o_orderstatus, 1) OVER (PARTITION BY o_custkey
                 ORDER BY cast(o_orderdate as date), o_orderkey) AS prev_status
        FROM orders),
      changes AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
        FROM ordered
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
      SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
             coalesce(lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey), date '9999-12-31') AS valid_to
      FROM changes
      ORDER BY o_custkey, valid_from, status"""),
  )

  /** Batch MERGE (the lakehouse upsert): apply a CDC change set of
    * updates / deletes / inserts to the customer dimension in one full
    * outer join on the key. The change set is derived deterministically
    * from the base (key mod rules) so both engines construct the same
    * feed; precedence D > U is a single CASE so exactly one op per key.
    * One shuffle on the merge key; at scale the change side is the small
    * one and AQE broadcasts it — MERGE cost is a scan of the base, which
    * is the floor for any engine. */
  val qMergeCdc: GQuery = GQuery(
    "q_merge_cdc",
    (spark, dir) => {
      import spark.implicits._
      val base = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal".cast("double").as("c_acctbal"))
      val changes = base
        .withColumn("op",
          when($"c_custkey" % 7 === 3, "D")
            .when($"c_custkey" % 10 === 0, "U")
            .when($"c_custkey" % 13 === 1, "I"))
        .filter($"op".isNotNull)
        .select(
          when($"op" === "I", $"c_custkey" + 1000000L).otherwise($"c_custkey")
            .as("c_custkey"),
          $"op",
          when($"op" === "U", r2($"c_acctbal" + 100.0))
            .when($"op" === "I", lit(0.0))
            .as("new_acctbal"),
          $"c_mktsegment".as("new_seg"))
      base.join(changes, Seq("c_custkey"), "full_outer")
        .filter($"op".isNull || $"op" =!= "D")
        .select($"c_custkey",
          coalesce($"new_seg", $"c_mktsegment").as("segment"),
          when($"op".isNotNull, $"new_acctbal").otherwise(r2($"c_acctbal"))
            .as("acctbal"),
          coalesce($"op", lit("K")).as("op"))
        .orderBy($"c_custkey")
    },
    Some(s"""
      WITH base AS (SELECT c_custkey, c_mktsegment,
                           cast(c_acctbal as double) AS c_acctbal
                    FROM customer),
      tagged AS (
        SELECT *, CASE WHEN c_custkey % 7 = 3 THEN 'D'
                       WHEN c_custkey % 10 = 0 THEN 'U'
                       WHEN c_custkey % 13 = 1 THEN 'I' END AS op
        FROM base),
      changes AS (
        SELECT CASE WHEN op = 'I' THEN c_custkey + 1000000 ELSE c_custkey END
                 AS c_custkey,
               op,
               CASE WHEN op = 'U' THEN ${r2Sql("c_acctbal + 100.0")}
                    WHEN op = 'I' THEN 0.0 END AS new_acctbal,
               c_mktsegment AS new_seg
        FROM tagged WHERE op IS NOT NULL)
      SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
             coalesce(c.new_seg, b.c_mktsegment) AS segment,
             CASE WHEN c.op IS NOT NULL THEN c.new_acctbal
                  ELSE ${r2Sql("b.c_acctbal")} END AS acctbal,
             coalesce(c.op, 'K') AS op
      FROM base b FULL OUTER JOIN changes c USING (c_custkey)
      WHERE c.op IS NULL OR c.op <> 'D'
      ORDER BY c_custkey"""),
  )

  /** Snapshot DIFF — the inverse of [[qMergeCdc]]: given two snapshots of
    * the customer dimension, derive the change set (the CDC feed a
    * lakehouse table's change-data-feed view emits): rows only in the
    * old snapshot → D, only in the new → I, in both with any tracked
    * column differing → U with the changed-column list (deterministic
    * fixed order). Unchanged rows produce NOTHING — the changeset is
    * |changes|-sized, which is what makes log-shipping a 100 TB table
    * feasible. ONE full outer join on the key (one shuffle each side);
    * column comparison is null-safe (<=>). The new snapshot is derived
    * from the old by key-mod rules so both engines construct identical
    * inputs; both sides' doubles come from the same source column with
    * the same IEEE ops, so equality is bit-safe. */
  val qSnapshotDiff: GQuery = GQuery(
    "q_snapshot_diff",
    (spark, dir) => {
      import spark.implicits._
      val a = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment".as("seg"),
          r2($"c_acctbal".cast("double")).as("bal"))
      val b = a
        .filter($"c_custkey" % 11 =!= 4) // deletes
        .select($"c_custkey",
          when($"c_custkey" % 17 === 5, lit("SHIFTED")).otherwise($"seg")
            .as("seg"),
          when($"c_custkey" % 9 === 2, r2($"bal" + 50.0)).otherwise($"bal")
            .as("bal"))
        .unionByName(
          a.filter($"c_custkey" % 19 === 6) // inserts
            .select(($"c_custkey" + 700000L).as("c_custkey"), $"seg",
              $"bal"))
      val j = a.select($"c_custkey".as("k_a"), $"seg".as("seg_a"),
          $"bal".as("bal_a"))
        .join(b.select($"c_custkey".as("k_b"), $"seg".as("seg_b"),
          $"bal".as("bal_b")), $"k_a" === $"k_b", "full_outer")
      j.select(
          coalesce($"k_a", $"k_b").as("c_custkey"),
          when($"k_b".isNull, "D").when($"k_a".isNull, "I")
            .otherwise("U").as("op"),
          $"seg_a".as("old_seg"), $"seg_b".as("new_seg"),
          $"bal_a".as("old_bal"), $"bal_b".as("new_bal"),
          concat_ws(",",
            when(!($"seg_a" <=> $"seg_b"), lit("seg")),
            when(!($"bal_a" <=> $"bal_b"), lit("bal"))).as("changed_cols"))
        .filter($"op" =!= "U" || $"changed_cols" =!= "")
        .orderBy($"c_custkey")
    },
    Some(s"""
      WITH a AS (SELECT c_custkey, c_mktsegment AS seg,
                        ${r2Sql("cast(c_acctbal as double)")} AS bal
                 FROM customer),
      b AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 17 = 5 THEN 'SHIFTED' ELSE seg END
                 AS seg,
               CASE WHEN c_custkey % 9 = 2 THEN ${r2Sql("bal + 50.0")}
                    ELSE bal END AS bal
        FROM a WHERE c_custkey % 11 <> 4
        UNION ALL
        SELECT c_custkey + 700000, seg, bal FROM a
        WHERE c_custkey % 19 = 6),
      j AS (
        SELECT a.c_custkey AS k_a, a.seg AS seg_a, a.bal AS bal_a,
               b.c_custkey AS k_b, b.seg AS seg_b, b.bal AS bal_b
        FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey)
      SELECT c_custkey, op, old_seg, new_seg, old_bal, new_bal,
             changed_cols
      FROM (
        SELECT coalesce(k_a, k_b) AS c_custkey,
               CASE WHEN k_b IS NULL THEN 'D'
                    WHEN k_a IS NULL THEN 'I' ELSE 'U' END AS op,
               seg_a AS old_seg, seg_b AS new_seg,
               bal_a AS old_bal, bal_b AS new_bal,
               concat_ws(',',
                 CASE WHEN seg_a IS DISTINCT FROM seg_b THEN 'seg' END,
                 CASE WHEN bal_a IS DISTINCT FROM bal_b THEN 'bal' END)
                 AS changed_cols
        FROM j) d
      WHERE op <> 'U' OR changed_cols <> ''
      ORDER BY c_custkey"""),
  )

  /** Behavioral transition matrix — the Markov view of the event stream:
    * for each (previous event type → current event type) step within a
    * user's timeline, the count and the row-normalized transition
    * probability. ONE lag window per user (the q_sessionize
    * partitioning) feeds one combinable pair count; the normalization
    * denominator is a window sum over the TINY |types|² matrix, not a
    * second pass over events. Probabilities are exact integer ratios
    * finished with one IEEE division, so both engines hash-match without
    * decimal staging. The ordering key is the second-truncated ts +
    * event_id total order (the q_seq_match tiebreak contract). */
  val qTransitions: GQuery = GQuery(
    "q_transitions",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val steps = Tables.events(spark, dir)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
      val m = steps.groupBy($"prev_type", $"event_type")
        .agg(count(lit(1)).as("n"))
      val wRow = Window.partitionBy($"prev_type")
      m.select($"prev_type", $"event_type", $"n",
          r6($"n".cast("double") / sum($"n").over(wRow).cast("double"))
            .as("p"))
        .orderBy($"prev_type", $"event_type")
    },
    Some(s"""
      WITH steps AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY date_trunc('second', ts), event_id) AS prev_type
        FROM events),
      m AS (
        SELECT prev_type, event_type, count(*) AS n
        FROM steps WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
      SELECT prev_type, event_type, n,
             ${r6Sql("cast(n as double) / cast(sum(n) OVER " +
               "(PARTITION BY prev_type) as double)")} AS p
      FROM m
      ORDER BY prev_type, event_type"""),
  )

  /** Period-over-period rank movement — the leaderboard "movers" view:
    * each month's customer revenue rank compared against the SAME
    * customer's rank in the previous month (lag over the customer's own
    * month sequence — no self-join on the period axis), with the delta
    * and a gained/dropped/steady/new classification. Ranks are computed
    * per month over decimal-exact revenue (ties broken by custkey, the
    * §5.2 total-order rule) and cast to int in both engines. Two window
    * partitionings — (month) for the rank, (customer) for the lag —
    * over one monthly aggregate whose size is |customers|·|months|,
    * already reduced from the fact table by a combinable sum. Output is
    * bounded to rank <= 15 per month AFTER the movement columns are
    * attached (the filter cannot disturb the lag). */
  val qRankDelta: GQuery = GQuery(
    "q_rankdelta",
    (spark, dir) => {
      import spark.implicits._
      val monthly = Tables.orders(spark, dir)
        .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"),
          $"o_custkey")
        .agg(dsum($"o_totalprice").as("revenue"))
      val wRank = Window.partitionBy($"month")
        .orderBy($"revenue".desc, $"o_custkey")
      val wLag = Window.partitionBy($"o_custkey").orderBy($"month")
      monthly
        .withColumn("rnk", row_number().over(wRank).cast("int"))
        .withColumn("prev_rnk", lag($"rnk", 1).over(wLag))
        .select($"month", $"o_custkey", $"revenue", $"rnk",
          $"prev_rnk".cast("int").as("prev_rnk"),
          when($"prev_rnk".isNull, "new")
            .when($"prev_rnk" > $"rnk", "up")
            .when($"prev_rnk" < $"rnk", "down")
            .otherwise("steady").as("movement"))
        .filter($"rnk" <= 15)
        .orderBy($"month", $"rnk")
    },
    Some(s"""
      WITH monthly AS (
        SELECT cast(date_trunc('month', o_orderdate) as date) AS month,
               o_custkey, ${dsumSql("o_totalprice")} AS revenue
        FROM orders GROUP BY month, o_custkey),
      ranked AS (
        SELECT month, o_custkey, revenue,
               cast(row_number() OVER (PARTITION BY month
                 ORDER BY revenue DESC, o_custkey) as int) AS rnk
        FROM monthly),
      moved AS (
        SELECT month, o_custkey, revenue, rnk,
               cast(lag(rnk, 1) OVER (PARTITION BY o_custkey
                 ORDER BY month) as int) AS prev_rnk
        FROM ranked)
      SELECT month, o_custkey, revenue, rnk, prev_rnk,
             CASE WHEN prev_rnk IS NULL THEN 'new'
                  WHEN prev_rnk > rnk THEN 'up'
                  WHEN prev_rnk < rnk THEN 'down'
                  ELSE 'steady' END AS movement
      FROM moved
      WHERE rnk <= 15
      ORDER BY month, rnk"""),
  )

  /** Daily percentile bands per event type — the SLO dashboard query
    * (p50/p95/p99 of the event value per day and type, plus count and
    * max): one combinable-input groupBy whose output is |days|·|types|
    * rows regardless of event volume. Exact interpolated percentiles via
    * the verified `percentile` ≡ `quantile_cont` idiom (q_percentile);
    * at 100 TB the same plan swaps GK sketches in unchanged (GkSwapSpec
    * contract). l_quantity-style value column is a plain double both
    * engines read identically; `round(…, 6)` on percentile outputs is
    * the q_percentile contract (interpolation of identical doubles is
    * bit-identical). */
  val qSloBands: GQuery = GQuery(
    "q_slo_bands",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          max($"value").as("max_value"))
        .orderBy($"day", $"event_type")
    },
    Some("""
      SELECT cast(date_trunc('day', ts) as date) AS day, event_type,
             count(*) AS n,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.95), 6) AS p95,
             round(quantile_cont(value, 0.99), 6) AS p99,
             max(value) AS max_value
      FROM events
      GROUP BY day, event_type
      ORDER BY day, event_type"""),
  )

  /** Interval concurrency by SWEEP-LINE — how many orders are open on
    * each calendar day (occupancy/utilization analytics): every interval
    * emits a +1 at its start and a −1 after its end, deltas are summed
    * per day (combinable), and one running-sum window over the DAY AXIS
    * — thousands of rows however big the fact table — yields the
    * concurrency curve. The naive day-spine × interval join materializes
    * |days|·|open intervals| rows; the sweep is linear in |intervals|
    * and its window input is |distinct days|. Interval length is derived
    * deterministically from the key (o_orderkey % 30 days, no close date
    * in this schema); output restricted to days with activity (the
    * delta-carrying days), ordered by day. */
  val qConcurrency: GQuery = GQuery(
    "q_concurrency",
    (spark, dir) => {
      import spark.implicits._
      val ord = Tables.orders(spark, dir)
        .select(to_date($"o_orderdate").as("d0"),
          ($"o_orderkey" % 30).cast("int").as("len"))
      val deltas = ord.select($"d0".as("day"), lit(1L).as("delta"))
        .unionByName(ord.select(date_add($"d0", $"len" + 1).as("day"),
          lit(-1L).as("delta")))
      val daily = deltas.groupBy($"day").agg(sum($"delta").as("net"))
      val w = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .select($"day", sum($"net").over(w).cast("long").as("open_orders"))
        .orderBy($"day")
    },
    Some("""
      WITH ord AS (
        SELECT cast(o_orderdate as date) AS d0,
               cast(o_orderkey % 30 as int) AS len
        FROM orders),
      deltas AS (
        SELECT d0 AS day, 1 AS delta FROM ord
        UNION ALL
        SELECT d0 + to_days(len + 1) AS day, -1 AS delta FROM ord),
      daily AS (SELECT day, sum(delta) AS net FROM deltas GROUP BY day)
      SELECT day,
             cast(sum(net) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
               AS open_orders
      FROM daily
      ORDER BY day"""),
  )

  /** Longest consecutive-day activity streak per user — gaps-and-islands
    * on the DATE axis (q_sessionize is the TIME-gap variant; this is the
    * calendar variant behind "N-day streak" engagement metrics). The
    * island key is day − row_number, constant within a run of consecutive
    * days. Everything after the per-user-day distinct is tiny; one
    * partitioning by user serves the window and both aggregations. */
  val qStreak: GQuery = GQuery(
    "q_streak",
    (spark, dir) => {
      import spark.implicits._
      val active = Tables.events(spark, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      active
        .withColumn("grp", date_sub($"day", row_number().over(w)))
        .groupBy($"user_id", $"grp").agg(count(lit(1)).as("run_len"))
        .groupBy($"user_id")
        .agg(sum($"run_len").as("n_active_days"), max($"run_len").as("longest_streak"))
        .orderBy($"user_id")
    },
    Some("""
      WITH active AS (SELECT DISTINCT user_id, cast(ts as date) AS day
                      FROM events),
      runs AS (
        SELECT user_id,
               day - cast(row_number() OVER (PARTITION BY user_id
                 ORDER BY day) as int) AS grp
        FROM active)
      SELECT user_id, cast(sum(run_len) as bigint) AS n_active_days,
             cast(max(run_len) as bigint) AS longest_streak
      FROM (SELECT user_id, grp, count(*) AS run_len
            FROM runs GROUP BY user_id, grp) r
      GROUP BY user_id ORDER BY user_id"""),
  )

  /** Ordered sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's
    * TRAILING-256-event history becomes a compact initial-letter string in
    * (ts, event_id) order — event types here have unique initials — and
    * the funnel pattern view→…→click→…→purchase is one codegen'd regex per
    * user. Per-user state is BOUNDED by construction: a window rank keeps
    * only the newest 256 events per user BEFORE the collect, so one
    * pathological user at 100× SF costs 256 rows, never their whole
    * history (the unbounded collect was round-4/5's flagged scale-killer).
    * `n_events` still counts the user's FULL history (window count over
    * the unfiltered partition — same shuffle, no extra pass).
    *
    * Determinism: both engines rank and sort by the SAME total key
    * (second-truncated ts, unique event_id) — Spark's `ts` is already
    * second-truncated by [[Tables.events]], and the oracle applies
    * date_trunc('second', …) explicitly rather than relying on raw-ns
    * order coinciding with event_id order. */
  val qSeqMatch: GQuery = GQuery(
    "q_seq_match",
    (spark, dir) => {
      import spark.implicits._
      // ONE WindowExec pass: the full-history count rides the same
      // (partition, order) spec as the trailing-N rank with an explicit
      // whole-partition frame, so Spark evaluates both in a single sort
      val byUserDesc = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      val ranked = Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id",
          substring($"event_type", 1, 1).as("ini"))
        .withColumn("cnt", count(lit(1)).over(byUserDesc
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("rk", row_number().over(byUserDesc))
        .filter($"rk" <= 256)
      val seqs = ranked
        .groupBy($"user_id")
        .agg(
          max($"cnt").as("n_events"),
          array_join(
            expr("transform(array_sort(collect_list(struct(ts, event_id, ini)))," +
              " s -> s.ini)"), "").as("seq"))
      seqs
        .select($"user_id", $"n_events",
          $"seq".rlike("v.*c.*p").cast("int").as("matched"))
        .groupBy($"matched")
        .agg(count(lit(1)).as("n_users"), davg($"n_events", 6).as("avg_events"))
        .orderBy($"matched")
    },
    Some(s"""
      WITH ranked AS (
        SELECT user_id, date_trunc('second', ts) AS tss, event_id,
               substr(event_type, 1, 1) AS ini,
               count(*) OVER (PARTITION BY user_id) AS cnt,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rk
        FROM events),
      seqs AS (
        SELECT user_id, cast(max(cnt) as bigint) AS n_events,
               string_agg(ini, '' ORDER BY tss, event_id) AS seq
        FROM ranked WHERE rk <= 256 GROUP BY user_id)
      SELECT cast(regexp_matches(seq, 'v.*c.*p') as int) AS matched,
             count(*) AS n_users,
             ${davgSql("n_events", 6)} AS avg_events
      FROM seqs GROUP BY matched ORDER BY matched"""),
  )

  /** Point-in-time (AS OF) join against the SCD2 dimension — the lookup
    * every temporal warehouse join needs: each lineitem finds the status
    * interval of ITS customer that was valid on ITS ship date
    * (valid_from ≤ d < valid_to), i.e. "what was the customer's state
    * when this happened", not "what is it now". The interval dim is
    * q_scd2's build; the PIT join is an EQUI-join on the customer key
    * with the interval predicate as a post-join filter — Catalyst keeps
    * it a hash/sort-merge join on the key (never a nested loop), and
    * intervals per key are few, so the pre-filter fan-out is bounded.
    * Ship dates can't precede the customer's first interval (goods ship
    * after the order), so the inner join is lossless by construction. */
  val qJoinPit: GQuery = GQuery(
    "q_join_pit",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val changes = Tables.orders(spark, dir)
        .select($"o_custkey", $"o_orderkey",
          to_date($"o_orderdate").as("o_orderdate"), $"o_orderstatus")
        .withColumn("prev_status", lag($"o_orderstatus", 1).over(w))
        .filter($"prev_status".isNull || $"prev_status" =!= $"o_orderstatus")
      val dim = changes
        .select($"o_custkey", $"o_orderstatus".as("status"),
          $"o_orderdate".as("valid_from"), $"o_orderkey",
          coalesce(lead($"o_orderdate", 1).over(w), lit("9999-12-31").cast("date"))
            .as("valid_to"))
        .drop($"o_orderkey")
      val facts = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey", to_date($"l_shipdate").as("ship_date"),
          ($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      facts.join(dim,
        facts("o_custkey") === dim("o_custkey") &&
          $"valid_from" <= $"ship_date" && $"ship_date" < $"valid_to")
        .groupBy($"status")
        .agg(count(lit(1)).as("n_items"), dsum($"rev").as("revenue"))
        .orderBy($"status")
    },
    Some(s"""
      WITH ordered AS (
        SELECT o_custkey, o_orderkey, cast(o_orderdate as date) AS o_orderdate,
               o_orderstatus,
               lag(o_orderstatus, 1) OVER (PARTITION BY o_custkey
                 ORDER BY cast(o_orderdate as date), o_orderkey) AS prev_status
        FROM orders),
      changes AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
        FROM ordered
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
      dim AS (
        SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
               coalesce(lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey), date '9999-12-31') AS valid_to
        FROM changes),
      facts AS (
        SELECT o.o_custkey, cast(l.l_shipdate as date) AS ship_date,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      SELECT status, count(*) AS n_items, ${dsumSql("rev")} AS revenue
      FROM facts f JOIN dim d
        ON f.o_custkey = d.o_custkey
           AND d.valid_from <= f.ship_date AND f.ship_date < d.valid_to
      GROUP BY status
      ORDER BY status"""),
  )

  /** Linear multi-touch attribution: every purchase splits one unit of
    * credit equally across the SAME user's view/click touches in the 7
    * days before it, and the report totals credit per touch channel —
    * the marketing-attribution pass (q_join_asof is its last-touch
    * cousin; this one needs ALL prior touches, not the latest). The
    * touch⋈purchase join is an equi-join on user_id with the 7-day
    * interval as a post-join filter (hash/SMJ, never nested loop); fan-out
    * is bounded by touches-per-user-per-week. The per-purchase touch
    * count comes from ONE window over the joined rows (partitioned by
    * purchase — no second join back), and per-touch credits are
    * IEEE-rounded rationals summed in exact decimal. */
  val qAttribution: GQuery = GQuery(
    "q_attribution",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
      val touches = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("t_user"), $"event_type".as("channel"), $"ts".as("t_ts"))
      val joined = purchases.join(touches,
        $"p_user" === $"t_user" &&
          $"t_ts" <= $"p_ts" &&
          $"t_ts" > $"p_ts" - expr("INTERVAL 7 DAYS"))
      val w = Window.partitionBy($"p_id")
      joined
        .withColumn("n_touch", count(lit(1)).over(w))
        .select($"channel", rN(lit(1.0) / $"n_touch".cast("double"), 6).as("credit"))
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_touches"), dsum($"credit", 6).as("total_credit"))
        .orderBy($"channel")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, event_type,
                         date_trunc('second', ts) AS ts FROM events),
      p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
            FROM ev WHERE event_type = 'purchase'),
      t AS (SELECT user_id AS t_user, event_type AS channel, ts AS t_ts
            FROM ev WHERE event_type IN ('view', 'click')),
      joined AS (
        SELECT p_id, channel,
               count(*) OVER (PARTITION BY p_id) AS n_touch
        FROM p JOIN t
          ON p_user = t_user AND t_ts <= p_ts
             AND t_ts > p_ts - INTERVAL 7 DAY)
      SELECT channel, count(*) AS n_touches,
             ${dsumSql(rNSql("cast(1.0 as double) / cast(n_touch as double)", 6), 6)}
               AS total_credit
      FROM joined
      GROUP BY channel
      ORDER BY channel"""),
  )

  /** TIME-DECAY multi-touch attribution — q_attribution's recency-
    * weighted sibling: each view/click touch in the 7 days before a
    * purchase earns weight 1/2^Δdays (halving per full day of age),
    * normalized per purchase so every conversion still distributes ONE
    * unit of credit. The weights are DYADIC RATIONALS (1 << Δdays is
    * integer arithmetic, Δdays ≤ 6), so per-purchase weight sums are
    * EXACT in double regardless of summation order — no decimal
    * staging needed until the final per-channel credit sum (dsum). The
    * join is the same user_id equi-join + interval conjunct as
    * q_attribution; the per-purchase normalizer is one partitioned
    * window over the joined rows. */
  val qAttributionDecay: GQuery = GQuery(
    "q_attribution_decay",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
      val touches = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("t_user"), $"event_type".as("channel"),
          $"ts".as("t_ts"))
      val joined = purchases.join(touches,
        $"p_user" === $"t_user" &&
          $"t_ts" <= $"p_ts" &&
          $"t_ts" > $"p_ts" - expr("INTERVAL 7 DAYS"))
        .withColumn("dd", expr(
          "(unix_timestamp(p_ts) - unix_timestamp(t_ts)) div 86400"))
        .withColumn("wt",
          lit(1.0) / expr("shiftleft(1L, cast(dd as int))").cast("double"))
      val w = Window.partitionBy($"p_id")
      joined
        .withColumn("wsum", sum($"wt").over(w))
        .select($"channel", rN($"wt" / $"wsum", 6).as("credit"))
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_touches"), dsum($"credit", 6).as("total_credit"))
        .orderBy($"channel")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, event_type,
                         date_trunc('second', ts) AS ts FROM events),
      p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
            FROM ev WHERE event_type = 'purchase'),
      t AS (SELECT user_id AS t_user, event_type AS channel, ts AS t_ts
            FROM ev WHERE event_type IN ('view', 'click')),
      joined AS (
        SELECT p_id, channel,
               cast(1.0 as double) / cast(
                 (1::BIGINT << ((cast(epoch(p_ts) as bigint) -
                   cast(epoch(t_ts) as bigint)) // 86400)) as double) AS wt
        FROM p JOIN t
          ON p_user = t_user AND t_ts <= p_ts
             AND t_ts > p_ts - INTERVAL 7 DAY),
      n AS (
        SELECT channel, wt,
               sum(wt) OVER (PARTITION BY p_id) AS wsum
        FROM joined)
      SELECT channel, count(*) AS n_touches,
             ${dsumSql(rNSql("wt / wsum", 6), 6)} AS total_credit
      FROM n
      GROUP BY channel
      ORDER BY channel"""),
  )

  /** Inter-arrival time analysis — the point-process view of the event
    * stream (engagement cadence, anomaly baselines, queue-theory inputs):
    * per-user gaps between consecutive events from ONE lag window, then
    * count / mean / max / median gap per event type of the later event.
    * One shuffle by user for the window, one combinable agg (the exact
    * median swaps for the GK sketch at 100 TB unchanged — GkSwapSpec's
    * contract). Gaps are integer seconds (ts is second-truncated on both
    * engines) so only the mean needs the decimal-sum contract. */
  val qInterarrival: GQuery = GQuery(
    "q_interarrival",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(spark, dir)
        .select($"user_id", $"event_id", $"event_type", $"ts")
        .withColumn("gap",
          $"ts".cast("long") - lag($"ts".cast("long"), 1).over(w))
        .filter($"gap".isNotNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_gaps"),
          davg($"gap", 6).as("mean_gap_s"),
          max($"gap").as("max_gap_s"),
          expr("percentile(gap, 0.5)").as("median_gap_s"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch(date_trunc('second', ts))::BIGINT AS tse
        FROM events),
      g AS (
        SELECT event_type,
               tse - lag(tse) OVER (PARTITION BY user_id
                 ORDER BY tse, event_id) AS gap
        FROM ev)
      SELECT event_type, count(*) AS n_gaps,
             ${davgSql("gap", 6)} AS mean_gap_s,
             max(gap) AS max_gap_s,
             quantile_cont(gap, 0.5) AS median_gap_s
      FROM g WHERE gap IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""),
  )

  /** TOP SESSION JOURNEYS — the behavioral-path report product teams
    * actually read: sessionize (30-min gap, the q_sessionize contract),
    * concatenate each session's event types IN ORDER into a path
    * string, and rank the 15 most common journeys. The in-order
    * concatenation is the deterministic-collect idiom:
    * sort_array(collect_list(struct(ts, event_id, type))) — struct
    * field order IS the sort key, so shuffle arrival order can never
    * reorder a path (bare collect_list is nondeterministic); DuckDB's
    * twin is string_agg(... ORDER BY ts, event_id). Path cardinality
    * is bounded by session count; the heavy groupBy keys on
    * (user, session) and combines map-side. */
  val qPathTop: GQuery = GQuery(
    "q_path_top",
    (spark, dir) => {
      import spark.implicits._
      val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sess = Tables.events(spark, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum($"new_session").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy($"user_id", $"session_id")
        .agg(array_join(expr(
          "transform(sort_array(collect_list(" +
            "struct(ts, event_id, event_type))), x -> x.event_type)"),
          ">").as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy($"n_sessions".desc, $"path")
        .limit(15)
    },
    Some("""
      WITH sess AS (
        SELECT user_id, event_id, ts, event_type,
          cast(sum(new_session) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
            AS session_id
        FROM (
          SELECT user_id, event_id, ts, event_type,
            CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, event_id, event_type,
              date_trunc('second', ts) AS ts,
              lag(date_trunc('second', ts), 1) OVER (
                PARTITION BY user_id
                ORDER BY date_trunc('second', ts), event_id) AS prev_ts
            FROM events) a) b),
      paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY user_id, session_id)
      SELECT path, count(*) AS n_sessions
      FROM paths GROUP BY path
      ORDER BY n_sessions DESC, path LIMIT 15"""),
  )

  /** EVENT BURST COLLAPSE — the ingest-dedup operator for double-fires
    * and retry storms: per (user, event type), events within 5 s of the
    * PREVIOUS event chain into one burst (lag + gap-flag + running sum,
    * the q_sessionize machinery at a 5-second gap), and the report
    * shows the per-type collapse factor a kept-first dedup would
    * achieve. Burst chaining (each event compared to its predecessor,
    * not the burst head) is deliberate — it is what a streaming
    * keep-latest gate sees, and it never needs the burst extent in
    * state. Second-resolution gaps compare the truncated ts both
    * engines share; ties within a second chain via (ts, event_id)
    * order regardless. */
  val qEventCollapse: GQuery = GQuery(
    "q_event_collapse",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      Tables.events(spark, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("new_burst",
          when($"prev_ts".isNull ||
            unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 5, 1L)
            .otherwise(0L))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum($"new_burst").as("n_bursts"))
        .select($"event_type", $"n_events", $"n_bursts",
          r6($"n_events".cast("double") / $"n_bursts".cast("double"))
            .as("events_per_burst"))
        .orderBy($"event_type")
    },
    Some("""
      WITH b AS (
        SELECT event_type,
          CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 5
               THEN 1 ELSE 0 END AS new_burst
        FROM (
          SELECT event_type, date_trunc('second', ts) AS ts,
            lag(date_trunc('second', ts), 1) OVER (
              PARTITION BY user_id, event_type
              ORDER BY date_trunc('second', ts), event_id) AS prev_ts
          FROM events) a)
      SELECT event_type, count(*) AS n_events,
             cast(sum(new_burst) as bigint) AS n_bursts,
             floor((cast(count(*) as double) /
               cast(sum(new_burst) as double)) * 1e6 + 0.5) / 1e6
               AS events_per_burst
      FROM b GROUP BY event_type ORDER BY event_type"""),
  )

  /** BURSTINESS INDEX per event type — Goh–Barabási B = (σ−μ)/(σ+μ)
    * over the interarrival gaps, the single number separating Poisson
    * traffic (B≈0) from bursty retry storms (B→1) and clockwork
    * heartbeats (B→−1). Gaps are INTEGER seconds (second-truncated ts
    * lag per type), so the moment sums n/Σg/Σg² are exact int64 (gap ≤
    * 2.6e6 s over the 30-day span → Σg² ≤ ~1e13 per type) and σ, μ, B
    * are one fixed-shape IEEE expression. One window pass + one
    * combinable groupBy. */
  val qBurstiness: GQuery = GQuery(
    "q_burstiness",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
      val gaps = Tables.events(spark, dir)
        .withColumn("gap",
          unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
        .filter($"gap".isNotNull)
      val m = gaps.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"gap").as("s"),
          sum($"gap" * $"gap").as("q"))
      val d = (c: String) => col(c).cast("double")
      val mu = d("s") / d("n")
      val sd = sqrt((d("q") - d("s") * d("s") / d("n")) / (d("n") - lit(1.0)))
      m.select($"event_type", $"n".cast("int").as("n_gaps"),
          r6(mu).as("mean_gap_s"),
          r6(sd / mu).as("cv"),
          r6((sd - mu) / (sd + mu)).as("burstiness"))
        .orderBy($"event_type")
    },
    Some(s"""
      WITH gaps AS (
        SELECT event_type,
               epoch(ts) - epoch(prev_ts) AS gap
        FROM (
          SELECT event_type, date_trunc('second', ts) AS ts,
            lag(date_trunc('second', ts), 1) OVER (
              PARTITION BY event_type
              ORDER BY date_trunc('second', ts), event_id) AS prev_ts
          FROM events) a
        WHERE prev_ts IS NOT NULL),
      m AS (
        SELECT event_type, cast(count(*) as bigint) AS n,
               cast(sum(gap) as bigint) AS s,
               cast(sum(gap * gap) as bigint) AS q
        FROM gaps GROUP BY event_type),
      e AS (
        SELECT event_type, n,
               cast(s as double) / cast(n as double) AS mu,
               sqrt((cast(q as double) - cast(s as double) *
                 cast(s as double) / cast(n as double)) /
                 (cast(n as double) - 1.0)) AS sd
        FROM m)
      SELECT event_type, cast(n as int) AS n_gaps,
             ${r6Sql("mu")} AS mean_gap_s,
             ${r6Sql("sd / mu")} AS cv,
             ${r6Sql("(sd - mu) / (sd + mu)")} AS burstiness
      FROM e ORDER BY event_type"""),
  )

  /** NEW vs RETURNING daily actives — the growth-accounting split every
    * product dashboard leads with: per day, how many active users saw
    * their FIRST-EVER event that day vs came back. The (user, day)
    * activity table collapses first (combinable distinct); each user's
    * first day is one min-groupBy; the split is an equi-join of two
    * \|users\|-bounded tables — never a self-join of raw events. At
    * 100 TB the firsts table is the incrementally-maintained user
    * dimension and only the day's partition joins it. */
  val qNewVsReturning: GQuery = GQuery(
    "q_new_vs_returning",
    (spark, dir) => {
      import spark.implicits._
      val ud = Tables.events(spark, dir)
        .select($"user_id", to_date($"ts").as("day"))
        .distinct()
      val firsts = ud.groupBy($"user_id").agg(min($"day").as("first_day"))
      ud.join(broadcast(firsts), "user_id")
        .groupBy($"day")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"))
        .select($"day", $"n_active", $"n_new",
          ($"n_active" - $"n_new").as("n_returning"),
          r6($"n_new".cast("double") / $"n_active".cast("double"))
            .as("new_share"))
        .orderBy($"day")
    },
    Some(s"""
      WITH ud AS (
        SELECT DISTINCT user_id,
               cast(date_trunc('day', ts) as date) AS day
        FROM events),
      firsts AS (
        SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id),
      j AS (
        SELECT day, count(*) AS n_active,
               cast(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                 as bigint) AS n_new
        FROM ud JOIN firsts USING (user_id)
        GROUP BY day)
      SELECT day, n_active, n_new,
             n_active - n_new AS n_returning,
             ${r6Sql("cast(n_new as double) / cast(n_active as double)")}
               AS new_share
      FROM j ORDER BY day"""),
  )

  /** PATH TRIGRAM MINING: the most frequent 3-step event sequences per
    * user journey — the n-gram ladder between q_transitions/q_markov
    * (bigrams) and q_path_top (whole journeys). Two lead() columns on
    * one per-user window frame turn each event into its own trigram
    * start (no explode, no self-join); the count groupBy is combinable.
    * Ordering carries the (ts_ticks, event_id) unique tiebreak (raw ts
    * + id on the oracle side — monotone-equivalent), so the sequence is
    * total and both engines mine identical trigrams. Support share is
    * against all complete trigrams. Top 15 with a total tiebreak. */
  val qPathNgrams: GQuery = GQuery(
    "q_path_ngrams",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_ticks", $"event_id")
      val tri = Tables.events(spark, dir)
        .select($"user_id", $"ts_ticks", $"event_id", $"event_type")
        .select($"user_id", $"event_type".as("e1"),
          lead($"event_type", 1).over(w).as("e2"),
          lead($"event_type", 2).over(w).as("e3"))
        .filter($"e2".isNotNull && $"e3".isNotNull)
      val wAll = Window.partitionBy()
      tri.groupBy($"e1", $"e2", $"e3")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"))
        .withColumn("support",
          r6($"n".cast("double") / sum($"n").over(wAll).cast("double")))
        .orderBy($"n".desc, $"e1", $"e2", $"e3")
        .limit(15)
    },
    Some(s"""
      WITH tri AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT e1, e2, e3, count(*) AS n,
               cast(count(DISTINCT user_id) as bigint) AS n_users
        FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY e1, e2, e3)
      SELECT e1, e2, e3, n, n_users,
             ${r6Sql("cast(n as double) / " +
               "cast(sum(n) OVER () as double)")} AS support
      FROM g
      ORDER BY n DESC, e1, e2, e3
      LIMIT 15"""),
  )

  /** GROWTH ACCOUNTING over daily active users: every day's actives
    * split into new / retained (active yesterday) / resurrected
    * (returning after a gap), plus churned (active yesterday, absent
    * today) — the canonical DAU decomposition (new + resurrected −
    * churned = net DAU change). One distinct (user, day) reduction of
    * the stream, one per-user lag/lead window over it, then two
    * combinable day-grain groupBys (statuses on the day itself, churn
    * attributed to the following day) stitched with an outer join on
    * the calendar-bounded day key. All counts are exact integers; the
    * day after the observation window is clipped. */
  val qGrowthAcct: GQuery = GQuery(
    "q_growth_acct",
    (spark, dir) => {
      import spark.implicits._
      val ud = Tables.events(spark, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      val flagged = ud
        .withColumn("prev", lag($"day", 1).over(w))
        .withColumn("next", lead($"day", 1).over(w))
      val statuses = flagged.groupBy($"day")
        .agg(
          sum(when($"prev".isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(datediff($"day", $"prev") === 1, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when($"prev".isNotNull && datediff($"day", $"prev") > 1, 1L)
            .otherwise(0L)).as("n_resurrected"))
        .withColumn("act", lit(1))
      val churn = flagged
        .filter($"next".isNull || datediff($"next", $"day") > 1)
        .groupBy(date_add($"day", 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      // last OBSERVED day from the joined day table itself (an active-day
      // marker + unpartitioned max over the calendar-bounded join — not a
      // third scan of events just for max(day); PlanAudit-measured)
      val wAll = Window.partitionBy()
      statuses.join(churn, Seq("day"), "full_outer")
        .withColumn("dmax", max(when($"act" === 1, $"day")).over(wAll))
        .filter($"day" <= $"dmax")
        .select($"day",
          coalesce($"n_new", lit(0L)).as("n_new"),
          coalesce($"n_retained", lit(0L)).as("n_retained"),
          coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
          coalesce($"n_churned", lit(0L)).as("n_churned"))
        .withColumn("net_change",
          $"n_new" + $"n_resurrected" - $"n_churned")
        .orderBy($"day")
    },
    Some(s"""
      WITH ud AS (
        SELECT DISTINCT user_id,
               cast(date_trunc('day', ts) as date) AS day
        FROM events),
      flagged AS (
        SELECT user_id, day,
               lag(day, 1) OVER w AS prev,
               lead(day, 1) OVER w AS next
        FROM ud
        WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      statuses AS (
        SELECT day,
               cast(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                 as bigint) AS n_new,
               cast(sum(CASE WHEN date_diff('day', prev, day) = 1
                 THEN 1 ELSE 0 END) as bigint) AS n_retained,
               cast(sum(CASE WHEN prev IS NOT NULL
                 AND date_diff('day', prev, day) > 1
                 THEN 1 ELSE 0 END) as bigint) AS n_resurrected,
               1 AS act
        FROM flagged GROUP BY day),
      churn AS (
        SELECT day + 1 AS day, cast(count(*) as bigint) AS n_churned
        FROM flagged
        WHERE next IS NULL OR date_diff('day', day, next) > 1
        GROUP BY day + 1),
      j AS (
        SELECT day, n_new, n_retained, n_resurrected, n_churned,
               max(CASE WHEN act = 1 THEN day END) OVER () AS dmax
        FROM statuses FULL JOIN churn USING (day))
      SELECT day,
             coalesce(n_new, 0) AS n_new,
             coalesce(n_retained, 0) AS n_retained,
             coalesce(n_resurrected, 0) AS n_resurrected,
             coalesce(n_churned, 0) AS n_churned,
             coalesce(n_new, 0) + coalesce(n_resurrected, 0) -
               coalesce(n_churned, 0) AS net_change
      FROM j
      WHERE day <= dmax
      ORDER BY day"""),
  )

  /** COHORT LTV CURVES: cumulative revenue per acquisition cohort by
    * account age — q_cohort's revenue twin (retention counts there,
    * lifetime value here). The fact collapses to exact integer cents
    * per (cohort month, age-in-months) in one pass (cohort = each
    * customer's first order month, a \|customers\|-bounded min-agg
    * joined back on the key); the cumulative ride and the per-user
    * normalization run over the ≤\|months\|² cohort grid. Month
    * arithmetic is integer (year·12+month) in BOTH engines — no
    * months_between float. */
  val qCohortLtv: GQuery = GQuery(
    "q_cohort_ltv",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select($"o_custkey",
          (year($"o_orderdate") * 12 + month($"o_orderdate")).as("m"),
          floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
            .as("cents"))
      val first = o.groupBy($"o_custkey").agg(min($"m").as("m0"))
      val grid = o.join(first, "o_custkey")
        .groupBy($"m0", ($"m" - $"m0").as("age"))
        .agg(sum($"cents").as("cents"),
          countDistinct($"o_custkey").as("n_active"))
      val size = first.groupBy($"m0").agg(count(lit(1)).as("n_cohort"))
      val w = Window.partitionBy($"m0").orderBy($"age")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(size, "m0")
        .withColumn("cum_cents", sum($"cents").over(w))
        .select(
          expr("(m0 - 1) div 12").cast("int").as("cohort_year"),
          (($"m0" - lit(1)) % lit(12) + lit(1)).cast("int").as("cohort_month"),
          $"age".cast("int").as("age_months"),
          $"n_cohort", $"n_active",
          r2($"cum_cents".cast("double") / lit(100.0)).as("cum_revenue"),
          r2($"cum_cents".cast("double") / lit(100.0) /
            $"n_cohort".cast("double")).as("ltv_per_user"))
        .orderBy($"cohort_year", $"cohort_month", $"age_months")
    },
    Some(s"""
      WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               cast(floor(o_totalprice * cast(100.0 as double) +
                 cast(0.5 as double)) as bigint) AS cents
        FROM orders),
      first AS (
        SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey),
      grid AS (
        SELECT m0, m - m0 AS age,
               cast(sum(cents) as bigint) AS cents,
               cast(count(DISTINCT o.o_custkey) as bigint) AS n_active
        FROM o JOIN first USING (o_custkey)
        GROUP BY m0, m - m0),
      sz AS (SELECT m0, count(*) AS n_cohort FROM first GROUP BY m0),
      cum AS (
        SELECT m0, age, n_active, n_cohort,
               cast(sum(cents) OVER (PARTITION BY m0 ORDER BY age
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 as bigint) AS cum_cents
        FROM grid JOIN sz USING (m0))
      SELECT cast((m0 - 1) // 12 as int) AS cohort_year,
             cast((m0 - 1) % 12 + 1 as int) AS cohort_month,
             cast(age as int) AS age_months,
             n_cohort, n_active,
             ${r2Sql("cast(cum_cents as double) / cast(100.0 as double)")}
               AS cum_revenue,
             ${r2Sql("cast(cum_cents as double) / cast(100.0 as double) / " +
               "cast(n_cohort as double)")} AS ltv_per_user
      FROM cum
      ORDER BY cohort_year, cohort_month, age_months"""),
  )

  /** TIME-BOXED FUNNEL — q_funnel with per-step conversion deadlines
    * (click within 1 h of first view, purchase within 24 h of that
    * click), the form product funnels are actually defined in. Same
    * scale shape as q_funnel (per-user min-aggregations chained by
    * |users|-bounded equi-joins; raw events never shuffle twice), all
    * on integer epoch seconds, plus the median step delay — exact
    * integer percentile (the q_convert_time contract). */
  val qFunnelWindow: GQuery = GQuery(
    "q_funnel_window",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", $"event_type", $"ts".cast("long").as("e"))
      val s1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"e").as("t1"))
      val s2 = ev.filter($"event_type" === "click").join(s1, "user_id")
        .filter($"e" > $"t1" && $"e" - $"t1" <= 3600L)
        .groupBy($"user_id").agg(min($"e").as("t2"), min($"t1").as("t1"))
      val s3 = ev.filter($"event_type" === "purchase").join(s2, "user_id")
        .filter($"e" > $"t2" && $"e" - $"t2" <= 86400L)
        .groupBy($"user_id").agg(min($"e").as("t3"), min($"t2").as("t2"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), $"n_users",
          lit(0.0).as("median_delay_s"))
        .unionByName(s2
          .select(($"t2" - $"t1").as("d"))
          .agg(count(lit(1)).as("n_users"),
            round(expr("percentile(d, 0.5)"), 6).as("median_delay_s"))
          .select(lit("2_click_1h").as("stage"), $"n_users",
            $"median_delay_s"))
        .unionByName(s3
          .select(($"t3" - $"t2").as("d"))
          .agg(count(lit(1)).as("n_users"),
            round(expr("percentile(d, 0.5)"), 6).as("median_delay_s"))
          .select(lit("3_purchase_24h").as("stage"), $"n_users",
            $"median_delay_s"))
        .orderBy($"stage")
    },
    Some("""
      WITH ev AS (SELECT user_id, event_type,
                         epoch(date_trunc('second', ts))::BIGINT AS e
                  FROM events),
      s1 AS (SELECT user_id, min(e) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT ev.user_id, min(e) AS t2, min(t1) AS t1
             FROM ev JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND e > t1 AND e - t1 <= 3600
             GROUP BY ev.user_id),
      s3 AS (SELECT ev.user_id, min(e) AS t3, min(t2) AS t2
             FROM ev JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND e > t2 AND e - t2 <= 86400
             GROUP BY ev.user_id)
      SELECT stage, n_users, median_delay_s FROM (
        SELECT '1_view' AS stage, count(*) AS n_users,
               cast(0.0 as double) AS median_delay_s FROM s1
        UNION ALL
        SELECT '2_click_1h', count(*),
               round(quantile_cont(t2 - t1, 0.5), 6) FROM s2
        UNION ALL
        SELECT '3_purchase_24h', count(*),
               round(quantile_cont(t3 - t2, 0.5), 6) FROM s3) u
      ORDER BY stage"""),
  )

  /** D1/D3/D7 RETENTION — the product headline metric, distinct from
    * q_cohort's weekly matrix: of users first seen on day d₀ (and whose
    * d₀+k still lies inside the observation window — the right-censor
    * guard), what share was active exactly on day d₀+k? The fact
    * collapses to distinct (user, day) FIRST (combinable, the q_churn
    * posture); the horizon explode is ×3 on the |users|-bounded first-day
    * table; the activity probe is an equi-join on (user, datediff = k).
    * Everything is integer until the final rate division. */
  val qRetention: GQuery = GQuery(
    "q_retention",
    (spark, dir) => {
      import spark.implicits._
      val ud = Tables.events(spark, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
        .localCheckpoint()
      val first = ud.groupBy($"user_id").agg(min($"day").as("d0"))
      val dmax = ud.agg(max($"day").as("dmax"))
      val probes = first.crossJoin(broadcast(dmax))
        .select($"user_id", $"d0",
          explode(array(lit(1), lit(3), lit(7))).as("k"))
        .filter(datediff($"dmax", $"d0") >= $"k")
      val hit = probes.join(
        ud.select($"user_id".as("u2"), $"day"),
        $"user_id" === $"u2" && datediff($"day", $"d0") === $"k",
        "left_outer")
      hit.groupBy($"k")
        .agg(count(lit(1)).as("n_eligible"),
          sum(when($"day".isNotNull, 1L).otherwise(0L)).as("n_retained"))
        .select($"k".as("horizon_days"), $"n_eligible", $"n_retained",
          r6($"n_retained".cast("double") / $"n_eligible".cast("double"))
            .as("retention"))
        .orderBy($"horizon_days")
    },
    Some(s"""
      WITH ud AS (
        SELECT DISTINCT user_id, cast(date_trunc('day', ts) as date) AS day
        FROM events),
      first AS (
        SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id),
      dmax AS (SELECT max(day) AS dmax FROM ud),
      probes AS (
        SELECT user_id, d0, k
        FROM first CROSS JOIN dmax
        CROSS JOIN (SELECT unnest([1, 3, 7]) AS k) ks
        WHERE date_diff('day', d0, dmax) >= k),
      hit AS (
        SELECT p.k, ud.day
        FROM probes p LEFT JOIN ud
          ON p.user_id = ud.user_id
          AND date_diff('day', p.d0, ud.day) = p.k)
      SELECT k AS horizon_days, count(*) AS n_eligible,
             cast(sum(CASE WHEN day IS NOT NULL THEN 1 ELSE 0 END)
               as bigint) AS n_retained,
             ${r6Sql("cast(sum(CASE WHEN day IS NOT NULL THEN 1 ELSE 0 " +
               "END) as double) / cast(count(*) as double)")} AS retention
      FROM hit GROUP BY k ORDER BY horizon_days"""),
  )

  /** POSITION-BASED (U-shaped, 40/40/20) ATTRIBUTION — the third
    * standard credit model beside q_attribution's linear split: first
    * and last touch in the 7-day pre-purchase window get 40% each, the
    * middle touches share 20%. Same bounded purchase×touch interval
    * join as q_attribution; position comes from one window ordered by
    * (ts, event_id) — the unique-id tiebreak makes the credit
    * assignment total-order deterministic even with same-second
    * touches. Credits are fixed IEEE ratios, decimal-staged per
    * channel. */
  val qAttributionPos: GQuery = GQuery(
    "q_attribution_pos",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_id"),
          $"ts".as("p_ts"))
      val touches = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("t_user"), $"event_type".as("channel"),
          $"ts".as("t_ts"), $"event_id".as("t_id"))
      val joined = purchases.join(touches,
        $"p_user" === $"t_user" &&
          $"t_ts" <= $"p_ts" &&
          $"t_ts" > $"p_ts" - expr("INTERVAL 7 DAYS"))
      val w = Window.partitionBy($"p_id")
      val wo = Window.partitionBy($"p_id").orderBy($"t_ts", $"t_id")
      val credit = joined
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wo))
        .withColumn("credit",
          when($"n" === 1, lit(1.0))
            .when($"n" === 2, lit(0.5))
            .when($"rn" === 1 || $"rn" === $"n", lit(0.4))
            .otherwise(rN(lit(0.2) / ($"n" - lit(2)).cast("double"), 6)))
      credit.groupBy($"channel")
        .agg(count(lit(1)).as("n_touches"),
          dsum($"credit", 6).as("total_credit"))
        .orderBy($"channel")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, event_type,
                         date_trunc('second', ts) AS ts FROM events),
      p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
            FROM ev WHERE event_type = 'purchase'),
      t AS (SELECT user_id AS t_user, event_type AS channel, ts AS t_ts,
                   event_id AS t_id
            FROM ev WHERE event_type IN ('view', 'click')),
      joined AS (
        SELECT p_id, channel,
               count(*) OVER (PARTITION BY p_id) AS n,
               row_number() OVER (PARTITION BY p_id
                 ORDER BY t_ts, t_id) AS rn
        FROM p JOIN t
          ON p_user = t_user AND t_ts <= p_ts
             AND t_ts > p_ts - INTERVAL 7 DAY),
      credit AS (
        SELECT channel,
               CASE WHEN n = 1 THEN cast(1.0 as double)
                    WHEN n = 2 THEN cast(0.5 as double)
                    WHEN rn = 1 OR rn = n THEN cast(0.4 as double)
                    ELSE ${rNSql("cast(0.2 as double) / " +
                      "cast(n - 2 as double)", 6)} END AS credit
        FROM joined)
      SELECT channel, count(*) AS n_touches,
             ${dsumSql("credit", 6)} AS total_credit
      FROM credit GROUP BY channel ORDER BY channel"""),
  )

  val all: Seq[GQuery] =
    Seq(qFunnel, qCohort, qScd2, qMergeCdc, qSnapshotDiff, qStreak, qTransitions, qRankDelta, qSloBands, qConcurrency,
      qSeqMatch, qJoinPit, qAttribution, qInterarrival, qPathTop,
      qEventCollapse, qBurstiness, qNewVsReturning, qPathNgrams,
      qGrowthAcct, qCohortLtv, qFunnelWindow, qRetention, qAttributionPos,
      qAttributionDecay)
}
