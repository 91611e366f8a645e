package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{GQuery, Parallel, Tables}
import graft.engine.GQuery._

/** Cross-table audit and entity-analytics queries (SURVEY.md §2.B
  * extension, round 4 continued): referential-integrity auditing, RFM
  * customer segmentation, cumulative-distinct growth curves, and per-doc
  * keyword extraction. Each avoids the global-sort/global-window trap:
  * quantile scoring uses exact-percentile AGGREGATES broadcast back onto
  * the entity table (never an ntile over a single unpartitioned window),
  * and the only unpartitioned window left is over the |days| spine.
  */
object Analytics {

  /** Referential-integrity audit over every FK edge of the star schema:
    * per edge, total child rows and orphan rows (child key with no parent).
    * Each edge is an independent left-anti join — dims broadcast, the
    * fact-fact edges shuffle on the key — followed by a single-row count,
    * so the whole audit is a union of 7 independent jobs Catalyst can
    * schedule concurrently. This is the data-quality gate a lakehouse runs
    * after every load; at 100 TB each edge remains one anti-join pass.
    */
  val qFkAudit: GQuery = GQuery(
    "q_fk_audit",
    (spark, dir) => {
      import spark.implicits._
      def edge(name: String, child: DataFrame, key: String,
               parent: DataFrame, pkey: String): DataFrame = {
        val total = child.agg(count(lit(1)).as("n_rows"))
        val orphans = child.select(col(key).as("k"))
          .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        total.crossJoin(orphans).select(lit(name).as("edge"), $"n_rows", $"n_orphans")
      }
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
      val cust = Tables.customer(spark, dir)
      val supp = Tables.supplier(spark, dir)
      val nat = Tables.nation(spark, dir)
      edge("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey")
        .unionByName(edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"))
        .unionByName(edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(spark, dir), "p_partkey"))
        .unionByName(edge("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"))
        .unionByName(edge("nation.n_regionkey->region", nat, "n_regionkey",
          Tables.region(spark, dir), "r_regionkey"))
        .unionByName(edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey"))
        .unionByName(edge("supplier.s_nationkey->nation", supp, "s_nationkey", nat, "n_nationkey"))
        .orderBy($"edge")
    },
    Some("""
      SELECT 'customer.c_nationkey->nation' AS edge,
             (SELECT count(*) FROM customer) AS n_rows,
             (SELECT count(*) FROM customer c WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'nation.n_regionkey->region',
             (SELECT count(*) FROM nation),
             (SELECT count(*) FROM nation n WHERE NOT EXISTS
               (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM supplier s WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
      ORDER BY edge"""),
  )

  /** RFM customer segmentation — the marketing-analytics workhorse.
    * Per-customer recency (days since last order, relative to the corpus
    * max date), frequency (order count), monetary (exact-decimal revenue
    * sum); each metric scored 1-4 by its own quartiles. The quartiles are
    * exact-percentile AGGREGATES over the (already one-row-per-customer)
    * metrics table, broadcast back as scalars — NOT an ntile over one
    * unpartitioned window, which would serialize |customers| rows through
    * a single task at scale. Breakpoints are IEEE-rounded (r6) on both
    * engines so the boundary comparisons agree bit-for-bit; at 100 TB the
    * exact percentile swaps for the GK sketch with the same contract.
    * Output is the 4x4x4 segment matrix — constant size at any scale.
    */
  val qRfm: GQuery = GQuery(
    "q_rfm",
    (spark, dir) => {
      import spark.implicits._
      val ord = Tables.orders(spark, dir)
        .select($"o_custkey", to_date($"o_orderdate").as("d"), $"o_totalprice")
      val maxD = ord.agg(max($"d").as("max_d"))
      val m = ord.crossJoin(broadcast(maxD))
        .groupBy($"o_custkey")
        .agg(
          min(datediff($"max_d", $"d")).as("recency"),
          count(lit(1)).as("frequency"),
          dsum($"o_totalprice").as("monetary"))
      val bp = m.agg(
        r6(expr("percentile(recency, 0.25)")).as("r25"),
        r6(expr("percentile(recency, 0.5)")).as("r50"),
        r6(expr("percentile(recency, 0.75)")).as("r75"),
        r6(expr("percentile(frequency, 0.25)")).as("f25"),
        r6(expr("percentile(frequency, 0.5)")).as("f50"),
        r6(expr("percentile(frequency, 0.75)")).as("f75"),
        r6(expr("percentile(monetary, 0.25)")).as("m25"),
        r6(expr("percentile(monetary, 0.5)")).as("m50"),
        r6(expr("percentile(monetary, 0.75)")).as("m75"))
      m.crossJoin(broadcast(bp))
        .select(
          // recency: lower is better -> invert so 4 = most recent
          (lit(4) - ($"recency" > $"r25").cast("int") - ($"recency" > $"r50").cast("int")
            - ($"recency" > $"r75").cast("int")).as("r_score"),
          (lit(1) + ($"frequency" > $"f25").cast("int") + ($"frequency" > $"f50").cast("int")
            + ($"frequency" > $"f75").cast("int")).as("f_score"),
          (lit(1) + ($"monetary" > $"m25").cast("int") + ($"monetary" > $"m50").cast("int")
            + ($"monetary" > $"m75").cast("int")).as("m_score"),
          $"monetary")
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_customers"), dsum($"monetary").as("revenue"))
        .orderBy($"r_score", $"f_score", $"m_score")
    },
    Some(s"""
      WITH o AS (SELECT o_custkey, cast(o_orderdate as date) AS d, o_totalprice
                 FROM orders),
      mx AS (SELECT max(d) AS max_d FROM o),
      m AS (SELECT o_custkey,
                   min(date_diff('day', d, max_d)) AS recency,
                   count(*) AS frequency,
                   ${dsumSql("o_totalprice")} AS monetary
            FROM o CROSS JOIN mx GROUP BY o_custkey),
      bp AS (SELECT
               ${rNSql("quantile_cont(recency, 0.25)", 6)} AS r25,
               ${rNSql("quantile_cont(recency, 0.5)", 6)} AS r50,
               ${rNSql("quantile_cont(recency, 0.75)", 6)} AS r75,
               ${rNSql("quantile_cont(frequency, 0.25)", 6)} AS f25,
               ${rNSql("quantile_cont(frequency, 0.5)", 6)} AS f50,
               ${rNSql("quantile_cont(frequency, 0.75)", 6)} AS f75,
               ${rNSql("quantile_cont(monetary, 0.25)", 6)} AS m25,
               ${rNSql("quantile_cont(monetary, 0.5)", 6)} AS m50,
               ${rNSql("quantile_cont(monetary, 0.75)", 6)} AS m75
             FROM m)
      SELECT 4 - cast(recency > r25 as int) - cast(recency > r50 as int)
               - cast(recency > r75 as int) AS r_score,
             1 + cast(frequency > f25 as int) + cast(frequency > f50 as int)
               + cast(frequency > f75 as int) AS f_score,
             1 + cast(monetary > m25 as int) + cast(monetary > m50 as int)
               + cast(monetary > m75 as int) AS m_score,
             count(*) AS n_customers,
             ${dsumSql("monetary")} AS revenue
      FROM m CROSS JOIN bp
      GROUP BY r_score, f_score, m_score
      ORDER BY r_score, f_score, m_score"""),
  )

  /** Cumulative distinct users over time — the growth curve every product
    * dashboard opens with. Naive COUNT(DISTINCT) over an expanding window
    * re-scans history per day; the scalable identity is: a user's FIRST
    * active day (one combinable min-agg) marks the +1, so cumulative
    * distinct = running sum of first-day counts. Daily actives come from
    * the same (user, day) dedup. The only unpartitioned window runs over
    * the |days| spine — a few thousand rows at any corpus size.
    */
  val qWinCumDistinct: GQuery = GQuery(
    "q_win_cumdistinct",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val newPerDay = ev.groupBy($"user_id").agg(min($"day").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("n_new"))
      val activePerDay = ev.groupBy($"day").agg(count(lit(1)).as("n_active"))
      val w = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      activePerDay.join(newPerDay, Seq("day"), "left")
        .select($"day", $"n_active", coalesce($"n_new", lit(0L)).as("n_new"))
        .withColumn("cum_users", sum($"n_new").over(w))
        .orderBy($"day")
    },
    Some("""
      WITH ev AS (SELECT DISTINCT user_id, cast(ts as date) AS day FROM events),
      fd AS (SELECT user_id, min(day) AS day FROM ev GROUP BY user_id),
      nw AS (SELECT day, count(*) AS n_new FROM fd GROUP BY day),
      ac AS (SELECT day, count(*) AS n_active FROM ev GROUP BY day)
      SELECT ac.day, n_active,
             coalesce(n_new, 0) AS n_new,
             cast(sum(coalesce(n_new, 0)) OVER
               (ORDER BY ac.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               as bigint) AS cum_users
      FROM ac LEFT JOIN nw USING (day)
      ORDER BY ac.day"""),
  )

  /** Per-document keyword extraction: top-3 terms by TF-IDF. Same corpus
    * statistics as q_tfidf (two combinable aggregations over the exploded
    * token stream), then a rank window PARTITIONED BY doc — parallelism
    * |docs|, never a global sort. Scores are IEEE-rounded BEFORE ranking
    * so near-tie ordering (and therefore the top-3 cut) is identical in
    * both engines; term is the unique tiebreak.
    */
  val qKeywords: GQuery = GQuery(
    "q_keywords",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val tokens = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val tf = tokens.groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
        .withColumn("doclen", sum($"cnt").over(Window.partitionBy($"doc_id")))
      val dfreq = tokens.distinct().groupBy($"term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select($"doc_id", $"term",
          r6(($"cnt".cast("double") / $"doclen") * log($"n_docs" / $"df")).as("tfidf"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
      scored.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk", $"term", $"tfidf")
        .orderBy($"doc_id", $"rk")
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS cnt,
               sum(count(*)) OVER (PARTITION BY doc_id) AS doclen
        FROM tokens GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
               floor(((cast(cnt as double) / doclen) * ln(n_docs / df)) * 1e6 + 0.5)
                 / 1e6 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term, tfidf,
               cast(row_number() OVER
                 (PARTITION BY doc_id ORDER BY tfidf DESC, term) as int) AS rk
        FROM scored)
      SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk"""),
  )

  /** Join-key skew profile — the diagnostic run BEFORE choosing a skew
    * mitigation (salting via Skew.saltedJoin, AQE skew-join, broadcast):
    * the 20 hottest lineitem order keys with their row share and their
    * multiple of the mean per-key load. One map-side-combinable count,
    * a TakeOrderedAndProject top-20 (no global sort), and two broadcast
    * scalars; at 100 TB this is exactly the pre-flight a pipeline runs to
    * decide whether the fact-fact join needs salting. */
  val qSkewProfile: GQuery = GQuery(
    "q_skew_profile",
    (spark, dir) => {
      import spark.implicits._
      val counts = Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(
        sum($"cnt").cast("double").as("total"),
        count(lit(1)).cast("double").as("n_keys"))
      counts.orderBy($"cnt".desc, $"l_orderkey").limit(20)
        .crossJoin(broadcast(tot))
        .select($"l_orderkey", $"cnt",
          r6($"cnt".cast("double") / $"total").as("share"),
          r6($"cnt".cast("double") * $"n_keys" / $"total").as("x_mean"))
        .orderBy($"cnt".desc, $"l_orderkey")
    },
    Some(s"""
      WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem
                 GROUP BY l_orderkey),
      t AS (SELECT cast(sum(cnt) as double) AS total,
                   cast(count(*) as double) AS n_keys FROM c)
      SELECT l_orderkey, cnt,
             ${r6Sql("cast(cnt as double) / total")} AS share,
             ${r6Sql("cast(cnt as double) * n_keys / total")} AS x_mean
      FROM c CROSS JOIN t
      ORDER BY cnt DESC, l_orderkey
      LIMIT 20"""),
  )

  /** Incremental rollup maintenance ON the oracle surface: the lineitem
    * rollup is built as three deterministic slices aggregated
    * independently ([[graft.operators.Upsert.aggState]]) and then
    * state-merged — exactly how a materialized view refreshes from daily
    * deltas without rescanning history. Because every state component
    * merges associatively (cnt/sum/min/max; sums in exact decimal), the
    * result must be BIT-IDENTICAL to the oracle's from-scratch GROUP BY
    * over the whole table — that identity IS the correctness contract of
    * incremental view maintenance, and the hash-match gate enforces it.
    * Derived avg is computed in the final view, never stored in state. */
  val qAggIncremental: GQuery = GQuery(
    "q_agg_incremental",
    (spark, dir) => {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir)
      def slice(i: Int) = li.filter(pmod($"l_linenumber", lit(3)) === i)
      def st(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Upsert.aggState(df, Seq("l_returnflag"),
          sumCols = Seq("l_quantity"), minMaxCols = Seq("l_extendedprice"))
      val merged = graft.operators.Upsert.mergeAggState(
        graft.operators.Upsert.mergeAggState(st(slice(0)), st(slice(1)),
          Seq("l_returnflag")),
        st(slice(2)), Seq("l_returnflag"))
      merged.select(
        $"l_returnflag", $"cnt",
        rN($"sum_l_quantity".cast("double"), 2).as("sum_qty"),
        $"min_l_extendedprice".as("min_price"),
        $"max_l_extendedprice".as("max_price"),
        rN($"sum_l_quantity".cast("double") / $"cnt", 6).as("avg_qty"))
        .orderBy($"l_returnflag")
    },
    Some(s"""
      SELECT l_returnflag, count(*) AS cnt,
             ${rNSql("cast(sum(cast(l_quantity as decimal(30,6))) as double)", 2)}
               AS sum_qty,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price,
             ${rNSql(
               "cast(sum(cast(l_quantity as decimal(30,6))) as double) / count(*)", 6)}
               AS avg_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
  )

  /** Two-sample A/B comparison (Welch's t) of purchase value between two
    * deterministically-hashed user buckets — the experiment-analysis
    * pass, with the assignment itself reproducible on any partitioning
    * (multiplicative md5 bucket, the q_split idiom — never a stored
    * assignment table to join). ONE combinable scan computes both arms'
    * moments via FILTERed aggregates; the t statistic is driver-side
    * arithmetic on six scalars. The cross-engine float contract: per-row
    * values and squares are IEEE-rounded to 6dp then fixed to LONG
    * micro-units, so every aggregate is an exact integer sum and the
    * mean/variance/t arithmetic runs on bit-identical doubles in both
    * engines — no decimal-cast rounding-mode hazard anywhere. */
  val qAbtest: GQuery = GQuery(
    "q_abtest",
    (spark, dir) => {
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .filter($"event_type" === "purchase")
        .select($"user_id", $"value")
        .withColumn("variant",
          (conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
            .cast("long") % 2).cast("int"))
        .withColumn("v_u", floor($"value" * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("vv_u",
          floor(rN($"value" * $"value", 6) * lit(1e6) + lit(0.5)).cast("long"))
      val agg = ev.agg(
        count(when($"variant" === 0, 1)).as("n_a"),
        count(when($"variant" === 1, 1)).as("n_b"),
        sum(when($"variant" === 0, $"v_u")).as("s1a"),
        sum(when($"variant" === 1, $"v_u")).as("s1b"),
        sum(when($"variant" === 0, $"vv_u")).as("s2a"),
        sum(when($"variant" === 1, $"vv_u")).as("s2b"))
      val mean = (s1: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
        (s1.cast("double") / lit(1e6)) / n.cast("double")
      val variance = (s1: org.apache.spark.sql.Column, s2: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column) =>
        ((s2.cast("double") / lit(1e6)) -
          (s1.cast("double") / lit(1e6)) * (s1.cast("double") / lit(1e6)) /
            n.cast("double")) / (n.cast("double") - lit(1.0))
      agg.select(
        $"n_a", $"n_b",
        rN(mean($"s1a", $"n_a"), 6).as("mean_a"),
        rN(mean($"s1b", $"n_b"), 6).as("mean_b"),
        rN(variance($"s1a", $"s2a", $"n_a"), 6).as("var_a"),
        rN(variance($"s1b", $"s2b", $"n_b"), 6).as("var_b"),
        rN((mean($"s1b", $"n_b") - mean($"s1a", $"n_a")) /
          sqrt(variance($"s1b", $"s2b", $"n_b") / $"n_b".cast("double") +
            variance($"s1a", $"s2a", $"n_a") / $"n_a".cast("double")), 6)
          .as("t_welch"))
    },
    Some {
      val meanA = "(cast(s1a as double) / 1e6) / cast(n_a as double)"
      val meanB = "(cast(s1b as double) / 1e6) / cast(n_b as double)"
      def varSql(s1: String, s2: String, n: String): String =
        s"((cast($s2 as double) / 1e6) - " +
          s"(cast($s1 as double) / 1e6) * (cast($s1 as double) / 1e6) / " +
          s"cast($n as double)) / (cast($n as double) - cast(1.0 as double))"
      val varA = varSql("s1a", "s2a", "n_a")
      val varB = varSql("s1b", "s2b", "n_b")
      s"""
      WITH ev AS (
        SELECT cast(('0x' || substr(md5(cast(user_id as varchar)), 1, 8))::BIGINT
                 % 2 as int) AS variant,
               cast(floor(value * 1e6 + 0.5) as bigint) AS v_u,
               cast(floor((${rNSql("value * value", 6)}) * 1e6 + 0.5) as bigint)
                 AS vv_u
        FROM events WHERE event_type = 'purchase'),
      a AS (
        SELECT count(*) FILTER (WHERE variant = 0) AS n_a,
               count(*) FILTER (WHERE variant = 1) AS n_b,
               sum(v_u) FILTER (WHERE variant = 0) AS s1a,
               sum(v_u) FILTER (WHERE variant = 1) AS s1b,
               sum(vv_u) FILTER (WHERE variant = 0) AS s2a,
               sum(vv_u) FILTER (WHERE variant = 1) AS s2b
        FROM ev)
      SELECT n_a, n_b,
             ${rNSql(meanA, 6)} AS mean_a,
             ${rNSql(meanB, 6)} AS mean_b,
             ${rNSql(varA, 6)} AS var_a,
             ${rNSql(varB, 6)} AS var_b,
             ${rNSql(s"(($meanB) - ($meanA)) / " +
               s"sqrt(($varB) / cast(n_b as double) + ($varA) / cast(n_a as double))",
               6)} AS t_welch
      FROM a"""
    },
  )

  /** Per-brand skyline (Pareto frontier) of parts minimizing
    * (retail price, size) — "no other part of the brand is both cheaper
    * and smaller". The naive formulation is a quadratic NOT EXISTS
    * self-join; this is the sort-based linear form: a per-(brand, price)
    * min collapses price ties, one ROWS-framed running min over the
    * per-brand price spine gives the best size among STRICTLY cheaper
    * parts, and a part is on the frontier iff it achieves its price
    * group's min and beats the running min. Both windows partition by
    * brand, so parallelism is |brands| and no unpartitioned window ever
    * forms — the per-entity skyline shape that survives scale-up (a
    * GLOBAL skyline would instead range-partition the price axis and
    * fix up partition boundaries with the same running min). Pure
    * integer/double comparisons — no rounding contract needed. */
  val qSkyline: GQuery = GQuery(
    "q_skyline",
    (spark, dir) => {
      import spark.implicits._
      val parts = Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand", $"p_retailprice", $"p_size")
      val gmin = parts.groupBy($"p_brand", $"p_retailprice")
        .agg(min($"p_size").as("gmin"))
      val spine = gmin.withColumn("rsm",
        min($"gmin").over(Window.partitionBy($"p_brand")
          .orderBy($"p_retailprice")
          .rowsBetween(Window.unboundedPreceding, -1)))
      parts.join(spine, Seq("p_brand", "p_retailprice"))
        .filter($"p_size" === $"gmin" && ($"rsm".isNull || $"p_size" < $"rsm"))
        .select($"p_brand", $"p_partkey", $"p_retailprice", $"p_size")
        .orderBy($"p_brand", $"p_retailprice", $"p_partkey")
    },
    Some("""
      WITH gmin AS (
        SELECT p_brand, p_retailprice, min(p_size) AS gmin
        FROM part GROUP BY p_brand, p_retailprice),
      spine AS (
        SELECT p_brand, p_retailprice, gmin,
               min(gmin) OVER (PARTITION BY p_brand ORDER BY p_retailprice
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rsm
        FROM gmin)
      SELECT p.p_brand, p_partkey, p.p_retailprice, p_size
      FROM part p
      JOIN spine s ON p.p_brand = s.p_brand
                   AND p.p_retailprice = s.p_retailprice
      WHERE p_size = gmin AND (rsm IS NULL OR p_size < rsm)
      ORDER BY p.p_brand, p.p_retailprice, p_partkey"""),
  )

  /** Market-basket co-occurrence: the 20 part pairs most often bought in
    * the SAME order, with their lift against independence — the
    * association-rule / recommender primitive. Pairs are
    * `CoPurchase.orderPairs` over all lineitems: one row per order and
    * pair (bounded by lines-per-order, ≤ ~7 here), linear in lineitems,
    * never a part×part cross product. Per-part
    * support is a second combinable count; lift = N·c(a,b)/(c(a)c(b)) is
    * pure IEEE arithmetic over exact integers, rounded at 6dp. Distinct
    * parts per order so multi-line quantities don't double-count. */
  val qCopurchase: GQuery = GQuery(
    "q_copurchase",
    (spark, dir) => {
      import spark.implicits._
      val op = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey").distinct()
      val pairs = CoPurchase.orderPairs(Tables.lineitem(spark, dir))
        .groupBy($"pa".as("p1"), $"pb".as("p2"))
        .agg(count(lit(1)).as("n_both"))
      val supp = op.groupBy($"l_partkey").agg(count(lit(1)).as("n"))
      val tot = op.agg(countDistinct($"l_orderkey").as("n_orders"))
      pairs
        .join(supp.select($"l_partkey".as("p1"), $"n".as("n1")), "p1")
        .join(supp.select($"l_partkey".as("p2"), $"n".as("n2")), "p2")
        .crossJoin(broadcast(tot))
        .select($"p1", $"p2", $"n_both", $"n1", $"n2",
          r6($"n_orders".cast("double") * $"n_both".cast("double") /
            ($"n1".cast("double") * $"n2".cast("double"))).as("lift"))
        .orderBy($"n_both".desc, $"p1", $"p2")
        .limit(20)
    },
    Some(s"""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (
        SELECT pa AS p1, pb AS p2, count(*) AS n_both
        FROM (${CoPurchase.orderPairsSql("op")}) cp
        GROUP BY p1, p2),
      supp AS (SELECT l_partkey, count(*) AS n FROM op GROUP BY l_partkey),
      tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op)
      SELECT p1, p2, n_both, s1.n AS n1, s2.n AS n2,
             ${r6Sql("cast(n_orders as double) * cast(n_both as double) / " +
               "(cast(s1.n as double) * cast(s2.n as double))")} AS lift
      FROM pairs
      JOIN supp s1 ON s1.l_partkey = p1
      JOIN supp s2 ON s2.l_partkey = p2
      CROSS JOIN tot
      ORDER BY n_both DESC, p1, p2
      LIMIT 20"""),
  )

  /** PageRank over the co-purchase item graph — iterative graph
    * analytics ("needs GraphX") expressed as plain joins + aggregates:
    * FIVE fixed damped iterations (d = 0.85, uniform init) where each
    * step is ONE equi-join of the edge list with the current ranks
    * (shuffle on src) and ONE groupBy on dst — linear in |E| per
    * iteration, no driver-side loop state beyond plan construction.
    * Determinism on a cluster: each iteration's neighbor-contribution
    * sum accumulates in DECIMAL(38,18) (shuffle-order-free, exact) and
    * finishes with fixed-order IEEE arithmetic, the dsum contract at
    * rank precision; output ranks are normalized (×|V|) and
    * IEEE-rounded at 6 dp. The edge list (with the degree pre-joined
    * ONCE, not per iteration) is localCheckpoint'd — every iteration
    * re-reads a materialized edge partition instead of re-running the
    * combination explode (the recursive-CTE lesson from q_recursive).
    * The graph is `CoPurchase.smallParts` (p_size <= 10: the full graph
    * at sf0.1 costs 21s for the same plan shape vs 2.3s here). The
    * undirected graph has no dangling nodes by construction, so rank
    * mass is conserved without a dangling-redistribution term.
    * Round-9 adjudication of the BENCH_r08 10.7s driver outlier (4.3×
    * the 2.48s quiet r8f number): PerfProbe best-of-3 WITH a full Bench
    * running concurrently measured 2.43s, and quiet 2.64s — the driver
    * figure is in-sequence contention, not a plan regression. A
    * single-checkpoint variant (degree via a partitionBy(src) count
    * window, one materialization) was built and measured SLOWER (3.04s
    * vs 2.64s quiet best-of-3), consistent with the round-8
    * checkpoint-adjudications-are-empirical gotcha, so the two-stage
    * form stays. Bench now re-times the 5 slowest queries at the end of
    * each run ("retimed" map) so this ambiguity is self-adjudicating.
    *
    * The maker takes an `expand` replica count (`CoPurchase.replicate`)
    * for the ×10 scaling twin: 10 disjoint copies of the graph, so
    * every per-iteration join/agg moves 10× the rows — the iterative-
    * shuffle-loop hazard measured instead of argued (r14 verdict item
    * 2: the graph family had zero scale points). Disjoint copies leave
    * per-copy ranks bit-identical (the iteration is linear and both
    * 1/nv terms rescale), so the twin's top-50 is the declared top-5
    * ×10 replicas — ties across replicas break by node id. */
  private def mkPagerank(name: String, expand: Int): GQuery = {
    val iters = 5
    GQuery(
      name,
      (spark, dir) => {
        import spark.implicits._
        val eRaw = CoPurchase.directed(
            CoPurchase.replicate(CoPurchase.smallParts(spark, dir), expand))
          .localCheckpoint()
        val deg = eRaw.groupBy($"src").agg(count(lit(1)).as("deg"))
        // degree rides the edge list: one join before the loop instead
        // of one per iteration.
        // r15 (guide §2.4): spread ON src BEFORE the checkpoint, meant
        // to keep HashPartitioning(src) on the LogicalRDD so each
        // iteration's join to the rank table (which exits its
        // groupBy(dst) partitioned by the SAME key) needs no exchange.
        // With AQE on the checkpoint drops that partitioning, so the
        // edge list is still re-shuffled every round (Parallel's doc).
        // The shuffle_hash hint on the small rank side kills the SMJ sorts.
        val e = Parallel.spread(eRaw.join(deg, "src"), $"src")
          .localCheckpoint()
        // 1-row table consumed by init + every iteration + the final
        // projection: checkpoint, or each consumer re-aggregates deg.
        val nRow = deg.agg(count(lit(1)).cast("double").as("nv"))
          .localCheckpoint()
        var r = deg.crossJoin(broadcast(nRow))
          .select($"src".as("node"), (lit(1.0) / $"nv").as("r"))
        for (_ <- 1 to iters) {
          r = e.join(r.hint("shuffle_hash"), $"src" === $"node")
            .select($"dst", ($"r" / $"deg").as("c"))
            .groupBy($"dst")
            .agg(sum($"c".cast(org.apache.spark.sql.types.DecimalType(38, 18)))
              .cast("double").as("s"))
            .crossJoin(broadcast(nRow))
            .select($"dst".as("node"),
              (lit(0.15) / $"nv" + lit(0.85) * $"s").as("r"))
        }
        r.join(deg, $"node" === $"src")
          .crossJoin(broadcast(nRow))
          .select($"node", $"deg", r6($"r" * $"nv").as("rank_norm"))
          .orderBy($"rank_norm".desc, $"node")
          .limit(50)
      },
      Some {
        val steps = (1 to iters).map { k =>
          s"""r$k AS (
             |  SELECT dst AS node,
             |         cast(0.15 as double) / (SELECT nv FROM nv) +
             |         cast(0.85 as double) *
             |           cast(sum(cast(r / deg as decimal(38,18))) as double)
             |           AS r
             |  FROM e JOIN r${k - 1} rp ON e.src = rp.node
             |         JOIN deg ON e.src = deg.src
             |  GROUP BY dst)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH ${CoPurchase.smallPartsSql("pr")},
        prx AS (${CoPurchase.replicateSql("pr", expand)}),
        e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM prx
              UNION ALL SELECT pb, pa FROM prx),
        deg AS MATERIALIZED (
          SELECT src, count(*) AS deg FROM e GROUP BY src),
        nv AS (SELECT cast(count(*) as double) AS nv FROM deg),
        r0 AS (SELECT src AS node, cast(1.0 as double) / (SELECT nv FROM nv)
                 AS r FROM deg),
        $steps
        SELECT r$iters.node AS node, deg.deg AS deg,
               ${r6Sql(s"r * (SELECT nv FROM nv)")} AS rank_norm
        FROM r$iters JOIN deg ON r$iters.node = deg.src
        ORDER BY rank_norm DESC, node
        LIMIT 50"""
      },
    )
  }

  val qPagerank: GQuery = mkPagerank("q_pagerank", 1)

  /** ×10 scaling twin: 10 disjoint id-shifted copies of the bounded
    * co-purchase graph, so every one of the 5 rank iterations joins and
    * aggregates 10× the edges — the first measured scale point for the
    * iterative join+agg loop family (r14 verdict item 2). */
  val qPagerankXxl: GQuery = mkPagerank("q_pagerank_xxl", 10)

  /** PERSONALIZED PAGERANK — q_pagerank's seeded sibling, the
    * "related-items for THIS catalog slice" primitive: the teleport
    * vector concentrates on a seed set (the smallest parts, p_size ≤ 2,
    * inside the same bounded p_size ≤ 10 co-purchase graph) instead of
    * being uniform; r₀ = s and rₖ₊₁ = 0.15·s + 0.85·P·rₖ. Same
    * plan economy as q_pagerank: degree pre-joined once, edge list
    * localCheckpoint'd, per-iteration DECIMAL(38,18) contribution sums
    * (shuffle-order-free), and the seed indicator rides the rank table
    * so the teleport add is a projection, not a per-iteration join.
    * Seeds are exact (1/|S| is one IEEE division broadcast from a
    * 1-row aggregate). Output: top 25 nodes by personalized rank —
    * the seeds' neighborhoods, not the global hubs. */
  val qPagerankPers: GQuery = {
    val iters = 5
    GQuery(
      "q_pagerank_pers",
      (spark, dir) => {
        import spark.implicits._
        val eRaw = CoPurchase.directed(CoPurchase.smallParts(spark, dir))
          .localCheckpoint()
        val deg = eRaw.groupBy($"src").agg(count(lit(1)).as("deg"))
        // r15: same loop shape as mkPagerank — edge list
        // hash-partitioned on src once before its checkpoint (with AQE
        // on the checkpoint drops that partitioning, so each round still
        // re-shuffles it; Parallel's doc), shuffle_hash hints kill the
        // per-round sorts; nodes (3 consumers per round + init + final)
        // and the 1-row nS are checkpointed so no round re-aggregates
        // deg or re-joins seeds.
        val e = Parallel.spread(eRaw.join(deg, "src"), $"src")
          .localCheckpoint()
        val seeds = Tables.part(spark, dir).filter($"p_size" <= 2)
          .select($"p_partkey".as("seed"))
        val nodes = deg
          .join(broadcast(seeds), $"src" === $"seed", "left_outer")
          .select($"src".as("node"), $"deg",
            $"seed".isNotNull.as("is_seed"))
          .localCheckpoint()
        val nS = nodes.filter($"is_seed")
          .agg(count(lit(1)).cast("double").as("ns"))
          .localCheckpoint()
        var r = nodes.crossJoin(broadcast(nS))
          .select($"node", $"is_seed", $"ns",
            when($"is_seed", lit(1.0) / $"ns").otherwise(lit(0.0)).as("r"))
        for (_ <- 1 to iters) {
          r = e.join(r.select($"node", $"r").hint("shuffle_hash"),
              $"src" === $"node")
            .select($"dst", ($"r" / $"deg").as("c"))
            .groupBy($"dst")
            .agg(sum($"c".cast(org.apache.spark.sql.types.DecimalType(38, 18)))
              .cast("double").as("s"))
            .join(nodes.hint("shuffle_hash"), $"dst" === $"node")
            .crossJoin(broadcast(nS))
            .select($"node", $"is_seed", $"ns",
              (when($"is_seed", lit(0.15) / $"ns").otherwise(lit(0.0)) +
                lit(0.85) * $"s").as("r"))
        }
        r.join(nodes.select($"node".as("n2"), $"deg"), $"node" === $"n2")
          .select($"node", $"deg", $"is_seed",
            r6($"r" * lit(1e3)).as("rank_m"))
          .orderBy($"rank_m".desc, $"node")
          .limit(25)
      },
      Some {
        val steps = (1 to iters).map { k =>
          s"""r$k AS (
             |  SELECT n.node, n.is_seed,
             |         (CASE WHEN n.is_seed THEN cast(0.15 as double) /
             |            (SELECT ns FROM ns) ELSE cast(0.0 as double) END) +
             |         cast(0.85 as double) * coalesce(c$k.s, cast(0.0 as double))
             |           AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT dst,
             |           cast(sum(cast(r / deg as decimal(38,18))) as double)
             |             AS s
             |    FROM e JOIN r${k - 1} rp ON e.src = rp.node
             |           JOIN deg ON e.src = deg.src
             |    GROUP BY dst) c$k ON n.node = c$k.dst)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH ${CoPurchase.smallPartsSql("pr")},
        e AS (SELECT pa AS src, pb AS dst FROM pr
              UNION ALL SELECT pb, pa FROM pr),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        nodes AS (
          SELECT d.src AS node, d.deg,
                 (s.p_partkey IS NOT NULL) AS is_seed
          FROM deg d LEFT JOIN
            (SELECT p_partkey FROM part WHERE p_size <= 2) s
            ON d.src = s.p_partkey),
        ns AS (SELECT cast(count(*) as double) AS ns
               FROM nodes WHERE is_seed),
        r0 AS (SELECT node, is_seed,
                      CASE WHEN is_seed
                        THEN cast(1.0 as double) / (SELECT ns FROM ns)
                        ELSE cast(0.0 as double) END AS r
               FROM nodes),
        $steps
        SELECT r$iters.node AS node, nodes.deg AS deg, r$iters.is_seed,
               ${r6Sql(s"r * cast(1e3 as double)")} AS rank_m
        FROM r$iters JOIN nodes ON r$iters.node = nodes.node
        ORDER BY rank_m DESC, node
        LIMIT 25"""
      },
    )
  }

  /** Revenue concentration per market segment — the inequality view
    * behind "whale" risk analysis: the Gini coefficient of per-customer
    * revenue (G = 2·Σᵢ i·xᵢ / (n·Σxᵢ) − (n+1)/n over ascending-sorted
    * x) and the share held by the top decile of customers. Per-customer
    * revenue is one combinable dsum; both rank-weighted sums accumulate
    * in DECIMAL (the 2-dp revenues and integer ranks make every product
    * exact), and the Gini/share finishes are fixed-order IEEE — so the
    * statistics are bit-identical across engines and layouts. The rank
    * windows partition by segment; everything after the per-customer
    * aggregate is |customers|-sized. */
  val qConcentration: GQuery = GQuery(
    "q_concentration",
    (spark, dir) => {
      import spark.implicits._
      val rev = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"c_custkey")
        .agg(dsum($"o_totalprice").as("rev"))
      val wAsc = Window.partitionBy($"c_mktsegment")
        .orderBy($"rev", $"c_custkey")
      val wDesc = Window.partitionBy($"c_mktsegment")
        .orderBy($"rev".desc, $"c_custkey")
      val dec = org.apache.spark.sql.types.DecimalType(30, 6)
      rev
        .withColumn("rnk", row_number().over(wAsc))
        .withColumn("drnk", row_number().over(wDesc))
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          sum($"rev".cast(dec)).cast("double").as("total_rev"),
          sum(($"rnk" * $"rev").cast(dec)).cast("double").as("iwsum"))
        .join(
          rev.withColumn("drnk", row_number().over(wDesc))
            .withColumn("nseg", count(lit(1)).over(
              Window.partitionBy($"c_mktsegment")))
            .filter($"drnk" <= ceil($"nseg" / lit(10.0)).cast("int"))
            .groupBy($"c_mktsegment")
            .agg(sum($"rev".cast(dec)).cast("double").as("top_decile_rev")),
          Seq("c_mktsegment"))
        .select($"c_mktsegment", $"n_customers",
          r2($"total_rev").as("total_rev"),
          r6(lit(2.0) * $"iwsum" / ($"n_customers" * $"total_rev") -
            ($"n_customers" + lit(1.0)) / $"n_customers").as("gini"),
          r6($"top_decile_rev" / $"total_rev").as("top_decile_share"))
        .orderBy($"c_mktsegment")
    },
    Some(s"""
      WITH rev AS (
        SELECT c_mktsegment, c_custkey, ${dsumSql("o_totalprice")} AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, c_custkey),
      rk AS (
        SELECT c_mktsegment, c_custkey, rev,
               row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY rev, c_custkey) AS rnk,
               row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY rev DESC, c_custkey) AS drnk,
               count(*) OVER (PARTITION BY c_mktsegment) AS nseg
        FROM rev),
      agg AS (
        SELECT c_mktsegment, count(*) AS n_customers,
               cast(sum(cast(rev as decimal(30,6))) as double) AS total_rev,
               cast(sum(cast(rnk * rev as decimal(30,6))) as double)
                 AS iwsum
        FROM rk GROUP BY c_mktsegment),
      topd AS (
        SELECT c_mktsegment,
               cast(sum(cast(rev as decimal(30,6))) as double)
                 AS top_decile_rev
        FROM rk
        WHERE drnk <= cast(ceil(nseg / cast(10.0 as double)) as int)
        GROUP BY c_mktsegment)
      SELECT agg.c_mktsegment, n_customers,
             ${r2Sql("total_rev")} AS total_rev,
             ${r6Sql("cast(2.0 as double) * iwsum / (n_customers * total_rev)" +
               " - (n_customers + cast(1.0 as double)) / n_customers")}
               AS gini,
             ${r6Sql("top_decile_rev / total_rev")} AS top_decile_share
      FROM agg JOIN topd ON agg.c_mktsegment = topd.c_mktsegment
      ORDER BY agg.c_mktsegment"""),
  )

  /** RFM SEGMENT MIGRATION — the longitudinal view q_rfm lacks: which
    * monetary quartile did each customer move to between the first and
    * second half of the observation window? The split point is pure
    * integer epoch-day arithmetic (d0 + (d1−d0) div 2 — `div`/`//`, the
    * CLAUDE.md quotient contract); per-half customer totals are exact
    * integer cents, and the per-half quartile breakpoints are
    * interpolated percentiles of INTEGER inputs (exactly k or k+0.5 in
    * both engines — the q_levene median contract), so the 1–4 scores
    * are deterministic strict-compare sums against a broadcast 1-row
    * breakpoint table (the q_rfm scoring idiom). Output: the 4×4
    * transition matrix over customers active in BOTH halves, with
    * row-share percentages. One shuffle per half, matrix-sized output
    * at any SF. */
  val qRfmMigration: GQuery = GQuery(
    "q_rfm_migration",
    (spark, dir) => {
      import spark.implicits._
      val ord = Tables.orders(spark, dir).select($"o_custkey",
        expr("datediff(to_date(o_orderdate), date '1970-01-01')").as("ed"),
        floor($"o_totalprice" * lit(100.0) + lit(0.5)).cast("long")
          .as("cents"))
      val b = ord.agg(min($"ed").as("d0"), max($"ed").as("d1"))
        .select(($"d0" + expr("(d1 - d0) div 2")).as("mid"))
      val halves = ord.crossJoin(broadcast(b))
        .withColumn("h", when($"ed" <= $"mid", 1).otherwise(2))
        .groupBy($"o_custkey", $"h").agg(sum($"cents").as("m"))
      def score(h: Int): DataFrame = {
        val hm = halves.filter($"h" === h)
        val bp = hm.agg(
          expr("percentile(m, 0.25)").as("q1"),
          expr("percentile(m, 0.5)").as("q2"),
          expr("percentile(m, 0.75)").as("q3"))
        hm.crossJoin(broadcast(bp))
          .select($"o_custkey",
            (lit(1) + ($"m" > $"q1").cast("int") + ($"m" > $"q2").cast("int")
              + ($"m" > $"q3").cast("int")).as(s"seg_h$h"))
      }
      val tm = score(1).join(score(2), "o_custkey")
        .groupBy($"seg_h1", $"seg_h2")
        .agg(count(lit(1)).as("n_customers"))
      val wRow = Window.partitionBy($"seg_h1")
      tm.withColumn("row_share",
          r6($"n_customers".cast("double") /
            sum($"n_customers").over(wRow).cast("double")))
        .orderBy($"seg_h1", $"seg_h2")
    },
    Some(s"""
      WITH o AS (
        SELECT o_custkey,
               date_diff('day', DATE '1970-01-01',
                 cast(o_orderdate as date)) AS ed,
               cast(floor(o_totalprice * 100.0 + 0.5) as bigint) AS cents
        FROM orders),
      b AS (SELECT min(ed) + (max(ed) - min(ed)) // 2 AS mid FROM o),
      halves AS (
        SELECT o_custkey, CASE WHEN ed <= mid THEN 1 ELSE 2 END AS h,
               cast(sum(cents) as bigint) AS m
        FROM o CROSS JOIN b GROUP BY 1, 2),
      bp1 AS (SELECT quantile_cont(m, 0.25) AS q1, quantile_cont(m, 0.5) AS q2,
                     quantile_cont(m, 0.75) AS q3 FROM halves WHERE h = 1),
      bp2 AS (SELECT quantile_cont(m, 0.25) AS q1, quantile_cont(m, 0.5) AS q2,
                     quantile_cont(m, 0.75) AS q3 FROM halves WHERE h = 2),
      s1 AS (
        SELECT o_custkey,
               1 + (m > q1)::int + (m > q2)::int + (m > q3)::int AS seg_h1
        FROM halves CROSS JOIN bp1 WHERE h = 1),
      s2 AS (
        SELECT o_custkey,
               1 + (m > q1)::int + (m > q2)::int + (m > q3)::int AS seg_h2
        FROM halves CROSS JOIN bp2 WHERE h = 2),
      tm AS (
        SELECT seg_h1, seg_h2, cast(count(*) as bigint) AS n_customers
        FROM s1 JOIN s2 USING (o_custkey)
        GROUP BY seg_h1, seg_h2)
      SELECT seg_h1, seg_h2, n_customers,
             ${r6Sql("cast(n_customers as double) / " +
               "cast(sum(n_customers) OVER (PARTITION BY seg_h1) as double)")}
               AS row_share
      FROM tm
      ORDER BY seg_h1, seg_h2"""),
  )

  def all: Seq[GQuery] =
    Seq(qFkAudit, qRfm, qWinCumDistinct, qKeywords, qSkewProfile,
      qAggIncremental, qAbtest, qSkyline, qCopurchase, qPagerank,
      qConcentration, qPagerankPers, qRfmMigration, qPagerankXxl)
}
