package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{GQuery, Tables}
import graft.engine.GQuery._

/** Graph link prediction and structure profiling over the co-purchase
  * graph (`CoPurchase.supported`, the q_triangles edge list: support ≥ 2
  * part pairs + the planted 4-clique), plus the interval-union sweep
  * over the event stream. The graph queries never materialize
  * part×part: wedges come from the degree-bounded sparse edge list and
  * candidates only from equi-joins — the same scale posture as
  * q_triangles/q_conncomp.
  */
object LinkOps {

  /** ADAMIC–ADAR LINK PREDICTION: score non-adjacent part pairs by
    * Σ_z 1/ln(deg z) over shared neighbors z — the classic
    * common-neighbor index that up-weights rare co-purchase hubs.
    * Wedges (u–z–w, u<w) are one self-equi-join of the undirected edge
    * list; existing edges are removed with a left-anti equi-join, so
    * candidates never exceed Σ deg² of a support-thresholded sparse
    * graph. Every z has deg ≥ 2 by wedge construction, so ln(deg) ≥
    * ln 2 and the per-term inverse is safe; terms are IEEE-rounded at
    * 9 dp and decimal-summed (dsum discipline) to stay shuffle-order
    * free. Top 15 predictions with a total (score desc, pair) order. */
  val qAdamicAdar: GQuery = GQuery(
    "q_adamic_adar",
    (spark, dir) => {
      import spark.implicits._
      val e = CoPurchase.supported(spark, dir).localCheckpoint()
      val und = CoPurchase.directed(e)
      val deg = und.groupBy($"src".as("z")).agg(count(lit(1)).as("deg"))
      val wedges = und.as("l").join(und.as("r"),
          col("l.dst") === col("r.src") && col("l.src") < col("r.dst"))
        .select(col("l.src").as("u"), col("r.dst").as("w"),
          col("l.dst").as("z"))
      val scored = wedges.join(deg, "z")
        .groupBy($"u", $"w")
        .agg(count(lit(1)).as("n_common"),
          sum(rN(lit(1.0) / log($"deg".cast("double")), 9)
            .cast(DecimalType(30, 9))).cast("double").as("aa_raw"))
      scored.join(e, scored("u") === e("pa") && scored("w") === e("pb"),
          "left_anti")
        .select($"u", $"w", $"n_common", r6($"aa_raw").as("aa_score"))
        .orderBy($"aa_score".desc, $"u", $"w")
        .limit(15)
    },
    Some(s"""
      WITH ${CoPurchase.supportedSql("e")},
      und AS (SELECT pa AS src, pb AS dst FROM e
              UNION ALL SELECT pb AS src, pa AS dst FROM e),
      deg AS (SELECT src AS z, count(*) AS deg FROM und GROUP BY src),
      wedges AS (
        SELECT l.src AS u, r.dst AS w, l.dst AS z
        FROM und l JOIN und r ON l.dst = r.src AND l.src < r.dst),
      scored AS (
        SELECT u, w, count(*) AS n_common,
               cast(sum(cast(${rNSql(
                 "cast(1.0 as double) / ln(cast(deg as double))", 9)}
                 as decimal(30,9))) as double) AS aa_raw
        FROM wedges JOIN deg USING (z)
        GROUP BY u, w),
      nonedge AS (
        SELECT s.u, s.w, s.n_common, s.aa_raw
        FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.pa = s.u AND e.pb = s.w))
      SELECT u, w, n_common, ${r6Sql("aa_raw")} AS aa_score
      FROM nonedge
      ORDER BY ${r6Sql("aa_raw")} DESC, u, w
      LIMIT 15"""),
  )

  /** DEGREE DISTRIBUTION of the co-purchase graph with a log-log OLS
    * slope — the scale-free-ness gauge that says whether a power-law
    * guard (degree-ordered orientation, hub capping) is needed before
    * scaling the graph family. The histogram is two combinable
    * groupBys; the slope regresses ln(count) on ln(degree) over the
    * ≤\|distinct degrees\| histogram rows (decimal-staged sums, one-row
    * broadcast back onto the histogram). */
  val qDegreeDist: GQuery = GQuery(
    "q_degree_dist",
    (spark, dir) => {
      import spark.implicits._
      val e = CoPurchase.supported(spark, dir)
      val und = e.select($"pa".as("v")).unionByName(e.select($"pb".as("v")))
      val hist = und.groupBy($"v").agg(count(lit(1)).as("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_vertices"))
      val lx = log($"degree".cast("double"))
      val ly = log($"n_vertices".cast("double"))
      val mom = hist.agg(
        count(lit(1)).as("np"),
        sum(rN(lx, 9).cast(DecimalType(30, 9))).cast("double").as("sx"),
        sum(rN(ly, 9).cast(DecimalType(30, 9))).cast("double").as("sy"),
        sum(rN(lx * lx, 9).cast(DecimalType(30, 9))).cast("double").as("sxx"),
        sum(rN(lx * ly, 9).cast(DecimalType(30, 9))).cast("double").as("sxy"))
      val slope = mom.select(
        r6(($"np".cast("double") * $"sxy" - $"sx" * $"sy") /
          ($"np".cast("double") * $"sxx" - $"sx" * $"sx")).as("loglog_slope"))
      hist.crossJoin(broadcast(slope))
        .select($"degree", $"n_vertices", $"loglog_slope")
        .orderBy($"degree")
    },
    Some(s"""
      WITH ${CoPurchase.supportedSql("e")},
      und AS (SELECT pa AS v FROM e UNION ALL SELECT pb AS v FROM e),
      hist AS (
        SELECT degree, count(*) AS n_vertices FROM (
          SELECT v, count(*) AS degree FROM und GROUP BY v) d
        GROUP BY degree),
      mom AS (
        SELECT cast(count(*) as bigint) AS np,
               cast(sum(cast(${rNSql("ln(cast(degree as double))", 9)}
                 as decimal(30,9))) as double) AS sx,
               cast(sum(cast(${rNSql("ln(cast(n_vertices as double))", 9)}
                 as decimal(30,9))) as double) AS sy,
               cast(sum(cast(${rNSql(
                 "ln(cast(degree as double)) * ln(cast(degree as double))",
                 9)} as decimal(30,9))) as double) AS sxx,
               cast(sum(cast(${rNSql(
                 "ln(cast(degree as double)) * " +
                   "ln(cast(n_vertices as double))",
                 9)} as decimal(30,9))) as double) AS sxy
        FROM hist),
      sl AS (
        SELECT ${r6Sql("(cast(np as double) * sxy - sx * sy) / " +
          "(cast(np as double) * sxx - sx * sx)")} AS loglog_slope
        FROM mom)
      SELECT degree, n_vertices, loglog_slope
      FROM hist CROSS JOIN sl
      ORDER BY degree"""),
  )

  /** INTERVAL UNION (sweep line): total COVERED seconds per user when
    * each event spans [ts, ts + max(1, round(value)) s) — the activity-
    * coverage/occupancy op (ad impressions, machine uptime, session
    * coverage). The sweep is the one-pass window form: a running max of
    * interval ends over earlier rows (per-user, time-ordered) turns
    * overlap resolution into max(0, end − max(start, prev_max_end)) —
    * no self-join, no explode of second grains. The total is provably
    * order-invariant under equal timestamps, but the ordering still
    * carries the event_id tiebreak so EVERY intermediate is
    * deterministic. Integer seconds throughout; top 25 users by
    * coverage with a unique tiebreak. */
  val qIntervalUnion: GQuery = GQuery(
    "q_interval_union",
    (spark, dir) => {
      import spark.implicits._
      val iv = Tables.events(spark, dir)
        .select($"user_id", $"event_id",
          unix_timestamp($"ts").as("s"),
          (unix_timestamp($"ts") +
            greatest(lit(1L),
              floor(coalesce($"value", lit(0.0)) + lit(0.5)).cast("long")))
            .as("e"))
      val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      iv.withColumn("pmax", max($"e").over(w))
        .withColumn("contrib",
          greatest(lit(0L), $"e" - greatest($"s", coalesce($"pmax", $"s"))))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"contrib").as("covered_s"),
          (max($"e") - min($"s")).as("span_s"))
        .withColumn("utilization",
          r6($"covered_s".cast("double") / $"span_s".cast("double")))
        .orderBy($"covered_s".desc, $"user_id")
        .limit(25)
    },
    Some(s"""
      WITH iv AS (
        SELECT user_id, event_id,
               epoch(date_trunc('second', ts))::BIGINT AS s,
               epoch(date_trunc('second', ts))::BIGINT +
                 greatest(1, cast(floor(coalesce(value, 0) +
                   cast(0.5 as double)) as bigint)) AS e
        FROM events),
      sw AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
        FROM iv),
      c AS (
        SELECT user_id, s, e,
               greatest(0, e - greatest(s, coalesce(pmax, s))) AS contrib
        FROM sw)
      SELECT user_id, count(*) AS n_events,
             cast(sum(contrib) as bigint) AS covered_s,
             cast(max(e) - min(s) as bigint) AS span_s,
             ${r6Sql("cast(sum(contrib) as double) / " +
               "cast(max(e) - min(s) as double)")} AS utilization
      FROM c GROUP BY user_id
      ORDER BY covered_s DESC, user_id
      LIMIT 25"""),
  )

  /** JACCARD LINK PREDICTION on the same support-≥2 co-purchase graph
    * as q_adamic_adar — the normalized common-neighbor index
    * J(u,w) = |N(u)∩N(w)| / |N(u)∪N(w)| that penalizes high-degree
    * endpoints instead of down-weighting hub intermediaries. Same
    * 100-TB posture: wedges from ONE undirected self-equi-join,
    * degrees equi-joined per endpoint, existing edges removed by a
    * left-anti equi-join; every count stays an exact int64 and the
    * single division is the output. Top 15 under a (score, pair) total
    * order. */
  val qLinkJaccard: GQuery = GQuery(
    "q_link_jaccard",
    (spark, dir) => {
      import spark.implicits._
      val e = CoPurchase.supported(spark, dir).localCheckpoint()
      val und = CoPurchase.directed(e)
      val deg = und.groupBy($"src".as("z")).agg(count(lit(1)).as("deg"))
      val wedges = und.as("l").join(und.as("r"),
          col("l.dst") === col("r.src") && col("l.src") < col("r.dst"))
        .select(col("l.src").as("u"), col("r.dst").as("w"))
        .groupBy($"u", $"w").agg(count(lit(1)).as("n_common"))
      val du = deg.select($"z".as("u"), $"deg".as("deg_u"))
      val dw = deg.select($"z".as("w"), $"deg".as("deg_w"))
      val scored = wedges.join(du, "u").join(dw, "w")
      val jac = $"n_common".cast("double") /
        ($"deg_u" + $"deg_w" - $"n_common").cast("double")
      scored.join(e, scored("u") === e("pa") && scored("w") === e("pb"),
          "left_anti")
        .select($"u", $"w", $"n_common", $"deg_u", $"deg_w",
          r6(jac).as("jaccard"))
        .orderBy(r6(jac).desc, $"u", $"w")
        .limit(15)
    },
    Some(s"""
      WITH ${CoPurchase.supportedSql("e")},
      und AS (SELECT pa AS src, pb AS dst FROM e
              UNION ALL SELECT pb AS src, pa AS dst FROM e),
      deg AS (SELECT src AS z, count(*) AS deg FROM und GROUP BY src),
      wedges AS (
        SELECT l.src AS u, r.dst AS w, count(*) AS n_common
        FROM und l JOIN und r ON l.dst = r.src AND l.src < r.dst
        GROUP BY 1, 2),
      scored AS (
        SELECT u, w, cast(n_common as bigint) AS n_common,
               cast(du.deg as bigint) AS deg_u,
               cast(dw.deg as bigint) AS deg_w
        FROM wedges
        JOIN deg du ON wedges.u = du.z
        JOIN deg dw ON wedges.w = dw.z),
      nonedge AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM e
                          WHERE e.pa = s.u AND e.pb = s.w))
      SELECT u, w, n_common, deg_u, deg_w,
             ${r6Sql("cast(n_common as double) / " +
               "cast(deg_u + deg_w - n_common as double)")} AS jaccard
      FROM nonedge
      ORDER BY ${r6Sql("cast(n_common as double) / " +
        "cast(deg_u + deg_w - n_common as double)")} DESC, u, w
      LIMIT 15"""),
  )

  val all: Seq[GQuery] =
    Seq(qAdamicAdar, qDegreeDist, qIntervalUnion, qLinkJaccard)
}
