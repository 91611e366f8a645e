package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.engine.{GQuery, Registry, Sessions, Tables}
import graft.ml.{GridSearchCV, SearchResult}

/** One timed execution. `error` is empty when the item returned; `count` is
  * the query's row count (-1 where the item has none); `wrong` counts the
  * item's units whose result differed from the reference. */
final case class Item(name: String, latency: Double, count: Long, error: String,
    root: Long = 0L, action: Long = 0L, wrong: Int = 0, result: Option[SearchResult] = None,
    actions: Seq[ActionRec] = Nil)

/** A workload: a fixed list of items run in the seed's order, one at a time
  * (a closed loop with one client). */
trait Workload {
  /** Units finished per item: 1 for a query, fits + refit for a search. */
  def unitsPerItem: Int
  /** Un-timed first pass; also produces the outputs the checks compare. */
  def warmup(): Unit
  def pass(): Seq[Item]
  /** Marks wrong results; runs after the timed windows. */
  def check(items: Seq[Item]): Seq[Item]
}

object Main {
  def arg(argv: Array[String], key: String): String = {
    val i = argv.indexOf(s"--$key")
    if (i >= 0 && i + 1 < argv.length) argv(i + 1) else sys.error(s"missing --$key")
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload")
    val seed = arg(argv, "seed").toLong
    val seconds = arg(argv, "seconds").toDouble
    val trace = arg(argv, "trace") == "1"
    val data = arg(argv, "data")
    val out = arg(argv, "out")
    val t0 = arg(argv, "t0").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out))

    val spark = Sessions.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val w: Workload = workload match {
      case "tail" =>
        new Queries(spark, tracer, data, arg(argv, "items").split(",").toSeq, s"$out/results")
      case "gridsearch" => new Grid(spark, tracer, data, seed, cores, arg(argv, "ref"))
      case other => sys.error(s"unknown workload $other")
    }

    w.warmup()
    val setupS = (System.currentTimeMillis() - t0) / 1000.0
    val (items, wall, traced, tracedWall) =
      if (trace) alternating(w, tracer, seconds) else {
        val (items, wall) = window(w, seconds)
        (items, wall, Nil, 0.0)
      }
    val heapMb = retainedHeapMb(spark)
    val json = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(workload),
      "units_per_item" -> w.unitsPerItem.toString,
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num(wall),
      "timed_items" -> items.size.toString,
      "retained_heap_mb" -> Json.num(heapMb))
    if (trace) {
      tracer.start()
      val probes = Probes.run(spark, tracer, data, w, cores)
      tracer.stop()
      val layers = Layers.metrics(tracer, traced, cores, w.unitsPerItem, probes)
      layers("trace.overhead_frac") = (tracedWall / traced.size) / (wall / items.size) - 1.0
      Layers.writeSpans(tracer, s"$out/spans.jsonl")
      Layers.printTable(traced, layers)
      json("layers") = Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    json("items") = w.check(items ++ traced).map(i => Json.obj(Seq(
      "name" -> Json.str(i.name), "latency" -> Json.num(i.latency),
      "count" -> i.count.toString, "error" -> Json.str(i.error),
      "wrong" -> i.wrong.toString))).mkString("[", ",", "]")
    w match {
      case q: Queries => json("oracle") = Json.obj(q.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) })
      case _ =>
    }
    Files.write(Paths.get(s"$out/result.json"), Json.obj(json.toSeq).getBytes(UTF_8))
    spark.stop()
  }

  /** Whole passes until `seconds` have elapsed, so every run measures the
    * same item mix whatever the order. */
  def window(w: Workload, seconds: Double): (Seq[Item], Double) = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val items = mutable.ArrayBuffer.empty[Item]
    while (items.isEmpty || elapsed < seconds) items ++= w.pass()
    (items.toSeq, elapsed)
  }

  /** The traced run: one more un-timed pass, then passes untraced and
    * traced in the order U T T U, in whole blocks until each side has run
    * `seconds`, so that warm-up drift cancels out of the tracing overhead.
    * Returns the untraced items and time, then the traced ones. */
  def alternating(w: Workload, tracer: Tracer, seconds: Double)
      : (Seq[Item], Double, Seq[Item], Double) = {
    w.pass()
    val plain, traced = mutable.ArrayBuffer.empty[Item]
    var plainS, tracedS = 0.0
    var i = 0
    while (i % 4 != 0 || plainS < seconds || tracedS < seconds) {
      val on = i % 4 == 1 || i % 4 == 2
      if (on) tracer.start()
      val t0 = System.nanoTime()
      val items = w.pass()
      val dt = (System.nanoTime() - t0) / 1e9
      if (on) { tracer.stop(); traced ++= items; tracedS += dt }
      else { plain ++= items; plainS += dt }
      i += 1
    }
    (plain.toSeq, plainS, traced.toSeq, tracedS)
  }

  def retainedHeapMb(spark: SparkSession): Double = {
    Queries.dropStaleCheckpoints(spark)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** `tail`: declared queries, each item one `GQuery.run` plus the timed
  * `count()`, as `graft.Bench` times them. */
final class Queries(spark: SparkSession, tracer: Tracer, data: String,
    names: Seq[String], resultsDir: String) extends Workload {
  private val registry = Registry.byName
  private val queries: Seq[GQuery] = names.map(n =>
    registry.getOrElse(n, sys.error(s"query $n is not in graft.engine.Registry")))
  def oracleSql: Map[String, String] =
    queries.distinct.flatMap(q => q.oracle.map(q.name -> _)).toMap
  def unitsPerItem: Int = 1

  private def run(q: GQuery, action: DataFrame => Long): Item = {
    var root, act = 0L
    val t0 = System.nanoTime()
    val item =
      try {
        val n = tracer.span("item") {
          root = tracer.current
          val df = tracer.span("operators.build")(q.run(spark, data))
          tracer.span("action") { act = tracer.current; action(df) }
        }
        Item(q.name, (System.nanoTime() - t0) / 1e9, n, "", root, act)
      } catch {
        case e: Throwable =>
          Item(q.name, (System.nanoTime() - t0) / 1e9, -1L,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}", root, act)
      }
    Queries.dropStaleCheckpoints(spark)
    if (tracer.enabled) item.copy(actions = attribute(item, tracer.takeActions())) else item
  }

  /** Each distinct query once, its full output written for the oracle
    * comparison. */
  def warmup(): Unit = queries.distinct.foreach { q =>
    val it = run(q, { df =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/${q.name}"); -1L })
    if (it.error.nonEmpty) System.err.println(s"[perfbench] warm-up ${q.name}: ${it.error}")
  }

  def pass(): Seq[Item] = queries.map(q => run(q, _.count()))

  /** Row counts and contents are compared with the oracle by the caller. */
  def check(items: Seq[Item]): Seq[Item] = items

  /** The timed action's planning phases become spans under its action span. */
  private def attribute(item: Item, actions: Seq[ActionRec]): Seq[ActionRec] = {
    val timed = actions.filter(_.func == "count").lastOption.toSeq
    timed.foreach(a => Layers.addPhases(tracer, item.action, a))
    timed
  }
}

object Queries {
  /** A finished query's `localCheckpoint` blocks stay cached until the
    * context cleaner notices them; drop them between items, as Bench does. */
  def dropStaleCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

/** `gridsearch`: one item is a whole `GridSearchCV.fit` over the
  * embeddings table at `parallelism = cores`, candidates in the seed's
  * order. Its results are checked against a `parallelism = 1` search of the
  * same build (cached at `refPath`). */
final class Grid(spark: SparkSession, tracer: Tracer, data: String, seed: Long,
    cores: Int, refPath: String) extends Workload {
  val lr = new LogisticRegression().setMaxIter(20)
  val grid: Array[ParamMap] = new ParamGridBuilder()
    .addGrid(lr.regParam, Array(0.001, 0.01, 0.1, 1.0))
    .addGrid(lr.elasticNetParam, Array(0.0, 0.5))
    .build()
  val folds = 3
  val evaluator = new MulticlassClassificationEvaluator().setMetricName("accuracy")
  private val order = new Random(seed).shuffle(grid.toSeq).toArray
  def unitsPerItem: Int = grid.length * folds + 1

  def input(): DataFrame = Tables.embeddings(spark, data).select(
    array_to_vector(expr("transform(embedding, x -> cast(x as double))")).as("features"),
    col("label"))

  private def key(pm: ParamMap): String =
    s"${pm(lr.regParam)}/${pm(lr.elasticNetParam)}"

  /** Candidate -> per-fold scores, plus the best score, in a line format
    * that round-trips doubles exactly. */
  def summary(r: SearchResult): Seq[String] =
    r.foldMetrics.map { case (pm, s) => (key(pm) +: s.map(_.toString)).mkString(",") }
      .sorted :+ s"best,${r.bestScore},${key(r.bestParams)}"

  def search(parallelism: Int): Item = {
    var root, act = 0L
    val t0 = System.nanoTime()
    try {
      val r = tracer.span("item") {
        root = tracer.current
        val df = tracer.span("operators.build")(input())
        tracer.span("ml.search") {
          act = tracer.current
          GridSearchCV(lr, order, evaluator, folds, parallelism).fit(df)
        }
      }
      val it = Item("gridsearch", (System.nanoTime() - t0) / 1e9, -1L, "", root, act, result = Some(r))
      if (tracer.enabled) it.copy(actions = attribute(it, tracer.takeActions())) else it
    } catch {
      case e: Throwable =>
        Item("gridsearch", (System.nanoTime() - t0) / 1e9, -1L,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}",
          root, act, unitsPerItem)
    }
  }

  private lazy val reference: Seq[String] = {
    val p = Paths.get(refPath)
    if (Files.exists(p)) Files.readAllLines(p, UTF_8).toArray(Array.empty[String]).toSeq
    else {
      val it = search(1)
      require(it.error.isEmpty, s"parallelism-1 reference search failed: ${it.error}")
      val lines = summary(it.result.get)
      Files.write(p, lines.mkString("\n").getBytes(UTF_8))
      lines
    }
  }

  /** Units whose result differs from the serial reference: one per
    * (candidate, fold) score, one for the refit's best score. */
  def wrongUnits(r: SearchResult): Int = {
    val got = summary(r)
    val ref = reference
    val refScores = ref.init.map(l => l.split(",")).map(a => a.head -> a.tail.toSeq).toMap
    val bad = got.init.map(_.split(",")).map { a =>
      val want = refScores.getOrElse(a.head, Nil)
      a.tail.indices.count(i => want.lift(i) != Some(a.tail(i)))
    }.sum
    // Ties may pick another candidate; the best score itself must agree.
    val refBest = ref.last.split(",")(1)
    bad + (if (got.last.split(",")(1) == refBest) 0 else 1)
  }

  /** Two searches: the first fits still run far slower than later ones. */
  def warmup(): Unit = for (_ <- 1 to 2) search(cores)

  def pass(): Seq[Item] = Seq(search(cores))

  def check(items: Seq[Item]): Seq[Item] =
    items.map(it => it.result.fold(it)(r => it.copy(wrong = wrongUnits(r), result = None)))

  private def attribute(item: Item, actions: Seq[ActionRec]): Seq[ActionRec] = {
    actions.foreach(a => Layers.addPhases(tracer, item.action, a))
    actions
  }
}
