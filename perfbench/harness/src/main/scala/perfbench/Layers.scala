package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ml.graftbridge.ModelFactory
import org.apache.spark.sql.SparkSession

import graft.engine.Tables

/** Per-layer metrics of a traced window, computed from its spans. */
object Layers {
  /** Layers that own spans inside an item; `engine` runs inside `operators.build`. */
  val Order = Seq("bench", "operators", "plans", "exec", "ml")

  def addPhases(tracer: Tracer, parent: Long, a: ActionRec): Unit =
    Tracer.Phases.foreach { p =>
      a.phases.get(p).foreach { case (s, e) =>
        tracer.add(parent, s"plans.$p", s.toDouble, e.toDouble)
      }
    }

  /** Spans grouped under the item span each descends from. */
  private def trees(spans: Seq[Span], items: Seq[Item]): Map[Long, Seq[Span]] = {
    val byId = spans.map(s => s.id -> s).toMap
    val memo = mutable.Map.empty[Long, Long]
    def root(s: Span): Long = memo.getOrElseUpdate(s.id,
      byId.get(s.parent).fold(s.id)(root))
    val wanted = items.map(_.root).toSet
    spans.groupBy(root).filter { case (r, _) => wanted(r) }
  }

  private def depths(tree: Seq[Span]): Map[Long, Int] = {
    val byId = tree.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).fold(0)(p => 1 + depth(p))
    tree.map(s => s.id -> depth(s)).toMap
  }

  /** Self time per layer within one item: every instant of the item's wall
    * time goes to the deepest span active at that instant. Concurrent jobs
    * are not counted twice, so the layers sum to the item's duration. */
  def selfTime(tree: Seq[Span]): Map[String, Double] = {
    val root = tree.find(s => !tree.exists(_.id == s.parent)).get
    val depth = depths(tree)
    val segs = tree.map(s => (math.max(s.start, root.start), math.min(s.end, root.end),
      depth(s.id), s.layer)).filter(s => s._2 > s._1)
    val cuts = segs.flatMap(s => Seq(s._1, s._2)).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
      val mid = (a + b) / 2
      val active = segs.filter(s => s._1 <= mid && mid < s._2)
      if (active.nonEmpty) acc(active.maxBy(_._3)._4) += (b - a) / 1000.0
    }
    acc.toMap
  }

  def metrics(tracer: Tracer, items: Seq[Item], cores: Int, units: Int,
      probes: Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val byItem = trees(tracer.spans, items)
    val spans = byItem.values.flatten.toSeq
    val n = math.max(items.size, 1).toDouble
    def named(name: String) = spans.filter(_.name == name)
    val builds = named("operators.build")
    val jobs = named("exec.job")
    val stageIds = named("exec.stage").map(_.id).toSet
    val tasks = tracer.tasks.filter(t => stageIds(t.stageSpan))
    val buildJobs = jobs.filter(j => builds.exists(_.id == j.parent))
    val buildJobS = builds.map(b => Tracer.covered(b.start, b.end,
      buildJobs.filter(_.parent == b.id).map(j => (j.start, j.end)))).sum / 1000
    val acts = items.flatMap(_.actions)
    def phaseMs(p: String) = acts.flatMap(_.phases.get(p)).map { case (s, e) => (e - s).toDouble }.sum
    def fact(f: PlanFacts => Int) = acts.map(a => f(a.facts)).sum / n
    val drivers = named("action") ++ named("ml.search")
    val runMs = tasks.map(_.runMs).sum.toDouble
    val perStage = tasks.groupBy(_.stageSpan).values.map { ts =>
      val total = ts.map(_.runMs).sum.toDouble
      (total, if (total > 0) ts.map(_.runMs).max / total else 0.0)
    }
    val stageRunMs = perStage.map(_._1).sum
    val searches = named("ml.search")
    val searchJobs = jobs.filter(j => searches.exists(_.id == j.parent))
    val searchMs = searches.map(_.dur).sum
    val self = byItem.values.toSeq.map(selfTime)
    def selfOf(layer: String) = self.map(_.getOrElse(layer, 0.0)).sum / n
    val latency = items.map(_.latency).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    mutable.LinkedHashMap(
      "engine.resolve_ms" -> probes("engine.resolve_ms"),
      "engine.scans_per_item" -> fact(_.parquetScans),
      "operators.build_s" -> builds.map(_.dur).sum / 1000 / n,
      "operators.build_jobs" -> buildJobs.size / n,
      "operators.build_job_s" -> buildJobS / n,
      "plans.analysis_ms" -> phaseMs("analysis") / n,
      "plans.optimization_ms" -> phaseMs("optimization") / n,
      "plans.planning_ms" -> phaseMs("planning") / n,
      "plans.exchanges" -> fact(_.exchanges),
      "plans.sorts" -> fact(_.sorts),
      "plans.smj" -> fact(_.smj),
      "plans.bhj" -> fact(_.bhj),
      "plans.reused_exchanges" -> fact(_.reusedExchanges),
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stageIds.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.failed_tasks" -> tasks.count(_.failed) / n,
      "exec.run_s" -> runMs / 1000 / n,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "exec.task_wait_s" -> ratio(tasks.map(_.waitMs).sum / 1000.0, tasks.size),
      "exec.core_util" -> ratio(runMs, drivers.map(_.dur).sum * cores),
      "exec.max_task_share" -> ratio(perStage.map { case (t, s) => t * s }.sum, stageRunMs),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1048576.0 / n,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1048576.0 / n,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1048576.0 / n,
      "ml.single_fit_ms" -> probes("ml.single_fit_ms"),
      "ml.jobs_per_fit" -> ratio(searchJobs.size, searches.size * units),
      "ml.job_concurrency" -> ratio(searchJobs.map(_.dur).sum, searchMs),
      "ml.parallel_eff" -> ratio(searches.size * units * probes("ml.single_fit_ms"),
        searchMs * cores),
      "ml.speedup_vs_serial" -> ratio(probes.getOrElse("serial_search_s", 0.0),
        searchMs / 1000 / math.max(searches.size, 1)),
      "self.bench_s" -> selfOf("bench"),
      "self.operators_s" -> selfOf("operators"),
      "self.plans_s" -> selfOf("plans"),
      "self.exec_s" -> selfOf("exec"),
      "self.ml_s" -> selfOf("ml"),
      "trace.unattributed_frac" -> ratio(selfOf("bench") * n, latency),
      "trace.self_sum_frac" -> ratio(self.map(_.values.sum).sum, latency))
  }

  def writeSpans(tracer: Tracer, path: String): Unit = {
    val lines = tracer.spans.sortBy(_.start).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.start),
      "end_ms" -> Json.num(s.end))))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** The per-layer self-time table and the check that the layers account
    * for the item latency. */
  def printTable(items: Seq[Item], m: collection.Map[String, Double]): Unit = {
    val mean = items.map(_.latency).sum / math.max(items.size, 1)
    println(f"[perfbench] self time per item by layer (traced, ${items.size} items, mean latency $mean%.4f s)")
    Order.foreach { l =>
      val v = m(s"self.${l}_s")
      println(f"[perfbench]   $l%-10s $v%9.4f s  ${100 * v / mean}%5.1f%%")
    }
    println(f"[perfbench]   engine     ${m("engine.resolve_ms")}%9.1f ms per table resolve (probe; inside operators.build)")
    val ok = math.abs(m("trace.self_sum_frac") - 1.0) < 0.02
    println(f"[perfbench] self-time check: layers sum to ${100 * m("trace.self_sum_frac")}%.1f%% of item latency (${if (ok) "ok" else "MISMATCH"}); tracing overhead ${100 * m("trace.overhead_frac")}%.1f%%")
  }
}

/** Direct measurements of single calls, made in the traced run. */
object Probes {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, tracer: Tracer, data: String, w: Workload,
      cores: Int): Map[String, Double] = {
    val tables = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    val resolve = for (_ <- 1 to 3; t <- tables)
      yield timeMs(tracer.span("engine.resolve")(t(spark, data).schema))

    val g = w match { case g: Grid => g; case _ => new Grid(spark, tracer, data, 0L, cores, "") }
    val Array(train, test) = g.input().randomSplit(Array(2.0, 1.0), 42L)
    val pm = g.grid.head
    val fits = (1 to 4).map(_ => timeMs(tracer.span("ml.fit") {
      val m = g.lr.fit(train, pm)
      ModelFactory.stripTrainingSummary(m)
      g.evaluator.evaluate(m.transform(test))
    })).drop(1)

    val serial = w match {
      case g: Grid => Map("serial_search_s" -> g.search(1).latency)
      case _ => Map.empty[String, Double]
    }
    Map("engine.resolve_ms" -> median(resolve), "ml.single_fit_ms" -> median(fits)) ++ serial
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
