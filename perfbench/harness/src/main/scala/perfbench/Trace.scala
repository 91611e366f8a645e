package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are epoch milliseconds. `parent` is 0 for a
  * root. The layer is the name's prefix before the first dot. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double) {
  def dur: Double = end - start
  def layer: String = name.takeWhile(_ != '.') match {
    case "item" => "bench"
    case "action" => "plans" // driver work of the timed action between phases and jobs
    case l => l
  }
}

/** Metrics of one finished task, kept per stage attempt. */
final case class TaskRec(stageSpan: Long, waitMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, failed: Boolean)

/** One SQL action observed by the query-execution listener. */
final case class ActionRec(func: String, phases: Map[String, (Long, Long)], facts: PlanFacts)

/** Span recorder for the traced run. Spans are opened by the benchmark
  * around the calls it makes into the program; Spark jobs and stages become
  * child spans through a thread-local property that Spark copies onto every
  * job a thread submits (and onto threads that thread creates). Everything
  * stays in memory until [[spans]] is read at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  @volatile private var on = false

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def enabled: Boolean = on
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val prev = sc.getLocalProperty(SpanProperty)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = nowMs
      try body
      finally {
        done.add(Span(id, parent, name, start, nowMs))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Records a span whose times were measured elsewhere (planning phases). */
  def add(parent: Long, name: String, start: Double, end: Double): Unit =
    done.add(Span(ids.incrementAndGet(), parent, name, start, end))

  // ---- listener state ----
  private val jobSpan = TrieMap.empty[Int, (Long, Long, Long)] // job -> (span, parent, start)
  private val stageSpan = TrieMap.empty[(Int, Int), Long]
  private val stageParent = TrieMap.empty[Int, Long] // stage -> job span
  private val stageStart = TrieMap.empty[(Int, Int), Long]
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]()
  private val actions = new ConcurrentLinkedQueue[ActionRec]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      jobSpan(e.jobId) = (id, parent, e.time)
      e.stageIds.foreach(s => stageParent.putIfAbsent(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        done.add(Span(id, parent, "exec.job", start.toDouble, e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageSpan.putIfAbsent(k, ids.incrementAndGet())
      stageStart(k) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      for (id <- stageSpan.get(k); start <- stageStart.get(k)) {
        val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        done.add(Span(id, stageParent.getOrElse(k._1, 0L), "exec.stage",
          start.toDouble, end.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val k = (e.stageId, e.stageAttemptId)
      val sub = stageStart.getOrElse(k, e.taskInfo.launchTime)
      taskRecs.add(TaskRec(
        stageSpan.getOrElse(k, 0L), e.taskInfo.launchTime - sub,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        !e.taskInfo.successful))
    }
  }

  private val sql = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(ActionRec(func,
        qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
        PlanFacts.of(qe.executedPlan.toString)))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    ListenerBus.drain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sql)
    on = true
  }

  def stop(): Unit = {
    on = false
    ListenerBus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(sql)
  }

  /** Delivers pending listener events and returns the SQL actions observed
    * since the previous call. */
  def takeActions(): Seq[ActionRec] = {
    ListenerBus.drain(sc)
    Iterator.continually(actions.poll()).takeWhile(_ != null).toSeq
  }

  def spans: Seq[Span] = done.asScala.toSeq
  def tasks: Seq[TaskRec] = taskRecs.asScala.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val Phases = Seq("analysis", "optimization", "planning")

  /** Time of [lo, hi] covered by the union of the given intervals. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
