package graft

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Registry

/** Generated code is compiled once per JVM, not once per run. Spark keeps
  * compiled classes in one JVM-wide LRU cache keyed by the compiling
  * thread's context class loader and the source text; at its default 100
  * entries, a cycle of queries that generates more classes than that
  * evicts each class before its next use and recompiles it on every pass.
  * `Sessions.local` sizes the cache for the benchmark `tail`; this spec
  * runs that tail twice and requires the second pass to recompile nothing
  * the first pass compiled. The cache size is a static conf read once,
  * when the first class is generated, so this also fails if any session
  * was built before `Sessions.local` set it.
  *
  * A second pass may still compile classes the first never saw: AQE
  * numbers whole-stage-codegen stages in the order their inputs finish,
  * and the stage id is part of the source, so q_energy_dist's three
  * broadcast branches can come back under new ids.
  */
class CompileOnceSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  // The `tail` workload of perfbench/run.py (TAIL_QUERIES).
  val tail = Seq(
    "q_case", "q_mcnemar", "q_not_in_null", "q_embed_centroid", "q_winsorize",
    "q_split_leakage", "q_energy_dist", "q_user_overlap", "q_semdedup", "q_join_q3",
    "q_scan_partitioned")

  test("a second pass over the tail queries recompiles nothing of the first") {
    val queries = tail.map(Registry.byName)
    val first = compilesDuring(queries.foreach(_.run(spark, sf).count()))
    val second = compilesDuring(queries.foreach(_.run(spark, sf).count()))
    val again = second.count(first.toSet)
    assert(again == 0, s"the second pass recompiled $again of the " +
      s"${first.size} classes the first pass compiled")
  }

  /** The classes compiled while `body` runs, each as the cache keys it.
    * Each compile logs its source at DEBUG on the compiling thread; the
    * count is checked against Spark's own compile counter. */
  private def compilesDuring(body: => Unit): Seq[(ClassLoader, String)] = {
    val seen = mutable.ArrayBuffer.empty[(ClassLoader, String)]
    val appender = new AbstractAppender("compile-once-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG)
        seen.synchronized {
          seen += (Thread.currentThread.getContextClassLoader ->
            e.getMessage.getFormattedMessage)
        }
    }
    spark.sparkContext // builds the session, which resets log levels, first
    val name = CodeGenerator.getClass.getName.stripSuffix("$")
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    appender.start()
    logger.addAppender(appender)
    logger.setAdditive(false)
    Configurator.setLevel(name, Level.DEBUG)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      Configurator.setLevel(name, level)
      logger.setAdditive(additive)
      logger.removeAppender(appender)
      appender.stop()
    }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    seen.synchronized {
      assert(seen.size == compiled, s"logged ${seen.size} of $compiled compiles")
      seen.toList
    }
  }
}
