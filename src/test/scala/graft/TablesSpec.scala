package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables

/** `Tables` keeps each fixture file's inferred schema per file version, so
  * a repeated read starts no schema-inference job, a rewritten file is
  * inferred again, and a read with the kept schema has the same output as
  * a plain `spark.read.parquet`. The readers of files this code writes
  * (Lake, upsert and partitioned tables) call `spark.read` directly and
  * never use the memo; the rewrite case below covers a fixture file that
  * changes under it.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def load(name: String, sfDir: String): DataFrame = name match {
    case "region" => Tables.region(spark, sfDir)
    case "nation" => Tables.nation(spark, sfDir)
    case "customer" => Tables.customer(spark, sfDir)
    case "supplier" => Tables.supplier(spark, sfDir)
    case "part" => Tables.part(spark, sfDir)
    case "orders" => Tables.orders(spark, sfDir)
    case "lineitem" => Tables.lineitem(spark, sfDir)
    case "events" => Tables.events(spark, sfDir)
    case "documents" => Tables.documents(spark, sfDir)
    case "embeddings" => Tables.embeddings(spark, sfDir)
  }

  private def output(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  /** An sf directory of its own holding a copy of one fixture file, so the
    * memo has never seen it. */
  private def withSfCopy(name: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try {
      Files.copy(Paths.get(sfs.head, s"$name.parquet"), dir.resolve(s"$name.parquet"))
      body(dir)
    } finally {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toList.reverse.foreach(Files.delete) finally walk.close()
    }
  }

  /** Job descriptions in start order. Jobs run by `read` are those that
    * start after one marker job and before the next; waiting for the
    * second marker to arrive drains the asynchronous listener bus. */
  private def jobsDuring(read: => Unit): Int = {
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("tables-spec-start")
      read
      marker("tables-spec-end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.synchronized(seen.contains("tables-spec-end")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      seen.synchronized {
        assert(seen.contains("tables-spec-end"), "the listener never saw the end marker")
        seen.indexOf("tables-spec-end") - seen.indexOf("tables-spec-start") - 1
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a repeated fixture read starts no Spark job") {
    withSfCopy("customer") { dir =>
      val first = jobsDuring(Tables.customer(spark, dir.toString))
      val second = jobsDuring(Tables.customer(spark, dir.toString))
      assert(first >= 1, "the first read of a file version infers its schema with a job")
      assert(second == 0, s"the second read started $second jobs")
    }
  }

  test("a rewritten fixture file is read with its new schema") {
    withSfCopy("customer") { dir =>
      val before = Tables.customer(spark, dir.toString)
      val (columns, rows) = (before.columns.toSeq, before.count())
      assert(!columns.contains("c_extra"))
      val out = dir.resolve("rewrite")
      before.withColumn("c_extra", lit(1)).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve("customer.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val after = Tables.customer(spark, dir.toString)
      assert(after.columns.toSeq == columns :+ "c_extra")
      assert(after.count() == rows)
    }
  }

  test("every fixture read has the output of a plain parquet read") {
    for (sf <- sfs; name <- names) {
      val got = output(load(name, sf))
      // Tables.events has just set the nanosAsLong conf it reads under
      val raw = spark.read.parquet(s"$sf/$name.parquet")
      val want = output(if (name == "events") Tables.normalizeEvents(raw) else raw)
      assert(got == want, s"$name at $sf")
    }
  }
}
