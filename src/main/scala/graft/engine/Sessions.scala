package graft.engine

import org.apache.spark.sql.SparkSession

/** Session utilities (SURVEY.md §2.A A10, pub: util.py
  * `createLocalSparkSession`). The one place a session is built, pinning
  * the settings every entry point needs: UTC timezone (oracle parity),
  * shuffle partitions sized to cores (not the 200 default — wrong for
  * local mode, and on a real cluster you'd size to ~2-3× total executor
  * cores). The same setting sizes every operator spread
  * ([[Parallel.spread]]). A caller that passes no core count gets
  * `SPARK_GRAFT_CPUS`, else every available processor.
  *
  * Two settings size the state a long-lived session carries from query
  * to query:
  *  - `spark.sql.codegen.cache.maxEntries` = 1000. Spark keeps compiled
  *    generated classes in one JVM-wide LRU cache keyed by the compiling
  *    thread's class loader and the source text, so the driver and the
  *    task threads cache one body under two keys. The default 100
  *    entries is smaller than the working set of the benchmark `tail`
  *    (at sf0.1 its 11 queries generate 178 distinct bodies, 292 cache
  *    entries), so every pass recompiled code it had compiled a pass
  *    earlier: 519 compiles in one 10 s run, up to 7 of one body. At
  *    1000 the same run compiles each entry once. The cache is
  *    built once per JVM, from this static conf as it stands when the
  *    first class is generated, so a session built anywhere but here
  *    would leave it at 100 (CompileOnceSpec fails then).
  *  - the status history: 10 finished SQL executions (each with its
  *    formatted plan string), jobs and stages, down from 1000 each. The
  *    UI is off and nothing here reads the status store (no code under
  *    `src/` calls `statusStore` or `statusTracker`; ContractSpec pins
  *    that), so the history is heap that nobody reads; trimming it frees
  *    more than the larger code cache keeps. Whoever adds a reader must
  *    raise these limits.
  */
object Sessions {
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Collect table + column statistics for the CBO. At 100 TB this is the
    * metadata pass you schedule after each load; NDV/min/max feed join
    * reorder and broadcast decisions. */
  def analyze(spark: SparkSession, table: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
    ()
  }
}
