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
