package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated testdata tables
  * (see TESTDATA.md / FIXTURES.md). All tables are Parquet; the vectorized
  * reader + Catalyst pushdown/pruning make these the only scan path the
  * engine needs. At 100 TB these same loaders work unchanged against a
  * partitioned data lake directory — `spark.read.parquet` scales via
  * `FileSourceScanExec` splits; nothing here materializes on the driver.
  *
  * Schemas (verified via pyarrow, SURVEY.md §1.2):
  *  - region(r_regionkey int, r_name string)
  *  - nation(n_nationkey int, n_name string, n_regionkey int)
  *  - customer(c_custkey long, c_name string, c_nationkey int,
  *             c_acctbal double, c_mktsegment string)
  *  - supplier(s_suppkey long, s_name string, s_nationkey int, s_acctbal double)
  *  - part(p_partkey long, p_name string, p_brand string, p_type string,
  *         p_size int, p_retailprice double)
  *  - orders(o_orderkey long, o_custkey long, o_orderstatus string,
  *           o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string)
  *  - lineitem(l_orderkey long, l_partkey long, l_suppkey long,
  *             l_linenumber int, l_quantity double, l_extendedprice double,
  *             l_discount double, l_tax double, l_returnflag string,
  *             l_linestatus string, l_shipdate timestamp_ntz)
  *  - events(event_id long, ts <timestamp[us] or legacy ns-long — see
  *           below>, user_id long, event_type string, value double,
  *           props string-json)
  *  - documents(doc_id long, text string, lang string, source string, n_chars long)
  *  - embeddings(vec_id long, embedding array<float>, label int)
  */
object Tables {
  /** One version of one fixture file: its qualified path, length and
    * modification time, and the `nanosAsLong` setting it was read under
    * (it decides the type of a legacy nanosecond `ts`). */
  private final case class FileVersion(path: String, length: Long, mtime: Long,
      nanosAsLong: String)

  /** The schema Spark inferred per file version. A schema-less
    * `spark.read.parquet` infers it with a Spark job on every read
    * (`SchemaMergeUtils.mergeSchemasInParallel`, even for one file); with
    * the schema given, a read starts no job. Only the `StructType` is
    * kept: every read still lists the file, and every query analyzes,
    * plans and scans it afresh. A rewritten file has a new length or
    * mtime, so it is inferred again. Files this code writes itself (the
    * `sources.Lake` fixtures, read in `operators.Partitioned`,
    * `operators.Formats` and `sources.Sources`, and the upsert snapshots
    * of `streaming.Streams`) are read with `spark.read` directly and
    * never pass through this memo. */
  private val schemas = new ConcurrentHashMap[FileVersion, StructType]()

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
    val version = FileVersion(st.getPath.toString, st.getLen, st.getModificationTime,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    val schema = schemas.computeIfAbsent(version, _ => spark.read.parquet(path.toString).schema)
    spark.read.schema(schema).parquet(path.toString)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")

  /** Schema-adaptive events loader. The testdata generator has shipped
    * `events.ts` in two physical forms across rounds:
    *
    *  - INT64 TIMESTAMP(NANOS) parquet, which Spark 4.1.2 rejects by
    *    default (PARQUET_TYPE_ILLEGAL); with the public
    *    `spark.sql.legacy.parquet.nanosAsLong` conf it reads as epoch-nano
    *    LongType — the "legacy" branch below.
    *  - plain `timestamp[us]` (no UTC adjustment), which Spark reads
    *    natively as TIMESTAMP_NTZ — the current form.
    *
    * Both branches normalize to the same two-column contract every
    * downstream query (and its DuckDB oracle) is written against:
    *  - `ts`: second-truncated TIMESTAMP_NTZ — matches the oracles'
    *    `date_trunc('second', ts)` on the raw file;
    *  - `ts_ticks`: exact integer sub-second ticks (epoch-nanos or
    *    epoch-micros depending on the file), used ONLY for
    *    ordering/tiebreaks, where any monotone unit is equivalent to
    *    DuckDB ordering by raw `ts`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // harmless for µs files; required for the legacy ns form to load at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(t(spark, sfDir, "events"))
  }

  /** The [[events]] normalization over a frame read with the file's own
    * schema, batch or streaming (the streaming demo reads the same file
    * through `readStream`). */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumnRenamed("ts", "ts_ticks")
          .withColumn(
            "ts",
            // exact integer division: Column `/` is double division, and
            // epoch nanos (~1.7e18) exceed double's 2^53 exact range
            // (ulp ≈ 256 ns), so `/ 1000L` could mis-bucket timestamps near
            // a boundary vs DuckDB's exact int64 path. `div` stays in longs.
            date_trunc("second",
              timestamp_micros(expr("ts_ticks div 1000"))
                .cast("timestamp_ntz")))
      case _ =>
        // cast NTZ→TZ under the engine-wide UTC session zone is exact and
        // monotone, so unix_micros yields the file's integer micro-ticks
        raw
          .withColumn("ts_ticks", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("ts",
            date_trunc("second", col("ts").cast("timestamp_ntz")))
    }
}
