package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A third argument
  * (comma-separated query names) restricts the dump and oracle_sql.json to
  * those queries, so `tools/oracle_check.py` gates them in seconds instead
  * of re-running the whole surface.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q_a,q_b,...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [q_a,q_b,...]")
    val names = args.lift(2).toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)
    val spark = engine.Sessions.local()
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** JSON string literal of `s`: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. Bench writes its JSON lines with it too. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes `<outDir>/<name>` parquet for each query in `names` (every
    * declared query when empty), the matching `oracle_sql.json`, and
    * `errors.json`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val queries =
      if (names.isEmpty) SparkEntry.queries
      else names.map(n => n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query: $n")))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        failed(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // A failing query must still produce an output: a 1-row frame with a
        // single non-null `err` column. The driver's compare then records an
        // explicit schema-mismatch FAIL for this query instead of silently
        // omitting it from CORRECTNESS_r{N}.json (round-7 lesson: 36 broken
        // queries vanished from the artifact and it read as all-green).
        try {
          import spark.implicits._
          Seq(msg).toDF("err").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing failure record alongside the dumps (count + per-query
    // message), so breakage is visible even to a reader who only lists outDir.
    val errJson = failed.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString(s"""{"n_errors": ${failed.size}, "errors": {""", ",", "}}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} of ${queries.size} queries FAILED")
  }
}
