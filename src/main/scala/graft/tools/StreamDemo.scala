package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.engine.Tables
import graft.streaming.Streams

/** Streaming usage example: replay the events table through a file-source
  * readStream, run the tumbling-window aggregation with a watermark, and
  * compare against the batch twin on the same data. Run:
  *   sbt "runMain graft.tools.StreamDemo /root/testdata/sf0.001"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.Sessions.local(4)
    import spark.implicits._

    // stage the events file into a streaming source dir
    val srcDir = Files.createTempDirectory("stream_events")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // the batch loader sets the conf the legacy ns-long `ts` form needs,
    // so the stream below reads the file with its own schema either way
    val batchEvents = Tables.events(spark, sf)
    val stream = Tables.normalizeEvents(spark.readStream
      .schema(spark.read.parquet(srcDir.toString).schema)
      .parquet(srcDir.toString))
    val q = Streams.tumblingAggWatermarked(stream, "1 day", "1 hour")
      .writeStream.format("memory").queryName("agg")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("agg")
    println(s"== streaming tumbling agg (append mode, finalized windows) ==")
    streamed.orderBy("window_start", "event_type").show(8, false)

    val batch = Streams.tumblingAgg(batchEvents, "1 day")
    val bc = batch.count(); val sc = streamed.count()
    // append mode withholds windows not yet past the watermark — the open
    // tail day(s) — so streamed is a strict prefix of batch
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("window_start", "event_type"))
      .filter($"s.n_events" =!= $"b.n_events").count()
    println(s"batch windows=$bc streamed(finalized)=$sc mismatched=$joined")
    assert(joined == 0, "finalized streaming windows must match batch")
    assert(sc > 0 && sc <= bc)
    println("OK: streaming output is a consistent prefix of the batch twin")
    spark.stop()
  }
}
