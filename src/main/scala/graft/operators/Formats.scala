package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.GQuery
import graft.engine.GQuery._
import graft.sources.{Lake, Sources}

/** Interchange-format sources under the oracle gate (SURVEY.md §2.B.1's
  * former ◻ set): the testdata ships no CSV/JSON fixtures, so — like the
  * partitioned lake — the fixtures are materialized once per run from the
  * parquet tables and then READ BACK through the declared query, with the
  * DuckDB oracle reading the same files (`read_csv` / `read_json`). What
  * is graded is the read path: explicit schemas (inference reads twice
  * and guesses), FAILFAST mode, and agreement with another engine's
  * parser on the same bytes.
  */
object Formats {

  private val csvSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** CSV source: per-(lang, source) profile of the metadata fixture. */
  val qSourceCsv: GQuery = GQuery(
    "q_source_csv",
    (spark, dir) => {
      val path = Lake.ensureDocumentsCsv(spark, dir)
      Sources.readCsv(spark, path, csvSchema)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""
      SELECT lang, source, count(*) AS n_docs,
             cast(sum(n_chars) as bigint) AS total_chars,
             min(doc_id) AS first_doc
      FROM ${Lake.documentsCsvOracle}
      GROUP BY lang, source
      ORDER BY lang, source"""),
  )

  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** JSON-lines source: the text survives the round-trip — the oracle
    * recomputes character lengths from the JSON bytes, so any escaping
    * disagreement between the two parsers would hash-mismatch. */
  val qSourceJsonl: GQuery = GQuery(
    "q_source_jsonl",
    (spark, dir) => {
      val path = Lake.ensureDocumentsJsonl(spark, dir)
      Sources.readJsonLines(spark, path, jsonlSchema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("text_chars"),
          sum(col("n_chars")).as("meta_chars"))
        .orderBy(col("lang"))
    },
    Some(s"""
      SELECT lang, count(*) AS n_docs,
             cast(sum(length(text)) as bigint) AS text_chars,
             cast(sum(n_chars) as bigint) AS meta_chars
      FROM ${Lake.documentsJsonlOracle}
      GROUP BY lang
      ORDER BY lang"""),
  )

  /** Binary-media profile — the multimodal pipeline under the hash-match
    * oracle (SURVEY.md §2.B.8's last zero-oracle capability). The query
    * drives the REAL decode seam in ONE pass: the media lake fixture
    * (binary payload + typed metadata, Lake.ensureMedia) is read back as
    * a typed Dataset and pushed through Multimodal.extractFeaturesWithMeta
    * (mapPartitions; bytes stay in-partition and are dropped there — the
    * 100 TB posture: one scan of the binary lake, no feature-join shuffle
    * of the blobs; PlanAudit flagged the earlier extractFeatures + join
    * form as a double scan). Profiled per format: byte-stats off the
    * in-partition payload length, two codec-feature components the oracle
    * can recompute from the same bytes (feature[17] = payload length,
    * feature[20] = first byte — DuckDB octet_length / ascii on the
    * identical blob), and the resize/frame-sample plan arithmetic. A
    * codec emitting wrong lengths or content features hash-mismatches
    * against the oracle's independent read of the same parquet. */
  val qMediaProfile: GQuery = GQuery(
    "q_media_profile",
    (spark, dir) => {
      import spark.implicits._
      val path = Lake.ensureMedia(spark, dir)
      val media = spark.read.parquet(path)
        .as[graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.extractFeaturesWithMeta(media).toDF()
        .withColumn("scale",
          when(greatest($"width", $"height") <= 256, lit(1.0))
            .otherwise(lit(256.0) / greatest($"width", $"height").cast("double")))
        .groupBy($"format")
        .agg(
          count(lit(1)).as("n_media"),
          sum($"n_bytes").as("total_bytes"),
          max($"n_bytes").as("max_bytes"),
          sum(element_at($"features", 17).cast("long")).as("feat_len_sum"),
          sum(element_at($"features", 20).cast("long")).as("first_byte_sum"),
          sum(floor($"width" * $"scale").cast("long")).as("out_w_sum"),
          sum(expr("(n_frames + 3) div 4").cast("long")).as("sample_frames_sum"))
        .orderBy($"format")
    },
    Some(s"""
      SELECT format,
             count(*) AS n_media,
             cast(sum(octet_length(bytes)) as bigint) AS total_bytes,
             cast(max(octet_length(bytes)) as bigint) AS max_bytes,
             cast(sum(octet_length(bytes)) as bigint) AS feat_len_sum,
             cast(sum(ascii(bytes::VARCHAR)) as bigint) AS first_byte_sum,
             cast(sum(floor(width * (CASE WHEN greatest(width, height) <= 256
               THEN cast(1.0 as double)
               ELSE cast(256.0 as double) / greatest(width, height) END)))
               as bigint) AS out_w_sum,
             cast(sum((n_frames + 3) // 4) as bigint) AS sample_frames_sum
      FROM ${Lake.mediaOracle}
      GROUP BY format ORDER BY format"""),
  )

  private val orcSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** ORC source: full documents rows written to ORC once per run and read
    * back through the columnar reader with an explicit schema. DuckDB has
    * no ORC reader, so the oracle recomputes the profile from the source
    * PARQUET — the graded property is write→read roundtrip fidelity: the
    * text length sum recomputes from the round-tripped bytes, so any
    * value the codec mangles (string encoding, nulls, int widths)
    * hash-mismatches. */
  val qSourceOrc: GQuery = GQuery(
    "q_source_orc",
    (spark, dir) => {
      val path = Lake.ensureDocumentsOrc(spark, dir)
      Sources.readOrc(spark, path, orcSchema)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("text_chars"),
          sum(col("n_chars")).as("meta_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    },
    Some(s"""
      SELECT lang, count(*) AS n_docs,
             cast(sum(length(text)) as bigint) AS text_chars,
             cast(sum(n_chars) as bigint) AS meta_chars,
             min(doc_id) AS first_doc
      FROM documents
      GROUP BY lang
      ORDER BY lang"""),
  )

  private val xmlSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType),
    StructField("o_orderpriority", StringType)))

  /** XML source (Spark 4's built-in former spark-xml): orders rows with
    * the date pinned to an ISO string in the fixture (timestamp XML
    * serialization is format-dependent; the string form is
    * engine-neutral). Oracle recomputes from parquet as with ORC. The
    * revenue sum is decimal-staged (dsum) — doubles re-parsed from XML
    * text must still sum shuffle-order-free — and the date round-trips
    * through to_date, so a mangled serialization shifts min/max. */
  val qSourceXml: GQuery = GQuery(
    "q_source_xml",
    (spark, dir) => {
      val path = Lake.ensureOrdersXml(spark, dir)
      Sources.readXml(spark, path, xmlSchema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("revenue"),
          min(col("o_orderkey")).as("first_order"),
          max(to_date(col("o_orderdate"), "yyyy-MM-dd")).as("last_date"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""
      SELECT o_orderpriority, count(*) AS n_orders,
             ${dsumSql("o_totalprice", 2)} AS revenue,
             min(o_orderkey) AS first_order,
             max(cast(date_trunc('day', o_orderdate) as date)) AS last_date
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
  )

  /** MEDIA BLOB DEDUP: exact content-level deduplication of the binary
    * lake by payload digest — the multimodal twin of q_dedup_exact
    * (identical images/audio re-ingested under different ids). Spark
    * hashes the raw bytes (md5 over binary ≡ DuckDB md5 over the
    * blob-as-VARCHAR for these UTF-8 payloads); the digest groupBy is
    * combinable, so at 100 TB the blobs never shuffle — only (digest,
    * id, len) triples do, and column pruning keeps metadata readers off
    * the payload entirely. Duplicates are PLANTED in-query via the
    * shifted-id union convention (media_id < 50 re-ingested at +9M), so
    * rows>0 can never pass vacuously. Keeper = min id per group. */
  val qMediaDedup: GQuery = GQuery(
    "q_media_dedup",
    (spark, dir) => {
      val path = Lake.ensureMedia(spark, dir)
      val m = spark.read.parquet(path)
        .select(col("media_id"), col("bytes"), col("format"))
      val replayed = m.filter(col("media_id") < 50)
        .select((col("media_id") + lit(9000000L)).as("media_id"),
          col("bytes"), col("format"))
      m.unionByName(replayed)
        .groupBy(md5(col("bytes")).as("digest"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("media_id")).as("keeper"),
          sum(length(col("bytes")).cast("long")).as("total_bytes"),
          countDistinct(col("format")).as("n_formats"))
        .filter(col("n_copies") >= 2)
        .orderBy(col("n_copies").desc, col("keeper"))
        .limit(20)
    },
    Some(s"""
      WITH m AS (
        SELECT media_id, bytes, format FROM ${Lake.mediaOracle}),
      a AS (
        SELECT media_id, bytes, format FROM m
        UNION ALL
        SELECT media_id + 9000000, bytes, format
        FROM m WHERE media_id < 50),
      g AS (
        SELECT md5(bytes::VARCHAR) AS digest,
               count(*) AS n_copies,
               min(media_id) AS keeper,
               cast(sum(octet_length(bytes)) as bigint) AS total_bytes,
               cast(count(DISTINCT format) as bigint) AS n_formats
        FROM a GROUP BY 1)
      SELECT digest, n_copies, keeper, total_bytes, n_formats
      FROM g WHERE n_copies >= 2
      ORDER BY n_copies DESC, keeper
      LIMIT 20"""),
  )

  val all: Seq[GQuery] = Seq(qSourceCsv, qSourceJsonl, qMediaProfile,
    qSourceOrc, qSourceXml, qMediaDedup)
}
