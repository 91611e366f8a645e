package graft.tools

import org.apache.spark.sql.functions._

/** Round-14 adjudication probe for q_neardup_simhash64_xl: measures the
  * 16-bit band-group mass on the ORGANIC corpus before the full-corpus
  * twin is declared — the check whose absence sank the 32-bit twin in
  * round 13 (3,087 of 5,050 sf0.1 docs shared ONE 8-bit band value →
  * ~5M candidate pairs, measured then withdrawn). Prints the largest
  * per-(band, val) group sizes and the implied candidate-pair count
  * sum(C(n,2)); if the 16-bit bands also collapse, the twin must be
  * withdrawn-with-measurement again rather than declared.
  *
  * Usage: runMain graft.tools.SimHash64Probe [sfDir]
  */
object SimHash64Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.engine.Sessions.local()
    import spark.implicits._

    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val toks = docs.select($"doc_id",
      explode(array_distinct(split($"text", " "))).as("tok"))
    val th = toks.select($"doc_id",
      conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long").as("h2"))
    val sumCols = (0 until 32).map(i =>
      sum(expr(s"(shiftright(h1, $i) & 1) * 2 - 1")).as(s"a$i")) ++
      (0 until 32).map(i =>
        sum(expr(s"(shiftright(h2, $i) & 1) * 2 - 1")).as(s"b$i"))
    val sums = th.groupBy($"doc_id").agg(sumCols.head, sumCols.tail: _*)
    val fp = sums.select($"doc_id",
      (0 until 32).map(i =>
        when(col(s"a$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("fp_lo"),
      (0 until 32).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("fp_hi"))
    val bands = fp.select($"doc_id",
      explode(array(
        struct(lit(0).as("band_id"), expr("fp_lo & 65535").as("val")),
        struct(lit(1).as("band_id"),
          expr("shiftright(fp_lo, 16) & 65535").as("val")),
        struct(lit(2).as("band_id"), expr("fp_hi & 65535").as("val")),
        struct(lit(3).as("band_id"),
          expr("shiftright(fp_hi, 16) & 65535").as("val")))).as("bs"))
      .select($"doc_id", $"bs.band_id".as("band_id"), $"bs.val".as("val"))
    val groups = bands.groupBy($"band_id", $"val")
      .agg(count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .localCheckpoint()
    val nDocs = docs.count()
    val top = groups.orderBy($"n".desc).limit(20).collect()
    val pairsRow = groups
      .agg(coalesce(sum(expr("n * (n - 1)")), lit(0L)).as("p2")).first()
    val pairs = pairsRow.getLong(0) / 2
    println(s"SIMHASH64_PROBE sf=$sfDir docs=$nDocs")
    println(s"  candidate_pairs(sum nC2 over band groups, pre-distinct) = $pairs")
    println(s"  top band groups (band_id, val, n):")
    top.foreach(r => println(s"    ${r.getInt(0)}  ${r.getLong(1)}  ${r.getLong(2)}"))
    spark.stop()
  }
}
