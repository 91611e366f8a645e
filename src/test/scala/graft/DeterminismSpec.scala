package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Registry

/** Partitioning-invariance sweep (round 2): every declared query must
  * return IDENTICAL rows under different shuffle-partition counts. This is
  * the "same answer on a laptop and a 1000-executor cluster" claim as an
  * executable test — shuffle partitioning changes aggregation merge order,
  * window partition placement, and join build layout, so any float
  * accumulation in merge order (the classic nondeterminism bug) fails
  * here. Every operator spread and keyed co-partition takes its count
  * from the same setting (`graft.engine.Parallel.spread`), so the sweep
  * varies those layouts too. Complements the DuckDB oracle, which catches
  * cross-ENGINE drift but runs each engine at one fixed layout.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("every declared query is invariant to the shuffle partition count") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // the invariance gate covers the ORACLE-declared surface (since
      // round 6 that includes the whole of ScaleOps — its declared
      // queries use portable md5-derived hashing; the partitioning-
      // dependent ML fits live only in the graft.llm library paths)
      val offenders = Registry.all.filter(_.oracle.isDefined).flatMap { q =>
        def rows(parts: String): Seq[String] = {
          spark.conf.set("spark.sql.shuffle.partitions", parts)
          q.run(spark, sf).collect().map(_.toString).toSeq
        }
        val a = rows("3")
        val b = rows("13")
        // compare as ordered sequences: the declared total ORDER BY must
        // also survive the layout change
        if (a == b) None else Some(q.name)
      }
      assert(offenders.isEmpty,
        s"queries not partitioning-invariant: ${offenders.mkString(", ")}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
