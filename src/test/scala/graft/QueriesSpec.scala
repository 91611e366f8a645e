package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Registry
import graft.tools.PlanAudit

/** Every declared query must run on sf0.001 and produce a stable schema.
  * Correctness against DuckDB is checked by tools/oracle_check.py + the
  * driver's t2 gate; this suite guards compile-and-run health. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  // q_join_anti can legitimately return 0 rows at tiny scale.
  private val mayBeEmpty = Set("q_join_anti")

  Registry.all.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.run(spark, sf)
      val n = df.count()
      assert(n >= 0)
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
      assert(df.columns.nonEmpty)
      // the whole-surface Cartesian/BNL gate, on the frame's planned (not
      // re-executed) physical plan
      val finding = PlanAudit.violation(q.name, df.queryExecution.executedPlan.toString)
      assert(finding.isEmpty, s"${q.name}: ${finding.getOrElse("")}")
    }
  }

  test("Catalog.registerAll exposes the engine to plain spark.sql") {
    graft.engine.Catalog.registerAll(spark, sf)
    // a join + aggregate through the views matches the DataFrame twin
    val viaSql = spark.sql(
      """SELECT n_name, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin).collect()
    val viaDf = {
      import org.apache.spark.sql.functions._
      graft.engine.Tables.customer(spark, sf)
        .join(graft.engine.Tables.nation(spark, sf),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("n_name")).collect()
    }
    assert(viaSql.toSeq == viaDf.toSeq)
    // the events view carries the ns-normalization: ts is a usable
    // second-truncated timestamp, not the raw nano long
    val tsType = spark.sql("SELECT ts FROM events").schema.head.dataType
    assert(tsType.typeName.startsWith("timestamp"), s"ts type: $tsType")
  }

  test("oracle SQL declared for every oracle-bearing query exactly once") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }
}

object TestSession {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4)
}
