package graft.tools

import graft.engine.{Registry, Sessions}

/** Timing probe for plan experiments: runs the named registry queries
  * N times against SPARK_GRAFT_SF_DIR and prints per-query best-of times.
  * Usage: runMain graft.tools.PerfProbe q_join_q5 q_join_smj
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val names = if (args.nonEmpty) args.toSeq else Registry.all.map(_.name)
    val reg = Registry.byName
    names.foreach { n =>
      val q = reg(n)
      q.run(spark, sfDir).count() // warmup
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        q.run(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $n%-20s best=${times.min}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
