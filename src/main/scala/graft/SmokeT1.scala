package graft
object SmokeT1 {
  def main(args: Array[String]): Unit = {
    val spark = engine.Sessions.local(4)
    val df = SparkEntry.entry(spark)
    println(s"T1_ROWS=${df.count()}")
    df.show(10, false)
    spark.stop()
  }
}
