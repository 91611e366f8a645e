package graft.tools

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.sql.functions._
import graft.ml._

/** Measures the bestScore spread of MlSpec's "GridSearchCV tunes a text
  * pipeline" matrix (2 seeds x 2 partitionings), replicated exactly, so
  * the spec's accuracy floor is a recorded number rather than a guess.
  * Run: sbt "runMain graft.tools.MlFloorProbe /root/testdata/sf0.001"
  */
object MlFloorProbe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    // local[32]: the recorded floor measurement ran at 32 cores
    val spark = graft.engine.Sessions.local(32)
    import spark.implicits._

    val docs = graft.engine.Tables.documents(spark, sf)
      .join(graft.engine.Tables.embeddings(spark, sf), $"doc_id" === $"vec_id")
      .select($"doc_id",
        concat($"text",
          when($"doc_id" % 2 === 0,
            lit(" xplantedmarkerx xplantedmarkerx xplantedmarkerx")).otherwise(lit("")))
          .as("text"),
        ($"doc_id" % 2 === 0).cast("double").as("label"))
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
    val lr = new LogisticRegression().setMaxIter(50)
    val pipe = new Pipeline().setStages(Array(tok, tf, idf, lr))
    val grid = new ParamGridBuilder()
      .addGrid(tf.numFeatures, Array(2, 4096))
      .addGrid(lr.regParam, Array(100.0, 0.001))
      .build()
    val ev = new MulticlassClassificationEvaluator().setMetricName("accuracy")
    var minBest = Double.MaxValue
    for (seed <- Seq(42L, 7L); parts <- Seq(3, 13)) {
      val res = GridSearchCV(pipe, grid, ev, numFolds = 2,
        parallelism = 2, seed = seed).fit(docs.repartition(parts))
      println(f"seed=$seed%-3d parts=$parts%-3d best=${res.bestScore}%.4f " +
        res.cvResults.map { case (pm, s) =>
          f"nf=${pm.get(tf.numFeatures).get}%d/reg=${pm.get(lr.regParam).get}%g:$s%.4f"
        }.mkString(" "))
      minBest = math.min(minBest, res.bestScore)
    }
    println(f"MIN bestScore across 2x2 matrix: $minBest%.4f")
    spark.stop()
  }
}
