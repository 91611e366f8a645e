package graft.tools

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.sql.functions._
import graft.ml._

/** Usage example / smoke drive for the ML layer: distributed grid search
  * with the reference's ergonomics, and per-key model tables. Run:
  *   sbt "runMain graft.tools.MlDemo /root/testdata/sf0.001"
  */
object MlDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.Sessions.local(4)
    import spark.implicits._

    println("== GridSearchCV over embeddings(label) ==")
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .select(
        array_to_vector(expr("transform(embedding, x -> cast(x as double))"))
          .as("features"),
        $"label".cast("double").as("label"))
    val lr = new LogisticRegression().setMaxIter(10)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 0.1)).build()
    val res = GridSearchCV(lr, grid,
      new MulticlassClassificationEvaluator().setMetricName("accuracy"),
      numFolds = 2, parallelism = 2).fit(emb)
    res.cvResults.foreach { case (pm, s) =>
      println(f"  candidate $pm%-40s accuracy=$s%.4f")
    }
    println(s"  best: ${res.bestParams} score=${res.bestScore}")

    println("== RandomizedSearchCV (seeded LogUniform) ==")
    val rs = RandomizedSearchCV(lr,
      Seq((lr.regParam.asInstanceOf[org.apache.spark.ml.param.Param[Any]],
        ParamDist.LogUniform(1e-3, 1.0).asInstanceOf[ParamDist[Any]])),
      nIter = 3,
      new MulticlassClassificationEvaluator().setMetricName("accuracy"),
      numFolds = 2)
    println("  sampled regParams: " +
      rs.sampleGrid().map(_.get(lr.regParam).get).mkString(", "))

    println("== KeyedModels: per-user linear value~hour model over events ==")
    val ev = graft.engine.Tables.events(spark, sf)
      .select($"user_id", hour($"ts").cast("double").as("h"), $"value")
    val models = KeyedModels.fitLinear(ev, Seq("user_id"), Seq("h"), "value")
    models.orderBy($"user_id").show(5, false)
    val preds = KeyedModels.transformLinear(ev, models, Seq("user_id"), Seq("h"))
    preds.select($"user_id", $"h", $"value", round($"prediction", 3).as("pred"))
      .orderBy($"user_id").show(5, false)

    println("== KeyedModels: per-key evaluation (score surface) ==")
    KeyedModels.scoreLinear(ev, models, Seq("user_id"), Seq("h"), "value")
      .orderBy($"user_id").show(5, false)

    println("== KeyedModels: ridge path + per-key lambda selection ==")
    println("  (one Gram pass fits every lambda; selection holds out 1/2 by event hash)")
    val evId = graft.engine.Tables.events(spark, sf)
      .select($"user_id", $"event_id", hour($"ts").cast("double").as("h"), $"value")
    KeyedModels.selectRidge(evId, Seq("user_id"), Seq("h"), "value",
      idCol = "event_id", lambdas = Seq(0.0, 1.0, 10.0))
      .select($"user_id", $"best_lambda", round($"val_rmse", 4).as("val_rmse"))
      .orderBy($"user_id").show(5, false)
    spark.stop()
  }
}
