package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DotProductSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("dot_product is bit-identical to the higher-order fold") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val both = emb.as("a").crossJoin(emb.as("b").limit(20))
      .select(
        expr("dot_product(a.e, b.e)").as("native"),
        expr("aggregate(zip_with(a.e, b.e, (p, q) -> p * q), 0D, (s, v) -> s + v)")
          .as("fold"))
    val diffs = both.filter($"native" =!= $"fold").count()
    assert(diffs == 0, s"$diffs pairs differ between native and fold dot product")
  }

  test("dot_product handles nulls, empty and length-mismatched arrays") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),   // 11
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0))),        // min-length: 3
      (Some(Seq.empty[Double]), Some(Seq(1.0))),    // 0
      (None, Some(Seq(1.0)))                        // null
    ).toDF("a", "b")
    val out = df.select(expr("dot_product(a, b)").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(11.0), Some(3.0), Some(0.0), None))
  }

  test("dot_product rejects wrong input types at analysis time") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq((1, "x")).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(expr("dot_product(a, b)")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("dot_product") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"), ex.getMessage)
  }

  test("dot_product participates in whole-stage codegen") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(expr("transform(embedding, x -> cast(x as double))").as("e"))
    val plan = emb.select(expr("dot_product(e, e)").as("d"))
      .queryExecution.executedPlan
    // evaluate with codegen enabled — the generated-code path must produce
    // the same values as the interpreted path
    val viaCodegen = emb.select(expr("dot_product(e, e)").as("d"))
      .agg(sum("d")).collect()(0).getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted =
      try emb.select(expr("dot_product(e, e)").as("d"))
        .agg(sum("d")).collect()(0).getDouble(0)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(viaCodegen == interpreted)
    assert(plan.toString.contains("dot_product") ||
      plan.toString.contains("dotproduct"), plan.toString)
  }
}
