package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CosineSim

class CosineSimSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("cosine_sim is bit-identical to the composed three-pass form") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val both = emb.as("a").crossJoin(emb.as("b").limit(20))
      .select(
        expr("cosine_sim(a.e, b.e)").as("fused"),
        expr("""dot_product(a.e, b.e) /
               (sqrt(dot_product(a.e, a.e)) * sqrt(dot_product(b.e, b.e)))""")
          .as("composed"))
    val diffs = both.filter($"fused" =!= $"composed").count()
    assert(diffs == 0, s"$diffs pairs differ between fused and composed cosine")
  }

  test("cosine_sim handles nulls, zero vectors, and length mismatch") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq(
      (Some(Seq(1.0, 0.0)), Some(Seq(1.0, 0.0))), // identical → 1.0
      (Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))), // orthogonal → 0.0
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 0.0))), // zero norm → NaN
      (None, Some(Seq(1.0)))                      // null → null
    ).toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)").as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0).contains(1.0))
    assert(out(1).contains(0.0))
    assert(out(2).exists(_.isNaN))
    assert(out(3).isEmpty)
  }

  test("cosine_sim rejects wrong input types at analysis time") {
    import spark.implicits._
    graft.functions.registerAllFunctions(spark)
    val df = Seq((1, "x")).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(expr("cosine_sim(a, b)")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("cosine_sim") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"), ex.getMessage)
  }

  test("cosine_sim codegen and interpreted paths agree") {
    import spark.implicits._
    val rows = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(-1.0, 0.5), Seq(0.25, 8.0)))
    graft.functions.registerAllFunctions(spark)
    rows.foreach { case (a, b) =>
      // interpreted: direct eval of the expression tree
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val interpreted = CosineSim(
        Literal.create(a.toArray, ArrayType(DoubleType)),
        Literal.create(b.toArray, ArrayType(DoubleType)))
        .eval(null).asInstanceOf[Double]
      // codegen: the registered SQL path over a real column
      val codegen = Seq((a, b)).toDF("a", "b")
        .selectExpr("cosine_sim(a, b) as c").head().getDouble(0)
      assert(interpreted == codegen,
        s"interpreted=$interpreted codegen=$codegen for ($a, $b)")
    }
  }
}
