package graft.tools

import org.apache.spark.sql.functions._
import graft.llm.{Ann, NearDup}
import graft.multimodal.Multimodal

/** Usage example / smoke drive for the non-oracle LLM library surface:
  * near-dup detection (MinHash-LSH, SimHash), ANN search, and the
  * multimodal feature pipeline. Run:
  *   sbt "runMain graft.tools.LlmDemo /root/testdata/sf0.001"
  */
object LlmDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.Sessions.local(4)
    import spark.implicits._

    val docs = graft.engine.Tables.documents(spark, sf)
      .select($"doc_id", $"text").limit(40)
    val planted = docs.unionAll(docs.filter($"doc_id" < 3)
      .select(($"doc_id" + 9000).as("doc_id"),
        concat($"text", lit(" zzz")).as("text")))

    println("== NearDup.minHashPairs (planted near-dups at +9000) ==")
    NearDup.minHashPairs(planted, minJaccard = 0.5)
      .orderBy("id_a", "id_b").show(8, false)

    println("== NearDup.simHashPairs ==")
    NearDup.simHashPairs(NearDup.simHash(planted), maxHamming = 12)
      .orderBy("id_a").show(8, false)

    println("== Ann.lshTopK vs bruteForceTopK (probe vec_id=1, k=3) ==")
    val emb = graft.engine.Tables.embeddings(spark, sf)
    Ann.lshTopK(emb, emb.filter($"vec_id" === 1), 3)
      .select("p_id", "c_id", "cos_sim", "rnk").show(5, false)
    Ann.bruteForceTopK(emb, emb.filter($"vec_id" === 1), 3)
      .select("p_id", "c_id", "cos_sim", "rnk").show(5, false)

    println("== Multimodal.extractFeatures (fake codec) ==")
    Multimodal.extractFeatures(Multimodal.syntheticMediaFromDocs(spark, sf))
      .show(3, 60)

    println("== edge cases: empty text / single token ==")
    val edge = Seq((1L, ""), (2L, "a"), (3L, "a")).toDF("doc_id", "text")
    NearDup.simHash(edge).orderBy("id").show(5, false)
    NearDup.minHashPairs(edge, minJaccard = 0.5).show(5, false)
    spark.stop()
  }
}
