package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Recall grade for the two-stage ANN pipeline (VERDICT r09 next-round
  * #1): re-ranking the PQ-ADC shortlist with exact cosine must recover
  * at-least the recall of the ADC-only top-3 against brute-force truth
  * — quantization error is what the re-rank exists to undo, so a
  * composition that LOST recall would mean the stages were wired wrong
  * (e.g. re-ranking by the approximate distance, or shortlisting after
  * the exact top-k).
  */
class AnnRerankSpec extends SparkSpec {

  private def gdot(a: String, b: String) = expr(s"graft_dot($a, $b)")

  private def vecs: DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    t(spark, sf001, "embeddings").select(col("vec_id"), col("embedding"))
  }

  /** Brute-force exact cosine top-3 per probe — the ground truth. */
  private def truth: Set[(Long, Long)] = {
    val probes = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe"), col("embedding").as("pv"),
        sqrt(gdot("embedding", "embedding")).as("pn"))
    val cands = vecs
      .select(col("vec_id").as("cand"), col("embedding").as("cv"),
        sqrt(gdot("embedding", "embedding")).as("cn"))
    val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
    broadcast(probes).join(cands, col("probe") =!= col("cand"))
      .withColumn("sim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rerank@3 recall >= ADC-only@3 recall against brute-force truth") {
    val gt = truth
    val adcOnly = pairs(graft.operators.SimilarityQueries.adcShortlist(spark, sf001, 3))
    val reranked = pairs(Registry.all.toMap.apply("sim_ann_rerank").fn(spark, sf001))
    graft.core.releaseQueryCaches(spark)
    val adcRecall = (gt & adcOnly).size.toDouble / gt.size
    val rerankRecall = (gt & reranked).size.toDouble / gt.size
    info(f"truth=${gt.size} adcRecall=$adcRecall%.3f rerankRecall=$rerankRecall%.3f")
    assert(rerankRecall >= adcRecall,
      s"re-ranking must not lose recall: rerank=$rerankRecall adc=$adcRecall")
    // both stages search the same nprobe=2 cells, so recall is bounded by
    // cell coverage; the re-rank must still return a full top-3 per probe
    assert(reranked.size === 30, s"expected 10 probes x 3: ${reranked.size}")
  }
}
