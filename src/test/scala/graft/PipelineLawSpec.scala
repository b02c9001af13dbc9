package graft

/** Funnel laws for the composed curation pipelines: every stage is a
  * FILTER of the previous one, so survivor counts AND id-sums must be
  * monotone non-increasing down the funnel (ids are positive, so a
  * subset's sum is bounded by its superset's), and the sample stage is
  * bounded by quota × languages. A violation anywhere means a stage
  * stopped being a restriction — e.g. a join started duplicating rows.
  */
class PipelineLawSpec extends SparkSpec {

  private def funnel(key: String): Seq[(String, Long, Long)] = {
    val rows = Registry.all.toMap.apply(key).fn(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
    rows
  }

  private def assertMonotone(rows: Seq[(String, Long, Long)]): Unit =
    rows.sliding(2).foreach {
      case Seq((s1, n1, i1), (s2, n2, i2)) =>
        assert(n2 <= n1, s"$s2 ($n2) must not exceed $s1 ($n1)")
        assert(i2 <= i1, s"$s2 id_sum ($i2) must not exceed $s1 ($i1)")
      case _ => ()
    }

  test("pipeline_curation_e2e: stages restrict; sample bounded by quota") {
    val rows = funnel("pipeline_curation_e2e")
    assert(rows.map(_._1) === Seq("1_corpus", "2_gopher", "3_exact",
      "4_neardup", "5_decontam", "6_sample"))
    assertMonotone(rows)
    assert(rows.head._2 > 0, "corpus stage must be non-empty")
    val langs = graft.core.t(spark, sf001, "documents")
      .select("lang").distinct().count()
    assert(rows.last._2 <= 25 * langs,
      s"sample ${rows.last._2} exceeds quota x langs (${25 * langs})")
    // the funnel must actually bite at sf0.001 (gopher rejects docs)
    assert(rows(1)._2 < rows.head._2, "gopher stage filtered nothing")
  }

  test("pipeline_incremental_e2e: delta stages restrict; corpus untouched") {
    val rows = funnel("pipeline_incremental_e2e")
    assert(rows.map(_._1) === Seq("0_corpus", "1_delta", "2_gopher",
      "3_exact_new", "4_neardup_new", "5_admitted"))
    // the delta funnel (rows 1..5) restricts monotonically; 0_corpus is
    // context, not part of the funnel
    assertMonotone(rows.drop(1))
    assert(rows(1)._2 > 0, "delta batch must be non-empty")
    assert(rows.last._2 <= rows(1)._2)
    // corpus + delta partition the trainable split: their counts sum to
    // the full pipeline's corpus stage
    val full = funnel("pipeline_curation_e2e")
    assert(rows.head._2 + rows(1)._2 === full.head._2,
      "existing + delta must partition the corpus split")
    assert(rows.head._3 + rows(1)._3 === full.head._3,
      "existing + delta id-sums must partition the corpus id-sum")
  }

  test("text_gopher_rules and pipeline_curation_e2e apply the one gopher rule") {
    import org.apache.spark.sql.functions.{col, sum}
    import graft.operators.TextQueries.{gopherPass, gopherSignals}
    val pass = gopherSignals(graft.core.t(spark, sf001, "documents")).filter(gopherPass)
    val passed = Registry.all.toMap.apply("text_gopher_rules").fn(spark, sf001)
      .agg(sum("passed")).head.getLong(0)
    assert(passed === pass.count(), "text_gopher_rules' pass count")
    val (_, survivors, idSum) = funnel("pipeline_curation_e2e").find(_._1 == "2_gopher").get
    val trainable = pass.filter(col("doc_id") >= 10)
    assert(survivors === trainable.count(), "2_gopher survivors")
    assert(idSum === trainable.agg(sum("doc_id")).head.getLong(0), "2_gopher id_sum")
  }
}
