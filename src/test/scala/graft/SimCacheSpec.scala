package graft

import graft.core.{SharedPipeline, datasetFingerprint, evictSharedFor, releaseQueryCaches, sharedFps, sharedOr}
import graft.operators.SimilarityQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

/** The session-lifetime shared-build store (`core.shared`) under a
  * mid-session dataset regeneration: the fingerprint must notice ANY
  * rewrite (nanosecond mtime — a same-size regeneration within the same
  * second must not reuse a stale count), superseded generations must be
  * EVICTED — both the corpusN count and the checkpointed shared builds'
  * blocks — so growth is per-live-dataset, not per-regeneration, and
  * the `spark.graft.shared.pipeline` switch must act on the session that
  * sets it and on no other.
  */
class SimCacheSpec extends SparkSpec {

  private def regen(dir: String, mult: Int): Unit =
    ScaleGen.scaleInto(spark, sf001, dir, mult)

  private def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

  private def sharedSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(SharedPipeline.key, "true")
    s
  }

  private def run(session: SparkSession, key: String, dir: String): Seq[Seq[Any]] = {
    val out = Registry.all.toMap.apply(key).fn(session, dir).collect().map(_.toSeq).toSeq
    releaseQueryCaches(session)
    out
  }

  test("corpusN re-counts after a regeneration and evicts the stale entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_simcache_n").toString
    regen(dir, 1)
    val n1 = SimilarityQueries.corpusN(spark, dir)
    assert(n1 > 0)
    regen(dir, 2)
    val n2 = SimilarityQueries.corpusN(spark, dir)
    assert(n2 === n1 * 2, s"stale corpus count after regeneration: $n2 != 2 x $n1")
  }

  test("sharedOr evicts a superseded generation's entry AND its checkpoint blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_simcache_s").toString
    regen(dir, 1)
    spark.conf.set(SharedPipeline.key, "true")
    try {
      val before = persistedCount
      val a = sharedOr(spark, dir, "spec") {
        spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id")
      }
      val na = a.count() // before regen: eviction truncates a's lineage
      assert(na > 0)
      assert(sharedFps(dir).size === 1)
      assert(persistedCount === before + 1,
        "the shared build must be checkpoint-persisted")
      regen(dir, 2)
      val b = sharedOr(spark, dir, "spec") {
        spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id")
      }
      assert(b.count() === na * 2, "stale shared build served after regeneration")
      assert(sharedFps(dir).size === 1,
        s"superseded generation must be evicted: ${sharedFps(dir)}")
      assert(persistedCount === before + 1,
        "the superseded generation's checkpoint blocks must be unpersisted")
    } finally {
      spark.conf.unset(SharedPipeline.key)
      // leave no cached blocks behind — DeterminismSpec's sweep-end
      // zero-blocks pin runs later in this same session
      evictSharedFor(dir)
    }
  }

  test("confBytes reads a byte conf with or without a unit suffix") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try {
      Seq("64m" -> (64L << 20), "134217728b" -> (128L << 20), "4194304" -> (4L << 20))
        .foreach { case (raw, bytes) =>
          spark.conf.set(key, raw)
          assert(graft.core.confBytes(spark, key, 1L) === bytes, raw)
        }
    } finally spark.conf.unset(key)
  }

  test("shared text and graph builds follow a regeneration of their dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_simcache_tg").toString
    // text_winnowing's top-300 rows all come from the base copy, so
    // dedup_minhash_lsh's corpus-wide count (the verified pipeline's
    // pairs) is what shows a stale text build; every LSH kernel and
    // ring-family consumer is also compared shared against unshared
    val keys = Seq("text_winnowing", "dedup_minhash_lsh", "dedup_minhash_verified",
      "dedup_keep_list", "dedup_cluster_components", "dedup_incremental",
      "dedup_minhash_est", "dedup_lsh_tuning", "graph_triangle_count",
      "dedup_semantic", "dedup_semantic_spread", "sample_diverse_cells",
      "sample_diverse_cells_spread", "sim_graph_ann", "sim_graph_ann_spread",
      "sim_graph_hnsw", "sim_graph_hnsw_spread", "sim_ann_rerank")
    val s = sharedSession()
    try {
      regen(dir, 1)
      val gen1 = keys.map(k => k -> run(s, k, dir)).toMap
      keys.foreach(k => assert(gen1(k) === run(spark, k, dir), s"$k: shared != unshared at x1"))
      regen(dir, 2)
      val gen2 = keys.map(k => k -> run(s, k, dir)).toMap
      keys.foreach(k => assert(gen2(k) === run(spark, k, dir),
        s"$k: stale shared build served after regeneration"))
      Seq("dedup_minhash_lsh", "graph_triangle_count").foreach(k =>
        assert(gen2(k) !== gen1(k), s"$k must see the x2 corpus"))
      assert(sharedFps(dir) === Seq(datasetFingerprint(dir)),
        "only the live generation may hold shared builds")
    } finally evictSharedFor(dir)
  }

  test("the shared switch is per session: only the session that sets it stores a build") {
    val s = sharedSession()
    val before = persistedCount
    try {
      val first = run(s, "graph_triangle_count", sf001)
      val stored = persistedCount
      assert(stored === before + 1, "the shared session must store one checkpointed build")
      assert(run(s, "graph_triangle_count", sf001) === first)
      assert(persistedCount === stored, "a second run must reuse the stored build")
      assert(spark.conf.getOption(SharedPipeline.key).isEmpty)
      val plain = Registry.all.toMap.apply("graph_triangle_count").fn(spark, sf001)
      assert(plain.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isEmpty,
        "a session without the switch must plan its own build")
      assert(plain.collect().map(_.toSeq).toSeq === first)
      releaseQueryCaches(spark)
      assert(persistedCount === stored, "the unshared run must leave no block behind")
    } finally evictSharedFor(sf001)
    assert(persistedCount === before)
  }
}
