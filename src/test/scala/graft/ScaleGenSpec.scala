package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Invariants of the round-12 scale generator (SCALE.md's measurement
  * tool): if these laws break, the measured cost curves are curves of
  * the wrong workload. Checked at M=3 over sf0.001 so the suite stays
  * fast; the laws are size-independent.
  */
class ScaleGenSpec extends SparkSpec {

  private lazy val out: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sgen").toString
    // the production entry point, on this session — the spec pins what
    // ScaleGen actually writes, not a re-implementation
    ScaleGen.scaleInto(spark, sf001, dir, 3)
    dir
  }

  test("row counts scale by exactly M; dims are fixed points") {
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        val base = spark.read.parquet(s"$sf001/$t.parquet").count()
        val big = spark.read.parquet(s"$out/$t.parquet").count()
        assert(big === base * 3, s"$t: $big != 3 x $base")
      }
    Seq("region", "nation").foreach { t =>
      assert(spark.read.parquet(s"$out/$t.parquet").count() ===
        spark.read.parquet(s"$sf001/$t.parquet").count(), s"$t must not scale")
    }
  }

  test("keys never collide across copies and FK joins stay consistent") {
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    assert(ord.select("o_orderkey").distinct().count() === ord.count(),
      "order keys must stay unique after shifting")
    // every lineitem still has its parent order (FKs shifted together)
    val orphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").count()
    assert(orphans === 0L, s"$orphans orphaned lineitems")
    val cust = spark.read.parquet(s"$out/customer.parquet")
    val custOrphans = ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").count()
    assert(custOrphans === 0L, s"$custOrphans orphaned orders")
  }

  test("documents: within-copy dup structure preserved, zero cross-copy shingle overlap") {
    val base = spark.read.parquet(s"$sf001/documents.parquet")
    val big = spark.read.parquet(s"$out/documents.parquet")
    // exact-dup group histogram scales linearly: every copy reproduces
    // the base corpus's digest groups, none merge across copies
    def hist(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(md5(col("text"))).count()
        .groupBy("count").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hb = hist(base)
    val hg = hist(big)
    assert(hg === hb.map { case (sz, n) => sz -> n * 3 },
      s"dup-group histogram must scale linearly: $hb vs $hg")
    // cross-copy token overlap is zero (the ~k suffix): vocabulary
    // grows by exactly M-fold minus nothing shared
    val vb = base.select(explode(split(col("text"), " "))).distinct().count()
    val vg = big.select(explode(split(col("text"), " "))).distinct().count()
    assert(vg === vb * 3, s"vocab must triple: $vb -> $vg")
    // n_chars stays consistent with the rewritten text
    val bad = big.filter(length(col("text")).cast("long") =!= col("n_chars")).count()
    assert(bad === 0L, "n_chars out of sync with text")
  }

  test("embeddings: rotation is an isometry (norms preserved, copies decorrelated)") {
    graft.plans.GraftExtensions.install(spark)
    val base = spark.read.parquet(s"$sf001/embeddings.parquet")
    val big = spark.read.parquet(s"$out/embeddings.parquet")
    assert(big.filter(size(col("embedding")) =!= 64).count() === 0L)
    // per-copy norm multiset identical to the base corpus's
    def norms(df: org.apache.spark.sql.DataFrame) =
      df.select(pround(sqrt(expr("graft_dot(embedding, embedding)")), 4).as("n"))
        .groupBy("n").count().collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    val nb = norms(base)
    val ng = norms(big)
    assert(ng === nb.map { case (n, c) => n -> c * 3 },
      "rotation must preserve the norm multiset per copy")
    // a vector and its rotated copy are NOT near-duplicates: cosine of
    // copy-0 vs copy-1 of the same base id stays well below 0.99
    val a = big.filter(col("vec_id") < 100)
      .select(col("vec_id").as("id"), col("embedding").as("va"))
    val b = big.filter(col("vec_id") >= 10000000L && col("vec_id") < 10000100L)
      .select((col("vec_id") - 10000000L).as("id"), col("embedding").as("vb"))
    val worst = a.join(b, "id")
      .select(max(expr("graft_dot(va, vb)") /
        (sqrt(expr("graft_dot(va, va)")) * sqrt(expr("graft_dot(vb, vb)")))))
      .head.getDouble(0)
    assert(worst < 0.99, f"cross-copy twin cosine $worst%.4f — copies must decorrelate")
  }
}
