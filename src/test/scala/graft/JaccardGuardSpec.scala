package graft

import org.apache.spark.sql.functions._

/** The dedup_jaccard_prefix routing guard: "corpus² loads belong on
  * the LSH lane" as executable code, not prose. The guard measures the
  * exact candidate load the prefix index implies (Σ_band c·(c−1)/2 per
  * document) BEFORE the pair join launches and refuses past
  * `graft.jaccard.maxPairsPerDoc` (default 4096). Each measurement is
  * published on the `graft.jaccard.density.*` gauges.
  */
class JaccardGuardSpec extends SparkSpec {

  private val fn = Registry.all.toMap.apply("dedup_jaccard_prefix").fn

  private val densityGauges = Seq("avg", "hot", "docs", "candidates", "cap")
  /** A value no measurement produces: a gauge still holding it was not set. */
  private val Unset = -1L
  private def resetDensity(): Unit =
    densityGauges.foreach(n => graft.core.setGauge(spark, s"graft.jaccard.density.$n", Unset))
  private def density(n: String): Long =
    graft.core.gauge(spark, s"graft.jaccard.density.$n").value

  /** A boilerplate-degenerate corpus: `docs` identical documents of
    * `toks` distinct tokens each. Every prefix band is shared by every
    * document, so candidate pairs/doc = (docs−1)/2 · plen — the exact
    * shape the guard exists to refuse.
    */
  private def denseFixture(docs: Int, toks: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("jaccard_dense").toString
    val text = (0 until toks).map(i => s"tok$i").mkString(" ")
    import spark.implicits._
    (0 until docs)
      .map(i => (i.toLong, text, "en", "synthetic", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("guard trips on a dense corpus with an explicit route-to-LSH error") {
    // 400 identical docs × 300 tokens: plen = 300 − ⌈300·0.89⌉ + 1 = 34
    // shared bands → (399/2)·34 ≈ 6.8k candidate pairs/doc > 4096
    resetDensity()
    val dir = denseFixture(docs = 400, toks = 300)
    val e = intercept[IllegalStateException] { fn(spark, dir) }
    graft.core.releaseQueryCaches(spark)
    assert(e.getMessage.contains("dedup_minhash_lsh"),
      s"refusal must name the approximate lane: ${e.getMessage}")
    assert(e.getMessage.contains("graft.jaccard.maxPairsPerDoc"),
      s"refusal must name the budget knob: ${e.getMessage}")
    // the gauges record the measurement even on the refused path
    assert(density("avg") > 4096, "avg gauge must record the over-budget density")
    assert(density("hot") != Unset && density("hot") >= 0,
      s"hot gauge must record the refused measurement: ${density("hot")}")
    assert(density("docs") === 400L)
    assert(density("cap") === 4096L)
  }

  test("guard stays silent on the declared corpus and leaves results intact") {
    // sf0.001 measures ~10² candidate pairs/doc — far inside the budget;
    // the declared key must build and produce its oracle-checked shape
    resetDensity()
    val out = fn(spark, sf001).select("d1", "d2", "ja").collect()
    graft.core.releaseQueryCaches(spark)
    assert(out.nonEmpty, "declared query must still produce pairs")
    assert(out.forall(_.getDouble(2) >= 0.9))
    // telemetry on the HEALTHY path: operators see how close the corpus
    // sits to the routing threshold before it ever trips
    assert(density("cap") === 4096L, "cap gauge must be readable on the healthy path")
    val avg = density("avg")
    assert(avg >= 0 && avg <= 4096, s"declared corpus density out of range: $avg")
    assert(density("hot") >= 0 && density("candidates") >= 0)
    assert(density("docs") > 0)
  }

  test("hot-band gate: one boilerplate band trips the guard past a sparse average") {
    // 60 identical docs (one hot band family: each member faces 59 exact
    // comparisons) diluted by 1300 all-unique docs. Under cap=50 the
    // corpus AVERAGE stays inside budget (~44 pairs/doc) while the
    // hottest band's per-member load (59) exceeds it — the single-hot-
    // band blind spot of an average-only gate.
    val dir = java.nio.file.Files.createTempDirectory("jaccard_hot").toString
    val hotText = (0 until 300).map(i => s"tok$i").mkString(" ")
    import spark.implicits._
    val hot = (0 until 60).map(i => (i.toLong, hotText))
    val filler = (0 until 1300).map(i =>
      ((1000 + i).toLong, (0 until 20).map(j => s"u${i}x$j").mkString(" ")))
    (hot ++ filler)
      .map { case (id, txt) => (id, txt, "en", "synthetic", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    System.setProperty("graft.jaccard.maxPairsPerDoc", "50")
    try {
      val e = intercept[IllegalStateException] { fn(spark, dir) }
      graft.core.releaseQueryCaches(spark)
      assert(e.getMessage.contains("hottest prefix band"),
        s"refusal must name the hot-band gate: ${e.getMessage}")
      assert(e.getMessage.contains("dedup_minhash_lsh"))
      val (avg, hotG) = (density("avg"), density("hot"))
      assert(avg >= 0 && avg <= 50, s"fixture must keep the average inside budget: $avg")
      assert(hotG === 59, s"hottest band load must be the 60-doc clique: $hotG")
    } finally sys.props -= "graft.jaccard.maxPairsPerDoc"
  }

  test("core.planOnly suppresses the guard's eager probe jobs, scoped per call stack") {
    // PlanAudit --explain builds the DataFrame only to print its plan;
    // the guard must not launch real Spark jobs on that path. Proxy: the
    // gauges (set by the probe) keep a sentinel. The flag is a
    // DynamicVariable: it cannot leak past withValue, and a concurrent
    // thread sees its own (false) binding.
    resetDensity()
    // an INDEPENDENT thread (created OUTSIDE the binding, like another
    // harness worker already running) must see its own false binding,
    // which a process-global property would not give it.
    // (A thread spawned INSIDE the scope inherits it — DynamicVariable
    // is an InheritableThreadLocal — which is the right call-stack
    // semantic for helper threads the audited build itself forks.)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    pool.submit(new Runnable { def run(): Unit = () }).get() // materialize the worker NOW
    try {
      graft.core.planOnly.withValue(true) {
        val df = fn(spark, sf001) // builds the full plan, no guard jobs
        assert(df.schema.fieldNames.sameElements(Array("d1", "d2", "ja")))
        densityGauges.foreach { n =>
          assert(density(n) === Unset, s"plan-only build must not execute the density probe ($n)")
        }
        val other = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = graft.core.planOnly.value
        }).get(5, java.util.concurrent.TimeUnit.SECONDS)
        assert(!other, "planOnly must be call-stack-scoped, not process-global")
      }
      assert(!graft.core.planOnly.value, "flag must not leak past withValue")
    } finally {
      pool.shutdownNow()
      graft.core.releaseQueryCaches(spark)
    }
  }

  test("budget knob: explicit raise admits the dense corpus, 0 disables the guard") {
    val dir = denseFixture(docs = 60, toks = 300)
    // 60 identical docs: (59/2)·34 ≈ 1k pairs/doc — inside the default
    // budget, so the exact lane ACCEPTS it and finds every pair
    val pairs = fn(spark, dir).collect()
    graft.core.releaseQueryCaches(spark)
    assert(pairs.length === 300, // limit(300) of 60·59/2 = 1770 ja=1.0 pairs
      s"moderately dense corpus must still run exactly: ${pairs.length}")
    // and the same corpus trips under a tightened budget…
    System.setProperty("graft.jaccard.maxPairsPerDoc", "100")
    try {
      intercept[IllegalStateException] { fn(spark, dir) }
      graft.core.releaseQueryCaches(spark)
      // …while 0 disables the guard entirely
      System.setProperty("graft.jaccard.maxPairsPerDoc", "0")
      assert(fn(spark, dir).limit(1).collect().nonEmpty)
      graft.core.releaseQueryCaches(spark)
    } finally sys.props -= "graft.jaccard.maxPairsPerDoc"
  }

  test("routed twin: the decision fires the LSH branch on the declared corpus; both branches agree") {
    // dedup_jaccard_routed IS the routed outcome: its
    // budget (64 pairs/doc) sits below the declared corpora's measured
    // density, so the guard decision must come out "lsh" — and the LSH
    // candidates + exact verify must land on the exact lane's rows.
    val routedFn = Registry.all.toMap.apply("dedup_jaccard_routed").fn
    val viaLsh = routedFn(spark, sf001).collect().map(_.toSeq).toSeq
    graft.core.releaseQueryCaches(spark)
    // the decision is a named-accumulator gauge (no
    // JVM-global property): 1 = LSH branch, 0 = exact
    assert(graft.core.gauge(spark, "graft.jaccard.routed.decision").value === 1L,
      "declared corpus density must route the twin onto the LSH branch")
    assert(graft.core.gauge(spark, "graft.jaccard.routed.avg").value > 64L,
      "routed gauge must record the over-budget density")
    // sf0.001's top-300 still holds sub-1.0 pairs (97 ja=1.0 rows), so
    // the saturation short-circuit must NOT fire — the full
    // LSH+verify+expand pipeline is what this oracle SF exercises
    assert(graft.core.gauge(spark, "graft.jaccard.routed.saturated").value === 0L,
      "an unsaturated head must run the full LSH branch")
    val exact = fn(spark, sf001).collect().map(_.toSeq).toSeq
    graft.core.releaseQueryCaches(spark)
    assert(viaLsh === exact,
      "LSH-routed pairs must equal the exact lane's pairs at j >= 0.9")
    // an explicit budget raise flips the decision to the exact branch —
    // same rows either way (the oracle cannot tell the branches apart)
    System.setProperty("graft.jaccard.routed.budget", Long.MaxValue.toString)
    try {
      val viaExact = routedFn(spark, sf001).collect().map(_.toSeq).toSeq
      graft.core.releaseQueryCaches(spark)
      assert(graft.core.gauge(spark, "graft.jaccard.routed.decision").value === 0L,
        "a raised budget must flip the decision to the exact branch")
      assert(viaExact === viaLsh)
    } finally sys.props -= "graft.jaccard.routed.budget"
  }

  test("saturation short-circuit: a limit-saturated corpus answers from the group relation alone") {
    // 60 identical docs = one representative group with 60·59/2 = 1770
    // intra (ja = 1.0) pairs ≥ the declared top-300, so the routed lane
    // must answer LINEARLY — no banding, no candidate join, no verify —
    // and still land on the exact lane's rows bit-for-bit (every intra
    // pair outranks every cross pair in the (ja DESC, d1, d2) order).
    val routedFn = Registry.all.toMap.apply("dedup_jaccard_routed").fn
    val dir = denseFixture(docs = 60, toks = 300)
    val viaRouted = routedFn(spark, dir).collect().map(_.toSeq).toSeq
    graft.core.releaseQueryCaches(spark)
    assert(graft.core.gauge(spark, "graft.jaccard.routed.decision").value === 1L,
      "an all-identical corpus must route onto the LSH branch")
    assert(graft.core.gauge(spark, "graft.jaccard.routed.saturated").value === 1L,
      "1770 intra pairs must saturate the declared top-300")
    assert(viaRouted.length === 300 && viaRouted.forall(_.apply(2) === 1.0))
    val exact = fn(spark, dir).collect().map(_.toSeq).toSeq
    graft.core.releaseQueryCaches(spark)
    assert(viaRouted === exact,
      "the short-circuited answer must equal the exact lane's rows")
  }

  test("saturation short-circuit refuses huge-token corpora where pround could lift a cross pair to 1.0") {
    // pround(ja, 4) rounds a NON-identical pair up to 1.0
    // once |union| ≥ 20000 (1 − 1/20000 = 0.99995 rounds to 1.0), so a
    // cross pair could displace intra pairs from the top-300 and the
    // intra-only short-circuit would be unsound. The guard is 2·max_n <
    // 20000. Fixture: 30 identical docs of 10000 distinct tokens each —
    // 435 intra pairs saturate the top-300, but max_n = 10000 puts
    // 2·max_n AT the boundary, so the short-circuit must REFUSE and the
    // full LSH+verify+expand pipeline must still produce the exact rows.
    val routedFn = Registry.all.toMap.apply("dedup_jaccard_routed").fn
    val dir = denseFixture(docs = 30, toks = 10000)
    val viaRouted = routedFn(spark, dir).collect().map(_.toSeq).toSeq
    graft.core.releaseQueryCaches(spark)
    assert(graft.core.gauge(spark, "graft.jaccard.routed.decision").value === 1L,
      "an all-identical corpus must route onto the LSH branch")
    assert(graft.core.gauge(spark, "graft.jaccard.routed.saturated").value === 0L,
      "the token-size guard must refuse the short-circuit at 2*max_n >= 20000")
    assert(viaRouted.length === 300 && viaRouted.forall(_.apply(2) === 1.0))
    // the exact lane needs its density budget raised on this fixture
    // ((29/2)·1101 shared-prefix pairs/doc > 4096) — same rows either way
    System.setProperty("graft.jaccard.maxPairsPerDoc", "0")
    try {
      val exact = fn(spark, dir).collect().map(_.toSeq).toSeq
      graft.core.releaseQueryCaches(spark)
      assert(viaRouted === exact,
        "the guarded full pipeline must still equal the exact lane's rows")
    } finally sys.props -= "graft.jaccard.maxPairsPerDoc"
  }
}
