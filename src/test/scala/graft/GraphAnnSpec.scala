package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Recall grade for the join-based graph ANN (VERDICT r10 next-round #3):
  * beam search over the bounded-degree kNN graph must recover AT LEAST
  * the recall of its own entry points (the 10 centroid vectors scored
  * exactly) against brute-force truth — the hops exist to walk from the
  * entry ring toward the probe's true neighborhood, so a beam that lost
  * recall vs hop-0 would mean the expansion was wired wrong (e.g.
  * frontier replacing the visited set instead of merging into it).
  */
class GraphAnnSpec extends SparkSpec {

  private def gdot(a: String, b: String) = expr(s"graft_dot($a, $b)")

  private def vecs: DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    t(spark, sf001, "embeddings").select(col("vec_id"), col("embedding"))
  }

  private def probes: DataFrame = vecs.filter(col("vec_id") < 10)
    .select(col("vec_id").as("probe"), col("embedding").as("pv"),
      sqrt(gdot("embedding", "embedding")).as("pn"))

  private def top3(cands: DataFrame): Set[(Long, Long)] = {
    val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
    broadcast(probes).join(cands, col("probe") =!= col("cand"))
      .withColumn("sim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("beam@3 recall >= entry-only@3 recall against brute-force truth") {
    val all = vecs.select(col("vec_id").as("cand"), col("embedding").as("cv"),
      sqrt(gdot("embedding", "embedding")).as("cn"))
    val gt = top3(all)
    // hop-0 baseline: the entry ring alone (the 10 centroid vectors)
    val entryOnly = top3(all.filter(col("cand") >= 480 && col("cand") < 490))
    val beam = Registry.all.toMap.apply("sim_graph_ann").fn(spark, sf001)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.releaseQueryCaches(spark)
    // the IVFADC lane's shortlist@3 — the quantized competitor the graph
    // index must beat (VERDICT r10 #3's done-criterion)
    val adc = graft.operators.SimilarityQueries.adcShortlist(spark, sf001, 3)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.releaseQueryCaches(spark)
    val entryRecall = (gt & entryOnly).size.toDouble / gt.size
    val beamRecall = (gt & beam).size.toDouble / gt.size
    val adcRecall = (gt & adc).size.toDouble / gt.size
    info(f"truth=${gt.size} entryRecall=$entryRecall%.3f adcRecall=$adcRecall%.3f beamRecall=$beamRecall%.3f")
    assert(beamRecall >= entryRecall,
      s"beam search must not lose recall vs its entry points: beam=$beamRecall entry=$entryRecall")
    assert(beamRecall >= adcRecall,
      s"graph beam must match-or-beat the ADC shortlist: beam=$beamRecall adc=$adcRecall")
    assert(beam.size === 30, s"expected 10 probes x 3: ${beam.size}")
  }

  test("hierarchical descent (sim_graph_hnsw) holds the flat beam's recall bar") {
    val all = vecs.select(col("vec_id").as("cand"), col("embedding").as("cv"),
      sqrt(gdot("embedding", "embedding")).as("cn"))
    val gt = top3(all)
    val flat = Registry.all.toMap.apply("sim_graph_ann").fn(spark, sf001)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.releaseQueryCaches(spark)
    val hnsw = Registry.all.toMap.apply("sim_graph_hnsw").fn(spark, sf001)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.releaseQueryCaches(spark)
    val adc = graft.operators.SimilarityQueries.adcShortlist(spark, sf001, 3)
      .select(col("probe"), col("cand"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.releaseQueryCaches(spark)
    val flatRecall = (gt & flat).size.toDouble / gt.size
    val hnswRecall = (gt & hnsw).size.toDouble / gt.size
    val adcRecall = (gt & adc).size.toDouble / gt.size
    info(f"truth=${gt.size} flatRecall=$flatRecall%.3f hnswRecall=$hnswRecall%.3f adcRecall=$adcRecall%.3f")
    assert(hnsw.size === 30, s"expected 10 probes x 3: ${hnsw.size}")
    assert(hnswRecall >= adcRecall,
      s"descent must match-or-beat the ADC shortlist: hnsw=$hnswRecall adc=$adcRecall")
    assert(hnswRecall >= flatRecall,
      s"the second layer exists to help, not hurt: hnsw=$hnswRecall flat=$flatRecall")
  }

  test("declared path IS the parameterized build at the oracle ring (VERDICT r13 #1)") {
    import graft.operators.SimilarityQueries
    // the assignment the declared queries consume must be bit-equal to
    // ivfAssignedAt(OracleRing) — the ring has ONE implementation
    val at = SimilarityQueries.ivfAssignedAt(spark, sf001, SimilarityQueries.OracleRing)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val declaredCells = Registry.all.toMap.apply("sample_diverse_cells").fn(spark, sf001)
      .select(col("cid"), col("members")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    graft.core.releaseQueryCaches(spark)
    val atCells = at.groupBy(_._2).map { case (cid, m) => cid -> m.size.toLong }
    assert(atCells === declaredCells,
      "declared cell populations diverge from the parameterized build at the oracle point")
  }

  test("declared keys ignore a stray graft.ann.ring property") {
    // the declared ring is a constant of the query, not a process
    // switch: a JVM-global property left behind by some other caller
    // must not move the rows the oracle grades
    def rows(key: String): Seq[Seq[Any]] = {
      val out = Registry.all.toMap.apply(key).fn(spark, sf001).collect().map(_.toSeq).toSeq
      graft.core.releaseQueryCaches(spark)
      out
    }
    val keys = Seq("sim_ivf_nprobe", "sim_graph_ann")
    val clean = keys.map(rows)
    System.setProperty("graft.ann.ring", "sqrt")
    try {
      keys.zip(clean).foreach { case (k, want) =>
        assert(want.nonEmpty, s"$k must produce rows")
        assert(rows(k) === want, s"$k moved under graft.ann.ring=sqrt")
      }
    } finally sys.props -= "graft.ann.ring"
  }

  test("spread ring (the √N production default) partitions the corpus and bounds degree") {
    import graft.operators.SimilarityQueries
    val n = vecs.count()
    val rootN = math.round(math.sqrt(n.toDouble))
    val ring = SimilarityQueries.SpreadRing(rootN)
    val members = vecs.filter(SimilarityQueries.ringPred(ring))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // hash-spread: ~N/k = ~√N centroids, and never a corpus-sized set
    assert(members.size >= rootN / 3 && members.size <= rootN * 3,
      s"spread ring badly sized: ${members.size} vs target ~$rootN")
    val assigned = SimilarityQueries.ivfAssignedAt(spark, sf001, ring)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every corpus vector lands in exactly one cell, and only ring cells
    assert(assigned.length.toLong === n)
    assert(assigned.map(_._1).distinct.length.toLong === n)
    assert(assigned.map(_._2).toSet.subsetOf(members))
    // cell population drops ∝ N/|ring| — the whole point of the knob:
    // the largest cell must be far below the 10-ring's ~N/10 average
    val maxCell = assigned.groupBy(_._2).map(_._2.size).max
    assert(maxCell < n / 10,
      s"ring did not shrink cells: max cell $maxCell of $n")
    // the fold (map-side) and aggregate (crossJoin+max_by) assignment
    // forms must be BIT-EQUAL on the same ring — the fold is the spread
    // ring's physical plan, the aggregate is the declared/oracle one
    val agg = SimilarityQueries.ivfAssignedAgg(spark, sf001, ring)
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assigned.toSet === agg,
      "fold assignment diverged from the aggregate form on the same ring")
    // …and the BROADCAST ring carrier is bit-equal to
    // both: force the size threshold to 0 so even this small ring ships
    // as an sc.broadcast handle instead of a typedLit constant
    spark.conf.set("spark.graft.ring.broadcastBytes", "0")
    try {
      val bc = SimilarityQueries.ivfAssignedAt(spark, sf001, ring)
      // the plan must carry the handle, not the ring: no literal array
      // of the ring's size may appear in the expression tree
      assert(bc.queryExecution.analyzed.toString.contains("graft_ring_argmax"),
        "threshold=0 must route assignment through the broadcast carrier")
      val got = bc.select("vec_id", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === agg,
        "broadcast-carrier assignment diverged from the aggregate form")
    } finally spark.conf.unset("spark.graft.ring.broadcastBytes")
    // the knobbed kNN build stays a valid bounded-degree graph
    val edges = SimilarityQueries.graphAnnEdges(spark, sf001, ring)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(edges.forall { case (s, d) => s != d })
    val outDeg = edges.groupBy(_._1).map(_._2.size)
    assert(outDeg.max <= 8, s"degree bound broken: ${outDeg.max}")
    // edges stay cell-local: both endpoints share the spread assignment
    val cellOf = assigned.toMap
    assert(edges.forall { case (s, d) => cellOf(s) == cellOf(d) },
      "edge crosses cells — the cell-local build leaked")
  }

  test("ring broadcast eviction keeps ALL rings of the live generation (ADVICE r16)") {
    import graft.plans.RingArgmaxCid
    val dir = "/graftspec/evict"
    def payload = RingArgmaxCid.RingPayload(Array(1L), Array(Array(1f)), Array(1.0))
    def mk() = spark.sparkContext.broadcast(payload)
    var built = 0
    def get(key: String) = RingArgmaxCid.getOrBroadcast(key) { built += 1; mk() }
    // two rings of the SAME generation — one a name-prefix of the other
    // (the old startsWith(keep) over-keep shape)
    val a = get(s"$dir#fp1#ring")
    val b = get(s"$dir#fp1#ring2")
    assert(built === 2)
    // evicting at the live fingerprint must keep BOTH: alternating the
    // session and spread rings must not re-broadcast on every switch
    RingArgmaxCid.evict(dir, liveFp = "fp1")
    assert(get(s"$dir#fp1#ring") eq a)
    assert(get(s"$dir#fp1#ring2") eq b)
    assert(built === 2, "live-generation ring was evicted and rebuilt")
    // a new generation supersedes: both fp1 rings drop, fp2 builds fresh
    val c = get(s"$dir#fp2#ring")
    RingArgmaxCid.evict(dir, liveFp = "fp2")
    assert(get(s"$dir#fp2#ring") eq c)
    assert(built === 3)
    get(s"$dir#fp1#ring")
    assert(built === 4, "superseded-generation ring survived eviction")
    RingArgmaxCid.evict(dir, liveFp = "none") // leave no spec entries behind
  }
}
