package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MinHash/SimHash/Similarity library functions (xxhash64 fast path). */
class DedupFunctionsSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different text about spark engines here"),
    (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
  ).toDF("doc_id", "text")

  test("minhash LSH surfaces the exact dup and near-dup pairs, not the unrelated doc") {
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact dup must collide in every band")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("hot-band cap: recall unchanged above the max bucket, quadratic cliques dropped") {
    // fixture corpus + a 30-doc clique of identical boilerplate — the
    // mega-bucket failure mode the cap exists for
    val clique = (100L until 130L).map(i =>
      (i, "identical boilerplate header repeated on every single page"))
    val corpus = docs.union(clique.toDF("doc_id", "text"))

    val uncapped = MinHash.candidatePairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a cap ABOVE every bucket size (clique of 30 → bucket 30) is a no-op:
    // candidate recall is unchanged on the fixture corpus
    val capHigh = MinHash.candidatePairs(corpus, "doc_id", "text", maxBandSize = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capHigh === uncapped, "non-binding cap must not change candidates")

    // a binding cap removes exactly the clique's quadratic pair burst and
    // nothing else (the fixture's organic pairs all sit in buckets ≤ 3)
    val capped = MinHash.candidatePairs(corpus, "doc_id", "text", maxBandSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cliquePairs = uncapped.filter(p => p._1 >= 100L && p._2 >= 100L)
    assert(cliquePairs.size === 30 * 29 / 2, "clique collides in every band")
    assert(capped === uncapped -- cliquePairs,
      "cap must drop only the over-cap clique bucket")
  }

  test("capBands leaves no bucket above the cap") {
    val keyed = (0L until 40L).map(i => (i, if (i < 35) "hot" else s"cold$i"))
      .toDF("id", "band")
    Seq(1, 5, 34, 35, 100).foreach { cap =>
      val sizes = MinHash.capBands(keyed, "band", cap)
        .groupBy("band").count().select("count").collect().map(_.getLong(0))
      assert(sizes.forall(_ <= cap), s"bucket above cap=$cap survived")
    }
    // Int.MaxValue short-circuits to the input plan
    assert(MinHash.capBands(keyed, "band", Int.MaxValue).count() === 40L)
  }

  test("identical docs have identical signatures; jaccard verifies candidates") {
    val sigs = docs.withColumn("sig", MinHash.signature(MinHash.shingles(col("text")), 16))
      .select("doc_id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) === sigs(3L))
    val ja = docs.as("a").join(docs.as("b"),
        col("a.doc_id") === 0 && col("b.doc_id") === 3)
      .select(MinHash.jaccard(
        array_distinct(MinHash.shingles(col("a.text"))),
        array_distinct(MinHash.shingles(col("b.text")))))
      .collect().head.getDouble(0)
    assert(ja === 1.0)
  }

  test("simhash: exact dup distance 0, near-dup closer than unrelated") {
    val sh = docs.withColumn("sh", MinHash.simhash64(col("text")))
      .select("doc_id", "sh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(dist(0, 3) === 0)
    assert(dist(0, 1) < dist(0, 2))
  }

  test("simhashPairs: banded join finds near-dups; hot-band cap bounds a mega-cluster") {
    val pairs = MinHash.simhashPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact dup is hamming 0 — must pair")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")

    // mega-cluster: 150 identical docs share ALL four bands → ~4·K²/2 join
    // rows uncapped. The cap drops those buckets entirely (they're exact-dup
    // cliques, already established by hash dedup) and keeps the long tail.
    val clique = (1000L until 1150L).map(i =>
      (i, "identical boilerplate header repeated on every single page"))
    val corpus = docs.union(clique.toDF("doc_id", "text"))
    val capped = MinHash.simhashPairs(corpus, "doc_id", "text", maxBandSize = 100)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cappedPairs.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      "over-cap clique buckets must be dropped")
    assert(cappedPairs.contains((0L, 3L)), "long-tail pairs survive the cap")
    // the bound the cap buys: band-join row count stays under cap²·bands
    // instead of clique² (150·149/2 ≈ 11k pairs from the clique alone)
    val uncapped = MinHash.simhashPairs(corpus, "doc_id", "text").count()
    assert(uncapped >= 150L * 149 / 2, "uncapped mega-cluster goes quadratic")
    assert(capped.count() < 100L, "capped join row count is bounded")
  }

  test("codegen simhash64 is bit-identical to the 64-filter declarative form on real docs") {
    graft.plans.GraftExtensions.install(spark)
    val d = graft.core.t(spark, sf001, "documents")
    val diff = d.select(
        MinHash.simhash64(col("text")).as("slow"),
        MinHash.simhash64Fast(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff === 0L, "single-pass expression must match the filter form bit-for-bit")
    // the majority-vote law on a hand-checkable array: {7,7,8} → bits
    // 0-2 carry 2/3 votes (set), bit 3 carries 1/3 (clear) → 7
    val row = spark.sql(
      "SELECT graft_simhash64(array(7L, 7L, 8L)) AS a").collect().head.getLong(0)
    assert(row === 7L, "majority vote of {7,7,8} is 7")
  }

  test("codegen minhash64 matches the aggregate min(xxhash64(i,h)) form lane-for-lane") {
    graft.plans.GraftExtensions.install(spark)
    val k = 8
    val toks = graft.core.t(spark, sf001, "documents")
      .select(col("doc_id"),
        expr("transform(array_distinct(split(text, ' ')), w -> xxhash64(lang, w))")
          .as("toks"))
    val fast = toks.select(col("doc_id"),
      graft.plans.MinHash64D.minhash64(col("toks"), k).as("mh"))
    // the form the routed-dedup key used before the expression: explode
    // to token rows, k aggregate mins — the seed-chain contract is that
    // the expression reproduces it bit-for-bit on every lane
    val slow = toks.select(col("doc_id"), explode(col("toks")).as("h"))
      .groupBy("doc_id")
      .agg(array((0 until k).map(i => min(xxhash64(lit(i), col("h")))): _*).as("mh2"))
    val diff = fast.join(slow, "doc_id")
      .filter(col("mh") =!= col("mh2")).count()
    assert(diff === 0L, "expression must match the aggregate form on every doc")
    // fold identity: an empty array yields Long.MaxValue in every lane
    val empty = spark.sql(
      "SELECT graft_minhash64(CAST(array() AS ARRAY<BIGINT>), 3) AS mh")
      .collect().head.getSeq[Long](0)
    assert(empty === Seq.fill(3)(Long.MaxValue), "empty array is the fold identity")
  }

  test("cosine: orthogonal 0, identical 1, library matches manual fold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val sims = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims((0L, 1L)) === 0.0)
    assert(sims((0L, 2L)) === 1.0)
  }

  test("fastDot is bit-identical to the declarative fold on real embeddings") {
    graft.plans.GraftExtensions.install(spark)
    val e = graft.core.t(spark, sf001, "embeddings")
    val diff = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < 50 && col("b.vec_id") < 50)
      .select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("slow"),
        Similarity.fastDot(col("a.embedding"), col("b.embedding")).as("fast"))
      .filter(col("slow") =!= col("fast")) // exact IEEE equality, no epsilon
      .count()
    assert(diff === 0L, "codegen dot must match the fold bit-for-bit")
  }

  test("brute-force topk and lsh bucketing run on real embeddings") {
    val e = graft.core.t(spark, sf001, "embeddings")
    val bf = Similarity.bruteForceTopK(e.filter(col("vec_id") < 3), e, k = 2).collect()
    assert(bf.length === 6) // 3 probes × k=2
    val hp = e.filter(col("vec_id") < 4)
    val buckets = Similarity.lshBuckets(e, hp).select("bucket").distinct().count()
    assert(buckets > 1 && buckets <= 16)
  }

  test("multi-table LSH: recall@3 measured vs brute-force truth, above floor and >= single-table") {
    val e = graft.core.t(spark, sf001, "embeddings")
    val probeF = col("vec_id") < 20
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(Similarity.bruteForceTopK(e.filter(probeF), e, k = 3))
    // 3 independent tables of 4 hyperplanes each, drawn deterministically
    // from disjoint vec_id ranges of the corpus itself.
    val tables = (0 until 3).map(i =>
      e.filter(col("vec_id") >= i * 4 && col("vec_id") < (i + 1) * 4))
    def recall(hit: Set[(Long, Long)]): Double =
      hit.intersect(truth).size.toDouble / truth.size
    val single = recall(pairSet(Similarity.lshTopK(e, tables.head, probeF, k = 3)))
    val multi = recall(pairSet(Similarity.lshTopKMulti(e, tables, probeF, k = 3)))
    info(f"recall@3 single-table=$single%.3f multi-table=$multi%.3f")
    assert(multi >= single, "adding tables must never lose recall")
    assert(multi >= 0.5, f"multi-table recall@3 $multi%.3f below floor 0.5")
  }

  test("text analysis: trigram score and rolling fingerprint are stable and discriminative") {
    val scored = docs.select(col("doc_id"),
      TextAnalysis.trigramScore(col("text"), Seq("the", "he ", "qui")).as("s"),
      TextAnalysis.rollingFingerprint(col("text")).as("fp")).collect()
    val byId = scored.map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(byId(0L)._2 === byId(3L)._2, "identical docs → identical fingerprint")
    assert(byId(0L)._2 !== byId(1L)._2, "order-sensitive fingerprint differs on near-dup")
    assert(byId(0L)._1 > byId(2L)._1, "'the quick' text scores higher on its trigrams")
    // the score reads its argument, not a column that happens to be named `text`
    val viaBody = docs.select(col("doc_id"), col("text").as("body"))
      .select(col("doc_id"),
        TextAnalysis.trigramScore(col("body"), Seq("the", "he ", "qui")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaBody === byId.map { case (id, (s, _)) => id -> s })
  }

  test("winnowing: shared >= gram+window-1 word runs guarantee a shared fingerprint") {
    // doc 10 embeds doc 0's full 9-word sentence inside unrelated padding;
    // the MOSS guarantee says any shared run of >= 3+4-1 = 6 words yields
    // at least one shared winnowed minimum, at ~1/4 full-gram density.
    val corpus = docs.union(Seq(
      (10L, "padding words before the quick brown fox jumps over the lazy dog and after too"),
      (11L, "nothing in common with anything else at all whatsoever truly")
    ).toDF("doc_id", "text"))
    val fps = corpus.select(col("doc_id"),
      TextAnalysis.winnow("text").as("fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L) === fps(3L), "identical docs → identical fingerprint sets")
    assert((fps(0L) & fps(10L)).nonEmpty, "embedded 9-word run must share a fingerprint")
    assert((fps(0L) & fps(11L)).isEmpty, "unrelated docs must not collide")
    // density: winnowed set is never larger than the gram count
    val nGrams = corpus.filter(col("doc_id") === 0L)
      .select(size(split(col("text"), " "))).collect()(0).getInt(0) - 2
    assert(fps(0L).size <= nGrams)
  }

  test("winnowing: sub-window docs yield NO fingerprints, not junk (ADVICE r07)") {
    // gram=3, window=4 → minimum meaningful length is 6 words; anything
    // shorter has no full window and must map to an empty set, matching
    // the declared text_winnowing query's size(w) >= 6 filter.
    val shorts = Seq(
      (20L, ""), (21L, "one"), (22L, "one two"), (23L, "one two three"),
      (24L, "one two three four five"),
      (25L, "one two three four five six")).toDF("doc_id", "text")
    val fps = shorts.select(col("doc_id"), TextAnalysis.winnow("text").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (20L to 24L).foreach { id =>
      assert(fps(id).isEmpty, s"doc $id is shorter than gram+window-1, must have no fingerprints")
    }
    assert(fps(25L).nonEmpty, "a doc at exactly gram+window-1 words has one full window")
  }

  test("sorted-intersect kernel equals array_intersect size on real sorted token sets") {
    graft.plans.GraftExtensions.install(spark)
    // the producer contract of dedup_jaccard_prefix: per-doc DISTINCT
    // token hashes, array_sort'd — compare the merge-walk kernel against
    // the built-in on every same-lang doc pair of the real table
    val toks = graft.core.t(spark, sf001, "documents")
      .select(col("doc_id"), col("lang"),
        array_sort(expr(
          "transform(array_distinct(split(text, ' ')), w -> xxhash64(lang, w))"))
          .as("toks"))
    val diff = toks.as("a").join(toks.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(
        size(array_intersect(col("a.toks"), col("b.toks"))).as("slow"),
        graft.plans.SortedIntersectD.sortedIntersect(col("a.toks"), col("b.toks"))
          .as("fast"))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff === 0L, "merge-walk intersect must equal array_intersect size")
    // empty/disjoint edges
    import spark.implicits._
    val edge = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))).toDF("x", "y")
      .select(graft.plans.SortedIntersectD.sortedIntersect(col("x"), col("y")).as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(edge === Seq(0, 0, 3))
  }
}
