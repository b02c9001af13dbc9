package graft.functions

import java.nio.file.Paths
import graft.SparkSpec
import graft.operators.TextQueries
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The dedup and similarity kernels the declared keys run: each codegen
  * expression against its declarative reference, the hot-band cap, and
  * the winnowing laws of `text_winnowing`'s fingerprint pass.
  */
class DedupFunctionsSpec extends SparkSpec {

  import spark.implicits._

  /** The w-bit SimHash majority vote over `hs` as one `filter` pass per
    * bit, the form the DuckDB oracle of the SimHash keys spells. */
  private def voteReference(hs: Column, w: Int): Column =
    (0 until w).map { b =>
      when(lit(2) * size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
        > size(hs), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** `text_winnowing`'s per-doc fingerprint sets over a `documents`
    * table of `docs`, written to a temp dir. */
  private def winnowed(docs: Seq[(Long, String)]): Map[Long, (Int, Set[Long])] =
    withTempDir("graft_winnow") { dir =>
      docs.toDF("doc_id", "text").write.parquet(Paths.get(dir, "documents.parquet").toString)
      TextQueries.winnowedDocs(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Long](2).toSet)).toMap
    }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different text about spark engines here"),
    (3L, "the quick brown fox jumps over the lazy dog")  // exact dup of 0
  )

  test("capBands leaves no bucket above the cap") {
    // a 150-row hot bucket, one exactly at the cap of 100, and 20 singletons
    val keyed = ((0L until 150L).map(i => (i, "hot")) ++
      (150L until 250L).map(i => (i, "edge")) ++
      (250L until 270L).map(i => (i, s"cold$i"))).toDF("id", "band")
    val sizes = TextQueries.capBands(keyed, "band")
      .groupBy("band").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ <= 100), s"bucket above the cap survived: $sizes")
    assert(!sizes.contains("hot"), "the over-cap bucket must be dropped whole")
    assert(sizes.get("edge").contains(100L), "a bucket at the cap is kept whole")
    assert(sizes.size === 21, "every under-cap bucket survives")
  }

  test("codegen simhash64 is bit-identical to the 64-filter declarative form on real docs") {
    val hs = graft.core.t(spark, sf001, "documents")
      .select(transform(split(col("text"), " "), w => xxhash64(w)).as("hs"))
    val diff = hs.select(
        voteReference(col("hs"), 64).as("slow"),
        call_function("graft_simhash64", col("hs")).as("fast"))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff === 0L, "single-pass expression must match the filter form bit-for-bit")
    // the majority-vote law on a hand-checkable array: {7,7,8} → bits
    // 0-2 carry 2/3 votes (set), bit 3 carries 1/3 (clear) → 7
    val row = spark.sql(
      "SELECT graft_simhash64(array(7L, 7L, 8L)) AS a").collect().head.getLong(0)
    assert(row === 7L, "majority vote of {7,7,8} is 7")
  }

  test("the SimHash keys' masked graft_simhash64 equals the w-bit filter vote at w = 16 and 60") {
    // full-range longs, 60-bit word hashes (the keys' domain) and tiny
    // values, which make exact ties (a strict majority clears a tied bit)
    graft.plans.GraftExtensions.install(spark)
    val elem = Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(0L, (1L << 60) - 1), Gen.choose(0L, 3L))
    val edges: Seq[Option[Seq[Long]]] =
      Seq(Some(Nil), Some(Seq(5L)), Some(Seq(-1L)), Some(Seq(1L, 2L)), None)
    val prop = Prop.forAllNoShrink(Gen.listOfN(50, Gen.listOf(elem))) { arrays =>
      val df = (edges ++ arrays.map(Some(_))).toDF("hs")
      Seq(16, 60).forall { w =>
        df.select(TextQueries.simhash(w).as("fast"), voteReference(col("hs"), w).as("slow"))
          .filter(col("fast") =!= col("slow")).isEmpty
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
    // a null array reads 0, as the declarative vote over a null text does
    val nul = Seq(Option.empty[Seq[Long]]).toDF("hs")
      .select(TextQueries.simhash(60)).head().getLong(0)
    assert(nul === 0L)
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

  test("fastDot is bit-identical to the declarative fold on real embeddings") {
    // graft_dot against the sequential double fold it replaces
    val e = graft.core.t(spark, sf001, "embeddings")
    val diff = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < 50 && col("b.vec_id") < 50)
      .select(
        aggregate(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
          .as("slow"),
        call_function("graft_dot", col("a.embedding"), col("b.embedding")).as("fast"))
      .filter(col("slow") =!= col("fast")) // exact IEEE equality, no epsilon
      .count()
    assert(diff === 0L, "codegen dot must match the fold bit-for-bit")
  }

  test("winnowing: shared >= gram+window-1 word runs guarantee a shared fingerprint") {
    // doc 10 embeds doc 0's full 9-word sentence inside unrelated padding;
    // the MOSS guarantee says any shared run of >= 3+4-1 = 6 words yields
    // at least one shared winnowed minimum, at ~1/4 full-gram density.
    val fps = winnowed(docs ++ Seq(
      (10L, "padding words before the quick brown fox jumps over the lazy dog and after too"),
      (11L, "nothing in common with anything else at all whatsoever truly")))
    assert(fps(0L) === fps(3L), "identical docs → identical fingerprint sets")
    assert((fps(0L)._2 & fps(10L)._2).nonEmpty, "embedded 9-word run must share a fingerprint")
    assert((fps(0L)._2 & fps(11L)._2).isEmpty, "unrelated docs must not collide")
    // density: the winnowed set is never larger than the gram count
    val (nGrams, set0) = fps(0L)
    assert(nGrams === 7 && set0.size <= nGrams)
  }

  test("winnowing: sub-window docs yield NO fingerprints, not junk (ADVICE r07)") {
    // gram=3, window=4 → minimum meaningful length is 6 words; anything
    // shorter has no full window, so text_winnowing drops it
    val fps = winnowed(Seq(
      (20L, ""), (21L, "one"), (22L, "one two"), (23L, "one two three"),
      (24L, "one two three four five"),
      (25L, "one two three four five six")))
    (20L to 24L).foreach { id =>
      assert(!fps.contains(id), s"doc $id is shorter than gram+window-1, must have no fingerprints")
    }
    assert(fps(25L)._2.nonEmpty, "a doc at exactly gram+window-1 words has one full window")
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
