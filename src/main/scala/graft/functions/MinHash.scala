package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-optimized MinHash + LSH and SimHash over document text — the
  * production forms of the oracle-checked dedup_minhash_lsh/dedup_simhash
  * queries (those use portable md5 hashing for cross-engine parity; these
  * use xxhash64, which stays in whole-stage codegen).
  *
  * Pipeline shape at 100 TB: signatures and band keys are computed
  * map-side (array HOFs, no shuffle); the only shuffle is the band-key
  * self-join, whose key space is tiny compared to the corpus; candidate
  * pairs then get verified with exact Jaccard — never an all-pairs pass.
  */
object MinHash {

  /** k-word shingles of a text column. */
  def shingles(text: Column, k: Int = 3): Column = {
    val w = split(text, " ")
    transform(
      sequence(lit(1), greatest(size(w) - (k - 1), lit(0))),
      j => concat_ws(" ", slice(w, j, lit(k))))
  }

  /** MinHash signature: seed-salted xxhash64 minimum per hash function. */
  def signature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))
    }: _*)

  /** LSH band keys: hash of each r-row band of the signature. */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand)
        .map(r => element_at(sigCol, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** End-to-end candidate-pair generation: docs(idCol, textCol) →
    * (id1, id2) distinct pairs sharing ≥1 LSH band.
    *
    * `maxBandSize` is the hot-band guard: a band bucket of B docs emits
    * B·(B−1)/2 pairs, so ONE bucket of thousands of near-identical
    * documents (boilerplate, templated spam — routine in web corpora)
    * goes quadratic and dominates the whole job. Buckets above the cap
    * are skipped entirely — the standard mega-bucket policy for LSH
    * dedup: such buckets are near-certain duplicate CLIQUES, and their
    * membership is already established by far cheaper exact-hash dedup;
    * what LSH exists to find is the long tail. The oversized-key set is
    * tiny by construction (≤ corpus/cap keys), so the guard is one
    * broadcast anti-join — the band stream never reshuffles for it.
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 16, bands: Int = 4,
                     maxBandSize: Int = Int.MaxValue): DataFrame = {
    val rows = numHashes / bands
    val keyed0 = docs
      .withColumn("__sh", shingles(col(textCol)))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig", signature(col("__sh"), numHashes))
      .select(col(idCol).as("id"), explode(bandKeys(col("__sig"), bands, rows)).as("band"))
    val keyed = capBands(keyed0, "band", maxBandSize)
    keyed.as("a")
      .join(keyed.as("b"), col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Drop every row whose `bandCol` bucket exceeds `maxBandSize` (see
    * [[candidatePairs]]). No-op at Int.MaxValue.
    */
  def capBands(keyed: DataFrame, bandCol: String, maxBandSize: Int): DataFrame =
    if (maxBandSize == Int.MaxValue) keyed
    else {
      val oversized = keyed.groupBy(bandCol)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBandSize)
        .select(bandCol)
      keyed.join(broadcast(oversized), Seq(bandCol), "left_anti")
    }

  /** Exact Jaccard over distinct shingle sets (candidate verification). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** 64-bit SimHash from word hashes: majority vote per bit.
    * Declarative reference form — 64 codegen'd `filter` passes. Portable
    * to any Spark session; [[simhash64Fast]] is the single-pass codegen
    * Expression producing the identical fingerprint.
    */
  def simhash64(text: Column): Column = {
    val hs = transform(split(text, " "), w => xxhash64(w))
    val bits = (0 until 64).map { b =>
      when(lit(2) * size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
        > size(hs), lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** [[simhash64]] through the single-pass codegen Expression
    * ([[graft.plans.SimHash64D]]): one primitive loop per document
    * instead of 64 array walks — bit-identical fingerprints. Needs
    * `GraftExtensions.install(spark)` on the session (the same contract
    * as [[Similarity.fastDot]]).
    */
  def simhash64Fast(text: Column): Column =
    call_function("graft_simhash64", transform(split(text, " "), w => xxhash64(w)))

  /** Hamming distance between two simhashes (near-dup test: dist ≤ k). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: banded hamming join over [[simhash64]]
    * fingerprints. The 64-bit fingerprint splits into 4 bands of 16 bits;
    * docs sharing ANY band join, then exact hamming ≤ `maxHamming`
    * verifies. Pigeonhole makes the band join EXACT for maxHamming ≤ 3
    * (3 bit flips ruin at most 3 of the 4 bands).
    *
    * `maxBandSize` is the hot-bucket guard, same policy as
    * [[candidatePairs]] — and MORE necessary here: identical documents
    * share ALL four bands, so a mega-cluster of K copies emits ~4·K²/2
    * join rows before distinct. Buckets over the cap are exact-dup
    * cliques that hash-groupBy dedup establishes far cheaper; dropping
    * them is one broadcast anti-join, never a reshuffle of the bands.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBandSize: Int = Int.MaxValue): DataFrame = {
    val bits = 16
    val mask = (1L << bits) - 1
    graft.plans.GraftExtensions.install(docs.sparkSession)
    val d = docs.select(col(idCol).as("id"), simhash64Fast(col(textCol)).as("sh"))
    // shiftrightunsigned: band 3 covers the sign bit — an arithmetic shift
    // would sign-extend and leak bit 63 into every high band key.
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("b"),
        shiftrightunsigned(col("sh"), b * bits).bitwiseAND(lit(mask)).as("bits"))
    }
    val banded = d.select(col("id"), col("sh"),
      explode(array(bandCols: _*)).as("band"))
    val capped = capBands(banded, "band", maxBandSize)
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hamming(col("a.sh"), col("b.sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }
}
