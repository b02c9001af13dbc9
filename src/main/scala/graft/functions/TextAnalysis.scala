package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark-optimized text-analysis primitives (north-star surface). The
  * oracle-checked query twins in graft.operators.TextQueries use portable
  * md5 arithmetic; these library forms use xxhash64 (codegen'd, ~10×
  * cheaper) and are exercised by ScalaTest instead of DuckDB.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** Trigram-profile language score: fraction of the text's char trigrams
    * found in the language's profile set. Profiles are broadcast as a
    * literal array — at scale this is a map-side-only operator.
    */
  def trigramScore(text: Column, profile: Seq[String]): Column = {
    val prof = array(profile.map(lit): _*)
    val grams = array_distinct(
      transform(sequence(lit(1), greatest(length(text) - 2, lit(0))), i => text.substr(i, lit(3))))
    size(array_intersect(grams, prof)).cast("double") /
      greatest(size(grams), lit(1)).cast("double")
  }

  /** Rolling hash fingerprint over word hashes — order sensitive, unlike
    * the canonical bag-of-words fingerprint in TextQueries. aggregate()
    * folds sequentially, so it's deterministic. Mixing is rotate-xor (bit
    * ops only) — `acc * 31 + h` would trip ANSI-mode overflow checks.
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(words(text), w => xxhash64(w)),
      lit(0L),
      (acc, h) => shiftleft(acc, 5).bitwiseXOR(shiftrightunsigned(acc, 59)).bitwiseXOR(h))

  /** Winnowing fingerprint set (MOSS scheme), production form: xxhash64
    * gram hashes instead of the declared query's portable md5 arithmetic
    * (graft.operators.TextQueries `text_winnowing`). Guarantees: any
    * shared word run of length ≥ `gram + window − 1` yields a shared
    * fingerprint; density ≈ 1/window of full gram hashing. Map-only —
    * two nested codegen HOF passes, no shuffle.
    */
  def winnow(textCol: String, gram: Int = 3, window: Int = 4): Column = {
    // one lambda chain: words → gram hashes → per-window minima. The
    // single-element-array aggregate binds the gram array to a lambda
    // variable (no repeated subexpression), and everything stays a
    // codegen'd HOF pipeline. Takes the column NAME (Spark 4's Column
    // API no longer exposes the underlying expression to stringify).
    // Texts shorter than gram + window − 1 words have no full window and
    // must yield NO fingerprints — the greatest(…, 1) clamps would
    // otherwise emit junk hashes of partial grams, breaking the MOSS
    // density/guarantee contract (the declared text_winnowing
    // query already filters size ≥ gram+window−1).
    expr(
      s"""case when size(split($textCol, ' ')) < ${gram + window - 1}
         |     then cast(array() as array<bigint>)
         |     else array_distinct(
         |  aggregate(
         |    array(transform(sequence(1, greatest(size(split($textCol, ' ')) - ${gram - 1}, 1)),
         |                    j -> xxhash64(concat_ws(' ', slice(split($textCol, ' '), j, $gram))))),
         |    cast(array() as array<bigint>),
         |    (acc, gh) -> transform(sequence(1, greatest(size(gh) - ${window - 1}, 1)),
         |                           i -> array_min(slice(gh, i, $window))))) end""".stripMargin)
  }
}
