package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Codegen'd k-lane MinHash over a token-hash array: element j of the
  * result is min over all array elements t of xxhash64(j, t) — bit-equal
  * to the aggregate form `min(xxhash64(lit(j), col("h")))` over the
  * doc's exploded token rows, because Spark's two-argument xxhash64
  * chains as XXH64.hashLong(t, XXH64.hashInt(j, 42L)) and the lane seeds
  * here are precomputed by that exact chain.
  *
  * Why an Expression and not the aggregate: the aggregate form re-scans
  * the corpus (explode to ~200·N token rows) and shuffles a 65-column
  * partial per doc just to fold mins that are a per-ROW property of the
  * already-materialized token array. This form computes all k lanes in
  * ONE primitive loop over the array — no explode, no shuffle, no
  * allocation beyond the k-long output — turning the routed-dedup
  * signature pass from the corpus-wide aggregate into a map-side
  * projection off the persisted token relation (measured at 100×:
  * SCALE.md, "the routed jaccard lane, profiled to stages").
  *
  * Null handling: null array → null (UnaryExpression). Null ELEMENTS
  * are skipped (token-hash arrays never contain them by construction);
  * an empty array yields Long.MaxValue lanes, exactly the fold identity.
  */
case class MinHash64D(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1 && k <= 1024, s"graft_minhash64 lane count out of range: $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash64 expects array<bigint> input, got $other")
    }

  /** Lane seeds: xxhash64's IntegerType step at the default seed, so
    * lane j's per-element hash is the two-argument xxhash64(j, t). */
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(j => XXH64.hashInt(j, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = XXH64.hashLong(t, seeds(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val xxh = classOf[XXH64].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $t = $a.getLong($i);
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $v = $xxh.hashLong($t, $seedsRef[$j]);
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash64"
}

object MinHash64D {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_minhash64")
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[MinHash64D].getName, "graft_minhash64")
  val builder: Seq[Expression] => Expression = { ch =>
    require(ch.length == 2, "graft_minhash64(tokenHashes, k)")
    // Foldability is checked BEFORE eval: eval(null) on a
    // non-literal second argument (e.g. a column reference) throws an
    // opaque runtime exception from deep inside the expression instead
    // of the analysis-time message the caller can act on.
    if (!ch(1).foldable) throw new IllegalArgumentException(
      s"graft_minhash64 k must be an integer literal, got expression ${ch(1).sql}")
    val k = ch(1).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_minhash64 k must be an integer literal, got $other")
    }
    MinHash64D(ch(0), k)
  }

  /** Column-API form (the registered function must be installed first). */
  def minhash64(a: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_minhash64",
      a, org.apache.spark.sql.functions.lit(k))
}
