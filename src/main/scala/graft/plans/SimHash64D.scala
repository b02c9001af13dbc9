package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Codegen'd 64-bit SimHash over a word-hash array: bit b of the result
  * is the majority vote of bit b across all element hashes.
  *
  * The declarative form spells the vote as one `filter(...)` pass per
  * bit, as the DuckDB oracle does — each pass IS codegen'd, but the
  * array walks repeat 64×, and the tempting "optimization" of fusing them
  * into one `aggregate` + `zip_with` counter array benches **64× slower**
  * (nested lambda HOFs fall out of whole-stage codegen into interpreted
  * evaluation with a per-element array allocation — measured at sf0.1,
  * 77 s vs 1.2 s). This expression is the actual single-pass form: one
  * primitive loop over the elements, 64 int counters on the stack frame,
  * no allocations — the per-document cost drops from 64·n to n element
  * loads while producing the IDENTICAL fingerprint. Over the sf0.1
  * corpus's xxhash64 word-hash arrays (warm noop-write, local[4] on a
  * 4-vCPU Xeon VM): 1.04–1.23 s → 0.11–0.16 s, ~9×.
  * `dedup_simhash` and `dedup_simhash_pairs` mask it to 16 and 60 bits.
  *
  * Null handling: null array → null (UnaryExpression). Null ELEMENTS are
  * excluded from both the bit counts and the vote threshold; the
  * declarative twin instead counts them in the denominator (`size(hs)`
  * counts nulls, `filter` drops them), so the two forms agree exactly on
  * null-free arrays — which word-hash arrays are by construction
  * (`transform(split(...), hash)` never yields null elements). The
  * equivalence spec pins both forms against each other on a real corpus.
  */
case class SimHash64D(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash64 expects array<bigint> input, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var total = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        total += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > total) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val total = ctx.freshName("total")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[64];
         |int $total = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $counts[$b] += (int) (($h >>> $b) & 1L);
         |    }
         |    $total++;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if (2 * $counts[$b] > $total) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash64"
}

object SimHash64D {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_simhash64")
  val info: ExpressionInfo = new ExpressionInfo(classOf[SimHash64D].getName, "graft_simhash64")
  val builder: Seq[Expression] => Expression = ch => SimHash64D(ch(0))
}
