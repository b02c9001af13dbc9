package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Argmax-cosine centroid assignment against a BROADCAST ring — the
  * O(1)-plan-size carrier for `ivfAssignedFold`'s collected ring.
  *
  * The typedLit carrier embeds ~√N×dim floats in the logical plan, the
  * serialized task binary and the codegen constant pool — bounded, but
  * the one plan in the repo whose SIZE grows with corpus scale (~25 MB
  * at a 10¹⁰-vector corpus). Past `spark.graft.ring.broadcastBytes` the ring
  * ships as an `sc.broadcast` instead: the plan carries only this
  * expression holding the HANDLE (a few hundred bytes); executors fetch
  * the blocks once via torrent, exactly like a broadcast-hash-join side.
  *
  * Bit-equivalence to the typedLit fold (GraphAnnSpec pins it): the
  * kernel walks cids in ASCENDING order replacing only on strictly
  * greater score; the score is the SAME arithmetic sequence —
  * graft_dot's sequential float-pair summation, one double division by
  * (nv·cn), then pround(9)'s floor(x·1e9 + 0.5) with Spark FLOOR's
  * double→long cast, re-divided by 1e9.
  *
  * The broadcast handle cannot ride the public Column API (Spark 4's
  * Column↔Expression bridge is private[sql]), so the expression is
  * reached through the function registry: `graft_ring_argmax(key, emb,
  * nv)` where `key` is a foldable string literal resolved against
  * [[RingArgmaxCid.payloads]] at ANALYSIS time on the driver. Children
  * are only (emb, nv) — the key is consumed by the builder.
  */
case class RingArgmaxCid(left: Expression, right: Expression,
                         ring: Broadcast[RingArgmaxCid.RingPayload])
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_ring_argmax expects (array<float>, double), got ($l, $r)")
    }

  override def nullSafeEval(emb: Any, nv: Any): Any =
    RingArgmaxCid.argmax(emb.asInstanceOf[ArrayData],
      nv.asInstanceOf[Double], ring.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the REFERENCE is the small Broadcast handle, not the payload —
    // adding ring.value here would re-embed the array in the plan
    val bc = ctx.addReferenceObj("ringBc", ring,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.RingArgmaxCid.argmax($a, $b,
         |  (graft.plans.RingArgmaxCid.RingPayload) $bc.value());
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_ring_argmax"
}

object RingArgmaxCid {

  /** Column-major ring: parallel arrays, cids ASCENDING. */
  final case class RingPayload(cids: Array[Long], cvs: Array[Array[Float]],
                               cns: Array[Double]) extends Serializable {
    def bytes: Long = 24L * cids.length + cvs.iterator.map(_.length * 4L + 16L).sum
  }

  /** The JVM kernel — one tight loop per row, called from the generated
    * code (the expression stays inside whole-stage codegen; the √N×dim
    * numeric work dominates, exactly as in the typedLit fold).
    */
  def argmax(emb: ArrayData, nv: Double, ring: RingPayload): Long = {
    var bestCid = -1L
    var bestS = -2.0
    var j = 0
    val k = ring.cids.length
    while (j < k) {
      val cv = ring.cvs(j)
      val n = math.min(emb.numElements(), cv.length)
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (!emb.isNullAt(i)) sum += emb.getFloat(i).toDouble * cv(i).toDouble
        i += 1
      }
      // pround(·, 9) exactly: double mul-add, FLOOR's double→long, /1e9
      val s = math.floor(sum / (nv * ring.cns(j)) * 1.0e9 + 0.5).toLong / 1.0e9
      if (s > bestS) { bestS = s; bestCid = ring.cids(j) }
      j += 1
    }
    bestCid
  }

  /** Driver-side payload registry: analysis-time keys → broadcast
    * handles. Holds HANDLES only (bytes live in the block manager);
    * entries are evicted by the ring cache in SimilarityQueries when a
    * dataset generation is superseded.
    */
  private val payloads =
    new java.util.concurrent.ConcurrentHashMap[String, Broadcast[RingPayload]]()

  def getOrBroadcast(key: String)(mk: => Broadcast[RingPayload]): Broadcast[RingPayload] =
    payloads.computeIfAbsent(key, _ => mk)

  /** Evict SUPERSEDED generations only: drops every `dir#…` entry whose
    * fingerprint component differs from `liveFp`, keeping ALL rings of
    * the live generation (keeping one key would re-broadcast on every
    * switch between rings, and a startsWith(keep) test would over-keep
    * ring names that prefix another). Keys are `dir#fp#ring`; both
    * delimiters are '#' and `fp` ([[graft.core.datasetFingerprint]]) is
    * `count:bytes:mtimeNanos` (never contains '#'), so the generation
    * prefix `dir#fp#` is unambiguous.
    */
  def evict(dir: String, liveFp: String): Unit = {
    val dirPrefix = s"$dir#"
    val livePrefix = s"$dir#$liveFp#"
    val it = payloads.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(dirPrefix) && !e.getKey.startsWith(livePrefix)) {
        try e.getValue.unpersist(false) catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  val ident: FunctionIdentifier = FunctionIdentifier("graft_ring_argmax")
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[RingArgmaxCid].getName, "graft_ring_argmax")
  val builder: Seq[Expression] => Expression = { ch =>
    require(ch.length == 3, "graft_ring_argmax(key, emb, nv)")
    val key = String.valueOf(ch.head.eval(null))
    val bc = payloads.get(key)
    require(bc != null, s"no ring payload registered under '$key' " +
      "(register via RingArgmaxCid.getOrBroadcast before building the plan)")
    RingArgmaxCid(ch(1), ch(2), bc)
  }

  def ringArgmax(key: String, emb: org.apache.spark.sql.Column,
                 nv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_ring_argmax",
      org.apache.spark.sql.functions.lit(key), emb, nv)
}
