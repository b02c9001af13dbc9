package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Similarity search over the embeddings table — north-star surface.
  *
  * Cosine is computed as an explicit sequential double fold in array order
  * (`zip_with` dot product + per-side norms) so Spark and the DuckDB oracle
  * produce bit-identical IEEE doubles (SURVEY.md §7.3 rule 5). The fold is
  * a codegen'd higher-order function, not a UDF.
  *
  * Scale design: the baseline brute-force top-k is probe-bounded (never
  * all-pairs); the LSH-bucketed variant is the 100 TB path — hyperplane
  * signs assign every vector to a bucket in one narrow pass, and the probe
  * join hits only its own bucket. Both keep the big side un-shuffled when
  * the probe set is broadcast-size.
  */
object SimilarityQueries {

  /** Codegen'd dot product (graft.plans.DotProductD) — bit-identical to
    * the `aggregate(zip_with(...))` fold but ~10x faster on probe x
    * candidate joins, where the interpreted HOF loop dominates.
    */
  private def gdot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Portably-rounded cosine of `a.v`, `b.v` for the oracle. */
  private val cosR = IvfSql.cos("a.v", "b.v", 6)

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))

  // ------------------------------------------------------------------
  // Shared IVF/PQ index builds: the IVF centroid assignment at a ring is
  // built IDENTICALLY by every query at that ring (sim_ivf_topk,
  // sim_ivf_nprobe, sim_ann_rerank's cell map and the ring family), the
  // graph family's layer-0 kNN edges likewise, and the PQ code table
  // identically by sim_pq_adc and sim_ann_rerank — each a full corpus
  // pass. Under `spark.graft.shared.pipeline` each is one session build
  // ([[graft.core.sharedOr]]), right-sized by materialized bytes:
  // consumers scan these relations ~15× per graph query, and the raw
  // checkpoint would carry the initial shuffle-partition count into
  // every one of those stages. Unset, every query keeps its inline
  // scopedPersist plan. Values identical by construction — the build IS
  // the expression chain the queries inline.
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // Centroid rings. Every ring-family query (dedup_semantic,
  // sample_diverse_cells, sim_graph_ann, sim_graph_hnsw) has ONE body
  // that takes its ring, and the registry declares it twice:
  //  - at the 10-vector ring vec_id ∈ [480,490) ([[OracleRing]]), the
  //    correctness anchor: a constant every oracle SQL reproduces and
  //    every plan pin was written against;
  //  - as `<key>_spread` at the √N [[portableRing]], the production
  //    path, hash-checked end to end because DuckDB sizes k from its
  //    own count. A FIXED ring does not survive corpus growth: cell
  //    population grows ∝ N/|ring|, so the cell-local self-join in
  //    [[cellKnn]] does (N/|ring|)² work per cell (×49.6 wall at ×30
  //    data, SCALE.md); a √N ring keeps cells ~√N (12× wall at 30×
  //    data, SemDeDup ~10× cheaper than the oracle ring at 30×).
  // ScaleKnob measures the xxhash [[SpreadRing]] at any size. Spread
  // rings select members by hash(vec_id) % k == 0: one narrow
  // deterministic predicate — no sampling pass, stable under
  // repartition/retry — so ring membership is computable on BOTH the
  // raw corpus and an already-assigned relation without a join.
  // ------------------------------------------------------------------

  private[graft] sealed trait Ring
  private[graft] case object OracleRing extends Ring
  private[graft] final case class SpreadRing(k: Long) extends Ring
  /** A spread ring whose membership hash is the repo's PORTABLE 60-bit
    * md5 (first 15 hex digits as an integer) instead of xxhash64 — same
    * √N sizing, same one-narrow-predicate selection, but DuckDB can
    * mirror it, so the production fold-assignment path earns its own
    * CORRECTNESS row (`sim_ivf_spread`) instead of resting solely on
    * GraphAnnSpec's fold≡aggregate pin. */
  private[graft] final case class PortableSpreadRing(k: Long) extends Ring

  /** Spark-side portable 60-bit hash of vec_id ([[graft.core.hx]]). */
  private val vidHash = hx("cast(vec_id as string)")

  private[graft] def ringPred(r: Ring): Column = r match {
    case OracleRing            => col("vec_id") >= 480 && col("vec_id") < 490
    case SpreadRing(k)         => pmod(xxhash64(col("vec_id")), lit(k)) === 0
    case PortableSpreadRing(k) => expr(s"$vidHash % $k") === 0
  }

  private val nCache = scala.collection.mutable.Map.empty[(String, String), Long]

  /** Corpus row count — one parquet metadata-level count, cached per
    * (dir, [[graft.core.datasetFingerprint]]): dataset-determined, so
    * the map holds no SparkSession reference, and a regeneration of the
    * dir re-counts instead of sizing spread rings from a stale N. Stale
    * generations of the same dir are evicted on insert. Sizes the spread
    * rings; never runs in oracle mode.
    */
  private[graft] def corpusN(spark: SparkSession, dir: String): Long =
    nCache.synchronized {
      val fp = datasetFingerprint(dir)
      if (!nCache.contains((dir, fp)))
        nCache.keys.filter(k => k._1 == dir && k._2 != fp).toSeq
          .foreach(nCache.remove)
      nCache.getOrElseUpdate((dir, fp), t(spark, dir, "embeddings").count())
    }

  /** The production-sized PORTABLE ring for `dir`: k = round(√N) members
    * selected by the 60-bit-md5 predicate — the ring every `*_spread`
    * oracle key runs, with DuckDB deriving k from its own count so both
    * engines size it independently. The one √N sizing: ScaleKnob's
    * `sqrt` ring takes its k.
    */
  private[graft] def portableRing(spark: SparkSession, dir: String): PortableSpreadRing =
    PortableSpreadRing(math.max(1L,
      math.round(math.sqrt(corpusN(spark, dir).toDouble))))

  /** A declared key's ring on both engines: the Spark ring for a dataset
    * and the DuckDB CTEs that yield the same `c(cid, cv)`. */
  private final case class KeyRing(at: (SparkSession, String) => Ring, sql: String)
  private val atOracle = KeyRing((_, _) => OracleRing, IvfSql.oracleRing())
  private val atSqrtN = KeyRing(portableRing, IvfSql.sqrtNRing)

  /** The DuckDB twin of the IVF lane, CTE for CTE, over
    * `e(vec_id, v)`: every oracle of the family splices these pieces.
    */
  private object IvfSql {
    val e = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

    /** Cosine of the list expressions `a` and `b` — the [[gdot]] fold
      * order and division shape — pround-ed to `digits`. */
    def cos(a: String, b: String, digits: Int): String = proundSql(
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))",
      digits)

    /** [[OracleRing]]'s members, also the PQ codebook's rows. */
    val oracleIds = "vec_id >= 480 AND vec_id < 490"

    def oracleRing(name: String = "c"): String =
      s"$name AS (SELECT vec_id AS cid, v AS cv FROM e WHERE $oracleIds)"

    /** [[portableRing]]: k from DuckDB's own count, membership by the
      * same md5 hash. */
    val sqrtNRing: String =
      "k AS (SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS kk FROM e), " +
        "c AS (SELECT vec_id AS cid, v AS cv FROM e, k " +
        s"WHERE ${hxSql("CAST(vec_id AS VARCHAR)")} % kk = 0)"

    /** Every `e` row at its max-cosine centroid of `cents` (alias `c`),
      * smallest cid on a tie — [[ivfAssignedAgg]]'s argmax. */
    def asg(withV: Boolean = true, name: String = "asg", cents: String = "c",
            rn: String = "arn"): String = {
      val (v, ev) = if (withV) (", v", ", e.v") else ("", "")
      s"$name AS (SELECT vec_id, cid$v FROM ( SELECT e.vec_id, c.cid$ev, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cos("e.v", "c.cv", 9)} DESC, c.cid) AS $rn " +
        s"FROM e CROSS JOIN $cents) WHERE $rn = 1)"
    }

    /** [[cellKnn]]: each `src` row's `deg` nearest cell-mates. */
    def edges(name: String, src: String, deg: Int): String =
      s"$name AS (SELECT src, dst FROM ( SELECT a.vec_id AS src, b.vec_id AS dst, " +
        s"row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cos("a.v", "b.v", 9)} DESC, b.vec_id) AS ern " +
        s"FROM $src a JOIN $src b ON b.cid = a.cid AND b.vec_id <> a.vec_id) WHERE ern <= $deg)"

    /** [[GraphBeam]]'s probes and their 2 nearest ring vertices as `pc(probe, <as>)`. */
    def probeCells(as: String): String =
      "p AS (SELECT vec_id AS probe, v AS pv FROM e WHERE vec_id < 10), " +
        s"pc AS (SELECT probe, $as FROM ( SELECT p.probe, c.cid AS $as, " +
        s"row_number() OVER (PARTITION BY p.probe ORDER BY ${cos("p.pv", "c.cv", 9)} DESC, c.cid) AS crn " +
        "FROM p CROSS JOIN c) WHERE crn <= 2)"

    /** Visited set `v<i>` scored as `s<i>`. */
    private def visit(i: Int, v: String): String =
      s"v$i AS ($v), s$i AS (SELECT v$i.probe, v$i.cand, ${cos("p.pv", "e.v", 9)} AS sim9 " +
        s"FROM v$i JOIN e ON e.vec_id = v$i.cand JOIN p ON p.probe = v$i.probe)"

    /** Best-first search from the visited set `v0`: hop i keeps the
      * `width` best of `s<i>` as `f<i>` and visits their out-neighbours
      * on `edges` (plus `more`); the answer is the per-probe top-3 of
      * everything visited. */
    def beam(v0: String, hops: (String, Int, String)*): String =
      (visit(0, v0) +: hops.zipWithIndex.map { case ((ed, width, more), i) =>
        s"f$i AS (SELECT probe, cand FROM (SELECT probe, cand, " +
          s"row_number() OVER (PARTITION BY probe ORDER BY sim9 DESC, cand) AS rn FROM s$i) WHERE rn <= $width), " +
          visit(i + 1, s"SELECT probe, cand FROM v$i UNION " +
            s"SELECT f$i.probe, $ed.dst AS cand FROM f$i JOIN $ed ON $ed.src = f$i.cand$more")
      }).mkString(", ") +
        s" SELECT probe, cand, sim FROM ( SELECT probe, cand, ${proundSql("sim9", 6)} AS sim, " +
        "row_number() OVER (PARTITION BY probe ORDER BY sim9 DESC, cand) AS rn " +
        s"FROM s${hops.size} WHERE cand <> probe) WHERE rn <= 3 ORDER BY probe, sim DESC, cand"

    /** PQ subspaces `ms`, sub-vectors `ev(vec_id, m, sub)` and the
      * 40-row codebook `cb(<id>, m, csub, cc)` — [[pqCodebook]]. */
    def pq(id: String): String =
      "ms AS (SELECT unnest([0, 1, 2, 3]) AS m), " +
        "ev AS (SELECT vec_id, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS sub FROM e CROSS JOIN ms), " +
        s"cb AS (SELECT vec_id AS $id, m, sub AS csub, list_dot_product(sub, sub) AS cc FROM ev WHERE $oracleIds)"

    /** Squared distance of a corpus sub-vector to a codebook entry,
      * pround-ed to 9 digits as the Spark side ranks it. */
    val dist: String = proundSql(
      "list_dot_product(ev.sub, ev.sub) - 2 * list_dot_product(ev.sub, cb.csub) + cb.cc", 9)

    /** [[pqLut]]: probe sub-vectors `q` and their partial distances `lut`. */
    def lut(probes: Int, id: String): String =
      "q AS (SELECT vec_id AS probe, m, sub AS qsub, " +
        s"list_dot_product(sub, sub) AS qq FROM ev WHERE vec_id < $probes), " +
        s"lut AS (SELECT q.probe, q.m, cb.$id AS code, " +
        s"CAST(${proundSql("q.qq - 2 * list_dot_product(q.qsub, cb.csub) + cb.cc", 9)} AS DECIMAL(18,9)) AS ld " +
        "FROM q JOIN cb ON q.m = cb.m)"
  }

  /** The ring as a bounded `(cid, cv, cn)` relation — always broadcast
    * by its consumers (~√N rows even at the production default, i.e.
    * ~10⁵ rows for a 10¹⁰-vector corpus).
    */
  private[graft] def ringCents(spark: SparkSession, dir: String, ring: Ring): DataFrame =
    vecs(spark, dir).filter(ringPred(ring))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        sqrt(gdot("embedding", "embedding")).as("cn"))

  /** Corpus IVF assignment `(vec_id, cid, v, nv)` at an ARBITRARY ring —
    * the single entry point behind both the declared queries and the
    * ScaleKnob sweep. Two physical forms with BIT-IDENTICAL semantics
    * (GraphAnnSpec pins the equivalence):
    *
    *  - [[ivfAssignedAgg]] — crossJoin(broadcast ring) + max_by partial+
    *    final aggregate: the DECLARED plan every oracle SQL mirrors
    *    (kept for the oracle ring so plan pins and the DuckDB contract
    *    stand bit-for-bit).
    *  - [[ivfAssignedFold]] — for spread rings: the ring is bounded
    *    (~√N), so collect it once, ship it as ONE array literal in the
    *    task binary, and argmax it per row inside a codegen'd fold. No
    *    N×|ring| intermediate, no exchange AT ALL — a 30× sweep
    *    measured the agg form's N×|ring| aggregate input as the √N
    *    ring's cost on assignment-only queries (sim_ivf_topk 0.58→4.17 s
    *    at 30×); this form removes exactly that term.
    */
  private[graft] def ivfAssignedAt(spark: SparkSession, dir: String, ring: Ring): DataFrame =
    ring match {
      case OracleRing => ivfAssignedAgg(spark, dir, ring)
      case _          => ivfAssignedFold(spark, dir, ring) // all spread rings
    }

  private[graft] def ivfAssignedAgg(spark: SparkSession, dir: String, ring: Ring): DataFrame = {
    val cents = ringCents(spark, dir, ring)
    vecs(spark, dir)
      .crossJoin(broadcast(cents))
      .withColumn("csim", pround(
        gdot("embedding", "cv") / (sqrt(gdot("embedding", "embedding")) * col("cn")), 9))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("embedding").as("v")),
        struct(col("csim"), (-col("cid")).as("nc"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"))
      .withColumn("nv", sqrt(gdot("v", "v")))
  }

  /** Map-side argmax over a collected ring (see [[ivfAssignedAt]]).
    * Equivalence argument: csim is the SAME expression sequence
    * (graft_dot / (precomputed-norm × collected-cn), pround(9)) so the
    * ranked values are bit-equal, and the fold walks cids in ASCENDING
    * order replacing only on strictly-greater csim — identical to
    * max_by's (csim, −cid) ordering. The collected ring is ~√N×64
    * floats (25 MB at a 10¹⁰-vector corpus) shipped once per executor
    * with the task binary.
    */
  private def ivfAssignedFold(spark: SparkSession, dir: String, ring: Ring): DataFrame = {
    val centsLocal: Seq[(Long, Seq[Float], Double)] =
      ringCents(spark, dir, ring).orderBy("cid").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    require(centsLocal.nonEmpty, s"empty centroid ring $ring")
    // Ring carrier: the typedLit form embeds the ring
    // in the plan/codegen constant pool — fine while small, but plan
    // size would grow with √N. Past `spark.graft.ring.broadcastBytes`
    // (default 4 MiB) the ring ships as an sc.broadcast instead and the
    // plan carries an O(1) handle; GraphAnnSpec pins both carriers
    // bit-equal. Broadcasts are cached per (dir, fingerprint, ring) and
    // superseded generations unpersisted, as [[graft.core.shared]] does.
    val estBytes = centsLocal.iterator.map(c => 40L + 4L * c._2.length).sum
    if (estBytes > setting(spark, RingBroadcastBytes)) {
      val fp = datasetFingerprint(dir)
      val key = s"$dir#$fp#$ring"
      graft.plans.RingArgmaxCid.evict(dir, liveFp = fp)
      graft.plans.RingArgmaxCid.getOrBroadcast(key) {
        spark.sparkContext.broadcast(graft.plans.RingArgmaxCid.RingPayload(
          centsLocal.map(_._1).toArray,
          centsLocal.map(_._2.toArray).toArray,
          centsLocal.map(_._3).toArray))
      }
      vecs(spark, dir)
        .withColumn("nv", sqrt(gdot("embedding", "embedding")))
        .withColumn("cid",
          graft.plans.RingArgmaxCid.ringArgmax(key, col("embedding"), col("nv")))
        .select(col("vec_id"), col("cid"), col("embedding").as("v"), col("nv"))
    } else {
      val init = struct(lit(-1L).as("cid"), lit(-2.0).as("s"))
      vecs(spark, dir)
        .withColumn("nv", sqrt(gdot("embedding", "embedding")))
        .withColumn("m", aggregate(
          transform(typedLit(centsLocal), c => struct(
            c.getField("_1").as("cid"),
            pround(call_function("graft_dot", col("embedding"), c.getField("_2"))
              / (col("nv") * c.getField("_3")), 9).as("s"))),
          init,
          (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc)))
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("embedding").as("v"), col("nv"))
    }
  }

  /** [[ivfAssignedAt]] at a declared ring, shared/persisted — the IVF
    * family's entry point.
    */
  private def ivfAssigned(spark: SparkSession, dir: String, ring: Ring): DataFrame =
    sharedOr(spark, dir, s"ivf@$ring") { ivfAssignedAt(spark, dir, ring) }

  /** Product quantization: M = 4 subspaces of 16 dims; `pqM` explodes a
    * row into its subspaces `m`, `pqSub` is its slice in subspace `m`. */
  private def pqM: Column = explode(array((0 until 4).map(lit(_)): _*))
  private def pqSub: Column = expr("slice(embedding, m * 16 + 1, 16)")

  /** The 40-row PQ codebook `(<id>, m, csub, cc)`: the oracle ring's
    * sub-vectors in each subspace (K = 10 codes per subspace).
    */
  private def pqCodebook(spark: SparkSession, dir: String, id: String): DataFrame =
    vecs(spark, dir)
      .filter(ringPred(OracleRing))
      .withColumn("m", pqM)
      .select(col("vec_id").as(id), col("m"), pqSub.as("csub"))
      .withColumn("cc", gdot("csub", "csub"))

  /** Per-probe ADC lookup table `(probe, m, code, ld)` for the probes
    * vec_id < `probes`: |probes|·M·K partial distances as DECIMAL(18,9).
    */
  private def pqLut(spark: SparkSession, dir: String, probes: Int, id: String): DataFrame =
    vecs(spark, dir)
      .filter(col("vec_id") < probes)
      .withColumn("m", pqM)
      .select(col("vec_id").as("probe"), col("m"), pqSub.as("qsub"))
      .withColumn("qq", gdot("qsub", "qsub"))
      .join(pqCodebook(spark, dir, id), Seq("m"))
      .select(col("probe"), col("m"), col(id).as("code"),
        pround(col("qq") - lit(2.0) * gdot("qsub", "csub") + col("cc"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("ld"))

  /** Corpus PQ code table `(vec_id, m, code)` — the broadcast-codebook
    * min_by aggregate shared by the ADC family.
    */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    sharedOr(spark, dir, "pq") {
      vecs(spark, dir)
        .withColumn("m", pqM)
        .withColumn("sub", pqSub)
        .withColumn("ss", gdot("sub", "sub"))
        .join(broadcast(pqCodebook(spark, dir, "ccid")), Seq("m"))
        .withColumn("pd", pround(
          col("ss") - lit(2.0) * gdot("sub", "csub") + col("cc"), 9))
        .groupBy("vec_id", "m")
        .agg(min_by(col("ccid"), struct(col("pd"), col("ccid"))).as("code"))
    }

  /** SCALE knob probe (graft.ScaleKnob → SCALE.md): sim_graph_ann's
    * assignment + bounded-degree kNN edge build at an explicit [[Ring]] —
    * the SAME parameterized build ([[ivfAssignedAt]] → [[cellKnn]]) the
    * declared queries run, so the scale sweep MEASURES the declared path
    * at each ring setting instead of arguing about a twin.
    */
  private[graft] def graphAnnEdges(spark: SparkSession, dir: String,
                                   ring: Ring, deg: Int = 8): DataFrame =
    cellKnn(ivfAssignedAt(spark, dir, ring), lit(true), deg)

  /** The full deg-8 layer-0 kNN graph — built identically by
    * sim_graph_ann and sim_graph_hnsw, so it rides the same
    * harness-level CSE seam as [[ivfAssigned]]: one build per
    * (session, sf, ring) under `spark.graft.shared.pipeline`, inline
    * scopedPersist otherwise. Values identical by construction either way.
    */
  private def graphEdges0(spark: SparkSession, dir: String, ring: Ring): DataFrame =
    sharedOr(spark, dir, s"ged0@$ring") {
      cellKnn(ivfAssigned(spark, dir, ring), lit(true), 8)
    }

  /** Cell-local bounded-degree kNN edges over an `ivfAssigned`-shaped
    * relation, restricted to `member` vertices — the graph-index build
    * shared by sim_graph_ann (layer 0 over everything) and
    * sim_graph_hnsw (layer 1 over the sampled subset). Self-join keys
    * on cid so only cell-mates pair; the per-src window is
    * cell-bounded.
    */
  private def cellKnn(assigned: DataFrame, member: Column, deg: Int): DataFrame = {
    val m = assigned.filter(member)
    val ew = Window.partitionBy("src").orderBy(col("esim").desc, col("dst"))
    // shuffle_hash, not sort-merge: cid has |ring| distinct values, so a
    // merge join would SORT every (large) cell group just to pair
    // cell-mates a hash table pairs directly; the per-cell funnel itself
    // is the ring-size knob (SCALE.md — ring ∝ √N)
    m.select(col("cid"), col("vec_id").as("src"), col("v").as("sv"), col("nv").as("sn"))
      .join(m.select(col("cid"), col("vec_id").as("dst"),
        col("v").as("dv"), col("nv").as("dn")).hint("shuffle_hash"), Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .withColumn("esim", pround(gdot("sv", "dv") / (col("sn") * col("dn")), 9))
      .withColumn("ern", row_number().over(ew))
      .filter(col("ern") <= deg)
      .select(col("src"), col("dst"))
  }

  /** The LSH-bucketed ANN pipeline (see `ann_lsh_topk` for the full scale
    * rationale): 4 fixed hyperplanes → 16 sign buckets, probes search only
    * their own bucket, per-probe top-3. Shared by the declared query and
    * by `ann_recall_eval`, which grades this exact pipeline.
    */
  private def lshTop3(spark: SparkSession, dir: String): DataFrame = {
    val hp = vecs(spark, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("hb"), col("embedding").as("hv"))
    // persist: both the probe derivation and the bucket join below read
    // `bucketed`; without it the crossJoin+groupBy bucketing pass runs
    // once per branch — two full corpus scans at scale instead of one.
    val bucketed = vecs(spark, dir)
      .crossJoin(broadcast(hp))
      .withColumn("bit", when(gdot("embedding", "hv") > 0,
        expr("shiftleft(1L, cast(hb as int))")).otherwise(0L))
      .groupBy("vec_id")
      .agg(sum(col("bit")).cast("long").as("bucket"),
        first(col("embedding")).as("v"))
      .withColumn("nv", sqrt(gdot("v", "v")))
      .scopedPersist()
    val probes = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe"), col("bucket").as("pb"),
        col("v").as("pv"), col("nv").as("pn"))
    val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("vec_id"))
    broadcast(probes)
      .join(bucketed, col("pb") === col("bucket") && col("vec_id") =!= col("probe"))
      .withColumn("sim", pround(gdot("pv", "v") / (col("pn") * col("nv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("probe"), col("vec_id").as("cand"), col("sim"))
  }

  /** `(probe, pv, pn, pcid)`: each probe's (vec_id < 10) nprobe = 2
    * nearest oracle-ring cells — a bounded |probes|×|ring| rank
    * partitioned by probe (pround(9)'d csim, cid tie-break — the
    * assignment argmax's portability argument).
    */
  private def nearestOracleCells(spark: SparkSession, dir: String): DataFrame = {
    val cw = Window.partitionBy("probe").orderBy(col("csim").desc, col("cid"))
    vecs(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe"), col("embedding").as("pv"),
        sqrt(gdot("embedding", "embedding")).as("pn"))
      .crossJoin(broadcast(ringCents(spark, dir, OracleRing)))
      .withColumn("csim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 9))
      .withColumn("crn", row_number().over(cw))
      .filter(col("crn") <= 2)
      .select(col("probe"), col("pv"), col("pn"), col("cid").as("pcid"))
  }

  /** IVF+ADC retrieval stage shared by `sim_ann_rerank` (which re-ranks
    * its output exactly) and the recall grade in AnnRerankSpec (which
    * compares the ADC-only shortlist against brute-force truth).
    *
    * Pipeline: (1) IVF-assign every corpus vector to its max-cosine
    * centroid (broadcast max_by aggregate — one narrow pass, no window
    * over the corpus); (2) PQ-encode the corpus: M=4 subspaces × K=10
    * codes via the broadcast-codebook min_by aggregate (sim_pq_codes
    * shape); (3) each probe (vec_id < 10) picks its nprobe=2 nearest
    * cells (a 10×10 bounded rank); (4) ADC: candidates are ONLY the
    * vectors assigned to a probe's cells, and their approximate distance
    * is M lookups into the probe's broadcast LUT summed as DECIMAL(18,9)
    * — the probe's full vector never meets the corpus; (5) per-probe
    * top-`topR` by (adist, cand).
    *
    * Scale shape: centroids (10), codebook (40), probe cells (20), and
    * LUT (400) all broadcast; corpus-sized relations only ever carry
    * narrow (vec_id, m, code, cid) rows; the only windows partition by
    * probe over probe-bounded relations.
    */
  private[graft] def adcShortlist(spark: SparkSession, dir: String, topR: Int): DataFrame = {
    // (1) IVF cell per vector — the shared assignment build (the winning
    // (cid, v) row is the same whichever payload the max_by carries)
    val assigned = ivfAssigned(spark, dir, OracleRing).select(col("vec_id"), col("cid"))
    // (2) PQ codes per (vector, subspace) — the shared code table
    val codes = pqCodes(spark, dir)
    // cell id + codes in one narrow corpus relation; both inputs are
    // aggregates already hashed by vec_id, so this join adds no exchange
    val enc = codes.join(assigned, Seq("vec_id"))
    // (3) nprobe=2 cells per probe — bounded 10×10 rank
    val probeCells = nearestOracleCells(spark, dir).select(col("probe"), col("pcid"))
    // (4) per-probe LUT: |probes|·M·K = 400 decimal partial distances
    val lut = pqLut(spark, dir, 10, "ccid")
    // (5) ADC over the probed cells only, decimal-exact 4-term sum
    val w = Window.partitionBy("probe").orderBy(col("adist"), col("cand"))
    enc.join(broadcast(probeCells), col("cid") === col("pcid"))
      .join(broadcast(lut), Seq("probe", "m", "code"))
      .groupBy(col("probe"), col("vec_id").as("cand"))
      .agg(sum(col("ld")).as("dsum"))
      .filter(col("probe") =!= col("cand"))
      .withColumn("adist", col("dsum").cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topR)
      .select(col("probe"), col("cand"), col("adist"))
  }

  // ------------------------------------------------------------------
  // The ring family: one body per query, declared at both rings (see
  // "Centroid rings" above). At the oracle ring the assignment is the
  // broadcast-centroid max_by aggregate; at √N it is the zero-exchange
  // fold ([[ivfAssignedAt]]).
  // ------------------------------------------------------------------

  /** SemDeDup (semantic dedup, Abbas et al. 2023): cluster the
    * embeddings, then search for near-duplicate pairs ONLY inside each
    * cluster — the cluster bound is what makes embedding-level dedup
    * tractable (quadratic within a cell, never corpus×corpus). Drop the
    * higher vec_id of any within-cell pair with cosine ≥ 0.4 (fixture-
    * calibrated: these synthetic embeddings are near-uniform, so real-
    * corpus thresholds like 0.95 select nothing; the PIPELINE is the
    * contract, the constant is data). Scale shape: one narrow corpus
    * pass for assignment; the self-join keys on cid so each cell's
    * members co-locate once; drops rejoin on vec_id.
    */
  private def dedupSemantic(r: KeyRing): QueryDef = QueryDef(
    (spark, dir) => {
      val assigned = ivfAssigned(spark, dir, r.at(spark, dir))
      val a = assigned.select(col("cid"), col("vec_id").as("v1"),
        col("v").as("e1"), col("nv").as("n1"))
      val b = assigned.select(col("cid"), col("vec_id").as("v2"),
        col("v").as("e2"), col("nv").as("n2"))
      val dropped = a.join(b, Seq("cid"))
        .filter(col("v1") < col("v2"))
        .withColumn("sim", pround(gdot("e1", "e2") / (col("n1") * col("n2")), 6))
        .filter(col("sim") >= 0.4)
        .select(col("v2").as("dropped_id")).distinct()
      assigned
        .join(dropped, col("vec_id") === col("dropped_id"), "left")
        .groupBy("cid")
        .agg(cnt("members"),
          sum(when(col("dropped_id").isNotNull, 1L).otherwise(0L))
            .cast("long").as("dropped"))
        .withColumn("kept", col("members") - col("dropped"))
        .orderBy(col("cid"))
    },
    Some(s"""WITH ${IvfSql.e}, ${r.sql}, ${IvfSql.asg()},
            |drp AS (SELECT DISTINCT b.vec_id AS dropped_id
            |FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
            |WHERE $cosR >= 0.4)
            |SELECT cid, CAST(count(*) AS BIGINT) AS members,
            |CAST(sum(CASE WHEN dropped_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
            |CAST(count(*) - sum(CASE WHEN dropped_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept
            |FROM asg LEFT JOIN drp ON asg.vec_id = drp.dropped_id
            |GROUP BY cid ORDER BY cid""".stripMargin.replace("\n", " ")))

  /** Diversity sampling by cell representative — the selection HALF of
    * SemDeDup-style curation: instead of dropping near-duplicates, KEEP
    * exactly one representative per embedding-space cell (the vector
    * closest to its centroid, min-id tie-break) — a coreset that covers
    * the space with |cells| points. The pick is one partial+final
    * max_by aggregate ((csim, −vec_id) struct ordering: the oracle's
    * rank window, csim DESC then vec_id ASC) fused with the census, so
    * the key is ONE aggregate over the assignment and its output is
    * |ring| rows.
    */
  private def sampleDiverseCells(r: KeyRing): QueryDef = QueryDef(
    (spark, dir) => {
      val ring = r.at(spark, dir)
      ivfAssigned(spark, dir, ring)
        .join(broadcast(ringCents(spark, dir, ring)), Seq("cid"))
        .withColumn("csim", pround(gdot("v", "cv") / (col("nv") * col("cn")), 9))
        .groupBy("cid")
        .agg(cnt("members"),
          max_by(struct(col("vec_id"), col("csim")),
            struct(col("csim"), (-col("vec_id")).as("nvid"))).as("m"))
        .select(col("cid"), col("members"), col("m.vec_id").as("rep_vec"),
          col("m.csim").as("rep_sim"))
        .orderBy(col("cid"))
    },
    Some(s"""WITH ${IvfSql.e}, ${r.sql}, ${IvfSql.asg()},
            |scored AS (SELECT a.cid, a.vec_id, ${IvfSql.cos("a.v", "c2.cv", 9)} AS csim
            |FROM asg a JOIN c c2 ON a.cid = c2.cid),
            |rep AS (SELECT cid, vec_id AS rep_vec, csim AS rep_sim FROM (
            |SELECT cid, vec_id, csim,
            |row_number() OVER (PARTITION BY cid ORDER BY csim DESC, vec_id) AS rn
            |FROM scored) WHERE rn = 1),
            |m AS (SELECT cid, CAST(count(*) AS BIGINT) AS members FROM asg GROUP BY cid)
            |SELECT rep.cid, members, rep_vec, rep_sim
            |FROM rep JOIN m ON rep.cid = m.cid ORDER BY rep.cid""".stripMargin.replace("\n", " ")))

  /** The probe side of a graph-ANN beam search over `ring`'s assignment:
    * the probes (vec_id < 10), exact scoring of a bounded (probe, cand)
    * set, the entry step, the best-first window and the answer.
    * Internal ranks order a pround(9) cosine (the assignment-argmax
    * portability argument).
    */
  private final class GraphBeam(spark: SparkSession, dir: String, ring: Ring) {
    val assigned: DataFrame = ivfAssigned(spark, dir, ring)
    val edges0: DataFrame = graphEdges0(spark, dir, ring)
    private val corpus = assigned.select(col("vec_id").as("cvid"),
      col("v").as("cv2"), col("nv").as("cn2"))
    private val probes = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe"), col("v").as("pv"), col("nv").as("pn"))
    private val fw = Window.partitionBy("probe").orderBy(col("sim9").desc, col("cand"))

    /** Each probe's own vertex as a candidate. */
    def self: DataFrame = probes.select(col("probe"), col("probe").as("cand"))

    /** Exact cosine for a bounded (probe, cand) set: candidates and
      * probes broadcast, the narrow corpus relation streams past them. */
    def score(c: DataFrame): DataFrame =
      corpus.join(broadcast(c), col("cand") === col("cvid"))
        .join(broadcast(probes), Seq("probe"))
        .select(col("probe"), col("cand"),
          pround(gdot("pv", "cv2") / (col("pn") * col("cn2")), 9).as("sim9"))

    /** `(probe, <as>)`: each probe's 2 NEAREST ring vertices (the
      * sim_ivf_nprobe knob), picked by a bounded |probes|×|ring| cross. */
    def nearestCells(as: String): DataFrame = {
      val cents = assigned
        .filter(ringPred(ring))
        .select(col("vec_id").as(as), col("v").as("cv0"), col("nv").as("cn0"))
      val cw = Window.partitionBy("probe").orderBy(col("ps").desc, col(as))
      probes.crossJoin(broadcast(cents))
        .withColumn("ps", pround(gdot("pv", "cv0") / (col("pn") * col("cn0")), 9))
        .withColumn("crn", row_number().over(cw))
        .filter(col("crn") <= 2)
        .select("probe", as)
    }

    /** The `width` best visited candidates per probe. */
    def best(visited: DataFrame, width: Int): DataFrame =
      visited.withColumn("frn", row_number().over(fw))
        .filter(col("frn") <= width).select("probe", "cand")

    /** `visited` plus the scored `reached` set. */
    def visit(visited: DataFrame, reached: DataFrame): DataFrame =
      scopedCheckpoint(visited.unionByName(score(reached)))

    /** The answer: per-probe top-3 of everything visited but the probe. */
    def top3(visited: DataFrame): DataFrame =
      visited.filter(col("cand") =!= col("probe"))
        .withColumn("rn", row_number().over(fw))
        .filter(col("rn") <= 3)
        .select(col("probe"), col("cand"), pround(col("sim9"), 6).as("sim"))
        .orderBy(col("probe"), col("sim").desc, col("cand"))
  }

  /** Graph ANN — join-based HNSW-lite (beam search over a bounded-degree
    * kNN graph, Malkov & Yashunin's HNSW re-expressed as dataflow). Index
    * build: every vector keeps its k=8 nearest SAME-CELL neighbors —
    * cell-local exact kNN, the SemDeDup bound that keeps the self-join
    * quadratic in cell size, never corpus². Search: probes enter at
    * their 2 NEAREST ring vertices (5× fewer scored entries than the
    * full 10-centroid ring at equal recall, GraphAnnSpec grades it) plus
    * their OWN vertex — probes are corpus members, so the first hop
    * reaches the probe's layer-0 neighborhood — and run 2 unrolled
    * best-first hops: each expands the per-probe beam (B=4 best visited
    * so far) along graph edges, scores ONLY newly-reached vertices with
    * exact cosine, and merges them into the visited set. Scale shape:
    * the edge relation shuffles narrow (src, dst) pairs once at build
    * and is persisted across hops; probes, beams, and expansions are
    * probe-bounded (≤ |probes|·B·deg rows) and BROADCAST, so each hop's
    * scoring streams the corpus past them with zero corpus shuffle;
    * every window partitions by src or probe.
    */
  private def simGraphAnn(r: KeyRing): QueryDef = QueryDef(
    (spark, dir) => {
      val g = new GraphBeam(spark, dir, r.at(spark, dir))
      var visited = scopedCheckpoint(g.score(g.nearestCells("cand").unionByName(g.self)))
      (1 to 2).foreach { _ =>
        val reached = g.best(visited, 4).join(g.edges0, col("cand") === col("src"))
          .select(col("probe"), col("dst").as("cand")).distinct()
          .join(visited.select("probe", "cand"), Seq("probe", "cand"), "left_anti")
        visited = g.visit(visited, reached)
      }
      g.top3(visited)
    },
    Some(s"WITH ${IvfSql.e}, ${r.sql}, ${IvfSql.asg()}, ${IvfSql.edges("ed", "asg", 8)}, " +
      IvfSql.probeCells("cand") + ", " +
      IvfSql.beam("SELECT probe, cand FROM pc UNION SELECT probe, probe AS cand FROM p",
        ("ed", 4, ""), ("ed", 4, ""))))

  /** HIERARCHICAL graph ANN — [[simGraphAnn]] grown its second layer
    * (Malkov & Yashunin's multi-layer descent). Layer 1 is the
    * deterministic 1/16 vertex sample (vec_id % 16 = 0 — the portable
    * analog of HNSW's geometric level draw) with its own cell-local kNN
    * graph (deg 4); layer 0 is the full deg-8 graph. Search descends:
    * enter at ≤8 per-cell layer-1 DELEGATES of the probe's 2 nearest
    * cells (the delegate cap keeps the entry set bounded BY
    * CONSTRUCTION — cell growth cannot widen it), one beam hop on the
    * coarse layer-1 graph (B=2), then drop the 2 best layer-1 vertices
    * into layer 0 (plus the probe's own vertex) for two deg-8 hops
    * (B=4). Scale shape: both edge relations are the cell-local build
    * (layer 1 is 256× cheaper); every beam/visited/probe-cell relation
    * is probe-bounded BY CONSTRUCTION (≤ |probes|·B·deg rows) and
    * broadcast explicitly, so the corpus-scaled edge relations stream
    * past them and never sort; every window partitions by src, cid, or
    * probe. GraphAnnSpec grades the descent's recall and its
    * scored-candidate budget vs the flat single-layer beam.
    */
  private def simGraphHnsw(r: KeyRing): QueryDef = QueryDef(
    (spark, dir) => {
      val g = new GraphBeam(spark, dir, r.at(spark, dir))
      val edges1 = cellKnn(g.assigned, col("vec_id") % 16 === 0, 4)
      // ≤8 layer-1 delegates per cell, by vec_id — bounded entry set
      val dw = Window.partitionBy("cid").orderBy("vec_id")
      val delegates = g.assigned.filter(col("vec_id") % 16 === 0)
        .select(col("cid"), col("vec_id"))
        .withColumn("drn", row_number().over(dw))
        .filter(col("drn") <= 8)
        .select(col("cid"), col("vec_id").as("cand"))
      val entry = delegates.join(broadcast(g.nearestCells("pcid")), col("pcid") === col("cid"))
        .select("probe", "cand").distinct()
      // one hop: the `width` best visited vertices expand along `edges`;
      // beam and visited set are broadcast explicitly, so the
      // corpus-scaled edge relation streams past them and never sorts
      def hop(visited: DataFrame, edges: DataFrame, width: Int,
              withSelf: Boolean = false): DataFrame = {
        val out = edges.join(broadcast(g.best(visited, width)), col("cand") === col("src"))
          .select(col("probe"), col("dst").as("cand"))
        val reached = (if (withSelf) out.unionByName(g.self) else out).distinct()
          .join(broadcast(visited.select("probe", "cand")), Seq("probe", "cand"), "left_anti")
        g.visit(visited, reached)
      }
      // one coarse B=2 hop on layer 1, then descend: the 2 best layer-1
      // vertices + the probe's own vertex enter layer 0 for two hops
      val layer1 = hop(scopedCheckpoint(g.score(entry)), edges1, 2)
      g.top3(hop(hop(layer1, g.edges0, 2, withSelf = true), g.edges0, 4))
    },
    Some(s"WITH ${IvfSql.e}, ${r.sql}, ${IvfSql.asg()}, ${IvfSql.edges("ed0", "asg", 8)}, " +
      "l1 AS (SELECT vec_id, cid, v FROM asg WHERE vec_id % 16 = 0), " +
      IvfSql.edges("ed1", "l1", 4) + ", " +
      "dl AS (SELECT cid, vec_id AS cand FROM ( SELECT cid, vec_id, " +
      "row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS drn FROM l1) WHERE drn <= 8), " +
      IvfSql.probeCells("pcid") + ", " +
      IvfSql.beam("SELECT DISTINCT pc.probe, dl.cand FROM pc JOIN dl ON dl.cid = pc.pcid",
        ("ed1", 2, ""), ("ed0", 2, " UNION SELECT probe, probe AS cand FROM p"), ("ed0", 4, ""))))

  val defs: Seq[(String, QueryDef)] = Seq(

    // Brute-force cosine top-k: the correctness baseline for ANN.
    "sim_cosine_topk" -> QueryDef(
      (spark, dir) => {
        val probes = vecs(spark, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"), col("embedding").as("pv"),
            sqrt(gdot("embedding", "embedding")).as("pn"))
        val cands = vecs(spark, dir)
          .select(col("vec_id").as("cand"), col("embedding").as("cv"),
            sqrt(gdot("embedding", "embedding")).as("cn"))
        val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
        broadcast(probes).join(cands, col("probe") =!= col("cand"))
          .withColumn("sim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("probe"), col("cand"), col("sim"))
          .orderBy(col("probe"), col("sim").desc, col("cand"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
              |SELECT probe, cand, sim FROM (
              |SELECT a.vec_id AS probe, b.vec_id AS cand, $cosR AS sim,
              |row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosR DESC, b.vec_id) AS rn
              |FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
              |WHERE rn <= 5 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " "))),

    // LSH-bucketed ANN: 4 fixed hyperplanes (vectors 0..3) → 16 sign
    // buckets; probes search only their own bucket. The scale path: bucket
    // assignment is one narrow map pass, the join key is the bucket id.
    // (Pipeline body in [[lshTop3]], shared with ann_recall_eval.)
    "ann_lsh_topk" -> QueryDef(
      (spark, dir) => lshTop3(spark, dir)
        .orderBy(col("probe"), col("sim").desc, col("cand")),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |hp AS (SELECT vec_id AS hb, v AS hv FROM e WHERE vec_id < 4),
              |bkt AS (SELECT e.vec_id, any_value(e.v) AS v,
              |CAST(sum(CASE WHEN list_dot_product(e.v, hp.hv) > 0 THEN (1::BIGINT << hb) ELSE 0 END) AS BIGINT) AS bucket
              |FROM e CROSS JOIN hp GROUP BY e.vec_id)
              |SELECT probe, cand, sim FROM (
              |SELECT a.vec_id AS probe, b.vec_id AS cand, $cosR AS sim,
              |row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosR DESC, b.vec_id) AS rn
              |FROM bkt a JOIN bkt b ON a.vec_id < 10 AND b.bucket = a.bucket AND b.vec_id <> a.vec_id)
              |WHERE rn <= 3 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " "))),

    // IVF-bucketed ANN: the second classic scale path (vs LSH above).
    // 10 fixed centroids (vectors 480..489 — an absolute range, present
    // and 10-wide at EVERY scale factor; an open-ended `>= N` filter
    // would grow the centroid set with the corpus); every vector is
    // assigned to its max-cosine centroid (argmax with cid tie-break);
    // probes search only their own inverted list. At scale: assignment is
    // one broadcast map pass, the join key is the centroid id, never
    // all-pairs.
    "sim_ivf_topk" -> QueryDef(
      (spark, dir) => {
        // persist: probes and candidate lists both derive from `assigned`.
        // Centroid argmax is ONE partial+final max_by aggregate: ordering
        // key (csim, -cid) keeps the max similarity and breaks exact ties
        // toward the smallest cid — same result as a row_number() window,
        // but the 10x-corpus assignment relation is combined map-side and
        // never crosses an exchange. The struct-typed buffer makes Spark
        // pick SortAggregate over HashAggregate; that sort is partition-LOCAL over the crossJoin's
        // contiguous per-vector runs — the exchange itself carries one
        // slim row per vector, not ten embeddings.
        // The argmax ranks a pround-ed csim (9 digits, both engines), so
        // the ranked value is identical by construction rather than by a
        // bit-identical-fold assumption: a last-ulp divergence on a
        // near-tie cannot flip the assignment, because within 1e-9 the
        // two sides see the SAME rounded value and break the tie on cid.
        // (Build shared with the IVF family via [[ivfAssigned]].)
        val assigned = ivfAssigned(spark, dir, OracleRing)
        val probes = assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"), col("cid").as("pcid"),
            col("v").as("pv"), col("nv").as("pn"))
        val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("vec_id"))
        broadcast(probes)
          .join(assigned, col("pcid") === col("cid") && col("vec_id") =!= col("probe"))
          .withColumn("sim", pround(gdot("pv", "v") / (col("pn") * col("nv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("vec_id").as("cand"), col("sim"))
          .orderBy(col("probe"), col("sim").desc, col("cand"))
      },
      Some(s"""WITH ${IvfSql.e}, ${IvfSql.oracleRing()}, ${IvfSql.asg()}
              |SELECT probe, cand, sim FROM (
              |SELECT a.vec_id AS probe, b.vec_id AS cand, $cosR AS sim,
              |row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosR DESC, b.vec_id) AS rn
              |FROM asg a JOIN asg b ON a.vec_id < 10 AND b.cid = a.cid AND b.vec_id <> a.vec_id)
              |WHERE rn <= 3 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " "))),

    // IVF with nprobe=2 — the standard recall knob sim_ivf_topk lacks:
    // each probe searches its TWO nearest centroid cells instead of only
    // its own. Scale shape is unchanged —
    // corpus assignment is the same broadcast-centroid max_by aggregate
    // (one narrow pass, map-side combined), and the probe side just
    // explodes ×nprobe before the bounded join on centroid id; the only
    // windows are over the 10×10 probe-centroid relation and the
    // per-probe top-k — both partitioned by probe. Candidates cannot
    // duplicate across cells (each vector lives in exactly one cell).
    "sim_ivf_nprobe" -> QueryDef(
      (spark, dir) => {
        // corpus assignment shared with the IVF family ([[ivfAssigned]])
        val assigned = ivfAssigned(spark, dir, OracleRing)
        val probeCells = nearestOracleCells(spark, dir)
        val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("vec_id"))
        broadcast(probeCells)
          .join(assigned, col("pcid") === col("cid") && col("vec_id") =!= col("probe"))
          .withColumn("sim", pround(gdot("pv", "v") / (col("pn") * col("nv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("vec_id").as("cand"), col("sim"))
          .orderBy(col("probe"), col("sim").desc, col("cand"))
      },
      Some {
        val sim = IvfSql.cos("pc.pv", "b.v", 6)
        s"""WITH ${IvfSql.e}, ${IvfSql.oracleRing()}, ${IvfSql.asg()},
           |p AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
           |pc AS (SELECT probe, pv, pcid FROM (
           |SELECT p.vec_id AS probe, p.v AS pv, c.cid AS pcid,
           |row_number() OVER (PARTITION BY p.vec_id ORDER BY ${IvfSql.cos("p.v", "c.cv", 9)} DESC, c.cid) AS crn
           |FROM p CROSS JOIN c) WHERE crn <= 2)
           |SELECT probe, cand, sim FROM (
           |SELECT pc.probe, b.vec_id AS cand, $sim AS sim,
           |row_number() OVER (PARTITION BY pc.probe ORDER BY $sim DESC, b.vec_id) AS rn
           |FROM pc JOIN asg b ON b.cid = pc.pcid AND b.vec_id <> pc.probe)
           |WHERE rn <= 3 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " ")
      }),

    // PRODUCTION spread-ring IVF assignment, oracle-checked. The other
    // declared IVF keys run the oracle ring's aggregate form, so without
    // this key the √N fold path's equivalence would rest solely on
    // GraphAnnSpec's fold≡aggregate pin. This key closes the loop
    // THROUGH the DuckDB oracle: ring membership is the
    // portable 60-bit md5 hash (hash(vec_id) % k == 0, k = round(√N),
    // both engines computing k from their own count), so DuckDB mirrors
    // the exact production ring and the fold-form assignment
    // ([[ivfAssignedFold]]: collected ~√N ring shipped in the task
    // binary, per-row codegen'd argmax, ZERO exchanges before the final
    // O(√N)-row cell aggregate) is hash-checked end-to-end. Output is
    // the per-cell census — members + vec_id sum/min/max — so any single
    // assignment flip moves two rows. Scale shape: one narrow corpus
    // pass + one partial+final agg keyed cid; the ring is ~√N rows
    // (~25 MB at a 10¹⁰-vector corpus) collected once.
    "sim_ivf_spread" -> QueryDef(
      (spark, dir) => {
        ivfAssignedAt(spark, dir, portableRing(spark, dir))
          .groupBy(col("cid"))
          .agg(cnt("members"), sum(col("vec_id")).cast("long").as("sum_vid"),
            min(col("vec_id")).as("min_vid"), max(col("vec_id")).as("max_vid"))
          .orderBy(col("cid"))
      },
      Some(s"""WITH ${IvfSql.e}, ${IvfSql.sqrtNRing}, ${IvfSql.asg(withV = false)}
              |SELECT cid, CAST(count(*) AS BIGINT) AS members,
              |CAST(sum(vec_id) AS BIGINT) AS sum_vid,
              |min(vec_id) AS min_vid, max(vec_id) AS max_vid
              |FROM asg GROUP BY cid ORDER BY cid""".stripMargin.replace("\n", " "))),

    // K-means over embeddings (one Lloyd iteration) — the clustering
    // backbone of semantic dedup and training-mix curation. Scale shape:
    // centroids are K·D doubles and BROADCAST; assignment is the IVF
    // max_by aggregate (one narrow pass, combined map-side, never an
    // exchange of the K×corpus relation); the Lloyd update is a
    // per-(cid, dim) partial+final aggregate whose shuffle carries K·D
    // rows per task. Per-dim means are DECIMAL sums divided once in
    // DOUBLE — exact and order-independent, so the new centroids (and
    // every later assignment) are bit-stable under any partitioning;
    // raw double sums would make the whole query nondeterministic.
    // More iterations = repeat the assign→update pair; the declared
    // contract pins one full round (assign → update → re-assign).
    "sim_kmeans_iterate" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val e = vecs(spark, dir)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
          .scopedPersist()
        val c0 = e.filter(ringPred(OracleRing))
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        // Argmax over a pround-ed csim (9 digits, both engines): the ranked
        // value is identical by construction, so a last-ulp fold divergence
        // on a near-tie cannot flip an assignment; within
        // 1e-9 both engines tie and break on cid identically.
        def assign(cents: DataFrame): DataFrame =
          e.crossJoin(broadcast(cents))
            .withColumn("csim", pround(gdot("v", "cv")
              / (sqrt(gdot("v", "v")) * sqrt(gdot("cv", "cv"))), 9))
            .groupBy("vec_id")
            .agg(max_by(struct(col("cid"), col("v").as("v")),
              struct(col("csim"), (-col("cid")).as("nc"))).as("m"))
            .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"))
        val c1 = assign(c0)
          .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("cid", "dim")
          .agg((sum(col("x").cast(DecimalType(27, 12))).cast("double")
            / count(lit(1)).cast("double")).as("m"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").as("cv"))
        assign(c1)
          .groupBy("cid").agg(cnt("n"))
          .join(broadcast(c1), "cid")
          .select(col("cid"), col("n"), pround(sqrt(gdot("cv", "cv")), 6).as("cnorm"))
          .orderBy(col("cid"))
      },
      Some(s"""WITH ${IvfSql.e}, ${IvfSql.oracleRing("c0")},
              |${IvfSql.asg(name = "a1", cents = "c0 c", rn = "rn")},
              |ex AS (SELECT cid, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x FROM a1),
              |d1 AS (SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE)
              | / CAST(count(*) AS DOUBLE) AS m FROM ex GROUP BY cid, dim),
              |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM d1 GROUP BY cid),
              |${IvfSql.asg(withV = false, name = "a2", cents = "c1 c", rn = "rn")}
              |SELECT a2.cid, CAST(count(*) AS BIGINT) AS n,
              |${proundSql("sqrt(list_dot_product(c1.cv, c1.cv))", 6)} AS cnorm
              |FROM a2 JOIN c1 ON a2.cid = c1.cid
              |GROUP BY a2.cid, c1.cv ORDER BY a2.cid""".stripMargin.replace("\n", " "))),

    // Embedding near-dup: bounded candidate set, cosine threshold.
    "dedup_embedding_cosine" -> QueryDef(
      (spark, dir) => {
        // norms are precomputed per vector (one narrow pass) so the 1M-pair
        // join evaluates ONE fold per pair, not three; arithmetic identical.
        val a = vecs(spark, dir).filter(col("vec_id") < 500)
          .select(col("vec_id").as("v1"), col("embedding").as("e1"),
            sqrt(gdot("embedding", "embedding")).as("n1"))
        val b = vecs(spark, dir)
          .select(col("vec_id").as("v2"), col("embedding").as("e2"),
            sqrt(gdot("embedding", "embedding")).as("n2"))
        broadcast(a).join(b, col("v2") > col("v1"))
          .withColumn("sim", pround(gdot("e1", "e2") / (col("n1") * col("n2")), 6))
          .filter(col("sim") >= 0.3)
          .orderBy(col("sim").desc, col("v1"), col("v2"))
          .limit(500)
          .select(col("v1"), col("v2"), col("sim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
              |SELECT v1, v2, sim FROM (
              |SELECT a.vec_id AS v1, b.vec_id AS v2, $cosR AS sim
              |FROM e a JOIN e b ON a.vec_id < 500 AND b.vec_id > a.vec_id)
              |WHERE sim >= 0.3 ORDER BY sim DESC, v1, v2 LIMIT 500""".stripMargin.replace("\n", " "))),

    "dedup_semantic" -> dedupSemantic(atOracle),
    "dedup_semantic_spread" -> dedupSemantic(atSqrtN),

    // HLL++ approximate distinct — engine-specific sketch, no oracle
    // (SURVEY §2.B): Spark's built-in replaces a custom HLL aggregate.
    "approx_distinct_hll" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"), cnt("cnt"))
          .orderBy(col("event_type"))
      },
      oracle = None),

    // ANN recall evaluation — the quality gate every approximate index
    // ships with: grade the LSH pipeline's top-3 against the brute-force
    // top-3 ground truth, per probe. Truth is probe-bounded (10 probes ×
    // corpus, the sim_cosine_topk shape); the hit join and per-probe
    // counts run over ≤ 30-row relations, so the eval costs one corpus
    // scan more than the index itself at any scale. At 100 TB the truth
    // side is the expensive half — which is exactly why recall is
    // measured on a bounded probe SAMPLE, and that bound is the declared
    // contract here.
    "ann_recall_eval" -> QueryDef(
      (spark, dir) => {
        val probes = vecs(spark, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"), col("embedding").as("pv"),
            sqrt(gdot("embedding", "embedding")).as("pn"))
        val cands = vecs(spark, dir)
          .select(col("vec_id").as("cand"), col("embedding").as("cv"),
            sqrt(gdot("embedding", "embedding")).as("cn"))
        val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
        val truth = broadcast(probes).join(cands, col("probe") =!= col("cand"))
          .withColumn("sim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("cand"))
        // ≤ #probes × 3 rows by construction — persist (two consumers, so
        // the corpus-side LSH join runs once) and broadcast, never
        // sort-merge. The probe axis comes straight from the raw table:
        // re-deriving it from `truth` would re-run the whole brute-force
        // corpus pass just to list 10 ids.
        val approx = lshTop3(spark, dir).select(col("probe"), col("cand"))
          .scopedPersist()
        val nCand = approx.groupBy("probe").agg(cnt("n_cand"))
        val hits = truth.join(broadcast(approx), Seq("probe", "cand"))
          .groupBy("probe").agg(cnt("hits"))
        vecs(spark, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"))
          .join(broadcast(nCand), Seq("probe"), "left")
          .join(broadcast(hits), Seq("probe"), "left")
          .select(col("probe"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            pround(coalesce(col("hits"), lit(0L)).cast("double") / lit(3.0), 6).as("recall_r"))
          .orderBy(col("probe"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |truth AS (SELECT probe, cand FROM (
              |SELECT a.vec_id AS probe, b.vec_id AS cand,
              |row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosR DESC, b.vec_id) AS rn
              |FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rn <= 3),
              |hp AS (SELECT vec_id AS hb, v AS hv FROM e WHERE vec_id < 4),
              |bkt AS (SELECT e.vec_id, any_value(e.v) AS v,
              |CAST(sum(CASE WHEN list_dot_product(e.v, hp.hv) > 0 THEN (1::BIGINT << hb) ELSE 0 END) AS BIGINT) AS bucket
              |FROM e CROSS JOIN hp GROUP BY e.vec_id),
              |approx AS (SELECT probe, cand FROM (
              |SELECT a.vec_id AS probe, b.vec_id AS cand,
              |row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosR DESC, b.vec_id) AS rn
              |FROM bkt a JOIN bkt b ON a.vec_id < 10 AND b.bucket = a.bucket AND b.vec_id <> a.vec_id)
              |WHERE rn <= 3),
              |nc AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_cand FROM approx GROUP BY probe),
              |h AS (SELECT t.probe, CAST(count(*) AS BIGINT) AS hits
              |FROM truth t JOIN approx x ON t.probe = x.probe AND t.cand = x.cand GROUP BY t.probe)
              |SELECT p.probe, coalesce(nc.n_cand, 0) AS n_cand, coalesce(h.hits, 0) AS hits,
              |${proundSql("CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0", 6)} AS recall_r
              |FROM (SELECT DISTINCT probe FROM truth) p
              |LEFT JOIN nc ON p.probe = nc.probe
              |LEFT JOIN h ON p.probe = h.probe
              |ORDER BY p.probe""".stripMargin.replace("\n", " "))),

    // Symmetric int8 quantization of embeddings + reconstruction error —
    // the compression step a 100 TB ANN corpus runs before indexing (4×
    // smaller vectors, SIMD int8 dot products). Per vector: amax scale
    // (127/max|x|), round-to-nearest quantize, dequantize, MSE. Entirely
    // map-side — two sequential array folds per row inside whole-stage
    // codegen, no shuffle at all before the declared ORDER BY; both
    // engines run the identical IEEE sequence (fold in array order,
    // floor(x·s + 0.5) rounding — the pround arithmetic), so the error
    // metrics hash-match without any tolerance.
    "sim_quantize_int8" -> QueryDef(
      (spark, dir) => {
        vecs(spark, dir).filter(col("vec_id") < 200)
          .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
          .withColumn("dim", size(col("v")).cast("long"))
          .withColumn("amax", expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))"))
          .filter(col("amax") > 0)
          .withColumn("sq", expr(
            """aggregate(v, 0D, (a, x) ->
              |a + (x - floor(x * (127.0D / amax) + 0.5D) / (127.0D / amax))
              |  * (x - floor(x * (127.0D / amax) + 0.5D) / (127.0D / amax)))""".stripMargin))
          .select(col("vec_id"), col("dim"),
            pround(col("amax"), 6).as("amax_r"),
            pround(col("sq") / col("dim").cast("double"), 10).as("mse_r"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 200),
              |s AS (SELECT vec_id, v, len(v) AS dim,
              |list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) AS amax FROM e)
              |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
              |${proundSql("amax", 6)} AS amax_r,
              |${proundSql(
                 "list_reduce(list_transform(v, x -> (x - floor(x * (127.0 / amax) + 0.5) / (127.0 / amax)) * (x - floor(x * (127.0 / amax) + 0.5) / (127.0 / amax))), (a, b) -> a + b) / CAST(dim AS DOUBLE)",
                 10)} AS mse_r
              |FROM s WHERE amax > 0 ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // Product quantization (Jégou et al., the other classic vector
    // compressor beside scalar int8 above): split the 64-d embedding into
    // M=4 subspaces of 16 dims; each subspace has its own K=10-entry
    // codebook (sub-vectors of the fixed vectors 480..489 — the same
    // absolute-range trick the IVF centroids use, stable at every SF);
    // every vector stores only M code ids (4 bytes vs 256). Declared
    // output: per (subspace, code) cell — member count and mean squared
    // quantization error, i.e. the codebook-quality report a PQ index
    // build emits.
    //
    // Scale shape: the codebook is M·K = 40 rows, broadcast; assignment
    // is one map pass over the corpus (explode ×M, argmin over K via a
    // partial+final min_by aggregate — never a window over the corpus);
    // the only shuffles carry (vec_id, m) → (cid, err) narrow rows.
    // Distances rank on pround(9) so a last-ulp fold divergence cannot
    // flip an assignment (the IVF argmax argument); the per-cell error
    // mean sums pround(6)'d errors as DECIMAL so the aggregate is
    // bit-stable under any partitioning, with ONE double division at
    // the end.
    "sim_pq_codes" -> QueryDef(
      (spark, dir) => {
        val withM = vecs(spark, dir)
          .withColumn("m", pqM)
          .withColumn("sub", pqSub)
          .withColumn("ss", gdot("sub", "sub"))
        // ||s - c||² = ss - 2·sc + cc, evaluated in this exact IEEE order
        // on both engines; one fold per (vec, m, code) pair.
        val d = withM.join(broadcast(pqCodebook(spark, dir, "cid")), Seq("m"))
          .withColumn("pd", pround(
            col("ss") - lit(2.0) * gdot("sub", "csub") + col("cc"), 9))
        d.groupBy("vec_id", "m")
          .agg(min_by(struct(col("cid"), col("pd")),
            struct(col("pd"), col("cid"))).as("a"))
          .groupBy(col("m"), col("a.cid").as("code"))
          .agg(cnt("members"),
            sum(pround(col("a.pd"), 6).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
              .as("errsum"))
          .select(col("m"), col("code"), col("members"),
            pround(col("errsum").cast("double") / col("members").cast("double"), 6)
              .as("mean_err"))
          .orderBy(col("m"), col("code"))
      },
      Some(s"""WITH ${IvfSql.e}, ${IvfSql.pq("cid")},
              |d AS (SELECT ev.vec_id, ev.m, cb.cid, ${IvfSql.dist} AS pd
              |FROM ev JOIN cb ON ev.m = cb.m),
              |asg AS (SELECT vec_id, m, cid, pd FROM (
              |SELECT vec_id, m, cid, pd,
              |row_number() OVER (PARTITION BY vec_id, m ORDER BY pd, cid) AS rn FROM d) WHERE rn = 1)
              |SELECT m, cid AS code, CAST(count(*) AS BIGINT) AS members,
              |${proundSql("CAST(sum(CAST(" + proundSql("pd", 6) + " AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS mean_err
              |FROM asg GROUP BY m, cid ORDER BY m, code""".stripMargin.replace("\n", " "))),

    // PQ ASYMMETRIC DISTANCE search (Jégou et al., PAMI'11) — the query
    // step that makes product quantization THE billion-scale ANN method:
    // the corpus is stored as M=4 one-byte codes per vector
    // (sim_pq_codes), a probe precomputes a tiny lookup table of partial
    // distances to every sub-codebook entry, and each candidate's
    // approximate distance is just M table lookups + adds — the probe's
    // FULL vector never meets the corpus.
    //
    // Scale shape: corpus encoding is the sim_pq_codes aggregate (no
    // window over the corpus); the LUT is |probes|·M·K = 200 rows,
    // BROADCAST — the only corpus-sized work after encoding is one
    // broadcast-join map pass over the (vec_id, m, code) rows plus a
    // partial+final decimal sum per (probe, vec). Each partial distance
    // becomes DECIMAL(18,9) BEFORE the 4-term sum, so the
    // order-dependent double add can't diverge under partitioning; the
    // per-probe top-3 window ranks on the exact decimal-sum double with
    // vec_id tie-break.
    "sim_pq_adc" -> QueryDef(
      (spark, dir) => {
        // corpus code table shared with sim_ann_rerank ([[pqCodes]])
        val codes = pqCodes(spark, dir)
        val lut = pqLut(spark, dir, 5, "cid")
        val w = Window.partitionBy("probe").orderBy(col("adist"), col("cand"))
        codes.join(broadcast(lut), Seq("m", "code"))
          .groupBy(col("probe"), col("vec_id").as("cand"))
          .agg(sum(col("ld")).as("dsum"))
          .filter(col("probe") =!= col("cand"))
          .withColumn("adist", col("dsum").cast("double"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("cand"), col("adist"))
          .orderBy(col("probe"), col("adist"), col("cand"))
      },
      Some(s"""WITH ${IvfSql.e}, ${IvfSql.pq("cid")},
              |asg AS (SELECT vec_id, m, cid AS code FROM (
              |SELECT ev.vec_id, ev.m, cb.cid, ${IvfSql.dist} AS pd,
              |row_number() OVER (PARTITION BY ev.vec_id, ev.m
              |ORDER BY ${IvfSql.dist}, cb.cid) AS rn
              |FROM ev JOIN cb ON ev.m = cb.m) WHERE rn = 1),
              |${IvfSql.lut(5, "cid")},
              |adc AS (SELECT probe, asg.vec_id AS cand, CAST(sum(ld) AS DOUBLE) AS adist
              |FROM asg JOIN lut ON asg.m = lut.m AND asg.code = lut.code
              |GROUP BY probe, asg.vec_id)
              |SELECT probe, cand, adist FROM (
              |SELECT probe, cand, adist,
              |row_number() OVER (PARTITION BY probe ORDER BY adist, cand) AS rn
              |FROM adc WHERE probe <> cand) WHERE rn <= 3
              |ORDER BY probe, adist, cand""".stripMargin.replace("\n", " "))),

    // Maximum-inner-product search via the augmented-vector reduction
    // (Bachrach et al. / Shrivastava-Li): MIPS is NOT cosine — norms
    // matter — and cosine LSH is invalid for it directly. Appending
    // sqrt(M² − ‖x‖²) to every corpus vector (M = corpus max norm) and 0
    // to every query makes augmented-space angles monotone in the raw
    // inner product, so the SAME sign-bucket LSH machinery (ann_lsh_topk)
    // indexes inner products legitimately. Declared output: per probe,
    // top-3 bucket-mates by true inner product (the augmented dot IS the
    // raw ip — the query's 65th component is 0).
    //
    // Scale shape: identical to ann_lsh_topk — the corpus max-norm is
    // one scalar aggregate broadcast back, augmentation and bucket
    // assignment are a narrow map pass (4 broadcast hyperplanes), and
    // the probe join hits only its own bucket. Nothing here is
    // corpus×corpus.
    "sim_mips_lsh" -> QueryDef(
      (spark, dir) => {
        val e = vecs(spark, dir)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
          .withColumn("ss", gdot("v", "v"))
        val m = e.agg(max(col("ss")).as("m2"))
        val a = e.crossJoin(broadcast(m))
          .withColumn("va", expr("concat(v, array(sqrt(m2 - ss)))"))
          .select(col("vec_id"), col("va"))
        val hp = a.filter(col("vec_id") < 4)
          .select(col("vec_id").as("hb"), col("va").as("hv"))
        val bucketed = a.crossJoin(broadcast(hp))
          .withColumn("bit", when(gdot("va", "hv") > 0,
            expr("shiftleft(1L, cast(hb as int))")).otherwise(0L))
          .groupBy("vec_id")
          .agg(sum(col("bit")).cast("long").as("bucket"), first(col("va")).as("cva"))
        val probes = e.filter(col("vec_id") < 10)
          .withColumn("pa", expr("concat(v, array(cast(0.0 as double)))"))
          .crossJoin(broadcast(hp))
          .withColumn("bit", when(gdot("pa", "hv") > 0,
            expr("shiftleft(1L, cast(hb as int))")).otherwise(0L))
          .groupBy(col("vec_id"))
          .agg(sum(col("bit")).cast("long").as("pbk"), first(col("pa")).as("pa"))
          .select(col("vec_id").as("probe"), col("pbk"), col("pa"))
        val w = Window.partitionBy("probe").orderBy(col("ip").desc, col("vec_id"))
        broadcast(probes)
          .join(bucketed, col("pbk") === col("bucket") && col("vec_id") =!= col("probe"))
          .withColumn("ip", pround(gdot("pa", "cva"), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("vec_id").as("cand"), col("ip"))
          .orderBy(col("probe"), col("ip").desc, col("cand"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |m AS (SELECT max(list_dot_product(v, v)) AS m2 FROM e),
              |a AS (SELECT vec_id, list_concat(v, [sqrt(m.m2 - list_dot_product(v, v))]) AS va
              |FROM e CROSS JOIN m),
              |hp AS (SELECT vec_id AS hb, va AS hv FROM a WHERE vec_id < 4),
              |bkt AS (SELECT a.vec_id, any_value(a.va) AS cva,
              |CAST(sum(CASE WHEN list_dot_product(a.va, hp.hv) > 0 THEN (1::BIGINT << hb) ELSE 0 END) AS BIGINT) AS bucket
              |FROM a CROSS JOIN hp GROUP BY a.vec_id),
              |pr AS (SELECT e.vec_id AS probe, any_value(list_concat(e.v, [0.0])) AS pa,
              |CAST(sum(CASE WHEN list_dot_product(list_concat(e.v, [0.0]), hp.hv) > 0 THEN (1::BIGINT << hb) ELSE 0 END) AS BIGINT) AS pbk
              |FROM e CROSS JOIN hp WHERE e.vec_id < 10 GROUP BY e.vec_id)
              |SELECT probe, cand, ip FROM (
              |SELECT pr.probe, b.vec_id AS cand, ${proundSql("list_dot_product(pr.pa, b.cva)", 6)} AS ip,
              |row_number() OVER (PARTITION BY pr.probe
              |ORDER BY ${proundSql("list_dot_product(pr.pa, b.cva)", 6)} DESC, b.vec_id) AS rn
              |FROM pr JOIN bkt b ON b.bucket = pr.pbk AND b.vec_id <> pr.probe)
              |WHERE rn <= 3 ORDER BY probe, ip DESC, cand""".stripMargin.replace("\n", " "))),

    // Two-stage retrieve-then-rerank ANN — the IVFADC serving pipeline
    // (Jégou et al., PAMI'11) and the production composition of every
    // piece above: IVF cell restriction (sim_ivf_nprobe) → PQ-ADC
    // shortlist (sim_pq_adc) → EXACT cosine re-rank of only the top-R
    // shortlist. This is the legitimate Spark answer to graph ANN
    // (HNSW): the recall lost to quantization is recovered by the exact
    // re-rank, and the exact math runs over ≤ R rows per probe instead
    // of the corpus.
    //
    // Scale shape: retrieval is [[adcShortlist]] (everything small
    // broadcasts; corpus relations stay narrow); the shortlist itself is
    // |probes|·R rows — BROADCAST — so the re-rank join streams the
    // corpus embeddings past it once with zero shuffle, and the final
    // top-3 windows partition by probe over ≤ R rows. AnnRerankSpec
    // grades recall: rerank@3 ≥ ADC-only@3 against brute-force truth.
    "sim_ann_rerank" -> QueryDef(
      (spark, dir) => {
        val shortlist = adcShortlist(spark, dir, 10)
        val cands = vecs(spark, dir)
          .select(col("vec_id").as("cand"), col("embedding").as("cv2"),
            sqrt(gdot("embedding", "embedding")).as("cn2"))
        val probes = vecs(spark, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe"), col("embedding").as("pv"),
            sqrt(gdot("embedding", "embedding")).as("pn"))
        val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
        broadcast(shortlist)
          .join(cands, Seq("cand"))
          .join(broadcast(probes), Seq("probe"))
          .withColumn("sim", pround(gdot("pv", "cv2") / (col("pn") * col("cn2")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("probe"), col("cand"), col("adist"), col("sim"))
          .orderBy(col("probe"), col("sim").desc, col("cand"))
      },
      Some {
        val rsim = IvfSql.cos("pe.v", "ce.v", 6)
        s"""WITH ${IvfSql.e}, ${IvfSql.oracleRing()}, ${IvfSql.asg(withV = false)},
           |${IvfSql.pq("ccid")},
           |codes AS (SELECT vec_id, m, ccid AS code FROM (
           |SELECT ev.vec_id, ev.m, cb.ccid,
           |row_number() OVER (PARTITION BY ev.vec_id, ev.m
           |ORDER BY ${IvfSql.dist}, cb.ccid) AS rn
           |FROM ev JOIN cb ON ev.m = cb.m) WHERE rn = 1),
           |enc AS (SELECT codes.vec_id, codes.m, codes.code, asg.cid
           |FROM codes JOIN asg ON codes.vec_id = asg.vec_id),
           |p AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
           |pc AS (SELECT probe, pcid FROM (
           |SELECT p.vec_id AS probe, c.cid AS pcid,
           |row_number() OVER (PARTITION BY p.vec_id ORDER BY ${IvfSql.cos("p.v", "c.cv", 9)} DESC, c.cid) AS crn
           |FROM p CROSS JOIN c) WHERE crn <= 2),
           |${IvfSql.lut(10, "ccid")},
           |adc AS (SELECT pc.probe, enc.vec_id AS cand, CAST(sum(lut.ld) AS DOUBLE) AS adist
           |FROM enc JOIN pc ON enc.cid = pc.pcid
           |JOIN lut ON lut.probe = pc.probe AND lut.m = enc.m AND lut.code = enc.code
           |WHERE enc.vec_id <> pc.probe GROUP BY pc.probe, enc.vec_id),
           |sl AS (SELECT probe, cand, adist FROM (
           |SELECT probe, cand, adist,
           |row_number() OVER (PARTITION BY probe ORDER BY adist, cand) AS rn
           |FROM adc) WHERE rn <= 10)
           |SELECT probe, cand, adist, sim FROM (
           |SELECT sl.probe, sl.cand, sl.adist, $rsim AS sim,
           |row_number() OVER (PARTITION BY sl.probe ORDER BY $rsim DESC, sl.cand) AS rn2
           |FROM sl JOIN e ce ON ce.vec_id = sl.cand JOIN e pe ON pe.vec_id = sl.probe)
           |WHERE rn2 <= 3 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " ")
      }),

    "sim_graph_ann" -> simGraphAnn(atOracle),
    "sim_graph_hnsw" -> simGraphHnsw(atOracle),

    // kNN label-vote classification — the data-curation use of the ANN
    // lane (label propagation / weak supervision): each unlabeled probe
    // takes the majority label of its k=5 nearest labeled neighbors.
    // Scale shape: the probe side is bounded BY DEFINITION (the batch
    // being classified), so it broadcasts and the corpus never shuffles
    // for the scoring pass — probe × corpus scoring is a map-only pass
    // over the corpus, the top-k window partitions by probe (k rows of
    // state each), and the vote is an O(|probes| × |labels|) aggregate.
    // Swap the brute-force scorer for [[ivfAssigned]] cell restriction
    // at higher corpus scales (the sim_ann_rerank composition); the vote
    // logic is identical. Majority ties break to the SMALLER label id —
    // deterministic, stated, and mirrored in the oracle.
    "sim_knn_classify" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val all = t(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"),
            sqrt(gdot("embedding", "embedding")).as("nv"))
        val probes = all.filter(col("vec_id") < 20)
          .select(col("vec_id").as("probe"), col("embedding").as("pv"),
            col("label").as("true_label"), col("nv").as("pn"))
        val corpus = all.filter(col("vec_id") >= 20)
        val kw = Window.partitionBy("probe").orderBy(col("sim").desc, col("vec_id"))
        val neigh = broadcast(probes).join(corpus, col("vec_id") =!= col("probe"))
          .withColumn("sim", pround(gdot("pv", "embedding") / (col("pn") * col("nv")), 6))
          .withColumn("rn", row_number().over(kw))
          .filter(col("rn") <= 5)
        val votes = neigh.groupBy(col("probe"), col("true_label"), col("label"))
          .agg(cnt("votes"))
        val vw = Window.partitionBy("probe").orderBy(col("votes").desc, col("label"))
        votes.withColumn("vr", row_number().over(vw))
          .filter(col("vr") === 1)
          .select(col("probe"), col("true_label"), col("label").as("pred_label"),
            when(col("label") === col("true_label"), 1L).otherwise(0L).as("correct"))
          .orderBy(col("probe"))
      },
      Some {
        val sim = IvfSql.cos("p.v", "c.v", 6)
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |CAST(label AS BIGINT) AS label FROM embeddings),
           |p AS (SELECT vec_id AS probe, v, label AS true_label FROM e WHERE vec_id < 20),
           |n AS (SELECT probe, true_label, label, vec_id FROM (
           |SELECT p.probe, p.true_label, c.label, c.vec_id,
           |row_number() OVER (PARTITION BY p.probe ORDER BY $sim DESC, c.vec_id) AS rn
           |FROM p JOIN e c ON c.vec_id >= 20 AND c.vec_id <> p.probe)
           |WHERE rn <= 5),
           |v AS (SELECT probe, true_label, label,
           |CAST(count(*) AS BIGINT) AS votes FROM n GROUP BY 1, 2, 3)
           |SELECT probe, true_label, label AS pred_label,
           |CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
           |FROM (SELECT probe, true_label, label,
           |row_number() OVER (PARTITION BY probe ORDER BY votes DESC, label) AS vr
           |FROM v) WHERE vr = 1 ORDER BY probe""".stripMargin.replace("\n", " ")
      }),

    // PORTABLE HyperLogLog — the oracle-checked twin of the engine-native
    // approx_distinct_hll (which is rows-only because Spark's HLL++ and
    // DuckDB's sketch can't cross-check). Here the WHOLE sketch is
    // portable integer arithmetic both engines run identically:
    // 60-bit md5 hash → register = h mod 64, rank = trailing zeros of
    // (h div 64) + 1 via the bit_count((v & -v) − 1) identity — exact
    // int ops, no log2 (IEEE log is libm-divergent); per-register max
    // rank caps at 50; and the harmonic sum Σ 2^(−M_j) is EXACT integer
    // arithmetic at scale 2^55 (empty registers contribute 2^55 each),
    // so no float fold order can differ. Estimate = α₆₄·m²/Z with one
    // double division at the end. Scale shape: the register relation is
    // ≤ |groups|·64 rows after a map-side-combined max agg — the sketch
    // IS re-aggregatable (max merges), which is the 100 TB point; the
    // declared output carries estimate, exact truth, and relative error
    // (HllPortableSpec asserts |err| within 3σ = 39% for m=64).
    "sketch_hll_portable" -> QueryDef(
      (spark, dir) => {
        val m = 64
        val h = hx("cast(event_id as string)")
        val regs = t(spark, dir, "events")
          .select(col("event_type"), expr(s"$h % $m").as("reg"),
            expr(s"$h div $m").as("v"))
          .withColumn("rho", least(expr("bit_count((v & -v) - 1) + 1"), lit(50)))
          .groupBy(col("event_type"), col("reg"))
          .agg(max(col("rho")).as("mr"))
        val sums = regs.groupBy("event_type")
          .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - mr as int))")).as("s_used"),
            cnt("m_used"))
          .withColumn("z_scaled",
            col("s_used") + (lit(m.toLong) - col("m_used")) * expr("shiftleft(cast(1 as bigint), 55)"))
        val exact = t(spark, dir, "events").groupBy("event_type").agg(cnt("exact_n"))
        sums.join(exact, Seq("event_type"))
          .select(col("event_type"), col("exact_n"),
            pround(lit(0.709) * lit(m.toDouble * m) /
              (col("z_scaled").cast("double") / lit(math.pow(2.0, 55))), 2).as("hll_est"),
            pround((lit(0.709) * lit(m.toDouble * m) /
              (col("z_scaled").cast("double") / lit(math.pow(2.0, 55)))
              - col("exact_n").cast("double")) / col("exact_n").cast("double"), 4).as("rel_err"))
          .orderBy(col("event_type"))
      },
      Some {
        val h = hxSql("CAST(event_id AS VARCHAR)")
        val est = "0.709 * 4096.0 / (CAST(z_scaled AS DOUBLE) / 36028797018963968.0)"
        s"""WITH r AS (SELECT event_type, $h % 64 AS reg,
           |least(bit_count((($h // 64) & -($h // 64)) - 1) + 1, 50) AS rho
           |FROM events),
           |mx AS (SELECT event_type, reg, max(rho) AS mr FROM r GROUP BY 1, 2),
           |s AS (SELECT event_type,
           |CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mr AS INT)) AS BIGINT)
           | + (64 - CAST(count(*) AS BIGINT)) * (CAST(1 AS BIGINT) << 55) AS z_scaled
           |FROM mx GROUP BY 1),
           |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
           |FROM events GROUP BY 1)
           |SELECT s.event_type, exact_n,
           |${proundSql(est, 2)} AS hll_est,
           |${proundSql(s"($est - CAST(exact_n AS DOUBLE)) / CAST(exact_n AS DOUBLE)", 4)} AS rel_err
           |FROM s JOIN ex ON s.event_type = ex.event_type
           |ORDER BY s.event_type""".stripMargin.replace("\n", " ")
      }),

    "sample_diverse_cells" -> sampleDiverseCells(atOracle),
    "sample_diverse_cells_spread" -> sampleDiverseCells(atSqrtN),
    "sim_graph_ann_spread" -> simGraphAnn(atSqrtN),
    "sim_graph_hnsw_spread" -> simGraphHnsw(atSqrtN))
}
