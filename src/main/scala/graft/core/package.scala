package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import graft.plans.GraftExtensions

/** Core helpers shared by every operator in the engine.
  *
  * Determinism discipline (SURVEY.md §7.3): money/value aggregates go
  * decimal-sum → round(2) → double; averages are one IEEE double division;
  * counts are BIGINT; every declared query ends in a total ORDER BY.
  */
package object core {

  /** One declared query: the Spark plan plus (optionally) the equivalent
    * DuckDB oracle SQL. `oracle = None` → driver records a rows-only check.
    */
  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Parquet table reader — the only input path the engine uses.
    * Explicit schemas come from the files themselves (parquet is
    * self-describing); never CSV/inferSchema (FIXTURES.md §2).
    *
    * Older fixtures store `events.ts` as TIMESTAMP(NANOS), which Spark 4
    * refuses to read natively (PARQUET_TYPE_ILLEGAL): read it as raw nanos
    * via the legacy conf and truncate to a µs timestamp, the same
    * floor-truncation DuckDB applies on read (FIXTURES.md §1). Current
    * fixtures store TIMESTAMP(MICROS) (→ TimestampNTZ), which needs no
    * transform; the LongType guard below handles either shape.
    *
    * Every declared query reads through here, so this is also where the
    * custom Catalyst expressions are installed in the session.
    *
    * Schema inference runs one footer-reading Spark job, so each table's
    * schema is inferred once per session and dataset generation
    * ([[tableSchemas]]): a read whose path still has the stored
    * [[datasetFingerprint]] is given the stored schema, and a rewritten
    * table is inferred again. Every read still plans its own relation.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = read(spark, sfDir, name)._1

  /** [[t]] plus the table's total bytes, from the same stat pass. */
  private def read(spark: SparkSession, sfDir: String, name: String): (DataFrame, Long) = {
    GraftExtensions.install(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val (fp, bytes) = stat(path)
    val known = tableSchemas.synchronized {
      Option(tableSchemas.get(spark)).flatMap(m => Option(m.get(path)))
    }.filter(_.fp == fp)
    val df = known.fold {
      val inferred = spark.read.parquet(path)
      tableSchemas.synchronized {
        tableSchemas.computeIfAbsent(spark, _ => new java.util.HashMap())
          .put(path, TableSchema(fp, inferred.schema))
      }
      inferred
    }(e => spark.read.schema(e.schema).parquet(path))
    (df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else d
    }, bytes)
  }

  /** One table's inferred schema and the generation it was inferred from. */
  private final case class TableSchema(fp: String, schema: StructType)

  /** Per-session store of inferred table schemas, keyed by table path.
    * Inference depends on session conf (`inferTimestampNTZ.enabled`,
    * `binaryAsString`, `nanosAsLong`), hence one map per session; the
    * weak key lets a dropped session go. It holds schemas, not
    * DataFrames: a cached Dataset would hand two reads of one table the
    * same attribute ids and break their self-joins.
    */
  private val tableSchemas =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, TableSchema]]()

  /** Scale-adaptive scan spread ("input skew: one huge unsplittable
    * file … repartition immediately after the read").
    * Parquet scans parallelize only across row groups / split ranges,
    * and the local fixtures are single-row-group files — so every
    * map-heavy pass over a scan (md5 shingling, minhash lanes, dot
    * products, levenshtein) serializes on ONE core regardless of the
    * session's core count (measured: dedup_band_admit spent 2×1.5 s in
    * one-task minhash map stages on a 32-core session). When the scan's
    * estimated split count would leave over half the cores idle AND the
    * relation is big enough that map CPU dominates one narrow exchange
    * (≥ 256 KiB — the tiny dims and sub-sf0.1 fixtures stay unsplit),
    * hash-spread it across the cores on the table's dense primary key
    * (deterministic under retry, unlike rand-derived keys — guide §2.5;
    * and downstream key-clustered ops reuse the layout instead of
    * re-exchanging). At cluster scale a healthy table has ≥ cores
    * splits, the condition is false, and the scan is untouched — the
    * rule is derived from input size, not tuned to a core count.
    */
  def tSpread(spark: SparkSession, sfDir: String, name: String, key: String): DataFrame = {
    val (df, bytes) = read(spark, sfDir, name)
    // knob for A/B sweeps (mirrors SPARK_GRAFT_AQE_ADVISORY=off)
    if (sys.env.get("SPARK_GRAFT_SCAN_SPREAD").contains("off")) return df
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = confBytes(spark, "spark.sql.files.maxPartitionBytes", 128L << 20)
    val splits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (bytes >= (256L << 10) && splits * 2 <= cores)
      df.repartition(cores, col(key))
    else df
  }

  /** Every file under `path` (the path itself when it is a file). */
  private[graft] def filesUnder(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(walk))
      else Seq(f)
    walk(new java.io.File(path))
  }

  /** Total bytes of the files under `path`. */
  private[graft] def bytesUnder(path: String): Long = filesUnder(path).map(_.length()).sum

  /** A byte-size session conf in bytes, read as Spark reads it ("64m",
    * "134217728b", a plain byte count), or `default` when it is unset. */
  private[graft] def confBytes(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default)(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)

  /** Cast to exact decimal — the first step of every money aggregate. */
  def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** decimal-sum → round → double: hash-stable across Spark and DuckDB. */
  def moneySum(c: Column, p: Int = 18, s: Int = 2): Column =
    round(sum(dec(c, p, s)), 2).cast("double")

  /** count(*) as BIGINT under a stable alias. */
  def cnt(alias: String): Column = count(lit(1)).cast("long").as(alias)

  /** Portable double rounding: floor(x·10ⁿ + 0.5)/10ⁿ.
    *
    * Engines disagree on `round(double, n)` at representation boundaries
    * (Spark rounds the shortest decimal string HALF_UP, DuckDB scales the
    * binary value), so every declared query that rounds a genuine double
    * (division, sqrt, cosine) uses THIS exact arithmetic on both sides —
    * identical IEEE ops ⇒ identical results. Decimal rounds stay `round`
    * (both engines are HALF_UP on decimals — verified 2026-08-12).
    */
  def pround(c: Column, n: Int): Column = {
    val p = lit(math.pow(10, n))
    floor(c * p + lit(0.5)) / p
  }

  /** DuckDB twin of [[pround]] — inline SQL with the same arithmetic. */
  def proundSql(x: String, n: Int): String = {
    val p = "1" + ("0" * n) + ".0"
    s"floor(($x) * $p + 0.5) / $p"
  }

  /** Portable 60-bit hash of the Spark SQL expression `s`: the first 15
    * hex digits of its md5 as a BIGINT. Engines disagree on built-in
    * `hash()` (Murmur3 vs DuckDB's), so every hash an oracle must
    * reproduce is this one — bit-identical on both sides. */
  def hx(s: String): String = s"cast(conv(substr(md5($s), 1, 15), 16, 10) as bigint)"

  /** DuckDB twin of [[hx]]. */
  def hxSql(s: String): String = s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  // --------------------------------------------------------------------
  // Query-scoped cache registry.
  //
  // Several declared queries persist() or localCheckpoint() heavy
  // intermediates. A lazily-consumed DataFrame cannot unpersist them on
  // the return path (the caller hasn't materialized anything yet), so the
  // SESSION CONTRACT is: after consuming a query's result, the caller
  // invokes releaseQueryCaches(spark). Bench, Verify, and the test
  // harness do; a long-lived embedding (notebook, service) must too, or
  // blocks accumulate. catalog.clearCache() alone is NOT enough — it
  // frees plan-cache entries but not localCheckpoint RDD blocks.
  // --------------------------------------------------------------------

  private val queryCaches =
    scala.collection.mutable.Map.empty[SparkSession,
      scala.collection.mutable.ArrayBuffer[() => Unit]]

  private def registerCleanup(spark: SparkSession)(f: () => Unit): Unit =
    queryCaches.synchronized {
      queryCaches.getOrElseUpdate(spark,
        scala.collection.mutable.ArrayBuffer.empty) += f
    }

  /** persist(MEMORY_AND_DISK) + register the block for release at the
    * end of the current query's consumption.
    */
  def scopedPersist(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCleanup(df.sparkSession)(() => { df.unpersist(false); () })
    df
  }

  /** Eager localCheckpoint + register its RDD blocks for release. Used
    * where lineage truncation is the point (iterative plans); unlike
    * persist, checkpoint blocks survive catalog.clearCache(), so an
    * unregistered one is a true leak in a long-lived session.
    */
  def scopedCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    registerCleanup(out.sparkSession)(() => releaseCheckpoint(out))
    out
  }

  /** Free the RDD blocks behind a localCheckpoint'd DataFrame —
    * Dataset.unpersist only covers plan-cache entries, so walk to the
    * LogicalRDD and unpersist the materialized RDD itself.
    */
  def releaseCheckpoint(out: DataFrame): Unit =
    out.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Eager localCheckpoint RIGHT-SIZED by its own materialized bytes
    * ("fewer, larger partitions"): a checkpointed
    * relation keeps its build-time partition count — the shuffle-
    * partition initial count (32 locally, 1024+ at the 100× boards) —
    * and AQE coalescing cannot reach cached plans, so EVERY downstream
    * stage that scans it pays that task count no matter how few bytes
    * it holds (a 2000-row ANN assignment table scanned ~15× per graph
    * query = ~500 no-op tasks). After materializing, read the blocks'
    * actual size from the storage info and coalesce to ceil(bytes /
    * advisory) partitions, clamping the advisory to [1, 16] MiB so an
    * unwired session's 64 MiB default cannot serialize a genuinely
    * large relation. coalesce() is a narrow, deterministic merge —
    * values and their free-on-release path (the LogicalRDD leaf) are
    * unchanged.
    */
  def ckptRightsized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val ck = df.localCheckpoint(true)
    val rddId = ck.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    val parts = rddId.map(_ => ck.rdd.getNumPartitions).getOrElse(1)
    val bytes = rddId.flatMap(id =>
      spark.sparkContext.getRDDStorageInfo.find(_.id == id))
      .map(i => i.memSize + i.diskSize).getOrElse(0L)
    val advisory = math.max(1L << 20, math.min(16L << 20,
      confBytes(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", 4L << 20)))
    val target = math.max(1L, math.min(parts.toLong,
      (bytes + advisory - 1) / advisory)).toInt
    if (2 * target <= parts) ck.coalesce(target) else ck
  }

  /** Release every cache a declared query registered on this session.
    * Idempotent; safe if the query also unpersisted eagerly itself.
    */
  def releaseQueryCaches(spark: SparkSession): Unit = {
    val fs = queryCaches.synchronized { queryCaches.remove(spark) }
    fs.foreach(_.foreach(f => try f() catch { case _: Throwable => () }))
  }

  /** Chainable forms of the scoped-cache helpers. */
  implicit class ScopedCacheOps(private val df: DataFrame) extends AnyVal {
    def scopedPersist(): DataFrame = core.scopedPersist(df)
    def scopedCheckpoint(): DataFrame = core.scopedCheckpoint(df)
  }

  // --------------------------------------------------------------------
  // Session switches: `spark.graft.*` keys of the session's own conf, so
  // setting one on a session never changes what another session in the
  // same JVM computes. The query layer reads no JVM system property.
  // --------------------------------------------------------------------

  /** One `spark.graft.*` session switch and its value when unset. */
  final case class Switch[A](key: String, default: A, parse: String => A)

  /** Reuse one heavy build per dataset across a harness sweep ([[shared]]);
    * unset, each query plans its own build (what PlanShapeSpec pins). */
  val SharedPipeline = Switch("spark.graft.shared.pipeline", false, _.toBoolean)
  /** Candidate pairs per document past which the exact Jaccard lane
    * refuses the corpus (0 disables). */
  val JaccardMaxPairsPerDoc = Switch("spark.graft.jaccard.maxPairsPerDoc", 4096L, _.toLong)
  /** Pairs per document past which the routed Jaccard key takes LSH. */
  val JaccardRoutedBudget = Switch("spark.graft.jaccard.routed.budget", 64L, _.toLong)
  /** Ring bytes past which a centroid ring ships as a broadcast. */
  val RingBroadcastBytes = Switch("spark.graft.ring.broadcastBytes", 4L << 20, _.toLong)

  /** The one reader of the session switches. */
  def setting[A](spark: SparkSession, s: Switch[A]): A =
    spark.conf.getOption(s.key).fold(s.default)(s.parse)

  // --------------------------------------------------------------------
  // Session-lifetime shared builds. Several declared queries start from
  // the same heavy intermediate (the verified minhash pipeline, the
  // curation features, the graph and IVF/PQ index builds). Under
  // [[SharedPipeline]] each runs once per (session, dataset generation
  // under `dir`, shuffle partitions, name) and lives for the session,
  // outside the per-query registry above. The build closure picks its
  // carrier (a checkpoint that survives the harness's per-query
  // clearCache) and returns a DataFrame or a tuple of them. When `dir`
  // is regenerated, the next request builds afresh and the superseded
  // generation's entries are dropped and their blocks freed. Entries hold
  // their SparkSession, so a service that makes many sessions leaves the
  // switch off.
  // --------------------------------------------------------------------

  private final case class SharedKey(spark: SparkSession, dir: String,
                                     fp: String, parts: String, name: String)
  private val sharedBuilds = scala.collection.mutable.Map.empty[SharedKey, Any]

  /** Cheap fingerprint of the dataset under `dir`: file count, total
    * bytes and the newest NANOSECOND mtime (the millisecond
    * File.lastModified collapses to 1 s on many filesystems, hiding a
    * same-size regeneration within the same second). One stat pass.
    */
  private[graft] def datasetFingerprint(dir: String): String = stat(dir)._1

  /** [[datasetFingerprint]] of `path` and its total bytes, from one stat pass. */
  private def stat(path: String): (String, Long) = {
    val fs = filesUnder(path)
    def mtimeNanos(f: java.io.File): Long =
      try java.nio.file.Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: java.io.IOException => f.lastModified() * 1000000L }
    val bytes = fs.map(_.length()).sum
    (s"${fs.size}:$bytes:${if (fs.isEmpty) 0L else fs.map(mtimeNanos).max}", bytes)
  }

  /** The session's build `name` over the current generation of `dir`. */
  def shared[A](spark: SparkSession, dir: String, name: String)(build: => A): A =
    sharedBuilds.synchronized {
      val fp = datasetFingerprint(dir)
      val k = SharedKey(spark, dir, fp, spark.conf.get("spark.sql.shuffle.partitions", ""), name)
      if (!sharedBuilds.contains(k)) evictShared(o => o.dir == dir && o.fp != fp)
      sharedBuilds.getOrElseUpdate(k, build).asInstanceOf[A]
    }

  /** A relation several queries scan: the session's shared build, right-
    * sized by its materialized bytes ([[ckptRightsized]]), under
    * [[SharedPipeline]]; otherwise the query's own plan, persisted for
    * the query. Values identical either way. */
  def sharedOr(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    if (!setting(spark, SharedPipeline)) scopedPersist(build)
    else shared(spark, dir, name)(ckptRightsized(build))

  private def evictShared(stale: SharedKey => Boolean): Unit = {
    def frames(v: Any): Iterator[DataFrame] = v match {
      case df: DataFrame @unchecked => Iterator(df)
      case p: Product => p.productIterator.flatMap(frames)
      case _ => Iterator.empty
    }
    sharedBuilds.keys.filter(stale).toSeq
      .foreach(k => sharedBuilds.remove(k).foreach(frames(_).foreach(releaseCheckpoint)))
  }

  /** Test hook: the dataset generations of `dir` that hold shared builds. */
  private[graft] def sharedFps(dir: String): Seq[String] =
    sharedBuilds.synchronized { sharedBuilds.keys.filter(_.dir == dir).map(_.fp).toSeq.distinct }

  /** Test hook: drop and free every shared build of `dir`. */
  private[graft] def evictSharedFor(dir: String): Unit =
    sharedBuilds.synchronized { evictShared(_.dir == dir) }

  /** Plan-only builds (PlanAudit --explain): suppress eager guard probe
    * jobs for THIS call stack only. A DynamicVariable, not a JVM-wide
    * system property — a concurrent thread building the
    * same query still runs its guard, and nested/forgotten cleanup
    * cannot leak the flag past the `withValue` scope.
    */
  val planOnly = new scala.util.DynamicVariable[Boolean](false)

  /** Named long accumulators for operator telemetry:
    * registered once per (SparkContext, name) so a cluster operator
    * sees the value on the listener bus / status APIs, where a
    * driver-local system property is invisible. Driver-set gauges:
    * reset + add on each measurement.
    */
  private val gaugeReg = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String),
    org.apache.spark.util.LongAccumulator]()

  def gauge(spark: SparkSession, name: String): org.apache.spark.util.LongAccumulator =
    gaugeReg.computeIfAbsent((spark.sparkContext, name), { key =>
      val acc = new org.apache.spark.util.LongAccumulator
      key._1.register(acc, key._2)
      acc
    })

  def setGauge(spark: SparkSession, name: String, v: Long): Unit = {
    val g = gauge(spark, name)
    g.reset(); g.add(v)
  }
}
