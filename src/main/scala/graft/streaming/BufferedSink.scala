package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Two-phase, exactly-once micro-batch sink with buffer→main compaction —
  * the Spark-native form of the reference's buffer-table flush pipeline
  * (SURVEY.md §2.A10–A13).
  *
  * pg2ch buffers rows in memory, flushes them into a ClickHouse staging
  * ("buffer") table with an explicit `row_id`, and every `merge_threshold`
  * flushes promotes them into the main table in `row_id` order, truncating
  * the buffer; the replication slot is only acked after the flush
  * succeeds, and restart replays are dropped via the persisted LSN
  * (`pkg/tableengines/generic.go` FlushToMainTable, `pkg/consumer`
  * standby-status [recall:med] — SURVEY §0 caveat applies).
  *
  * Spark mapping: a landing takes (batch, batchId), stages the batch to
  * `_staging/<batchId>`, atomically renames it into the committed area,
  * and records the batchId in a manifest. A redelivered batchId
  * (checkpoint replay after crash) is a no-op — the manifest is the
  * equivalent of the reference's persisted LSN.
  *
  * One landing path, two entry points. [[writeStamped]] lands a batch
  * that already carries `__row_id`; [[writeBatch]] is [[stampRowIds]]
  * followed by that same landing. The routed stream stamps its decoded
  * micro-batch ONCE for every table and lands each table's slice through
  * [[writeStamped]], so a table costs one write job per micro-batch, not
  * a stamp of its own; ids then stay batchId-major and strictly
  * increasing in LSN order within a table, but are not dense per table.
  *
  * ALL state I/O goes through [[StateFs]] (the Hadoop `FileSystem` API),
  * so `tableDir` may live on the stream's checkpoint store — HDFS, S3A,
  * ABFS — not just the driver's local disk; a cluster's driver and
  * executors do not share a local filesystem. The batchId manifest is a
  * marker DIRECTORY (`_committed_batches/b=<id>`, creation = commit)
  * rather than an appended file: HDFS append is optional and object
  * stores have none, and one marker per batch keeps the commit a single
  * create instead of a read-modify-write. A landing lists the manifest
  * once and reads the segments' coverage once, so its state reads do not
  * multiply with the number of batches ever landed.
  *
  * Truncate frontiers are sink state too: a landing whose batch carries
  * `T` rows records each table's frontier (the LSN of its last `T`) in
  * `_truncates/b=<batchId>` before the batch marker, and
  * [[truncateFrontiers]] reads the max over the committed batches'
  * records, so a FINAL read needs no aggregate over the log. The stamp
  * finds the `T` rows in the pass it already runs.
  *
  * Compaction (A11's second half): with `mergeThreshold > 0`, once that
  * many committed batch dirs are live they are merged into one
  * `main/seg-<maxBatchId>` segment, and the merged batch dirs are
  * deleted. A compaction is one read → write job: it does not sort,
  * because `__row_id` (batchId-major, intra-batch arrival order minor)
  * carries the arrival order and every reader orders or groups by
  * column, never by a segment's physical order. The read is given the
  * landed schema, so it runs no schema-inference job either. The landing
  * itself never compacts: [[writeBatch]] compacts after its landing, and
  * the routed stream calls [[maybeCompact]] after the ClickHouse ship, so
  * the mirror gets a batch's rows before the housekeeping runs. Without
  * compaction a long-running stream lands one directory per micro-batch
  * forever and every read re-opens all of them — unbounded small-file
  * growth, the failure every real long-running replication hits.
  *
  * Crash safety: the set of batch ids a segment covers is written INSIDE
  * the staged segment (`_batches`, an underscore file parquet readers
  * ignore) before the atomic move, so segment data + coverage commit
  * together. The live set is always derived as committed − covered; a
  * crash after the move but before the batch-dir deletes only leaves
  * garbage dirs that the next compaction (or read) ignores and later
  * retires. ClickHouse itself is not in this environment, so the writer
  * targets a filesystem table layout; the TSV wire encoding lives in
  * graft.functions.TsvCodec.
  *
  * @param mergeThreshold compact every N committed batches; 0 = never
  *        (the raw landing behavior).
  * @param orderCols intra-batch arrival-order key for `__row_id` (the WAL
  *        feed's `lsn` by default); see [[BufferedSink.stampRowIds]].
  * @param segmentMerge engine-aware row reduction applied to each
  *        segment's rows as it compacts (ClickHouse's background
  *        part-merge analog — [[CdcApply.mergeSlice]]); identity by
  *        default (pg2ch copies buffer rows verbatim).
  */
final class BufferedSink(tableDir: String, mergeThreshold: Int = 0,
                         orderCols: Seq[String] = Seq("lsn"),
                         segmentMerge: DataFrame => DataFrame = identity) {

  private val root = new HPath(tableDir)
  private val committed = new HPath(root, "_committed_batches")
  private val mainDir = new HPath(root, "main")
  private val truncatesDir = new HPath(root, "_truncates")

  def committedBatches(): Set[Long] = StateFs.markers(committed)

  /** Batch ids already merged into main segments (from seg metadata —
    * the authoritative record; it commits atomically with the data).
    */
  def compactedBatches(): Set[Long] =
    segDirs().flatMap { seg =>
      StateFs.readLines(new HPath(seg, "_batches"))
        .filter(_.nonEmpty).map(_.toLong)
    }.toSet

  /** Committed but not yet compacted (their `batch=<id>` dirs are live). */
  def liveBatches(): Set[Long] = committedBatches() -- compactedBatches()

  private def segDirs(): Seq[HPath] =
    StateFs.listNames(mainDir).filter(_.startsWith("seg-")).sorted
      .map(new HPath(mainDir, _))

  /** Idempotent micro-batch write: stamp `__row_id`, then [[writeStamped]]'s
    * landing, then the compaction that is due. Safe to call again with the
    * same batchId (crash-replay path): a replay is detected before the
    * stamp runs, and only a compaction the crash left due still runs.
    */
  def writeBatch(batch: DataFrame, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val done = committedBatches()
    if (done.contains(batchId)) {
      compactDue(spark, done, None)
      return false
    }
    val stamped = stampRowIds(batch, batchId)
    try land(stamped.rows, batchId, stamped.truncates) finally stamped.release()
    compactDue(spark, done + batchId, Some(stamped.rows.schema))
    true
  }

  /** Idempotent landing of a batch that already carries `__row_id`: stage
    * → atomic move → truncate record → manifest marker. `truncates` are
    * the batch's truncate frontiers, as its stamp returned them. It does
    * not compact; the caller runs [[maybeCompact]] when it is ready to.
    */
  def writeStamped(stamped: DataFrame, batchId: Long,
                   truncates: Map[String, Long]): Boolean =
    !committedBatches().contains(batchId) && land(stamped, batchId, truncates)

  private def land(stamped: DataFrame, batchId: Long,
                   truncates: Map[String, Long]): Boolean = {
    val staging = new HPath(root, s"_staging/$batchId")
    val target = new HPath(root, s"batch=$batchId")
    stamped.write.mode("overwrite").parquet(staging.toString)
    // a lost commitMove means a previous attempt's move already landed
    // (crashed between move and marker): keep the committed copy
    if (!StateFs.commitMove(staging, target)) StateFs.delete(staging)
    // before the marker: a crash between the two replays both, and a
    // record without its marker is never read
    if (truncates.nonEmpty)
      StateFs.writeRecords(new HPath(truncatesDir, s"b=$batchId"),
        truncates.toSeq.map { case (t, lsn) => Seq(t, lsn.toString) })
    StateFs.addMarker(committed, batchId)
    true
  }

  /** Every table's truncate frontier over the committed batches: the max
    * of their landing records (see the class doc). Equal to
    * [[CdcApply.truncateFrontiers]] over [[readCommitted]], without a job.
    */
  def truncateFrontiers(): Map[String, Long] = {
    val done = committedBatches()
    StateFs.markers(truncatesDir).filter(done).toSeq
      .flatMap(b => StateFs.readRecords(new HPath(truncatesDir, s"b=$b")))
      .collect { case Seq(t, lsn) => t -> lsn.toLong }
      .groupMapReduce(_._1)(_._2)(math.max)
  }

  /** [[BufferedSink.stampRowIds]] over this sink's arrival-order key. */
  def stampRowIds(batch: DataFrame, batchId: Long): BufferedSink.Stamped =
    BufferedSink.stampRowIds(batch, batchId, orderCols)

  /** Compact when ≥ mergeThreshold live batches exist (never with a
    * threshold of 0). Also retires any batch dir a previous crash left
    * behind after its segment committed. `landed` is the landed rows'
    * schema, when the caller knows it (else the compaction read infers
    * it, which costs a job).
    */
  def maybeCompact(spark: SparkSession, landed: Option[StructType] = None): Unit =
    compactDue(spark, committedBatches(), landed)

  /** `done` is the committed set. */
  private def compactDue(spark: SparkSession, done: Set[Long],
                         landed: Option[StructType]): Unit = if (mergeThreshold > 0) {
    val covered = compactedBatches()
    val onDisk = StateFs.listNames(root).collect {
      case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong
    }.toSet
    retire(covered & onDisk)
    val live = done -- covered
    if (live.size >= mergeThreshold && live.nonEmpty) {
      compact(spark, live, landed)
      retire(live & onDisk)
    }
  }

  /** Merge the given committed batches into one main segment — the
    * reference's `INSERT INTO main SELECT … FROM buffer ORDER BY row_id;
    * TRUNCATE buffer`, whose order `__row_id` keeps (see the class doc).
    * Idempotent: a replayed segment move keeps the existing committed
    * segment.
    */
  private def compact(spark: SparkSession, batches: Set[Long],
                      landed: Option[StructType]): Unit = {
    val segId = batches.max
    val staging = new HPath(root, s"_staging/seg-$segId")
    val target = new HPath(mainDir, s"seg-$segId")
    if (!StateFs.exists(target)) {
      val dirs = batches.toSeq.sorted.map(b => s"$tableDir/batch=$b")
      val rows = landed.fold(spark.read)(spark.read.schema).parquet(dirs: _*)
      // the scan gives each small landed file a task of its own; narrowing
      // to one task per maxPartitionBytes of input keeps a segment of many
      // small batches to a few files, still in one job with no exchange
      val files = math.ceil(rows.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble /
        graft.core.confBytes(spark, "spark.sql.files.maxPartitionBytes", 128L << 20)).toInt
      segmentMerge(rows).coalesce(math.max(files, 1))
        .write.mode("overwrite").parquet(staging.toString)
      // coverage metadata INSIDE the staged segment: data + the record of
      // what it replaces become visible in the same atomic move.
      StateFs.writeFile(new HPath(staging, "_batches"),
        batches.toSeq.sorted.mkString("", "\n", "\n"))
      // lost move = a concurrent replay committed the segment first
      if (!StateFs.commitMove(staging, target)) StateFs.delete(staging)
    }
  }

  /** Delete the given batch dirs (all covered by a committed segment) —
    * normal post-compaction cleanup AND lazy crash repair.
    */
  private def retire(batches: Set[Long]): Unit =
    batches.foreach(b => StateFs.delete(new HPath(root, s"batch=$b")))

  /** Number of live batch dirs on disk (bounded by mergeThreshold when
    * compaction is on — the test handle for "file growth is bounded").
    */
  def liveBatchDirCount(): Int =
    StateFs.listNames(root).count(_.startsWith("batch="))

  /** Everything committed: main segments ∪ live batch dirs, `__row_id`
    * included (total arrival order across the whole landed log). Pass the
    * change-relation schema to project/type the CDC columns exactly; the
    * `__row_id` column rides along either way.
    */
  def readCommitted(spark: SparkSession, schema: StructType = null): DataFrame = {
    val segs = segDirs().map(_.toString)
    val live = liveBatches().toSeq.sorted.map(b => new HPath(root, s"batch=$b"))
      .filter(StateFs.exists).map(_.toString)
    val dirs = segs ++ live
    if (dirs.isEmpty) {
      require(schema != null, "empty sink and no schema to shape an empty result")
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        BufferedSink.withRowId(schema))
    } else if (schema == null) spark.read.parquet(dirs: _*)
    else spark.read.schema(BufferedSink.withRowId(schema)).parquet(dirs: _*)
  }

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(sink.forEachBatch _)`. */
  def forEachBatch(batch: DataFrame, batchId: Long): Unit = {
    writeBatch(batch, batchId); ()
  }
}

object BufferedSink {

  // working columns of the stamp; a batch carrying one is refused
  private val Reserved = Seq("__pid", "__lrn", "__off", "__row_id")

  /** `schema` plus the stamp's `__row_id`: the landed rows' schema. */
  def withRowId(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("__row_id", LongType, nullable = true))

  /** Whether `batch` is one partition, found without running a job: only
    * a plan with no exchange, adaptive plan or subquery is asked for its
    * RDD, which then builds no stage.
    */
  private def onePartition(batch: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = batch.queryExecution.executedPlan
    plan.find(p => p.isInstanceOf[Exchange] || p.isInstanceOf[AdaptiveSparkPlanExec] ||
      p.subqueries.nonEmpty).isEmpty && plan.execute().getNumPartitions == 1
  }

  /** A stamped batch: its rows, persisted until `release` runs, and the
    * truncate frontier (LSN of the last `T`) of every table whose `T`
    * rows it carries.
    */
  final case class Stamped(rows: DataFrame, truncates: Map[String, Long],
                           release: () => Unit)

  /** Stamp `__row_id = batchId·2³² + global arrival rank` (1-based, in
    * `orderCols` order) WITHOUT an unpartitioned window — a snapshot
    * micro-batch can be GBs, and a single-task `row_number` funnel is
    * exactly the scale-killer the repo-wide PlanShapeSpec pin forbids.
    *
    * Two levels instead: range-partition on the order key (equal keys
    * land in one partition, so partition i's rows all order before
    * partition i+1's) and sort within each partition. A row's local rank
    * is then its position in its sorted partition, which
    * `monotonically_increasing_id` encodes below the partition index;
    * over an arbitrary partitioning that id is no stable order, but over
    * a sorted range partition it is exactly the rank. The ranked relation
    * is persisted, and one job collects its per-partition counts (one row
    * per partition) to the driver, which turns them into prefix-sum
    * offsets and hands them back as an array literal: global rank =
    * offset(partition) + local rank, bit-identical to a single global
    * window's stamp. The counts and the stamped rows read the SAME
    * persisted partitioning, so the ids agree with each other. The stamp
    * costs the range sample, the shuffle and the counts job: no window
    * exchange, aggregate exchange or broadcast. (Under AQE the range
    * exchange samples twice and its shuffle map stage is a job of its
    * own, so that is 4 jobs.) A batch that arrives as ONE partition — a
    * micro-batch of one feed file, say — is already range-partitioned:
    * it is sorted in place and the counts job is the stamp's only job.
    *
    * The counts job also returns the `(table, lsn)` of the `T` rows it
    * meets (when the batch has the change relation's string `op` and
    * `table` and long `lsn`), folded to each table's max: the batch's
    * truncate frontiers, as [[CdcApply.truncateFrontiers]] would compute
    * them, at no job of their own. `T` rows are rare.
    *
    * When the batch lacks an order column, every column is the order key
    * (generic batches): still a deterministic total order attempt, so a
    * replayed batch stamps identical row_ids. The caller runs the
    * result's `release` after consuming its rows.
    */
  def stampRowIds(batch: DataFrame, batchId: Long,
                  orderCols: Seq[String] = Seq("lsn")): Stamped = {
    // the working columns below would silently REPLACE same-named user
    // columns — refuse loudly instead of corrupting the batch
    val clash = batch.columns.filter(Reserved.contains)
    require(clash.isEmpty,
      s"batch carries reserved internal column(s) ${clash.mkString(", ")}; " +
        "rename them before sinking")
    val effOrder =
      if (orderCols.forall(batch.columns.contains)) orderCols
      else batch.columns.toSeq
    val sortCols = effOrder.map(c => col(s"`$c`"))
    val ranked = (if (onePartition(batch)) batch else batch.repartitionByRange(sortCols: _*))
      .sortWithinPartitions(sortCols: _*)
      // both evaluated in the one task that builds the partition:
      // monotonically_increasing_id = (partition index << 33) + position
      .select(col("*"), spark_partition_id().as("__pid"),
        (monotonically_increasing_id() -
          shiftleft(spark_partition_id().cast("long"), 33) + 1L).as("__lrn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isChange = Seq("op" -> StringType, "table" -> StringType, "lsn" -> LongType)
      .forall { case (n, t) => batch.schema.exists(f => f.name == n && f.dataType == t) }
    val truncate =
      if (isChange) when(col("op") === ChangeRelation.OpTruncate && col("lsn").isNotNull,
        struct(col("table"), col("lsn")))
      else lit(null).cast("struct<table:string,lsn:bigint>")
    // per partition: (pid, rows, None) per pid, then (-1, 0, Some(table →
    // max T lsn)) per table with a T row
    val parts = ranked.select(col("__pid"), truncate)
      .as(Encoders.product[(Int, Option[(String, Long)])])
      .mapPartitions { rows =>
        val n = scala.collection.mutable.HashMap.empty[Int, Long]
        val t = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (p, tr) =>
          n(p) = n.getOrElse(p, 0L) + 1L
          tr.foreach { case (table, lsn) => t(table) = math.max(t.getOrElse(table, lsn), lsn) }
        }
        n.iterator.map { case (p, c) => (p, c, Option.empty[(String, Long)]) } ++
          t.iterator.map(e => (-1, 0L, Some(e)))
      }(Encoders.product[(Int, Long, Option[(String, Long)])])
      .collect()
    val counts = parts.collect { case (p, c, None) => p -> c }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val truncates = parts.flatMap(_._3).groupMapReduce(_._1)(_._2)(math.max)
    // offsets(p) = rows in partitions before p
    val offsets = (0 until counts.keys.maxOption.fold(0)(_ + 1))
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val stamped = ranked
      .withColumn("__off", lit(offsets.toArray).getItem(col("__pid")))
      .withColumn("__row_id",
        (lit(batchId) * lit(1L << 32) + col("__off") + col("__lrn")).cast("long"))
      .drop("__pid", "__lrn", "__off")
    Stamped(stamped, truncates, () => { ranked.unpersist(false); () })
  }
}
