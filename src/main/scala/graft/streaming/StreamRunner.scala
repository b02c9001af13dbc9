package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's main loop as one library entry point (SURVEY.md §3.2,
  * §3.4): configure tables + engines, start replication, get continuously
  * maintained targets.
  *
  * pg2ch: config file lists `tables.<t>.{main_table, engine, buffer_size,
  * merge_threshold}`; `replicator.Run()` tails the slot ONCE, decodes each
  * message once, and routes the decoded row to its table's engine by
  * relation OID (`cmd/pg2ch/main.go`, `pkg/replicator`/`pkg/consumer`
  * [recall:high] — SURVEY §0: paths from public-repo knowledge,
  * /root/reference is empty).
  *
  * Spark mapping — SINGLE-DECODE ROUTED TOPOLOGY: one streaming query
  * reads the shared WAL feed; inside `foreachBatch` the micro-batch is
  * decoded ONCE into the untyped change relation ([[ChangeFeed]] raw
  * layer), stamped with `__row_id` once, and routed to every configured
  * table as a cheap typed projection + [[BufferedSink]] two-phase batchId-
  * idempotent landing. N configured tables cost ONE feed read + decode
  * per micro-batch, not N — at a 100-table feed the per-table-query
  * alternative re-reads and re-decodes the same WAL 100×, which is the
  * first thing a real deployment hits.
  *
  * Crash semantics are unchanged from the per-table shape: each
  * (table, batchId) landing is independently idempotent, so a crash
  * mid-route replays the batch and already-landed tables no-op — the
  * same contract pg2ch gets from its persisted per-table LSN. The target
  * table semantics (Replacing FINAL / Collapsing net / append) are
  * applied AT READ TIME over the landed log — exactly ClickHouse's
  * merge-on-read model — via [[readFinal]].
  */
object StreamRunner {

  /** Per-table replication config — the Spark-native form of the
    * reference's `tables.<name>` block.
    *
    * `bufferSize` is pg2ch's per-table flush threshold (rows buffered
    * before a flush). Structured Streaming batches by trigger + source
    * chunking rather than row count, so it maps onto the file source's
    * `maxFilesPerTrigger` batching knob — advisory, not a hard row bound;
    * the routed (single-query) topology applies the SMALLEST configured
    * value, since one shared query cannot batch per table.
    *
    * `columnsMap` is pg2ch's `tables.<t>.columns` subset/rename
    * [recall:med]: target column name → feed column name. `rowSchema`
    * describes the TARGET columns; each reads the feed cell named
    * `columnsMap(target)` (default: its own name), and feed columns not
    * mapped by any target are dropped.
    */
  final case class TableConfig(
      name: String,
      engine: String, // MergeTree | ReplacingMergeTree | CollapsingMergeTree
      keyColumns: Seq[String],
      rowSchema: StructType,
      bufferSize: Int = 0,
      // pgoutput relation OID for binary feeds — the static relid→table
      // registry a streaming decode needs before the feed's own R frames
      // arrive (those supersede it; see ChangeFeed.rawFromFrames)
      relId: Int = -1,
      columnsMap: Map[String, String] = Map.empty,
      // per-table compaction override (pg2ch configures merge_threshold
      // per table); None → the runner-level default
      mergeThreshold: Option[Int] = None) {

    /** Feed-side column names, in target-field order (the static relation
      * definition's column list for binary feeds).
      */
    def feedColumns: Seq[String] =
      rowSchema.fieldNames.toSeq.map(n => columnsMap.getOrElse(n, n))
  }

  final case class RunnerConfig(
      inputDir: String, // JSON-lines WAL feed directory (readStream.text)
      outputDir: String, // sink root; one subdir per table
      checkpointDir: String,
      tables: Seq[TableConfig],
      // A11: promote buffer batches into main/ every N flushes (0 = never)
      mergeThreshold: Int = 0,
      // pg2ch's inactivity_flush_timeout → Trigger.ProcessingTime: fire a
      // micro-batch on this cadence even when the feed idles (SURVEY §3.4)
      inactivityFlushMs: Option[Long] = None,
      // "json" (JSON-lines stand-in) | "pgoutput" (binary frames, base64
      // text lines per frame — the reference's actual wire shape, A3)
      feedFormat: String = "json",
      // ClickHouse HTTP endpoint: when set, every landed batch is ALSO
      // shipped engine-encoded over INSERT … FORMAT TabSeparated (A10's
      // wire half; same batchId idempotency as the landing), and a
      // truncate event truncates the CH mirror first — pg2ch truncates
      // the CH tables on receipt of a T message (SURVEY §2.A9).
      clickhouseUrl: Option[String] = None,
      // CH background-merge analog: apply the table engine's row
      // reduction inside each compacted segment (CdcApply.mergeSlice).
      // Off by default — pg2ch copies buffer rows verbatim; ClickHouse's
      // own merges do the reducing. readFinal is identical either way.
      mergeOnCompact: Boolean = false,
      // replication-socket source (`source_wire: host:port`): when set,
      // Replicator.wireClient builds the PgWireClient that lands WAL
      // into inputDir — pg2ch's PG connection params slot (A2's wire
      // half; absent = the feed directory is populated externally)
      sourceWire: Option[(String, Int)] = None,
      // SCRAM-SHA-256 / MD5 password for the wire source
      // (`source_password:`); absent = the peer must grant trust auth
      sourcePassword: Option[String] = None,
      // replication role name (`source_user:`, default "graft") — also
      // the salt half of the legacy MD5 double-hash
      sourceUser: String = "graft",
      // libpq sslmode ladder for the wire source (`source_ssl:
      // disable|require|verify-ca|verify-full`) plus the sslrootcert
      // analogue (`source_ssl_truststore:` PKCS12 path,
      // `source_ssl_truststore_password:`)
      sourceSsl: String = "disable",
      sourceSslTrustStore: Option[String] = None,
      sourceSslTrustStorePassword: String = "changeit",
      // which password-auth requests the wire client answers:
      // any (libpq default) | scram (refuse the MD5 downgrade) | md5
      sourceAuth: String = "any")

  private[streaming] def sinkFor(cfg: RunnerConfig, table: String): BufferedSink = {
    val tc = cfg.tables.find(_.name == table)
    val segMerge: DataFrame => DataFrame =
      if (cfg.mergeOnCompact)
        tc.map(t => CdcApply.mergeSlice(_: DataFrame, t.engine, t.keyColumns))
          .getOrElse(identity[DataFrame] _)
      else identity[DataFrame] _
    val threshold = tc.flatMap(_.mergeThreshold).getOrElse(cfg.mergeThreshold)
    new BufferedSink(s"${cfg.outputDir}/$table", threshold,
      segmentMerge = segMerge)
  }

  /** Start replication: ONE streaming query for every configured table
    * (returned as a single-element Seq — callers iterate regardless).
    */
  def run(spark: SparkSession, cfg: RunnerConfig): Seq[StreamingQuery] = {
    val sinks = cfg.tables.map(tc => tc.name -> sinkFor(cfg, tc.name)).toMap
    val chSink = cfg.clickhouseUrl.map(url =>
      new graft.sinks.HttpCHSink(url, s"${cfg.outputDir}/_ch_state"))
    val relations =
      if (cfg.feedFormat == "pgoutput")
        Some(new RelationCache(spark, new HPath(cfg.outputDir, "_relations")))
      else None
    val reader = spark.readStream
    cfg.tables.map(_.bufferSize).filter(_ > 0).reduceOption(_ min _)
      .foreach(n => reader.option("maxFilesPerTrigger", n))
    val writer = reader.text(cfg.inputDir)
      .writeStream
      .queryName("graft_replicate")
      .option("checkpointLocation", s"${cfg.checkpointDir}/_routed")
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        routeBatch(cfg, sinks, chSink, relations, rawBatch, batchId)
      }
    cfg.inactivityFlushMs.foreach(ms => writer.trigger(Trigger.ProcessingTime(ms)))
    Seq(writer.start())
  }

  /** One micro-batch: decode once, stamp once, route to every table's sink.
    *
    * Each micro-batch pays a fixed cost per Spark job, and that cost, not
    * the row count, dominated small batches. So a batch runs a fixed,
    * small set of jobs:
    *  - binary feeds: one job parses the frames into a persisted copy and
    *    collects the batch's `R` definitions to the driver, plus one
    *    relation-cache write when the batch carries `R` frames;
    *  - the stamp ([[BufferedSink.stampRowIds]]) over the decoded rows of
    *    every configured table: the range sample, the shuffle, and the
    *    per-partition counts job. Its persisted result is the batch's only
    *    cached copy from then on;
    *  - with a ClickHouse mirror, one aggregate for every table's truncate
    *    frontier (table → LSN of its last `T`);
    *  - per table, exactly two: the landing write ([[BufferedSink.
    *    writeStamped]] over the table's slice, with no re-stamp) and the
    *    ClickHouse POST, whose encode drops pre-truncate rows with a
    *    literal LSN filter;
    *  - compaction, when a table reaches its threshold.
    * A replayed batch that every layer already holds runs none of them.
    * The relation definitions never touch Spark on the way in: the merged
    * set lives in a driver-side [[RelationCache]] and reaches the decode
    * as a literal.
    */
  private def routeBatch(cfg: RunnerConfig,
                         sinks: Map[String, BufferedSink],
                         chSink: Option[graft.sinks.HttpCHSink],
                         relations: Option[RelationCache],
                         rawBatch: DataFrame, batchId: Long): Unit = {
    // a replay of a batch that every table's landing and mirror already
    // hold: both layers would be no-ops, so skip the decode and stamp too.
    // (The relation cache needs nothing either: the first run wrote this
    // batch's version before it landed anything.)
    val replayed = cfg.tables.forall { tc =>
      sinks(tc.name).committedBatches().contains(batchId) &&
        chSink.forall(_.committedBatches(tc.name).contains(batchId))
    }
    if (replayed) return
    // binary feeds parse into a persisted frame copy that lives until the
    // stamp has materialized its own
    var frames: Option[Dataset[PgOutput.Frame]] = None
    val (stamped, release) = try {
      val decoded = cfg.feedFormat match {
        case "json" => ChangeFeed.fromJsonLinesRaw(rawBatch)
        case "pgoutput" =>
          val parsed = ChangeFeed.parseBase64Frames(rawBatch)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          frames = Some(parsed)
          val defs = relations.get.merge(batchId,
            ChangeFeed.relationDefs(parsed).collect().toSeq)
          val static = ChangeFeed.staticDefs(cfg.tables.filter(_.relId >= 0)
            .map(tc => (tc.relId, tc.name, tc.feedColumns)))
          ChangeFeed.rawFromFrames(parsed, defs ++ static)
        case other =>
          throw new IllegalArgumentException(s"unknown feed_format: $other")
      }
      // lsn-major, table-minor: a T frame naming several relations yields
      // equal-LSN rows, and a replayed batch must stamp them identically
      BufferedSink.stampRowIds(
        decoded.filter(col("table").isin(cfg.tables.map(_.name): _*)),
        batchId, Seq("lsn", "table"))
    } finally frames.foreach(_.unpersist())
    try {
      // only the mirror needs the truncate frontiers
      val frontiers =
        if (chSink.isEmpty) Map.empty[String, Long]
        else CdcApply.truncateFrontiers(stamped)

      cfg.tables.foreach { tc =>
        val slice = ChangeFeed.typed(
          stamped.filter(col("table") === tc.name), tc.rowSchema, tc.columnsMap)
        sinks(tc.name).writeStamped(slice, batchId)
        // ship AFTER the landing commits: both layers are idempotent on
        // batchId, so a crash between them replays into two no-ops
        chSink.foreach { ch =>
          ch.insert(encodeForCH(tc, slice, frontiers), tc.name,
            batchId, truncateFirst = frontiers.contains(tc.name))
        }
      }
    } finally release()
  }

  /** The merged `R` definitions — pg2ch's live relation map, which must
    * survive across micro-batches and restarts because a subscription
    * sends each table's R frame ONCE, not once per batch.
    *
    * The working copy is a driver-side set, loaded once (with an explicit
    * schema, so no inference job) when the query starts. The durable copy
    * is VERSIONED full snapshots, not an append log: each R-bearing batch
    * writes the complete set to `_relations/v=<batchId>` (staged + atomic
    * move — replay keeps the committed version) and retires older
    * versions, so a restart opens ONE tiny parquet dir regardless of how
    * many schema changes the feed has ever carried. Batches without R
    * frames touch neither. Replay is safe twice over: the version move is
    * idempotent, and definitions are LSN-versioned, so re-merging the
    * same definitions changes nothing at resolution time.
    */
  private final class RelationCache(spark: SparkSession, dir: HPath) {
    import spark.implicits._

    private var defs: Seq[ChangeFeed.RelationDef] =
      latestVersion().fold(Seq.empty[ChangeFeed.RelationDef])(v =>
        spark.read.schema(Encoders.product[ChangeFeed.RelationDef].schema)
          .parquet(new HPath(dir, s"v=$v").toString)
          .as[ChangeFeed.RelationDef].collect().toSeq)

    /** Fold a batch's feed definitions in; the complete merged set. */
    def merge(batchId: Long,
              feed: Seq[ChangeFeed.RelationDef]): Seq[ChangeFeed.RelationDef] = {
      if (feed.nonEmpty) {
        defs = (defs ++ feed).distinct
        write(batchId)
      }
      defs
    }

    private def latestVersion(): Option[Long] =
      StateFs.listNames(dir)
        .collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toLong }
        .maxOption

    private def write(batchId: Long): Unit = {
      val target = new HPath(dir, s"v=$batchId")
      if (!StateFs.exists(target)) {
        val staging = new HPath(dir, s"_staging_v$batchId")
        defs.toDS().coalesce(1).write.mode("overwrite").parquet(staging.toString)
        // lost move = a concurrent replay committed this version first
        if (!StateFs.commitMove(staging, target)) StateFs.delete(staging)
      }
      // retire superseded versions (lazy: a crash here just leaves one
      // extra dir for the next write to retire)
      latestVersion().foreach { latest =>
        StateFs.listNames(dir)
          .filter(n => n.startsWith("v=") && n.stripPrefix("v=").toLong < latest)
          .foreach(n => StateFs.delete(new HPath(dir, n)))
      }
    }
  }

  /** Engine wire encoding for the ClickHouse buffer table — the aux
    * columns pg2ch attaches before shipping (SURVEY §1.1): Replacing rows
    * carry `ver = LSN` plus a `deleted` flag (ReplacingMergeTree(ver,
    * is_deleted) form, so DELETE ships the old tuple as a tombstone);
    * Collapsing ships the signed ±1 row pairs; plain MergeTree appends
    * inserts only. Truncate markers never ship as rows — the sink issues
    * `TRUNCATE TABLE` on the CH side instead (see [[routeBatch]]) — and
    * every branch drops the changes at or below the table's same-batch
    * truncate frontier (`frontiers`, resolved once per batch on the
    * driver — [[CdcApply.dropTruncated]]), so the mirror never retains
    * rows the landed log has frontier-dropped.
    */
  def encodeForCH(tc: TableConfig, changes: DataFrame,
                  frontiers: Map[String, Long]): DataFrame = {
    val rowCols = tc.rowSchema.fieldNames.toSeq
    tc.engine match {
      case "ReplacingMergeTree" =>
        val live = CdcApply.dropTruncated(changes, frontiers)
        val upserts = live
          .filter(col("op") =!= ChangeRelation.OpDelete)
          .select(rowCols.map(c => col(s"after.$c")) ++
            Seq(col("lsn").as("ver"), lit(0).as("deleted")): _*)
        val tombstones = live
          .filter(col("op") === ChangeRelation.OpDelete)
          .select(rowCols.map(c => col(s"before.$c")) ++
            Seq(col("lsn").as("ver"), lit(1).as("deleted")): _*)
        upserts.unionByName(tombstones)
      case "CollapsingMergeTree" =>
        CdcApply.toSignedRows(changes, frontiers)
          .select(rowCols.map(c => col(s"row.$c")) :+ col("sign"): _*)
      case "MergeTree" =>
        CdcApply.applyAppend(changes, frontiers)
      case other => throw new IllegalArgumentException(s"unknown engine: $other")
    }
  }

  /** The landed change log for a table: main segments ∪ live buffer
    * batches — identical rows whether or not compaction has run.
    */
  def changeLog(spark: SparkSession, cfg: RunnerConfig, table: String): DataFrame =
    sinkFor(cfg, table)
      .readCommitted(spark, ChangeRelation.schema(
        cfg.tables.find(_.name == table).get.rowSchema))
      .drop("__row_id")

  /** Read-side FINAL — the reference's target-table semantics applied
    * over the landed log, truncate-aware. The apply resolves the table's
    * truncate frontier on the driver when called (one aggregate over the
    * log's `op`, `table` and `lsn` columns), so the FINAL itself filters
    * by a literal LSN instead of joining a frontier back into the log.
    */
  def readFinal(spark: SparkSession, cfg: RunnerConfig, table: String): DataFrame = {
    val tc = cfg.tables.find(_.name == table)
      .getOrElse(throw new IllegalArgumentException(s"unconfigured table: $table"))
    val log = changeLog(spark, cfg, table)
    tc.engine match {
      case "ReplacingMergeTree" => CdcApply.applyReplacing(log, tc.keyColumns)
      case "CollapsingMergeTree" => CdcApply.collapse(CdcApply.toSignedRows(log))
      case "MergeTree" => CdcApply.applyAppend(log)
      case other => throw new IllegalArgumentException(s"unknown engine: $other")
    }
  }
}
