package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's full startup lifecycle as one entry point (SURVEY.md
  * §3.1): snapshot every configured table inside the replication slot's
  * exported snapshot, land it, then stream changes from the slot LSN.
  *
  * pg2ch: `CREATE_REPLICATION_SLOT … LOGICAL pgoutput` captures a
  * consistent point + exported snapshot; each table is COPY'd at that
  * snapshot into ClickHouse, and replication then starts exactly at the
  * captured LSN — so every row is either in the snapshot or in the
  * stream, never both, never neither (`pkg/replicator` sync logic
  * [recall:med] — SURVEY §0 caveat).
  *
  * Spark mapping: the snapshot lands through the SAME [[BufferedSink]]
  * as the stream, as change rows (`op = I`, `lsn = 0` — strictly below
  * every streamed LSN) under the reserved snapshot batch id. Engine
  * semantics then need no special casing: `readFinal` replays snapshot
  * + stream as one log (a streamed update/delete at `lsn > 0` wins over
  * the snapshot row; `__row_id` orders the snapshot's rows before all
  * stream batches). The snapshot write is batch-idempotent like any
  * other batch, so a crashed bootstrap re-runs safely. The snapshot
  * DataFrames come from any batch source — [[graft.sources.TableSource]]
  * (parquet or partitioned JDBC) is the provided one, standing in for
  * pg2ch's `COPY … TO STDOUT`.
  */
object Replicator {

  /** Reserved batch id for the initial snapshot — below every streaming
    * batch id (those start at 0), so snapshot `__row_id`s sort first.
    */
  val SnapshotBatchId: Long = -1L

  /** Land one table's snapshot as insert-change rows at `lsn = 0`.
    * Idempotent: returns false if this table's snapshot already landed
    * (crashed-bootstrap re-run).
    */
  def snapshot(spark: SparkSession, cfg: StreamRunner.RunnerConfig,
               table: String, rows: DataFrame): Boolean = {
    val tc = cfg.tables.find(_.name == table)
      .getOrElse(throw new IllegalArgumentException(s"unconfigured table: $table"))
    val changes = rows
      .select(struct(tc.rowSchema.fieldNames.map(col).toSeq: _*).as("after"))
      .select(
        lit(0L).as("lsn"),
        lit(ChangeRelation.OpInsert).as("op"),
        lit(table).as("table"),
        lit(null).cast(tc.rowSchema).as("before"),
        col("after"))
    // the SAME sink construction the stream uses (per-table threshold
    // override + merge-on-compact), so snapshot batches obey the exact
    // compaction config the streamed batches will
    StreamRunner.sinkFor(cfg, table).writeBatch(changes, SnapshotBatchId)
  }

  /** pg2ch's `Run()`: snapshot every table, then start replication.
    * `snapshots` maps table name → its consistent snapshot relation;
    * tables without one start from an empty state (stream-only).
    */
  def bootstrap(spark: SparkSession, cfg: StreamRunner.RunnerConfig,
                snapshots: Map[String, DataFrame]): Seq[StreamingQuery] = {
    snapshots.foreach { case (table, rows) => snapshot(spark, cfg, table, rows) }
    StreamRunner.run(spark, cfg)
  }

  /** The configured replication-socket client (`source_wire:
    * host:port`): lands WAL into the stream's watched feed directory —
    * the process a pg2ch deployment runs beside the apply loop. None
    * when the config has no wire source (externally-fed directory).
    * Drive it with `run`/`runWithReconnect(lastFlushed)`; ack/restart
    * semantics are PgWireSpec's contract.
    *
    * By default the loop runs UNTIL [[PgWireClient.stop]] — a
    * production sidecar must not self-terminate just because the feed
    * went quiet (catching up is not completion). Tests and one-shot
    * catch-up jobs pass a small `idleKeepalivesToStop`.
    */
  def wireClient(cfg: StreamRunner.RunnerConfig,
                 batchFrames: Int = 64,
                 idleKeepalivesToStop: Int = Int.MaxValue): Option[PgWireClient] =
    cfg.sourceWire.map { case (host, port) =>
      new PgWireClient(host, port, cfg.inputDir, batchFrames,
        idleKeepalivesToStop, password = cfg.sourcePassword,
        user = cfg.sourceUser, sslMode = cfg.sourceSsl,
        sslTrustStore = cfg.sourceSslTrustStore,
        sslTrustStorePassword = cfg.sourceSslTrustStorePassword,
        authMethod = cfg.sourceAuth)
    }
}
