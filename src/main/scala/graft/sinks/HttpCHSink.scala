package graft.sinks

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import graft.functions.TsvCodec
import graft.streaming.StateFs

/** HTTP ClickHouse sink — the wire half the reference actually ships over:
  * `POST /?query=INSERT INTO <table> FORMAT TabSeparated` with a body of
  * escaped TSV lines (pg2ch `pkg/utils/chutils` HTTP insert [recall:med];
  * SURVEY.md §2.A10 — §0 caveat applies). Byte-identical lines to
  * [[FsCHSink]]: both encode through [[TsvCodec.tsvLine]].
  *
  * Scale shape: the TSV encode is a codegen'd projection and the POSTs
  * happen per PARTITION on the executors (`foreachPartition`) — rows
  * never collect to the driver, and a 1000-executor job opens 1000
  * parallel inserts exactly like a fleet of pg2ch writers. The request
  * body STREAMS from the row iterator over chunked transfer encoding —
  * a partition is never materialized as one executor-heap String, so a
  * skewed multi-GB partition ships in constant memory instead of
  * exhausting one executor's heap.
  *
  * Exactly-once: two layers, both modeled on the real systems.
  *  - Client side, pg2ch's persisted-LSN skip: a local manifest of shipped
  *    (table, batchId); a redelivered foreachBatch is a no-op.
  *  - Server side, ClickHouse's insert-block dedup (replicated tables drop
  *    re-inserted identical blocks): every POST carries
  *    `X-Graft-Batch`/`X-Graft-Partition`, so a crash between a partial
  *    ship and the manifest append re-POSTs blocks the server can
  *    deduplicate by key — the same contract CH gives pg2ch.
  *
  * Truncate (`insert(truncateFirst = true)`): a driver-side
  * `TRUNCATE TABLE <t>` POST issued before the distributed insert —
  * pg2ch truncates the CH tables on receipt of a pgoutput `T` message.
  * Covered by the same (table, batchId) manifest: a replayed batch
  * re-truncates then re-inserts, converging to the identical state.
  *
  * No ClickHouse exists in this environment; CHSinkSpec drives this
  * against an embedded JDK HttpServer speaking the same surface.
  */
final class HttpCHSink(endpoint: String, stateDir: String) extends CHSink {

  // an append-free marker directory via StateFs, so `stateDir` may sit on
  // the stream's checkpoint store (HDFS/S3A) rather than driver-local disk
  private def manifest(table: String) =
    new HPath(s"$stateDir/$table", "_shipped_batches")

  def committedBatches(table: String): Set[Long] =
    StateFs.markers(manifest(table))

  override def insert(batch: DataFrame, table: String, batchId: Long,
                      truncateFirst: Boolean = false): Boolean = {
    if (committedBatches(table).contains(batchId)) return false
    if (truncateFirst) HttpCHSink.postStatement(endpoint, s"TRUNCATE TABLE $table")
    val line = TsvCodec.tsvLineFor(batch)
    val url = endpoint // capture primitives, not `this`, into the closure
    val tbl = table
    val bid = batchId
    batch.select(line.as("value")).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) { // empty partitions ship nothing
          val part = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
          HttpCHSink.post(url, tbl, bid, part, rows.map(_.getString(0)))
        }
    }
    StateFs.addMarker(manifest(table), batchId)
    true
  }
}

object HttpCHSink {

  /** One partition's insert: `POST <endpoint>/?query=INSERT INTO <table>
    * FORMAT TabSeparated`, body streamed from the line iterator in 64 KiB
    * chunks (`setChunkedStreamingMode` — constant memory regardless of
    * partition size). Runs on executors; throws on any non-2xx status so
    * a failed ship fails the Spark task (and the batch — the manifest
    * line is only appended after every partition succeeded).
    */
  private[sinks] def post(endpoint: String, table: String, batchId: Long,
                          partition: Int, lines: Iterator[String]): Unit = {
    val query = URLEncoder.encode(s"INSERT INTO $table FORMAT TabSeparated", UTF_8)
    val conn = new URI(s"$endpoint/?query=$query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setChunkedStreamingMode(1 << 16)
      conn.setRequestProperty("Content-Type", "text/tab-separated-values")
      conn.setRequestProperty("X-Graft-Batch", batchId.toString)
      conn.setRequestProperty("X-Graft-Partition", partition.toString)
      val out = new java.io.BufferedOutputStream(conn.getOutputStream, 1 << 16)
      try {
        lines.foreach { l => out.write(l.getBytes(UTF_8)); out.write('\n') }
      } finally out.close()
      checkAndDrain(conn)
    } finally conn.disconnect()
  }

  /** A driver-side statement POST (TRUNCATE TABLE …) — empty body, the
    * statement rides in the query parameter like every CH HTTP command.
    */
  private[sinks] def postStatement(endpoint: String, sql: String): Unit = {
    val query = URLEncoder.encode(sql, UTF_8)
    val conn = new URI(s"$endpoint/?query=$query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      checkAndDrain(conn)
    } finally conn.disconnect()
  }

  private def checkAndDrain(conn: HttpURLConnection): Unit = {
    val code = conn.getResponseCode
    if (code < 200 || code >= 300)
      throw new java.io.IOException(s"ClickHouse request failed: HTTP $code")
    // drain so keep-alive connections can be reused
    val in = conn.getInputStream
    try { while (in.read() != -1) () } finally in.close()
  }
}
