package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** ClickHouse's HTTP insert surface, as far as `graft.sinks.HttpCHSink`
  * uses it for insert-only feeds: `POST /?query=INSERT INTO <t> FORMAT
  * TabSeparated` with the `X-Graft-Batch`/`X-Graft-Partition` block
  * headers. Any other statement is refused, so a run that sends one
  * fails instead of passing unchecked.
  *
  * A block is keyed by (table, batch, partition) with last-write-wins,
  * the insert-block dedup replicated ClickHouse tables give. Each block
  * keeps the time its body was fully received, which is when its rows
  * became visible; the benchmark's latency is measured to that instant.
  */
final class ChStub {
  final case class Block(lines: Array[String], receivedNs: Long)

  val blocks = new ConcurrentHashMap[(String, Long, Int), Block]()
  private val rowsByTable = new ConcurrentHashMap[String, AtomicLong]()
  private val handleNs = new LongBuf

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val q = java.net.URLDecoder.decode(Option(ex.getRequestURI.getRawQuery).getOrElse(""), UTF_8)
      val body = ex.getRequestBody.readAllBytes()
      val now = System.nanoTime()
      require(q.startsWith("query=INSERT INTO "), s"unsupported statement: $q")
      val table = q.stripPrefix("query=INSERT INTO ").takeWhile(_ != ' ')
      val key = (table, ex.getRequestHeaders.getFirst("X-Graft-Batch").toLong,
        ex.getRequestHeaders.getFirst("X-Graft-Partition").toInt)
      val lines = new String(body, UTF_8).split("\n").filter(_.nonEmpty)
      val prev = blocks.put(key, Block(lines, now))
      rows(table).addAndGet(lines.length - (if (prev == null) 0 else prev.lines.length))
      ex.sendResponseHeaders(200, -1L)
    } catch {
      case _: Throwable => ex.sendResponseHeaders(500, -1L)
    } finally {
      ex.close()
      handleNs.synchronized(handleNs.add(System.nanoTime() - t0))
    }
  })
  server.start()

  private def rows(table: String): AtomicLong =
    rowsByTable.computeIfAbsent(table, _ => new AtomicLong())

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Rows currently visible in `table`. */
  def rowCount(table: String): Long = rows(table).get()

  /** Time to receive and store one POST, per request (ms). */
  def postMs: Array[Double] = handleNs.synchronized(handleNs.toArray.map(_ / 1e6))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }
}
