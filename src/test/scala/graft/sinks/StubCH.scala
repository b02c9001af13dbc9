package graft.sinks

/** Embedded stand-in for ClickHouse's HTTP insert surface (tests only):
  * accepts `POST /?query=INSERT INTO <t> FORMAT TabSeparated`, stores
  * each block keyed by (table, batch, partition) — LAST WRITE WINS,
  * which is the insert-block dedup contract replicated CH tables give
  * pg2ch. An INSERT into a table named in `failing` is refused with
  * HTTP 500 and stores nothing.
  */
final class StubCH {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
  val blocks = new java.util.concurrent.ConcurrentHashMap[(String, Long, Int), String]()
  val posts = new java.util.concurrent.atomic.AtomicInteger(0)
  val truncates = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val failing = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val q = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      var status = 200
      if (q.startsWith("query=TRUNCATE TABLE ")) {
        val table = q.stripPrefix("query=TRUNCATE TABLE ").takeWhile(_ != ' ')
        blocks.keySet.removeIf(k => k._1 == table)
        truncates.add(table)
        ex.getRequestBody.readAllBytes()
      } else {
        val table = q.stripPrefix("query=INSERT INTO ").takeWhile(_ != ' ')
        val batch = ex.getRequestHeaders.getFirst("X-Graft-Batch").toLong
        val part = ex.getRequestHeaders.getFirst("X-Graft-Partition").toInt
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (failing.contains(table)) status = 500
        else {
          blocks.put((table, batch, part), body)
          posts.incrementAndGet()
        }
      }
      ex.sendResponseHeaders(status, -1L)
      ex.close()
    }
  })
  server.start()
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)
  def lines(table: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    blocks.asScala.collect { case ((t, _, _), body) if t == table =>
      body.split("\n", -1).filter(_.nonEmpty).toSeq
    }.flatten.toSeq
  }
}
