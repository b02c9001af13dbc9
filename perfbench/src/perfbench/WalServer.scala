package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import graft.streaming.PgWire

/** A walsender-shaped replication server for the benchmark.
  *
  * It speaks the same protocol 3.0 subset as a PostgreSQL walsender on
  * trust auth: StartupMessage with `replication=database`,
  * AuthenticationOk, `START_REPLICATION SLOT … LOGICAL <lsn>`,
  * CopyBothResponse, then XLogData out and standby status in.
  *
  * Unlike a test stub it keeps the WAL as an append-only, LSN-ordered
  * log with a send cursor, so serving costs O(frames sent) rather than a
  * re-scan of the retained log per loop. Once the cursor reaches the end
  * of the log it sends one keepalive at the sent position (what a
  * walsender does on catching up while the client's flush is behind),
  * and otherwise a heartbeat keepalive every second.
  *
  * Frames are appended by the load generator (`append`); each frame's
  * send time is kept, so the flush acks the client sends back give the
  * ack lag of every frame.
  */
final class WalServer {
  private val lock = new Object
  private var lsns = new Array[Long](1 << 16)
  private var frames = new Array[Array[Byte]](1 << 16)
  private var sentAt = new Array[Long](1 << 16)
  private var size = 0
  @volatile private var stopped = false
  private val server = new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
  private val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
  private val sockets = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  @volatile var connections: Int = 0
  @volatile var framesSent: Long = 0
  // ack lag samples: when a frame was sent, and how long until the first
  // flush ack covering its LSN (ns)
  private val ackSentNs = new LongBuf
  private val ackLagNs = new LongBuf
  private var ackedUpTo = 0 // log index of the first frame not yet acked

  val port: Int = server.getLocalPort

  private def spawn(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => try body catch { case _: Throwable => () }, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
    t
  }

  spawn("wal-accept") {
    while (!stopped) {
      val s = server.accept()
      sockets.add(s)
      connections += 1
      spawn("wal-session")(try session(s) finally { sockets.remove(s); s.close() })
    }
  }

  /** Append frames in LSN order (the caller's contract, as in a WAL). */
  def append(batch: Seq[(Long, Array[Byte])]): Unit = lock.synchronized {
    batch.foreach { case (lsn, f) =>
      require(size == 0 || lsn > lsns(size - 1), "WAL frames must be appended in LSN order")
      if (size == lsns.length) {
        lsns = java.util.Arrays.copyOf(lsns, size * 2)
        frames = java.util.Arrays.copyOf(frames, size * 2)
        sentAt = java.util.Arrays.copyOf(sentAt, size * 2)
      }
      lsns(size) = lsn; frames(size) = f; size += 1
    }
    lock.notifyAll()
  }

  /** Ack lags (ms) of the frames sent inside `[fromNs, untilNs]`. */
  def ackLagsMs(fromNs: Long, untilNs: Long): Seq[Double] = ackLagNs.synchronized {
    val (sent, lag) = (ackSentNs.toArray, ackLagNs.toArray)
    sent.indices.collect { case i if sent(i) >= fromNs && sent(i) <= untilNs => lag(i) / 1e6 }
  }

  def stop(): Unit = {
    stopped = true
    lock.synchronized(lock.notifyAll())
    try server.close() catch { case _: Throwable => () }
    sockets.forEach(s => try s.close() catch { case _: Throwable => () })
    threads.forEach(_.join(5000))
  }

  private def session(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    def send(typ: Char, body: Array[Byte]): Unit = {
      out.writeByte(typ.toByte); out.writeInt(body.length + 4); out.write(body)
    }
    var len = in.readInt()
    if (len == 8) { // SSLRequest: this server has no TLS
      require(in.readInt() == PgWire.SslRequestCode, "unexpected startup code")
      out.writeByte('N'); out.flush()
      len = in.readInt()
    }
    val params = PgWire.readStartupAfterLen(in, len)
    if (!params.get("replication").contains("database")) {
      send('E', PgWire.errorBody("connection is not a replication connection")); out.flush()
      return
    }
    send('R', java.nio.ByteBuffer.allocate(4).putInt(0).array())
    send('S', PgWire.cstr("server_version") ++ PgWire.cstr("16.0"))
    send('K', java.nio.ByteBuffer.allocate(8).putInt(1).putInt(1).array())
    send('Z', Array('I'.toByte))
    out.flush()
    val (qt, qbody) = PgWire.readTyped(in)
    val q = new String(qbody.takeWhile(_ != 0), UTF_8).trim
    val m = "START_REPLICATION\\s+SLOT\\s+\\S+\\s+LOGICAL\\s+(\\S+)".r.findFirstMatchIn(q)
    if (qt != 'Q' || m.isEmpty) {
      send('E', PgWire.errorBody(s"syntax error at: $q")); out.flush()
      return
    }
    val startAfter = PgWire.parseLsn(m.get.group(1))
    send('W', java.nio.ByteBuffer.allocate(3).put(0.toByte).putShort(0.toShort).array())
    out.flush()

    spawn("wal-status") {
      while (!stopped && !sock.isClosed) {
        val (typ, body) = PgWire.readTyped(in)
        if (typ == 'd' && body(0) == 'r'.toByte) onFlushAck(PgWire.decodeStandbyStatus(body).flushed)
      }
    }

    var cursor = lock.synchronized(firstAfter(startAfter))
    var sentLsn = startAfter
    var keptAliveAt = Long.MinValue
    while (!stopped && !sock.isClosed) {
      val (ls, fs) = lock.synchronized {
        if (cursor >= size) lock.wait(if (keptAliveAt < sentLsn) 1L else 1000L)
        val now = System.nanoTime()
        (cursor until size).foreach(sentAt(_) = now)
        val slice = (java.util.Arrays.copyOfRange(lsns, cursor, size),
          java.util.Arrays.copyOfRange(frames, cursor, size))
        cursor = size
        slice
      }
      if (ls.nonEmpty) {
        ls.indices.foreach { i =>
          send('d', PgWire.encodeXLogData(
            PgWire.XLogData(sentLsn, ls(i), System.nanoTime() / 1000, fs(i))))
          sentLsn = ls(i)
        }
        framesSent += ls.length
      } else {
        // caught up: report the sent position so the client flushes now
        // (pending < batch size) instead of at its idle timeout
        send('d', PgWire.encodeKeepalive(
          PgWire.Keepalive(sentLsn, System.nanoTime() / 1000, replyRequested = false)))
        keptAliveAt = sentLsn
      }
      out.flush()
    }
  }

  private def firstAfter(lsn: Long): Int = {
    val i = java.util.Arrays.binarySearch(lsns, 0, size, lsn)
    if (i >= 0) i + 1 else -i - 1
  }

  private def onFlushAck(flushed: Long): Unit = {
    val now = System.nanoTime()
    val sentTimes = lock.synchronized {
      val end = firstAfter(flushed)
      val b = (ackedUpTo until end).filter(i => sentAt(i) > 0).map(sentAt(_))
      ackedUpTo = math.max(ackedUpTo, end)
      b
    }
    ackLagNs.synchronized(sentTimes.foreach { sent => ackSentNs.add(sent); ackLagNs.add(now - sent) })
  }
}

/** A growable primitive long buffer (sample store without boxing). */
final class LongBuf {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
