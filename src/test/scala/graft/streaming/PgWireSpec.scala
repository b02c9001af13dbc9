package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Wire-level replication tests (SURVEY §2.A2's socket half): the
  * PgWireClient loop against the protocol-faithful StubPgWire —
  * LSN-ordered delivery, durable-then-ack flushing, keepalive replies,
  * restart from the acked LSN with no duplicates and no gaps, and the
  * WAL-retention contract the flushed LSN exists to permit.
  */
class PgWireSpec extends SparkSpec {

  private val relId = 77

  /** Relation frame at `base`, then one insert per i, then commit. */
  private def fixture(base: Long, n: Int): Seq[Array[Byte]] =
    PgOutput.encodeRelation(base, relId, "t", Seq("k", "v", "amt")) +:
      ((1 to n).map { i =>
        PgOutput.encodeInsert(base + i, relId,
          Seq((base + i).toString, s"v${base + i}", null))
      } :+ PgOutput.encodeCommit(base + n + 1, 42L))

  private def landedLsns(dir: String): Seq[Long] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("feed_"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .map(l => PgOutput.parse(Base64.getDecoder.decode(l)).lsn.get)
      .toSeq

  test("client streams, lands durably, and acks the flushed LSN") {
    val frames = fixture(1L, 8)
    val server = new StubPgWire(frames)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire1").toString
    try {
      val client = new PgWireClient("127.0.0.1", port, dir)
      val flushed = client.run(startAfter = 0L)
      val want = frames.map(PgOutput.parse(_).lsn.get)
      assert(flushed === want.max)
      assert(landedLsns(dir).sorted === want.sorted)
      // the ack reached the server: its retention bound may now advance
      assert(server.flushedByClient === want.max)
      assert(server.statusesSeen >= 1, "keepalive replies must flow back")
    } finally server.stop()
  }

  test("restart from the acked LSN: live tail lands exactly once") {
    val first = fixture(1L, 6)
    val server = new StubPgWire(first)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire2").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir).run(0L)
      // live tail appended AFTER the first client caught up and stopped
      val tail = fixture(acked + 1, 5)
      server.append(tail)
      val acked2 = new PgWireClient("127.0.0.1", port, dir).run(startAfter = acked)
      val want = (first ++ tail).map(PgOutput.parse(_).lsn.get)
      assert(acked2 === want.max)
      val landed = landedLsns(dir)
      assert(landed.sorted === want.sorted,
        "restart must replay the un-acked tail only — no gaps, no duplicates")
      assert(landed.distinct.size === landed.size)
    } finally server.stop()
  }

  test("flushed LSN permits WAL recycling; replay serves only retained frames") {
    val frames = fixture(1L, 6)
    val server = new StubPgWire(frames)
    val port = server.start()
    val dir1 = Files.createTempDirectory("graft_wire3a").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir1).run(0L)
      // the final ack travels async into the stub's reader thread —
      // wait for it to register before pruning
      val deadline = System.nanoTime() + 2000000000L
      while (server.flushedByClient < acked && System.nanoTime() < deadline)
        Thread.sleep(10)
      server.prune()
      assert(server.oldestRetained > acked, "acked frames must be recyclable")
      // a brand-new subscriber from LSN 0 sees only what is retained
      val tail = fixture(acked + 1, 3)
      server.append(tail)
      val dir2 = Files.createTempDirectory("graft_wire3b").toString
      new PgWireClient("127.0.0.1", port, dir2).run(0L)
      assert(landedLsns(dir2).sorted === tail.map(PgOutput.parse(_).lsn.get).sorted)
    } finally server.stop()
  }

  test("crash between landing and ack cannot duplicate: resume honors the feed high-water mark") {
    // the lethal window: frames land durably, the process dies before
    // the ack, and the caller's persisted resume point is STALE. The
    // client must resume from the feed directory's own high-water mark
    // (the durable record), not the stale LSN — or the replay would
    // land duplicates no downstream LSN dedup exists to absorb.
    val frames = fixture(1L, 6)
    val server = new StubPgWire(frames)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire_crash").toString
    try {
      new PgWireClient("127.0.0.1", port, dir).run(0L) // all landed
      // restarted client with a stale resume point (the lost-ack state)
      val acked = new PgWireClient("127.0.0.1", port, dir).run(startAfter = 0L)
      val want = frames.map(PgOutput.parse(_).lsn.get)
      assert(acked === want.max)
      val landed = landedLsns(dir)
      assert(landed.distinct.size === landed.size,
        "a stale resume point must not re-land already-landed frames")
      assert(landed.sorted === want.sorted)
    } finally server.stop()
  }

  test("reconnect-with-resume: a dropped socket loses nothing, duplicates nothing") {
    // the server kills the first connection mid-stream with frames
    // pending un-acked; the client reconnects from its flushed LSN —
    // acked batches stay landed, the un-acked tail replays, and the
    // feed ends with every LSN exactly once
    val frames = fixture(1L, 8) // lsns 1..10
    val server = new StubPgWire(frames, dieAfterFramesOnce = 5)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire_rc").toString
    try {
      val client = new PgWireClient("127.0.0.1", port, dir, batchFrames = 2)
      val acked = client.runWithReconnect(startAfter = 0L)
      val want = frames.map(PgOutput.parse(_).lsn.get)
      assert(acked === want.max)
      val landed = landedLsns(dir)
      assert(landed.sorted === want.sorted,
        "resume must land the un-acked tail exactly once")
      assert(landed.distinct.size === landed.size)
    } finally server.stop()
  }

  test("the LIVE loop: wire client → feed dir → Replicator stream → Replacing FINAL") {
    // the complete pg2ch steady state with the SOCKET in front: the wire
    // client lands WAL into the watched feed dir, the Structured
    // Streaming runner applies it, both halves restart (client from its
    // acked LSN, stream from its checkpoint), and the engine-correct
    // final state + exactly-once hold across the whole chain.
    val in = Files.createTempDirectory("graft_wire_e2e_in")
    val out = Files.createTempDirectory("graft_wire_e2e_out")
    val ckpt = Files.createTempDirectory("graft_wire_e2e_ckpt")
    val server = new StubPgWire(Seq(
      PgOutput.encodeRelation(0, relId, "users", Seq("k", "v", "amt")),
      PgOutput.encodeInsert(1, relId, Seq("1", "a", null)),
      PgOutput.encodeInsert(2, relId, Seq("2", "b", "1.50")),
      PgOutput.encodeUpdate(3, relId, Seq("1", "a", null), Seq("1", "a2", null))))
    val port = server.start()
    val cfgFile = Files.createTempFile("graft_wire_e2e", ".yml")
    Files.writeString(cfgFile,
      s"""input_dir: $in
         |output_dir: $out
         |checkpoint_dir: $ckpt
         |feed_format: pgoutput
         |source_wire: 127.0.0.1:$port
         |tables:
         |  users:
         |    engine: ReplacingMergeTree
         |    key_columns: [k]
         |    columns: "k BIGINT, v STRING, amt DECIMAL(12,2)"
         |    relid: $relId
         |""".stripMargin)
    val cfg = GraftConfig.load(cfgFile.toString)
    try {
      // the config names the wire source; the deployment builds its
      // landing client from it — pg2ch's connection-params slot
      val acked = Replicator.wireClient(cfg, idleKeepalivesToStop = 2).get.run(0L)
      var queries = Replicator.bootstrap(spark, cfg, Map.empty)
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      // live tail on the server; wire client restarts from its acked
      // LSN, the stream restarts from its checkpoint
      server.append(Seq(
        PgOutput.encodeDelete(4, relId, Seq("2", "b", "1.50")),
        PgOutput.encodeInsert(5, relId, Seq("3", "c", "7.25"))))
      Replicator.wireClient(cfg, idleKeepalivesToStop = 2).get.run(startAfter = acked)
      queries = StreamRunner.run(spark, cfg)
      try {
        queries.foreach(_.processAllAvailable())
        queries.foreach(_.processAllAvailable()) // idle pass: exactly-once
      } finally queries.foreach(_.stop())
      val users = StreamRunner.readFinal(spark, cfg, "users")
        .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(users === Set((1L, "a2"), (3L, "c")),
        "latest version per key; key 2 deleted — across the wire AND a restart")
      val lsns = StreamRunner.changeLog(spark, cfg, "users")
        .select("lsn").collect().map(_.getLong(0)).sorted.toSeq
      assert(lsns === Seq(1L, 2L, 3L, 4L, 5L),
        "every wire change landed exactly once")
    } finally server.stop()
  }

  test("the landed feed is ChangeFeed's base64 input — frames decode downstream") {
    val frames = fixture(1L, 5)
    val server = new StubPgWire(frames)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire4").toString
    try {
      new PgWireClient("127.0.0.1", port, dir).run(0L)
      val decoded = ChangeFeed.parseBase64Frames(spark.read.text(dir)).collect()
      assert(decoded.length === frames.length)
      assert(decoded.map(_.tag).count(_ == "I") === 5)
      assert(decoded.map(_.tag).toSet === Set("R", "I", "C"))
      // cells survive the wire + base64 + Spark decode byte-exactly
      val k1 = decoded.filter(_.tag == "I").minBy(_.lsn.get)
      assert(k1.after === Seq("2", "v2", null))
    } finally server.stop()
  }

  // ---- the real PQ v3 grammar (VERDICT r11 #3) ----

  test("startup + LSN grammar roundtrips byte-exactly") {
    import java.io._
    val params = Seq("user" -> "graft", "database" -> "graft",
      "replication" -> "database")
    val buf = new ByteArrayOutputStream()
    PgWire.writeStartup(new DataOutputStream(buf), params)
    val got = PgWire.readStartup(
      new DataInputStream(new ByteArrayInputStream(buf.toByteArray)))
    assert(got === params.toMap)
    // pg_lsn X/X text form is bit-faithful for the whole long domain,
    // incl. the Long.MinValue "nothing landed yet" sentinel
    Seq(0L, 1L, 0xFFFFFFFFL, 0x100000000L, 0x12345678_9ABCDEF0L,
      Long.MaxValue, Long.MinValue, -1L).foreach { lsn =>
      assert(PgWire.parseLsn(PgWire.formatLsn(lsn)) === lsn, PgWire.formatLsn(lsn))
    }
    assert(PgWire.formatLsn(0x12345678_0000ABCDL) === "12345678/ABCD")
    // ErrorResponse fields: message survives; unknown fields are skipped
    assert(PgWire.parseError(PgWire.errorBody("boom")) === "boom")
  }

  test("the typed reader is total under garbage: bounded allocation, no hangs") {
    import java.io._
    def reader(bytes: Array[Byte]) =
      new DataInputStream(new ByteArrayInputStream(bytes))
    // absurd declared length must be rejected BEFORE allocating it
    val huge = java.nio.ByteBuffer.allocate(5)
      .put('d'.toByte).putInt(Int.MaxValue).array()
    val e = intercept[IllegalArgumentException](PgWire.readTyped(reader(huge)))
    assert(e.getMessage.contains("out of range"))
    // negative / sub-header lengths likewise
    val neg = java.nio.ByteBuffer.allocate(5).put('d'.toByte).putInt(-7).array()
    intercept[IllegalArgumentException](PgWire.readTyped(reader(neg)))
    val tiny = java.nio.ByteBuffer.allocate(5).put('d'.toByte).putInt(3).array()
    intercept[IllegalArgumentException](PgWire.readTyped(reader(tiny)))
    // truncated body → EOF, not a hang or a partial message
    val trunc = java.nio.ByteBuffer.allocate(7)
      .put('d'.toByte).putInt(100).putShort(1.toShort).array()
    intercept[java.io.EOFException](PgWire.readTyped(reader(trunc)))
    // startup reader: same bounds
    val hugeStartup = java.nio.ByteBuffer.allocate(4).putInt(Int.MaxValue).array()
    intercept[IllegalArgumentException](PgWire.readStartup(reader(hugeStartup)))
    val badProto = java.nio.ByteBuffer.allocate(12)
      .putInt(12).putInt(12345).putInt(0).array()
    intercept[IllegalArgumentException](PgWire.readStartup(reader(badProto)))
    // random garbage never over-allocates (the length gate fires first
    // or the stream EOFs) — 64 deterministic pseudo-random frames
    (1 to 64).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val junk = Array.fill(rnd.nextInt(40) + 5)(rnd.nextInt(256).toByte)
      try { PgWire.readTyped(reader(junk)); () }
      catch {
        case _: IllegalArgumentException | _: EOFException => ()
      }
    }
  }

  test("a non-replication startup is refused with ErrorResponse, like a walsender") {
    val server = new StubPgWire(fixture(1L, 2))
    val port = server.start()
    try {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val in = new java.io.DataInputStream(sock.getInputStream)
        PgWire.writeStartup(out, Seq("user" -> "x", "database" -> "x"))
        val (typ, body) = PgWire.readTyped(in)
        assert(typ === 'E')
        assert(PgWire.parseError(body).contains("not a replication connection"))
      } finally sock.close()
    } finally server.stop()
  }

  test("an unsupported authentication request fails loudly, not silently") {
    // a server demanding GSSAPI (code 7), MD5 without a configured
    // password, or offering only SCRAM-SHA-256-PLUS: clear refusals,
    // never hangs
    def serveAuth(body: Array[Byte])(assertClient: Int => Unit): Unit = {
      val server = new java.net.ServerSocket(0)
      val t = new Thread(() => {
        try {
          val sock = server.accept()
          val in = new java.io.DataInputStream(sock.getInputStream)
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          PgWire.readStartup(in)
          PgWire.writeTyped(out, 'R', body)
          Thread.sleep(500)
          sock.close()
        } catch { case _: Throwable => () }
      })
      t.setDaemon(true); t.start()
      try assertClient(server.getLocalPort) finally server.close()
    }
    serveAuth(java.nio.ByteBuffer.allocate(8).putInt(7).putInt(0).array()) { port =>
      val dir = Files.createTempDirectory("graft_wire_auth7").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir).run(0L))
      assert(e.getMessage.contains("unsupported authentication request 7"))
    }
    // MD5 is SPOKEN now — but demanding it with no password configured
    // must still refuse clearly instead of hanging or sending garbage
    serveAuth(java.nio.ByteBuffer.allocate(8).putInt(5).putInt(0x13375a7e).array()) { port =>
      val dir = Files.createTempDirectory("graft_wire_auth5_nopw").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir).run(0L))
      assert(e.getMessage.contains("MD5 password authentication"))
      assert(e.getMessage.contains("no password is configured"))
    }
    serveAuth(java.nio.ByteBuffer.allocate(4).putInt(10).array()
        ++ PgWire.cstr("SCRAM-SHA-256-PLUS") :+ 0.toByte) { port =>
      val dir = Files.createTempDirectory("graft_wire_authplus").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir,
          password = Some("pw")).run(0L))
      assert(e.getMessage.contains("no common SASL mechanism"))
    }
  }

  test("SCRAM-SHA-256 password auth end-to-end: authenticate, stream, land, ack") {
    val frames = fixture(1L, 6)
    val server = new StubPgWire(frames, password = Some("s3cret"))
    val port = server.start()
    val dir = Files.createTempDirectory("graft_wire_scram").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir,
        password = Some("s3cret")).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
      assert(landedLsns(dir).sorted === frames.map(PgOutput.parse(_).lsn.get).sorted)
    } finally server.stop()
  }

  test("SCRAM rejections are loud: wrong password, missing password, forged server") {
    val frames = fixture(1L, 2)
    // wrong password → the server's ErrorResponse surfaces as IOException
    val s1 = new StubPgWire(frames, password = Some("right"))
    val p1 = s1.start()
    try {
      val d = Files.createTempDirectory("graft_scram_bad").toString
      val e = intercept[java.io.IOException](
        new PgWireClient("127.0.0.1", p1, d, password = Some("wrong")).run(0L))
      assert(e.getMessage.contains("authentication failed"))
    } finally s1.stop()
    // SASL demanded but no password configured → immediate clear failure
    val s2 = new StubPgWire(frames, password = Some("right"))
    val p2 = s2.start()
    try {
      val d = Files.createTempDirectory("graft_scram_nopw").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", p2, d).run(0L))
      assert(e.getMessage.contains("no password is configured"))
    } finally s2.stop()
    // server that accepts the password but cannot prove it knows the
    // verifier (tampered v=) → the MUTUAL check refuses to proceed
    val s3 = new StubPgWire(frames, password = Some("right"),
      tamperServerSignature = true)
    val p3 = s3.start()
    try {
      val d = Files.createTempDirectory("graft_scram_mitm").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", p3, d, password = Some("right")).run(0L))
      assert(e.getMessage.contains("mutual authentication"))
    } finally s3.stop()
  }

  test("silent-but-alive peer is IDLE: client acks its position instead of reconnecting") {
    // handshake completes, CopyBoth opens, then the server says NOTHING —
    // the client must treat read timeouts as idle ticks (status update +
    // keep listening), ending via idleKeepalivesToStop, not an IOException
    val server = new java.net.ServerSocket(0)
    @volatile var statuses = 0
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        PgWire.readStartup(in)
        PgWire.writeTyped(out, 'R', java.nio.ByteBuffer.allocate(4).putInt(0).array())
        PgWire.writeTyped(out, 'Z', Array('I'.toByte))
        val (qt, _) = PgWire.readTyped(in)
        assert(qt == 'Q')
        PgWire.writeTyped(out, 'W', java.nio.ByteBuffer.allocate(3).array())
        // silent from here; just count the client's CopyData statuses
        while (!sock.isClosed) {
          val (typ, body) = PgWire.readTyped(in)
          if (typ == 'd' && body(0) == 'r'.toByte) statuses += 1
        }
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true); t.start()
    try {
      val dir = Files.createTempDirectory("graft_wire_idle").toString
      val client = new PgWireClient("127.0.0.1", server.getLocalPort, dir,
        idleKeepalivesToStop = 3, soTimeoutMs = 150)
      val acked = client.run(41L) // returns instead of throwing
      assert(acked === 41L)
      // the statuses travel async into the server thread — poll briefly
      val deadline = System.nanoTime() + 2000000000L
      while (statuses < 3 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(statuses >= 3, s"each idle tick must report position: $statuses")
    } finally server.close()
  }

  // ---- legacy MD5 password auth (VERDICT r12 #3) ----

  test("MD5 password auth end-to-end; wrong password is refused") {
    val frames = fixture(1L, 5)
    val s1 = new StubPgWire(frames, md5Password = Some("legacy-pw"))
    val p1 = s1.start()
    try {
      val dir = Files.createTempDirectory("graft_wire_md5").toString
      val acked = new PgWireClient("127.0.0.1", p1, dir,
        password = Some("legacy-pw")).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
      assert(landedLsns(dir).sorted === frames.map(PgOutput.parse(_).lsn.get).sorted)
    } finally s1.stop()
    val s2 = new StubPgWire(frames, md5Password = Some("legacy-pw"))
    val p2 = s2.start()
    try {
      val dir = Files.createTempDirectory("graft_wire_md5_bad").toString
      val e = intercept[java.io.IOException](
        new PgWireClient("127.0.0.1", p2, dir, password = Some("wrong")).run(0L))
      assert(e.getMessage.contains("authentication failed"))
    } finally s2.stop()
  }

  test("the MD5 response is the documented double-hash (known vector)") {
    // md5('secretpg') = 66a935078d9a4ae22ca2a8c661a03a72 →
    // outer hash binds it to the salt; verified against PG's own
    // published algorithm: concat('md5', md5(md5(password||user)||salt))
    val salt = Array[Byte](0x01, 0x02, 0x03, 0x04)
    val got = PgWire.md5Response("pg", "secret", salt)
    assert(got.startsWith("md5") && got.length === 35)
    // deterministic: same inputs, same response; different salt differs
    assert(got === PgWire.md5Response("pg", "secret", salt))
    assert(got !== PgWire.md5Response("pg", "secret", Array[Byte](9, 9, 9, 9)))
    assert(got !== PgWire.md5Response("pg2", "secret", salt))
  }

  // ---- SCRAM mutual-auth short-circuit (ADVICE r12, medium) ----

  test("a server that skips SASLFinal after collecting the proof is refused") {
    // the MITM shape: R(10) → collect client proof → R(0) directly.
    // AuthenticationOk without a VERIFIED SASLFinal must be fatal — it
    // is the only server-authenticity proof on a non-TLS socket.
    val frames = fixture(1L, 3)
    val server = new StubPgWire(frames, password = Some("right"),
      skipSaslFinal = true)
    val port = server.start()
    try {
      val dir = Files.createTempDirectory("graft_scram_skip").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir, password = Some("right")).run(0L))
      assert(e.getMessage.contains("skipped SCRAM mutual authentication"))
    } finally server.stop()
  }

  // ---- mid-frame stall ≠ idle (ADVICE r12, low) ----

  test("a timeout MID-frame tears the connection down instead of desynchronizing") {
    // the server sends the type byte + half the length header, then
    // stalls past soTimeout: treating that as an idle tick would
    // re-enter the reader on a desynchronized stream (garbage lengths);
    // the client must surface IOException for the reconnect path
    val server = new java.net.ServerSocket(0)
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        PgWire.readStartup(in)
        PgWire.writeTyped(out, 'R', java.nio.ByteBuffer.allocate(4).putInt(0).array())
        PgWire.writeTyped(out, 'Z', Array('I'.toByte))
        PgWire.readTyped(in) // the Query
        PgWire.writeTyped(out, 'W', java.nio.ByteBuffer.allocate(3).array())
        out.writeByte('d'); out.writeShort(0x0000) // partial frame, then silence
        out.flush()
        Thread.sleep(60000)
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true); t.start()
    try {
      val dir = Files.createTempDirectory("graft_wire_midframe").toString
      val client = new PgWireClient("127.0.0.1", server.getLocalPort, dir,
        idleKeepalivesToStop = Int.MaxValue, soTimeoutMs = 150)
      val e = intercept[java.io.IOException](client.run(0L))
      assert(e.getMessage.contains("mid-frame"),
        s"mid-frame stall must not masquerade as idle: ${e.getMessage}")
    } finally server.close()
  }

  // ---- TLS on the replication socket (VERDICT r12 #2) ----

  test("sslmode=require: SSLRequest → 'S' → JSSE handshake → stream, land, ack") {
    val frames = fixture(1L, 6)
    val server = new StubPgWire(frames,
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)))
    val port = server.start()
    val dir = Files.createTempDirectory("graft_tls_req").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir,
        sslMode = "require").run(0L)
      val want = frames.map(PgOutput.parse(_).lsn.get)
      assert(acked === want.max)
      assert(landedLsns(dir).sorted === want.sorted)
      assert(server.flushedByClient === want.max,
        "standby-status acks must flow back over the TLS socket")
    } finally server.stop()
  }

  test("SCRAM-SHA-256 runs INSIDE the TLS channel (password auth over SSL)") {
    val frames = fixture(1L, 4)
    val server = new StubPgWire(frames, password = Some("s3cret"),
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)))
    val port = server.start()
    val dir = Files.createTempDirectory("graft_tls_scram").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir,
        password = Some("s3cret"), sslMode = "require").run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
      assert(landedLsns(dir).sorted ===
        frames.map(PgOutput.parse(_).lsn.get).sorted)
    } finally server.stop()
  }

  test("a server answering 'N' is refused when sslmode demands encryption") {
    val server = new StubPgWire(fixture(1L, 2)) // no tlsContext → 'N'
    val port = server.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_refuse").toString
      val e = intercept[IllegalStateException](
        new PgWireClient("127.0.0.1", port, dir, sslMode = "require").run(0L))
      assert(e.getMessage.contains("refused SSL"))
    } finally server.stop()
  }

  test("verify-ca: trusted chain streams; an untrusted chain fails the handshake") {
    val frames = fixture(1L, 4)
    val ctx = TlsFixtures.serverContext(TlsFixtures.goodKeystore)
    val s1 = new StubPgWire(frames, tlsContext = Some(ctx))
    val p1 = s1.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vca_ok").toString
      val acked = new PgWireClient("127.0.0.1", p1, dir,
        sslMode = "verify-ca",
        sslTrustStore = Some(TlsFixtures.trustStoreFor(TlsFixtures.goodKeystore, "good")),
        sslTrustStorePassword = TlsFixtures.storePass).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
    } finally s1.stop()
    // a trust store holding only an UNRELATED cert: chain validation fails
    val s2 = new StubPgWire(frames, tlsContext = Some(ctx))
    val p2 = s2.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vca_bad").toString
      intercept[javax.net.ssl.SSLException](
        new PgWireClient("127.0.0.1", p2, dir,
          sslMode = "verify-ca",
          sslTrustStore = Some(TlsFixtures.trustStoreFor(TlsFixtures.otherKeystore, "other")),
          sslTrustStorePassword = TlsFixtures.storePass).run(0L))
    } finally s2.stop()
    // verify modes without a trust store: loud config failure, no trust-all
    val s3 = new StubPgWire(frames, tlsContext = Some(ctx))
    val p3 = s3.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vca_nots").toString
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", p3, dir, sslMode = "verify-ca").run(0L))
      assert(e.getMessage.contains("requires a trust store"))
    } finally s3.stop()
  }

  test("verify-full: SAN must match the connect host; verify-ca alone accepts it") {
    val frames = fixture(1L, 3)
    // the badhost cert is chain-valid once trusted, but its SAN names a
    // different host — exactly the case verify-full exists to refuse
    val ctx = TlsFixtures.serverContext(TlsFixtures.badHostKeystore)
    val trust = TlsFixtures.trustStoreFor(TlsFixtures.badHostKeystore, "badhost")
    val s1 = new StubPgWire(frames, tlsContext = Some(ctx))
    val p1 = s1.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vf_ca").toString
      val acked = new PgWireClient("127.0.0.1", p1, dir,
        sslMode = "verify-ca", sslTrustStore = Some(trust),
        sslTrustStorePassword = TlsFixtures.storePass).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
    } finally s1.stop()
    val s2 = new StubPgWire(frames, tlsContext = Some(ctx))
    val p2 = s2.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vf_bad").toString
      intercept[javax.net.ssl.SSLException](
        new PgWireClient("127.0.0.1", p2, dir,
          sslMode = "verify-full", sslTrustStore = Some(trust),
          sslTrustStorePassword = TlsFixtures.storePass).run(0L))
    } finally s2.stop()
    // the good cert carries ip:127.0.0.1 in its SAN → verify-full passes
    val s3 = new StubPgWire(frames,
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)))
    val p3 = s3.start()
    try {
      val dir = Files.createTempDirectory("graft_tls_vf_ok").toString
      val acked = new PgWireClient("127.0.0.1", p3, dir,
        sslMode = "verify-full",
        sslTrustStore = Some(TlsFixtures.trustStoreFor(TlsFixtures.goodKeystore, "good2")),
        sslTrustStorePassword = TlsFixtures.storePass).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
    } finally s3.stop()
  }

  // ---- SCRAM-SHA-256-PLUS channel binding (VERDICT r13 #6) ----

  test("PLUS-only server over TLS: channel-bound SCRAM succeeds end-to-end") {
    // a hardened PG fleet advertises ONLY SCRAM-SHA-256-PLUS; the stub's
    // verifier REQUIRES client-final's c= to carry the gs2 header plus
    // the server certificate's RFC 5929 hash — success here proves the
    // client negotiated -PLUS and bound to the right certificate
    val frames = fixture(1L, 4)
    val server = new StubPgWire(frames, password = Some("s3cret"),
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)),
      saslMechanisms = Seq(Scram.MechanismPlus))
    val port = server.start()
    val dir = Files.createTempDirectory("graft_plus_ok").toString
    try {
      val acked = new PgWireClient("127.0.0.1", port, dir,
        password = Some("s3cret"), sslMode = "require").run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
      assert(landedLsns(dir).sorted ===
        frames.map(PgOutput.parse(_).lsn.get).sorted)
    } finally server.stop()
  }

  test("channel-binding mismatch (relaying MITM model) is refused by the verifier") {
    // the server's expected binding hash differs from the certificate
    // the client's TLS leg saw — exactly a MITM terminating both TLS
    // legs with its own cert; the password is CORRECT on both sides,
    // and the exchange must still fail
    val server = new StubPgWire(fixture(1L, 2), password = Some("s3cret"),
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)),
      saslMechanisms = Seq(Scram.MechanismPlus), tamperChannelBinding = true)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_plus_mitm").toString
    try {
      val e = intercept[java.io.IOException](
        new PgWireClient("127.0.0.1", port, dir,
          password = Some("s3cret"), sslMode = "require").run(0L))
      assert(e.getMessage.contains("authentication failed"),
        s"binding mismatch must fail auth, not succeed: ${e.getMessage}")
    } finally server.stop()
  }

  test("PLUS-only server WITHOUT TLS has no common mechanism (no channel to bind)") {
    val server = new StubPgWire(fixture(1L, 2), password = Some("s3cret"),
      saslMechanisms = Seq(Scram.MechanismPlus)) // no tlsContext
    val port = server.start()
    val dir = Files.createTempDirectory("graft_plus_nossl").toString
    try {
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir,
          password = Some("s3cret")).run(0L))
      assert(e.getMessage.contains("no common SASL mechanism"))
      assert(e.getMessage.contains("sslmode"),
        s"refusal should point at the missing TLS channel: ${e.getMessage}")
    } finally server.stop()
  }

  test("both mechanisms offered: TLS client picks -PLUS, plaintext client still authenticates") {
    val frames = fixture(1L, 3)
    val both = Seq(Scram.MechanismPlus, Scram.Mechanism)
    val s1 = new StubPgWire(frames, password = Some("s3cret"),
      tlsContext = Some(TlsFixtures.serverContext(TlsFixtures.goodKeystore)),
      saslMechanisms = both,
      // expectCbind only applies to the -PLUS mechanism: success under
      // tampering would mean the TLS client fell back to the base
      // mechanism instead of preferring the bound one
      tamperChannelBinding = true)
    val p1 = s1.start()
    try {
      val dir = Files.createTempDirectory("graft_plus_pref").toString
      val e = intercept[java.io.IOException](
        new PgWireClient("127.0.0.1", p1, dir,
          password = Some("s3cret"), sslMode = "require").run(0L))
      assert(e.getMessage.contains("authentication failed"),
        s"TLS client must PREFER -PLUS when offered: ${e.getMessage}")
    } finally s1.stop()
    val s2 = new StubPgWire(frames, password = Some("s3cret"),
      saslMechanisms = both)
    val p2 = s2.start()
    try {
      val dir = Files.createTempDirectory("graft_plus_plain").toString
      val acked = new PgWireClient("127.0.0.1", p2, dir,
        password = Some("s3cret")).run(0L)
      assert(acked === frames.map(PgOutput.parse(_).lsn.get).max)
    } finally s2.stop()
  }

  // ---- source_auth downgrade gate (ADVICE r13) ----

  test("source_auth=scram refuses a server that requests MD5 (downgrade gate)") {
    val server = new StubPgWire(fixture(1L, 2), md5Password = Some("s3cret"))
    val port = server.start()
    val dir = Files.createTempDirectory("graft_auth_gate").toString
    try {
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir,
          password = Some("s3cret"), authMethod = "scram").run(0L))
      assert(e.getMessage.contains("source_auth=scram"),
        s"MD5 downgrade must be refused by name: ${e.getMessage}")
      // and the same server streams fine when the method is allowed
      val dir2 = Files.createTempDirectory("graft_auth_ok").toString
      val acked = new PgWireClient("127.0.0.1", port, dir2,
        password = Some("s3cret"), authMethod = "md5").run(0L)
      assert(acked > 0L)
    } finally server.stop()
  }

  test("source_auth=scram refuses a trust-auth server (immediate AuthenticationOk)") {
    // ADVICE r14 (medium): the scram pin must demand that a SASL
    // exchange actually HAPPENED — a MITM under sslmode=require can
    // otherwise skip SCRAM entirely by answering the startup with
    // AuthenticationOk, and requireMutualDone passes vacuously
    // (scram==null). libpq's require_auth=scram-sha-256 analogue.
    val server = new StubPgWire(fixture(1L, 2)) // trust: immediate R(0)
    val port = server.start()
    val dir = Files.createTempDirectory("graft_auth_trust").toString
    try {
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", port, dir,
          password = Some("s3cret"), authMethod = "scram").run(0L))
      assert(e.getMessage.contains("source_auth=scram"),
        s"trust-auth under the scram pin must be refused by name: ${e.getMessage}")
      // default (unpinned) client accepts the same trust server
      val dir2 = Files.createTempDirectory("graft_auth_trust_ok").toString
      val acked = new PgWireClient("127.0.0.1", port, dir2).run(0L)
      assert(acked > 0L)
    } finally server.stop()
  }

  test("source_auth=scram refuses a server that skips Authentication entirely") {
    // ADVICE r15 (medium): the trust-auth pin lived only in the R(0)
    // handler — a hostile peer can send NO Authentication message at
    // all (ParameterStatus/BackendKeyData straight to ReadyForQuery),
    // leaving scram==null so requireMutualDone passed vacuously and the
    // client reached ready=true without any SCRAM exchange. The pin
    // must be demanded on the readiness path itself.
    val server = new java.net.ServerSocket(0)
    @volatile var served = false
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        PgWire.readStartup(in)
        // ParameterStatus, BackendKeyData, ReadyForQuery — NO 'R' frame
        val ps = new java.io.ByteArrayOutputStream()
        ps.write(PgWire.cstr("server_version")); ps.write(PgWire.cstr("16.0"))
        PgWire.writeTyped(out, 'S', ps.toByteArray)
        PgWire.writeTyped(out, 'K',
          java.nio.ByteBuffer.allocate(8).putInt(42).putInt(7).array())
        PgWire.writeTyped(out, 'Z', Array('I'.toByte))
        served = true
        sock.close()
      } catch { case _: Throwable => () }
    })
    t.start()
    val dir = Files.createTempDirectory("graft_auth_skip").toString
    try {
      val e = intercept[IllegalArgumentException](
        new PgWireClient("127.0.0.1", server.getLocalPort, dir,
          password = Some("s3cret"), authMethod = "scram").run(0L))
      assert(e.getMessage.contains("source_auth=scram"),
        s"an authentication-skipping peer must be refused by name: ${e.getMessage}")
      // the client can refuse on 'Z' before the stub thread records that
      // it wrote its last frame: wait for the stub before reading the flag
      t.join(5000)
      assert(served, "stub must have completed its frame sequence")
    } finally { server.close(); t.join(5000) }
  }

  test("stop() unblocks a blocked read promptly (no 30s soTimeout wait)") {
    val server = new java.net.ServerSocket(0)
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        PgWire.readStartup(in)
        PgWire.writeTyped(out, 'R', java.nio.ByteBuffer.allocate(4).putInt(0).array())
        PgWire.writeTyped(out, 'Z', Array('I'.toByte))
        PgWire.readTyped(in)
        PgWire.writeTyped(out, 'W', java.nio.ByteBuffer.allocate(3).array())
        Thread.sleep(60000) // never speaks again
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true); t.start()
    try {
      val dir = Files.createTempDirectory("graft_wire_stop").toString
      val client = new PgWireClient("127.0.0.1", server.getLocalPort, dir,
        idleKeepalivesToStop = Int.MaxValue) // production mode: default 30s timeout
      @volatile var returned = Long.MinValue
      val runner = new Thread(() => { returned = client.run(7L) })
      runner.start()
      Thread.sleep(300) // let it reach the blocked read
      val t0 = System.nanoTime()
      client.stop()
      runner.join(3000)
      val ms = (System.nanoTime() - t0) / 1000000
      assert(!runner.isAlive, s"run() still blocked ${ms}ms after stop()")
      assert(returned === 7L, "orderly shutdown returns the flushed LSN")
    } finally server.close()
  }
}
