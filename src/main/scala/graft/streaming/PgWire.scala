package graft.streaming

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Logical-replication WIRE protocol — SURVEY.md §2.A2's socket half.
  *
  * pg2ch's consumer loop speaks PostgreSQL streaming replication: it
  * opens a replication connection, issues `START_REPLICATION SLOT …
  * LOGICAL <lsn>`, then enters CopyBoth mode where the server streams
  * `XLogData ('w')` submessages carrying pgoutput frames and periodic
  * `Primary keepalive ('k')` messages, and the client answers with
  * `Standby status update ('r')` messages whose FLUSHED LSN is the
  * server's permission to discard WAL — acked only after the sink has
  * durably applied the data (`pkg/consumer` [recall:med]; the
  * submessage grammar is the public PG protocol documentation's).
  *
  * This module speaks the REAL frontend/backend protocol 3.0 grammar
  * (public PG protocol documentation): StartupMessage with
  * `replication=database` (what routes the session to a walsender),
  * AuthenticationOk → ReadyForQuery, `START_REPLICATION SLOT <slot>
  * LOGICAL <X/X>` as a simple Query, CopyBothResponse, and CopyData
  * ('d') messages wrapping the replication submessages both ways, and
  * the full SCRAM-SHA-256 SASL exchange with MUTUAL verification
  * ([[Scram]]) for password auth, legacy MD5 password auth
  * ([[PgWire.md5Response]]), and SSLRequest/TLS negotiation with the
  * libpq sslmode ladder (require / verify-ca / verify-full over JSSE).
  * A real PostgreSQL on trust, md5, or scram-sha-256 auth — with or
  * without `sslmode=require` — is a config change, not a code change;
  * this environment has no PostgreSQL, so the peer is a
  * protocol-faithful stub (StubPgWire, tests; it serves a self-signed
  * cert for the TLS legs), exactly the StubCH arrangement on the
  * sink side. Everything that makes replication
  * CORRECT — LSN-ordered delivery, flush-after-durable ack, keepalive
  * reply, restart from the acked LSN with no gaps or duplicates — is
  * real here and spec-tested (PgWireSpec).
  *
  * Typed message framing (post-startup, both directions):
  * `type:byte len:int32 body`, big-endian, `len` counting itself (4)
  * plus the body — the v3 rule. The StartupMessage alone has no type
  * byte and its len counts the whole message. Replication submessages
  * ride INSIDE CopyData ('d') bodies:
  * {{{
  *   'w' := startLsn:int64 endLsn:int64 clock:int64 payload
  *          (payload = one PgOutput binary frame)
  *   'k' := endLsn:int64 clock:int64 replyRequested:byte
  *   'r' := writtenLsn:int64 flushedLsn:int64 appliedLsn:int64
  *          clock:int64 replyRequested:byte
  * }}}
  */
object PgWire {

  /** Protocol version 3.0: major 3 in the high 16 bits. */
  val ProtocolV3 = 196608

  /** SSLRequest "version" code (1234,5679 in the PG numbering): sent as
    * `len=8:int32 code:int32` BEFORE the StartupMessage; the server
    * answers a single raw byte — 'S' (proceed with a TLS handshake on
    * this socket) or 'N' (no SSL support/policy). */
  val SslRequestCode = 80877103

  // ---- v3 typed message layer ----

  /** `type:byte len:int32(len counts itself + body) body` */
  def writeTyped(out: DataOutputStream, typ: Char, body: Array[Byte]): Unit = {
    out.writeByte(typ.toByte)
    out.writeInt(body.length + 4)
    out.write(body)
    out.flush()
  }

  /** Reads one typed message; length bounded so a corrupt peer cannot
    * force a giant allocation. */
  def readTyped(in: DataInputStream): (Char, Array[Byte]) = {
    val typ = in.readByte().toChar
    val n = in.readInt()
    require(n >= 4 && n <= (1 << 26), s"message length $n out of range")
    val b = new Array[Byte](n - 4)
    in.readFully(b)
    (typ, b)
  }

  /** Reads one typed message like [[readTyped]], but distinguishes an
    * idle timeout (no byte of any frame arrived → `None`: the peer is
    * silent-but-alive) from a timeout MID-frame (the type byte or part
    * of the header/body was already consumed → IOException: the stream
    * is DESYNCHRONIZED — re-entering the reader would interpret a
    * length/body byte as a type byte and produce garbage. The caller
    * must tear the connection down and reconnect; resume-from-acked-LSN
    * makes that loss-free). SocketTimeoutException IS an IOException
    * subclass, so the mid-frame case is re-wrapped to keep any
    * timeout-means-idle catch upstream from matching it.
    */
  def readTypedIdleAware(in: DataInputStream): Option[(Char, Array[Byte])] = {
    val typ =
      try in.readByte().toChar
      catch { case _: java.net.SocketTimeoutException => return None }
    try {
      val n = in.readInt()
      require(n >= 4 && n <= (1 << 26), s"message length $n out of range")
      val b = new Array[Byte](n - 4)
      in.readFully(b)
      Some((typ, b))
    } catch {
      case e: java.net.SocketTimeoutException =>
        throw new java.io.IOException(
          s"read timeout mid-frame (after type '$typ'): stream desynchronized", e)
    }
  }

  def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  /** Legacy MD5 password response (AuthenticationMD5Password, code 5;
    * pre-v10 PG fleets): `"md5" ‖ hex(md5(hex(md5(password‖user)) ‖ salt))`
    * — the inner hash is what pg_authid stores for `password_encryption
    * = md5`, the outer one binds it to the per-connection salt. */
  def md5Response(user: String, password: String, salt: Array[Byte]): String = {
    def md5(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("MD5").digest(b)
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val stored = hex(md5((password + user).getBytes(UTF_8)))
    "md5" + hex(md5(stored.getBytes(UTF_8) ++ salt))
  }

  /** RFC 5929 `tls-server-end-point` channel-binding data: the hash of
    * the server certificate's DER encoding, using the hash of the
    * certificate's own signature algorithm — except MD5 and SHA-1,
    * which the RFC upgrades to SHA-256 (also the fallback for exotic
    * algorithms, matching PostgreSQL's be_tls_get_certificate_hash).
    */
  def tlsServerEndPoint(cert: java.security.cert.X509Certificate): Array[Byte] = {
    val alg = cert.getSigAlgName.toUpperCase
    val h =
      if (alg.contains("RSASSA-PSS")) {
        // the digest hides in the signature's AlgorithmParameters, not
        // the name; mapping PSS blindly to SHA-256 would silently
        // diverge from PostgreSQL's be_tls_get_certificate_hash and turn
        // a -PLUS handshake into an opaque auth failure. Recover the
        // MGF/hash from the params; refuse loudly if we cannot.
        pssDigest(cert).getOrElse(throw new IllegalStateException(
          "unsupported certificate signature algorithm for channel " +
            "binding: RSASSA-PSS with an unrecoverable digest parameter " +
            "— use sslmode without -PLUS or reissue the server cert"))
      }
      else if (alg.contains("SHA384")) "SHA-384"
      else if (alg.contains("SHA512")) "SHA-512"
      // PostgreSQL only REMAPS MD5/SHA-1 to SHA-256; every
      // other signature digest resolves via EVP_get_digestbynid, which
      // supports SHA-224 — a SHA-224-signed cert channel-binds fine
      // with libpq, so this client must hash with SHA-224 too (the JDK
      // MessageDigest supports it). Refusal is reserved for digests PG
      // genuinely cannot resolve (the PSS unrecoverable-params branch).
      else if (alg.contains("SHA224")) "SHA-224"
      else "SHA-256"
    java.security.MessageDigest.getInstance(h).digest(cert.getEncoded)
  }

  /** Digest algorithm of an RSASSA-PSS certificate signature, read from
    * the signature AlgorithmParameters (RFC 4055 `RSASSA-PSS-params`,
    * first field = hashAlgorithm). Returns None when the JCA provider
    * cannot surface the params in PSS form. */
  private[streaming] def pssDigest(
      cert: java.security.cert.X509Certificate): Option[String] =
    Option(cert.getSigAlgParams).flatMap { der =>
      try {
        val ap = java.security.AlgorithmParameters.getInstance("RSASSA-PSS")
        ap.init(der)
        val spec = ap.getParameterSpec(classOf[java.security.spec.PSSParameterSpec])
        spec.getDigestAlgorithm.toUpperCase.replace("SHA", "SHA-").replace("--", "-") match {
          case "SHA-224" => Some("SHA-224") // EVP resolves it; so does the JDK
          case "SHA-256" => Some("SHA-256")
          case "SHA-384" => Some("SHA-384")
          case "SHA-512" => Some("SHA-512")
          case _         => None // exotics (e.g. SHA-3): no PG analogue
        }
      } catch { case _: Exception => None }
    }

  /** StartupMessage (frontend, UNtyped): len:int32 counting the whole
    * message, protocol:int32, `key\0value\0` pairs, terminating `\0`. */
  def writeStartup(out: DataOutputStream, params: Seq[(String, String)]): Unit = {
    val kv = new java.io.ByteArrayOutputStream()
    params.foreach { case (k, v) => kv.write(cstr(k)); kv.write(cstr(v)) }
    kv.write(0)
    val body = kv.toByteArray
    out.writeInt(8 + body.length)
    out.writeInt(ProtocolV3)
    out.write(body)
    out.flush()
  }

  def readStartup(in: DataInputStream): Map[String, String] =
    readStartupAfterLen(in, in.readInt())

  /** Startup body once the int32 length is already consumed — the
    * server side needs this split because SSLRequest and StartupMessage
    * share the leading-length framing and are told apart by what
    * follows it. */
  def readStartupAfterLen(in: DataInputStream, n: Int): Map[String, String] = {
    require(n >= 9 && n <= (1 << 16), s"startup length $n out of range")
    val proto = in.readInt()
    require(proto == ProtocolV3, s"unsupported protocol $proto")
    val b = new Array[Byte](n - 8)
    in.readFully(b)
    // key\0value\0 ... \0 — split on NULs, drop the empty terminator tail
    val parts = new String(b, UTF_8).split("\u0000", -1).dropRight(2)
    parts.grouped(2).collect { case Array(k, v) => k -> v }.toMap
  }

  /** LSN text form `X/X`: unsigned hex halves (the pg_lsn format). Bit-
    * faithful for any long, incl. the Long.MinValue "nothing yet"
    * sentinel. */
  def formatLsn(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xFFFFFFFFL}%X"

  def parseLsn(s: String): Long = {
    val Array(h, l) = s.split("/")
    (java.lang.Long.parseLong(h, 16) << 32) | java.lang.Long.parseLong(l, 16)
  }

  /** ErrorResponse body: `code:byte value\0` fields, `\0` terminator;
    * S=severity, C=sqlstate, M=message. */
  def errorBody(message: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write('S'); b.write(cstr("ERROR"))
    b.write('C'); b.write(cstr("XX000"))
    b.write('M'); b.write(cstr(message))
    b.write(0)
    b.toByteArray
  }

  def parseError(body: Array[Byte]): String = {
    var i = 0
    var msg = "unknown server error"
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      val start = i + 1
      var j = start
      while (j < body.length && body(j) != 0) j += 1
      if (code == 'M') msg = new String(body, start, j - start, UTF_8)
      i = j + 1
    }
    msg
  }

  final case class XLogData(startLsn: Long, endLsn: Long, clock: Long,
                            payload: Array[Byte])
  final case class Keepalive(endLsn: Long, clock: Long, replyRequested: Boolean)
  final case class StandbyStatus(written: Long, flushed: Long, applied: Long,
                                 clock: Long, replyRequested: Boolean)

  def encodeXLogData(d: XLogData): Array[Byte] = {
    val b = ByteBuffer.allocate(1 + 24 + d.payload.length)
    b.put('w'.toByte).putLong(d.startLsn).putLong(d.endLsn).putLong(d.clock)
      .put(d.payload)
    b.array()
  }

  def encodeKeepalive(k: Keepalive): Array[Byte] = {
    val b = ByteBuffer.allocate(1 + 17)
    b.put('k'.toByte).putLong(k.endLsn).putLong(k.clock)
      .put(if (k.replyRequested) 1.toByte else 0.toByte)
    b.array()
  }

  def encodeStandbyStatus(s: StandbyStatus): Array[Byte] = {
    val b = ByteBuffer.allocate(1 + 33)
    b.put('r'.toByte).putLong(s.written).putLong(s.flushed).putLong(s.applied)
      .putLong(s.clock).put(if (s.replyRequested) 1.toByte else 0.toByte)
    b.array()
  }

  def decodeXLogData(body: Array[Byte]): XLogData = {
    val b = ByteBuffer.wrap(body)
    require(b.get() == 'w'.toByte, "not an XLogData message")
    val start = b.getLong(); val end = b.getLong(); val clock = b.getLong()
    val payload = new Array[Byte](b.remaining())
    b.get(payload)
    XLogData(start, end, clock, payload)
  }

  def decodeKeepalive(body: Array[Byte]): Keepalive = {
    val b = ByteBuffer.wrap(body)
    require(b.get() == 'k'.toByte, "not a keepalive message")
    Keepalive(b.getLong(), b.getLong(), b.get() != 0)
  }

  def decodeStandbyStatus(body: Array[Byte]): StandbyStatus = {
    val b = ByteBuffer.wrap(body)
    require(b.get() == 'r'.toByte, "not a standby status message")
    StandbyStatus(b.getLong(), b.getLong(), b.getLong(), b.getLong(), b.get() != 0)
  }
}

/** The replication-socket CLIENT loop: connect, `START_REPLICATION`
  * after a given LSN, receive XLogData frames, land them DURABLY in the
  * Structured-Streaming feed directory (base64 frame lines — the exact
  * input of [[ChangeFeed.fromBase64Frames]]), and only then ack the
  * flushed LSN via standby status. Crash anywhere: nothing acked that
  * was not durably landed, so a restart from [[lastFlushed]] replays
  * the un-acked tail and nothing else — the same offset-after-sink
  * contract the file feed's checkpoint gives the Spark side.
  *
  * The landing is atomic per batch (temp file + rename), so the file
  * stream never observes a half-written file; batches flush when
  * `batchFrames` accumulate or on any keepalive (the feed stays fresh
  * under trickle load — pg2ch's inactivity flush).
  *
  * @param idleKeepalivesToStop after this many consecutive keepalives
  *        with nothing new and nothing pending, [[run]] returns (the
  *        test-harness form of "caught up"; a production loop passes
  *        Int.MaxValue and is stopped from outside via [[stop]]).
  */
final class PgWireClient(host: String, port: Int, feedDir: String,
                         batchFrames: Int = 64,
                         idleKeepalivesToStop: Int = 2,
                         soTimeoutMs: Int = 30000,
                         password: Option[String] = None,
                         user: String = "graft",
                         sslMode: String = "disable",
                         sslTrustStore: Option[String] = None,
                         sslTrustStorePassword: String = "changeit",
                         authMethod: String = "any") {

  require(Set("disable", "require", "verify-ca", "verify-full")(sslMode),
    s"unsupported sslmode '$sslMode' (disable|require|verify-ca|verify-full)")
  // source_auth: which password-auth requests this client
  // will answer. Default "any" matches libpq; "scram" refuses the silent
  // MD5 downgrade an on-path attacker can request on a plaintext socket
  // (libpq's require_auth=scram-sha-256 analogue), "md5" pins legacy.
  require(Set("any", "scram", "md5")(authMethod),
    s"unsupported auth method '$authMethod' (any|scram|md5)")

  @volatile private var stopped = false
  @volatile private var flushedLsn = Long.MinValue
  @volatile private var currentSocket: Socket = _
  // RFC 5929 tls-server-end-point hash of the CURRENT connection's peer
  // certificate (set by tlsWrap) — the SCRAM channel-binding datum
  @volatile private var tlsEndpointHash: Option[Array[Byte]] = None
  private var fileSeq = 0
  // instance tag for landed-file names: random UUID (truncated) — nanoTime
  // is an arbitrary-origin monotonic clock (often time-since-boot), so it
  // can REPEAT across JVM restarts; a tag collision would make the
  // ATOMIC_MOVE landing throw FileAlreadyExistsException
  private val instanceTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  def lastFlushed: Long = flushedLsn

  /** Stop the loop AND close the live socket: a blocked read unblocks
    * immediately instead of waiting out the 30 s soTimeout.
    */
  def stop(): Unit = {
    stopped = true
    val s = currentSocket
    if (s != null) try s.close() catch { case _: java.io.IOException => () }
  }

  /** The feed directory's durable high-water mark: the max LSN any
    * previous client landed (file names carry it). THIS — not the
    * in-memory acked LSN — is the true resume point: a crash between
    * landing and acking leaves frames durably landed but un-acked, and
    * resuming from the acked LSN would replay them into duplicates.
    * Long.MinValue when the directory is empty.
    */
  def landedHighWater(): Long = {
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.isDirectory(dir)) return Long.MinValue
    val it = java.nio.file.Files.list(dir)
    try {
      var hw = Long.MinValue
      it.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("feed_") && n.endsWith(".b64")) {
          val core = n.stripPrefix("feed_").stripSuffix(".b64")
          val last = core.substring(core.lastIndexOf('_') + 1)
          try hw = math.max(hw, last.toLong) catch { case _: NumberFormatException => () }
        }
      }
      hw
    } finally it.close()
  }

  /** Run the consumer loop; returns the last acked (flushed) LSN.
    * Resumes from max(startAfter, [[landedHighWater]]) — the crash
    * window between a durable landing and its ack can therefore never
    * cause a duplicate landing: the restarted client asks the server
    * for frames strictly after what the feed already holds.
    */
  /** TLS layer for the replication socket (libpq's sslmode ladder):
    * `require` encrypts WITHOUT authenticating the peer — libpq's
    * documented require semantics, i.e. protection from passive
    * eavesdropping only; an active MITM that terminates both TLS legs
    * is not detected by the handshake, and plain SCRAM's mutual proof
    * relays through it (no channel binding in the base mechanism).
    * SCRAM-SHA-256-PLUS channel binding, negotiated automatically when
    * the server offers it, closes exactly that relay; `verify-ca`
    * validates the server's chain against the configured trust store
    * (sslrootcert), and `verify-full` — the recommended posture —
    * additionally matches the certificate's SAN/CN against the connect
    * host via JSSE endpoint identification.
    */
  private def tlsWrap(plain: Socket, in: DataInputStream,
                      out: DataOutputStream): Socket = {
    out.writeInt(8); out.writeInt(PgWire.SslRequestCode); out.flush()
    in.readByte().toChar match {
      case 'S' =>
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        sslMode match {
          case "require" =>
            // encryption-only, like libpq sslmode=require: no chain
            // validation, so an active TLS-terminating MITM passes here
            // (and relays plain SCRAM's mutual proof). SCRAM-SHA-256-PLUS
            // channel binding detects that relay when the server offers
            // it; verify-full is the posture that refuses it outright.
            ctx.init(null, Array[javax.net.ssl.TrustManager](
              new javax.net.ssl.X509TrustManager {
                def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
                def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
                def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
              }), null)
          case _ =>
            val path = sslTrustStore.getOrElse(throw new IllegalArgumentException(
              s"sslmode=$sslMode requires a trust store (the sslrootcert analogue)"))
            val ks = java.security.KeyStore.getInstance("PKCS12")
            val fis = new java.io.FileInputStream(path)
            try ks.load(fis, sslTrustStorePassword.toCharArray) finally fis.close()
            val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
              javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
            tmf.init(ks)
            ctx.init(null, tmf.getTrustManagers, null)
        }
        val ssl = ctx.getSocketFactory.createSocket(plain, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(true)
        if (sslMode == "verify-full") {
          val p = ssl.getSSLParameters
          p.setEndpointIdentificationAlgorithm("HTTPS") // RFC 6125 host match
          ssl.setSSLParameters(p)
        }
        ssl.startHandshake()
        // capture the peer certificate's RFC 5929 hash for SCRAM
        // channel binding (available in every mode, validated or not —
        // binding to an UNvalidated cert is precisely what lets -PLUS
        // catch a require-mode MITM)
        tlsEndpointHash = ssl.getSession.getPeerCertificates.headOption.collect {
          case c: java.security.cert.X509Certificate => PgWire.tlsServerEndPoint(c)
        }
        ssl
      case 'N' => throw new IllegalStateException(
        s"server refused SSL ('N') but sslmode=$sslMode demands encryption")
      case 'E' =>
        // some older servers / poolers answer SSLRequest with an
        // ErrorResponse instead of 'N': the type byte is
        // consumed, so read the pending frame (int32 len + fields) and
        // surface the server's own message instead of a bare code
        val elen = in.readInt()
        val ebody = new Array[Byte](math.max(0, elen - 4))
        in.readFully(ebody)
        throw new IllegalStateException(
          "server answered SSLRequest with an error: " + PgWire.parseError(ebody))
      case other => throw new IllegalStateException(
        s"unexpected SSLRequest answer '$other'")
    }
  }

  def run(startAfter: Long): Long = {
    flushedLsn = math.max(startAfter, landedHighWater())
    tlsEndpointHash = None // per-connection; set by tlsWrap
    val plain = new Socket(host, port)
    plain.setSoTimeout(soTimeoutMs)
    val sock =
      if (sslMode == "disable") plain
      else try tlsWrap(plain, new DataInputStream(plain.getInputStream),
                       new DataOutputStream(plain.getOutputStream))
      catch { case e: Throwable => plain.close(); throw e }
    currentSocket = sock
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      // 1. PQ v3 startup: `replication=database` routes the session to a
      //    walsender (the libpq replication-connection parameter)
      PgWire.writeStartup(out, Seq(
        "user" -> user, "database" -> "graft", "replication" -> "database"))
      // 2. backend greeting to ReadyForQuery. AuthenticationOk (trust),
      //    legacy MD5 (code 5), and the full SCRAM-SHA-256 SASL exchange
      //    (password auth, the PG default since v10 —
      //    graft.streaming.Scram) are spoken; a server demanding
      //    anything else gets a loud failure, not a hang
      var ready = false
      var scram: Scram.Client = null
      // MUTUAL-auth gate: once a SASL exchange starts, the
      // ONLY acceptable path to AuthenticationOk runs through a VERIFIED
      // AuthenticationSASLFinal (code 12). A hostile/MITM peer that
      // collects the client proof and then short-circuits with R(0)
      // never proves it knows the verifier — refuse to proceed.
      var saslVerified = false
      def requireMutualDone(at: String): Unit = {
        require(scram == null || saslVerified,
          s"server skipped SCRAM mutual authentication ($at before a " +
            "verified AuthenticationSASLFinal) — refusing an unproven peer")
        // The scram METHOD pin must hold on EVERY path to
        // readiness, not just the AuthenticationOk handler — a hostile
        // peer can skip the Authentication message family entirely and
        // go straight to ParameterStatus/BackendKeyData/ReadyForQuery,
        // leaving scram==null so the clause above passes vacuously.
        require(authMethod != "scram" || saslVerified,
          s"server reached $at without a completed SCRAM exchange but " +
            "source_auth=scram requires one — refusing a trust-auth " +
            "(or authentication-skipping MITM) peer")
      }
      while (!ready) {
        val (typ, body) = PgWire.readTyped(in)
        typ match {
          case 'R' =>
            def rest: String = new String(body, 4, body.length - 4, UTF_8)
            ByteBuffer.wrap(body).getInt match {
              case 0 => // AuthenticationOk
                // source_auth=scram pins the METHOD, not just the
                // downgrade ladder: a server (or on-path MITM under
                // sslmode=require, where certs go unvalidated) that
                // answers the startup with an immediate AuthenticationOk
                // has proven nothing. libpq's require_auth=scram-sha-256
                // likewise rejects trust-auth servers.
                require(authMethod != "scram" || (scram != null && saslVerified),
                  "server accepted the connection without SCRAM " +
                    "authentication but source_auth=scram requires a " +
                    "completed SASL exchange — refusing a trust-auth " +
                    "(or downgrading MITM) peer")
                requireMutualDone("AuthenticationOk")
              case 5 => // AuthenticationMD5Password: tail = 4-byte salt
                require(authMethod != "scram",
                  "server requested MD5 password authentication but " +
                    "source_auth=scram forbids the downgrade (an on-path " +
                    "attacker can request MD5 and collect an offline-" +
                    "crackable, password-equivalent hash)")
                val pw = password.getOrElse(throw new IllegalArgumentException(
                  "server demands MD5 password authentication " +
                    "but no password is configured"))
                require(body.length >= 8, "MD5 auth request missing salt")
                val salt = java.util.Arrays.copyOfRange(body, 4, 8)
                PgWire.writeTyped(out, 'p',
                  PgWire.cstr(PgWire.md5Response(user, pw, salt)))
              case 10 => // AuthenticationSASL: NUL-separated mechanism list
                require(authMethod != "md5",
                  "server requested SCRAM authentication but source_auth=md5 " +
                    "pins the legacy method")
                val mechs = rest.split("\u0000").filter(_.nonEmpty)
                // prefer -PLUS whenever a TLS channel exists to bind; a
                // PLUS-only server reached WITHOUT TLS has no common
                // mechanism (there is no channel to bind)
                val usePlus =
                  tlsEndpointHash.isDefined && mechs.contains(Scram.MechanismPlus)
                require(usePlus || mechs.contains(Scram.Mechanism),
                  s"no common SASL mechanism (server offers: ${mechs.mkString(", ")}" +
                    (if (mechs.contains(Scram.MechanismPlus))
                      "; channel binding needs sslmode != disable" else "") + ")")
                val pw = password.getOrElse(throw new IllegalArgumentException(
                  "server demands SCRAM-SHA-256 password authentication " +
                    "but no password is configured"))
                val mech = if (usePlus) Scram.MechanismPlus else Scram.Mechanism
                scram = new Scram.Client(pw,
                  java.util.UUID.randomUUID().toString.replace("-", ""),
                  channelBinding = if (usePlus) tlsEndpointHash else None,
                  tlsAvailable = tlsEndpointHash.isDefined)
                val initial = scram.clientFirstMessage.getBytes(UTF_8)
                val b = new java.io.ByteArrayOutputStream()
                b.write(PgWire.cstr(mech))
                b.write(ByteBuffer.allocate(4).putInt(initial.length).array())
                b.write(initial)
                PgWire.writeTyped(out, 'p', b.toByteArray) // SASLInitialResponse
              case 11 => // AuthenticationSASLContinue: server-first
                require(scram != null, "SASLContinue before SASL started")
                PgWire.writeTyped(out, 'p',
                  scram.clientFinal(rest).getBytes(UTF_8)) // SASLResponse
              case 12 => // AuthenticationSASLFinal: MUTUAL auth — verify
                require(scram != null && scram.verifyServerFinal(rest),
                  "server failed SCRAM mutual authentication (bad server signature)")
                saslVerified = true
              case code => require(false,
                s"unsupported authentication request $code " +
                  "(trust, md5, scram-sha-256 and scram-sha-256-plus are spoken)")
            }
          case 'S' | 'K' | 'N' => () // ParameterStatus/BackendKeyData/Notice
          case 'Z' => requireMutualDone("ReadyForQuery"); ready = true
          case 'E' => throw new java.io.IOException(
            "server error during startup: " + PgWire.parseError(body))
          case other =>
            throw new IllegalStateException(s"unexpected startup message '$other'")
        }
      }
      // 3. START_REPLICATION as a simple Query → CopyBothResponse
      PgWire.writeTyped(out, 'Q', PgWire.cstr(
        s"START_REPLICATION SLOT graft LOGICAL ${PgWire.formatLsn(flushedLsn)}"))
      val (rt, rbody) = PgWire.readTyped(in)
      if (rt == 'E') throw new java.io.IOException(
        "START_REPLICATION refused: " + PgWire.parseError(rbody))
      require(rt == 'W', s"expected CopyBothResponse, got '$rt'")
      val pending = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
      var idle = 0
      var copyDone = false
      def ack(): Unit = PgWire.writeTyped(out, 'd', PgWire.encodeStandbyStatus(
        PgWire.StandbyStatus(flushedLsn, flushedLsn, flushedLsn,
          System.nanoTime() / 1000, replyRequested = false)))
      def flushAndAck(): Unit = if (pending.nonEmpty) {
        landBatch(pending.toSeq)
        flushedLsn = pending.map(_._1).max
        pending.clear()
        ack()
      }
      while (!stopped && !copyDone && idle < idleKeepalivesToStop) {
        // an alive-but-silent peer (no byte of any frame inside
        // soTimeout) is IDLE, not dead: report our position
        // and keep listening. A timeout MID-frame, by contrast, leaves
        // the stream desynchronized — readTypedIdleAware raises
        // IOException there, and runWithReconnect's
        // resume-from-acked-LSN makes the teardown loss-free.
        val msg = PgWire.readTypedIdleAware(in) match {
          case None => flushAndAck(); ack(); idle += 1; None
          case some => some
        }
        msg.foreach { case (typ, body) =>
          typ match {
            case 'd' => body(0).toChar match {
              case 'w' =>
                val d = PgWire.decodeXLogData(body)
                pending += ((d.endLsn, d.payload))
                idle = 0
                if (pending.size >= batchFrames) flushAndAck()
              case 'k' =>
                val k = PgWire.decodeKeepalive(body)
                if (pending.nonEmpty) flushAndAck()
                else if (k.endLsn <= flushedLsn) idle += 1
                else {
                  // the server's WAL advanced without data for this feed:
                  // release retention up to the keepalive position
                  // (nothing is outstanding), or an idle subscription
                  // pins WAL at the last data frame forever
                  flushedLsn = k.endLsn
                  ack()
                }
                if (k.replyRequested) ack()
              case other => throw new IllegalStateException(
                s"unexpected replication submessage '$other'")
            }
            case 'c' => copyDone = true // server ended the copy stream
            case 'E' => throw new java.io.IOException(
              "server error in copy stream: " + PgWire.parseError(body))
            case other =>
              throw new IllegalStateException(s"unexpected server message '$other'")
          }
        }
      }
      flushAndAck()
      flushedLsn
    } catch {
      // stop() closed the socket under a blocked read: orderly shutdown,
      // not a failure — everything landed is acked, the un-acked tail
      // replays on the next run
      case _: java.io.IOException if stopped => flushedLsn
    } finally {
      currentSocket = null
      sock.close()
    }
  }

  /** The production loop: [[run]] plus reconnect-with-resume. A dropped
    * socket (server bounce, network blip) is caught, and the next
    * attempt resumes from [[lastFlushed]] — everything acked is durably
    * landed, everything un-acked is replayed by the server, so the feed
    * sees every frame exactly once no matter where the connection died.
    * Backoff is linear (`retryDelayMs · attempt`); gives up after
    * `maxReconnects` consecutive failures (a successful read streak
    * resets the count via the flushed LSN advancing).
    */
  def runWithReconnect(startAfter: Long, maxReconnects: Int = 5,
                       retryDelayMs: Long = 50L): Long = {
    var cursor = startAfter
    var failures = 0
    var done = false
    while (!done && !stopped) {
      val before = cursor
      try {
        cursor = run(cursor)
        done = true
      } catch {
        case _: java.io.IOException | _: java.net.SocketException =>
          cursor = math.max(cursor, lastFlushed)
          failures = if (cursor > before) 1 else failures + 1
          if (failures > maxReconnects)
            throw new java.io.IOException(
              s"replication peer unreachable after $maxReconnects reconnects")
          Thread.sleep(retryDelayMs * failures)
      }
    }
    cursor
  }

  /** Durable, atomic landing of one batch as base64 frame lines —
    * [[ChangeFeed.fromBase64Frames]]'s input format. File names carry
    * (sequence, maxLsn) for operator debugging; the stream source keys
    * on file identity, not name order.
    */
  private def landBatch(frames: Seq[(Long, Array[Byte])]): Unit = {
    val enc = java.util.Base64.getEncoder
    val lines = frames.map { case (_, p) => enc.encodeToString(p) }
      .mkString("", "\n", "\n")
    val dir = java.nio.file.Paths.get(feedDir)
    java.nio.file.Files.createDirectories(dir)
    val maxLsn = frames.map(_._1).max
    val tmp = dir.resolve(s"_tmp_feed_${instanceTag}_${fileSeq}_$maxLsn.b64")
    val dst = dir.resolve(s"feed_${instanceTag}_${fileSeq}_$maxLsn.b64")
    fileSeq += 1
    java.nio.file.Files.write(tmp, lines.getBytes(UTF_8))
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
