package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row => SRow, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.streaming.{PgWireClient, Replicator, StreamRunner}

/** The benchmark's JVM: one workload, one JSON result.
  *
  *   perfbench.Main --workload <repl|board> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> [--data <dir>]
  *
  * `repl` is the deployment pg2ch runs: a replication connection
  * (`PgWireClient`) lands WAL frames in a feed directory, the routed
  * stream (`Replicator.bootstrap` → `StreamRunner.run`) decodes them,
  * lands each table through `BufferedSink` with compaction on, and ships
  * engine-encoded rows to ClickHouse through `HttpCHSink`. The WAL server
  * and the ClickHouse stub are the benchmark's own ([[WalServer]],
  * [[ChStub]]); the load comes from one generator thread over one
  * replication connection. `board` runs analytics keys of
  * `graft.Registry` over the tables in `--data` ([[BoardBench]]).
  *
  * The last stdout line is `RESULT <json>`: correctness, attempted and
  * failed counts, and the metrics of the run (end-to-end ones untraced,
  * per-layer ones with `--trace 1`).
  */
object Main {

  /** Deployment config of the replicator: the wire client lands a feed
    * file every 16384 frames or whenever the server reports it has
    * caught up, each micro-batch takes every landed file, and each table
    * compacts once 3 landed batches are live: the snapshot, the warm-up
    * batch and the first trickle batch compact together, and so do the
    * second trickle batch and the two backlog rounds.
    */
  val FramesPerFile = 16384
  val MergeThreshold = 3
  val SnapshotRows = 5000

  /** Backlog phase: rounds of whole transactions (1–8 changes each)
    * filling just under one feed file, so a round is one full
    * micro-batch. */
  val BacklogRounds = 2
  val BacklogFramesPerRound = FramesPerFile - 16
  /** Frames in the unmeasured first micro-batch. */
  val WarmUpFrames = 2048
  /** Trickle phase: transactions per second (1–4 changes each), and
    * `--seconds` per timed trigger cycle. */
  val TrickleTxPerSec = 16
  val TrickleCycleSeconds = 8.0
  /** Set-ups per run (the median is reported) and FINAL reads timed. */
  val Setups = 3
  val FinalReads = 2

  val rowSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType), StructField("n", LongType)))

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath)
    require(Set("repl", "board")(opts.workload), s"unknown workload ${opts.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // exit explicitly: a failed run must not hang on the stubs' threads
    val code = try {
      val spark = if (opts.workload == "board") Board.session(opts.work) else session(opts.work)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      try println("RESULT " + (opts.workload match {
        case "repl" => new ReplBench(spark, opts, sessionS).run()
        case "board" => new BoardBench(spark, opts, sessionS, kv("data")).run()
      }))
      finally spark.stop()
      0
    } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(code)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed host probe: a parallel range-sum over every core, re-timed
    * around each run so a contended host labels its own numbers. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4L * 1000 * 1000).selectExpr("sum((id * 1315423911) % 1000003)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Largest heap in use right after a garbage collection, in MB: the
    * program's peak live set as the collector saw it. With no collection
    * yet, the heap in use now. */
  def peakHeapMb: Double = {
    val bytes = if (liveHeapMax > 0) liveHeapMax else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / 1048576.0
  }
  @volatile private var liveHeapMax = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
    gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > liveHeapMax) liveHeapMax = used
      }, null, null)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // a quantile of no samples (a per-layer figure with nothing to
  // measure in the window, such as gaps between a single batch) reads 0
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${jstr(k)}: {"value": ${fmt(v)}, "unit": ${jstr(u)}}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** One replication run: set up (three times, median reported), warm up,
  * follow a trickle, catch up [[Main.BacklogRounds]] backlog rounds, then
  * time FINAL reads and check every output.
  */
final class ReplBench(spark: SparkSession, opts: Main.Opts, sessionS: Double) {
  import Main._

  private val trace = if (opts.trace) Some(new Trace) else None
  trace.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streamListener)
  }

  /** Everything one set-up starts, and its teardown. */
  final class Env(val dir: Path) {
    val gen = new Gen(opts.seed, SnapshotRows)
    val server = new WalServer
    val ch = new ChStub
    val cfg = StreamRunner.RunnerConfig(
      inputDir = dir.resolve("feed").toString,
      outputDir = dir.resolve("tables").toString,
      checkpointDir = dir.resolve("checkpoint").toString,
      tables = Gen.tables.map(t => StreamRunner.TableConfig(t.name, t.engine, Seq("k"),
        rowSchema, relId = t.relId)),
      mergeThreshold = MergeThreshold,
      feedFormat = "pgoutput",
      clickhouseUrl = Some(ch.endpoint))
    val client = new PgWireClient("127.0.0.1", server.port, cfg.inputDir,
      FramesPerFile, idleKeepalivesToStop = Int.MaxValue)
    var queries: Seq[StreamingQuery] = Nil
    private var clientThread: Thread = _

    val relations: Seq[(Long, Array[Byte])] = gen.relationFrames()

    /** Stubs up, snapshot landed, stream and replication connection
      * started: the set-up a deployment pays before it replicates. */
    def start(): Unit = {
      Files.createDirectories(Paths.get(cfg.inputDir))
      val snaps = gen.snapshot.map { case (t, rows) =>
        t -> spark.createDataFrame(
          java.util.Arrays.asList(rows.map(r => SRow(r.k, r.v, r.n)): _*), rowSchema)
      }
      queries = Replicator.bootstrap(spark, cfg, snaps)
      clientThread = new Thread(() => { client.run(0L); () }, "pgwire-client")
      clientThread.setDaemon(true)
      clientThread.start()
    }

    /** Stops replication; `drain` first lets the batch that delivered
      * the last rows commit and report. */
    def stopStream(drain: Boolean): Unit = {
      if (drain) queries.foreach(_.processAllAvailable())
      client.stop()
      if (clientThread != null) clientThread.join(10000)
      queries.foreach { q => q.stop(); q.awaitTermination(30000) }
    }

    def close(): Unit = {
      stopStream(drain = false)
      server.stop()
      ch.stop()
    }
  }

  /** A measured stretch of load: its phase, when it began (ns) and its
    * changes. */
  final case class Window(phase: String, startNs: Long, lsns: Seq[Long])
  private val windows = mutable.ArrayBuffer.empty[Window]
  // when each change was due at the server (ns)
  private val due = mutable.HashMap.empty[Long, Long]
  private val genLateMs = mutable.ArrayBuffer.empty[Double]

  def run(): String = {
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var env: Env = null
    for (i <- 0 until Setups) {
      if (env != null) env.close()
      val t0 = System.nanoTime()
      env = new Env(opts.work.resolve(s"setup-$i"))
      env.start()
      setupTimes += (System.nanoTime() - t0) / 1e9
      Console.err.println(f"[perfbench] setup $i: ${setupTimes.last}%.2f s")
    }
    val e = env
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      Console.err.println(f"[perfbench] $name at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try {
      warmUp(e)
      phase("warm-up")
      val canaryBefore = canary(spark)
      trace.foreach(_.tablesDir = Some(Paths.get(e.cfg.outputDir)))
      trickle(e)
      phase("trickle")
      backlog(e)
      phase("backlog")
      e.stopStream(drain = true)
      phase("stop")
      trace.foreach(_.awaitProgress(e.queries.flatMap(q => Option(q.lastProgress)).map(_.batchId).maxOption))
      val finalRead = timeFinalReads(e)
      phase("final reads")
      val canaries = Seq(canaryBefore, canary(spark))
      Console.err.println(f"[perfbench] host canary ${canaries.head}%.3f s before, ${canaries.last}%.3f s after")
      val (failed, problems) = check(e)
      phase("check")
      problems.take(10).foreach(p => Console.err.println(s"[perfbench] CHECK $p"))
      val arrival = arrivals(e)
      // a change with no arrival has failed the checks and is not timed
      def lagsMs(w: Window) = w.lsns.flatMap(l => arrival.get(l).map(a => (a - due(l)) / 1e6))
      val rounds = windows.filter(_.phase == "backlog").toSeq
      val lags = windows.filter(_.phase == "trickle").toSeq.flatMap(lagsMs)
      val metrics = trace.fold(Seq(
        "setup_s" -> (sessionS + median(setupTimes.toSeq), "s"),
        "peak_heap_mb" -> (peakHeapMb, "MB"),
        "throughput_per_s" -> (rounds.map(lagsMs(_).size).sum / rounds.map(drainWallS(_, arrival)).sum, "1/s"),
        "latency_p50_ms" -> (quantile(lags, 0.5), "ms"),
        "latency_p95_ms" -> (quantile(lags, 0.95), "ms"),
        "read_s" -> (finalRead, "s")))(t =>
        new Layers(t, e, arrival).metrics :+ ("host.canary_s" -> (median(canaries), "s")))
      resultJson(failed == 0, e.gen.changes.size, failed, metrics)
    } finally {
      trace.foreach(_.stop())
      e.close()
    }
  }

  /** Waits until the mirror holds every row the generator has sent. */
  private def awaitMirror(e: Env): Unit = {
    val want = Gen.tables.map(t => t.name -> e.gen.changes.iterator
      .filter(_.table == t.name).map(_.chLines.size.toLong).sum).toMap
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (want.exists { case (t, n) => e.ch.rowCount(t) < n }) {
      e.queries.flatMap(_.exception).foreach(x => throw x)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("the mirror did not catch up within 120 s")
      Thread.sleep(1)
    }
  }

  /** A window's drain wall: its start to its last change's arrival. */
  private def drainWallS(w: Window, arrival: Map[Long, Long]): Double =
    (lastArrival(w, arrival) - w.startNs) / 1e9

  private def lastArrival(w: Window, arrival: Map[Long, Long]): Long =
    w.lsns.flatMap(arrival.get).maxOption.getOrElse(w.startNs)

  /** The subscription's first micro-batch: every table's relation frame
    * and [[WarmUpFrames]] of changes, unmeasured (but checked), so the
    * measured batches do not pay first-use costs of the batch path. */
  private def warmUp(e: Env): Unit = {
    val frames = mutable.ArrayBuffer.from(e.relations)
    while (frames.size + 11 <= WarmUpFrames) frames ++= e.gen.nextTx(8)
    e.server.append(frames.toSeq)
    awaitMirror(e)
    e.queries.foreach(_.processAllAvailable())
  }

  /** Closed loop: each of [[BacklogRounds]] rounds appends a fresh
    * backlog and waits until every change of it is visible in the mirror.
    */
  private def backlog(e: Env): Unit = {
    for (round <- 1 to BacklogRounds) {
      val before = e.gen.changes.size
      val frames = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
      // a transaction has at most 10 frames: B, 8 changes, C
      while (frames.size + 11 <= BacklogFramesPerRound) {
        if (round == 1 && frames.size < BacklogFramesPerRound / 2 &&
            frames.size + 11 >= BacklogFramesPerRound / 2)
          frames += e.gen.reorderFrame()
        frames ++= e.gen.nextTx(8)
      }
      val lsns = e.gen.changes.drop(before).map(_.lsn).toSeq
      val t0 = System.nanoTime()
      e.server.append(frames.toSeq)
      lsns.foreach(due(_) = t0)
      awaitMirror(e)
      windows += Window("backlog", t0, lsns)
      Console.err.println(f"[perfbench] round: ${lsns.size} changes in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // the next round starts on an idle stream
      e.queries.foreach(_.processAllAvailable())
    }
  }

  /** Open loop: one transaction every 1/rate seconds on a fixed
    * schedule, whatever the replicator is doing. Lag is timed from each
    * change's scheduled commit, so a stall also charges the changes
    * queued behind it. Whole trigger cycles are timed, one per
    * [[TrickleCycleSeconds]] of `--seconds`: the schedule stops when the
    * batch that closes the last timed cycle starts, so that batch takes
    * every remaining change and no later batch is needed.
    */
  private def trickle(e: Env): Unit = {
    val cycles = math.max(1, math.round(opts.seconds / TrickleCycleSeconds).toInt)
    val periodNs = 1000000000L / TrickleTxPerSec
    val start = System.nanoTime() + 50000000L
    val toNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    // start times (ns) of the finished batches that carried trickle rows
    def starts: Seq[Long] = e.queries.flatMap(_.recentProgress).filter(_.numInputRows > 0)
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + toNs)
      .filter(_ >= start).sorted
    def sleepUntil(at: Long): Unit = {
      var now = System.nanoTime()
      while (now < at) {
        val ms = (at - now) / 1000000L
        if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
        now = System.nanoTime()
      }
    }
    var i = 0
    // once `cycles` batches have finished, the next one has started
    while ({ sleepUntil(start + i * periodNs); starts.size < cycles }) {
      val at = start + i * periodNs
      val before = e.gen.changes.size
      val frames = if (i == TrickleTxPerSec) e.gen.reorderFrame() +: e.gen.nextTx(4) else e.gen.nextTx(4)
      e.server.append(frames)
      genLateMs += (System.nanoTime() - at) / 1e6
      e.gen.changes.drop(before).foreach(c => due(c.lsn) = at)
      i += 1
    }
    awaitMirror(e)
    e.queries.foreach(_.processAllAvailable())
    // a batch picks up what was due since the previous batch started, so
    // the changes due between two batch starts see every trigger wait
    // from 0 to a full cycle, whatever the phase of the schedule
    val s = starts
    require(s.size > cycles, s"${s.size} trickle batches, want more than $cycles")
    val (a, b) = (s.head, s(cycles))
    val timed = due.collect { case (l, d) if d >= a && d < b => l }.toSeq.sorted
    windows += Window("trickle", a, timed)
    Console.err.println(f"[perfbench] trickle: $i transactions, ${s.size} batches, " +
      f"${timed.size} changes in the timed cycles (${(b - a) / 1e9}%.2f s)")
  }

  /** When each change's last mirror row arrived (ns). */
  private def arrivals(e: Env): Map[Long, Long] = {
    val at = mutable.HashMap.empty[(String, String), Long]
    e.ch.blocks.forEach { (k, b) => b.lines.foreach(l => at((k._1, l)) = b.receivedNs) }
    e.gen.changes.iterator.flatMap { c =>
      val ts = c.chLines.flatMap(l => at.get((c.table, l)))
      if (ts.size == c.chLines.size) Some(c.lsn -> ts.max) else None
    }.toMap
  }

  /** FINAL of every table, fully materialized; median of the reads. */
  private def timeFinalReads(e: Env): Double = {
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "final")
    try median((1 to FinalReads).map { _ =>
      val t0 = System.nanoTime()
      Gen.tables.foreach(t => StreamRunner.readFinal(spark, e.cfg, t.name)
        .write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }) finally spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)
  }

  /** Checks the program's outputs against the generator's model and
    * returns (failed changes, descriptions). A change fails when its LSN
    * is not in the landed change log exactly once, or the mirror does not
    * hold each of its engine-encoded rows exactly once; every FINAL row
    * that differs from the model, and every stray mirror row, counts as
    * one more failure.
    */
  private def check(e: Env): (Int, Seq[String]) = {
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "check")
    val failedLsns = mutable.HashSet.empty[Long]
    val problems = mutable.ArrayBuffer.empty[String]
    var extra = 0
    Gen.tables.foreach { t =>
      val changes = e.gen.changes.filter(_.table == t.name)
      val landed = StreamRunner.changeLog(spark, e.cfg, t.name).select("lsn")
        .collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
      changes.foreach(c => if (landed.getOrElse(c.lsn, 0) != 1) failedLsns += c.lsn)
      if (landed.getOrElse(0L, 0) != SnapshotRows)
        problems += s"${t.name}: ${landed.getOrElse(0L, 0)} snapshot rows landed, want $SnapshotRows"
      val stray = landed.keySet -- changes.map(_.lsn) - 0L
      if (stray.nonEmpty) problems += s"${t.name}: ${stray.size} landed LSNs were never generated"
      extra += stray.size

      val got = StreamRunner.readFinal(spark, e.cfg, t.name).select("k", "v", "n").collect()
        .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getLong(2)}").toSeq
      val want = e.gen.finalRows(t.name)
      val diff = got.diff(want).size + want.diff(got).size
      if (diff > 0) problems += s"${t.name}: FINAL differs from the model in $diff rows"
      extra += diff

      val mirror = mutable.HashMap.empty[String, Int]
      e.ch.blocks.forEach { (k, b) =>
        if (k._1 == t.name) b.lines.foreach(l => mirror(l) = mirror.getOrElse(l, 0) + 1)
      }
      changes.foreach(c => if (!c.chLines.forall(l => mirror.remove(l).contains(1))) failedLsns += c.lsn)
      if (mirror.nonEmpty) problems += s"${t.name}: the mirror holds ${mirror.size} unexpected rows"
      extra += mirror.size
    }
    if (failedLsns.nonEmpty) problems += s"${failedLsns.size} changes not landed exactly once"
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)
    val failed = math.min(e.gen.changes.size, failedLsns.size + extra)
    (if (problems.nonEmpty) math.max(failed, 1) else failed, problems.toSeq)
  }

  /** Per-layer numbers of a traced run, over the measured windows. */
  final class Layers(t: Trace, e: Env, arrival: Map[Long, Long]) {
    private val toEpochMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    private val spans = windows.map(w =>
      (w.startNs / 1e6 + toEpochMs, lastArrival(w, arrival) / 1e6 + toEpochMs)).toSeq
    // the trickle window opens at a batch start, converted between clocks:
    // allow for the rounding so that batch counts as inside
    private def inWindow(ms: Double) = spans.exists { case (a, b) => ms >= a - 50 && ms <= b }

    private val progress = t.progressRecs.filter(p => p.rows > 0 && inWindow(p.startMs))
    private val batchIds = progress.map(_.batchId).toSet
    private val nb = math.max(1, progress.size).toDouble
    private val staged = t.attributed.filter(a => a.job.batch.exists(batchIds))
    private def stageMs(layer: String, f: Trace#StageRec => Boolean = _ => true) =
      staged.filter(a => a.layer == layer && f(a.stage)).map(_.stage.wallMs.toDouble).sum / nb
    private def cpuMs(layer: String) =
      staged.filter(_.layer == layer).map(_.stage.cpuMs).sum / nb
    private def bytes(layer: String) =
      staged.filter(_.layer == layer).map(_.stage.bytesWritten.toDouble).sum
    private val jobs = t.jobRecs.filter(_.batch.exists(batchIds))
    private val wall = t.layerWallMs(progress.map(p => (p.startMs, p.startMs + p.triggerMs)))
    private def wallMs(layer: String) = wall.getOrElse(layer, 0.0) / nb
    private val finals = t.attributed.filter(_.layer == "final")
    private val posts = {
      val b = mutable.ArrayBuffer.empty[e.ch.Block]
      e.ch.blocks.forEach((_, v) => if (inWindow(v.receivedNs / 1e6 + toEpochMs)) b += v)
      b.toSeq
    }

    /** Spark job wall per batch: the union of its jobs' intervals. */
    private def jobWallMs(batch: Long): Double = {
      val iv = jobs.filter(_.batch.contains(batch)).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var (sum, end) = (0L, Long.MinValue)
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) sum += b - from
        end = math.max(end, b)
      }
      sum.toDouble
    }

    private def files(dir: Path, pred: String => Boolean): Double =
      if (!Files.isDirectory(dir)) 0.0
      else { val s = Files.walk(dir); try s.filter(p => pred(p.getFileName.toString)).count().toDouble finally s.close() }

    def metrics: Seq[(String, (Double, String))] = {
      val addBatch = progress.map(_.addBatchMs)
      val gaps = progress.sortBy(_.startMs).sliding(2).collect {
        case Seq(a, b) => b.startMs - (a.startMs + a.triggerMs)
      }.toSeq
      val drainMs = windows.map(w => drainWallS(w, arrival) * 1000).sum
      val writeBytes = bytes("sink.write")
      val compactBytes = bytes("sink.compact")
      val lagsMs = windows.toSeq.flatMap(w => e.server.ackLagsMs(w.startNs, lastArrival(w, arrival)))
      Seq(
        "pgwire.frames" -> (e.server.framesSent.toDouble, "count"),
        "pgwire.files_landed" -> (files(Paths.get(e.cfg.inputDir), _.startsWith("feed_")), "count"),
        "pgwire.ack_lag_p50_ms" -> (quantile(lagsMs, 0.5), "ms"),
        "pgwire.ack_lag_p99_ms" -> (quantile(lagsMs, 0.99), "ms"),
        "pgwire.reconnects" -> ((e.server.connections - 1).toDouble, "count"),
        "stream.batches" -> (progress.size.toDouble, "count"),
        "stream.rows_per_batch_p50" -> (median(progress.map(_.rows.toDouble)), "rows"),
        "stream.trigger_wait_p50_ms" -> (median(gaps), "ms"),
        "stream.get_batch_ms" -> (median(progress.map(_.getBatchMs)), "ms"),
        "stream.latest_offset_ms" -> (median(progress.map(_.latestOffsetMs)), "ms"),
        "stream.add_batch_p50_ms" -> (quantile(addBatch, 0.5), "ms"),
        "stream.add_batch_p99_ms" -> (quantile(addBatch, 0.99), "ms"),
        "stream.trigger_overhead_ms" -> (median(progress.map(p => p.triggerMs - p.addBatchMs)), "ms"),
        "stream.busy_frac" -> (progress.map(_.triggerMs).sum / drainMs, "ratio"),
        "stream.jobs_per_batch" -> (jobs.size / nb, "count"),
        "stream.stages_per_batch" -> (staged.size / nb, "count"),
        "stream.tasks_per_batch" -> (staged.map(_.stage.tasks).sum / nb, "count"),
        "stream.driver_ms_per_batch" -> (median(progress.map(p => p.addBatchMs - jobWallMs(p.batchId))), "ms"),
        "stream.engine_wall_ms" -> (wallMs("stream"), "ms"),
        "changefeed.stage_ms" -> (stageMs("changefeed"), "ms"),
        "changefeed.task_cpu_ms" -> (cpuMs("changefeed"), "ms"),
        "changefeed.wall_ms" -> (wallMs("changefeed"), "ms"),
        "route.stage_ms" -> (stageMs("route"), "ms"),
        "route.wall_ms" -> (wallMs("route"), "ms"),
        "sink.stamp_stage_ms" -> (stageMs("sink.write", _.isMap), "ms"),
        "sink.write_stage_ms" -> (stageMs("sink.write", !_.isMap), "ms"),
        "sink.write_wall_ms" -> (wallMs("sink.write"), "ms"),
        "sink.compactions" -> (staged.filter(a => a.layer == "sink.compact" && a.stage.bytesWritten > 0)
          .map(_.job.id).distinct.size.toDouble, "count"),
        "sink.compact_stage_ms" -> (stageMs("sink.compact"), "ms"),
        "sink.compact_wall_ms" -> (wallMs("sink.compact"), "ms"),
        "sink.bytes_written" -> (writeBytes + compactBytes, "bytes"),
        "sink.write_amp" -> ((writeBytes + compactBytes) / math.max(1.0, writeBytes), "ratio"),
        "sink.live_dirs_max" -> (t.liveDirsMax.toDouble, "count"),
        "ch.posts" -> (posts.size.toDouble, "count"),
        "ch.posts_per_batch" -> (posts.size / nb, "count"),
        "ch.bytes" -> (posts.map(_.lines.map(_.length + 1).sum.toDouble).sum, "bytes"),
        "ch.post_p50_ms" -> (median(e.ch.postMs.toSeq), "ms"),
        "ch.stage_ms" -> (stageMs("ch"), "ms"),
        "ch.wall_ms" -> (wallMs("ch"), "ms"),
        "final.stages" -> (finals.size.toDouble / FinalReads, "count"),
        "final.task_cpu_ms" -> (finals.map(_.stage.cpuMs).sum / FinalReads, "ms"),
        "final.files_opened" -> (files(Paths.get(e.cfg.outputDir), n => n.endsWith(".parquet")), "count"),
        "gen.changes" -> (windows.map(_.lsns.size).sum.toDouble, "count"),
        "gen.late_p99_ms" -> (if (genLateMs.isEmpty) 0.0 else quantile(genLateMs.toSeq, 0.99), "ms"))
    }
  }
}
