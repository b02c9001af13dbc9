package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Registry

/** The analytics board: a fixed subset of `graft.Registry`, one key
  * from each `graft.operators.*Queries` family, over the sf0.01 tables
  * shipped in `perfbench/data`. Each key runs through its registry
  * function and is fully materialized through the `noop` format, as
  * `graft.Bench` does, under the session settings `Bench.main` gives
  * that input size.
  */
object Board {
  val Families: Seq[(String, Seq[String])] = Seq(
    "scan" -> Seq("scan_project_filter"),
    "cdc" -> Seq("cdc_replacing_latest"),
    "join" -> Seq("join_inner_equi"),
    "agg" -> Seq("agg_pricing_summary"),
    "window" -> Seq("win_running_sum"),
    "stream" -> Seq("stream_tumbling_window"),
    "text" -> Seq("dedup_simhash"),
    "similarity" -> Seq("sim_cosine_topk"),
    "multimodal" -> Seq("multimodal_audio_vad"))

  val Keys: Seq[String] = Families.flatMap(_._2)

  /** Timed passes: one per this many seconds of `--seconds`, at least
    * two. The count is fixed by `--seconds`, not by how fast passes run,
    * since each key scores its fastest pass. */
  val PassSeconds = 2.5

  /** `Bench.main`'s session for an input far below 16 MiB per core:
    * one shuffle partition per core, the cached-plan layout pinned, the
    * status-store diet, and AQE coalescing to a memory-per-core advisory
    * (effective heap per core / 64, at least 1 MiB). The system
    * properties are the ones `Bench.main` sets by default; the UTC
    * session time zone is the one `Verify` pins for the oracle check.
    */
  def session(work: Path): SparkSession = {
    System.setProperty("graft.shared.pipeline", "true")
    System.setProperty("graft.ann.ring", "oracle")
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = Runtime.getRuntime.maxMemory
    val effective = math.max(heap - (4L << 30), math.max(1L, heap) / 4)
    val advisory = math.max(1L << 20, (effective / cores) >> 6)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench-board")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "64")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One board run: set up (median of [[Main.Setups]]), one unmeasured
  * pass that writes each key's result for the oracle check `run.py`
  * makes after the JVM exits, then timed passes, each in a seeded order.
  */
final class BoardBench(spark: SparkSession, opts: Main.Opts, sessionS: Double, dataDir: String) {
  import Main._
  import Board._

  private val defs = Registry.all.toMap
  Keys.foreach(k => require(defs.get(k).exists(_.oracle.isDefined), s"$k has no oracle query"))
  private val trace = if (opts.trace) Some(new BoardTrace) else None
  trace.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.planning)
  }

  /** Opens the inputs the way every key does: each table's footer read
    * and the smallest one scanned, as `Bench.main` warms up. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    val s = spark.newSession()
    Files.list(java.nio.file.Paths.get(dataDir)).toArray.map(_.toString).sorted
      .foreach(p => s.read.parquet(p).schema)
    s.range(1000).selectExpr("sum(id)").collect()
    s.read.parquet(s"$dataDir/region.parquet").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs one key to completion and returns its wall (s). */
  private def once(key: String): Double = {
    val t0 = System.nanoTime()
    defs(key).fn(spark, dataDir).write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    // outside the key's wall, as in Bench.runAll
    graft.core.releaseQueryCaches(spark)
    spark.catalog.clearCache()
    s
  }

  def run(): String = {
    val setups = (1 to Setups).map(_ => setUp())
    val rnd = new scala.util.Random(opts.seed)
    // writing the results for the oracle check is the unmeasured first
    // pass: it pays each key's one-time costs
    val w0 = System.nanoTime()
    writeResults(rnd.shuffle(Keys))
    Console.err.println(f"[perfbench] first pass ${(System.nanoTime() - w0) / 1e9}%.2f s")
    val canaryBefore = canary(spark)
    val walls = mutable.LinkedHashMap.from(Keys.map(_ -> mutable.ArrayBuffer.empty[Double]))
    val passes = math.max(2, math.round(opts.seconds / PassSeconds).toInt)
    val t0 = System.nanoTime()
    for (_ <- 1 to passes) rnd.shuffle(Keys).foreach { k =>
      trace.foreach(_.begin(k))
      walls(k) += once(k)
      trace.foreach(_.end())
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val canaries = Seq(canaryBefore, canary(spark))
    Console.err.println(f"[perfbench] board: $passes passes in $windowS%.2f s; host canary " +
      f"${canaries.head}%.3f s before, ${canaries.last}%.3f s after")
    // a key scores its fastest timed run, as Bench.runAll scores it:
    // host stalls only ever add time
    val perKey = walls.view.mapValues(_.min).toMap
    perKey.toSeq.sortBy(-_._2).foreach { case (k, s) => Console.err.println(f"[perfbench] key $k $s%.3f s") }
    val metrics = trace.fold(Seq(
      "setup_s" -> (sessionS + median(setups), "s"),
      "peak_heap_mb" -> (peakHeapMb, "MB"),
      "throughput_per_s" -> (passes * Keys.size / windowS, "1/s"),
      "latency_p50_ms" -> (quantile(perKey.values.toSeq, 0.5) * 1000, "ms"),
      "latency_p95_ms" -> (quantile(perKey.values.toSeq, 0.95) * 1000, "ms"),
      "read_s" -> (perKey.values.sum, "s")))(t =>
      t.metrics(perKey, passes) :+ ("host.canary_s" -> (median(canaries), "s")))
    // the oracle check runs after the JVM exits; run.py fills in failures
    resultJson(correct = true, attempted = Keys.size, failed = 0, metrics)
  }

  /** Each key's result as one parquet file under `<work>/verify/<key>`,
    * plus the oracle SQL, for `oracle.py`. */
  private def writeResults(keys: Seq[String]): Unit = {
    val out = opts.work.resolve("verify")
    keys.foreach { k =>
      defs(k).fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(out.resolve(k).toString)
      graft.core.releaseQueryCaches(spark)
      spark.catalog.clearCache()
    }
    val sql = Keys.map(k => s"${jstr(k)}: ${jstr(defs(k).oracle.get)}").mkString("{", ", ", "}")
    Files.writeString(out.resolve("oracle_sql.json"), sql)
  }
}

/** The traced board run's recorder: Spark jobs and stages tagged with
  * the key that ran them, and each query's planning phases. */
final class BoardTrace extends SparkListener {
  final case class KeyRun(key: String, startMs: Long, var endMs: Long = -1L)
  final case class JobRec(run: KeyRun, startMs: Long, var endMs: Long = -1L)
  final case class StageRec(run: KeyRun, cpuMs: Double, tasks: Int, shuffleBytes: Long,
                            spillBytes: Long)

  private val runs = mutable.ArrayBuffer.empty[KeyRun]
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageRun = mutable.HashMap.empty[Int, KeyRun]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)

  def begin(key: String): Unit = synchronized { runs += KeyRun(key, System.currentTimeMillis()) }
  def end(): Unit = synchronized { runs.last.endMs = System.currentTimeMillis() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // keys run one after another: a job belongs to the key whose run
    // spans its start (the bus delivers late, so match on time)
    runs.findLast(r => r.startMs <= e.time && (r.endMs < 0 || e.time <= r.endMs)).foreach { r =>
      jobs(e.jobId) = JobRec(r, e.time)
      e.stageIds.foreach(stageRun(_) = r)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageRun.get(i.stageId).foreach { r =>
      val m = Option(i.taskMetrics)
      stages += StageRec(r, m.map(_.executorCpuTime / 1e6).getOrElse(0.0), i.numTasks,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    }
  }

  /** Planning of every query execution: analysis, optimization and
    * physical planning, dated by when it began. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) BoardTrace.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Per-family totals per measured pass. */
  def metrics(perKeyS: Map[String, Double], passes: Int): Seq[(String, (Double, String))] = {
    // the listener buses deliver asynchronously: let them drain
    Thread.sleep(500)
    synchronized {
      val done = runs.filter(_.endMs >= 0).toSeq
      def jobWallMs(r: KeyRun): Double = {
        val iv = jobs.values.filter(j => (j.run eq r) && j.endMs >= 0).map(j => (j.startMs, j.endMs))
          .toSeq.sortBy(_._1)
        var (sum, end) = (0L, Long.MinValue)
        iv.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) sum += b - from
          end = math.max(end, b)
        }
        sum.toDouble
      }
      val p = passes.toDouble
      Board.Families.flatMap { case (fam, keys) =>
        val rs = done.filter(r => keys.contains(r.key))
        val st = stages.filter(s => rs.exists(_ eq s.run))
        val planMs = plans.filter { case (t, _) => rs.exists(r => t >= r.startMs && t <= r.endMs) }
          .map(_._2.toDouble).sum
        Seq(
          s"board.$fam.wall_s" -> (keys.map(perKeyS).sum, "s"),
          s"board.$fam.planning_ms" -> (planMs / p, "ms"),
          s"board.$fam.jobs" -> (jobs.values.count(j => rs.exists(_ eq j.run)) / p, "count"),
          s"board.$fam.stages" -> (st.size / p, "count"),
          s"board.$fam.tasks" -> (st.map(_.tasks).sum / p, "count"),
          s"board.$fam.task_cpu_ms" -> (st.map(_.cpuMs).sum / p, "ms"),
          s"board.$fam.shuffle_bytes" -> (st.map(_.shuffleBytes.toDouble).sum / p, "bytes"),
          s"board.$fam.spill_bytes" -> (st.map(_.spillBytes.toDouble).sum / p, "bytes"),
          s"board.$fam.driver_gap_ms" -> (rs.map(r => (r.endMs - r.startMs) - jobWallMs(r)).sum / p, "ms"))
      }
    }
  }
}
