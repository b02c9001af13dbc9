package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: Spark job and stage events, streaming
  * progress, and a 10 ms stack sampler on the micro-batch thread, kept in
  * memory and reduced to per-layer numbers at the end.
  *
  * Layers are named by the sampler, not by call sites: inside a
  * streaming query Spark replaces every job's call site with the query's
  * start site. A job belongs to the layer the micro-batch thread was in
  * when the job started.
  */
final class Trace extends SparkListener {
  import Trace._

  final case class JobRec(id: Int, batch: Option[Long], phase: Option[String],
                          startMs: Long, var endMs: Long = -1L)
  final case class StageRec(id: Int, wallMs: Long, cpuMs: Double, tasks: Int,
                            isMap: Boolean, scansFeed: Boolean, bytesWritten: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]
  /** The sink's table root; when set, live batch dirs are sampled per batch. */
  @volatile var tablesDir: Option[java.nio.file.Path] = None
  @volatile var liveDirsMax = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop("streaming.sql.batchId").map(_.toLong),
      prop(PhaseKey), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    stages += StageRec(i.stageId, wall,
      m.map(_.executorCpuTime / 1e6).getOrElse(0.0), i.numTasks,
      m.exists(_.shuffleWriteMetrics.recordsWritten > 0),
      i.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan text"))),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L))
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val rec = ProgressRec(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d("triggerExecution"), d("addBatch"), d("getBatch"), d("latestOffset"))
      tablesDir.foreach(dir => liveDirsMax = math.max(liveDirsMax, liveBatchDirs(dir)))
      Trace.this.synchronized(progress += rec)
    }
  }

  def progressRecs: Seq[ProgressRec] = synchronized(progress.toSeq)

  /** Waits (up to 10 s) until the listener has seen batch `last`. */
  def awaitProgress(last: Option[Long]): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (last.exists(b => !progressRecs.exists(_.batchId >= b)) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  // ---- stack sampling of the micro-batch thread

  private val sampleMs = new LongBuf
  private val sampleLayer = mutable.ArrayBuffer.empty[String]
  @volatile private var sampling = true

  private val sampler = {
    val t = new Thread(() => {
      var target: Thread = null
      while (sampling) {
        if (target == null || !target.isAlive) {
          import scala.jdk.CollectionConverters._
          target = Thread.getAllStackTraces.keySet.asScala
            .find(_.getName.startsWith("stream execution thread for")).orNull
        }
        if (target != null) {
          val layer = layerOfStack(target.getStackTrace)
          val now = System.currentTimeMillis()
          Trace.this.synchronized { sampleMs.add(now); sampleLayer += layer }
        }
        Thread.sleep(SampleEveryMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  def stop(): Unit = { sampling = false; sampler.join(1000) }

  /** The sampled layer at epoch-ms `t` (the first sample at or after it). */
  private def layerAt(times: Array[Long], t: Long): String = {
    val i0 = java.util.Arrays.binarySearch(times, t)
    val i = if (i0 >= 0) i0 else -i0 - 1
    if (i < times.length && times(i) - t <= 4 * SampleEveryMs) sampleLayer(i) else "other"
  }

  /** Stream-thread time per layer inside the given intervals (ms). */
  def layerWallMs(intervals: Seq[(Double, Double)]): Map[String, Double] = synchronized {
    val times = sampleMs.toArray
    (0 until times.length - 1).iterator
      .filter(i => intervals.exists { case (a, b) => times(i) >= a && times(i) < b })
      .map(i => sampleLayer(i) -> math.min(times(i + 1) - times(i), 4L * SampleEveryMs).toDouble)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** One recorded stage with its job and layer. */
  final case class Attributed(stage: StageRec, job: JobRec, layer: String)

  /** Every completed stage with the layer that ran it: the benchmark's
    * phase if set, else the layer the micro-batch thread was in when the
    * stage's job started. A batch's first stage over the feed files is
    * decode: it materializes the parsed frames every later stage of the
    * batch reads from cache (those keep the layer that called them). */
  def attributed: Seq[Attributed] = synchronized {
    val times = sampleMs.toArray
    val recs = stages.toSeq.flatMap(s => stageJob.get(s.id).flatMap(jobs.get).map(j => (s, j)))
    val decode = recs.filter { case (s, j) => s.scansFeed && j.batch.isDefined && j.phase.isEmpty }
      .groupBy(_._2.batch).values.map(_.map(_._1.id).min).toSet
    recs.map { case (s, j) =>
      val layer = j.phase.getOrElse(if (j.batch.isDefined) layerAt(times, j.startMs) else "other")
      Attributed(s, j, if (decode(s.id)) "changefeed" else layer)
    }
  }

  def jobRecs: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

object Trace {
  /** One micro-batch's streaming progress (times in ms, start as epoch ms). */
  final case class ProgressRec(batchId: Long, rows: Long, startMs: Double, triggerMs: Double,
                               addBatchMs: Double, getBatchMs: Double, latestOffsetMs: Double)

  /** Largest number of live `batch=` dirs in any table under `dir`. */
  def liveBatchDirs(dir: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(dir)) 0
    else {
      val tables = java.nio.file.Files.list(dir)
      try tables.iterator.asScala.toSeq.map { t =>
        val s = java.nio.file.Files.list(t)
        try s.iterator.asScala.count(_.getFileName.toString.startsWith("batch=")) finally s.close()
      }.maxOption.getOrElse(0)
      finally tables.close()
    }
  }

  /** Local property the benchmark sets around its own Spark work. */
  val PhaseKey = "perfbench.phase"

  val SampleEveryMs = 10L

  private val helpers = Seq("graft.streaming.StateFs", "graft.streaming.CdcApply",
    "graft.streaming.ChangeRelation", "graft.streaming.PgOutput", "graft.functions.")

  /** Program layer of a micro-batch thread stack: its innermost frame in
    * a layer class (helpers such as StateFs count for their caller);
    * "stream" when it runs Spark's streaming engine outside the batch
    * function. */
  def layerOfStack(st: Array[StackTraceElement]): String =
    st.iterator.filter(f => f.getClassName.startsWith("graft.") &&
        !helpers.exists(f.getClassName.startsWith))
      .map { f =>
        val (c, m) = (f.getClassName, f.getMethodName)
        if (c.startsWith("graft.streaming.BufferedSink"))
          if (m.contains("ompact") || m.contains("retireCovered")) "sink.compact" else "sink.write"
        else if (c.startsWith("graft.sinks.")) "ch"
        else if (c.startsWith("graft.streaming.ChangeFeed")) "changefeed"
        else if (c.startsWith("graft.streaming.StreamRunner") && m.contains("encodeForCH")) "ch"
        else "route"
      }.nextOption().getOrElse("stream")
}
