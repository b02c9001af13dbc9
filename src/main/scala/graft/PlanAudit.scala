package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: where one declared query's seconds and bytes go, on the
  * harness session ([[Bench.session]]), so the audited plan is the
  * benched plan. Run 1 is cold (JIT, page cache, and the shared
  * pipelines built inside it); run 2 is warm, the regime Bench scores.
  * For each run it prints the wall, a per-stage table (stage wall,
  * summed task run time, tasks, input, shuffle read and write) and the
  * run's shuffle-write total in bytes and records, with its stage and
  * job counts. `--explain` first
  * prints the formatted physical plan, built without the eager guard
  * probes (`core.planOnly`).
  *
  * Usage: sbt "runMain graft.PlanAudit <query> [sfDir] [--explain]"
  */
object PlanAudit {

  /** Listener totals of one stage. Written only from the listener bus
    * thread; read after [[StageRecorder.drain]]. */
  final class StageStats(val id: Int, val name: String, val submittedNs: Long) {
    @volatile var completedNs = 0L
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var inputBytes = 0L
    @volatile var readBytes = 0L
    @volatile var writeBytes = 0L
    @volatile var writeRecords = 0L
    def wallS: Double = if (completedNs > 0) (completedNs - submittedNs) / 1e9 else -1.0
  }

  /** Records every job started and stage submitted since the last [[reset]]. */
  final class StageRecorder extends SparkListener {
    private val stages = new ConcurrentHashMap[Int, StageStats]()
    private val jobCount = new java.util.concurrent.atomic.AtomicInteger()

    /** Jobs started since the last [[reset]]; read after [[drain]]. */
    def jobs: Int = jobCount.get

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      stages.putIfAbsent(info.stageId,
        new StageStats(info.stageId, info.name.takeWhile(_ != '\n'), System.nanoTime()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { st =>
        st.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          st.taskMs += m.executorRunTime
          st.inputBytes += m.inputMetrics.bytesRead
          st.readBytes += m.shuffleReadMetrics.totalBytesRead
          st.writeBytes += m.shuffleWriteMetrics.bytesWritten
          st.writeRecords += m.shuffleWriteMetrics.recordsWritten
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(_.completedNs = System.nanoTime())

    def reset(): Unit = { stages.clear(); jobCount.set(0) }

    /** The recorded stages in id order, once the asynchronous listener
      * bus has caught up: every recorded stage completed and the task
      * count unchanged across two polls (capped at 30 s, since a stage
      * AQE cancels never completes). */
    def drain(): Seq[StageStats] = {
      def snapshot = stages.values.asScala.toSeq.sortBy(_.id)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1
      var done = false
      while (!done && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val s = snapshot
        val tasks = s.map(_.tasks).sum
        done = tasks == last && s.forall(_.completedNs > 0)
        last = tasks
      }
      snapshot
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: PlanAudit <query> [sfDir] [--explain]"))
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(sfDir)
    spark.range(100).selectExpr("sum(id)").collect() // JIT warm
    val fn = Registry.all.toMap.apply(name).fn
    if (args.contains("--explain"))
      core.planOnly.withValue(true) {
        println(fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
    val recorder = new StageRecorder
    spark.sparkContext.addSparkListener(recorder)
    (1 to 2).foreach { i =>
      val tag = s"[audit] $name run$i"
      recorder.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(s"$tag ${(System.nanoTime() - t0) / 1e9}s")
      // per-query blocks go, shared pipelines stay: as between Bench runs
      core.releaseQueryCaches(spark)
      spark.catalog.clearCache()
      val stages = recorder.drain()
      println(f"$tag ${"wall(s)"}%8s ${"taskSum(s)"}%10s ${"tasks"}%6s " +
        f"${"in(KB)"}%8s ${"sRd(KB)"}%8s ${"sWr(KB)"}%8s  stage")
      stages.foreach { st =>
        println(f"$tag ${st.wallS}%8.3f ${st.taskMs / 1e3}%10.3f ${st.tasks}%6d " +
          f"${st.inputBytes >> 10}%8d ${st.readBytes >> 10}%8d ${st.writeBytes >> 10}%8d" +
          f"  s${st.id} ${st.name.take(60)}")
      }
      println(s"$tag shuffle_write bytes=${stages.map(_.writeBytes).sum} " +
        s"records=${stages.map(_.writeRecords).sum} stages=${stages.size} jobs=${recorder.jobs}")
    }
    spark.stop()
  }
}
