package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

/** Exactly-once buffered sink: batchId idempotency under redelivery
  * (SURVEY.md §2.A10–A12; models the reference's buffer-flush + LSN dedup).
  */
class BufferedSinkSpec extends SparkSpec {

  import spark.implicits._

  test("redelivered batchId is a no-op; distinct batches all land") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val sink = new BufferedSink(dir)

    assert(sink.writeBatch(Seq(1L, 2L).toDF("id"), batchId = 0))
    assert(sink.writeBatch(Seq(3L).toDF("id"), batchId = 1))
    // crash-replay: same batch redelivered with different (stale) content
    assert(!sink.writeBatch(Seq(99L).toDF("id"), batchId = 1))

    val all = spark.read.parquet(s"$dir/batch=*")
      .select("id").as[Long].collect().sorted
    assert(all.toSeq === Seq(1L, 2L, 3L))
    assert(sink.committedBatches() === Set(0L, 1L))
  }

  test("compaction bounds live batch dirs and preserves rows + arrival order") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val sink = new BufferedSink(dir, mergeThreshold = 3)
    val perBatch = 4
    var maxLive = 0
    (0 until 7).foreach { b =>
      val lsns = (b * perBatch + 1).toLong to ((b + 1) * perBatch).toLong
      assert(sink.writeBatch(lsns.toDF("lsn"), b.toLong))
      maxLive = math.max(maxLive, sink.liveBatchDirCount())
    }
    // bounded file growth: the threshold caps live dirs (a compaction
    // fires the moment the count reaches it)
    assert(maxLive <= 3, s"live batch dirs hit $maxLive > threshold")
    assert(sink.liveBatchDirCount() <= 3)
    // 7 batches with threshold 3 → at least two main segments exist
    assert(sink.compactedBatches().size >= 6)

    // every row exactly once, and __row_id sorts them back into the exact
    // arrival order (batchId major, intra-batch lsn minor)
    val rows = sink.readCommitted(spark)
      .orderBy("__row_id").select("lsn").as[Long].collect()
    assert(rows.toSeq === (1L to (7L * perBatch)))

    // a batchId whose dir was retired by compaction is STILL deduped on
    // replay — the committed manifest outlives the buffer dirs
    assert(!sink.writeBatch(Seq(999L).toDF("lsn"), 0L))
  }

  test("crash between segment commit and batch-dir retirement self-repairs") {
    val dir = Files.createTempDirectory("graft_crash").toString
    val raw = new BufferedSink(dir) // landing only, no compaction
    assert(raw.writeBatch(Seq(1L, 2L).toDF("lsn"), 0L))
    assert(raw.writeBatch(Seq(3L).toDF("lsn"), 1L))

    // preserve a copy of batch=0 to resurrect after compaction — the
    // state a crash leaves when the segment move landed but the covered
    // dirs were not yet deleted
    val saved = Files.createTempDirectory("graft_saved")
    copyTree(java.nio.file.Paths.get(dir, "batch=0"), saved.resolve("batch=0"))

    val compacting = new BufferedSink(dir, mergeThreshold = 2)
    compacting.maybeCompact(spark)
    assert(compacting.liveBatchDirCount() === 0)
    copyTree(saved.resolve("batch=0"), java.nio.file.Paths.get(dir, "batch=0"))

    // the resurrected dir is covered by the segment metadata: reads must
    // NOT double-count it
    val lsns = compacting.readCommitted(spark).select("lsn").as[Long].collect().sorted
    assert(lsns.toSeq === Seq(1L, 2L, 3L))
    // and the next compaction opportunity retires the garbage dir
    compacting.maybeCompact(spark)
    assert(compacting.liveBatchDirCount() === 0)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "batch=0")))
  }

  test("replaying the segment move is idempotent (seg already committed)") {
    val dir = Files.createTempDirectory("graft_segreplay").toString
    val sink = new BufferedSink(dir, mergeThreshold = 2)
    assert(sink.writeBatch(Seq(1L).toDF("lsn"), 0L))
    assert(sink.writeBatch(Seq(2L).toDF("lsn"), 1L)) // triggers compaction
    val before = sink.readCommitted(spark).select("lsn").as[Long].collect().sorted
    sink.maybeCompact(spark) // nothing live; must not disturb the segment
    val after = sink.readCommitted(spark).select("lsn").as[Long].collect().sorted
    assert(before.toSeq === after.toSeq)
  }

  test("a compaction that fails after the landing fails the write; the replay only compacts") {
    val dir = Files.createTempDirectory("graft_compact_fault").toString
    var fail = true
    val sink = new BufferedSink(dir, mergeThreshold = 2, segmentMerge = { df =>
      if (fail) throw new IllegalStateException("injected compaction fault")
      df
    })
    assert(sink.writeBatch(Seq(1L).toDF("lsn"), 0L))
    val e = intercept[IllegalStateException](sink.writeBatch(Seq(2L, 3L).toDF("lsn"), 1L))
    assert(e.getMessage.contains("injected"))
    // the landing committed before the compaction ran
    assert(sink.committedBatches() === Set(0L, 1L))
    assert(sink.compactedBatches().isEmpty)

    fail = false
    assert(!sink.writeBatch(Seq(99L).toDF("lsn"), 1L), "the replay must not land again")
    assert(sink.compactedBatches() === Set(0L, 1L))
    assert(sink.liveBatchDirCount() === 0)
    val rows = sink.readCommitted(spark).orderBy("__row_id").select("lsn").as[Long].collect()
    assert(rows.toSeq === Seq(1L, 2L, 3L))
  }

  test("one compaction over 3 batch dirs is one job, and its plan has no exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_compact_one").toString
    val raw = new BufferedSink(dir)
    (0 until 3).foreach { b =>
      assert(raw.writeBatch(Seq(2L * b + 1, 2L * b + 2).toDF("lsn").repartition(2), b.toLong))
    }
    val landed = BufferedSink.withRowId(StructType(Seq(StructField("lsn", LongType))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val nodes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    def walk(p: SparkPlanInfo): Unit = { nodes.add(p.nodeName); p.children.foreach(walk) }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null)) marker.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
        case _ =>
      }
    }
    val compacting = new BufferedSink(dir, mergeThreshold = 3)
    spark.sparkContext.addSparkListener(listener)
    try {
      compacting.maybeCompact(spark, Some(landed))
      // an RDD job: no SQL plan of its own. The bus delivers in order, so
      // every event of the compaction has been seen once it is.
      spark.sparkContext.setLocalProperty("graft.test.marker", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count() finally
        spark.sparkContext.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(compacting.compactedBatches() === Set(0L, 1L, 2L))
    assert(compacting.liveBatchDirCount() === 0)
    assert(jobs.get === 1, s"the compaction ran ${jobs.get} jobs")
    assert(nodes.asScala.nonEmpty && !nodes.asScala.exists(_.contains("Exchange")),
      s"the compaction plan shuffles: ${nodes.asScala.toSeq.distinct}")
    val rows = compacting.readCommitted(spark).orderBy("__row_id").select("lsn").as[Long].collect()
    assert(rows.toSeq === (1L to 6L))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    Files.walk(from).forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else { Files.createDirectories(dest.getParent); Files.copy(p, dest) }
    }
  }

  test("row_id stamping is distributed (no unpartitioned window) and bit-identical") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_stamp").toString
    val sink = new BufferedSink(dir)
    // enough rows to span several range partitions; shuffled arrival order
    val lsns = scala.util.Random.shuffle((1L to 5000L).toList)
    val BufferedSink.Stamped(stamped, _, release) =
      sink.stampRowIds(lsns.toDF("lsn").repartition(8), 7L)
    try {
      // plan pin: the de-funneled stamp must not contain ANY unpartitioned
      // window — the old Window.orderBy form funnels the batch into 1 task
      // the persisted rank stage hides behind an InMemoryRelation whose
      // subtree is already physical — check cached fragments too (the
      // same dual check as PlanShapeSpec's repo-wide pin)
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      import org.apache.spark.sql.execution.window.WindowExec
      val bad = stamped.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => s"logical:${w.windowExpressions}"
        case r: InMemoryRelation =>
          r.cachedPlan.collect {
            case we: WindowExec if we.partitionSpec.isEmpty => s"cached:${we.windowExpression}"
          }.mkString(";")
      }.filter(_.nonEmpty)
      assert(bad.isEmpty, s"stamp plans a single-partition window: $bad")
      // bit-identical contract: row_id = batchId·2^32 + rank in lsn order
      val got = stamped.orderBy("lsn").select(col("__row_id")).collect().map(_.getLong(0))
      val want = (1L to 5000L).map(r => 7L * (1L << 32) + r)
      assert(got.toSeq === want)
    } finally release()
  }

  test("row_id stamping handles empty batches and duplicate order keys") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_stamp_edge").toString
    val sink = new BufferedSink(dir)
    // empty batch: stamps nothing, breaks nothing
    val BufferedSink.Stamped(empty, _, rel0) = sink.stampRowIds(Seq.empty[Long].toDF("lsn"), 1L)
    try assert(empty.count() === 0L) finally rel0()
    // duplicate order keys: ranks must still be a permutation of 1..n
    // within each key group (ties are unordered but ids stay dense and
    // unique — the property compaction's row_id sort relies on)
    val dups = Seq(5L, 5L, 5L, 2L, 2L, 9L)
    val BufferedSink.Stamped(stamped, _, rel1) = sink.stampRowIds(dups.toDF("lsn"), 3L)
    try {
      val ids = stamped.select(col("__row_id")).collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (1L to 6L).map(r => 3L * (1L << 32) + r))
      // and order keys are non-decreasing along the rank order
      val lsns = stamped.orderBy("__row_id").select("lsn").collect().map(_.getLong(0))
      assert(lsns.toSeq === dups.sorted)
    } finally rel1()
  }

  test("row_id stamping refuses batches carrying reserved internal columns") {
    val dir = Files.createTempDirectory("graft_stamp_guard").toString
    val sink = new BufferedSink(dir)
    // withColumn would silently replace these and drop the user's data —
    // the guard must refuse instead (ADVICE r11)
    Seq("__pid", "__lrn", "__off", "__row_id").foreach { name =>
      val bad = Seq((1L, 2L)).toDF("lsn", name)
      val e = intercept[IllegalArgumentException](sink.stampRowIds(bad, 1L))
      assert(e.getMessage.contains(name))
    }
    // a column that merely PREFIXES a reserved name is fine
    val BufferedSink.Stamped(ok, _, rel) = sink.stampRowIds(Seq((1L, 2L)).toDF("lsn", "__pidx"), 1L)
    try assert(ok.columns.contains("__pidx")) finally rel()
  }

  test("foreachBatch adapter drives a real streaming query exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink_stream").toString
    val sink = new BufferedSink(dir)
    val mem = MemoryStream[Long]
    val q = mem.toDF().writeStream.foreachBatch(sink.forEachBatch _).start()
    mem.addData(Seq(10L, 11L)); q.processAllAvailable()
    mem.addData(Seq(12L)); q.processAllAvailable()
    q.stop()
    val all = spark.read.parquet(s"$dir/batch=*").collect().map(_.getLong(0)).sorted
    assert(all.toSeq === Seq(10L, 11L, 12L))
  }
}
