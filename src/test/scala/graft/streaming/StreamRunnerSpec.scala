package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}

/** The full pg2ch shape: one shared WAL feed, two tables with DIFFERENT
  * engines replicated concurrently, engine-correct read-side state.
  */
class StreamRunnerSpec extends SparkSpec {

  private def j(lsn: Long, op: String, table: String, k: Long, v: String): String = {
    val after = if (op == "I" || op == "U") s""","after":{"k":$k,"v":"$v"}""" else ""
    val before = if (op == "U" || op == "D") s""","before":{"k":$k,"v":"old"}""" else ""
    s"""{"lsn":$lsn,"op":"$op","table":"$table"$before$after}"""
  }

  private def writeFeed(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, dir.resolve(name))
  }

  test("single-decode topology: N tables run as ONE streaming query") {
    val in = Files.createTempDirectory("graft_topo_in")
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = Files.createTempDirectory("graft_topo_out").toString,
      checkpointDir = Files.createTempDirectory("graft_topo_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow),
        StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
          ChangeRelation.testRow),
        StreamRunner.TableConfig("ledger", "CollapsingMergeTree", Seq("k"),
          ChangeRelation.testRow)))
    writeFeed(in, "wal_000.json", Seq(j(1, "I", "users", 1, "a")))
    val before = spark.streams.active.length
    val queries = StreamRunner.run(spark, cfg)
    try {
      // the pg2ch consumer shape: the feed is read+decoded ONCE for all
      // configured tables, not once per table
      assert(queries.length === 1, "3 tables must share one streaming query")
      assert(spark.streams.active.length === before + 1)
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    assert(StreamRunner.readFinal(spark, cfg, "users").count() === 1L)
  }

  test("columns_map: the feed's column names project/rename into the target schema") {
    val in = Files.createTempDirectory("graft_map_in")
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = Files.createTempDirectory("graft_map_out").toString,
      checkpointDir = Files.createTempDirectory("graft_map_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow,
          // target k reads feed user_id, target v reads feed payload;
          // amt maps to itself; feed column `extra` has no target → dropped
          columnsMap = Map("k" -> "user_id", "v" -> "payload"))))
    writeFeed(in, "wal_000.json", Seq(
      """{"lsn":1,"op":"I","table":"users","after":{"user_id":7,"payload":"hi","amt":1.25,"extra":"x"}}""",
      """{"lsn":2,"op":"U","table":"users","before":{"user_id":7,"payload":"hi"},"after":{"user_id":7,"payload":"renamed","amt":2.50,"extra":"y"}}"""))
    val queries = StreamRunner.run(spark, cfg)
    try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())
    val out = StreamRunner.readFinal(spark, cfg, "users")
    assert(out.columns.toSeq === Seq("k", "v", "amt"), "target schema, not feed schema")
    val r = out.collect().head
    assert(r.getLong(0) === 7L)
    assert(r.getString(1) === "renamed")
    assert(r.getDecimal(2) === new java.math.BigDecimal("2.50"))
  }

  test("two tables, two engines, one feed: each target gets its own semantics") {
    val in = Files.createTempDirectory("graft_runner_in")
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = Files.createTempDirectory("graft_runner_out").toString,
      checkpointDir = Files.createTempDirectory("graft_runner_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow),
        StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
          ChangeRelation.testRow)))

    // interleaved feed: users gets I/U/D churn, audit is append-only
    writeFeed(in, "wal_000.json", Seq(
      j(1, "I", "users", 1, "a"), j(2, "I", "audit", 100, "log-1"),
      j(3, "U", "users", 1, "b"), j(4, "I", "users", 2, "x"),
      j(5, "I", "audit", 101, "log-2"), j(6, "D", "users", 2, "")))

    val queries = StreamRunner.run(spark, cfg)
    try {
      queries.foreach(_.processAllAvailable())
    } finally {
      queries.foreach(_.stop())
    }

    val users = StreamRunner.readFinal(spark, cfg, "users")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(users.toSet === Set((1L, "b"))) // key 2 deleted, key 1 latest

    val audit = StreamRunner.readFinal(spark, cfg, "audit")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(audit.toSet === Set((100L, "log-1"), (101L, "log-2")))

    // per-table change logs carry ONLY their own relation's rows
    assert(StreamRunner.changeLog(spark, cfg, "users").count() === 4L)
    assert(StreamRunner.changeLog(spark, cfg, "audit").count() === 2L)
  }

  test("clickhouse_url ships engine-encoded rows alongside the landed log") {
    val ch = new graft.sinks.StubCH
    try {
      val in = Files.createTempDirectory("graft_ch_in")
      val cfg = StreamRunner.RunnerConfig(
        inputDir = in.toString,
        outputDir = Files.createTempDirectory("graft_ch_out").toString,
        checkpointDir = Files.createTempDirectory("graft_ch_ckpt").toString,
        tables = Seq(
          StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
            ChangeRelation.testRow),
          StreamRunner.TableConfig("ledger", "CollapsingMergeTree", Seq("k"),
            ChangeRelation.testRow)),
        clickhouseUrl = Some(ch.endpoint))

      writeFeed(in, "wal_000.json", Seq(
        j(1, "I", "users", 1, "a"), j(2, "U", "users", 1, "b"),
        j(3, "D", "users", 2, ""),
        j(4, "I", "ledger", 10, "x"), j(5, "U", "ledger", 10, "y")))

      val queries = StreamRunner.run(spark, cfg)
      try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())

      // Replacing wire rows: k \t v \t amt \t ver \t deleted
      val users = ch.lines("users").map(_.split("\t", -1)).map(c =>
        (c(0), c(1), c(3), c(4))).toSet
      assert(users === Set(
        ("1", "a", "1", "0"), ("1", "b", "2", "0"), // upserts, ver = lsn
        ("2", "old", "3", "1"))) // DELETE ships the old tuple as tombstone

      // Collapsing wire rows: k \t v \t amt \t sign — update = (-1, +1) pair
      val ledger = ch.lines("ledger").map(_.split("\t", -1)).map(c =>
        (c(0), c(1), c(3))).toSet
      assert(ledger === Set(
        ("10", "x", "1"), ("10", "old", "-1"), ("10", "y", "1")))

      // the landed parquet log is unaffected by the tee
      assert(StreamRunner.changeLog(spark, cfg, "users").count() === 3L)
    } finally ch.stop()
  }

  test("a truncate event truncates the ClickHouse mirror, like pg2ch") {
    val ch = new graft.sinks.StubCH
    try {
      val in = Files.createTempDirectory("graft_trunc_in")
      val cfg = StreamRunner.RunnerConfig(
        inputDir = in.toString,
        outputDir = Files.createTempDirectory("graft_trunc_out").toString,
        checkpointDir = Files.createTempDirectory("graft_trunc_ckpt").toString,
        tables = Seq(StreamRunner.TableConfig("users", "ReplacingMergeTree",
          Seq("k"), ChangeRelation.testRow)),
        clickhouseUrl = Some(ch.endpoint))

      val queries = StreamRunner.run(spark, cfg)
      try {
        // batch 1: two inserts ship to the mirror
        writeFeed(in, "wal_000.json", Seq(
          j(1, "I", "users", 1, "a"), j(2, "I", "users", 2, "b")))
        queries.foreach(_.processAllAvailable())
        assert(ch.lines("users").size === 2)

        // batch 2: TRUNCATE, then one post-truncate insert. The mirror is
        // truncated server-side (cross-batch wipe) and ships ONLY the
        // post-truncate row (same-batch dropTruncated).
        writeFeed(in, "wal_001.json", Seq(
          s"""{"lsn":3,"op":"T","table":"users"}""",
          j(4, "I", "users", 3, "c")))
        queries.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())

      assert(ch.truncates.contains("users"), "T must issue TRUNCATE TABLE")
      val rows = ch.lines("users").map(_.split("\t", -1)(0)).toSet
      assert(rows === Set("3"), s"mirror must hold only post-truncate rows, got $rows")
      // and the landed log agrees with the mirror
      val fin = StreamRunner.readFinal(spark, cfg, "users")
        .select("k").collect().map(_.getLong(0)).toSet
      assert(fin === Set(3L))
    } finally ch.stop()
  }

  test("binary feed: R definitions cache across micro-batches (subscription sends R once)") {
    val in = Files.createTempDirectory("graft_relcache_in")
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = Files.createTempDirectory("graft_relcache_out").toString,
      checkpointDir = Files.createTempDirectory("graft_relcache_ckpt").toString,
      // NO static relid: routing depends entirely on the feed's R frames
      tables = Seq(StreamRunner.TableConfig("users", "ReplacingMergeTree",
        Seq("k"), ChangeRelation.testRow)),
      feedFormat = "pgoutput")
    val b64 = java.util.Base64.getEncoder

    val queries = StreamRunner.run(spark, cfg)
    try {
      // batch 1 carries the R frame + one insert
      writeFeed(in, "wal_000.b64", Seq(
        PgOutput.encodeRelation(0, 42, "users", Seq("k", "v", "amt")),
        PgOutput.encodeInsert(1, 42, Seq("1", "a", null))).map(b64.encodeToString))
      queries.foreach(_.processAllAvailable())
      // batch 2 has tuples ONLY — the cached definition must still route
      writeFeed(in, "wal_001.b64", Seq(
        PgOutput.encodeInsert(2, 42, Seq("2", "b", "9.99"))).map(b64.encodeToString))
      queries.foreach(_.processAllAvailable())
      // batch 3 redefines the relation — the cache must roll forward AND
      // stay ONE versioned snapshot dir, not an append log
      writeFeed(in, "wal_002.b64", Seq(
        PgOutput.encodeRelation(5, 42, "users", Seq("amt", "k", "v")),
        PgOutput.encodeInsert(6, 42, Seq("7.77", "3", "c"))).map(b64.encodeToString))
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())

    // a fresh query on the same dirs: the driver-side definitions must
    // reload from _relations/, because batch 4 carries tuples ONLY (in the
    // redefined column order)
    val restarted = StreamRunner.run(spark, cfg)
    try {
      writeFeed(in, "wal_003.b64", Seq(
        PgOutput.encodeInsert(8, 42, Seq("1.11", "4", "d"))).map(b64.encodeToString))
      restarted.foreach(_.processAllAvailable())
    } finally restarted.foreach(_.stop())

    val out = StreamRunner.readFinal(spark, cfg, "users")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "tuples must decode via cached + redefined R definitions, across a restart")

    val cacheDirs = Files.list(Paths.get(cfg.outputDir, "_relations"))
      .iterator()
    val versions = scala.jdk.CollectionConverters.IteratorHasAsScala(cacheDirs)
      .asScala.map(_.getFileName.toString).filter(_.startsWith("v=")).toSeq
    assert(versions.size === 1,
      s"cache must keep exactly the latest snapshot, got $versions")
  }

  test("per-table merge_threshold override: one table compacts, the other keeps raw batches") {
    val in = Files.createTempDirectory("graft_pmt_in")
    val out = Files.createTempDirectory("graft_pmt_out").toString
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = out,
      checkpointDir = Files.createTempDirectory("graft_pmt_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow), // inherits the runner-level threshold 2
        StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
          ChangeRelation.testRow, mergeThreshold = Some(0))), // never compacts
      mergeThreshold = 2)

    def onePass(): Unit = {
      val qs = StreamRunner.run(spark, cfg)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    (0 until 3).foreach { i =>
      writeFeed(in, f"wal_$i%03d.json", Seq(
        j(2L * i + 1, "I", "users", i, s"u$i"), j(2L * i + 2, "I", "audit", i, s"a$i")))
      onePass()
    }

    val users = new BufferedSink(s"$out/users", 2)
    val audit = new BufferedSink(s"$out/audit", 0)
    assert(users.compactedBatches().nonEmpty, "users must compact at threshold 2")
    assert(users.liveBatchDirCount() <= 2)
    assert(audit.compactedBatches().isEmpty, "audit's override 0 must disable compaction")
    assert(audit.liveBatchDirCount() === 3)
    // identical read-side state either way
    assert(StreamRunner.readFinal(spark, cfg, "users").count() === 3L)
    assert(StreamRunner.readFinal(spark, cfg, "audit").count() === 3L)
  }

  test("routed topology: checkpointed restarts stay exactly-once PER TABLE") {
    val in = Files.createTempDirectory("graft_xover_in")
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = Files.createTempDirectory("graft_xover_out").toString,
      checkpointDir = Files.createTempDirectory("graft_xover_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow),
        StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
          ChangeRelation.testRow)))

    def onePass(): Unit = {
      val qs = StreamRunner.run(spark, cfg)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }

    writeFeed(in, "wal_000.json", Seq(
      j(1, "I", "users", 1, "a"), j(2, "I", "audit", 100, "log-1")))
    onePass()
    writeFeed(in, "wal_001.json", Seq(
      j(3, "U", "users", 1, "b"), j(4, "I", "audit", 101, "log-2")))
    onePass()
    onePass() // restart with NO new data: nothing may re-land

    // exactly-once per table: every change row landed exactly once
    def lsns(t: String) = StreamRunner.changeLog(spark, cfg, t)
      .select("lsn").collect().map(_.getLong(0)).sorted.toSeq
    assert(lsns("users") === Seq(1L, 3L))
    assert(lsns("audit") === Seq(2L, 4L))
    assert(StreamRunner.readFinal(spark, cfg, "users")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "b")))
  }

  test("crash mid-route: a table that already landed the batch replays into a no-op") {
    val in = Files.createTempDirectory("graft_midcrash_in")
    val out = Files.createTempDirectory("graft_midcrash_out").toString
    val cfg = StreamRunner.RunnerConfig(
      inputDir = in.toString,
      outputDir = out,
      checkpointDir = Files.createTempDirectory("graft_midcrash_ckpt").toString,
      tables = Seq(
        StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
          ChangeRelation.testRow),
        StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
          ChangeRelation.testRow)))
    val lines = Seq(j(1, "I", "users", 1, "a"), j(2, "I", "audit", 100, "log-1"))
    writeFeed(in, "wal_000.json", lines)

    // simulate the crash window inside routeBatch: users landed micro-batch
    // 0, audit did NOT, and the checkpoint never committed the offset — so
    // a restart redelivers batch 0 to BOTH tables
    import org.apache.spark.sql.Encoders
    val raw = spark.createDataset(lines)(Encoders.STRING).toDF("value")
    val usersTyped = ChangeFeed.typed(
      ChangeFeed.fromJsonLinesRaw(raw)
        .filter(org.apache.spark.sql.functions.col("table") === "users"),
      ChangeRelation.testRow)
    assert(new BufferedSink(s"$out/users").writeBatch(usersTyped, 0))

    val queries = StreamRunner.run(spark, cfg)
    try queries.foreach(_.processAllAvailable()) finally queries.foreach(_.stop())

    // users replayed into a no-op (1 row, not 2); audit landed normally
    assert(StreamRunner.changeLog(spark, cfg, "users").count() === 1L)
    assert(StreamRunner.changeLog(spark, cfg, "audit").count() === 1L)
    assert(new BufferedSink(s"$out/users").committedBatches() === Set(0L))
  }

  /** Landed `(lsn, __row_id)` pairs of one table, in LSN order. */
  private def landedIds(out: String, table: String): Seq[(Long, Long)] =
    new BufferedSink(s"$out/$table").readCommitted(spark)
      .select("lsn", "__row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("stamp once: routed row ids are batch-major, LSN-ordered per table, and replay-stable") {
    val tables = Seq(
      StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
        ChangeRelation.testRow),
      StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
        ChangeRelation.testRow))
    def cfgFor(tag: String) = StreamRunner.RunnerConfig(
      inputDir = Files.createTempDirectory(s"graft_stamp1_${tag}_in").toString,
      outputDir = Files.createTempDirectory(s"graft_stamp1_${tag}_out").toString,
      checkpointDir = Files.createTempDirectory(s"graft_stamp1_${tag}_ckpt").toString,
      tables = tables)
    val batch0 = Seq(
      j(1, "I", "users", 1, "a"), j(2, "I", "audit", 100, "log-1"),
      j(3, "I", "users", 2, "b"), j(4, "I", "audit", 101, "log-2"))
    val batch1 = Seq(
      j(5, "U", "users", 1, "c"), j(6, "I", "audit", 102, "log-3"),
      j(7, "D", "users", 2, ""), j(8, "I", "audit", 103, "log-4"),
      j(9, "I", "users", 3, "d"))
    def onePass(cfg: StreamRunner.RunnerConfig): Unit = {
      val qs = StreamRunner.run(spark, cfg)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    def finalOf(cfg: StreamRunner.RunnerConfig, t: String) =
      StreamRunner.readFinal(spark, cfg, t).collect().map(_.toString).sorted.toSeq

    // uninterrupted: micro-batch 0, then micro-batch 1
    val clean = cfgFor("clean")
    writeFeed(Paths.get(clean.inputDir), "wal_000.json", batch0)
    onePass(clean)
    writeFeed(Paths.get(clean.inputDir), "wal_001.json", batch1)
    onePass(clean)
    val batchOf = (batch0.indices.map(i => (i + 1L) -> 0L) ++
      batch1.indices.map(i => (batch0.size + i + 1L) -> 1L)).toMap
    Seq("users", "audit").foreach { t =>
      val ids = landedIds(clean.outputDir, t)
      assert(ids.nonEmpty)
      assert(ids.map(_._2).sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
        s"$t: ids must strictly increase in LSN order: $ids")
      ids.foreach { case (lsn, id) =>
        assert((id >>> 32) === batchOf(lsn), s"$t: lsn $lsn carries id $id")
      }
    }

    // crashed: micro-batch 1 fails mid-route — users has landed, audit's
    // staging area is blocked — and the restart replays it
    val crashed = cfgFor("crashed")
    writeFeed(Paths.get(crashed.inputDir), "wal_000.json", batch0)
    onePass(crashed)
    writeFeed(Paths.get(crashed.inputDir), "wal_001.json", batch1)
    val blocker = Paths.get(crashed.outputDir, "audit", "_staging")
    Files.deleteIfExists(blocker) // the dir batch 0's landing left behind
    Files.writeString(blocker, "not a directory")
    intercept[Exception](onePass(crashed))
    assert(new BufferedSink(s"${crashed.outputDir}/users").committedBatches() === Set(0L, 1L))
    assert(new BufferedSink(s"${crashed.outputDir}/audit").committedBatches() === Set(0L))
    Files.delete(blocker)
    onePass(crashed)

    Seq("users", "audit").foreach { t =>
      assert(landedIds(crashed.outputDir, t) === landedIds(clean.outputDir, t),
        s"$t: the replayed batch must land the ids of an uninterrupted run")
      assert(finalOf(crashed, t) === finalOf(clean, t))
    }
  }

  /** `(queryId, batchId)` of every streaming micro-batch job `body` runs. */
  private def streamingJobs(body: => Unit): Seq[(String, String)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("graft.test.marker") != null)) marker.countDown()
        else p.foreach { props =>
          val q = props.getProperty("sql.streaming.queryId")
          val b = props.getProperty("streaming.sql.batchId")
          if (q != null && b != null) jobs.add((q, b))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job is seen, every
      // micro-batch job before it has been counted
      spark.sparkContext.setLocalProperty("graft.test.marker", "1")
      try spark.range(1).count() finally
        spark.sparkContext.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  test("job budget: each extra routed table costs only its landing write and its ClickHouse POST") {
    val b64 = java.util.Base64.getEncoder
    val names = Seq("t1", "t2", "t3")
    // every relation carries the same rows; a 1-table config decodes the
    // same feed and drops the other two relations' tuples
    val feed = names.zipWithIndex.flatMap { case (n, i) =>
      val rel = 50 + i
      val base = 10L * i
      Seq(
        PgOutput.encodeRelation(base, rel, n, Seq("k", "v", "amt")),
        PgOutput.encodeInsert(base + 1, rel, Seq("1", "a", "1.00")),
        PgOutput.encodeInsert(base + 2, rel, Seq("2", "b", null)),
        PgOutput.encodeUpdate(base + 3, rel, Seq("1", "a", "1.00"), Seq("1", "c", "2.00")),
        PgOutput.encodeDelete(base + 4, rel, Seq("2", "b", null)))
    }.map(b64.encodeToString)

    def jobsOfFirstBatch(tables: Seq[String]): (String, Int) = {
      val ch = new graft.sinks.StubCH
      try {
        val in = Files.createTempDirectory("graft_budget_in")
        val cfg = StreamRunner.RunnerConfig(
          inputDir = in.toString,
          outputDir = Files.createTempDirectory("graft_budget_out").toString,
          checkpointDir = Files.createTempDirectory("graft_budget_ckpt").toString,
          tables = tables.map(n => StreamRunner.TableConfig(n, "ReplacingMergeTree",
            Seq("k"), ChangeRelation.testRow)),
          feedFormat = "pgoutput",
          clickhouseUrl = Some(ch.endpoint))
        writeFeed(in, "wal_000.b64", feed)
        val qs = StreamRunner.run(spark, cfg)
        val id = try { qs.foreach(_.processAllAvailable()); qs.head.id.toString }
          finally qs.foreach(_.stop())
        tables.foreach(t => assert(StreamRunner.readFinal(spark, cfg, t).count() === 1L))
        (id, tables.size)
      } finally ch.stop()
    }

    var runs: ((String, Int), (String, Int)) = null
    val jobs = streamingJobs {
      runs = (jobsOfFirstBatch(names.take(1)), jobsOfFirstBatch(names))
    }
    val (one, three) = runs
    def count(run: (String, Int)): Int =
      jobs.count { case (q, b) => q == run._1 && b == "0" }
    val (j1, j3) = (count(one), count(three))
    info(s"micro-batch jobs: 1 table $j1, 3 tables $j3")
    // observed (local[4], 4 shuffle partitions, AQE on): 9 jobs for 1
    // table, 13 for 3. Paid once per micro-batch: the frames parse that
    // collects the R definitions (1), the relation-cache write (1), the
    // stamp's range sample, shuffle and counts (3) and the truncate
    // aggregate (2); per table: the landing write and the POST (2 each)
    assert(j1 > 0 && j3 > 0, s"no micro-batch jobs seen: 1 table $j1, 3 tables $j3")
    assert(j3 - j1 <= 2 * 2,
      s"each extra table may add 2 jobs (write + POST): 1 table $j1, 3 tables $j3")
  }

  test("replay of a batch every layer already holds runs no jobs") {
    val ch = new graft.sinks.StubCH
    try {
      val in = Files.createTempDirectory("graft_replay_in")
      val cfg = StreamRunner.RunnerConfig(
        inputDir = in.toString,
        outputDir = Files.createTempDirectory("graft_replay_out").toString,
        checkpointDir = Files.createTempDirectory("graft_replay_ckpt").toString,
        tables = Seq(
          StreamRunner.TableConfig("users", "ReplacingMergeTree", Seq("k"),
            ChangeRelation.testRow),
          StreamRunner.TableConfig("audit", "MergeTree", Seq("k"),
            ChangeRelation.testRow)),
        clickhouseUrl = Some(ch.endpoint))
      def onePass(): String = {
        val qs = StreamRunner.run(spark, cfg)
        try { qs.foreach(_.processAllAvailable()); qs.head.id.toString }
        finally qs.foreach(_.stop())
      }
      writeFeed(in, "wal_000.json", Seq(
        j(1, "I", "users", 1, "a"), j(2, "I", "audit", 100, "log-1")))
      onePass()
      // the crash window after the last POST but before the checkpoint
      // commit: the restart redelivers micro-batch 0
      val commits = Paths.get(cfg.checkpointDir, "_routed", "commits")
      Files.delete(commits.resolve("0"))
      Files.deleteIfExists(commits.resolve(".0.crc"))
      var id: String = null
      val jobs = streamingJobs { id = onePass() }
      assert(Files.exists(commits.resolve("0")), "the restart must re-run micro-batch 0")
      assert(jobs.count { case (q, b) => q == id && b == "0" } === 0,
        s"the replayed micro-batch ran jobs: $jobs")
      assert(StreamRunner.changeLog(spark, cfg, "users").count() === 1L)
      assert(StreamRunner.changeLog(spark, cfg, "audit").count() === 1L)
      assert(ch.lines("audit").size === 1)
    } finally ch.stop()
  }
}
