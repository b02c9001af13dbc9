package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, StandardCopyOption}

/** Driver-visible streaming sweep: every
  * StreamTwins twin runs through a REAL file-source micro-batch
  * StreamingQuery — the driver's events table chunked into sequential
  * file arrivals (one `processAllAvailable` per drop, so per-key state
  * genuinely crosses micro-batch boundaries), plus a derived CDC-change
  * feed for the MergeTree twins and the documents table for streaming
  * dedup — and its emissions are compared against the declared batch
  * query each twin mirrors (the same equivalences StreamTwinsSpec
  * pins, re-run as a driver-readable artifact).
  *
  * Usage: `runMain graft.StreamBench [sfDir] [outPath]` — prints one
  * `[streambench]`-tagged JSON line and writes it to outPath.
  */
object StreamBench {

  /** core.t()'s ts normalization for a stream: raw-nanos Long → µs
    * timestamp; NTZ → LTZ re-tag (session is UTC); LTZ passes through.
    */
  private def normalize(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Land a staged part in a WATCHED directory atomically: copy to a
    * dot-prefixed temp name (Spark's file listing ignores hidden files)
    * and rename into place — same directory, so the move is atomic. A
    * plain Files.copy raced the always-on micro-batch poll at 100×
    * (45 MB per chunk): the source listed the half-written file and the
    * query died with FAILED_READ_FILE, a scale-revealed harness bug.
    */
  private def arrive(src: Path, dir: Path, name: String): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** `body` over fresh temp directories, one per prefix, each deleted
    * with everything in it once `body` ends: the watched, chunk,
    * checkpoint and output dirs of a sweep hold copies of the input
    * tables, so leaving them behind grows the temp dir with every run.
    */
  private def withTempDirs[T](prefixes: String*)(body: Seq[Path] => T): T = {
    val dirs = prefixes.map(Files.createTempDirectory(_))
    try body(dirs) finally dirs.foreach(deleteTree)
  }

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  /** Stage `df` as ONE parquet file at `dest` (a future feed arrival). */
  private def stageOne(df: DataFrame, dest: Path): Unit =
    withTempDirs("graft_sb_chunk") { case Seq(tmp) =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Per-twin streaming-state size: total rows across
    * the final micro-batch's state operators — the number that must stay
    * O(live keys), not O(events), for watermark eviction to be real.
    * Keyed by the runTwin/restartTwin name; −1 marks "no progress seen".
    */
  private val stateRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  /** Final event-time watermark (epoch seconds) per twin — lets append-
    * mode legs compute the batch side's closed-by-watermark subset. */
  private val lastWatermark = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def recordState(name: String,
                          q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val p = q.lastProgress
    stateRows(name) =
      if (p == null) -1L else p.stateOperators.map(_.numRowsTotal).sum
    if (p != null) Option(p.eventTime.get("watermark")).foreach { w =>
      lastWatermark(name) = java.time.Instant.parse(w).getEpochSecond
    }
  }

  /** Drive one twin: its query over a fresh watched directory, wired
    * to its sink by `sink`, gets the staged files one at a time (a real
    * micro-batch per arrival); its state is recorded before it stops.
    */
  private def arrivals(spark: SparkSession, parts: Seq[Path], schema: StructType, name: String)
                      (build: DataFrame => DataFrame)
                      (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withTempDirs(s"graft_sb_$name") { case Seq(dir) =>
      val q = sink(build(spark.readStream.schema(schema).parquet(dir.toString)).writeStream).start()
      try {
        parts.zipWithIndex.foreach { case (p, i) =>
          arrive(p, dir, f"arrival_$i%03d.parquet")
          q.processAllAvailable()
        }
        recordState(name, q)
      } finally q.stop()
    }

  /** Run one twin through [[arrivals]] and collect the memory sink's rows. */
  private def runTwin(spark: SparkSession, parts: Seq[Path], schema: StructType,
                      name: String, mode: String)
                     (build: DataFrame => DataFrame): Array[Row] = {
    arrivals(spark, parts, schema, name)(build)(
      _.format("memory").queryName(s"sb_$name").outputMode(mode))
    spark.table(s"sb_$name").collect()
  }

  /** Order-insensitive engine-side digest of a relation: row count plus
    * an exact DECIMAL(38,0) sum of a 60-bit xxhash of `cols` — equal
    * digests ⟺ equal multisets (whp), computed WITHOUT materializing a
    * single row on the driver. The decimal sum cannot overflow below
    * ~10²⁰ rows and is ANSI-safe; both comparands run in THIS session,
    * so xxhash64 portability is not needed (unlike the DuckDB oracles'
    * md5 trick).
    */
  private def digestCols(cols: Seq[String]): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).cast("long").as("c"),
    coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(1L << 60))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
      lit(java.math.BigDecimal.ZERO)).as("h"))

  private def digestOf(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val d = digestCols(cols)
    val r = df.agg(d.head, d.tail: _*).head
    (r.getLong(0), r.getDecimal(1))
  }

  /** Bounded-driver COMPLETE-mode twin: each trigger re-emits the full
    * result table, so only the LAST trigger matters — apply an
    * engine-side `reduce` per trigger and keep the latest batch's rows
    * (the memory sink instead held the whole 9.5M-row session table on
    * the driver — the second 100× heap breaker beside scd2).
    */
  private def runTwinComplete(spark: SparkSession, parts: Seq[Path], schema: StructType,
                              name: String)
                             (build: DataFrame => DataFrame)
                             (reduce: DataFrame => Array[Row]): Array[Row] = {
    val last = new java.util.concurrent.atomic.AtomicReference[(Long, Array[Row])](
      (-1L, Array.empty[Row]))
    arrivals(spark, parts, schema, name)(build)(_.outputMode("complete")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val r = reduce(df)
        last.updateAndGet(cur => if (id >= cur._1) (id, r) else cur); ()
      })
    last.get()._2
  }

  /** Bounded-driver GROUPED twin: folds each micro-batch into per-group
    * counts in the engine (one ≤|groups|-row aggregate crosses to the
    * driver per micro-batch, batch-id-keyed for replay idempotence) —
    * for twins whose emissions are O(events) but whose comparison is a
    * small count map (transition_pairs OOM'd the default heap at 100×
    * collecting 9.85M pair rows through the memory sink).
    */
  private def runTwinGrouped(spark: SparkSession, parts: Seq[Path], schema: StructType,
                             name: String, mode: String, groupCols: Seq[String])
                            (build: DataFrame => DataFrame): Map[Seq[Any], Long] = {
    // the cross-batch summation below is only correct when each trigger
    // emits NEW rows exactly once; complete/update modes re-emit rows
    // across triggers and would double-count (runTwinComplete covers
    // the complete case)
    require(mode == "append",
      s"runTwinGrouped sums across triggers — '$mode' would double-count")
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, Map[Seq[Any], Long]]()
    arrivals(spark, parts, schema, name)(build)(_.outputMode(mode)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val m = df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).cast("long").as("c"))
          .collect()
          .map(r => (groupCols.indices.map(r.get).toList: Seq[Any]) -> r.getLong(groupCols.length))
          .toMap
        acc.put(id, m); ()
      })
    import scala.jdk.CollectionConverters._
    acc.values.asScala.foldLeft(Map.empty[Seq[Any], Long]) { (z, m) =>
      m.foldLeft(z) { case (z2, (k, v)) => z2.updated(k, z2.getOrElse(k, 0L) + v) }
    }
  }

  /** Like [[runTwin]] but BOUNDED-DRIVER: instead of a
    * memory sink that collects every emitted row (the scd2 twin's
    * full interval table — 10M rows at 100×, the reason the streaming
    * sweep needed a 24 GB driver heap), the sink folds each micro-batch
    * into the count+checksum digest, batch-id-keyed so a replayed batch
    * lands on top of itself (the BufferedSink idempotence discipline).
    * One aggregate row crosses to the driver per micro-batch.
    */
  private def runTwinDigest(spark: SparkSession, parts: Seq[Path], schema: StructType,
                            name: String, mode: String, cols: Seq[String])
                           (build: DataFrame => DataFrame): (Long, java.math.BigDecimal) = {
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, (Long, java.math.BigDecimal)]()
    arrivals(spark, parts, schema, name)(build)(_.outputMode(mode)
      .foreachBatch { (df: DataFrame, id: Long) => acc.put(id, digestOf(df, cols)); () })
    import scala.jdk.CollectionConverters._
    acc.values.asScala.foldLeft((0L, java.math.BigDecimal.ZERO)) {
      case ((c, h), (c2, h2)) => (c + c2, h.add(h2))
    }
  }

  /** Crash-recovery run: the twin processes the first
    * arrival, the query is STOPPED, `downArrivals` further files land
    * while it is down, then a NEW query resumes from the same
    * checkpoint and processes everything else. The sink is foreachBatch
    * → batch-id-keyed parquet overwrite (the BufferedSink idempotence
    * discipline — a replayed batch lands on top of itself), so the
    * collected output is exactly the stream's emissions across both
    * incarnations; per-key state (mapGroupsWithState / watermark aggs)
    * must come back from the checkpoint or the assertions diverge.
    * Returns rows with a trailing `batch` partition column (the
    * emitting micro-batch id).
    */
  private def restartTwin(spark: SparkSession, parts: Seq[Path], schema: StructType,
                          name: String, mode: String, downArrivals: Int)
                         (build: DataFrame => DataFrame): Array[Row] =
    withTempDirs(s"graft_sbr_$name", s"graft_sbr_ck_$name", s"graft_sbr_out_$name") {
      case Seq(dir, ckptDir, outDir) =>
        val (ckpt, out) = (ckptDir.toString, outDir.toString)
        def start() = build(spark.readStream.schema(schema).parquet(dir.toString))
          .writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, id: Long) =>
            df.write.mode("overwrite").parquet(s"$out/batch=$id")
          }
          .start()
        var arrived = 0
        def drop(n: Int, q: Option[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
          parts.slice(arrived, arrived + n).foreach { p =>
            arrive(p, dir, f"arrival_$arrived%03d.parquet")
            arrived += 1
            q.foreach(_.processAllAvailable())
          }
        val q1 = start()
        drop(1, Some(q1))
        q1.stop() // the "crash": state survives only in the checkpoint
        drop(downArrivals, None) // the feed keeps moving while we are down
        val q2 = start()
        q2.processAllAvailable() // catch up on what landed during the outage
        drop(parts.size - arrived, Some(q2))
        recordState(name, q2)
        q2.stop()
        spark.read.option("basePath", out).parquet(out).collect()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "STREAMBENCH.json"
    val spark = Bench.session(sfDir)
    import graft.streaming.{ChangeRelation, StreamTwins}

    def batch(key: String): Array[Row] = {
      val rows = Registry.all.toMap.apply(key).fn(spark, sfDir).collect()
      graft.core.releaseQueryCaches(spark)
      rows
    }

    // ---- staged feeds ------------------------------------------------
    // events: 3 chunks split on event-TIME terciles — arrivals must stay
    // event-time-ordered across micro-batches, the contract every
    // watermarked twin documents (late data is exercised separately and
    // deliberately, via the sentinel). On the base testdata event_id is
    // ts-monotone, so this equals the old id-tercile split; on a
    // ScaleGen twin it does NOT — every key-shifted copy replays the
    // base ts range, so an id split hands the watermark operators
    // arbitrarily late replays of whole copies. A 10× run measured
    // exactly that: the four watermark twins (session,
    // interval_join, dedup_counts, hourly_topk) diverged under the id
    // split — a harness-contract bug, not an engine one. The CDC change
    // feeds below keep their LSN (event_id) split: a replication log
    // arrives in LSN order by definition, whatever the event times say.
    val stage = Files.createTempDirectory("graft_sb_stage")
    val raw = graft.core.t(spark, sfDir, "events")
    val rawN = normalize(raw)
    val maxId = raw.agg(max("event_id")).head.getLong(0)
    val cuts = Seq(maxId / 3, 2 * maxId / 3)
    val tsCuts = rawN.agg(expr(
      "percentile(cast(unix_micros(ts) as double), array(0.3333, 0.6667))"))
      .head.getSeq[Double](0)
    val tsv = unix_micros(col("ts")).cast("double")
    val evParts = Seq(
      rawN.filter(tsv <= tsCuts(0)),
      rawN.filter(tsv > tsCuts(0) && tsv <= tsCuts(1)),
      rawN.filter(tsv > tsCuts(1))
    ).zipWithIndex.map { case (df, i) =>
      val p = stage.resolve(s"events_$i.parquet"); stageOne(df, p); p
    }
    // watermark sentinel: the max-ts row pushed 4 h forward — flushes
    // every real hour through the 2 h watermarks (the spec's pattern)
    val sentinel = rawN.orderBy(col("ts").desc).limit(1).select(rawN.columns.map {
      case "event_id" => lit(-1L).as("event_id")
      case "ts" => (col("ts") + expr("INTERVAL 4 HOURS")).as("ts")
      case "user_id" => lit(999999L).as("user_id")
      case "event_type" => lit("view").as("event_type")
      case c => col(c)
    }: _*)
    val sentPart = stage.resolve("events_sentinel.parquet")
    stageOne(sentinel, sentPart)
    val evSchema = spark.read.parquet(evParts.head.toString).schema
    val sentHour = 3600L * (normalize(spark.read.parquet(sentPart.toString))
      .select(unix_timestamp(col("ts"))).head.getLong(0) / 3600L)
    // CDC change feeds derived from events (event_id = LSN, exactly the
    // batch queries' reading of the table): replacing = all inserts of
    // (k=user_id, v=event_type); collapsing = signup→insert, error→delete
    // of the same (k, 's') row — cdc_collapsing_net's signed expansion.
    val nullRow = lit(null).cast(ChangeRelation.testRow)
    def chRow(k: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      struct(k.as("k"), v.as("v"), lit(null).cast("decimal(12,2)").as("amt"))
    val repCh = raw.select(col("event_id").as("lsn"), lit("I").as("op"),
      lit("events").as("table"), nullRow.as("before"),
      chRow(col("user_id"), col("event_type")).as("after"))
    val colCh = raw.filter(col("event_type").isin("signup", "error"))
      .select(col("event_id").as("lsn"),
        when(col("event_type") === "signup", "I").otherwise("D").as("op"),
        lit("events").as("table"),
        when(col("event_type") === "error", chRow(col("user_id"), lit("s")))
          .otherwise(nullRow).as("before"),
        when(col("event_type") === "signup", chRow(col("user_id"), lit("s")))
          .otherwise(nullRow).as("after"))
    def chParts(ch: DataFrame, tag: String): Seq[Path] =
      Seq(ch.filter(col("lsn") <= cuts(0)),
        ch.filter(col("lsn") > cuts(0) && col("lsn") <= cuts(1)),
        ch.filter(col("lsn") > cuts(1))
      ).zipWithIndex.map { case (df, i) =>
        val p = stage.resolve(s"${tag}_$i.parquet"); stageOne(df, p); p
      }
    val repParts = chParts(repCh, "rep")
    val colParts = chParts(colCh, "col")
    val chSchema = spark.read.parquet(repParts.head.toString).schema
    // documents + a constant ts (all in one watermark horizon): streaming
    // exact dedup across the two chunk boundaries
    val docs = graft.core.t(spark, sfDir, "documents")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0)
    val docParts = Seq(docs.filter(col("doc_id") <= maxDoc / 2),
      docs.filter(col("doc_id") > maxDoc / 2)
    ).zipWithIndex.map { case (df, i) =>
      val p = stage.resolve(s"docs_$i.parquet"); stageOne(df, p); p
    }
    val docSchema = spark.read.parquet(docParts.head.toString).schema

    def events(name: String, mode: String, sent: Boolean = false)
              (build: DataFrame => DataFrame): Array[Row] =
      runTwin(spark, if (sent) evParts :+ sentPart else evParts, evSchema,
        name, mode)(s => build(normalize(s)))

    // ---- twin cases --------------------------------------------------
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, String, Double)]
    def run(name: String)(body: => Either[String, String]): Unit = {
      val t0 = System.nanoTime()
      val r = try body catch { case e: Throwable => Left(s"exception: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      results(name) = (r.isRight, r.fold(identity, identity), sec)
      println(f"[streambench] $name%-22s ${if (r.isRight) "MATCH" else "DIVERGE"}%-8s $sec%6.1fs ${r.fold(identity, identity)}")
      graft.core.releaseQueryCaches(spark)
    }

    run("tumbling") {
      val s = events("tumbling", "complete")(StreamTwins.tumblingCounts(_))
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val b = batch("stream_tumbling_window")
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      if (s == b) Right(s"windows=${b.size}") else Left(s"maps differ: ${s.size} vs ${b.size}")
    }

    run("session") {
      // engine-side per-user digest of the complete-mode session table:
      // the comparison needs per-user session
      // counts + the conservation total, never the 9.5M session rows
      val rows = runTwinComplete(spark, evParts, evSchema, "session")(
        s => StreamTwins.sessionCounts(normalize(s))) { df =>
        val c = df.columns
        df.groupBy(col(c(0))).agg(count(lit(1)).cast("long").as("sessions"),
          coalesce(sum(col(c(2))), lit(0L)).cast("long").as("events")).collect()
      }
      val s = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = batch("stream_session_window").map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = rows.map(_.getLong(2)).sum
      val n = graft.core.t(spark, sfDir, "events").count()
      if (s != b) Left(s"session counts differ")
      else if (total != n) Left(s"sessions do not partition events: $total != $n")
      else Right(s"users=${b.size} events=$n")
    }

    run("session_append") {
      // BOUNDED-STATE session leg: the complete-mode
      // twin above must hold every session ever seen (a harness
      // necessity — complete mode is what lets the memory sink equal
      // the batch query), so its state is O(all sessions). This leg
      // runs the SAME session_window aggregate in APPEND mode: the
      // watermark closes sessions as event time advances, closed
      // sessions are emitted and EVICTED, and final state holds only
      // the sessions still open inside the last watermark+gap horizon —
      // O(open sessions) ≈ O(active users). Emissions are checked
      // exactly against the batch inventory's closed-by-watermark
      // subset (either boundary convention accepted: end ≤ W / end < W).
      // Both sides reduce to (count, checksum) digests in the engine —
      // a set comparison would hold 9.5M closed-session tuples on the
      // driver at 100×.
      val cols = Seq("user_id", "start_s", "cnt")
      val (sc2, sh2) = runTwinDigest(spark, evParts, evSchema,
        "session_append", "append", cols) { s =>
        val d = StreamTwins.sessionCounts(normalize(s))
        val c = d.columns
        d.select(col(c(0)).cast("long").as("user_id"),
          unix_timestamp(col(c(1))).as("start_s"), col(c(2)).cast("long").as("cnt"))
      }
      // batch session inventory: the declared lag-flag arithmetic plus a
      // running session id, one row per (user, session) with start/end —
      // NEVER collected; filtered and digested engine-side
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sess = normalize(graft.core.t(spark, sfDir, "events"))
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("gap_s", col("es") - lag(col("es"), 1).over(w))
        .withColumn("flag",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
        .withColumn("sid", sum(col("flag")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("es")).as("start_s"),
          (max(col("es")) + lit(1800L)).as("end"), count(lit(1)).cast("long").as("cnt"))
        .select("user_id", "start_s", "end", "cnt")
      val sessP = graft.core.scopedPersist(sess)
      val wm = lastWatermark.getOrElse("session_append", Long.MinValue)
      def closedDigest(strict: Boolean) = digestOf(
        sessP.filter(if (strict) col("end") < wm else col("end") <= wm), cols)
      val (cLE, hLE) = closedDigest(strict = false)
      val (cLT, hLT) = closedDigest(strict = true)
      val totalSessions = sessP.count()
      val users = sessP.select("user_id").distinct().count()
      val open = totalSessions - sc2
      val st = stateRows.getOrElse("session_append", -1L)
      if (!((sc2 == cLE && sh2.compareTo(hLE) == 0) ||
            (sc2 == cLT && sh2.compareTo(hLT) == 0)))
        Left(s"closed-session digests differ: emitted=$sc2 " +
          s"closedLE=$cLE closedLT=$cLT wm=$wm")
      else if (st < 0 || st > 4 * users)
        Left(s"session state not bounded by active users: state_rows=$st users=$users")
      else Right(s"closed=$sc2 open=$open of=$totalSessions state_rows=$st users=$users")
    }

    run("interval_join") {
      // the batch twin DECLARES an ordered LIMIT 500 while the stream
      // emits the full join, so compare the stream's (p_id, v_id)-ordered
      // 500-prefix against the batch rows — identical to the old whole-set
      // compare whenever total pairs ≤ 500 (the base corpus), and correct
      // at scale where the declared limit truncates (a 10× run emits
      // 7140 stream pairs against the batch's 500; the stream's prefix
      // matches throughout)
      val sAll = events("ivj", "append")(StreamTwins.intervalJoinStream(_))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val s = sAll.sortBy(t => (t._1, t._2)).take(500).toSet
      val b = batch("stream_interval_join")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      if (b.isEmpty) Left("batch join empty — fixture not exercised")
      else if (sAll.length < b.size) Left(s"stream lost pairs: ${sAll.length} < ${b.size}")
      else if (s == b) Right(s"pairs=${b.size} stream_total=${sAll.length}")
      else Left(s"ordered 500-prefixes differ: stream=${s.size} batch=${b.size}")
    }

    run("ontime_counts") {
      // in-order replay: nothing is late, so the watermarked agg must
      // conserve every row (stream_late_data's complement)
      val total = events("ontime", "complete")(StreamTwins.onTimeCounts(_))
        .map(_.getLong(1)).sum
      val n = graft.core.t(spark, sfDir, "events").count()
      if (total == n) Right(s"rows=$n conserved") else Left(s"lost rows: $total != $n")
    }

    run("scd2") {
      // ENGINE-SIDE comparison: collecting the stream's full
      // closed-interval table through the memory sink would hold 10M
      // rows at 100× (a 24g driver). Both sides now reduce to a
      // (count, 60-bit-hash-sum) digest in the engine: equal digests ⟺
      // the emitted multiset EQUALS the batch inventory's closed
      // (valid_to IS NOT NULL) subset — full-set equality, STRONGER
      // than the old 500-row-subset + open-leak probe (a leaked open
      // interval or any extra/missing row flips the count or the sum).
      val cols = Seq("user_id", "valid_from", "valid_to", "event_type", "value_r")
      val (sc, sh) = runTwinDigest(spark, evParts, evSchema, "scd2", "append", cols)(
        s => StreamTwins.scd2HistoryStream(normalize(s)))
      // full batch inventory (the declared key carries a LIMIT 500 —
      // build the unlimited relation inline, same lead() arithmetic)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val inv = normalize(graft.core.t(spark, sfDir, "events"))
        .select(col("user_id"), col("event_id").as("valid_from"),
          lead(col("event_id"), 1).over(w).as("valid_to"),
          col("event_type"), graft.core.pround(col("value"), 2).as("value_r"))
      val (bc, bh) = digestOf(inv.filter(col("valid_to").isNotNull), cols)
      val users = inv.filter(col("valid_to").isNull).count()
      val st = stateRows.getOrElse("scd2", -1L)
      if (bc == 0L) Left("no closed intervals")
      else if (sc != bc) Left(s"closed-interval counts differ: stream=$sc batch=$bc")
      else if (sh.compareTo(bh) != 0) Left("closed-interval checksums diverge")
      else if (st < 0 || st > users) Left(s"state not O(users): $st > $users")
      else Right(s"closed=$bc open=$users state_rows=$st")
    }

    run("asof_tolerance") {
      def toMap(rows: Array[Row]) = rows.map(r =>
        r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val s = toMap(events("asof", "append")(StreamTwins.asofToleranceStream(_)))
      val b = toMap(batch("join_asof_tolerance"))
      if (b.isEmpty) Left("batch empty")
      else if (!b.forall { case (id, lv) => s.get(id).contains(lv) }) Left("as-of matches diverge")
      else Right(s"purchases=${b.size}")
    }

    run("streaks") {
      val s = events("streak", "append")(StreamTwins.streakStream(_))
        .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val b = batch("win_gaps_islands").map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every user ends with exactly one open streak in state
      if (b.isEmpty) Left("batch empty")
      else if (!b.forall { case (u, n) => s.getOrElse(u, 0L) == n - 1 })
        Left("closed-streak counts diverge from n_streaks - 1")
      else Right(s"users=${b.size}")
    }

    run("summing_rollup") {
      val s = events("summing", "update")(StreamTwins.summingRollupStream(_))
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      val b = batch("cdc_summing_rollup")
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      if (b.isEmpty) Left("batch empty")
      else if (!b.forall { case (k, v) => s.get(k).contains(v) }) Left("merged state diverges")
      else if (s.filter(_._2._1 != 0.0).keySet != b.keySet) Left("non-zero key sets differ")
      else Right(s"keys=${b.size}")
    }

    run("nearest_view") {
      def toMap(rows: Array[Row]) = rows.map(r =>
        r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val s = toMap(events("nearest", "append")(StreamTwins.nearestViewStream(_)))
      val b = toMap(batch("join_asof_nearest"))
      if (s.isEmpty || b.isEmpty) Left("empty side")
      else if (!s.forall { case (id, nv) => b.get(id).forall(_ == nv) }) Left("a decision diverges")
      else Right(s"decided=${s.size} batch=${b.size}")
    }

    run("window_funnel") {
      val maxLevel = events("funnel", "append")(StreamTwins.windowFunnelStream(_))
        .map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val allUsers = graft.core.t(spark, sfDir, "events")
        .select("user_id").distinct().collect().map(_.getLong(0)).toSet
      val sHist = allUsers.toSeq.map(u => maxLevel.getOrElse(u, 0L))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bHist = batch("agg_window_funnel").map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (sHist == bHist) Right(s"levels=${bHist.size}") else Left("level histograms differ")
    }

    run("sequence_match") {
      val emitted = events("seq", "append")(StreamTwins.sequenceMatchStream(_))
        .map(r => (r.getLong(0), r.getInt(2)))
      val anyU = emitted.filter(_._2 == 1).map(_._1).distinct.length.toLong
      val adjU = emitted.filter(_._2 == 2).map(_._1).distinct.length.toLong
      val b = batch("agg_sequence_match").head
      if (anyU == b.getLong(1) && adjU == b.getLong(2)) Right(s"any=$anyU adj=$adjU")
      else Left(s"any $anyU vs ${b.getLong(1)}, adj $adjU vs ${b.getLong(2)}")
    }

    run("graphite_rollup") {
      // converged state = last emission per raw key; retier in plain
      // Scala (the batch query's stage-2 over the final partials)
      val rawS = events("graphite", "update")(StreamTwins.graphiteRawStream(_))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
          (r.getLong(4), r.getLong(5))).toMap
      val maxd = rawS.keys.map(_._2).max
      val s = rawS.toSeq.map { case ((et, day, h, sec), (pc, cents)) =>
        val tier = if (maxd - day < 1) "raw" else if (maxd - day < 7) "hourly" else "daily"
        val bucket = tier match {
          case "raw" => sec; case "hourly" => day * 24 + h; case _ => day
        }
        (et, tier, bucket) -> (pc, cents)
      }.groupBy(_._1).view.mapValues { vs =>
        (vs.map(_._2._1).sum, vs.map(_._2._2).sum / 100.0)
      }.toMap
      val b = batch("cdc_graphite_rollup")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
          (r.getLong(3), r.getDouble(4))).toMap
      if (s == b) Right(s"buckets=${b.size}") else Left(s"retier differs: ${s.size} vs ${b.size}")
    }

    run("dedup_counts") {
      val s = events("dedupc", "append", sent = true)(StreamTwins.dedupCountsStream(_))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = batch("stream_dedup_watermark").map(r => r.getLong(0) -> r.getLong(2)).toMap
      if (b.isEmpty) Left("batch empty")
      else if (s.view.filterKeys(b.contains).toMap != b) Left("deduped counts diverge")
      else if (!b.keySet.subsetOf(s.keySet)) Left(s"hours not flushed: ${b.keySet -- s.keySet}")
      else Right(s"hours=${b.size}")
    }

    run("hourly_topk") {
      val s = events("topk", "append", sent = true)(StreamTwins.hourlyTypeCounts(_))
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1).toSeq.flatMap { case (h, rows) =>
          rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
            .map { case ((_, tp, c), i) => (h, i + 1L, tp, c) }
        }.toSet
      val b = batch("stream_hourly_topk")
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val extra = (s -- b).map(_._1)
      if (b.isEmpty) Left("batch empty")
      else if (!b.subsetOf(s)) Left(s"missing ranks: ${(b -- s).size}")
      else if (!extra.forall(_ == sentHour)) Left(s"unexpected extra hours: $extra")
      else Right(s"ranked=${b.size}")
    }

    run("transition_pairs") {
      // engine-side per-(from,to) counts: the
      // stream emits O(events) pair rows — 9.85M at 100×, a harness
      // OOM through the memory sink — but the comparison is a ≤|types|²
      // count map, so fold each micro-batch to counts in the engine
      val s = runTwinGrouped(spark, evParts, evSchema, "trans", "append",
        Seq("from_t", "to_t"))(e => StreamTwins.transitionPairsStream(normalize(e)))
        .map { case (k, v) => (k.head.toString, k(1).toString) -> v }
      val b = batch("agg_transition_matrix")
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      if (s == b) Right(s"pairs=${b.size}") else Left("transition counts diverge")
    }

    run("replacing_latest") {
      // all-inserts change feed: final per-key state = max-LSN row
      val s = runTwin(spark, repParts, chSchema, "rep", "update")(
        StreamTwins.replacingLatestStream(_))
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val b = batch("cdc_replacing_latest").map(r => r.getLong(0) -> r.getString(1)).toMap
      if (s == b) Right(s"keys=${b.size}") else Left(s"final states differ: ${s.size} vs ${b.size}")
    }

    run("collapsing_net") {
      val s = runTwin(spark, colParts, chSchema, "col", "update")(
        StreamTwins.collapsingNetStream(_))
        .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
        .filter(_._2 != 0L)
      val b = batch("cdc_collapsing_net").map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (s == b) Right(s"keys=${b.size}") else Left(s"nets differ: ${s.size} vs ${b.size}")
    }

    run("doc_dedup") {
      val n = runTwin(spark, docParts, docSchema, "dedup", "append")(
        StreamTwins.dedupStream(_)).length.toLong
      val b = graft.core.t(spark, sfDir, "documents")
        .select(md5(col("text"))).distinct().count()
      if (n == b) Right(s"distinct=$b") else Left(s"survivors $n != distinct digests $b")
    }

    // ---- crash-recovery legs (restarted: true) -----------------------
    // same twins, but the query dies mid-feed and a new incarnation
    // resumes from the checkpoint — per-key state must come back or the
    // final results diverge from batch.

    run("replacing_restart") {
      val rows = restartTwin(spark, repParts, chSchema, "repr", "update",
        downArrivals = 1)(StreamTwins.replacingLatestStream(_))
      // final state per key = its emission from the LAST batch that
      // updated it (update-mode emissions accumulate across incarnations)
      val bi = rows.head.fieldIndex("batch")
      val s = rows.map(r => (r.getLong(0), r.getString(2),
          r.get(bi).asInstanceOf[Number].longValue))
        .groupBy(_._1).view.mapValues(v => v.maxBy(_._3)._2).toMap
      val b = batch("cdc_replacing_latest").map(r => r.getLong(0) -> r.getString(1)).toMap
      if (s == b) Right(s"keys=${b.size} restarted=true")
      else Left(s"final states differ after restart: ${s.size} vs ${b.size}")
    }

    run("funnel_restart") {
      val rows = restartTwin(spark, evParts, evSchema, "funr", "append",
        downArrivals = 1)(s => StreamTwins.windowFunnelStream(normalize(s)))
      val maxLevel = rows.map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val allUsers = graft.core.t(spark, sfDir, "events")
        .select("user_id").distinct().collect().map(_.getLong(0)).toSet
      val sHist = allUsers.toSeq.map(u => maxLevel.getOrElse(u, 0L))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bHist = batch("agg_window_funnel").map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (sHist == bHist) Right(s"levels=${bHist.size} restarted=true")
      else Left("level histograms differ after restart")
    }

    run("dedup_restart") {
      // a copy of the first quarter of the corpus (shifted ids, SAME
      // text) lands after the restart: only restored seen-digest state
      // can reject those cross-incarnation duplicates
      val dup = docs.filter(col("doc_id") <= maxDoc / 4)
        .withColumn("doc_id", col("doc_id") + lit(maxDoc + 1000L))
      val dupPart = stage.resolve("docs_dup.parquet")
      stageOne(dup, dupPart)
      val n = restartTwin(spark, docParts :+ dupPart, docSchema, "dedupr", "append",
        downArrivals = 1)(StreamTwins.dedupStream(_)).length.toLong
      val b = graft.core.t(spark, sfDir, "documents")
        .select(md5(col("text"))).distinct().count()
      if (n == b) Right(s"distinct=$b restarted=true")
      else Left(s"survivors $n != distinct digests $b after restart")
    }

    run("band_admit_restart") {
      // streaming INCREMENTAL NEAR-DEDUP with crash recovery — the
      // stream form of the declared dedup_band_admit: per micro-batch,
      // a doc is admitted iff none of its 4 LSH band keys is owned by
      // an earlier-arriving doc. State = band→owner parquet, batch-id-
      // keyed (a replayed batch lands on top of itself and reads only
      // STRICTLY earlier batches, so redelivery can't self-reject);
      // the query dies after the first chunk and a new incarnation
      // resumes from the checkpoint, then a full shifted-id COPY of
      // the first quarter arrives — only restored band state can
      // reject those cross-incarnation near-dups.
      import graft.operators.TextQueries.minhashBands
      val dup = docs.filter(col("doc_id") <= maxDoc / 4)
        .withColumn("doc_id", col("doc_id") + lit(maxDoc + 1000L))
      val dupPart = stage.resolve("docs_dup_bands.parquet")
      stageOne(dup, dupPart)
      val parts = docParts :+ dupPart
      withTempDirs("graft_sb_badm", "graft_sb_badm_ck", "graft_sb_badm_state",
        "graft_sb_badm_out") { case Seq(dir, ckptDir, stateDirP, outDirP) =>
        val (ckpt, stateDir, outDir) =
          (ckptDir.toString, stateDirP.toString, outDirP.toString)
        def start() = spark.readStream.schema(docSchema).parquet(dir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, id: Long) =>
            val bands = minhashBands(df.select(col("doc_id"), col("text")))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val batchOwners = bands.groupBy("k").agg(min(col("doc_id")).as("owner"))
            val prev = Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
              .filter(f => f.getName.startsWith("batch=") &&
                f.getName.stripPrefix("batch=").toLong < id)
            val prior =
              if (prev.isEmpty)
                spark.range(0).select(lit("").as("k"), col("id").as("owner"))
              else spark.read.parquet(prev.map(_.getPath): _*)
            val owners = batchOwners.unionByName(prior)
              .groupBy("k").agg(min(col("owner")).as("owner"))
            bands.join(owners, Seq("k"))
              .groupBy("doc_id")
              .agg(max(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("rej"))
              .filter(col("rej") === 0L).select("doc_id")
              .write.mode("overwrite").parquet(s"$outDir/batch=$id")
            batchOwners.write.mode("overwrite").parquet(s"$stateDir/batch=$id")
            bands.unpersist()
            ()
          }
          .start()
        val q1 = start()
        arrive(parts.head, dir, "arrival_000.parquet")
        q1.processAllAvailable()
        q1.stop() // the crash
        arrive(parts(1), dir, "arrival_001.parquet") // lands while down
        val q2 = start()
        q2.processAllAvailable()
        arrive(parts(2), dir, "arrival_002.parquet") // the near-dup copy
        q2.processAllAvailable()
        q2.stop()
        val got = spark.read.option("basePath", outDir).parquet(outDir)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        // batch truth over everything that was fed
        val full = spark.read.parquet(parts.map(_.toString): _*)
        val tb = minhashBands(full.select(col("doc_id"), col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val towners = tb.groupBy("k").agg(min(col("doc_id")).as("owner"))
        val truth = tb.join(towners, Seq("k"))
          .groupBy("doc_id")
          .agg(max(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("rej"))
          .filter(col("rej") === 0L)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        tb.unpersist()
        val dupAdmitted = got.count(_ > maxDoc + 1000L)
        if (got != truth)
          Left(s"admitted sets differ: stream=${got.size} batch=${truth.size} " +
            s"missing=${(truth -- got).size} extra=${(got -- truth).size}")
        else if (dupAdmitted != 0)
          Left(s"$dupAdmitted cross-incarnation near-dups admitted — state lost")
        else Right(s"admitted=${got.size} dups_rejected=${dup.count()} restarted=true")
      }
    }

    deleteTree(stage)

    // ---- artifact ----------------------------------------------------
    val ok = results.count(_._2._1)
    // full JSON string escape: exception messages (the detail of a
    // DIVERGE row) routinely carry newlines and backslashes — exactly
    // when the artifact must stay parseable
    def jEsc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val twinJson = results.map { case (n, (good, detail, sec)) =>
      s""""$n":{"ok":$good,"sec":${f"$sec%.2f"},"detail":"${jEsc(detail)}"}"""
    }.mkString("{", ",", "}")
    // final-batch state-store rows per streaming query (keyed by the
    // runTwin name; foreachBatch twins keep state outside the store and
    // report through their detail strings instead)
    val stateJson = stateRows.map { case (n, v) => s""""$n":$v""" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"stream_twin_matches","value":$ok,"total":${results.size},"sf":"$sfDir","state_rows":$stateJson,"twins":$twinJson}"""
    println(s"[streambench] $json")
    Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
    if (ok != results.size) sys.exit(1)
  }
}
