package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured Streaming twins of the `stream_*` batch queries
  * (SURVEY.md §5.2(4)): same event-time semantics, expressed with the
  * built-in streaming primitives. Each takes an unbounded `events`-shaped
  * DataFrame (from MemoryStream in tests, or `readStream` on a directory
  * in production) and returns a streaming DataFrame.
  *
  * The watermark plays the role of the reference's inactivity flush +
  * LSN ack: state for windows older than the watermark is finalized and
  * emitted, exactly like pg2ch's periodic buffer flush finalizes a batch
  * (SURVEY §3.4 mapping table).
  */
object StreamTwins {

  /** Self-normalizing event-time column, mirroring `core.t()`: the legacy
    * raw-nanos LongType `ts` (rounds ≤8 parquet shape) becomes a µs
    * timestamp via integer division — a bare `cast("timestamp")` would
    * interpret the long as SECONDS and silently wreck every window
    * comparison. TimestampNTZ / Timestamp pass through a plain cast.
    */
  private def normTs(c: org.apache.spark.sql.Column, df: DataFrame) =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        timestamp_micros(floor(c.cast("long") / 1000).cast("long"))
      case _ => c.cast("timestamp")
    }

  /** Tumbling 1h count per event_type ≡ stream_tumbling_window. */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("h"), col("event_type"), col("cnt"))

  /** 30-minute-gap sessions per user ≡ stream_session_window (built-in
    * session_window: a session closes when no event arrives within the
    * gap — identical to the batch lag()>30min flag arithmetic).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("events_in_session"))

  /** ReplacingMergeTree FINAL as TRUE streaming state (SURVEY §2.A7's
    * `flatMapGroupsWithState latest-state` mapping): per-key custom state
    * holds the highest-LSN version seen; every micro-batch emits the
    * key's current row (Update mode), with DELETE as a tombstone flag —
    * exactly the reference's continuously-maintained Replacing target.
    *
    * Input: a [[ChangeRelation]]-shaped stream over the fixture row
    * (`k`,`v`); state scales as O(live keys), partitioned by key hash —
    * the Spark-native form of pg2ch's per-table in-memory buffer merge.
    * Cross-key ops (truncate) stay on the foreachBatch path, where the
    * routed batch resolves every table's truncate frontier once and
    * drops pre-truncate rows by literal LSN ([[CdcApply.dropTruncated]]);
    * per-key state cannot see them.
    */
  def replacingLatestStream(changes: DataFrame): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      // enforce the documented precondition instead of assuming it: a 'T'
      // row has null k on BOTH sides, and encoding that null into the
      // non-nullable Long key would kill the streaming query at runtime.
      .filter(col("op") =!= ChangeRelation.OpTruncate)
      .select(
        coalesce(col("after.k"), col("before.k")).as("k"),
        col("lsn"), col("op"), col("after.v").as("v"))
      // same guard as the collapsing twin: a non-truncate row with null
      // structs on both sides would encode null into the non-nullable key
      .filter(col("k").isNotNull)
      .as[(Long, Long, String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, String, Boolean), (Long, Long, String, Boolean)](
        GroupStateTimeout.NoTimeout) { case (k, it, state) =>
          val prev = state.getOption.getOrElse((Long.MinValue, null: String, false))
          val latest = it.foldLeft(prev) {
            case (acc @ (accLsn, _, _), (_, lsn, op, v)) =>
              if (lsn > accLsn) (lsn, v, op == ChangeRelation.OpDelete) else acc
          }
          state.update(latest)
          (k, latest._1, latest._2, latest._3)
        }
      .toDF("k", "lsn", "v", "deleted")
  }

  /** CollapsingMergeTree as TRUE streaming state — the third engine's
    * twin, completing the trio with [[replacingLatestStream]] (A6 append
    * is plain append mode). Per ROW-VALUE key, custom state holds the
    * running sign sum: insert +1, update (old −1, new +1), delete −1;
    * every micro-batch emits the key's current net (Update mode). Rows
    * whose net collapses to 0 are ClickHouse's merged-away pairs; net 1
    * rows are the live table. Truncates stay on the foreachBatch path
    * (same documented contract as the replacing twin — enforced here).
    *
    * State scales as O(live distinct row values), partitioned by row
    * hash; the signed expansion is stateless and shuffle-free.
    */
  def collapsingNetStream(changes: DataFrame): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .filter(col("op") =!= ChangeRelation.OpTruncate)
      .select(col("op"),
        col("before.k").as("bk"), col("before.v").as("bv"),
        col("after.k").as("ak"), col("after.v").as("av"))
      .as[(String, Option[Long], Option[String], Option[Long], Option[String])]
      // guarded extraction, never .get: a structurally valid change row
      // with a null struct on its required side (op=I with no `after`)
      // passes dropMalformed — an executor-side NoSuchElementException
      // here would kill the whole streaming query, so such rows are
      // dropped like any other malformed input instead.
      .flatMap {
        case (ChangeRelation.OpInsert, _, _, Some(ak), av) => Seq(((ak, av), 1))
        case (ChangeRelation.OpUpdate, Some(bk), bv, Some(ak), av) =>
          Seq(((bk, bv), -1), ((ak, av), 1))
        case (ChangeRelation.OpDelete, Some(bk), bv, _, _) => Seq(((bk, bv), -1))
        case _ => Seq.empty
      }
      .groupByKey(_._1)
      .mapGroupsWithState[Int, (Long, Option[String], Int)](
        GroupStateTimeout.NoTimeout) { case (key, it, state) =>
          val net = state.getOption.getOrElse(0) + it.map(_._2).sum
          state.update(net)
          (key._1, key._2, net)
        }
      .toDF("k", "v", "net")
  }

  /** Watermark-dropped late rows ≡ stream_late_data's `late` column: rows
    * arriving more than `watermark` behind the max seen ts never reach the
    * aggregate, so `sum(cnt)` over this stream counts only on-time rows.
    */
  def onTimeCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))

  /** Hourly event-type counts ≡ `stream_hourly_topk`'s aggregate half:
    * tumbling hour × type counts finalized on watermark (append mode).
    * The rank half runs downstream on each FINALIZED window's ≤|types|
    * rows — in production a foreachBatch over this stream (per closed
    * window, sort ≤|types| rows, keep k), here the StreamTwinsSpec
    * applies the identical rank to the emitted rows and matches the
    * batch query. Splitting agg (streaming state) from rank (bounded
    * post-processing) is the point: a rank window is not incrementally
    * maintainable, a finalize-then-rank of a bounded relation is.
    */
  def hourlyTypeCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val ev = events.withColumn("ts", normTs(col("ts"), events))
    ev.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("h"), col("event_type"), col("cnt"))
  }

  /** STREAMING exact dedup — the ingest-time twin of `dedup_exact_docs`:
    * the first document with a given content digest passes, later copies
    * drop, across micro-batch boundaries. State is the digest set inside
    * the watermark horizon, hash-partitioned across executors and
    * EVICTED as the watermark advances (`dropDuplicatesWithinWatermark`)
    * — the unbounded-state trap of plain `dropDuplicates` is exactly
    * what a forever-running ingest hits. The digest is 16 bytes per doc
    * regardless of document size, so state is O(docs in horizon), not
    * O(bytes); a production pipeline sizes the watermark to its
    * redelivery window (duplicates recur within minutes, not days —
    * cross-horizon dups are the batch pipeline's job).
    *
    * Input needs (`ts`, `text`, …); output is the deduplicated stream
    * with the digest attached.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Hourly deduplicated action counts ≡ `stream_dedup_watermark`'s
    * `deduped` column: at-least-once replays of a (user, event_type)
    * action inside an hour collapse to one, then a tumbling count per
    * hour. Two chained stateful operators, both bounded: the dedup holds
    * one key per (hour, user, type) inside the watermark horizon (state
    * scales with the horizon, never the stream — the property that makes
    * streaming dedup viable), and the windowed count is the same
    * finalize-on-watermark agg as [[tumblingCounts]]. Append mode emits
    * each hour exactly once, after the watermark passes its end.
    */
  def dedupCountsStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val ev = events.withColumn("ts", normTs(col("ts"), events))
      .withColumn("h", date_trunc("hour", col("ts")))
    ev.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h", "user_id", "event_type")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("deduped"))
      .select(unix_timestamp(col("window.start")).as("h"), col("deduped"))
  }

  /** STREAMING as-of join with bounded staleness ≡ `join_asof_tolerance`:
    * per user, each purchase matches the most recent view whose LSN is at
    * most `tolerance` behind. Per-key state is ONE long (the latest view
    * LSN) — this is the point of the tolerance form: a streaming as-of
    * without a horizon must keep every candidate forever, with one it
    * keeps a single value and the staleness check happens at emit. Rows
    * within a micro-batch are processed in event_id order (sorted here —
    * batch iterator order is not guaranteed); across batches the feed is
    * LSN-monotone by contract, same as every CDC consumer in this module.
    */
  /** SCD Type-2 history as TRUE streaming state (batch twin:
    * `cdc_scd2_history`): per-key state is ONE struct —
    * the currently-OPEN validity interval. Each arriving change CLOSES
    * it (emits [valid_from, valid_to) with the old row's attributes) and
    * opens a new one. Append mode emits exactly the batch query's
    * is_current=0 rows — closed history is immutable, which is what
    * makes append correct; the open interval (is_current=1 in batch)
    * lives in state until the next change for that key. Rows within a
    * micro-batch are processed in event_id order (sorted here); across
    * batches the feed is LSN-monotone by contract, like every CDC
    * consumer in this module. State scales as O(live keys) × one struct,
    * partitioned by key hash — the lead() window's shuffle, incremental.
    */
  /** agg_transition_matrix's pair feed as TRUE streaming state: per user
    * the state is ONE string — the last event type seen; every arriving
    * event emits the (from, to) transition it completes and replaces the
    * state. The downstream matrix is a plain incremental count over this
    * append stream (counts only grow, so any sink can maintain them).
    * Rows within a micro-batch are processed in (event-time, event_id)
    * order (sorted here — iterator order is not guaranteed); across
    * batches the per-user last type persists in state, so
    * batch-boundary transitions are emitted exactly once.
    *
    * SCOPE OF THE TWIN CLAIM: equivalence to the batch lead()-based
    * matrix assumes micro-batches arrive in event-time order ACROSS
    * batches too (an LSN-monotone CDC feed, the contract every consumer
    * in this module states). A late event delivered in a later batch is
    * stitched after the state's last type, not into its true position —
    * so out-of-order feeds need an upstream watermark sort (or an
    * event-time-in-state variant that drops/flags stragglers) before
    * this twin's equivalence holds.
    */
  def transitionPairsStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.withColumn("ts", normTs(col("ts"), events))
    ev.select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[String, (Long, String, String)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var cur = state.getOption
          val out = it.toSeq.sortBy(e => (e._3, e._4)).flatMap { e =>
            val pair = cur.map(c => (user, c, e._2))
            cur = Some(e._2)
            pair
          }
          cur.foreach(state.update)
          out.iterator
        }
      .toDF("user_id", "from_t", "to_t")
  }

  def scd2HistoryStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        graft.core.pround(col("value"), 2).as("value_r"))
      .as[(Long, Long, String, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Long, String, Double), (Long, Long, Long, String, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var open = state.getOption
          val out = it.toSeq.sortBy(_._1).flatMap { case (id, _, tpe, v) =>
            val closed = open.map { case (from, t0, v0) => (user, from, id, t0, v0) }
            open = Some((id, tpe, v))
            closed
          }
          open.foreach(state.update)
          out.iterator
        }
      .toDF("user_id", "valid_from", "valid_to", "event_type", "value_r")
  }

  def asofToleranceStream(events: DataFrame, tolerance: Long = 100L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long, Option[Long])](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var lastView = state.getOption.getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(_._1).flatMap { case (id, _, tpe) =>
            if (tpe == "view") { lastView = id; None }
            else if (tpe == "purchase")
              Some((id, user,
                if (lastView >= id - tolerance) Some(lastView) else None))
            else None
          }
          state.update(lastView)
          out.iterator
        }
      .toDF("event_id", "user_id", "last_view")
  }

  /** TRUE stream-stream interval join ≡ `stream_interval_join`: purchases
    * pair with the same user's views in the `windowSec` before them. Both
    * sides are watermarked and the join carries the event-time range
    * condition — that is the load-bearing part at scale: it lets Spark
    * bound the view-side join state to [watermark − windowSec, now] and
    * evict everything older, so state is O(events per key per window),
    * not O(stream history). Timestamps are floored to whole seconds
    * BEFORE watermarking so the join arithmetic is identical to the batch
    * query's floored-epoch filter (§7.3 rule 6 — events.ts carries
    * fractional microseconds and a raw comparison disagrees with the
    * floored one within 1 s of the boundary).
    */
  def intervalJoinStream(events: DataFrame, windowSec: Long = 7200L,
                         watermark: String = "1 minute"): DataFrame = {
    def side(tpe: String, prefix: String) = events
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", watermark)
    side("purchase", "p").join(side("view", "v"),
      expr(s"p_user = v_user AND v_ts >= p_ts - INTERVAL $windowSec SECONDS AND v_ts <= p_ts"))
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts"))).as("gap_s"))
  }

  /** win_gaps_islands' streaming form: per-user streak state is ONE
    * (event_type, length) pair; an incoming event of a different type
    * CLOSES the running streak and emits it `(user_id, event_type, len)`.
    * Append output carries only closed streaks — each user's live streak
    * stays in state (the scd2HistoryStream open-interval policy), so
    * state is finite per key no matter how long the stream runs.
    */
  def streakStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(String, Long), (Long, String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var (cur, len) = state.getOption.getOrElse(("", 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
          it.toSeq.sortBy(_._1).foreach { case (_, _, tpe) =>
            if (tpe == cur) len += 1
            else {
              if (len > 0) out += ((user, cur, len))
              cur = tpe
              len = 1L
            }
          }
          state.update((cur, len))
          out.iterator
        }
      .toDF("user_id", "event_type", "len")
  }

  /** SummingMergeTree as TRUE streaming state ≡ `cdc_summing_rollup`:
    * per (user_id, event_type) the state is ONE running cents sum plus a
    * merge count — the streaming form of the engine's background merge,
    * where however many rows a key absorbs, exactly one row of state
    * remains. Update mode emits the key's current merged row each
    * micro-batch.
    *
    * Exactness: the double `value` becomes DECIMAL(14,2) cents IN THE
    * DATAFRAME LAYER (the same cast the batch query's decimal sum
    * starts from), so the Long state accumulates exact cents and the
    * emitted `value_sum` = cents/100.0 reproduces the batch
    * round(sum(dec),2)→double bit-for-bit under any batch slicing.
    */
  def summingRollupStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .as[(Long, String, Long)]
      .groupByKey(e => (e._1, e._2))
      .mapGroupsWithState[(Long, Long), (Long, String, Double, Long)](
        GroupStateTimeout.NoTimeout) { case ((user, tpe), it, state) =>
          var (cents, n) = state.getOption.getOrElse((0L, 0L))
          it.foreach { e => cents += e._3; n += 1 }
          state.update((cents, n))
          (user, tpe, cents.toDouble / 100.0, n)
        }
      .toDF("user_id", "event_type", "value_sum", "n_merged")
  }

  /** agg_window_funnel's streaming form — the CH windowFunnel state
    * machine per user: t1 = first view's ts (the batch running-min over
    * an ascending stream is simply the first), t2 = first click at-or-
    * after t1 within the window, level 3 = any purchase at-or-after t2
    * within the window. State is two timestamps + one bit; each level
    * INCREASE appends a transition row (user, event_id, new_level), so
    * the funnel histogram at any point is one count over each user's max
    * emitted level. Identical semantics to the batch query's chained
    * conditional-min windows because event time arrives ascending per
    * replayed batch (ties broken by event_id, like the batch ORDER BY).
    */
  def windowFunnelStream(events: DataFrame,
                         windowUs: Long = 7L * 86400 * 1000000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(normTs(col("ts"), events)).as("tsu"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[
        (Option[Long], Option[Long], Boolean), (Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var (t1, t2, l3) = state.getOption.getOrElse(
            (Option.empty[Long], Option.empty[Long], false))
          def level: Int =
            (if (t1.isDefined) 1 else 0) + (if (t2.isDefined) 1 else 0) +
              (if (l3) 1 else 0)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          it.toSeq.sortBy(e => (e._4, e._1)).foreach { case (id, _, tpe, ts) =>
            val before = level
            tpe match {
              case "view" if t1.isEmpty => t1 = Some(ts)
              case "click" if t2.isEmpty &&
                t1.exists(a => ts >= a && ts <= a + windowUs) => t2 = Some(ts)
              case "purchase" if !l3 &&
                t2.exists(b => ts >= b && ts <= b + windowUs) => l3 = true
              case _ => ()
            }
            if (level > before) out += ((user, id, level.toLong))
          }
          state.update((t1, t2, l3))
          out.iterator
        }
      .toDF("user_id", "event_id", "level")
  }

  /** cdc_graphite_rollup's streaming form — STAGE 1 (raw-granularity
    * partials) as continuously-maintained per-key state: key =
    * (event_type, day, hour, second-id), state = (count, exact cents),
    * emitted on every update. Stage 2 (age tiering) deliberately stays a
    * READ-SIDE view over this state — a row's tier changes as the
    * max-day frontier advances, which per-key state cannot see; that is
    * exactly how GraphiteMergeTree itself behaves (rows retier at
    * merge/read time, not at insert time). The cents encoding is the
    * summingRollupStream trick: DECIMAL(14,2)·100 accumulated as Long,
    * so tier sums reproduce the batch round(sum(decimal), 2) → double
    * bit-for-bit under any batch slicing.
    */
  def graphiteRawStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), normTs(col("ts"), events).as("tst"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").as("cents"))
      .select(col("event_type"),
        datediff(col("tst").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("day"),
        hour(col("tst")).cast("long").as("h"),
        (datediff(col("tst").cast("date"), lit("1995-01-01").cast("date")).cast("long") * 86400
          + hour(col("tst")).cast("long") * 3600
          + minute(col("tst")).cast("long") * 60
          + second(col("tst")).cast("long")).as("sec_id"),
        col("cents"))
      .as[(String, Long, Long, Long, Long)]
      .groupByKey(e => (e._1, e._2, e._3, e._4))
      .mapGroupsWithState[(Long, Long), (String, Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout) { case ((tpe, day, h, secId), it, state) =>
          var (pc, cents) = state.getOption.getOrElse((0L, 0L))
          it.foreach { e => pc += 1; cents += e._5 }
          state.update((pc, cents))
          (tpe, day, h, secId, pc, cents)
        }
      .toDF("event_type", "day", "h", "sec_id", "pc", "cents")
  }

  /** agg_sequence_match's streaming form — the CH
    * sequenceMatch '(?1).*(?2)' (view … purchase, any gap) and the
    * adjacent variant, as TWO BITS of per-user state plus the previous
    * event type: seenView = some view occurred strictly before the
    * current event; prevType = the immediately preceding event's type.
    * A purchase emits (user, event_id, 1) the FIRST time it lands after
    * any earlier view and (user, event_id, 2) the first time it lands
    * immediately after a view, so the batch query's per-user m_any/m_adj
    * flags are exactly "a row with that flag exists". Identical to the
    * batch windowed form because events replay in ascending
    * (ts, event_id) order per user — the same argument as
    * windowFunnelStream; state survives micro-batch boundaries, so
    * adjacency across a batch split is preserved.
    */
  def sequenceMatchStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(normTs(col("ts"), events)).as("tsu"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[
        (Boolean, Option[String], Boolean, Boolean), (Long, Long, Int)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var (seenView, prevType, anyEmitted, adjEmitted) =
            state.getOption.getOrElse(
              (false, Option.empty[String], false, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          it.toSeq.sortBy(e => (e._4, e._1)).foreach { case (id, _, tpe, _) =>
            if (tpe == "purchase") {
              if (seenView && !anyEmitted) { anyEmitted = true; out += ((user, id, 1)) }
              if (prevType.contains("view") && !adjEmitted) {
                adjEmitted = true; out += ((user, id, 2))
              }
            }
            if (tpe == "view") seenView = true
            prevType = Some(tpe)
          }
          state.update((seenView, prevType, anyEmitted, adjEmitted))
          out.iterator
        }
      .toDF("user_id", "event_id", "flag")
  }

  /** join_asof_nearest's streaming form — the interesting one in the
    * as-of family because "nearest" needs FUTURE knowledge: a purchase
    * can't decide between its backward view and a not-yet-seen forward
    * view. Per-user state is (lastView, pending purchases each carrying
    * its own backward candidate). A purchase whose backward view is at
    * distance 1 decides IMMEDIATELY (no future view can beat distance 1
    * — ties go to the past); otherwise it buffers. The NEXT view closes
    * every pending purchase: forward wins only when strictly closer.
    * Purchases still pending at the end of input stay in state
    * (append-mode convention, like scd2's open intervals) — a production
    * deployment adds an event-time timeout to force the backward
    * candidate after a horizon. Pending is bounded by the purchases
    * between two consecutive views of ONE user — finite per key.
    */
  def nearestViewStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[
        (Option[Long], List[(Long, Option[Long])]),
        (Long, Long, Option[Long])](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { case (user, it, state) =>
          var (lastView, pending) =
            state.getOption.getOrElse((Option.empty[Long], List.empty[(Long, Option[Long])]))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long])]
          it.toSeq.sortBy(_._1).foreach { case (id, _, tpe) =>
            if (tpe == "view") {
              pending.reverse.foreach { case (p, back) =>
                val near = back match {
                  case Some(b) if p - b <= id - p => b
                  case _ => id
                }
                out += ((p, user, Some(near)))
              }
              pending = Nil
              lastView = Some(id)
            } else if (tpe == "purchase") {
              lastView match {
                case Some(b) if id - b <= 1 => out += ((id, user, Some(b)))
                case back => pending = (id, back) :: pending
              }
            }
          }
          state.update((lastView, pending))
          out.iterator
        }
      .toDF("event_id", "user_id", "near_view")
  }
}
