package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Batch forms of the streaming/event-time semantics (SURVEY.md §2.B
  * `stream_*`). Each has a true Structured Streaming twin in
  * graft.streaming.StreamTwins (tumbling/session via the built-in
  * `window`/`session_window`, late data via `withWatermark`); these batch
  * forms pin the exact event-time arithmetic against the DuckDB oracle.
  *
  * Epoch-second rule: `events.ts` carries fractional microseconds, so both
  * engines must FLOOR to whole seconds (Spark `unix_timestamp` floors;
  * DuckDB gets an explicit `floor(epoch(ts))`) — otherwise frame boundaries
  * disagree (SURVEY §7.3 rule 6).
  */
object StreamQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Tumbling event-time window ≡ streaming groupBy(window($"ts","1 hour")).
    "stream_tumbling_window" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy(
            unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
            col("event_type"))
          .agg(cnt("cnt"))
          .orderBy(col("h"), col("event_type"))
      },
      Some("""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             |event_type, CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin.replace("\n", " "))),

    // Sliding 1h count per user: RANGE frame over floored epoch seconds.
    "stream_sliding_count" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy("epoch_s")
          .rangeBetween(-3600, Window.currentRow)
        t(spark, dir, "events")
          .withColumn("epoch_s", unix_timestamp(col("ts")))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("c1h"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, c1h FROM (SELECT event_id, user_id,
             |CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             |RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS c1h
             |FROM events) ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Sessionization: gap > 30 min starts a new session. Streaming twin:
    // session_window($"ts", "30 minutes") — see graft.streaming.StreamTwins.
    "stream_session_window" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(spark, dir, "events")
          .withColumn("epoch_s", unix_timestamp(col("ts")))
          .withColumn("gap_s", col("epoch_s") - lag(col("epoch_s"), 1).over(w))
          .withColumn("flag", when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
          .groupBy("user_id")
          .agg(sum(col("flag")).cast("long").as("n_sessions"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(sum(flag) AS BIGINT) AS n_sessions FROM (
             |SELECT user_id, CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS flag
             |FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT)
             |- lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
             |FROM events)) GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // Watermark model: rows older than max(ts) − 1h are "late". Streaming
    // twin: withWatermark("ts", "1 hour") drops them; batch counts both.
    "stream_late_data" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val cut = ev.agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("cutoff"))
        ev.crossJoin(cut)
          .agg(
            sum(when(col("ts") >= col("cutoff"), 1).otherwise(0)).cast("long").as("on_time"),
            sum(when(col("ts") < col("cutoff"), 1).otherwise(0)).cast("long").as("late"))
      },
      Some("""SELECT
             |CAST(sum(CASE WHEN ts >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
             |CAST(sum(CASE WHEN ts < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS late
             |FROM events, (SELECT max(ts) - INTERVAL 1 HOUR AS cutoff FROM events)""".stripMargin.replace("\n", " "))),

    // Stream-stream interval join (attribution): each purchase pairs with
    // the same user's views in the 2 h BEFORE it. The batch form is a
    // plain equi-join on user_id with the interval as a post-join filter;
    // the TRUE streaming twin (StreamTwins.intervalJoinStream) is Spark's
    // watermarked stream-stream join, where exactly this time-range
    // condition is what lets the engine EVICT view state older than
    // watermark − 2 h — per-key state is O(events in the window), not
    // O(stream). Interval arithmetic on floored epoch seconds on both
    // engines (§7.3 rule 6); (p_id, v_id) is a unique pair so the
    // order+limit is total.
    "stream_interval_join" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .withColumn("epoch_s", unix_timestamp(col("ts")))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_id"), col("epoch_s").as("v_s"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("epoch_s").as("p_s"))
        purch.join(views, Seq("user_id"))
          .filter(col("v_s") >= col("p_s") - 7200 && col("v_s") <= col("p_s"))
          .select(col("p_id"), col("v_id"), col("user_id"),
            (col("p_s") - col("v_s")).as("gap_s"))
          .orderBy(col("p_id"), col("v_id"))
          .limit(500)
      },
      Some("""SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id AS user_id,
             |CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_s
             |FROM events p JOIN events v ON p.user_id = v.user_id
             |AND p.event_type = 'purchase' AND v.event_type = 'view'
             |AND CAST(floor(epoch(v.ts)) AS BIGINT) >= CAST(floor(epoch(p.ts)) AS BIGINT) - 7200
             |AND CAST(floor(epoch(v.ts)) AS BIGINT) <= CAST(floor(epoch(p.ts)) AS BIGINT)
             |ORDER BY p_id, v_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Session-level metrics — one step past stream_session_window's
    // per-user session COUNT: materialize each session (running sum of the
    // new-session flag = session id) and report the longest sessions by
    // duration. Both windows share ONE partitioning (user_id ordered by
    // ts, event_id), so Spark plans a single exchange + sort feeding two
    // WindowExecs back-to-back; the per-session groupBy then combines
    // map-side. This is the batch twin of what session_window's streaming
    // state emits per (user, session) at watermark close.
    "stream_session_stats" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(spark, dir, "events")
          .withColumn("epoch_s", unix_timestamp(col("ts")))
          .withColumn("gap_s", col("epoch_s") - lag(col("epoch_s"), 1).over(w))
          .withColumn("flag", when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
          .withColumn("sid", sum(col("flag")).over(run))
          .groupBy("user_id", "sid")
          .agg(cnt("n_events"),
            (max(col("epoch_s")) - min(col("epoch_s"))).as("dur_s"))
          .orderBy(col("dur_s").desc, col("user_id"), col("sid"))
          .limit(100)
      },
      Some("""SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
             |max(epoch_s) - min(epoch_s) AS dur_s FROM (
             |SELECT user_id, epoch_s,
             |CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             |FROM (SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             |CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
             |FROM events))
             |GROUP BY user_id, sid
             |ORDER BY dur_s DESC, user_id, sid LIMIT 100""".stripMargin.replace("\n", " "))),

    // Streaming dedup semantics (`dropDuplicatesWithinWatermark`) in its
    // batch-equivalent declared form: an at-least-once transport can
    // replay (user, event_type) actions; the deduped stream keeps the
    // FIRST occurrence per key per hour window. Batch twin = per-hour
    // distinct-key count next to the raw count — exactly what the
    // watermarked streaming state would emit after the watermark closes
    // each hour. Scale shape: one partial+final agg keyed by
    // (hour, user, type) then the per-hour fold — dedup state is bounded
    // by the watermark horizon, never the stream length (the property
    // that makes streaming dedup viable at all); the streaming twin
    // (StreamTwins.dedupCountsStream) replays the same events through
    // dropDuplicatesWithinWatermark and must match these counts.
    "stream_dedup_watermark" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
            col("user_id"), col("event_type"))
          .groupBy("h")
          .agg(cnt("raw_events"),
            countDistinct(col("user_id"), col("event_type")).cast("long").as("deduped"))
          .orderBy(col("h"))
      },
      Some("""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             |CAST(count(*) AS BIGINT) AS raw_events,
             |CAST(count(DISTINCT (user_id, event_type)) AS BIGINT) AS deduped
             |FROM events GROUP BY 1 ORDER BY h""".stripMargin.replace("\n", " "))),

    // Windowed trending top-k — "top event types this hour", the
    // dashboard query every event stream serves. Batch form: tumbling
    // hour counts (partial+final agg, O(|hours|×|types|) — bounded),
    // then a rank window over THAT bounded relation only, keep k=3.
    // Ties rank by type name — total order, deterministic. As a stream:
    // the hour counts finalize on watermark exactly like
    // stream_tumbling_window; the per-window rank runs on each
    // finalized window's ≤|types| rows in the sink's foreachBatch —
    // state never exceeds the open windows. The corpus is never
    // globally sorted; the only per-row work is the hour truncation.
    "stream_hourly_topk" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = t(spark, dir, "events")
          .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("h"),
            col("event_type"))
          .agg(cnt("cnt"))
        val w = Window.partitionBy("h").orderBy(col("cnt").desc, col("event_type"))
        counts.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("h"), col("rnk"), col("event_type"), col("cnt"))
          .orderBy(col("h"), col("rnk"))
      },
      Some("""SELECT h, rnk, event_type, cnt FROM (
             |SELECT h, event_type, cnt,
             |CAST(row_number() OVER (PARTITION BY h ORDER BY cnt DESC, event_type) AS BIGINT) AS rnk
             |FROM (SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             |event_type, CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY 1, 2))
             |WHERE rnk <= 3 ORDER BY h, rnk""".stripMargin.replace("\n", " "))),

    // Error-rate spike detection — the alerting query a stream monitor
    // runs: an hour is a SPIKE when its error count exceeds 2× the mean
    // of the preceding 6 CALENDAR hours (exact integer test:
    // cnt·trail_n > 2·Σ_trailing — the mean scaled through, no division;
    // sparse tails with fewer than 3 observed trailing hours are
    // skipped — too little baseline to alert on). The corpus folds to hourly counts first
    // (partial+final agg, persisted — two consumers); the trailing sum
    // then comes from an EXPLODE + EQUI-JOIN over that bounded
    // O(|hours|) relation: each hour contributes itself to its next six
    // calendar hours, a groupBy re-aggregates per target hour, and the
    // flag joins back on the hour key. No window at all — the repo-wide
    // no-unpartitioned-window pin holds (a global ORDER BY h frame would
    // funnel the relation through one task; the contribute-forward form
    // is embarrassingly parallel at any |hours|). As a stream: tumbling
    // counts finalize on watermark (StreamTwins.hourlyTypeCounts) and
    // the same contribute-forward join runs incrementally in the sink.
    "stream_error_spikes" -> QueryDef(
      (spark, dir) => {
        val hourly = scopedPersist(t(spark, dir, "events")
          .filter(col("event_type") === "error")
          .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
          .agg(cnt("errors")))
        val trail = hourly
          .select(col("errors").as("e0"),
            explode(sequence(col("h") + 3600, col("h") + 6 * 3600, lit(3600L))).as("h"))
          .groupBy("h")
          .agg(sum(col("e0")).cast("long").as("trail_sum"), cnt("trail_n"))
        hourly.join(trail, Seq("h"))
          .filter(col("trail_n") >= 3)
          .withColumn("spike",
            (col("errors") * col("trail_n") > col("trail_sum") * 2L).cast("boolean"))
          .select(col("h"), col("errors"), col("trail_sum"), col("spike"))
          .orderBy(col("h"))
      },
      Some("""WITH hourly AS (SELECT
             |CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             |CAST(count(*) AS BIGINT) AS errors
             |FROM events WHERE event_type = 'error' GROUP BY 1),
             |tr AS (SELECT cur.h, cur.errors,
             |CAST(sum(prev.errors) AS BIGINT) AS trail_sum,
             |CAST(count(*) AS BIGINT) AS trail_n
             |FROM hourly cur JOIN hourly prev
             |ON prev.h >= cur.h - 21600 AND prev.h <= cur.h - 3600
             |GROUP BY cur.h, cur.errors)
             |SELECT h, errors, trail_sum,
             |(errors * trail_n > trail_sum * 2) AS spike
             |FROM tr WHERE trail_n >= 3 ORDER BY h""".stripMargin.replace("\n", " "))))
}
