package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Batch re-expressions of the reference's CDC apply semantics
  * (SURVEY.md §2.A6–A8, A10–A12).
  *
  * pg2ch applies a WAL change stream to ClickHouse MergeTree-family tables:
  *  - ReplacingMergeTree: every INSERT/UPDATE carries `ver = LSN`; reading
  *    with FINAL keeps the max-version row per key
  *    (`pkg/tableengines/replacingmergetree.go` [recall:med]).
  *  - CollapsingMergeTree: UPDATE = (old,−1),(new,+1), DELETE = (old,−1);
  *    merging collapses rows whose sign-sum is 0
  *    (`pkg/tableengines/collapsingmergetree.go` [recall:med]).
  *  - Buffered flush: rows batch in memory / a buffer table and merge into
  *    the main table every N flushes (`pkg/tableengines/generic.go`).
  *  - Restart dedup: rows at-or-below the persisted per-table LSN are
  *    skipped on resume (`pkg/replicator` [recall:med]).
  * (SURVEY §0 caveat: /root/reference empty; paths from public-repo recall.)
  *
  * The `events` table doubles as the change stream: `event_id` is dense,
  * monotone in ts, and unique — it plays the LSN/version role.
  *
  * Scale notes: `cdc_replacing_latest` is one hash-partition window (single
  * shuffle on user_id, no global sort). The collapse/append/frontier family
  * is partial-agg + final-agg — map-side combine keeps the shuffle tiny at
  * any scale. The streaming twins of these live in graft.streaming.CdcApply.
  */
object CdcQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // A7: ReplacingMergeTree FINAL — latest version per key wins.
    "cdc_replacing_latest" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
        t(spark, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            pround(col("value"), 2).as("value_r"))
          .orderBy(col("user_id"))
      },
      Some(s"""SELECT user_id, event_type, ${proundSql("value", 2)} AS value_r
             |FROM (SELECT user_id, event_type, value,
             |row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // A8: CollapsingMergeTree — signed rows collapse; sum(sign)=0 vanishes.
    "cdc_collapsing_net" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(col("user_id"),
            when(col("event_type") === "signup", 1)
              .when(col("event_type") === "error", -1)
              .otherwise(0).as("sign"))
          .groupBy("user_id")
          .agg(sum(col("sign")).cast("long").as("net"))
          .filter(col("net") =!= 0)
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, net FROM (SELECT user_id,
             |CAST(sum(CASE event_type WHEN 'signup' THEN 1 WHEN 'error' THEN -1 ELSE 0 END) AS BIGINT) AS net
             |FROM events GROUP BY user_id) WHERE net <> 0 ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // A6: plain MergeTree append — the stream lands as-is; analytics on top.
    "cdc_append_stream" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(cnt("cnt"),
            round(sum(dec(col("value"), 14, 2)), 2).cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             |CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // A12: restart-safe redelivery — exact dedup of the replayed batch.
    "cdc_dedup_exact" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .agg(cnt("total"),
            countDistinct(col("user_id"), col("event_type"), col("value"))
              .cast("long").as("distinct_rows"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS total,
             |CAST((SELECT count(*) FROM (SELECT DISTINCT user_id, event_type, value FROM events)) AS BIGINT) AS distinct_rows
             |FROM events""".stripMargin.replace("\n", " "))),

    // A12: the per-key LSN frontier that makes restart dedup possible.
    "lsn_frontier" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("user_id")
          .agg(max(col("event_id")).as("max_lsn"), cnt("n"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, max(event_id) AS max_lsn,
             |CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // Consistent-cut frontier — the CROSS-TABLE half of the LSN
    // bookkeeping (lsn_frontier is per-key): replicated tables advance
    // at different rates, and a consistent snapshot reads at the MINIMUM
    // applied frontier across them (the consistent recovery point every
    // multi-table CDC consumer needs; event_type plays the table role
    // here). Declared output per table: its own frontier, the global
    // cut, rows at-or-below the cut (the consistent prefix) and rows
    // beyond it (in-flight — applied locally, not yet globally
    // consistent). Scale shape: frontiers are one partial+final agg to
    // an O(|tables|) relation; the cut is a scalar off that relation,
    // BROADCAST back; the prefix/in-flight split is a conditional
    // re-aggregate — two narrow corpus passes, zero corpus shuffles
    // beyond the per-table partials (the agg_outlier_zscore discipline).
    "cdc_consistent_cut" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events").select(col("event_type"), col("event_id"))
        val cut = ev.groupBy("event_type").agg(max(col("event_id")).as("f"))
          .agg(min(col("f")).as("cut"))
        ev.crossJoin(broadcast(cut))
          .groupBy("event_type")
          .agg(max(col("event_id")).as("frontier"), cnt("n"),
            max(col("cut")).as("cut"),
            sum(when(col("event_id") <= col("cut"), 1L).otherwise(0L))
              .cast("long").as("consistent_rows"),
            sum(when(col("event_id") > col("cut"), 1L).otherwise(0L))
              .cast("long").as("in_flight"))
          .orderBy(col("event_type"))
      },
      Some("""WITH cut AS (SELECT min(f) AS cut FROM (
             |SELECT event_type, max(event_id) AS f FROM events GROUP BY event_type))
             |SELECT event_type, max(event_id) AS frontier,
             |CAST(count(*) AS BIGINT) AS n, max(cut.cut) AS cut,
             |CAST(sum(CASE WHEN event_id <= cut.cut THEN 1 ELSE 0 END) AS BIGINT) AS consistent_rows,
             |CAST(sum(CASE WHEN event_id > cut.cut THEN 1 ELSE 0 END) AS BIGINT) AS in_flight
             |FROM events CROSS JOIN cut GROUP BY event_type
             |ORDER BY event_type""".stripMargin.replace("\n", " ")),
      tier = "E"),

    // A9: truncate frontier — the declared-surface twin of
    // CdcApply.dropTruncated, with the frontier keyed by USER here (one
    // row per user with any error) rather than by table. That makes this
    // a frontier-semi-join pattern, not the driver-sized per-TABLE
    // frontier of the streaming apply: at 100 TB a per-user frontier
    // grows with the user population, so no broadcast hint — AQE
    // broadcasts when the error-user set turns out dimension-sized and
    // shuffles on user_id otherwise (both sides already key on it).
    // CdcApply.dropTruncated, whose frontier is ≤ #tables entries,
    // collects it to the driver and filters by literal LSN instead.
    "cdc_truncate_frontier" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val fr = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id").as("u"))
          .agg(max(col("event_id")).as("tmax"))
        ev.join(fr, col("user_id") === col("u"), "left")
          .filter(col("tmax").isNull || col("event_id") > col("tmax"))
          .groupBy("user_id")
          .agg(cnt("survivors"), min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
          .orderBy(col("user_id"))
      },
      Some("""WITH fr AS (SELECT user_id AS u, max(event_id) AS tmax
             |FROM events WHERE event_type = 'error' GROUP BY user_id)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS survivors,
             |min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events e LEFT JOIN fr ON e.user_id = fr.u
             |WHERE fr.tmax IS NULL OR e.event_id > fr.tmax
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // A10/A11: buffered-flush arithmetic — fixed-size micro-batches by LSN.
    "buffer_flush_batches" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .withColumn("batch", floor(col("event_id") / 1000).cast("long"))
          .groupBy("batch")
          .agg(cnt("nrows"), countDistinct(col("user_id")).cast("long").as("users"))
          .orderBy(col("batch"))
      },
      Some("""SELECT CAST(floor(event_id / 1000) AS BIGINT) AS batch,
             |CAST(count(*) AS BIGINT) AS nrows,
             |CAST(count(DISTINCT user_id) AS BIGINT) AS users
             |FROM events GROUP BY 1 ORDER BY batch""".stripMargin.replace("\n", " "))),

    // SCD Type-2 history materialization: the other standard consumer of a
    // CDC upsert stream (vs ReplacingMergeTree's latest-wins). Each change
    // becomes a validity interval [valid_from, valid_to) in LSN order;
    // the open interval (valid_to NULL) is the current row. One window
    // shuffle on user_id — the same single-exchange shape as
    // cdc_replacing_latest, so a 1000-executor cluster builds the whole
    // history table with one pass and no self-join.
    "cdc_scd2_history" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        t(spark, dir, "events")
          .select(col("user_id"), col("event_id").as("valid_from"),
            lead(col("event_id"), 1).over(w).as("valid_to"),
            col("event_type"), pround(col("value"), 2).as("value_r"))
          .withColumn("is_current",
            when(col("valid_to").isNull, 1L).otherwise(0L))
          .orderBy(col("user_id"), col("valid_from"))
          .limit(500)
      },
      Some(s"""SELECT user_id, event_id AS valid_from,
             |lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to,
             |event_type, ${proundSql("value", 2)} AS value_r,
             |CAST(CASE WHEN lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
             |THEN 1 ELSE 0 END AS BIGINT) AS is_current
             |FROM events ORDER BY user_id, valid_from LIMIT 500""".stripMargin.replace("\n", " "))),

    // A1+A7: the bootstrap read path (Replicator.bootstrap's batch twin) —
    // an initial SNAPSHOT (rows at-or-below the slot's consistent-point
    // LSN, here 400) unioned with the WAL DELTA that arrived during and
    // after the copy, then read with ReplacingMergeTree FINAL semantics.
    // The union is free (no shuffle — both legs are scans of the same
    // source here, partition-pruned in a real deployment); the only
    // exchange is the per-key window, identical to steady-state reads —
    // which is the point: bootstrap and steady state share one read path,
    // so there is no special-cased merge logic to diverge at scale.
    "cdc_snapshot_bootstrap" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val snapshot = ev.filter(col("event_id") <= 400)
          .select(col("user_id"), col("event_id").as("ver"),
            col("event_type"), col("value"), lit("snapshot").as("origin"))
        val delta = ev.filter(col("event_id") > 400)
          .select(col("user_id"), col("event_id").as("ver"),
            col("event_type"), col("value"), lit("wal").as("origin"))
        val w = Window.partitionBy("user_id").orderBy(col("ver").desc)
        snapshot.union(delta)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ver"), col("event_type"),
            pround(col("value"), 2).as("value_r"), col("origin"))
          .orderBy(col("user_id"))
      },
      Some(s"""SELECT user_id, ver, event_type, ${proundSql("value", 2)} AS value_r, origin
             |FROM (SELECT user_id, event_id AS ver, event_type, value,
             |CASE WHEN event_id <= 400 THEN 'snapshot' ELSE 'wal' END AS origin,
             |row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
             |FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // SummingMergeTree read-side semantics — the 4th MergeTree engine a
    // CDC consumer targets (beyond the reference's append/replacing/
    // collapsing trio): rows sharing the sorting key merge into ONE row
    // whose numeric columns are SUMMED; an all-zero-sum row is dropped at
    // merge time. The FINAL-read equivalent is a plain partial+final
    // aggregate — map-side combine IS the engine's background merge, so
    // the shuffle carries one row per (key, map-partition) regardless of
    // how many changes a key absorbed. Exact decimal sums (SURVEY §7.3)
    // keep the merged values bit-stable across engines.
    "cdc_summing_rollup" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(round(sum(dec(col("value"), 14, 2)), 2).cast("double").as("value_sum"),
            cnt("n_merged"))
          .filter(col("value_sum") =!= 0.0)
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type,
             |CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS value_sum,
             |CAST(count(*) AS BIGINT) AS n_merged
             |FROM events GROUP BY user_id, event_type
             |HAVING CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) <> 0.0
             |ORDER BY user_id, event_type""".stripMargin.replace("\n", " "))),

    // VersionedCollapsingMergeTree read-side semantics — collapse that
    // tolerates OUT-OF-ORDER apply: a (+1, −1) pair cancels only when it
    // carries the SAME version, so late-arriving retractions can't eat
    // the wrong insert (plain CollapsingMergeTree requires strictly
    // ordered writes). Derived signed stream: ver = event_id div 100 (the
    // flush-batch granularity buffer_flush_batches uses), sign = +1/−1 by
    // a deterministic value predicate. Read = per-(key, ver) sign-sum,
    // survivors keep their net, and the CURRENT state is the max
    // surviving version per key (max_by, partial-agg-combinable — two
    // chained hash aggs, no window, no self-join; the same two-exchange
    // shape at any scale).
    "cdc_versioned_collapse" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(col("user_id"),
            (col("event_id") / 100).cast("long").as("ver"),
            when(col("value") >= 50.0, 1L).otherwise(-1L).as("sign"))
          .groupBy(col("user_id"), col("ver"))
          .agg(sum(col("sign")).cast("long").as("net"))
          .filter(col("net") =!= 0L)
          .groupBy(col("user_id"))
          .agg(max(col("ver")).as("last_ver"),
            max_by(col("net"), col("ver")).as("net"),
            cnt("live_versions"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, max(ver) AS last_ver,
             |max_by(net, ver) AS net,
             |CAST(count(*) AS BIGINT) AS live_versions
             |FROM (SELECT user_id, ver, CAST(sum(sign) AS BIGINT) AS net
             |FROM (SELECT user_id, CAST(event_id // 100 AS BIGINT) AS ver,
             |CASE WHEN value >= 50.0 THEN 1 ELSE -1 END AS sign FROM events)
             |GROUP BY user_id, ver) WHERE net <> 0
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // AggregatingMergeTree read-side semantics — the engine stores PARTIAL
    // AGGREGATE STATES per key (one state per inserted part) and merges
    // states on read, so the query is the two-level shape: per-(key, part)
    // partials (part = the flush-batch granularity, event_id div 100 —
    // the same batching buffer_flush_batches models), then a state-merge
    // agg per key. Each partial is combinable (count/decimal-sum/min/max
    // are the canonical mergeable states), so BOTH levels are
    // partial-agg-combinable hash aggregates: two exchanges, no window,
    // no join — the same plan at any scale, and level 1's output is
    // bounded by |keys| x |parts touched|, exactly the state a real
    // AggregatingMergeTree part holds. n_states counts merged partials —
    // the read-amplification metric a CH operator watches.
    "cdc_aggregating_merge" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(col("user_id"), expr("event_id div 100").as("batch"),
            col("value"))
          .groupBy(col("user_id"), col("batch"))
          .agg(cnt("pc"), sum(dec(col("value"), 14, 2)).as("ps"),
            min(col("value")).as("pmin"), max(col("value")).as("pmax"))
          .groupBy(col("user_id"))
          .agg(sum(col("pc")).cast("long").as("n_rows"),
            round(sum(col("ps")), 2).cast("double").as("value_sum"),
            min(col("pmin")).as("value_min"),
            max(col("pmax")).as("value_max"),
            cnt("n_states"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(sum(pc) AS BIGINT) AS n_rows,
             |CAST(round(sum(ps), 2) AS DOUBLE) AS value_sum,
             |min(pmin) AS value_min, max(pmax) AS value_max,
             |CAST(count(*) AS BIGINT) AS n_states
             |FROM (SELECT user_id, event_id // 100 AS batch, count(*) AS pc,
             |sum(CAST(value AS DECIMAL(14,2))) AS ps,
             |min(value) AS pmin, max(value) AS pmax
             |FROM events GROUP BY user_id, event_id // 100)
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // ReplacingMergeTree(ver, is_deleted) read-side semantics — CH 23.2+
    // lets the replacing engine carry a DELETE TOMBSTONE: the max-version
    // row wins per key, and if that winner is flagged deleted the key
    // disappears entirely (FINAL drops it). Derived feed: key =
    // (user_id, event_type), ver = event_id (unique => max_by is
    // deterministic), deleted = value < 10 (~10% of rows). One
    // partial-agg-combinable hash aggregate (max + max_by are both
    // combinable states) + a post-agg filter — single exchange on the
    // key, no window, no self-join; the tombstone drop costs nothing
    // extra at any scale because it rides the same aggregate.
    "cdc_replacing_tombstone" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(col("event_id")).cast("long").as("last_ver"),
            max_by(col("value"), col("event_id")).as("last_value"))
          .filter(col("last_value") >= 10.0)
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, last_ver, last_value FROM (
             |SELECT user_id, event_type, CAST(max(event_id) AS BIGINT) AS last_ver,
             |max_by(value, event_id) AS last_value
             |FROM events GROUP BY user_id, event_type)
             |WHERE last_value >= 10.0
             |ORDER BY user_id, event_type""".stripMargin.replace("\n", " "))),

    // GraphiteMergeTree age-tiered rollup — the last MergeTree family
    // member: metrics downsample as they age. Retention config modeled:
    // raw (per-second) for the newest day, hourly for the newest week,
    // daily beyond — ages measured from the table's max day so the
    // query is deterministic (no wall clock). All boundaries are
    // INTEGER day/hour arithmetic (the agg_retention_cohorts trick):
    // day = datediff from a fixed epoch, raw bucket = day·86400 +
    // h·3600 + m·60 + s — identical integer ops on both engines, no
    // interval types, no timezone dependence.
    //
    // Scale shape: TWO CHAINED partial+final aggregates, mirroring how
    // the CH engine itself merges progressively — first everything
    // rolls to the raw ingest granularity (per metric-second, decimal
    // partial sums, map-side combinable), then tier buckets re-aggregate
    // those partials (hourly/daily sums are sums OF sums — never a
    // second corpus pass, never a window). The max-day scalar broadcasts;
    // nothing else crosses an exchange except (metric, bucket) partials.
    "cdc_graphite_rollup" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("1995-01-01").cast("date"))
              .cast("long").as("day"),
            hour(col("ts")).cast("long").as("h"),
            minute(col("ts")).cast("long").as("mi"),
            second(col("ts")).cast("long").as("s"),
            col("value"))
        // stage 1: roll to the raw ingest granularity (metric-second)
        val raw = ev.groupBy(col("event_type"), col("day"), col("h"),
            (col("day") * 86400 + col("h") * 3600 + col("mi") * 60 + col("s")).as("sec_id"))
          .agg(cnt("pc"), sum(dec(col("value"), 14, 2)).as("ps"))
        val maxd = raw.agg(max(col("day")).as("maxd"))
        // stage 2: tier from age, re-aggregate stage-1 partials
        raw.crossJoin(broadcast(maxd))
          .withColumn("tier", when(col("maxd") - col("day") < 1, "raw")
            .when(col("maxd") - col("day") < 7, "hourly").otherwise("daily"))
          .withColumn("bucket", when(col("tier") === "raw", col("sec_id"))
            .when(col("tier") === "hourly", col("day") * 24 + col("h"))
            .otherwise(col("day")))
          .groupBy(col("event_type"), col("tier"), col("bucket"))
          .agg(sum(col("pc")).cast("long").as("n"),
            round(sum(col("ps")), 2).cast("double").as("value_sum"))
          .orderBy(col("event_type"), col("tier"), col("bucket"))
      },
      Some("""WITH ev AS (SELECT event_type,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
             |CAST(hour(ts) AS BIGINT) AS h, CAST(minute(ts) AS BIGINT) AS mi,
             |CAST(second(ts) AS BIGINT) AS s, value FROM events),
             |raw AS (SELECT event_type, day, h,
             |day * 86400 + h * 3600 + mi * 60 + s AS sec_id,
             |count(*) AS pc, sum(CAST(value AS DECIMAL(14,2))) AS ps
             |FROM ev GROUP BY 1, 2, 3, 4),
             |m AS (SELECT max(day) AS maxd FROM raw),
             |tiered AS (SELECT event_type,
             |CASE WHEN maxd - day < 1 THEN 'raw'
             |WHEN maxd - day < 7 THEN 'hourly' ELSE 'daily' END AS tier,
             |CASE WHEN maxd - day < 1 THEN sec_id
             |WHEN maxd - day < 7 THEN day * 24 + h ELSE day END AS bucket,
             |pc, ps FROM raw CROSS JOIN m)
             |SELECT event_type, tier, bucket, CAST(sum(pc) AS BIGINT) AS n,
             |CAST(round(sum(ps), 2) AS DOUBLE) AS value_sum
             |FROM tiered GROUP BY 1, 2, 3
             |ORDER BY event_type, tier, bucket""".stripMargin.replace("\n", " "))),

    // Data-skipping minmax index (ClickHouse `INDEX ... TYPE minmax`
    // GRANULARITY, Parquet row-group stats): maintain per-granule
    // (day-partition) min/max of the filter column, and answer "how much
    // of the table can a predicate skip?". The index build is ONE
    // partial+final aggregate (three numbers per granule — O(|granules|)
    // regardless of corpus size), and the prune decision is evaluated on
    // that bounded relation alone; the declared output reports, per
    // event_type: total granules, granules a `value >= 300` predicate
    // must scan (max >= 300), and the exact matching rows within the
    // surviving granules — the effectiveness report a skipping index
    // ships with. At 100 TB this is metadata-only pruning: the fact scan
    // for the verify half is the same single pass that built the index.
    "cdc_minmax_prune" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("event_type"), col("value"),
            expr("datediff(cast(ts as date), date '1995-01-01')").cast("long").as("day"))
        val idx = ev.groupBy(col("event_type"), col("day"))
          .agg(min(col("value")).as("mn"), max(col("value")).as("mx"), cnt("rows"),
            sum(when(col("value") >= 300.0, 1L).otherwise(0L)).cast("long").as("hits"))
        idx.groupBy("event_type")
          .agg(cnt("granules"),
            sum(when(col("mx") >= 300.0, 1L).otherwise(0L)).cast("long").as("scanned"),
            sum(when(col("mx") >= 300.0, col("rows")).otherwise(0L)).cast("long").as("rows_scanned"),
            sum(col("hits")).cast("long").as("rows_matched"))
          .orderBy(col("event_type"))
      },
      Some("""WITH idx AS (SELECT event_type,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
             |min(value) AS mn, max(value) AS mx,
             |CAST(count(*) AS BIGINT) AS rows_,
             |CAST(sum(CASE WHEN value >= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS hits
             |FROM events GROUP BY 1, 2)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS granules,
             |CAST(sum(CASE WHEN mx >= 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS scanned,
             |CAST(sum(CASE WHEN mx >= 300.0 THEN rows_ ELSE 0 END) AS BIGINT) AS rows_scanned,
             |CAST(sum(hits) AS BIGINT) AS rows_matched
             |FROM idx GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // MergeTree TTL — `TTL ts + INTERVAL 30 DAY`: rows age out at merge
    // time, relative to the table's newest timestamp (deterministic: the
    // frontier is data-derived, not wall-clock, so the declared result
    // is stable). Output per table(=event_type): rows kept vs expired
    // under the TTL, the surviving row count and value sum (the
    // post-merge table summary), and the cutoff day — what a TTL merge
    // would materialize. Scale shape: the frontier is one partial+final
    // max to a scalar, BROADCAST back; the expiry split is a conditional
    // re-aggregate over narrow columns — two map passes, no extra
    // shuffle (the consistent-cut discipline). At 100 TB a real TTL
    // merge drops whole granules first via the minmax index
    // (cdc_minmax_prune) and row-filters only boundary granules.
    "cdc_ttl_expiry" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("event_type"), col("value"),
            expr("datediff(cast(ts as date), date '1995-01-01')").cast("long").as("day"))
        val cutoff = ev.agg((max(col("day")) - lit(30L)).as("cutoff"))
        ev.crossJoin(broadcast(cutoff))
          .groupBy("event_type")
          .agg(cnt("rows_total"),
            max(col("cutoff")).as("cutoff_day"),
            sum(when(col("day") < col("cutoff"), 1L).otherwise(0L))
              .cast("long").as("expired"),
            sum(when(col("day") >= col("cutoff"), 1L).otherwise(0L))
              .cast("long").as("kept"),
            round(sum(when(col("day") >= col("cutoff"),
              dec(col("value"), 14, 2)).otherwise(dec(lit(0), 14, 2))), 2)
              .cast("double").as("kept_value_sum"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, value,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
             |FROM events),
             |c AS (SELECT max(day) - 30 AS cutoff FROM ev)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS rows_total,
             |max(c.cutoff) AS cutoff_day,
             |CAST(sum(CASE WHEN day < c.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS expired,
             |CAST(sum(CASE WHEN day >= c.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |CAST(round(sum(CASE WHEN day >= c.cutoff THEN CAST(value AS DECIMAL(14,2))
             |ELSE CAST(0 AS DECIMAL(14,2)) END), 2) AS DOUBLE) AS kept_value_sum
             |FROM ev CROSS JOIN c GROUP BY event_type
             |ORDER BY event_type""".stripMargin.replace("\n", " ")),
      tier = "E"),

    // Bloom-filter granule index (ClickHouse `INDEX ... TYPE
    // bloom_filter` — the point-predicate companion to
    // cdc_minmax_prune's range skipping): per (event_type, day) granule,
    // a 1024-bit / k=3 Bloom over the granule's user ids
    // (dedup_bloom_prefilter's portable construction — three 10-bit
    // slices of the 60-bit hash, 32 × 32-bit words, bit_or partials
    // combine map-side). The declared output is the skipping report for
    // three point lookups (users 1 and 7 exist; 999999 does not — the
    // full-skip case): per (event_type, probe): total granules, granules
    // the filter passes (must scan), rows inside passing granules, and
    // the exact matching rows (Bloom's zero-false-negative guarantee:
    // rows_matched > 0 ⇒ scanned ≥ 1, pinned cross-engine by the
    // hash-match). Scale shape: the index relation is O(|granules|·32)
    // rows built by one partial+final aggregate; probe positions (9
    // rows) and the per-type totals BROADCAST; every decision is
    // evaluated on metadata relations, never a second corpus scan.
    "cdc_bloom_prune" -> QueryDef(
      (spark, dir) => {
        val hxU = "cast(conv(substr(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)"
        val hxP = "cast(conv(substr(md5(cast(probe as string)), 1, 15), 16, 10) as bigint)"
        val posArr = "transform(sequence(0, 2), j -> (shiftright(h, j * 10) & 1023))"
        val ev = t(spark, dir, "events")
          .select(col("event_type"), col("user_id"),
            expr("datediff(cast(ts as date), date '1995-01-01')").cast("long").as("day"))
          .scopedPersist()
        val bloom = ev.withColumn("h", expr(hxU))
          .select(col("event_type"), col("day"), explode(expr(posArr)).as("pos"))
          .select(col("event_type"), col("day"),
            expr("cast((pos div 32) as int)").as("word"),
            expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
          .groupBy("event_type", "day", "word").agg(expr("bit_or(mask)").as("bits"))
        val stats = ev.groupBy("event_type", "day").agg(cnt("rows_n"))
        val probes = Seq(1L, 7L, 999999L)
        val pb = spark.range(1).select(
          explode(array(probes.map(lit(_)): _*)).as("probe"))
          .withColumn("h", expr(hxP))
          .select(col("probe"), explode(expr(posArr)).as("pos"))
          .select(col("probe"), expr("cast((pos div 32) as int)").as("word"),
            expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
        val pass = bloom.join(broadcast(pb), Seq("word"))
          .groupBy("event_type", "day", "probe")
          .agg(sum(when(col("bits").bitwiseAND(col("mask")) =!= 0L, 1L)
            .otherwise(0L)).as("setp"))
          .filter(col("setp") === 3L)
        val phits = ev.filter(col("user_id").isin(probes: _*))
          .groupBy(col("event_type"), col("day"), col("user_id").as("probe"))
          .agg(cnt("hits"))
        val perProbe = pass
          .join(stats.hint("shuffle_hash"), Seq("event_type", "day"))
          .join(phits.hint("shuffle_hash"), Seq("event_type", "day", "probe"), "left")
          .groupBy("event_type", "probe")
          .agg(cnt("scanned"),
            sum(col("rows_n")).cast("long").as("rows_scanned"),
            sum(coalesce(col("hits"), lit(0L))).cast("long").as("rows_matched"))
        val totals = stats.groupBy("event_type").agg(cnt("granules"))
        totals.crossJoin(broadcast(spark.range(1)
            .select(explode(array(probes.map(lit(_)): _*)).as("probe"))))
          .join(broadcast(perProbe), Seq("event_type", "probe"), "left")
          .select(col("event_type"), col("probe"), col("granules"),
            coalesce(col("scanned"), lit(0L)).as("scanned"),
            coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"),
            coalesce(col("rows_matched"), lit(0L)).as("rows_matched"))
          .orderBy(col("event_type"), col("probe"))
      },
      Some {
        val hxU = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"
        val hxP = "CAST('0x' || substr(md5(CAST(probe AS VARCHAR)), 1, 15) AS BIGINT)"
        s"""WITH ev AS (SELECT event_type, user_id,
           |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
           |FROM events),
           |pos AS (SELECT event_type, day, unnest(list_transform(range(0, 3),
           |j -> ($hxU >> (j * 10)) & 1023)) AS pos FROM ev),
           |bloom AS (SELECT event_type, day, CAST(pos // 32 AS INT) AS word,
           |bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
           |FROM pos GROUP BY 1, 2, 3),
           |stats AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS rows_n
           |FROM ev GROUP BY 1, 2),
           |pr AS (SELECT unnest([CAST(1 AS BIGINT), CAST(7 AS BIGINT), CAST(999999 AS BIGINT)]) AS probe),
           |pb AS (SELECT probe, CAST(pos // 32 AS INT) AS word,
           |CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS mask FROM (
           |SELECT probe, unnest(list_transform(range(0, 3),
           |j -> ($hxP >> (j * 10)) & 1023)) AS pos FROM pr)),
           |pass AS (SELECT event_type, day, probe FROM (
           |SELECT b.event_type, b.day, pb.probe,
           |sum(CASE WHEN (b.bits & pb.mask) <> 0 THEN 1 ELSE 0 END) AS setp
           |FROM bloom b JOIN pb ON b.word = pb.word GROUP BY 1, 2, 3) WHERE setp = 3),
           |ph AS (SELECT event_type, day, user_id AS probe,
           |CAST(count(*) AS BIGINT) AS hits FROM ev
           |WHERE user_id IN (1, 7, 999999) GROUP BY 1, 2, 3),
           |pp AS (SELECT pass.event_type, pass.probe,
           |CAST(count(*) AS BIGINT) AS scanned,
           |CAST(sum(stats.rows_n) AS BIGINT) AS rows_scanned,
           |CAST(sum(coalesce(ph.hits, 0)) AS BIGINT) AS rows_matched
           |FROM pass JOIN stats ON pass.event_type = stats.event_type AND pass.day = stats.day
           |LEFT JOIN ph ON pass.event_type = ph.event_type AND pass.day = ph.day
           |AND pass.probe = ph.probe
           |GROUP BY 1, 2),
           |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS granules
           |FROM stats GROUP BY 1)
           |SELECT tot.event_type, pr.probe, granules,
           |coalesce(pp.scanned, 0) AS scanned,
           |coalesce(pp.rows_scanned, 0) AS rows_scanned,
           |coalesce(pp.rows_matched, 0) AS rows_matched
           |FROM tot CROSS JOIN pr
           |LEFT JOIN pp ON tot.event_type = pp.event_type AND pr.probe = pp.probe
           |ORDER BY tot.event_type, pr.probe""".stripMargin.replace("\n", " ")
      },
      tier = "E"),

    // Compaction planning (lakehouse OPTIMIZE / MergeTree background
    // merges): small adjacent granules should merge into ~target-size
    // files. The plan is PURE METADATA dataflow: from the per-(type, day)
    // granule row counts (the cdc_minmax_prune index relation), assign
    // each granule to a merge group by integer division of the RUNNING
    // row count by the target size — consecutive granules share a group
    // until the target fills, exactly the greedy bin-pack a compactor
    // executes, and the day-ordered running sum makes the plan
    // deterministic under any partitioning. Output: per (type, group):
    // first/last day, granules merged, total rows — the merge manifest.
    // Scale shape: one partial+final agg to O(|granules|) metadata, one
    // per-type window over that bounded relation, one final agg; the
    // corpus is read once and only for the index build.
    "cdc_compaction_plan" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val target = 600L
        val idx = t(spark, dir, "events")
          .select(col("event_type"),
            expr("datediff(cast(ts as date), date '1995-01-01')").cast("long").as("day"))
          .groupBy("event_type", "day").agg(cnt("rows_n"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        idx
          // group = which target-size bin the granule's LAST row lands in
          .withColumn("grp", ((sum(col("rows_n")).over(w) - 1L) / target).cast("long"))
          .groupBy(col("event_type"), col("grp"))
          .agg(min(col("day")).as("from_day"), max(col("day")).as("to_day"),
            cnt("granules"), sum(col("rows_n")).cast("long").as("rows_total"))
          .orderBy(col("event_type"), col("grp"))
      },
      Some("""WITH idx AS (SELECT event_type,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
             |CAST(count(*) AS BIGINT) AS rows_n
             |FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, day, rows_n,
             |CAST(floor((sum(rows_n) OVER (PARTITION BY event_type ORDER BY day
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 600.0) AS BIGINT) AS grp
             |FROM idx)
             |SELECT event_type, grp, min(day) AS from_day, max(day) AS to_day,
             |CAST(count(*) AS BIGINT) AS granules,
             |CAST(sum(rows_n) AS BIGINT) AS rows_total
             |FROM g GROUP BY 1, 2
             |ORDER BY event_type, grp""".stripMargin.replace("\n", " "))))
}
