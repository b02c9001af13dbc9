package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Window-function operators — north-star analytics surface (SURVEY.md §2.B).
  *
  * Frames are always spelled explicitly (ROWS BETWEEN …) — default RANGE
  * frames differ between engines when the ordering has ties (SURVEY §7.4).
  *
  * Scale notes: every window here partitions by a key (nationkey/user_id
  * or, for `win_ntile`, a range-partition id) — one hash shuffle,
  * per-partition sort, NO unpartitioned window anywhere (PlanShapeSpec
  * pins this repo-wide). `win_ntile` computes the exact global ntile in
  * parallel via range partitioning + broadcast rank offsets.
  */
object WindowQueries {

  private def events(spark: org.apache.spark.sql.SparkSession, dir: String) =
    t(spark, dir, "events")

  private val perUser = Window.partitionBy("user_id").orderBy("event_id")

  val defs: Seq[(String, QueryDef)] = Seq(

    "win_rank_dense" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(spark, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nationkey"), col("c_custkey"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"))
          .orderBy(col("nationkey"), col("rnk"), col("c_custkey"))
          .limit(300)
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey,
             |CAST(rank() OVER w AS BIGINT) AS rnk,
             |CAST(dense_rank() OVER w AS BIGINT) AS drnk
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
             |ORDER BY nationkey, rnk, c_custkey LIMIT 300""".stripMargin.replace("\n", " "))),

    "win_lag_lead" -> QueryDef(
      (spark, dir) => {
        events(spark, dir)
          .select(col("event_id"), col("user_id"),
            pround(col("value") - lag(col("value"), 1).over(perUser), 2).as("delta"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some(s"""SELECT event_id, user_id,
             |${proundSql("value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id)", 2)} AS delta
             |FROM events ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Moving average via the §7.3 avg rule: decimal window sum, double
    // division, round — IEEE-identical across engines.
    "win_moving_avg" -> QueryDef(
      (spark, dir) => {
        val w = perUser.rowsBetween(-3, Window.currentRow)
        events(spark, dir)
          .select(col("event_id"), col("user_id"),
            pround(sum(dec(col("value"), 14, 2)).over(w).cast("double")
              / count(col("value")).over(w).cast("double"), 2).as("mavg"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some(s"""SELECT event_id, user_id,
             |${proundSql("""CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE)
             | / CAST(count(value) OVER w AS DOUBLE)""".stripMargin.replace("\n", ""), 2)} AS mavg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    "win_running_sum" -> QueryDef(
      (spark, dir) => {
        val w = perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(spark, dir)
          .select(col("event_id"), col("user_id"),
            round(sum(dec(col("value"), 14, 2)).over(w), 2).cast("double").as("rsum"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id,
             |CAST(round(sum(CAST(value AS DECIMAL(14,2))) OVER
             |(PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rsum
             |FROM events ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Relative-rank windows: percent_rank = (rank−1)/(n−1) and cume_dist
    // = rows≤current/n — both one IEEE division, pround(6)'d. Partitioned
    // by nationkey: one hash shuffle, per-partition sort.
    "win_percent_rank" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(spark, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nationkey"), col("c_custkey"),
            pround(percent_rank().over(w), 6).as("prk"),
            pround(cume_dist().over(w), 6).as("cd"))
          .orderBy(col("nationkey"), col("prk"), col("c_custkey"))
          .limit(300)
      },
      Some(s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey,
             |${proundSql("percent_rank() OVER w", 6)} AS prk,
             |${proundSql("cume_dist() OVER w", 6)} AS cd
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
             |ORDER BY nationkey, prk, c_custkey LIMIT 300""".stripMargin.replace("\n", " "))),

    // first/last_value with an explicit full-partition frame (default
    // frames stop at CURRENT ROW for last_value — the classic trap).
    "win_first_last" -> QueryDef(
      (spark, dir) => {
        val w = perUser.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        events(spark, dir)
          .select(col("event_id"), col("user_id"),
            first(col("event_type")).over(w).as("first_et"),
            last(col("event_type")).over(w).as("last_et"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id,
             |first_value(event_type) OVER w AS first_et,
             |last_value(event_type) OVER w AS last_et
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Exact NTILE(4) without a single-partition window, which would
    // funnel the whole table through one task.
    // Parallel global ranking: range-partition on the sort key (partition
    // i's rows all order before partition i+1's — the full key is unique,
    // so the range boundaries induce a total order), per-partition
    // row_number (window partitioned by the physical partition id — one
    // narrow shuffle, fully parallel), then global rank = local rank +
    // the broadcast sum of preceding partitions' counts. The offsets
    // relation is ≤ #partitions rows, built with a bounded broadcast
    // theta-join instead of a window so NO unpartitioned WindowExec
    // exists anywhere in the plan (PlanShapeSpec pins this repo-wide).
    // Bucket arithmetic is the exact NTILE contract: with q = n div 4 and
    // r = n % 4, the first r buckets take q+1 rows, the rest q — integer
    // `div`, no float rounding, so it hash-matches ntile() at every SF
    // (including n % 4 ≠ 0, where a proportional floor formula diverges).
    "win_ntile" -> QueryDef(
      (spark, dir) => {
        val ranked = t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"))
          .repartitionByRange(32, col("c_acctbal").desc, col("c_custkey"))
          .withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(
            Window.partitionBy("pid").orderBy(col("c_acctbal").desc, col("c_custkey")))
            .cast("long"))
          .scopedPersist()
        val counts = ranked.groupBy("pid").agg(count(lit(1)).as("pcnt"))
        val offsets = counts.as("a")
          .join(broadcast(counts.as("b")), col("b.pid") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"))
          .agg(coalesce(sum(col("b.pcnt")), lit(0L)).as("off"))
        val total = counts.agg(sum(col("pcnt")).as("tot"))
        ranked
          .join(broadcast(offsets), "pid")
          .crossJoin(broadcast(total))
          .withColumn("rn", col("off") + col("lrn"))
          .withColumn("bucket", expr(
            """cast(case when rn <= (tot % 4) * ((tot div 4) + 1)
              |then (rn - 1) div ((tot div 4) + 1)
              |else (tot % 4) + (rn - 1 - (tot % 4) * ((tot div 4) + 1)) div (tot div 4)
              |end + 1 as bigint)""".stripMargin.replace("\n", " ")))
          .groupBy("bucket")
          .agg(cnt("cnt"), min(col("c_custkey")).as("min_ck"), max(col("c_custkey")).as("max_ck"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
             |min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
             |FROM (SELECT c_custkey,
             |CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bucket
             |FROM customer) GROUP BY bucket ORDER BY bucket""".stripMargin.replace("\n", " "))),

    // Gaps-and-islands — the classic streak detector: within a user's
    // event stream (ordered by event_id), maximal runs of the SAME
    // event_type are islands; the island key is the difference of two
    // row_numbers (global-per-user minus per-(user, type)), constant
    // exactly within a run. Declared output: per user, number of streaks
    // and the longest streak — the repeat-behavior signal sessionization
    // (gap-based, stream_session_window) cannot express. Both windows
    // and both aggregations partition by user_id — no global window, no
    // skew beyond a single user's history.
    "win_gaps_islands" -> QueryDef(
      (spark, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("event_id")
        val byUserType = Window.partitionBy("user_id", "event_type").orderBy("event_id")
        events(spark, dir)
          .withColumn("grp",
            row_number().over(byUser) - row_number().over(byUserType))
          .groupBy("user_id", "event_type", "grp")
          .agg(cnt("len"))
          .groupBy("user_id")
          .agg(cnt("n_streaks"), max(col("len")).cast("long").as("max_streak"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
             |CAST(max(len) AS BIGINT) AS max_streak FROM (
             |SELECT user_id, event_type, grp, CAST(count(*) AS BIGINT) AS len FROM (
             |SELECT user_id, event_type,
             |row_number() OVER (PARTITION BY user_id ORDER BY event_id)
             |- row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS grp
             |FROM events)
             |GROUP BY user_id, event_type, grp)
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // cume_dist + nth_value — the two window functions the surface still
    // lacked. cume_dist is rank-family (frame-less in both engines; the
    // explicit-frame rule doesn't apply), and its peer groups are
    // singletons here because the ordering (ts, event_id) is tie-free —
    // event_id is unique — so both engines compute the identical
    // k/n double division. nth_value rides an explicit ROWS frame
    // (unbounded preceding → current row): "the 3rd value seen so far",
    // null until three rows have arrived. Both windows share ONE
    // partition+order (user_id; per-user history), so the plan is a
    // single hash exchange + per-partition sort feeding both Window
    // evals — no global window, no extra shuffle, skew bounded by a
    // single user's history at any scale.
    "win_cume_dist" -> QueryDef(
      (spark, dir) => {
        val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(spark, dir)
          .select(col("event_id"), col("user_id"),
            cume_dist().over(byTs).as("cd"),
            nth_value(col("value"), 3)
              .over(byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("v3"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, cd, v3 FROM (
             |SELECT event_id, user_id,
             |cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cd,
             |nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v3
             |FROM events)
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // RANGE frame over event TIME — the frame shape every declared
    // window so far lacks (all are ROWS frames): per user, the trailing
    // ONE HOUR of activity, i.e. "events and spend in the last hour at
    // each event". ROWS frames can't express this (row counts ≠ time
    // spans); RANGE over an integer seconds key can, identically on
    // both engines (the portable day/hour/min/sec arithmetic — no
    // interval types). Peers with the same second share one frame, so
    // the output is deterministic without an event_id tiebreak in the
    // ORDER. Scale shape: one user_id exchange + per-partition sort —
    // the same single-shuffle profile as every other window here; the
    // frame bound is evaluated inside the window operator, no
    // self-join (the naive form is events x events on a time predicate).
    "win_range_frame" -> QueryDef(
      (spark, dir) => {
        val secs = (datediff(col("ts").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long") * 86400 + hour(col("ts")).cast("long") * 3600
          + minute(col("ts")).cast("long") * 60 + second(col("ts")).cast("long"))
        val w = Window.partitionBy("user_id").orderBy("secs")
          .rangeBetween(-3600L, Window.currentRow)
        events(spark, dir)
          .withColumn("secs", secs)
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).cast("long").as("n_1h"),
            pround(sum(dec(col("value"), 14, 2)).over(w).cast("double"), 2).as("sum_1h"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some(s"""SELECT event_id, user_id, n_1h, sum_1h FROM (
             |SELECT event_id, user_id,
             |CAST(count(*) OVER w AS BIGINT) AS n_1h,
             |${proundSql("CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE)", 2)} AS sum_1h
             |FROM (SELECT event_id, user_id, value,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) * 86400
             | + CAST(hour(ts) AS BIGINT) * 3600 + CAST(minute(ts) AS BIGINT) * 60
             | + CAST(second(ts) AS BIGINT) AS secs FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY secs
             |RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Running DISTINCT count — the window composition for "breadth over
    // time": a first-occurrence flag (row_number over (user, type) = 1)
    // turned into a running sum per user gives, at every event, how many
    // distinct event types the user has touched so far; the declared
    // output is the adoption summary — events to reach breadth 3
    // ("time-to-third-feature"), total breadth, event count. A naive
    // running count(DISTINCT) window would re-scan the frame per row
    // (quadratic); the flag+sum form is two linear window passes SHARING
    // one (user) partitioning, then a bounded per-user agg. Ordering is
    // total — (ts, event_id) — so flags, positions, and the summary are
    // all deterministic.
    "win_running_distinct" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byFirst = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(spark, dir, "events")
          .withColumn("flag",
            when(row_number().over(byFirst) === 1, 1L).otherwise(0L))
          .withColumn("run", sum(col("flag"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pos", row_number().over(byUser).cast("long"))
          .groupBy("user_id")
          .agg(cnt("n_events"),
            max(col("run")).as("distinct_types"),
            min(when(col("run") >= 3, col("pos"))).as("pos_to_3"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |max(run) AS distinct_types,
             |min(CASE WHEN run >= 3 THEN pos END) AS pos_to_3
             |FROM (SELECT user_id,
             |CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run,
             |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS pos
             |FROM (SELECT user_id, event_type, ts, event_id,
             |CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
             |ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS flag
             |FROM events))
             |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "))))
}
