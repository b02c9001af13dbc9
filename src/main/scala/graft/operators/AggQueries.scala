package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core._

/** Aggregation operators — north-star analytics surface (SURVEY.md §2.B).
  *
  * All plain groupBys here compile to partial (map-side) + final hash
  * aggregation, so the shuffle carries pre-combined state, not raw rows —
  * the property that keeps these O(distinct keys), not O(rows), at 100 TB.
  * Exact distinct counts do need a key shuffle; the scalable alternative is
  * `approx_distinct_hll` (SimilarityQueries) built on HLL++ partial merge.
  */
object AggQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Flagship: TPC-H Q1 pricing summary (decimal-exact, SURVEY §7.3).
    "agg_pricing_summary" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            cnt("cnt"),
            moneySum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_price"),
            // disc price multiplies IN DECIMAL (2dp × 2dp → exact 4dp) and
            // rounds once after the sum — rounding the double product per
            // row lands on exact .xx5 boundaries where engines disagree.
            round(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 12, 2))), 2)
              .cast("double").as("sum_disc_price"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(count(*) AS BIGINT) AS cnt,
             |CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price
             |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "))),

    "agg_distinct_count" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).cast("long").as("users"), cnt("cnt"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // GROUPING SETS / ROLLUP / CUBE — one scan, Expand node, partial agg.
    "agg_grouping_sets" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders").createOrReplaceTempView("graft_gs_orders")
        spark.sql(
          """SELECT coalesce(o_orderpriority, 'ALL') AS p,
            |       coalesce(o_orderstatus, 'ALL') AS s,
            |       CAST(count(*) AS BIGINT) AS c
            |FROM graft_gs_orders
            |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
            |ORDER BY p, s""".stripMargin)
      },
      Some("""SELECT coalesce(o_orderpriority, 'ALL') AS p,
             |coalesce(o_orderstatus, 'ALL') AS s,
             |CAST(count(*) AS BIGINT) AS c
             |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
             |ORDER BY p, s""".stripMargin.replace("\n", " "))),

    "agg_rollup" -> QueryDef(
      (spark, dir) => {
        // DataFrame rollup + re-select of the grouping columns trips
        // Spark's ambiguous-self-reference check (the rollup output and
        // its child both expose the names) — SQL ROLLUP resolves cleanly.
        t(spark, dir, "customer")
          .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"))
          .createOrReplaceTempView("graft_rollup_cn")
        spark.sql(
          """SELECT coalesce(r_name, 'ALL') AS r, coalesce(n_name, 'ALL') AS n,
            |       CAST(count(*) AS BIGINT) AS customers
            |FROM graft_rollup_cn GROUP BY ROLLUP (r_name, n_name)
            |ORDER BY r, n""".stripMargin)
      },
      Some("""SELECT coalesce(r_name, 'ALL') AS r, coalesce(n_name, 'ALL') AS n,
             |CAST(count(*) AS BIGINT) AS customers
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name) ORDER BY r, n""".stripMargin.replace("\n", " "))),

    "agg_cube" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(cnt("c"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("s"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("p"), col("c"))
          .orderBy(col("s"), col("p"))
      },
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS s,
             |coalesce(o_orderpriority, 'ALL') AS p,
             |CAST(count(*) AS BIGINT) AS c
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY s, p""".stripMargin.replace("\n", " "))),

    // Per-group top-k: window row_number inside each brand partition —
    // shuffles once on the group key; never a global sort.
    "agg_topk_groups" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(spark, dir, "part")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("p_brand"), col("rnk"), col("p_partkey"),
            dec(col("p_retailprice"), 12, 2).cast("double").as("retail"))
          .orderBy(col("p_brand"), col("rnk"))
      },
      Some("""SELECT p_brand, rnk, p_partkey, retail FROM (SELECT p_brand,
             |CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk,
             |p_partkey, CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS retail
             |FROM part) WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin.replace("\n", " "))),

    // Exact interpolated percentiles: both engines compute
    // rank = p·(n−1) over the sorted values and linearly interpolate
    // (Spark `percentile`, DuckDB `quantile_cont`) — same IEEE ops, then
    // pround. A sort-based aggregate: at scale prefer approx_percentile
    // (sketch, partial-agg) unless exactness is contractual.
    "agg_median_quartiles" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(pround(expr("percentile(value, 0.5)"), 2).as("median_v"),
            pround(expr("percentile(value, 0.25)"), 2).as("q1_v"),
            pround(expr("percentile(value, 0.9)"), 2).as("p90_v"),
            cnt("cnt"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type,
             |${proundSql("quantile_cont(value, 0.5)", 2)} AS median_v,
             |${proundSql("quantile_cont(value, 0.25)", 2)} AS q1_v,
             |${proundSql("quantile_cont(value, 0.9)", 2)} AS p90_v,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Pivot/reshape: wide per-user value sums over the 5 known event
    // types. Spark `pivot` with an EXPLICIT value list stays a single
    // partial+final agg (no extra distinct-values job, deterministic
    // column order); the oracle expresses the identical reshape as
    // conditional aggregation.
    "agg_pivot_events" -> QueryDef(
      (spark, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        t(spark, dir, "events")
          .groupBy("user_id")
          .pivot("event_type", types)
          .agg(round(sum(dec(col("value"), 14, 2)), 2).cast("double"))
          .orderBy(col("user_id"))
          .limit(200)
      },
      Some {
        val cols = Seq("click", "error", "purchase", "signup", "view").map { t =>
          s"CAST(round(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(14,2)) END), 2) AS DOUBLE) AS $t"
        }.mkString(", ")
        s"""SELECT user_id, $cols FROM events
           |GROUP BY user_id ORDER BY user_id LIMIT 200""".stripMargin.replace("\n", " ")
      }),

    // Conversion funnel (view → later purchase, ordered by event_id) —
    // the classic event-analytics shape. Two chained hash aggregates,
    // both partial+final: per-user conditional minima first (shuffle
    // carries 2 longs per user), then one global row. No window, no
    // per-user sort — at 100 TB the whole funnel is two map-side-combined
    // exchanges.
    "agg_event_funnel" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", col("event_id"))).as("fv"),
            min(when(col("event_type") === "purchase", col("event_id"))).as("fp"))
          .agg(
            count(col("fv")).cast("long").as("viewers"),
            count(col("fp")).cast("long").as("purchasers"),
            sum(when(col("fv") < col("fp"), 1L).otherwise(0L)).cast("long").as("converted"))
      },
      Some("""SELECT CAST(count(fv) AS BIGINT) AS viewers,
             |CAST(count(fp) AS BIGINT) AS purchasers,
             |CAST(sum(CASE WHEN fv < fp THEN 1 ELSE 0 END) AS BIGINT) AS converted
             |FROM (SELECT user_id,
             |min(CASE WHEN event_type = 'view' THEN event_id END) AS fv,
             |min(CASE WHEN event_type = 'purchase' THEN event_id END) AS fp
             |FROM events GROUP BY user_id)""".stripMargin.replace("\n", " "))),

    // Numeric histogram (width_bucket shape with fixed-width bins).
    // Bucket assignment is ONE double division by a constant + floor —
    // identical IEEE ops in both engines, no width_bucket dialect
    // divergence. Partial+final agg on ≤ ~30 bucket keys: the shuffle
    // carries bucket subtotals, so the histogram of a 100 TB table costs
    // one map pass + a ~30-row exchange.
    "agg_histogram_bins" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .withColumn("bucket",
            floor(col("o_totalprice") / lit(25000.0)).cast("long"))
          .groupBy("bucket")
          .agg(cnt("cnt"), moneySum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
             |CAST(count(*) AS BIGINT) AS cnt,
             |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "))),

    // Portable exact variance/stddev: engines disagree on incremental
    // variance (Welford vs two-pass vs naive accumulate in double), so
    // the declared form computes the EXACT decimal moments (n, Σx, Σx²
    // — value is 2dp, so x² is exact at 4dp; both sums are exact decimal
    // partial+final aggregates) and derives population variance with one
    // fixed IEEE double sequence at the end: (Σx² − Σx·Σx/n)/n. Same
    // expression tree on both sides ⇒ identical doubles. One map-side-
    // combined shuffle of 3 numbers per group at any scale.
    "agg_variance_stats" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(cnt("n"),
            sum(dec(col("value"), 14, 2)).as("s"),
            sum(dec(col("value"), 14, 2) * dec(col("value"), 14, 2)).as("m2"))
          .select(col("event_type"), col("n"),
            pround(col("s").cast("double") / col("n").cast("double"), 4).as("mean_r"),
            pround((col("m2").cast("double")
              - col("s").cast("double") * col("s").cast("double") / col("n").cast("double"))
              / col("n").cast("double"), 4).as("varp_r"),
            pround(sqrt((col("m2").cast("double")
              - col("s").cast("double") * col("s").cast("double") / col("n").cast("double"))
              / col("n").cast("double")), 4).as("stdp_r"))
          .orderBy(col("event_type"))
      },
      Some {
        val n = "CAST(n AS DOUBLE)"
        val s = "CAST(s AS DOUBLE)"
        val m2 = "CAST(m2 AS DOUBLE)"
        val varp = s"($m2 - $s * $s / $n) / $n"
        s"""SELECT event_type, n,
           |${proundSql(s"$s / $n", 4)} AS mean_r,
           |${proundSql(varp, 4)} AS varp_r,
           |${proundSql(s"sqrt($varp)", 4)} AS stdp_r
           |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |sum(CAST(value AS DECIMAL(14,2))) AS s,
           |sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS m2
           |FROM events GROUP BY event_type)
           |ORDER BY event_type""".stripMargin.replace("\n", " ")
      }),

    // Portable covariance/correlation between two event columns (value ×
    // the JSON payload's k) — same moments discipline as
    // agg_variance_stats: the five cross-moments n/Σx/Σy/Σx²/Σy²/Σxy are
    // exact (decimal × small int products stay in decimal; y is integer
    // so Σy/Σy² are plain longs), one shuffle of 6 numbers per group,
    // and Pearson r comes from a fixed IEEE sequence both engines run
    // identically. The engine-native corr()/covar_pop() are Welford-style
    // and partition-order-dependent in the last ulp — unusable in a
    // hash-matched contract; the moments form is also what a map-side-
    // combined 100 TB aggregation wants anyway.
    "agg_corr_stats" -> QueryDef(
      (spark, dir) => {
        val y = get_json_object(col("props"), "$.k").cast("long")
        t(spark, dir, "events")
          .select(col("event_type"), col("value"), y.as("y"))
          // rows with missing/non-numeric k must leave n too, not just the
          // sums — else covp/corr mix moments over different populations
          // (consistent moments give an actual correlation)
          .filter(col("y").isNotNull)
          .groupBy("event_type")
          .agg(cnt("n"),
            sum(dec(col("value"), 14, 2)).as("sx"),
            sum(col("y")).as("sy"),
            sum(dec(col("value"), 14, 2) * dec(col("value"), 14, 2)).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(dec(col("value"), 14, 2) * col("y")).as("sxy"))
          .select(col("event_type"), col("n"),
            pround((col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double") / col("n").cast("double"))
              / col("n").cast("double"), 4).as("covp_r"),
            pround((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * sqrt(col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double"))), 6).as("corr_r"))
          .orderBy(col("event_type"))
      },
      Some {
        val n = "CAST(n AS DOUBLE)"
        val sx = "CAST(sx AS DOUBLE)"
        val sy = "CAST(sy AS DOUBLE)"
        val sxx = "CAST(sxx AS DOUBLE)"
        val syy = "CAST(syy AS DOUBLE)"
        val sxy = "CAST(sxy AS DOUBLE)"
        s"""SELECT event_type, n,
           |${proundSql(s"($sxy - $sx * $sy / $n) / $n", 4)} AS covp_r,
           |${proundSql(s"($n * $sxy - $sx * $sy) / (sqrt($n * $sxx - $sx * $sx) * sqrt($n * $syy - $sy * $sy))", 6)} AS corr_r
           |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |sum(CAST(value AS DECIMAL(14,2))) AS sx,
           |CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sy,
           |sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS sxx,
           |CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT) * CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS syy,
           |sum(CAST(value AS DECIMAL(14,2)) * CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS sxy
           |FROM events WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
           |GROUP BY event_type)
           |ORDER BY event_type""".stripMargin.replace("\n", " ")
      }),

    // Training-mix diversity: Gini impurity of each source's language
    // distribution, 1 − Σ pᵢ² — the balance metric a curation pipeline
    // monitors per shard/source. Gini is chosen over Shannon entropy
    // because it is RATIONAL: counts are exact (decimal squares — two
    // longs multiplied overflow at ~3·10⁹ rows per group, which a 100 TB
    // corpus reaches), and the final 1 − x/y² is a fixed IEEE sequence —
    // no transcendental ln whose last ulp differs per libm. Two chained
    // partial+final aggregates, shuffles bounded by |source|×|lang|.
    "agg_source_diversity" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        t(spark, dir, "documents")
          .groupBy("source", "lang")
          .agg(cnt("n"))
          .groupBy("source")
          .agg(sum(col("n")).cast("long").as("docs"),
            count(lit(1)).cast("long").as("langs"),
            sum(col("n").cast(DecimalType(19, 0)) * col("n").cast(DecimalType(19, 0))).as("sq"))
          .select(col("source"), col("docs"), col("langs"),
            pround(lit(1.0) - col("sq").cast("double")
              / (col("docs").cast("double") * col("docs").cast("double")), 6).as("gini_r"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, docs, langs,
             |${proundSql("1.0 - CAST(sq AS DOUBLE) / (CAST(docs AS DOUBLE) * CAST(docs AS DOUBLE))", 6)} AS gini_r
             |FROM (SELECT source, CAST(sum(n) AS BIGINT) AS docs,
             |CAST(count(*) AS BIGINT) AS langs,
             |sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS sq
             |FROM (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
             |FROM documents GROUP BY source, lang) GROUP BY source)
             |ORDER BY source""".stripMargin.replace("\n", " ")
      )),

    // Cohort retention matrix -- the classic event-analytics consumer of
    // an append stream: users grouped by first-seen week, tracked by how
    // many return in each later week. Weeks are integer day-arithmetic
    // (datediff from a fixed epoch, div 7) rather than date_trunc so the
    // bucket boundary is engine-independent. Shape: the first-seen agg
    // and the events relation both key on user_id, so Catalyst reuses
    // ONE hashpartitioning(user_id) exchange for the agg and the join
    // behind it; the matrix agg is partial+final over (cohort, offset)
    // -- at 100 TB the only corpus-sized shuffle is that single user_id
    // exchange, and count_distinct carries user_id longs only.
    "agg_retention_cohorts" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("user_id"),
            floor(datediff(col("ts").cast("date"), lit("1995-01-01").cast("date")) / 7)
              .cast("long").as("w"))
        val first = ev.groupBy("user_id").agg(min(col("w")).as("w0"))
        ev.join(first, Seq("user_id"))
          .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("offset_w"))
          .agg(countDistinct(col("user_id")).cast("long").as("users"))
          .orderBy(col("cohort_week"), col("offset_w"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |CAST(floor(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS w
             |FROM events),
             |first AS (SELECT user_id, min(w) AS w0 FROM ev GROUP BY user_id)
             |SELECT w0 AS cohort_week, w - w0 AS offset_w,
             |CAST(count(DISTINCT ev.user_id) AS BIGINT) AS users
             |FROM ev JOIN first ON ev.user_id = first.user_id
             |GROUP BY 1, 2 ORDER BY cohort_week, offset_w""".stripMargin.replace("\n", " "))),

    // ClickHouse windowFunnel(window)(ts, cond1, cond2, cond3) — the
    // funnel-depth aggregate CH users reach for first: how far down
    // view → click → purchase each user gets, where every step must land
    // within 7 days of the PREVIOUS step's earliest completion. Chained
    // running conditional mins over ONE per-user (ts, event_id) sort:
    // t1 = earliest view so far; t2 = earliest click after-and-within
    // 7d of t1; level 3 = a purchase after-and-within 7d of t2. The two
    // stacked Window projections share the same partition+order, so the
    // plan is one exchange + one sort + two Window evals + a per-user
    // max-reduce + the O(4)-row level histogram — no self-join per
    // funnel step (the naive form), state per user is two timestamps.
    "agg_window_funnel" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val step = expr("INTERVAL 7 DAYS")
        t(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" &&
            col("t1").isNotNull && col("ts") >= col("t1") &&
            col("ts") <= col("t1") + step, col("ts"))).over(w))
          .groupBy("user_id")
          .agg(max(when(col("t1").isNotNull, 1).otherwise(0)).as("l1"),
            max(when(col("t2").isNotNull, 1).otherwise(0)).as("l2"),
            max(when(col("event_type") === "purchase" && col("t2").isNotNull &&
              col("ts") >= col("t2") && col("ts") <= col("t2") + step, 1)
              .otherwise(0)).as("l3"))
          .groupBy((col("l1") + col("l2") + col("l3")).cast("long").as("level"))
          .agg(cnt("users"))
          .orderBy(col("level"))
      },
      Some("""WITH s AS (
             |SELECT user_id, event_id, ts, event_type,
             |min(CASE WHEN event_type = 'view' THEN ts END)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
             |FROM events),
             |s2 AS (
             |SELECT user_id, event_id, ts, event_type, t1,
             |min(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
             |AND ts >= t1 AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
             |FROM s),
             |s3 AS (
             |SELECT user_id,
             |max(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS l1,
             |max(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS l2,
             |max(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
             |AND ts >= t2 AND ts <= t2 + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS l3
             |FROM s2 GROUP BY user_id)
             |SELECT CAST(l1 + l2 + l3 AS BIGINT) AS level,
             |CAST(count(*) AS BIGINT) AS users
             |FROM s3 GROUP BY 1 ORDER BY level""".stripMargin.replace("\n", " "))),

    // ClickHouse sequenceMatch — event-pattern predicates per user:
    // '(?1).*(?2)' (a view somewhere before a purchase) and '(?1)(?2)'
    // (a view IMMEDIATELY followed by a purchase). The any-gap form is a
    // running seen-view flag over rows ... 1 PRECEDING (strictly-before
    // semantics, tie-broken by event_id like CH breaks ties by sequence
    // order); the adjacent form is one lag(). Both ride the same
    // per-user sort — one exchange, two cheap window evals, then a
    // per-user max-reduce folded to a single summary row (three scalar
    // counts). No joins; per-user state is one bit + one string.
    "agg_sequence_match" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("seen_view",
            max(when(col("event_type") === "view", 1).otherwise(0))
              .over(byTs.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("prev_type", lag(col("event_type"), 1).over(byTs))
          .groupBy("user_id")
          .agg(
            max(when(col("event_type") === "purchase" && col("seen_view") === 1, 1)
              .otherwise(0)).as("m_any"),
            max(when(col("event_type") === "purchase" && col("prev_type") === "view", 1)
              .otherwise(0)).as("m_adj"))
          .agg(cnt("users_total"),
            sum(col("m_any")).cast("long").as("matched_any_gap"),
            sum(col("m_adj")).cast("long").as("matched_adjacent"))
      },
      Some("""WITH s AS (
             |SELECT user_id, event_type,
             |max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |OVER (PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_view,
             |lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |FROM events),
             |u AS (SELECT user_id,
             |max(CASE WHEN event_type = 'purchase' AND seen_view = 1 THEN 1 ELSE 0 END) AS m_any,
             |max(CASE WHEN event_type = 'purchase' AND prev_type = 'view' THEN 1 ELSE 0 END) AS m_adj
             |FROM s GROUP BY user_id)
             |SELECT CAST(count(*) AS BIGINT) AS users_total,
             |CAST(sum(m_any) AS BIGINT) AS matched_any_gap,
             |CAST(sum(m_adj) AS BIGINT) AS matched_adjacent
             |FROM u""".stripMargin.replace("\n", " "))),

    // ClickHouse retention(cond1, cond2, …) — the stepwise cohort
    // aggregate: per user, flag[0] = anchor condition ever true (viewed
    // in week 0 of the corpus), flag[i>0] = anchor AND condition i
    // (clicked in week 1 / purchased in week 2) — CH multiplies every
    // later flag by the anchor, so a user who clicked but never viewed
    // counts for nothing. Summing the flags gives the retention funnel
    // agg_retention_cohorts generalizes; this is the CH signature form.
    // Scale shape: the min-day frontier is one scalar aggregate
    // broadcast back; per-user flags are one combinable max-aggregate
    // pass; the final sums are a second bounded aggregate. No window,
    // no join beyond the scalar, two exchanges total.
    "agg_retention_flags" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("user_id"), col("event_type"),
            datediff(col("ts").cast("date"), lit("1995-01-01").cast("date"))
              .cast("long").as("day"))
        val mind = ev.agg(min(col("day")).as("mind"))
        ev.crossJoin(broadcast(mind))
          .withColumn("off", col("day") - col("mind"))
          .groupBy("user_id")
          .agg(
            max(when(col("event_type") === "view"
              && col("off") >= 0 && col("off") < 7, 1L).otherwise(0L)).as("f0"),
            max(when(col("event_type") === "click"
              && col("off") >= 7 && col("off") < 14, 1L).otherwise(0L)).as("f1"),
            max(when(col("event_type") === "purchase"
              && col("off") >= 14 && col("off") < 21, 1L).otherwise(0L)).as("f2"))
          .agg(cnt("users_total"),
            sum(col("f0")).cast("long").as("r0"),
            sum(col("f0") * col("f1")).cast("long").as("r1"),
            sum(col("f0") * col("f2")).cast("long").as("r2"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
             |FROM events),
             |m AS (SELECT min(day) AS mind FROM ev),
             |u AS (SELECT user_id,
             |max(CASE WHEN event_type = 'view' AND day - mind >= 0 AND day - mind < 7
             |THEN 1 ELSE 0 END) AS f0,
             |max(CASE WHEN event_type = 'click' AND day - mind >= 7 AND day - mind < 14
             |THEN 1 ELSE 0 END) AS f1,
             |max(CASE WHEN event_type = 'purchase' AND day - mind >= 14 AND day - mind < 21
             |THEN 1 ELSE 0 END) AS f2
             |FROM ev CROSS JOIN m GROUP BY user_id)
             |SELECT CAST(count(*) AS BIGINT) AS users_total,
             |CAST(sum(f0) AS BIGINT) AS r0,
             |CAST(sum(f0 * f1) AS BIGINT) AS r1,
             |CAST(sum(f0 * f2) AS BIGINT) AS r2
             |FROM u""".stripMargin.replace("\n", " "))),

    // ClickHouse sequenceCount('(?1).*(?2)')(ts, view, purchase) — how
    // many NON-OVERLAPPING view→purchase chains each user completes
    // (sequenceMatch above answers "at least one?"; this counts them,
    // restarting the search after each match — the CH automaton). The
    // automaton is sequential, but for a 2-step pattern it has a closed
    // windowed form: compress the event stream to view/purchase rows and
    // count the purchases whose IMMEDIATELY PRECEDING view-or-purchase
    // event is a view — each such boundary is exactly one automaton
    // match (extra views while armed are ignored; extra purchases while
    // disarmed are ignored — both collapse into runs, and matches are
    // the v-run→p-run adjacencies). One per-user exchange + sort + one
    // lag window over the pre-filtered rows, then a two-level count —
    // no self-join, no per-row state, scale shape identical to
    // agg_sequence_match.
    "agg_sequence_count" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val vp = t(spark, dir, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(byTs))
        vp.groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase" && col("prev") === "view", 1L)
            .otherwise(0L)).as("m"))
          .agg(cnt("users_total"),
            sum(col("m")).cast("long").as("seq_count_total"),
            sum(when(col("m") > 0, 1L).otherwise(0L)).cast("long").as("users_matched"),
            max(col("m")).cast("long").as("max_per_user"))
      },
      Some("""WITH vp AS (
             |SELECT user_id, event_type,
             |lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |FROM events WHERE event_type IN ('view', 'purchase')),
             |u AS (SELECT user_id,
             |sum(CASE WHEN event_type = 'purchase' AND prev = 'view' THEN 1 ELSE 0 END) AS m
             |FROM vp GROUP BY user_id)
             |SELECT CAST(count(*) AS BIGINT) AS users_total,
             |CAST(sum(m) AS BIGINT) AS seq_count_total,
             |CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_matched,
             |CAST(max(m) AS BIGINT) AS max_per_user
             |FROM u""".stripMargin.replace("\n", " "))),

    // ClickHouse deltaSum — the monotone-increase accumulator for
    // counter-style series (how much did the value RISE, ignoring
    // resets/drops): per (user, type) series ordered by (ts, event_id),
    // sum only the positive step-to-step differences. One lag window
    // over a single (user_id, event_type) exchange+sort, differences
    // taken in DECIMAL(14,2) so the sum is exact and partition-order
    // free, then one bounded per-type aggregate — no self-join (the
    // naive form pairs each row with its successor).
    "agg_delta_sum" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        t(spark, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
            dec(col("value"), 14, 2).as("v"))
          .withColumn("d", col("v") - lag(col("v"), 1).over(w))
          .groupBy("event_type")
          .agg(
            round(sum(when(col("d") > 0, col("d")).otherwise(lit(0).cast("decimal(14,2)"))), 2)
              .cast("double").as("delta_sum"),
            sum(when(col("d") > 0, 1L).otherwise(0L)).cast("long").as("n_rises"),
            cnt("n_rows"))
          .orderBy(col("event_type"))
      },
      Some("""WITH s AS (SELECT event_type,
             |CAST(value AS DECIMAL(14,2)) -
             |lag(CAST(value AS DECIMAL(14,2)), 1)
             |OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS d
             |FROM events)
             |SELECT event_type,
             |CAST(round(sum(CASE WHEN d > 0 THEN d ELSE CAST(0 AS DECIMAL(14,2)) END), 2) AS DOUBLE) AS delta_sum,
             |CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rises,
             |CAST(count(*) AS BIGINT) AS n_rows
             |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // ClickHouse groupArray — ordered array aggregation. collect_list is
    // documented non-deterministic under parallel merge, so the declared
    // form collects (ts, event_id, event_type) STRUCTS and array_sorts
    // them post-agg — struct ordering is lexicographic by field, so the
    // result is exactly ORDER BY (ts, event_id) regardless of partition
    // merge order (the same trick DeterminismSpec relies on repo-wide).
    // First 10 per user keeps the output row bounded; the aggregate
    // itself is partial-combinable (list concat) with per-user state
    // bounded by that user's history — one exchange, no window, no join.
    // Declared output joins the array to one string — engines (and the
    // driver's hasher) disagree on raw-array value comparison, strings
    // are unambiguous.
    "agg_group_array" -> QueryDef(
      (spark, dir) => {
        // CAPPED accumulation: graft_group_array_n is a
        // TypedImperativeAggregate whose buffer is a size-10 max-heap —
        // per-key state is bounded BEFORE any sort, CH groupArray(N)
        // semantics, instead of collect_list materializing the whole
        // per-user history and slicing after. Same declared output
        // (first 10 event types by (ts, event_id)) bit-for-bit; the
        // result is partition-order-independent because "N smallest by a
        // unique key" is a pure function of the input set.
        t(spark, dir, "events")
          .groupBy("user_id")
          .agg(array_join(
            expr("graft_group_array_n(unix_micros(cast(ts as timestamp)), event_id, event_type, 10)"),
            ",").as("first_types"))
          .orderBy(col("user_id"))
          .limit(200)
      },
      Some("""SELECT user_id, array_to_string(types[1:10], ',') AS first_types FROM (
             |SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
             |FROM events GROUP BY user_id)
             |ORDER BY user_id LIMIT 200""".stripMargin.replace("\n", " "))),

    // ClickHouse ORDER BY … WITH FILL — gap filling for a sparse time
    // series: daily counts of a rare event band, with MISSING days
    // materialized as zero rows (what every dashboard needs before a
    // moving average). Scale shape: the only corpus-sized work is the
    // first partial+final day-count aggregate; the calendar is ONE
    // scalar min/max aggregate exploded through sequence() (bounded by
    // the day span, not the corpus) and the fill join runs
    // calendar × day-counts — both already aggregate-sized. An empty
    // series degrades to zero rows (sequence over nulls), not an error.
    "agg_time_fill" -> QueryDef(
      (spark, dir) => {
        val d = t(spark, dir, "events")
          .filter(col("event_type") === "purchase" &&
            col("value") >= 120.0 && col("value") < 130.0)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(cnt("n"))
        val cal = d.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        cal.join(d, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).cast("long").as("n"))
          .orderBy(col("day"))
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
             |FROM events WHERE event_type = 'purchase'
             |AND value >= 120.0 AND value < 130.0 GROUP BY 1),
             |cal AS (SELECT CAST(unnest(generate_series(
             |(SELECT min(day) FROM d), (SELECT max(day) FROM d), INTERVAL 1 DAY)) AS DATE) AS day)
             |SELECT cal.day AS day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
             |FROM cal LEFT JOIN d ON cal.day = d.day
             |ORDER BY day""".stripMargin.replace("\n", " "))),

    // ClickHouse quantileExactWeighted — exact weighted median per group
    // (weight = event_id % 7 + 1, the deterministic stand-in for a
    // repeat count). The naive form windows over the raw corpus — a
    // per-type sort of EVERYTHING on a 5-way skewed key. The scalable
    // form here aggregates FIRST: per-(type, value) weight sums (values
    // are 2-dp in a bounded domain, so this relation is
    // |types| × O(10^4) rows at ANY corpus size), then the cumulative
    // window runs over that bounded relation, and the answer is the
    // smallest value whose doubled running weight reaches the total.
    // Ordering by value alone is total post-aggregation (values unique
    // per group) — fully deterministic.
    "agg_weighted_median" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = t(spark, dir, "events")
          .select(col("event_type"), col("value"),
            (col("event_id") % 7 + 1).as("wt"))
          .groupBy(col("event_type"), col("value"))
          .agg(sum(col("wt")).cast("long").as("w"))
        val byVal = Window.partitionBy("event_type").orderBy("value")
        g.withColumn("cum", sum(col("w"))
            .over(byVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("w"))
            .over(Window.partitionBy("event_type")))
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy(col("event_type"))
          .agg(min(col("value")).as("wmedian"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (SELECT event_type, value,
             |CAST(sum(event_id % 7 + 1) AS BIGINT) AS w
             |FROM events GROUP BY event_type, value),
             |c AS (SELECT event_type, value, w,
             |sum(w) OVER (PARTITION BY event_type ORDER BY value
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |sum(w) OVER (PARTITION BY event_type) AS tot
             |FROM g)
             |SELECT event_type, min(value) AS wmedian FROM c
             |WHERE 2 * cum >= tot GROUP BY event_type
             |ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Approximate percentiles from a FIXED-SIZE sketch — the third
    // portable sketch beside HLL (rows-only) and count-min
    // (oracle-checked), and what one actually runs at 100 TB instead of
    // the sort-based exact `percentile` (CH quantileTDigest signature).
    // Engine-native sketches (Spark approx_percentile, DuckDB
    // approx_quantile) use different algorithms and can't cross-check,
    // so — the sketch_count_min precedent — the sketch here is built
    // from PORTABLE arithmetic: a per-type 256-bin equi-width histogram.
    // Estimate = midpoint of the first bin whose cumulative count
    // reaches ceil(p·n). Declared output carries the estimate AND the
    // exact truth side by side, plus the bin width — the calibration
    // report an approximate quantile ships with (ApproxSketchSpec
    // asserts |approx − exact| ≤ bin_w).
    //
    // Scale shape: the histogram is ≤ |types|·256 rows — the
    // groupBy(type, bin) partials combine map-side, so the shuffle
    // carries a bounded relation regardless of corpus size, and the
    // cumulative window runs over that bounded relation only. The
    // min/max pre-pass is one narrow partial+final aggregate. The exact
    // side is the expensive half — at scale you keep only the sketch;
    // this query is the calibration that says what that buys you.
    "agg_approx_percentile" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val B = 256
        val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
        val stats = ev.groupBy("event_type")
          .agg(min(col("value")).as("mn"), max(col("value")).as("mx"), cnt("n"),
            pround(expr("percentile(value, 0.5)"), 2).as("exact_p50"),
            pround(expr("percentile(value, 0.9)"), 2).as("exact_p90"))
        // identical IEEE order on both engines: ((v−mn)/(mx−mn))·B, floor,
        // clamp to B−1 (v == mx lands in the last bin); degenerate
        // single-value groups guard the division
        val hist = ev
          .join(broadcast(stats.select(col("event_type"), col("mn"), col("mx"))),
            Seq("event_type"))
          .withColumn("bin", when(col("mx") > col("mn"),
            least(floor(((col("value") - col("mn")) / (col("mx") - col("mn"))) * B),
              lit(B - 1L))).otherwise(0L).cast("int"))
          .groupBy("event_type", "bin").agg(cnt("c"))
        val cum = hist.withColumn("cum",
          sum(col("c")).over(Window.partitionBy("event_type").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val est = cum
          .join(broadcast(stats.select(col("event_type"), col("n"))), Seq("event_type"))
          .groupBy("event_type")
          .agg(min(when(col("cum") >= ceil(col("n") * 0.5), col("bin"))).as("b50"),
            min(when(col("cum") >= ceil(col("n") * 0.9), col("bin"))).as("b90"))
        def mid(b: Column) =
          col("mn") + ((col("mx") - col("mn")) / B) * (b.cast("double") + 0.5)
        est.join(broadcast(stats), Seq("event_type"))
          .select(col("event_type"), col("n"),
            pround((col("mx") - col("mn")) / B, 6).as("bin_w"),
            pround(mid(col("b50")), 2).as("approx_p50"), col("exact_p50"),
            pround(mid(col("b90")), 2).as("approx_p90"), col("exact_p90"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ev AS (SELECT event_type, value FROM events),
             |st AS (SELECT event_type, min(value) AS mn, max(value) AS mx,
             |CAST(count(*) AS BIGINT) AS n,
             |${proundSql("quantile_cont(value, 0.5)", 2)} AS exact_p50,
             |${proundSql("quantile_cont(value, 0.9)", 2)} AS exact_p90
             |FROM ev GROUP BY event_type),
             |h AS (SELECT ev.event_type,
             |CAST(CASE WHEN mx > mn
             |THEN least(floor(((value - mn) / (mx - mn)) * 256), 255) ELSE 0 END AS INT) AS bin,
             |CAST(count(*) AS BIGINT) AS c
             |FROM ev JOIN st ON ev.event_type = st.event_type GROUP BY 1, 2),
             |cum AS (SELECT event_type, bin,
             |sum(c) OVER (PARTITION BY event_type ORDER BY bin
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
             |est AS (SELECT cum.event_type,
             |min(CASE WHEN cum >= ceil(n * 0.5) THEN bin END) AS b50,
             |min(CASE WHEN cum >= ceil(n * 0.9) THEN bin END) AS b90
             |FROM cum JOIN st ON cum.event_type = st.event_type GROUP BY 1)
             |SELECT st.event_type, n, ${proundSql("(mx - mn) / 256", 6)} AS bin_w,
             |${proundSql("mn + ((mx - mn) / 256) * (CAST(b50 AS DOUBLE) + 0.5)", 2)} AS approx_p50, exact_p50,
             |${proundSql("mn + ((mx - mn) / 256) * (CAST(b90 AS DOUBLE) + 0.5)", 2)} AS approx_p90, exact_p90
             |FROM est JOIN st ON est.event_type = st.event_type
             |ORDER BY st.event_type""".stripMargin.replace("\n", " "))),

    // CH argMin/argMax signatures: the companion-column value at each
    // group's extremum. Native min_by/max_by (and DuckDB arg_min/arg_max)
    // break ties ARBITRARILY — unusable in a hash-matched contract — so
    // the declared form is the deterministic two-level shape: (1) one
    // partial+final agg finds each group's extremal value; (2) that
    // O(|groups|)-row relation broadcasts back and a second agg takes the
    // MIN companion among rows AT the extremum. Two bounded shuffles,
    // nothing grows with the corpus; the equality probe is exact because
    // both sides compare the identical parquet double, no arithmetic.
    "agg_argminmax" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val ex = ev.groupBy("event_type")
          .agg(min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        ev.join(broadcast(ex), Seq("event_type"))
          .groupBy(col("event_type"), col("min_v"), col("max_v"))
          .agg(
            min(when(col("value") === col("min_v"), col("user_id"))).as("argmin_user"),
            min(when(col("value") === col("max_v"), col("user_id"))).as("argmax_user"))
          .select(col("event_type"), col("min_v"), col("argmin_user"),
            col("max_v"), col("argmax_user"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ex AS (SELECT event_type, min(value) AS min_v, max(value) AS max_v
             |FROM events GROUP BY event_type)
             |SELECT e.event_type, ex.min_v,
             |min(CASE WHEN e.value = ex.min_v THEN e.user_id END) AS argmin_user,
             |ex.max_v,
             |min(CASE WHEN e.value = ex.max_v THEN e.user_id END) AS argmax_user
             |FROM events e JOIN ex ON e.event_type = ex.event_type
             |GROUP BY e.event_type, ex.min_v, ex.max_v
             |ORDER BY e.event_type""".stripMargin.replace("\n", " "))),

    // CH simpleLinearRegression / ANSI regr_slope+regr_intercept, in the
    // moments discipline of agg_corr_stats: the five power sums
    // n/Σx/Σy/Σx²/Σxy are EXACT decimal aggregates ((12,2)×(12,2)
    // products stay in decimal), one map-side-combined shuffle of five
    // numbers per group, and both slope and intercept come from
    // closed-form fixed IEEE sequences over those exact sums — intercept
    // uses the closed form (Σy·Σx² − Σx·Σxy)/(nΣx² − Σx²) rather than
    // the rounded slope, so no rounding error compounds. The engine-
    // native regr_* are Welford-style and partition-order-dependent in
    // the last ulp; the moments form is also the only shape that
    // map-side-combines at 100 TB.
    "agg_linreg" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(cnt("n"),
            sum(dec(col("l_quantity"), 12, 2)).as("sx"),
            sum(dec(col("l_extendedprice"), 12, 2)).as("sy"),
            sum(dec(col("l_quantity"), 12, 2) * dec(col("l_quantity"), 12, 2)).as("sxx"),
            sum(dec(col("l_quantity"), 12, 2) * dec(col("l_extendedprice"), 12, 2)).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            pround((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")), 6).as("slope_r"),
            pround((col("sy").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sxy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")), 4).as("intercept_r"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        val n = "CAST(n AS DOUBLE)"
        val sx = "CAST(sx AS DOUBLE)"
        val sy = "CAST(sy AS DOUBLE)"
        val sxx = "CAST(sxx AS DOUBLE)"
        val sxy = "CAST(sxy AS DOUBLE)"
        s"""SELECT l_returnflag, n,
           |${proundSql(s"($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx)", 6)} AS slope_r,
           |${proundSql(s"($sy * $sxx - $sx * $sxy) / ($n * $sxx - $sx * $sx)", 4)} AS intercept_r
           |FROM (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           |sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
           |sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
           |sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
           |sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
           |FROM lineitem GROUP BY l_returnflag)
           |ORDER BY l_returnflag""".stripMargin.replace("\n", " ")
      }),

    // CH skewPop/kurtPop: population skewness and excess kurtosis from
    // EXACT third/fourth power sums. The higher powers are staged through
    // explicit intermediate casts so both engines stay inside decimal
    // exactness: x=(14,2) → x²=(29,4)→cast (18,4) → x³=(33,6),
    // x⁴=(37,8); every product is exact (value² < 10¹⁴ by domain) and
    // every sum map-side-combines — the shuffle carries five numbers per
    // group at any corpus size. Central moments and the final
    // skew = m₃/m₂^1.5, kurt = m₄/m₂² − 3 are fixed IEEE sequences over
    // those exact sums, identical on both engines (pround(4) guards
    // nothing but formatting). The engine-native skewness()/kurtosis()
    // disagree between Spark (population) and DuckDB (sample) AND are
    // order-dependent — the moments form is the portable one.
    "agg_skew_kurt" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val x = dec(col("value"), 14, 2)
        val x2 = (x * x).cast(DecimalType(18, 4))
        val sums = t(spark, dir, "events")
          .groupBy("event_type")
          .agg(cnt("n"), sum(x).as("s1"), sum(x2).as("s2"),
            sum(x2 * x).as("s3"), sum(x2 * x2).as("s4"))
        val n = col("n").cast("double")
        val m = col("s1").cast("double") / n
        val m2 = col("s2").cast("double") / n - m * m
        val m3 = (col("s3").cast("double") / n - lit(3.0) * m * (col("s2").cast("double") / n)
          + lit(2.0) * m * m * m)
        val m4 = (col("s4").cast("double") / n - lit(4.0) * m * (col("s3").cast("double") / n)
          + lit(6.0) * m * m * (col("s2").cast("double") / n) - lit(3.0) * m * m * m * m)
        sums.select(col("event_type"), col("n"),
            pround(m, 4).as("mean_r"),
            // m2^1.5 as m2·√m2 — sqrt is IEEE-correctly-rounded on both
            // engines; pow(x, 1.5) is transcendental-libm and divergent
            // in the last ulp (§7.3 rule 5)
            pround(m3 / (m2 * sqrt(m2)), 4).as("skew_r"),
            pround(m4 / (m2 * m2) - lit(3.0), 4).as("kurt_r"))
          .orderBy(col("event_type"))
      },
      Some {
        val n = "CAST(n AS DOUBLE)"
        val m = s"(CAST(s1 AS DOUBLE) / $n)"
        val m2 = s"(CAST(s2 AS DOUBLE) / $n - $m * $m)"
        val m3 = s"(CAST(s3 AS DOUBLE) / $n - 3.0 * $m * (CAST(s2 AS DOUBLE) / $n) + 2.0 * $m * $m * $m)"
        val m4 = s"(CAST(s4 AS DOUBLE) / $n - 4.0 * $m * (CAST(s3 AS DOUBLE) / $n) + 6.0 * $m * $m * (CAST(s2 AS DOUBLE) / $n) - 3.0 * $m * $m * $m * $m)"
        s"""SELECT event_type, n,
           |${proundSql(m, 4)} AS mean_r,
           |${proundSql(s"$m3 / ($m2 * sqrt($m2))", 4)} AS skew_r,
           |${proundSql(s"$m4 / ($m2 * $m2) - 3.0", 4)} AS kurt_r
           |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |sum(CAST(value AS DECIMAL(14,2))) AS s1,
           |sum(CAST(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)) AS DECIMAL(19,4))) AS s2,
           |sum(CAST(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)) AS DECIMAL(19,4)) * CAST(value AS DECIMAL(14,2))) AS s3,
           |sum(CAST(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)) AS DECIMAL(19,4)) * CAST(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)) AS DECIMAL(19,4))) AS s4
           |FROM events GROUP BY event_type)
           |ORDER BY event_type""".stripMargin.replace("\n", " ")
      }),

    // CH sumMap / the -Map combinator family: rows carry PARALLEL
    // key/value arrays and the aggregate sums values per key within the
    // group, returning a sorted map. The scalable relational form is
    // explode(zip) → partial+final agg — the map entries become rows
    // BEFORE the shuffle, so map-side combine collapses each partition's
    // duplicates and the exchange carries (group, key) partials, never
    // whole maps (CH's array-pair storage is denormalization a
    // relational engine re-normalizes for free). Each event contributes
    // under its own type key and the 'all' rollup key — the classic
    // sumMap metrics-ingestion shape; output is the map as sorted rows.
    "agg_sum_map" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(col("user_id"),
            explode(array(col("event_type"), lit("all"))).as("k"),
            col("value"))
          .groupBy("user_id", "k")
          .agg(cnt("n"),
            round(sum(dec(col("value"), 14, 2)), 2).cast("double").as("val_sum"))
          .orderBy(col("user_id"), col("k"))
      },
      Some("""SELECT user_id, k, CAST(count(*) AS BIGINT) AS n,
             |CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS val_sum
             |FROM (SELECT user_id, unnest([event_type, 'all']) AS k, value FROM events)
             |GROUP BY user_id, k ORDER BY user_id, k""".stripMargin.replace("\n", " "))),

    // CH maxIntersections: the peak number of simultaneously-open
    // intervals — classic sweep-line as dataflow. Each event opens a
    // deterministic interval [t, t + 30 + event_id mod 120 s); open/close
    // become (+1/−1) boundary points, the running sum inside a PER-USER
    // window (closes sort before opens at equal t — half-open semantics)
    // is the live-interval count, and its per-user max is the answer.
    // Scale shape: the only window is partitioned by user_id — per-key
    // state is one counter, no corpus-wide ordering anywhere; the output
    // folds to the O(distinct levels) concurrency histogram.
    "agg_max_intersections" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(spark, dir, "events")
          .select(col("user_id"),
            unix_timestamp(col("ts")).as("s"),
            (unix_timestamp(col("ts")) + lit(30) + col("event_id") % 120).as("e"))
        val pts = ev.select(col("user_id"), col("s").as("tp"), lit(1L).as("d"))
          .unionAll(ev.select(col("user_id"), col("e").as("tp"), lit(-1L).as("d")))
        val w = Window.partitionBy("user_id").orderBy(col("tp"), col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("live", sum(col("d")).over(w))
          .groupBy("user_id").agg(max(col("live")).as("peak"))
          .groupBy("peak").agg(cnt("users"))
          .orderBy(col("peak"))
      },
      Some("""WITH iv AS (SELECT user_id,
             |CAST(floor(epoch(ts)) AS BIGINT) AS s,
             |CAST(floor(epoch(ts)) AS BIGINT) + 30 + event_id % 120 AS e
             |FROM events),
             |pts AS (SELECT user_id, s AS tp, CAST(1 AS BIGINT) AS d FROM iv
             |UNION ALL SELECT user_id, e AS tp, CAST(-1 AS BIGINT) AS d FROM iv),
             |liv AS (SELECT user_id, sum(d) OVER (PARTITION BY user_id
             |ORDER BY tp, d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
             |FROM pts),
             |pk AS (SELECT user_id, CAST(max(live) AS BIGINT) AS peak FROM liv GROUP BY user_id)
             |SELECT peak, CAST(count(*) AS BIGINT) AS users FROM pk
             |GROUP BY peak ORDER BY peak""".stripMargin.replace("\n", " "))),

    // CH groupBitmapAnd/Or-style audience-overlap analytics: for every
    // pair of event types, how many users did BOTH (∩), EITHER (∪), and
    // the Jaccard overlap. The bitmap-engine shape without the bitmap:
    // the distinct (user, type) relation is the bitmap's bit list —
    // bounded by |users|·|types| — and the pair intersection is a
    // SELF-JOIN ON USER of that relation (≤ |types|² rows per user, a
    // constant), never a corpus scan; n_or falls out of
    // inclusion-exclusion rather than a second pass. Per-type totals are
    // a ≤|types|-row broadcast. At 100 TB the distinct() partial-aggs
    // map-side and everything downstream is bounded by user count, not
    // event count — exactly the job a roaring-bitmap engine does, in
    // relational form.
    "agg_bitmap_ops" -> QueryDef(
      (spark, dir) => {
        val ut = t(spark, dir, "events")
          .select(col("user_id"), col("event_type")).distinct()
          .scopedPersist()
        val totals = ut.groupBy("event_type").agg(cnt("n"))
        val pairs = ut.as("a")
          .join(ut.as("b"), col("a.user_id") === col("b.user_id")
            && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
          .agg(cnt("n_and"))
        pairs
          .join(broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
          .join(broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
          .withColumn("n_or", col("n_a") + col("n_b") - col("n_and"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_and"), col("n_or"),
            pround(col("n_and").cast("double") / col("n_or").cast("double"), 6).as("jaccard"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |CAST(count(*) AS BIGINT) AS n_and
             |FROM ut a JOIN ut b ON a.user_id = b.user_id
             |AND a.event_type < b.event_type GROUP BY 1, 2)
             |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_and,
             |ta.n + tb.n - n_and AS n_or,
             |${proundSql("CAST(n_and AS DOUBLE) / CAST(ta.n + tb.n - n_and AS DOUBLE)", 6)} AS jaccard
             |FROM p JOIN tot ta ON p.type_a = ta.event_type
             |JOIN tot tb ON p.type_b = tb.event_type
             |ORDER BY type_a, type_b""".stripMargin.replace("\n", " "))),

    // CH uniqUpTo(N): the exact distinct count while ≤ N, saturating at
    // N+1 ("more than N") — the cardinality-guard aggregate. The declared
    // form uses the custom graft_uniq_upto TypedImperativeAggregate
    // (plans/UniqUpTo.scala): per-group state is a hash set HARD-CAPPED
    // at N+1 longs, map-side combinable, so "does this key exceed N
    // distinct?" costs O(N) state per group at ANY corpus size — the
    // question count(DISTINCT) answers with O(distinct) shuffle state.
    // Saturation is a pure function of the input set, so the result is
    // partition-order-independent (UniqUpToSpec proves the law against
    // least(count distinct, N+1) and DeterminismSpec re-partitions it).
    "agg_uniq_upto" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(expr("graft_uniq_upto(user_id, 10)").as("users_upto10"),
            expr("graft_uniq_upto(user_id % 4, 10)").as("lanes_upto10"),
            cnt("cnt"))
          .withColumn("over_10", (col("users_upto10") > 10).cast("boolean"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |CAST(least(count(DISTINCT user_id), 11) AS BIGINT) AS users_upto10,
             |CAST(least(count(DISTINCT user_id % 4), 11) AS BIGINT) AS lanes_upto10,
             |CAST(count(*) AS BIGINT) AS cnt,
             |least(count(DISTINCT user_id), 11) > 10 AS over_10
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // The CH -If combinator family (countIf/sumIf/avgIf/minIf/maxIf):
    // conditional aggregates fused into ONE pass — the idiom that
    // replaces five filtered subqueries with five conditional branches
    // inside a single partial+final agg (one corpus scan, one bounded
    // shuffle, all branches codegen'd). sumIf stays decimal-exact; avgIf
    // is one double division of the exact pieces; minIf/maxIf on the
    // raw parquet double need no rounding at all.
    "agg_cond_combinators" -> QueryDef(
      (spark, dir) => {
        val hi = col("value") >= 100.0
        t(spark, dir, "events")
          .groupBy("event_type")
          .agg(
            sum(when(hi, 1L).otherwise(0L)).cast("long").as("count_if"),
            sum(when(hi, dec(col("value"), 14, 2)).otherwise(lit(0).cast("decimal(14,2)"))).as("s_dec"),
            min(when(hi, col("value"))).as("min_if"),
            max(when(hi, col("value"))).as("max_if"))
          .select(col("event_type"), col("count_if"),
            round(col("s_dec"), 2).cast("double").as("sum_if"),
            // guard the empty-predicate group: avgIf of nothing is NULL
            // (both engines), never a 0/0 NaN
            when(col("count_if") > 0,
              pround(col("s_dec").cast("double") / col("count_if").cast("double"), 4))
              .as("avg_if"),
            col("min_if"), col("max_if"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count_if,
             |CAST(round(s_dec, 2) AS DOUBLE) AS sum_if,
             |CASE WHEN count_if > 0
             |THEN ${proundSql("CAST(s_dec AS DOUBLE) / CAST(count_if AS DOUBLE)", 4)} END AS avg_if,
             |min_if, max_if FROM (SELECT event_type,
             |CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS count_if,
             |sum(CASE WHEN value >= 100.0 THEN CAST(value AS DECIMAL(14,2)) ELSE CAST(0 AS DECIMAL(14,2)) END) AS s_dec,
             |min(CASE WHEN value >= 100.0 THEN value END) AS min_if,
             |max(CASE WHEN value >= 100.0 THEN value END) AS max_if
             |FROM events GROUP BY event_type)
             |ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Time-to-convert — the product-analytics latency funnel: per user,
    // the gap between the FIRST view and the first purchase AT OR AFTER
    // it, summarized as the conversion-latency distribution. Two-level
    // shape: (1) one conditional agg folds each user to a single
    // first-view timestamp (O(|users|) relation); (2) purchases join
    // back on user (equi, shuffled-hash — both sides user-keyed) and a
    // min-agg picks the first qualifying purchase; (3) the summary is
    // one bounded agg over per-user latencies. The exact interpolated
    // percentile is over |converters| values — the agg_median_quartiles
    // trade-off note applies at 100 TB (switch to the
    // agg_approx_percentile sketch when exactness isn't contractual).
    "agg_time_to_convert" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("s"))
        val firstView = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("s")).as("v"))
        // the >= v predicate lives IN the join condition — a post-join
        // filter would drop viewers whose purchases all predate the view
        // instead of keeping them as non-converters
        val pur = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("s").as("ps"))
        val lat = firstView
          .join(pur, col("user_id") === col("pu") && col("ps") >= col("v"), "left")
          .groupBy("user_id")
          .agg(min(col("v")).as("v"), min(col("ps")).as("p"))
          .select(col("user_id"), (col("p") - col("v")).as("lat"))
        lat.agg(cnt("viewers"),
            sum(when(col("lat").isNotNull, 1L).otherwise(0L)).cast("long").as("converted"),
            pround(expr("percentile(lat, 0.5)"), 2).as("p50_s"),
            pround(expr("percentile(lat, 0.9)"), 2).as("p90_s"),
            max(col("lat")).as("max_s"))
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type,
             |CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
             |fv AS (SELECT user_id, min(s) AS v FROM ev
             |WHERE event_type = 'view' GROUP BY user_id),
             |lat AS (SELECT fv.user_id, min(p.s) - fv.v AS lat
             |FROM fv LEFT JOIN ev p ON p.user_id = fv.user_id
             |AND p.event_type = 'purchase' AND p.s >= fv.v
             |GROUP BY fv.user_id, fv.v)
             |SELECT CAST(count(*) AS BIGINT) AS viewers,
             |CAST(sum(CASE WHEN lat IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS converted,
             |${proundSql("quantile_cont(lat, 0.5)", 2)} AS p50_s,
             |${proundSql("quantile_cont(lat, 0.9)", 2)} AS p90_s,
             |max(lat) AS max_s FROM lat""".stripMargin.replace("\n", " "))),

    // First-order behavioral transition matrix — P(next = b | current = a)
    // over each user's event sequence: the Markov model behind "what do
    // users do after X" product analytics and next-event prediction
    // baselines. One lag window per user (a single value of state),
    // a pair-count agg bounded by |types|² post-combine, and row
    // normalization against the broadcast per-source totals — the
    // transition probability is one double division over exact counts.
    // Sequence order is total ((ts, event_id)), so the pair counts are
    // deterministic under any partitioning.
    "agg_transition_matrix" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = t(spark, dir, "events")
          .withColumn("next_t", lead(col("event_type"), 1).over(byUser))
          .filter(col("next_t").isNotNull)
          .groupBy(col("event_type").as("from_t"), col("next_t").as("to_t"))
          .agg(cnt("n"))
        val totals = pairs.groupBy("from_t")
          .agg(sum(col("n")).cast("long").as("row_n"))
        pairs.join(broadcast(totals), Seq("from_t"))
          .select(col("from_t"), col("to_t"), col("n"),
            pround(col("n").cast("double") / col("row_n").cast("double"), 6).as("p"))
          .orderBy(col("from_t"), col("to_t"))
      },
      Some(s"""WITH seq AS (SELECT event_type AS from_t,
             |lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_t
             |FROM events),
             |p AS (SELECT from_t, to_t, CAST(count(*) AS BIGINT) AS n
             |FROM seq WHERE to_t IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_t, CAST(sum(n) AS BIGINT) AS row_n FROM p GROUP BY 1)
             |SELECT p.from_t, to_t, n,
             |${proundSql("CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)", 6)} AS p
             |FROM p JOIN t ON p.from_t = t.from_t
             |ORDER BY p.from_t, to_t""".stripMargin.replace("\n", " "))),

    // Time-decayed sum (CH exponentialTimeDecayedSum signature, half-life
    // form): recent activity counts more, weight halves per day of age.
    // The decay is QUANTIZED TO WHOLE DAYS so the whole aggregate stays
    // exact integer/decimal arithmetic: weight = 2^(-age_d) with age_d a
    // bounded integer → each term is cents · 2^(maxAge − age_d), an exact
    // long product summed in DECIMAL(38,0) (map-side combinable — no
    // float fold order exists to diverge), and the final
    // S / 2^maxAge / 100 is one fixed IEEE sequence. A continuous-time
    // decay (2^(−age/86400.0)) would put libm pow in the aggregate —
    // order-independent only in exact arithmetic, so the day quantum IS
    // the portability design, stated in the output name. The frontier
    // (max day) broadcasts as a scalar, same as cdc_graphite_rollup.
    "agg_time_decay" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("event_type"), col("value"),
            expr("datediff(cast(ts as date), date '1995-01-01')").cast("long").as("day"))
        val frontier = ev.agg(max(col("day")).as("maxd"))
        ev.crossJoin(broadcast(frontier))
          .withColumn("age_d", least(col("maxd") - col("day"), lit(40L)))
          .withColumn("cents", expr("cast(floor(value * 100 + 0.5) as bigint)"))
          .withColumn("term",
            (col("cents") * expr("shiftleft(cast(1 as bigint), cast(40 - age_d as int))"))
              .cast("decimal(38,0)"))
          .groupBy("event_type")
          .agg(cnt("cnt"), sum(col("term")).as("s"))
          .select(col("event_type"), col("cnt"),
            pround(col("s").cast("double") / lit(math.pow(2.0, 40)) / lit(100.0), 4)
              .as("decayed_sum_halflife_1d"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ev AS (SELECT event_type, value,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
             |FROM events),
             |f AS (SELECT max(day) AS maxd FROM ev),
             |tm AS (SELECT event_type,
             |CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
             | * (CAST(1 AS BIGINT) << CAST(40 - least(maxd - day, 40) AS INT))
             | AS DECIMAL(38,0)) AS term
             |FROM ev CROSS JOIN f)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             |${proundSql("CAST(sum(term) AS DOUBLE) / 1099511627776.0 / 100.0", 4)} AS decayed_sum_halflife_1d
             |FROM tm GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Cohort lifetime value — the revenue companion to
    // agg_retention_cohorts: users cohort by FIRST-purchase week, and
    // each later purchase's revenue lands in the (cohort, age) cell;
    // the running cumulative per cohort is the LTV curve a growth team
    // reads. Shapes: one conditional agg folds each user to a cohort
    // week (O(|users|)); purchases equi-join back on user; the cell agg
    // is |weeks|²-bounded and the cumulative window runs over THAT
    // bounded relation only. Money is decimal-sum → round → double
    // (§7.3); weeks are integer day-arithmetic (datediff div 7 — the
    // agg_retention_cohorts trick, no date_trunc locale variance).
    "agg_cohort_ltv" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pur = t(spark, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value"),
            expr("datediff(cast(ts as date), date '1995-01-01') div 7").as("wk"))
        // per-user cohort week: unbounded at corpus scale (one row per
        // buying user), so no broadcast hint — both sides key on
        // user_id, AQE broadcasts only while the relation is small
        val cohorts = pur.groupBy("user_id").agg(min(col("wk")).as("cw"))
        val cells = pur.join(cohorts, Seq("user_id"))
          .groupBy(col("cw"), (col("wk") - col("cw")).as("age_w"))
          .agg(countDistinct(col("user_id")).cast("long").as("buyers"),
            moneySum(col("value")).as("revenue"))
        val w = Window.partitionBy("cw").orderBy("age_w")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells
          .withColumn("cum_revenue",
            pround(sum(dec(col("revenue"), 18, 2)).over(w).cast("double"), 2))
          .orderBy(col("cw"), col("age_w"))
      },
      Some("""WITH pur AS (SELECT user_id, value,
             |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS wk
             |FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, min(wk) AS cw FROM pur GROUP BY user_id),
             |cells AS (SELECT cw, wk - cw AS age_w,
             |CAST(count(DISTINCT pur.user_id) AS BIGINT) AS buyers,
             |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
             |FROM pur JOIN c ON pur.user_id = c.user_id GROUP BY 1, 2)
             |SELECT cw, age_w, buyers, revenue,
             |floor(CAST(sum(CAST(revenue AS DECIMAL(18,2)))
             |OVER (PARTITION BY cw ORDER BY age_w
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS cum_revenue
             |FROM cells ORDER BY cw, age_w""".stripMargin.replace("\n", " "))),

    // Z-score outlier gate — the monitoring/data-validation aggregate:
    // count (and bound-check) events more than 3σ from their type's
    // mean. Two-pass moments discipline: the exact decimal power sums
    // fold per type (agg_variance_stats), the O(|types|) stats broadcast
    // back, and the outlier test |x − μ| > 3σ is evaluated per row as
    // one fixed IEEE sequence over exact inputs — identical on both
    // engines, no Welford order-dependence, corpus read twice but never
    // shuffled (the only exchanges carry per-type scalars).
    "agg_outlier_zscore" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
        val stats = ev.groupBy("event_type")
          .agg(cnt("n"), sum(dec(col("value"), 14, 2)).as("s"),
            sum(dec(col("value"), 14, 2) * dec(col("value"), 14, 2)).as("m2"))
          .select(col("event_type"), col("n"),
            (col("s").cast("double") / col("n").cast("double")).as("mu"),
            sqrt((col("m2").cast("double")
              - col("s").cast("double") * col("s").cast("double") / col("n").cast("double"))
              / col("n").cast("double")).as("sigma"))
        ev.join(broadcast(stats), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(cnt("n"),
            sum(when(abs(col("value") - col("mu")) > lit(3.0) * col("sigma"), 1L)
              .otherwise(0L)).cast("long").as("outliers"),
            pround(max(abs(col("value") - col("mu")) / col("sigma")), 4).as("max_z"))
          .orderBy(col("event_type"))
      },
      Some {
        val n = "CAST(n AS DOUBLE)"
        val s = "CAST(s AS DOUBLE)"
        val m2 = "CAST(m2 AS DOUBLE)"
        s"""WITH st AS (SELECT event_type, n, $s / $n AS mu,
           |sqrt(($m2 - $s * $s / $n) / $n) AS sigma
           |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |sum(CAST(value AS DECIMAL(14,2))) AS s,
           |sum(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS m2
           |FROM events GROUP BY event_type))
           |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           |CAST(sum(CASE WHEN abs(value - mu) > 3.0 * sigma THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           |${proundSql("max(abs(value - mu) / sigma)", 4)} AS max_z
           |FROM events e JOIN st ON e.event_type = st.event_type
           |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin.replace("\n", " ")
      }),

    // Seasonality heatmap — hour-of-day × day-of-week activity profile,
    // the bounded (24×7) relation every monitoring dashboard draws.
    // One partial+final agg; integer calendar arithmetic on both
    // engines (DuckDB dayofweek is 0=Sunday, Spark dayofweek is
    // 1=Sunday — normalized to 0-based below).
    "agg_seasonality" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hod"))
          .agg(cnt("events"), moneySum(col("value")).as("value_sum"))
          .orderBy(col("dow"), col("hod"))
      },
      Some("""SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             |CAST(hour(ts) AS BIGINT) AS hod,
             |CAST(count(*) AS BIGINT) AS events,
             |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS value_sum
             |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin.replace("\n", " "))),

    // Revenue concentration — "how much of the value comes from the top
    // decile of users": the whale-watching / source-concentration metric.
    // The corpus folds FIRST to the per-user revenue relation (exact
    // decimal cents — one partial+final agg), the p90 threshold is an
    // exact interpolated percentile over THAT relation (|users| values,
    // not |events| — the agg_median_quartiles trade applies if users
    // reach billions: switch the threshold to the histogram sketch), and
    // the share is a conditional re-aggregate against the broadcast
    // scalar. Cents stay integer until the two final divisions.
    "agg_revenue_concentration" -> QueryDef(
      (spark, dir) => {
        val perUser = t(spark, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
        val thr = perUser.agg(
          expr("percentile(cents, 0.9)").as("p90"),
          sum(col("cents")).cast("long").as("total_cents"))
        perUser.crossJoin(broadcast(thr))
          .agg(cnt("users"),
            sum(when(col("cents").cast("double") >= col("p90"), 1L).otherwise(0L))
              .cast("long").as("top_users"),
            sum(when(col("cents").cast("double") >= col("p90"), col("cents")).otherwise(0L))
              .cast("long").as("top_cents"),
            max(col("total_cents")).as("total_cents"))
          .select(col("users"), col("top_users"),
            pround(col("top_cents").cast("double") / col("total_cents").cast("double"), 6)
              .as("top_share"),
            pround(col("total_cents").cast("double") / 100.0, 2).as("total_revenue"))
      },
      Some(s"""WITH pu AS (SELECT user_id,
             |CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |FROM events WHERE event_type = 'purchase' GROUP BY user_id),
             |th AS (SELECT quantile_cont(cents, 0.9) AS p90,
             |CAST(sum(cents) AS BIGINT) AS total_cents FROM pu)
             |SELECT CAST(count(*) AS BIGINT) AS users,
             |CAST(sum(CASE WHEN CAST(cents AS DOUBLE) >= p90 THEN 1 ELSE 0 END) AS BIGINT) AS top_users,
             |${proundSql("CAST(sum(CASE WHEN CAST(cents AS DOUBLE) >= p90 THEN cents ELSE 0 END) AS DOUBLE) / CAST(max(total_cents) AS DOUBLE)", 6)} AS top_share,
             |${proundSql("CAST(max(total_cents) AS DOUBLE) / 100.0", 2)} AS total_revenue
             |FROM pu CROSS JOIN th""".stripMargin.replace("\n", " "))))
}
