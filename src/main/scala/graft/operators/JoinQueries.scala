package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Join operators — north-star analytics surface (SURVEY.md §2.B).
  *
  * The reference has no join engine at all (pg2ch processes one relation at
  * a time — SURVEY §2.A, [recall:high]); these are the analytics
  * capabilities layered on top, expressed so Catalyst picks the right
  * physical join:
  *
  *  - dims (region/nation, and customer when it is the small side) are
  *    wrapped in `broadcast()` — at 100 TB the fact side never shuffles for
  *    a dimension join;
  *  - big-big joins (orders⋈lineitem) stay shuffle hash/sort-merge on the
  *    join key, AQE handles skew;
  *  - semi/anti use the dedicated join types (no EXISTS subquery to
  *    decorrelate, no distinct-then-join shuffle).
  */
object JoinQueries {

  // ------------------------------------------------------------------
  // Shared graph builds: graph_pagerank and graph_triangle_count are the
  // two heaviest sweep queries, and a harness runs each of them several
  // times (bench warm-up + 2 measured passes). They walk DIFFERENT
  // graphs — pagerank the customer–supplier bipartite graph, triangle
  // count the part co-purchase graph — so what they share is the
  // amortization: under `spark.graft.shared.pipeline` (the harness
  // session sets it) each build is one session build
  // ([[graft.core.shared]]), localCheckpoint'ed for the session's
  // lifetime. Un-shared (ScalaTest, PlanShapeSpec) every query builds
  // its own scopedPersist plan — values identical by construction, the
  // build IS the same expression chain.
  //
  // The checkpoint carrier holds deserialized row blocks, the cheapest
  // to re-scan: it won the warm sweep at every scale measured (sf0.1
  // graph keys 2.1/2.1/0.5 s against 4.7/4.8/3.4 s persisted; 100×
  // pagerank 68.8 s against 108.5 s, SCALE.md). It strips the hash
  // layout, so each iteration re-exchanges edgesDeg. A persisted build
  // keeps that layout and wins a COLD single query (the unshared
  // scopedPersist path) and, on a multi-node cluster where the avoided
  // exchanges cross the network, would be the better shared carrier.
  // ------------------------------------------------------------------

  /** Pagerank's co-partitioned relations: (deg, edgesDeg). */
  private def pagerankGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def build(persist: DataFrame => DataFrame): (DataFrame, DataFrame) = {
      val li = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val base = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // even->odd and odd->even directions are disjoint, so the union
      // of a distinct pair set is already a distinct edge set
      val edges = persist(base.select(col("a").as("src"), col("b").as("dst"))
        .union(base.select(col("b").as("src"), col("a").as("dst"))))
      val deg = persist(edges.groupBy("src").agg(cnt("deg")))
      val edgesDeg = persist(edges.join(deg, Seq("src"))
        .select(col("src"), col("dst"), col("deg")))
      (deg, edgesDeg)
    }
    if (!setting(spark, SharedPipeline)) build(scopedPersist)
    else shared(spark, dir, "graph.pagerank") {
      val (deg, edgesDeg) = build(identity)
      (deg.localCheckpoint(true), edgesDeg.localCheckpoint(true))
    }
  }

  /** Triangle counting's sampled canonical edge relation (x < y). */
  private def triangleEdges(spark: SparkSession, dir: String): DataFrame = {
    def build: DataFrame = {
      val keep = s"${hx("concat(cast(x as string), ':', cast(y as string))")} % 8 = 0"
      val po = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      po.as("a").join(po.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
        // sample BEFORE the distinct: the md5 gate depends only on
        // (x, y), so filter∘distinct ≡ distinct∘filter — but this
        // order shrinks the dedup exchange 8x (don't rely on the
        // optimizer to push a conv/md5 projection through the agg)
        .filter(expr(keep))
        .distinct()
    }
    if (!setting(spark, SharedPipeline)) scopedPersist(build)
    else shared(spark, dir, "graph.triangle")(build.localCheckpoint(true))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    "join_inner_equi" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .join(broadcast(t(spark, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(cnt("orders"), moneySum(col("o_totalprice")).as("rev"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS orders,
             |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "))),

    "join_broadcast_dim" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer")
          .join(broadcast(t(spark, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(spark, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(cnt("customers"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS customers
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin.replace("\n", " "))),

    // ClickHouse dictGet pattern: a
    // key→attributes DICTIONARY relation (nation⋈region, built ONCE) is
    // consulted by TWO independent fact enrichments in the same query —
    // customers and suppliers each resolve nationkey → (n_name, r_name)
    // through the same broadcast dict, exactly how a CH dictionary
    // serves dictGet('dict', 'attr', key) across a query. Scale shape:
    // the dict is dimension-sized and BROADCAST; Catalyst dedups the two
    // identical broadcast builds into one exchange + a ReusedExchange
    // (PlanShapeSpec pins it), so the dictionary is materialized and
    // shipped exactly once no matter how many enrichments consume it;
    // both fact streams stay un-shuffled until their per-nation partial
    // aggregates, and the final full-outer merge of the two summaries
    // joins two ≤|nations|-row relations (full outer cannot broadcast —
    // both sides surface unmatched keys — and needs no hint at this
    // cardinality).
    "join_dict_get" -> QueryDef(
      (spark, dir) => {
        val dict = t(spark, dir, "nation")
          .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("key"), col("n_name"), col("r_name"))
        val cust = t(spark, dir, "customer")
          .join(broadcast(dict), col("c_nationkey") === col("key"))
          .groupBy("r_name", "n_name")
          .agg(cnt("customers"), moneySum(col("c_acctbal")).as("cust_acctbal"))
        val supp = t(spark, dir, "supplier")
          .join(broadcast(dict), col("s_nationkey") === col("key"))
          .groupBy("r_name", "n_name")
          .agg(cnt("suppliers"))
        cust.join(supp, Seq("r_name", "n_name"), "full_outer")
          .select(col("r_name"), col("n_name"),
            coalesce(col("customers"), lit(0L)).as("customers"),
            coalesce(col("cust_acctbal"), lit(0.0)).as("cust_acctbal"),
            coalesce(col("suppliers"), lit(0L)).as("suppliers"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""WITH dict AS (SELECT n_nationkey AS key, n_name, r_name
             |FROM nation JOIN region ON n_regionkey = r_regionkey),
             |c AS (SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS customers,
             |CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS cust_acctbal
             |FROM customer JOIN dict ON c_nationkey = key GROUP BY 1, 2),
             |s AS (SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS suppliers
             |FROM supplier JOIN dict ON s_nationkey = key GROUP BY 1, 2)
             |SELECT coalesce(c.r_name, s.r_name) AS r_name,
             |coalesce(c.n_name, s.n_name) AS n_name,
             |coalesce(c.customers, 0) AS customers,
             |coalesce(c.cust_acctbal, 0.0) AS cust_acctbal,
             |coalesce(s.suppliers, 0) AS suppliers
             |FROM c FULL OUTER JOIN s ON c.r_name = s.r_name AND c.n_name = s.n_name
             |ORDER BY r_name, n_name""".stripMargin.replace("\n", " "))),

    "join_left_outer" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer")
          .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).cast("long").as("n_orders"))
          .orderBy(col("n_orders").desc, col("c_custkey"))
          .limit(100)
      },
      Some("""SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY n_orders DESC, c_custkey LIMIT 100""".stripMargin.replace("\n", " "))),

    "join_semi" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer")
          .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
          .limit(100)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey LIMIT 100""".stripMargin.replace("\n", " "))),

    // Anti against P-status orders: every customer has SOME order in this
    // data, so the unfiltered anti-join would be degenerately empty.
    "join_anti" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer")
          .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "P"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
          .limit(100)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |ORDER BY c_custkey LIMIT 100""".stripMargin.replace("\n", " "))),

    // FULL OUTER: both sides keep unmatched keys. Built over two derived
    // per-user aggregates with genuinely exclusive keys on each side
    // (users with only errors / only signups). Scale: SMJ on user_id —
    // full outer cannot broadcast (both sides must surface unmatched
    // rows), so the single key shuffle IS the optimal plan.
    "join_full_outer" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        def side(typ: String, alias: String) =
          ev.filter(col("event_type") === typ)
            .groupBy(col("user_id").as(s"${alias}_uid"))
            .agg(cnt(alias))
        side("error", "errors")
          .join(side("signup", "signups"),
            col("errors_uid") === col("signups_uid"), "full_outer")
          .select(
            coalesce(col("errors_uid"), col("signups_uid")).as("user_id"),
            coalesce(col("errors"), lit(0L)).as("errors"),
            coalesce(col("signups"), lit(0L)).as("signups"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, CAST(count(*) AS BIGINT) AS errors
             |FROM events WHERE event_type = 'error' GROUP BY user_id),
             |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS signups
             |FROM events WHERE event_type = 'signup' GROUP BY user_id)
             |SELECT coalesce(e.user_id, s.user_id) AS user_id,
             |coalesce(e.errors, 0) AS errors, coalesce(s.signups, 0) AS signups
             |FROM e FULL JOIN s ON e.user_id = s.user_id
             |ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // Equi-join with a theta residual: Catalyst keys the shuffle on the
    // equi part and evaluates the range predicate as a post-join filter —
    // never a cartesian, so it scales as a normal key-partitioned join.
    "join_range_theta" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .join(t(spark, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"))
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .agg(cnt("cnt"))
          .orderBy(col("m"))
      },
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM orders JOIN lineitem
             |ON o_orderkey = l_orderkey AND l_shipdate > o_orderdate
             |GROUP BY 1 ORDER BY m""".stripMargin.replace("\n", " "))),

    // AS-OF join (latest prior-or-equal view per purchase). Spark has no
    // native ASOF join; a running conditional max over the per-user stream
    // gives identical semantics with ONE shuffle (by user_id) and no
    // self-join — the classic scalable rewrite.
    "join_asof_latest" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(spark, dir, "events")
          .withColumn("last_view",
            max(when(col("event_type") === "view", col("event_id"))).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("last_view"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, last_view FROM (SELECT event_id, user_id, event_type,
             |max(CASE WHEN event_type = 'view' THEN event_id END)
             |OVER (PARTITION BY user_id ORDER BY event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view
             |FROM events) WHERE event_type = 'purchase'
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // AS-OF join with bounded staleness (tolerance): the production form —
    // a match older than the tolerance horizon is no match (a quote from
    // last week must not price today's trade). Same single-shuffle rewrite
    // as join_asof_latest, but the running conditional max rides a RANGE
    // frame of 100 LSNs, so expired matches fall out of the frame instead
    // of being filtered in a second pass. State per key is bounded by the
    // tolerance window — exactly what a streaming twin would keep.
    "join_asof_tolerance" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rangeBetween(-100, Window.currentRow)
        t(spark, dir, "events")
          .withColumn("last_view",
            max(when(col("event_type") === "view", col("event_id"))).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("last_view"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, last_view FROM (SELECT event_id, user_id, event_type,
             |max(CASE WHEN event_type = 'view' THEN event_id END)
             |OVER (PARTITION BY user_id ORDER BY event_id
             |RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS last_view
             |FROM events) WHERE event_type = 'purchase'
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // TPC-H Q3 shape: broadcast the filtered customer dim, shuffle join the
    // two fact tables on orderkey, aggregate, global top-10 (TakeOrdered).
    "multi_join_star" -> QueryDef(
      (spark, dir) => {
        val cutoff = lit("1995-03-15").cast("date")
        val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
        val li = t(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          // decimal multiply (2dp × 2dp → exact 4dp), round once post-sum —
          // same boundary-safety rationale as agg_pricing_summary.
          .agg(round(sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 12, 2))), 2)
            .cast("double").as("rev"))
          .orderBy(col("rev").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS rev
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
             |GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "))),

    // TPC-H Q5 shape: the full snowflake — region→nation prune the
    // customer AND supplier sides, two fact-fact shuffles, revenue per
    // nation. Scale design: only the GUARANTEED-tiny relations broadcast
    // (region⋈nation — ≤25 rows at every SF; customer/supplier grow with
    // the corpus, so they stay shuffle-side and AQE may still elect a
    // broadcast at small SFs). lineitem joins orders on orderkey, then
    // customer on custkey, then supplier on (suppkey, nationkey) — each a
    // key-partitioned exchange a 1000-executor cluster runs without any
    // driver-side state; the same-nation predicate rides the supplier
    // join so mismatched pairs never survive the exchange.
    "multi_join_snowflake" -> QueryDef(
      (spark, dir) => {
        val asiaNations = t(spark, dir, "nation")
          .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(spark, dir, "customer")
          .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
        val ord = t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1997-01-01").cast("date"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (dec(col("l_extendedprice"), 12, 2) *
              (lit(1) - dec(col("l_discount"), 12, 2))).as("disc_price"))
        val sup = t(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy("n_name")
          // decimal partial+final sum, round once, then double — the
          // money-aggregate discipline (core.moneySum rationale)
          .agg(round(sum(col("disc_price")), 2).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", " "))),

    // Skew-salted equi-join, declared: the fact side joins the dim
    // through Skew.saltedJoin (deterministic content salt on the big
    // side, dim replicated salts× by one explode — the hot-key split for
    // when AQE's skew handling isn't available), while the ORACLE is the
    // PLAIN join — the hash-match proves salting semantics-preserving at
    // every SF, the same oracle-without-the-optimization trick
    // sample_lang_balanced uses for its prefilter. At 100 TB this is the
    // shape you switch to when one customer owns 1% of all orders.
    "join_skew_salted" -> QueryDef(
      (spark, dir) => {
        val ord = t(spark, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val cust = t(spark, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        graft.functions.Skew.saltedJoin(ord, cust, "custkey", salts = 8)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(cnt("n_orders"), moneySum(col("o_totalprice")).as("rev_r"))
          .orderBy(col("segment"))
      },
      Some("""SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders,
             |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev_r
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY segment""".stripMargin.replace("\n", " "))),

    // Runtime Bloom-filter join reduction — Spark's
    // spark.sql.optimizer.runtime.bloomFilter re-expressed as an explicit
    // declared operator: a selective filter on the BUILD side (one month
    // of orders) compresses to a 2^17-bit / k=3 Bloom over its join keys,
    // and the PROBE side (lineitem) is pruned map-side BEFORE its shuffle
    // — at 100 TB the exchange carries only Bloom-surviving rows (~month/
    // total + ε false positives) instead of the full fact table. The
    // filter itself is a CONSTANT-size artifact (4096 longs regardless of
    // data volume): bit-OR-reduced in a partial+final agg, folded into a
    // single map row, and broadcast via the scalar-crossJoin pattern.
    // False positives are removed by the real join, so the ORACLE is the
    // PLAIN join — the hash-match proves the reduction semantics-free,
    // the same oracle-without-the-optimization trick join_skew_salted
    // uses. Spark-side hashing is free to use xxhash64 (nothing crosses
    // to DuckDB).
    "join_runtime_bloom" -> QueryDef(
      (spark, dir) => {
        val ord = t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-03-01").cast("date") &&
            col("o_orderdate") < lit("1995-04-01").cast("date"))
          .select(col("o_orderkey"), col("o_orderpriority"))
        val buildPos =
          "transform(sequence(0, 2), j -> (shiftrightunsigned(xxhash64(o_orderkey), j * 17) & 131071))"
        // fold the (word, bits) relation into ONE dense 2048-slot long
        // array: element_at on an ARRAY is O(1) codegen, where a MapType
        // lookup is a LINEAR scan over all entries per probe (3 probes x
        // every fact row x 2048 entries measured 12.7 s at sf0.1 -- the
        // map form was the whole query's cost). The densify transform is
        // a one-time 2048^2 walk on a single row.
        val bArr = ord.select(explode(expr(buildPos)).as("pos"))
          .select(expr("cast(pos div 64 as int)").as("word"),
            expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
          .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
          .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
            .as("bmap"))
          .select(expr(
            "transform(sequence(0, 2047), i -> coalesce(element_at(bmap, i), 0L))")
            .as("barr"))
        // per-position membership test, fully codegen (no HOF lambda on
        // the probe path): recomputing xxhash64 per position is cheap;
        // an interpreted forall per row is not
        def hit(j: Int) = expr(
          s"(element_at(barr, cast(((shiftrightunsigned(xxhash64(l_orderkey), ${j * 17}) & 131071) div 64) as int) + 1)" +
            s" & shiftleft(1L, cast((shiftrightunsigned(xxhash64(l_orderkey), ${j * 17}) & 131071) % 64 as int))) <> 0L")
        val pruned = t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .crossJoin(broadcast(bArr))
          .filter(hit(0) && hit(1) && hit(2))
          .drop("barr")
        pruned.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(cnt("n_items"), moneySum(col("l_extendedprice")).as("rev_r"))
          .orderBy(col("priority"))
      },
      Some("""SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n_items,
             |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev_r
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate >= DATE '1995-03-01' AND o_orderdate < DATE '1995-04-01'
             |GROUP BY 1 ORDER BY priority""".stripMargin.replace("\n", " "))),

    // PageRank, 3 unrolled iterations over the customer<->supplier
    // bipartite graph (an edge per distinct trading pair, symmetrized so
    // every node has outdegree >= 1 -- no dangling-mass special case).
    // The iterative-graph lane beyond dedup_cluster_components' label
    // propagation: weighted contributions, not just min-id flooding.
    //
    // Determinism under partitioning: a double sum is order-dependent,
    // so each contribution rank/outdeg is pround(9)'d (identical IEEE
    // division both engines) and accumulated as DECIMAL(18,9) -- the
    // text_perplexity_lm pattern; the damping step 0.15 + 0.85*x is a
    // fixed IEEE sequence on the double cast of that exact sum.
    //
    // Scale shape: edges build from the orders⋈lineitem equi-join and
    // persist; deg and the pre-joined (src, dst, deg) edge relation
    // persist too, so each of the 3 iterations is ONE join
    // (edgesDeg⋈ranks on src) + a partial+final sum by dst + a
    // node-sized left join -- without the pre-join, deg's shuffle
    // aggregate re-executed 7x across the unrolled plan (measured
    // 7.2 s warm; 2.5 s with the three persists). Node ids are
    // 2k/2k+1-encoded longs, never strings. No window, no driver
    // collect, no broadcast that grows with the graph (ranks stays
    // shuffle-side: node count is unbounded at real scale).
    "graph_pagerank" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // graph build in [[pagerankGraph]] — shared across harness runs
        // under spark.graft.shared.pipeline, inline scopedPersist otherwise
        val (deg, edgesDeg) = pagerankGraph(spark, dir)
        var ranks = deg.select(col("src").as("id"), lit(1.0).as("r"))
        for (_ <- 1 to 3) {
          val contrib = edgesDeg
            .join(ranks, col("src") === col("id"))
            .select(col("dst"),
              pround(col("r") / col("deg").cast("double"), 9)
                .cast(DecimalType(18, 9)).as("c"))
            .groupBy("dst").agg(sum(col("c")).as("s"))
          ranks = deg.select(col("src").as("id"))
            .join(contrib, col("id") === col("dst"), "left")
            .select(col("id"),
              pround(lit(0.15) + lit(0.85)
                * coalesce(col("s").cast("double"), lit(0.0)), 9).as("r"))
        }
        ranks
          .select(
            when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
              .as("kind"),
            col("id"), col("r"))
          .orderBy(col("r").desc, col("id"))
          .limit(100)
      },
      Some("""WITH base AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |edges AS (SELECT a AS src, b AS dst FROM base
             |UNION ALL SELECT b AS src, a AS dst FROM base),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
             |r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) AS r FROM deg),
             |c1 AS (SELECT dst, sum(CAST(PR_DIV_R0 AS DECIMAL(18,9))) AS s
             |FROM edges JOIN deg USING (src) JOIN r0 ON r0.id = edges.src GROUP BY dst),
             |r1 AS (SELECT deg.src AS id, PR_DAMP1 AS r
             |FROM deg LEFT JOIN c1 ON deg.src = c1.dst),
             |c2 AS (SELECT dst, sum(CAST(PR_DIV_R1 AS DECIMAL(18,9))) AS s
             |FROM edges JOIN deg USING (src) JOIN r1 ON r1.id = edges.src GROUP BY dst),
             |r2 AS (SELECT deg.src AS id, PR_DAMP2 AS r
             |FROM deg LEFT JOIN c2 ON deg.src = c2.dst),
             |c3 AS (SELECT dst, sum(CAST(PR_DIV_R2 AS DECIMAL(18,9))) AS s
             |FROM edges JOIN deg USING (src) JOIN r2 ON r2.id = edges.src GROUP BY dst),
             |r3 AS (SELECT deg.src AS id, PR_DAMP3 AS r
             |FROM deg LEFT JOIN c3 ON deg.src = c3.dst)
             |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             |id, r FROM r3 ORDER BY r DESC, id LIMIT 100"""
        .stripMargin.replace("\n", " ")
        .replace("PR_DIV_R0", "PRDIV0").replace("PR_DIV_R1", "PRDIV1")
        .replace("PR_DIV_R2", "PRDIV2")
        .replace("PR_DAMP1", "PRDAMP").replace("PR_DAMP2", "PRDAMP")
        .replace("PR_DAMP3", "PRDAMP")
        .replace("PRDIV0", proundSql("r0.r / CAST(deg.deg AS DOUBLE)", 9))
        .replace("PRDIV1", proundSql("r1.r / CAST(deg.deg AS DOUBLE)", 9))
        .replace("PRDIV2", proundSql("r2.r / CAST(deg.deg AS DOUBLE)", 9))
        .replace("PRDAMP", proundSql(
          "CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * CAST(coalesce(s, 0) AS DOUBLE)", 9)))),

    // AS-OF join, NEAREST variant — completes the as-of family (latest =
    // backward, tolerance = bounded backward, this = nearest in EITHER
    // direction, ties to the past): for each purchase, the view whose
    // event_id is closest in absolute distance. Same single-shuffle
    // rewrite as join_asof_latest — no self-join: a backward running
    // conditional max and a forward running conditional min over ONE
    // (user_id, event_id) partition sort (two frames, one exchange, one
    // sort), then a pure projection picks the closer candidate. State per
    // direction is one value per key — exactly what a streaming twin
    // would keep per side.
    "join_asof_nearest" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byId = Window.partitionBy("user_id").orderBy("event_id")
        val isView = when(col("event_type") === "view", col("event_id"))
        val withCands = t(spark, dir, "events")
          .withColumn("back", max(isView)
            .over(byId.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("fwd", min(isView)
            .over(byId.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        withCands
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            when(col("back").isNull, col("fwd"))
              .when(col("fwd").isNull, col("back"))
              .when(col("event_id") - col("back") <= col("fwd") - col("event_id"),
                col("back"))
              .otherwise(col("fwd")).as("near_view"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, near_view FROM (
             |SELECT event_id, user_id, event_type,
             |CASE WHEN back IS NULL THEN fwd WHEN fwd IS NULL THEN back
             |WHEN event_id - back <= fwd - event_id THEN back ELSE fwd END AS near_view
             |FROM (SELECT event_id, user_id, event_type,
             |max(CASE WHEN event_type = 'view' THEN event_id END)
             |OVER (PARTITION BY user_id ORDER BY event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
             |min(CASE WHEN event_type = 'view' THEN event_id END)
             |OVER (PARTITION BY user_id ORDER BY event_id
             |ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
             |FROM events))
             |WHERE event_type = 'purchase'
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // AS-OF join, FORWARD variant — the fourth family member ("the next
    // view AFTER each purchase": the follow-up-attribution direction;
    // latest = backward, tolerance = bounded backward, nearest = both).
    // One forward running conditional min over the same single
    // (user_id, event_id) partition sort — one exchange, one frame, no
    // self-join; a streaming twin is the nearestViewStream pending
    // buffer with the backward candidate ignored.
    "join_asof_forward" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byId = Window.partitionBy("user_id").orderBy("event_id")
        t(spark, dir, "events")
          .withColumn("next_view",
            min(when(col("event_type") === "view", col("event_id")))
              .over(byId.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("next_view"))
          .orderBy(col("event_id"))
          .limit(500)
      },
      Some("""SELECT event_id, user_id, next_view FROM (
             |SELECT event_id, user_id, event_type,
             |min(CASE WHEN event_type = 'view' THEN event_id END)
             |OVER (PARTITION BY user_id ORDER BY event_id
             |ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view
             |FROM events)
             |WHERE event_type = 'purchase'
             |ORDER BY event_id LIMIT 500""".stripMargin.replace("\n", " "))),

    // Triangle counting over the part co-purchase graph (parts appearing
    // in the same order are connected), with Doulion-style deterministic
    // edge sampling (Tsourakakis et al., KDD'09): keep an edge iff a
    // portable hash of its canonical (x<y) key ≡ 0 (mod 8), count
    // triangles on the sampled graph, scale by 8^3 for the unbiased
    // estimate. Scale shape, stage by stage: (1) per-order pair
    // generation is bounded by order size (≤7 lineitems → ≤21 pairs per
    // order — never a hot key); (2) sampling thins edges 8x BEFORE any
    // self-join, shrinking wedge work ~512x — the knob a 100 TB run
    // turns harder (mod 64 → ~260k x); (3) the canonical a<b<c
    // orientation counts each triangle once and halves the wedge join;
    // (4) wedges join edges on node keys — hash exchanges a
    // 1000-executor cluster runs as-is; the sampled edge relation is
    // persisted once and reused by all three sides. No window, no
    // driver collect, no broadcast that grows with the graph.
    "graph_triangle_count" -> QueryDef(
      (spark, dir) => {
        // sampled edge build in [[triangleEdges]] — shared across harness
        // runs under spark.graft.shared.pipeline, inline scopedPersist otherwise
        val edges = triangleEdges(spark, dir)
        val wedges = edges.as("e1")
          .join(edges.as("e2"), col("e1.y") === col("e2.x"))
          .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
        val tris = wedges.as("w")
          .join(edges.as("e3"),
            col("w.a") === col("e3.x") && col("w.c") === col("e3.y"))
          .agg(cnt("n_triangles"))
        edges.agg(cnt("n_edges"))
          .crossJoin(tris) // both sides are single-row aggregates — bounded
          .select(col("n_edges"), col("n_triangles"),
            (col("n_triangles") * 512L).cast("long").as("est_triangles"))
      },
      Some(s"""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |cp AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
             |FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             |AND a.l_partkey < b.l_partkey),
             |e AS (SELECT x, y FROM cp
             |WHERE ${hxSql("CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)")} % 8 = 0),
             |w AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
             |FROM e e1 JOIN e e2 ON e1.y = e2.x),
             |tr AS (SELECT a FROM w JOIN e e3 ON w.a = e3.x AND w.c = e3.y)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             |CAST(count(*) AS BIGINT) AS n_triangles,
             |CAST(count(*) * 512 AS BIGINT) AS est_triangles
             |FROM tr""".stripMargin.replace("\n", " "))),

    // Interval-overlap join via TEMPORAL BUCKETING — the scale answer to
    // "find every pair of overlapping intervals". A naive overlap join is
    // a range theta-join (quadratic per user at best, a cartesian at
    // worst); the bucketed form turns it into an EQUI-join: with bucket
    // width ≥ the max interval length (1800 s ≥ 900 s here), any two
    // overlapping intervals share at least one covered bucket, so
    // exploding each side over its ≤2 covered buckets and equi-joining on
    // (user, bucket) finds every candidate with ≤4-fold duplication,
    // removed by the pair-distinct. Candidate volume is bounded by
    // per-(user, bucket) density — never corpus × corpus — and Catalyst
    // runs it as a plain shuffled hash join on the composite key. The
    // overlap refine (a.s < b.e AND b.s < a.e, half-open) is exact.
    "join_interval_overlap" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("s"),
            (unix_timestamp(col("ts")) + lit(900L)).as("e"))
        def buckets(d: DataFrame, p: String) = d
          .select(col("user_id"), col("event_id").as(s"${p}_id"),
            col("s").as(s"${p}_s"), col("e").as(s"${p}_e"),
            explode(sequence(expr("s div 1800"), expr("(e - 1) div 1800"))).as("bk"))
        val views = buckets(ev.filter(col("event_type") === "view"), "a")
        val buys = buckets(ev.filter(col("event_type") === "purchase"), "b")
        views.join(buys, Seq("user_id", "bk"))
          .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
          .select(col("user_id"), col("a_id"), col("b_id")).distinct()
          .groupBy("user_id").agg(cnt("overlap_pairs"))
          .orderBy(col("user_id"))
      },
      Some("""WITH iv AS (SELECT user_id, event_id, event_type,
             |CAST(floor(epoch(ts)) AS BIGINT) AS s,
             |CAST(floor(epoch(ts)) AS BIGINT) + 900 AS e FROM events)
             |SELECT a.user_id, CAST(count(*) AS BIGINT) AS overlap_pairs
             |FROM iv a JOIN iv b ON a.user_id = b.user_id
             |AND a.event_type = 'view' AND b.event_type = 'purchase'
             |AND a.s < b.e AND b.s < a.e
             |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin.replace("\n", " "))),

    // Label propagation communities (Raghavan et al. 2007) — the third
    // graph lane beside centrality (pagerank) and cohesion (triangles):
    // two SYNCHRONOUS rounds over the same sampled co-purchase edges as
    // graph_triangle_count (shared build). Each round: every node takes
    // the most frequent label among its neighbors PLUS ITSELF, ties to
    // the smallest label — self-vote plus min-tie-break makes
    // synchronous LPA fully deterministic (plain LPA breaks ties
    // randomly and oscillates on bipartite structures). Scale shape per
    // round: one equi-join of edges⋈labels co-partitioned on dst, one
    // vote aggregate keyed (src, label) — map-side combinable, bounded
    // by Σdeg — and a per-src rank window whose partitions are one
    // node's ≤deg+1 candidate labels. The O(|nodes|) label relation is
    // NEVER broadcast and never collected; rounds are unrolled exactly
    // like pagerank's. The declared output is the community-size head
    // (top 20), a total order.
    "graph_community_lpa" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = triangleEdges(spark, dir)
        // x < y everywhere, so the two directions are disjoint and the
        // union of a distinct pair set is a distinct arc set
        // eager checkpoint, not lazy persist: und and each
        // round's labels have 2-3 consumers that AQE submits as
        // concurrent query stages; a lazy persist recomputes the whole
        // previous round once per consumer before the cache lands, and
        // the checkpoint also truncates the per-round plan growth.
        val und = scopedCheckpoint(
          e.select(col("x").as("src"), col("y").as("dst"))
            .union(e.select(col("y").as("src"), col("x").as("dst"))))
        var labels = und.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        val w = Window.partitionBy("src").orderBy(col("c").desc, col("label"))
        for (_ <- 1 to 2) {
          // each round's labels feed TWO consumers (the neighbor join and
          // the self-vote union) — persist so a round computes once, the
          // same discipline as pagerank's per-iteration relations
          labels = scopedCheckpoint(labels)
          val nbr = und
            .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
            .select(col("src"), col("label"))
          val votes = nbr.union(labels.select(col("node").as("src"), col("label")))
            .groupBy("src", "label").agg(cnt("c"))
          labels = votes.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("src").as("node"), col("label"))
        }
        labels.groupBy("label").agg(cnt("csize"))
          .orderBy(col("csize").desc, col("label")).limit(20)
          .select(col("label").as("community"), col("csize"))
      },
      Some(s"""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |cp AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
             |FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
             |AND a.l_partkey < b.l_partkey),
             |e AS (SELECT x, y FROM cp
             |WHERE ${hxSql("CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)")} % 8 = 0),
             |und AS (SELECT x AS src, y AS dst FROM e
             |UNION ALL SELECT y AS src, x AS dst FROM e),
             |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
             |v1 AS (SELECT src, label, CAST(count(*) AS BIGINT) AS c FROM (
             |SELECT u.src, l.label FROM und u JOIN l0 l ON u.dst = l.node
             |UNION ALL SELECT node AS src, label FROM l0)
             |GROUP BY 1, 2),
             |l1 AS (SELECT src AS node, label FROM (
             |SELECT src, label,
             |row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
             |FROM v1) WHERE rn = 1),
             |v2 AS (SELECT src, label, CAST(count(*) AS BIGINT) AS c FROM (
             |SELECT u.src, l.label FROM und u JOIN l1 l ON u.dst = l.node
             |UNION ALL SELECT node AS src, label FROM l1)
             |GROUP BY 1, 2),
             |l2 AS (SELECT src AS node, label FROM (
             |SELECT src, label,
             |row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
             |FROM v2) WHERE rn = 1)
             |SELECT label AS community, CAST(count(*) AS BIGINT) AS csize
             |FROM l2 GROUP BY label
             |ORDER BY csize DESC, label LIMIT 20""".stripMargin.replace("\n", " "))))
}
