package graft.operators

import org.apache.spark.sql.functions._
import graft.core._

/** Scan / projection / cast / scalar-function operators.
  *
  * Models the reference's snapshot scan + column subset + type-cast/encode
  * stages (SURVEY.md §2.A1/A4/A5): pg2ch reads whole relations with
  * `COPY … TO STDOUT`, projects the configured column subset, and converts
  * PG values to ClickHouse types with TSV escaping
  * (`pkg/replicator`, `pkg/utils/chutils` [recall:med] — SURVEY §0 caveat:
  * /root/reference was empty; upstream paths from public-repo knowledge).
  *
  * Spark-first: all of these compile to a single parquet scan with pushed
  * filters + pruned columns and whole-stage codegen — no shuffle except the
  * final total-order sort, which is TakeOrdered (no full exchange) whenever
  * a LIMIT is present.
  */
object ScanQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "scan_project_filter" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "lineitem")
          .filter(col("l_quantity") > 30 && col("l_shipdate") >= lit("1994-01-01").cast("date"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            dec(col("l_quantity"), 12, 2).cast("double").as("qty"),
            col("l_returnflag"),
            col("l_shipdate").cast("date").as("ship_date"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .limit(100)
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty,
             |l_returnflag, CAST(l_shipdate AS DATE) AS ship_date
             |FROM lineitem
             |WHERE l_quantity > 30 AND l_shipdate >= DATE '1994-01-01'
             |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin.replace("\n", " "))),

    "scan_count_star" -> QueryDef(
      (spark, dir) => t(spark, dir, "lineitem").agg(cnt("cnt")),
      Some("SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem")),

    "type_cast_matrix" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer")
          .select(
            col("c_custkey"),
            col("c_custkey").cast("string").as("custkey_str"),
            dec(col("c_acctbal"), 12, 2).cast("double").as("acctbal"),
            upper(col("c_mktsegment")).as("mktseg_upper"),
            col("c_nationkey").cast("long").as("nationkey"))
          .orderBy(col("c_custkey"))
          .limit(200)
      },
      Some("""SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS custkey_str,
             |CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
             |upper(c_mktsegment) AS mktseg_upper,
             |CAST(c_nationkey AS BIGINT) AS nationkey
             |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin.replace("\n", " "))),

    // pg2ch TSV-encodes every outgoing row, escaping \t \n \\ with NULL as
    // \N (SURVEY §2.A5). Full escape/unescape lives in functions.TsvCodec;
    // this query pins the escape arithmetic against the oracle.
    "tsv_escape_roundtrip" -> QueryDef(
      (spark, dir) => {
        val esc = graft.functions.TsvCodec.escape(col("text"))
        t(spark, dir, "documents")
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n"),
            length(esc).cast("long").as("n_esc"))
          .orderBy(col("doc_id"))
          .limit(200)
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
             |CAST(length(replace(replace(replace(replace(replace(replace(replace(text,
             |'\', '\\'), chr(9), '\t'), chr(10), '\n'), chr(13), '\r'),
             |chr(8), '\b'), chr(12), '\f'), chr(11), '\v')) AS BIGINT) AS n_esc
             |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin.replace("\n", " "))),

    "str_funcs" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "part")
          .filter(col("p_name").like("%widget%"))
          .select(
            col("p_partkey"),
            upper(col("p_brand")).as("brand_u"),
            substring(col("p_name"), 1, 10).as("name10"),
            concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
            length(col("p_name")).cast("long").as("nlen"))
          .orderBy(col("p_partkey"))
          .limit(200)
      },
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
             |substr(p_name, 1, 10) AS name10,
             |concat(p_brand, '#', p_type) AS bt,
             |CAST(length(p_name) AS BIGINT) AS nlen
             |FROM part WHERE p_name LIKE '%widget%'
             |ORDER BY p_partkey LIMIT 200""".stripMargin.replace("\n", " "))),

    "date_funcs" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
            datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).cast("long").as("dd"))
          .orderBy(col("o_orderkey"))
          .limit(200)
      },
      Some("""SELECT o_orderkey,
             |CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
             |CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
             |CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS dd
             |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin.replace("\n", " "))),

    // Second string tier: pad/translate/reverse/split_part — all codegen'd
    // built-ins with byte-identical semantics in both engines.
    "str_funcs2" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "part")
          .select(
            col("p_partkey"),
            lpad(col("p_brand"), 12, "*").as("lp"),
            rpad(col("p_brand"), 12, ".").as("rp"),
            translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
            reverse(substring(col("p_name"), 1, 8)).as("rev"),
            expr("split_part(p_name, ' ', 2)").as("w2"))
          .orderBy(col("p_partkey"))
          .limit(200)
      },
      Some("""SELECT p_partkey, lpad(p_brand, 12, '*') AS lp,
             |rpad(p_brand, 12, '.') AS rp,
             |translate(p_name, 'aeiou', 'AEIOU') AS tr,
             |reverse(substr(p_name, 1, 8)) AS rev,
             |split_part(p_name, ' ', 2) AS w2
             |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin.replace("\n", " "))),

    // Second date tier: interval arithmetic, month-end clamping, ISO
    // day-of-week (Spark weekday is Monday=0; DuckDB isodow is Monday=1).
    "date_funcs2" -> QueryDef(
      (spark, dir) => {
        val d = col("o_orderdate").cast("date")
        t(spark, dir, "orders")
          .select(
            col("o_orderkey"),
            date_add(d, 30).as("d30"),
            add_months(d, 3).as("m3"),
            last_day(d).as("eom"),
            (weekday(d) + 1).cast("long").as("isodow"))
          .orderBy(col("o_orderkey"))
          .limit(200)
      },
      Some("""SELECT o_orderkey,
             |CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS d30,
             |CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS m3,
             |last_day(CAST(o_orderdate AS DATE)) AS eom,
             |CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS isodow
             |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin.replace("\n", " "))),

    "math_funcs" -> QueryDef(
      (spark, dir) => {
        val p = col("p_retailprice")
        t(spark, dir, "part")
          .select(
            col("p_partkey"),
            pround(p, 1).as("r1"),
            floor(p - 500.0).cast("long").as("fl"),
            ceil(p - 500.0).cast("long").as("ce"),
            pround(abs(p - 1000.0), 2).as("ab"),
            pround(sqrt(p), 6).as("sq"))
          .orderBy(col("p_partkey"))
          .limit(200)
      },
      Some(s"""SELECT p_partkey, ${proundSql("p_retailprice", 1)} AS r1,
             |CAST(floor(p_retailprice - 500.0) AS BIGINT) AS fl,
             |CAST(ceil(p_retailprice - 500.0) AS BIGINT) AS ce,
             |${proundSql("abs(p_retailprice - 1000.0)", 2)} AS ab,
             |${proundSql("sqrt(p_retailprice)", 6)} AS sq
             |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin.replace("\n", " "))),

    // Semi-structured extraction — pg2ch passes json/jsonb through as
    // String (SURVEY §1.2); analytics over it uses get_json_object.
    "json_extract" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(sum(col("k")).cast("long").as("sum_k"), cnt("cnt"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |CAST(count(*) AS BIGINT) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "))),

    // Array scalar over the embeddings table: sequential double fold in
    // array order — deterministic across engines (SURVEY §7.3 rule 5).
    "array_funcs" -> QueryDef(
      (spark, dir) => {
        val sq = aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
        t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            pround(sqrt(sq), 4).as("norm"))
          .orderBy(col("vec_id"))
          .limit(200)
      },
      Some(s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |${proundSql("sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))", 4)} AS norm
             |FROM embeddings ORDER BY vec_id LIMIT 200""".stripMargin.replace("\n", " "))),

    // JSON generation + extraction round-trip: serialize row fields with
    // to_json, extract them back. Comparing EXTRACTED values (not the
    // JSON text) keeps the check independent of each engine's
    // serialization formatting.
    "json_roundtrip" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "events")
          .withColumn("j", to_json(struct(col("event_id"), col("event_type"))))
          .select(col("event_id"),
            get_json_object(col("j"), "$.event_id").cast("long").as("rt_id"),
            get_json_object(col("j"), "$.event_type").as("rt_type"))
          .orderBy(col("event_id"))
          .limit(200)
      },
      Some("""SELECT event_id,
             |CAST(json_extract_string(j, '$.event_id') AS BIGINT) AS rt_id,
             |json_extract_string(j, '$.event_type') AS rt_type
             |FROM (SELECT event_id,
             |to_json(struct_pack(event_id := event_id, event_type := event_type)) AS j
             |FROM events) ORDER BY event_id LIMIT 200""".stripMargin.replace("\n", " "))),

    // Second array tier: min/max, slicing, reverse, sort — element access
    // is 1-based in both engines; floats widen to DOUBLE before pround.
    "array_funcs2" -> QueryDef(
      (spark, dir) => {
        def d(c: org.apache.spark.sql.Column) = pround(c.cast("double"), 4)
        t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            d(array_min(col("embedding"))).as("mn"),
            d(array_max(col("embedding"))).as("mx"),
            size(slice(col("embedding"), 1, 3)).cast("long").as("s3"),
            d(element_at(reverse(col("embedding")), 1)).as("last_e"),
            d(element_at(array_sort(col("embedding")), 2)).as("sorted2"))
          .orderBy(col("vec_id"))
          .limit(200)
      },
      Some(s"""SELECT vec_id,
             |${proundSql("CAST(list_min(embedding) AS DOUBLE)", 4)} AS mn,
             |${proundSql("CAST(list_max(embedding) AS DOUBLE)", 4)} AS mx,
             |CAST(len(embedding[1:3]) AS BIGINT) AS s3,
             |${proundSql("CAST(list_reverse(embedding)[1] AS DOUBLE)", 4)} AS last_e,
             |${proundSql("CAST(list_sort(embedding)[2] AS DOUBLE)", 4)} AS sorted2
             |FROM embeddings ORDER BY vec_id LIMIT 200""".stripMargin.replace("\n", " "))),

    "sort_multi_key_limit" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "lineitem")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(50)
          .select(col("l_orderkey"), col("l_linenumber"),
            dec(col("l_extendedprice"), 12, 2).cast("double").as("price"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""".stripMargin.replace("\n", " "))),

    // ClickHouse `LIMIT n BY key` — per-key FIRST-N rows in a declared
    // order (row-level, unlike agg_topk_groups' aggregate ranking): each
    // customer's 2 earliest orders. The relational form is a per-key
    // rank window + filter — one shuffle on the BY key, per-key state is
    // n rows, no global sort anywhere (the final ORDER BY runs over the
    // ≤ 2·|keys| surviving rows).
    "scan_limit_by" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
        t(spark, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            dec(col("o_totalprice"), 12, 2).cast("double").as("price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
          .limit(400)
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus,
             |CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
             |FROM (SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
             |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
             |FROM orders) WHERE rn <= 2
             |ORDER BY o_custkey, o_orderkey LIMIT 400""".stripMargin.replace("\n", " "))),

    "topk_global" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
          .select(col("o_orderkey"),
            dec(col("o_totalprice"), 12, 2).cast("double").as("price"))
      },
      Some("""SELECT o_orderkey,
             |CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
             |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin.replace("\n", " "))),

    "set_ops" -> QueryDef(
      (spark, dir) => {
        val orders = t(spark, dir, "orders")
        val o = orders.filter(col("o_orderstatus") === "O").select("o_custkey").distinct()
        val f = orders.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
        val u = o.union(f).distinct().agg(cnt("union_n"))
        val i = o.intersect(f).agg(cnt("intersect_n"))
        val e = o.except(f).agg(cnt("except_n"))
        u.crossJoin(i).crossJoin(e)
      },
      Some("""SELECT
             |CAST((SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS BIGINT) AS union_n,
             |CAST((SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS BIGINT) AS intersect_n,
             |CAST((SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) AS BIGINT) AS except_n""".stripMargin.replace("\n", " "))),

    // Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): duplicates
    // count, so these are NOT the distinct variants above — Spark's
    // exceptAll/intersectAll ≡ SQL ALL forms.
    "set_ops_all" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val a = ev.filter(col("event_type") === "view").select("user_id")
        val b = ev.filter(col("event_type") === "click").select("user_id")
        a.exceptAll(b).agg(cnt("except_all_n"))
          .crossJoin(a.intersectAll(b).agg(cnt("intersect_all_n")))
          .crossJoin(a.unionAll(b).agg(cnt("union_all_n")))
      },
      Some("""SELECT
             |CAST((SELECT count(*) FROM (SELECT user_id FROM events WHERE event_type = 'view' EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'click')) AS BIGINT) AS except_all_n,
             |CAST((SELECT count(*) FROM (SELECT user_id FROM events WHERE event_type = 'view' INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'click')) AS BIGINT) AS intersect_all_n,
             |CAST((SELECT count(*) FROM (SELECT user_id FROM events WHERE event_type = 'view' UNION ALL SELECT user_id FROM events WHERE event_type = 'click')) AS BIGINT) AS union_all_n""".stripMargin.replace("\n", " "))),

    // Correlated scalar subquery through the spark.sql TEXT entry path —
    // the SQL parser + Catalyst decorrelation (rewritten to an aggregate
    // + outer join, never a per-row loop; §4.2).
    "subquery_correlated" -> QueryDef(
      (spark, dir) => {
        t(spark, dir, "customer").createOrReplaceTempView("customer_v")
        t(spark, dir, "orders").createOrReplaceTempView("orders_v")
        spark.sql(
          """SELECT c_custkey,
            |  CAST((SELECT count(*) FROM orders_v o
            |        WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
            |  (SELECT max(o_totalprice) FROM orders_v o
            |   WHERE o.o_custkey = c.c_custkey) IS NOT NULL AS has_orders
            |FROM customer_v c
            |ORDER BY c_custkey LIMIT 200""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |CAST((SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
             |(SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) IS NOT NULL AS has_orders
             |FROM customer c ORDER BY c_custkey LIMIT 200""".stripMargin.replace("\n", " "))),

    // Z-order (Morton) clustering key — the lakehouse OPTIMIZE ZORDER
    // primitive: interleave the bits of two bounded dimensions so rows
    // close in BOTH dimensions land in the same file/granule, making the
    // minmax skipping index (cdc_minmax_prune) effective for predicates
    // on EITHER column. The interleave is pure integer bit arithmetic
    // (8 unrolled shift/mask terms per dimension — codegen'd, portable),
    // and the declared output is the locality audit: per z-granule
    // (top 4 bits → 16 granules), the span of each dimension. With
    // z-ordering each granule covers ~1/4 of each dimension's domain
    // (√16) instead of 1/16 of one and ALL of the other — the measured
    // argument for why a z-sorted layout prunes two-predicate scans.
    // Scale shape: the z-value is a per-row expression (zero shuffle);
    // the audit is one partial+final agg to 16 rows.
    "scan_zorder_layout" -> QueryDef(
      (spark, dir) => {
        def interleave(x: String, y: String): String =
          (0 until 8).map(i =>
            s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})")
            .mkString(" + ")
        val z = interleave("day", "ub")
        t(spark, dir, "events")
          .select(expr("datediff(cast(ts as date), date '1995-01-01') % 256").cast("long").as("day"),
            (col("user_id") % 256).as("ub"))
          .withColumn("z", expr(z))
          .groupBy((col("z") / 4096).cast("long").as("granule"))
          .agg(cnt("rows_n"),
            min(col("day")).as("day_min"), max(col("day")).as("day_max"),
            min(col("ub")).as("ub_min"), max(col("ub")).as("ub_max"))
          .withColumn("day_span", col("day_max") - col("day_min"))
          .withColumn("ub_span", col("ub_max") - col("ub_min"))
          .orderBy(col("granule"))
      },
      Some {
        val inter = (0 until 8).map(i =>
          s"((((day) >> $i) & 1) << ${2 * i}) + ((((ub) >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH d AS (SELECT
           |CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) % 256 AS BIGINT) AS day,
           |user_id % 256 AS ub FROM events),
           |zv AS (SELECT day, ub, $inter AS z FROM d)
           |SELECT CAST(floor(z / 4096) AS BIGINT) AS granule,
           |CAST(count(*) AS BIGINT) AS rows_n,
           |min(day) AS day_min, max(day) AS day_max,
           |min(ub) AS ub_min, max(ub) AS ub_max,
           |max(day) - min(day) AS day_span, max(ub) - min(ub) AS ub_span
           |FROM zv GROUP BY 1 ORDER BY granule""".stripMargin.replace("\n", " ")
      }))
}
