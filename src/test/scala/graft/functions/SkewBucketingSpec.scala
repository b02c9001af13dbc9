package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted joins must equal their plain twins row-for-row, and AQE must
  * split a skewed join partition at runtime.
  */
class SkewBucketingSpec extends SparkSpec {

  test("saltedJoin == plain join on a real fact-dim pair") {
    val orders = graft.core.t(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.core.t(spark, sf001, "customer")
      .select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted(Ordering.Tuple2[Long, String])
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", salts = 8)
      .select("o_orderkey", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted(Ordering.Tuple2[Long, String])
    assert(salted.length === plain.length)
    assert(salted.sameElements(plain))
  }

  test("salt is deterministic and spreads a hot key across sub-partitions") {
    import spark.implicits._
    // one hot key, 1000 distinct payloads
    val hot = (0 until 1000).map(i => (42L, i.toLong)).toDF("k", "payload")
    val salted = hot.withColumn("s", Skew.salt(8, col("payload")))
    val spread = salted.groupBy("s").count().collect().map(_.getLong(1))
    assert(spread.length === 8, "all 8 salt values used")
    assert(spread.max < 1000 / 2, "no salt bucket holds the majority")
    // re-evaluation yields identical salts (retry safety)
    val a = salted.collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    val b = hot.withColumn("s", Skew.salt(8, col("payload")))
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(a === b)
  }

  test("saltedJoin rejects join types the salt replication would corrupt") {
    import spark.implicits._
    val big = Seq((1L, "x")).toDF("k", "v")
    val small = Seq((1L, "y")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, "k", 4, joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, "k", 4, joinType = "right")
    }
    // left-shaped types pass the guard
    assert(Skew.saltedJoin(big, small, "k", 4, joinType = "left_semi").count() === 1L)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    import spark.implicits._
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink thresholds so the synthetic hot key qualifies as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~100k rows vs a uniform remainder
      val big = spark.range(100000).select(
        when(col("id") % 10 === 0, 1L).otherwise(col("id")).as("k"),
        concat(lit("payload_padding_padding_"), col("id")).as("v"))
      val small = spark.range(200).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = big.join(small, "k")
      // execute THIS queryExecution so AQE finalizes it (count() would
      // plan a separate execution and leave j's plan isFinalPlan=false)
      assert(j.collect().length > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join split in plan:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
