package graft.functions

import graft.SparkSpec
import graft.plans.UniqUpTo
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Laws for the saturating distinct-count aggregate (CH uniqUpTo). */
class UniqUpToSpec extends SparkSpec {

  private def check(prop: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("graft_uniq_upto == least(count distinct, N+1) on random data") {
    graft.plans.GraftExtensions.install(spark)
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L)))
    check(Prop.forAllNoShrink(gen) { data =>
      val df = data.toDF("g", "v").repartition(7)
      val got = df.groupBy("g")
        .agg(expr("graft_uniq_upto(v, 8)").as("u"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = data.groupBy(_._1).map { case (g, vs) =>
        g -> math.min(vs.map(_._2).distinct.size, 9).toLong
      }
      got == want
    })
  }

  test("the aggregation buffer is hard-capped at N+1 entries") {
    val agg = UniqUpTo(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.catalyst.expressions.Literal(5))
    val buf = agg.createAggregationBuffer()
    (1L to 1000L).foreach { v =>
      agg.update(buf, org.apache.spark.sql.catalyst.InternalRow(v))
    }
    assert(buf.size == 6, "state must saturate at N+1, not grow with cardinality")
    assert(agg.eval(buf) == 6L)
    // merge also saturates
    val other = agg.createAggregationBuffer()
    (2000L to 3000L).foreach(other += _)
    assert(agg.merge(buf, other).size == 6)
    // and the serialized form carries at most N+1 longs
    assert(agg.serialize(buf).length <= 4 + 6 * 8)
  }
}
