package graft

import org.apache.spark.sql.SparkSession
import graft.plans._

/** The custom Catalyst expressions' two install points: the session
  * extension (`spark.sql.extensions=graft.plans.GraftExtensions`) and
  * each object's on-demand `register`. Both must cover all seven.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val names = Seq("graft_dot", "graft_simhash64", "graft_sorted_intersect",
    "graft_group_array_n", "graft_ring_argmax", "graft_minhash64", "graft_uniq_upto")

  test("GraftExtensions lists all seven custom expressions") {
    val listed = GraftExtensions.functions.map(_._1.funcName)
    assert(listed.sorted === names.sorted)
    assert(GraftExtensions.functions.map(_._2.getName) === listed,
      "each ExpressionInfo must carry its function's name")
  }

  test("a session built with GraftExtensions resolves every custom function in SQL") {
    // getOrCreate hands back the shared test session while it is the
    // active or default one; set it aside so the builder creates a
    // session (on the same SparkContext) that applies the extension
    val base = spark // the shared session, and its SparkContext, must exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(ext ne base, "the builder must create a new session")
      names.foreach(n => assert(ext.catalog.functionExists(n), s"$n must resolve"))
      assert(ext.sql("SELECT graft_uniq_upto(id, 3) FROM range(10)").head.getLong(0) === 4L)
      assert(ext.sql("SELECT size(graft_minhash64(array(1L, 2L, 3L), 8))")
        .head.getInt(0) === 8)
      assert(ext.sql("SELECT graft_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))")
        .head.getDouble(0) === 11.0)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("on-demand register installs each function in a session built without the extension") {
    val s = spark.newSession()
    names.foreach(n => assert(!s.catalog.functionExists(n), s"$n must start unregistered"))
    Seq[SparkSession => Unit](DotProductD.register, SimHash64D.register,
      SortedIntersectD.register, GroupArrayN.register, RingArgmaxCid.register,
      MinHash64D.register, UniqUpTo.register).foreach(_(s))
    names.foreach(n => assert(s.catalog.functionExists(n), s"$n must resolve"))
  }
}
