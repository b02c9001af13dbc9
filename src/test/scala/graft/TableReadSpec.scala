package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.core.t
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `core.t`'s per-session schema store: a table's schema is inferred
  * (one Spark job) once per session and dataset generation, a rewrite
  * of the table is inferred again, every read still plans its own
  * relation (so self-joins of two reads resolve), and a new session
  * infers for itself. Each test works on its own copy of the sf0.001
  * tables, deleted when the test ends.
  */
class TableReadSpec extends SparkSpec {

  /** Runs `body` on a fresh copy of the sf0.001 tables, then deletes it. */
  private def withCopy(prefix: String)(body: String => Unit): Unit =
    withTempDir(prefix) { dir =>
      ScaleGen.scaleInto(spark, sf001, dir, 1)
      body(dir)
    }

  /** Spark jobs that `body` starts on `session`'s context. */
  private def jobsOf(session: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null)) marker.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val sc = session.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker job is seen, every
      // job `body` started has been counted
      sc.setLocalProperty("graft.test.marker", "1")
      try session.range(1).count() finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a second read of a table in the same session starts no Spark job") {
    withCopy("graft_tread_jobs") { dir =>
      assert(jobsOf(spark)(t(spark, dir, "orders")) >= 1, "the first read infers the schema")
      assert(jobsOf(spark)(t(spark, dir, "orders")) === 0, "the second read must reuse the schema")
      assert(jobsOf(spark)(core.tSpread(spark, dir, "orders", "o_orderkey")) === 0)
    }
  }

  test("a rewritten table is read with its new schema and rows") {
    withCopy("graft_tread_rewrite") { dir =>
      val path = s"$dir/orders.parquet"
      val before = t(spark, dir, "orders")
      assert(before.columns.contains("o_totalprice"))
      val n = before.count()
      def rewrite(name: String): Unit =
        spark.read.parquet(s"$sf001/orders.parquet").orderBy("o_orderkey").limit(5)
          .select(col("o_orderkey"), (col("o_orderkey") * 2).as(name))
          .coalesce(1).write.mode("overwrite").parquet(path)
      rewrite("twice")
      val after = t(spark, dir, "orders")
      assert(after.columns.toSeq === Seq("o_orderkey", "twice"))
      assert(after.count() === 5 && n > 5)
      // a same-size rewrite (same rows, a same-length column name): only
      // the nanosecond mtime tells the two generations apart
      val (files, bytes) = (core.filesUnder(path).size, core.bytesUnder(path))
      rewrite("other")
      assert((core.filesUnder(path).size, core.bytesUnder(path)) === ((files, bytes)))
      assert(t(spark, dir, "orders").columns.toSeq === Seq("o_orderkey", "other"))
    }
  }

  test("two reads of one table self-join: each read has its own attribute ids") {
    withCopy("graft_tread_self") { dir =>
      val n = t(spark, dir, "orders").count()
      val byAlias = t(spark, dir, "orders").as("a")
        .join(t(spark, dir, "orders").as("b"), col("a.o_orderkey") === col("b.o_orderkey"))
      assert(byAlias.count() === n)
      val df1 = t(spark, dir, "orders")
      val df2 = t(spark, dir, "orders")
      assert(df1.join(df2, df1("o_orderkey") === df2("o_orderkey")).count() === n)
      // Spark rewrites only a plain equality of one column on both sides;
      // any other condition needs each read's own attribute ids
      assert(df1.join(df2, df1("o_orderkey") <= df2("o_orderkey")).count() === n * (n + 1) / 2)
    }
  }

  test("a new session infers its own schema") {
    withCopy("graft_tread_session") { dir =>
      t(spark, dir, "orders")
      assert(jobsOf(spark)(t(spark, dir, "orders")) === 0)
      val other = spark.newSession()
      assert(jobsOf(other)(t(other, dir, "orders")) >= 1,
        "a session must not be served another session's schema")
      assert(jobsOf(other)(t(other, dir, "orders")) === 0)
    }
  }
}
