package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // same setting as the harness session (Bench.session): pagerank's
    // runtime shuffle at sf0.1 drops 49.1->20.0 MB / 4.35M->2.02M
    // records with cached-plan partitioning preserved.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
