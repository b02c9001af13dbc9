package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp directory, then evicts the directory's
    * shared builds (so no cached block outlives the test: DeterminismSpec
    * pins zero blocks at the end of the suite) and deletes it. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val root = Files.createTempDirectory(prefix)
    try body(root.toString)
    finally {
      core.evictSharedFor(root.toString)
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }
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
