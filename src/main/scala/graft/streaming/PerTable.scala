package graft.streaming

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Runs independent per-table chains of Spark work side by side.
  *
  * A routed micro-batch lands and ships each table on its own; the jobs
  * of one table are small, and the driver spends most of a sequential
  * chain between them (listing, committing, markers, planning). Running
  * the chains concurrently fills those gaps with the other tables' jobs.
  *
  * Each chain is submitted through [[SQLExecution.withThreadLocalCaptured]]
  * (the path AQE's broadcast and subquery threads take), so its jobs keep
  * the caller's local properties: the streaming query and batch ids, the
  * job group that `StreamingQuery.stop` cancels, and the SQL execution
  * root. It also sets the caller's session as the thread's active one.
  */
private[streaming] object PerTable {

  private val threads: ThreadFactory = { r =>
    val t = new Thread(r, "graft-per-table")
    t.setDaemon(true)
    t
  }

  /** `body` over every item, at most `defaultParallelism` at a time.
    * Returns only once every chain has ended, even if one failed or the
    * caller is interrupted meanwhile (a chain's jobs are never left
    * running behind it). A failure rethrows the first chain's error in
    * `items` order, with the others attached as suppressed.
    */
  def foreach[A](spark: SparkSession, items: Seq[A])(body: A => Unit): Unit = {
    if (items.isEmpty) return
    val pool = Executors.newFixedThreadPool(
      math.min(items.size, spark.sparkContext.defaultParallelism), threads)
    try {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val chains = items.toVector.map(a =>
        SQLExecution.withThreadLocalCaptured(session, pool)(body(a)))
      var interrupted = false
      val failures = chains.flatMap { f =>
        var outcome: Option[Option[Throwable]] = None
        while (outcome.isEmpty) {
          try { f.get(); outcome = Some(None) }
          catch {
            case e: ExecutionException => outcome = Some(Some(e.getCause))
            // keep waiting: the interrupt is restored once all have ended
            case _: InterruptedException => interrupted = true
          }
        }
        outcome.get
      }
      if (interrupted) Thread.currentThread().interrupt()
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
