package graft

/** Dev-loop twin of the driver's t1 smoke: runs SparkEntry.entry on
  * sf0.001 and prints the row count (driver requirement: rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session("/root/testdata/sf0.001")
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
