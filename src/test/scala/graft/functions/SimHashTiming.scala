package graft.functions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object SimHashTiming {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    def time(name: String, c: org.apache.spark.sql.Column): Unit = {
      val df = d.select(c.as("sh"))
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[timing] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("filter64", MinHash.simhash64(col("text")))
    time("codegen", MinHash.simhash64Fast(col("text")))
    spark.stop()
  }
}
