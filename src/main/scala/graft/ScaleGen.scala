package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: produce an
  * M×-scaled twin of a testdata directory so the heavy families' cost
  * curves can be MEASURED instead of argued. The base corpus is never
  * modified; the output is the union of M key-shifted copies with two
  * structure-preserving twists:
  *
  *  - `documents.text`: copy k > 0 suffixes every token with `~k`, so
  *    WITHIN-copy dup/near-dup/vocabulary structure is exactly the
  *    base corpus's (the workload per row is unchanged) while ACROSS
  *    copies shingle overlap is zero — dup clusters scale linearly
  *    with the corpus, the way a real crawl grows, instead of every
  *    doc acquiring M-1 twins (which would grow candidate pairs
  *    quadratically and measure a different algorithm).
  *  - `embeddings.embedding`: copy k rotates the vector by (7k) mod 64
  *    positions — an isometry, so within-copy pairwise geometry (cell
  *    sizes, kNN structure) is identical to the base corpus, while
  *    cross-copy vectors decorrelate instead of being exact duplicates
  *    (which would explode cosine-threshold pair counts M²-fold).
  *
  * Key columns shift by clean strides (1e7) so copies never collide
  * and cross-table joins stay consistent (orders.o_custkey moves with
  * customer.c_custkey, lineitem's FKs with their parents). Dims
  * (region, nation) are fixed points — at every scale the dimension
  * side of a broadcast join stays dimension-sized, like production.
  * Probe sets bounded by literal id filters (vec_id < 10, doc_id < 20)
  * stay in copy 0 by construction: probes are constant while the
  * corpus grows, exactly the declared scale contract.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> <multiplier>`
  */
object ScaleGen {

  private val Stride = 10000000L // > every base key domain, all tables

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = Bench.session(src)
    scaleInto(spark, src, out, mult)
    spark.stop()
  }

  /** The generator body on an existing session (ScaleGenSpec pins its
    * invariants: exact M× row counts, FK consistency, linear dup
    * structure, isometric embedding copies).
    */
  def scaleInto(spark: SparkSession, src: String, out: String, mult: Int): Unit = {
    def copies(name: String, nOutBase: Int)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val scaled = (0 until mult).map(k => shift(base, k)).reduce(_ unionByName _)
      // output files scale with the data, not a fixed constant:
      // nOutBase is calibrated for a 10× twin, so beyond 10×
      // grow it linearly — a 100× lineitem lands in 320 files instead of
      // 32 monoliths, keeping per-file size (and any reader that maps
      // files to splits) flat as M grows.
      val nOut = math.max(nOutBase, nOutBase * mult / 10)
      scaled.repartition(nOut).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$mult -> $out ($nOut files)")
    }
    def shifted(cols: String*)(df: DataFrame, k: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Stride)))

    // dims are fixed points
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name (dim, copied)")
    }
    copies("customer", 4)(shifted("c_custkey"))
    copies("supplier", 1)(shifted("s_suppkey"))
    copies("part", 2)(shifted("p_partkey"))
    copies("orders", 8)(shifted("o_orderkey", "o_custkey"))
    copies("lineitem", 32)(shifted("l_orderkey", "l_partkey", "l_suppkey"))
    copies("events", 16)(shifted("event_id", "user_id"))
    copies("documents", 16) { (df, k) =>
      val s = shifted("doc_id")(df, k)
      if (k == 0) s
      else s
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), x -> concat(x, '~$k')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies("embeddings", 4) { (df, k) =>
      val s = shifted("vec_id")(df, k)
      val rot = (7 * k) % 64
      if (rot == 0) s
      else s.withColumn("embedding", expr(
        s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), slice(embedding, 1, $rot))"))
    }
  }
}

/** Measure sim_graph_ann's kNN-edge build at a chosen centroid ring
  * (SCALE.md's "fix where it isn't linear" leg): the declared ring pins
  * 10 centroids, so at M× corpus the cell-local self-join does ~M² the
  * work; a ring grown ~√N restores near-linear wall. This probe times
  * the SAME parameterized build the declared queries run
  * (SimilarityQueries.graphAnnEdges → ivfAssignedAt → cellKnn) at each
  * ring, so the prescription is a measurement of the shipping path.
  *
  * Usage: `runMain graft.ScaleKnob <sfDir> <ring>` where ring is
  * `oracle` (the declared [480,490) ring), `sqrt` (⌈√N⌉ centroids), or
  * an integer target centroid count.
  */
object ScaleKnob {
  import graft.operators.SimilarityQueries.{OracleRing, Ring, SpreadRing, corpusN, graphAnnEdges}

  /** The ring a ScaleKnob argument names; spread rings are sized from
    * the corpus count of `dir`. */
  private def parseRing(spark: SparkSession, dir: String, arg: String): Ring = arg match {
    case "oracle" => OracleRing
    case "sqrt" => SpreadRing(math.max(1L, math.round(math.sqrt(corpusN(spark, dir).toDouble))))
    case n if n.nonEmpty && n.forall(_.isDigit) =>
      SpreadRing(math.max(1L, corpusN(spark, dir) / math.max(1L, n.toLong)))
    case other => throw new IllegalArgumentException(
      s"ring must be oracle, sqrt or a centroid count, got '$other'")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Bench.session(dir)
    val ring = parseRing(spark, dir, args.lift(1).getOrElse("sqrt"))
    // warm pass (JIT + page cache), then two measured runs, min scored —
    // the Bench discipline in miniature
    def once(): Double = {
      val t0 = System.nanoTime()
      graphAnnEdges(spark, dir, ring).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val sec = math.min(once(), once())
    val n = graphAnnEdges(spark, dir, ring).count()
    println(f"[scaleknob] dir=$dir ring=$ring edges=$n sec=$sec%.2f")
    spark.stop()
  }
}
