package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** One query's measurement: min wall seconds across runs, the raw
    * per-run times, and the error, if it threw.
    */
  final case class Result(name: String, sec: Double, runs: Seq[Double], err: Option[String])

  /** A full sweep: per-query results plus the canary series — a fixed
    * probe re-timed throughout the sweep whose inflation localizes host
    * contention in TIME (which stretch of the sweep was contended), where
    * the per-query min localizes it per KEY.
    */
  final case class Sweep(results: Seq[Result], canary: Seq[Double], canaryEvery: Int)

  /** Fixed, data-independent probe (~40 ms idle at local[4]): a parallel
    * range-sum that exercises scheduler + codegen + all cores, so host
    * CPU contention inflates it roughly as much as it inflates the real
    * queries. Timed with collect() — the result is one row.
    */
  def canaryProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // mod keeps the ANSI-mode sum far from Long overflow at any range size
    spark.range(4L * 1000 * 1000).selectExpr("sum((id * 1315423911) % 1000003)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Run every query against `sfDir`, materializing ALL output columns via
    * a noop-format write — `count()` would let Catalyst prune projections
    * and under-measure map-heavy queries. A query that throws is recorded
    * with its error (and its partial wall time), never swallowed: a
    * regression that breaks a heavy query must FAIL the bench, not improve
    * its total (a swallowed throw scores ~0 s).
    *
    * Contention hardening (a contended sweep once recorded 466 s for a
    * query that runs in 8 s isolated):
    *  - Pass 0 runs every query once UNMEASURED: it absorbs the one-time
    *    costs (JIT of each query's generated code, OS page cache of its
    *    parquet footprint, shared-pipeline materialization) that would
    *    otherwise make every scored pair systematically cold-vs-warm —
    *    54% of pairs disagreed >1.5x from warmup asymmetry alone, burying
    *    the contention signal the pair is meant to carry.
    *  - Each query is then measured twice, the second pass INTERLEAVED
    *    (all queries once, then all again) instead of back-to-back, so a
    *    sustained multi-minute load spike cannot cover both runs of the
    *    same query (a back-to-back min-of-2 fails exactly that way).
    *    With warmup hoisted into pass 0, a >1.5x pair disagreement now
    *    MEANS host contention, not cold start.
    *  - A fixed canary probe is re-timed every `canaryEvery` queries and
    *    recorded in the JSON — a 3x canary inflation marks the surrounding
    *    measurements as contended, separating host load from plan cost.
    *  - If a query's two runs still disagree by >1.5x (the same threshold
    *    pair_agree_pct reports), a third run is taken and the min of all
    *    three scored; the run lists of disagreeing keys surface in the
    *    compact line so a contended sweep self-labels.
    * Caches are cleared after every run so both passes measure the same
    * cold-plan work (min-of-N removes scheduler/host noise, not the
    * query's own cost). A query that throws in pass 0 is not retried or
    * re-measured — the error is the result.
    */
  def runAll(spark: SparkSession, sfDir: String,
             queries: Seq[(String, (SparkSession, String) => DataFrame)],
             canaryEvery: Int = 8): Sweep = {
    val canary = scala.collection.mutable.ArrayBuffer.empty[Double]
    def once(fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      // drop any per-query persist()/localCheckpoint() blocks so caches
      // never accumulate across the sweep — OUTSIDE the timed window
      // (each query is billed for its own materialization, not for the
      // cleanup). releaseQueryCaches is the session contract for
      // checkpoint blocks, which clearCache alone leaves behind; the
      // shared-pipeline checkpoints are deliberately session-lifetime
      // and bypass the registry.
      graft.core.releaseQueryCaches(spark)
      spark.catalog.clearCache()
      (sec, err)
    }
    // Per-key progress to STDERR (stdout stays the driver's one compact
    // JSON line): when a sweep dies mid-flight — a 100× board once lost
    // its JVM to an uncaught executor OutOfMemoryError 62 minutes in —
    // the log must attribute the death to a KEY, not a stage id.
    // err is collapsed to ONE line before truncation: a
    // multi-line exception message would break the one-line-per-key log
    // this channel exists to provide.
    def progress(pass: String, name: String, sec: Double, err: Option[String]): Unit =
      Console.err.println(fmtD(s"[bench] $pass $name %.2fs", sec) +
        err.fold("")(e => s" ERR ${e.replaceAll("\\s+", " ").take(80)}"))
    // pass 0: unmeasured warmup — JIT + page cache + shared pipeline;
    // its wall time is recorded only through the error channel
    val warmed = queries.map { case (name, fn) =>
      val (s0, e0) = once(fn)
      progress("warmup", name, s0, e0)
      (name, fn, s0, e0)
    }
    // pass 1: every query once, measured, canary interleaved
    val first = warmed.zipWithIndex.map { case ((name, fn, s0, e0), i) =>
      if (e0.isDefined) (name, fn, s0, e0)
      else {
        if (i % canaryEvery == 0) canary += canaryProbe(spark)
        val (s1, e1) = once(fn)
        progress("pass1", name, s1, e1)
        (name, fn, s1, e1)
      }
    }
    canary += canaryProbe(spark)
    // pass 2: second runs, in the same order, a full sweep later in time
    val results = first.zipWithIndex.map { case ((name, fn, s1, e1), i) =>
      if (e1.isDefined) Result(name, s1, Seq(s1), e1)
      else {
        if (i % canaryEvery == 0) canary += canaryProbe(spark)
        val (s2, e2) = once(fn)
        progress("pass2", name, s2, e2)
        if (e2.isDefined) Result(name, math.min(s1, s2), Seq(s1, s2), e2)
        else {
          val two = Seq(s1, s2)
          val runs =
            if (two.max > 1.5 * two.min) {
              // the interleaved pair disagrees past the contention
              // threshold (1.5x, the pair_agree metric's): neither
              // measurement can be trusted to bracket the true cost —
              // tiebreak with a third (its error, if any, is ignored:
              // the query already succeeded twice).
              val (s3, e3) = once(fn)
              if (e3.isEmpty) two :+ s3 else two
            } else two
          Result(name, runs.min, runs, None)
        }
      }
    }
    canary += canaryProbe(spark)
    Sweep(results, canary.toSeq, canaryEvery)
  }

  /** Locale-stable double formatting: the f-interpolator uses the JVM
    * default locale, which under a comma-decimal locale (de_DE, tr_TR)
    * would render `0,123` — invalid JSON. Locale.ROOT pins the dot.
    */
  private def fmtD(pattern: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(v))

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** The FULL sweep record: per-query scored (min-of-N) seconds, the raw
    * run lists (2, or 3 after a >1.5x disagreement), and the canary series
    * (chronological) with its cadence in `canary_every`. At 127 queries
    * this is ~8 KB — far past a 2000-char stdout tail window, which
    * would truncate the line's HEAD — so this form goes to a FILE and
    * the stdout line is [[renderCompact]].
    */
  def renderJson(sweep: Sweep, sfDir: String): String = {
    val results = sweep.results
    val qs = results.map(r => s"${jstr(r.name)}:${r.sec}").mkString("{", ",", "}")
    val raw = results.map(r => s"${jstr(r.name)}:${r.runs.mkString("[", ",", "]")}")
      .mkString("{", ",", "}")
    val errs = results.collect { case Result(n, _, _, Some(e)) => s"${jstr(n)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    val can = sweep.canary.map(c => fmtD("%.4f", c)).mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_runs":$raw,"errors":$errs,"canary":$can,"canary_every":${sweep.canaryEvery},"sf":"$sfDir"}"""
  }

  /** Headline keys for the compact stdout line — a fixed, family-spanning
    * subset (scan/cdc/join/agg/window/stream/text/dedup/sim/multimodal).
    * Keys absent from a given sweep (e.g. a SPARK_GRAFT_BENCH_ONLY subset
    * run) are simply skipped.
    */
  val headline: Seq[String] = Seq(
    "scan_project_filter", "type_cast_matrix", "tsv_escape_roundtrip",
    "cdc_replacing_latest", "cdc_collapsing_net", "cdc_dedup_exact",
    "join_inner_equi", "join_broadcast_dim", "join_asof_latest",
    "multi_join_star", "join_skew_salted",
    "agg_pricing_summary", "agg_grouping_sets", "agg_topk_groups",
    "win_rank_dense", "win_running_sum", "win_ntile",
    "topk_global", "set_ops", "json_extract",
    "stream_tumbling_window", "stream_session_window",
    "text_tokenize_wordcount", "text_quality_score", "text_lang_id",
    "dedup_exact_docs", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_substring", "sim_cosine_topk", "sim_ivf_topk", "ann_lsh_topk",
    "graph_pagerank", "multimodal_meta_extract",
    "agg_window_funnel", "agg_time_fill", "sim_pq_adc", "graph_triangle_count",
    "pipeline_curation_e2e", "sim_graph_ann")

  private def fmtMap(entries: Seq[(String, Double)]): String =
    entries.map { case (k, v) => s"${jstr(k)}:${fmtD("%.3f", v)}" }.mkString("{", ",", "}")

  /** The driver's ONE stdout JSON line, guaranteed to fit its 2000-char
    * tail capture (sbt's `[success] Total time…` footer takes ~80 of
    * those). `value` is the total over ALL queries; `queries` carries the
    * fixed [[headline]] subset; `slowest` the top-5 by scored time;
    * `pair_agree_pct` the share of keys whose two interleaved runs agree
    * within 1.5x (the contention health metric);
    * `canary_med`/`canary_max` summarize the probe series; `detail` is
    * the file carrying the full [[renderJson]] record.
    */
  def renderCompact(sweep: Sweep, sfDir: String, detailPath: String): String = {
    val results = sweep.results
    val total = results.map(_.sec).sum
    val byName = results.map(r => r.name -> r).toMap
    val head = headline.flatMap(k => byName.get(k).map(r => k -> r.sec))
    val slowest = results.filter(_.err.isEmpty).sortBy(-_.sec).take(5)
      .map(r => r.name -> r.sec)
    val errs = {
      val all = results.collect { case Result(n, _, _, Some(e)) => n -> e }
      val shown = all.take(5)
        .map { case (n, e) => s"${jstr(n)}:${jstr(e.take(60))}" }
      val more = if (all.size > 5) Seq(s""""_more":${all.size - 5}""") else Nil
      (shown ++ more).mkString("{", ",", "}")
    }
    val pairs = results.filter(r => r.err.isEmpty && r.runs.size >= 2)
    val agree =
      if (pairs.isEmpty) 100.0
      else 100.0 * pairs.count { r =>
        val two = r.runs.take(2); two.max <= 1.5 * math.max(two.min, 1e-9)
      } / pairs.size
    // Self-labeling evidence: every key whose interleaved pair disagreed
    // >1.5x carries its FULL run list in the compact line (worst 5 by
    // ratio, count of the rest), so a contended run shows per-key
    // third-run evidence instead of a bare percentage.
    val disagree = pairs
      .filter { r => val two = r.runs.take(2); two.max > 1.5 * math.max(two.min, 1e-9) }
      .sortBy { r => val two = r.runs.take(2); -(two.max / math.max(two.min, 1e-9)) }
    val disagreeJson = {
      val shown = disagree.take(5).map(r =>
        s"${jstr(r.name)}:${r.runs.map(v => fmtD("%.3f", v)).mkString("[", ",", "]")}")
      val more = if (disagree.size > 5) Seq(s""""_more":${disagree.size - 5}""") else Nil
      (shown ++ more).mkString("{", ",", "}")
    }
    val canSorted = sweep.canary.sorted
    val canMed = if (canSorted.isEmpty) 0.0 else canSorted(canSorted.size / 2)
    val canMax = if (canSorted.isEmpty) 0.0 else canSorted.last
    def render(heads: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${fmtD("%.3f", total)},"unit":"sec","n_queries":${results.size},""" +
        s""""queries":${fmtMap(heads)},"slowest":${fmtMap(slowest)},"errors":$errs,""" +
        s""""pair_agree_pct":${fmtD("%.1f", agree)},"disagree":$disagreeJson,""" +
        s""""canary_med":${fmtD("%.4f", canMed)},""" +
        s""""canary_max":${fmtD("%.4f", canMax)},"canary_every":${sweep.canaryEvery},""" +
        s""""detail":${jstr(detailPath)},"sf":${jstr(sfDir)}}"""
    // belt-and-braces: if a pathological key/error set overflows the tail
    // budget, shed the headline map (slowest + summary stats remain)
    val full = render(head)
    if (full.length <= 1880) full else render(Seq.empty)
  }

  /** Data-derived shuffle-partition default (the SCALE.md sizing rule),
    * every constant in it measured. The 100× calibration: 60M-row
    * iterative-join sorts at the 32-core floor exhaust an 8 GB heap on
    * the ≈1.9 GB 100× twin; 256 partitions still tipped over once
    * mid-sweep (UNABLE_TO_ACQUIRE_MEMORY in pagerank's sort); at the
    * 203-key surface cold pagerank on the 1.96 GB twin OOM'd
    * reproducibly at 512, while 1024 ran clean AND faster (128.9 s vs
    * 162.0 s — smaller sorts spill less). The 10× calibration: a blind 4 MiB rule
    * split the 187 MB twin 64 ways and cost 21% task-overhead wall
    * (219.9 s vs 181.8 s at the core floor), so the floor holds until
    * even a COARSE 16 MiB split would exceed the core count. Rounded UP
    * to a power of two (halvable by AQE coalescing), capped at 4096.
    * At cluster scale the same rule is the volume-proportional INITIAL
    * partition count handed to AQE, not a fixed core-count constant.
    *
    * Memory per core enters the rule via the EFFECTIVE heap, with a
    * wave-depth floor. A flat 2 MiB anchor ("a too-fine initial count
    * coalesces for free under AQE") does not hold: AQE coalescing
    * cannot reach CACHED plans (canChangeCachedPlanOutputPartitioning=
    * false pins them by design), and iterative keys live on cached
    * relations, so a 4096 initial count taxes every LPA/pagerank
    * iteration: at 300×/16 GiB with the AQE wiring ON,
    * graph_community_lpa ran 218.0 s at 1024 initial, 444.0 s at 2048,
    * >1140 s (killed) at 4096 — super-linear in the initial count alone
    * (SCALE.md). Two derivations, both from measurements:
    *  - `effective = heap − 4 GiB` (floored at heap/4): the single-JVM
    *    co-residence reserve. The heap-cliff measurements showed
    *    driver + session caches eat a roughly FIXED slice —
    *    8 GiB dies at 100×/300× while 16 GiB runs clean — so sort
    *    memory scales with the heap BEYOND that slice, not with the
    *    raw heap. perPartition = effMemPerCore >> 6 lands exactly on
    *    both calibrated points: 8 GiB → 128 MiB/core → 2 MiB (the
    *    measured 100× anchor: 512 OOM'd, 1024 clean) and 16 GiB →
    *    384 MiB/core → 6 MiB (300× raw 967 → 1024, the measured-best
    *    point). Clamped to [64 KiB, 16 MiB] — at 16 MiB the memory
    *    regime meets the latency regime's boundary constant.
    *  - Floor at 32 tasks/core in the memory regime: both measured
    *    iterative optima sit at 32×cores = 1024 (pagerank at 100× ran
    *    68.8 s at 512 vs 46.4 s at 1024 — fewer partitions spill;
    *    lpa at 300× ran 218 s at 1024 vs 444 s at 2048 — more
    *    partitions reschedule), and light stages above the floor are
    *    AQE-coalesced for free ([[aqeScaleConfigs]]). The cap keeps
    *    4096 for the volume term but never binds below the floor on
    *    many-core clusters.
    */
  private[graft] def autoShufflePartitions(sfDir: String, cpus: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Int = {
    val bytes = core.bytesUnder(sfDir)
    // Two regimes with a measured boundary: while a 16 MiB/partition
    // split still fits inside the core count the corpus is latency-
    // bound and MORE partitions only add task overhead (the 187 MB 10×
    // twin ran 181.8 s at the 32-core floor and 219.9 s split 64 ways,
    // scale/bench_full_10x_*.json); past that boundary the
    // corpus is sort-memory-bound and gets the memory-per-core sizing.
    val coarse = (bytes + (16L << 20) - 1) / (16L << 20)
    // Latency regime returns the core count DIRECTLY: the
    // power-of-two rounding exists so AQE can coalesce the data-derived
    // value cleanly, but rounding the core floor itself would hand a
    // local[12] 16 partitions — pure task overhead vs the partitions=
    // cores default this rule is calibrated against.
    if (coarse <= cpus) return cpus
    val perPartition =
      math.max(64L << 10, math.min(16L << 20, effectiveMemPerCore(cpus, heapBytes) >> 6))
    val raw = (bytes + perPartition - 1) / perPartition
    var p = 1L
    while (p < raw) p <<= 1
    // Floor 32 tasks/core (the measured iterative optimum at both 100×
    // and 300×); cap 64 tasks/core-or-4096 — the cap sits strictly
    // ABOVE the floor so the volume/memory-derived p still binds on
    // many-core shapes (a shared floor==cap would collapse the rule to a
    // constant 32·cpus there, abandoning the per-partition byte budget
    // the memory regime exists to enforce).
    math.min(math.max(p, 32L * cpus), math.max(4096L, 64L * cpus)).toInt
  }

  /** Memory per core, ONE basis shared by the initial-partition rule
    * and the AQE advisory: heap minus a 4 GiB
    * reserve for what never shows up in per-task arithmetic (driver
    * bookkeeping, broadcast vars, session caches, late-sweep status-
    * store ballast — the measured pass-2 OOM margin, SCALE.md),
    * floored at heap/4 so small heaps keep a sane budget. */
  private[graft] def effectiveMemPerCore(cpus: Int, heapBytes: Long): Long = {
    val effective = math.max(heapBytes - (4L << 30), math.max(1L, heapBytes) / 4)
    effective / math.max(1, cpus)
  }

  /** Memory-regime AQE wiring: when the volume-derived
    * INITIAL partition count exceeds the core count, let AQE coalesce
    * each post-shuffle stage to an advisory size derived from memory
    * per core instead of Spark's parallelism-first default (which only
    * coalesces below minPartitionSize=1 MiB — at 1024/4096 initial
    * partitions of 2–4 MiB each it never fires, so mid-size map-heavy
    * stages paid 1.5–1.8× task overhead at 100× and iterative keys
    * 4.3× at 300×, SCALE.md). Advisory = effective memPerCore
    * >> 6 (6 MiB at 16 GiB/32 cores): the 100× iterative join (~4.5 GB
    * shuffle) coalesces to ~768-equivalent tasks — inside the measured
    * clean-and-fast band around 1024 — while a 300 MB map-heavy stage
    * drops to ~128 tasks (the floor) instead of 1024. minPartitionNum
    * pins 4× the core count as the floor: at floor = cores pagerank's
    * ~500 MB iteration exchange coalesced to ~62 tasks of ~8 MiB
    * compressed each, and on the late-sweep heap (session caches +
    * shared pipelines resident) 32 such tasks concurrently OOM'd the
    * 16 GiB 100× board in pass 2 — a sweep the un-coalesced
    * 1024-partition board survived.
    * 4×cores halves-plus the per-task footprint while keeping ~90% of
    * the task-overhead win over the 1024-way split.
    *
    * Latency regime (count == cores): Spark's parallelism-
    * first default never coalesces below the core count, so every
    * micro-exchange of a multi-stage query (probe-bounded beam hops,
    * per-band windows, 6-row stage aggregates) runs a full `cpus`-task
    * wave on kilobytes of data — pure scheduling overhead, and the
    * reason a board measured local[4] FASTER than local[32] on a
    * 17 MB corpus (guide §2.2: fewer, larger reduce partitions). The
    * wiring turns parallelism-first off here too, which drops Spark's
    * coalesce floor to 1 (CoalesceShufflePartitions: non-parallelism-
    * first min = minPartitionNum.getOrElse(1)) and lets the SAME
    * memory-per-core advisory size every post-shuffle stage by its
    * measured bytes: a sub-advisory exchange collapses to one task
    * while a corpus-scale exchange keeps bytes/advisory tasks. No
    * explicit minPartitionNum: the byte-derived count IS the policy,
    * and the per-task ceiling (advisory ≤ effective mem/core >> 6)
    * keeps any coalesced task two orders of magnitude under its heap
    * share, so the floor-vs-OOM calibration of the memory regime does
    * not arise. SPARK_GRAFT_AQE_ADVISORY overrides the advisory bytes
    * ("off" disables the wiring in BOTH regimes) for knob sweeps.
    */
  private[graft] def aqeScaleConfigs(partitions: Int, cpus: Int,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Seq[(String, String)] = {
    val env = sys.env.get("SPARK_GRAFT_AQE_ADVISORY")
    if (env.contains("off")) return Seq.empty
    // Advisory off the same EFFECTIVE memory-per-core basis as
    // [[autoShufflePartitions]], one basis for one concept: 16 GiB/32
    // cores → 384 MiB effective/core → 6 MiB advisory (was 8 MiB raw —
    // the safe direction: smaller coalesce targets mean more, smaller
    // tasks, and the 4×cores floor still bounds the coalesce).
    val advisory = env.map(_.toLong)
      .getOrElse(math.max(1L << 20, effectiveMemPerCore(cpus, heapBytes) >> 6))
    val common = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString)
    if (partitions <= cpus) common
    else common :+
      ("spark.sql.adaptive.coalescePartitions.minPartitionNum" -> (4 * cpus).toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sfDir)
    // Warm the JVM/codegen/parquet-reader paths once so the first measured
    // query doesn't absorb ~6s of one-time JIT + session initialization.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").collect()
    // Dev-loop subset (mirrors Verify's SPARK_GRAFT_ONLY): run just the
    // named queries IN THE GIVEN ORDER — for bisecting sweep-order
    // interactions. The driver never sets it; full sweep unchanged.
    val all = SparkEntry.queries
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) =>
        val names = list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val unknown = names.filterNot(all.contains)
        if (unknown.nonEmpty) {
          Console.err.println(
            s"unknown queries in SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(", ")}\n" +
              s"known keys: ${all.keys.toSeq.sorted.mkString(", ")}")
          spark.stop()
          sys.exit(2)
        }
        names.map(n => n -> all(n))
      case None => all.toSeq
    }
    val sweep = runAll(spark, sfDir, selected)
    // Full record (per-query run pairs + canary series, ~8 KB at 127
    // queries) goes to a file; stdout gets ONLY the compact line, last,
    // so a 2000-char tail capture can parse it (the full line's head
    // would be truncated). build.sbt sets `run / outputStrategy :=
    // StdoutOutput` so sbt passes this line through without the
    // "[info] " prefix its logger would prepend.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (renderJson(sweep, sfDir) + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      Console.err.println(s"bench detail write failed ($detailPath): $e") }
    println(renderCompact(sweep, sfDir, detailPath))
    spark.stop()
    if (sweep.results.exists(_.err.isDefined)) sys.exit(1)
  }

  /** The harness session: the one configuration every entry point
    * (Bench, Verify, StreamBench, PlanAudit, ScaleGen, ScaleKnob, Smoke)
    * runs, so the plan that is verified is the plan that is timed.
    *  - `local[SPARK_GRAFT_CPUS]` (default 4);
    *  - shuffle partitions sized to the data under `sfDir`
    *    ([[autoShufflePartitions]]; at 100× graph_pagerank died at
    *    partitions = cores and ran clean at 256), unless
    *    SPARK_GRAFT_SHUFFLE_PARTITIONS pins them for a sweep;
    *  - the memory-regime AQE coalesce wiring ([[aqeScaleConfigs]]);
    *  - UTC session time, the zone the DuckDB oracle compares in;
    *  - `spark.graft.shared.pipeline=true`: the minhash, graph and
    *    index consumers reuse one materialized build per (session,
    *    dataset), values unchanged ([[graft.core.shared]]).
    */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(autoShufflePartitions(sfDir, cpus))
    println(s"[session] local[$cpus] shuffle_partitions=$shufflePartitions " +
      (if (sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS")) "(env)" else "(auto)"))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.core.SharedPipeline.key, "true")
      // Iterative consumers join cached relations on their cached
      // layout: at the default (true) AQE may repartition a cached plan,
      // and every consumer re-exchanges it (graph_pagerank's runtime
      // shuffle at sf0.1 is 49.1 MB that way, 20.0 MB with it pinned).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      // Headless status-store diet: a 203-key × 3-pass 100× sweep runs
      // ~7,000 stages, and the default 1000 retained executions (each
      // with its re-planned AQE graphs and per-stage metrics) grow to
      // multi-GB of driver heap that nothing reads with the UI off. The
      // shorter periodic GC lets ContextCleaner's weak-reference
      // shuffle cleanup fire inside one sweep.
      .config("spark.sql.ui.retainedExecutions", "64")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.cleaner.periodicGC.interval", "5min")
    val spark = aqeScaleConfigs(shufflePartitions, cpus)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
