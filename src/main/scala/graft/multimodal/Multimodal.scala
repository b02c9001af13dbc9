package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata.
  *
  * North-star requirement: treat image/audio/video as `binary` columns with
  * typed metadata and make the Spark-side plumbing (schema, partitioning,
  * batch shape) real even though no media codecs exist in this environment —
  * the decode kernel itself is STUBBED (deterministic fake derived from the
  * payload hash) and clearly marked.
  *
  * Scale design: assets stay in their parquet row groups until the decode
  * pass; decode runs per-partition (mapPartitions-shaped via typed Dataset
  * ops) so a real codec drops in without changing the plan shape; frame
  * sampling is posexplode (a Generator — no shuffle); features are fixed-dim
  * float arrays ready for the graft.operators.SimilarityQueries ANN path.
  */
object Multimodal {

  /** Canonical asset schema. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  final case class DecodedMeta(width: Int, height: Int, durationMs: Long, nFrames: Int)

  /** REAL decode entry point. Hand-written pure-JVM codecs parse the
    * uncompressed containers (RIFF/WAVE PCM-16 → [[WavCodec]], binary
    * PPM → [[PpmCodec]]); compressed images (JPEG/PNG/BMP/GIF, plus
    * TIFF/WBMP on this JDK) decode through `javax.imageio` →
    * [[ImageIoCodec]] — also pure-JVM, no native libraries.
    * MultimodalCodecSpec pins the roundtrip laws and the decodeWith
    * integration for all of them. Only compressed AUDIO/VIDEO codecs
    * (Opus, H.264) genuinely need native libraries this container does
    * not ship and still throw — a production build plugs them in here,
    * everything downstream is agnostic. Audio maps (sampleRate,
    * channels) into the (width, height) meta slots; frames are
    * 256-sample windows (the VAD frame length).
    */
  def decodeReal(bytes: Array[Byte], modality: String): DecodedMeta =
    modality match {
      case "audio/wav" | "wav" =>
        WavCodec.decode(bytes) match {
          case Some(w) => DecodedMeta(w.sampleRate, w.channels, w.durationMs,
            (w.samples.length + 255) / 256)
          case None => DecodedMeta(0, 0, 0L, 0) // poison-pill: zero meta
        }
      case "image/ppm" | "ppm" =>
        PpmCodec.decode(bytes) match {
          case Some(p) => DecodedMeta(p.width, p.height, 0L, 1)
          case None => DecodedMeta(0, 0, 0L, 0)
        }
      case "image/jpeg" | "jpeg" | "jpg" | "image/png" | "png" |
           "image/bmp" | "bmp" | "image/gif" | "gif" =>
        ImageIoCodec.decode(bytes) match {
          case Some(i) => DecodedMeta(i.width, i.height, 0L, 1)
          case None => DecodedMeta(0, 0, 0L, 0)
        }
      case other =>
        throw new NotImplementedError(
          s"codec for '$other' needs native libraries unavailable in this " +
            "environment - use decodeStubbed or a supported container")
    }

  /** Decode an image payload of any supported container to the shared
    * interleaved-RGB buffer. None = poison pill. */
  def decodeImage(bytes: Array[Byte], modality: String): Option[ImageIoCodec.Img] =
    modality match {
      case "image/ppm" | "ppm" =>
        PpmCodec.decode(bytes).map(p => ImageIoCodec.Img(p.width, p.height, p.pixels))
      case _ => ImageIoCodec.decode(bytes)
    }

  /** REAL pixel features: decode each asset inside the partition iterator
    * and emit [[ImageIoCodec.gridFeatures]] — the same
    * (asset_id, features: Array[Float]) relation [[stubFeatures]] emits,
    * so the pHash and feature-ANN lanes below consume either source
    * unchanged. Poison assets (undecodable bytes) are DROPPED here — the
    * flatMap is the gate, exactly where a production decode stage filters
    * its corpus. No shuffle: decode + feature extraction are one narrow
    * map pass over the asset partitions.
    */
  def realFeatures(df: DataFrame, grid: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id").cast("long"), col("modality"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, m, b) =>
        decodeImage(b, m).map(img => (id, ImageIoCodec.gridFeatures(img, grid)))
      })
      .toDF("asset_id", "features")
  }

  /** STUB decode: deterministic fake metadata derived from the payload's
    * md5 — stable across runs/engines, exercises the full pipeline shape.
    */
  def stubDecodeCols(df: DataFrame): DataFrame = {
    val h = md5(col("bytes"))
    df
      .withColumn("width", (conv(substring(h, 1, 4), 16, 10).cast("long") % 1024).cast("int"))
      .withColumn("height", (conv(substring(h, 5, 4), 16, 10).cast("long") % 1024).cast("int"))
      .withColumn("duration_ms", conv(substring(h, 9, 6), 16, 10).cast("long") % 600000L)
      .withColumn("n_frames", (length(col("bytes")) / 256 + 1).cast("int"))
  }

  /** Pluggable per-partition decode — where a REAL codec drops in. Typed
    * Dataset `mapPartitions` over (asset_id, modality, bytes): the codec
    * runs inside the partition iterator (no shuffle, no driver round-trip,
    * batch-amortized codec init is the caller's closure state). The stub
    * twin for tests is `(b, m) => DecodedMeta(...)` derived from `b`;
    * production passes the real image/audio decoder here unchanged.
    */
  def decodeWith(df: DataFrame)(codec: (Array[Byte], String) => DecodedMeta): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("asset_id").cast("long"), col("modality"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, m, b) =>
        val d = codec(b, m)
        (id, m, d.width, d.height, d.durationMs, d.nFrames)
      })
      .toDF("asset_id", "modality", "width", "height", "duration_ms", "n_frames")
  }

  /** Aspect-preserving resize of decoded dimensions: fit within
    * (maxW, maxH). Pure integer arithmetic (long multiply, floor divide)
    * so the result is deterministic on every engine; zero dims are
    * clamped to 1 first (the stub decode's mod-1024 can emit 0).
    */
  def resizeMeta(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = greatest(col("width").cast("long"), lit(1L))
    val h = greatest(col("height").cast("long"), lit(1L))
    val wide = w * maxH >= h * maxW // w/h >= maxW/maxH: width binds
    df
      .withColumn("out_width",
        greatest(when(wide, lit(maxW)).otherwise(floor(w * maxH / h)), lit(1L)).cast("int"))
      .withColumn("out_height",
        greatest(when(wide, floor(h * maxW / w)).otherwise(lit(maxH)), lit(1L)).cast("int"))
  }

  /** Build an asset table from any source with an id + payload column —
    * used by tests to synthesize binary assets from `documents.text`.
    */
  def assetsFrom(df: DataFrame, idCol: String, payloadCol: String,
                 modality: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      col(payloadCol).cast("binary").as("bytes"))

  /** Frame sampling: one row per sampled frame index — posexplode of a
    * sequence, a Generator, no shuffle. `stride` = keep every Nth frame.
    */
  def sampleFrames(decoded: DataFrame, stride: Int): DataFrame =
    decoded.select(col("asset_id"), col("n_frames"),
      posexplode(sequence(lit(0), col("n_frames") - 1)).as(Seq("pos", "frame_idx")))
      .filter(col("frame_idx") % stride === 0)
      .drop("pos")

  /** STUB feature extraction: fixed-dim float array derived from payload
    * hash chunks — the batch shape (one Array[Float] per asset) matches
    * what a real vision/audio encoder would emit.
    */
  def stubFeatures(df: DataFrame, dim: Int = 16): DataFrame = {
    val h = md5(col("bytes"))
    val feats = (0 until dim).map { i =>
      (conv(substring(h, (i % 7) * 4 + 1, 4), 16, 10).cast("double") / 65535.0).cast("float")
    }
    df.withColumn("features", array(feats: _*))
  }

  /** Perceptual-hash near-dup pair lane over an
    * (asset_id, features: Array[Float]) relation — feature-source
    * agnostic: multimodal_dedup_phash feeds it the documented stub,
    * MultimodalCodecSpec feeds it REAL decoded pixels through
    * [[realFeatures]]. Binarize each vector against its own mean into a
    * 16-bit fingerprint, band (2 × 8 bits), pair bucket-mates, emit
    * Hamming distance. Scale shape: fingerprints are one map pass; the
    * self-join keys on (band, bucket) so only bucket-mates meet; hot
    * buckets (> `cap` members) are excluded via a broadcast semi-join
    * against the bounded (≤ 2·256-row) bucket-size relation.
    */
  def phashPairs(feats: DataFrame, cap: Int = 200): DataFrame = {
    import graft.core._
    val fp = feats
      .withColumn("fv", expr("transform(features, x -> cast(x as double))"))
      .withColumn("m", expr("aggregate(fv, 0D, (a, x) -> a + x) / 16.0"))
      .withColumn("fp", expr(
        "aggregate(sequence(0, 15), 0L, (acc, i) -> acc + IF(fv[i] > m, shiftleft(1L, cast(i as int)), 0L))"))
      .select(col("asset_id"), col("fp"))
      .scopedPersist()
    val bands = fp
      .select(col("asset_id"), col("fp"), explode(expr("sequence(0, 1)")).as("b"))
      .withColumn("nib", expr("shiftright(fp, cast(b * 8 as int)) & 255"))
    val sized = bands.groupBy("b", "nib").agg(count(lit(1)).cast("long").as("sz"))
    val kept = bands.join(broadcast(sized.filter(col("sz") <= cap)),
      Seq("b", "nib"), "left_semi")
    kept.select(col("b"), col("nib"),
        col("asset_id").as("a1"), col("fp").as("f1"))
      .join(kept.select(col("b"), col("nib"),
        col("asset_id").as("a2"), col("fp").as("f2")), Seq("b", "nib"))
      .filter(col("a1") < col("a2"))
      .select("a1", "a2", "f1", "f2").distinct()
      .withColumn("d", expr("bit_count(f1 ^ f2)").cast("long"))
  }

  /** Brute-force cosine top-k over an (asset_id, features) relation with
    * a literal-bounded probe set — the multimodal→ANN integration lane,
    * feature-source agnostic like [[phashPairs]]. Probes broadcast
    * (≤ `probeMax` rows by construction); the corpus never shuffles.
    */
  def cosineTopK(spark: SparkSession, feats: DataFrame,
                 probeMax: Long, k: Int): DataFrame = {
    import graft.core._
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftExtensions.install(spark)
    def gdot(a: String, b: String) = expr(s"graft_dot($a, $b)")
    val probes = feats.filter(col("asset_id") < probeMax)
      .select(col("asset_id").as("probe"), col("features").as("pv"),
        sqrt(gdot("features", "features")).as("pn"))
    val cands = feats
      .select(col("asset_id").as("cand"), col("features").as("cv"),
        sqrt(gdot("features", "features")).as("cn"))
    val w = Window.partitionBy("probe").orderBy(col("sim").desc, col("cand"))
    broadcast(probes).join(cands, col("probe") =!= col("cand"))
      .withColumn("sim", pround(gdot("pv", "cv") / (col("pn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe"), col("cand"), col("sim"))
  }
}
