package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** Multimodal plumbing exercised as a declared query: documents.text cast
  * to a binary payload, stub-decoded to deterministic metadata (payload-md5
  * derived — see graft.multimodal.Multimodal). The oracle replicates the
  * same arithmetic, so the full binary-column pipeline shape is
  * hash-checked even with the codec stubbed.
  */
object MultimodalQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "multimodal_meta_extract" -> QueryDef(
      (spark, dir) => {
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "text")
        graft.multimodal.Multimodal.stubDecodeCols(assets)
          .select(col("asset_id"), col("modality"),
            length(col("bytes")).cast("long").as("n_bytes"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("duration_ms"))
          .orderBy(col("asset_id"))
          .limit(300)
      },
      // n_bytes counts BYTES on both sides (Spark: length over BINARY;
      // DuckDB: octet_length over BLOB) — `length(text)` counts CHARS and
      // would diverge on any non-ASCII document.
      Some("""SELECT doc_id AS asset_id, 'text' AS modality,
             |CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             |CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 1024 AS width,
             |CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 1024 AS height,
             |CAST('0x' || substr(md5(text), 9, 6) AS BIGINT) % 600000 AS duration_ms
             |FROM documents ORDER BY asset_id LIMIT 300""".stripMargin.replace("\n", " "))),

    // Frame sampling: every 4th frame index of each asset via posexplode
    // (a Generator — zero shuffle). n_frames is the stub decode's
    // byte-length-derived count; floor() on both sides because Spark's
    // int cast truncates while DuckDB's rounds.
    "multimodal_frame_sample" -> QueryDef(
      (spark, dir) => {
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "text")
        val decoded = graft.multimodal.Multimodal.stubDecodeCols(assets)
        graft.multimodal.Multimodal.sampleFrames(decoded, stride = 4)
          .select(col("asset_id"), col("n_frames").cast("long").as("n_frames"),
            col("frame_idx").cast("long").as("frame_idx"))
          .orderBy(col("asset_id"), col("frame_idx"))
          .limit(500)
      },
      Some("""SELECT asset_id, n_frames, frame_idx FROM (
             |SELECT doc_id AS asset_id,
             |CAST(floor(octet_length(CAST(text AS BLOB)) / 256.0) + 1 AS BIGINT) AS n_frames,
             |unnest(range(0, CAST(floor(octet_length(CAST(text AS BLOB)) / 256.0) + 1 AS BIGINT))) AS frame_idx
             |FROM documents)
             |WHERE frame_idx % 4 = 0 ORDER BY asset_id, frame_idx LIMIT 500""".stripMargin.replace("\n", " "))),

    // Multimodal -> ANN integration: stub feature extraction (the batch
    // shape a real vision/audio encoder emits — one fixed-dim float array
    // per asset) feeding the brute-force cosine top-k path. The whole
    // lane — binary column -> feature array -> similarity search — is
    // oracle-checked end-to-end even with the encoder stubbed.
    "multimodal_feature_ann" -> QueryDef(
      (spark, dir) => {
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "text")
        val feats = graft.multimodal.Multimodal.stubFeatures(assets)
          .select(col("asset_id"), col("features"))
        // the shared feature-source-agnostic lane: MultimodalCodecSpec
        // drives the SAME function with real decoded pixels
        graft.multimodal.Multimodal.cosineTopK(spark, feats, probeMax = 5, k = 3)
          .orderBy(col("probe"), col("sim").desc, col("cand"))
      },
      Some {
        // the exact stubFeatures arithmetic (md5-chunk / 65535 -> REAL),
        // widened to DOUBLE[] for the same sequential cosine fold
        val lanes = (0 until 16).map { i =>
          s"CAST(CAST('0x' || substr(md5(text), ${(i % 7) * 4 + 1}, 4) AS BIGINT) / 65535.0 AS REAL)"
        }.mkString(", ")
        val cos =
          "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
        val cosR = proundSql(cos, 6)
        s"""WITH f AS (SELECT doc_id AS asset_id,
           |CAST(list_value($lanes) AS DOUBLE[]) AS v FROM documents)
           |SELECT probe, cand, sim FROM (
           |SELECT a.asset_id AS probe, b.asset_id AS cand, $cosR AS sim,
           |row_number() OVER (PARTITION BY a.asset_id ORDER BY $cosR DESC, b.asset_id) AS rn
           |FROM f a JOIN f b ON a.asset_id < 5 AND b.asset_id <> a.asset_id)
           |WHERE rn <= 3 ORDER BY probe, sim DESC, cand""".stripMargin.replace("\n", " ")
      }),

    // Perceptual-hash near-dup over the media lane — the image/video
    // dedup step every multimodal corpus runs (pHash-style): binarize
    // each asset's feature vector against its own mean into a 16-bit
    // fingerprint, band the fingerprint (2 bands × 8 bits), pair up
    // bucket-mates, verify by Hamming distance. Declared output: the
    // near-dup pair histogram by distance ≤ 4 — the calibration view a
    // dedup threshold is chosen from. The encoder is the documented
    // md5-derived stub; the PIPELINE (binary → features → fingerprint →
    // banded self-join → Hamming verify) is the contract and is
    // hash-checked end-to-end.
    //
    // Scale shape: the dedup_simhash_pairs shape on the media lane —
    // fingerprints are one map pass (two sequential folds inside
    // codegen); the self-join keys on (band, bucket) so only
    // bucket-mates meet; hot buckets (> 200 members) are EXCLUDED via a
    // broadcast semi-join against the bounded (≤ 2·256-row) bucket-size
    // relation — the banded-LSH cap knob, documented as such. At
    // production scale the fingerprint is 64-bit with 16-bit bands; the
    // 16-bit stub keeps the declared constant oracle-checkable.
    "multimodal_dedup_phash" -> QueryDef(
      (spark, dir) => {
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "text")
        val feats = graft.multimodal.Multimodal.stubFeatures(assets)
        // the shared feature-source-agnostic lane: MultimodalCodecSpec
        // drives the SAME function with real decoded pixels
        graft.multimodal.Multimodal.phashPairs(feats, cap = 200)
          .filter(col("d") <= 4)
          .groupBy("d").agg(cnt("n_pairs"))
          .orderBy(col("d"))
      },
      Some {
        val lanes = (0 until 16).map { i =>
          s"CAST(CAST(CAST('0x' || substr(md5(text), ${(i % 7) * 4 + 1}, 4) AS BIGINT) / 65535.0 AS REAL) AS DOUBLE)"
        }
        val msum = lanes.mkString("(", " + ", ") / 16.0")
        val fpSum = lanes.zipWithIndex
          .map { case (l, i) => s"CASE WHEN $l > m THEN ${1L << i} ELSE 0 END" }
          .mkString(" + ")
        s"""WITH f AS (SELECT doc_id AS asset_id, CAST($fpSum AS BIGINT) AS fp
           |FROM (SELECT doc_id, text, $msum AS m FROM documents)),
           |bands AS (SELECT asset_id, fp, b, (fp >> (b * 8)) & 255 AS nib
           |FROM f CROSS JOIN (SELECT unnest([0, 1]) AS b)),
           |sized AS (SELECT b, nib, count(*) AS sz FROM bands GROUP BY 1, 2),
           |kept AS (SELECT bands.* FROM bands JOIN sized
           |ON bands.b = sized.b AND bands.nib = sized.nib AND sized.sz <= 200),
           |pairs AS (SELECT DISTINCT x.asset_id AS a1, y.asset_id AS a2,
           |x.fp AS f1, y.fp AS f2
           |FROM kept x JOIN kept y ON x.b = y.b AND x.nib = y.nib
           |AND x.asset_id < y.asset_id)
           |SELECT CAST(bit_count(xor(f1, f2)) AS BIGINT) AS d,
           |CAST(count(*) AS BIGINT) AS n_pairs
           |FROM pairs WHERE bit_count(xor(f1, f2)) <= 4
           |GROUP BY 1 ORDER BY d""".stripMargin.replace("\n", " ")
      }),

    // Audio VAD (voice-activity detection) segmentation — the audio-lane
    // preprocessing every speech corpus needs: per-frame energy →
    // speech/silence gate → contiguous speech SEGMENTS (the units that
    // get transcribed/aligned). Per-frame "energy" is the documented
    // deterministic stub (md5 of asset-hash + frame index — a real
    // filterbank drops into the same per-frame expression); segments are
    // the gaps-islands grouping (frame_idx − row_number over speech
    // frames), both windows partitioned per asset — state is one
    // counter per asset, never a corpus ordering. Output: the per-asset
    // segmentation audit (frames, speech frames, segments, longest run)
    // a VAD stage logs before shipping segments downstream.
    "multimodal_audio_vad" -> QueryDef(
      (spark, dir) => {
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "audio")
        val decoded = graft.multimodal.Multimodal.stubDecodeCols(assets)
          .select(col("asset_id"), md5(col("bytes")).as("ah"),
            col("n_frames").cast("long").as("n_frames"))
        val frames = decoded
          .select(col("asset_id"), col("ah"), col("n_frames"),
            explode(expr("sequence(0L, n_frames - 1)")).as("fi"))
          .withColumn("energy",
            expr("cast(conv(substr(md5(concat(ah, '#', cast(fi as string))), 1, 4), 16, 10) as bigint) % 100"))
        val speech = frames.filter(col("energy") >= 30)
          .withColumn("grp", col("fi") - row_number().over(
            Window.partitionBy("asset_id").orderBy("fi")))
        val segs = speech.groupBy("asset_id", "grp").agg(cnt("seg_len"))
          .groupBy("asset_id")
          .agg(cnt("n_segments"), max(col("seg_len")).as("longest_seg"),
            sum(col("seg_len")).cast("long").as("speech_frames"))
        decoded.select(col("asset_id"), col("n_frames"))
          .join(segs, Seq("asset_id"), "left")
          .select(col("asset_id"), col("n_frames"),
            coalesce(col("speech_frames"), lit(0L)).as("speech_frames"),
            coalesce(col("n_segments"), lit(0L)).as("n_segments"),
            coalesce(col("longest_seg"), lit(0L)).as("longest_seg"))
          .orderBy(col("asset_id"))
          .limit(300)
      },
      Some("""WITH a AS (SELECT doc_id AS asset_id, md5(text) AS ah,
             |CAST(floor(octet_length(CAST(text AS BLOB)) / 256.0) + 1 AS BIGINT) AS n_frames
             |FROM documents),
             |fr AS (SELECT asset_id, n_frames, ah,
             |unnest(range(0, n_frames)) AS fi FROM a),
             |en AS (SELECT asset_id, n_frames, fi,
             |CAST('0x' || substr(md5(ah || '#' || CAST(fi AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS energy
             |FROM fr),
             |sp AS (SELECT asset_id, fi,
             |fi - row_number() OVER (PARTITION BY asset_id ORDER BY fi) AS grp
             |FROM en WHERE energy >= 30),
             |sg AS (SELECT asset_id, grp, CAST(count(*) AS BIGINT) AS seg_len
             |FROM sp GROUP BY 1, 2),
             |agg AS (SELECT asset_id, CAST(count(*) AS BIGINT) AS n_segments,
             |max(seg_len) AS longest_seg, CAST(sum(seg_len) AS BIGINT) AS speech_frames
             |FROM sg GROUP BY 1)
             |SELECT a.asset_id, a.n_frames,
             |COALESCE(speech_frames, 0) AS speech_frames,
             |COALESCE(n_segments, 0) AS n_segments,
             |COALESCE(longest_seg, 0) AS longest_seg
             |FROM a LEFT JOIN agg ON a.asset_id = agg.asset_id
             |ORDER BY a.asset_id LIMIT 300""".stripMargin.replace("\n", " "))),

    // Video scene-cut detection — the video twin of the VAD shape: a cut
    // is a frame whose feature distance to the PREVIOUS frame exceeds a
    // threshold (real pipelines diff color histograms / embeddings; the
    // per-frame feature here is the documented deterministic stub, and a
    // real extractor drops into the same per-frame expression). The diff
    // is one lag window per asset — per-key state is a single previous
    // value — and scenes = cuts + 1. Output: the per-asset shot audit
    // (frames, cuts, scenes, longest shot in frames) a sampling stage
    // reads to pick one keyframe per scene. No corpus ordering, no
    // shuffle beyond the per-asset windows.
    "multimodal_video_scenes" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val assets = graft.multimodal.Multimodal.assetsFrom(
          t(spark, dir, "documents"), "doc_id", "text", "video")
        val decoded = graft.multimodal.Multimodal.stubDecodeCols(assets)
          .select(col("asset_id"), md5(col("bytes")).as("ah"),
            col("n_frames").cast("long").as("n_frames"))
        val byAsset = Window.partitionBy("asset_id").orderBy("fi")
        val frames = decoded
          .select(col("asset_id"), col("ah"), col("n_frames"),
            explode(expr("sequence(0L, n_frames - 1)")).as("fi"))
          .withColumn("feat",
            expr("cast(conv(substr(md5(concat(ah, '@', cast(fi as string))), 1, 4), 16, 10) as bigint) % 256"))
          .withColumn("cut",
            when(abs(col("feat") - lag(col("feat"), 1).over(byAsset)) >= 128, 1L)
              .otherwise(0L))
        val shots = frames
          .withColumn("shot", sum(col("cut")).over(
            byAsset.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("asset_id", "shot").agg(cnt("shot_len"))
          .groupBy("asset_id")
          .agg(cnt("scenes"), max(col("shot_len")).as("longest_shot"))
        decoded.select(col("asset_id"), col("n_frames"))
          .join(shots, Seq("asset_id"))
          .select(col("asset_id"), col("n_frames"),
            (col("scenes") - 1L).as("cuts"), col("scenes"), col("longest_shot"))
          .orderBy(col("asset_id"))
          .limit(300)
      },
      Some("""WITH a AS (SELECT doc_id AS asset_id, md5(text) AS ah,
             |CAST(floor(octet_length(CAST(text AS BLOB)) / 256.0) + 1 AS BIGINT) AS n_frames
             |FROM documents),
             |fr AS (SELECT asset_id, ah, n_frames,
             |unnest(range(0, n_frames)) AS fi FROM a),
             |ft AS (SELECT asset_id, n_frames, fi,
             |CAST('0x' || substr(md5(ah || '@' || CAST(fi AS VARCHAR)), 1, 4) AS BIGINT) % 256 AS feat
             |FROM fr),
             |ct AS (SELECT asset_id, n_frames, fi,
             |CASE WHEN abs(feat - lag(feat) OVER (PARTITION BY asset_id ORDER BY fi)) >= 128
             |THEN 1 ELSE 0 END AS cut FROM ft),
             |sh AS (SELECT asset_id, n_frames,
             |CAST(sum(cut) OVER (PARTITION BY asset_id ORDER BY fi
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS shot
             |FROM ct),
             |sl AS (SELECT asset_id, n_frames, shot,
             |CAST(count(*) AS BIGINT) AS shot_len FROM sh GROUP BY 1, 2, 3),
             |agg AS (SELECT asset_id, n_frames, CAST(count(*) AS BIGINT) AS scenes,
             |max(shot_len) AS longest_shot FROM sl GROUP BY 1, 2)
             |SELECT asset_id, n_frames, scenes - 1 AS cuts, scenes, longest_shot
             |FROM agg ORDER BY asset_id LIMIT 300""".stripMargin.replace("\n", " "))))
}
