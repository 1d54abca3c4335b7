package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal span handling: image/audio payloads ride as opaque `binary`
  * columns with typed metadata. The decode step is REAL header parsing
  * (PNG IHDR chunk walk, WAV RIFF/fmt chunk walk, JPEG SOFn marker scan —
  * see MediaCodecs); payload "fetch" synthesizes structurally valid byte
  * streams deterministically (stand-in for a blob-storage read: this
  * container ships no media files), so the decode path is exercised on real
  * container layouts and checked against the driver's closed-form oracle.
  */
object MultimodalOps {

  /** Materialize media payloads for the media spans of a docs table: the
    * payload is a REAL encoded byte stream (PNG/WAV/JPEG) whose parameters
    * derive deterministically from the media_ref. Output schema is the
    * fetch contract: (doc_id, media_ref, payload binary). */
  def fetchMedia(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .where(col("span.kind") === "media")
      .select(col("doc_id"), col("span.media_ref").as("media_ref"),
        MediaFunctions.mediaEncodeRef(col("span.media_ref")).as("payload"))

  /** deterministic synthesis of a real byte stream from an integer seed
    * (the same parameter derivation the driver oracle replicates). PNGs
    * cycle through color types gray/RGB/RGBA by (seed/3) % 3 — multi-
    * channel images halve each dimension so the pixel-byte budget stays
    * in the grayscale range. Every choice and dimension is a `floorMod`,
    * so a negative seed gives a valid payload too. */
  def encodeFor(seed: Long): Array[Byte] = Math.floorMod(seed, 3L) match {
    case 0 =>
      val colorType = Seq(0, 2, 6)(Math.floorMod(seed / 3, 3L).toInt)
      val div = if (colorType == 0) 1 else 2
      MediaCodecs.encodePng(
        (16 + Math.floorMod(seed, 16L).toInt * 4) / div,
        (16 + Math.floorMod(seed * 7, 16L).toInt * 4) / div, seed, colorType)
    case 1 => MediaCodecs.encodeWav(
      8000 * (1 + Math.floorMod(seed, 6L)).toInt, 1 + Math.floorMod(seed, 2L).toInt,
      64 + Math.floorMod(seed, 64L).toInt, seed)
    case _ => MediaCodecs.encodeJpegHeader(
      32 + Math.floorMod(seed, 100L).toInt, 32 + Math.floorMod(seed * 13, 100L).toInt)
  }

  /** Decode/feature-extract pass: pure binary→struct Catalyst expressions
    * (MediaFunctions.mediaInfo / mediaFeature), so the whole decode stays inside
    * whole-stage codegen — no typed mapPartitions serialization fence.
    * Header fields come from real parsing; the feature vector is an
    * L2-normalized byte histogram of the payload. Unparseable payloads
    * yield a null kind and zeroed header fields. */
  def decodeAndFeaturize(media: DataFrame, featureDim: Int = 16): DataFrame =
    media.select(col("doc_id"), col("media_ref"),
        MediaFunctions.mediaInfo(col("payload")).as("info"),
        length(col("payload")).as("bytes"),
        MediaFunctions.mediaFeature(col("payload"), lit(featureDim)).as("feature"))
      .select(col("doc_id"), col("media_ref"),
        col("info.kind").as("media_kind"),
        coalesce(col("info.width"), lit(0)).as("width"),
        coalesce(col("info.height"), lit(0)).as("height"),
        coalesce(col("info.sample_rate"), lit(0)).as("sample_rate"),
        coalesce(col("info.channels"), lit(0)).as("channels"),
        col("bytes"), col("feature"))

  /** Frame-sampling shape for video-like payloads: one row per sampled
    * frame index — explode with a deterministic stride, preserving
    * (doc, ref) lineage. */
  def sampleFrames(decoded: DataFrame, everyN: Int = 10, maxFrames: Int = 8): DataFrame =
    decoded.where(col("media_kind") === "image")
      .withColumn("n_frames", least(lit(maxFrames),
        greatest(lit(1), (col("bytes") / everyN).cast("int"))))
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1)))
      .drop("n_frames")
}
