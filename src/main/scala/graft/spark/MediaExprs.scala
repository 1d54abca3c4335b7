package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row media kernels, reached from Catalyst through the
  * `StaticInvoke`s built by MediaExprs — the binary→struct
  * decode/featurize functions behind the multimodal column path. These
  * are pure functions of the payload bytes, so they live in
  * whole-stage codegen as ordinary Catalyst expressions (the engine's
  * zero-UDF discipline: no ScalaUDF, no typed mapPartitions with its
  * DeserializeToObject/SerializeFromObject serialization fence).
  */
object MediaKernels {

  /** deterministic payload synthesis (stand-in for a blob-storage fetch —
    * see MultimodalOps.encodeFor). */
  def encodeForSeed(seed: Long): Array[Byte] = MultimodalOps.encodeFor(seed)

  /** payload synthesis keyed by a media_ref string (seed = unsigned
    * 32-bit of the ref's hash, the derivation fetchMedia always used). */
  def encodeForRef(ref: UTF8String): Array[Byte] = {
    val seed = ref.toString.hashCode.toLong & 0xffffffffL
    MultimodalOps.encodeFor(seed)
  }

  /** header decode: (kind, width, height, sample_rate, channels) or null
    * for an unparseable payload. */
  def mediaInfo(payload: Array[Byte]): InternalRow =
    MediaCodecs.decode(payload) match {
      case Some(mi) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(mi.kind), mi.width, mi.height,
        mi.sampleRate, mi.channels))
      case None => null
    }

  /** L2-normalized byte histogram of the payload — the feature vector the
    * decode pass attaches to every media row; null for `dim` below 1. */
  def featurize(payload: Array[Byte], dim: Int): ArrayData = {
    if (dim < 1) return null
    val feat = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      feat((payload(i) & 0xff) % dim) += 1.0f
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += feat(i).toDouble * feat(i); i += 1 }
    val norm = math.max(math.sqrt(ss).toFloat, 1e-6f)
    val out = new Array[Any](dim)
    i = 0
    while (i < dim) { out(i) = feat(i) / norm; i += 1 }
    new GenericArrayData(out)
  }

  /** full-content PNG check: inflate + un-filter every scanline, then fold
    * (n_px, px_sum, px_poly) over the recovered pixel bytes; null when the
    * payload doesn't decode. */
  def pngPixelStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodePngPixels(payload).map(byteStats).orNull

  /** deterministic baseline JPEG for the content-deep check: dimensions
    * (8..48 px, also for a negative seed) and DC stream derived from the
    * seed (see MediaCodecs). */
  def encodeJpegForSeed(seed: Long): Array[Byte] =
    MediaCodecs.encodeJpegBaseline(
      8 * (1 + Math.floorMod(seed, 6L)).toInt, 8 * (1 + Math.floorMod(seed * 5, 6L)).toInt,
      seed)

  /** full-content JPEG check: Huffman entropy decode + dequant + IDCT,
    * then fold (n_px, px_sum, px_poly); null when the payload doesn't
    * decode. */
  def jpegPixelStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeJpegPixels(payload).map(byteStats).orNull

  /** deterministic progressive (SOF2, §G) JPEG for the content-deep
    * check: dimensions and coefficient stream derived from the seed. */
  def encodeJpegProgForSeed(seed: Long): Array[Byte] =
    MediaCodecs.encodeJpegProgressive(
      8 * (1 + Math.floorMod(seed, 6L)).toInt, 8 * (1 + Math.floorMod(seed * 7, 6L)).toInt,
      seed)

  /** full-content progressive-JPEG check: multi-scan coefficient
    * accumulation + IDCT, then fold (n_px, px_sum, px_poly, px_chk) over
    * the decoded samples (bytes, as in `jpegPixelStats`), where px_chk
    * weights each sample by (1+x%8)^2 * (1+y%8)^2 of its pixel (x, y) — a
    * quadratic in-block weight with nonzero inner product against the
    * (4,0)/(4,4) DCT bases, so AC coefficient errors (invisible to the
    * constant and global-linear folds) flip the hash. Null when the
    * payload doesn't decode. */
  def jpegPixelStatsProg(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeJpegFrame(payload, pixels = true) match {
      case Some((info, px)) =>
        var chk = 0L; var i = 0
        while (i < px.length) {
          val pixel = i / info.channels
          val xm = (pixel % info.width) % 8; val ym = (pixel / info.width) % 8
          chk = (chk + (px(i) & 0xff).toLong * ((1 + xm) * (1 + xm) * (1 + ym) * (1 + ym))) %
            1000000007L
          i += 1
        }
        new GenericInternalRow(fold(px.length, px(_) & 0xff) :+ chk)
      case None => null
    }

  /** Area-average (box-filter) resize of a grayscale plane: each output
    * pixel integrates its exact source rectangle with fractional edge
    * weights — the standard downscale kernel (anti-aliased, unlike
    * nearest-neighbor), correct for any scale ratio. */
  def resizeGray(px: Array[Byte], w: Int, h: Int, w2: Int, h2: Int): Array[Byte] = {
    val out = new Array[Byte](w2 * h2)
    val sx = w.toDouble / w2; val sy = h.toDouble / h2
    var oy = 0
    while (oy < h2) {
      val y0 = oy * sy; val y1 = (oy + 1) * sy
      var ox = 0
      while (ox < w2) {
        val x0 = ox * sx; val x1 = (ox + 1) * sx
        var sum = 0.0; var area = 0.0
        var yy = math.floor(y0).toInt
        while (yy < y1) {
          val wy = math.min(y1, yy + 1.0) - math.max(y0, yy.toDouble)
          if (wy > 0 && yy < h) {
            var xx = math.floor(x0).toInt
            while (xx < x1) {
              val wx = math.min(x1, xx + 1.0) - math.max(x0, xx.toDouble)
              if (wx > 0 && xx < w) {
                sum += (px(yy * w + xx) & 0xff) * wx * wy
                area += wx * wy
              }
              xx += 1
            }
          }
          yy += 1
        }
        val v = math.round(sum / area).toInt
        out(oy * w2 + ox) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** content-deep resize check: decode a grayscale JPEG, area-average
    * downscale by `factor`, fold (n_px, px_sum, px_poly) over the resized
    * plane. Null when the payload doesn't decode to a grayscale plane, or
    * when `factor` is below 1 or above Int.MaxValue. */
  def jpegResizeStats(payload: Array[Byte], factor: Long): InternalRow = {
    if (factor < 1 || factor > Int.MaxValue) return null
    MediaCodecs.decodeJpegFrame(payload, pixels = true) match {
      case Some((info, px)) if info.channels == 1 =>
        val f = factor.toInt
        val w2 = info.width / f; val h2 = info.height / f
        if (w2 == 0 || h2 == 0) return null
        byteStats(resizeGray(px, info.width, info.height, w2, h2))
      case _ => null
    }
  }

  /** full-content WAV check: RIFF data-chunk walk + LE int16 decode, then
    * fold (n_smp, smp_sum, smp_poly); null when the payload doesn't
    * decode. */
  def wavSampleStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeWavSamples(payload)
      .map(smp => new GenericInternalRow(fold(smp.length, smp(_).toLong))).orNull

  /** the (n, sum, poly) stats fold of every content kernel over `n` values
    * v(0) .. v(n-1), with poly = sum of v(i) * (i + 1) mod 1e9+7. */
  private def fold(n: Int, v: Int => Long): Array[Any] = {
    var sum = 0L; var poly = 0L; var i = 0
    while (i < n) {
      val b = v(i)
      sum += b
      poly = (poly + b * (i + 1)) % 1000000007L
      i += 1
    }
    Array[Any](n.toLong, sum, poly)
  }

  /** `fold` over unsigned sample bytes. */
  private def byteStats(px: Array[Byte]): InternalRow =
    new GenericInternalRow(fold(px.length, px(_) & 0xff))
}

/** Expression-level builders of the media kernels, one `StaticInvoke` of a
  * MediaKernels method each. Every result is declared nullable: a payload
  * that does not decode gives null, and a null argument gives null. */
object MediaExprs {
  private def call(fn: String, dataType: DataType, args: Seq[Expression],
                   inputTypes: DataType*): Expression =
    StaticInvoke(MediaKernels.getClass, dataType, fn, args, inputTypes)

  private val infoType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** (n_<p>, <p>_sum, <p>_poly, extra...) longs; the PNG and WAV folds
    * declare their fields non-null, the JPEG folds nullable. */
  private def statsType(prefix: String, nullable: Boolean, extra: String*): StructType =
    StructType((Seq(s"n_$prefix", s"${prefix}_sum", s"${prefix}_poly") ++ extra)
      .map(StructField(_, LongType, nullable)))

  def mediaEncode(seed: Expression): Expression =
    call("encodeForSeed", BinaryType, Seq(seed), LongType)

  def mediaEncodeRef(ref: Expression): Expression =
    call("encodeForRef", BinaryType, Seq(ref), StringType)

  def mediaInfo(payload: Expression): Expression =
    call("mediaInfo", infoType, Seq(payload), BinaryType)

  def mediaFeature(payload: Expression, dim: Expression): Expression =
    call("featurize", ArrayType(FloatType, containsNull = false), Seq(payload, dim),
      BinaryType, IntegerType)

  def pngPixelStats(payload: Expression): Expression =
    call("pngPixelStats", statsType("px", nullable = false), Seq(payload), BinaryType)

  def wavSampleStats(payload: Expression): Expression =
    call("wavSampleStats", statsType("smp", nullable = false), Seq(payload), BinaryType)

  def mediaEncodeJpeg(seed: Expression): Expression =
    call("encodeJpegForSeed", BinaryType, Seq(seed), LongType)

  def jpegPixelStats(payload: Expression): Expression =
    call("jpegPixelStats", statsType("px", nullable = true), Seq(payload), BinaryType)

  def jpegResizeStats(payload: Expression, factor: Expression): Expression =
    call("jpegResizeStats", statsType("px", nullable = true), Seq(payload, factor),
      BinaryType, LongType)

  def mediaEncodeJpegProg(seed: Expression): Expression =
    call("encodeJpegProgForSeed", BinaryType, Seq(seed), LongType)

  def jpegPixelStatsProg(payload: Expression): Expression =
    call("jpegPixelStatsProg", statsType("px", nullable = true, "px_chk"), Seq(payload),
      BinaryType)
}

/** Column API for the media expressions. */
object MediaFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** synthesized payload bytes from an integer seed. */
  def mediaEncode(seed: Column): Column = col(MediaExprs.mediaEncode(ex(seed)))

  /** synthesized payload bytes from a media_ref string. */
  def mediaEncodeRef(ref: Column): Column = col(MediaExprs.mediaEncodeRef(ex(ref)))

  /** header decode struct (kind, width, height, sample_rate, channels). */
  def mediaInfo(payload: Column): Column = col(MediaExprs.mediaInfo(ex(payload)))

  /** L2-normalized byte-histogram feature vector; null for a dim below 1. */
  def mediaFeature(payload: Column, dim: Column): Column =
    col(MediaExprs.mediaFeature(ex(payload), ex(dim)))

  /** PNG content stats struct (n_px, px_sum, px_poly). */
  def pngPixelStats(payload: Column): Column = col(MediaExprs.pngPixelStats(ex(payload)))

  /** deterministic baseline JPEG payload from an integer seed. */
  def mediaEncodeJpeg(seed: Column): Column = col(MediaExprs.mediaEncodeJpeg(ex(seed)))

  /** JPEG content stats struct (n_px, px_sum, px_poly). */
  def jpegPixelStats(payload: Column): Column = col(MediaExprs.jpegPixelStats(ex(payload)))

  /** resized-plane content stats (area-average downscale by factor); null
    * for a factor below 1 or above Int.MaxValue. */
  def jpegResizeStats(payload: Column, factor: Column): Column =
    col(MediaExprs.jpegResizeStats(ex(payload), ex(factor)))

  /** deterministic progressive (SOF2) JPEG payload from an integer seed. */
  def mediaEncodeJpegProg(seed: Column): Column =
    col(MediaExprs.mediaEncodeJpegProg(ex(seed)))

  /** progressive-JPEG content stats struct (n_px, px_sum, px_poly, px_chk). */
  def jpegPixelStatsProg(payload: Column): Column =
    col(MediaExprs.jpegPixelStatsProg(ex(payload)))

  /** WAV content stats struct (n_smp, smp_sum, smp_poly). */
  def wavSampleStats(payload: Column): Column = col(MediaExprs.wavSampleStats(ex(payload)))
}
