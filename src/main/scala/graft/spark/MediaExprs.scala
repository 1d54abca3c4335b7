package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row media kernels reached from generated code — the
  * binary→struct decode/featurize functions behind the multimodal column
  * path. These are pure functions of the payload bytes, so they live in
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
    * decode pass attaches to every media row. */
  def featurize(payload: Array[Byte], dim: Int): ArrayData = {
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
    MediaCodecs.decodePngPixels(payload) match {
      case Some(px) =>
        var sum = 0L; var poly = 0L; var i = 0
        while (i < px.length) {
          val b = px(i) & 0xff
          sum += b
          poly = (poly + b.toLong * (i + 1)) % 1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](px.length.toLong, sum, poly))
      case None => null
    }

  /** deterministic baseline JPEG for the content-deep check: dimensions
    * and DC stream derived from the seed (see MediaCodecs). */
  def encodeJpegForSeed(seed: Long): Array[Byte] =
    MediaCodecs.encodeJpegBaseline(
      8 * (1 + (seed % 6)).toInt, 8 * (1 + ((seed * 5) % 6)).toInt, seed)

  /** full-content JPEG check: Huffman entropy decode + dequant + IDCT,
    * then fold (n_px, px_sum, px_poly); null when the payload doesn't
    * decode. */
  def jpegPixelStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeJpegPixels(payload) match {
      case Some(px) =>
        var sum = 0L; var poly = 0L; var i = 0
        while (i < px.length) {
          val b = px(i) & 0xff
          sum += b
          poly = (poly + b.toLong * (i + 1)) % 1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](px.length.toLong, sum, poly))
      case None => null
    }

  /** deterministic progressive (SOF2, §G) JPEG for the content-deep
    * check: dimensions and coefficient stream derived from the seed. */
  def encodeJpegProgForSeed(seed: Long): Array[Byte] =
    MediaCodecs.encodeJpegProgressive(
      8 * (1 + (seed % 6)).toInt, 8 * (1 + ((seed * 7) % 6)).toInt, seed)

  /** full-content progressive-JPEG check: multi-scan coefficient
    * accumulation + IDCT, then fold (n_px, px_sum, px_poly, px_chk) where
    * px_chk weights each pixel by (1+x%8)^2 * (1+y%8)^2 — a quadratic
    * in-block weight with nonzero inner product against the (4,0)/(4,4)
    * DCT bases, so AC coefficient errors (invisible to the constant and
    * global-linear folds) flip the hash. Null when the payload doesn't
    * decode. */
  def jpegPixelStatsProg(payload: Array[Byte]): InternalRow = {
    val width = MediaCodecs.decodeJpeg(payload) match {
      case Some(info) if info.width > 0 => info.width
      case _ => return null
    }
    MediaCodecs.decodeJpegPixels(payload) match {
      case Some(px) =>
        var sum = 0L; var poly = 0L; var chk = 0L; var i = 0
        while (i < px.length) {
          val b = px(i) & 0xff
          val xm = (i % width) % 8; val ym = (i / width) % 8
          sum += b
          poly = (poly + b.toLong * (i + 1)) % 1000000007L
          chk = (chk + b.toLong * ((1 + xm) * (1 + xm) * (1 + ym) * (1 + ym))) %
            1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](px.length.toLong, sum, poly, chk))
      case None => null
    }
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
    * plane. Null when the payload doesn't decode to a grayscale plane. */
  def jpegResizeStats(payload: Array[Byte], factor: Long): InternalRow = {
    val info = MediaCodecs.decodeJpeg(payload) match {
      case Some(i) if i.width > 0 && i.height > 0 => i
      case _ => return null
    }
    MediaCodecs.decodeJpegPixels(payload) match {
      case Some(px) if px.length == info.width * info.height =>
        val f = factor.toInt
        val w2 = info.width / f; val h2 = info.height / f
        if (w2 == 0 || h2 == 0) return null
        val r = resizeGray(px, info.width, info.height, w2, h2)
        var sum = 0L; var poly = 0L; var i = 0
        while (i < r.length) {
          val b = r(i) & 0xff
          sum += b
          poly = (poly + b.toLong * (i + 1)) % 1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](r.length.toLong, sum, poly))
      case _ => null
    }
  }

  /** full-content WAV check: RIFF data-chunk walk + LE int16 decode, then
    * fold (n_smp, smp_sum, smp_poly); null when the payload doesn't
    * decode. */
  def wavSampleStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeWavSamples(payload) match {
      case Some(smp) =>
        var sum = 0L; var poly = 0L; var i = 0
        while (i < smp.length) {
          val v = smp(i).toLong
          sum += v
          poly = (poly + v * (i + 1)) % 1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](smp.length.toLong, sum, poly))
      case None => null
    }
}

/** Codegen base for the media kernels: like GeoStaticCall, but a static
  * call returning an OBJECT may return null for undecodable payloads —
  * the generated code re-checks nullness after the call. A primitive
  * return (long, int, ...) is never null, so it gets no re-check. */
abstract class MediaStaticCall extends Expression
    with org.apache.spark.sql.graftbridge.PublicInputTypes {
  def staticCall: String
  /** fully-qualified kernel object the generated code calls into;
    * subclasses outside the media family override this. */
  def kernelObject: String = MediaKernels.getClass.getName + ".MODULE$"
  override def nullable: Boolean = true

  protected def evalArgs(input: InternalRow): Array[Any] = {
    val out = new Array[Any](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      out(i) = v
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codes = children.map(_.genCode(ctx))
    val kern = kernelObject
    val anyNull = codes.map(_.isNull).mkString(" || ")
    val args = codes.map(_.value).mkString(", ")
    val javaType = CodeGenerator.javaType(dataType)
    val childCode = codes.map(_.code).reduce(_ + _)
    val nullCheck =
      if (CodeGenerator.isPrimitiveType(dataType)) ""
      else s"${ev.isNull} = ${ev.value} == null;"
    val code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = $kern.$staticCall($args);
          $nullCheck
        }
      """
    ev.copy(code = code)
  }
}

/** binary payload synthesized from an integer seed (blob-fetch stand-in). */
case class MediaEncodeExpr(seed: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(seed)
  override def inputSpec: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def staticCall: String = "encodeForSeed"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.encodeForSeed(a(0).asInstanceOf[Long])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** binary payload synthesized from a media_ref string. */
case class MediaEncodeRefExpr(ref: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(ref)
  override def inputSpec: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def staticCall: String = "encodeForRef"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.encodeForRef(a(0).asInstanceOf[UTF8String])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

object MediaInfoExpr {
  val schema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))
}

/** header decode: binary → struct(kind, width, height, sample_rate,
  * channels), null when the payload parses as none of PNG/WAV/JPEG. */
case class MediaInfoExpr(payload: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload)
  override def inputSpec: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = MediaInfoExpr.schema
  override def staticCall: String = "mediaInfo"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.mediaInfo(a(0).asInstanceOf[Array[Byte]])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** L2-normalized byte-histogram feature vector of a binary payload. */
case class MediaFeatureExpr(payload: Expression, dim: Expression)
    extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload, dim)
  override def inputSpec: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def staticCall: String = "featurize"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null
    else MediaKernels.featurize(a(0).asInstanceOf[Array[Byte]], a(1).asInstanceOf[Int])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1))
}

object MediaStatsSchema {
  def apply(prefix: String): StructType = StructType(Seq(
    StructField(s"n_$prefix", LongType, nullable = false),
    StructField(s"${prefix}_sum", LongType, nullable = false),
    StructField(s"${prefix}_poly", LongType, nullable = false)))
}

/** content-deep PNG stats: inflate + un-filter, fold (n_px, px_sum,
  * px_poly) over every recovered pixel byte. */
case class PngPixelStatsExpr(payload: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload)
  override def inputSpec: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = MediaStatsSchema("px")
  override def staticCall: String = "pngPixelStats"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.pngPixelStats(a(0).asInstanceOf[Array[Byte]])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** content-deep WAV stats: data-chunk walk + LE int16 decode, fold
  * (n_smp, smp_sum, smp_poly) over every sample. */
case class WavSampleStatsExpr(payload: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload)
  override def inputSpec: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = MediaStatsSchema("smp")
  override def staticCall: String = "wavSampleStats"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.wavSampleStats(a(0).asInstanceOf[Array[Byte]])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** deterministic baseline JPEG payload from a seed */
case class MediaEncodeJpegExpr(seed: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(seed)
  override def inputSpec: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def staticCall: String = "encodeJpegForSeed"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.encodeJpegForSeed(a(0).asInstanceOf[Long])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** content-deep JPEG stats: entropy decode + IDCT, fold (n, sum, poly) */
case class JpegPixelStatsExpr(payload: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload)
  override def inputSpec: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_px", LongType), StructField("px_sum", LongType),
    StructField("px_poly", LongType)))
  override def staticCall: String = "jpegPixelStats"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.jpegPixelStats(a(0).asInstanceOf[Array[Byte]])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

case class MediaEncodeJpegProgExpr(seed: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(seed)
  override def inputSpec: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def staticCall: String = "encodeJpegProgForSeed"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.encodeJpegProgForSeed(a(0).asInstanceOf[Long])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** content-deep progressive-JPEG stats: multi-scan §G decode + IDCT, fold
  * (n, sum, poly, chk) — chk uses a quadratic in-block weight that sees
  * the AC coefficients. */
case class JpegPixelStatsProgExpr(payload: Expression) extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload)
  override def inputSpec: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_px", LongType), StructField("px_sum", LongType),
    StructField("px_poly", LongType), StructField("px_chk", LongType)))
  override def staticCall: String = "jpegPixelStatsProg"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null else MediaKernels.jpegPixelStatsProg(a(0).asInstanceOf[Array[Byte]])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0))
}

/** content-deep resize stats: decode + area-average downscale + fold */
case class JpegResizeStatsExpr(payload: Expression, factor: Expression)
    extends MediaStaticCall {
  override def children: Seq[Expression] = Seq(payload, factor)
  override def inputSpec: Seq[DataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_px", LongType), StructField("px_sum", LongType),
    StructField("px_poly", LongType)))
  override def staticCall: String = "jpegResizeStats"
  override def eval(input: InternalRow): Any = {
    val a = evalArgs(input)
    if (a == null) null
    else MediaKernels.jpegResizeStats(a(0).asInstanceOf[Array[Byte]],
      a(1).asInstanceOf[Long])
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(c(0), c(1))
}

/** Column API for the media expressions. */
object MediaFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** synthesized payload bytes from an integer seed. */
  def mediaEncode(seed: Column): Column = col(MediaEncodeExpr(ex(seed)))

  /** synthesized payload bytes from a media_ref string. */
  def mediaEncodeRef(ref: Column): Column = col(MediaEncodeRefExpr(ex(ref)))

  /** header decode struct (kind, width, height, sample_rate, channels). */
  def mediaInfo(payload: Column): Column = col(MediaInfoExpr(ex(payload)))

  /** L2-normalized byte-histogram feature vector. */
  def mediaFeature(payload: Column, dim: Column): Column =
    col(MediaFeatureExpr(ex(payload), ex(dim)))

  /** PNG content stats struct (n_px, px_sum, px_poly). */
  def pngPixelStats(payload: Column): Column = col(PngPixelStatsExpr(ex(payload)))

  /** deterministic baseline JPEG payload from an integer seed. */
  def mediaEncodeJpeg(seed: Column): Column = col(MediaEncodeJpegExpr(ex(seed)))

  /** JPEG content stats struct (n_px, px_sum, px_poly). */
  def jpegPixelStats(payload: Column): Column = col(JpegPixelStatsExpr(ex(payload)))

  /** resized-plane content stats (area-average downscale by factor). */
  def jpegResizeStats(payload: Column, factor: Column): Column =
    col(JpegResizeStatsExpr(ex(payload), ex(factor)))

  /** deterministic progressive (SOF2) JPEG payload from an integer seed. */
  def mediaEncodeJpegProg(seed: Column): Column =
    col(MediaEncodeJpegProgExpr(ex(seed)))

  /** progressive-JPEG content stats struct (n_px, px_sum, px_poly, px_chk). */
  def jpegPixelStatsProg(payload: Column): Column =
    col(JpegPixelStatsProgExpr(ex(payload)))

  /** WAV content stats struct (n_smp, smp_sum, smp_poly). */
  def wavSampleStats(payload: Column): Column = col(WavSampleStatsExpr(ex(payload)))
}
