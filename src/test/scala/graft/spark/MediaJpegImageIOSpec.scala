package graft.spark

import java.awt.image.BufferedImage
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JPEGs written by the JDK's own encoder (javax.imageio, quality 0.9):
  * quantization tables in zigzag order with distinct entries, Annex K
  * Huffman tables, its progressive scan script and, on request, restart
  * intervals. Grey and 4:4:4 colour decodes are compared with the JDK
  * decoder (`ImageIO.read`); 4:2:0 is not, because its chroma upsampling
  * differs from this decoder's box upsampling by design. */
class MediaJpegImageIOSpec extends AnyFunSuite {
  import MediaJpegImageIOSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val shapes = for ((w, h) <- Seq((16, 16), (37, 29)); color <- Seq(false, true);
                            progressive <- Seq(false, true)) yield (w, h, color, progressive)

  test("JDK-written grey and 4:4:4 colour JPEGs decode within 1 and 2 levels of ImageIO") {
    for ((w, h, color, progressive) <- shapes) {
      val what = s"$w x $h color=$color progressive=$progressive"
      val bytes = write(w, h, color, progressive, restartInterval = 0)
      val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val px = MediaCodecs.decodeJpegPixels(bytes).getOrElse(fail(s"decode failed: $what"))
      val ch = if (color) 3 else 1
      assert(px.length == w * h * ch, what)
      var worst = 0
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val want = if (color) (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
          else ref.getRaster.getSample(x, y, 0)
        worst = math.max(worst, math.abs((px((y * w + x) * ch + c) & 0xff) - want))
      }
      assert(worst <= (if (color) 2 else 1), what)
    }
  }

  test("progressive px_chk weights each colour sample by its pixel's (x, y)") {
    val bytes = write(37, 29, color = true, progressive = true, restartInterval = 0)
    val px = MediaCodecs.decodeJpegPixels(bytes).getOrElse(fail("decode"))
    val chk = px.indices.foldLeft(0L) { (acc, i) =>
      val xm = (i / 3) % 37 % 8; val ym = (i / 3) / 37 % 8
      (acc + (px(i) & 0xff).toLong * ((1 + xm) * (1 + xm) * (1 + ym) * (1 + ym))) % 1000000007L
    }
    val row = MediaKernels.jpegPixelStatsProg(bytes)
    assert(row.getLong(0) == px.length && row.getLong(3) == chk)
  }

  test("a nonzero restart interval gives null through both eval paths") {
    val payloads = shapes.map { case (w, h, color, progressive) =>
      write(w, h, color, progressive, restartInterval = 2) }
    for (s <- Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val rows = payloads.toDF("payload").select(
        MediaFunctions.jpegPixelStats(col("payload")),
        MediaFunctions.jpegPixelStatsProg(col("payload"))).collect()
      assert(rows.forall(r => r.isNullAt(0) && r.isNullAt(1)),
        s.conf.get("spark.sql.codegen.factoryMode"))
    }
  }

  test("a zero restart interval decodes as without one") {
    for (good <- Seq(MediaCodecs.encodeJpegBaseline(24, 16, 3L),
                     MediaCodecs.encodeJpegProgressive(24, 16, 3L))) {
      val dri = Array(0xFF, 0xDD, 0x00, 0x04, 0x00, 0x00).map(_.toByte)
      val withDri = good.take(2) ++ dri ++ good.drop(2)
      assert(MediaCodecs.decodeJpegPixels(withDri).get sameElements
        MediaCodecs.decodeJpegPixels(good).get)
    }
  }
}

object MediaJpegImageIOSpec {
  /** A w x h grey or RGB image with gradients and in-block texture. */
  def image(w: Int, h: Int, color: Boolean): BufferedImage = {
    val img = new BufferedImage(w, h,
      if (color) BufferedImage.TYPE_3BYTE_BGR else BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 7 + y * 5 + ((x * y) % 11) * 9) & 0xff
      if (color) img.setRGB(x, y, (g << 16) | (((255 - g + y * 3) & 0xff) << 8) | ((x * 20 + y) & 0xff))
      else img.getRaster.setSample(x, y, 0, g)
    }
    img
  }

  /** `image(w, h, color)` as a JDK-written JPEG at quality 0.9; colour at
    * 1x1 sampling for every component, set through the native metadata
    * tree, as is a DRI segment when `restartInterval` is nonzero. */
  def write(w: Int, h: Int, color: Boolean, progressive: Boolean,
            restartInterval: Int): Array[Byte] = {
    val img = image(w, h, color)
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.9f)
    if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = writer.getDefaultImageMetadata(ImageTypeSpecifier.createFromRenderedImage(img), param)
    val format = "javax_imageio_jpeg_image_1.0"
    val root = meta.getAsTree(format).asInstanceOf[IIOMetadataNode]
    val specs = root.getElementsByTagName("componentSpec")
    for (i <- 0 until specs.getLength) {
      val spec = specs.item(i).asInstanceOf[IIOMetadataNode]
      spec.setAttribute("HsamplingFactor", "1"); spec.setAttribute("VsamplingFactor", "1")
    }
    if (restartInterval != 0) {
      val markers = root.getElementsByTagName("markerSequence").item(0)
      val dri = new IIOMetadataNode("dri")
      dri.setAttribute("interval", restartInterval.toString)
      markers.insertBefore(dri, markers.getFirstChild)
    }
    meta.setFromTree(format, root)
    val out = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, meta), param)
    } finally { ios.close(); writer.dispose() }
    out.toByteArray
  }
}
