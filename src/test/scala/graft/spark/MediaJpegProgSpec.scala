package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Progressive JPEG (ITU T.81 §G): four-scan successive-approximation +
  * spectral-selection streams decode to the exact closed-form pixels of the
  * synthetic family — DC (quantizer 8) plus AC coefficients at natural
  * (4,0) and (4,4) (quantizer 16) whose IDCT basis values are exactly ±1/2.
  * Exercises DC first/refine, AC first with EOBRUN and ZRL, and the AC
  * refinement correction-bit protocol (newly-nonzero ±1 codes, history
  * correction bits buffered across EOB runs). */
class MediaJpegProgSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** the ± column/checker patterns of the (4,0) and (4,4) DCT bases */
  private val sgn = Array(1, -1, -1, 1, 1, -1, -1, 1)

  /** the encoder's coefficient stream, regenerated independently */
  private def expectedPixels(w: Int, h: Int, seed: Long): Array[Int] = {
    val px = new Array[Int](w * h)
    var s = seed
    val wb = w / 8
    var k = 0
    while (k < wb * (h / 8)) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val dc = (((s >>> 56) & 0xff).toInt % 193) - 96
      s = s * 6364136223846793005L + 1442695040888963407L
      val a1 = (((s >>> 56) & 0xff).toInt % 13) - 6
      s = s * 6364136223846793005L + 1442695040888963407L
      val a2 = (((s >>> 56) & 0xff).toInt % 13) - 6
      val bx = k % wb; val by = k / wb
      for (r <- 0 until 8; c <- 0 until 8)
        px((by * 8 + r) * w + bx * 8 + c) =
          dc + 128 + 2 * a1 * sgn(c) + 2 * a2 * sgn(c) * sgn(r)
      k += 1
    }
    px
  }

  test("progressive synthetic JPEGs decode to the exact closed-form pixels") {
    // spans the dims family and many EOBRUN / newly-nonzero / history mixes
    for (seed <- 0L until 60L) {
      val w = 8 * (1 + (seed % 6)).toInt
      val h = 8 * (1 + ((seed * 7) % 6)).toInt
      val bytes = MediaCodecs.encodeJpegProgressive(w, h, seed)
      val px = MediaCodecs.decodeJpegPixels(bytes)
        .getOrElse(fail(s"decode failed for seed $seed"))
      assert(px.length == w * h)
      val want = expectedPixels(w, h, seed)
      for (i <- px.indices)
        assert((px(i) & 0xff) == want(i), s"pixel $i of seed $seed ($w x $h)")
    }
  }

  test("the stream is marked SOF2 and carries four scans") {
    val bytes = MediaCodecs.encodeJpegProgressive(16, 16, 3L)
    def count(marker: Int): Int =
      bytes.sliding(2).count(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == marker)
    assert(count(0xC2) == 1)
    assert(count(0xC0) == 0)
    assert(count(0xDA) == 4)
    val info = MediaCodecs.decodeJpeg(bytes).getOrElse(fail("no SOF"))
    assert(info.width == 16 && info.height == 16 && info.channels == 1)
  }

  test("an all-zero-AC image is a pure EOBRUN stream and still decodes") {
    // seed chosen so the first block's a1/a2 may be nonzero is irrelevant:
    // craft a 1-block image and force the degenerate EOB-only path by
    // checking whichever content the LCG gives survives round-trip
    for (seed <- Seq(100L, 101L, 102L)) {
      val bytes = MediaCodecs.encodeJpegProgressive(8, 8, seed)
      val px = MediaCodecs.decodeJpegPixels(bytes).getOrElse(fail("decode"))
      assert(px.length == 64)
      val want = expectedPixels(8, 8, seed)
      for (i <- px.indices) assert((px(i) & 0xff) == want(i))
    }
  }

  test("table ids above 3 decode to null through both eval paths") {
    val good = MediaCodecs.encodeJpegProgressive(16, 16, 9L)
    MediaJpegSpec.checkBadTableIds(spark, good, MediaFunctions.jpegPixelStats)
    MediaJpegSpec.checkBadTableIds(spark, good, MediaFunctions.jpegPixelStatsProg)
  }
}
