package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Area-average resize: exact fractional edge weights (the anti-aliased
  * box filter), checked against a direct double-precision integration on
  * non-aligned ratios, plus the aligned flat-block exactness the
  * media_resize oracle relies on. */
class MediaResizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ref(px: Array[Byte], w: Int, h: Int, w2: Int, h2: Int): Array[Int] = {
    val out = new Array[Int](w2 * h2)
    val sx = w.toDouble / w2; val sy = h.toDouble / h2
    for (oy <- 0 until h2; ox <- 0 until w2) {
      var sum = 0.0; var area = 0.0
      for (yy <- 0 until h; xx <- 0 until w) {
        val wy = math.max(0.0, math.min((oy + 1) * sy, yy + 1.0) - math.max(oy * sy, yy.toDouble))
        val wx = math.max(0.0, math.min((ox + 1) * sx, xx + 1.0) - math.max(ox * sx, xx.toDouble))
        sum += (px(yy * w + xx) & 0xff) * wx * wy
        area += wx * wy
      }
      out(oy * w2 + ox) = math.round(sum / area).toInt
    }
    out
  }

  test("fractional ratios integrate exact source rectangles") {
    val w = 7; val h = 5
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    for ((w2, h2) <- Seq((3, 2), (5, 4), (7, 5), (2, 5))) {
      val got = MediaKernels.resizeGray(px, w, h, w2, h2)
      val want = ref(px, w, h, w2, h2)
      assert(got.length == w2 * h2)
      for (i <- got.indices)
        assert((got(i) & 0xff) == want(i), s"($w2 x $h2) pixel $i")
    }
  }

  test("aligned downscale of flat blocks is exact (the oracle contract)") {
    val bytes = MediaCodecs.encodeJpegBaseline(24, 16, 11L)
    val px = MediaCodecs.decodeJpegPixels(bytes).get
    val r = MediaKernels.resizeGray(px, 24, 16, 12, 8)
    for (by <- 0 until 2; bx <- 0 until 3) {
      val v = px(by * 8 * 24 + bx * 8) & 0xff
      for (dy <- 0 until 4; dx <- 0 until 4)
        assert((r((by * 4 + dy) * 12 + bx * 4 + dx) & 0xff) == v)
    }
  }

  test("a factor below 1 or above Int.MaxValue gives null through both eval paths") {
    val bytes = MediaCodecs.encodeJpegBaseline(24, 16, 11L)
    val bad = Seq(0L, -1L, -2L, Long.MinValue, Int.MaxValue.toLong + 1, (1L << 32) + 2)
    bad.foreach(f => assert(MediaKernels.jpegResizeStats(bytes, f) == null, s"factor $f"))
    // a factor larger than the image leaves no pixel: also null
    val want = Map(1L -> 24L * 16, 2L -> 12L * 8, 8L -> 3L * 2, 17L -> -1L,
      Int.MaxValue.toLong -> -1L) ++ bad.map(_ -> -1L)
    for ((path, s) <- Seq("interpreted" -> EvalPaths.interpreted(spark),
                          "codegen" -> EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val got = want.keys.toSeq.toDF("factor")
        .select(col("factor"), MediaFunctions.jpegResizeStats(lit(bytes), col("factor")))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getStruct(1).getLong(0)))
        .toMap
      assert(got == want, path)
    }
  }
}
