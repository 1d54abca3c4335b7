package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Baseline JPEG entropy decode: canonical Huffman tables from DHT, DC
  * prediction with signed categories, AC runs (ZRL/EOB), byte unstuffing,
  * dequantization, zigzag and IDCT — checked against the synthetic
  * encoder's closed form and against a hand-crafted bit stream with
  * nonzero AC coefficients. */
class MediaJpegSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** the encoder's DC stream, regenerated independently */
  private def expectedPixels(w: Int, h: Int, seed: Long): Array[Int] = {
    val px = new Array[Int](w * h)
    var s = seed
    val wb = w / 8
    var k = 0
    while (k < wb * (h / 8)) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val v = (((s >>> 56) & 0xff).toInt % 193) - 96 + 128
      val bx = k % wb; val by = k / wb
      for (r <- 0 until 8; c <- 0 until 8)
        px((by * 8 + r) * w + bx * 8 + c) = v
      k += 1
    }
    px
  }

  test("DC-only synthetic JPEGs decode to the exact closed-form pixels") {
    for (seed <- Seq(2L, 5L, 8L, 11L, 14L, 17L, 1499L)) {
      val w = 8 * (1 + (seed % 6)).toInt
      val h = 8 * (1 + ((seed * 5) % 6)).toInt
      val bytes = MediaCodecs.encodeJpegBaseline(w, h, seed)
      val px = MediaCodecs.decodeJpegPixels(bytes)
        .getOrElse(fail(s"decode failed for seed $seed"))
      assert(px.length == w * h)
      val want = expectedPixels(w, h, seed)
      for (i <- px.indices)
        assert((px(i) & 0xff) == want(i), s"pixel $i of seed $seed")
    }
  }

  test("header decode still reports the frame dimensions") {
    val bytes = MediaCodecs.encodeJpegBaseline(24, 16, 7L)
    val info = MediaCodecs.decodeJpeg(bytes).getOrElse(fail("no SOF"))
    assert(info.width == 24 && info.height == 16 && info.channels == 1)
  }

  test("AC coefficients, runs and ZRL decode against a direct IDCT") {
    // hand-crafted single-block stream: quant all 1s, Annex-K-free custom
    // tables (DC cats at 4 bits, AC symbols EOB/0x01/0xF0/0x42 at 3 bits)
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    u16(0xFFD8)
    u16(0xFFDB); u16(2 + 1 + 64); b(0); (0 until 64).foreach(_ => b(1))
    u16(0xFFC0); u16(11); b(8); u16(8); u16(8); b(1); b(1); b(0x11); b(0)
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acBits = Array(0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    u16(0xFFC4); u16(2 + (1 + 16 + 12) + (1 + 16 + 4))
    b(0x00); dcBits.foreach(b); (0 to 11).foreach(b)
    b(0x10); acBits.foreach(b); Seq(0x00, 0x01, 0xF0, 0x42).foreach(b)
    u16(0xFFDA); u16(8); b(1); b(1); b(0x00); b(0); b(63); b(0)
    // bits: DC cat 3 (code 0011), diff 5 (101); AC 0x01 (code 001),
    // value 1 bit = 0 -> -1 at zigzag k=1; AC ZRL 0xF0 (code 010) skips 16;
    // AC 0x42 (code 011) run 4, size 2, value 10b=2 at k=1+16+4+1=22;
    // EOB (code 000)
    var bitBuf = 0; var cnt = 0
    val body = new java.io.ByteArrayOutputStream()
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        bitBuf = (bitBuf << 1) | ((v >> i) & 1); cnt += 1
        if (cnt == 8) { body.write(bitBuf); if (bitBuf == 0xff) body.write(0); bitBuf = 0; cnt = 0 }
        i -= 1
      }
    }
    put(3, 4); put(5, 3)     // DC = 5
    put(1, 3); put(0, 1)     // AC k=1: -1
    put(2, 3)                // ZRL
    put(3, 3); put(2, 2)     // AC k=22: +2
    put(0, 3)                // EOB
    if (cnt > 0) { bitBuf = (bitBuf << (8 - cnt)) | ((1 << (8 - cnt)) - 1); body.write(bitBuf) }
    out.write(body.toByteArray); u16(0xFFD9)

    val px = MediaCodecs.decodeJpegPixels(out.toByteArray)
      .getOrElse(fail("decode failed"))
    // direct IDCT of the expected coefficient block
    val zig = Array(0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val coef = new Array[Int](64)
    coef(0) = 5; coef(zig(1)) = -1; coef(zig(22)) = 2
    for (y <- 0 until 8; x <- 0 until 8) {
      var sum = 0.0
      for (v <- 0 until 8; u <- 0 until 8) {
        val cu = if (u == 0) math.sqrt(0.5) else 1.0
        val cv = if (v == 0) math.sqrt(0.5) else 1.0
        sum += cu * cv * coef(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      val want = math.max(0, math.min(255, math.round(sum / 4 + 128).toInt))
      assert((px(y * 8 + x) & 0xff) == want, s"pixel ($x,$y)")
    }
  }

  test("negative seeds encode 8..48-pixel JPEGs through both eval paths") {
    val seeds = Seq(-1L, -5L, -6L, -7L, -12345L, Long.MinValue, 0L, 5L)
    for ((path, s) <- Seq("interpreted" -> EvalPaths.interpreted(spark),
                          "codegen" -> EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val rows = seeds.toDF("seed").select(col("seed"),
        MediaFunctions.mediaInfo(MediaFunctions.mediaEncodeJpeg(col("seed"))).as("base"),
        MediaFunctions.jpegPixelStats(MediaFunctions.mediaEncodeJpeg(col("seed"))).as("px"),
        MediaFunctions.mediaInfo(MediaFunctions.mediaEncodeJpegProg(col("seed"))).as("prog"),
        MediaFunctions.jpegPixelStatsProg(MediaFunctions.mediaEncodeJpegProg(col("seed")))
          .as("prog_px")).collect()
      for (r <- rows) {
        val seed = r.getLong(0)
        def dims(i: Int) = (r.getStruct(i).getInt(1), r.getStruct(i).getInt(2))
        val w = 8 * (1 + Math.floorMod(seed, 6L)).toInt
        assert(dims(1) == (w, 8 * (1 + Math.floorMod(seed * 5, 6L)).toInt), s"$path seed $seed")
        assert(dims(3) == (w, 8 * (1 + Math.floorMod(seed * 7, 6L)).toInt), s"$path seed $seed")
        assert(r.getStruct(2).getLong(0) == dims(1)._1 * dims(1)._2, s"$path seed $seed")
        assert(r.getStruct(4).getLong(0) == dims(3)._1 * dims(3)._2, s"$path seed $seed")
      }
    }
  }

  test("table ids above 3 decode to null through both eval paths") {
    MediaJpegSpec.checkBadTableIds(spark,
      MediaCodecs.encodeJpegBaseline(16, 16, 9L), MediaFunctions.jpegPixelStats)
  }
}

object MediaJpegSpec {
  /** `good` with one 4-bit table id raised above 3 (T.81 B.2: ids are
    * 0-3): DQT Tq=5, DHT Th=7, the frame component's Tq=9 and the first
    * scan's Td/Ta=5. */
  def badTableIds(good: Array[Byte]): Seq[(String, Array[Byte])] = {
    def patch(marker: Int, offset: Int, f: Int => Int): Array[Byte] = {
      val at = good.indices.find(i => (good(i) & 0xff) == 0xff && i + 1 < good.length &&
        (good(i + 1) & 0xff) == marker).get + offset
      val bad = good.clone()
      bad(at) = f(bad(at) & 0xff).toByte
      bad
    }
    val sof = if (good.indices.exists(i => (good(i) & 0xff) == 0xff &&
      i + 1 < good.length && (good(i + 1) & 0xff) == 0xc2)) 0xc2 else 0xc0
    Seq(
      "DQT Tq=5" -> patch(0xdb, 4, b => (b & 0xf0) | 5),
      "DHT Th=7" -> patch(0xc4, 4, b => (b & 0xf0) | 7),
      "SOF Tq=9" -> patch(sof, 12, _ => 9),
      "SOS Td/Ta=5" -> patch(0xda, 6, _ => 0x55))
  }

  /** The untouched payload decodes and every bad-id variant gives a null
    * struct, interpreted and under generated code alike. */
  def checkBadTableIds(spark: SparkSession, good: Array[Byte],
      stats: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    val cases = ("untouched" -> good) +: badTableIds(good)
    for (s <- Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val got = cases.map(_._2).toDF("payload").select(stats(col("payload")))
        .collect().map(_.isNullAt(0))
      assert(got.toSeq == cases.map(_._1 != "untouched"),
        s"${cases.map(_._1).zip(got).mkString(", ")} (null?) in ${s.conf.get("spark.sql.codegen.factoryMode")}")
    }
  }
}
