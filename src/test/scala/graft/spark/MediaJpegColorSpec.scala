package graft.spark

import org.scalatest.funsuite.AnyFunSuite

/** Color JPEG decode: 3-component 4:2:0 streams (luma 2x2, chroma 1x1 —
  * one 16x16 MCU of four Y blocks + Cb + Cr), DC-only content so the
  * expected RGB is closed-form through the YCbCr conversion and box
  * upsampling. Covers the baseline interleaved-MCU path and the
  * progressive path's interleaved DC scan + per-component AC EOBRUN scans
  * (exercising the nominal vs MCU-padded block grids for chroma). */
class MediaJpegColorSpec extends AnyFunSuite {
  import MediaJpegColorSpec._

  private def expectRgb(px: Array[Byte]): Unit = {
    assert(px.length == 16 * 16 * 3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val yy = (dcY((y / 8) * 2 + (x / 8)) + 128).toDouble
      val cb = dcCb.toDouble; val cr = dcCr.toDouble
      def clamp(d: Double): Int = {
        val v = math.round(d).toInt
        if (v < 0) 0 else if (v > 255) 255 else v
      }
      val o = (y * 16 + x) * 3
      assert((px(o) & 0xff) == clamp(yy + 1.402 * cr), s"R at ($x,$y)")
      assert((px(o + 1) & 0xff) == clamp(yy - 0.344136 * cb - 0.714136 * cr), s"G at ($x,$y)")
      assert((px(o + 2) & 0xff) == clamp(yy + 1.772 * cb), s"B at ($x,$y)")
    }
  }

  test("baseline 4:2:0 color MCU decodes to the closed-form RGB") {
    expectRgb(MediaCodecs.decodeJpegPixels(baseline420).getOrElse(fail("decode")))
  }

  test("progressive 4:2:0 color (interleaved DC + per-component AC EOBRUN scans)") {
    expectRgb(MediaCodecs.decodeJpegPixels(progressive420).getOrElse(fail("decode")))
  }

  test("malformed progressive streams return None, never throw") {
    val good = MediaCodecs.encodeJpegProgressive(16, 16, 7L)
    // truncations at every marker-ish prefix plus mid-entropy cuts
    for (cut <- Seq(4, 20, 50, 100, good.length / 2, good.length - 3)) {
      val t = java.util.Arrays.copyOf(good, cut)
      // must not throw; None or (for cuts inside trailing entropy) a
      // partial-but-complete decode are both acceptable outcomes
      MediaCodecs.decodeJpegPixels(t)
    }
    // a scan referencing an undefined Huffman table
    val noDht = {
      val out = new java.io.ByteArrayOutputStream()
      header(out, 0xFFC2, Array(0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), Seq(0x00))
      val bytes = out.toByteArray
      // strip the DHT segment (find 0xFFC4, remove its span)
      val i = bytes.indices.find(j => (bytes(j) & 0xff) == 0xff &&
        j + 1 < bytes.length && (bytes(j + 1) & 0xff) == 0xc4).get
      val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
      val sansDht = bytes.take(i) ++ bytes.drop(i + 2 + len)
      val out2 = new java.io.ByteArrayOutputStream()
      out2.write(sansDht)
      out2.write(Array[Byte](0xFF.toByte, 0xDA.toByte, 0, 8, 1, 1, 0, 1, 63, 0))
      out2.write(Array[Byte](0xFF.toByte, 0xD9.toByte))
      out2.toByteArray
    }
    assert(MediaCodecs.decodeJpegPixels(noDht).isEmpty)
  }
}

/** The 4:2:0 color streams: one 16x16 MCU of DC-only blocks. */
object MediaJpegColorSpec {
  val dcY = Array(10, 20, 30, 40) // blocks (by, bx) row-major
  val dcCb = 4
  val dcCr = -6

  private final class BitSink {
    val body = new java.io.ByteArrayOutputStream()
    private var buf = 0; private var cnt = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >> i) & 1); cnt += 1
        if (cnt == 8) { body.write(buf); if (buf == 0xff) body.write(0); buf = 0; cnt = 0 }
        i -= 1
      }
    }
    def flush(): Unit = if (cnt > 0) {
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      body.write(buf); if (buf == 0xff) body.write(0)
      buf = 0; cnt = 0
    }
  }

  private def cat(v: Int): Int = {
    var c = 0; var m = math.abs(v)
    while (m != 0) { c += 1; m >>= 1 }
    c
  }

  /** DC diff in canonical category + one's-complement bits at 4-bit cats. */
  private def putDc(b: BitSink, diff: Int): Unit = {
    val c = cat(diff)
    b.put(c, 4)
    if (c > 0) { var d = diff; if (d < 0) d += (1 << c) - 1; b.put(d, c) }
  }

  def header(out: java.io.ByteArrayOutputStream, sof: Int,
             acBits: Array[Int], acVals: Seq[Int]): Unit = {
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    u16(0xFFD8)
    u16(0xFFDB); u16(2 + 1 + 64); b(0)
    for (i <- 0 until 64) b(if (i == 0) 8 else 16)
    u16(sof); u16(8 + 9); b(8); u16(16); u16(16); b(3)
    b(1); b(0x22); b(0) // Y: h=2 v=2
    b(2); b(0x11); b(0) // Cb
    b(3); b(0x11); b(0) // Cr
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    u16(0xFFC4); u16(2 + (1 + 16 + 12) + (1 + 16 + acVals.size))
    b(0x00); dcBits.foreach(b); (0 to 11).foreach(b)
    b(0x10); acBits.foreach(b); acVals.foreach(b)
  }

  def baseline420: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // AC table: EOB only, at 2 bits (code 0)
    header(out, 0xFFC0, Array(0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), Seq(0x00))
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    u16(0xFFDA); u16(6 + 6); b(3)
    for (c <- 1 to 3) { b(c); b(0x00) }
    b(0); b(63); b(0)
    val bs = new BitSink
    var predY = 0
    for (blk <- 0 until 4) { putDc(bs, dcY(blk) - predY); predY = dcY(blk); bs.put(0, 2) }
    putDc(bs, dcCb); bs.put(0, 2)
    putDc(bs, dcCr); bs.put(0, 2)
    bs.flush()
    out.write(bs.body.toByteArray)
    u16(0xFFD9)
    out.toByteArray
  }

  def progressive420: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // AC table: {EOB0, EOB2} at 3 bits (codes 0, 1)
    header(out, 0xFFC2, Array(0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), Seq(0x00, 0x20))
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    // scan 1: interleaved DC, Ah=Al=0
    u16(0xFFDA); u16(6 + 6); b(3)
    for (c <- 1 to 3) { b(c); b(0x00) }
    b(0); b(0); b(0)
    val dcSink = new BitSink
    var predY = 0
    for (blk <- 0 until 4) { putDc(dcSink, dcY(blk) - predY); predY = dcY(blk) }
    putDc(dcSink, dcCb)
    putDc(dcSink, dcCr)
    dcSink.flush()
    out.write(dcSink.body.toByteArray)
    // scan 2: AC for Y — 4 all-zero blocks as one EOBRUN of 4
    u16(0xFFDA); u16(6 + 2); b(1); b(1); b(0x00); b(1); b(63); b(0)
    val acY = new BitSink
    acY.put(1, 3) // code for 0x20 (EOB2)
    acY.put(0, 2) // extension: eobrun = 4 + 0
    acY.flush(); out.write(acY.body.toByteArray)
    // scans 3-4: AC for Cb / Cr — single EOB0 each
    for (c <- 2 to 3) {
      u16(0xFFDA); u16(6 + 2); b(1); b(c); b(0x00); b(1); b(63); b(0)
      val s = new BitSink
      s.put(0, 3) // code for 0x00 (EOB0)
      s.flush(); out.write(s.body.toByteArray)
    }
    u16(0xFFD9)
    out.toByteArray
  }
}
