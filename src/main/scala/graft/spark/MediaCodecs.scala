package graft.spark

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater}

/** Real (library-free) media header codecs for the multimodal column path.
  *
  * The container formats are public specifications: PNG (RFC 2083 / W3C),
  * WAV (RIFF, Microsoft/IBM spec), JPEG JFIF (ITU T.81 marker structure).
  * Encoders produce structurally valid byte streams (PNG with correct CRCs
  * and a deflate IDAT; WAV with RIFF/fmt/data chunks; JPEG with SOI/APP0/
  * SOF0/EOI markers); decoders parse the real byte layout — byte order,
  * chunk walking, marker scanning — so a wrong parser fails loudly against
  * the driver oracle's closed-form expectations.
  */
object MediaCodecs {

  final case class MediaInfo(kind: String, width: Int, height: Int,
                             sampleRate: Int, channels: Int)

  // ------------------------------------------------------------------ PNG

  private val PNG_SIG = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    val len = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN).putInt(data.length).array()
    out.write(len)
    val typBytes = typ.getBytes("ASCII")
    out.write(typBytes)
    out.write(data)
    val crc = new CRC32()
    crc.update(typBytes); crc.update(data)
    out.write(ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      .putInt(crc.getValue.toInt).array())
  }

  /** channel count for an 8-bit PNG color type (gray / RGB / gray+alpha /
    * RGBA); 0 for unsupported (palette etc.). */
  def pngChannels(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => 0
  }

  /** Paeth predictor (PNG spec §6.6): closest of left/up/up-left to
    * left + up − up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** 8-bit PNG with deterministic pixel data: color type 0 (gray), 2
    * (RGB) or 6 (RGBA), w*h*channels pixel bytes drawn in scanline order
    * from a 64-bit LCG (top byte of each state). Each scanline is encoded
    * with filter (seed + row) % 5, cycling through all five PNG filter
    * types — the decoder must implement real Sub/Up/Average/Paeth
    * reconstruction to recover the stream. */
  def encodePng(width: Int, height: Int, seed: Long, colorType: Int = 0): Array[Byte] = {
    val ch = pngChannels(colorType)
    require(ch > 0, s"encodePng: unsupported color type $colorType")
    val out = new java.io.ByteArrayOutputStream()
    out.write(PNG_SIG)
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte) // bit depth
    ihdr.put(colorType.toByte)
    ihdr.put(0.toByte); ihdr.put(0.toByte); ihdr.put(0.toByte)
    pngChunk(out, "IHDR", ihdr.array())
    // pixel bytes: pure LCG stream, scanline order (this is what the
    // DuckDB oracle re-generates byte-for-byte)
    val stride = width * ch
    val px = new Array[Byte](height * stride)
    var i = 0; var s = seed
    while (i < px.length) {
      s = s * 6364136223846793005L + 1442695040888963407L
      px(i) = (s >>> 56).toByte
      i += 1
    }
    // filter each scanline: raw = [filter byte | filtered bytes]
    val raw = new Array[Byte](height * (1 + stride))
    var r = 0
    while (r < height) {
      val f = (((seed + r) % 5 + 5) % 5).toInt
      raw(r * (1 + stride)) = f.toByte
      var k = 0
      while (k < stride) {
        val cur = px(r * stride + k) & 0xff
        val left = if (k >= ch) px(r * stride + k - ch) & 0xff else 0
        val up = if (r > 0) px((r - 1) * stride + k) & 0xff else 0
        val ul = if (r > 0 && k >= ch) px((r - 1) * stride + k - ch) & 0xff else 0
        val enc = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case _ => cur - paeth(left, up, ul)
        }
        raw(r * (1 + stride) + 1 + k) = enc.toByte
        k += 1
      }
      r += 1
    }
    val defl = new Deflater()
    defl.setInput(raw); defl.finish()
    // drain fully: incompressible data can exceed the input size
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    pngChunk(out, "IDAT", comp.toByteArray)
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** FULL PNG pixel decode for 8-bit color types 0/2/4/6: walks the chunk
    * chain, concatenates IDAT data, inflates the real zlib stream, and
    * reconstructs every scanline through the five PNG filter types
    * (None/Sub/Up/Average/Paeth, spec §6). Returns the w*h*channels pixel
    * bytes in scanline order. None for anything structurally off — wrong
    * dims, truncated stream, palette/16-bit profiles, unknown filter. */
  def decodePngPixels(bytes: Array[Byte]): Option[Array[Byte]] = {
    val info = decodePng(bytes).getOrElse(return None)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var pos = 8
    var depth = -1; var colorType = -1
    var idat = new java.io.ByteArrayOutputStream()
    while (pos + 8 <= bytes.length) {
      val len = bb.getInt(pos)
      if (len < 0) return None
      val typ = new String(bytes, pos + 4, 4, "ASCII")
      if (typ == "IHDR") {
        // bounds-guard: a truncated trailing chunk typed IHDR must yield
        // None, not an out-of-bounds read
        if (len < 13 || pos + 8 + 13 > bytes.length) return None
        depth = bytes(pos + 16) & 0xff
        colorType = bytes(pos + 17) & 0xff
      }
      if (typ == "IDAT") {
        if (pos + 8 + len > bytes.length) return None
        idat.write(bytes, pos + 8, len)
      }
      pos += 8 + len + 4
    }
    if (depth != 8) return None
    val ch = pngChannels(colorType)
    if (ch == 0) return None
    val w = info.width; val h = info.height
    if (w <= 0 || h <= 0 || w.toLong * h * ch > 64L * 1024 * 1024) return None
    val stride = w * ch
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        off += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (off != raw.length) return None
    val px = new Array[Byte](stride * h)
    var r = 0
    while (r < h) {
      val f = raw(r * (1 + stride)) & 0xff
      if (f > 4) return None // unknown filter type
      var k = 0
      while (k < stride) {
        val enc = raw(r * (1 + stride) + 1 + k) & 0xff
        val left = if (k >= ch) px(r * stride + k - ch) & 0xff else 0
        val up = if (r > 0) px((r - 1) * stride + k) & 0xff else 0
        val ul = if (r > 0 && k >= ch) px((r - 1) * stride + k - ch) & 0xff else 0
        val rec = f match {
          case 0 => enc
          case 1 => enc + left
          case 2 => enc + up
          case 3 => enc + ((left + up) >> 1)
          case _ => enc + paeth(left, up, ul)
        }
        px(r * stride + k) = rec.toByte
        k += 1
      }
      r += 1
    }
    Some(px)
  }

  /** parse a PNG's IHDR: walks the chunk chain for real. */
  def decodePng(bytes: Array[Byte]): Option[MediaInfo] = {
    if (bytes.length < 33) return None
    var i = 0
    while (i < 8) { if (bytes(i) != PNG_SIG(i)) return None; i += 1 }
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var pos = 8
    while (pos + 8 <= bytes.length) {
      val len = bb.getInt(pos)
      if (len < 0) return None // hostile chunk length: never loop in place
      val typ = new String(bytes, pos + 4, 4, "ASCII")
      if (typ == "IHDR") {
        if (len < 13 || pos + 8 + 13 > bytes.length) return None
        return Some(MediaInfo("image", bb.getInt(pos + 8), bb.getInt(pos + 12), 0,
          pngChannels(bytes(pos + 17) & 0xff)))
      }
      pos += 8 + len + 4
    }
    None
  }

  // ------------------------------------------------------------------ WAV

  /** 16-bit PCM WAV with deterministic samples. Odd seeds insert an
    * odd-length LIST chunk between fmt and data, so decoders must walk
    * the chunk chain with real RIFF word-alignment padding (len + len&1)
    * rather than assume the fixed 44-byte layout. */
  def encodeWav(sampleRate: Int, channels: Int, nSamples: Int, seed: Long): Array[Byte] = {
    val dataLen = nSamples * channels * 2
    val listBody = if (seed % 2 != 0) "INFOx".getBytes("ASCII") else null // 5 bytes: odd
    val listLen = if (listBody == null) 0 else 8 + listBody.length + (listBody.length & 1)
    val total = 44 + listLen + dataLen
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ASCII")); bb.putInt(total - 8)
    bb.put("WAVE".getBytes("ASCII"))
    bb.put("fmt ".getBytes("ASCII")); bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * channels * 2) // byte rate
    bb.putShort((channels * 2).toShort) // block align
    bb.putShort(16) // bits per sample
    if (listBody != null) {
      bb.put("LIST".getBytes("ASCII")); bb.putInt(listBody.length)
      bb.put(listBody); bb.put(0.toByte) // word-alignment pad
    }
    bb.put("data".getBytes("ASCII")); bb.putInt(dataLen)
    var s = seed; var i = 0
    while (i < nSamples * channels) {
      s = s * 6364136223846793005L + 1442695040888963407L
      bb.putShort((s >>> 48).toShort)
      i += 1
    }
    bb.array()
  }

  /** parse RIFF/WAVE: walks chunks to fmt . */
  def decodeWav(bytes: Array[Byte]): Option[MediaInfo] = {
    if (bytes.length < 44) return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (new String(bytes, 0, 4, "ASCII") != "RIFF") return None
    if (new String(bytes, 8, 4, "ASCII") != "WAVE") return None
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "ASCII")
      val len = bb.getInt(pos + 4)
      if (len < 0) return None // hostile chunk length: never loop in place
      if (id == "fmt ") {
        if (len < 16 || pos + 8 + 16 > bytes.length) return None
        val channels = bb.getShort(pos + 10).toInt
        val rate = bb.getInt(pos + 12)
        return Some(MediaInfo("audio", 0, 0, rate, channels))
      }
      pos += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    None
  }

  /** FULL PCM sample decode: walks the RIFF chunk chain to `data` and
    * reads the little-endian 16-bit samples — the audio counterpart of
    * decodePngPixels. None for truncated or structurally-off streams. */
  def decodeWavSamples(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes.length < 44) return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (new String(bytes, 0, 4, "ASCII") != "RIFF") return None
    if (new String(bytes, 8, 4, "ASCII") != "WAVE") return None
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "ASCII")
      val len = bb.getInt(pos + 4)
      if (len < 0) return None
      if (id == "data") {
        if (pos + 8 + len > bytes.length) return None
        val out = new Array[Short](len / 2)
        var i = 0
        while (i < out.length) { out(i) = bb.getShort(pos + 8 + 2 * i); i += 1 }
        return Some(out)
      }
      pos += 8 + len + (len & 1)
    }
    None
  }

  // ----------------------------------------------------------------- JPEG

  /** minimal JFIF byte stream: SOI + APP0 + SOF0 (with dims) + EOI —
    * structurally valid marker chain (no entropy-coded data). */
  def encodeJpegHeader(width: Int, height: Int): Array[Byte] = {
    val out = ByteBuffer.allocate(2 + 18 + 19 + 2).order(ByteOrder.BIG_ENDIAN)
    out.putShort(0xFFD8.toShort) // SOI
    out.putShort(0xFFE0.toShort); out.putShort(16) // APP0 len
    out.put("JFIF".getBytes("ASCII")); out.put(0.toByte)
    out.putShort(0x0101.toShort) // version
    out.put(0.toByte) // aspect units
    out.putShort(1.toShort); out.putShort(1.toShort) // aspect
    out.put(0.toByte); out.put(0.toByte) // no thumbnail
    out.putShort(0xFFC0.toShort); out.putShort(17) // SOF0, len (8 + 3*3)
    out.put(8.toByte) // precision
    out.putShort(height.toShort); out.putShort(width.toShort)
    out.put(3.toByte) // components
    for (c <- 1 to 3) { out.put(c.toByte); out.put(0x11.toByte); out.put(0.toByte) }
    out.putShort(0xFFD9.toShort) // EOI
    out.array()
  }

  /** Baseline JFIF encoder for the synthetic corpus: grayscale, 8x8-tiled
    * dimensions, one DC-only quantized coefficient per block drawn from the
    * shared LCG (dc in [-96, 96]), ACs end-of-blocked. The DC quantizer is
    * 8, so a correct decode yields the EXACT flat block value dc + 128 —
    * which lets the DuckDB oracle reconstruct every pixel in closed form
    * while the decoder still runs the full entropy path (canonical Huffman
    * tables from DHT, DC prediction with signed size categories, EOB runs,
    * 0xFF00 byte stuffing, dequantization, IDCT, level shift). */
  def encodeJpegBaseline(width: Int, height: Int, seed: Long): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0)
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    u16(0xFFD8) // SOI
    u16(0xFFE0); u16(16); out.write("JFIF".getBytes("ASCII")); b(0)
    u16(0x0101); b(0); u16(1); u16(1); b(0); b(0)
    // DQT: table 0, 8-bit; DC quantizer 8, everything else 16
    u16(0xFFDB); u16(2 + 1 + 64); b(0)
    for (i <- 0 until 64) b(if (i == 0) 8 else 16)
    // SOF0: 8-bit, grayscale
    u16(0xFFC0); u16(8 + 3); b(8); u16(height); u16(width)
    b(1); b(1); b(0x11); b(0)
    // DHT: DC table 0 — the 12 size categories as a canonical 4-bit code;
    // AC table 0 — EOB/0x01/0x11 at 2 bits (the decoder builds both
    // generically from BITS/HUFFVAL)
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acBits = Array(0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    u16(0xFFC4); u16(2 + (1 + 16 + 12) + (1 + 16 + 3))
    b(0x00); dcBits.foreach(b); (0 to 11).foreach(b)
    b(0x10); acBits.foreach(b); Seq(0x00, 0x01, 0x11).foreach(b)
    // SOS
    u16(0xFFDA); u16(6 + 2); b(1); b(1); b(0x00); b(0); b(63); b(0)
    // entropy-coded data
    var bitBuf = 0; var bitCnt = 0
    val body = new java.io.ByteArrayOutputStream()
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        bitBuf = (bitBuf << 1) | ((v >> i) & 1); bitCnt += 1
        if (bitCnt == 8) {
          body.write(bitBuf)
          if (bitBuf == 0xff) body.write(0x00) // stuffing
          bitBuf = 0; bitCnt = 0
        }
        i -= 1
      }
    }
    // canonical codes: DC category c -> code c at 4 bits; AC EOB -> 00b
    var s = seed
    var pred = 0
    val nBlocks = (width / 8) * (height / 8)
    var k = 0
    while (k < nBlocks) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val dc = (((s >>> 56) & 0xff).toInt % 193) - 96
      var diff = dc - pred
      pred = dc
      var cat = 0
      var mag = math.abs(diff)
      while (mag != 0) { cat += 1; mag >>= 1 }
      putBits(cat, 4) // DC size category
      if (cat > 0) {
        if (diff < 0) diff += (1 << cat) - 1 // one's-complement negatives
        putBits(diff, cat)
      }
      putBits(0, 2) // AC EOB
      k += 1
    }
    if (bitCnt > 0) { // pad with 1s
      bitBuf = (bitBuf << (8 - bitCnt)) | ((1 << (8 - bitCnt)) - 1)
      body.write(bitBuf)
      if (bitBuf == 0xff) body.write(0x00)
    }
    out.write(body.toByteArray)
    u16(0xFFD9)
    out.toByteArray
  }

  /** 8x8 IDCT basis with the cu normalization folded in:
    * COS(x)(u) = cu * cos((2x+1) u pi / 16). */
  private val IDCT_COS: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    (if (u == 0) 0.70710678118654752440 else 1.0) *
      math.cos((2 * x + 1) * u * math.Pi / 16)
  }

  /** Separable 2-D inverse DCT (T.81 A.3.3): rows then columns over the
    * precomputed basis — 2*8 multiplies per output sample instead of the
    * direct form's 64. `tmp` holds dequantized coefficients in natural
    * order (v*8+u); `work` is a caller-provided 64-slot scratch; output
    * samples (level-shifted, clamped) land in `plane` at (ox, oy). */
  private def idct8x8Into(tmp: Array[Double], work: Array[Double],
                          plane: Array[Byte], pw: Int, ox: Int, oy: Int): Unit = {
    // pass 1: for each row v, resolve u -> x:  work(v*8+x) = sum_u C(x,u) F(v,u)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        val cx = IDCT_COS(x)
        var s = 0.0
        var u = 0
        while (u < 8) { s += cx(u) * tmp(v * 8 + u); u += 1 }
        work(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    // pass 2: resolve v -> y, scale, level shift, clamp
    var y = 0
    while (y < 8) {
      val cy = IDCT_COS(y)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += cy(vv) * work(vv * 8 + x); vv += 1 }
        val px = math.round(s / 4 + 128).toInt
        plane((oy + y) * pw + ox + x) =
          (if (px < 0) 0 else if (px > 255) 255 else px).toByte
        x += 1
      }
      y += 1
    }
  }

  /** zigzag scan order (T.81 figure A.6 — public spec constant). */
  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    // canonical code assignment: (length, code) -> value
    val maxLen = 16
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = code - 1
        if (bits(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    var bitBuf = 0
    var bitCnt = 0
    var eof = false
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= bytes.length) { eof = true; return 0 }
        var byte0 = bytes(pos) & 0xff; pos += 1
        if (byte0 == 0xff) {
          val next = if (pos < bytes.length) bytes(pos) & 0xff else 0xd9
          if (next == 0x00) pos += 1 // stuffed
          else if (next >= 0xd0 && next <= 0xd7) { // restart marker
            pos += 1
            byte0 = if (pos < bytes.length) { val v = bytes(pos) & 0xff; pos += 1; v }
              else { eof = true; 0 }
          } else { eof = true; return 0 } // EOI or other marker
        }
        bitBuf = byte0; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def decode(t: HuffTable): Int = {
      var code = nextBit()
      var l = 1
      while (l <= 16 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        code = (code << 1) | nextBit()
        l += 1
      }
      if (l > 16 || eof) -1 else t.value(l, code)
    }
  }

  /** full baseline JFIF decode: Huffman entropy decode (DC prediction, AC
    * runs, EOB/ZRL), dequantization, zigzag, IDCT, level shift; grayscale
    * returns luma bytes, 3-component YCbCr converts to interleaved RGB
    * with box upsampling of subsampled chroma. None on malformed input. */
  def decodeJpegPixels(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
      (bytes(1) & 0xff) != 0xd8) return None
    val quant = Array.fill(4)(new Array[Int](64))
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = 0; var height = 0; var nComp = 0
    // per component: id, h, v, quant table; then at SOS: dc/ac table ids
    val compH = new Array[Int](4); val compV = new Array[Int](4)
    val compQ = new Array[Int](4)
    val compDc = new Array[Int](4); val compAc = new Array[Int](4)
    var pos = 2
    var scanStart = -1
    while (scanStart < 0 && pos + 4 <= bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return None
      val marker = bytes(pos + 1) & 0xff
      val len = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      if (len < 2) return None
      if (pos + 2 + len > bytes.length) return None // truncated segment
      marker match {
        case 0xDB => // DQT
          var p = pos + 4
          while (p < pos + 2 + len) {
            val pq = (bytes(p) & 0xf0) >> 4; val tq = bytes(p) & 0x0f
            if (tq > 3) return None // T.81 B.2.4.1: Tq is 0-3
            p += 1
            var i = 0
            while (i < 64) {
              quant(tq)(i) =
                if (pq == 0) bytes(p + i) & 0xff
                else ((bytes(p + 2 * i) & 0xff) << 8) | (bytes(p + 2 * i + 1) & 0xff)
              i += 1
            }
            p += (if (pq == 0) 64 else 128)
          }
        case 0xC0 | 0xC1 => // SOF0/1 (baseline)
          height = ((bytes(pos + 5) & 0xff) << 8) | (bytes(pos + 6) & 0xff)
          width = ((bytes(pos + 7) & 0xff) << 8) | (bytes(pos + 8) & 0xff)
          nComp = bytes(pos + 9) & 0xff
          if (nComp != 1 && nComp != 3) return None
          var c = 0
          while (c < nComp) {
            val base = pos + 10 + 3 * c
            compH(c) = (bytes(base + 1) & 0xf0) >> 4
            compV(c) = bytes(base + 1) & 0x0f
            compQ(c) = bytes(base + 2) & 0x0f
            if (compQ(c) > 3) return None // T.81 B.2.2: Tq is 0-3
            c += 1
          }
        case 0xC2 => return decodeJpegProgressivePixels(bytes) // §G path
        case 0xC4 => // DHT
          var p = pos + 4
          while (p < pos + 2 + len) {
            val tc = (bytes(p) & 0xf0) >> 4; val th = bytes(p) & 0x0f
            if (th > 3) return None // T.81 B.2.4.2: Th is 0-3
            val bits = new Array[Int](16)
            var total = 0
            var i = 0
            while (i < 16) { bits(i) = bytes(p + 1 + i) & 0xff; total += bits(i); i += 1 }
            val vals = new Array[Int](total)
            i = 0
            while (i < total) { vals(i) = bytes(p + 17 + i) & 0xff; i += 1 }
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            p += 17 + total
          }
        case 0xDA => // SOS
          val ns = bytes(pos + 4) & 0xff
          if (ns != nComp) return None
          var c = 0
          while (c < ns) {
            compDc(c) = (bytes(pos + 6 + 2 * c) & 0xf0) >> 4
            compAc(c) = bytes(pos + 6 + 2 * c) & 0x0f
            // T.81 B.2.3: Td and Ta are 0-3
            if (compDc(c) > 3 || compAc(c) > 3) return None
            c += 1
          }
          scanStart = pos + 2 + len
        case 0xD9 => return None
        case _ => ()
      }
      if (scanStart < 0) pos += 2 + len
    }
    if (scanStart < 0 || width == 0 || height == 0) return None

    val hMax = (0 until nComp).map(compH).max
    val vMax = (0 until nComp).map(compV).max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // per-component planes at full MCU-grid resolution
    val planeW = (0 until nComp).map(c => mcusX * compH(c) * 8).toArray
    val planeH = (0 until nComp).map(c => mcusY * compV(c) * 8).toArray
    val planes = (0 until nComp).map(c =>
      new Array[Byte](planeW(c) * planeH(c))).toArray
    val preds = new Array[Int](nComp)
    val reader = new BitReader(bytes, scanStart)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)

    val work = new Array[Double](64)
    def idctInto(plane: Array[Byte], pw: Int, ox: Int, oy: Int, q: Array[Int]): Unit = {
      var i = 0
      while (i < 64) { tmp(i) = coef(i).toDouble * q(i); i += 1 }
      idct8x8Into(tmp, work, plane, pw, ox, oy)
    }

    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var c = 0
        while (c < nComp) {
          val dcT = dcTabs(compDc(c)); val acT = acTabs(compAc(c))
          if (dcT == null || acT == null) return None
          var by = 0
          while (by < compV(c)) {
            var bx = 0
            while (bx < compH(c)) {
              java.util.Arrays.fill(coef, 0)
              val cat = reader.decode(dcT)
              if (cat < 0) return None
              var diff = if (cat == 0) 0 else reader.bits(cat)
              if (cat > 0 && diff < (1 << (cat - 1))) diff -= (1 << cat) - 1
              preds(c) += diff
              coef(0) = preds(c)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = reader.decode(acT)
                if (rs < 0) return None
                val run = rs >> 4; val size = rs & 0x0f
                if (size == 0) {
                  if (run == 15) k += 16 // ZRL
                  else eob = true
                } else {
                  k += run
                  if (k > 63) return None
                  var v = reader.bits(size)
                  if (v < (1 << (size - 1))) v -= (1 << size) - 1
                  coef(zigzag(k)) = v
                  k += 1
                }
              }
              idctInto(planes(c), planeW(c),
                (mx * compH(c) + bx) * 8, (my * compV(c) + by) * 8,
                quant(compQ(c)))
              bx += 1
            }
            by += 1
          }
          c += 1
        }
        mx += 1
      }
      my += 1
    }

    if (nComp == 1) {
      // crop to the declared dimensions
      val outPx = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * planeW(0), outPx, y * width, width)
        y += 1
      }
      Some(outPx)
    } else {
      val outPx = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sample(c: Int): Int = {
            val sx = x * compH(c) / hMax; val sy = y * compV(c) / vMax
            planes(c)(sy * planeW(c) + sx) & 0xff
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          val o = (y * width + x) * 3
          outPx(o) = clamp(yy + 1.402 * cr)
          outPx(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          outPx(o + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      Some(outPx)
    }
  }

  // ------------------------------------------------- JPEG progressive (§G)

  /** Progressive JFIF encoder (ITU T.81 §G) for the synthetic corpus:
    * grayscale, 8x8-tiled dims; per block the shared LCG draws a DC value
    * (dc in [-96, 96], quantizer 8) and two AC coefficients a1 at natural
    * (u=4, v=0) and a2 at (u=4, v=4) (each in [-6, 6], quantizer 16) whose
    * IDCT basis values are exactly ±1/2, so every pixel is the integer
    * dc + 128 + 2*a1*s(x) + 2*a2*s(x)*s(y) with s = (+,-,-,+,+,-,-,+) —
    * closed-form for the DuckDB oracle. Four scans exercise the §G
    * toolbox: DC first (Al=1, signed size categories), AC first (spectral
    * selection 1..63, Al=1) with EOBRUN and ZRL, DC refinement (one raw
    * bit per block), AC refinement (Ah=1) with newly-nonzero coding, ZRL
    * over zero-history runs and correction bits buffered across EOB runs
    * (the two-counter protocol: run-local bits flush after each symbol,
    * EOB-owned bits flush after the EOBn code). Huffman tables are
    * canonical, built from the emitted symbol set. */
  def encodeJpegProgressive(width: Int, height: Int, seed: Long): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0)
    val nBlocks = (width / 8) * (height / 8)
    val dc = new Array[Int](nBlocks)
    val a1 = new Array[Int](nBlocks)
    val a2 = new Array[Int](nBlocks)
    var s = seed
    var k = 0
    while (k < nBlocks) {
      s = s * 6364136223846793005L + 1442695040888963407L
      dc(k) = (((s >>> 56) & 0xff).toInt % 193) - 96
      s = s * 6364136223846793005L + 1442695040888963407L
      a1(k) = (((s >>> 56) & 0xff).toInt % 13) - 6
      s = s * 6364136223846793005L + 1442695040888963407L
      a2(k) = (((s >>> 56) & 0xff).toInt % 13) - 6
      k += 1
    }
    val kz1 = zigzag.indexOf(4) // (u=4, v=0)
    val kz2 = zigzag.indexOf(36) // (u=4, v=4)

    /** bit sink: collect mode records Huffman symbols, real mode writes. */
    final class Emitter(real: Boolean) {
      val dcSyms = scala.collection.mutable.SortedSet.empty[Int]
      val acSyms = scala.collection.mutable.SortedSet.empty[Int]
      var dcCodes: Map[Int, (Int, Int)] = null
      var acCodes: Map[Int, (Int, Int)] = null
      val body = new java.io.ByteArrayOutputStream()
      private var bitBuf = 0; private var bitCnt = 0
      def putBits(v: Int, n: Int): Unit = if (real) {
        var i = n - 1
        while (i >= 0) {
          bitBuf = (bitBuf << 1) | ((v >> i) & 1); bitCnt += 1
          if (bitCnt == 8) {
            body.write(bitBuf)
            if (bitBuf == 0xff) body.write(0x00)
            bitBuf = 0; bitCnt = 0
          }
          i -= 1
        }
      }
      def huffDc(v: Int): Unit =
        if (real) { val (c, l) = dcCodes(v); putBits(c, l) } else dcSyms += v
      def huffAc(v: Int): Unit =
        if (real) { val (c, l) = acCodes(v); putBits(c, l) } else acSyms += v
      /** pad the trailing partial byte with 1s (scan end). */
      def flushByte(): Unit = if (real && bitCnt > 0) {
        bitBuf = (bitBuf << (8 - bitCnt)) | ((1 << (8 - bitCnt)) - 1)
        body.write(bitBuf)
        if (bitBuf == 0xff) body.write(0x00)
        bitBuf = 0; bitCnt = 0
      }
    }

    def sizeCat(v: Int): Int = {
      var cat = 0; var mag = math.abs(v)
      while (mag != 0) { cat += 1; mag >>= 1 }
      cat
    }

    def dcFirstScan(e: Emitter): Unit = {
      var pred = 0; var b = 0
      while (b < nBlocks) {
        val v = dc(b) >> 1 // DC point transform: arithmetic shift (§G.1.2.1)
        var diff = v - pred; pred = v
        val cat = sizeCat(diff)
        e.huffDc(cat)
        if (cat > 0) {
          if (diff < 0) diff += (1 << cat) - 1
          e.putBits(diff, cat)
        }
        b += 1
      }
    }

    def dcRefineScan(e: Emitter): Unit = {
      var b = 0
      while (b < nBlocks) { e.putBits(dc(b) & 1, 1); b += 1 }
    }

    def acFirstScan(e: Emitter): Unit = {
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        var r = 0
        while ((eobrun >> (r + 1)) != 0) r += 1
        e.huffAc(r << 4)
        if (r > 0) e.putBits(eobrun - (1 << r), r)
        eobrun = 0
      }
      var b = 0
      while (b < nBlocks) {
        // AC point transform truncates toward zero (§G.1.2.2)
        val at1 = a1(b) / 2; val at2 = a2(b) / 2
        if (at1 == 0 && at2 == 0) {
          eobrun += 1
          if (eobrun == 32767) flushEob()
        } else {
          flushEob()
          var prevK = 0
          def coefCode(kz: Int, v: Int): Unit = {
            var run = kz - prevK - 1
            while (run > 15) { e.huffAc(0xF0); run -= 16 }
            val sz = sizeCat(v)
            e.huffAc((run << 4) | sz)
            var d = v
            if (d < 0) d += (1 << sz) - 1
            e.putBits(d, sz)
            prevK = kz
          }
          if (at1 != 0) coefCode(kz1, at1)
          if (at2 != 0) coefCode(kz2, at2)
          eobrun += 1 // kz2 < 63: the block always closes with an EOB
        }
        b += 1
      }
      flushEob()
    }

    def acRefineScan(e: Emitter): Unit = {
      var eobrun = 0
      val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
      var be = 0 // prefix of `pending` owned by the outstanding EOB run
      def flushEobIfAny(): Unit = if (eobrun > 0) {
        var r = 0
        while ((eobrun >> (r + 1)) != 0) r += 1
        e.huffAc(r << 4)
        if (r > 0) e.putBits(eobrun - (1 << r), r)
        var i = 0
        while (i < be) { e.putBits(pending(i), 1); i += 1 }
        pending.remove(0, be); be = 0
        eobrun = 0
      }
      def flushRun(): Unit = { // run-local correction bits (after a symbol)
        pending.foreach(bit => e.putBits(bit, 1))
        pending.clear(); be = 0
      }
      var b = 0
      while (b < nBlocks) {
        var r = 0
        var kk = 1
        while (kk <= 63) {
          val v = if (kk == kz1) a1(b) else if (kk == kz2) a2(b) else 0
          val mag = math.abs(v)
          if (mag == 0) r += 1
          else if (mag > 1) pending += (mag & 1) // history nonzero: correction
          else { // newly nonzero (±1)
            flushEobIfAny()
            while (r > 15) { e.huffAc(0xF0); flushRun(); r -= 16 }
            e.huffAc((r << 4) | 1)
            e.putBits(if (v > 0) 1 else 0, 1)
            flushRun()
            r = 0
          }
          kk += 1
        }
        eobrun += 1 // tail 40..63 is always zero-history here
        be = pending.length
        if (eobrun == 32767) flushEobIfAny()
        b += 1
      }
      flushEobIfAny()
    }

    // pass 1: collect the symbol sets; build canonical tables
    val probe = new Emitter(real = false)
    dcFirstScan(probe); acFirstScan(probe); acRefineScan(probe)
    def canonical(vals: Seq[Int], len: Int): (Array[Int], Array[Int], Map[Int, (Int, Int)]) = {
      require(vals.size < (1 << len) - 1) // keep the all-ones code unused
      val bits = Array.fill(16)(0); bits(len - 1) = vals.size
      val codes = vals.zipWithIndex.map { case (v, i) => v -> (i, len) }.toMap
      (bits, vals.toArray, codes)
    }
    val dcVals = if (probe.dcSyms.isEmpty) Seq(0) else probe.dcSyms.toSeq
    val acVals = if (probe.acSyms.isEmpty) Seq(0) else probe.acSyms.toSeq
    val (dcBits, dcHv, dcCodes) = canonical(dcVals, 4)
    val (acBits, acHv, acCodes) = canonical(acVals, 6)

    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b8(v >> 8); b8(v) }
    u16(0xFFD8)
    u16(0xFFE0); u16(16); out.write("JFIF".getBytes("ASCII")); b8(0)
    u16(0x0101); b8(0); u16(1); u16(1); b8(0); b8(0)
    u16(0xFFDB); u16(2 + 1 + 64); b8(0)
    for (i <- 0 until 64) b8(if (i == 0) 8 else 16)
    u16(0xFFC2); u16(8 + 3); b8(8); u16(height); u16(width) // SOF2
    b8(1); b8(1); b8(0x11); b8(0)
    u16(0xFFC4); u16(2 + (1 + 16 + dcHv.length) + (1 + 16 + acHv.length))
    b8(0x00); dcBits.foreach(b8); dcHv.foreach(b8)
    b8(0x10); acBits.foreach(b8); acHv.foreach(b8)
    def sos(ss: Int, se: Int, ah: Int, al: Int)(scan: Emitter => Unit): Unit = {
      u16(0xFFDA); u16(6 + 2)
      b8(1); b8(1); b8(0x00); b8(ss); b8(se); b8((ah << 4) | al)
      val e = new Emitter(real = true)
      e.dcCodes = dcCodes; e.acCodes = acCodes
      scan(e); e.flushByte()
      out.write(e.body.toByteArray)
    }
    sos(0, 0, 0, 1)(dcFirstScan) // DC first, successive approximation
    sos(1, 63, 0, 1)(acFirstScan) // AC first, spectral selection
    sos(0, 0, 1, 0)(dcRefineScan) // DC refinement
    sos(1, 63, 1, 0)(acRefineScan) // AC refinement
    u16(0xFFD9)
    out.toByteArray
  }

  /** Progressive (SOF2) decode: accumulates per-block coefficients across
    * DC/AC first and refinement scans (§G.2: DC successive approximation,
    * AC spectral selection with EOBRUN, the refinement correction-bit
    * protocol), then dequantizes and runs the shared IDCT. Interleaved
    * multi-component DC scans and single-component AC scans per the spec;
    * grayscale returns luma bytes, 3-component converts YCbCr like the
    * baseline path. */
  def decodeJpegProgressivePixels(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
      (bytes(1) & 0xff) != 0xd8) return None
    val quant = Array.fill(4)(new Array[Int](64))
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = 0; var height = 0; var nComp = 0
    val compId = new Array[Int](4)
    val compH = new Array[Int](4); val compV = new Array[Int](4)
    val compQ = new Array[Int](4)
    var hMax = 1; var vMax = 1; var mcusX = 0; var mcusY = 0
    var bw: Array[Int] = null // MCU-padded block-grid width per component
    var bhh: Array[Int] = null
    var bwN: Array[Int] = null // nominal (non-interleaved) block counts
    var bhN: Array[Int] = null
    var coefs: Array[Array[Int]] = null
    val preds = new Array[Int](4)

    var pos = 2
    var sawEoi = false
    while (!sawEoi && pos + 2 <= bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return None
      val marker = bytes(pos + 1) & 0xff
      if (marker == 0xD9) sawEoi = true
      else {
        if (pos + 4 > bytes.length) return None
        val len = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
        if (len < 2) return None
        if (pos + 2 + len > bytes.length) return None // truncated segment
        marker match {
          case 0xDB =>
            var p = pos + 4
            while (p < pos + 2 + len) {
              val pq = (bytes(p) & 0xf0) >> 4; val tq = bytes(p) & 0x0f
              if (tq > 3) return None // T.81 B.2.4.1: Tq is 0-3
              p += 1
              var i = 0
              while (i < 64) {
                quant(tq)(i) =
                  if (pq == 0) bytes(p + i) & 0xff
                  else ((bytes(p + 2 * i) & 0xff) << 8) | (bytes(p + 2 * i + 1) & 0xff)
                i += 1
              }
              p += (if (pq == 0) 64 else 128)
            }
          case 0xC2 =>
            height = ((bytes(pos + 5) & 0xff) << 8) | (bytes(pos + 6) & 0xff)
            width = ((bytes(pos + 7) & 0xff) << 8) | (bytes(pos + 8) & 0xff)
            nComp = bytes(pos + 9) & 0xff
            if (nComp != 1 && nComp != 3) return None
            var c = 0
            while (c < nComp) {
              val base = pos + 10 + 3 * c
              compId(c) = bytes(base) & 0xff
              compH(c) = (bytes(base + 1) & 0xf0) >> 4
              compV(c) = bytes(base + 1) & 0x0f
              compQ(c) = bytes(base + 2) & 0x0f
              if (compQ(c) > 3) return None // T.81 B.2.2: Tq is 0-3
              c += 1
            }
            hMax = (0 until nComp).map(compH).max
            vMax = (0 until nComp).map(compV).max
            mcusX = (width + 8 * hMax - 1) / (8 * hMax)
            mcusY = (height + 8 * vMax - 1) / (8 * vMax)
            bw = (0 until nComp).map(c0 => mcusX * compH(c0)).toArray
            bhh = (0 until nComp).map(c0 => mcusY * compV(c0)).toArray
            bwN = (0 until nComp).map { c0 =>
              ((width * compH(c0) + hMax - 1) / hMax + 7) / 8
            }.toArray
            bhN = (0 until nComp).map { c0 =>
              ((height * compV(c0) + vMax - 1) / vMax + 7) / 8
            }.toArray
            coefs = (0 until nComp).map(c0 =>
              new Array[Int](bw(c0) * bhh(c0) * 64)).toArray
          case 0xC0 | 0xC1 => return None // baseline frame: wrong path
          case 0xC4 =>
            var p = pos + 4
            while (p < pos + 2 + len) {
              val tc = (bytes(p) & 0xf0) >> 4; val th = bytes(p) & 0x0f
              if (th > 3) return None // T.81 B.2.4.2: Th is 0-3
              val bits = new Array[Int](16)
              var total = 0
              var i = 0
              while (i < 16) { bits(i) = bytes(p + 1 + i) & 0xff; total += bits(i); i += 1 }
              val vals = new Array[Int](total)
              i = 0
              while (i < total) { vals(i) = bytes(p + 17 + i) & 0xff; i += 1 }
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcTabs(th) = t else acTabs(th) = t
              p += 17 + total
            }
          case 0xDA =>
            if (coefs == null) return None
            val ns = bytes(pos + 4) & 0xff
            val scanC = new Array[Int](ns)
            val scanDc = new Array[Int](ns); val scanAc = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val cid = bytes(pos + 5 + 2 * i) & 0xff
              var c = -1
              var j = 0
              while (j < nComp) { if (compId(j) == cid) c = j; j += 1 }
              if (c < 0) return None
              scanC(i) = c
              scanDc(i) = (bytes(pos + 6 + 2 * i) & 0xf0) >> 4
              scanAc(i) = bytes(pos + 6 + 2 * i) & 0x0f
              // T.81 B.2.3: Td and Ta are 0-3
              if (scanDc(i) > 3 || scanAc(i) > 3) return None
              i += 1
            }
            val ss = bytes(pos + 5 + 2 * ns) & 0xff
            val se = bytes(pos + 6 + 2 * ns) & 0xff
            val ah = (bytes(pos + 7 + 2 * ns) & 0xf0) >> 4
            val al = bytes(pos + 7 + 2 * ns) & 0x0f
            val reader = new BitReader(bytes, pos + 2 + len)
            if (!decodeProgScan(reader, ns, scanC, scanDc, scanAc,
              ss, se, ah, al)) return None
            // resynchronize on the next marker after the entropy data
            var p = reader.pos
            while (p + 1 < bytes.length && !((bytes(p) & 0xff) == 0xff && {
              val n = bytes(p + 1) & 0xff
              n != 0x00 && (n < 0xd0 || n > 0xd7)
            })) p += 1
            pos = p
          case _ => ()
        }
        if (marker != 0xDA) pos += 2 + len
      }

      def decodeProgScan(reader: BitReader, ns: Int, scanC: Array[Int],
                         scanDc: Array[Int], scanAc: Array[Int],
                         ss: Int, se: Int, ah: Int, al: Int): Boolean = {
        var eobrun = 0
        java.util.Arrays.fill(preds, 0)

        def dcUnit(si: Int, blk: Int): Boolean = {
          val c = scanC(si)
          val base = blk * 64
          if (ah == 0) {
            val dcT = dcTabs(scanDc(si))
            if (dcT == null) return false
            val cat = reader.decode(dcT)
            if (cat < 0) return false
            var diff = if (cat == 0) 0 else reader.bits(cat)
            if (cat > 0 && diff < (1 << (cat - 1))) diff -= (1 << cat) - 1
            preds(si) += diff
            coefs(c)(base) = preds(si) << al
          } else {
            if (reader.bits(1) != 0) coefs(c)(base) |= (1 << al)
          }
          !reader.eof || true // eof mid-stream surfaces as decode(-1) later
        }

        def acFirstUnit(c: Int, blk: Int, acT: HuffTable): Boolean = {
          val base = blk * 64
          if (eobrun > 0) { eobrun -= 1; return true }
          var k = ss
          while (k <= se) {
            val rs = reader.decode(acT)
            if (rs < 0) return false
            val r = rs >> 4; val sz = rs & 0x0f
            if (sz == 0) {
              if (r == 15) k += 16
              else {
                eobrun = (1 << r) - 1
                if (r > 0) eobrun += reader.bits(r)
                k = se + 1
              }
            } else {
              k += r
              if (k > se) return false
              var v = reader.bits(sz)
              if (v < (1 << (sz - 1))) v -= (1 << sz) - 1
              coefs(c)(base + zigzag(k)) = v << al
              k += 1
            }
          }
          true
        }

        def acRefineUnit(c: Int, blk: Int, acT: HuffTable): Boolean = {
          val base = blk * 64
          val p1 = 1 << al; val m1 = -1 << al
          var k = ss
          if (eobrun == 0) {
            var broke = false
            while (k <= se && !broke) {
              val rs = reader.decode(acT)
              if (rs < 0) return false
              var r = rs >> 4; val sz = rs & 0x0f
              var newVal = 0
              if (sz != 0) {
                if (sz != 1) return false // §G.1.2.3: refinement codes s=1 only
                newVal = if (reader.bits(1) != 0) p1 else m1
              } else if (r != 15) {
                eobrun = (1 << r)
                if (r > 0) eobrun += reader.bits(r)
                broke = true
              }
              if (!broke) {
                var advancing = true
                while (k <= se && advancing) {
                  val z = base + zigzag(k)
                  if (coefs(c)(z) != 0) {
                    if (reader.bits(1) != 0 && (coefs(c)(z) & p1) == 0)
                      coefs(c)(z) += (if (coefs(c)(z) >= 0) p1 else m1)
                    k += 1
                  } else {
                    r -= 1
                    if (r < 0) advancing = false else k += 1
                  }
                }
                if (newVal != 0 && k <= se) coefs(c)(base + zigzag(k)) = newVal
                k += 1
              }
            }
          }
          if (eobrun > 0) {
            while (k <= se) {
              val z = base + zigzag(k)
              if (coefs(c)(z) != 0) {
                if (reader.bits(1) != 0 && (coefs(c)(z) & p1) == 0)
                  coefs(c)(z) += (if (coefs(c)(z) >= 0) p1 else m1)
              }
              k += 1
            }
            eobrun -= 1
          }
          true
        }

        if (ss == 0) {
          if (se != 0) return false // DC scans carry only coefficient 0
          if (ns == 1) {
            val c = scanC(0)
            var by = 0
            while (by < bhN(c)) {
              var bx = 0
              while (bx < bwN(c)) {
                if (!dcUnit(0, by * bw(c) + bx)) return false
                bx += 1
              }
              by += 1
            }
          } else {
            var my = 0
            while (my < mcusY) {
              var mx = 0
              while (mx < mcusX) {
                var si = 0
                while (si < ns) {
                  val c = scanC(si)
                  var v = 0
                  while (v < compV(c)) {
                    var h = 0
                    while (h < compH(c)) {
                      val blk = (my * compV(c) + v) * bw(c) + mx * compH(c) + h
                      if (!dcUnit(si, blk)) return false
                      h += 1
                    }
                    v += 1
                  }
                  si += 1
                }
                mx += 1
              }
              my += 1
            }
          }
        } else {
          if (ns != 1) return false // AC scans are single-component (§G.1)
          val c = scanC(0)
          val acT = acTabs(scanAc(0))
          if (acT == null) return false
          var by = 0
          while (by < bhN(c)) {
            var bx = 0
            while (bx < bwN(c)) {
              val ok = if (ah == 0) acFirstUnit(c, by * bw(c) + bx, acT)
                else acRefineUnit(c, by * bw(c) + bx, acT)
              if (!ok) return false
              bx += 1
            }
            by += 1
          }
        }
        true
      }
    }
    if (coefs == null || width == 0 || height == 0) return None

    // all scans absorbed: dequantize + IDCT every block, then assemble
    val planeW = (0 until nComp).map(c => bw(c) * 8).toArray
    val planes = (0 until nComp).map(c =>
      new Array[Byte](bw(c) * 8 * bhh(c) * 8)).toArray
    val tmp = new Array[Double](64)
    val work = new Array[Double](64)
    var c = 0
    while (c < nComp) {
      val q = quant(compQ(c))
      var by = 0
      while (by < bhh(c)) {
        var bx = 0
        while (bx < bw(c)) {
          val base = (by * bw(c) + bx) * 64
          var i = 0
          while (i < 64) { tmp(i) = coefs(c)(base + i).toDouble * q(i); i += 1 }
          idct8x8Into(tmp, work, planes(c), planeW(c), bx * 8, by * 8)
          bx += 1
        }
        by += 1
      }
      c += 1
    }

    if (nComp == 1) {
      val outPx = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * planeW(0), outPx, y * width, width)
        y += 1
      }
      Some(outPx)
    } else {
      val outPx = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sample(c0: Int): Int = {
            val sx = x * compH(c0) / hMax; val sy = y * compV(c0) / vMax
            planes(c0)(sy * planeW(c0) + sx) & 0xff
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          val o = (y * width + x) * 3
          outPx(o) = clamp(yy + 1.402 * cr)
          outPx(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          outPx(o + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      Some(outPx)
    }
  }

  /** scan JPEG markers for a SOFn frame header (excluding DHT/JPG/DAC). */
  def decodeJpeg(bytes: Array[Byte]): Option[MediaInfo] = {
    if (bytes.length < 4) return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    if ((bb.getShort(0) & 0xffff) != 0xFFD8) return None
    var pos = 2
    while (pos + 4 <= bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return None
      val marker = bytes(pos + 1) & 0xff
      if (marker == 0xD9) return None // EOI before any SOF
      val isSof = marker >= 0xC0 && marker <= 0xCF &&
        marker != 0xC4 && marker != 0xC8 && marker != 0xCC
      val len = bb.getShort(pos + 2) & 0xffff
      if (len < 2) return None // marker length includes itself: never loop
      if (pos + 2 + len > bytes.length) return None // truncated segment
      if (isSof) {
        if (pos + 10 > bytes.length) return None
        val height = bb.getShort(pos + 5) & 0xffff
        val width = bb.getShort(pos + 7) & 0xffff
        val ncomp = bytes(pos + 9) & 0xff
        return Some(MediaInfo("image", width, height, 0, ncomp))
      }
      pos += 2 + len
    }
    None
  }

  // ------------------------------------------------------------- dispatch

  /** decode by magic number; None for unknown formats. */
  def decode(bytes: Array[Byte]): Option[MediaInfo] = {
    if (bytes.length < 4) None
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') decodePng(bytes)
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F') decodeWav(bytes)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) decodeJpeg(bytes)
    else None
  }
}
