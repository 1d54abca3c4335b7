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
  *
  * Each container has one walk, and its public decoders are projections
  * of it: `pngFrame` (the PNG chunk chain, header and pixels), `wavChunk`
  * (the RIFF chunk chain, `fmt ` header or `data` samples) and
  * `decodeJpegFrame` (the JPEG segment chain, header and pixels). Every
  * read stays inside the payload, so malformed input gives None and never
  * throws or loops.
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

  /** FULL PNG pixel decode for 8-bit color types 0/2/4/6: the w*h*channels
    * pixel bytes in scanline order, or None — see `pngFrame`. */
  def decodePngPixels(bytes: Array[Byte]): Option[Array[Byte]] =
    pngFrame(bytes, pixels = true).map(_._2)

  /** parse a PNG's first IHDR — see `pngFrame`. */
  def decodePng(bytes: Array[Byte]): Option[MediaInfo] =
    pngFrame(bytes, pixels = false).map(_._1)

  /** The one PNG decoder: checks the signature and walks the chunk chain,
    * every `pos + 8 + len` in Long so no length wraps the walk. The first
    * IHDR gives the header; with `pixels` false the walk stops there and
    * returns it with null pixels. Otherwise it gathers every IDAT, inflates
    * the zlib stream and reconstructs each scanline through the five PNG
    * filter types (None/Sub/Up/Average/Paeth, spec §6). None for a
    * negative chunk length, a short IHDR or a truncated IDAT, no IHDR, a
    * width or height below 1, and with `pixels` for other than 8-bit
    * colour types 0/2/4/6 or more than 64 MiB of pixels, a stream that is
    * truncated, corrupt or asks for a preset dictionary, or an unknown
    * filter type. */
  private def pngFrame(bytes: Array[Byte], pixels: Boolean): Option[(MediaInfo, Array[Byte])] = {
    if (bytes.length < 33) return None
    var i = 0
    while (i < 8) { if (bytes(i) != PNG_SIG(i)) return None; i += 1 }
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var info: MediaInfo = null
    var depth = -1
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8L
    while (pos + 8 <= bytes.length) {
      val p = pos.toInt
      val len = bb.getInt(p)
      if (len < 0) return None // hostile chunk length: never loop in place
      val typ = new String(bytes, p + 4, 4, "ASCII")
      if (typ == "IHDR" && info == null) {
        if (len < 13 || p + 8 + 13 > bytes.length) return None
        depth = bytes(p + 16) & 0xff
        info = MediaInfo("image", bb.getInt(p + 8), bb.getInt(p + 12), 0,
          pngChannels(bytes(p + 17) & 0xff))
        if (info.width < 1 || info.height < 1) return None
        if (!pixels) return Some((info, null))
      } else if (typ == "IDAT" && pixels) {
        if (pos + 8 + len > bytes.length) return None
        idat.write(bytes, p + 8, len)
      }
      pos += 8L + len + 4
    }
    if (info == null || depth != 8) return None
    val ch = info.channels
    if (ch == 0) return None
    val w = info.width; val h = info.height
    if (w.toLong * h * ch > 64L * 1024 * 1024) return None
    val stride = w * ch
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // truncated stream, or a preset dictionary (RFC 1950 §2.2) we lack
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
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
    Some((info, px))
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

  /** parse RIFF/WAVE: the first `fmt ` chunk's channels and sample rate;
    * None when that chunk is shorter than 16 bytes or gives a channel count
    * or rate below 1 — see `wavChunk`. */
  def decodeWav(bytes: Array[Byte]): Option[MediaInfo] =
    wavChunk(bytes, "fmt ").collect { case (p, len) if len >= 16 && p + 16 <= bytes.length =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      MediaInfo("audio", 0, 0, bb.getInt(p + 4), bb.getShort(p + 2).toInt)
    }.filter(i => i.channels >= 1 && i.sampleRate >= 1)

  /** FULL PCM sample decode: the first `data` chunk's little-endian 16-bit
    * samples; None when that chunk runs past the data — see `wavChunk`. */
  def decodeWavSamples(bytes: Array[Byte]): Option[Array[Short]] =
    wavChunk(bytes, "data").collect { case (p, len) if p.toLong + len <= bytes.length =>
      val bb = ByteBuffer.wrap(bytes, p, len).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(len / 2)(bb.getShort())
    }

  /** The one RIFF/WAVE walk: the body offset and declared length of the
    * first chunk `id`, stepping over each chunk's word-alignment pad byte
    * (len + len&1) with every `pos + 8 + len` in Long. None for fewer than
    * 44 bytes, no RIFF/WAVE header, a negative chunk length before `id`,
    * or no such chunk. The header and sample decodes each find their own
    * chunk, so neither needs the other's to be present or well formed. */
  private def wavChunk(bytes: Array[Byte], id: String): Option[(Int, Int)] = {
    if (bytes.length < 44) return None
    if (new String(bytes, 0, 4, "ASCII") != "RIFF") return None
    if (new String(bytes, 8, 4, "ASCII") != "WAVE") return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12L
    while (pos + 8 <= bytes.length) {
      val p = pos.toInt
      val len = bb.getInt(p + 4)
      if (len < 0) return None // hostile chunk length: never loop in place
      if (new String(bytes, p, 4, "ASCII") == id) return Some((p + 8, len))
      pos += 8L + len + (len & 1)
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

  /** Dequantization and separable 2-D inverse DCT (T.81 A.3.3): rows then
    * columns over the precomputed basis — 2*8 multiplies per output sample
    * instead of the direct form's 64. `coef` holds a block's coefficients
    * in natural order (v*8+u) from `off`, `q` its quantizers; `tmp` and
    * `work` are caller-provided 64-slot scratch; output samples
    * (level-shifted, clamped) land in `plane` at (ox, oy). */
  private def idct8x8Into(coef: Array[Int], off: Int, q: Array[Int], tmp: Array[Double],
                          work: Array[Double], plane: Array[Byte], pw: Int, ox: Int,
                          oy: Int): Unit = {
    var i = 0
    while (i < 64) { tmp(i) = coef(off + i).toDouble * q(i); i += 1 }
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

  /** Full JFIF pixel decode of an 8-bit sequential (SOF0/1) or progressive
    * (SOF2, §G) frame: Huffman entropy decode, dequantization, zigzag,
    * IDCT, level shift; grayscale returns luma bytes, 3-component YCbCr
    * converts to interleaved RGB with box upsampling of subsampled chroma.
    * None on malformed or unsupported input:
    *  - no SOI, or a broken segment chain: a byte other than 0xFF where a
    *    marker is due, a length below 2 or past the data, or a table or
    *    header running past its segment;
    *  - no frame, a second frame, or one that is not SOF0/1/2, not 8-bit,
    *    of zero width or height, with other than 1 or 3 components or a
    *    sampling factor outside 1..4;
    *  - a frame of more 8x8 blocks than 8 x the payload's byte length
    *    (every block costs at least one entropy-coded bit);
    *  - a table class above 1, table id above 3 or DQT precision above 1,
    *    or a scan or component using a table that was never defined;
    *  - a nonzero restart interval (DRI): restarts are not decoded;
    *  - a scan before the frame, naming an unknown component, or with
    *    parameters outside its mode: sequential scans are Ss=0, Se=63,
    *    Ah=Al=0; progressive ones have Ss <= Se <= 63, Ah and Al <= 13,
    *    Se=0 when Ss=0 and one component when Ss > 0;
    *  - entropy data that does not decode: an invalid Huffman code, a run
    *    past Se, an EOB run in a sequential scan, a refinement size other
    *    than 1, or a scan that runs out of data;
    *  - a component that no DC scan covered (no scan at all, say). */
  def decodeJpegPixels(bytes: Array[Byte]): Option[Array[Byte]] =
    decodeJpegFrame(bytes, pixels = true).map(_._2)

  /** scan JPEG markers for a SOFn frame header (excluding DHT/JPG/DAC). */
  def decodeJpeg(bytes: Array[Byte]): Option[MediaInfo] =
    decodeJpegFrame(bytes, pixels = false).map(_._1)

  /** The one JPEG decoder: walks the segment chain from SOI, every read
    * inside its segment. With `pixels` false it stops at the first SOFn
    * and returns its header with null samples; otherwise it decodes every
    * scan into per-component coefficient buffers up to EOI or the end of
    * the data and returns the frame header with its samples (`channels`
    * bytes per pixel, row-major) — see `decodeJpegPixels` for what gives
    * None. */
  private[spark] def decodeJpegFrame(bytes: Array[Byte],
                                     pixels: Boolean): Option[(MediaInfo, Array[Byte])] = {
    def u8(p: Int): Int = bytes(p) & 0xff
    def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)
    if (bytes.length < 4 || u16(0) != 0xFFD8) return None
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var info: MediaInfo = null
    var progressive = false
    var nComp = 0
    var compId, compH, compV, compQ: Array[Int] = null
    var hMax = 1; var vMax = 1; var mcusX = 0; var mcusY = 0
    var bw, bh: Array[Int] = null // MCU-padded block grid per component
    var bwN, bhN: Array[Int] = null // nominal grid, for non-interleaved scans
    var coefs: Array[Array[Int]] = null // natural order, 64 per block
    val dcScanned = new Array[Boolean](3)

    /** one scan's entropy-coded data into `coefs` (T.81 F.2, G.2); a
      * sequential scan is the DC and AC-first units over Ss..Se = 0..63 at
      * Ah = Al = 0, without EOB runs. */
    def decodeScan(reader: BitReader, scanC: Array[Int], dcT: Array[HuffTable],
                   acT: Array[HuffTable], ss: Int, se: Int, ah: Int, al: Int): Boolean = {
      val preds = new Array[Int](scanC.length)
      var eobrun = 0

      def dcUnit(si: Int, base: Int): Boolean = {
        val co = coefs(scanC(si))
        if (ah == 0) {
          if (dcT(si) == null) return false
          val cat = reader.decode(dcT(si))
          if (cat < 0) return false
          var diff = if (cat == 0) 0 else reader.bits(cat)
          if (cat > 0 && diff < (1 << (cat - 1))) diff -= (1 << cat) - 1
          preds(si) += diff
          co(base) = preds(si) << al
        } else if (reader.bits(1) != 0) co(base) |= 1 << al
        true
      }

      def acFirstUnit(si: Int, base: Int, from: Int): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        if (acT(si) == null) return false
        val co = coefs(scanC(si))
        var k = from
        while (k <= se) {
          val rs = reader.decode(acT(si))
          if (rs < 0) return false
          val r = rs >> 4; val sz = rs & 0x0f
          if (sz == 0) {
            if (r == 15) k += 16
            else {
              if (r > 0 && !progressive) return false // EOBRUN is §G only
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += reader.bits(r)
              k = se + 1
            }
          } else {
            k += r
            if (k > se) return false
            var v = reader.bits(sz)
            if (v < (1 << (sz - 1))) v -= (1 << sz) - 1
            co(base + zigzag(k)) = v << al
            k += 1
          }
        }
        true
      }

      def acRefineUnit(si: Int, base: Int): Boolean = {
        if (acT(si) == null) return false
        val co = coefs(scanC(si))
        val p1 = 1 << al; val m1 = -1 << al
        var k = ss
        if (eobrun == 0) {
          var broke = false
          while (k <= se && !broke) {
            val rs = reader.decode(acT(si))
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
                if (co(z) != 0) {
                  if (reader.bits(1) != 0 && (co(z) & p1) == 0)
                    co(z) += (if (co(z) >= 0) p1 else m1)
                  k += 1
                } else {
                  r -= 1
                  if (r < 0) advancing = false else k += 1
                }
              }
              if (newVal != 0 && k <= se) co(base + zigzag(k)) = newVal
              k += 1
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val z = base + zigzag(k)
            if (co(z) != 0 && reader.bits(1) != 0 && (co(z) & p1) == 0)
              co(z) += (if (co(z) >= 0) p1 else m1)
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      def unit(si: Int, base: Int): Boolean =
        if (!progressive) dcUnit(si, base) && acFirstUnit(si, base, 1)
        else if (ss == 0) dcUnit(si, base)
        else if (ah == 0) acFirstUnit(si, base, ss)
        else acRefineUnit(si, base)
      if (scanC.length == 1) { // non-interleaved: the component's own grid (A.2.2)
        val c = scanC(0)
        var by = 0
        while (by < bhN(c)) {
          var bx = 0
          while (bx < bwN(c)) {
            if (!unit(0, (by * bw(c) + bx) * 64)) return false
            bx += 1
          }
          by += 1
        }
      } else { // interleaved MCUs (A.2.3)
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            var si = 0
            while (si < scanC.length) {
              val c = scanC(si)
              var v = 0
              while (v < compV(c)) {
                var h = 0
                while (h < compH(c)) {
                  if (!unit(si, ((my * compV(c) + v) * bw(c) + mx * compH(c) + h) * 64))
                    return false
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
      true
    }

    var pos = 2
    while (pos + 2 <= bytes.length && u16(pos) != 0xFFD9) {
      if (u8(pos) != 0xff || pos + 4 > bytes.length) return None
      val marker = u8(pos + 1)
      val start = pos + 4
      val end = pos + 2 + u16(pos + 2)
      if (end < start || end > bytes.length) return None
      pos = end
      marker match {
        case m if m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC => // SOFn
          if (end - start < 6 || end - start < 6 + 3 * u8(start + 5)) return None
          val height = u16(start + 1); val width = u16(start + 3)
          nComp = u8(start + 5)
          if (!pixels) return Some((MediaInfo("image", width, height, 0, nComp), null))
          if (info != null || m > 0xC2 || u8(start) != 8 || width == 0 || height == 0 ||
            (nComp != 1 && nComp != 3)) return None
          info = MediaInfo("image", width, height, 0, nComp)
          progressive = m == 0xC2
          compId = Array.tabulate(nComp)(c => u8(start + 6 + 3 * c))
          compH = Array.tabulate(nComp)(c => u8(start + 7 + 3 * c) >> 4)
          compV = Array.tabulate(nComp)(c => u8(start + 7 + 3 * c) & 0x0f)
          compQ = Array.tabulate(nComp)(c => u8(start + 8 + 3 * c)) // T.81 B.2.2: Tq is 0-3
          if ((compH ++ compV).exists(f => f < 1 || f > 4) || compQ.exists(_ > 3)) return None
          hMax = compH.max; vMax = compV.max
          mcusX = (width + 8 * hMax - 1) / (8 * hMax)
          mcusY = (height + 8 * vMax - 1) / (8 * vMax)
          bw = compH.map(mcusX * _); bh = compV.map(mcusY * _)
          bwN = compH.map(h => ((width * h + hMax - 1) / hMax + 7) / 8)
          bhN = compV.map(v => ((height * v + vMax - 1) / vMax + 7) / 8)
          val blocks = bw.indices.map(c => bw(c).toLong * bh(c)).sum
          if (blocks > 8L * bytes.length || blocks * 64 > Int.MaxValue) return None
          coefs = Array.tabulate(nComp)(c => new Array[Int](bw(c) * bh(c) * 64))
        case _ if !pixels => ()
        case 0xDB => // DQT: Qk in zigzag order (T.81 B.2.4.1)
          var p = start
          while (p < end) {
            val pq = u8(p) >> 4; val tq = u8(p) & 0x0f
            if (pq > 1 || tq > 3 || p + 1 + 64 * (pq + 1) > end) return None
            val q = new Array[Int](64)
            var k = 0
            while (k < 64) {
              q(zigzag(k)) = if (pq == 0) u8(p + 1 + k) else u16(p + 1 + 2 * k)
              k += 1
            }
            quant(tq) = q
            p += 1 + 64 * (pq + 1)
          }
        case 0xC4 => // DHT
          var p = start
          while (p < end) {
            val tc = u8(p) >> 4; val th = u8(p) & 0x0f
            if (tc > 1 || th > 3 || p + 17 > end) return None // T.81 B.2.4.2
            val bits = Array.tabulate(16)(i => u8(p + 1 + i))
            val total = bits.sum
            if (p + 17 + total > end) return None
            (if (tc == 0) dcTabs else acTabs)(th) =
              new HuffTable(bits, Array.tabulate(total)(i => u8(p + 17 + i)))
            p += 17 + total
          }
        case 0xDD => // DRI
          if (end - start < 2 || u16(start) != 0) return None
        case 0xDA => // SOS
          val ns = if (end > start) u8(start) else 0
          if (coefs == null || ns < 1 || ns > nComp || end - start < 4 + 2 * ns) return None
          val scanC = new Array[Int](ns)
          val dcT = new Array[HuffTable](ns); val acT = new Array[HuffTable](ns)
          var i = 0
          while (i < ns) {
            val c = compId.indexOf(u8(start + 1 + 2 * i))
            val td = u8(start + 2 + 2 * i) >> 4; val ta = u8(start + 2 + 2 * i) & 0x0f
            if (c < 0 || td > 3 || ta > 3) return None // T.81 B.2.3: Td and Ta are 0-3
            scanC(i) = c; dcT(i) = dcTabs(td); acT(i) = acTabs(ta)
            i += 1
          }
          val ss = u8(start + 1 + 2 * ns); val se = u8(start + 2 + 2 * ns)
          val ah = u8(start + 3 + 2 * ns) >> 4; val al = u8(start + 3 + 2 * ns) & 0x0f
          if (if (progressive) ss > se || se > 63 || ah > 13 || al > 13 ||
                (ss == 0 && se != 0) || (ss > 0 && ns != 1)
              else ss != 0 || se != 63 || ah != 0 || al != 0) return None
          val reader = new BitReader(bytes, end)
          if (!decodeScan(reader, scanC, dcT, acT, ss, se, ah, al) || reader.eof) return None
          if (ss == 0) scanC.foreach(dcScanned(_) = true)
          // resynchronize on the next marker after the entropy data
          var p = reader.pos
          while (p + 1 < bytes.length && !(u8(p) == 0xff && u8(p + 1) != 0 &&
            (u8(p + 1) < 0xd0 || u8(p + 1) > 0xd7))) p += 1
          pos = p
        case _ => ()
      }
    }
    if (info == null || !dcScanned.take(nComp).forall(identity)) return None

    // dequantize + IDCT every block, then crop and convert
    val planeW = bw.map(_ * 8)
    val planes = Array.tabulate(nComp)(c => new Array[Byte](bw(c) * bh(c) * 64))
    val tmp = new Array[Double](64)
    val work = new Array[Double](64)
    var c = 0
    while (c < nComp) {
      val q = quant(compQ(c))
      if (q == null) return None
      var blk = 0
      while (blk < bw(c) * bh(c)) {
        idct8x8Into(coefs(c), blk * 64, q, tmp, work, planes(c), planeW(c), blk % bw(c) * 8,
          blk / bw(c) * 8)
        blk += 1
      }
      c += 1
    }
    val width = info.width; val height = info.height
    val outPx = new Array[Byte](width * height * nComp)
    var y = 0
    while (y < height) {
      if (nComp == 1) System.arraycopy(planes(0), y * planeW(0), outPx, y * width, width)
      else {
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
      }
      y += 1
    }
    Some((info, outPx))
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
