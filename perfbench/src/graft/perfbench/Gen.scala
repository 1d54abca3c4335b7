package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the program reads is made here from
  * (seed, stream, index) and written to parquet during set-up; the same
  * seed gives byte-identical inputs, another seed gives other inputs.
  *
  * Shape follows the docs input contract
  * `doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`:
  * about 94% of docs carry one geo span whose anchor text is
  * "lon lat h epoch"; 80% of anchors fall in five metro hotspots, 20% are
  * uniform. About 8% of docs are near copies of an earlier doc's text, so
  * MinHash dedup has pairs to find. */
object Gen {
  final case class GSpan(kind: String, text: String, mediaRef: String, offset: Int)
  /** lon/lat are the anchor as the program will parse it (NaN: no geo span). */
  final case class GDoc(docId: String, spans: Array[GSpan], lon: Double, lat: Double)
  final case class GMedia(ref: String, width: Int, height: Int, payload: Array[Byte],
                          pxSum: Long)

  val Metros: Array[(Double, Double)] = Array(
    (139.69, 35.69), (77.10, 28.70), (-46.63, -23.55), (3.38, 6.52), (-74.01, 40.71))
  /** Hotspot anchors fall within this many degrees of a metro centre. */
  val MetroHalfDeg = 0.25
  /** Zones are boxes of this half-size around each metro, so some hotspot
    * anchors fall outside every zone. */
  val ZoneHalfDeg = 0.2
  val SparseGapKm = 6.0

  private val Syllables = Array("ka", "to", "ri", "mu", "se", "lo", "na", "pe",
    "di", "go", "ha", "vi", "ru", "ne", "sa", "bo")
  /** 256 pseudo-words: enough vocabulary that unrelated docs share few
    * shingles. */
  val Words: Array[String] =
    Array.tabulate(256)(i => Syllables(i & 15) + Syllables(i >>> 4) + Syllables((i * 7) & 15))

  /** Independent stream per (seed, stream, index): SplitMix64 of the mix. */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^
      index * 0x165667B19E3779F9L)

  private val Pow10: Array[Long] = Array.iterate(1L, 10)(_ * 10)

  /** `v` rounded to `digits` decimals, as fixed-point text (String.format
    * would take most of the generator's time). */
  private def fmt(v: Double, digits: Int): String = {
    val n = math.round(v * Pow10(digits))
    val a = math.abs(n)
    val sb = new java.lang.StringBuilder(24)
    if (n < 0) sb.append('-')
    pad(sb.append(a / Pow10(digits)).append('.'), a % Pow10(digits), digits).toString
  }

  /** Appends `n >= 0` zero-padded to `width` digits. */
  private def pad(sb: java.lang.StringBuilder, n: Long, width: Int): java.lang.StringBuilder = {
    val digits = n.toString
    var z = width - digits.length
    while (z > 0) { sb.append('0'); z -= 1 }
    sb.append(digits)
  }

  /** An anchor as the program sees it: rounded to the 9 decimals of its
    * text (the double n / 1e9 is what that text parses to). */
  def anchor(r: SplittableRandom): (Double, Double) = {
    val (lon, lat) =
      if (r.nextDouble() < 0.8) {
        val (mlon, mlat) = Metros(r.nextInt(Metros.length))
        (mlon + (r.nextDouble() * 2 - 1) * MetroHalfDeg,
          mlat + (r.nextDouble() * 2 - 1) * MetroHalfDeg)
      } else (r.nextDouble() * 360.0 - 180.0, r.nextDouble() * 140.0 - 60.0)
    (math.round(lon * 1e9) / 1e9, math.round(lat * 1e9) / 1e9)
  }

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Words(r.nextInt(Words.length)))

  /** Docs are made in chunks of this many; a near copy points into its own
    * chunk, so chunks can be made apart (in parallel) and still agree. */
  val ChunkDocs = 1000

  /** One slice of `n` docs. Doc ids are unique across slices. */
  def docs(seed: Long, slice: Int, n: Int): Array[GDoc] =
    (0 until (n + ChunkDocs - 1) / ChunkDocs).toArray.flatMap(c => docChunk(seed, slice, c, n))

  /** Chunk `chunk` of a slice of `n` docs: docs chunk * ChunkDocs until at
    * most (chunk + 1) * ChunkDocs. */
  def docChunk(seed: Long, slice: Int, chunk: Int, n: Int): Array[GDoc] = {
    val first = chunk * ChunkDocs
    val out = new Array[GDoc](math.max(0, math.min(ChunkDocs, n - first)))
    var i = 0
    while (i < out.length) {
      val r = rng(seed, 1L + slice, first + i)
      val nSpans = 1 + r.nextInt(8)
      val geoPos = if (r.nextDouble() < 0.94) r.nextInt(nSpans) else -1
      val copyOf = if (i > 0 && r.nextDouble() < 0.08) i - 1 - r.nextInt(math.min(i, 64)) else -1
      var lon = Double.NaN; var lat = Double.NaN
      var offset = 0
      val spans = Array.tabulate(nSpans) { j =>
        val s =
          if (j == geoPos) {
            val (x, y) = anchor(r)
            lon = x; lat = y
            GSpan("geo", s"${fmt(x, 9)} ${fmt(y, 9)} ${fmt(r.nextDouble() * 2000, 3)} " +
              fmt(2015 + r.nextDouble() * 10, 4), "", offset)
          } else if (r.nextDouble() < 0.25)
            GSpan("media", "", s"m$seed-$slice-${first + i}-$j", offset)
          else GSpan("text", words(r, 8 + r.nextInt(33)).mkString(" "), "", offset)
        offset += 1 + r.nextInt(100)
        s
      }
      // near copy: the text spans of an earlier doc with one word changed
      val finalSpans =
        if (copyOf < 0) spans
        else {
          val src = out(copyOf).spans.filter(_.kind == "text")
          val kept = spans.filterNot(_.kind == "text")
          val texts = src.zipWithIndex.map { case (s, k) =>
            if (k == 0) {
              val w = s.text.split(" ")
              w(r.nextInt(w.length)) = Words(r.nextInt(Words.length))
              s.copy(text = w.mkString(" "))
            } else s
          }
          (kept ++ texts).sortBy(_.offset)
        }
      val id = pad(pad(new java.lang.StringBuilder(16).append('s'), slice, 3).append("-d"), first + i, 7)
      out(i) = GDoc(id.toString, finalSpans, lon, lat)
      i += 1
    }
    out
  }

  /** Points table for kNN: the docs anchor generator, so the same skew. */
  def points(seed: Long, n: Int): Array[(Long, Double, Double)] =
    Array.tabulate(n)(point(seed, _))

  /** Point `i` of the seed's points table; points can be made apart. */
  def point(seed: Long, i: Int): (Long, Double, Double) = {
    val (lon, lat) = anchor(rng(seed, 100L, i))
    (i.toLong, lon, lat)
  }

  /** Query batch `b`: `dense` queries near a metro centre, then one sparse
    * query just north of a cluster edge, where the nearest points lie
    * kilometres away: a gap of SparseGapKm x cos(lat) puts its k-th
    * neighbour past a 2-ring hex reach and within a 4-ring one at the
    * 3 km hexes geo_knn uses (reach shrinks with cos(lat) in webmerc), so
    * hexKnnJoin doubles its rings once per batch. */
  def queries(seed: Long, b: Int, dense: Int): Array[(Long, Double, Double)] = {
    val r = rng(seed, 200L, b)
    val base = b.toLong * (dense + 1)
    val d = Array.tabulate(dense) { i =>
      val (mlon, mlat) = Metros(r.nextInt(Metros.length))
      (base + i, mlon + (r.nextDouble() * 2 - 1) * 0.15, mlat + (r.nextDouble() * 2 - 1) * 0.15)
    }
    val (mlon, mlat) = Metros(r.nextInt(Metros.length))
    val gapDeg = SparseGapKm * math.cos(math.toRadians(mlat)) / 111.2
    d :+ ((base + dense, mlon + (r.nextDouble() * 2 - 1) * 0.2,
      mlat + MetroHalfDeg + gapDeg + (r.nextDouble() * 2 - 1) * 0.003))
  }

  /** Grey JPEG for a media ref, encoded by the JDK (independent of the
    * program's codecs); pxSum is the JDK decoder's pixel sum. */
  def media(seed: Long, ref: String): GMedia = {
    val r = rng(seed, 300L, ref.hashCode.toLong)
    val w = 8 * (2 + r.nextInt(7)); val h = 8 * (2 + r.nextInt(7))
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val base = r.nextInt(128); val gx = r.nextInt(5); val gy = r.nextInt(5)
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0, math.min(255, base + gx * x + gy * y + r.nextInt(24)))
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer in this JDK")
    val bytes = bos.toByteArray
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)).getRaster
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) sum += back.getSample(x, y, 0)
    GMedia(ref, w, h, bytes, sum)
  }

  /** Flat ring of a metro zone box: [lon, lat, ...], closed implicitly. */
  def zoneRing(i: Int): Array[Double] = {
    val (lon, lat) = Metros(i); val d = ZoneHalfDeg
    Array(lon - d, lat - d, lon + d, lat - d, lon + d, lat + d, lon - d, lat + d)
  }

  /** CRC-32 of a doc id's UTF-8 bytes: what Spark's `crc32` gives for the
    * id cast to binary. */
  def idCrc(docId: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(docId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  /** The benchmark's own membership test: strictly inside a zone box. */
  def zoneOf(lon: Double, lat: Double): Int =
    Metros.indices.find { i =>
      val (mlon, mlat) = Metros(i)
      math.abs(lon - mlon) < ZoneHalfDeg && math.abs(lat - mlat) < ZoneHalfDeg
    }.getOrElse(-1)
}
