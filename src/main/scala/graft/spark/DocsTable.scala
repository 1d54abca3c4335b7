package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic interleaved-document corpus per the engine's input contract:
  * docs(doc_id string, spans array<struct<kind, text, media_ref, offset>>).
  *
  * - seeded, reproducible: every column derives from (seed, doc id) hashes
  * - each doc carries 1..8 spans; the first 'geo' span holds the anchor
  *   "<lon> <lat> [h] [epoch]" in locale-independent text
  * - 80% of anchors cluster in 5 metro hotspots (exercises hot-cell
  *   salting), 20% uniform — see FIXTURES.md §1
  * - docs without a geo span (~6%) must flow through joins untouched
  */
object DocsTable {
  val metros: Seq[(String, Double, Double)] = Seq(
    ("tokyo", 139.69, 35.69),
    ("delhi", 77.10, 28.70),
    ("saopaulo", -46.63, -23.55),
    ("lagos", 3.38, 6.52),
    ("newyork", -74.01, 40.71))

  /** Pure generator used by both the Spark table and test oracles. */
  def spansFor(docId: Long, seed: Long): Seq[(String, String, String, Int)] = {
    val rnd = new java.util.Random(seed * 1000003L + docId * 31L)
    val nSpans = 1 + rnd.nextInt(8)
    val hasGeo = rnd.nextDouble() >= 0.06
    val geoPos = if (hasGeo) rnd.nextInt(nSpans) else -1
    var offset = 0
    (0 until nSpans).map { i =>
      val kind =
        if (i == geoPos) "geo"
        else if (rnd.nextDouble() < 0.3) "media"
        else "text"
      val span = kind match {
        case "geo" =>
          val (lon, lat) =
            if (rnd.nextDouble() < 0.8) {
              val (_, mlon, mlat) = metros(rnd.nextInt(metros.length))
              (mlon + (rnd.nextDouble() - 0.5) * 0.5,
                mlat + (rnd.nextDouble() - 0.5) * 0.5)
            } else
              (rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 160.0 - 80.0)
          val h = rnd.nextDouble() * 2000.0
          val epoch = 2015.0 + rnd.nextDouble() * 10.0
          (kind, f"$lon%.9f $lat%.9f $h%.3f $epoch%.4f", "", offset)
        case "media" =>
          (kind, "", f"media://${rnd.nextLong().toHexString}", offset)
        case _ =>
          val words = Seq("the", "spark", "cell", "tile", "join", "datum",
            "shift", "geo", "span", "doc", "index", "scan")
          val n = 3 + rnd.nextInt(12)
          (kind, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "), "", offset)
      }
      offset += 1 + rnd.nextInt(100)
      span
    }
  }

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))

  /** Build the docs DataFrame (distributed generation; nothing collected).
    * The span generator runs as a Catalyst expression (a `StaticInvoke` of
    * DocGenKernels.docSpans), so the synthesized corpus — like every
    * kernel in the engine — stays inside whole-stage codegen with no
    * typed-object serialization fence. */
  def docs(spark: SparkSession, nDocs: Long, seed: Long = 42L,
           partitions: Int = 32): DataFrame =
    spark.range(0, nDocs, 1, partitions)
      .select(format_string("doc_%012d", col("id")).as("doc_id"),
        Bridge.column(StaticInvoke(DocGenKernels.getClass, ArrayType(spanType), "docSpans",
          Seq(Bridge.expression(col("id")), Literal(seed)), Seq(LongType, LongType)))
          .as("spans"))

  /** The columns withAnchor adds, in order: the fields of the anchor
    * struct. */
  val anchorColumns: Seq[String] = Seq("lon", "lat", "anchor_h", "anchor_epoch")

  /** Extract the geo anchor (lon, lat, anchor_h, anchor_epoch) in one
    * codegen'd pass over the spans' kind and text fields (a `StaticInvoke`
    * of DocGenKernels.anchor; FIXTURES.md §1 geo-anchor convention):
    * - the first span with `kind = 'geo'` is used
    * - its text is split on single spaces, and token i gives column i as
    *   `try_cast(token AS DOUBLE)` would
    * - a malformed or missing token gives null, never an error; docs
    *   without a geo span, or whose geo text is null, get four nulls
    * `spans` passes through untouched; the four columns are appended. */
  def withAnchor(docs: DataFrame): DataFrame = {
    val span = docs.select(col("spans")).schema.head.dataType match {
      case ArrayType(s: StructType, _) => s
      case t => throw new IllegalArgumentException(
        s"withAnchor: spans must be array<struct<kind, text, ...>>, not ${t.simpleString}")
    }
    // only `spans.kind` and `spans.text` are read, so nested-column pruning
    // drops the other span fields from the scan
    def stringField(name: String): Expression = {
      require(span.fieldNames.contains(name) && span(name).dataType.isInstanceOf[StringType],
        s"withAnchor: span struct has no string field `$name`: ${span.simpleString}")
      Bridge.expression(col("spans").getField(name))
    }
    val anchor = Bridge.column(StaticInvoke(DocGenKernels.getClass,
      StructType(anchorColumns.map(StructField(_, DoubleType))), "anchor",
      Seq(stringField("kind"), stringField("text")),
      Seq(ArrayType(StringType), ArrayType(StringType))))
    // one generated row per doc: a filter on the anchor columns (`lon IS
    // NOT NULL`, or one the optimizer infers from a join key) cannot be
    // pushed below the generator, so the anchor is parsed once per row,
    // not once per filter conjunct
    docs.select(col("*"), inline_outer(array(anchor)))
  }

  /** The per-row span-sequence invariant checksum (kind, text, media_ref,
    * order) — compared before/after every operator in tests. */
  def spanChecksum(docs: DataFrame): DataFrame =
    docs.withColumn("span_ck", xxhash64(to_json(col("spans"))))

  /** Synthetic polygon zones with hand-computable membership: one box per
    * metro (FIXTURES.md §2). ring = flat [lon, lat, ...] closed implicitly. */
  def zones(spark: SparkSession, halfDeg: Double = 0.4): DataFrame = {
    import spark.implicits._
    metros.zipWithIndex.map { case ((name, lon, lat), i) =>
      val ring = Array(
        lon - halfDeg, lat - halfDeg,
        lon + halfDeg, lat - halfDeg,
        lon + halfDeg, lat + halfDeg,
        lon - halfDeg, lat + halfDeg)
      (i, name, lon, lat, ring)
    }.toDF("zone_id", "zone_name", "zone_lon", "zone_lat", "ring")
  }
}

/** Static kernels of the docs table: span generation (spansFor as
  * Catalyst data) and geo-anchor parsing, reached from Catalyst through
  * the `StaticInvoke`s built by DocsTable. */
object DocGenKernels {
  def docSpans(docId: Long, seed: Long): ArrayData = {
    val spans = DocsTable.spansFor(docId, seed)
    val out = new Array[Any](spans.length)
    var i = 0
    while (i < spans.length) {
      val (kind, text, ref, off) = spans(i)
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(kind), UTF8String.fromString(text),
        UTF8String.fromString(ref), off))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Geo = UTF8String.fromString("geo")

  /** The anchor of the first span whose kind is "geo", as a row of
    * DocsTable.anchorColumns; null when there is no such span or its text
    * is null. `kinds` and `texts` are the spans' kind and text fields. */
  def anchor(kinds: ArrayData, texts: ArrayData): InternalRow = {
    val n = kinds.numElements()
    var i = 0
    while (i < n) {
      if (!kinds.isNullAt(i) && kinds.getUTF8String(i) == Geo)
        return if (texts.isNullAt(i)) null else parseAnchor(texts.getUTF8String(i))
      i += 1
    }
    null
  }

  /** Split `text` on single ' ' bytes in place, as split(text, ' ') does
    * (empty tokens kept), and parse the first four tokens; tokens past the
    * end are null. */
  private def parseAnchor(text: UTF8String): InternalRow = {
    val out = new Array[Any](4)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var start = 0
    var field = 0
    while (field < 4 && start <= n) {
      var end = start
      while (end < n && Platform.getByte(base, off + end) != ' ') end += 1
      out(field) = parseDouble(base, off + start, end - start)
      field += 1
      start = end + 1
    }
    new GenericInternalRow(out)
  }

  // 10^0 .. 10^22, each product exact in a double
  private val Pow10 = Array.iterate(1.0, 23)(_ * 10)

  /** The token's double as `try_cast(token AS DOUBLE)` gives it, or null.
    * Fast path: [-]digits[.digits] with at most 15 significant digits and
    * at most 22 fraction digits is m / 10^f with both operands exact, so
    * the one division rounds correctly, as Double.parseDouble does. Any
    * other token takes the cast's own conversion. */
  private def parseDouble(base: AnyRef, off: Long, len: Int): Any = {
    val neg = len > 0 && Platform.getByte(base, off) == '-'
    var i = if (neg) 1 else 0
    var m = 0L
    var sig = 0
    var digits = 0
    var frac = 0
    var dot = false
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b >= '0' && b <= '9') {
        if (m != 0 || b != '0') sig += 1
        if (sig > 15) return castToDouble(base, off, len)
        m = m * 10 + (b - '0')
        digits += 1
        if (dot) frac += 1
      } else if (b == '.' && !dot) dot = true
      else return castToDouble(base, off, len)
      i += 1
    }
    if (digits == 0 || frac > 22) castToDouble(base, off, len)
    else { val v = m / Pow10(frac); if (neg) -v else v }
  }

  /** Cast's string-to-double conversion with ANSI off (what try_cast runs):
    * Double.parseDouble, then the special literals (inf, nan, ...), else
    * null. */
  private def castToDouble(base: AnyRef, off: Long, len: Int): Any = {
    val s = UTF8String.fromAddress(base, off, len).toString
    try java.lang.Double.parseDouble(s)
    catch {
      case _: NumberFormatException => Cast.processFloatingPointSpecialLiterals(s, false)
    }
  }
}
