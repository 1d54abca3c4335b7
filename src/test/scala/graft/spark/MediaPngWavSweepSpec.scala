package graft.spark

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input sweep of the PNG and WAV decoders: every truncation,
  * nine byte values at every offset, every single-bit flip and each chunk
  * length set near or past 2^31 (`MediaMutants`) of a grey, an RGB and an
  * RGBA PNG and of an even-seed and an odd-seed (LIST-carrying) WAV. Every
  * decoder returns Some or None within a few seconds and never throws, and
  * the media kernels give null or the decoder's value, interpreted and
  * under generated code alike. */
class MediaPngWavSweepSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pngs = Seq(
    "grey PNG" -> MediaCodecs.encodePng(6, 5, 11L, 0),
    "RGB PNG" -> MediaCodecs.encodePng(6, 5, 12L, 2),
    "RGBA PNG" -> MediaCodecs.encodePng(5, 4, 13L, 6))
  private val wavs = Seq(
    "even-seed WAV" -> MediaCodecs.encodeWav(8000, 1, 12, 2L),
    "odd-seed WAV" -> MediaCodecs.encodeWav(8000, 2, 6, 3L))

  /** offsets of the big-endian PNG chunk lengths. */
  private def pngLengths(b: Array[Byte]): Seq[Int] =
    Iterator.iterate(8)(p => p + 12 + ByteBuffer.wrap(b).getInt(p))
      .takeWhile(_ + 8 <= b.length).toSeq

  /** offsets of the little-endian RIFF lengths, the RIFF header's first. */
  private def wavLengths(b: Array[Byte]): Seq[Int] = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    4 +: Iterator.iterate(12) { p => val n = bb.getInt(p + 4); p + 8 + n + (n & 1) }
      .takeWhile(_ + 8 <= b.length).map(_ + 4).toSeq
  }

  private val mutants: Seq[(String, Array[Byte])] =
    pngs.flatMap { case (name, good) =>
      (MediaMutants(good) ++ MediaMutants.lengths(good, pngLengths(good), ByteOrder.BIG_ENDIAN))
        .map(name -> _)
    } ++ wavs.flatMap { case (name, good) =>
      (MediaMutants(good) ++
        MediaMutants.lengths(good, wavLengths(good), ByteOrder.LITTLE_ENDIAN)).map(name -> _)
    }

  private def decodeAll(m: Array[Byte]): Seq[Option[Any]] = Seq(
    MediaCodecs.decodePng(m), MediaCodecs.decodePngPixels(m).map(_.toSeq),
    MediaCodecs.decodeWav(m), MediaCodecs.decodeWavSamples(m).map(_.toSeq),
    MediaCodecs.decode(m))

  test("every PNG and WAV decoder gives Some or None for every mutant, never throws or hangs") {
    for ((_, good) <- pngs) {
      assert(MediaCodecs.decodePngPixels(good).isDefined)
      assert(pngLengths(good).size == 3) // IHDR, IDAT, IEND
    }
    for ((_, good) <- wavs) assert(MediaCodecs.decodeWavSamples(good).isDefined)
    assert(wavs.map(w => wavLengths(w._2).size) == Seq(3, 4)) // RIFF, fmt, (LIST,) data
    for (((name, m), i) <- mutants.zipWithIndex) {
      try MediaMutants.within(5, s"$name mutant $i")(decodeAll(m))
      catch { case e: RuntimeException => fail(s"$name mutant $i threw $e", e) }
    }
  }

  test("every header a mutant decodes to has positive dimensions, channels and rate") {
    for (((name, m), i) <- mutants.zipWithIndex; info <- MediaCodecs.decode(m)) {
      val ok = info.kind match {
        case "image" => info.width >= 1 && info.height >= 1
        case _ => info.channels >= 1 && info.sampleRate >= 1
      }
      assert(ok, s"$name mutant $i decodes to $info")
    }
  }

  test("a zlib stream that asks for a preset dictionary decodes to None") {
    for ((name, good) <- pngs; flg <- Seq(0x20, 0x3f)) {
      val m = good.clone()
      m(33 + 8 + 1) = flg.toByte // the FLG byte of IDAT's zlib header
      assert(MediaMutants.within(5, s"$name FLG $flg")(MediaCodecs.decodePngPixels(m)).isEmpty)
      assert(MediaCodecs.decodePng(m) == MediaCodecs.decodePng(good))
    }
  }

  test("an IDAT or data chunk whose length runs past the payload decodes to None") {
    for ((_, good) <- pngs; v <- Seq(0x7FFFFFF0, 0x7FFFFFFF)) {
      val m = good.clone()
      ByteBuffer.wrap(m).putInt(33, v) // IDAT
      assert(MediaCodecs.decodePngPixels(m).isEmpty)
    }
    for ((_, good) <- wavs; v <- Seq(0x7FFFFFF0, 0x7FFFFFFF)) {
      val m = good.clone()
      ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN).putInt(wavLengths(good).last, v)
      assert(MediaCodecs.decodeWavSamples(m).isEmpty)
      assert(MediaCodecs.decodeWav(m) == MediaCodecs.decodeWav(good))
    }
  }

  test("the media kernels give null or the decoder's value for every mutant through both eval paths") {
    val all = (pngs ++ wavs ++ mutants).map(_._2)
    val want = MediaMutants.within(60, "the decoders")(all.map { m =>
      Seq(
        MediaCodecs.decode(m).map(i => Seq(i.kind, i.width, i.height, i.sampleRate, i.channels)),
        MediaCodecs.decodePngPixels(m).map(px => Seq(px.length.toLong, px.map(_ & 0xffL).sum)),
        MediaCodecs.decodeWavSamples(m).map(s => Seq(s.length.toLong, s.map(_.toLong).sum)))
    })
    for (s <- Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val got = MediaMutants.within(300, "the kernel query") {
        all.toDF("payload").select(
          MediaFunctions.mediaInfo(col("payload")).as("info"),
          MediaFunctions.pngPixelStats(col("payload")).as("png"),
          MediaFunctions.wavSampleStats(col("payload")).as("wav"),
          MediaFunctions.mediaFeature(col("payload"), lit(16)).as("feat"))
          .collect().toSeq
      }
      def opt(r: Row, i: Int, fields: Int*): Option[Seq[Any]] =
        if (r.isNullAt(i)) None else Some(fields.map(r.getStruct(i).get))
      assert(got.map(r => Seq(opt(r, 0, 0, 1, 2, 3, 4), opt(r, 1, 0, 1), opt(r, 2, 0, 1))) == want)
      assert(got.forall(r => r.getSeq[Float](3).size == 16))
    }
  }

  test("negative seeds encode payloads that decode, through both eval paths") {
    for (seed <- -60L to -1L) {
      val info = MediaCodecs.decode(MultimodalOps.encodeFor(seed))
      assert(info.exists(i => i.kind == "audio" || i.width > 0 && i.height > 0), s"seed $seed")
    }
    assert(MediaCodecs.decodePngPixels(MultimodalOps.encodeFor(-9L)).isDefined)
    for (s <- Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark))) {
      val got = s.range(-60, 0).select(
        MediaFunctions.mediaInfo(MediaFunctions.mediaEncode(col("id"))).as("info"))
        .collect()
      assert(got.forall(r => !r.isNullAt(0) && !r.getStruct(0).isNullAt(0)))
      assert(got.length == 60)
    }
  }

  test("mediaFeature with a dim below 1 gives null through both eval paths") {
    val payload = MediaCodecs.encodePng(6, 5, 11L)
    for (s <- Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark))) {
      import s.implicits._
      val got = Seq(-1, 0, 1, 16).map((payload, _)).toDF("payload", "dim")
        .select(MediaFunctions.mediaFeature(col("payload"), col("dim"))).collect()
      assert(got.map(r => if (r.isNullAt(0)) -1 else r.getSeq[Float](0).size).toSeq ==
        Seq(-1, -1, 1, 16))
    }
  }
}
