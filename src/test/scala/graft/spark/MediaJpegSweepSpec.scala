package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input sweep: every truncation, nine byte values at every
  * offset and every single-bit flip of a baseline, a progressive and a
  * 4:2:0 colour payload. The decoder returns Some or None and never
  * throws, and the three JPEG kernels give null or a value, interpreted
  * and under generated code alike. */
class MediaJpegSweepSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val payloads = Seq(
    "baseline" -> MediaCodecs.encodeJpegBaseline(24, 16, 7L),
    "progressive" -> MediaCodecs.encodeJpegProgressive(24, 16, 7L),
    "4:2:0 colour" -> MediaJpegColorSpec.baseline420)

  private val values = Seq(0x00, 0x01, 0x02, 0x0f, 0x3f, 0x7f, 0x80, 0xfe, 0xff)

  private def mutants(good: Array[Byte]): Seq[Array[Byte]] = {
    def set(i: Int, v: Int): Array[Byte] = { val b = good.clone(); b(i) = v.toByte; b }
    good.indices.map(java.util.Arrays.copyOf(good, _)) ++
      (for (i <- good.indices; v <- values) yield set(i, v)) ++
      (for (i <- good.indices; bit <- 0 until 8) yield set(i, good(i) ^ (1 << bit)))
  }

  test("decodeJpegPixels gives Some or None for every mutant, never throws") {
    for ((name, good) <- payloads; (m, i) <- mutants(good).zipWithIndex) {
      try MediaCodecs.decodeJpegPixels(m)
      catch { case e: RuntimeException => fail(s"$name mutant $i threw $e", e) }
    }
  }

  test("the JPEG kernels give null or a value for every mutant through both eval paths") {
    val all = payloads.flatMap { case (_, good) => good +: mutants(good) }
    val paths = Seq(EvalPaths.interpreted(spark), EvalPaths.codegenOnly(spark)).map { s =>
      import s.implicits._
      all.toDF("payload").select(
        MediaFunctions.jpegPixelStats(col("payload")).getField("n_px"),
        MediaFunctions.jpegPixelStatsProg(col("payload")).getField("n_px"),
        MediaFunctions.jpegResizeStats(col("payload"), lit(2L)).getField("n_px"))
        .collect().toSeq
    }
    val want = all.map(m => MediaCodecs.decodeJpegPixels(m).map(_.length.toLong))
    for (got <- paths) {
      assert(got.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))) == want)
      assert(got.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))) == want)
      assert(got.forall(r => r.isNullAt(2) || r.getLong(2) > 0))
    }
  }
}
