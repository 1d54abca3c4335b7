package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input sweep: every truncation, nine byte values at every
  * offset and every single-bit flip of a baseline, a progressive and a
  * 4:2:0 colour payload (`MediaMutants`). The decoder returns Some or None
  * within a few seconds and never throws, and the three JPEG kernels give
  * null or a value, interpreted and under generated code alike. */
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

  test("decodeJpegPixels gives Some or None for every mutant, never throws") {
    for ((name, good) <- payloads; (m, i) <- MediaMutants(good).zipWithIndex) {
      try MediaMutants.within(5, s"$name mutant $i")(MediaCodecs.decodeJpegPixels(m))
      catch { case e: RuntimeException => fail(s"$name mutant $i threw $e", e) }
    }
  }

  test("the JPEG kernels give null or a value for every mutant through both eval paths") {
    val all = payloads.flatMap { case (_, good) => good +: MediaMutants(good) }
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
