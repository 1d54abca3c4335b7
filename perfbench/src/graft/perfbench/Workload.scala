package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

/** One closed-loop workload: the next batch starts when the last ends. */
trait Workload {
  /** Generate this workload's inputs under `dir` and write them as parquet.
    * Called several times per run; the last call's inputs are the ones the
    * timed batches read. */
  def setup(dir: String): Unit
  /** One main batch; returns the input rows it completed. `attempt` is
    * negative for warm-up batches. */
  def batch(attempt: Int): Long
  /** Output checks over the recorded batches: failing attempt -> reason. */
  def check(): Map[Int, String]
  /** Workload-only end-to-end figures: name -> (value, unit). */
  def extraMetrics(): Seq[(String, Double, String)] = Nil
  /** Traced-run layer figures from this workload's own prefix actions and
    * the plans of its last batch; `kernels` are the single-thread kernel
    * figures. Called after the traced batches. */
  def layerMetrics(clock: TaskClock, kernels: Map[String, Double]): Seq[(String, Double, String)]
  /** Coordinates and payloads the single-thread kernel figures run over. */
  def coords: Array[(Double, Double)]
  def payloads: Array[Array[Byte]] = Workload.probePayloads(seed)
  def seed: Long
  def coordPairs: Array[(Double, Double, Double, Double)] =
    coords.indices.drop(1).map(i => (coords(i - 1)._1, coords(i - 1)._2, coords(i)._1, coords(i)._2)).toArray
  def inputStamp: Map[String, Any]
}

object Workload {
  val SpanSchema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(SpanSchema))))

  def docRow(d: Gen.GDoc): Row =
    Row(d.docId, d.spans.toSeq.map(s => Row(s.kind, s.text, s.mediaRef, s.offset)))

  /** Write rows as parquet across `parts` files. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String, parts: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path)

  /** JPEG payloads from the media generator, for workloads without media. */
  def probePayloads(seed: Long): Array[Array[Byte]] =
    Array.tabulate(64)(i => Gen.media(seed, s"probe-$i").payload)

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Every operator of an executed plan, inside adaptive plans too. */
  def operators(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}
