package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Coord
import graft.index.{S2CellId, SlippyTile}
import graft.spark.{GeoKernels, ProjPipeline}

/** geo_kernels: the per-point kernels of the north-star pipeline (per-row
  * UTM, the GDA Helmert pipeline, webmerc, S2/tile/hex cells, 8 fixed-zone
  * UTM) over a table of coordinates that are already parsed, folded into
  * a checksum. No anchor parsing and no join, so the kernels and their
  * expression wrappers take most of a batch: a kernel-call change shows
  * here at full size, where it is a small share of a geo_enrich batch. */
final class PointKernels(spark: SparkSession, val seed: Long, tr: Tracer) extends Workload {
  import GeoEnrich.{enrich, hashSum, KernelCols}
  import PointKernels._

  private var dir = ""
  private val sums = ArrayBuffer.empty[(Int, Long, Long)] // attempt, rows, checksum

  private def pointsPath = s"$dir/points"

  def setup(d: String): Unit = {
    dir = d
    val sd = seed
    val chunks = Points / Gen.ChunkDocs
    val rows = spark.sparkContext.parallelize(0 until chunks, 2 * spark.sparkContext.defaultParallelism)
      .flatMap(c => (c * Gen.ChunkDocs until (c + 1) * Gen.ChunkDocs).map { i =>
        val (id, lon, lat) = Gen.point(sd, i)
        Row(id, lon, lat)
      })
    spark.createDataFrame(rows, Schema).write.mode("overwrite").parquet(pointsPath)
    sums.clear()
  }

  private def kernels(): DataFrame =
    tr.span("kernels")(enrich(spark.read.parquet(pointsPath)))

  def batch(attempt: Int): Long = {
    val df = kernels().select(count(lit(1)), hashSum(KernelCols.map(col)))
    val r = tr.span("action")(df.collect().head)
    sums += ((attempt, r.getLong(0), r.getLong(1)))
    Points
  }

  /** Every batch: all rows and the first batch's checksum; then the first
    * Sample points against the kernels called directly. */
  def check(): Map[Int, String] = {
    val ck0 = sums.head._3
    sums.collect { case (a, n, ck) if n != Points || ck != ck0 =>
      a -> s"$n rows with checksum $ck; want $Points rows and the first batch's $ck0"
    }.toMap ++ sampleCheck().map(sums.last._1 -> _)
  }

  private def sampleCheck(): Option[String] = {
    val rows = enrich(spark.read.parquet(pointsPath).where(col("point_id") < Sample))
      .select((Seq("point_id", "lon", "lat") ++ KernelCols).map(col): _*).collect()
    if (rows.length != Sample) return Some(s"${rows.length} sample rows of $Sample")
    val pipes = scala.collection.mutable.Map.empty[String, ProjPipeline]
    val c = new Coord
    def utm(zone: Int, south: Boolean, lon: Double, lat: Double): (Double, Double) = {
      val p = pipes.getOrElseUpdate(s"$zone$south", new ProjPipeline(
        s"proj=utm zone=$zone ellps=WGS84${if (south) " south" else ""}"))
      c.set(math.toRadians(lon), math.toRadians(lat), 0, 0)
      p.trans(c, true)
      (c.x, c.y)
    }
    // equal (infinite far outside a fixed UTM zone) or within tol
    def near(a: Double, b: Double, tol: Double) = a == b || math.abs(a - b) <= tol
    rows.iterator.map { r =>
      val id = r.getLong(0); val lon = r.getDouble(1); val lat = r.getDouble(2)
      val u = r.getStruct(3); val gda = r.getStruct(4); val wm = r.getStruct(5)
      val hex = r.getStruct(6)
      val (ux, uy) = utm(u.getAs[Int]("zone"), u.getAs[Boolean]("south"), lon, lat)
      // spherical web mercator on the WGS84 semi-major axis
      val (wx, wy) = (WgsA * math.toRadians(lon),
        WgsA * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)))
      val h = GeoKernels.hexBin(wm.getAs[Double]("x"), wm.getAs[Double]("y"), GeoEnrich.HexSizeM)
      val ck = GeoEnrich.FixedZones.map(z => utm(z, south = false, lon, lat)._1).sum + ux + uy
      if (!near(u.getAs[Double]("x"), ux, 1e-6) || !near(u.getAs[Double]("y"), uy, 1e-6))
        Some(s"point $id: utm $u, direct ($ux, $uy)")
      else if (!near(wm.getAs[Double]("x"), wx, 1e-4) || !near(wm.getAs[Double]("y"), wy, 1e-4))
        Some(s"point $id: webmerc $wm, closed form ($wx, $wy)")
      // the GDA94 -> GDA2020 Helmert moves a point by a metre or two, so
      // its output stays within 1e-4 degrees of its input
      else if (!near(gda.getAs[Double]("x"), lon, 1e-4) || !near(gda.getAs[Double]("y"), lat, 1e-4))
        Some(s"point $id: gda $gda for ($lon, $lat)")
      else if (hex.getInt(0) != h.getInt(0) || hex.getInt(1) != h.getInt(1))
        Some(s"point $id: hex $hex, direct (${h.getInt(0)}, ${h.getInt(1)})")
      else if (r.getLong(7) != S2CellId.cellId(lon, lat, GeoEnrich.CellLevel))
        Some(s"point $id: cell ${r.getLong(7)}, direct ${S2CellId.cellId(lon, lat, GeoEnrich.CellLevel)}")
      else if (r.getLong(8) != SlippyTile.tileKey(lon, lat, GeoEnrich.CellLevel))
        Some(s"point $id: tile ${r.getLong(8)}, direct ${SlippyTile.tileKey(lon, lat, GeoEnrich.CellLevel)}")
      else if (!near(r.getDouble(9), ck, 1e-5))
        Some(s"point $id: utm_ck ${r.getDouble(9)}, direct $ck")
      else None
    }.collectFirst { case Some(why) => why }
  }

  def layerMetrics(clock: TaskClock, kernels: Map[String, Double]): Seq[(String, Double, String)] = {
    // task seconds (median of 3): the kernel columns over the points minus
    // a plain scan of them
    val reps = 3
    val read = spark.read.parquet(pointsPath)
    val scanT = clock.median(reps)(read.select(count(lit(1)), hashSum(Seq(col("lon"), col("lat")))).collect())
    val enrichT = clock.median(reps)(enrich(read).select(count(lit(1)), hashSum(KernelCols.map(col))).collect())
    Seq(
      ("exprs.enrich_s_per_mrow", (enrichT - scanT) / (Points / 1e6), "s/Mrow"),
      ("exprs.overhead_x", (enrichT - scanT) / Points / GeoEnrich.kernelSeconds(kernels), "x"))
  }

  lazy val coords: Array[(Double, Double)] =
    Array.tabulate(GeoEnrich.SampleDocs)(i => { val p = Gen.point(seed, i); (p._2, p._3) })

  def inputStamp: Map[String, Any] = Map("points" -> Points,
    "input_bytes" -> Workload.dirBytes(pointsPath))
}

object PointKernels {
  /** Points every batch reads: enough that executor tasks take most of a
    * batch on 4 cores. */
  val Points = 1000000
  /** First points the output check compares with the kernels called directly. */
  val Sample = 2000
  val WgsA = 6378137.0
  val Schema: StructType = StructType(Seq(StructField("point_id", LongType),
    StructField("lon", DoubleType), StructField("lat", DoubleType)))
}
