package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Geodesic
import graft.index.S2CellId
import graft.spark.SpatialJoins

/** geo_knn: each batch asks for the k nearest points of a few dense metro
  * queries and one sparse query whose k-th neighbour lies beyond the
  * starting ring reach, through both `knnJoin` (fixed S2 rings) and
  * `hexKnnJoin` (adaptive, exact: the sparse query forces a ring
  * doubling, and every doubling re-runs the pending queries' plan). The
  * time goes to the driver, planning and job count; the distance kernel is
  * a small share. */
final class GeoKnn(spark: SparkSession, val seed: Long, tr: Tracer) extends Workload {
  import GeoKnn._

  private var dir = ""
  private var pts: Array[(Long, Double, Double)] = Array.empty
  private var ptCells: Array[Long] = Array.empty
  private val results = ArrayBuffer.empty[Result]
  private var lastKnn: DataFrame = _

  private def pointsPath = s"$dir/points"
  private def queriesPath = s"$dir/queries"
  private def queryBatch(qb: Int) = Gen.queries(seed, qb, Dense)

  def setup(d: String): Unit = {
    dir = d
    pts = Gen.points(seed, NPoints)
    ptCells = pts.map(p => S2CellId.cellId(p._2, p._3, KnnLevel))
    val schema = StructType(Seq(StructField("point_id", LongType),
      StructField("lon", DoubleType), StructField("lat", DoubleType)))
    Workload.write(spark, pts.toSeq.map(p => Row(p._1, p._2, p._3)), schema, pointsPath,
      spark.sparkContext.defaultParallelism)
    // one directory per query batch, so that batches differ in the files
    // they read and not in a filter literal: Spark inlines literals into
    // generated code, which would then be compiled anew for every batch
    val rows = (0 until QBatches).flatMap(qb => queryBatch(qb).map(q => Row(qb, q._1, q._2, q._3)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(StructField("qb", IntegerType) +: schema.fields.toSeq.map(f =>
          if (f.name == "point_id") StructField("q_id", LongType) else f)))
      .write.mode("overwrite").partitionBy("qb").parquet(queriesPath)
    results.clear()
  }

  private def run(name: String)(call: => DataFrame): (DataFrame, Array[Row]) = {
    val df = tr.span(name)(call).select("q_id", "point_id", "dist_m")
    tr.span(name + ".plan")(df.queryExecution.executedPlan)
    (df, tr.span(name + ".exec")(df.collect()))
  }

  def batch(attempt: Int): Long = {
    val qb = math.floorMod(attempt, QBatches)
    val q = spark.read.parquet(s"$queriesPath/qb=$qb")
    val p = spark.read.parquet(pointsPath)
    val (knnDf, knn) = run("SpatialJoins.knnJoin")(
      SpatialJoins.knnJoin(q, p, K, level = KnnLevel, rings = KnnRings))
    val (_, hex) = run("SpatialJoins.hexKnnJoin")(
      SpatialJoins.hexKnnJoin(q, p, K, sizeM = HexSizeM, rings = HexRings))
    lastKnn = knnDf
    results += Result(attempt, qb, rows(knn), rows(hex))
    Dense + 1
  }

  private def rows(rs: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rs.toSeq.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).sortBy(x => (x._2, x._1)) }

  private def dist(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesic.WGS84.distance(lat1, lon1, lat2, lon2)

  /** Exact top-k by exhaustive search over the points `allowed` admits:
    * a haversine pre-selection of 4k, then the geodesic distance. */
  private def exhaustive(lon: Double, lat: Double, allowed: Int => Boolean): Seq[(Long, Double)] = {
    val hv = new ArrayBuffer[(Int, Double)]
    val (p1, l1) = (math.toRadians(lat), math.toRadians(lon))
    var i = 0
    while (i < pts.length) {
      if (allowed(i)) {
        val p2 = math.toRadians(pts(i)._3); val l2 = math.toRadians(pts(i)._2)
        val a = math.pow(math.sin((p2 - p1) / 2), 2) +
          math.cos(p1) * math.cos(p2) * math.pow(math.sin((l2 - l1) / 2), 2)
        hv += ((i, a))
      }
      i += 1
    }
    hv.sortBy(_._2).take(4 * K).map { case (j, _) =>
      (pts(j)._1, dist(lon, lat, pts(j)._2, pts(j)._3))
    }.sortBy(x => (x._2, x._1)).take(K).toSeq
  }

  /** Same distances, rank by rank (ties may permute ids). */
  private def same(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      math.abs(g._2 - w._2) <= 1e-6 * math.max(1.0, w._2)
    }

  def check(): Map[Int, String] = {
    val bad = scala.collection.mutable.Map.empty[Int, String]
    for (r <- results; (qid, lon, lat) <- queryBatch(r.qb) if !bad.contains(r.attempt)) {
      val want = exhaustive(lon, lat, _ => true)
      if (!same(r.hex.getOrElse(qid, Nil), want))
        bad(r.attempt) = s"hexKnnJoin q$qid: ${r.hex.getOrElse(qid, Nil).take(3)} vs exhaustive ${want.take(3)}"
      else {
        val ring = S2CellId.ringCells(S2CellId.cellId(lon, lat, KnnLevel), KnnRings).toSet
        val wantRing = exhaustive(lon, lat, i => ring.contains(ptCells(i)))
        if (!same(r.knn.getOrElse(qid, Nil), wantRing))
          bad(r.attempt) = s"knnJoin q$qid: ${r.knn.getOrElse(qid, Nil).take(3)} vs ring search ${wantRing.take(3)}"
      }
    }
    bad.toMap
  }

  def layerMetrics(clock: TaskClock, kernels: Map[String, Double]): Seq[(String, Double, String)] = {
    // ring-join rows of the last batch's knnJoin against k x queries
    val joinRows = Workload.operators(lastKnn).filter(_.nodeName.contains("Join"))
      .map(Workload.metric(_, "numOutputRows")).sum
    Seq(("spatial.knn.candidate_ratio", joinRows.toDouble / (K * (Dense + 1)), "ratio"))
  }

  def coords: Array[(Double, Double)] = pts.map(p => (p._2, p._3))

  /** Query-point pairs within ring reach: each query against its answers. */
  override def coordPairs: Array[(Double, Double, Double, Double)] = {
    val byId = pts.map(p => p._1 -> (p._2, p._3)).toMap
    results.take(16).flatMap { r =>
      queryBatch(r.qb).flatMap { case (qid, lon, lat) =>
        r.hex.getOrElse(qid, Nil).map { case (pid, _) =>
          (lon, lat, byId(pid)._1, byId(pid)._2)
        }
      }
    }.toArray
  }

  def inputStamp: Map[String, Any] = Map("points" -> NPoints, "query_batches" -> QBatches,
    "queries_per_batch" -> (Dense + 1), "k" -> K,
    "input_bytes" -> (Workload.dirBytes(pointsPath) + Workload.dirBytes(queriesPath)))
}

object GeoKnn {
  final case class Result(attempt: Int, qb: Int, knn: Map[Long, Seq[(Long, Double)]],
                          hex: Map[Long, Seq[(Long, Double)]])
  val NPoints = 10000
  val QBatches = 32
  val Dense = 7
  val K = 8
  val KnnLevel = 11
  val KnnRings = 2
  val HexSizeM = 3000.0
  val HexRings = 2
}
