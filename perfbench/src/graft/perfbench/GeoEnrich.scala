package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spark.{DocsTable, GeoFunctions, ProjFunctions, SpatialJoins}

/** geo_enrich: the north-star docs pipeline. Each batch reads the docs
  * table, parses the anchors, runs the kernels (per-row UTM, a GDA
  * Helmert pipeline, webmerc, S2/tile/hex cells, 8 fixed-zone UTM), joins
  * the metro zones by broadcast point-in-polygon and folds every column
  * into a checksum. No shuffle: scan and kernels dominate. */
final class GeoEnrich(spark: SparkSession, val seed: Long, tr: Tracer) extends Workload {
  import GeoEnrich._

  private var dir = ""
  /** Per zone: (docs whose anchor lies in the zone box by the box test,
    * sum of their doc-id CRC-32s). */
  private var want: Seq[(Long, Long)] = Nil
  private var sample: Array[(Double, Double)] = Array.empty
  private val results = ArrayBuffer.empty[(Int, Long, Seq[(Long, Long)])] // attempt, ck, zones
  private var lastFull: DataFrame = _

  private def docsPath = s"$dir/docs"
  private def zonesPath = s"$dir/zones"

  def setup(d: String): Unit = {
    dir = d
    val sc = spark.sparkContext
    val sd = seed
    // docs are made on the executors, chunk by chunk; the box-test tally
    // comes from the same generated docs, never from the program
    val docs = sc.parallelize(0 until Docs / Gen.ChunkDocs, 2 * sc.defaultParallelism)
      .flatMap(c => Gen.docChunk(sd, 0, c, Docs)).cache()
    spark.createDataFrame(docs.map(Workload.docRow), Workload.DocsSchema)
      .write.mode("overwrite").parquet(docsPath)
    val tally = docs.aggregate(new Array[Long](2 * Gen.Metros.length))((acc, g) => {
      val z = if (g.lon.isNaN) -1 else Gen.zoneOf(g.lon, g.lat)
      if (z >= 0) { acc(2 * z) += 1; acc(2 * z + 1) += Gen.idCrc(g.docId) }
      acc
    }, (a, b) => a.zip(b).map(x => x._1 + x._2))
    docs.unpersist()
    want = tally.grouped(2).map(t => (t(0), t(1))).toSeq
    Workload.write(spark, Gen.Metros.indices.map(i =>
        Row(i, Gen.Metros(i)._1, Gen.Metros(i)._2, Gen.zoneRing(i).toSeq)),
      StructType(Seq(StructField("zone_id", IntegerType), StructField("zone_lon", DoubleType),
        StructField("zone_lat", DoubleType), StructField("ring", ArrayType(DoubleType)))),
      zonesPath, 1)
    sample = Gen.docs(seed, 0, SampleDocs).filter(!_.lon.isNaN).map(g => (g.lon, g.lat))
    results.clear()
  }

  private def anchored(): DataFrame =
    tr.span("DocsTable.withAnchor") {
      DocsTable.withAnchor(spark.read.parquet(docsPath))
    }.where(col("lon").isNotNull)

  private def enriched(): DataFrame = tr.span("kernels")(enrich(anchored()))

  private def checksum(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.select(count(lit(1)).as("n"), hashSum(cols).as("ck"))

  private def full(): DataFrame = joinZones(enriched())

  /** PIP join, then one row: the hash of every column, and per zone the
    * joined docs and the sum of their doc-id CRC-32s. */
  private def joinZones(df: DataFrame): DataFrame = {
    val joined = tr.span("SpatialJoins.pipJoin") {
      SpatialJoins.pipJoin(df, spark.read.parquet(zonesPath), level = PipLevel)
    }.select(col("doc_id"), col("zone_id"), col("utm.zone").as("utm_zone"), col("cell"),
      col("tile"), col("hex.q").as("hex_q"), col("hex.r").as("hex_r"),
      col("gda.x").as("gda_x"), col("wm.y").as("wm_y"), col("utm_ck"))
    val inZone = (z: Int) => col("zone_id") === z
    joined.select(hashSum(joined.columns.toSeq.map(col)).as("ck") +:
      Gen.Metros.indices.flatMap(z => Seq(
        total(when(inZone(z), 1L).otherwise(0L)),
        total(when(inZone(z), crc32(col("doc_id").cast(BinaryType))).otherwise(0L)))): _*)
  }

  def batch(attempt: Int): Long = {
    val df = full()
    val r = tr.span("action") { df.collect().head }
    lastFull = df
    results += ((attempt, r.getLong(0),
      Gen.Metros.indices.map(z => (r.getLong(1 + 2 * z), r.getLong(2 + 2 * z)))))
    Docs
  }

  def check(): Map[Int, String] = {
    val firstCk = results.head._2
    results.flatMap { case (a, ck, zones) =>
      zones.indices.find(z => zones(z) != want(z)).map { z =>
        a -> (s"zone $z: ${zones(z)._1} docs joined (id CRC sum ${zones(z)._2}), " +
          s"box test says ${want(z)._1} (${want(z)._2})")
      }.orElse(if (ck != firstCk) Some(a -> s"checksum $ck differs from $firstCk") else None)
    }.toMap
  }

  override def extraMetrics(): Seq[(String, Double, String)] =
    Seq(("checksum", results.head._2.toDouble, "hash"))

  def layerMetrics(clock: TaskClock, kernels: Map[String, Double]): Seq[(String, Double, String)] = {
    // prefix actions, in executor task seconds (median of 3):
    // read + anchor parse from parquet; then kernels, and kernels + PIP
    // join, each over the cached anchored rows minus a plain scan of that
    // cache
    val reps = 3
    val rowsM = Docs / 1e6
    val read = spark.read.parquet(docsPath)
    val anchorCols = Seq(col("lon"), col("lat"), col("anchor_h"), col("anchor_epoch"))
    val anchorT = clock.median(reps)(
      checksum(DocsTable.withAnchor(read), anchorCols).collect())
    val base = DocsTable.withAnchor(read).where(col("lon").isNotNull)
      .select(col("doc_id") +: anchorCols: _*).cache()
    val geoRows = base.count()
    val scanT = clock.median(reps)(checksum(base, anchorCols).collect())
    val enrichT = clock.median(reps)(
      checksum(enrich(base), KernelCols.map(col)).collect())
    val fullT = clock.median(reps)(joinZones(enrich(base)).collect())
    // PIP candidates: rows of the cell equi-join the pointInRing test sees,
    // against the rows it keeps (the join's output rows in the last batch)
    val covers = spark.read.parquet(zonesPath).withColumn("cell",
      explode(GeoFunctions.coverCells(col("ring"), lit(PipLevel))))
    val candidates = base.withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(PipLevel)))
      .join(broadcast(covers), Seq("cell")).count()
    base.unpersist()
    val kept = Workload.operators(lastFull).filter(_.nodeName.contains("BroadcastHashJoin"))
      .map(Workload.metric(_, "numOutputRows")).sum
    val kernelS = kernelSeconds(kernels)
    Seq(
      ("docs.anchor_s_per_mrow", anchorT / rowsM, "s/Mrow"),
      ("exprs.enrich_s_per_mrow", (enrichT - scanT) / rowsM, "s/Mrow"),
      ("exprs.overhead_x", (enrichT - scanT) / geoRows / kernelS, "x"),
      ("spatial.pip_s_per_mrow", (fullT - enrichT) / rowsM, "s/Mrow"),
      ("spatial.pip.candidate_ratio", want.map(_._1).sum.toDouble / candidates, "ratio"),
      ("spatial.pip.kept_rows_last_batch", kept.toDouble, "count"),
      ("spatial.pip.box_test_rows", want.map(_._1).sum.toDouble, "count"))
  }

  def coords: Array[(Double, Double)] = sample

  def inputStamp: Map[String, Any] = Map("docs" -> Docs,
    "input_bytes" -> Workload.dirBytes(docsPath))
}

object GeoEnrich {
  /** The kernel columns over `lon`/`lat`: per-row UTM, the GDA Helmert
    * pipeline, webmerc, hex/S2/tile cells and 8 fixed-zone UTM x (summed
    * with the per-row UTM into `utm_ck`). */
  def enrich(df: DataFrame): DataFrame = {
    var e = df
      .withColumn("utm", ProjFunctions.utmNative(col("lon"), col("lat")))
      .withColumn("gda", ProjFunctions.projTrans2(col("lon"), col("lat"), GdaPipe))
      .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"), WebmercPipe))
      .withColumn("hex", GeoFunctions.hexBin(col("wm.x"), col("wm.y"), lit(HexSizeM)))
      .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(CellLevel)))
      .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(CellLevel)))
    for (z <- FixedZones)
      e = e.withColumn(s"utm_$z", ProjFunctions.projTrans2(col("lon"), col("lat"),
        s"proj=utm zone=$z ellps=WGS84").getField("x"))
    e.withColumn("utm_ck", FixedZones.map(z => col(s"utm_$z")).reduce(_ + _) +
      col("utm.x") + col("utm.y"))
  }

  /** The kernels' single-thread seconds for one row of `enrich`, from the
    * single-thread kernel figures. */
  def kernelSeconds(kernels: Map[String, Double]): Double =
    Seq("proj.utm.ops_per_s", "proj.helmert.ops_per_s", "proj.webmerc.ops_per_s",
      "index.hex_bin.ops_per_s", "index.s2_cell.ops_per_s", "index.tile_key.ops_per_s")
      .map(k => 1 / kernels(k)).sum + FixedZones.length / kernels("proj.utm.ops_per_s")

  val KernelCols: Seq[String] = Seq("utm", "gda", "wm", "hex", "cell", "tile", "utm_ck")

  def total(c: Column): Column = coalesce(sum(c), lit(0L))

  /** Sum of the rows' hashes modulo a prime: a checksum that does not
    * depend on row order. */
  def hashSum(cols: Seq[Column]): Column =
    total(pmod(xxhash64(struct(cols: _*)), lit(1000000007L)))

  /** Docs every batch reads: enough that task time, not the driver, takes
    * most of a batch on 4 cores. */
  val Docs = 200000
  /** First docs whose anchors feed the single-thread kernel figures. */
  val SampleDocs = 20000
  val CellLevel = 12
  val PipLevel = 10
  val HexSizeM = 50000.0
  val FixedZones: Seq[Int] = (1 to 8).map(_ * 7)
  val WebmercPipe = "proj=webmerc ellps=WGS84"
  val GdaPipe: String = "proj=pipeline ellps=GRS80 step proj=cart step proj=helmert " +
    "convention=coordinate_frame x=0.06155 rx=-0.0394924 y=-0.01087 " +
    "ry=-0.0327221 z=-0.04019 rz=-0.0328979 s=-0.009994 step proj=cart inv"
}
