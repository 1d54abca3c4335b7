package graft.tools
import graft.proj._
import graft.core.{Coord, GeoMath}
object DriveCheck {
  def main(args: Array[String]): Unit = {
    val P = Proj.create("proj=pipeline ellps=GRS80 step proj=cart step proj=helmert convention=coordinate_frame x=0.06155 rx=-0.0394924 y=-0.01087 ry=-0.0327221 z=-0.04019 rz=-0.0328979 s=-0.009994 step proj=cart inv")
    val c = new Coord
    c.set(133.88551329 * GeoMath.DEG2RAD, -23.67012389 * GeoMath.DEG2RAD, 603.3466, 0)
    Dispatch.trans(P, forward = true, c)
    println(f"GDA94->GDA2020: lon=${c.x*GeoMath.RAD2DEG}%.9f lat=${c.y*GeoMath.RAD2DEG}%.9f h=${c.z}%.4f  (expect 133.8855216 -23.67011014 603.2489)")
    try Proj.create("proj=bogus") catch { case e: Throwable => println("unknown op -> " + e.getMessage) }
    try Proj.create("proj=utm zone=61") catch { case e: Throwable => println("bad zone -> " + e.getMessage) }
    try Proj.create("proj=helmert x=1 rx=1") catch { case e: Throwable => println("missing convention -> " + e.getMessage) }
    val P2 = Proj.create("proj=utm zone=32")
    val c2 = new Coord; c2.set(170 * GeoMath.DEG2RAD, 0, 0, 0)
    Dispatch.trans(P2, forward = true, c2)
    println(s"far point: err=${c2.err} x=${c2.x}")
    val c3 = new Coord; c3.set(Double.NaN, Double.NaN, 0, 0)
    Dispatch.trans(P2, forward = true, c3)
    println(s"NaN in -> x=${c3.x} y=${c3.y} err=${c3.err}")
    val g = graft.core.Geodesic.WGS84
    val (s12, azi1, azi2) = g.inverse(40.6, -73.8, 49.01666667, 2.55) // JFK->CDG
    println(f"geodesic JFK->CDG: s12=$s12%.3f m azi1=$azi1%.6f azi2=$azi2%.6f")
    // snapshot layer drive: commit/resume over a live SparkSession
    locally {
      val sess = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]").config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8").getOrCreate()
      sess.sparkContext.setLogLevel("WARN")
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("drive_snap").toString + "/tbl"
      def proc(a: Long, b: Long) = sess.range(a, b).select(col("id"), (col("id") % 4).as("bucket"))
      val r1 = graft.spark.Snapshots.resumableRun(sess, dir, 0, 300, 100, proc, "bucket", "id")
      val r2 = graft.spark.Snapshots.resumableRun(sess, dir, 0, 500, 100, proc, "bucket", "id")
      println(s"snapshots: first run committed $r1, resumed run committed $r2, latest=${graft.spark.Snapshots.latestId(dir)}")
      println("manifest head: " + graft.spark.Snapshots.manifest(dir).linesIterator.take(4).mkString(" | "))

      // hex-grid surface: plane bin round-trip + global equal-area cell
      val hexDf = sess.range(0, 5).select(
        (col("id") * 97 - 200).cast("double").as("x"),
        (col("id") * 53 - 100).cast("double").as("y"))
        .withColumn("hex", graft.spark.GeoFunctions.hexBin(col("x"), col("y"), lit(75.0)))
        .withColumn("c", graft.spark.GeoFunctions.hexCenter(col("hex.q"), col("hex.r"), lit(75.0)))
        .withColumn("rt", graft.spark.GeoFunctions.hexBin(col("c.x"), col("c.y"), lit(75.0)))
      val hexOk = hexDf.where(col("hex.q") === col("rt.q") && col("hex.r") === col("rt.r")).count()
      val ghex = sess.range(0, 1).select(graft.spark.GeoFunctions.globalHexCell(
        lit(139.69), lit(35.69), lit(100000.0)).as("h")).head().getStruct(0)
      println(s"hex: $hexOk/5 plane round-trips; tokyo global hex cell = (${ghex.getInt(0)}, ${ghex.getInt(1)})")

      // persisted ANN index: build + pruned query drive
      val vecs = sess.range(0, 120).select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.transform(
          sequence(lit(1), lit(8)),
          d => sin((col("id") + 1) * d).cast("float")).as("embedding"))
      val idxPath = java.nio.file.Files.createTempDirectory("drive_ann").toString + "/idx"
      graft.spark.AnnIndex.build(vecs, idxPath, planes = 5, tables = 4)
      val hits = graft.spark.AnnIndex.query(sess, idxPath,
        vecs.where(col("vec_id") < 2), k = 3).count()
      println(s"ann index: meta=${graft.spark.AnnIndex.readMeta(sess, idxPath)} query rows=$hits")
      sess.stop()
    }
    // proj_factors: merc at lat 45 should give h = k = sec(45)*sqrt(1-es/2)
    // style values; webmerc parallel scale closed form
    locally {
      val pm = Proj.create("proj=webmerc ellps=WGS84")
      val f = Factors(pm, 10 * GeoMath.DEG2RAD, 45 * GeoMath.DEG2RAD)
      val es = 0.0066943799901413165
      val kExpect = math.sqrt(1 - es * 0.5) / math.cos(45 * GeoMath.DEG2RAD)
      println(f"factors webmerc@45N: k=${f.parallelScale}%.9f expect $kExpect%.9f " +
        f"omega=${f.angularDistortion}%.6f conv=${f.meridianConvergence}%.6f")
      // stere polar: conformal, so omega ~ 0 and h == k
      val ps = Proj.create("proj=stere lat_0=90 lat_ts=70 ellps=WGS84")
      val f2 = Factors(ps, 0, 80 * GeoMath.DEG2RAD)
      println(f"factors stere@80N: h=${f2.meridionalScale}%.9f k=${f2.parallelScale}%.9f omega=${f2.angularDistortion}%.2e")
      // bounds: lon/lat box -> utm32 with densified edges
      val utm = Proj.create("proj=utm zone=32 ellps=GRS80")
      val b = new Factors.BoundsM
      Factors.transBounds(utm, forward = true,
        6 * GeoMath.DEG2RAD, 40 * GeoMath.DEG2RAD,
        12 * GeoMath.DEG2RAD, 55 * GeoMath.DEG2RAD, b)
      println(f"trans_bounds utm32 of 6-12E 40-55N: x [${b.xmin}%.1f, ${b.xmax}%.1f] y [${b.ymin}%.1f, ${b.ymax}%.1f]")

      // registry-grade CRS->CRS planning over the EPSG operation sidecar:
      // name resolution, grid-backed datum shift, GN7.2 similarity
      val ntf = graft.proj.CrsToCrs.pipelineRegistry("NTF", "RGF93")
        .getOrElse(sys.error("registry NTF->RGF93 missing"))
      val pr = Proj.create(ntf)
      val cr = new Coord; cr.set(-5.5, 52.0, 0, Double.PositiveInfinity)
      Dispatch.fwd4d(pr, cr)
      val sim = graft.proj.CrsToCrs.pipelineRegistry("EPSG:23031", "EPSG:25831")
        .map(p => { val c2 = new Coord; c2.set(300000, 4500000, 0, Double.PositiveInfinity)
          Dispatch.fwd4d(Proj.create(p), c2); (c2.x, c2.y) })
        .getOrElse(sys.error("registry similarity missing"))
      println(f"registry: NTF->RGF93(-5.5,52) = (${cr.x}%.9f, ${cr.y}%.9f); " +
        f"GN7.2 similarity = (${sim._1}%.3f, ${sim._2}%.3f) expect (299905.060, 4499796.515)")
    }
    val t0 = System.nanoTime
    var i = 0; val cc = new Coord; var acc = 0.0
    while (i < 1000000) { cc.set((6 + i % 6) * GeoMath.DEG2RAD, (40 + (i % 20)) * GeoMath.DEG2RAD, 0, 0); Dispatch.trans(P2, true, cc); acc += cc.x; i += 1 }
    println(f"1M utm fwd in ${(System.nanoTime - t0)/1e9}%.3f s (checksum $acc%.1f)")

    // row-kernel hot loops: throughput + bytes allocated per row (the
    // CallScratch contract — each call should report ~0 B/row)
    kernelAllocCheck()
  }

  /** Drives the call objects Spark invokes for the stateful proj kernels
    * (ProjTransCall / UtmNativeCall / CrsDispatchCall / FactorsCall /
    * TransBoundsCall) and reports per-row allocation from
    * ThreadMXBean.getThreadAllocatedBytes. */
  private def kernelAllocCheck(): Unit = {
    import graft.spark._
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    def measure(name: String, n: Int)(body: Int => Double): Unit = {
      var acc = 0.0
      var i = 0
      while (i < 10000) { acc += body(i); i += 1 } // warm + JIT
      val b0 = tmx.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime
      i = 0
      while (i < n) { acc += body(i); i += 1 }
      val secs = (System.nanoTime - t0) / 1e9
      val bytesPerRow = (tmx.getThreadAllocatedBytes(tid) - b0).toDouble / n
      println(f"$name: $n rows in $secs%.3f s (${n / secs / 1e6}%.2f M/s), " +
        f"$bytesPerRow%.1f B/row alloc (checksum $acc%.1f)")
    }
    val webmerc = ProjTransCall("proj=webmerc ellps=WGS84", forward = true, degIO = true)
    measure("ProjTransCall webmerc", 1000000) { i =>
      webmerc.eval(-179.0 + (i % 358), -85.0 + (i % 170), 0.0, 0.0).getDouble(0)
    }
    val utm = UtmNativeCall("WGS84")
    measure("UtmNativeCall", 1000000) { i =>
      utm.eval(-179.0 + (i % 358), -80.0 + (i % 160)).getDouble(2)
    }
    val disp = CrsDispatchCall("EPSG:4267", "EPSG:4326")()
    measure("CrsDispatchCall", 200000) { i =>
      disp.eval(-100.0 + (i % 40), 30.0 + (i % 20)).getDouble(1)
    }
    val merc = FactorsCall("proj=merc ellps=WGS84")
    measure("FactorsCall merc", 200000) { i =>
      merc.eval(-179.0 + (i % 358), -80.0 + (i % 160)).getDouble(1)
    }
    val bounds = TransBoundsCall("proj=utm zone=33 ellps=WGS84")
    measure("TransBoundsCall utm33", 20000) { i =>
      bounds.eval(9.0 + (i % 10), -60.0 + (i % 120), 10.0 + (i % 10), -59.0 + (i % 120)).getDouble(0)
    }
  }
}
