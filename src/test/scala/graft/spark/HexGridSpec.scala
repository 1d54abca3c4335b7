package graft.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hex-grid index: axial algebra invariants (round-trip, ring counts,
  * Voronoi property of cube rounding) + the hex kNN join vs brute force. */
class HexGridSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def bin(x: Double, y: Double, size: Double): (Int, Int) = {
    val r = GeoKernels.hexBin(x, y, size)
    (r.getInt(0), r.getInt(1))
  }
  private def center(q: Int, r: Int, size: Double): (Double, Double) = {
    val c = GeoKernels.hexCenter(q, r, size)
    (c.getDouble(0), c.getDouble(1))
  }

  test("hexBin(hexCenter(q, r)) is the identity") {
    val size = 1000.0
    for (q <- -12 to 12; r <- -12 to 12) {
      val (x, y) = center(q, r, size)
      assert(bin(x, y, size) == (q, r), s"round-trip failed at ($q, $r)")
    }
  }

  test("hexRing yields 3n(n+1)+1 distinct cells within cube distance n") {
    for (n <- 0 to 4) {
      val a = GeoKernels.hexRing(3, -2, n)
      val cells = (0 until a.numElements()).map { i =>
        val s = a.getStruct(i, 2); (s.getInt(0), s.getInt(1))
      }
      assert(cells.length == 3 * n * (n + 1) + 1)
      assert(cells.distinct.length == cells.length)
      cells.foreach { case (q, r) =>
        val (dq, dr) = (q - 3, r + 2)
        val cube = (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
        assert(cube <= n)
      }
    }
  }

  test("cube rounding assigns each point to its nearest hex center") {
    val size = 500.0
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val x = (rnd.nextDouble() - 0.5) * 20000
      val y = (rnd.nextDouble() - 0.5) * 20000
      val (q, r) = bin(x, y, size)
      val (cx, cy) = center(q, r, size)
      val dHome = math.hypot(x - cx, y - cy)
      // nearest among the 2-ring neighborhood of the assigned hex
      val ring = GeoKernels.hexRing(q, r, 2)
      (0 until ring.numElements()).foreach { i =>
        val s = ring.getStruct(i, 2)
        val (ox, oy) = center(s.getInt(0), s.getInt(1), size)
        val d = math.hypot(x - ox, y - oy)
        assert(dHome <= d + 1e-9,
          s"($x, $y) assigned to ($q, $r) at $dHome but (${s.getInt(0)}, ${s.getInt(1)}) is at $d")
      }
    }
  }

  test("hex expressions run inside codegen plans and match the kernels") {
    val df = spark.range(0, 400)
      .select((col("id") * 131 % 4000 - 2000 + 0.25).cast("double").as("x"),
        (col("id") * 97 % 4000 - 2000 + 0.5).cast("double").as("y"))
      .withColumn("hex", GeoFunctions.hexBin($"x", $"y", lit(300.0)))
      .withColumn("c", GeoFunctions.hexCenter($"hex.q", $"hex.r", lit(300.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
    df.select($"x", $"y", $"hex.q", $"hex.r", $"c.x", $"c.y").collect().foreach { r =>
      val (q, rr) = bin(r.getDouble(0), r.getDouble(1), 300.0)
      assert(r.getInt(2) == q && r.getInt(3) == rr)
      val (cx, cy) = center(q, rr, 300.0)
      assert(r.getDouble(4) == cx && r.getDouble(5) == cy)
    }
  }

  test("hexKnnJoin matches brute-force top-k on dense data") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 3000).map { i =>
      (i.toLong, 139.5 + rnd.nextDouble() * 0.4, 35.5 + rnd.nextDouble() * 0.4)
    }
    val points = pts.toDF("point_id", "lon", "lat")
    val queries = (0 until 8).map { i =>
      (i.toLong, 139.6 + i * 0.02, 35.62 + i * 0.015)
    }.toDF("q_id", "lon", "lat")

    val got = SpatialJoins.hexKnnJoin(queries, points, k = 4,
      sizeM = 2000.0, rings = 3)
      .select("q_id", "point_id", "rnk").as[(Long, Long, Int)]
      .collect().toSet

    val g = graft.core.Geodesic.WGS84
    val want = (0 until 8).flatMap { qi =>
      val (qid, qlon, qlat) = (qi.toLong, 139.6 + qi * 0.02, 35.62 + qi * 0.015)
      pts.map { case (pid, plon, plat) =>
        (pid, g.distance(qlat, qlon, plat, plon))
      }.sortBy { case (pid, d) => (d, pid) }.take(4).zipWithIndex.map {
        case ((pid, _), idx) => (qid, pid, idx + 1)
      }
    }.toSet
    assert(got == want)
  }

  test("hexKnnJoin adaptive expansion is exact where fixed rings are wrong") {
    // dense cloud near (139.7, 35.7) plus one planted point ~8 km from the
    // sparse query; all true neighbors of the sparse query lie far outside
    // its 2-ring reach at sizeM=500
    val rnd = new scala.util.Random(23)
    val pts = (0 until 2000).map { i =>
      (i.toLong, 139.6 + rnd.nextDouble() * 0.2, 35.6 + rnd.nextDouble() * 0.2)
    } :+ (2000L, 139.35, 35.35) // nearest to the sparse query, still ~8 km
    val points = pts.toDF("point_id", "lon", "lat")
    val queries = Seq((0L, 139.7, 35.7), (1L, 139.3, 35.3))
      .toDF("q_id", "lon", "lat")

    val g = graft.core.Geodesic.WGS84
    def brute(k: Int): Set[(Long, Long, Int)] =
      Seq((0L, 139.7, 35.7), (1L, 139.3, 35.3)).flatMap { case (qid, qlon, qlat) =>
        pts.map { case (pid, plon, plat) =>
          (pid, g.distance(qlat, qlon, plat, plon))
        }.sortBy { case (pid, d) => (d, pid) }.take(k).zipWithIndex.map {
          case ((pid, _), idx) => (qid, pid, idx + 1)
        }
      }.toSet

    // fixed 2 rings: the sparse query's candidate set is empty or wrong
    val fixed = SpatialJoins.hexKnnRound(queries, points, k = 3,
      sizeM = 500.0, rings = 2)
      .select("q_id", "point_id", "rnk").as[(Long, Long, Int)]
      .collect().toSet
    assert(fixed != brute(3), "fixed rings should be wrong for the sparse query")

    // adaptive: exact for both, including the planted distant neighbor
    val adaptiveRes = SpatialJoins.hexKnnJoin(queries, points, k = 3,
      sizeM = 500.0, rings = 2)
      .select("q_id", "point_id", "rnk").as[(Long, Long, Int)]
      .collect().toSet
    assert(adaptiveRes == brute(3))
  }

  /** Spark jobs started while `body` runs. A listener counts job starts
    * between a start and an end marker job; the listener bus delivers
    * events in order, so when the end marker arrives every job of `body`
    * has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("jobsOf")).orNull match {
          case "start" => counting = true
          case "end" => ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(phase: String): Unit = {
      sc.setLocalProperty("jobsOf", phase)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("jobsOf", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("hexKnnJoin runs a number of jobs linear in its ring doublings") {
    // a dense cloud and one query ~4.5 km west of it: at sizeM=500 its
    // 3rd neighbor is provably exact only at 16 rings, the 4th round
    val rnd = new scala.util.Random(5)
    val pts = (0 until 2000).map { i =>
      (i.toLong, 139.6 + rnd.nextDouble() * 0.2, 35.6 + rnd.nextDouble() * 0.2)
    }
    val qs = Seq((0L, 139.7, 35.7), (1L, 139.55, 35.7))
    val (k, sizeM) = (3, 500.0)
    val g = graft.core.Geodesic.WGS84
    val want = qs.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, plon, plat) => (pid, g.distance(qlat, qlon, plat, plon)) }
        .sortBy { case (pid, d) => (d, pid) }.take(k).zipWithIndex.map {
          case ((pid, d), idx) => (qid, qlat, pid, idx + 1, d)
        }
    }
    // the round that proves a query exact, by hexKnnJoin's contract
    def roundsFor(qlat: Double, kth: Double): Int =
      Iterator.iterate(2)(_ * 2).indexWhere { r =>
        val padDeg = math.toDegrees((r + 2) * math.sqrt(3.0) * sizeM / 6378137.0)
        kth <= (r - 0.5) * sizeM * math.cos(math.toRadians(math.min(89.5, qlat.abs + padDeg)))
      } + 1
    val rounds = want.filter(_._4 == k).map(w => roundsFor(w._2, w._5)).max
    assert(rounds == 4)

    val points = pts.toDF("point_id", "lon", "lat")
    val queries = qs.toDF("q_id", "lon", "lat")
    var got = Set.empty[(Long, Long, Int)]
    val jobs = jobsOf {
      got = SpatialJoins.hexKnnJoin(queries, points, k = k, sizeM = sizeM, rings = 2)
        .select("q_id", "point_id", "rnk").as[(Long, Long, Int)]
        .collect().toSet
    }
    assert(got == want.map(w => (w._1, w._3, w._4)).toSet)
    info(s"$jobs jobs for $rounds rounds")
    // a round runs 6 jobs: the ranked rows' checkpoint (query broadcast,
    // window shuffle, result), the pending set's checkpoint (id broadcast,
    // result) and its emptiness test; the bound leaves one spare a round.
    // A loop whose rounds re-run earlier rounds grows with their square.
    assert(jobs <= 7 * rounds + 2, s"$jobs jobs for $rounds rounds")
  }

  test("globalHexCell (isea + hex bin) is deterministic and spreads cells") {
    val df = spark.range(0, 2000)
      .select((col("id") * 7 % 360 - 180 + 0.5).cast("double").as("lon"),
        (col("id") * 3 % 160 - 80 + 0.25).cast("double").as("lat"))
      .withColumn("hex", GeoFunctions.globalHexCell($"lon", $"lat", lit(100000.0)))
      .select($"lon", $"lat", $"hex.q", $"hex.r")
    val rows = df.collect()
    assert(rows.length == 2000)
    // equal-area substrate: the lattice has lcm(360,160) = 1440 distinct
    // coordinate pairs; at 100 km hexes nearly every one gets its own cell
    val byCell = rows.groupBy(r => (r.getInt(2), r.getInt(3)))
    assert(byCell.size > 1400, s"only ${byCell.size} distinct cells")
    assert(byCell.values.map(_.length).max <= 4)
    // deterministic across plans
    val again = df.collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("graft_hex_* SQL functions reach the kernels") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_hex_bin(352100.5, -128300.25, 1000.0) AS h, " +
        "graft_hex_center(4, -3, 1000.0) AS c, " +
        "size(graft_hex_ring(0, 0, 2)) AS nring").head()
    val h = r.getStruct(0)
    assert((h.getInt(0), h.getInt(1)) == bin(352100.5, -128300.25, 1000.0))
    val c = r.getStruct(1)
    assert((c.getDouble(0), c.getDouble(1)) == center(4, -3, 1000.0))
    assert(r.getInt(2) == 19)
  }
}
