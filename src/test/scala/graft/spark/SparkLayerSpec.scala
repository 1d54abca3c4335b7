package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Coord, Geodesic, GeoMath}
import graft.proj.{Dispatch, Proj}

/** End-to-end Spark-layer tests: expressions inside real plans (codegen),
  * spatial joins vs brute-force oracles, span-sequence invariant, dedup/ANN
  * verification. One shared session, local[4]. */
class SparkLayerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("ProjTransformExpr matches the direct kernel inside codegen plans") {
    val pts = Seq((12.0, 56.0), (2.0, 1.0), (-73.0, 40.7), (139.7, 35.7))
    val df = pts.toDF("lon", "lat")
      .withColumn("utm", ProjFunctions.projTrans2(col("lon"), col("lat"),
        "proj=utm zone=32 ellps=GRS80"))
      .select($"lon", $"lat", $"utm.x", $"utm.y", $"utm.err")
    val rows = df.collect()
    for (r <- rows) {
      val pj = Proj.create("proj=utm zone=32 ellps=GRS80")
      val c = new Coord
      c.set(math.toRadians(r.getDouble(0)), math.toRadians(r.getDouble(1)), 0, 0)
      Dispatch.trans(pj, forward = true, c)
      assert(math.abs(r.getDouble(2) - c.x) < 1e-9)
      assert(math.abs(r.getDouble(3) - c.y) < 1e-9)
      assert(r.getInt(4) == 0)
    }
    // reference value from builtins.gie:7765
    val r0 = rows.find(_.getDouble(0) == 12.0).get
    assert(math.abs(r0.getDouble(2) - 687071.43910944) < 1e-6)
  }

  test("s2_cell expression equals the scala index; plan stays codegen'd") {
    val df = spark.range(0, 500)
      .select((col("id") * 7 % 360 - 180 + 0.5).cast("double").as("lon"),
        (col("id") * 3 % 160 - 80 + 0.25).cast("double").as("lat"))
      .withColumn("cell", GeoFunctions.s2Cell($"lon", $"lat", lit(10)))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
    df.collect().foreach { r =>
      assert(r.getLong(2) ==
        graft.index.S2CellId.cellId(r.getDouble(0), r.getDouble(1), 10))
    }
  }

  test("docs generator is deterministic and anchor extraction preserves spans") {
    val d1 = DocsTable.spanChecksum(DocsTable.withAnchor(DocsTable.docs(spark, 300)))
    val d2 = DocsTable.spanChecksum(DocsTable.withAnchor(DocsTable.docs(spark, 300)))
    val c1 = d1.select("doc_id", "span_ck").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val c2 = d2.select("doc_id", "span_ck").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(c1 == c2)
    // anchors parse for ~94% of docs; rest flow through with null lon
    val n = d1.count()
    val withGeo = d1.where($"lon".isNotNull).count()
    assert(withGeo > 0.8 * n && withGeo < n)
    // the anchor columns do not perturb the span checksum
    val after = DocsTable.spanChecksum(d1.drop("span_ck"))
      .select("doc_id", "span_ck").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after == c1)
  }

  test("pipJoin matches brute-force ray-cast membership") {
    val docs = DocsTable.withAnchor(DocsTable.docs(spark, 2000))
      .where($"lon".isNotNull)
      .select($"doc_id".as("point_id"), $"lon", $"lat")
    val zones = DocsTable.zones(spark)
    val got = SpatialJoins.pipJoin(docs, zones, level = 10)
      .select("point_id", "zone_id").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // brute force oracle
    val zoneRows = zones.select("zone_id", "ring").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val pts = docs.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = (for {
      (pid, lon, lat) <- pts
      (zid, ring) <- zoneRows
      if rayCast(lon, lat, ring)
    } yield (pid, zid)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "oracle produced no matches — fixture broken")
  }

  test("pipJoin keeps the points' own cell column") {
    // level-12 cells joined at level 10: the join key must not replace them
    val docs = DocsTable.withAnchor(DocsTable.docs(spark, 2000))
      .where($"lon".isNotNull)
      .select($"doc_id".as("point_id"), $"lon", $"lat",
        GeoFunctions.s2Cell($"lon", $"lat", lit(12)).as("cell"))
    val want = docs.select("point_id", "cell").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SpatialJoins.pipJoin(docs, DocsTable.zones(spark), level = 10)
      .select("point_id", "cell").collect()
    assert(got.nonEmpty, "no point joined a zone — fixture broken")
    val moved = got.count(r => r.getLong(1) != want(r.getString(0)))
    assert(moved == 0, s"$moved of ${got.length} joined points lost their own cell")
  }

  private def rayCast(lon: Double, lat: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    var inside = false
    var i = 0; var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if (((yi > lat) != (yj > lat)) && (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi))
        inside = !inside
      j = i; i += 1
    }
    inside
  }

  test("pipJoin scales to 10k polygons without a driver collect (shuffle path)") {
    // 10k small boxes generated distributively; covers built executor-side
    val zones = spark.range(0, 10000).select(
      $"id".cast("int").as("zone_id"),
      (($"id" * 131 % 3000) / 10.0 - 150.0 + 0.05).as("zlon"),
      (($"id" * 67 % 1400) / 10.0 - 70.0 + 0.03).as("zlat"),
      (lit(0.1) + ($"id" % 9) * 0.1).as("half"))
      .withColumn("ring", array(
        $"zlon" - $"half", $"zlat" - $"half",
        $"zlon" + $"half", $"zlat" - $"half",
        $"zlon" + $"half", $"zlat" + $"half",
        $"zlon" - $"half", $"zlat" + $"half"))
      .drop("half")
    val points = spark.range(0, 500).select(
      $"id".as("point_id"),
      (($"id" * 37 % 3600) / 10.0 - 180.0 + 0.021).as("lon"),
      (($"id" * 53 % 1600) / 10.0 - 80.0 + 0.013).as("lat"))
    val joined = SpatialJoins.pipJoin(points, zones, level = 8, broadcastZones = false)
    // no collect happened on the driver: the plan has no LocalTableScan of
    // covers; the join input is the exploded cover of the zones scan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"expected executor-side cover explode in plan:\n$plan")
    val got = joined.select("point_id", "zone_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val zoneRows = zones.select("zone_id", "ring").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val pts = points.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = (for {
      (pid, lon, lat) <- pts
      (zid, ring) <- zoneRows
      if rayCast(lon, lat, ring)
    } yield (pid, zid)).toSet
    assert(want.nonEmpty, "fixture produced no containments")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("knnJoin (cell rings + Karney) matches brute force on dense data") {
    val docs = DocsTable.withAnchor(DocsTable.docs(spark, 3000))
      .where($"lon".isNotNull)
      .select($"doc_id".as("point_id"), $"lon", $"lat")
    val (mname, mlon, mlat) = DocsTable.metros(0)
    val q = spark.range(0, 5).select(
      $"id".as("q_id"),
      (lit(mlon) + ($"id" % 5) * 0.03).as("lon"),
      (lit(mlat) + ($"id" % 3) * 0.03).as("lat"))
    val got = SpatialJoins.knnJoin(q, docs, k = 3, level = 10, rings = 3)
      .select("q_id", "point_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // brute force with the same scorer
    val pts = docs.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val qs = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val g = Geodesic.WGS84
    val want = qs.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, plon, plat) => (qid, pid, g.distance(qlat, qlon, plat, plon)) }
        .sortBy(t => (t._3, t._2)).take(3).zipWithIndex
        .map { case ((_, pid, _), i) => (qid, pid, i + 1) }
    }.toSet
    assert(got == want, s"got=${got.toSeq.sortBy(t => (t._1, t._3))}\nwant=${want.toSeq.sortBy(t => (t._1, t._3))}")
  }

  test("asofJoin matches a brute-force latest-state-at-time oracle") {
    val events = spark.range(0, 500).select(
      $"id".as("event_id"),
      ($"id" % 23).as("uid"),
      ($"id" * 37 % 1000).as("t"))
    val states = spark.range(0, 23).select($"id".as("uid"))
      .withColumn("k", explode(sequence(lit(0), lit(4))))
      .select($"uid", ($"k" * 150 + $"uid" % 7).as("vf"), ($"uid" + $"k").as("st"))
    val got = TemporalJoins.asofJoin(events, states, "uid", "t", "vf")
      .select("event_id", "st", "vf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val evRows = events.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val stRows = states.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = evRows.flatMap { case (eid, uid, t) =>
      val cand = stRows.filter(s => s._1 == uid && s._2 <= t)
      if (cand.isEmpty) None
      else { val best = cand.maxBy(_._2); Some((eid, best._3, best._2)) }
    }.toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // single shuffle on the key: exactly one Exchange below the window
    val plan = TemporalJoins.asofJoin(events, states, "uid", "t", "vf")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "window-based carry-forward expected")
  }

  test("minhash LSH near-dups are confirmed by exact n-gram Jaccard") {
    // corpus with planted near-duplicates
    val base = (0 until 60).map(i =>
      (s"doc_$i", s"the quick brown fox jumps over the lazy dog number $i end of text"))
    val nearDups = (0 until 20).map(i =>
      (s"dup_$i", s"the quick brown fox jumps over the lazy dog number $i end of line"))
    val df = (base ++ nearDups).toDF("doc_id", "text")
    val pairs = TrainingOps.minhashDedupShared(df, "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.4)
    val verified = pairs
      .join(df.select($"doc_id".as("doc_a"), $"text".as("ta")), "doc_a")
      .join(df.select($"doc_id".as("doc_b"), $"text".as("tb")), "doc_b")
      .withColumn("jac", TrainingOps.ngramJaccard($"ta", $"tb"))
    val rows = verified.select("doc_a", "doc_b", "jac").collect()
    assert(rows.nonEmpty, "LSH found no candidate pairs")
    // every doc_i/dup_i pair should be found (true Jaccard ~0.8)
    val found = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val expectedHits = (0 until 20).count(i =>
      found.contains((s"doc_$i", s"dup_$i")) || found.contains((s"dup_$i", s"doc_$i")))
    assert(expectedHits >= 18, s"only $expectedHits/20 planted near-dups found")
    assert(rows.forall(_.getDouble(2) > 0.3))
  }

  test("ANN LSH recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" < 5)
    val brute = TrainingOps.annBruteForce(q, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TrainingOps.annLshShared(q, emb, k = 5, planes = 4, tables = 12)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall") // 12 tables x 4 planes
    assert(lsh.nonEmpty)
  }

  test("ANN IVF (k-means refined) recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" < 5)
    val brute = TrainingOps.annBruteForce(q, emb, k = 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = TrainingOps.annIvf(q, emb, k = 5, nlist = 8, nprobe = 4, iters = 2)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall") // probing half the lists
    assert(ivf.nonEmpty)
  }

  test("rangePartitionByCell yields non-overlapping contiguous cell ranges") {
    val pts = spark.range(0, 5000)
      .select((col("id") * 7 % 360 - 180 + 0.5).cast("double").as("lon"),
        (col("id") * 3 % 160 - 80 + 0.25).cast("double").as("lat"))
      .withColumn("cell", GeoFunctions.s2Cell($"lon", $"lat", lit(10)))
    val parted = SpatialJoins.rangePartitionByCell(pts, 8)
    assert(parted.queryExecution.sparkPlan.toString.contains("rangepartitioning"),
      "expected a range exchange")
    val ranges = parted
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("pid").agg(min($"cell").as("lo"), max($"cell").as("hi"))
      .orderBy("lo").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"overlapping partitions: $hi1 > $lo2")
    }
  }

  test("scrubPii redacts emails, phones and long ids; leaves prose alone") {
    val got = Seq(
      "mail bob.smith+x@corp.example.co or call +1-202-555-0147 ref 1234567",
      "plain text, short number 12345, year 2024 stays",
      "released 2024-08-17, range 01-02-2024 kept; serial 987654321 not").toDF("t")
      .select(TrainingOps.scrubPii($"t")).as[String].collect()
    // 6+ digit bare runs -> <NUM>; >= 11-char digit/dash runs -> <PHONE>;
    // ISO/euro dates are 10 chars and survive
    assert(got(0) == "mail <EMAIL> or call <PHONE> ref <NUM>")
    assert(got(1) == "plain text, short number 12345, year 2024 stays")
    assert(got(2) == "released 2024-08-17, range 01-02-2024 kept; serial <NUM> not")
  }

  test("sessionize splits on gaps > threshold, one session otherwise") {
    val ev = Seq(
      (1L, 0L, 100L), (2L, 60L, 100L), (3L, 2000L, 100L), (4L, 2100L, 100L),
      (5L, 0L, 200L))
      .toDF("event_id", "t", "user_id")
    val got = graft.spark.TemporalJoins
      .sessionize(ev, "user_id", "t", gapSeconds = 1800, tieCol = "event_id")
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
    // native timestamp columns work too (cast to epoch seconds internally)
    val tsEv = ev.withColumn("t", col("t").cast("timestamp"))
    val got2 = graft.spark.TemporalJoins
      .sessionize(tsEv, "user_id", "t", gapSeconds = 1800, tieCol = "event_id")
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got2 == got)
  }

  test("withChunks windows reassemble to the original text") {
    val docs = Seq(
      (1L, "a" * 200), (2L, new scala.util.Random(42).alphanumeric.take(157).mkString),
      (3L, "short"), (4L, "x" * 64), (5L, "y" * 65), (6L, "")).toDF("doc_id", "text")
    val size = 64; val overlap = 16; val stride = size - overlap
    val rows = TrainingOps.withChunks(docs, size, overlap)
      .select("doc_id", "chunk_idx", "chunk").collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(6L), "empty doc must yield no chunks")
    for ((id, text) <- texts if text.nonEmpty) {
      val cs = rows(id)
      // every chunk except the last is full-size; each starts at i*stride
      cs.init.foreach(c => assert(c.length == size))
      val rebuilt = cs.init.map(_.take(stride)).mkString + cs.last
      assert(rebuilt == text, s"doc $id reassembly failed")
      // neighbor overlap is literal shared text
      cs.sliding(2).foreach {
        case Seq(a, b) => assert(a.drop(stride) == b.take(a.length - stride))
        case _ =>
      }
    }
  }

  test("cosine defines zero-norm similarity as 0 (no ANSI divide-by-zero)") {
    val df = Seq(
      (Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0))).toDF("a", "b")
      .select(TrainingOps.cosine($"a", $"b").as("cos"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(0.0, 1.0))
  }

  test("geodesicWaypoints densifies the line at equal distance steps") {
    val df = Seq((2.0, 1.0, 100.0, 60.0)).toDF("lon1", "lat1", "lon2", "lat2")
      .select(GeoFunctions.geodesicWaypoints(
        $"lon1", $"lat1", $"lon2", $"lat2", lit(8)).as("wps"))
    val wps = df.head().getAs[scala.collection.Seq[Double]]("wps")
    assert(wps.length == 18)
    assert(wps(0) == 2.0 && wps(1) == 1.0 && wps(16) == 100.0 && wps(17) == 60.0)
    val g = graft.core.Geodesic.WGS84
    val total = g.distance(1.0, 2.0, 60.0, 100.0)
    for (k <- 1 until 8) {
      val d = g.distance(1.0, 2.0, wps(2 * k + 1), wps(2 * k))
      assert(math.abs(d - total * k / 8) < 1e-6 * total,
        s"waypoint $k at $d, want ${total * k / 8}")
    }
  }

  test("entry smoke: north-star pipeline yields rows") {
    val n = graft.SparkEntry.entry(spark).count()
    assert(n > 0)
  }
}
