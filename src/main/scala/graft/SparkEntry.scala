package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.DriverQuery.{Headline, Round5}
import graft.spark.{DocsTable, GeoFunctions, ProjFunctions, SpatialJoins, TrainingOps}

/** One driver query: the builder that runs it over the tables in a scale
  * factor directory, the DuckDB SQL its rows are hash-compared against
  * (cross-engine mirrored formulas live in OracleSql), the properties
  * PlanCheckSpec asserts of its executed plan (label, predicate over the
  * plan string) and the Bench set it is timed in. */
final case class DriverQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    planWants: Seq[(String, String => Boolean)] = Nil,
    bench: DriverQuery.BenchSet = DriverQuery.NotBenched)

object DriverQuery {
  /** Bench's `total` spans the `Headline` set; `total_with_r5_ops` adds the
    * `Round5` set, kept apart so cross-round totals stay comparable. */
  sealed trait BenchSet
  case object NotBenched extends BenchSet
  case object Headline extends BenchSet
  case object Round5 extends BenchSet
}

/** Driver contract: one `DriverQuery` per operator family (SURVEY.md §2 +
  * the training-data pipeline ops), read by the driver through `queries`
  * and `oracleSql`. Column names are aligned 1:1 between the Spark plans
  * and the DuckDB SQL — the driver's compare sorts columns by name before
  * hashing.
  *
  * Geo queries derive deterministic lon/lat from table keys with integer
  * arithmetic that DuckDB reproduces bit-for-bit, then compare our Catalyst
  * kernels against closed-form SQL (webmerc/tile/UTM-zone/haversine mathematically
  * identical formulas). Continuous outputs are quantized to integer
  * millimetres so cross-engine libm ulp differences cannot flip the hash.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** unique memory-sink names across invocations in one JVM. */
  private val streamDedupRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** memoized table row count (used for density-adaptive plan choices —
    * re-invoking a query builder must not re-pay a count job). */
  private val tableCounts = scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private def countOf(s: SparkSession, dir: String, name: String): Long =
    tableCounts.getOrElseUpdate((dir, name), t(s, dir, name).count())

  /** deterministic synthetic lon/lat from an integer key (same arithmetic
    * in the oracle SQL). */
  private def lonOf(key: Column): Column = (key * 73 % 360) - 180 + lit(0.5)
  private def latOf(key: Column): Column = (key * 37 % 160) - 80 + lit(0.25)

  private def custPoints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(
      col("c_custkey").as("point_id"),
      lonOf(col("c_custkey")).cast("double").as("lon"),
      latOf(col("c_custkey")).cast("double").as("lat"))

  /** The kNN queries' inputs: a dense customer-derived point lattice near
    * Tokyo (16 per customer, integer arithmetic DuckDB replicates
    * bit-for-bit), and 20 queries that sit off-lattice so no pair is
    * coincident. */
  private def tokyoLattice(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pts = t(s, dir, "customer")
      .select(col("c_custkey"), explode(sequence(lit(0), lit(15))).as("j"))
      .select((col("c_custkey") * 16 + col("j")).as("point_id"))
      .select(col("point_id"),
        (lit(139.49) + (col("point_id") * 193 % 4000) * 0.0001).as("lon"),
        (lit(35.49) + (col("point_id") * 149 % 4000) * 0.0001).as("lat"))
    val q = s.range(0, 20).select(
      col("id").as("q_id"),
      (lit(139.59005) + (col("id") * 37 % 100) * 0.001031).as("lon"),
      (lit(35.59005) + (col("id") * 59 % 100) * 0.001073).as("lat"))
    (pts, q)
  }

  /** integer-millimetre quantization (ulp-safe cross-engine compare). */
  private def mm(c: Column): Column = round(c * 1000).cast("long")

  /** order-independent aggregate: quantize PER ROW (exact in both engines
    * for the testdata's <=2-decimal money columns), then sum integers —
    * summing doubles first is partial-agg-order-dependent and flipped a
    * 1 mm rounding boundary at sf0.1. */
  private def mmSum(c: Column): Column = sum(round(c * 1000).cast("long"))

  // ---------------------------------------------------------------- entry

  /** Flagship: reproject every doc's geo-anchor into its own inferred UTM
    * zone CRS (per-row zone dispatch), assign S2 cells + web-mercator tiles,
    * and join against the metro polygon set — the full north-star pipeline
    * on sf0.001-sized docs. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = DocsTable.withAnchor(DocsTable.docs(spark, 2000))
      .where(col("lon").isNotNull)
    val utm = docs
      .withColumn("utm", ProjFunctions.utmNative(col("lon"), col("lat")))
    val cells = utm.withColumn("cell",
      GeoFunctions.s2Cell(col("lon"), col("lat"), lit(12)))
      .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(12)))
      .withColumn("hex",
        GeoFunctions.globalHexCell(col("lon"), col("lat"), lit(100000.0)))
    SpatialJoins.pipJoin(cells, DocsTable.zones(spark), level = 10)
      .select(col("doc_id"), col("zone_id"), col("utm.zone").as("utm_zone"),
        col("utm.x").as("utm_x"), col("utm.y").as("utm_y"),
        col("cell"), col("tile"), col("hex.q").as("hex_q"),
        col("hex.r").as("hex_r"))
  }

  // ---------------------------------------------------------------- queries

  val driverQueries: Seq[DriverQuery] = Seq(
    // ---- relational plumbing (Catalyst does the heavy lifting) ----
    DriverQuery("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          mmSum(col("l_quantity")).as("sum_qty"),
          mmSum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity*1000) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*1000) AS BIGINT)) AS BIGINT) AS sum_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
      planWants = Seq(
        "parquet scan with ReadSchema" -> (_.contains("ReadSchema")),
        "partial aggregation (map-side combine)" -> (p => p.contains("partial") || p.contains("HashAggregate")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("q3_join", (s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(mmSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(20)
    }, oracle =
      """SELECT o_orderkey,
         CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1000) AS BIGINT)) AS BIGINT) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment='BUILDING' AND c_custkey=o_custkey AND o_orderkey=l_orderkey
         GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 20""",
      planWants = Seq(
        "broadcast join for small side" -> (_.contains("BroadcastHashJoin")),
        "pushed filters reach scan" -> (_.contains("PushedFilters: [")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("q_window", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), mm(col("o_totalprice")).as("price_mm"), col("rnk"))
    }, oracle =
      """SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice*1000) AS BIGINT) AS price_mm, rnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders) WHERE rnk <= 3""",
      bench = Headline),

    DriverQuery("q_anti", (s, dir) => {
      // customers with no high-value order (non-trivial anti-join)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
         ORDER BY c_custkey"""),

    DriverQuery("q_events", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), mmSum(col("value")).as("sum_value_mm"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS sum_value_mm
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ---- coordinate kernels vs closed-form SQL ----
    DriverQuery("geo_utm_zone", (s, dir) => {
      custPoints(s, dir)
        .withColumn("utm_zone", GeoFunctions.utmZone(col("lon")))
        .groupBy(col("utm_zone")).agg(count(lit(1)).as("n"))
        .orderBy("utm_zone")
    }, oracle =
      """SELECT CAST(LEAST(GREATEST(floor((((c_custkey*73)%360)-180+0.5+180)/6),0),59)+1 AS INT) AS utm_zone,
         count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1""",
      planWants = Seq(
        "no shuffle for per-row transform" -> (p => !p.contains("Exchange") || p.contains("HashAggregate")))),

    DriverQuery("geo_utm_native", (s, dir) => {
      // per-row zone inference driving the transform: each point lands in
      // its OWN zone's CRS (120 precompiled pipelines, selected per row);
      // oracle recomputes zone + Krueger series easting/northing in SQL
      custPoints(s, dir)
        .withColumn("utm", ProjFunctions.utmNative(col("lon"), col("lat")))
        .select(col("point_id"), col("utm.zone").as("zone"),
          mm(col("utm.x")).as("x_mm"), mm(col("utm.y")).as("y_mm"))
    }, oracle = OracleSql.geoUtmNative,
      planWants = Seq(
        "no shuffle for per-row zone dispatch" -> (p => !p.contains("Exchange") || p.contains("TakeOrdered"))),
      bench = Headline),

    DriverQuery("geo_webmerc", (s, dir) => {
      custPoints(s, dir)
        .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"),
          "proj=webmerc ellps=WGS84"))
        .select(col("point_id"),
          mm(col("wm.x")).as("x_mm"),
          mm(col("wm.y")).as("y_mm"))
    }, oracle =
      """SELECT c_custkey AS point_id,
         CAST(round(6378137.0*radians(((c_custkey*73)%360)-180+0.5)*1000) AS BIGINT) AS x_mm,
         CAST(round(6378137.0*ln(tan(pi()/4+radians(((c_custkey*37)%160)-80+0.25)/2))*1000) AS BIGINT) AS y_mm
         FROM customer""",
      bench = Headline),

    DriverQuery("geo_tile", (s, dir) => {
      custPoints(s, dir)
        .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(8)))
        .select(col("point_id"),
          shiftright(col("tile"), 29).bitwiseAND(lit((1L << 29) - 1)).as("tile_x"),
          col("tile").bitwiseAND(lit((1L << 29) - 1)).as("tile_y"))
    }, oracle =
      """SELECT c_custkey AS point_id,
         CAST(LEAST(GREATEST(floor(((((c_custkey*73)%360)-180+0.5)+180)/360*256),0),255) AS BIGINT) AS tile_x,
         CAST(LEAST(GREATEST(floor((1 - ln(tan(radians(((c_custkey*37)%160)-80+0.25)) + 1/cos(radians(((c_custkey*37)%160)-80+0.25)))/pi())/2*256),0),255) AS BIGINT) AS tile_y
         FROM customer"""),

    DriverQuery("geo_tile_agg", (s, dir) => {
      // raster-tile <-> vector assignment: per-tile point counts at z6
      custPoints(s, dir)
        .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(6)))
        .groupBy(col("tile")).agg(count(lit(1)).as("n"))
        .select(shiftright(col("tile"), 29).bitwiseAND(lit((1L << 29) - 1)).as("tile_x"),
          col("tile").bitwiseAND(lit((1L << 29) - 1)).as("tile_y"), col("n"))
    }, oracle =
      """SELECT tile_x, tile_y, count(*) AS n FROM (
           SELECT
             CAST(LEAST(GREATEST(floor(((((c_custkey*73)%360)-180+0.5)+180)/360*64),0),63) AS BIGINT) AS tile_x,
             CAST(LEAST(GREATEST(floor((1 - ln(tan(radians(((c_custkey*37)%160)-80+0.25)) + 1/cos(radians(((c_custkey*37)%160)-80+0.25)))/pi())/2*64),0),63) AS BIGINT) AS tile_y
           FROM customer)
         GROUP BY 1,2""",
      bench = Headline),

    DriverQuery("geo_pip", (s, dir) => {
      // point-in-polygon via S2 cover + exact ray-cast, vs SQL bbox test
      val zones = DocsTable.zones(s, halfDeg = 8.0)
      SpatialJoins.pipJoin(custPoints(s, dir), zones, level = 6)
        .select(col("point_id"), col("zone_id"))
        .orderBy("point_id", "zone_id")
    }, oracle =
      """WITH pts AS (
           SELECT c_custkey AS point_id,
             (((c_custkey*73)%360)-180+0.5)::DOUBLE AS lon,
             (((c_custkey*37)%160)-80+0.25)::DOUBLE AS lat
           FROM customer),
         zones(zone_id, zlon, zlat) AS (VALUES
           (0, 139.69, 35.69), (1, 77.10, 28.70), (2, -46.63, -23.55),
           (3, 3.38, 6.52), (4, -74.01, 40.71))
         SELECT point_id, zone_id FROM pts, zones
         WHERE lon > zlon-8.0 AND lon < zlon+8.0
           AND lat > zlat-8.0 AND lat < zlat+8.0
         ORDER BY point_id, zone_id""",
      planWants = Seq(
        "broadcast of polygon cover" -> (_.contains("Broadcast")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("geo_knn", (s, dir) => {
      // 10 fixed queries, top-5 by haversine (SQL-replicable brute force)
      val q = s.range(1, 11).select(
        col("id").as("q_id"),
        (col("id") * 31 % 360 - 180 + lit(0.5)).cast("double").as("q_lon"),
        (col("id") * 17 % 160 - 80 + lit(0.25)).cast("double").as("q_lat"))
      val p = custPoints(s, dir)
      val joined = p.crossJoin(broadcast(q))
      val hav = {
        val dlat = radians(col("lat") - col("q_lat")) / 2
        val dlon = radians(col("lon") - col("q_lon")) / 2
        val a = pow(sin(dlat), 2) +
          cos(radians(col("q_lat"))) * cos(radians(col("lat"))) * pow(sin(dlon), 2)
        lit(2.0 * 6371000.0) * asin(sqrt(a))
      }
      val w = Window.partitionBy(col("q_id")).orderBy(col("dist_m"), col("point_id"))
      joined.withColumn("dist_m", hav)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("q_id"), col("point_id"), col("rnk"))
    }, oracle =
      """WITH q AS (
           SELECT id AS q_id,
             ((id*31)%360-180+0.5)::DOUBLE AS q_lon,
             ((id*17)%160-80+0.25)::DOUBLE AS q_lat
           FROM range(1, 11) t(id)),
         pts AS (
           SELECT c_custkey AS point_id,
             (((c_custkey*73)%360)-180+0.5)::DOUBLE AS lon,
             (((c_custkey*37)%160)-80+0.25)::DOUBLE AS lat
           FROM customer),
         scored AS (
           SELECT q_id, point_id,
             2*6371000.0*asin(sqrt(
               pow(sin(radians(lat-q_lat)/2),2) +
               cos(radians(q_lat))*cos(radians(lat))*pow(sin(radians(lon-q_lon)/2),2))) AS dist_m
           FROM pts, q)
         SELECT q_id, point_id, rnk FROM (
           SELECT q_id, point_id,
             row_number() OVER (PARTITION BY q_id ORDER BY dist_m, point_id) AS rnk
           FROM scored) WHERE rnk <= 5""",
      planWants = Seq(
        "ring-cell equi-join" -> (p => p.contains("Join") || p.contains("join")),
        "windowed top-k" -> (_.contains("Window")))),

    DriverQuery("geo_knn_geodesic", (s, dir) => {
      // exact Karney scoring through the cell-ring join, against an
      // INDEPENDENT ellipsoidal oracle: DuckDB re-solves every pair's WGS84
      // inverse problem with fully converged Vincenty (recursive CTE) —
      // a cross-implementation check, not a mirrored formula. Both engines
      // rank on metre-quantized distance (the two solutions agree to
      // ~1e-5 m at this <60 km range, so a 1 m bucket cannot flip), ties
      // by point_id.
      val (pts, q) = tokyoLattice(s, dir)
      // density-adaptive cell level: candidate count per query is
      // density x reach^2, so a level tuned for the sparsest corpus makes
      // every point a candidate at 100x density. Guaranteed ring reach
      // (rings x min cell extent) keeps >= 2.5x margin over the worst-case
      // 5th-neighbor radius at each tier; the brute-force oracle then
      // proves exactness at the driver's scale factors.
      val n = countOf(s, dir, "customer") * 16
      val level = if (n >= 150000) 13 else if (n >= 15000) 12 else 11
      SpatialJoins.knnJoin(q, pts, k = 5, level = level, rings = 2,
        distQuantM = 1.0)
        .select("q_id", "point_id", "dist_q", "rnk")
    }, oracle = OracleSql.geoKnnGeodesic,
      bench = Headline),

    DriverQuery("geo_hex_knn", (s, dir) => {
      // the hex-grid kNN path (webmerc + flat-top axial hex ring join +
      // Karney ranking) against the SAME independent fully-converged
      // Vincenty oracle geo_knn_geodesic uses: two different engine cell
      // substrates (S2 cell rings there, planar hex rings here) must both
      // reproduce the brute-force ellipsoidal answer. Output re-ranked on
      // metre-quantized distance with point_id ties, matching the
      // oracle's bucketing convention.
      val (pts, dense) = tokyoLattice(s, dir)
      // sparse outlier ~30 km southwest of the cloud: its true neighbors
      // lie far outside the starting 2-ring reach, so this row is exact
      // ONLY under the adaptive ring-expansion contract
      val q = dense.unionByName(s.range(20, 21).select(col("id").as("q_id"),
        lit(139.30).as("lon"), lit(35.30).as("lat")))
      // density-adaptive hex size: guaranteed ring reach (2 rings of
      // inradius sqrt(3)/2 * sizeM, deflated by webmerc's 1/cos(35.6°))
      // keeps >= 2.5x margin over the worst-case 5th-neighbor radius for
      // the dense grid; the outlier escalates adaptively
      val n = countOf(s, dir, "customer") * 16
      val sizeM = if (n >= 150000) 600.0 else if (n >= 15000) 1500.0 else 4000.0
      val res = SpatialJoins.hexKnnJoin(q, pts, k = 8, sizeM = sizeM, rings = 2)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist_q"), col("point_id"))
      res
        .withColumn("dist_q", round(col("dist_m")).cast("long"))
        .withColumn("rnk2", row_number().over(w))
        .where(col("rnk2") <= 5)
        .select(col("q_id"), col("point_id"), col("dist_q"),
          col("rnk2").as("rnk"))
    }, oracle = OracleSql.geoHexKnn),

    DriverQuery("geo_s2_cells", (s, dir) => {
      // S2 face + (u,v) — the closed-form projection half of the cell
      // mapping, oracle-checked in SQL; the Hilbert-curve id itself is
      // ScalaCheck'd (bijectivity/hierarchy) in S2CellSpec and exercised by
      // geo_pip / geo_knn_geodesic / the flagship entry.
      custPoints(s, dir)
        .withColumn("fuv", GeoFunctions.s2FaceUv(col("lon"), col("lat")))
        .select(col("point_id"), col("fuv.face").as("face"),
          round(col("fuv.u") * 1e9).cast("long").as("u_nano"),
          round(col("fuv.v") * 1e9).cast("long").as("v_nano"))
    }, oracle = OracleSql.geoS2Cells),

    DriverQuery("geo_range_partition", (s, dir) => {
      // Hilbert-locality storage partitioning: range-partition on the full
      // s2 cell id (level 10) and verify the operator contract from the
      // actual partition layout — every partition internally sorted, the
      // per-partition [min, max] cell ranges pairwise disjoint, rows
      // conserved — plus exact global min/max/distinct of the cell key
      // against a full SQL mirror of the Hilbert curve (quadratic uv->st,
      // bit-interleave via the published 4-entry traversal tables).
      val pts = custPoints(s, dir)
        .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(10)))
      val parted = SpatialJoins.rangePartitionByCell(pts, 8)
        .select(col("cell"), spark_partition_id().as("pid"),
          monotonically_increasing_id().as("mid"))
      val wSort = Window.partitionBy(col("pid")).orderBy(col("mid"))
      val flagged = parted
        .withColumn("prev", lag(col("cell"), 1).over(wSort))
        .withColumn("viol", when(col("prev") > col("cell"), 1L).otherwise(0L))
      val per = flagged.groupBy(col("pid")).agg(
        min(col("cell")).as("mn"), max(col("cell")).as("mx"),
        count(lit(1)).as("n"), sum(col("viol")).as("v"))
      // range partitioning keeps equal keys together, so consecutive
      // ranges (by min) must be strictly separated
      val wRange = Window.orderBy(col("mn"))
      val chk = per
        .withColumn("pmax", lag(col("mx"), 1).over(wRange))
        .withColumn("ovl", when(col("pmax") >= col("mn"), 1L).otherwise(0L))
      val invariants = chk.agg(
        sum(col("v")).as("sort_violations"),
        sum(col("ovl")).as("range_overlaps"),
        sum(col("n")).as("n_rows"),
        min(col("mn")).as("min_cell"), max(col("mx")).as("max_cell"))
      val dist = pts.agg(countDistinct(col("cell")).as("n_cells"))
      invariants.crossJoin(dist)
    }, oracle = OracleSql.geoRangePartition,
      bench = Round5),

    DriverQuery("geo_global_hex", (s, dir) => {
      // global equal-area hex cells: lon/lat -> ISEA (icosahedral Snyder
      // equal-area, plane mode) -> flat-top axial hex at 500 km — the
      // honest H3 alternative. Oracled per point against a full SQL mirror
      // of the Snyder forward (20-face search + closed-form equal-area
      // mapping + unfolded-plane layout), both the plane coordinates (mm)
      // and the hex assignment.
      val size = 500000.0
      custPoints(s, dir)
        .withColumn("isea", ProjFunctions.projTrans2(col("lon"), col("lat"),
          "proj=isea ellps=WGS84"))
        .withColumn("cell",
          GeoFunctions.globalHexCell(col("lon"), col("lat"), lit(size)))
        .select(col("point_id"),
          mm(col("isea.x")).as("x_mm"), mm(col("isea.y")).as("y_mm"),
          col("cell.q").cast("long").as("q"), col("cell.r").cast("long").as("r"))
        .orderBy("point_id")
    }, oracle = OracleSql.geoGlobalHex,
      bench = Round5),

    DriverQuery("geo_waypoints", (s, dir) => {
      // geodesic line walking: n+1 equally-spaced waypoints between point
      // pairs. The contract is analytic — waypoint k sits ON the geodesic
      // (detour (d1+d2-s)/s = 0) at exactly k/n of the arc — so the oracle
      // emits the contract values while Spark derives them from the real
      // kernels (Karney line positions re-measured by the Karney inverse;
      // the self-consistent error ~1e-15 is 6+ orders under the integer
      // quantization boundaries, so the hash cannot flip on ulps).
      val n = 8
      val pairs = t(s, dir, "customer")
        .where(col("c_custkey") % 75 === 3)
        .select(col("c_custkey").as("pair_id"),
          lonOf(col("c_custkey")).cast("double").as("lon1"),
          latOf(col("c_custkey")).cast("double").as("lat1"),
          lonOf(col("c_custkey") * 7 + 11).cast("double").as("lon2"),
          latOf(col("c_custkey") * 3 + 5).cast("double").as("lat2"))
      val w = pairs.withColumn("wp", GeoFunctions.geodesicWaypoints(
          col("lon1"), col("lat1"), col("lon2"), col("lat2"), lit(n)))
        .withColumn("k", explode(sequence(lit(0), lit(n))))
        .withColumn("wlon", element_at(col("wp"), col("k") * 2 + 1))
        .withColumn("wlat", element_at(col("wp"), col("k") * 2 + 2))
      w.withColumn("d1", GeoFunctions.geodesicDistance(
          col("lon1"), col("lat1"), col("wlon"), col("wlat")))
        .withColumn("d2", GeoFunctions.geodesicDistance(
          col("wlon"), col("wlat"), col("lon2"), col("lat2")))
        .withColumn("s12", GeoFunctions.geodesicDistance(
          col("lon1"), col("lat1"), col("lon2"), col("lat2")))
        .select(col("pair_id"), col("k").cast("long").as("k"),
          round(col("d1") * n / col("s12")).cast("long").as("spacing_idx"),
          round((col("d1") + col("d2") - col("s12")) / col("s12") * 1e6)
            .cast("long").as("detour_ppm"))
        .orderBy("pair_id", "k")
    }, oracle =
      """SELECT c_custkey AS pair_id, CAST(j AS BIGINT) AS k,
         CAST(j AS BIGINT) AS spacing_idx, CAST(0 AS BIGINT) AS detour_ppm
         FROM customer, range(0, 9) t(j)
         WHERE c_custkey % 75 = 3 ORDER BY pair_id, k"""),

    DriverQuery("geo_tile_qa", (s, dir) => {
      // tile QA metrics: web-mercator distortion factors per point. For the
      // spherical webmerc kernel the parallel scale is exactly sec(lat), so
      // this one IS oracle-checkable in SQL despite the numeric derivation.
      custPoints(s, dir)
        .withColumn("f", ProjFunctions.projFactors(col("lon"), col("lat"),
          "proj=webmerc ellps=WGS84"))
        .select(col("point_id"),
          round(col("f.k") * 1e6).cast("long").as("k_ppm"))
    },
      // webmerc runs the spherical kernel on the WGS84 ellipsoid (es != 0),
      // so proj_factors applies the ellipsoidal correction: k =
      // sqrt(1 - es sin^2(lat)) / cos(lat) — closed form, checkable in SQL
      oracle = ("SELECT point_id, CAST(round(1000000.0*" +
      "sqrt(1 - 0.0066943799901413165*sin(radians(lat))*sin(radians(lat)))" +
      "/cos(radians(lat))) AS BIGINT) AS k_ppm " +
      "FROM (SELECT c_custkey AS point_id, " +
      "((c_custkey*37)%160)-80+0.25 AS lat FROM customer)")),

    DriverQuery("geo_gridshift", (s, dir) => {
      // NADCON5 GeoTIFF grid shift (NAD83(2007)->NAD83(2011)) applied to
      // derived points inside the grid extent; the grid loads once per
      // executor JVM and the lookup runs inside whole-stage codegen.
      // Oracle: DuckDB bilinear over the dumped grid nodes (OracleSql);
      // output is the applied shift in 1e-10 deg units.
      val pipeline = "proj=gridshift interpolation=bilinear " +
        "grids=tests/us_noaa_nadcon5_nad83_2007_nad83_2011_conus_extract.tif"
      custPoints(s, dir)
        .withColumn("lon_g", lit(-95.4995) + (col("point_id") % 100) * 0.0008)
        .withColumn("lat_g", lit(36.9212) + (col("point_id") % 80) * 0.0018)
        .withColumn("shifted", ProjFunctions.projTrans2(col("lon_g"), col("lat_g"), pipeline))
        .select(col("point_id"),
          round((col("shifted.x") - col("lon_g")) * 1e10).cast("long").as("dlon_e10"),
          round((col("shifted.y") - col("lat_g")) * 1e10).cast("long").as("dlat_e10"))
    }, oracle = OracleSql.geoGridshift),

    DriverQuery("geo_geoid", (s, dir) => {
      // EGM96 geoid undulation as an orthometric-height column via
      // +proj=vgridshift (broadcast-grid style vertical datum change).
      // Oracle: DuckDB bilinear over the dumped GTX nodes (OracleSql).
      val pipeline = "proj=vgridshift grids=egm96_15.gtx ellps=GRS80"
      custPoints(s, dir)
        .withColumn("lon_g", lit(5.0) + (col("point_id") % 100) * 0.02)
        .withColumn("lat_g", lit(45.0) + (col("point_id") % 80) * 0.025)
        .withColumn("ortho",
          ProjFunctions.projTrans2(col("lon_g"), col("lat_g"), pipeline))
        .select(col("point_id"), mm(col("ortho.z")).as("undulation_mm"))
    }, oracle = OracleSql.geoGeoid),

    DriverQuery("geo_datum_shift", (s, dir) => {
      // full datum pipeline cart -> helmert(7) -> cart^-1 on derived points;
      // oracle mirrors the closed-form chain in SQL at micro-degree (~0.1 m)
      // quantization
      val pipeline = "proj=pipeline ellps=GRS80 step proj=cart step " +
        "proj=helmert convention=coordinate_frame x=0.06155 rx=-0.0394924 " +
        "y=-0.01087 ry=-0.0327221 z=-0.04019 rz=-0.0328979 s=-0.009994 " +
        "step proj=cart inv"
      custPoints(s, dir)
        .withColumn("gda2020", ProjFunctions.projTrans2(col("lon"), col("lat"), pipeline))
        .select(col("point_id"),
          round(col("gda2020.x") * 1e6).cast("long").as("lon_udeg"),
          round(col("gda2020.y") * 1e6).cast("long").as("lat_udeg"))
    }, oracle = OracleSql.geoDatumShift,
      bench = Headline),

    DriverQuery("geo_geodesic_meridian", (s, dir) => {
      // exact Karney inverse between same-meridian point pairs; the oracle
      // is the closed-form Helmert meridian-arc series (error ~1e-10 m),
      // so the geodesic kernel gets a driver-side hard signal at mm level
      custPoints(s, dir)
        .withColumn("lat1", ((col("point_id") * 37 % 140) - 70 + lit(0.25)).cast("double"))
        .withColumn("lat2", col("lat1") + 5.5)
        .select(col("point_id"),
          round(GeoFunctions.geodesicDistance(lit(12.5), col("lat1"),
            lit(12.5), col("lat2")) * 1000).cast("long").as("dist_mm"))
    }, oracle = OracleSql.geoGeodesicMeridian),

    // ---- training-data pipeline ops over documents/embeddings ----
    DriverQuery("text_metrics", (s, dir) => {
      TrainingOps.withQuality(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          mm(avg(col("n_chars_m"))).as("avg_chars_mm"))
        .orderBy("lang")
    }, oracle =
      """SELECT lang, count(*) AS n_docs,
         sum(CASE WHEN length(trim(text))=0 THEN 0
             ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END)::BIGINT AS sum_tokens,
         CAST(round(avg(length(text))*1000) AS BIGINT) AS avg_chars_mm
         FROM documents GROUP BY 1 ORDER BY 1""",
      bench = Headline),

    DriverQuery("dedup_exact", (s, dir) => {
      // inject deterministic duplicates (every 7th doc re-appears with a
      // shifted id) so the dup-detection path is actually exercised
      val d = t(s, dir, "documents")
      val dups = d.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      TrainingOps.exactDedup(d.unionByName(dups))
        .where(col("is_duplicate"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_dups"))
        .orderBy("source")
    }, oracle =
      """SELECT source, count(*) AS n_dups FROM (
           SELECT source,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM (SELECT * FROM documents UNION ALL
                 SELECT doc_id + 1000000, text, lang, source, n_chars
                 FROM documents WHERE doc_id % 7 = 0))
         WHERE rn > 1 GROUP BY 1 ORDER BY 1""",
      bench = Headline),

    DriverQuery("dedup_minhash", (s, dir) => {
      // MinHash+LSH near-dup pairs with the shared md5 hash family (DuckDB
      // computes identical signatures); near-dups injected (every 11th doc
      // re-appears with one word appended) so sub-1.0 Jaccard paths run.
      // SparkLayerSpec checks the same operator's recall of planted
      // near-dups against exact n-gram Jaccard.
      val d = t(s, dir, "documents")
      val nearDups = d.where(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" extra")))
      TrainingOps.minhashDedupShared(d.unionByName(nearDups),
        numHashes = 16, bands = 4, threshold = 0.5)
    }, oracle = OracleSql.dedupMinhash(numHashes = 16, bands = 4, thresholdPpm = 500000L),
      planWants = Seq(
        "shuffle on band bucket only" -> (_.contains("Exchange")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("dedup_clusters", (s, dir) => {
      // near-dup CLUSTERS: the minhash pairs become connected components
      // (iterative min-label propagation) labelled with min doc_id +
      // cluster size — the keep-one-representative dedup input. Oracle
      // computes the same closure with a recursive CTE (different
      // algorithm, same fixpoint).
      val d = t(s, dir, "documents")
      val nearDups = d.where(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" extra")))
      TrainingOps.dedupClustersShared(d.unionByName(nearDups),
        numHashes = 16, bands = 4, threshold = 0.5)
    }, oracle = OracleSql.dedupClusters(numHashes = 16, bands = 4, thresholdPpm = 500000L)),

    DriverQuery("dedup_keep", (s, dir) => {
      // end-to-end near-dup dedup: survivors = corpus minus cluster
      // members plus one representative per cluster (longest text, min
      // doc_id) — the table the next pipeline stage actually reads
      val d = t(s, dir, "documents")
      val nearDups = d.where(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" extra")))
      TrainingOps.dedupNearShared(d.unionByName(nearDups),
        numHashes = 16, bands = 4, threshold = 0.5)
    }, oracle = OracleSql.dedupKeep(numHashes = 16, bands = 4, thresholdPpm = 500000L)),

    DriverQuery("dedup_simhash", (s, dir) => {
      // 16-bit SimHash candidate buckets from the shared md5-derived hash
      // (cross-engine identical); TextExprsSpec locks the one-pass kernel
      // against the 16-aggregate column formula
      TrainingOps.withSimhashBucketShared(t(s, dir, "documents"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }, oracle = OracleSql.dedupSimhash),

    DriverQuery("ann_brute", (s, dir) => {
      // brute-force cosine top-3 for the first 10 vectors over double-cast
      // embeddings, ranked on ppm-quantized similarity (cross-engine-stable)
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      TrainingOps.annBruteQuantized(q, emb, k = 3)
    }, oracle = OracleSql.annBrute(k = 3)),

    DriverQuery("ann_lsh", (s, dir) => {
      // LSH-bucketed ANN scale path with shared md5-derived hyperplanes
      // (bucketing + scoring reproduced in the DuckDB oracle); its recall
      // against brute force is asserted in SparkLayerSpec
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      TrainingOps.annLshShared(q, emb, k = 3, planes = 6, tables = 8)
    }, oracle = OracleSql.annLsh(k = 3, planes = 6, tables = 8),
      planWants = Seq(
        "bucket equi-join" -> (p => p.contains("Join")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("ann_index", (s, dir) => {
      // persisted ANN: hash the corpus once into a (tbl, bucket)-partitioned
      // on-disk index, then answer the query batch off the PRUNED index
      // scan (static partition filters from the batch's bucket set).
      // Bucketing is byte-identical to ann_lsh, so the rows — and the
      // oracle — are the same; what changes is that the corpus is no
      // longer re-hashed per query batch.
      // path keyed per-process: reuse=true demonstrates the resident-service
      // build-once/query-many pattern WITHIN one JVM, but a fresh process
      // always pays the build on its first call — so a bench's cold leg is
      // deterministically build+query and can't inherit a prior
      // invocation's index from /tmp
      val emb = t(s, dir, "embeddings")
      val path = sys.props("java.io.tmpdir") + "/graft_ann_idx_" +
        math.abs(dir.hashCode).toString + "_p" + ProcessHandle.current().pid()
      // metadata-based invalidation: the sf dir is the corpus identity
      // (driver-generated, immutable per scale factor) — a reuse hit is a
      // meta-file read with ZERO jobs over the corpus, so the warm path
      // pays only the pruned query
      graft.spark.AnnIndex.build(emb, path, planes = 6, tables = 8,
        reuse = true, version = dir)
      graft.spark.AnnIndex.query(s, path, emb.where(col("vec_id") < 10), k = 3)
    },
      // same bucketing family + scoring as ann_lsh — the persisted index must
      // reproduce the in-memory path's rows exactly
      oracle = OracleSql.annLsh(k = 3, planes = 6, tables = 8),
      planWants = Seq(
        "static partition filters prune the index scan" ->
          (p => "PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined),
        "bucket equi-join" -> (p => p.contains("Join")),
        "no cross product" -> (p => !p.contains("CartesianProduct"))),
      bench = Headline),

    DriverQuery("lang_id", (s, dir) => {
      TrainingOps.withLangId(t(s, dir, "documents"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
    }, oracle = OracleSql.langId),

    DriverQuery("ann_ivf", (s, dir) => {
      // IVF scale path: fixed seed centroids (iters = 0 so the list
      // assignment is closed-form and replicated by the DuckDB oracle);
      // k-means-refined centroids are exercised in SparkLayerSpec
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      TrainingOps.annIvf(q, emb, k = 3, nlist = 16, nprobe = 4, iters = 0)
    }, oracle = OracleSql.annIvf(k = 3, nlist = 16, nprobe = 4),
      planWants = Seq(
        "cluster-id equi-join (no cross product on corpus)" -> (p => p.contains("Join")),
        "nearest-centroid assignment is a map-side argmax aggregate (max_by), " +
          "not a window over nlist x N rows" -> (p =>
            p.contains("max_by") && "partial_max_by|max_by.*\\bmerge".r.findFirstIn(p).isDefined),
        "windowed top-k" -> (_.contains("Window")))),

    DriverQuery("dedup_embedding", (s, dir) => {
      // embedding-cosine near-dup: perturbed copies injected (every 13th
      // vector re-appears with +0.01 on its first component), candidates
      // from shared-hyperplane LSH buckets, exact cosine >= 0.9 confirm
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val pert = emb.where(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 5000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + 0.01),
            slice(col("embedding"), 2, 63)).as("embedding"))
      TrainingOps.embeddingDedupShared(emb.unionByName(pert), thresholdPpm = 900000L)
    }, oracle = OracleSql.dedupEmbedding(thresholdPpm = 900000L, planes = 6, tables = 8),
      planWants = Seq(
        "bucket equi-join" -> (p => p.contains("Join")),
        "no cross product" -> (p => !p.contains("CartesianProduct")))),

    DriverQuery("text_decontam", (s, dir) => {
      // benchmark decontamination: 13-gram overlap against an eval set
      // (deterministically derived: the leading 13-gram of every doc_id %
      // 97 == 5 doc). The eval set broadcasts, corpus windows generate
      // map-side — the canonical decontamination plan at 100 TB. Oracle
      // re-derives windows and the join in SQL.
      val d = t(s, dir, "documents")
      val eval = TrainingOps.evalSnippets(d.where(col("doc_id") % 97 === 5))
      TrainingOps.decontaminate(d, eval)
        .orderBy("doc_id")
    }, oracle =
      """WITH toks AS (
           SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
           FROM documents),
         ev AS (
           SELECT DISTINCT array_to_string(t[1:13], ' ') AS gram
           FROM toks WHERE doc_id % 97 = 5 AND len(t) >= 13),
         pos AS (
           SELECT doc_id, t, unnest(generate_series(1, len(t) - 12)) AS i
           FROM toks WHERE len(t) >= 13),
         win AS (
           SELECT doc_id, array_to_string(t[i:i+12], ' ') AS gram FROM pos)
         SELECT doc_id, count(*) AS n_hits
         FROM win JOIN ev USING (gram)
         GROUP BY doc_id ORDER BY doc_id""",
      planWants = Seq(
        "eval set broadcasts (corpus never shuffles for the probe)" ->
          (_.contains("BroadcastHashJoin")),
        "no cross product" -> (p => !p.contains("CartesianProduct")),
        "window explode stays in the plan" -> (_.contains("Generate"))),
      bench = Round5),

    DriverQuery("q_mixture", (s, dir) => {
      // domain-mixing: per-source keep rates ((k+1)*5% for srck) applied
      // via the seeded integer hash — deterministic sampling the oracle
      // replays exactly (HUGEINT wrap + signed pmod). Broadcast rates,
      // map-side filter, no corpus shuffle.
      val d = t(s, dir, "documents")
      val rates = d.select(col("source")).distinct()
        .withColumn("rate_ppm",
          (substring(col("source"), 4, 10).cast("int") + 1) * 50000)
      TrainingOps.sampleMixture(d, rates)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    }, oracle =
      """WITH h AS (
           SELECT doc_id, source,
             (CAST(doc_id AS HUGEINT) * 6364136223846793005
              + 1442695040888963407) % 18446744073709551616 AS hu
           FROM documents),
         sv AS (
           SELECT doc_id, source,
             CASE WHEN hu >= 9223372036854775808
                  THEN hu - 18446744073709551616 ELSE hu END AS s
           FROM h)
         SELECT source, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM sv
         WHERE ((s % 1000000) + 1000000) % 1000000 <
           (CAST(substring(source, 4) AS INT) + 1) * 50000
         GROUP BY source ORDER BY source""",
      planWants = Seq(
        "rates broadcast + map-side filter" -> (_.contains("BroadcastHashJoin")),
        "no cross product" -> (p => !p.contains("CartesianProduct"))),
      bench = Round5),

    DriverQuery("text_tokens", (s, dir) => {
      // BPE-ish pre-tokenizer counts (letter runs / digit runs / marks)
      // next to whitespace tokens, per source
      val d = t(s, dir, "documents")
      d.withColumn("n_ws", TrainingOps.tokenCount(col("text")))
        .withColumn("n_bpe", TrainingOps.tokenCountBpe(col("text")))
        .groupBy("source")
        .agg(sum(col("n_ws")).as("sum_ws_tokens"),
          sum(col("n_bpe")).as("sum_bpe_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }, oracle =
      """SELECT source,
         sum(CASE WHEN length(trim(text))=0 THEN 0
             ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END)::BIGINT AS sum_ws_tokens,
         sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT AS sum_bpe_tokens,
         count(*) AS n_docs
         FROM documents GROUP BY source ORDER BY source"""),

    DriverQuery("pii_scrub", (s, dir) => {
      // PII redaction over real document text with deterministic synthetic
      // PII injected (email/phone/id derived from doc_id), so the scrub
      // path actually fires; DuckDB re-runs the same regex chain (RE2 vs
      // Java agree on this pattern subset) and the md5 must match
      val d = t(s, dir, "documents")
      val withPii = d.withColumn("txt", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@ex.org call +1-202-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" id "), (col("doc_id") * col("doc_id")).cast("string")))
      withPii.select(col("doc_id"),
        md5(TrainingOps.scrubPii(col("txt"))).as("scrub_md5"),
        length(col("txt")).as("raw_len"))
        .orderBy("doc_id")
    }, oracle =
      """WITH injected AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
               '@ex.org call +1-202-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' id ' || CAST(doc_id*doc_id AS VARCHAR) AS txt
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?\d[\d\-]{9,}\d', '<PHONE>', 'g'),
             '\d{6,}', '<NUM>', 'g')) AS scrub_md5,
           CAST(length(txt) AS INT) AS raw_len
         FROM injected ORDER BY doc_id""",
      bench = Headline),

    DriverQuery("text_chunks", (s, dir) => {
      // fixed-size overlapping character windows (64 chars, 16 overlap)
      // over the real document text; every chunk's content and position
      // is hash-compared (md5) against DuckDB's independent reconstruction
      TrainingOps.withChunks(t(s, dir, "documents"), size = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      """WITH chunked AS (
           SELECT doc_id, u.i AS chunk_idx, u.c AS chunk
           FROM (
             SELECT doc_id,
               unnest([{'i': i, 'c': substring(text, 1 + i*48, 64)}
                       for i in range(0, greatest((length(text) - 16 + 47) // 48, 1))]) AS u
             FROM documents WHERE length(text) > 0))
         SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5,
           CAST(length(chunk) AS INT) AS chunk_len
         FROM chunked ORDER BY doc_id, chunk_idx""",
      bench = Headline),

    DriverQuery("doc_fingerprint", (s, dir) => {
      // whole-doc fingerprinting with injected exact dups: per-source doc
      // and distinct-fingerprint counts
      val d = t(s, dir, "documents")
      val dups = d.where(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000)
      d.unionByName(dups)
        .withColumn("fp", TrainingOps.fingerprintShared(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
        .orderBy("source")
    }, oracle = OracleSql.docFingerprint),

    DriverQuery("q_asof", (s, dir) => {
      // as-of join: each event picks the latest per-user state with
      // valid_from <= ts (union + ordered window: one shuffle, no range
      // cross-product); oracle is DuckDB's native ASOF JOIN
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("t"))
      val states = s.range(0, 160).select(col("id").as("user_id"))
        .withColumn("k", explode(sequence(lit(0), lit(9))))
        .select(col("user_id"),
          (lit(1704067200L) + col("k") * 3600L * (lit(6) + col("user_id") % 5)).as("valid_from"),
          ((col("user_id") * 31 + col("k")) % 4).as("tier"))
      graft.spark.TemporalJoins.asofJoin(ev, states, "user_id", "t", "valid_from")
        .select(col("event_id"), col("user_id"), col("tier"), col("valid_from"))
    }, oracle =
      """WITH ev AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         states AS (
           SELECT user_id, 1704067200 + k*3600*(6 + user_id%5) AS valid_from,
                  (user_id*31 + k) % 4 AS tier
           FROM range(0, 160) u(user_id), range(0, 10) kk(k))
         SELECT event_id, ev.user_id, tier, valid_from
         FROM ev ASOF JOIN states
           ON ev.user_id = states.user_id AND ev.t >= states.valid_from
         ORDER BY event_id""",
      planWants = Seq(
        "single window carry-forward (no range join)" -> (p =>
          p.contains("Window") && !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))),

    DriverQuery("q_sessions", (s, dir) => {
      // gap-based sessionization of the events stream (30-min gap): per
      // (user, session) event counts and durations — the lag + running-sum
      // plan, reproduced independently by DuckDB's window functions
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ltz").cast("long").as("t"))
      graft.spark.TemporalJoins.sessionize(ev, "user_id", "t",
        gapSeconds = 1800, tieCol = "event_id")
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("t")) - min(col("t"))).as("dur_s"))
        .orderBy("user_id", "session_seq")
    }, oracle =
      """WITH ev AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events),
         marked AS (
           SELECT user_id, t,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
                   OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800
                  THEN 1 ELSE 0 END AS ns,
             event_id
           FROM ev),
         sess AS (
           SELECT user_id, t,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM marked)
         SELECT user_id, session_seq, count(*) AS n_events,
           CAST(max(t) - min(t) AS BIGINT) AS dur_s
         FROM sess GROUP BY 1,2 ORDER BY 1,2""",
      bench = Headline),

    DriverQuery("q_snapshot_compact", (s, dir) => {
      // snapshot layer end-to-end: fragmented ingest commit -> bin-packing
      // compaction as a NEW snapshot -> read back the compacted table. The
      // oracle recomputes the per-bucket metrics straight from the source
      // parquet, so a compaction that loses/duplicates/moves ONE row flips
      // the hash; the file-count win is asserted in-query (a regression
      // fails the query rather than silently passing row identity)
      import graft.spark.Snapshots
      val table = sys.props("java.io.tmpdir") + "/graft_snap_" +
        math.abs(dir.hashCode).toString + "_p" + ProcessHandle.current().pid()
      val ev = t(s, dir, "events")
        .withColumn("bucket", pmod(col("event_id"), lit(8)))
        .select(col("event_id"), col("user_id"), col("bucket"))
      // 24-way repartition x 8 buckets => many small files (the long-lived
      // table fed by incremental commits)
      val id1 = Snapshots.commit(ev.repartition(24), table, "bucket",
        "event_id", "driver-query ingest")
      val preFiles = Snapshots.dataFileCount(table, id1)
      val id2 = Snapshots.compact(s, table, targetBytes = 1L << 30)
      val postFiles = Snapshots.dataFileCount(table, id2)
      require(postFiles < preFiles && postFiles <= 8,
        s"compaction did not reduce files: $preFiles -> $postFiles")
      require(Snapshots.latestId(table) == id2 && id2 == id1 + 1,
        "compaction must commit as the next snapshot")
      Snapshots.read(s, table, id2)
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          sum("user_id").as("user_sum"))
        .orderBy("bucket")
    },
      // row identity across snapshot commit + compaction: the oracle computes
      // the per-bucket metrics from the SOURCE table; the Spark side reads
      // them off the compacted snapshot
      oracle =
      """SELECT event_id % 8 AS bucket, count(*) AS n_rows,
           min(event_id) AS min_id, max(event_id) AS max_id,
           CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events GROUP BY 1 ORDER BY 1"""),

    DriverQuery("q_stream_dedup", (s, dir) => {
      // the streaming watermark-bounded dedup replayed over a bounded batch
      // of the documents feed (with dedup_exact's duplicate injection),
      // three micro-batches apart in event time:
      //   batch A (t=0):    every fingerprint is new -> emitted once
      //   batch B (t=+1h):  watermark (still t-10min) has not passed the
      //                     state expiry (t+10min) -> all duplicates DROPPED
      //   batch C (t=+2h):  watermark (now t+50min) evicted the state ->
      //                     fingerprints emitted AGAIN (bounded state, by
      //                     design) — so n_emits = 2 per fp proves both the
      //                     dedup and the eviction halves of the contract
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(t(s, dir, "documents").where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val base = 1767225600000L // 2026-01-01T00:00:00Z, fixed epoch ms
      def batch(offMs: Long) =
        docs.map { case (id, tx) => (id, tx, new java.sql.Timestamp(base + offMs)) }
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val sinkName = "graft_stream_dedup_" + streamDedupRuns.incrementAndGet()
      val q = graft.spark.StreamingOps.dedupStream(
          in.toDF.toDF("doc_id", "text", "ts"), "ts")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        in.addData(batch(0)); q.processAllAvailable()
        in.addData(batch(3600L * 1000)); q.processAllAvailable()
        in.addData(batch(7200L * 1000)); q.processAllAvailable()
      } finally q.stop()
      s.table(sinkName)
        .groupBy("fp").agg(count(lit(1)).as("n_emits"))
        .orderBy("fp")
    },
      // watermark-bounded streaming dedup over a bounded 3-batch replay:
      // every distinct normalized-text fingerprint is emitted exactly twice
      // (once new, once after state eviction; the +1h duplicates are dropped)
      oracle =
      """SELECT DISTINCT
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           CAST(2 AS BIGINT) AS n_emits
         FROM (SELECT text FROM documents UNION ALL
               SELECT text FROM documents WHERE doc_id % 7 = 0)
         ORDER BY fp"""),

    DriverQuery("q_stream_window", (s, dir) => {
      // watermarked tumbling-window per-cell counts, replayed over bounded
      // batches with an explicit LATE-DATA proof:
      //   batch A (t=0..9min):  customer cells, two 5-min windows W0/W1
      //   batch B (advancer +1h): watermark -> +50min, W0+W1 close + emit
      //   batch C: every W0 event AGAIN at its original time (now beyond
      //            the watermark -> dropped; a wrong impl would double W0
      //            or re-emit it) + advancer +2h
      //   batch D (advancer +3h): closes the +1h and +2h advancer windows;
      //            its own window stays open and must NOT appear
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val pts = custPoints(s, dir)
        .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(10)))
        .select(col("point_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val base = 1767225600000L // 2026-01-01T00:00:00Z
      def ev(pid: Long, cell: Long) =
        (cell, new java.sql.Timestamp(base + (pid % 10) * 60000L))
      def adv(offMs: Long) = (-999L, new java.sql.Timestamp(base + offMs))
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val sinkName = "graft_stream_window_" + streamDedupRuns.incrementAndGet()
      val q = graft.spark.StreamingOps.windowedCellCounts(
          in.toDF.toDF("cell", "ts"), "ts")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        in.addData(pts.map((ev _).tupled)); q.processAllAvailable()
        in.addData(Seq(adv(3600L * 1000))); q.processAllAvailable()
        in.addData(pts.filter(_._1 % 10 < 5).map((ev _).tupled) :+
          adv(7200L * 1000)); q.processAllAvailable()
        in.addData(Seq(adv(10800L * 1000))); q.processAllAvailable()
      } finally q.stop()
      s.table(sinkName)
        .select((col("window.start").cast("long")).as("win_start"),
          col("cell"), col("n"))
        .orderBy("win_start", "cell")
    }, oracle = OracleSql.streamWindow),

    DriverQuery("geo_trans_bounds", (s, dir) => {
      // per-row tile-extent reprojection (partition-pruning primitive):
      // webmerc is monotone in both axes, so the densified-edge envelope is
      // closed-form (the corners) — SQL-checkable
      custPoints(s, dir)
        .withColumn("lon0", ((col("point_id") * 73 % 300) - 150 + lit(0.5)).cast("double"))
        .withColumn("lat0", ((col("point_id") * 37 % 130) - 65 + lit(0.25)).cast("double"))
        .withColumn("b", ProjFunctions.projTransBounds(col("lon0"), col("lat0"),
          col("lon0") + 6.0, col("lat0") + 10.0, "proj=webmerc ellps=WGS84"))
        .select(col("point_id"),
          mm(col("b.xmin")).as("xmin_mm"), mm(col("b.ymin")).as("ymin_mm"),
          mm(col("b.xmax")).as("xmax_mm"), mm(col("b.ymax")).as("ymax_mm"))
    }, oracle =
      """WITH pts AS (
           SELECT c_custkey AS point_id,
             ((((c_custkey*73)%300)-150+0.5))::DOUBLE AS lon0,
             ((((c_custkey*37)%130)-65+0.25))::DOUBLE AS lat0
           FROM customer)
         SELECT point_id,
           CAST(round(6378137.0*(lon0*(pi()/180))*1000) AS BIGINT) AS xmin_mm,
           CAST(round(6378137.0*ln(tan(pi()/4 + (lat0*(pi()/180))/2))*1000) AS BIGINT) AS ymin_mm,
           CAST(round(6378137.0*((lon0+6.0)*(pi()/180))*1000) AS BIGINT) AS xmax_mm,
           CAST(round(6378137.0*ln(tan(pi()/4 + ((lat0+10.0)*(pi()/180))/2))*1000) AS BIGINT) AS ymax_mm
         FROM pts ORDER BY point_id"""),

    DriverQuery("geo_epsg", (s, dir) => {
      // EPSG:xxxx alias front-end driving the transforms (web mercator +
      // geocentric), plus the generic EPSG-table CRS→CRS planner
      // (CrsToCrs.pipelineGis): Lambert-93 (LCC 2SP behind a WGS84→GRS80
      // ellipsoid hop) and British National Grid (7-parameter towgs84
      // datum hop + tmerc on airy). France/UK-domain inputs derive from
      // point_id so the transverse-mercator series stays in its
      // convergence zone; oracle recomputes everything closed-form
      custPoints(s, dir)
        .withColumn("lon_f", (col("point_id") % 600) * 0.01 + 0.005)
        .withColumn("lat_f", lit(44.0) + (col("point_id") % 700) * 0.01)
        .withColumn("lon_b", (col("point_id") % 500) * 0.01 - 4.5)
        .withColumn("lat_b", lit(50.0) + (col("point_id") % 550) * 0.01)
        .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"), "EPSG:3857"))
        .withColumn("gc", ProjFunctions.projTrans2(col("lon"), col("lat"), "EPSG:4978"))
        .withColumn("l93", ProjFunctions.crsToCrs2(col("lon_f"), col("lat_f"),
          "EPSG:4326", "EPSG:2154"))
        .withColumn("bng", ProjFunctions.crsToCrs2(col("lon_b"), col("lat_b"),
          "EPSG:4326", "EPSG:27700"))
        .select(col("point_id"),
          mm(col("wm.x")).as("wm_x_mm"), mm(col("wm.y")).as("wm_y_mm"),
          mm(col("gc.x")).as("gc_x_mm"), mm(col("gc.y")).as("gc_y_mm"),
          mm(col("gc.z")).as("gc_z_mm"),
          mm(col("l93.x")).as("l93_x_mm"), mm(col("l93.y")).as("l93_y_mm"),
          mm(col("bng.x")).as("bng_x_mm"), mm(col("bng.y")).as("bng_y_mm"))
    }, oracle = OracleSql.geoEpsg),

    DriverQuery("geo_dispatch", (s, dir) => {
      // per-row coordinate-operation dispatch: every point picks the best
      // EPSG operation for ITS location (ED50 -> WGS 84 has 33 regional
      // helmerts with overlapping extents plus the ballpark) — the
      // reference's per-point proj_trans selection as one codegen'd
      // expression. The oracle re-implements extent/accuracy/area selection
      // and the small-angle 7-parameter transform in SQL over the same
      // published candidate table.
      custPoints(s, dir)
        .withColumn("lon_e", (col("point_id") % 400) * 0.1 - 9.0)
        .withColumn("lat_e", lit(36.0) + (col("point_id") % 300) * 0.1)
        .withColumn("r", ProjFunctions.crsToCrsDispatch(col("lon_e"), col("lat_e"),
          "EPSG:4230", "EPSG:4326"))
        .select(col("point_id"), col("r.op").as("op"),
          round(col("r.x") * 1e8).cast("long").as("x_e8"),
          round(col("r.y") * 1e8).cast("long").as("y_e8"))
    }, oracle = OracleSql.geoDispatch,
      bench = Headline),

    DriverQuery("geo_registry", (s, dir) => {
      // registry-grade CRS→CRS on the Spark surface: the coordinate-
      // operation database (graft.proj.OpFactory over the generated EPSG
      // sidecar) picks "ED50 / UTM zone 31N to ETRS89 / UTM zone 31N (1)"
      // (EPSG:5166, a similarity transformation applied in projected
      // space — the EPSG GN7.2 worked example) for this pair; the oracle
      // recomputes the similarity closed-form from the same published
      // parameters
      custPoints(s, dir)
        .withColumn("ex", lit(280000.0) + (col("point_id") % 300) * 100.0)
        .withColumn("ny", lit(4450000.0) + (col("point_id") % 400) * 150.0)
        .withColumn("r", ProjFunctions.crsToCrsRegistry(col("ex"), col("ny"),
          "EPSG:23031", "EPSG:25831"))
        .select(col("point_id"),
          mm(col("r.x")).as("reg_x_mm"), mm(col("r.y")).as("reg_y_mm"))
    }, oracle = OracleSql.geoRegistry),

    DriverQuery("zone_area", (s, dir) => {
      // geodesic polygon perimeter/area (Karney planimeter) on the polygon
      // set GeographicLib publishes results for — the oracle is those
      // independent published values (geodtest.c Planimeter0/5/12/13),
      // covering pole-encircling, pole-crossing and double-encircling rings
      import s.implicits._
      Seq(
        ("pa", Seq(0.0, 89, 90, 89, 180, 89, 270, 89).map(_.toDouble)),
        ("pb", Seq(0.0, -89, 90, -89, 180, -89, 270, -89).map(_.toDouble)),
        ("pc", Seq(-1.0, 0, 0, -1, 1, 0, 0, 1).map(_.toDouble)),
        ("pd", Seq(0.0, 90, 0, 0, 90, 0).map(_.toDouble)),
        ("p5", Seq(0.1, 89, 90.1, 89, -179.9, 89).map(_.toDouble)),
        ("p12", Seq(0.0, 66.562222222, 180, 66.562222222, 360, 66.562222222).map(_.toDouble)),
        ("p13", Seq(-360.0, 89, -240, 89, -120, 89, 0, 89, 120, 89, 240, 89).map(_.toDouble)))
        .toDF("poly_id", "ring")
        .withColumn("m", GeoFunctions.polygonMetrics(col("ring")))
        .select(col("poly_id"),
          round(col("m.perimeter_m") / 100).cast("long").as("per_hm"),
          round(col("m.area_m2") / 100).cast("long").as("area_dam2"))
        .orderBy("poly_id")
    },
      // independent published values (GeographicLib geodtest.c planimeter
      // cases) — not a mirrored formula: a genuine cross-implementation check
      oracle =
      """SELECT poly_id,
         CAST(round(CAST(per AS DOUBLE)/100) AS BIGINT) AS per_hm,
         CAST(round(CAST(area AS DOUBLE)/100) AS BIGINT) AS area_dam2
         FROM (VALUES
           ('pa', 631819.8745, 24952305678.0),
           ('pb', 631819.8745, -24952305678.0),
           ('pc', 627598.2731, 24619419146.0),
           ('pd', 30022685.0, 63758202715511.0),
           ('p5', 539297.0, 12476152838.5),
           ('p12', 10465729.0, 0.0),
           ('p13', 1160741.0, 32415230256.0)) t(poly_id, per, area)
         ORDER BY poly_id"""),

    DriverQuery("docs_spans", (s, dir) => {
      // the interleaved-document contract as a hard driver signal: build a
      // spans array per doc (text span carries the REAL document text, geo
      // span an integer-rendered anchor, media span a derived ref), push it
      // through anchor extraction + webmerc reprojection, then explode the
      // spans back out — kind, text, media_ref and ORDER must survive
      // bit-for-bit (the span-sequence invariant) next to the transform
      // output. md5 keeps the text column compact and engine-comparable.
      val d = t(s, dir, "documents")
      val lonI = (col("doc_id") * 73 % 360) - 180
      val latI = (col("doc_id") * 37 % 160) - 80
      val docs = d.select(col("doc_id"), array(
        struct(lit("text").as("kind"), col("text").as("text"),
          lit("").as("media_ref"), lit(0).as("offset")),
        struct(lit("geo").as("kind"),
          concat(lonI.cast("string"), lit(" "), latI.cast("string")).as("text"),
          lit("").as("media_ref"), lit(7).as("offset")),
        struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("media://"), (col("doc_id") * 31).cast("string")).as("media_ref"),
          (col("doc_id") % 100).cast("int").as("offset"))).as("spans"))
      DocsTable.withAnchor(docs)
        .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"),
          "proj=webmerc ellps=WGS84"))
        .select(col("doc_id"), mm(col("wm.x")).as("x_mm"),
          mm(col("wm.y")).as("y_mm"), posexplode(col("spans")))
        .select(col("doc_id"), col("pos"), col("col.kind").as("kind"),
          md5(col("col.text")).as("text_md5"),
          col("col.media_ref").as("media_ref"),
          col("col.offset").as("offset"), col("x_mm"), col("y_mm"))
        .orderBy("doc_id", "pos")
    }, oracle =
      """WITH base AS (
           SELECT doc_id, text,
             (doc_id*73)%360-180 AS lon_i, (doc_id*37)%160-80 AS lat_i
           FROM documents),
         sp AS (
           SELECT doc_id, 0 AS pos, 'text' AS kind, md5(text) AS text_md5,
                  '' AS media_ref, CAST(0 AS INT) AS "offset", lon_i, lat_i
           FROM base
           UNION ALL
           SELECT doc_id, 1, 'geo',
                  md5(CAST(lon_i AS VARCHAR) || ' ' || CAST(lat_i AS VARCHAR)),
                  '', CAST(7 AS INT), lon_i, lat_i
           FROM base
           UNION ALL
           SELECT doc_id, 2, 'media', md5(''),
                  'media://' || CAST(doc_id*31 AS VARCHAR),
                  CAST(doc_id%100 AS INT), lon_i, lat_i
           FROM base)
         SELECT doc_id, pos, kind, text_md5, media_ref, "offset",
           CAST(round(6378137.0*radians(CAST(lon_i AS DOUBLE))*1000) AS BIGINT) AS x_mm,
           CAST(round(6378137.0*ln(tan(pi()/4+radians(CAST(lat_i AS DOUBLE))/2))*1000) AS BIGINT) AS y_mm
         FROM sp ORDER BY doc_id, pos""",
      planWants = Seq(
        "generate (span explode) stays in the plan" -> (_.contains("Generate")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("geo_hexbin", (s, dir) => {
      // hexagonal tiling (flat-top axial grid with cube rounding over
      // web-mercator metres — the published hex-grid algebra, not an H3
      // bit-clone): points -> webmerc -> hex(q, r) at 250 km -> per-hex
      // counts + hex centers. Closed-form end to end, mirrored op-for-op
      // in the oracle.
      val size = 250000.0
      custPoints(s, dir)
        .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"),
          "proj=webmerc ellps=WGS84"))
        .withColumn("hex", GeoFunctions.hexBin(col("wm.x"), col("wm.y"), lit(size)))
        .select(col("hex.q").cast("long").as("q"), col("hex.r").cast("long").as("r"))
        .groupBy("q", "r").agg(count(lit(1)).as("n"))
        .withColumn("c", GeoFunctions.hexCenter(col("q").cast("int"),
          col("r").cast("int"), lit(size)))
        .select(col("q"), col("r"), col("n"),
          mm(col("c.x")).as("cx_mm"), mm(col("c.y")).as("cy_mm"))
        .orderBy("q", "r")
    }, oracle =
      """WITH pts AS (
           SELECT c_custkey AS point_id,
             6378137.0*radians((((c_custkey*73)%360)-180+0.5)) AS x,
             6378137.0*ln(tan(pi()/4+radians((((c_custkey*37)%160)-80+0.25))/2)) AS y
           FROM customer),
         frac AS (
           SELECT point_id,
             (2.0/3.0*x)/250000.0 AS fq,
             (-1.0/3.0*x + sqrt(3.0)/3.0*y)/250000.0 AS fr,
             -fq - fr AS fs,
             floor(fq + 0.5) AS rq, floor(fr + 0.5) AS rr, floor(fs + 0.5) AS rs,
             abs(rq - fq) AS dq, abs(rr - fr) AS dr, abs(rs - fs) AS ds
           FROM pts),
         hexed AS (
           SELECT point_id,
             CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS q,
             CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS r
           FROM frac)
         SELECT CAST(q AS BIGINT) AS q, CAST(r AS BIGINT) AS r, count(*) AS n,
           CAST(round(250000.0*1.5*q*1000) AS BIGINT) AS cx_mm,
           CAST(round(250000.0*sqrt(3.0)*(r + q/2.0)*1000) AS BIGINT) AS cy_mm
         FROM hexed GROUP BY q, r ORDER BY q, r""",
      planWants = Seq(
        "partial aggregation (map-side combine)" -> (_.contains("HashAggregate")),
        "scan present" -> (_.contains("Scan"))),
      bench = Headline),

    DriverQuery("geo_hot_salted", (s, dir) => {
      // salted-key skew mitigation on a hot cell, end-to-end: 80% of points
      // land in ONE z6 web-mercator tile (Tokyo); the dense side salts its
      // tile key 16 ways (saltCells) while the per-tile weight table
      // replicates (replicateForSalt), and the join is pinned to a shuffled
      // hash join — the one hot reducer becomes 16 balanced ones. salt_id
      // cancels in the output, so the oracle is the plain unsalted join.
      val salt = 16
      val hot = col("c_custkey") % 5 =!= 0
      val pts = t(s, dir, "customer").select(
        col("c_custkey").as("point_id"),
        when(hot, lit(139.69) + (col("c_custkey") * 193 % 1000) * 0.0001)
          .otherwise((col("c_custkey") * 73 % 360) - 180 + lit(0.5))
          .cast("double").as("lon"),
        when(hot, lit(35.69) + (col("c_custkey") * 149 % 1000) * 0.0001)
          .otherwise((col("c_custkey") * 37 % 160) - 80 + lit(0.25))
          .cast("double").as("lat"))
      val tiled = SpatialJoins.tileAssign(pts, z = 6)
        .withColumn("tile_x",
          shiftright(col("tile_key"), 29).bitwiseAND(lit((1L << 29) - 1)))
        .withColumn("tile_y", col("tile_key").bitwiseAND(lit((1L << 29) - 1)))
      val weights = s.range(0, 64).select(col("id").as("tile_x"))
        .crossJoin(s.range(0, 64).select(col("id").as("tile_y")))
        .withColumn("weight", (col("tile_x") * 64 + col("tile_y")) % 97)
      val salted = SpatialJoins.saltCells(tiled, col("point_id"), salt)
      val rep = SpatialJoins.replicateForSalt(weights, salt)
      salted.join(rep.hint("shuffle_hash"), Seq("tile_x", "tile_y", "salt_id"))
        .groupBy(col("tile_x"), col("tile_y"))
        .agg(count(lit(1)).as("n"), sum(col("weight")).cast("long").as("wsum"))
        .orderBy("tile_x", "tile_y")
    }, oracle =
      """WITH pts AS (
           SELECT c_custkey AS point_id,
             CASE WHEN c_custkey % 5 <> 0
                  THEN 139.69 + ((c_custkey*193) % 1000)*0.0001
                  ELSE (((c_custkey*73)%360)-180+0.5)::DOUBLE END AS lon,
             CASE WHEN c_custkey % 5 <> 0
                  THEN 35.69 + ((c_custkey*149) % 1000)*0.0001
                  ELSE (((c_custkey*37)%160)-80+0.25)::DOUBLE END AS lat
           FROM customer),
         tiled AS (
           SELECT point_id,
             CAST(LEAST(GREATEST(floor((lon+180)/360*64),0),63) AS BIGINT) AS tile_x,
             CAST(LEAST(GREATEST(floor((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2*64),0),63) AS BIGINT) AS tile_y
           FROM pts),
         w AS (
           SELECT x AS tile_x, y AS tile_y, (x*64 + y) % 97 AS weight
           FROM range(0,64) t1(x), range(0,64) t2(y))
         SELECT tile_x, tile_y, count(*) AS n,
           CAST(sum(weight) AS BIGINT) AS wsum
         FROM tiled JOIN w USING (tile_x, tile_y)
         GROUP BY 1,2 ORDER BY 1,2""",
      planWants = Seq(
        "shuffled hash join (not broadcast: salting must spread reducers)" ->
          (_.contains("ShuffledHashJoin")),
        "salt_id participates in the join keys" -> (_.contains("salt_id")),
        "no cross product" -> (p => !p.contains("CartesianProduct"))),
      bench = Headline),

    DriverQuery("media_pixels", (s, dir) => {
      // CONTENT-deep multimodal check: encode a real PNG per doc (zlib
      // IDAT), decode it back through the full chunk-walk + inflate +
      // un-filter path, and emit per-image pixel statistics; the oracle
      // re-generates every pixel independently (the encoder's LCG emulated
      // with HUGEINT wrap-around arithmetic) — a wrong inflate, filter or
      // byte-order bug changes the hash. Encode + decode + fold are all
      // Catalyst expressions, so the whole query is one codegen stage.
      import graft.spark.MediaFunctions._
      t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          pngPixelStats(mediaEncode(col("doc_id"))).as("st"))
        .select(col("doc_id"), col("st.n_px").as("n_px"),
          col("st.px_sum").as("px_sum"), col("st.px_poly").as("px_poly"))
        .orderBy("doc_id")
    }, oracle = OracleSql.mediaPixels),

    DriverQuery("media_jpeg", (s, dir) => {
      // CONTENT-deep JPEG check: encode a real baseline JFIF per doc, then
      // decode it through the full entropy path (canonical Huffman tables
      // built from DHT, DC prediction, EOB runs, byte unstuffing, dequant,
      // IDCT, level shift) and fold per-pixel statistics; the DC-only
      // synthetic makes the IDCT output integer-exact, so the oracle
      // regenerates every pixel from the seed stream in closed form — a
      // wrong Huffman table, sign decode or block raster changes the hash
      import graft.spark.MediaFunctions._
      t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 3 === 2)
        .select(col("doc_id"),
          jpegPixelStats(mediaEncodeJpeg(col("doc_id"))).as("st"))
        .select(col("doc_id"), col("st.n_px").as("n_px"),
          col("st.px_sum").as("px_sum"), col("st.px_poly").as("px_poly"))
        .orderBy("doc_id")
    }, oracle = OracleSql.mediaJpeg),

    DriverQuery("media_jpeg_prog", (s, dir) => {
      // CONTENT-deep progressive JPEG (ITU T.81 §G): encode a real
      // four-scan SOF2 stream per doc (DC first/refine with successive
      // approximation, AC first with EOBRUN and ZRL, AC refinement with
      // the correction-bit protocol), decode it through the multi-scan
      // coefficient accumulator + IDCT, and fold per-pixel statistics
      // including a quadratic in-block weight (px_chk) that sees the AC
      // coefficients; the oracle regenerates everything from the seed
      // stream in closed form
      import graft.spark.MediaFunctions._
      t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          jpegPixelStatsProg(mediaEncodeJpegProg(col("doc_id"))).as("st"))
        .select(col("doc_id"), col("st.n_px").as("n_px"),
          col("st.px_sum").as("px_sum"), col("st.px_poly").as("px_poly"),
          col("st.px_chk").as("px_chk"))
        .orderBy("doc_id")
    }, oracle = OracleSql.mediaJpegProg,
      bench = Round5),

    DriverQuery("media_frames", (s, dir) => {
      // frame-sampling shape over video-like payloads: decode headers,
      // filter to image kinds, explode one row per sampled frame with a
      // byte-length-derived stride. The JPEG-header family has a constant
      // 41-byte payload, so the stride arithmetic (min(maxFrames,
      // floor(bytes/everyN)) = 4) and the contiguous frame_idx contract
      // are exact in the oracle; lineage (doc_id, media_ref) preserved.
      val media = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("media://"), col("doc_id")).as("media_ref"),
        graft.spark.MediaFunctions.mediaEncode(col("doc_id")).as("payload"))
        .where(col("doc_id") % 3 === 2)
      val frames = graft.spark.MultimodalOps.sampleFrames(
        graft.spark.MultimodalOps.decodeAndFeaturize(media))
      frames.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_frames"),
          min(col("frame_idx")).cast("long").as("first_idx"),
          max(col("frame_idx")).cast("long").as("last_idx"),
          countDistinct(col("frame_idx")).as("n_distinct"),
          countDistinct(col("media_ref")).as("n_refs"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, CAST(4 AS BIGINT) AS n_frames,
         CAST(0 AS BIGINT) AS first_idx, CAST(3 AS BIGINT) AS last_idx,
         CAST(4 AS BIGINT) AS n_distinct, CAST(1 AS BIGINT) AS n_refs
         FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id"""),

    DriverQuery("media_resize", (s, dir) => {
      // content-deep image resize: decode the baseline JPEG, area-average
      // downscale by 2 (the standard anti-aliased box filter, fractional
      // edge weights in general; here the windows align with the flat DC
      // blocks so every resized pixel is exactly the block value), fold
      // per-pixel statistics over the RESIZED plane — the oracle
      // reconstructs it block-by-block in closed form
      import graft.spark.MediaFunctions._
      t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 3 === 2)
        .select(col("doc_id"),
          jpegResizeStats(mediaEncodeJpeg(col("doc_id")), lit(2L)).as("st"))
        .select(col("doc_id"), col("st.n_px").as("n_px"),
          col("st.px_sum").as("px_sum"), col("st.px_poly").as("px_poly"))
        .orderBy("doc_id")
    }, oracle = OracleSql.mediaResize,
      bench = Round5),

    DriverQuery("media_samples", (s, dir) => {
      // audio counterpart of media_pixels: real RIFF data-chunk walk +
      // little-endian PCM sample decode, verified per-sample against the
      // oracle's HUGEINT LCG emulation (signed 16-bit this time); encode +
      // decode + fold all Catalyst expressions, one codegen stage
      import graft.spark.MediaFunctions._
      t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") % 3 === 1)
        .select(col("doc_id"),
          wavSampleStats(mediaEncode(col("doc_id"))).as("st"))
        .select(col("doc_id"), col("st.n_smp").as("n_smp"),
          col("st.smp_sum").as("smp_sum"), col("st.smp_poly").as("smp_poly"))
        .orderBy("doc_id")
    }, oracle = OracleSql.mediaSamples),

    DriverQuery("media_features", (s, dir) => {
      // multimodal: synthesize REAL PNG/WAV/JPEG byte streams per doc
      // (parameters derived from doc_id), then parse them back with the
      // real header decoders; the oracle recomputes the parameters in SQL,
      // so a wrong byte layout or parser fails the hash
      val media = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("media://"), col("doc_id")).as("media_ref"),
        graft.spark.MediaFunctions.mediaEncode(col("doc_id")).as("payload"))
      graft.spark.MultimodalOps.decodeAndFeaturize(media)
        .select(col("doc_id"), col("media_kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"))
    }, oracle = OracleSql.mediaFeatures,
      planWants = Seq(
        "scan present" -> (_.contains("Scan"))),
      bench = Headline)
  )

  /** The driver's view of the registry: builders by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    driverQueries.map(q => q.name -> q.build).toMap

  /** The driver's view of the registry: DuckDB SQL by name, over the same
    * parquet tables, column names matching the Spark plans exactly. */
  def oracleSql: Map[String, String] =
    driverQueries.map(q => q.name -> q.oracle).toMap
}
