package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.S2CellId

/** Distributed spatial joins over S2-cell-indexed points.
  *
  * Scale design (the 100 TB story):
  *  - every join is an equi-join on a cell id, so Catalyst shuffles both
  *    sides by `cell` (hash partitioning); no cross product ever forms
  *  - small polygon/tile sets ride as broadcasts (cover lists are built on
  *    the driver once, at plan time)
  *  - hot cells (metro hotspots) can be salted via `saltCells`: the dense
  *    side explodes into `salt` sub-keys while the sparse side replicates,
  *    turning one hot reducer into `salt` balanced ones
  *  - kNN candidates come from ring expansion at a level chosen so the
  *    expected candidate count is tens, then exact Karney distance +
  *    per-query top-k window
  */
object SpatialJoins {

  /** Conservative min S2 cell extent in degrees at `level` over latitudes
    * minLat..maxLat, as (lon pitch, lat pitch): a face spans 90° over
    * 2^level cells; the uv->st quadratic transform shrinks edge cells by up
    * to ~1.7x, and high-latitude lon extent shrinks by cos(lat). */
  private def cellPitch(minLat: Double, maxLat: Double, level: Int): (Double, Double) = {
    val maxAbsLat = math.min(89.9, math.max(math.abs(minLat), math.abs(maxLat)))
    val pitchLat = 90.0 / (1L << math.min(level, 28)) / 1.7
    (pitchLat * math.max(0.05, math.cos(maxAbsLat.toRadians)), pitchLat)
  }

  /** Sample steps along `span` degrees: two per cell `pitch`, at least `least`. */
  private def steps(span: Double, pitch: Double, least: Int): Int =
    math.max(least, math.ceil(2.0 * span / pitch).toInt)

  /** Add to `cells` the `level` cell of every point of an (si+1) x (sj+1)
    * grid over the rectangle (x0, y0)-(x1, y1), each with its neighbor ring. */
  private def sampleRect(cells: collection.mutable.LinkedHashSet[Long],
                         x0: Double, y0: Double, x1: Double, y1: Double,
                         si: Int, sj: Int, level: Int): Unit = {
    var i = 0
    while (i <= si) {
      var j = 0
      while (j <= sj) {
        val c = S2CellId.cellId(x0 + (x1 - x0) * i / si, y0 + (y1 - y0) * j / sj, level)
        cells += c
        cells ++= S2CellId.allNeighbors(c)
        j += 1
      }
      i += 1
    }
  }

  /** Cover a lon/lat bbox with S2 cells at `level`. Grid sampling of the box
    * plus one neighbor ring per sample; the step count adapts to the bbox
    * extent vs the cell pitch at `level` so interior cells can't fall
    * between samples (a fixed grid silently under-covered large boxes). */
  def coverBBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                level: Int): Seq[Long] = {
    val (pitchLon, pitchLat) = cellPitch(minLat, maxLat, level)
    def stepsFor(span: Double, pitch: Double): Int = {
      val need = steps(span, pitch, 8)
      // fail LOUD instead of silently under-covering: a bbox needing more
      // than 4096 cells per axis means `level` is far too fine for the
      // polygon scale (16M+ cover cells per polygon would also be the
      // wrong plan) — the caller must choose a coarser level
      require(need <= 4096,
        f"coverBBox: bbox span $span%.3f deg needs $need sample steps at this " +
          "S2 level (max 4096) — use a coarser level for polygons this large")
      need
    }
    val stepsI = stepsFor(maxLon - minLon, pitchLon)
    val stepsJ = stepsFor(maxLat - minLat, pitchLat)
    val cells = collection.mutable.LinkedHashSet[Long]()
    sampleRect(cells, minLon, minLat, maxLon, maxLat, stepsI, stepsJ, level)
    cells.toSeq
  }

  /** Interior-aware S2 cover of a polygon RING at `level`: a lon/lat
    * quadtree descends from the ring's bbox, prunes rectangles that do not
    * intersect the polygon (concave pockets, bbox corners), and samples
    * only the surviving leaves with the same density + neighbor-ring
    * guarantee as coverBBox. Small bboxes take the plain bbox fast path.
    * Over-covers never under-covers: a leaf is kept when ANY of (ring
    * vertex in rect, rect corner in ring, ring edge crosses rect) holds,
    * so every polygon-intersecting cell is sampled; the PIP join's exact
    * ray-cast verify keeps correctness independent of cover tightness. */
  def coverRing(lons: Array[Double], lats: Array[Double], level: Int): Seq[Long] = {
    val n = lons.length
    var minLon = Double.MaxValue; var maxLon = Double.MinValue
    var minLat = Double.MaxValue; var maxLat = Double.MinValue
    var i = 0
    while (i < n) {
      if (lons(i) < minLon) minLon = lons(i)
      if (lons(i) > maxLon) maxLon = lons(i)
      if (lats(i) < minLat) minLat = lats(i)
      if (lats(i) > maxLat) maxLat = lats(i)
      i += 1
    }
    val (pitchLon, pitchLat) = cellPitch(minLat, maxLat, level)
    val stepsLon = steps(maxLon - minLon, pitchLon, 1)
    val stepsLat = steps(maxLat - minLat, pitchLat, 1)
    // same loud-failure contract as coverBBox: a level far too fine for
    // the polygon scale is a wrong plan, not a silent 16M-cell cover
    require(stepsLon <= 4096 && stepsLat <= 4096,
      f"coverRing: bbox span needs > 4096 sample steps at S2 level $level — " +
        "use a coarser level for polygons this large")
    // fast path: small boxes gain nothing from pruning
    if (stepsLon.toLong * stepsLat <= 1024)
      return coverBBox(minLon, minLat, maxLon, maxLat, level)

    def inRing(lon: Double, lat: Double): Boolean = {
      var inside = false
      var a = 0; var b = n - 1
      while (a < n) {
        if ((lats(a) > lat) != (lats(b) > lat) &&
            lon < (lons(b) - lons(a)) * (lat - lats(a)) / (lats(b) - lats(a)) + lons(a))
          inside = !inside
        b = a; a += 1
      }
      inside
    }
    /** Liang-Barsky segment-vs-rect overlap. */
    def segCrossesRect(x1: Double, y1: Double, x2: Double, y2: Double,
                       rx0: Double, ry0: Double, rx1: Double, ry1: Double): Boolean = {
      var t0 = 0.0; var t1 = 1.0
      val dx = x2 - x1; val dy = y2 - y1
      var k = 0
      while (k < 4) {
        val (p, q) = k match {
          case 0 => (-dx, x1 - rx0)
          case 1 => (dx, rx1 - x1)
          case 2 => (-dy, y1 - ry0)
          case _ => (dy, ry1 - y1)
        }
        if (p == 0) { if (q < 0) return false }
        else {
          val r = q / p
          if (p < 0) { if (r > t1) return false; if (r > t0) t0 = r }
          else { if (r < t0) return false; if (r < t1) t1 = r }
        }
        k += 1
      }
      true
    }
    def rectIntersects(rx0: Double, ry0: Double, rx1: Double, ry1: Double): Boolean = {
      // rect corner inside polygon (also: rect fully interior)
      if (inRing(rx0, ry0) || inRing(rx1, ry0) || inRing(rx0, ry1) || inRing(rx1, ry1))
        return true
      var a = 0; var b = n - 1
      while (a < n) {
        // ring vertex inside rect, or ring edge crossing the rect
        if (lons(a) >= rx0 && lons(a) <= rx1 && lats(a) >= ry0 && lats(a) <= ry1)
          return true
        if (segCrossesRect(lons(b), lats(b), lons(a), lats(a), rx0, ry0, rx1, ry1))
          return true
        b = a; a += 1
      }
      false
    }
    val cells = collection.mutable.LinkedHashSet[Long]()
    def descend(rx0: Double, ry0: Double, rx1: Double, ry1: Double): Unit = {
      if (!rectIntersects(rx0, ry0, rx1, ry1)) return
      val si = steps(rx1 - rx0, pitchLon, 1)
      val sj = steps(ry1 - ry0, pitchLat, 1)
      if (si <= 16 && sj <= 16) { sampleRect(cells, rx0, ry0, rx1, ry1, si, sj, level); return }
      val mx = (rx0 + rx1) / 2; val my = (ry0 + ry1) / 2
      descend(rx0, ry0, mx, my); descend(mx, ry0, rx1, my)
      descend(rx0, my, mx, ry1); descend(mx, my, rx1, ry1)
    }
    descend(minLon, minLat, maxLon, maxLat)
    cells.toSeq
  }

  /** Point-in-polygon join: points(lon, lat, …) × zones(zone_id, ring
    * flat-array) → points with matched zone_id (inner); every column of
    * either side but `ring` passes through, a `cell` column included.
    *
    * Two-phase: S2 cover pre-join on the point's level-`level` cell (an
    * internal key), then the exact ray-cast expression. Covers are built
    * EXECUTOR-side (coverCells explode — no driver collect, so a
    * million-polygon zones table works), and the cover side rides as a
    * broadcast when `broadcastZones` (the default: polygon sets are usually
    * small relative to points); pass false to get a shuffle equi-join on
    * the cell for huge polygon tables — hot cells can then be salted with
    * saltCells/replicateForSalt.
    */
  def pipJoin(points: DataFrame, zones: DataFrame, level: Int = 12,
              broadcastZones: Boolean = true): DataFrame = {
    val key = "__pip_cell"
    val covers = zones.withColumn(key,
      explode(GeoFunctions.coverCells(col("ring"), lit(level))))
    val pts = points.withColumn(key,
      GeoFunctions.s2Cell(col("lon"), col("lat"), lit(level)))
    pts
      .join(if (broadcastZones) broadcast(covers) else covers, Seq(key))
      .where(GeoFunctions.pointInRing(col("lon"), col("lat"), col("ring")))
      .drop(key, "ring")
  }

  /** kNN: queries(q_id, lon, lat) × points(point_id, lon, lat) → top-k
    * nearest points per query by exact geodesic distance.
    *
    * Candidates: each query expands to its cell + `rings` rings at `level`;
    * points are bucketed once by the same level, and the expanded queries
    * ride as a broadcast. `distQuantM` > 0 ranks on the distance quantized
    * to that many metres (emitted as `dist_q` = round(dist_m / distQuantM),
    * ties broken by point_id) — a deterministic ordering that an
    * independent engine can reproduce despite libm ulp differences; 0 ranks
    * on the raw double. */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int,
              level: Int = 8, rings: Int = 2,
              distQuantM: Double = 0.0): DataFrame =
    ringJoin(
      points.withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(level))),
      queries
        .withColumn("cell", explode(GeoFunctions.ringCells(
          col("lon"), col("lat"), lit(level), lit(rings))))
        .withColumnRenamed("lon", "q_lon")
        .withColumnRenamed("lat", "q_lat"),
      Seq("cell"), k, distQuantM)

  /** The ring join both kNN joins run: points `p` (point_id, lon, lat,
    * `keys`) meet the broadcast query ring keys `q` (q_id, q_lon, q_lat,
    * `keys`) in an equi-join on `keys`; each candidate gets its geodesic
    * `dist_m` (and `dist_q`, see knnJoin), and each q_id keeps its k best
    * by (distance, point_id), numbered `rnk`. */
  private def ringJoin(p: DataFrame, q: DataFrame, keys: Seq[String], k: Int,
                       distQuantM: Double): DataFrame = {
    val joined = p.join(broadcast(q), keys)
      .withColumn("dist_m", GeoFunctions.geodesicDistance(
        col("q_lon"), col("q_lat"), col("lon"), col("lat")))
    val (ranked, order) =
      if (distQuantM > 0) {
        val d = joined.withColumn("dist_q",
          round(col("dist_m") / distQuantM).cast("long"))
        (d, Seq(col("dist_q"), col("point_id")))
      } else (joined, Seq(col("dist_m"), col("point_id")))
    val w = Window.partitionBy(col("q_id")).orderBy(order: _*)
    ranked
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .drop(keys: _*)
  }

  /** Ring doublings stop here: hexKnnJoin fails rather than widen further. */
  private val MaxHexRings = 256

  /** Hex-grid kNN: the hex analogue of knnJoin. Both sides bin into the
    * flat-top axial hex grid over web-mercator metres (plane x/y columns);
    * queries expand hexRing(rings), points bin into the same grid,
    * candidates meet in the ring join on (hq, hr), exact Karney distance
    * ranks.
    *
    * Exactness contract: a query's top-k is accepted only when k
    * candidates were found AND the k-th distance is within the ring set's
    * lower bound — any point outside `rings` grid steps sits at planar
    * distance ≥ (rings − 0.5)·sizeM from the query (outside hexes are
    * ≥ rings+1 steps away; centers of hexes n steps apart are ≥ 1.5·n·sizeM
    * apart, minus one circumradius per endpoint), deflated to ground metres
    * by web-mercator's cos(lat) at the ring extent's worst latitude.
    * Unsatisfied queries re-run with doubled rings until exact (loud failure
    * past 256 rings). Each round's ranked rows and the next round's
    * pending queries are local checkpoints, so no round re-runs an earlier
    * one and the job count grows linearly with the rounds. */
  def hexKnnJoin(queries: DataFrame, points: DataFrame, k: Int,
                 sizeM: Double, rings: Int = 2): DataFrame = {
    def rounds(pending: DataFrame, r: Int): List[DataFrame] = {
      // ground-metre lower bound to anything outside the ring set: the
      // planar (r − 0.5)·sizeM, deflated by cos at the worst latitude the
      // ring extent can reach (web-mercator ground = planar · cos(lat))
      val padDeg = math.toDegrees((r + 2) * math.sqrt(3.0) * sizeM / 6378137.0)
      val w = Window.partitionBy(col("q_id"))
      val res = hexKnnRound(pending, points, k, sizeM, r)
        .withColumn("exact", count(lit(1)).over(w) === k &&
          max(col("dist_m")).over(w) <= lit((r - 0.5) * sizeM) *
            cos(radians(least(lit(89.5), abs(col("q_lat")) + lit(padDeg)))))
        .localCheckpoint(true)
      val exact = res.where(col("exact"))
        .select("q_id", "point_id", "lon", "lat", "q_lon", "q_lat", "dist_m", "rnk")
      val okIds = res.where(col("exact") && col("rnk") === 1).select("q_id")
      val next = pending.join(broadcast(okIds), Seq("q_id"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) List(exact)
      else {
        require(r < MaxHexRings,
          s"hexKnnJoin: k=$k not provably exact within $MaxHexRings rings of " +
            s"sizeM=$sizeM — raise sizeM or check point density")
        exact :: rounds(next, math.min(MaxHexRings, r * 2))
      }
    }
    rounds(queries, rings).reduce(_ unionByName _)
  }

  /** One hexKnnJoin round: the top-k within a fixed `rings` reach, with no
    * exactness test — a query whose neighbors lie farther out gets wrong or
    * too few rows. */
  private[spark] def hexKnnRound(queries: DataFrame, points: DataFrame, k: Int,
                                 sizeM: Double, rings: Int): DataFrame = {
    def withHex(df: DataFrame): DataFrame = df
      .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"),
        "proj=webmerc ellps=WGS84"))
      .withColumn("hex", GeoFunctions.hexBin(col("wm.x"), col("wm.y"), lit(sizeM)))
    ringJoin(
      withHex(points).select(col("point_id"), col("lon"), col("lat"),
        col("hex.q").as("hq"), col("hex.r").as("hr")),
      withHex(queries)
        .select(col("q_id"), col("lon").as("q_lon"), col("lat").as("q_lat"),
          explode(GeoFunctions.hexRing(col("hex.q"), col("hex.r"), lit(rings))).as("ring"))
        .select(col("q_id"), col("q_lon"), col("q_lat"),
          col("ring.q").as("hq"), col("ring.r").as("hr")),
      Seq("hq", "hr"), k, 0.0)
  }

  /** Raster-tile ↔ vector assignment: tag each point with its z/x/y tile and
    * aggregate per tile (tile-id equi-join / groupBy — pure hash shuffle,
    * no geometry at runtime). */
  def tileAssign(points: DataFrame, z: Int): DataFrame =
    points.withColumn("tile_key",
      GeoFunctions.tileKey(col("lon"), col("lat"), lit(z)))

  /** Locality-preserving storage partitioning: S2 cell ids follow a
    * Hilbert curve, so RANGE partitioning by cell id yields spatially
    * contiguous blocks (nearby things share files) — the storage-side
    * complement of the hash-shuffle joins. Use before writing a
    * cell-keyed table: per-file cell min/max stats then prune reads for
    * any cell-range predicate (a tile, a cover, a ring set) at query
    * time, and within-partition ordering maximizes row-group stat
    * selectivity. */
  def rangePartitionByCell(points: DataFrame, partitions: Int,
                           cellCol: String = "cell"): DataFrame =
    points.repartitionByRange(partitions, col(cellCol))
      .sortWithinPartitions(cellCol)

  /** Salt a hot-keyed DataFrame: `cell` -> (cell, salt_id) with salt_id =
    * hash(row-id-ish) % salt; the other side replicates via
    * explode(sequence(0, salt-1)). */
  def saltCells(dense: DataFrame, saltBy: Column, salt: Int): DataFrame =
    dense.withColumn("salt_id", pmod(hash(saltBy), lit(salt)))

  def replicateForSalt(sparse: DataFrame, salt: Int): DataFrame =
    sparse.withColumn("salt_id", explode(sequence(lit(0), lit(salt - 1))))
}
