package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, GetStructField}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.Geodesic
import graft.index.{S2CellId, SlippyTile}
import graft.proj.ops.TmercOps

/** Static per-row geo kernels, reached from Catalyst through the
  * `StaticInvoke`s built by GeoExprs. */
object GeoKernels {
  def s2Cell(lon: Double, lat: Double, level: Int): Long =
    S2CellId.cellId(lon, lat, level)

  def tileKey(lon: Double, lat: Double, z: Int): Long =
    SlippyTile.tileKey(lon, lat, z)

  def utmZone(lon: Double): Int = TmercOps.zoneFromLonLat(lon)

  def geodesicDist(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    Geodesic.WGS84.distance(lat1, lon1, lat2, lon2)

  /** S2 face + (u,v) face coordinates for a lon/lat degree pair — the
    * closed-form part of the cell mapping (reference s2 projection math),
    * exposed for the SQL-expressible driver oracle; the Hilbert-curve id
    * itself is locked by ScalaCheck bijectivity tests. */
  def s2FaceUv(lon: Double, lat: Double): InternalRow = {
    val lam = math.toRadians(lon)
    val phi = math.toRadians(lat)
    val cosLat = math.cos(phi)
    val x = cosLat * math.cos(lam)
    val y = cosLat * math.sin(lam)
    val z = math.sin(phi)
    val f = graft.proj.ops.DggOps.faceOf(x, y, z)
    val (u, v) = graft.proj.ops.DggOps.validFaceXyzToUv(f, x, y, z)
    new GenericInternalRow(Array[Any](f, u, v))
  }

  /** cell + `rings` rings of neighbors at `level` around a lon/lat point —
    * the kNN candidate expansion, as a codegen-able kernel (was a ScalaUDF,
    * which broke whole-stage codegen on the query side of knnJoin). */
  def ringCells(lon: Double, lat: Double, level: Int, rings: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      S2CellId.ringCells(S2CellId.cellId(lon, lat, level), rings))

  /** S2 cell cover of a polygon ring at `level` (executor-side; the
    * distributed pipJoin path — no driver collect). Small rings take the
    * bbox sampling fast path; large ones go through the quadtree interior
    * cover (SpatialJoins.coverRing), which prunes bbox rectangles outside
    * the polygon — a concave or elongated ring no longer drags its whole
    * bounding box of candidate cells into the join. Adaptive sampling +
    * one neighbor ring guarantees completeness either way; pick `level`
    * near the polygon scale (cells ~ polygon size). */
  def coverCells(ring: ArrayData, level: Int): ArrayData = {
    val n = ring.numElements() / 2
    val lons = new Array[Double](n); val lats = new Array[Double](n)
    var i = 0
    while (i < n) {
      lons(i) = ring.getDouble(2 * i); lats(i) = ring.getDouble(2 * i + 1)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SpatialJoins.coverRing(lons, lats, level).toArray)
  }

  /** `n+1` waypoints (including both endpoints) along the WGS84 geodesic
    * from point 1 to point 2, equally spaced in distance — the line-walking
    * primitive (geodesic densification for edge sampling / antimeridian-
    * safe interpolation). Returns a flat [lon0, lat0, lon1, lat1, ...]. */
  def geodesicWaypoints(lon1: Double, lat1: Double,
                        lon2: Double, lat2: Double, n: Int): ArrayData = {
    require(n >= 1, s"geodesicWaypoints: n must be >= 1 (got $n)")
    val g = Geodesic.WGS84
    val inv = g.inverse(lat1, lon1, lat2, lon2)
    val line = new graft.core.Line(g, lat1, lon1, inv._2)
    val out = new Array[Double](2 * (n + 1))
    val pos = new Array[Double](10)
    var k = 0
    while (k <= n) {
      if (k == 0) { out(0) = lon1; out(1) = lat1 }
      else if (k == n) { out(2 * n) = lon2; out(2 * n + 1) = lat2 }
      else {
        line.position(arcMode = false, inv._1 * k / n, pos)
        out(2 * k) = pos(1); out(2 * k + 1) = pos(0)
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Geodesic perimeter + area of a flat [lon, lat, ...] ring on WGS84
    * (Karney planimeter; counter-clockwise positive). */
  def polygonMetrics(ring: ArrayData): InternalRow = {
    val p = new graft.core.PolygonArea(Geodesic.WGS84)
    val n = ring.numElements() / 2
    var i = 0
    while (i < n) {
      p.addPoint(ring.getDouble(2 * i + 1), ring.getDouble(2 * i))
      i += 1
    }
    val (per, area) = p.compute()
    new GenericInternalRow(Array[Any](per, area))
  }

  /** Exact even-odd ray cast in lon/lat space; rings as flat
    * [lon0, lat0, lon1, lat1, ...]. Matches the classic point-in-polygon
    * semantics used for the PIP verification pass. */
  def pointInRing(lon: Double, lat: Double, ring: ArrayData): Boolean = {
    val n = ring.numElements() / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring.getDouble(2 * i); val yi = ring.getDouble(2 * i + 1)
      val xj = ring.getDouble(2 * j); val yj = ring.getDouble(2 * j + 1)
      if (((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Flat-top hexagonal binning over plane coordinates (e.g. web-mercator
    * metres) → axial (q, r). The H3-style hierarchical hex index family is
    * represented honestly: an axial hex grid with cube rounding (the
    * published hex-grid algebra), NOT a bit-compatible H3 clone — H3's 122
    * base-cell tables are library data, not derivable math. Rounding uses
    * floor(v + 0.5) explicitly so an independent SQL engine reproduces the
    * assignment bit-for-bit. */
  def hexBin(x: Double, y: Double, size: Double): InternalRow = {
    val fq = (2.0 / 3.0 * x) / size
    val fr = (-1.0 / 3.0 * x + math.sqrt(3.0) / 3.0 * y) / size
    val fs = -fq - fr
    var rq = math.floor(fq + 0.5)
    var rr = math.floor(fr + 0.5)
    var rs = math.floor(fs + 0.5)
    val dq = math.abs(rq - fq); val dr = math.abs(rr - fr); val ds = math.abs(rs - fs)
    if (dq > dr && dq > ds) rq = -rr - rs
    else if (dr > ds) rr = -rq - rs
    else rs = -rq - rr
    new GenericInternalRow(Array[Any](rq.toInt, rr.toInt))
  }

  /** Center (x, y) of axial hex (q, r) at `size` (circumradius) — the
    * inverse anchor of hexBin: hexBin(hexCenter(q, r)) == (q, r). */
  def hexCenter(q: Int, r: Int, size: Double): InternalRow = {
    val x = size * 1.5 * q
    val y = size * math.sqrt(3.0) * (r + q / 2.0)
    new GenericInternalRow(Array[Any](x, y))
  }

  /** All axial hexes within `rings` grid steps of (q, r) — 3n(n+1)+1 cells,
    * the hex analogue of S2 ringCells for kNN candidate expansion. Returns
    * array<struct<q, r>>. */
  def hexRing(q: Int, r: Int, rings: Int): ArrayData = {
    require(rings >= 0, s"hexRing: rings must be >= 0 (got $rings)")
    val out = new Array[Any]((3 * rings * (rings + 1)) + 1)
    var i = 0
    var dq = -rings
    while (dq <= rings) {
      var dr = math.max(-rings, -dq - rings)
      val hi = math.min(rings, -dq + rings)
      while (dr <= hi) {
        out(i) = new GenericInternalRow(Array[Any](q + dq, r + dr))
        i += 1
        dr += 1
      }
      dq += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Expression-level builders of the geo kernels, shared by the Column API
  * (GeoFunctions) and the SQL surface (GraftExtensions). Each is one
  * `StaticInvoke` of a GeoKernels method: the declared input types make the
  * analyzer coerce SQL arguments (e.g. integer lon/lat literals), a null
  * argument gives null, and the result is nullable exactly when an
  * argument is. */
object GeoExprs {
  private def call(fn: String, dataType: DataType, args: Seq[Expression],
                   inputTypes: DataType*): Expression =
    StaticInvoke(GeoKernels.getClass, dataType, fn, args, inputTypes,
      returnNullable = false)

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val hexType = struct("q" -> IntegerType, "r" -> IntegerType)
  private val ringType = ArrayType(DoubleType)

  def s2Cell(lon: Expression, lat: Expression, level: Expression): Expression =
    call("s2Cell", LongType, Seq(lon, lat, level), DoubleType, DoubleType, IntegerType)

  def tileKey(lon: Expression, lat: Expression, z: Expression): Expression =
    call("tileKey", LongType, Seq(lon, lat, z), DoubleType, DoubleType, IntegerType)

  def utmZone(lon: Expression): Expression =
    call("utmZone", IntegerType, Seq(lon), DoubleType)

  def geodesicDistance(lon1: Expression, lat1: Expression,
                       lon2: Expression, lat2: Expression): Expression =
    call("geodesicDist", DoubleType, Seq(lon1, lat1, lon2, lat2),
      DoubleType, DoubleType, DoubleType, DoubleType)

  def pointInRing(lon: Expression, lat: Expression, ring: Expression): Expression =
    call("pointInRing", BooleanType, Seq(lon, lat, ring), DoubleType, DoubleType, ringType)

  def s2FaceUv(lon: Expression, lat: Expression): Expression =
    call("s2FaceUv", struct("face" -> IntegerType, "u" -> DoubleType, "v" -> DoubleType),
      Seq(lon, lat), DoubleType, DoubleType)

  def ringCells(lon: Expression, lat: Expression, level: Expression,
                rings: Expression): Expression =
    call("ringCells", ArrayType(LongType, containsNull = false),
      Seq(lon, lat, level, rings), DoubleType, DoubleType, IntegerType, IntegerType)

  def coverCells(ring: Expression, level: Expression): Expression =
    call("coverCells", ArrayType(LongType, containsNull = false), Seq(ring, level),
      ringType, IntegerType)

  def polygonMetrics(ring: Expression): Expression =
    call("polygonMetrics", struct("perimeter_m" -> DoubleType, "area_m2" -> DoubleType),
      Seq(ring), ringType)

  def geodesicWaypoints(lon1: Expression, lat1: Expression, lon2: Expression,
                        lat2: Expression, n: Expression): Expression =
    call("geodesicWaypoints", ArrayType(DoubleType, containsNull = false),
      Seq(lon1, lat1, lon2, lat2, n),
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)

  def hexBin(x: Expression, y: Expression, size: Expression): Expression =
    call("hexBin", hexType, Seq(x, y, size), DoubleType, DoubleType, DoubleType)

  def hexCenter(q: Expression, r: Expression, size: Expression): Expression =
    call("hexCenter", struct("x" -> DoubleType, "y" -> DoubleType), Seq(q, r, size),
      IntegerType, IntegerType, DoubleType)

  def hexRing(q: Expression, r: Expression, rings: Expression): Expression =
    call("hexRing", ArrayType(hexType, containsNull = false), Seq(q, r, rings),
      IntegerType, IntegerType, IntegerType)

  /** lon/lat → ISEA plane → hexBin; the one isea transform feeds both
    * coordinates, so common-subexpression elimination runs it once. */
  def globalHexCell(lon: Expression, lat: Expression, sizeM: Expression): Expression = {
    val p = ProjExprs.projTrans2(lon, lat, "proj=isea ellps=WGS84")
    hexBin(GetStructField(p, 0, Some("x")), GetStructField(p, 1, Some("y")), sizeM)
  }
}

/** Column API for the geo expressions. */
object GeoFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** S2 cell id at `level` from lon/lat degree columns. */
  def s2Cell(lon: Column, lat: Column, level: Column): Column =
    col(GeoExprs.s2Cell(ex(lon), ex(lat), ex(level)))

  /** packed web-mercator tile key (z | x | y). */
  def tileKey(lon: Column, lat: Column, z: Column): Column =
    col(GeoExprs.tileKey(ex(lon), ex(lat), ex(z)))

  /** UTM zone 1..60 inferred from longitude (reference tmerc.cpp:656-662). */
  def utmZone(lon: Column): Column = col(GeoExprs.utmZone(ex(lon)))

  /** Karney geodesic distance in metres on WGS84 between two lon/lat pairs. */
  def geodesicDistance(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(GeoExprs.geodesicDistance(ex(lon1), ex(lat1), ex(lon2), ex(lat2)))

  /** exact even-odd point-in-polygon over a flat [lon,lat,...] ring array. */
  def pointInRing(lon: Column, lat: Column, ring: Column): Column =
    col(GeoExprs.pointInRing(ex(lon), ex(lat), ex(ring)))

  /** S2 face + (u,v) face coordinates: struct(face, u, v). */
  def s2FaceUv(lon: Column, lat: Column): Column =
    col(GeoExprs.s2FaceUv(ex(lon), ex(lat)))

  /** array of the point's cell and its `rings` neighbor rings at `level`. */
  def ringCells(lon: Column, lat: Column, level: Column, rings: Column): Column =
    col(GeoExprs.ringCells(ex(lon), ex(lat), ex(level), ex(rings)))

  /** S2 cover of a flat-ring polygon's bbox at `level` (executor-side). */
  def coverCells(ring: Column, level: Column): Column =
    col(GeoExprs.coverCells(ex(ring), ex(level)))

  /** geodesic perimeter + area of a flat [lon,lat,...] ring on WGS84:
    * struct(perimeter_m, area_m2); counter-clockwise area is positive. */
  def polygonMetrics(ring: Column): Column = col(GeoExprs.polygonMetrics(ex(ring)))

  /** n+1 equally-spaced waypoints along the WGS84 geodesic between two
    * lon/lat points, as a flat [lon,lat,...] array. */
  def geodesicWaypoints(lon1: Column, lat1: Column,
                        lon2: Column, lat2: Column, n: Column): Column =
    col(GeoExprs.geodesicWaypoints(ex(lon1), ex(lat1), ex(lon2), ex(lat2), ex(n)))

  /** flat-top axial hex bin of plane (x, y) at `size`: struct(q, r). */
  def hexBin(x: Column, y: Column, size: Column): Column =
    col(GeoExprs.hexBin(ex(x), ex(y), ex(size)))

  /** center (x, y) of axial hex (q, r) at `size`: struct(x, y). */
  def hexCenter(q: Column, r: Column, size: Column): Column =
    col(GeoExprs.hexCenter(ex(q), ex(r), ex(size)))

  /** all hexes within `rings` grid steps of (q, r): array<struct<q, r>>. */
  def hexRing(q: Column, r: Column, rings: Column): Column =
    col(GeoExprs.hexRing(ex(q), ex(r), ex(rings)))

  /** Global equal-area hex cell: lon/lat → ISEA (icosahedral Snyder
    * equal-area, the published substrate of H3-style grids; gie-verified
    * op) → flat-top axial hex bin in the ISEA plane. Equal-area hexagonal
    * cells over the whole globe — the honest H3 alternative (reference
    * src/projections/isea.cpp:962). `sizeM` is the hex circumradius in
    * ISEA plane metres. */
  def globalHexCell(lon: Column, lat: Column, sizeM: Column): Column =
    col(GeoExprs.globalHexCell(ex(lon), ex(lat), ex(sizeM)))

  /** full proj pipeline transform — re-export for one-stop import. */
  def projTrans2(lon: Column, lat: Column, pipeline: String): Column =
    ProjFunctions.projTrans2(lon, lat, pipeline)
}
