package graft.spark

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

/** SQL surface for the engine's Catalyst expressions — so `spark.sql` users
  * (and thriftserver-style clients) reach the kernels without the Scala
  * column API:
  *
  *   spark.sql.extensions=graft.spark.GraftExtensions      (spark-submit)
  *   GraftExtensions.register(spark)                       (existing session)
  *
  *   SELECT graft_s2_cell(lon, lat, 12), graft_utm_native(lon, lat).x,
  *          graft_proj_trans(lon, lat, 'proj=webmerc ellps=WGS84').y, ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(
      s"$fn: the proj-string argument must be a string literal")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.spark.GraftExtensions", null, name, usage, "")

  /** (name, info, builder) triples for every SQL-exposed kernel. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_s2_cell",
      info("graft_s2_cell", "graft_s2_cell(lon, lat, level) - S2 cell id"),
      (c: Seq[Expression]) => GeoExprs.s2Cell(c(0), c(1), c(2))),
    ("graft_tile_key",
      info("graft_tile_key", "graft_tile_key(lon, lat, z) - packed web-mercator tile key"),
      (c: Seq[Expression]) => GeoExprs.tileKey(c(0), c(1), c(2))),
    ("graft_utm_zone",
      info("graft_utm_zone", "graft_utm_zone(lon) - UTM zone 1..60"),
      (c: Seq[Expression]) => GeoExprs.utmZone(c(0))),
    ("graft_geodesic_distance",
      info("graft_geodesic_distance",
        "graft_geodesic_distance(lon1, lat1, lon2, lat2) - Karney WGS84 metres"),
      (c: Seq[Expression]) => GeoExprs.geodesicDistance(c(0), c(1), c(2), c(3))),
    ("graft_point_in_ring",
      info("graft_point_in_ring",
        "graft_point_in_ring(lon, lat, ring) - even-odd PIP over flat [lon,lat,...]"),
      (c: Seq[Expression]) => GeoExprs.pointInRing(c(0), c(1), c(2))),
    ("graft_ring_cells",
      info("graft_ring_cells",
        "graft_ring_cells(lon, lat, level, rings) - cell + neighbor rings"),
      (c: Seq[Expression]) => GeoExprs.ringCells(c(0), c(1), c(2), c(3))),
    ("graft_cover_cells",
      info("graft_cover_cells", "graft_cover_cells(ring, level) - bbox cell cover"),
      (c: Seq[Expression]) => GeoExprs.coverCells(c(0), c(1))),
    ("graft_s2_face_uv",
      info("graft_s2_face_uv", "graft_s2_face_uv(lon, lat) - struct(face, u, v)"),
      (c: Seq[Expression]) => GeoExprs.s2FaceUv(c(0), c(1))),
    ("graft_polygon_metrics",
      info("graft_polygon_metrics",
        "graft_polygon_metrics(ring) - struct(perimeter_m, area_m2), Karney planimeter"),
      (c: Seq[Expression]) => GeoExprs.polygonMetrics(c(0))),
    ("graft_utm_native",
      info("graft_utm_native",
        "graft_utm_native(lon, lat) - struct(zone, south, x, y) in the point's own zone CRS"),
      (c: Seq[Expression]) => ProjExprs.utmNative(c(0), c(1), "WGS84")),
    ("graft_geodesic_waypoints",
      info("graft_geodesic_waypoints",
        "graft_geodesic_waypoints(lon1, lat1, lon2, lat2, n) - n+1 equally spaced points on the geodesic"),
      (c: Seq[Expression]) => GeoExprs.geodesicWaypoints(c(0), c(1), c(2), c(3), c(4))),
    ("graft_trans_bounds",
      info("graft_trans_bounds",
        "graft_trans_bounds(lonmin, latmin, lonmax, latmax, 'proj-string') - densified-edge CRS envelope"),
      (c: Seq[Expression]) => ProjExprs.projTransBounds(c(0), c(1), c(2), c(3),
        strArg(c(4), "graft_trans_bounds"))),
    ("graft_proj_trans",
      info("graft_proj_trans",
        "graft_proj_trans(lon, lat, 'proj-string or EPSG:code') - struct(x,y,z,t,err)"),
      (c: Seq[Expression]) =>
        ProjExprs.projTrans2(c(0), c(1), strArg(c(2), "graft_proj_trans"))),
    ("graft_crs_registry",
      info("graft_crs_registry",
        "graft_crs_registry(x, y, 'src CRS', 'dst CRS') - registry-grade CRS->CRS via the EPSG/IGNF operation database: struct(x,y,z,t,err)"),
      (c: Seq[Expression]) => ProjExprs.crsToCrsRegistry(c(0), c(1),
        strArg(c(2), "graft_crs_registry"), strArg(c(3), "graft_crs_registry"))),
    ("graft_crs_dispatch",
      info("graft_crs_dispatch",
        "graft_crs_dispatch(x, y, 'src CRS', 'dst CRS') - per-row best-operation dispatch from the registry: struct(op, x, y, z)"),
      (c: Seq[Expression]) => ProjExprs.crsToCrsDispatch(c(0), c(1),
        strArg(c(2), "graft_crs_dispatch"), strArg(c(3), "graft_crs_dispatch"))),
    ("graft_hex_bin",
      info("graft_hex_bin",
        "graft_hex_bin(x, y, size) - flat-top axial hex bin of plane coords: struct(q, r)"),
      (c: Seq[Expression]) => GeoExprs.hexBin(c(0), c(1), c(2))),
    ("graft_hex_center",
      info("graft_hex_center",
        "graft_hex_center(q, r, size) - center of axial hex: struct(x, y)"),
      (c: Seq[Expression]) => GeoExprs.hexCenter(c(0), c(1), c(2))),
    ("graft_hex_ring",
      info("graft_hex_ring",
        "graft_hex_ring(q, r, rings) - hexes within rings grid steps: array<struct<q, r>>"),
      (c: Seq[Expression]) => GeoExprs.hexRing(c(0), c(1), c(2))),
    ("graft_global_hex",
      info("graft_global_hex",
        "graft_global_hex(lon, lat, size_m) - equal-area global hex cell (ISEA plane): struct(q, r)"),
      (c: Seq[Expression]) => GeoExprs.globalHexCell(c(0), c(1), c(2))),
    ("graft_scrub_pii",
      info("graft_scrub_pii",
        "graft_scrub_pii(text) - emails/phones/long ids replaced by typed placeholders"),
      (c: Seq[Expression]) => TrainingOps.scrubPiiExpr(c(0))),
    ("graft_sample_hash",
      info("graft_sample_hash",
        "graft_sample_hash(key, m) - seeded deterministic uniform in [0, m) (mixture-sampling hash)"),
      (c: Seq[Expression]) => TextExprs.sampleHash(c(0), c(1))),
    ("graft_proj_factors",
      info("graft_proj_factors",
        "graft_proj_factors(lon, lat, 'proj-string') - struct(h,k,s,omega,conv)"),
      (c: Seq[Expression]) => ProjExprs.projFactors(c(0), c(1),
        strArg(c(2), "graft_proj_factors"))))

  /** imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
}
