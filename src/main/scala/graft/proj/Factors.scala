package graft.proj

import graft.core.{Coord, GeoMath, ProjErr, ProjError}

/** Cartographic characteristics at a point: meridional/parallel/areal
  * scale, angular distortion, Tissot axes, meridian convergence.
  *
  * Numeric-derivative method per reference src/factors.cpp:21-120 and
  * src/deriv.cpp (four-corner stencil on the raw forward kernel, step
  * h = 1e-5 rad), with the ellipsoidal scale corrections of factors.cpp
  * :77-92. Used by the Spark layer as tile-QA metrics.
  */
object Factors {

  final case class ProjFactors(
      meridionalScale: Double, parallelScale: Double, arealScale: Double,
      angularDistortion: Double, meridianParallelAngle: Double,
      meridianConvergence: Double,
      tissotSemimajor: Double, tissotSemiminor: Double,
      dxDlam: Double, dxDphi: Double, dyDlam: Double, dyDphi: Double)

  /** mutable mirror of ProjFactors for allocation-free per-row callers
    * (the Spark FactorsCall path). */
  final class ProjFactorsM {
    var meridionalScale = 0.0; var parallelScale = 0.0; var arealScale = 0.0
    var angularDistortion = 0.0; var meridianParallelAngle = 0.0
    var meridianConvergence = 0.0
    var tissotSemimajor = 0.0; var tissotSemiminor = 0.0
    var dxDlam = 0.0; var dxDphi = 0.0; var dyDlam = 0.0; var dyDphi = 0.0
  }

  private final val DEFAULT_H = 1e-5
  private final val EPS = 1e-12

  private val coordScratch = ThreadLocal.withInitial[Coord](() => new Coord)

  /** raw kernel forward (no prepare/finalize), like pj_deriv's use of
    * P->fwd: lam must already be lam0-relative; output in a-units.
    * Writes into `c` (caller-owned scratch). */
  private def rawFwd(P: PJ, lam: Double, phi: Double, c: Coord): Unit = {
    c.set(lam, phi, 0, 0)
    if (P.hasCap(OpKernel.FWD2)) P.kernel.fwd2(c)
    else if (P.hasCap(OpKernel.FWD3)) P.kernel.fwd3(c)
    else P.kernel.fwd4(c)
    if (c.isError || c.x == Double.PositiveInfinity)
      throw ProjError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN, "factors: fwd failed")
  }

  /** proj_factors(P, lon, lat) with angles in radians. */
  def apply(P: PJ, lamIn: Double, phiIn: Double, hIn: Double = DEFAULT_H): ProjFactors = {
    val m = new ProjFactorsM
    evalInto(P, lamIn, phiIn, hIn, m)
    ProjFactors(m.meridionalScale, m.parallelScale, m.arealScale,
      m.angularDistortion, m.meridianParallelAngle, m.meridianConvergence,
      m.tissotSemimajor, m.tissotSemiminor,
      m.dxDlam, m.dxDphi, m.dyDlam, m.dyDphi)
  }

  /** allocation-free proj_factors: results land in `out`. */
  def evalInto(P: PJ, lamIn: Double, phiIn: Double, hIn: Double,
               out: ProjFactorsM): Unit = {
    var lam = lamIn
    var phi = phiIn
    if (math.abs(phi) - GeoMath.HALFPI > EPS)
      throw ProjError(ProjErr.COORD_TRANSFM_INVALID_COORD, "factors: invalid latitude")
    if (math.abs(lam) > 10.0)
      throw ProjError(ProjErr.COORD_TRANSFM_INVALID_COORD, "factors: invalid longitude")
    val h = if (math.abs(hIn) < EPS) DEFAULT_H else math.abs(hIn)
    if (math.abs(phi) > GeoMath.HALFPI - h)
      phi = if (phi < 0) -(GeoMath.HALFPI - h) else GeoMath.HALFPI - h
    if (P.shortName != "pipeline") {
      lam -= P.lam0
      if (!P.over) lam = GeoMath.adjlon(lam)
    }

    // four-corner stencil (reference src/deriv.cpp)
    val c = coordScratch.get()
    rawFwd(P, lam + h, phi + h, c); val t1x = c.x; val t1y = c.y // ++
    rawFwd(P, lam + h, phi - h, c); val t2x = c.x; val t2y = c.y // +-
    rawFwd(P, lam - h, phi - h, c); val t3x = c.x; val t3y = c.y // --
    rawFwd(P, lam - h, phi + h, c); val t4x = c.x; val t4y = c.y // -+
    val h4 = 4 * h
    val xl = (t1x + t2x - t3x - t4x) / h4
    val yp = (t1y - t2y - t3y + t4y) / h4
    val xp = (t1x - t2x - t3x + t4x) / h4
    val yl = (t1y + t2y - t3y - t4y) / h4

    val cosphi = math.cos(phi)
    var hFac = math.hypot(xp, yp)
    var kFac = math.hypot(xl, yl) / cosphi
    var r = 1.0
    if (P.es != 0.0) {
      val sinphi = math.sin(phi)
      val t = 1.0 - P.es * sinphi * sinphi
      val n = math.sqrt(t)
      hFac *= t * n / P.oneEs
      kFac *= n
      r = t * t / P.oneEs
    }
    val conv = -math.atan2(xp, yp)
    val s = (yp * xl - xp * yl) * r / cosphi
    val thetap = GeoMath.aasin(s / (hFac * kFac))
    var t2 = kFac * kFac + hFac * hFac
    var a = math.sqrt(t2 + 2.0 * s)
    t2 = t2 - 2.0 * s
    t2 = if (t2 > 0) math.sqrt(t2) else 0.0
    val b = 0.5 * (a - t2)
    a = 0.5 * (a + t2)
    val omega = 2.0 * GeoMath.aasin((a - b) / (a + b))

    out.meridionalScale = hFac; out.parallelScale = kFac; out.arealScale = s
    out.angularDistortion = omega; out.meridianParallelAngle = thetap
    out.meridianConvergence = conv
    out.tissotSemimajor = a; out.tissotSemiminor = b
    out.dxDlam = xl; out.dxDphi = xp; out.dyDlam = yl; out.dyDphi = yp
  }

  /** mutable envelope for allocation-free per-row callers (the Spark
    * TransBoundsCall path), with the Coord each edge point is transformed
    * in. */
  final class BoundsM {
    var xmin = 0.0; var ymin = 0.0; var xmax = 0.0; var ymax = 0.0
    val c = new Coord
  }

  /** Transform a bounding box by transforming densified edges — the
    * driver-side partition-pruning helper (reference src/trans_bounds.cpp:
    * 21x21 default densification; output bbox = min/max over all edge
    * points that transform successfully), into `out`, allocating nothing. */
  def transBounds(P: PJ, forward: Boolean,
                  xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                  out: BoundsM, densifyPts: Int = 21): Unit = {
    require(densifyPts >= 2, "densify_pts must be >= 2")
    out.xmin = Double.PositiveInfinity; out.ymin = Double.PositiveInfinity
    out.xmax = Double.NegativeInfinity; out.ymax = Double.NegativeInfinity
    var any = false
    val n = densifyPts
    var i = 0
    while (i < n) {
      val fx = xmin + (xmax - xmin) * i / (n - 1)
      val fy = ymin + (ymax - ymin) * i / (n - 1)
      any |= visitEdge(P, forward, fx, ymin, out) // bottom edge
      any |= visitEdge(P, forward, fx, ymax, out) // top edge
      any |= visitEdge(P, forward, xmin, fy, out) // left edge
      any |= visitEdge(P, forward, xmax, fy, out) // right edge
      i += 1
    }
    if (!any)
      throw ProjError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN,
        "trans_bounds: no edge point transformed successfully")
  }

  /** Transform one edge point and grow `out` by it; false when it fails. */
  private def visitEdge(P: PJ, forward: Boolean, x: Double, y: Double, out: BoundsM): Boolean = {
    val c = out.c
    c.set(x, y, 0, 0)
    Dispatch.trans(P, forward, c)
    val ok = !c.isError && c.x != Double.PositiveInfinity
    if (ok) {
      if (c.x < out.xmin) out.xmin = c.x
      if (c.x > out.xmax) out.xmax = c.x
      if (c.y < out.ymin) out.ymin = c.y
      if (c.y > out.ymax) out.ymax = c.y
    }
    ok
  }
}
