package graft.proj

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Coord, ProjErr}
import graft.core.GeoMath._
import graft.proj.ops.TmercOps
import graft.spark.ProjPipeline

/** TmercOps.exactFwd computes a row's conformal latitude terms once per
  * thread while consecutive calls share the latitude and the ellipsoid.
  * This spec runs the transverse-Mercator pipelines a row meets, interleaved
  * in one thread so that the memo key switches ellipsoid and latitude,
  * against reference PJs whose kernel is exactFwd without the memo, and asks
  * for the same bits of x, y and err. */
class TmercLatTermsSpec extends AnyFunSuite {
  private val specs: Seq[String] =
    (1 to 8).map(_ * 7).flatMap(z =>
      Seq(s"proj=utm zone=$z ellps=WGS84", s"proj=utm zone=$z south ellps=WGS84")) ++
      Seq("proj=utm zone=33 ellps=GRS80", "proj=etmerc lon_0=12 ellps=intl",
        "proj=tmerc algo=auto lon_0=-3 ellps=WGS84")

  /** |Ce| bound of exactFwd (tmerc.cpp:376) */
  private val CeBound = 2.623395162778

  /** exactFwd as it reads without the memo */
  private def exactFwdFresh(q: TmercOps.ExactConsts, c: Coord): Unit = {
    val lam = c.x; val phi = c.y
    var cn = auxlatConvert(phi, q.cbg)
    val sinCn = math.sin(cn); val cosCn = math.cos(cn)
    val sinCe = math.sin(lam); val cosCe = math.cos(lam)
    val cosCnCosCe = cosCn * cosCe
    cn = math.atan2(sinCn, cosCnCosCe)
    val invDenomTanCe = 1.0 / math.hypot(sinCn, cosCnCosCe)
    val tanCe = sinCe * cosCn * invDenomTanCe
    var ce = asinh(tanCe)
    val twoInv = 2 * invDenomTanCe
    val twoInvSq = twoInv * invDenomTanCe
    val tmpR = cosCnCosCe * twoInvSq
    val sinArgR = sinCn * tmpR
    val cosArgR = cosCnCosCe * tmpR - 1
    val sinhArgI = tanCe * twoInv
    val coshArgI = twoInvSq - 1
    val d = new Array[Double](2)
    TmercOps.clenS(q.gtu, sinArgR, cosArgR, sinhArgI, coshArgI, d)
    cn += d(0)
    ce += d(1)
    if (math.abs(ce) <= CeBound) {
      c.y = q.qn * cn + q.zb
      c.x = q.qn * ce
    } else c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN)
  }

  /** the PJ of `spec` with its forward kernel on exactFwdFresh (and, for
    * algo=auto, the approximate form within 3 degrees of lon_0) */
  private def reference(spec: String): PJ = {
    val P = Proj.create(spec)
    val qe = new TmercOps.ExactConsts(P)
    val qa = new TmercOps.ApproxConsts(P)
    val auto = spec.contains("algo=auto")
    P.kernel = new OpKernel {
      val caps = OpKernel.FWD2
      override def fwd2(c: Coord): Unit =
        if (auto && math.abs(c.x) <= 3 * DEG2RAD) TmercOps.approxFwd(qa, c)
        else exactFwdFresh(qe, c)
    }
    P
  }

  /** ProjPipeline.trans over a reference PJ */
  private def referenceTrans(P: PJ, c: Coord): Int = {
    if (c.x.isNaN || c.y.isNaN || c.z.isNaN || c.t.isNaN) {
      c.x = Double.NaN; c.y = Double.NaN; c.z = Double.NaN; c.t = Double.NaN
      return 0
    }
    Dispatch.trans(P, forward = true, c)
    c.err
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private val edgeLats = Seq(0.0, -0.0, HALFPI, -HALFPI, HALFPI + 1e-13, -HALFPI - 1e-13,
    Double.NaN, Double.MinPositiveValue, -Double.MinPositiveValue)

  test("every pipeline, interleaved per point, gives the bits of the terms computed afresh") {
    val pipes = specs.map(new ProjPipeline(_))
    val refs = specs.map(reference)
    val rnd = new scala.util.Random(20261019L)
    val seeded = Seq.fill(100000)(
      ((rnd.nextDouble() * 2 - 1) * math.Pi, (rnd.nextDouble() * 2 - 1) * HALFPI))
    // a quarter turn from a central meridian drives |ce| past its bound
    val edgeLons = (-180 to 180).map(_ * DEG2RAD) ++
      refs.flatMap(P => Seq(P.lam0 + HALFPI, P.lam0 - HALFPI))
    val edges = for (lat <- edgeLats; lon <- edgeLons) yield (lon, lat)
    val c = new Coord
    val r = new Coord
    var outside = 0
    for ((lon, lat) <- seeded ++ edges; i <- specs.indices) {
      c.set(lon, lat, 0, 0)
      r.set(lon, lat, 0, 0)
      val err = pipes(i).trans(c, forward = true)
      val refErr = referenceTrans(refs(i), r)
      assert(err == refErr && bits(c.x) == bits(r.x) && bits(c.y) == bits(r.y),
        s"${specs(i)} at ($lon, $lat): (${c.x}, ${c.y}, $err), afresh (${r.x}, ${r.y}, $refErr)")
      if (refErr == ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN) outside += 1
    }
    assert(outside > 0, "no point reached the |ce| bound")
  }

  test("the kernel itself, NaN and subnormal latitudes included, across three ellipsoids") {
    val consts = Seq("proj=utm zone=33 ellps=WGS84", "proj=utm zone=33 ellps=GRS80",
      "proj=etmerc ellps=intl").map(s => new TmercOps.ExactConsts(Proj.create(s)))
    val rnd = new scala.util.Random(7L)
    val lats = edgeLats ++ Seq.fill(2000)((rnd.nextDouble() * 2 - 1) * HALFPI)
    val lams = Seq(0.0, 0.1, -0.7, HALFPI, -HALFPI, 3.0, Double.NaN)
    val c = new Coord
    val r = new Coord
    for (phi <- lats; lam <- lams; q <- consts) {
      c.set(lam, phi, 0, 0)
      r.set(lam, phi, 0, 0)
      TmercOps.exactFwd(q, c)
      exactFwdFresh(q, r)
      assert(c.err == r.err && bits(c.x) == bits(r.x) && bits(c.y) == bits(r.y),
        s"($lam, $phi): (${c.x}, ${c.y}, ${c.err}), afresh (${r.x}, ${r.y}, ${r.err})")
    }
  }
}
