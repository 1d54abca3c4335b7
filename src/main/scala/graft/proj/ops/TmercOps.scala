package graft.proj.ops

import graft.core.{Coord, GeoMath, ProjErr, ProjError}
import graft.proj._
import GeoMath._
import OpKernel._

/** Transverse Mercator: Evenden/Snyder approximate series, Poder/Engsager
  * exact order-6 Gauss-Krüger via complex Clenshaw summation, the AUTO
  * per-point algorithm switch, and UTM zone logic.
  *
  * Math per reference src/projections/tmerc.cpp:20-672 (Snyder 1987 eq. 8-9
  * .. 8-17; Engsager/Poder ICC2007; König & Weise 1951) — re-derived here in
  * Scala, parameters precomputed at plan time.
  */
object TmercOps {

  private final val FC1 = 1.0
  private final val FC2 = 0.5
  private final val FC3 = 1.0 / 6.0
  private final val FC4 = 1.0 / 12.0
  private final val FC5 = 1.0 / 20.0
  private final val FC6 = 1.0 / 30.0
  private final val FC7 = 1.0 / 42.0
  private final val FC8 = 1.0 / 56.0
  private final val EPS10 = 1e-10

  /** Precomputed constants for the approximate (Evenden/Snyder) form. */
  final class ApproxConsts(P: PJ) extends Serializable {
    val es = P.es; val k0 = P.k0; val phi0 = P.phi0
    val spherical = P.es == 0
    val en: MlfnEn = if (!spherical) enfn(P.n) else null
    val ml0: Double =
      if (!spherical) mlfn(P.phi0, math.sin(P.phi0), math.cos(P.phi0), en)
      else 0.5 * P.k0
    val esp: Double = if (!spherical) es / (1 - es) else P.k0
  }

  /** Precomputed constants for the exact (Poder/Engsager) form. */
  final class ExactConsts(P: PJ) extends Serializable {
    /** the ellipsoid's n, which alone fixes cbg: the LatTerms memo key */
    val nBits: Long = java.lang.Double.doubleToRawLongBits(P.n)
    val cgb = new Array[Double](AUX_ORDER) // conformal -> geographic
    val cbg = new Array[Double](AUX_ORDER) // geographic -> conformal
    val utg = new Array[Double](AUX_ORDER) // rectifying -> conformal
    val gtu = new Array[Double](AUX_ORDER) // conformal -> rectifying
    auxlatCoeffs(P.n, AUX_CONFORMAL, AUX_GEOGRAPHIC, cgb)
    auxlatCoeffs(P.n, AUX_GEOGRAPHIC, AUX_CONFORMAL, cbg)
    auxlatCoeffs(P.n, AUX_RECTIFYING, AUX_CONFORMAL, utg)
    auxlatCoeffs(P.n, AUX_CONFORMAL, AUX_RECTIFYING, gtu)
    val qn: Double = P.k0 * rectifyingRadius(P.n)
    val zb: Double = {
      val z = auxlatConvert(P.phi0, cbg)
      -qn * auxlatConvert(z, gtu)
    }
  }

  /** Complex Clenshaw summation over sin((2k+2)(argR + i argI)); returns
    * (real, imag) via a 2-element output array (reference tmerc.cpp:270-297).
    */
  def clenS(a: Array[Double], sinArgR: Double, cosArgR: Double,
            sinhArgI: Double, coshArgI: Double, out: Array[Double]): Unit = {
    val r = 2 * cosArgR * coshArgI
    val i = -2 * sinArgR * sinhArgI
    var hr1 = 0.0; var hi1 = 0.0; var hi = 0.0
    var p = a.length - 1
    var hr = a(p)
    while (p > 0) {
      p -= 1
      val hr2 = hr1; val hi2 = hi1
      hr1 = hr; hi1 = hi
      hr = -hr2 + r * hr1 - i * hi1 + a(p)
      hi = -hi2 + i * hr1 + r * hi1
    }
    val rr = sinArgR * coshArgI
    val ii = cosArgR * sinhArgI
    out(0) = rr * hr - ii * hi
    out(1) = rr * hi + ii * hr
  }

  // ---------------- approximate (Evenden/Snyder) kernels ----------------

  def approxFwd(q: ApproxConsts, c: Coord): Unit = {
    val lam = c.x; val phi = c.y
    if (q.spherical) {
      // Snyder spherical form (tmerc.cpp:118-158)
      val cosphi = math.cos(phi)
      var b = cosphi * math.sin(lam)
      if (math.abs(math.abs(b) - 1.0) <= EPS10) {
        c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN); return
      }
      val x = q.ml0 * math.log((1 + b) / (1 - b))
      var y = 0.0
      if (cosphi == 1.0) {
        y = if (lam < -HALFPI || lam > HALFPI) math.Pi else 0.0
      } else {
        y = cosphi * math.cos(lam) / math.sqrt(1 - b * b)
        b = math.abs(y)
        if (b >= 1.0) {
          if (b - 1.0 > EPS10) {
            c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN); return
          } else y = 0.0
        } else y = math.acos(y)
      }
      if (phi < 0) y = -y
      c.x = x
      c.y = q.esp * (y - q.phi0)
      return
    }
    // the series form degrades into garbage beyond 90 deg from the central
    // meridian (reference tmerc.cpp:78-90; ellipsoidal branch only)
    if (lam < -HALFPI || lam > HALFPI) {
      c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN); return
    }
    val sinphi = math.sin(phi)
    val cosphi = math.cos(phi)
    var t = if (math.abs(cosphi) > 1e-10) sinphi / cosphi else 0.0
    t *= t
    var al = cosphi * lam
    val als = al * al
    al /= math.sqrt(1 - q.es * sinphi * sinphi)
    val n = q.esp * cosphi * cosphi
    c.x = q.k0 * al * (FC1 + FC3 * als * (1 - t + n +
      FC5 * als * (5 + t * (t - 18) + n * (14 - 58 * t) +
        FC7 * als * (61 + t * (t * (179 - t) - 479)))))
    c.y = q.k0 * (mlfn(phi, sinphi, cosphi, q.en) - q.ml0 +
      sinphi * al * lam * FC2 * (1 +
        FC4 * als * (5 - t + n * (9 + 4 * n) +
          FC6 * als * (61 + t * (t - 58) + n * (270 - 330 * t) +
            FC8 * als * (1385 + t * (t * (543 - t) - 3111))))))
  }

  def approxInv(q: ApproxConsts, c: Coord): Unit = {
    val x = c.x; val y = c.y
    if (q.spherical) {
      // tmerc_spherical_inv (tmerc.cpp:199-221)
      var h = math.exp(x / q.esp)
      if (h == 0) { c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN); return }
      val g = 0.5 * (h - 1 / h)
      val d = q.phi0 + y / q.esp
      h = math.cos(d)
      var phi = math.asin(math.sqrt((1 - h * h) / (1 + g * g)))
      phi = java.lang.Math.copySign(phi, d)
      c.y = phi
      c.x = if (g != 0.0 || h != 0.0) math.atan2(g, h) else 0.0
      return
    }
    var phi = invMlfn(q.ml0 + y / q.k0, q.en)
    if (math.abs(phi) >= HALFPI) {
      c.y = if (y < 0) -HALFPI else HALFPI
      c.x = 0.0
    } else {
      val sinphi = math.sin(phi); val cosphi = math.cos(phi)
      var t = if (math.abs(cosphi) > 1e-10) sinphi / cosphi else 0.0
      val n = q.esp * cosphi * cosphi
      var con = 1 - q.es * sinphi * sinphi
      val d = x * math.sqrt(con) / q.k0
      con *= t
      t *= t
      val ds = d * d
      phi -= (con * ds / (1 - q.es)) * FC2 * (1 -
        ds * FC4 * (5 + t * (3 - 9 * n) + n * (1 - 4 * n) -
          ds * FC6 * (61 + t * (90 - 252 * n + 45 * t) + 46 * n -
            ds * FC8 * (1385 + t * (3633 + t * (4095 + 1575 * t))))))
      c.y = phi
      c.x = d * (FC1 - ds * FC3 * (1 + 2 * t + n -
        ds * FC5 * (5 + t * (28 + 24 * t + 8 * n) + 6 * n -
          ds * FC7 * (61 + t * (662 + t * (1320 + 720 * t)))))) / cosphi
    }
  }

  // ---------------- exact (Poder/Engsager) kernels ----------------

  /** |Ce| bound: 2.623395162778 rad ~ 150 deg (tmerc.cpp:376). */
  private final val CE_BOUND = 2.623395162778

  /** One thread's last conformal latitude as its sine and cosine, keyed on
    * the raw bits of phi and of the ellipsoid's n. A row projected into
    * several zones (its own UTM zone and fixed ones) reaches exactFwd with
    * one phi on one ellipsoid each time, so it computes them once; they are
    * what the same arithmetic gives, so results stay bit-identical. */
  private final class LatTerms {
    var filled = false
    var phiBits = 0L
    var nBits = 0L
    var sinCn = 0.0
    var cosCn = 0.0
  }
  private val latTerms = ThreadLocal.withInitial[LatTerms](() => new LatTerms)

  def exactFwd(q: ExactConsts, c: Coord): Unit = {
    val lam = c.x; val phi = c.y
    val m = latTerms.get()
    val phiBits = java.lang.Double.doubleToRawLongBits(phi)
    if (!m.filled || m.phiBits != phiBits || m.nBits != q.nBits) {
      val cn0 = auxlatConvert(phi, q.cbg)
      m.sinCn = math.sin(cn0); m.cosCn = math.cos(cn0)
      m.phiBits = phiBits; m.nBits = q.nBits; m.filled = true
    }
    val sinCn = m.sinCn; val cosCn = m.cosCn
    val sinCe = math.sin(lam); val cosCe = math.cos(lam)
    val cosCnCosCe = cosCn * cosCe
    var cn = math.atan2(sinCn, cosCnCosCe)
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
    clenS(q.gtu, sinArgR, cosArgR, sinhArgI, coshArgI, d)
    cn += d(0)
    ce += d(1)
    if (math.abs(ce) <= CE_BOUND) {
      c.y = q.qn * cn + q.zb
      c.x = q.qn * ce
    } else c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN)
  }

  def exactInv(q: ExactConsts, c: Coord): Unit = {
    var cn = (c.y - q.zb) / q.qn
    var ce = c.x / q.qn
    if (math.abs(ce) <= CE_BOUND) {
      val sinArgR = math.sin(2 * cn)
      val cosArgR = math.cos(2 * cn)
      val exp2Ce = math.exp(2 * ce)
      val halfInv = 0.5 / exp2Ce
      val sinhArgI = 0.5 * exp2Ce - halfInv
      val coshArgI = 0.5 * exp2Ce + halfInv
      val d = new Array[Double](2)
      clenS(q.utg, sinArgR, cosArgR, sinhArgI, coshArgI, d)
      cn += d(0)
      ce += d(1)
      val sinCn = math.sin(cn); val cosCn = math.cos(cn)
      val sinhCe = math.sinh(ce)
      ce = math.atan2(sinhCe, cosCn)
      val modulusCe = math.hypot(sinhCe, cosCn)
      val rr = math.hypot(sinCn, modulusCe)
      cn = math.atan2(sinCn, modulusCe)
      c.y = auxlatConvert(cn, sinCn / rr, modulusCe / rr, q.cgb)
      c.x = ce
    } else c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN)
  }

  // ---------------- setup ----------------

  sealed trait Algo
  case object EvendenSnyder extends Algo
  case object PoderEngsager extends Algo
  case object Auto extends Algo

  /** +approx / +algo= resolution (reference tmerc.cpp:557-597); default from
    * proj.ini is poder_engsager (reference data/proj.ini:59). */
  private def algoFromParams(P: PJ): Algo = {
    var algo: Algo =
      if (P.params.b("approx")) EvendenSnyder
      else P.params.s("algo") match {
        case Some("evenden_snyder") => EvendenSnyder
        case Some("poder_engsager") => PoderEngsager
        case Some("auto") => Auto
        case Some(_) => throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE,
          "unknown value for +algo")
        case None => PoderEngsager
      }
    if (algo == Auto && (P.es > 0.1 || P.phi0 != 0 || math.abs(P.k0 - 1) > 0.01))
      algo = PoderEngsager
    algo
  }

  private def install(P: PJ, algo0: Algo): Unit = {
    val algo = if (P.es == 0) EvendenSnyder else algo0
    algo match {
      case EvendenSnyder =>
        val q = new ApproxConsts(P)
        P.kernel = new OpKernel {
          val caps = FWD2 | INV2
          override def fwd2(c: Coord): Unit = approxFwd(q, c)
          override def inv2(c: Coord): Unit = approxInv(q, c)
        }
      case PoderEngsager =>
        val q = new ExactConsts(P)
        P.kernel = new OpKernel {
          val caps = FWD2 | INV2
          override def fwd2(c: Coord): Unit = exactFwd(q, c)
          override def inv2(c: Coord): Unit = exactInv(q, c)
        }
      case Auto =>
        val qa = new ApproxConsts(P)
        val qe = new ExactConsts(P)
        P.kernel = new OpKernel {
          val caps = FWD2 | INV2
          // per-point switch thresholds: reference tmerc.cpp:491-508
          override def fwd2(c: Coord): Unit =
            if (math.abs(c.x) > 3 * DEG2RAD) exactFwd(qe, c) else approxFwd(qa, c)
          override def inv2(c: Coord): Unit =
            if (math.abs(c.x) > 0.053 - 0.022 * c.y * c.y) exactInv(qe, c)
            else approxInv(qa, c)
        }
    }
  }

  def tmerc(P: PJ): Unit = install(P, algoFromParams(P))

  def etmerc(P: PJ): Unit = {
    if (P.es == 0)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE,
        "etmerc: eccentricity should not be zero")
    install(P, PoderEngsager)
  }

  /** utm — etmerc + zone logic (reference tmerc.cpp:630-672). Zone from
    * +zone, else inferred from lon_0: zone = floor((adjlon(lam0)+π)·30/π). */
  def utm(P: PJ): Unit = {
    if (P.es == 0)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE,
        "utm: eccentricity should not be zero")
    if (P.lam0 < -1000.0 || P.lam0 > 1000.0)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "utm: invalid lon_0")
    P.y0 = if (P.params.b("south")) 10000000.0 else 0.0
    P.x0 = 500000.0
    var zone =
      if (P.params.has("zone")) {
        val z = P.params.i("zone")
        if (z > 0 && z <= 60) z - 1
        else throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "utm: invalid zone")
      } else {
        val z = math.round(math.floor((adjlon(P.lam0) + math.Pi) * 30.0 / math.Pi)).toInt
        if (z < 0) 0 else if (z >= 60) 59 else z
      }
    P.lam0 = (zone + 0.5) * math.Pi / 30.0 - math.Pi
    P.k0 = 0.9996
    P.phi0 = 0.0
    install(P, algoFromParams(P))
  }

  /** Pure zone inference for scattered points (the BASELINE "UTM zone
    * inference" derived column): zone in 1..60 from lon/lat degrees. */
  @inline def zoneFromLonLat(lonDeg: Double): Int = {
    val lam0 = adjlon(lonDeg * DEG2RAD)
    val z = math.floor((lam0 + math.Pi) * 30.0 / math.Pi).toInt
    (if (z < 0) 0 else if (z >= 60) 59 else z) + 1
  }
}
