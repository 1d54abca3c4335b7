package graft.core

/** Scalar math kernels shared by the projection/transformation operators.
  *
  * Everything here is a pure function, safe for use inside Catalyst codegen
  * and executor threads. Semantics track the reference implementations:
  *  - adjlon:            reference src/adjlon.cpp:7
  *  - aasin/aacos/...:   reference src/aasincos.cpp
  *  - msfn:              reference src/msfn.cpp:7
  *  - tsfn:              reference src/tsfn.cpp (Snyder 1987 eq. 7-10)
  *  - sinhpsi2tanphi:    reference src/phi2.cpp:10 (Karney 2011 eq. 7)
  *  - phi2:              reference src/phi2.cpp:124
  *  - auxiliary-latitude order-6 engine: reference src/latitudes.cpp:238-420,
  *    per C.F.F. Karney, "On auxiliary latitudes", Survey Review 56 (2024),
  *    arXiv:2212.05818 (public coefficients).
  *  - enfn/mlfn/inv_mlfn: reference src/mlfn.cpp
  */
object GeoMath {
  final val HALFPI = math.Pi / 2
  final val QUARTERPI = math.Pi / 4
  final val TWOPI = math.Pi * 2
  final val DEG2RAD = math.Pi / 180.0
  final val RAD2DEG = 180.0 / math.Pi
  /** reference src/proj_internal.h PJ_EPS_LAT: latitude overshoot tolerance */
  final val EPS_LAT = 1e-12

  private final val ONE_TOL = 1.00000000000001
  private final val ATOL = 1e-50

  /** Wrap longitude to [-pi, pi] (slight overshoot tolerated to avoid sign
    * flapping at the date line). */
  def adjlon(lon: Double): Double = {
    if (math.abs(lon) < math.Pi + 1e-12) lon
    else {
      var l = lon + math.Pi
      l -= TWOPI * math.floor(l / TWOPI)
      l - math.Pi
    }
  }

  /** Domain-clamped asin. Sets no error here; callers decide (the reference
    * flags OUTSIDE_PROJECTION_DOMAIN past ONE_TOL). */
  def aasin(v: Double): Double = {
    val av = math.abs(v)
    if (av >= 1.0) { if (v < 0) -HALFPI else HALFPI }
    else math.asin(v)
  }

  /** aasin variant that reports the out-of-domain condition like the
    * reference aasin (src/aasincos.cpp): beyond ONE_TOL poisons the coord. */
  def aasin(c: Coord, v: Double): Double = {
    val av = math.abs(v)
    if (av >= 1.0) {
      if (av > ONE_TOL) c.err = ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN
      if (v < 0) -HALFPI else HALFPI
    } else math.asin(v)
  }

  def aacos(v: Double): Double = {
    val av = math.abs(v)
    if (av >= 1.0) { if (v < 0) math.Pi else 0.0 }
    else math.acos(v)
  }

  def aacos(c: Coord, v: Double): Double = {
    val av = math.abs(v)
    if (av >= 1.0) {
      if (av > ONE_TOL) c.err = ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN
      if (v < 0) math.Pi else 0.0
    } else math.acos(v)
  }

  def asqrt(v: Double): Double = if (v <= 0) 0.0 else math.sqrt(v)

  def aatan2(n: Double, d: Double): Double =
    if (math.abs(n) < ATOL && math.abs(d) < ATOL) 0.0 else math.atan2(n, d)

  def hypot(x: Double, y: Double): Double = math.hypot(x, y)

  /** m(phi) = cos(phi)/sqrt(1 - es sin^2 phi). */
  @inline def msfn(sinphi: Double, cosphi: Double, es: Double): Double =
    cosphi / math.sqrt(1.0 - es * sinphi * sinphi)

  /** ts(phi) = exp(-psi), psi the isometric latitude (Snyder eq. 7-10). */
  def tsfn(phi: Double, sinphi: Double, e: Double): Double = {
    val cosphi = math.cos(phi)
    val base = if (sinphi > 0) cosphi / (1 + sinphi) else (1 - sinphi) / cosphi
    math.exp(e * atanh(e * sinphi)) * base
  }

  /** log1p-based forms keep full relative accuracy for tiny arguments
    * (log(1+x) loses ~all precision below 1e-8; gie asserts at 1e-15). */
  @inline def atanh(x: Double): Double = {
    val a = math.abs(x)
    val r = 0.5 * math.log1p(2 * a / (1 - a))
    if (x < 0) -r else r
  }
  @inline def asinh(x: Double): Double = {
    val a = math.abs(x)
    val r = math.log1p(a * (1 + a / (math.sqrt(a * a + 1.0) + 1)))
    if (x < 0) -r else r
  }

  /** Convert tau' = tan(chi) (conformal) to tau = tan(phi) (geographic) by
    * Newton's method; the exact scheme of the reference (GeographicLib
    * Math::tauf). Returns tau; on non-convergence flags NO… via the given
    * coord if provided. */
  def sinhpsi2tanphi(taup: Double, e: Double): Double = {
    val numit = 5
    val rooteps = math.sqrt(2.220446049250313e-16)
    val tol = rooteps / 10
    val tmax = 2 / rooteps
    val e2m = 1 - e * e
    val stol = tol * math.max(1.0, math.abs(taup))
    var tau = if (math.abs(taup) > 70) taup * math.exp(e * atanh(e)) else taup / e2m
    if (!(math.abs(tau) < tmax)) return tau
    var i = numit
    var done = false
    while (i > 0 && !done) {
      val tau1 = math.sqrt(1 + tau * tau)
      val sig = math.sinh(e * atanh(e * tau / tau1))
      val taupa = math.sqrt(1 + sig * sig) * tau - sig * tau1
      val dtau = (taup - taupa) * (1 + e2m * (tau * tau)) /
        (e2m * tau1 * math.sqrt(1 + taupa * taupa))
      tau += dtau
      i -= 1
      if (!(math.abs(dtau) >= stol)) done = true
    }
    tau
  }

  /** Inverse of tsfn: latitude from ts = exp(-psi). */
  def phi2(ts0: Double, e: Double): Double =
    math.atan(sinhpsi2tanphi((1 / ts0 - ts0) / 2, e))

  // ---------------------------------------------------------------------
  // Auxiliary latitudes: order-6 series engine (Karney 2024, arXiv:2212.05818)
  // ---------------------------------------------------------------------

  /** Auxiliary latitude kinds; indices match the reference AuxLat enum. */
  final val AUX_GEOGRAPHIC = 0
  final val AUX_PARAMETRIC = 1
  final val AUX_GEOCENTRIC = 2
  final val AUX_RECTIFYING = 3
  final val AUX_CONFORMAL = 4
  final val AUX_AUTHALIC = 5
  private final val AUX_NUMBER = 6
  final val AUX_ORDER = 6

  // Taylor-in-n coefficients of the Fourier series between auxiliary
  // latitudes, upper-triangular packing; machine-generated from the Maxima
  // code published with GeographicLib (Karney 2024, appendix A). Identical
  // constants to reference src/latitudes.cpp:243-320.
  private val auxCoeffs: Array[Double] = Array(
    // C[phi,mu]; even coeffs only
    3.0 / 2.0, -27.0 / 32.0, 269.0 / 512.0, 21.0 / 16.0, -55.0 / 32.0,
    6759.0 / 4096.0, 151.0 / 96.0, -417.0 / 128.0, 1097.0 / 512.0,
    -15543.0 / 2560.0, 8011.0 / 2560.0, 293393.0 / 61440.0,
    // C[phi,chi]
    2.0, -2.0 / 3.0, -2.0, 116.0 / 45.0, 26.0 / 45.0, -2854.0 / 675.0,
    7.0 / 3.0, -8.0 / 5.0, -227.0 / 45.0, 2704.0 / 315.0, 2323.0 / 945.0,
    56.0 / 15.0, -136.0 / 35.0, -1262.0 / 105.0, 73814.0 / 2835.0,
    4279.0 / 630.0, -332.0 / 35.0, -399572.0 / 14175.0, 4174.0 / 315.0,
    -144838.0 / 6237.0, 601676.0 / 22275.0,
    // C[phi,xi]
    4.0 / 3.0, 4.0 / 45.0, -16.0 / 35.0, -2582.0 / 14175.0,
    60136.0 / 467775.0, 28112932.0 / 212837625.0, 46.0 / 45.0,
    152.0 / 945.0, -11966.0 / 14175.0, -21016.0 / 51975.0,
    251310128.0 / 638512875.0, 3044.0 / 2835.0, 3802.0 / 14175.0,
    -94388.0 / 66825.0, -8797648.0 / 10945935.0, 6059.0 / 4725.0,
    41072.0 / 93555.0, -1472637812.0 / 638512875.0, 768272.0 / 467775.0,
    455935736.0 / 638512875.0, 4210684958.0 / 1915538625.0,
    // C[mu,phi]; even coeffs only
    -3.0 / 2.0, 9.0 / 16.0, -3.0 / 32.0, 15.0 / 16.0, -15.0 / 32.0,
    135.0 / 2048.0, -35.0 / 48.0, 105.0 / 256.0, 315.0 / 512.0,
    -189.0 / 512.0, -693.0 / 1280.0, 1001.0 / 2048.0,
    // C[mu,chi]
    1.0 / 2.0, -2.0 / 3.0, 5.0 / 16.0, 41.0 / 180.0, -127.0 / 288.0,
    7891.0 / 37800.0, 13.0 / 48.0, -3.0 / 5.0, 557.0 / 1440.0,
    281.0 / 630.0, -1983433.0 / 1935360.0, 61.0 / 240.0, -103.0 / 140.0,
    15061.0 / 26880.0, 167603.0 / 181440.0, 49561.0 / 161280.0,
    -179.0 / 168.0, 6601661.0 / 7257600.0, 34729.0 / 80640.0,
    -3418889.0 / 1995840.0, 212378941.0 / 319334400.0,
    // C[chi,phi]
    -2.0, 2.0 / 3.0, 4.0 / 3.0, -82.0 / 45.0, 32.0 / 45.0, 4642.0 / 4725.0,
    5.0 / 3.0, -16.0 / 15.0, -13.0 / 9.0, 904.0 / 315.0, -1522.0 / 945.0,
    -26.0 / 15.0, 34.0 / 21.0, 8.0 / 5.0, -12686.0 / 2835.0, 1237.0 / 630.0,
    -12.0 / 5.0, -24832.0 / 14175.0, -734.0 / 315.0, 109598.0 / 31185.0,
    444337.0 / 155925.0,
    // C[chi,mu]
    -1.0 / 2.0, 2.0 / 3.0, -37.0 / 96.0, 1.0 / 360.0, 81.0 / 512.0,
    -96199.0 / 604800.0, -1.0 / 48.0, -1.0 / 15.0, 437.0 / 1440.0,
    -46.0 / 105.0, 1118711.0 / 3870720.0, -17.0 / 480.0, 37.0 / 840.0,
    209.0 / 4480.0, -5569.0 / 90720.0, -4397.0 / 161280.0, 11.0 / 504.0,
    830251.0 / 7257600.0, -4583.0 / 161280.0, 108847.0 / 3991680.0,
    -20648693.0 / 638668800.0,
    // C[xi,phi]
    -4.0 / 3.0, -4.0 / 45.0, 88.0 / 315.0, 538.0 / 4725.0,
    20824.0 / 467775.0, -44732.0 / 2837835.0, 34.0 / 45.0, 8.0 / 105.0,
    -2482.0 / 14175.0, -37192.0 / 467775.0, -12467764.0 / 212837625.0,
    -1532.0 / 2835.0, -898.0 / 14175.0, 54968.0 / 467775.0,
    100320856.0 / 1915538625.0, 6007.0 / 14175.0, 24496.0 / 467775.0,
    -5884124.0 / 70945875.0, -23356.0 / 66825.0, -839792.0 / 19348875.0,
    570284222.0 / 1915538625.0
  )

  // Start offset of each (out,in) matrix inside auxCoeffs; index =
  // AUX_NUMBER*out + in. Same layout as reference src/latitudes.cpp ptrs[].
  private val auxPtrs: Array[Int] = Array(
    0, 0, 0, 0, 12, 33, 54, 54, 54, 54, 54, 54, 54,
    54, 54, 54, 54, 54, 54, 66, 66, 66, 66, 87, 87, 108,
    108, 108, 129, 129, 129, 150, 150, 150, 150, 150, 150
  )

  /** Horner evaluation of sum(p(off+i) x^i, i=0..n). */
  @inline def polyval(x: Double, p: Array[Double], off: Int, n: Int): Double = {
    var y = if (n < 0) 0.0 else p(off + n)
    var k = n
    while (k > 0) { k -= 1; y = y * x + p(off + k) }
    y
  }

  /** Fill F(0..5) with the series coefficients converting auxin → auxout. */
  def auxlatCoeffs(n: Double, auxin: Int, auxout: Int, F: Array[Double]): Unit = {
    val k = AUX_NUMBER * auxout + auxin
    var o = auxPtrs(k)
    require(o != auxPtrs(k + 1), s"unsupported auxlat conversion $auxin->$auxout")
    var d = n
    val n2 = n * n
    if (auxin <= AUX_RECTIFYING && auxout <= AUX_RECTIFYING) {
      var l = 0
      while (l < AUX_ORDER) {
        val m = (AUX_ORDER - l - 1) / 2
        F(l) = d * polyval(n2, auxCoeffs, o, m)
        o += m + 1
        d *= n
        l += 1
      }
    } else {
      var l = 0
      while (l < AUX_ORDER) {
        val m = AUX_ORDER - l - 1
        F(l) = d * polyval(n, auxCoeffs, o, m)
        o += m + 1
        d *= n
        l += 1
      }
    }
  }

  /** Clenshaw summation of sum(F(k) sin((2k+2) zeta), k=0..K-1). */
  def clenshaw(szeta: Double, czeta: Double, F: Array[Double], K: Int): Double = {
    var u0 = 0.0
    var u1 = 0.0
    val X = 2 * (czeta - szeta) * (czeta + szeta)
    var k = K
    while (k > 0) {
      k -= 1
      val tt = X * u0 - u1 + F(k)
      u1 = u0
      u0 = tt
    }
    2 * szeta * czeta * u0
  }

  def auxlatConvert(zeta: Double, F: Array[Double]): Double =
    zeta + clenshaw(math.sin(zeta), math.cos(zeta), F, AUX_ORDER)

  def auxlatConvert(zeta: Double, szeta: Double, czeta: Double, F: Array[Double]): Double =
    zeta + clenshaw(szeta, czeta, F, AUX_ORDER)

  /** Rectifying radius = quarter meridian / (pi/2 * (a+b)/2 * ... ); series
    * coefficients ((2k-3)!!/(2k)!!)^2. */
  def rectifyingRadius(n: Double): Double = {
    val c = Array(1.0, 1.0 / 4, 1.0 / 64, 1.0 / 256)
    polyval(n * n, c, 0, 3) / (1 + n)
  }

  /** Authalic-latitude context: series coefficients + exact fallback for
    * very oblate ellipsoids (reference src/latitudes.cpp:53-150;
    * series valid iff |n| < 0.01, latitudes.cpp:81). */
  final class Authalic(e: Double, es: Double, oneEs: Double, n: Double)
      extends Serializable {
    val seriesValid: Boolean = math.abs(n) < 0.01
    val qp: Double = q(1.0)
    private val toPhi = new Array[Double](AUX_ORDER)
    private val toBeta: Array[Double] = if (seriesValid) new Array[Double](AUX_ORDER) else null
    auxlatCoeffs(n, AUX_AUTHALIC, AUX_GEOGRAPHIC, toPhi)
    if (seriesValid) auxlatCoeffs(n, AUX_GEOGRAPHIC, AUX_AUTHALIC, toBeta)

    /** authalic q (reference pj_authalic_lat_q). */
    def q(sinphi: Double): Double = {
      if (e >= 1e-7) {
        val eSin = e * sinphi
        val den = 1.0 - eSin * eSin
        if (den == 0.0) Double.PositiveInfinity
        else oneEs * (sinphi / den + atanh(eSin) / e)
      } else 2 * sinphi
    }

    /** geographic → authalic latitude beta (reference pj_authalic_lat). */
    def lat(phi: Double, sinphi: Double, cosphi: Double): Double =
      if (seriesValid) auxlatConvert(phi, sinphi, cosphi, toBeta)
      else {
        var ratio = q(sinphi) / qp
        if (math.abs(ratio) > 1) ratio = if (ratio > 0) 1 else -1
        math.asin(ratio)
      }

    /** authalic → geographic (reference pj_authalic_lat_inverse). */
    def latInverse(beta: Double): Double = {
      var phi = auxlatConvert(beta, toPhi)
      if (seriesValid) return phi
      val qTarget = math.sin(beta) * qp / oneEs
      var i = 0
      var done = false
      while (i < 10 && !done) {
        val sinphi = math.sin(phi); val cosphi = math.cos(phi)
        val om = 1 - es * sinphi * sinphi
        val dphi = om * om / (2 * cosphi) *
          (qTarget - sinphi / om - atanh(e * sinphi) / e)
        if (!(math.abs(dphi) >= 1e-15)) done = true else phi += dphi
        i += 1
      }
      phi
    }
  }

  /** pj_enfn equivalent: precomputed meridional-distance series (setup-time). */
  final class MlfnEn(n: Double) extends Serializable {
    val r: Double = rectifyingRadius(n)
    val phiToMu: Array[Double] = new Array[Double](AUX_ORDER)
    val muToPhi: Array[Double] = new Array[Double](AUX_ORDER)
    auxlatCoeffs(n, AUX_GEOGRAPHIC, AUX_RECTIFYING, phiToMu)
    auxlatCoeffs(n, AUX_RECTIFYING, AUX_GEOGRAPHIC, muToPhi)
  }

  def enfn(n: Double): MlfnEn = new MlfnEn(n)

  /** Meridional distance (normalized by a). */
  @inline def mlfn(phi: Double, sphi: Double, cphi: Double, en: MlfnEn): Double =
    en.r * (phi + clenshaw(sphi, cphi, en.phiToMu, AUX_ORDER))

  @inline def invMlfn(mu: Double, en: MlfnEn): Double = {
    val m = mu / en.r
    m + clenshaw(math.sin(m), math.cos(m), en.muToPhi, AUX_ORDER)
  }
}
