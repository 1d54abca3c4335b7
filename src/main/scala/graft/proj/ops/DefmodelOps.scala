package graft.proj.ops

import graft.core.{Coord, GeoMath, ProjErr, ProjError}
import graft.proj._
import graft.proj.grids.{GenericGrids, GeoTiff}
import graft.proj.grids.GenericGrids.GenGrid
import graft.proj.ops.TinshiftOps.{JArr, JNum, JObj, JStr, JVal, Json, JsonException}
import GeoMath._
import OpKernel._

/** +proj=defmodel — full deformation-model evaluation: a JSON master file
  * referencing component GeoTIFF grids, each gated by a time function.
  *
  * Semantics per reference src/transformations/defmodel.cpp (grid sample
  * adapter :46-238, PJ glue :320-450) and defmodel_impl.hpp (master parse
  * :347-625, time functions :628-720, evaluator forward :830-1190 with the
  * degree/metre/geocentric application modes, iterative inverse :1196-1240,
  * ISO-8601 decimal years :228-254). The deformation-model JSON format is
  * the public PROJ specification.
  */
object DefmodelOps {

  // ---------------- time functions ----------------

  private def iso8601ToDecimalYear(dt: String): Double = {
    val re = "(\\d{4})-(\\d{2})-(\\d{2})T(\\d{2}):(\\d{2}):(\\d{2})Z".r
    dt match {
      case re(ys, ms, ds, hs, mins, ss) =>
        val year = ys.toInt; val month = ms.toInt; val day = ds.toInt
        val hour = hs.toInt; val min = mins.toInt; val sec = ss.toInt
        if (year < 1582 || month < 1 || month > 12 || day < 1 || day > 31 ||
            hour >= 24 || min >= 60 || sec >= 61)
          throw new JsonException(s"invalid date-time $dt")
        val leap = (year % 4 == 0 && year % 100 != 0) || year % 400 == 0
        val table =
          if (leap) Array(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
          else Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
        if (day > table(month - 1)) throw new JsonException(s"invalid date-time $dt")
        var dayInYear = day - 1
        var m = 1
        while (m < month) { dayInYear += table(m - 1); m += 1 }
        year + (dayInYear * 86400.0 + hour * 3600 + min * 60 + sec) /
          (if (leap) 86400.0 * 366 else 86400.0 * 365)
      case _ => throw new JsonException(s"invalid date-time $dt")
    }
  }

  private sealed trait TimeFn { def at(t: Double): Double }
  private case object ConstantFn extends TimeFn { def at(t: Double) = 1.0 }
  private final case class VelocityFn(ref: Double) extends TimeFn {
    def at(t: Double) = t - ref
  }
  private final case class StepFn(epoch: Double) extends TimeFn {
    def at(t: Double) = if (t < epoch) 0.0 else 1.0
  }
  private final case class ReverseStepFn(epoch: Double) extends TimeFn {
    def at(t: Double) = if (t < epoch) -1.0 else 0.0
  }
  private final case class PiecewiseFn(beforeFirst: String, afterLast: String,
                                       epochs: Array[Double], factors: Array[Double]) extends TimeFn {
    def at(t: Double): Double = {
      if (epochs.isEmpty) return 0.0
      val n = epochs.length
      if (t < epochs(0)) {
        if (beforeFirst == "zero") return 0.0
        if (beforeFirst == "constant" || n == 1) return factors(0)
        val dt1 = epochs(0); val dt2 = epochs(1)
        if (dt1 == dt2) return factors(0)
        return (factors(0) * (dt2 - t) + factors(1) * (t - dt1)) / (dt2 - dt1)
      }
      var i = 1
      while (i < n) {
        if (t < epochs(i)) {
          val dti = epochs(i - 1); val dtip1 = epochs(i)
          return (factors(i - 1) * (dtip1 - t) + factors(i) * (t - dti)) / (dtip1 - dti)
        }
        i += 1
      }
      if (afterLast == "zero") return 0.0
      if (afterLast == "constant" || n == 1) return factors(n - 1)
      val dtnm1 = epochs(n - 2); val dtn = epochs(n - 1)
      if (dtnm1 == dtn) factors(n - 1)
      else (factors(n - 2) * (dtn - t) + factors(n - 1) * (t - dtnm1)) / (dtn - dtnm1)
    }
  }
  private final case class ExponentialFn(ref: Double, end: Option[Double],
                                         relaxation: Double, before: Double,
                                         initial: Double, last: Double) extends TimeFn {
    def at(t0: Double): Double = {
      if (t0 < ref) return before
      val t = end.fold(t0)(e => math.min(t0, e))
      initial + (last - initial) * (1.0 - math.exp(-(t - ref) / relaxation))
    }
  }

  // ---------------- model ----------------

  private final class Comp(val minx: Double, val miny: Double,
                           val maxx: Double, val maxy: Double,
                           val displacement: String, // none/horizontal/vertical/3d
                           val filename: String,
                           val bilinear: Boolean, // vs geocentric_bilinear
                           val timeFn: TimeFn) {
    var gridSet: List[GenGrid] = null
  }

  private final class Model(text: String, isGeographicOf: String => Boolean) {
    private def req(o: JObj, key: String): JVal =
      o.fields.getOrElse(key, throw new JsonException(s"Missing $key"))
    private def reqStr(o: JObj, key: String): String = req(o, key) match {
      case JStr(s) => s
      case _ => throw new JsonException(s"$key should be a string")
    }
    private def optStr(o: JObj, key: String): String = o.fields.get(key) match {
      case Some(JStr(s)) => s
      case _ => ""
    }
    private def reqObj(o: JObj, key: String): JObj = req(o, key) match {
      case j: JObj => j
      case _ => throw new JsonException(s"$key should be an object")
    }
    private def reqNum(o: JObj, key: String): Double = req(o, key) match {
      case JNum(v, _) => v
      case _ => throw new JsonException(s"$key should be a number")
    }

    private val root = Json.parse(text) match {
      case o: JObj => o
      case _ => throw new JsonException("not an object")
    }
    reqStr(root, "file_type"); reqStr(root, "format_version")
    reqStr(root, "source_crs"); reqStr(root, "target_crs")
    val definitionCrs: String = reqStr(root, "definition_crs")
    val isGeographic: Boolean = isGeographicOf(definitionCrs)
    val horizontalUnit: String = optStr(root, "horizontal_offset_unit")
    val verticalUnit: String = optStr(root, "vertical_offset_unit")
    val horizontalMethod: String = optStr(root, "horizontal_offset_method")
    if (horizontalMethod.nonEmpty && horizontalMethod != "addition" &&
        horizontalMethod != "geocentric")
      throw new JsonException("Unsupported value for horizontal_offset_method")
    val isUnitDegree: Boolean = horizontalUnit == "degree"
    val isAddition: Boolean = horizontalMethod == "addition"

    private def parseBbox(o: JObj): (Double, Double, Double, Double) = {
      if (reqStr(o, "type") != "bbox") throw new JsonException("unsupported extent type")
      reqObj(o, "parameters").fields.get("bbox") match {
        case Some(JArr(vs)) if vs.size == 4 =>
          val d = vs.map { case JNum(v, _) => v; case _ => throw new JsonException("bbox") }
          val mul = if (isGeographic) DEG2RAD else 1.0
          (d(0) * mul, d(1) * mul, d(2) * mul, d(3) * mul)
        case _ => throw new JsonException("invalid bbox")
      }
    }
    val (minx, miny, maxx, maxy) = parseBbox(reqObj(root, "extent"))
    private val jTime = reqObj(root, "time_extent")
    val timeFirst: Double = iso8601ToDecimalYear(reqStr(jTime, "first"))
    val timeLast: Double = iso8601ToDecimalYear(reqStr(jTime, "last"))

    val components: List[Comp] = (req(root, "components") match {
      case JArr(cs) => cs.toList
      case _ => throw new JsonException("components should be an array")
    }).map {
      case jc: JObj =>
        val disp = reqStr(jc, "displacement_type")
        if (!Set("none", "horizontal", "vertical", "3d").contains(disp))
          throw new JsonException("invalid displacement_type")
        reqStr(jc, "uncertainty_type")
        val (cminx, cminy, cmaxx, cmaxy) = parseBbox(reqObj(jc, "extent"))
        val jsm = reqObj(jc, "spatial_model")
        reqStr(jsm, "type")
        val interp = reqStr(jsm, "interpolation_method")
        if (interp != "bilinear" && interp != "geocentric_bilinear")
          throw new JsonException("unsupported interpolation_method")
        val filename = reqStr(jsm, "filename")
        val jtf = reqObj(jc, "time_function")
        val tfType = reqStr(jtf, "type")
        def params: JObj = reqObj(jtf, "parameters")
        val tf: TimeFn = tfType match {
          case "constant" => ConstantFn
          case "velocity" => VelocityFn(iso8601ToDecimalYear(reqStr(params, "reference_epoch")))
          case "step" => StepFn(iso8601ToDecimalYear(reqStr(params, "step_epoch")))
          case "reverse_step" => ReverseStepFn(iso8601ToDecimalYear(reqStr(params, "step_epoch")))
          case "piecewise" =>
            val bf = reqStr(params, "before_first")
            val al = reqStr(params, "after_last")
            if (!Set("zero", "constant", "linear")(bf) || !Set("zero", "constant", "linear")(al))
              throw new JsonException("unsupported before_first/after_last")
            val model = req(params, "model") match {
              case JArr(es) => es.map {
                case e: JObj => (iso8601ToDecimalYear(reqStr(e, "epoch")), reqNum(e, "scale_factor"))
                case _ => throw new JsonException("model[] element is not an object")
              }
              case _ => throw new JsonException("model should be an array")
            }
            PiecewiseFn(bf, al, model.map(_._1).toArray, model.map(_._2).toArray)
          case "exponential" =>
            val end = optStr(params, "end_epoch")
            val relax = reqNum(params, "relaxation_constant")
            if (relax <= 0) throw new JsonException("invalid relaxation_constant")
            ExponentialFn(iso8601ToDecimalYear(reqStr(params, "reference_epoch")),
              if (end.isEmpty) None else Some(iso8601ToDecimalYear(end)), relax,
              reqNum(params, "before_scale_factor"),
              reqNum(params, "initial_scale_factor"),
              reqNum(params, "final_scale_factor"))
          case other => throw new JsonException(s"unsupported time function $other")
        }
        if ((disp == "horizontal" || disp == "3d") &&
            (horizontalUnit.isEmpty || horizontalMethod.isEmpty))
          throw new JsonException("horizontal_offset_unit/method required")
        if ((disp == "vertical" || disp == "3d") && verticalUnit.isEmpty)
          throw new JsonException("vertical_offset_unit required")
        if (isUnitDegree && interp != "bilinear")
          throw new JsonException("degree unit requires bilinear")
        new Comp(cminx, cminy, cmaxx, cmaxy, disp, filename, interp == "bilinear", tf)
      case _ => throw new JsonException("components[] item is not an object")
    }
    if (isUnitDegree && !isAddition)
      throw new JsonException("degree unit requires addition method")
    if (!isGeographic && isUnitDegree)
      throw new JsonException("projected CRS incompatible with degree unit")
    if (!isGeographic && !isAddition)
      throw new JsonException("projected CRS incompatible with geocentric method")
    if (!isGeographic && components.exists(!_.bilinear))
      throw new JsonException("projected CRS incompatible with geocentric_bilinear")
  }

  // ---------------- per-grid sample resolution ----------------

  /** sample indices resolved like the reference Grid adapter :46-238. */
  private def horizSamples(g: GenGrid, expectedUnit: String): (Int, Int) = {
    if (g.samplesPerPixel < 2) return null.asInstanceOf[(Int, Int)]
    var sx = 0; var sy = 1
    var foundX = false; var foundY = false; var foundAny = false
    var i = 0
    while (i < g.samplesPerPixel) {
      val d = g.description(i)
      if (d == "east_offset") { sx = i; foundX = true }
      else if (d == "north_offset") { sy = i; foundY = true }
      if (d.nonEmpty) foundAny = true
      i += 1
    }
    if (foundAny && (!foundX || !foundY)) return null.asInstanceOf[(Int, Int)]
    val unit = g.unit(sx)
    if (unit.nonEmpty && unit != expectedUnit) return null.asInstanceOf[(Int, Int)]
    (sx, sy)
  }

  private def vertSample(g: GenGrid): Int = {
    var sz = if (g.samplesPerPixel == 1) 0 else 2
    if (g.samplesPerPixel != 1 && g.samplesPerPixel < 3) return -1
    var foundZ = false; var foundAny = false
    var i = 0
    while (i < g.samplesPerPixel) {
      val d = g.description(i)
      if (d == "vertical_offset") { sz = i; foundZ = true }
      if (d.nonEmpty) foundAny = true
      i += 1
    }
    if (foundAny && !foundZ) return -1
    val unit = g.unit(sz)
    if (unit.nonEmpty && unit != "metre") return -1
    sz
  }

  // ---------------- the op ----------------

  private val modelCache = new java.util.concurrent.ConcurrentHashMap[String, Model]()

  /** crude CRS classifier without an EPSG database: the EPSG 4xxx block is
    * geodetic, everything else projected; unknown authorities default to
    * geographic like the reference fallback. */
  private def isGeographicCrs(crs: String): Boolean = {
    val idx = crs.indexOf(':')
    if (idx < 0) return true
    val code = crs.substring(idx + 1)
    if (crs.toUpperCase.startsWith("OGC")) return true
    try {
      val n = code.toInt
      n >= 4000 && n < 5000
    } catch { case _: NumberFormatException => true }
  }

  def defmodel(P: PJ): Unit = {
    val modelName = P.params.s("model").getOrElse(
      throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "defmodel: +model= should be specified"))
    val model: Model = {
      val cached = modelCache.get(modelName)
      if (cached != null) cached
      else {
        val path = Seq(s"${ReferenceTree.data}/$modelName", modelName)
          .map(java.nio.file.Paths.get(_))
          .find(java.nio.file.Files.isReadable)
          .getOrElse(throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
            s"defmodel: cannot open $modelName"))
        val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        val m =
          try new Model(text, isGeographicCrs)
          catch {
            case e: JsonException =>
              throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
                s"defmodel: invalid model: ${e.getMessage}")
          }
        modelCache.putIfAbsent(modelName, m)
        modelCache.get(modelName)
      }
    }

    val a = P.a; val b = P.b; val es = 1 - (b * b) / (a * a)
    val cart = {
      val sub = Proj.create(new ParamList(Vector(
        "proj" -> "cart", "a" -> P.a.toString, "es" -> P.es.toString)))
      sub.skipFwdPrepare = true; sub.skipFwdFinalize = true
      sub.skipInvPrepare = true; sub.skipInvFinalize = true
      sub
    }

    if (model.isGeographic) { P.left = IOUnits.RADIANS; P.right = IOUnits.RADIANS }
    else { P.left = IOUnits.WHATEVER; P.right = IOUnits.WHATEVER }

    val EPS = if (model.isGeographic) 1e-10 else 1e-5

    def bboxCheck(xy: Array[Double], forInverse: Boolean, minx: Double, miny: Double,
                  maxx: Double, maxy: Double, extraMargin: Double): Boolean = {
      var x = xy(0); var y = xy(1)
      if (x < minx - EPS || x > maxx + EPS || y < miny - EPS || y > maxy + EPS) {
        if (!forInverse) return false
        var xOk = false
        if (x >= minx - EPS && x <= maxx + EPS) xOk = true
        else if (x > minx - extraMargin && x < minx) { x = minx; xOk = true }
        else if (x < maxx + extraMargin && x > maxx) { x = maxx; xOk = true }
        var yOk = false
        if (y >= miny - EPS && y <= maxy + EPS) yOk = true
        else if (y > miny - extraMargin && y < miny) { y = miny; yOk = true }
        else if (y < maxy + extraMargin && y > maxy) { y = maxy; yOk = true }
        xy(0) = x; xy(1) = y
        xOk && yOk
      } else true
    }

    /** evaluate the model; returns (x,y,z) or null. */
    def forward(x0: Double, y0: Double, z0: Double, t: Double,
                forInverse: Boolean): Array[Double] = {
      var x = x0; var y = y0
      // wrap into the model extent
      if (model.isGeographic) {
        while (x < model.minx - EPS) x += 2 * math.Pi
        while (x > model.maxx + EPS) x -= 2 * math.Pi
      }
      val xyGlobal = Array(x, y)
      val extraMargin = if (model.isGeographic) 0.1 * DEG2RAD else 10000.0
      if (!bboxCheck(xyGlobal, forInverse, model.minx, model.miny, model.maxx,
          model.maxy, extraMargin)) return null
      x = xyGlobal(0); y = xyGlobal(1)
      if (t < model.timeFirst || t > model.timeLast) return null

      var dlam = 0.0; var dphi = 0.0 // degree-unit accumulation
      var de = 0.0; var dn = 0.0 // metre-unit accumulation
      var dz = 0.0
      var sinphi = 0.0; var cosphi = 0.0; var trigInit = false

      for (comp <- model.components if comp.displacement != "none") {
        val xyComp = Array(x, y)
        val inComp = bboxCheck(xyComp, forInverse, comp.minx, comp.miny,
          comp.maxx, comp.maxy, 0)
        if (inComp) {
          val xg = math.min(math.max(xyComp(0), comp.minx), comp.maxx)
          val yg = math.min(math.max(xyComp(1), comp.miny), comp.maxy)
          val tfactor = comp.timeFn.at(t)
          if (tfactor != 0.0) {
            if (comp.gridSet == null) {
              comp.gridSet = GenericGrids.load(comp.filename).getOrElse(
                throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
                  s"defmodel: cannot open ${comp.filename}"))
            }
            var grid: GenGrid = null
            for (root <- comp.gridSet if grid == null)
              if (GenericGrids.isPointInExtent(xg, yg, root))
                grid = GenericGrids.gridAt(root, xg, yg)
            if (grid != null) {
              if (grid.width < 2 || grid.height < 2) return null
              val ixd = (xg - grid.west) / grid.resX
              val iyd = (yg - grid.south) / grid.resY
              val inGrid = !(ixd < -EPS || iyd < -EPS ||
                ixd + 1 >= grid.width + EPS || iyd + 1 >= grid.height + EPS)
              if (inGrid) {
                val ix0 = math.min(ixd.toInt, grid.width - 2)
                val iy0 = math.min(iyd.toInt, grid.height - 2)
                val fx = ixd - ix0; val fy = iyd - iy0
                val m00 = (1 - fx) * (1 - fy); val m10 = fx * (1 - fy)
                val m01 = (1 - fx) * fy; val m11 = fx * fy
                if (comp.displacement == "vertical") {
                  val sz = vertSample(grid)
                  if (sz < 0) return null
                  val dzI =
                    grid.valueAt(ix0, iy0, sz) * m00 + grid.valueAt(ix0, iy0 + 1, sz) * m01 +
                      grid.valueAt(ix0 + 1, iy0, sz) * m10 + grid.valueAt(ix0 + 1, iy0 + 1, sz) * m11
                  dz += tfactor * dzI
                } else if (model.isUnitDegree) {
                  val s = horizSamples(grid, "degree")
                  if (s == null) return null
                  val (sx, sy) = s
                  def dg(ix: Int, iy: Int, ss: Int): Double =
                    grid.valueAt(ix, iy, ss).toDouble * DEG2RAD
                  val dlamI = dg(ix0, iy0, sx) * m00 + dg(ix0, iy0 + 1, sx) * m01 +
                    dg(ix0 + 1, iy0, sx) * m10 + dg(ix0 + 1, iy0 + 1, sx) * m11
                  val dphiI = dg(ix0, iy0, sy) * m00 + dg(ix0, iy0 + 1, sy) * m01 +
                    dg(ix0 + 1, iy0, sy) * m10 + dg(ix0 + 1, iy0 + 1, sy) * m11
                  dlam += tfactor * dlamI
                  dphi += tfactor * dphiI
                  if (comp.displacement == "3d") {
                    val sz = vertSample(grid)
                    if (sz < 0) return null
                    val dzI =
                      grid.valueAt(ix0, iy0, sz) * m00 + grid.valueAt(ix0, iy0 + 1, sz) * m01 +
                        grid.valueAt(ix0 + 1, iy0, sz) * m10 + grid.valueAt(ix0 + 1, iy0 + 1, sz) * m11
                    dz += tfactor * dzI
                  }
                } else { // metre unit
                  val s = horizSamples(grid, "metre")
                  if (s == null) return null
                  val (sx, sy) = s
                  val de00 = grid.valueAt(ix0, iy0, sx).toDouble
                  val dn00 = grid.valueAt(ix0, iy0, sy).toDouble
                  val de01 = grid.valueAt(ix0, iy0 + 1, sx).toDouble
                  val dn01 = grid.valueAt(ix0, iy0 + 1, sy).toDouble
                  val de10 = grid.valueAt(ix0 + 1, iy0, sx).toDouble
                  val dn10 = grid.valueAt(ix0 + 1, iy0, sy).toDouble
                  val de11 = grid.valueAt(ix0 + 1, iy0 + 1, sx).toDouble
                  val dn11 = grid.valueAt(ix0 + 1, iy0 + 1, sy).toDouble
                  if (comp.displacement == "3d") {
                    val sz = vertSample(grid)
                    if (sz < 0) return null
                    val dzI =
                      grid.valueAt(ix0, iy0, sz) * m00 + grid.valueAt(ix0, iy0 + 1, sz) * m01 +
                        grid.valueAt(ix0 + 1, iy0, sz) * m10 + grid.valueAt(ix0 + 1, iy0 + 1, sz) * m11
                    dz += tfactor * dzI
                  }
                  if (comp.bilinear) {
                    de += tfactor * (de00 * m00 + de01 * m01 + de10 * m10 + de11 * m11)
                    dn += tfactor * (dn00 * m00 + dn01 * m01 + dn10 * m10 + dn11 * m11)
                  } else {
                    // geocentric bilinear: rotate node ENU to XYZ at cell
                    // corners, interpolate, rotate back at the point
                    val y0g = grid.south + iy0 * grid.resY
                    val sinphi0 = math.sin(y0g); val cosphi0 = math.cos(y0g)
                    val sinphi1 = math.sin(y0g + grid.resY); val cosphi1 = math.cos(y0g + grid.resY)
                    val sinHalf = math.sin(0.5 * grid.resX); val cosHalf = math.cos(0.5 * grid.resX)
                    def enu2xyz(deV: Double, dnV: Double, sl: Double, cl: Double,
                                sp: Double, cp: Double): (Double, Double, Double) = {
                      val dns = dnV * sp
                      (-deV * sl - dns * cl, deV * cl - dns * sl, dnV * cp)
                    }
                    val (x00, y00g, z00) = enu2xyz(de00, dn00, -sinHalf, cosHalf, sinphi0, cosphi0)
                    val (x01, y01g, z01) = enu2xyz(de01, dn01, -sinHalf, cosHalf, sinphi1, cosphi1)
                    val (x10, y10g, z10) = enu2xyz(de10, dn10, sinHalf, cosHalf, sinphi0, cosphi0)
                    val (x11, y11g, z11) = enu2xyz(de11, dn11, sinHalf, cosHalf, sinphi1, cosphi1)
                    val dX = m00 * x00 + m01 * x01 + m10 * x10 + m11 * x11
                    val dY = m00 * y00g + m01 * y01g + m10 * y10g + m11 * y11g
                    val dZ = m00 * z00 + m01 * z01 + m10 * z10 + m11 * z11
                    if (!trigInit) { trigInit = true; sinphi = math.sin(y); cosphi = math.cos(y) }
                    val lamRel = (fx - 0.5) * grid.resX
                    val sinlam = math.sin(lamRel); val coslam = math.cos(lamRel)
                    val deI = -dX * sinlam + dY * coslam
                    val dnI = (-dX * coslam - dY * sinlam) * sinphi + dZ * cosphi
                    de += tfactor * deI
                    dn += tfactor * dnI
                  }
                }
              }
            }
          }
        }
      }

      var xOut = x0; var yOut = y0
      if (model.isUnitDegree) {
        xOut += dlam; yOut += dphi
      } else if (model.isAddition && !model.isGeographic) {
        xOut += de; yOut += dn
      } else if (model.isAddition) {
        if (!trigInit) cosphi = math.cos(y)
        // delta easting/northing to delta lon/lat on the ellipsoid
        val oneMinusX = es * (1 - cosphi * cosphi)
        val xx = 1 - oneMinusX
        val sqrtX = math.sqrt(xx)
        xOut += de * sqrtX / (a * cosphi)
        yOut += dn * a * sqrtX * xx / (b * b)
      } else {
        // geocentric addition
        if (!trigInit) { sinphi = math.sin(y); cosphi = math.cos(y) }
        val sinlam = math.sin(x); val coslam = math.cos(x)
        val dns = dn * sinphi
        val dX = -de * sinlam - dns * coslam
        val dY = de * coslam - dns * sinlam
        val dZ = dn * cosphi
        val w = new Coord
        w.set(x, y, 0, 0)
        cart.kernel.fwd3(w)
        w.x += dX; w.y += dY; w.z += dZ
        cart.kernel.inv3(w)
        xOut = w.x; yOut = w.y
      }
      Array(xOut, yOut, z0 + dz)
    }

    def inverse(x: Double, y: Double, z: Double, t: Double): Array[Double] = {
      var ox = x; var oy = y; var oz = z
      var i = 0
      while (i < 10) {
        val r = forward(ox, oy, oz, t, forInverse = true)
        if (r == null) return null
        val dx = r(0) - x; val dy = r(1) - y; val dzv = r(2) - z
        ox -= dx; oy -= dy; oz -= dzv
        if (math.max(math.abs(dx), math.abs(dy)) < 1e-12 && math.abs(dzv) < 1e-3)
          return Array(ox, oy, oz)
        i += 1
      }
      null
    }

    P.kernel = new OpKernel {
      val caps = FWD4 | INV4
      override def fwd4(c: Coord): Unit = {
        if (c.t.isInfinite || c.t.isNaN) {
          c.setError(ProjErr.COORD_TRANSFM_MISSING_TIME); return }
        val r = forward(c.x, c.y, c.z, c.t, forInverse = false)
        if (r == null) { c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_GRID); return }
        c.x = r(0); c.y = r(1); c.z = r(2)
      }
      override def inv4(c: Coord): Unit = {
        if (c.t.isInfinite || c.t.isNaN) {
          c.setError(ProjErr.COORD_TRANSFM_MISSING_TIME); return }
        val r = inverse(c.x, c.y, c.z, c.t)
        if (r == null) { c.setError(ProjErr.COORD_TRANSFM_OUTSIDE_GRID); return }
        c.x = r(0); c.y = r(1); c.z = r(2)
      }
    }
  }
}
