package graft.gie

import graft.core.{Coord, Geodesic, GeoMath, ProjErr, ProjError}
import graft.proj._
import scala.collection.mutable

/** Scala runner for PROJ's gie regression DSL — our correctness oracle.
  *
  * Grammar and assert semantics replicate the reference runner
  * (src/apps/gie.cpp): record parsing :1439-1660, coordinate parsing
  * :820-871, expect :1009-1195 (angular outputs compared via geodesic
  * distance, :1137-1161), roundtrip :886-949 (proj_roundtrip,
  * src/trans.cpp:591-629), tolerance scaling :513-547, skip/ignore
  * accounting :389-426, require_grid :571-597 (grids resolve from the
  * reference's data/ directory, so the grid-dependent corpora run for real —
  * zero skips; a block only skips if its grid file is genuinely absent,
  * exactly as gie does).
  */
object GieRunner {

  val tags: Seq[String] = Seq(
    "<gie-strict>", "</gie-strict>", "<gie>", "</gie>",
    "operation", "crs_src", "crs_dst", "use_proj4_init_rules",
    "accept", "expect", "roundtrip", "banner", "verbose",
    "direction", "tolerance", "ignore", "require_grid", "echo", "skip")

  final case class Cmd(tag: String, args: String, lineno: Int)

  final case class Failure(file: String, lineno: Int, opName: String, msg: String)

  final class Stats {
    var ok = 0; var ko = 0; var skipped = 0
    val failures = mutable.ListBuffer[Failure]()
    /** failures per proj= op name, to prioritize kernel work */
    def failuresByOp: Map[String, Int] =
      failures.groupBy(_.opName).view.mapValues(_.size).toMap
    def merge(o: Stats): Stats = {
      ok += o.ok; ko += o.ko; skipped += o.skipped; failures ++= o.failures; this
    }
    override def toString = s"ok=$ok ko=$ko skip=$skipped"
  }

  /** pj_chomp: strip '#' comments and surrounding whitespace/';'. */
  def chomp(line0: String): String = {
    var line = line0
    val hash = line.indexOf('#')
    if (hash >= 0) line = line.substring(0, hash)
    line = line.dropWhile(c => Character.isWhitespace(c) || c == ';')
      .reverse.dropWhile(c => Character.isWhitespace(c) || c == ';').reverse
    // drop shell-style line continuations
    if (line.endsWith("\\")) line.dropRight(1).reverse.dropWhile(Character.isWhitespace).reverse
    else line
  }

  private def isDecorative(s: String): Boolean =
    s.length >= 5 && s.substring(0, 5).forall(_ == s.charAt(0))

  private def tagOf(s: String): Option[String] = tags.find(s.startsWith)

  /** Parse a gie file into commands (reference get_inp, gie.cpp:1594-1660). */
  def parseFile(path: String): Vector[Cmd] = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines().map(chomp).toVector
    val cmds = Vector.newBuilder[Cmd]
    var i = 0
    var inside = false
    val n = lines.length
    while (i < n) {
      val line = lines(i)
      if (!inside) {
        if (line.startsWith("<gie>") || line.startsWith("<gie-strict>")) inside = true
        i += 1
      } else if (line.startsWith("</gie>") || line.startsWith("</gie-strict>")) {
        inside = false; i += 1
      } else {
        tagOf(line) match {
          case Some(tag) if tag != "<gie>" && tag != "<gie-strict>" =>
            val lineno = i + 1
            val sb = new StringBuilder(line.substring(tag.length))
            i += 1
            var done = false
            while (!done && i < n) {
              val nxt = lines(i)
              if (isDecorative(nxt) || tagOf(nxt).isDefined) done = true
              else { sb.append(' ').append(nxt); i += 1 }
            }
            cmds += Cmd(tag, ParamList.shrink(sb.toString), lineno)
          case _ => i += 1
        }
      }
    }
    cmds.result()
  }

  // ---------------- coordinate / number parsing ----------------

  /** parse_coord (reference gie.cpp:820-871): up to 4 numbers, DMS-aware,
    * HUGE_VAL token. Returns (coord values, dimensionsGiven); null coord on
    * parse failure with < 2 dims. */
  def parseCoord(args: String): (Array[Double], Int) = {
    val v = new Array[Double](4)
    var dims = 0
    var pos = 0
    val n = args.length
    var i = 0
    var bad = false
    while (i < 4 && !bad) {
      while (pos < n && Character.isWhitespace(args.charAt(pos))) pos += 1
      if (pos >= n) { bad = true }
      else if (args.startsWith("HUGE_VAL", pos)) {
        v(i) = Double.PositiveInfinity; pos += 8; dims += 1; i += 1
      } else if (args.toLowerCase.startsWith("nan", pos)) {
        v(i) = Double.NaN; pos += 3; dims += 1; i += 1
      } else {
        val (d0, end0) = NumParse.strtod(args, pos, allowUnderscore = true)
        var d = d0; var end = end0
        if (!d.isNaN && end < n && !Character.isWhitespace(args.charAt(end))) {
          // might be a DMS form like 12d34'56"N
          val (dmsRad, consumed) = Dms.dmstor(args, pos)
          if (consumed > 0) {
            val dms = dmsRad * GeoMath.RAD2DEG
            if (d != dms && math.abs(d) < math.abs(dms) && math.abs(dms) < math.abs(d) + 1) {
              d = dms; end = pos + consumed
            } else if (d == dms && end != pos + consumed) end = pos + consumed
          }
        }
        if (end == pos || d.isNaN) bad = true
        else { v(i) = d; pos = end; dims += 1; i += 1 }
      }
    }
    if (dims < 2) (null, dims) else (v, dims)
  }

  /** strtod_scaled (reference gie.cpp:513-547). */
  def strtodScaled(args0: String, defaultScale: Double): Double = {
    val args = args0.trim
    val (s0, end) = NumParse.strtod(args, 0, allowUnderscore = true)
    if (end == 0 || s0.isNaN) return Double.PositiveInfinity
    var s = s0
    val unit = args.substring(end).trim.split("\\s+").headOption.getOrElse("")
    val GRS80_DEG = 111319.4908
    unit match {
      case "km" => s *= 1000
      case "m" => ()
      case "dm" => s /= 10
      case "cm" => s /= 100
      case "mm" => s /= 1000
      case "um" => s /= 1e6
      case "nm" => s /= 1e9
      case "rad" => s = GRS80_DEG * s * GeoMath.RAD2DEG
      case "deg" => s = GRS80_DEG * s
      case _ => s *= defaultScale
    }
    s
  }

  /** Ordered errno-name table with gie's prefix-match semantics
    * (reference gie.cpp:1276-1304 + errno_from_err_const :1330-1358:
    * first table entry whose name starts with the queried name). Unknown
    * names (incl. legacy pjd_err_*) map to 9999. */
  private val errnoTable: Seq[(String, Int)] = Seq(
    "invalid_op" -> ProjErr.INVALID_OP,
    "invalid_op_wrong_syntax" -> ProjErr.INVALID_OP_WRONG_SYNTAX,
    "invalid_op_missing_arg" -> ProjErr.INVALID_OP_MISSING_ARG,
    "invalid_op_illegal_arg_value" -> ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE,
    "invalid_op_mutually_exclusive_args" -> ProjErr.INVALID_OP_MUTUALLY_EXCLUSIVE_ARGS,
    "invalid_op_file_not_found_or_invalid" -> ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID,
    "coord_transfm" -> ProjErr.COORD_TRANSFM,
    "coord_transfm_invalid_coord" -> ProjErr.COORD_TRANSFM_INVALID_COORD,
    "coord_transfm_outside_projection_domain" -> ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN,
    "coord_transfm_no_operation" -> ProjErr.COORD_TRANSFM_NO_OPERATION,
    "coord_transfm_outside_grid" -> ProjErr.COORD_TRANSFM_OUTSIDE_GRID,
    "coord_transfm_grid_at_nodata" -> ProjErr.COORD_TRANSFM_GRID_AT_NODATA,
    "coord_transfm_missing_time" -> ProjErr.COORD_TRANSFM_MISSING_TIME,
    "other" -> ProjErr.OTHER,
    "api_misuse" -> ProjErr.OTHER_API_MISUSE,
    "no_inverse_op" -> ProjErr.OTHER_NO_INVERSE_OP,
    "network_error" -> ProjErr.OTHER_NETWORK_ERROR)

  private def errnoFromName(name0: String): Int = {
    val name = name0.trim.toLowerCase
    if (name.isEmpty) return 9999
    val numeric = NumParse.atof(name)
    if (!numeric.isNaN && numeric != 0) return numeric.toInt
    errnoTable.collectFirst { case (k, v) if k.startsWith(name) => v }.getOrElse(9999)
  }

  // ---------------- per-file execution state ----------------

  private final class State(val file: String, val stats: Stats) {
    var P: PJ = null
    var opErr: Int = 0
    var opName: String = "?"
    var opString: String = ""
    var dirFwd = true
    var tolerance = 0.0005
    var ignore = 9999
    var skipTest = false
    var fileSkip = false
    val a = new Array[Double](4)
    var dimsGiven = 0
    var crsSrc = ""
    var crsDst = ""
    var crsDstLatLon = false

    def ok(): Unit = stats.ok += 1
    def skip(): Unit = stats.skipped += 1
    def ko(lineno: Int, msg: String): Unit = {
      stats.ko += 1
      stats.failures += Failure(file, lineno, opName, msg)
    }
  }

  /** proj_trans with the reference's NaN totalization
    * (reference src/trans.cpp:352-355). */
  def trans(P: PJ, forward: Boolean, c: Coord): Unit = {
    if (c.x.isNaN || c.y.isNaN || c.z.isNaN || c.t.isNaN) {
      c.x = Double.NaN; c.y = Double.NaN; c.z = Double.NaN; c.t = Double.NaN
      return
    }
    Dispatch.trans(P, forward, c)
  }

  /** convert components marked angular by the axis spec (reference
    * torad_coord/todeg_coord, gie.cpp:787-811). */
  private def convCoord(P: PJ, forward: Boolean, v: Array[Double],
                        toRad: Boolean): Array[Double] = {
    val useAxis = P.params.s("axis") match {
      case Some(ax) if (toRad && !forward) || (!toRad && forward) => ax + "t"
      case _ => "enut"
    }
    val out = v.clone()
    val f = if (toRad) GeoMath.DEG2RAD else GeoMath.RAD2DEG
    var i = 0
    while (i < math.min(4, useAxis.length)) {
      if ("news".indexOf(useAxis.charAt(i)) >= 0) out(i) = out(i) * f
      i += 1
    }
    out
  }

  private def lpzDist(P: PJ, a: Array[Double], b: Array[Double]): Double = {
    if (a(0) == Double.PositiveInfinity || b(0) == Double.PositiveInfinity)
      return Double.PositiveInfinity
    val s12 = P.geod.inverse(
      a(1) * GeoMath.RAD2DEG, a(0) * GeoMath.RAD2DEG,
      b(1) * GeoMath.RAD2DEG, b(0) * GeoMath.RAD2DEG)._1
    math.hypot(s12, a(2) - b(2))
  }

  private def xyzDist(a: Array[Double], b: Array[Double]): Double =
    math.hypot(math.hypot(a(0) - b(0), a(1) - b(1)), a(2) - b(2))

  private def runCoord(st: State, in: Array[Double]): Coord = {
    val c = new Coord
    c.set(in(0), in(1), in(2), in(3))
    trans(st.P, st.dirFwd, c)
    c
  }

  // ---------------- command handlers ----------------

  private def doOperation(st: State, args: String): Unit = {
    st.opString = args
    st.opName = ParamList.parse(args).s("proj").getOrElse("?")
    st.dirFwd = true
    st.tolerance = 0.0005
    st.ignore = 9999
    st.skipTest = false
    st.P = null
    st.opErr = 0
    try st.P = Proj.create(args)
    catch {
      case e: ProjError => st.opErr = e.errno
      case _: Throwable => st.opErr = 9999
    }
  }

  private def doExpect(st: State, args: String, lineno: Int): Unit = {
    var expectFailure = false
    var expectErrno = 0
    if (args.startsWith("failure")) {
      expectFailure = true
      val cols = args.split("\\s+")
      if (cols.length >= 3 && cols(1) == "errno") expectErrno = errnoFromName(cols(2))
    }
    if (st.ignore == st.opErr && st.P == null) { st.skip(); return }
    if (st.P == null) {
      if (expectFailure) {
        if (expectErrno != 0 && st.opErr != expectErrno)
          st.ko(lineno, s"wrong errno: got ${st.opErr} want $expectErrno")
        else st.ok()
      } else st.ko(lineno, s"invalid operation definition (errno ${st.opErr})")
      return
    }
    if (expectFailure) {
      val ci = if (st.P.angularInput(st.dirFwd))
        convCoord(st.P, st.dirFwd, st.a, toRad = true) else st.a
      val co = runCoord(st, ci)
      if (expectErrno != 0) {
        if (co.err == expectErrno) st.ok()
        else st.ko(lineno, s"errno: got ${co.err} want $expectErrno")
      } else if (co.x == Double.PositiveInfinity) st.ok()
      else st.ko(lineno, "failed to fail")
      return
    }
    val (e, expectDims) = parseCoord(args)
    if (e == null) { st.ko(lineno, s"cannot parse expectation: $args"); return }
    val angOut = st.P.angularOutput(st.dirFwd)
    val degOut = st.P.degreeOutput(st.dirFwd)
    val ce = if (angOut) convCoord(st.P, st.dirFwd, e, toRad = true) else e
    val ci = if (st.P.angularInput(st.dirFwd))
      convCoord(st.P, st.dirFwd, st.a, toRad = true) else st.a
    val c = runCoord(st, ci)
    val co = Array(c.x, c.y, c.z, c.t)
    if (expectDims < 4) co(3) = 0
    if (expectDims < 3) co(2) = 0
    // lat-lon / northing-easting destination CRSs compare with swapped
    // axes (reference gie.cpp:1147-1160, crs_dst_is_lat_lon_or_y_x)
    def axisFix(v: Array[Double]): Array[Double] =
      if (st.crsDstLatLon) Array(v(1), v(0), v(2), v(3)) else v.clone()
    val d =
      if (co(0).isNaN && ce(0).isNaN) 0.0
      else if (angOut) lpzDist(st.P, ce, co)
      else if (degOut) {
        val co2 = axisFix(co); val ce2 = axisFix(ce)
        co2(0) *= GeoMath.DEG2RAD; co2(1) *= GeoMath.DEG2RAD
        ce2(0) *= GeoMath.DEG2RAD; ce2(1) *= GeoMath.DEG2RAD
        lpzDist(st.P, ce2, co2)
      } else xyzDist(axisFix(ce), axisFix(co))
    if (!(d <= st.tolerance)) {
      st.ko(lineno, f"deviation ${d * 1000}%.6f mm > tol ${st.tolerance * 1000}%.6f mm " +
        f"(got ${co(0)}%.12g ${co(1)}%.12g ${co(2)}%.9g, want $args)")
      return
    }
    if (expectDims == 4 && math.abs(ce(3) - co(3)) > 1e-4) {
      st.ko(lineno, f"temporal deviation ${math.abs(ce(3) - co(3))}%.4f yr")
      return
    }
    st.ok()
  }

  private def doRoundtrip(st: State, args: String, lineno: Int): Unit = {
    if (st.P == null) {
      if (st.ignore == st.opErr) st.skip() else st.ko(lineno, "roundtrip on failed op")
      return
    }
    val (nRaw, end) = NumParse.strtod(args, 0, allowUnderscore = true)
    val ntrips = if (end == 0 || nRaw.isNaN) 100 else {
      if (nRaw < 1 || nRaw > 1e6) { st.ko(lineno, s"invalid roundtrip count $nRaw"); return }
      nRaw.toInt
    }
    var tol = strtodScaled(args.substring(math.min(end, args.length)), 1)
    if (tol == Double.PositiveInfinity) tol = st.tolerance

    val angIn = st.P.angularInput(st.dirFwd)
    val in = if (angIn) convCoord(st.P, st.dirFwd, st.a, toRad = true) else st.a
    // proj_roundtrip (reference src/trans.cpp:591-629)
    val org = new Coord; org.set(in(0), in(1), in(2), in(3))
    val t = new Coord; t.copyFrom(org)
    trans(st.P, st.dirFwd, t)
    var i = 0
    while (i < ntrips - 1) {
      trans(st.P, !st.dirFwd, t)
      trans(st.P, st.dirFwd, t)
      i += 1
    }
    trans(st.P, !st.dirFwd, t)
    val orgA = Array(org.x, org.y, org.z, org.t)
    val tA = Array(t.x, t.y, t.z, t.t)
    val r =
      if (orgA.exists(_.isNaN) && tA.forall(_.isNaN)) 0.0
      else if (angIn) lpzDist(st.P, orgA, tA)
      else xyzDist(orgA, tA)
    if ((r.isNaN && tol.isNaN) || r <= tol) st.ok()
    else st.ko(lineno, f"roundtrip deviation ${r * 1000}%.6f mm > ${tol * 1000}%.6f mm")
  }

  /** Run one gie file. */
  def runFile(path: String, stats: Stats = new Stats): Stats = {
    val st = new State(new java.io.File(path).getName, stats)
    val cmds = parseFile(path)
    var i = 0
    while (i < cmds.length && !st.fileSkip) {
      val cmd = cmds(i)
      cmd.tag match {
        case "operation" =>
          st.crsDstLatLon = false
          doOperation(st, cmd.args)
        case "crs_src" =>
          st.crsSrc = cmd.args.split('#')(0).trim
        case "crs_dst" =>
          // the mini planner covers the corpus' well-known pairs; the full
          // EPSG database (reference iso19111/factory.cpp) stays out of scope
          st.crsDst = cmd.args.split('#')(0).trim
          graft.proj.CrsToCrs.pipeline(st.crsSrc, st.crsDst) match {
            case Some((p, latLon)) =>
              doOperation(st, p)
              st.crsDstLatLon = latLon
            case None =>
              st.P = null; st.opErr = 9999; st.opName = "crs_to_crs"
              st.crsDstLatLon = false
          }
        case _ if st.skipTest =>
          if (cmd.tag == "expect") st.skip()
        case "accept" =>
          val (v, dims) = parseCoord(cmd.args)
          if (v != null) { Array.copy(v, 0, st.a, 0, 4); st.dimsGiven = dims }
        case "expect" => doExpect(st, cmd.args, cmd.lineno)
        case "roundtrip" => doRoundtrip(st, cmd.args, cmd.lineno)
        case "direction" =>
          val c = cmd.args.trim.headOption.getOrElse('f')
          if (c == 'i' || c == 'I' || c == 'r' || c == 'R') st.dirFwd = false
          else if (c == 'f' || c == 'F') st.dirFwd = true
        case "tolerance" =>
          st.tolerance = strtodScaled(cmd.args, 1)
          if (st.tolerance == Double.PositiveInfinity) st.tolerance = 0.0005
        case "ignore" => st.ignore = errnoFromName(cmd.args.split("\\s+").headOption.getOrElse(""))
        case "require_grid" =>
          // skip only when the named grid genuinely is not available
          val names = cmd.args.split("[,\\s]+").filter(_.nonEmpty)
          val available = names.forall { n =>
            Seq(s"${ReferenceTree.data}/$n", s"${ReferenceTree.data}/tests/$n")
              .exists(pth => java.nio.file.Files.isReadable(java.nio.file.Paths.get(pth)))
          }
          if (!available) st.skipTest = true
        case "skip" => st.fileSkip = true
        case _ => () // banner, verbose, echo, use_proj4_init_rules
      }
      i += 1
    }
    stats
  }

  /** CLI: run the given gie files (default: builtins + more_builtins). */
  def main(args: Array[String]): Unit = {
    val files = if (args.nonEmpty) args.toSeq else Seq(
      "builtins", "more_builtins", "gridshift", "geotiff_grids", "tinshift",
      "tinshift_gpkg", "epsg_no_grid",
      "defmodel", "deformation", "DHDN_ETRS89", "GDA", "4D-API_cs2cs-style",
      "ellipsoid", "axisswap", "unitconvert", "adams_hemi", "adams_ws1",
      "adams_ws2", "guyou", "peirce_q", "spilhaus"
    ).map(n => s"${ReferenceTree.test}/gie/$n.gie") ++ Seq(
      "5101.1-jhs", "5101.2-jhs", "5101.3-jhs", "5101.4-jhs-etmerc",
      "5102.1", "5102.2", "5103.1", "5103.2", "5103.3", "5104", "5105.2",
      "5106", "5107", "5108", "5109", "5111.1", "5112", "5113", "5201", "5208"
    ).map(n => s"${ReferenceTree.test}/gigs/$n.gie")
    val total = new Stats
    for (f <- files) {
      val s = runFile(f)
      println(s"$f: $s")
      total.merge(new Stats) // runFile already accumulated into its own stats
      total.ok += s.ok; total.ko += s.ko; total.skipped += s.skipped
      total.failures ++= s.failures
    }
    println(s"TOTAL: $total  pass-rate=${"%.1f".format(100.0 * total.ok / math.max(1, total.ok + total.ko))}%")
    val byOp = total.failuresByOp.toSeq.sortBy(-_._2)
    println("failures by op:")
    byOp.take(40).foreach { case (op, n) => println(f"  $op%-16s $n%5d") }
  }
}
