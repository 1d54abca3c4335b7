package graft.proj

import graft.core.{GeoMath, ProjErr, ProjError}

/** Named-ellipsoid table (reference src/ellps.cpp:8-57). */
object Ellipsoids {
  // name -> (major-def, shape-def) exactly as in the reference table
  val table: Map[String, (String, String)] = Map(
    "MERIT" -> ("a=6378137.0", "rf=298.257"),
    "SGS85" -> ("a=6378136.0", "rf=298.257"),
    "GRS80" -> ("a=6378137.0", "rf=298.257222101"),
    "IAU76" -> ("a=6378140.0", "rf=298.257"),
    "airy" -> ("a=6377563.396", "rf=299.3249646"),
    "APL4.9" -> ("a=6378137.0", "rf=298.25"),
    "NWL9D" -> ("a=6378145.0", "rf=298.25"),
    "mod_airy" -> ("a=6377340.189", "b=6356034.446"),
    "andrae" -> ("a=6377104.43", "rf=300.0"),
    "danish" -> ("a=6377019.2563", "rf=300.0"),
    "aust_SA" -> ("a=6378160.0", "rf=298.25"),
    "GRS67" -> ("a=6378160.0", "rf=298.2471674270"),
    "GSK2011" -> ("a=6378136.5", "rf=298.2564151"),
    "bessel" -> ("a=6377397.155", "rf=299.1528128"),
    "bess_nam" -> ("a=6377483.865", "rf=299.1528128"),
    "clrk66" -> ("a=6378206.4", "b=6356583.8"),
    "clrk80" -> ("a=6378249.145", "rf=293.4663"),
    "clrk80ign" -> ("a=6378249.2", "rf=293.4660212936269"),
    "CPM" -> ("a=6375738.7", "rf=334.29"),
    "delmbr" -> ("a=6376428.", "rf=311.5"),
    "engelis" -> ("a=6378136.05", "rf=298.2566"),
    "evrst30" -> ("a=6377276.345", "rf=300.8017"),
    "evrst48" -> ("a=6377304.063", "rf=300.8017"),
    "evrst56" -> ("a=6377301.243", "rf=300.8017"),
    "evrst69" -> ("a=6377295.664", "rf=300.8017"),
    "evrstSS" -> ("a=6377298.556", "rf=300.8017"),
    "fschr60" -> ("a=6378166.", "rf=298.3"),
    "fschr60m" -> ("a=6378155.", "rf=298.3"),
    "fschr68" -> ("a=6378150.", "rf=298.3"),
    "helmert" -> ("a=6378200.", "rf=298.3"),
    "hough" -> ("a=6378270.0", "rf=297."),
    "intl" -> ("a=6378388.0", "rf=297."),
    "krass" -> ("a=6378245.0", "rf=298.3"),
    "kaula" -> ("a=6378163.", "rf=298.24"),
    "lerch" -> ("a=6378139.", "rf=298.257"),
    "mprts" -> ("a=6397300.", "rf=191."),
    "new_intl" -> ("a=6378157.5", "b=6356772.2"),
    "plessis" -> ("a=6376523.", "b=6355863."),
    "PZ90" -> ("a=6378136.0", "rf=298.25784"),
    "SEasia" -> ("a=6378155.0", "b=6356773.3205"),
    "walbeck" -> ("a=6376896.0", "b=6355834.8467"),
    "WGS60" -> ("a=6378165.0", "rf=298.3"),
    "WGS66" -> ("a=6378145.0", "rf=298.25"),
    "WGS72" -> ("a=6378135.0", "rf=298.26"),
    "WGS84" -> ("a=6378137.0", "rf=298.257223563"),
    "sphere" -> ("a=6370997.0", "b=6370997.0")
  )
}

/** A registered coordinate operation (the analogue of a PROJ_HEAD entry in
  * reference src/pj_list.h + its constructor). The ctor runs the op's setup:
  * reads params, precomputes constants, installs the kernel and IO-unit
  * tags on P. It may throw ProjError. */
final case class OpDef(name: String, needEllps: Boolean, isProjection: Boolean,
                       ctor: PJ => Unit)

/** Linear-unit table (reference src/units.cpp:12-45). */
object Units {
  val linear: Map[String, Double] = Map(
    "km" -> 1000.0, "m" -> 1.0, "dm" -> 0.1, "cm" -> 0.01, "mm" -> 0.001,
    "kmi" -> 1852.0, "in" -> 0.0254, "ft" -> 0.3048, "yd" -> 0.9144,
    "mi" -> 1609.344, "fath" -> 1.8288, "ch" -> 20.1168, "link" -> 0.201168,
    "us-in" -> 100 / 3937.0, "us-ft" -> 1200 / 3937.0, "us-yd" -> 3600 / 3937.0,
    "us-ch" -> 79200 / 3937.0, "us-mi" -> 6336000 / 3937.0,
    "ind-yd" -> 0.91439523, "ind-ft" -> 0.30479841, "ind-ch" -> 20.11669506
  )
  val angular: Map[String, Double] = Map(
    "rad" -> 1.0, "deg" -> GeoMath.DEG2RAD, "grad" -> 0.015707963267948967
  )

  /** to_meter strings may be "x" or "x/y" ratios. */
  def parseToMeter(s: String): Double = {
    val slash = s.indexOf('/')
    if (slash < 0) NumParse.atof(s)
    else {
      val num = NumParse.atof(s.substring(0, slash))
      val den = NumParse.atof(s.substring(slash + 1))
      if (den == 0.0 || den.isNaN) throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, s"bad to_meter $s")
      num / den
    }
  }
}

/** Datum → ellipsoid table (reference src/datums.cpp pj_datums; the
  * towgs84/grid components apply only on the legacy cs2cs path). */
object Datums {
  val toEllps: Map[String, String] = Map(
    "WGS84" -> "WGS84", "GGRS87" -> "GRS80", "NAD83" -> "GRS80",
    "NAD27" -> "clrk66", "potsdam" -> "bessel", "carthage" -> "clrk80ign",
    "hermannskogel" -> "bessel", "militargeographische_institut" -> "bessel",
    "ire65" -> "mod_airy", "nzgd49" -> "intl", "OSGB36" -> "airy",
    "ch1903" -> "bessel")
  /** datum shift definitions for the legacy cs2cs path. */
  val toDefn: Map[String, (String, String)] = Map(
    "WGS84" -> ("towgs84", "0,0,0"),
    "GGRS87" -> ("towgs84", "-199.87,74.79,246.62"),
    "NAD83" -> ("towgs84", "0,0,0"),
    "NAD27" -> ("nadgrids", "@conus,@alaska,@ntv2_0.gsb,@ntv1_can.dat"),
    "potsdam" -> ("nadgrids", "@BETA2007.gsb"),
    "carthage" -> ("towgs84", "-263.0,6.0,431.0"),
    "hermannskogel" -> ("towgs84", "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"),
    "ire65" -> ("towgs84", "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15"),
    "nzgd49" -> ("towgs84", "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993"),
    "OSGB36" -> ("towgs84", "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"))
}

/** Prime meridian table (reference src/datums.cpp pj_prime_meridians). */
object PrimeMeridians {
  val table: Map[String, String] = Map(
    "greenwich" -> "0dE", "lisbon" -> "9d07'54.862\"W", "paris" -> "2d20'14.025\"E",
    "bogota" -> "74d04'51.3\"W", "madrid" -> "3d41'16.58\"W", "rome" -> "12d27'8.4\"E",
    "bern" -> "7d26'22.5\"E", "jakarta" -> "106d48'27.79\"E", "ferro" -> "17d40'W",
    "brussels" -> "4d22'4.71\"E", "stockholm" -> "18d3'29.8\"E", "athens" -> "23d42'58.815\"E",
    "oslo" -> "10d43'22.5\"E"
  )
}

/** proj_create: proj-string → fully-bound PJ. Runs entirely on the driver
  * (plan time); mirrors pj_init_ctx (reference src/init.cpp:436-713). */
object Proj {

  def create(projString: String): PJ = {
    val s = projString.trim
    if (graft.proj.wkt.Wkt.looksLikeWkt(s) ||
        graft.proj.wkt.ProjJson.looksLikeProjJson(s)) {
      val objDef =
        if (s.startsWith("{")) graft.proj.wkt.ProjJson.toObject(s)
        else graft.proj.wkt.WktMap.toObject(graft.proj.wkt.Wkt.parse(s))
      val body = objDef match {
        case c: graft.proj.wkt.WktCrsDef => c.projString
        case o: graft.proj.wkt.WktOpDef => o.projString
      }
      return create(ParamList.parse(body))
    }
    EpsgAliases.resolve(s) match {
      case Some(expanded) => create(ParamList.parse(expanded))
      case None => create(ParamList.parse(s))
    }
  }

  /** Legacy proj4 +init=file:key expansion (reference src/init.cpp get_init
    * :214-306): look the key up in an init file and append its parameters
    * after the explicitly given ones (explicit params win, since parameter
    * lookup takes the first occurrence). The epsg pseudo-file resolves the
    * ETRS89/UTM codes the test corpus uses via the well-known definitions
    * from the legacy proj4 epsg init table. */
  private val epsgInit: Map[String, String] = Map(
    "25832" -> "proj=utm zone=32 ellps=GRS80 towgs84=0,0,0 units=m no_defs",
    "25833" -> "proj=utm zone=33 ellps=GRS80 towgs84=0,0,0 units=m no_defs",
    "26915" -> "proj=utm zone=15 datum=NAD83 units=m no_defs",
    "3857" -> "proj=webmerc datum=WGS84 units=m no_defs")

  /** The generated EPSG init table (src/main/resources/graft/epsg, built by
    * devtools/epsg_init_gen.py from the reference's public EPSG SQL data):
    * ~7k codes in legacy init-file format, parsed once on first use. */
  private lazy val epsgGenerated: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/epsg")
    if (in == null) Map.empty
    else try {
      val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      val entry = "(?s)<([0-9]+)>(.*?)<>".r
      entry.findAllMatchIn(text).map(m =>
        m.group(1) -> m.group(2).replace('\n', ' ').trim).toMap
    } finally in.close()
  }

  /** Authority axis-order sidecar (src/main/resources/graft/epsg_axis,
    * generated from the EPSG SQL axis table): code → (first-axis
    * orientation, angular unit) for every code whose authority order or
    * unit deviates from the GIS-order init table. A lookup miss means the
    * authority order IS the GIS order. */
  lazy val epsgAxisFirst: Map[String, (String, String)] = {
    val in = getClass.getResourceAsStream("/graft/epsg_axis")
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(l => l.startsWith("#") || l.isEmpty)
        .map { l =>
          val p = l.split(" ")
          p(0) -> (p(1), p(2))
        }.toMap
    } finally in.close()
  }

  /** Generated-table lookup for the EPSG front-ends (EpsgAliases fall-
    * through, CrsToCrs generic defs): legacy init body for a code. */
  def epsgInitLookup(code: String): Option[String] =
    epsgInit.get(code).orElse(epsgGenerated.get(code))

  private def expandInit(params: ParamList): ParamList = params.s("init") match {
    case None => params
    case Some(spec) =>
      val colon = spec.indexOf(':')
      if (colon <= 0 || colon == spec.length - 1)
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, s"invalid init=$spec")
      val file = spec.substring(0, colon)
      val key = spec.substring(colon + 1)
      val body: String =
        if (file == "epsg") epsgInit.getOrElse(key, epsgGenerated.getOrElse(key,
          throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID, s"unknown epsg:$key")))
        else {
          val path = java.nio.file.Paths.get(s"${ReferenceTree.data}/$file")
          if (!java.nio.file.Files.isReadable(path))
            throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID, s"no init file $file")
          val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          // strip comments, then find "<key>" ... "<>"
          val noComments = text.linesIterator.map { l =>
            val h = l.indexOf('#'); if (h >= 0) l.substring(0, h) else l
          }.mkString("\n")
          val start = noComments.indexOf(s"<$key>")
          if (start < 0)
            throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID, s"no $key in init file $file")
          val after = start + key.length + 2
          val end = noComments.indexOf("<>", after)
          if (end < 0)
            throw ProjError(ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID, s"unterminated $key in $file")
          noComments.substring(after, end).replace('\n', ' ')
        }
      // insert right after the init token — appending at the end would leak
      // the expansion into the last step of a pipeline string
      val idx = params.entries.indexWhere(_._1 == "init")
      new ParamList(params.entries.take(idx + 1) ++ ParamList.parse(body).entries ++
        params.entries.drop(idx + 1))
  }

  def create(params0pre: ParamList): PJ = {
    val params0 = expandInit(params0pre)
    val projName = params0.s("proj").getOrElse {
      // a non-empty string with no key=value structure at all is a syntax
      // error (like proj_create on a bogus CRS string); an op definition
      // that has arguments but lacks proj= is a missing-argument error
      val anyKeyValue = params0.entries.exists(_._2.nonEmpty)
      if (params0.entries.nonEmpty && !anyKeyValue)
        throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX, "not a parseable operation definition")
      throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "missing proj= argument")
    }
    if (projName.isEmpty)
      throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "empty proj= argument")

    val opDef = OpRegistry.byName.getOrElse(projName,
      throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX, s"unknown operation: $projName"))

    // expand +datum= to its ellipsoid (reference pj_datum_set +
    // src/datums.cpp table; towgs84 shifts only matter on the cs2cs path)
    val params1 = params0.s("datum") match {
      case Some(d) =>
        val ellps = Datums.toEllps.getOrElse(d,
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, s"unknown datum $d"))
        val extra = ("ellps" -> ellps) +: Datums.toDefn.get(d).toVector
        // insert right after the datum token: appending at the end would
        // leak the expansion into the last step of a pipeline string
        val idx = params0.entries.indexWhere(_._1 == "datum")
        new ParamList(params0.entries.take(idx + 1) ++ extra ++
          params0.entries.drop(idx + 1))
      case None => params0
    }

    // append default ellps=GRS80 unless inhibited (src/init.cpp append_default_ellipsoid_to_paralist)
    val params = {
      val inhibit = params1.has("no_defs") || projName == "pipeline" ||
        params1.has("datum") || params1.has("ellps") || params1.has("a") ||
        params1.has("b") || params1.has("rf") || params1.has("f") ||
        params1.has("e") || params1.has("es") || params1.has("R")
      if (inhibit) params1
      else new ParamList(params1.entries :+ ("ellps" -> "GRS80"))
    }

    val P = new PJ(params, projName)
    P.needEllps = opDef.needEllps

    // --- ellipsoid (pj_ellipsoid, src/ell_set.cpp) ---
    var ellpsOk = true
    try setupEllipsoid(P)
    catch {
      case ProjError(ProjErr.INVALID_OP_MISSING_ARG, _) => ellpsOk = false
      case e: ProjError => throw e
    }
    if (!ellpsOk) {
      if (P.needEllps)
        throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "must specify ellipsoid or sphere")
      // free WGS84
      P.f = 1.0 / 298.257223563
      P.a = 6378137.0
      P.es = P.f * (2 - P.f)
      P.b = 0; P.e = 0
      P.calcEllipsoidParams(P.a, P.es)
    }
    P.aOrig = P.a
    P.esOrig = P.es

    // --- common params (src/init.cpp:600-780) ---
    P.geoc = P.es != 0.0 && params.b("geoc")
    P.over = params.b("over")
    P.isLongWrapSet = params.has("lon_wrap")
    if (P.isLongWrapSet) {
      P.longWrapCenter = params.r("lon_wrap")
      if (!(math.abs(P.longWrapCenter) < 10 * GeoMath.TWOPI))
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid lon_wrap")
    }
    params.s("axis").foreach { ax =>
      val legal = "ewnsud"
      if (ax.length != 3 || !ax.forall(legal.contains(_)))
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid axis")
      P.axis = ax
    }
    P.lam0 = params.r("lon_0")
    P.phi0 = params.r("lat_0")
    if (math.abs(P.phi0) > GeoMath.HALFPI)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "|lat_0| should be <= 90")
    P.x0 = params.d("x_0")
    P.y0 = params.d("y_0")
    P.z0 = params.d("z_0")
    P.t0 = params.d("t_0")
    P.k0 =
      if (params.has("k_0")) params.d("k_0")
      else if (params.has("k")) params.d("k")
      else 1.0
    if (P.k0 <= 0.0)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "k/k_0 should be > 0")

    // units
    def resolveToMeter(unitKey: String, toMeterKey: String): Option[Double] = {
      params.s(unitKey) match {
        case Some(u) =>
          Some(Units.linear.getOrElse(u,
            throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, s"invalid $unitKey")))
        case None => params.s(toMeterKey).map(Units.parseToMeter)
      }
    }
    resolveToMeter("units", "to_meter") match {
      case Some(tm) =>
        if (tm <= 0.0) throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid to_meter")
        P.toMeter = tm; P.frMeter = 1 / tm
      case None => P.toMeter = 1.0; P.frMeter = 1.0
    }
    resolveToMeter("vunits", "vto_meter") match {
      case Some(tm) =>
        if (tm <= 0.0) throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid vto_meter")
        P.vtoMeter = tm; P.vfrMeter = 1 / tm
      case None => P.vtoMeter = P.toMeter; P.vfrMeter = P.frMeter
    }

    // prime meridian
    params.s("pm").foreach { name =>
      val vstr = PrimeMeridians.table.getOrElse(name, name)
      val v = Dms.parse(vstr)
      if (v.isNaN)
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid pm")
      P.fromGreenwich = v
    }

    // --- default IO-unit tags for projections (PROJECTION macro,
    //     src/proj_internal.h:881-883) ---
    if (opDef.isProjection) {
      P.left = IOUnits.RADIANS
      P.right = IOUnits.CLASSIC
    }

    // --- op-specific setup ---
    opDef.ctor(P)

    // +axis sub-op (reference src/init.cpp end + fwd/inv finalize use)
    if (P.axis != "enu" && projName != "axisswap") {
      val sub = create(s"proj=axisswap axis=${P.axis}")
      sub.skipFwdPrepare = true; sub.skipFwdFinalize = true
      sub.skipInvPrepare = true; sub.skipInvFinalize = true
      P.axisswapSub = sub
    }
    cs2csEmulationSetup(P)
    P
  }

  /** Legacy cs2cs emulation (reference src/create.cpp cs2cs_emulation_setup
    * :49-200): +geoidgrids/+nadgrids/+towgs84 make a lone CRS-style op act
    * as the transformation from the WGS84 hub, via sub-operations applied in
    * the fwd prepare / inv finalize steps. */
  private def cs2csEmulationSetup(P: PJ): Unit = {
    val params = P.params
    if (params.has("break_cs2cs_recursion")) return

    def sub(defn: Vector[(String, String)]): PJ = {
      val q = create(new ParamList(("break_cs2cs_recursion" -> "") +: defn))
      q.skipFwdPrepare = true; q.skipFwdFinalize = true
      q.skipInvPrepare = true; q.skipInvFinalize = true
      q
    }

    params.s("geoidgrids").filter(_.nonEmpty).foreach { names =>
      P.emuVgrid = sub(Vector("proj" -> "vgridshift", "grids" -> names))
    }
    params.s("nadgrids").filter(_.nonEmpty).foreach { names =>
      P.emuHgrid = sub(Vector("proj" -> "hgridshift", "grids" -> names))
    }
    if (P.emuHgrid == null) {
      params.s("towgs84").foreach { tw =>
        val d = tw.split(",").map(v => { val x = NumParse.atof(v); if (x.isNaN) 0.0 else x })
          .padTo(7, 0.0)
        if (d.forall(_ == 0.0)) {
          // null shift: only the change of ellipsoid matters, if any
          if (!(math.abs(P.a - 6378137.0) < 1e-8 &&
              math.abs(P.es - 0.0066943799901413) < 1e-15)) {
            P.emuCart = sub(Vector("proj" -> "cart",
              "a" -> P.a.toString, "es" -> P.es.toString))
            P.emuCartWgs84 = sub(Vector("proj" -> "cart", "ellps" -> "WGS84"))
          }
        } else {
          P.emuHelmert = sub(Vector("proj" -> "helmert", "exact" -> "",
            "towgs84" -> tw, "convention" -> "position_vector"))
          P.emuCart = sub(Vector("proj" -> "cart",
            "a" -> P.a.toString, "es" -> P.es.toString))
          P.emuCartWgs84 = sub(Vector("proj" -> "cart", "ellps" -> "WGS84"))
        }
      }
    }
  }

  /** pj_ellipsoid (reference src/ell_set.cpp:21-135). */
  private def setupEllipsoid(P: PJ): Unit = {
    val params = P.params
    // R overrules everything
    if (params.has("R")) {
      ellpsSize(P)
      P.calcEllipsoidParams(P.a, 0)
      return
    }
    // ellps=xxx table lookup provides defaults
    params.s("ellps").foreach { name =>
      if (name.isEmpty)
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid ellps")
      val (major, shape) = Ellipsoids.table.getOrElse(name,
        throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, s"unrecognized ellps $name"))
      val tmp = ParamList.parse(s"$major $shape")
      ellpsSizeFrom(P, tmp)
      ellpsShapeFrom(P, tmp)
    }
    // explicit size/shape override table values
    ellpsSize(P, required = !params.has("ellps"))
    ellpsShapeFrom(P, params)
    // derive b and validate f BEFORE spherification, like the reference
    // (pj_ellipsoid calls pj_calc_ellipsoid_params before spherification,
    // so R_a/R_g/R_h see the true semiminor axis)
    P.calcEllipsoidParams(P.a, P.es)
    ellpsSpherification(P)
  }

  private def ellpsSize(P: PJ, required: Boolean = true): Unit =
    ellpsSizeFrom(P, P.params, required)

  private def ellpsSizeFrom(P: PJ, params: ParamList, required: Boolean = true): Unit = {
    val aWasSet = P.a != 0
    val key = if (params.has("R")) Some("R") else if (params.has("a")) Some("a") else None
    key match {
      case None =>
        if (aWasSet) return
        throw ProjError(ProjErr.INVALID_OP_MISSING_ARG, "major axis not given")
      case Some(k) =>
        P.a = params.d(k)
        if (!(P.a > 0) || P.a == Double.PositiveInfinity)
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid major axis")
        if (k == "R") { P.es = 0; P.f = 0; P.e = 0; P.rf = 0; P.b = P.a }
    }
  }

  private def ellpsShapeFrom(P: PJ, params: ParamList): Unit = {
    val keys = Seq("rf", "f", "es", "e", "b")
    val found = keys.find(params.has)
    found match {
      case None => // keep shape selected by ellps, or sphere
        if (P.es == 0) { P.f = 0; P.b = P.a }
        return
      case Some(k) =>
        P.es = 0; P.f = 0; P.b = 0; P.e = 0; P.rf = 0
        k match {
          case "rf" =>
            P.rf = params.d("rf")
            if (!(P.rf > 0))
              throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "rf should be > 0")
            P.f = 1 / P.rf
            P.es = 2 * P.f - P.f * P.f
          case "f" =>
            P.f = params.d("f")
            if (P.f < 0 || P.f.isNaN)
              throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "f should be >= 0")
            P.rf = if (P.f != 0.0) 1.0 / P.f else Double.PositiveInfinity
            P.es = 2 * P.f - P.f * P.f
          case "es" =>
            P.es = params.d("es")
            if (P.es < 0 || P.es >= 1)
              throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "es should be in [0,1[")
          case "e" =>
            P.e = params.d("e")
            if (P.e < 0 || P.e >= 1)
              throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "e should be in [0,1[")
            P.es = P.e * P.e
          case "b" =>
            P.b = params.d("b")
            if (!(P.b > 0))
              throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "b should be > 0")
            if (P.b != P.a) {
              P.f = (P.a - P.b) / P.a
              P.es = 2 * P.f - P.f * P.f
            }
        }
        if (!(P.es >= 0))
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid eccentricity")
    }
  }

  /** reference src/ell_set.cpp:356-470 */
  private def ellpsSpherification(P: PJ): Unit = {
    val SIXTH = 1 / 6.0; val RA4 = 17 / 360.0; val RA6 = 67 / 3024.0
    val RV4 = 5 / 72.0; val RV6 = 55 / 1296.0
    val keys = Seq("R_A", "R_V", "R_a", "R_g", "R_h", "R_lat_a", "R_lat_g", "R_C")
    val idx = keys.indexWhere(P.params.has)
    if (idx < 0) return
    idx match {
      case 0 => P.a *= 1.0 - P.es * (SIXTH + P.es * (RA4 + P.es * RA6))
      case 1 => P.a *= 1.0 - P.es * (SIXTH + P.es * (RV4 + P.es * RV6))
      case 2 => P.a = (P.a + P.b) / 2
      case 3 => P.a = math.sqrt(P.a * P.b)
      case 4 =>
        if (P.a + P.b == 0)
          throw ProjError(ProjErr.COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN, "R_h with a+b=0")
        P.a = (2 * P.a * P.b) / (P.a + P.b)
      case 5 | 6 =>
        val tRaw = Dms.parse(P.params.s(keys(idx)).getOrElse("0"))
        if (math.abs(tRaw) > GeoMath.HALFPI)
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "|lat| should be <= 90")
        var t = math.sin(tRaw)
        t = 1 - P.es * t * t
        if (t == 0.0)
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid eccentricity")
        if (idx == 5) P.a *= (1.0 - P.es + t) / (2 * t * math.sqrt(t))
        else P.a *= math.sqrt(1 - P.es) / t
      case 7 =>
        // R_C uses phi0 as it stands at ellipsoid-setup time (matches the
        // reference init order where pj_ellipsoid runs before lat_0 is read)
        var t = math.sin(P.phi0)
        t = 1 - P.es * t * t
        if (t == 0.0)
          throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid eccentricity")
        P.a *= math.sqrt(1 - P.es) / t
    }
    if (P.a <= 0.0)
      throw ProjError(ProjErr.INVALID_OP_ILLEGAL_ARG_VALUE, "invalid major axis")
    P.es = 0; P.e = 0; P.f = 0
    P.rf = Double.PositiveInfinity
    P.b = P.a
    P.calcEllipsoidParams(P.a, 0)
  }
}
