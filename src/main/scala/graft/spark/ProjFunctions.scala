package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal,
  RuntimeReplaceable, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.lit

import graft.core.{Coord, ProjError}
import graft.proj.{Dispatch, Factors, PJ, Proj}

/** A compiled proj-string pipeline, serialization-friendly: only the string
  * crosses the wire; the PJ (plan-time constants + kernels) is rebuilt once
  * per executor JVM and cached. The pipeline holds no per-call state: the
  * caller passes the Coord it transforms in place, so one pipeline is safe
  * to share between threads.
  */
final class ProjPipeline(val projString: String) extends Serializable {
  @transient private lazy val pj: PJ = ProjPipeline.cached(projString)

  /** In-place 4D transform; returns err (0 = ok), with HUGE_VAL poisoning
    * like proj_trans. NaN input propagates NaN (reference
    * src/trans.cpp:352-355). */
  def trans(c: Coord, forward: Boolean): Int = {
    if (c.x.isNaN || c.y.isNaN || c.z.isNaN || c.t.isNaN) {
      c.x = Double.NaN; c.y = Double.NaN; c.z = Double.NaN; c.t = Double.NaN
      return 0
    }
    Dispatch.trans(pj, forward, c)
    c.err
  }

  def angularInput(forward: Boolean): Boolean = pj.angularInput(forward)
  def angularOutput(forward: Boolean): Boolean = pj.angularOutput(forward)
  private[spark] def pjForFactors: PJ = pj
}

object ProjPipeline {
  // per-JVM cache: pipelines are plan-time values, reused across tasks
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, PJ]()
  private def cached(s: String): PJ = {
    val got = cache.get(s)
    if (got != null) got
    else cache.computeIfAbsent(s, str => Proj.create(str))
  }
}

/** The scratch of one call object (a reused result row and the Coords a
  * kernel works in): each thread that evaluates the call gets its own, so
  * a call object evaluated from two threads at once (e.g. by queries run
  * concurrently on the driver) never shares a row between them. Every plan
  * node owns its own call object (StatefulInvoke), so two columns never
  * alias one row either. Only the call ships with the plan; each JVM
  * rebuilds the scratch lazily. A consumer that buffers the returned struct
  * copies it, as Spark's UnsafeProjection reuse contract requires. */
final class CallScratch[S <: AnyRef](make: () => S) extends Serializable {
  @transient private lazy val perThread: ThreadLocal[S] = ThreadLocal.withInitial[S](() => make())

  def get: S = perThread.get()
}

/** Per-row coordinate-operation dispatch — the reference's per-point
  * alternative-operation selection (src/trans.cpp pj_get_suggested_operation)
  * compiled into a column expression. Candidates are planned ONCE on the
  * driver from the EPSG/IGNF operation database (sorted, instantiable,
  * grids resolvable); each row picks the best-accuracy candidate whose area
  * of use contains the point (smaller area breaking ties), falling back to
  * the first candidate when no extent matches (the gridless-fallback rule).
  * Only plain data ships to executors; pipelines compile lazily per JVM. */
final class RegistryDispatch(val srcSpec: String, val dstSpec: String)
    extends Serializable {
  import graft.proj.OpRuntime.CandMeta

  val (pipeStrs: Array[String], metas: Array[CandMeta],
       srcAngular: Boolean, dstAngular: Boolean,
       /** inverse legs mapping a source-CRS point to its geographic radians
         * for extent checks (reference trans.cpp projects through
         * P->cached_op_for_proj_string; CliCs2cs.runDb does the same via
         * srcBase/srcCart) — empty when the source is already lon/lat */
       srcInvStrs: Array[String]) = {
    import graft.proj.OpFactory
    val s = OpFactory.resolve(srcSpec).getOrElse(
      throw new IllegalArgumentException(s"cannot resolve $srcSpec"))
    val d = OpFactory.resolve(dstSpec).getOrElse(
      throw new IllegalArgumentException(s"cannot resolve $dstSpec"))
    // the FULL candidate list (cs2cs/OpProbe numbering); the comparator
    // skips non-instantiable candidates, matching the CLI's steady state
    // after the one-shot only-best warning
    val cands = OpFactory.createList(s, d, OpFactory.Options())
    require(cands.exists(_.instantiable),
      s"no instantiable operation $srcSpec -> $dstSpec")
    val srcInv: Array[String] =
      if (s.isLongLat) Array.empty
      else if (s.isGeocentric) Array("proj=cart " + s.geod.ellTokens)
      else s.projBody.toArray
    (cands.map(_.pipeline).toArray,
      cands.iterator.map(graft.proj.OpRuntime.metaOf).toArray,
      s.isLongLat, d.isLongLat, srcInv)
  }

  @transient lazy val pipes: Array[ProjPipeline] =
    pipeStrs.map(p => new ProjPipeline(p))
  @transient lazy val srcInvPipes: Array[ProjPipeline] =
    srcInvStrs.map(p => new ProjPipeline(p))

  /** index of the candidate serving (lonDeg, latDeg), before the runtime
    * retry/fallback protocol — OpRuntime's comparator verbatim */
  def select(lonDeg: Double, latDeg: Double): Int = {
    val i = graft.proj.OpRuntime.suggest(metas, lonDeg, latDeg, -1, -1,
      skipNonInstantiable = true)
    if (i >= 0) i else fallbackIdx
  }

  /** first gridless instantiable candidate — trans.cpp:305-345 */
  val fallbackIdx: Int = {
    var i = 0
    var r = -1
    while (i < metas.length && r < 0) {
      if (!metas(i).hasGrids && metas(i).instantiable) r = i
      i += 1
    }
    r
  }

  /** Per-row transform with the reference's retry protocol: suggest, try,
    * on failure exclude and re-suggest (≤ 2 retries), then fall back to the
    * first gridless operation regardless of extent (trans.cpp:229-345).
    * Returns the candidate index used (or fallbackIdx); `c` carries the
    * result or the error state. */
  def transRow(c: Coord, lonDeg: Double, latDeg: Double,
               saved: Coord): Int = {
    var ex0 = -1
    var ex1 = -1
    var iRetry = 0
    while (iRetry <= 2) {
      val iBest = graft.proj.OpRuntime.suggest(metas, lonDeg, latDeg,
        ex0, ex1, skipNonInstantiable = true)
      if (iBest < 0) return fallbackGridless(c)
      saved.copyFrom(c)
      pipes(iBest).trans(c, forward = true)
      if (!c.isError) return iBest
      c.copyFrom(saved)
      if (iRetry == 2) return fallbackGridless(c)
      if (iRetry == 0) ex0 = iBest else ex1 = iBest
      iRetry += 1
    }
    fallbackGridless(c)
  }

  private def fallbackGridless(c: Coord): Int = {
    if (fallbackIdx >= 0) {
      pipes(fallbackIdx).trans(c, forward = true)
      fallbackIdx
    } else {
      c.setError(graft.core.ProjErr.COORD_TRANSFM_NO_OPERATION)
      -1
    }
  }
}

/** The per-thread scratch of a stateful proj kernel: what the kernel works
  * in (its Coords, or the Factors record it fills) and its reused result
  * row, a typed SpecificInternalRow so that doubles don't box. Held by a
  * CallScratch. */
final class KernelScratch[W](val work: W, resultType: StructType) {
  val row = new SpecificInternalRow(resultType.map(_.dataType))
}

/** Invoke targets of the stateful proj kernels (built by ProjExprs). Each
  * owns its pipeline or dispatch table and a CallScratch, ships with the
  * plan as an object literal, and is equal by its plan-time inputs, so
  * equal transforms are one common subexpression. Each `eval` allocates
  * nothing per row and returns its scratch row. */
sealed trait ProjCall extends Product with Serializable {
  def resultType: StructType
  /** an equal call with its own scratch row */
  def fresh: ProjCall
}

object ProjCall {
  private[spark] def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
}

/** Row-level proj_trans (constants live in the ProjPipeline). degIO:
  * convert between degrees and the pipeline's angular IO. */
final case class ProjTransCall(projString: String, forward: Boolean, degIO: Boolean)
    extends ProjCall {
  val resultType: StructType = ProjCall.struct("x" -> DoubleType, "y" -> DoubleType,
    "z" -> DoubleType, "t" -> DoubleType, "err" -> IntegerType)
  private val pipeline = new ProjPipeline(projString)
  private val scratch = new CallScratch(() => new KernelScratch(new Coord, resultType))
  def fresh: ProjCall = copy()

  def eval(x: Double, y: Double, z: Double, t: Double): InternalRow = {
    val s = scratch.get
    val c = s.work
    var xi = x; var yi = y
    if (degIO && pipeline.angularInput(forward)) {
      xi = x * (math.Pi / 180); yi = y * (math.Pi / 180)
    }
    c.set(xi, yi, z, t)
    val err = pipeline.trans(c, forward)
    var xo = c.x; var yo = c.y
    if (degIO && pipeline.angularOutput(forward) && err == 0) {
      xo = c.x * (180 / math.Pi); yo = c.y * (180 / math.Pi)
    }
    val r = s.row
    r.setDouble(0, xo); r.setDouble(1, yo); r.setDouble(2, c.z)
    r.setDouble(3, c.t); r.setInt(4, err)
    r
  }
}

/** Row-level proj_factors: cartographic distortion characteristics
  * (reference src/factors.cpp via graft.proj.Factors). */
final case class FactorsCall(projString: String) extends ProjCall {
  val resultType: StructType = ProjCall.struct(
    "h" -> DoubleType, // meridional scale
    "k" -> DoubleType, // parallel scale
    "s" -> DoubleType, // areal scale
    "omega" -> DoubleType, // angular distortion
    "conv" -> DoubleType) // meridian convergence
  private val pipeline = new ProjPipeline(projString)
  private val scratch =
    new CallScratch(() => new KernelScratch(new Factors.ProjFactorsM, resultType))
  def fresh: ProjCall = copy()

  def eval(lonDeg: Double, latDeg: Double): InternalRow = {
    val s = scratch.get
    val r = s.row
    try {
      val f = s.work
      Factors.evalInto(pipeline.pjForFactors,
        lonDeg * (math.Pi / 180), latDeg * (math.Pi / 180), 1e-5, f)
      r.setDouble(0, f.meridionalScale); r.setDouble(1, f.parallelScale)
      r.setDouble(2, f.arealScale); r.setDouble(3, f.angularDistortion)
      r.setDouble(4, f.meridianConvergence)
    } catch {
      case _: ProjError =>
        var i = 0
        while (i < 5) { r.setDouble(i, Double.NaN); i += 1 }
    }
    r
  }
}

/** Row-level proj_trans_bounds: densified-edge bbox transformation
  * (reference src/trans_bounds.cpp via graft.proj.Factors.transBounds)
  * — the partition-pruning primitive: map a lon/lat tile extent into a
  * target CRS envelope. */
final case class TransBoundsCall(projString: String) extends ProjCall {
  val resultType: StructType = ProjCall.struct("xmin" -> DoubleType, "ymin" -> DoubleType,
    "xmax" -> DoubleType, "ymax" -> DoubleType)
  private val pipeline = new ProjPipeline(projString)
  private val scratch = new CallScratch(() => new KernelScratch(new Factors.BoundsM, resultType))
  def fresh: ProjCall = copy()

  def eval(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double): InternalRow = {
    val d = math.Pi / 180
    val s = scratch.get
    val r = s.row
    try {
      val b = s.work
      Factors.transBounds(pipeline.pjForFactors, forward = true,
        lonMin * d, latMin * d, lonMax * d, latMax * d, b)
      r.setDouble(0, b.xmin); r.setDouble(1, b.ymin)
      r.setDouble(2, b.xmax); r.setDouble(3, b.ymax)
    } catch {
      case _: ProjError =>
        var i = 0
        while (i < 4) { r.setDouble(i, Double.NaN); i += 1 }
    }
    r
  }
}

/** Per-row UTM zone dispatch: 120 precompiled pipelines (zone 1..60 ×
  * north/south), selected per row from the point's inferred zone — the
  * north-star "per-row zone inference for scattered points" wired all the
  * way to the transform (reference zone logic src/projections/tmerc.cpp:
  * 630-672). Pipelines are plan-time constants; PJs build lazily once per
  * executor JVM via the ProjPipeline cache. */
final case class UtmNativeCall(ellps: String) extends ProjCall {
  val resultType: StructType = ProjCall.struct("zone" -> IntegerType, "south" -> BooleanType,
    "x" -> DoubleType, "y" -> DoubleType)
  /** zones 1..60 north, then 1..60 south */
  @transient private lazy val pipes: Array[ProjPipeline] = Array.tabulate(120) { i =>
    new ProjPipeline(s"proj=utm zone=${i % 60 + 1}${if (i >= 60) " south" else ""} ellps=$ellps")
  }
  private val scratch = new CallScratch(() => new KernelScratch(new Coord, resultType))
  def fresh: ProjCall = copy()

  def eval(lonDeg: Double, latDeg: Double): InternalRow = {
    val zone = graft.proj.ops.TmercOps.zoneFromLonLat(lonDeg)
    val south = latDeg < 0
    val s = scratch.get
    val c = s.work
    c.set(lonDeg * (math.Pi / 180), latDeg * (math.Pi / 180), 0.0, 0.0)
    pipes(if (south) 60 + zone - 1 else zone - 1).trans(c, forward = true)
    val r = s.row
    r.setInt(0, zone); r.setBoolean(1, south)
    r.setDouble(2, c.x); r.setDouble(3, c.y)
    r
  }
}

/** Row-level registry dispatch (see RegistryDispatch). Plans the registry
  * candidates on construction (driver side), so executors deserialize plain
  * data; fresh copies share the plan. Its scratch Coords: the transformed
  * point, the point inverse-projected for extent checks, and the retry
  * protocol's saved input. */
final case class CrsDispatchCall(srcSpec: String, dstSpec: String)(
    dispatch: RegistryDispatch = new RegistryDispatch(srcSpec, dstSpec)) extends ProjCall {
  val resultType: StructType = ProjCall.struct("op" -> IntegerType, "x" -> DoubleType,
    "y" -> DoubleType, "z" -> DoubleType, "err" -> IntegerType)
  private val scratch =
    new CallScratch(() => new KernelScratch(Array.fill(3)(new Coord), resultType))
  def fresh: ProjCall = CrsDispatchCall(srcSpec, dstSpec)(dispatch)

  def eval(xIn: Double, yIn: Double): InternalRow = {
    val s = scratch.get
    val cs = s.work
    // the point in source geographic degrees, for extent checks
    var lonDeg = 0.0
    var latDeg = 0.0
    if (dispatch.srcAngular) {
      lonDeg = xIn; latDeg = yIn
    } else {
      val c2 = cs(1)
      c2.set(xIn, yIn, 0.0, Double.PositiveInfinity)
      val inv = dispatch.srcInvPipes
      var i = 0
      while (i < inv.length && !c2.isError) {
        inv(i).trans(c2, forward = false)
        i += 1
      }
      if (!c2.isError) {
        lonDeg = c2.x * (180 / math.Pi)
        latDeg = c2.y * (180 / math.Pi)
      }
    }
    val c = cs(0)
    val k = if (dispatch.srcAngular) math.Pi / 180 else 1.0
    c.set(xIn * k, yIn * k, 0.0, Double.PositiveInfinity)
    val idx = dispatch.transRow(c, lonDeg, latDeg, cs(2))
    val k2 = if (dispatch.dstAngular) 180 / math.Pi else 1.0
    val r = s.row
    if (c.isError) {
      r.setInt(0, idx); r.setDouble(1, Double.NaN); r.setDouble(2, Double.NaN)
      r.setDouble(3, Double.NaN); r.setInt(4, c.err)
    } else {
      r.setInt(0, idx); r.setDouble(1, c.x * k2); r.setDouble(2, c.y * k2)
      r.setDouble(3, c.z); r.setInt(4, 0)
    }
    r
  }
}

/** A stateful proj kernel column over double arguments (the analyzer
  * coerces others; a null argument gives null). Before optimizing, Spark
  * replaces it by an `Invoke` of `eval` on a fresh copy of `call`, so every
  * node of an analyzed plan owns its scratch row: one Column used twice
  * over different inputs (the analyzer resolves each use into its own
  * node) never has one value overwrite the other, neither in one generated
  * stage nor in a folded constant. Equal by the call's plan-time inputs
  * and the arguments, so equal transforms stay one common subexpression. */
case class StatefulInvoke(call: ProjCall, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = children.map(_ => DoubleType)
  override lazy val replacement: Expression =
    Invoke(Literal.fromObject(call.fresh), "eval", call.resultType, children,
      children.map(_ => DoubleType), returnNullable = false)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StatefulInvoke = copy(children = newChildren)
}

/** Expression-level builders of the proj kernels, shared by the Column API
  * (ProjFunctions) and the SQL surface (GraftExtensions). */
object ProjExprs {
  def projTrans(x: Expression, y: Expression, z: Expression, t: Expression,
                pipeline: String, forward: Boolean, degIO: Boolean): Expression =
    StatefulInvoke(ProjTransCall(pipeline, forward, degIO), Seq(x, y, z, t))

  def projTrans2(lon: Expression, lat: Expression, pipeline: String): Expression =
    projTrans(lon, lat, Literal(0.0), Literal(0.0), pipeline, forward = true, degIO = true)

  def crsToCrsRegistry(x: Expression, y: Expression, srcCrs: String, dstCrs: String): Expression =
    projTrans2(x, y, graft.proj.CrsToCrs.pipelineRegistry(srcCrs, dstCrs)
      .getOrElse(throw new IllegalArgumentException(
        s"crsToCrsRegistry: unsupported pair $srcCrs -> $dstCrs")))

  def crsToCrsDispatch(x: Expression, y: Expression, srcCrs: String, dstCrs: String): Expression =
    StatefulInvoke(CrsDispatchCall(srcCrs, dstCrs)(), Seq(x, y))

  def utmNative(lon: Expression, lat: Expression, ellps: String): Expression =
    StatefulInvoke(UtmNativeCall(ellps), Seq(lon, lat))

  def projFactors(lon: Expression, lat: Expression, pipeline: String): Expression =
    StatefulInvoke(FactorsCall(pipeline), Seq(lon, lat))

  def projTransBounds(lonMin: Expression, latMin: Expression, lonMax: Expression,
                      latMax: Expression, pipeline: String): Expression =
    StatefulInvoke(TransBoundsCall(pipeline), Seq(lonMin, latMin, lonMax, latMax))
}

/** Column-level API of the engine. */
object ProjFunctions {
  private def col(e: Expression): Column = org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def expr(c: Column): Expression = org.apache.spark.sql.graftbridge.Bridge.expression(c)

  /** Cartographic distortion factors (meridional/parallel/areal scale,
    * angular distortion, convergence) of a projection at lon/lat degrees. */
  def projFactors(lon: Column, lat: Column, pipeline: String): Column =
    col(ProjExprs.projFactors(expr(lon), expr(lat), pipeline))

  /** Full 4D pipeline transform. Angular IO is exposed in degrees when
    * degIO = true (the natural fit for lon/lat columns). */
  def projTrans(x: Column, y: Column, z: Column, t: Column,
                pipeline: String, forward: Boolean = true,
                degIO: Boolean = true): Column =
    col(ProjExprs.projTrans(expr(x), expr(y), expr(z), expr(t), pipeline, forward, degIO))

  /** 2D convenience: lon/lat in degrees -> struct(x, y, z, t, err). */
  def projTrans2(lon: Column, lat: Column, pipeline: String): Column =
    col(ProjExprs.projTrans2(expr(lon), expr(lat), pipeline))

  def projTransInv2(x: Column, y: Column, pipeline: String): Column =
    projTrans(x, y, lit(0.0), lit(0.0), pipeline, forward = false)

  /** cs2cs-style CRS→CRS in GIS axis order (lon,lat degrees for geographic
    * ends, x,y for projected ends): the pipeline — including any towgs84
    * datum hop through geocentric — is planned from the ~7k-code EPSG init
    * table at PLAN time and compiled once (CrsToCrs.pipelineGis). Pairs the
    * init table cannot serve (compound codes, CRS names, registry-only
    * datum routes) fall back to the coordinate-operation sidecar
    * (CrsToCrs.pipelineRegistry). */
  def crsToCrs2(x: Column, y: Column, srcCrs: String, dstCrs: String): Column =
    projTrans2(x, y, graft.proj.CrsToCrs.pipelineGis(srcCrs, dstCrs)
      .orElse(graft.proj.CrsToCrs.pipelineRegistry(srcCrs, dstCrs))
      .getOrElse(throw new IllegalArgumentException(
        s"crsToCrs2: unsupported pair $srcCrs -> $dstCrs")))

  /** Per-row registry dispatch: every row picks the best coordinate
    * operation for ITS location from the EPSG/IGNF operation database —
    * the reference's per-point proj_trans selection as a codegen'd
    * expression. struct(op, x, y, z). */
  def crsToCrsDispatch(x: Column, y: Column, srcCrs: String, dstCrs: String): Column =
    col(ProjExprs.crsToCrsDispatch(expr(x), expr(y), srcCrs, dstCrs))

  /** Registry-grade CRS→CRS: the best-accuracy instantiable coordinate
    * operation from the EPSG/IGNF operation database
    * (CrsToCrs.pipelineRegistry — grid shifts, similarity transforms,
    * compound codes, CRS names), planned once at PLAN time. */
  def crsToCrsRegistry(x: Column, y: Column, srcCrs: String, dstCrs: String): Column =
    col(ProjExprs.crsToCrsRegistry(expr(x), expr(y), srcCrs, dstCrs))

  /** Reproject a point into its own inferred UTM zone CRS (per-row zone
    * dispatch over 120 precompiled pipelines): struct(zone, south, x, y). */
  def utmNative(lon: Column, lat: Column, ellps: String = "WGS84"): Column =
    col(ProjExprs.utmNative(expr(lon), expr(lat), ellps))

  /** proj_trans_bounds: lon/lat degree extent -> target-CRS envelope
    * struct(xmin, ymin, xmax, ymax), densified-edge semantics. */
  def projTransBounds(lonMin: Column, latMin: Column,
                      lonMax: Column, latMax: Column, pipeline: String): Column =
    col(ProjExprs.projTransBounds(expr(lonMin), expr(latMin), expr(lonMax), expr(latMax),
      pipeline))
}
