package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal,
  RuntimeReplaceable, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.lit

import graft.core.Coord
import graft.proj.{Dispatch, PJ, Proj}

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

/** Row-level transform entry point (one call per row; constants live in
  * the ProjPipeline), reached from Catalyst through ProjTransCall. */
object ProjKernels {
  private val outType: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("t", DoubleType, nullable = false),
    StructField("err", IntegerType, nullable = false)))

  def resultType: StructType = outType

  /** the transform path allocates nothing per row: a typed
    * SpecificInternalRow avoids even the Double boxing an Array[Any]-backed
    * row would pay (held by CallScratch) */
  final class Scratch {
    val c = new Coord
    val row = new SpecificInternalRow(outType.map(_.dataType))
  }

  /** degIn/degOut: convert between degrees and the pipeline's angular IO. */
  def eval(p: ProjPipeline, forward: Boolean, degIO: Boolean,
           x: Double, y: Double, z: Double, t: Double,
           scratch: CallScratch[Scratch]): InternalRow = {
    val s = scratch.get
    val c = s.c
    var xi = x; var yi = y
    if (degIO && p.angularInput(forward)) {
      xi = x * (math.Pi / 180); yi = y * (math.Pi / 180)
    }
    c.set(xi, yi, z, t)
    val err = p.trans(c, forward)
    var xo = c.x; var yo = c.y
    if (degIO && p.angularOutput(forward) && err == 0) {
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
object FactorsKernels {
  private val outType: StructType = StructType(Seq(
    StructField("h", DoubleType, nullable = false), // meridional scale
    StructField("k", DoubleType, nullable = false), // parallel scale
    StructField("s", DoubleType, nullable = false), // areal scale
    StructField("omega", DoubleType, nullable = false), // angular distortion
    StructField("conv", DoubleType, nullable = false))) // meridian convergence

  def resultType: StructType = outType

  final class Scratch {
    val row = new SpecificInternalRow(outType.map(_.dataType))
    val m = new graft.proj.Factors.ProjFactorsM
  }

  def eval(p: ProjPipeline, lonDeg: Double, latDeg: Double,
           scratch: CallScratch[Scratch]): InternalRow = {
    val s = scratch.get
    val r = s.row
    try {
      val f = s.m
      graft.proj.Factors.evalInto(p.pjForFactors,
        lonDeg * (math.Pi / 180), latDeg * (math.Pi / 180), 1e-5, f)
      r.setDouble(0, f.meridionalScale); r.setDouble(1, f.parallelScale)
      r.setDouble(2, f.arealScale); r.setDouble(3, f.angularDistortion)
      r.setDouble(4, f.meridianConvergence)
    } catch {
      case _: graft.core.ProjError =>
        var i = 0
        while (i < 5) { r.setDouble(i, Double.NaN); i += 1 }
    }
    r
  }
}

/** Row-level proj_trans_bounds: densified-edge bbox transformation
  * (reference src/trans_bounds.cpp via graft.proj.Factors.transBounds) —
  * the partition-pruning primitive: map a lon/lat tile extent into a target
  * CRS envelope. */
object TransBoundsKernels {
  private val outType: StructType = StructType(Seq(
    StructField("xmin", DoubleType, nullable = false),
    StructField("ymin", DoubleType, nullable = false),
    StructField("xmax", DoubleType, nullable = false),
    StructField("ymax", DoubleType, nullable = false)))

  def resultType: StructType = outType

  final class Scratch {
    val row = new SpecificInternalRow(outType.map(_.dataType))
  }

  def eval(p: ProjPipeline, lonMin: Double, latMin: Double,
           lonMax: Double, latMax: Double,
           scratch: CallScratch[Scratch]): InternalRow = {
    val d = math.Pi / 180
    val r = scratch.get.row
    try {
      val (x0, y0, x1, y1) = graft.proj.Factors.transBounds(p.pjForFactors,
        forward = true, lonMin * d, latMin * d, lonMax * d, latMax * d)
      r.setDouble(0, x0); r.setDouble(1, y0)
      r.setDouble(2, x1); r.setDouble(3, y1)
    } catch {
      case _: graft.core.ProjError =>
        var i = 0
        while (i < 4) { r.setDouble(i, Double.NaN); i += 1 }
    }
    r
  }
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

object RegistryDispatchKernels {
  import org.apache.spark.sql.types._
  private val outType: StructType = StructType(Seq(
    StructField("op", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("err", IntegerType, nullable = false)))

  def resultType: StructType = outType

  /** the dispatch path allocates nothing per row: a typed
    * SpecificInternalRow instead of Array[Any] so doubles don't box */
  final class Scratch {
    val c = new Coord
    val c2 = new Coord
    val saved = new Coord
    val row = new SpecificInternalRow(outType.map(_.dataType))
  }

  def eval(d: RegistryDispatch, xIn: Double, yIn: Double,
           scratch: CallScratch[Scratch]): InternalRow = {
    val s = scratch.get
    // the point in source geographic degrees, for extent checks
    var lonDeg = 0.0
    var latDeg = 0.0
    if (d.srcAngular) {
      lonDeg = xIn; latDeg = yIn
    } else {
      val c2 = s.c2
      c2.set(xIn, yIn, 0.0, Double.PositiveInfinity)
      val inv = d.srcInvPipes
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
    val c = s.c
    val k = if (d.srcAngular) math.Pi / 180 else 1.0
    c.set(xIn * k, yIn * k, 0.0, Double.PositiveInfinity)
    val idx = d.transRow(c, lonDeg, latDeg, s.saved)
    val k2 = if (d.dstAngular) 180 / math.Pi else 1.0
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

/** Per-row UTM zone dispatch: 120 precompiled pipelines (zone 1..60 ×
  * north/south), selected per row from the point's inferred zone — the
  * north-star "per-row zone inference for scattered points" wired all the
  * way to the transform (reference zone logic src/projections/tmerc.cpp:
  * 630-672). Pipelines are plan-time constants; PJs build lazily once per
  * executor JVM via the ProjPipeline cache. */
final class UtmDispatch(val ellps: String) extends Serializable {
  @transient private lazy val pipes: Array[ProjPipeline] = {
    val arr = new Array[ProjPipeline](120)
    var z = 1
    while (z <= 60) {
      arr(z - 1) = new ProjPipeline(s"proj=utm zone=$z ellps=$ellps")
      arr(60 + z - 1) = new ProjPipeline(s"proj=utm zone=$z south ellps=$ellps")
      z += 1
    }
    arr
  }
  def pipe(zone: Int, south: Boolean): ProjPipeline =
    pipes(if (south) 60 + zone - 1 else zone - 1)
}

object UtmNativeKernels {
  private val outType: StructType = StructType(Seq(
    StructField("zone", IntegerType, nullable = false),
    StructField("south", BooleanType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  def resultType: StructType = outType

  final class Scratch {
    val c = new Coord
    val row = new SpecificInternalRow(outType.map(_.dataType))
  }

  def eval(d: UtmDispatch, lonDeg: Double, latDeg: Double,
           scratch: CallScratch[Scratch]): InternalRow = {
    val zone = graft.proj.ops.TmercOps.zoneFromLonLat(lonDeg)
    val south = latDeg < 0
    val s = scratch.get
    val c = s.c
    c.set(lonDeg * (math.Pi / 180), latDeg * (math.Pi / 180), 0.0, 0.0)
    d.pipe(zone, south).trans(c, forward = true)
    val r = s.row
    r.setInt(0, zone); r.setBoolean(1, south)
    r.setDouble(2, c.x); r.setDouble(3, c.y)
    r
  }
}

/** Invoke targets of the stateful proj kernels (built by ProjExprs). Each
  * owns its pipeline or dispatch table and a CallScratch, ships
  * with the plan as an object literal, and is equal by its plan-time
  * inputs, so equal transforms are one common subexpression. */
sealed trait ProjCall extends Product with Serializable {
  def resultType: StructType
  /** an equal call with its own scratch row */
  def fresh: ProjCall
}

final case class ProjTransCall(projString: String, forward: Boolean, degIO: Boolean)
    extends ProjCall {
  private val pipeline = new ProjPipeline(projString)
  private val scratch = new CallScratch(() => new ProjKernels.Scratch)
  def resultType: StructType = ProjKernels.resultType
  def fresh: ProjCall = copy()
  def eval(x: Double, y: Double, z: Double, t: Double): InternalRow =
    ProjKernels.eval(pipeline, forward, degIO, x, y, z, t, scratch)
}

final case class FactorsCall(projString: String) extends ProjCall {
  private val pipeline = new ProjPipeline(projString)
  private val scratch = new CallScratch(() => new FactorsKernels.Scratch)
  def resultType: StructType = FactorsKernels.resultType
  def fresh: ProjCall = copy()
  def eval(lonDeg: Double, latDeg: Double): InternalRow =
    FactorsKernels.eval(pipeline, lonDeg, latDeg, scratch)
}

final case class TransBoundsCall(projString: String) extends ProjCall {
  private val pipeline = new ProjPipeline(projString)
  private val scratch = new CallScratch(() => new TransBoundsKernels.Scratch)
  def resultType: StructType = TransBoundsKernels.resultType
  def fresh: ProjCall = copy()
  def eval(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double): InternalRow =
    TransBoundsKernels.eval(pipeline, lonMin, latMin, lonMax, latMax, scratch)
}

final case class UtmNativeCall(ellps: String) extends ProjCall {
  private val dispatch = new UtmDispatch(ellps)
  private val scratch = new CallScratch(() => new UtmNativeKernels.Scratch)
  def resultType: StructType = UtmNativeKernels.resultType
  def fresh: ProjCall = copy()
  def eval(lonDeg: Double, latDeg: Double): InternalRow =
    UtmNativeKernels.eval(dispatch, lonDeg, latDeg, scratch)
}

/** Plans the registry candidates on construction (driver side), so
  * executors deserialize plain data; fresh copies share the plan. */
final case class CrsDispatchCall(srcSpec: String, dstSpec: String)(
    dispatch: RegistryDispatch = new RegistryDispatch(srcSpec, dstSpec)) extends ProjCall {
  private val scratch = new CallScratch(() => new RegistryDispatchKernels.Scratch)
  def resultType: StructType = RegistryDispatchKernels.resultType
  def fresh: ProjCall = CrsDispatchCall(srcSpec, dstSpec)(dispatch)
  def eval(x: Double, y: Double): InternalRow =
    RegistryDispatchKernels.eval(dispatch, x, y, scratch)
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
