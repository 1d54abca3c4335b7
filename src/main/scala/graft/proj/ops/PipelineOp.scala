package graft.proj.ops

import graft.core.{Coord, ProjErr, ProjError}
import graft.proj._
import OpKernel._

/** Transformation pipeline manager + push/pop stack ops.
  *
  * Semantics per reference src/pipeline.cpp:110-740: steps are created from
  * step-local args followed by the pipeline's global args; `+inv` flips a
  * step; `+omit_fwd`/`+omit_inv` skip it in one direction; nested pipelines
  * are forbidden; the pipeline itself skips prepare/finalize (it is a raw
  * bit-mover); IO-units of WHATEVER steps inherit from their neighbours, and
  * adjacent unit mismatches are a setup error.
  *
  * Unlike the reference (which keeps four stacks on the shared pipeline
  * object), our push/pop stacks live on the caller's Coord, so one
  * pipeline is safe to share between threads.
  */
object PipelineOp {

  def pipeline(P: PJ): Unit = {
    val entries = P.params.entries
    // split: globals = tokens before the first "step"; each subsequent
    // "step"-delimited group is one step's local args
    val stepIdx = entries.indexWhere(_._1 == "step")
    if (stepIdx < 0)
      throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX, "pipeline: no step given")
    val globals0 = entries.take(stepIdx)
    // proj=/o_proj= before the first step is not allowed (besides proj=pipeline)
    if (globals0.exists { case (k, v) => (k == "proj" && v != "pipeline") || k == "o_proj" })
      throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX,
        "pipeline: proj= operator before first step not allowed")
    val globals = globals0.filterNot { case (k, _) => k == "proj" }
    var rest = entries.drop(stepIdx + 1)
    val stepArgs = Vector.newBuilder[Vector[(String, String)]]
    while (rest.nonEmpty) {
      val next = rest.indexWhere(_._1 == "step")
      if (next < 0) { stepArgs += rest; rest = Vector.empty }
      else { stepArgs += rest.take(next); rest = rest.drop(next + 1) }
    }
    val stepParamLists = stepArgs.result().filter(_.nonEmpty)
    if (stepParamLists.isEmpty)
      throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX, "pipeline: no step given")
    if (stepParamLists.exists(_.exists { case (k, v) => k == "proj" && v == "pipeline" }))
      throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX, "pipeline: nested pipelines not allowed")

    // pipeline's own ellipsoid from globals (or GRS80) — reference
    // pipeline.cpp set_ellipsoid
    // (P's ellipsoid was already resolved by Proj.create since pipeline
    //  inhibits the default-ellps append; re-derive defaults if none given)
    val hasEllps = globals.exists { case (k, _) =>
      Seq("ellps", "a", "b", "rf", "f", "es", "e", "R", "datum").contains(k) }
    if (!hasEllps) {
      P.f = 1.0 / 298.257222101
      P.a = 6378137.0
      P.b = 0; P.e = 0
      P.es = 2 * P.f - P.f * P.f
      P.calcEllipsoidParams(P.a, P.es)
      P.aOrig = P.a; P.esOrig = P.es
    }

    val steps: Vector[PJ] = stepParamLists.map { local =>
      val combined = local ++ globals
      val pj = Proj.create(new ParamList(combined))
      // +inv in local and global args toggles; count occurrences
      val invCount = combined.count { case (k, _) => k == "inv" }
      pj.inverted = invCount % 2 == 1
      pj
    }
    val omitFwd: Vector[Boolean] = stepParamLists.map(v => v.exists(_._1 == "omit_fwd"))
    val omitInv: Vector[Boolean] = stepParamLists.map(v => v.exists(_._1 == "omit_inv"))

    // forward path must exist for every non-omitted step
    steps.zip(omitFwd).foreach { case (q, omit) =>
      if (!omit) {
        val ok = if (q.inverted) q.hasInverse else q.hasForward
        if (!ok) throw ProjError(
          if (q.inverted) ProjErr.OTHER_NO_INVERSE_OP else ProjErr.INVALID_OP_WRONG_SYNTAX,
          s"pipeline: required direction for ${q.shortName} not available")
      }
    }
    val pipelineInvertible = steps.zip(omitInv).forall { case (q, omit) =>
      omit || (if (q.inverted) q.hasForward else q.hasInverse)
    }

    def pjLeft(pj: PJ): Int = pj.effLeft
    def pjRight(pj: PJ): Int = pj.effRight

    // IO-unit neighbour propagation (reference pipeline.cpp:578-612)
    val n = steps.length
    var i = n - 2
    while (i >= 0) {
      val pj = steps(i)
      if (pjLeft(pj) == IOUnits.WHATEVER && pjRight(pj) == IOUnits.WHATEVER) {
        val r = steps(i + 1)
        if (pjLeft(r) != pjRight(r) || pjLeft(r) != IOUnits.WHATEVER) {
          pj.left = pjLeft(r); pj.right = pjLeft(r)
        }
      }
      i -= 1
    }
    i = 1
    while (i < n) {
      val pj = steps(i)
      if (pjLeft(pj) == IOUnits.WHATEVER && pjRight(pj) == IOUnits.WHATEVER) {
        val l = steps(i - 1)
        if (pjLeft(l) != pjRight(l) || pjRight(l) != IOUnits.WHATEVER) {
          pj.left = pjRight(l); pj.right = pjRight(l)
        }
      }
      i += 1
    }
    i = 0
    while (i + 1 < n) {
      val cur = pjRight(steps(i)); val nxt = pjLeft(steps(i + 1))
      if (cur != IOUnits.WHATEVER && nxt != IOUnits.WHATEVER && cur != nxt)
        throw ProjError(ProjErr.INVALID_OP_WRONG_SYNTAX,
          s"pipeline: mismatched units between step ${i + 1} and ${i + 2}")
      i += 1
    }

    P.left = pjLeft(steps.head)
    P.right = pjRight(steps.last)
    P.skipFwdPrepare = true; P.skipFwdFinalize = true
    P.skipInvPrepare = true; P.skipInvFinalize = true

    val stepsArr = steps.toArray
    val omitF = omitFwd.toArray
    val omitI = omitInv.toArray
    val hasPushPop = stepsArr.exists(s => s.shortName == "push" || s.shortName == "pop")

    P.kernel = new OpKernel {
      val caps = FWD4 | (if (pipelineInvertible) INV4 else 0)
      override def fwd4(c: Coord): Unit = {
        if (hasPushPop) c.resetStacks()
        var i = 0
        while (i < stepsArr.length) {
          if (!omitF(i)) {
            val s = stepsArr(i)
            if (!s.inverted) Dispatch.fwd4d(s, c) else Dispatch.inv4d(s, c)
            if (c.x == Double.PositiveInfinity) return
          }
          i += 1
        }
      }
      override def inv4(c: Coord): Unit = {
        if (hasPushPop) c.resetStacks()
        var i = stepsArr.length - 1
        while (i >= 0) {
          if (!omitI(i)) {
            val s = stepsArr(i)
            if (s.inverted) Dispatch.fwd4d(s, c) else Dispatch.inv4d(s, c)
            if (c.x == Double.PositiveInfinity) return
          }
          i -= 1
        }
      }
    }
  }

  private def pushPopFlags(P: PJ): Array[Boolean] =
    Array("v_1", "v_2", "v_3", "v_4").map(P.params.has)

  /** push — save components on the per-row stacks (reference
    * src/pipeline.cpp:641-664,714-719). Its inverse is pop. */
  def push(P: PJ): Unit = {
    val flags = pushPopFlags(P)
    P.left = IOUnits.WHATEVER; P.right = IOUnits.WHATEVER
    P.kernel = new OpKernel {
      val caps = FWD4 | INV4
      override def fwd4(c: Coord): Unit = c.pushComponents(flags)
      override def inv4(c: Coord): Unit = c.popComponents(flags)
    }
  }

  /** pop — restore components from the per-row stacks (reference
    * src/pipeline.cpp:666-693,721-726). Its inverse is push. */
  def pop(P: PJ): Unit = {
    val flags = pushPopFlags(P)
    P.left = IOUnits.WHATEVER; P.right = IOUnits.WHATEVER
    P.kernel = new OpKernel {
      val caps = FWD4 | INV4
      override def fwd4(c: Coord): Unit = c.popComponents(flags)
      override def inv4(c: Coord): Unit = c.pushComponents(flags)
    }
  }
}
