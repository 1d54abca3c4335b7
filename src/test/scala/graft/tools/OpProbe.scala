package graft.tools

import graft.proj.OpFactory

/** Dump the candidate-operation list for a CRS pair — the debugging
  * equivalent of `projinfo -s ... -t ...` over the generated EPSG sidecar.
  *
  *   Test/runMain graft.tools.OpProbe EPSG:23031 EPSG:25831 [lon lat]
  */
object OpProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: OpProbe <srcCrs> <dstCrs> [lon lat]")
    val src = OpFactory.resolve(args(0)).getOrElse(sys.error(s"cannot resolve ${args(0)}"))
    val dst = OpFactory.resolve(args(1)).getOrElse(sys.error(s"cannot resolve ${args(1)}"))
    println(s"src: ${src.code} ${src.name} kind=${src.kind} datum=${src.geod.datum} proj=${src.projBody.isDefined} vert=${src.vert.map(_.code)}")
    println(s"dst: ${dst.code} ${dst.name} kind=${dst.kind} datum=${dst.geod.datum} proj=${dst.projBody.isDefined} vert=${dst.vert.map(_.code)}")
    val cands = OpFactory.createList(src, dst, OpFactory.Options())
    println(s"${cands.length} candidates:")
    for ((c, i) <- cands.zipWithIndex) {
      println(f"[$i%2d] acc=${c.accuracy}%8.3f area=${c.pseudoArea}%10.6f ballpark=${c.ballpark} grids=${c.grids} inst=${c.instantiable}")
      println(s"     name: ${c.name}")
      println(s"     area: ${c.areaName}  boxes=${c.boxes}")
      println(s"     pipe: ${c.pipeline}")
    }
    if (args.length >= 4) {
      val rt = new graft.proj.OpRuntime(cands, false, false,
        s => System.err.println("E: " + s), s => System.err.println("D: " + s))
      val c = new graft.core.Coord
      val (lon, lat) =
        if (args.length >= 6) {
          // native coords + explicit lon/lat degrees (projected sources)
          c.set(args(2).toDouble, args(3).toDouble, 0, Double.PositiveInfinity)
          (args(4).toDouble, args(5).toDouble)
        } else {
          val lo = args(2).toDouble; val la = args(3).toDouble
          c.set(math.toRadians(lo), math.toRadians(la), 0, Double.PositiveInfinity)
          (lo, la)
        }
      val ok = rt.trans(c, lon, lat)
      println(s"trans($lon, $lat) ok=$ok -> (${c.x}, ${c.y}, ${c.z}) via ${rt.currentName}")
    }
  }
}
