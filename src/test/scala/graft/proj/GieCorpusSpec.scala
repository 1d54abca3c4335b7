package graft.proj

import org.scalatest.funsuite.AnyFunSuite
import graft.gie.GieRunner

/** Runs every reference gie file the engine supports and requires a clean
  * sweep — the library-level correctness gate (the per-file totals are the
  * same ones GieRunner's main reports). */
class GieCorpusSpec extends AnyFunSuite {

  private val files = Seq(
    "builtins" -> 2544, "more_builtins" -> 183, "gridshift" -> 59,
    "geotiff_grids" -> 51, "tinshift" -> 15, "tinshift_gpkg" -> 14,
    "epsg_no_grid" -> 6,
    "defmodel" -> 34,
    "deformation" -> 43, "DHDN_ETRS89" -> 64, "GDA" -> 3,
    "4D-API_cs2cs-style" -> 78, "ellipsoid" -> 37, "axisswap" -> 27,
    "unitconvert" -> 16, "adams_hemi" -> 703, "adams_ws1" -> 703,
    "adams_ws2" -> 722, "guyou" -> 705, "peirce_q" -> 592, "spilhaus" -> 133)

  /** The GIGS corpus (reference test/gigs/, registered in reference
    * test/CMakeLists.txt:104-140): industry-standard EPSG-derived numeric
    * cases. The enabled set below mirrors the reference's own enable list —
    * the `.failing` files are disabled upstream as known-failing and are
    * excluded there too. `+init=epsg:` codes resolve through the generated
    * EPSG table (src/main/resources/graft/epsg). */
  private val gigsFiles = Seq(
    "5101.1-jhs" -> 177, "5101.2-jhs" -> 69, "5101.3-jhs" -> 69,
    "5101.4-jhs-etmerc" -> 69, "5102.1" -> 57, "5102.2" -> 57,
    "5103.1" -> 60, "5103.2" -> 30, "5103.3" -> 30, "5104" -> 60,
    "5105.2" -> 36, "5106" -> 69, "5107" -> 39, "5108" -> 51, "5109" -> 39,
    "5111.1" -> 105, "5112" -> 15, "5113" -> 15, "5201" -> 81, "5208" -> 42)

  for ((name, expectedOk) <- files.map { case (n, c) => (s"gie/$n", c) } ++
                             gigsFiles.map { case (n, c) => (s"gigs/$n", c) }) {
    test(s"$name.gie passes completely ($expectedOk asserts)") {
      val stats = GieRunner.runFile(ReferenceFiles(s"test/$name.gie").toString)
      val detail = stats.failures.take(3)
        .map(f => s"${f.file}:${f.lineno} ${f.msg.take(80)}").mkString("; ")
      assert(stats.ko == 0, s"failures: $detail")
      assert(stats.ok == expectedOk,
        s"assert count drifted: got ${stats.ok}, expected $expectedOk")
    }
  }
}
