package graft.proj

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Coord

/** The registry-grade CRS→CRS planner (CrsToCrs.pipelineRegistry over the
  * generated EPSG coordinate-operation sidecar), pinned against values the
  * reference's own CLI corpus establishes:
  *
  *  - NTF→RGF93 through the ntf_r93.gsb horizontal grid
  *    (test_cs2cs_datumfile #6's independent expectations),
  *  - the EPSG Guidance Note 7.2 similarity-transformation example
  *    (test_cs2cs_various #135/#136),
  *  - compound-code resolution with a ballpark vertical fallback.
  */
class CrsRegistrySpec extends AnyFunSuite {

  private def trans(pipe: String, x: Double, y: Double): (Double, Double) = {
    val p = Proj.create(pipe)
    val c = new Coord
    c.set(x, y, 0.0, Double.PositiveInfinity)
    Dispatch.fwd4d(p, c)
    (c.x, c.y)
  }

  test("NTF to RGF93 picks the horizontal grid operation") {
    ReferenceFiles("data/tests/ntf_r93.gsb") // the grid the operation needs
    val pipe = CrsToCrs.pipelineRegistry("NTF", "RGF93")
      .getOrElse(fail("NTF->RGF93 did not resolve"))
    assert(pipe.contains("hgridshift"))
    // reference test_cs2cs_datumfile #6: ntf_r93.gsb at (-5.5, 52.0)
    val (lon, lat) = trans(pipe, -5.5, 52.0)
    assert(math.abs(lon - -5.501106465528) < 1e-10, s"lon=$lon")
    assert(math.abs(lat - 51.999890470284) < 1e-10, s"lat=$lat")
  }

  test("ED50/UTM31 to ETRS89/UTM31 similarity (EPSG GN 7.2 example)") {
    val pipe = CrsToCrs.pipelineRegistry("EPSG:23031", "EPSG:25831")
      .getOrElse(fail("23031->25831 did not resolve"))
    val (x, y) = trans(pipe, 300000.0, 4500000.0)
    assert(math.abs(x - 299905.060) < 5e-4, s"x=$x")
    assert(math.abs(y - 4499796.515) < 5e-4, s"y=$y")
    // inverse direction round-trips through the inverted single-step pipeline
    val back = CrsToCrs.pipelineRegistry("EPSG:25831", "EPSG:23031")
      .getOrElse(fail("25831->23031 did not resolve"))
    val (x2, y2) = trans(back, x, y)
    assert(math.abs(x2 - 300000.0) < 5e-4 && math.abs(y2 - 4500000.0) < 5e-4)
  }

  test("compound code resolves with a ballpark vertical fallback") {
    // EGM96's grid is not shipped locally: the planner still resolves the
    // compound pair, horizontally exact, vertical passthrough
    val pipe = CrsToCrs.pipelineRegistry("EPSG:4326+5773", "EPSG:4979")
      .getOrElse(fail("compound pair did not resolve"))
    val (lon, lat) = trans(pipe, 2.25, 48.85)
    assert(math.abs(lon - 2.25) < 1e-12 && math.abs(lat - 48.85) < 1e-12)
  }

  test("compound vertical leg applies the geoid grid when it resolves") {
    // map the op's grid names onto the locally-shipped downsampled EGM96
    // grid, then check the registry pipeline against a direct vgridshift
    // with the same grid: the vertical leg must be h = H + N (orthometric
    // up to ellipsoidal), applied at the same position
    import graft.proj.ops.GridShiftOps
    val bytes = java.nio.file.Files.readAllBytes(
      ReferenceFiles("data/tests/egm96_15_downsampled.gtx"))
    val src = new GridShiftOps.GridSource {
      def fetch(name: String): Option[Array[Byte]] =
        if (name == "egm96_15.gtx" || name == "us_nga_egm96_15.tif")
          Some(bytes) else None
    }
    GridShiftOps.withGridSource("crsRegistrySpec-egm96", src) {
      val pipe = CrsToCrs.pipelineRegistry("EPSG:4326+5773", "EPSG:4979")
        .getOrElse(fail("compound pair did not resolve"))
      assert(pipe.contains("vgridshift"), pipe)
      val p = Proj.create(pipe)
      val c = new Coord
      c.set(2.25, 48.85, 100.0, Double.PositiveInfinity)
      Dispatch.fwd4d(p, c)
      assert(!c.isError)
      // direct: N at the same position from the same grid
      val v = Proj.create("proj=vgridshift grids=egm96_15.gtx")
      val c2 = new Coord
      c2.set(math.toRadians(2.25), math.toRadians(48.85), 0.0,
        Double.PositiveInfinity)
      Dispatch.fwd4d(v, c2)
      // vgridshift forward is ellipsoidal->orthometric (z - N), so the
      // undulation is the negated forward shift at z=0
      val n = -c2.z
      assert(n > 5, s"geoid undulation implausible: $n") // Paris ~44.6 m
      assert(math.abs(c.z - (100.0 + n)) < 1e-9, s"z=${c.z} expected ${100.0 + n}")
      assert(math.abs(c.x - 2.25) < 1e-12 && math.abs(c.y - 48.85) < 1e-12)
    }
  }

  test("spark column function reaches the registry fallback") {
    // the init table has no compound codes; crsToCrs2 must still plan this
    val pipe = CrsToCrs.pipelineGis("EPSG:4326+5773", "EPSG:4979")
    assert(pipe.isEmpty, "init table unexpectedly grew a compound code")
    assert(CrsToCrs.pipelineRegistry("EPSG:4326+5773", "EPSG:4979").isDefined)
  }
}
