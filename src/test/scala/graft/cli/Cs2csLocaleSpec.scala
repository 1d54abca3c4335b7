package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference's test_cs2cs_locale.sh — the one cs2cs shell
  * corpus with a distributed expectation file
  * (test/cli/test_cs2cs_locale_out.dist): six cs2cs -E blocks
  * (3-parameter datum approximations, grad input through EPSG:4807,
  * geocentric generation/consumption, geodetic<->geocentric latitude via
  * +geoc), compared with the script's own `diff -b` whitespace-collapsing
  * rule. The locale machinery itself needs no exercising here: number
  * formatting is C-locale by construction (CFormat). */
class Cs2csLocaleSpec extends AnyFunSuite {

  private val sep62 = "#" * 62
  private val sep61 = "#" * 61

  private def cs2cs(args: String*)(stdin: String): String = {
    val r = CliCs2cs.run(args.toSeq :+ "-E", stdin, "cs2cs", Map.empty)
    assert(r.exit == 0, r.stderr)
    r.stdout
  }

  test("test_cs2cs_locale.sh output matches the distributed expectations") {
    val sb = new StringBuilder
    def block(sep: String, header: String, out: String): Unit = {
      sb.append(sep).append('\n').append(header).append('\n').append(out)
    }

    block(sep62, "Between two 3parameter approximations on same ellipsoid",
      cs2cs("+proj=latlong", "+ellps=bessel", "+towgs84=5,0,0",
        "+to", "+proj=latlong", "+ellps=bessel", "+towgs84=1,0,0")(
        "0d00'00.000\"W 0d00'00.000\"N 0.0\n" +
          "79d00'00.000\"W 45d00'00.000\"N 0.0\n"))

    block(sep62, "Test input in grad",
      cs2cs("EPSG:4807", "EPSG:27572")("64.44444444 2.9586342556\n"))

    block(sep62, "Test geocentric x/y/z generation.",
      cs2cs("+proj=latlong", "+datum=WGS84",
        "+to", "+proj=geocent", "+datum=WGS84")(
        "0d00'00.001\"W 0d00'00.001\"N 0.0\n" +
          "0d00'00.001\"W 0d00'00.001\"N 10.0\n" +
          "79d00'00.000\"W 45d00'00.000\"N 0.0\n" +
          "45d00'00.000\"W 89d59'59.990\"N 0.0\n"))

    block(sep62, "Test geocentric x/y/z consumption.",
      cs2cs("+proj=geocent", "+datum=WGS84",
        "+to", "+proj=latlong", "+datum=WGS84")(
        "6378137.00      -0.00 0.00\n" +
          "6378147.00      -0.00 0.00\n" +
          "861996.98       -4434590.01 4487348.41\n" +
          "0.00    -0.00 6356752.31\n"))

    block(sep61, "Test conversion from geodetic latlong to geocentric latlong",
      cs2cs("+proj=latlong", "+datum=WGS84",
        "+to", "+proj=latlong", "+datum=WGS84", "+geoc")(
        "0d00'00.000\"W 0d00'00.000\"N 0.0\n" +
          "79d00'00.000\"W 45d00'00.000\"N 0.0\n" +
          "12d00'00.000\"W 45d00'00.000\"N 0.0\n" +
          "0d00'00.000\"W 90d00'00.000\"N 0.0\n"))

    block(sep61, "Test conversion from geocentric latlong to geodetic latlong",
      cs2cs("+proj=latlong", "+datum=WGS84", "+geoc",
        "+to", "+proj=latlong", "+datum=WGS84")(
        "0d00'00.000\"W 0d00'00.000\"N 0.0\n" +
          "79d00'00.000\"W 44d48'27.276\"N 0.000\n" +
          "12d00'00.000\"W 44d48'27.276\"N 0.0\n" +
          "0d00'00.000\"W 90d00'00.000\"N 0.0\n"))

    val dist = new String(java.nio.file.Files.readAllBytes(
      graft.proj.ReferenceFiles("test/cli/test_cs2cs_locale_out.dist")), "UTF-8")

    // the script compares with `diff -u -b`: whitespace runs equal
    def norm(s: String): Seq[String] = s.linesIterator
      .map(_.replaceAll("[ \t]+", " ").replaceAll(" +$", "")).toSeq
    val got = norm(sb.toString)
    val want = norm(dist)
    for (((g, w), idx) <- got.zip(want).zipWithIndex)
      assert(g == w, s"line ${idx + 1}:\n  got:  $g\n  want: $w")
    assert(got.length == want.length)
  }
}
