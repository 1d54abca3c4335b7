package graft.tools

import graft.proj.ReferenceFiles
import graft.proj.grids.GenericGrids
import graft.proj.ops.GridShiftOps

/** Dev tool: dump grid headers + node values over an index window, for
  * building the driver-side DuckDB oracles (VALUES tables mirroring the
  * bilinear interpolation inputs of geo_gridshift / geo_geoid). Values are
  * printed via Double.toString (round-trip exact), so the SQL literal parses
  * to the identical double the kernel uses.
  */
object GridDump {
  private val R2D = 180.0 / math.Pi

  def main(args: Array[String]): Unit = {
    // --- NADCON5 conus extract (gridshift oracle window) ---
    val bytes = java.nio.file.Files.readAllBytes(
      ReferenceFiles("data/tests/us_noaa_nadcon5_nad83_2007_nad83_2011_conus_extract.tif"))
    val g = GenericGrids.open(bytes, "nadcon5").head
    println(f"TIF west=${g.west * R2D}%.17g south=${g.south * R2D}%.17g " +
      f"resX=${g.resX * R2D}%.17g resY=${g.resY * R2D}%.17g w=${g.width} h=${g.height} spp=${g.samplesPerPixel}")
    for (s <- 0 until g.samplesPerPixel)
      println(s"  sample $s: desc='${g.description(s)}' unit='${g.unit(s)}'")
    // window covering lon [-95.5, -95.4208], lat [36.92, 37.0622]
    val lonMin = -95.5; val lonMax = -95.4208; val latMin = 36.92; val latMax = 37.0622
    val ix0 = math.floor((lonMin.toRadians - g.west) / g.resX).toInt
    val ix1 = math.floor((lonMax.toRadians - g.west) / g.resX).toInt + 1
    val iy0 = math.floor((latMin.toRadians - g.south) / g.resY).toInt
    val iy1 = math.floor((latMax.toRadians - g.south) / g.resY).toInt + 1
    println(s"TIF window ix=[$ix0,$ix1] iy=[$iy0,$iy1]")
    for (iy <- iy0 to iy1; ix <- ix0 to ix1) {
      val vlat = g.valueAt(ix, iy, 0).toDouble // sample order printed above
      val vlon = g.valueAt(ix, iy, 1).toDouble
      println(s"TIFNODE\t$ix\t$iy\t$vlat\t$vlon")
    }

    // --- EGM96 downsampled GTX (geoid oracle window) ---
    val gtxBytes = java.nio.file.Files.readAllBytes(
      ReferenceFiles("data/tests/egm96_15_downsampled.gtx"))
    val v = new GridShiftOps.GtxGrid(gtxBytes)
    println(f"GTX west=${v.west * R2D}%.17g south=${v.south * R2D}%.17g " +
      f"resX=${v.resX * R2D}%.17g resY=${v.resY * R2D}%.17g w=${v.width} h=${v.height}")
    val glonMin = 5.0; val glonMax = 7.0; val glatMin = 45.0; val glatMax = 47.0
    val jx0 = math.floor((glonMin.toRadians - v.west) / v.resX).toInt
    val jx1 = math.floor((glonMax.toRadians - v.west) / v.resX).toInt + 1
    val jy0 = math.floor((glatMin.toRadians - v.south) / v.resY).toInt
    val jy1 = math.floor((glatMax.toRadians - v.south) / v.resY).toInt + 1
    println(s"GTX window ix=[$jx0,$jx1] iy=[$jy0,$jy1]")
    for (iy <- jy0 to jy1; ix <- jx0 to jx1)
      println(s"GTXNODE\t$ix\t$iy\t${v.valueAt(ix, iy).toDouble}")
  }
}
