package graft.proj

import org.scalatest.funsuite.AnyFunSuite
import graft.proj.grids.{Sqlite, TinshiftGpkg}

/** Minimal SQLite reader: edge cases the bundled GeoPackage fixtures don't
  * reach (interior b-tree pages from a 2001-row table at 512-byte pages,
  * a payload overflow chain from a 10KB text, NULLs, negative ints), plus
  * the GeoPackage triangulation reassembly. */
class SqliteSpec extends AnyFunSuite {

  private lazy val db = new Sqlite.Db(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("src/test/resources/sqlite_edge.db")))

  test("multi-page table scans completely in rowid order") {
    val t = db.table("t").get
    assert(t.columns == Vector("a", "b", "c", "d", "e"))
    assert(t.rows.length == 2001)
    assert(t.rows.map(_._1) == t.rows.map(_._1).sorted, "rowid order")
    val r10 = t.rows.find(_._1 == 11).get._2
    assert(r10(0) == 11L) // INTEGER PRIMARY KEY materialized from rowid
    assert(r10(1) == "row10")
    assert(r10(2) == 5.0)
    assert(r10(3).asInstanceOf[Array[Byte]].toSeq == Seq(10.toByte, 70.toByte))
    assert(r10(4) == -10L) // negative int encoding
  }

  test("payload overflow chain reassembles a 10KB text") {
    val t = db.table("t").get
    val big = t.rows.find(_._1 == 9999).get._2
    val s = big(1).asInstanceOf[String]
    assert(s.length == 10003 && s.endsWith("END"))
    assert(big(3) == null && big(4) == null) // NULL serial type
  }

  test("unknown table and non-sqlite bytes are handled") {
    assert(db.table("nope").isEmpty)
    intercept[Sqlite.SqliteError] { new Sqlite.Db(Array[Byte](1, 2, 3)) }
    intercept[Sqlite.SqliteError] {
      new Sqlite.Db(new Array[Byte](200)) // zeroed header
    }
  }

  test("GeoPackage triangulation reassembly feeds the JSON model") {
    val bytes = java.nio.file.Files.readAllBytes(
      ReferenceFiles("data/tests/tinshift_crs_implicit.gpkg"))
    val json = TinshiftGpkg.toTriangulationJson(bytes)
    assert(json.contains("\"vertices_columns\":[\"source_x\",\"source_y\",\"target_x\",\"target_y\"]"))
    assert(json.contains("\"triangles\":[[0,1,2]]"))
    // and the op built from it transforms per the gie expectation
    val pj = Proj.create("proj=tinshift file=tests/tinshift_crs_implicit.gpkg")
    val c = new graft.core.Coord
    c.set(2, 49, 0, 0)
    Dispatch.trans(pj, forward = true, c)
    assert(math.abs(c.x - 2.1) < 1e-9 && math.abs(c.y - 49.1) < 1e-9)
  }
}
