package graft

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins what the external driver reads: the query names in
  * `SparkEntry.queries`, every oracle SQL string byte for byte, and the
  * oracle_sql.json Verify writes. A deliberate contract change updates the
  * pins here in the same change. */
class DriverContractSpec extends AnyFunSuite {
  private val names = Set(
    "ann_brute", "ann_index", "ann_ivf", "ann_lsh", "dedup_clusters",
    "dedup_embedding", "dedup_exact", "dedup_keep", "dedup_minhash",
    "dedup_simhash", "doc_fingerprint", "docs_spans", "geo_datum_shift",
    "geo_dispatch", "geo_epsg", "geo_geodesic_meridian", "geo_geoid",
    "geo_global_hex", "geo_gridshift", "geo_hex_knn", "geo_hexbin",
    "geo_hot_salted", "geo_knn", "geo_knn_geodesic", "geo_pip",
    "geo_range_partition", "geo_registry", "geo_s2_cells", "geo_tile",
    "geo_tile_agg", "geo_tile_qa", "geo_trans_bounds", "geo_utm_native",
    "geo_utm_zone", "geo_waypoints", "geo_webmerc", "lang_id", "media_features",
    "media_frames", "media_jpeg", "media_jpeg_prog", "media_pixels", "media_resize",
    "media_samples", "pii_scrub", "q1_agg", "q3_join", "q_anti", "q_asof",
    "q_events", "q_mixture", "q_sessions", "q_snapshot_compact", "q_stream_dedup",
    "q_stream_window", "q_window", "text_chunks", "text_decontam", "text_metrics",
    "text_tokens", "zone_area")

  /** SHA-256 over the name-sorted pairs, each name and SQL string in UTF-8
    * followed by a zero byte. */
  private def digest(oracles: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for ((name, sql) <- oracles.toSeq.sortBy(_._1); part <- Seq(name, sql)) {
      md.update(part.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("the driver sees the same 61 query names") {
    assert(SparkEntry.queries.keySet == names)
  }

  test("every oracle SQL string is unchanged") {
    assert(SparkEntry.oracleSql.keySet == names)
    assert(digest(SparkEntry.oracleSql) ==
      "6ec5778a020617dcd28425f0e6c1d3011bc4cf8b8186bc723cb4198341acb34a")
  }

  test("Verify's oracle_sql.json parses back to exactly oracleSql") {
    val dir = java.nio.file.Files.createTempDirectory("oracle-sql")
    val json = dir.resolve("oracle_sql.json")
    try {
      Verify.writeOracleSql(json)
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json.toFile, classOf[java.util.Map[String, String]])
      assert(parsed.asScala.toMap == SparkEntry.oracleSql)
    } finally {
      java.nio.file.Files.deleteIfExists(json)
      java.nio.file.Files.delete(dir)
    }
  }
}
