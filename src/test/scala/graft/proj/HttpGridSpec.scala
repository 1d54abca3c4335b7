package graft.proj

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Coord
import graft.proj.ops.GridShiftOps

/** HttpGridSource against a local in-process HTTP server: the hgridshift
  * result through the HTTP fetch path must equal the file-source result,
  * misses must fall through to the file source, and the disk cache must
  * serve a second fetch without touching the server. */
class HttpGridSpec extends AnyFunSuite {

  /** The served grid, read from the reference tree when a server starts. */
  private val servedGrid = "data/tests/ntv2_0_downsampled.gsb"
  private lazy val gridBytes = java.nio.file.Files.readAllBytes(ReferenceFiles(servedGrid))

  private def withServer[A](f: (String, () => Int) => A): A = {
    ReferenceFiles(servedGrid)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/grids/", { exchange =>
      val name = exchange.getRequestURI.getPath.stripPrefix("/grids/")
      if (name == "http_only_ntv2.gsb") {
        hits.incrementAndGet()
        exchange.sendResponseHeaders(200, gridBytes.length.toLong)
        exchange.getResponseBody.write(gridBytes)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/grids", () => hits.get())
    finally server.stop(0)
  }

  private def shiftThrough(gridName: String): (Double, Double) = {
    val p = Proj.create(s"proj=hgridshift grids=$gridName")
    val c = new Coord
    c.set(math.toRadians(-82.0), math.toRadians(42.0), 0, 0)
    Dispatch.fwd4d(p, c)
    assert(!c.isError)
    (c.x, c.y)
  }

  test("grids fetched over HTTP shift identically to the file source") {
    ReferenceFiles(servedGrid)
    val fileResult = shiftThrough("ntv2_0_downsampled.gsb")
    withServer { (base, hits) =>
      val saved = GridShiftOps.gridSource
      try {
        GridShiftOps.gridSource =
          new GridShiftOps.HttpGridSource(base, saved)
        val httpResult = shiftThrough("http_only_ntv2.gsb")
        assert(hits() == 1)
        assert(httpResult == fileResult)
        // fall-through: a name the server 404s still resolves locally
        val fallback = shiftThrough("ntv2_0_downsampled.gsb")
        assert(fallback == fileResult)
      } finally GridShiftOps.gridSource = saved
    }
  }

  /** Range-honoring endpoint (the CDN contract networkfilemanager talks
    * to): 206 + Content-Range for ranged requests, 200 full body else. */
  private def withRangeServer[A](name: String)(f: (String, () => Int) => A): A = {
    ReferenceFiles(servedGrid)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/grids/", { exchange =>
      val path = exchange.getRequestURI.getPath.stripPrefix("/grids/")
      if (path == name) {
        hits.incrementAndGet()
        val range = Option(exchange.getRequestHeaders.getFirst("Range"))
        range match {
          case Some(r) if r.startsWith("bytes=") =>
            val Array(s, e) = r.stripPrefix("bytes=").split("-", 2)
            val start = s.toLong
            val end = math.min(e.toLong, gridBytes.length - 1L)
            val body = java.util.Arrays.copyOfRange(
              gridBytes, start.toInt, end.toInt + 1)
            exchange.getResponseHeaders.add("Content-Range",
              s"bytes $start-$end/${gridBytes.length}")
            exchange.sendResponseHeaders(206, body.length.toLong)
            exchange.getResponseBody.write(body)
          case _ =>
            exchange.sendResponseHeaders(200, gridBytes.length.toLong)
            exchange.getResponseBody.write(gridBytes)
        }
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/grids", () => hits.get())
    finally server.stop(0)
  }

  test("chunked-range reader: header probe moves one chunk, never the file") {
    withRangeServer("chunk_probe_ntv2.gsb") { (base, hits) =>
      val src = new GridShiftOps.ChunkedHttpGridSource(base,
        GridShiftOps.gridSource)
      // NTv2 header probe: 64 bytes from a 245,824-byte grid
      val hdr = src.readRange("chunk_probe_ntv2.gsb", 0L, 64).get
      assert(hdr.sameElements(gridBytes.take(64)))
      assert(src.rangeRequests.get == 1)
      assert(src.bytesFetched.get == 16 * 1024, "one 16 KiB chunk, not 245 KB")
      assert(hits() == 1)
      // a mid-file read: one more chunk (aligned), still not the file
      val mid = src.readRange("chunk_probe_ntv2.gsb", 100000L, 100).get
      assert(mid.sameElements(gridBytes.slice(100000, 100100)))
      assert(src.rangeRequests.get == 2)
      assert(src.bytesFetched.get == 32 * 1024)
      // re-reads are cache hits: zero new requests
      src.readRange("chunk_probe_ntv2.gsb", 0L, 64)
      src.readRange("chunk_probe_ntv2.gsb", 100000L, 100)
      assert(src.rangeRequests.get == 2 && hits() == 2)
    }
  }

  test("chunked-range reader consumes a whole grid with bounded bytes and reuses chunks") {
    withRangeServer("chunked_only_ntv2.gsb") { (base, hits) =>
      val saved = GridShiftOps.gridSource
      try {
        val src = new GridShiftOps.ChunkedHttpGridSource(base, saved)
        GridShiftOps.gridSource = src
        val fileResult = shiftThrough("ntv2_0_downsampled.gsb")
        val httpResult = shiftThrough("chunked_only_ntv2.gsb")
        assert(httpResult == fileResult)
        // every byte moved exactly once, 16 KiB-aligned: 16 ranged GETs
        // for the 245,824-byte grid, total fetched < size + one chunk
        val nChunks = (gridBytes.length + 16 * 1024 - 1) / (16 * 1024)
        assert(src.rangeRequests.get == nChunks, s"got ${src.rangeRequests.get}")
        assert(src.bytesFetched.get == gridBytes.length.toLong,
          "ranged chunks must sum to exactly the file size")
        // whole-file re-fetch: pure cache hits, zero new requests
        assert(src.fetch("chunked_only_ntv2.gsb").exists(_.sameElements(gridBytes)))
        assert(src.rangeRequests.get == nChunks && hits() == nChunks)
        assert(src.sizeOf("chunked_only_ntv2.gsb").contains(gridBytes.length.toLong))
        // fall-through: a 404 name still resolves locally
        assert(shiftThrough("ntv2_0_downsampled.gsb") == fileResult)
      } finally GridShiftOps.gridSource = saved
    }
  }

  test("the disk cache serves the second JVM-cold fetch without the server") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gridcache").toString
    withServer { (base, hits) =>
      val saved = GridShiftOps.gridSource
      try {
        val src = new GridShiftOps.HttpGridSource(base, saved, Some(dir))
        assert(src.fetch("http_only_ntv2.gsb").exists(_.sameElements(gridBytes)))
        assert(hits() == 1)
        // second fetch: disk cache, no new server hit
        assert(src.fetch("http_only_ntv2.gsb").exists(_.sameElements(gridBytes)))
        assert(hits() == 1)
      } finally GridShiftOps.gridSource = saved
    }
  }
}
