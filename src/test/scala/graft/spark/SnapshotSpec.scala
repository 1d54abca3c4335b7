package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SnapshotSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("commit/read/manifest round-trip with partition metrics") {
    val dir = Files.createTempDirectory("snaptest").toString + "/tbl"
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 4).as("bucket"), (col("id") * 3).as("key"))
    val id = Snapshots.commit(df, dir, "bucket", "key", "unit-test")
    assert(id == 1)
    val back = Snapshots.read(spark, dir)
    assert(back.count() == 1000)
    val m = Snapshots.manifest(dir)
    assert(m.contains("\"total_rows\": 1000"))
    assert(m.contains("\"lineage\": \"unit-test\""))
    assert(m.contains("\"partition\": \"0\""))
    // second snapshot supersedes, time-travel still reads the first
    Snapshots.commit(df.where(col("id") < 10), dir, "bucket", "key", "v2")
    assert(Snapshots.read(spark, dir).count() == 10)
    assert(Snapshots.read(spark, dir, snapshot = 1).count() == 1000)
  }

  test("resumableRun skips committed batches on restart") {
    val dir = Files.createTempDirectory("snaptest").toString + "/tbl2"
    def proc(s: Long, e: Long) = spark.range(s, e)
      .select(col("id"), (col("id") % 2).as("bucket"))
    // first run: process only 2 of 4 batches (simulated crash via until)
    val first = Snapshots.resumableRun(spark, dir, 0, 200, 100, proc, "bucket", "id")
    assert(first == Seq(1, 2))
    // restart with the full range: the 2 committed batches are skipped
    val second = Snapshots.resumableRun(spark, dir, 0, 400, 100, proc, "bucket", "id")
    assert(second == Seq(3, 4))
    assert(Snapshots.latestId(dir) == 4)
    // latest snapshot holds the final batch only; the chain holds all rows
    assert(Snapshots.read(spark, dir).count() == 100)
  }

  test("crash between snapshot data and latest-pointer swap is recoverable") {
    val dir = Files.createTempDirectory("snaptest").toString + "/tbl3"
    def proc(s: Long, e: Long) = spark.range(s, e)
      .select(col("id"), (col("id") % 2).as("bucket"))
    Snapshots.resumableRun(spark, dir, 0, 100, 100, proc, "bucket", "id",
      context = "docs-seed=42")
    assert(Snapshots.latestId(dir) == 1)
    assert(Snapshots.manifest(dir).contains("docs-seed=42"),
      "generator seed recorded in manifest lineage")
    // simulate a crash AFTER snapshot-000002 data+manifest landed but BEFORE
    // the latest pointer swapped: write the orphan artifacts directly
    proc(100, 200).write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/snapshot-000002")
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest-000002.json"),
      "{\"snapshot\": 2, \"lineage\": \"orphan\"}")
    // readers still see the committed snapshot only
    assert(Snapshots.latestId(dir) == 1)
    assert(Snapshots.read(spark, dir).count() == 100)
    // restart reclaims the orphan id and converges
    val redone = Snapshots.resumableRun(spark, dir, 0, 200, 100, proc, "bucket", "id")
    assert(redone == Seq(2))
    assert(Snapshots.latestId(dir) == 2)
    assert(Snapshots.read(spark, dir).count() == 100)
    assert(!Snapshots.manifest(dir).contains("orphan"), "orphan manifest reclaimed")
    // no stray tmp files from the atomic writes
    val tmps = Files.list(java.nio.file.Paths.get(dir)).iterator()
    var found = false
    while (tmps.hasNext) if (tmps.next().toString.endsWith(".tmp")) found = true
    assert(!found)
  }

  test("a manifest whose context has quotes, backslashes and control characters parses") {
    val dir = Files.createTempDirectory("snaptest").toString + "/tbl4"
    val context = "a\n\tb\u0001\"\\"
    def proc(s: Long, e: Long) = spark.range(s, e)
      .select(col("id"), (col("id") % 2).as("bucket"))
    Snapshots.resumableRun(spark, dir, 0, 100, 100, proc, "bucket", "id", context = context)
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Snapshots.manifest(dir))
    assert(m.get("lineage").asText == s"batch 0: ids [0, 100) of [0, 100); $context")
    assert(m.get("total_rows").asLong == 100L)
    assert(m.get("partitions").size == 2)
    assert(m.get("schema").get("type").asText == "struct")
  }

  test("compact bin-packs a fragmented snapshot without changing rows") {
    val dir = Files.createTempDirectory("snapcompact").toString + "/tbl"
    // a deliberately fragmented commit: 16 shuffle files per partition dir
    val df = spark.range(0, 4000)
      .select(col("id"), (col("id") % 4).as("bucket"), (col("id") * 3).as("key"))
      .repartition(16)
    val id1 = Snapshots.commit(df, dir, "bucket", "key", "fragmented")
    val before = Snapshots.dataFileCount(dir, id1)
    assert(before >= 16, s"expected fragmentation, got $before files")

    val id2 = Snapshots.compact(spark, dir, targetBytes = 1L << 30)
    assert(id2 == id1 + 1)
    val after = Snapshots.dataFileCount(dir, id2)
    assert(after < before, s"compaction did not shrink: $before -> $after")

    // rows identical, old snapshot still time-travelable
    val a = Snapshots.read(spark, dir, id1).select("id", "bucket", "key")
      .orderBy("id").collect().toSeq
    val b = Snapshots.read(spark, dir, id2).select("id", "bucket", "key")
      .orderBy("id").collect().toSeq
    assert(a == b)
    assert(Snapshots.manifest(dir, id2).contains("compaction of snapshot"))
  }

  test("multimodal plumbing: fetch -> decode -> frame sampling") {
    val docs = DocsTable.docs(spark, 300)
    val media = MultimodalOps.fetchMedia(docs)
    assert(media.count() > 0)
    assert(media.schema("payload").dataType.typeName == "binary")
    val decoded = MultimodalOps.decodeAndFeaturize(media)
    val rows = decoded.collect()
    assert(rows.nonEmpty)
    // deterministic: same input -> same features
    val again = MultimodalOps.decodeAndFeaturize(media).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // features are unit-norm
    val f = rows.head.getAs[scala.collection.Seq[Float]]("feature")
    assert(math.abs(f.map(x => x * x).sum - 1.0) < 1e-4)
    val frames = MultimodalOps.sampleFrames(decoded)
    if (frames.count() > 0)
      assert(frames.select(max("frame_idx")).head().getInt(0) < 8)
  }
}
