package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted LSH index: must reproduce the in-memory annLshShared rows
  * exactly, prune partitions (not scan the whole index), and round-trip
  * its build parameters. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val corpus = {
    val rnd = new scala.util.Random(5)
    (0 until 400).map { i =>
      (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private val path = java.nio.file.Files
    .createTempDirectory("graft-ann-idx").toString + "/idx"

  /** one shared build; tests stay order-independent. */
  private lazy val built: Unit = AnnIndex.build(corpus, path, planes = 6, tables = 8)

  test("persisted index reproduces annLshShared rows exactly") {
    built
    val q = corpus.where(col("vec_id") < 6)
    val fromIndex = AnnIndex.query(spark, path, q, k = 4)
      .as[(Long, Long, Long, Int)].collect().toSet
    val inMemory = TrainingOps.annLshShared(q, corpus, k = 4,
      planes = 6, tables = 8)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(fromIndex == inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("query scan carries static partition filters (pruned, not full)") {
    built
    val q = corpus.where(col("vec_id") === 3)
    val df = AnnIndex.query(spark, path, q, k = 2)
    // sparkPlan, not executedPlan: AQE wraps scans in query stages
    val plan = df.queryExecution.sparkPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no partition filters in:\n$plan")
    // 1 query x 8 tables -> at most 8 (tbl, bucket) partitions touched
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("idx")) => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount <= 8,
      s"expected <= 8 partitions, scanned ${scans.head.selectedPartitions.partitionCount}")
  }

  test("over-guard batches take the distributed path with identical rows") {
    built
    val q = corpus.where(col("vec_id") < 6)
    // disable auto-broadcast so the plan shows what the fallback FORCES
    // (at real scale the optimizer's size estimate does this by itself)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      // 6 queries x 8 tables = 48 hashed rows > guard of 8: forces the
      // distributed fallback (no driver collect of the batch)
      val fallback = AnnIndex.query(spark, path, q, k = 4, maxBroadcastRows = 8)
      val broadcastPath = AnnIndex.query(spark, path, q, k = 4)
      assert(fallback.as[(Long, Long, Long, Int)].collect().toSet ==
        broadcastPath.as[(Long, Long, Long, Int)].collect().toSet)
      // static partition pruning survives: the bucket set is still collected
      // (bounded by tables x 2^planes), so the index scan carries filters
      val plan = fallback.queryExecution.sparkPlan.toString
      assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
        s"no partition filters in fallback plan:\n$plan")
      // and the query side is NOT broadcast (it stays distributed); the
      // under-guard path still is (its explicit broadcast() hint)
      assert(!plan.contains("BroadcastHashJoin"),
        "fallback path must not broadcast the query batch")
      assert(broadcastPath.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }

  test("meta round-trips dim, planes, tables and rows") {
    built
    val m = AnnIndex.readMeta(spark, path)
    assert((m.dim, m.planes, m.tables, m.rows) == (16, 6, 8, 400L))
    assert(m.fp != 0L)
  }

  test("an index whose meta records another hyperplane family is refused, then rebuilt") {
    val fPath = java.nio.file.Files
      .createTempDirectory("graft-ann-fam").toString + "/idx"
    AnnIndex.build(corpus, fPath, planes = 6, tables = 8)
    // as an index hashed with other (e.g. seeded gaussian) planes records it;
    // written through Hadoop's local FS so its checksum sidecar stays valid
    val metaFile = java.nio.file.Paths.get(fPath, "_graft_ann_meta.json")
    val meta = java.nio.file.Files.readString(metaFile)
    assert(meta.contains("\"family\": \"shared\""), meta)
    val out = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(metaFile.toUri), true)
    out.write(meta.replace("\"family\": \"shared\"", "\"family\": \"gaussian\"")
      .getBytes("UTF-8"))
    out.close()
    val q = corpus.where(col("vec_id") < 6)
    intercept[IllegalStateException] { AnnIndex.query(spark, fPath, q, k = 4) }
    AnnIndex.build(corpus, fPath, planes = 6, tables = 8, reuse = true)
    assert(java.nio.file.Files.readString(metaFile).contains("\"family\": \"shared\""))
    val fromIndex = AnnIndex.query(spark, fPath, q, k = 4)
      .as[(Long, Long, Long, Int)].collect().toSet
    val inMemory = TrainingOps.annLshShared(q, corpus, k = 4, planes = 6, tables = 8)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(fromIndex == inMemory)
    assert(fromIndex.nonEmpty)
  }

  test("empty query batch yields an empty result, not an error") {
    built
    val got = AnnIndex.query(spark, path, corpus.where(col("vec_id") < 0), k = 3)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("q_id", "c_id", "cos_ppm", "rnk"))
  }

  test("reuse keeps a matching index but rebuilds on corpus-size change") {
    built
    val metaFile = java.nio.file.Paths.get(path, "_graft_ann_meta.json")
    val before = java.nio.file.Files.getLastModifiedTime(metaFile)
    AnnIndex.build(corpus, path, planes = 6, tables = 8, reuse = true)
    assert(java.nio.file.Files.getLastModifiedTime(metaFile) == before,
      "matching reuse build must be a no-op")
    AnnIndex.build(corpus.limit(100), path, planes = 6, tables = 8, reuse = true)
    assert(AnnIndex.readMeta(spark, path).rows == 100L,
      "corpus-size change must invalidate the reused index")
    // same size, different content -> fingerprint mismatch -> rebuild
    val mutated = corpus.limit(100).withColumn("embedding",
      transform(col("embedding"), x => x + 1.0f))
    val fpBefore = AnnIndex.readMeta(spark, path).fp
    AnnIndex.build(mutated, path, planes = 6, tables = 8, reuse = true)
    assert(AnnIndex.readMeta(spark, path).fp != fpBefore,
      "content change at equal size must invalidate the reused index")
    AnnIndex.build(corpus, path, planes = 6, tables = 8) // restore
  }

  test("versioned reuse hit runs ZERO jobs over the corpus") {
    val vPath = java.nio.file.Files
      .createTempDirectory("graft-ann-ver").toString + "/idx"
    AnnIndex.build(corpus, vPath, planes = 6, tables = 8,
      reuse = true, version = "snap-001")
    assert(AnnIndex.readMeta(spark, vPath).version == "snap-001")
    // the resident-service steady state: a reuse hit must be a meta-file
    // read only — no Spark job may touch the corpus (round-3 verdict: the
    // old path paid an O(corpus) fingerprint aggregate per call)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      AnnIndex.build(corpus, vPath, planes = 6, tables = 8,
        reuse = true, version = "snap-001")
      Thread.sleep(1000) // let any (unexpected) async job-start events land
      assert(jobs.get() == 0,
        s"versioned reuse hit ran ${jobs.get()} Spark jobs; wanted 0")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a NEW version invalidates and rebuilds (fingerprint recomputed)
    AnnIndex.build(corpus.limit(50), vPath, planes = 6, tables = 8,
      reuse = true, version = "snap-002")
    assert(AnnIndex.readMeta(spark, vPath).rows == 50L)
    // explicit verify(): integrity check on demand, not per call
    assert(AnnIndex.verify(corpus.limit(50), vPath))
    assert(!AnnIndex.verify(corpus, vPath))
  }

  test("a version with quotes, backslashes and control characters is a reuse hit") {
    val vPath = java.nio.file.Files
      .createTempDirectory("graft-ann-esc").toString + "/idx"
    val version = "a\n\tb\u0001\"\\"
    AnnIndex.build(corpus, vPath, planes = 6, tables = 8, version = version)
    val metaFile = java.nio.file.Paths.get(vPath, "_graft_ann_meta.json")
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metaFile.toFile)
    assert(meta.get("version").asText == version)
    assert(AnnIndex.readMeta(spark, vPath).version == version)
    val before = java.nio.file.Files.getLastModifiedTime(metaFile)
    AnnIndex.build(corpus, vPath, planes = 6, tables = 8, reuse = true, version = version)
    assert(java.nio.file.Files.getLastModifiedTime(metaFile) == before,
      "an equal version must be a reuse hit")
  }

  test("a meta without a version reads as unversioned; one without a numeric key is refused") {
    val mPath = java.nio.file.Files
      .createTempDirectory("graft-ann-key").toString + "/idx"
    AnnIndex.build(corpus.limit(20), mPath, planes = 6, tables = 8, version = "v1")
    val metaFile = java.nio.file.Paths.get(mPath, "_graft_ann_meta.json")
    val meta = java.nio.file.Files.readString(metaFile)
    def rewrite(txt: String): Unit = {
      val out = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .create(new org.apache.hadoop.fs.Path(metaFile.toUri), true)
      out.write(txt.getBytes("UTF-8"))
      out.close()
    }
    rewrite(meta.replace(", \"version\": \"v1\"", ""))
    assert(AnnIndex.readMeta(spark, mPath).version == "")
    rewrite(meta.replace("\"tables\"", "\"tbls\""))
    val e = intercept[IllegalStateException](AnnIndex.readMeta(spark, mPath))
    assert(e.getMessage.contains("'tables'"), e.getMessage)
  }
}
