package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LSH ANN index: the corpus is hashed ONCE into (tbl, bucket)
  * parquet partitions on disk; query batches prune partitions instead of
  * re-hashing the corpus per call.
  *
  * Scale story (the 10^12-doc path): `build` is a single linear pass over
  * the corpus followed by a partitioned write — after that, a query batch
  * computes its own buckets, ships the (small, by the same broadcast
  * contract as annLshShared) distinct bucket set to the driver, and turns it
  * into a STATIC partition filter on the index scan. The scan cost is
  * proportional to the candidate partitions touched (tables x distinct
  * query buckets), never to the corpus. Bucketing is byte-identical to
  * annLshShared (TrainingOps.bucketsFor, md5-derived hyperplanes), so the
  * persisted path inherits its oracle and recall characteristics.
  */
object AnnIndex {

  case class Meta(dim: Int, planes: Int, tables: Int, rows: Long, fp: Long,
                  version: String = "")

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_ann_meta.json")

  /** the hyperplane family every index is built with; the meta file
    * records it so an index built with any other planes is never queried. */
  private val Family = "shared"

  /** order-independent content fingerprint of the corpus: ONE aggregate
    * job yielding (dim, rows, fp). O(corpus) — the rebuild path and the
    * explicit `verify` pay it; a versioned reuse hit does not. */
  private def fingerprint(corpus: DataFrame): (Int, Long, Long) = {
    val agg = corpus.select(
      max(size(col("embedding"))).as("dim"),
      count(lit(1)).as("rows"),
      sum(pmod(xxhash64(col("vec_id"), col("embedding")),
        lit(1000000007L))).as("fp")).head()
    require(!agg.isNullAt(0), "AnnIndex.build: empty corpus")
    (agg.getInt(0), agg.getLong(1), agg.getLong(2))
  }

  /** Hash the corpus (vec_id, embedding) into the on-disk index at `path`:
    * one row per (vector, table), partitioned by tbl/bucket.
    *
    * With `reuse = true` an existing index whose meta matches the requested
    * parameters is kept as-is (the resident-service pattern: build once,
    * query many). Invalidation is METADATA-based when the caller supplies a
    * `version` (a snapshot id from the Snapshots layer, an Iceberg snapshot,
    * an ETL run id): a version match is a pure meta-file read — zero jobs
    * over the corpus, the 10^12-row requirement for a build-once/query-many
    * resident service. With no version, reuse falls back to the
    * order-independent content fingerprint (one O(corpus) aggregate).
    * `verify` re-checks a versioned index against the corpus on demand. */
  def build(corpus: DataFrame, path: String,
            planes: Int = 6, tables: Int = 8,
            reuse: Boolean = false, version: String = ""): Unit = {
    val spark = corpus.sparkSession
    if (reuse && fs(spark, path).exists(metaPath(path))) {
      // an unreadable, older-format or other-family meta simply means "rebuild"
      scala.util.Try(readMeta(spark, path)).toOption.foreach { m =>
        val paramsOk = m.planes == planes && m.tables == tables
        if (paramsOk && version.nonEmpty && m.version == version) return
        if (paramsOk && version.isEmpty) {
          val (dim, rows, fp) = fingerprint(corpus)
          if (m.dim == dim && m.rows == rows && m.fp == fp) return
        }
      }
    }
    val (dim, rows, fp) = fingerprint(corpus)
    corpus
      .select(col("vec_id").as("c_id"), TrainingOps.doubles(col("embedding")).as("c_vec"))
      .withColumn("bk", explode(TrainingOps.bucketsFor(col("c_vec"), dim, planes, tables)))
      .select(col("c_id"), col("c_vec"),
        col("bk.tbl").as("tbl"), col("bk.b").as("bucket"))
      // co-locate each (tbl, bucket) on one task before the partitioned
      // write: one file per bucket directory instead of one per
      // (input-partition x bucket) — at 1000 executors the difference is
      // ~tables*2^planes files vs millions of small files, and the pruned
      // query's listing cost shrinks the same way
      .repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl", "bucket").parquet(path)
    val out = fs(spark, path).create(metaPath(path), true)
    out.write(Snapshots.jsonLine(Snapshots.json.createObjectNode()
      .put("dim", dim).put("planes", planes).put("tables", tables).put("family", Family)
      .put("rows", rows).put("fp", fp).put("version", version)).getBytes("UTF-8"))
    out.close()
  }

  /** Recompute the corpus fingerprint and compare it to the stored meta —
    * the explicit integrity check a versioned resident service runs on its
    * own schedule instead of per query batch. */
  def verify(corpus: DataFrame, path: String): Boolean = {
    val m = readMeta(corpus.sparkSession, path)
    val (dim, rows, fp) = fingerprint(corpus)
    m.dim == dim && m.rows == rows && m.fp == fp
  }

  /** Read the build parameters back from the index directory; a meta that
    * records any hyperplane family but "shared" is refused. */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val in = fs(spark, path).open(metaPath(path))
    val m = try Snapshots.json.readTree(in) finally in.close()
    def num(key: String): Long = {
      val n = m.path(key)
      if (!n.isIntegralNumber) throw new IllegalStateException(
        s"AnnIndex meta at $path lacks '$key'")
      n.asLong
    }
    val fam = Option(m.path("family").textValue)
    if (!fam.contains(Family)) throw new IllegalStateException(
      s"AnnIndex meta at $path records hyperplane family ${fam.getOrElse("(none)")}, " +
        s"not '$Family'; rebuild the index")
    // absent in pre-version metas: treated as unversioned (fingerprint path)
    Meta(num("dim").toInt, num("planes").toInt, num("tables").toInt,
      num("rows"), num("fp"), m.path("version").asText(""))
  }

  /** Top-k by exact cosine over the index's bucket candidates. Output
    * (q_id, c_id, cos_ppm, rnk) — identical rows to annLshShared over the
    * same corpus/parameters, but the corpus side comes off the pruned
    * index scan instead of being re-hashed.
    *
    * Batches up to `maxBroadcastRows` hashed rows (query vectors x tables)
    * are collected once and ride as the broadcast join side — the
    * resident-service shape. Larger batches stay distributed: only the
    * DISTINCT (tbl, bucket) set — bounded by tables x 2^planes regardless
    * of batch size — comes to the driver for the static partition filter,
    * and the candidate join runs as an ordinary shuffle join, so a
    * million-query load never materializes on the driver. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            k: Int, maxBroadcastRows: Int = 65536): DataFrame = {
    val meta = readMeta(spark, path)
    val hashed = queries
      .select(col("vec_id").as("q_id"), TrainingOps.doubles(col("embedding")).as("q_vec"))
      .withColumn("bk", explode(
        TrainingOps.bucketsFor(col("q_vec"), meta.dim, meta.planes, meta.tables)))
      .select(col("q_id"), col("q_vec"),
        col("bk.tbl").as("tbl"), col("bk.b").as("bucket"))
    // limit-probe: one execution of the hashing subplan tells us whether
    // the batch fits the broadcast contract (and, when it does, already
    // yields the rows — the subplan is never executed twice on that path)
    val probe = hashed.limit(maxBroadcastRows + 1).collect()
    def pruneOf(wanted: Array[(Int, Long)]) =
      // empty batch -> empty result (mirror annLshShared, which yields no
      // rows rather than failing); lit(false) keeps the scan at zero files
      if (wanted.isEmpty) lit(false)
      else wanted.groupBy(_._1).map { case (t, bs) =>
        col("tbl") === t && col("bucket").isin(bs.map(_._2).toSeq: _*)
      }.reduce(_ || _)
    if (probe.length <= maxBroadcastRows) {
      val qRows = probe
      val q = spark.createDataFrame(
        java.util.Arrays.asList(qRows: _*), hashed.schema)
      val prune = pruneOf(qRows.map(r => (r.getInt(2), r.getLong(3))).distinct)
      val idx = spark.read.parquet(path).where(prune)
      // the scoring/ranking tail is SHARED with annLshShared so the
      // persisted path's rows stay byte-identical to the in-memory path
      TrainingOps.scoreTopK(idx.join(broadcast(q), Seq("tbl", "bucket")), k)
    } else {
      // distributed fallback: the bucket set is small even when the batch
      // is not (≤ tables x 2^planes pairs), so static partition pruning
      // survives; the query side re-runs the (linear) hashing subplan
      // inside the join instead of living on the driver
      val wanted = hashed.select(col("tbl"), col("bucket")).distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      val idx = spark.read.parquet(path).where(pruneOf(wanted))
      TrainingOps.scoreTopK(idx.join(hashed, Seq("tbl", "bucket")), k)
    }
  }
}
