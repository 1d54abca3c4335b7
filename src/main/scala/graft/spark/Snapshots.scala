package graft.spark

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot/manifest layer over plain Parquet — no Iceberg
  * runtime exists in this sandbox, so the table format is implemented
  * directly (SURVEY.md §7): immutable snapshot directories + a JSON manifest
  * carrying schema, per-partition row counts / byte sizes / min-max cell
  * ranges (lineage + metrics), and a `latest` pointer enabling
  * resume-from-checkpoint.
  *
  * Layout:
  *   table/
  *     snapshot-000001/part-*.parquet     (data, immutable)
  *     manifest-000001.json               (schema, partitions, lineage)
  *     latest                             (text: last committed snapshot id)
  *
  * Scale notes: a snapshot commit is one atomic `latest` swap after the
  * parquet write completes; partition metrics are collected with one
  * aggregate pass (no driver-side row collection); resume skips fully
  * committed snapshots and reprocesses only the missing partition range.
  */
object Snapshots {

  final case class PartitionMetric(partition: String, rows: Long,
                                   minKey: Long, maxKey: Long)

  /** Jackson, for the manifests and the ANN index meta file. */
  private[spark] val json = new ObjectMapper()

  /** `node` as one line of JSON with `": "` and `", "` separators. */
  private[spark] def jsonLine(node: JsonNode): String =
    json.writer(new MinimalPrettyPrinter {
      override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
      override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
      override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
    }).writeValueAsString(node)

  /** Commit `df` as the next snapshot of `table`, partitioned by
    * `partitionCol` (a stable bucketing key, e.g. an S2 cell prefix), with
    * per-partition lineage metrics over `metricKey`. Returns snapshot id. */
  def commit(df: DataFrame, table: String, partitionCol: String,
             metricKey: String, lineage: String): Int = {
    val dir = Paths.get(table)
    Files.createDirectories(dir)
    val id = latestId(table) + 1
    val snapDir = s"$table/snapshot-${"%06d".format(id)}"

    df.write.mode("overwrite").partitionBy(partitionCol).parquet(snapDir)

    // one aggregate pass for the manifest metrics
    val spark = df.sparkSession
    val metrics = spark.read.parquet(snapDir)
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("rows"),
        min(col(metricKey)).as("min_key"),
        max(col(metricKey)).as("max_key"))
      .collect()
      .map(r => PartitionMetric(Option(r.get(0)).map(_.toString).getOrElse("null"),
        r.getLong(1), r.getAs[Any]("min_key").toString.toDouble.toLong,
        r.getAs[Any]("max_key").toString.toDouble.toLong))

    val manifest = json.createObjectNode()
      .put("snapshot", id)
      .put("committed_at_epoch_ms", System.currentTimeMillis())
      .put("lineage", lineage)
      .put("partition_col", partitionCol)
      .put("metric_key", metricKey)
      .put("total_rows", metrics.map(_.rows).sum)
    val partitions = manifest.putArray("partitions")
    metrics.sortBy(_.partition).foreach(m => partitions.addObject()
      .put("partition", m.partition).put("rows", m.rows)
      .put("min_key", m.minKey).put("max_key", m.maxKey))
    manifest.set[JsonNode]("schema", json.readTree(df.schema.json))
    atomicWrite(Paths.get(s"$table/manifest-${"%06d".format(id)}.json"), jsonLine(manifest))
    // the commit point: an atomic rename onto the latest pointer — readers
    // either see the previous snapshot or this one, never a torn pointer;
    // a crash between manifest write and this rename leaves an orphan
    // snapshot dir that the next commit of the same id reclaims
    atomicWrite(Paths.get(s"$table/latest"), id.toString)
    id
  }

  /** temp file + atomic rename in the same directory. */
  private def atomicWrite(target: java.nio.file.Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    try
      Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def latestId(table: String): Int = {
    val p = Paths.get(s"$table/latest")
    if (Files.exists(p)) Files.readString(p).trim.toInt else 0
  }

  /** Read the latest committed snapshot (time-travel via `snapshot`). */
  def read(spark: SparkSession, table: String, snapshot: Int = -1): DataFrame = {
    val id = if (snapshot > 0) snapshot else latestId(table)
    require(id > 0, s"no committed snapshot in $table")
    spark.read.parquet(s"$table/snapshot-${"%06d".format(id)}")
  }

  def manifest(table: String, snapshot: Int = -1): String = {
    val id = if (snapshot > 0) snapshot else latestId(table)
    Files.readString(Paths.get(s"$table/manifest-${"%06d".format(id)}.json"))
  }

  /** Bin-packing compaction: rewrite the latest snapshot so each
    * partition's many small files become ~targetBytes files, committed as
    * a NEW snapshot through the same atomic pointer swap — readers see
    * either the fragmented snapshot or the compacted one, never a
    * half-compacted table, and time-travel to the pre-compaction id keeps
    * working. This is the standard maintenance pass for a long-lived
    * 100 TB table fed by many small incremental commits. Returns the new
    * snapshot id. */
  def compact(spark: SparkSession, table: String,
              targetBytes: Long = 128L << 20): Int = {
    val id = latestId(table)
    require(id > 0, s"no committed snapshot in $table")
    val snapDir = Paths.get(s"$table/snapshot-${"%06d".format(id)}")
    val totalBytes = Files.walk(snapDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val numFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt

    // partition/metric columns come from the manifest, not the caller —
    // compaction must not be able to change the table layout
    val m = json.readTree(manifest(table, id))
    val partitionCol = m.get("partition_col").asText
    val metricKey = m.get("metric_key").asText

    val df = read(spark, table, id)
      .repartition(numFiles, col(partitionCol))
    commit(df, table, partitionCol, metricKey,
      s"compaction of snapshot $id ($totalBytes bytes -> $numFiles target files)")
  }

  /** parquet data-file count of a snapshot (compaction's success metric). */
  def dataFileCount(table: String, snapshot: Int = -1): Int = {
    val id = if (snapshot > 0) snapshot else latestId(table)
    val snapDir = Paths.get(s"$table/snapshot-${"%06d".format(id)}")
    Files.walk(snapDir).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
  }

  /** Resume helper: run `process` over the half-open id range
    * [from, until) in `chunk`-sized batches, committing one snapshot per
    * batch; on restart, already-committed batches are skipped (their count
    * is derived from the manifest chain, not recomputed). Returns ids of
    * snapshots committed in THIS invocation. */
  def resumableRun(spark: SparkSession, table: String,
                   from: Long, until: Long, chunk: Long,
                   process: (Long, Long) => DataFrame,
                   partitionCol: String, metricKey: String,
                   context: String = ""): Seq[Int] = {
    val done = latestId(table) // snapshots already committed == batches done
    val batches = Iterator.iterate(from)(_ + chunk).takeWhile(_ < until)
      .map(s => (s, math.min(s + chunk, until))).toSeq
    val ctx = if (context.isEmpty) "" else s"; $context"
    batches.zipWithIndex.drop(done).map { case ((s, e), i) =>
      commit(process(s, e), table, partitionCol, metricKey,
        s"batch $i: ids [$s, $e) of [$from, $until)$ctx")
    }
  }
}
