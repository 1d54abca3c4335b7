package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each driver query's result → parquet under
  * `<out>/<name>`, plus oracle_sql.json, for the driver's DuckDB compare.
  * A query that throws leaves `<out>/<name>/_FAILED` (exception class and
  * message) in place of its output, and the run ends with one line naming
  * every failed query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val failed = SparkEntry.driverQueries.flatMap { q =>
      val dir = out.resolve(q.name)
      try {
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_FAILED"), s"${e.getClass.getName}: ${e.getMessage}\n")
        Some(q.name)
      }
    }
    writeOracleSql(out.resolve("oracle_sql.json"))
    spark.stop()
    val n = SparkEntry.driverQueries.size
    System.err.println(
      if (failed.isEmpty) s"[verify] all $n queries written"
      else s"[verify] ${failed.size} of $n queries failed: ${failed.mkString(", ")}")
  }

  /** `SparkEntry.oracleSql` as one JSON object, name → SQL, sorted by name. */
  def writeOracleSql(path: Path): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(path.toFile, new java.util.TreeMap(SparkEntry.oracleSql.asJava))
}
