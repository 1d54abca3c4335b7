package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal data: replicate a driver-generated SF directory K times
  * with disjoint key ranges (each replica offsets every key column by
  * i * max(key)), so the headline suite can be exercised above the largest
  * driver-provided SF on this host. Usage:
  *
  *   sbt "Test/runMain graft.tools.ScaleUp <inDir> <outDir> <factor>"
  *
  * Value distributions are preserved exactly; keys stay unique and FK
  * relations (customer->orders->lineitem, part/supplier) stay consistent
  * because both sides of each relation shift by the same per-replica
  * offset. Offsets are read from the data (max of the key column), not
  * assumed. */
object ScaleUp {
  /** key columns per table, tagged with their key FAMILY: FK columns use
    * the stride of the family's owning table so joins keep matching even
    * when the FK column's own max is smaller (not every customer has
    * orders). */
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    // (column, key family)
    "customer" -> Seq("c_custkey" -> "custkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Seq("l_orderkey" -> "orderkey",
      "l_partkey" -> "partkey", "l_suppkey" -> "suppkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "events" -> Seq("event_id" -> "eventid", "user_id" -> "userid"),
    "documents" -> Seq("doc_id" -> "docid"),
    "embeddings" -> Seq("vec_id" -> "vecid"),
    "region" -> Seq.empty, "nation" -> Seq.empty)

  /** the table that owns each key family's id space. */
  private val familyOwner: Map[String, (String, String)] = Map(
    "custkey" -> ("customer", "c_custkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "partkey" -> ("part", "p_partkey"),
    "suppkey" -> ("supplier", "s_suppkey"),
    "eventid" -> ("events", "event_id"),
    "userid" -> ("events", "user_id"),
    "docid" -> ("documents", "doc_id"),
    "vecid" -> ("embeddings", "vec_id"))

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stride per key family = max(key) + 1 in the owning table, so replica
    // ranges are disjoint even for 0-based ids
    val strides: Map[String, Long] = familyOwner.map { case (fam, (tbl, c)) =>
      fam -> (spark.read.parquet(s"$inDir/$tbl.parquet")
        .agg(max(col(c))).head().getLong(0) + 1L)
    }

    for ((table, keys) <- keyCols) {
      val base = spark.read.parquet(s"$inDir/$table.parquet")
      val out: DataFrame =
        if (keys.isEmpty || factor == 1) base
        else (0 until factor).map { i =>
          keys.foldLeft(base) { case (df, (c, fam)) =>
            df.withColumn(c, col(c) + lit(i * strides(fam)))
          }
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scaleup] $table x$factor -> $outDir/$table.parquet")
    }
    spark.stop()
  }
}
