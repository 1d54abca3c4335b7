package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev probe: run one SparkEntry query by name and print the total shuffle
  * write/read bytes and records (per-run accounting for exchange-slimming
  * work: `Test/runMain graft.tools.ShuffleProbe dedup_minhash [sfDir]`). */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_minhash")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      // at probe scale the optimizer would broadcast the small side; force
      // the shuffle plan the same query has at 10^12 rows so exchange-byte
      // comparisons measure the real thing
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val w = new java.util.concurrent.atomic.AtomicLong
    val r = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        w.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        r.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        recs.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    })
    val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
    Thread.sleep(1000)
    println(f"query=$name rows=$n shuffle_write=${w.get} B " +
      f"shuffle_read=${r.get} B shuffle_records=${recs.get}")
    spark.stop()
  }
}
