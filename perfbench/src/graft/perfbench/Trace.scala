package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {
  /** Percentiles a tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank value at percentile p (1-based rank ceil(p/100 * n)). */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100 * n - 1e-9).toInt)

  /** The highest ladder percentile with at least 10 samples beyond its
    * nearest-rank value: (percentile, value). None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted; val n = s.length
    Ladder.reverse.find(p => n - rank(n, p) >= 10).map(p => (p, s(rank(n, p) - 1)))
  }
}

/** A span: one call into a layer, made by the benchmark. Times are
  * nanoTime for durations and epoch milliseconds for matching Spark
  * task and job times. */
final case class Span(id: Int, name: String, parent: Int, batch: Int,
                      startNs: Long, var endNs: Long, startMs: Long, var endMs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

object Spans {
  /** Length of the union of [a, b) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time (ns) of each span: its duration minus the part of its
    * interval that its children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  val GroupPrefix = "perfbench-span-"
  def groupOf(spanId: Int): String = GroupPrefix + spanId
  def spanOfGroup(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => scala.util.Try(g.stripPrefix(GroupPrefix).toInt).toOption)

  /** Jobs attributed to each span: a job belongs to the span whose job
    * group it ran under, and is counted for that span's ancestors too. */
  def jobsBySpan(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    val out = scala.collection.mutable.Map.empty[Int, ArrayBuffer[JobRec]]
    for (j <- jobs; sid <- j.group.flatMap(spanOfGroup)) {
      var cur = sid
      while (cur >= 0 && parent.contains(cur)) {
        out.getOrElseUpdate(cur, ArrayBuffer.empty) += j
        cur = parent(cur)
      }
    }
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }
}

final case class JobRec(jobId: Int, group: Option[String], stageIds: Seq[Int])
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long)

/** Records Spark jobs with their job group, and every finished task. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(org.apache.spark.PerfbenchBridge.JobGroupKey)))
    jobs += JobRec(e.jobId, g, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot(): (Seq[JobRec], Seq[TaskRec]) = synchronized((jobs.toList, tasks.toList))
}

/** In-memory span recorder. Disabled, it only runs the body. Enabled, it
  * also sets a Spark job group per span so the listener can attribute
  * jobs to the innermost span that started them. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var batch = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.getOrElse(-1), batch,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      spans += s
      stack = s.id :: stack
      sc.setJobGroup(Spans.groupOf(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Spans.groupOf(p), spans(p).name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Counts codegen-failure log events (whole-stage or expression codegen
  * falling back to the interpreter). */
final class FallbackCounter
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen-fallbacks", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m != null && FallbackCounter.Markers.exists(m.contains)) count.incrementAndGet()
  }
}

object FallbackCounter {
  val Markers = Seq("Whole-stage codegen disabled", "falling back to interpreter mode")

  def install(): FallbackCounter = {
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new FallbackCounter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    app
  }
}

/** Summed task run time of the Spark jobs a body runs. */
final class TaskClock(sc: SparkContext) {
  def apply(body: => Unit): Double = {
    val l = new JobListener
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      l.snapshot()._2.map(_.runMs).sum / 1e3
    } finally sc.removeSparkListener(l)
  }

  /** Median task seconds of `reps` runs. */
  def median(reps: Int)(body: => Unit): Double = Stats.median((0 until reps).map(_ => apply(body)))
}
