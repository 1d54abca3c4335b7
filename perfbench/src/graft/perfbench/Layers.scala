package graft.perfbench

import graft.core.{Coord, Geodesic}
import graft.index.{S2CellId, SlippyTile}
import graft.proj.Proj
import graft.spark.{GeoKernels, MediaCodecs, ProjPipeline}

/** Per-layer figures of the traced run. */
object Layers {
  /** The per-layer metrics every workload reports in its result line. */
  val Declared: Seq[String] = Seq(
    "proj.utm.ops_per_s", "proj.helmert.ops_per_s", "proj.webmerc.ops_per_s", "proj.create_us",
    "core.karney.ops_per_s", "index.s2_cell.ops_per_s", "index.tile_key.ops_per_s",
    "index.hex_bin.ops_per_s", "media.jpeg_decode.ops_per_s",
    "spark.jobs_per_batch", "spark.stages_per_batch", "spark.tasks_per_batch",
    "spark.shuffle_bytes_per_row", "spark.spill_bytes", "spark.gc_s", "spark.task_busy_ratio",
    "spark.driver_only_s", "spark.codegen_fallbacks", "trace.rows_per_s", "trace.overhead_x")

  final case class Work(jobs: Int, stages: Int, tasks: Int, shuffleBytes: Long, spillBytes: Long,
                        runMs: Long, busyMs: Long)

  /** Spark work attributed to each span (its own jobs and its
    * descendants'). A stage belongs to the first job that lists it, so a
    * reused shuffle is not counted twice. */
  def work(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[Int, Work] = {
    val stageOwner = jobs.sortBy(_.jobId).flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).map { case (s, js) => s -> js.head._2 }
    val tasksByStage = tasks.groupBy(_.stageId)
    Spans.jobsBySpan(spans, jobs).map { case (sid, js) =>
      val s = spans(sid)
      val stages = js.flatMap(j => j.stageIds.filter(st =>
        stageOwner(st) == j.jobId && tasksByStage.contains(st))).distinct
      val ts = stages.flatMap(tasksByStage)
      val busy = Spans.unionLength(ts.map(t =>
        (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs))))
      sid -> Work(js.size, stages.size, ts.size, ts.map(_.shuffleWriteBytes).sum,
        ts.map(_.spillBytes).sum, ts.map(_.runMs).sum, busy)
    }
  }

  /** Engine figures per traced batch (medians over batches). */
  def engine(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec], cores: Int,
             rows: Long): Seq[(String, Double, String)] = {
    val w = work(spans, jobs, tasks)
    val batches = spans.filter(s => s.parent < 0 && s.name == "batch")
    val ws = batches.map(b => b -> w.getOrElse(b.id, Work(0, 0, 0, 0, 0, 0, 0)))
    def med(f: ((Span, Work)) => Double) = Stats.median(ws.map(f))
    Seq(
      ("spark.jobs_per_batch", med(_._2.jobs.toDouble), "count"),
      ("spark.stages_per_batch", med(_._2.stages.toDouble), "count"),
      ("spark.tasks_per_batch", med(_._2.tasks.toDouble), "count"),
      ("spark.shuffle_bytes_per_row", ws.map(_._2.shuffleBytes).sum.toDouble / math.max(1L, rows), "B"),
      ("spark.spill_bytes", ws.map(_._2.spillBytes).sum.toDouble / ws.size, "B"),
      ("spark.task_busy_ratio", ws.map(_._2.runMs).sum.toDouble /
        (ws.map(x => x._1.durS * 1e3).sum * cores), "ratio"),
      ("spark.driver_only_s", med(x => x._1.durS - x._2.busyMs / 1e3), "s"))
  }

  /** Per span name: median per batch of self time, total time, jobs and
    * time with no task running. */
  def selfTimes(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec]): Seq[(String, Double, String)] = {
    val self = Spans.selfNs(spans)
    val w = work(spans, jobs, tasks)
    val batches = spans.map(_.batch).distinct
    spans.filter(_.name != "batch").groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val per = ss.groupBy(_.batch)
      def med(f: Span => Double) = Stats.median(batches.map(b => per.getOrElse(b, Nil).map(f).sum))
      Seq(
        (s"span.$name.self_s", med(s => self(s.id) / 1e9), "s"),
        (s"span.$name.total_s", med(_.durS), "s"),
        (s"span.$name.jobs", med(s => w.get(s.id).map(_.jobs.toDouble).getOrElse(0.0)), "count"),
        (s"span.$name.driver_only_s",
          med(s => s.durS - w.get(s.id).map(_.busyMs / 1e3).getOrElse(0.0)), "s"))
    }
  }

  private var sink = 0.0

  /** Single-thread ops/s: median of three passes of at least 0.2 s. */
  def opsPerS(n: Int)(op: Int => Double): Double = {
    var i = 0
    while (i < n) { sink += op(i); i += 1 }
    Stats.median((0 until 3).map { _ =>
      var ops = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) {
        var j = 0
        while (j < n) { sink += op(j); j += 1 }
        ops += n
      }
      ops / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** Single-thread Karney inverse solutions per second over (lon1, lat1,
    * lon2, lat2) pairs. */
  def karneyOps(pairs: Array[(Double, Double, Double, Double)]): Double =
    opsPerS(pairs.length) { i =>
      val (lon1, lat1, lon2, lat2) = pairs(i)
      Geodesic.WGS84.inverse(lat1, lon1, lat2, lon2)._1
    }

  /** Kernel families, single thread, over the workload's own inputs. */
  def kernels(w: Workload): Seq[(String, Double, String)] = {
    val xy = w.coords.take(20000)
    val n = xy.length
    val c = new Coord
    def through(p: ProjPipeline)(i: Int): Double = {
      val (lon, lat) = xy(i)
      if (p.angularInput(true)) c.set(math.toRadians(lon), math.toRadians(lat), 0, 0)
      else c.set(lon, lat, 0, 0)
      p.trans(c, true)
      c.x
    }
    val utm = Array.tabulate(120)(k =>
      new ProjPipeline(s"proj=utm zone=${k % 60 + 1} ellps=WGS84${if (k >= 60) " south" else ""}"))
    val zoneIdx = xy.map { case (lon, lat) =>
      math.min(59, math.max(0, ((lon + 180) / 6).toInt)) + (if (lat < 0) 60 else 0)
    }
    val webmerc = new ProjPipeline(GeoEnrich.WebmercPipe)
    val gda = new ProjPipeline(GeoEnrich.GdaPipe)
    val wm = xy.indices.map { i => through(webmerc)(i); (c.x, c.y) }.toArray
    val pairs = w.coordPairs
    val pay = w.payloads
    val creates = Seq(GeoEnrich.GdaPipe, GeoEnrich.WebmercPipe) ++
      GeoEnrich.FixedZones.map(z => s"proj=utm zone=$z ellps=WGS84")
    val createUs = Stats.median((0 until 5).flatMap(_ => creates.map { s =>
      Workload.seconds(Proj.create(s))._2 * 1e6
    }))
    Seq(
      ("proj.utm.ops_per_s", opsPerS(n)(i => through(utm(zoneIdx(i)))(i)), "1/s"),
      ("proj.helmert.ops_per_s", opsPerS(n)(through(gda)), "1/s"),
      ("proj.webmerc.ops_per_s", opsPerS(n)(through(webmerc)), "1/s"),
      ("proj.create_us", createUs, "us"),
      ("core.karney.ops_per_s", karneyOps(pairs), "1/s"),
      ("index.s2_cell.ops_per_s", opsPerS(n)(i => S2CellId.cellId(xy(i)._1, xy(i)._2, 12).toDouble), "1/s"),
      ("index.tile_key.ops_per_s", opsPerS(n)(i => SlippyTile.tileKey(xy(i)._1, xy(i)._2, 12).toDouble), "1/s"),
      ("index.hex_bin.ops_per_s", opsPerS(n)(i => GeoKernels.hexBin(wm(i)._1, wm(i)._2, 50000.0).getInt(0)), "1/s"),
      ("media.jpeg_decode.ops_per_s", opsPerS(pay.length)(i =>
        MediaCodecs.decodeJpegPixels(pay(i)).map(_.length.toDouble).getOrElse(0.0)), "1/s"))
  }

  def writeSpans(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec], path: String): Unit = {
    val self = Spans.selfNs(spans)
    val w = work(spans, jobs, tasks)
    val lines = spans.map { s =>
      Json.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "batch" -> s.batch,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS, "self_s" -> self(s.id) / 1e9,
        "jobs" -> w.get(s.id).map(_.jobs).getOrElse(0),
        "tasks" -> w.get(s.id).map(_.tasks).getOrElse(0))))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
