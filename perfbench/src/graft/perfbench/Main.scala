package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by perfbench/run.py, which builds the
  * classes and owns the scratch directory):
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --tmp DIR --out DIR
  *
  * Untraced (`--trace 0`) it prints every end-to-end metric; traced
  * (`--trace 1`) it prints the per-layer metrics. The last stdout line is
  * one JSON object {correct, attempted, failed, metrics}. */
object Main {
  val Workloads = Seq("geo_enrich", "geo_kernels", "geo_knn", "corpus_rw")
  /** Workloads the traced run of another measures as a probe: geo_knn's
    * driver-bound batches and corpus_rw's minute-long runs are too noisy
    * or too long on a shared 4-core host to be timed workloads of the
    * benchmark, so each is measured in the traced run of a timed one. */
  val Probes = Map("geo_enrich" -> "geo_knn", "geo_kernels" -> "corpus_rw")
  /** Set-up repetitions; set-up time is their median. */
  val SetupReps = 3
  val WarmupBatches = 3
  /** Fewest timed batches, so a median exists. */
  val MinBatches = 3
  /** Traced batches of a probe workload. */
  val ProbeBatches = 2
  /** Failure keys of a probe's batches: ProbeKey + attempt. */
  val ProbeKey = 1000000

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        tmp: String, out: String, stamp: Map[String, String])

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be >= 1")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got '$t'")
    }
    Opts(w, need("seed").toLong, secs, trace, need("tmp"), need("out"),
      kv.collect { case (k, v) if k.startsWith("stamp-") => k.stripPrefix("stamp-") -> v })
  }

  def session(tmp: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadavg(): String =
    scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim)
      .getOrElse("unknown")

  /** (steal, all) CPU ticks from /proc/stat: on a VM, steal ticks show
    * time the hypervisor gave to other tenants during the run. */
  private def cpuTicks(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))

  private def memTotalKb(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).get.split("\\s+")(1)).getOrElse("unknown")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg()
    val ticks0 = cpuTicks()
    val (spark, sessionS) = Workload.seconds(session(o.tmp, cores))
    val sc = spark.sparkContext
    val fallbacks = FallbackCounter.install()
    val tr = new Tracer(sc)
    val w = workload(o.workload, spark, o.seed, tr)

    // set-up: session start, input generation and write (several times;
    // the last repetition's inputs stay for the timed phase), then warm-up
    // batches until the JIT and codegen caches settle
    val reps = (0 until SetupReps).map { k =>
      val (_, s) = Workload.seconds(w.setup(s"${o.tmp}/inputs-$k"))
      if (k > 0) deleteTree(s"${o.tmp}/inputs-${k - 1}")
      s
    }
    val (_, warmS) = Workload.seconds((1 to WarmupBatches).foreach(k => w.batch(-k)))
    val setupS = sessionS + Stats.median(reps) + warmS
    log(f"set-up: session $sessionS%.2fs, inputs ${reps.map(r => f"$r%.2f").mkString("/")}s, warm-up $warmS%.2fs")

    val failed = scala.collection.mutable.Map.empty[Int, String]
    val liveHeap = ArrayBuffer.empty[Double]
    /** Closed loop for `seconds` (and at least MinBatches batches); with
      * `trace`, every other batch is traced. Untraced, the live heap is
      * sampled between batches at half time (and after the run); the
      * run is extended by the time the sample takes. Returns per-batch
      * (latency, rows, traced, JVM GC seconds). */
    def timed(seconds: Double, trace: Boolean): Seq[(Double, Long, Boolean, Double)] = {
      val out = ArrayBuffer.empty[(Double, Long, Boolean, Double)]
      val t0 = System.nanoTime()
      var end = t0 + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < end || out.length < MinBatches) {
        if (!trace && liveHeap.isEmpty && System.nanoTime() - t0 >= seconds * 0.5e9) {
          val (mb, s) = Workload.seconds(liveHeapMb())
          liveHeap += mb
          end += (s * 1e9).toLong
        }
        tr.enabled = trace && i % 2 == 1
        tr.batch = i
        val gc0 = gcSeconds()
        val (r, s) = Workload.seconds(tr.span("batch")(
          try w.batch(i) catch { case e: Exception => failed(i) = e.toString; 0L }))
        out += ((s, r, tr.enabled, gcSeconds() - gc0))
        tr.enabled = false
        i += 1
      }
      out.toSeq
    }
    def rate(bs: Seq[(Double, Long, Boolean, Double)]) = bs.map(_._2).sum / bs.map(_._1).sum

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val notes = ArrayBuffer.empty[String]
    var probeAttempts = 0
    var jitTimedS = 0.0
    var codegenTimed = 0L

    /** Measures workload `name` as a probe in this traced run: one set-up,
      * one untraced warm-up batch, then ProbeBatches traced ones. Figures
      * that every workload reports are named `<name>.*`; its checks count
      * towards this run's. Returns the batches run. */
    def probe(name: String): Int = {
      val ptr = new Tracer(sc)
      val p = workload(name, spark, o.seed, ptr)
      log(s"probe $name: set-up")
      val (_, setupS) = Workload.seconds(p.setup(s"${o.tmp}/$name"))
      p.batch(-1)
      val listener = new JobListener
      sc.addSparkListener(listener)
      val fb0 = fallbacks.count.get
      var rows = 0L
      val (_, batchS) = Workload.seconds((0 until ProbeBatches).foreach { k =>
        ptr.enabled = true
        ptr.batch = k
        try rows += ptr.span("batch")(p.batch(k)) finally ptr.enabled = false
      })
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      val (jobs, tasks) = listener.snapshot()
      sc.removeSparkListener(listener)
      val spans = ptr.spans.toSeq
      def named(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) => (s"$name.$n", v, u) }
      metrics ++= named(Layers.engine(spans, jobs, tasks, cores, rows) ++ Seq(
        ("spark.codegen_fallbacks", (fallbacks.count.get - fb0).toDouble / ProbeBatches, "count/batch"),
        ("setup_s", setupS, "s"), ("batch_s", batchS / ProbeBatches, "s")))
      metrics ++= Layers.selfTimes(spans, jobs, tasks)
      log(s"probe $name: layer figures")
      metrics ++= p.layerMetrics(new TaskClock(sc), Map.empty)
      metrics ++= named(p.extraMetrics())
      // geo_knn: the distance kernel over its query-answer pairs
      if (name == "geo_knn") metrics += ((s"$name.core.karney.ops_per_s", Layers.karneyOps(p.coordPairs), "1/s"))
      Layers.writeSpans(spans, jobs, tasks, s"${o.out}/${o.workload}-seed${o.seed}-$name-spans.jsonl")
      failed ++= p.check().map { case (a, why) => (ProbeKey + a) -> s"$name: $why" }
      1 + ProbeBatches
    }
    val timedBatches =
      if (!o.trace) {
        val jit0 = jitSeconds()
        val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val bs = timed(o.seconds, trace = false)
        jitTimedS = jitSeconds() - jit0
        codegenTimed = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        liveHeap += liveHeapMb()
        val lat = bs.map(_._1)
        metrics ++= Seq(("setup_s", setupS, "s"), ("rows_per_s", rate(bs), "1/s"),
          ("batch_p50_s", Stats.median(lat), "s"), ("peak_heap_mb", liveHeap.max, "MB"))
        Stats.tail(lat) match {
          case Some((p, v)) =>
            metrics += (("batch_tail_s", v, "s"))
            notes += f"batch_tail_s is p$p%.1f of ${lat.length} batches"
          case None =>
            notes += s"batch_tail_s not measured: ${lat.length} batches, a tail needs 20"
        }
        bs
      } else {
        val listener = new JobListener
        sc.addSparkListener(listener)
        val fb0 = fallbacks.count.get
        val bs = timed(o.seconds, trace = true)
        val (traced, plain) = bs.partition(_._3)
        org.apache.spark.PerfbenchBridge.drainListeners(sc)
        val (jobs, tasks) = listener.snapshot()
        sc.removeSparkListener(listener)
        val spans = tr.spans.toSeq
        metrics ++= Layers.engine(spans, jobs, tasks, cores, traced.map(_._2).sum)
        metrics ++= Seq(
          ("spark.codegen_fallbacks", (fallbacks.count.get - fb0).toDouble / bs.length, "count/batch"),
          ("spark.gc_s", Stats.median(traced.map(_._4)), "s"),
          ("trace.rows_per_s", rate(traced), "1/s"),
          ("trace.overhead_x", rate(plain) / rate(traced), "x"))
        metrics ++= Layers.selfTimes(spans, jobs, tasks)
        log(s"traced run: ${bs.length} batches; single-thread kernels next")
        val kernels = Layers.kernels(w)
        log("traced run: layer figures next")
        metrics ++= w.layerMetrics(new TaskClock(sc), kernels.map(k => k._1 -> k._2).toMap)
        metrics ++= kernels
        Layers.writeSpans(spans, jobs, tasks, s"${o.out}/${o.workload}-seed${o.seed}-spans.jsonl")
        probeAttempts = Probes.get(o.workload).map(probe).getOrElse(0)
        bs
      }

    failed ++= w.check().filter(kv => !failed.contains(kv._1))
    val extra = w.extraMetrics()
    val load1 = loadavg()
    val ticks1 = cpuTicks()
    val stamp = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "nproc" -> cores, "mem_total_kb" -> memTotalKb(), "loadavg_start" -> load0,
      "loadavg_end" -> load1, "cpu_steal_ticks" -> (ticks1._1 - ticks0._1),
      "cpu_ticks" -> (ticks1._2 - ticks0._2), "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "setup_reps_s" -> reps.mkString(","),
      "session_s" -> sessionS, "jit_timed_s" -> jitTimedS, "codegen_compiles_timed" -> codegenTimed) ++ o.stamp ++ w.inputStamp.map { case (k, v) => s"input.$k" -> v }
    spark.stop()

    // warm-up batches are checked too, so they count as attempted
    val attempted = timedBatches.length + WarmupBatches + probeAttempts
    val failRatio = failed.size.toDouble / attempted
    val stampJson = Json.obj(stamp.toSeq.sortBy(_._1))
    println("# stamp " + Json.write(stampJson))
    for ((a, why) <- failed.toSeq.sortBy(_._1).take(10)) println(s"# FAILED batch $a: $why")
    for ((n, v, u) <- metrics ++ extra ++ Seq(("fail_ratio", failRatio, "ratio")))
      println(f"metric ${o.workload}%-10s $n%-38s $v%16.6f $u")
    notes.foreach(n => println("# " + n))
    def metricJson(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) })
    val report = Json.write(Json.obj(Seq("stamp" -> stampJson, "metrics" -> metricJson((metrics ++ extra).toSeq),
      "failed" -> failed.size, "attempted" -> attempted,
      "batch_s" -> java.util.Arrays.asList(timedBatches.map(b => Double.box(b._1)): _*),
      "live_heap_mb" -> java.util.Arrays.asList(liveHeap.map(Double.box).toSeq: _*))))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      s"${o.out}/${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"), report + "\n")
    // the result line: exactly the declared metrics of this mode
    val declared = if (o.trace) Layers.Declared else E2E
    val byName = metrics.map(m => m._1 -> m).toMap
    val out = declared.map(n => byName.getOrElse(n, sys.error(s"metric $n was not measured")))
    println(Json.write(Json.obj(Seq("correct" -> failed.isEmpty, "attempted" -> attempted,
      "failed" -> failed.size, "metrics" -> metricJson(out)))))
    if (failed.nonEmpty) sys.exit(1)
  }

  def workload(name: String, spark: SparkSession, seed: Long, tr: Tracer): Workload = name match {
    case "geo_enrich" => new GeoEnrich(spark, seed, tr)
    case "geo_kernels" => new PointKernels(spark, seed, tr)
    case "geo_knn" => new GeoKnn(spark, seed, tr)
    case "corpus_rw" => new CorpusRw(spark, seed, tr)
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  val E2E: Seq[String] = Seq("setup_s", "rows_per_s", "batch_p50_s", "peak_heap_mb")

  /** Heap in use after a full GC, in MB: the live set between batches.
    * The second GC collects what Spark's cleaner released after the
    * first (broadcast and shuffle state of finished jobs). */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** JIT compiler time so far (summed over compiler threads). */
  private def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcSeconds(): Double = {
    var ms = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}

/** JSON through Jackson; objects keep their key order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  def obj(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def write(v: Any): String = mapper.writeValueAsString(v)
}
