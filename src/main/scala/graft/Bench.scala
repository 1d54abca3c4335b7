package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{DocsTable, GeoFunctions, ProjFunctions, SpatialJoins}

/** Per-round benchmark: headline queries at SPARK_GRAFT_SF_DIR, plus the
  * north-star docs pipeline (anchor → utm + s2 cell + tile → PIP join) run
  * at two parallelism levels (local[N] vs local[4N], N = cores / 4) on
  * identical input to evidence the ≥0.8 scaling-efficiency criterion
  * (BASELINE.md). Prints ONE JSON line, stamped with the host's cores and
  * memory; details land in BENCH_runs/.
  */
/** Pure guard predicates over measured legs — unit-testable (the round-2/3
  * lesson: both corrupted driver artifacts would have been self-flagged by
  * these, so they must be code, not judgement). Noise on a shared host is
  * one-sided: external load can only SLOW a leg down, so a violation means
  * "re-measure the slow leg and keep the min", never "keep the fast one". */
object BenchGuard {
  /** efficiency = thr(4N) / (4 * thr(N)); physically ∈ (0, ~1.1] — outside
    * [0.5, 1.2] one leg was burst-hit */
  def efficiencySuspect(eff: Double): Boolean = eff < 0.5 || eff > 1.2

  /** throughput must be monotone non-decreasing in cores on identical
    * input (SMT can flatten it, never invert it) */
  def monotoneSuspect(thrByCores: Seq[(Int, Double)]): Boolean =
    thrByCores.sortBy(_._1).sliding(2).exists {
      case Seq((c1, t1), (c2, t2)) => c2 > c1 && t2 < t1
      case _ => false
    }

  /** ann_index accounting: the build leg runs the one-time index build AND
    * a first query; a steady-state query leg can never legitimately exceed
    * it on a quiet host — an inversion means a co-tenant burst hit the
    * query legs (the round-4 artifact's 7.451 s warm vs 6.745 s cold). */
  def buildQueryInversionSuspect(buildSec: Double, querySec: Double): Boolean =
    querySec > buildSec
}

object Bench {
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize the docs corpus once (generation is not the workload under
    * measurement; parquet-in mirrors the Iceberg-table reality). */
  private def prepDocs(spark: SparkSession, nDocs: Long, path: String): Unit = {
    DocsTable.docs(spark, nDocs, partitions = 64)
      .write.mode("overwrite").parquet(path)
  }

  /** the north-star pipeline over the materialized docs; returns row count.
    * Transform-dense by design — the BASELINE metric is transforms+joins/sec,
    * so each doc goes through the datum pipeline plus reprojection into 8
    * UTM zones (multi-CRS tiling), S2 + tile assignment, and the PIP join. */
  private def northstar(spark: SparkSession, docsPath: String): Long = {
    val gdaPipe = "proj=pipeline ellps=GRS80 step proj=cart step proj=helmert " +
      "convention=coordinate_frame x=0.06155 rx=-0.0394924 y=-0.01087 " +
      "ry=-0.0327221 z=-0.04019 rz=-0.0328979 s=-0.009994 step proj=cart inv"
    val docs = DocsTable.withAnchor(spark.read.parquet(docsPath))
      .where(col("lon").isNotNull)
    var enriched = docs
      // per-row zone dispatch: every point lands in its OWN zone's CRS
      .withColumn("utm", ProjFunctions.utmNative(col("lon"), col("lat")))
      .withColumn("gda", ProjFunctions.projTrans2(col("lon"), col("lat"), gdaPipe))
      .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(12)))
      .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(12)))
      // hex-grid assignment (the H3-style side of the cell-index family)
      .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"),
        "proj=webmerc ellps=WGS84"))
      .withColumn("hex", GeoFunctions.hexBin(col("wm.x"), col("wm.y"), lit(50000.0)))
    // reproject into 8 fixed UTM zone CRSs (typical multi-CRS tile fan-out)
    for (z <- 1 to 8)
      enriched = enriched.withColumn(s"utm_$z",
        ProjFunctions.projTrans2(col("lon"), col("lat"),
          s"proj=utm zone=${z * 7} ellps=WGS84").getField("x"))
    val checksum = (1 to 8).map(z => col(s"utm_$z")).reduce(_ + _) +
      col("utm.x") + col("utm.y")
    val joined = SpatialJoins.pipJoin(
      enriched.withColumn("utm_ck", checksum), DocsTable.zones(spark), level = 10)
      .select(col("doc_id"), col("zone_id"), col("utm.zone").as("utm_zone"),
        col("cell"), col("tile"), col("hex.q").as("hex_q"),
        col("hex.r").as("hex_r"), col("gda.x").as("gda_x"), col("utm_ck"))
    // checksum aggregate defeats count-only column pruning: every kernel runs
    joined.select(
      count(lit(1)).as("n"),
      sum(pmod(xxhash64(struct(joined.columns.map(col): _*)), lit(1000000007L))).as("ck"))
      .head().getLong(0)
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def loadavg(): String =
    scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split(" ")(0))
      .getOrElse("-1")

  /** MemTotal of /proc/meminfo in kB, -1 where it cannot be read */
  private def memTotalKb(): Long =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
      .get).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nproc = Runtime.getRuntime.availableProcessors
    val memKb = memTotalKb()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(nproc)
    val nsDocs = sys.env.getOrElse("SPARK_GRAFT_NS_DOCS", "8000000").toLong

    // SPARK_GRAFT_SCALING_ONLY=1: re-measure just the N-vs-4N scaling pair
    // (used when a co-tenant burst corrupted the scaling phase of a full
    // run; the shared host carries external load at times). In this mode
    // BENCH.md is NOT overwritten.
    val scalingOnly = sys.env.get("SPARK_GRAFT_SCALING_ONLY").contains("1")
    // best-of-N per measurement: host noise is one-sided (slowdowns), so
    // min over repeats is the honest estimator of the machine's capability;
    // co-tenant bursts on this shared host hit the short 4N-thread runs
    // hardest, hence 5 repeats by default
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "5").toInt

    val spark = session(cpus)
    // headline = the SCALE paths (LSH-bucketed ANN, ring-join kNN, per-row
    // UTM dispatch); the crossJoin baselines (ann_brute, geo_knn) stay
    // oracle-only — they are correctness anchors, not 100-TB plans.
    // Round-5 additions stay identifiable so cross-round totals stay
    // comparable: "total" spans the legacy set, "total_r5" adds them.
    val headline =
      if (scalingOnly) Seq.empty[DriverQuery]
      else SparkEntry.driverQueries.filter(_.bench != DriverQuery.NotBenched)
    val round5 = headline.filter(_.bench == DriverQuery.Round5).map(_.name).toSet
    def force(df: org.apache.spark.sql.DataFrame): Long = {
      // hash-of-all-columns aggregate so column pruning can't skip work
      df.select(count(lit(1)), sum(pmod(xxhash64(struct(df.columns.map(col): _*)), lit(1000000007L))))
        .head().getLong(0)
    }
    // steady-state estimate: run twice, report the best of the two (the
    // cold run pays per-query codegen + parquet footer reads a resident
    // service amortizes; min also guards against a co-tenant burst
    // landing on the second run; both runs execute fully via the force).
    // Both legs are kept in the per-run artifact so the estimator is
    // auditable (ann_index's cold leg includes the one-time index build).
    // ann_index is the one query with a one-time setup cost: its first run
    // builds + persists the index (SparkEntry keys the path per process),
    // later runs are the steady-state query (a versioned reuse hit runs
    // zero jobs over the corpus). Mixing the two into one min() lied in
    // cross-round comparisons, so they report as separate metrics.
    val coldWarm = headline.flatMap { case DriverQuery(name, fn, _, _, _) =>
      if (name == "ann_index") {
        val (_, build) = time { force(fn(spark, sfDir)) } // index build + first query
        val (_, q1) = time { force(fn(spark, sfDir)) }    // reuse-hit query
        val (_, q2) = time { force(fn(spark, sfDir)) }
        Seq(("ann_index_build", build, build), ("ann_index_query", q1, q2))
      } else {
        val (_, cold) = time { force(fn(spark, sfDir)) }
        val (_, warm) = time { force(fn(spark, sfDir)) }
        Seq((name, cold, warm))
      }
    }
    val results = coldWarm.map { case (name, cold, warm) => name -> math.min(cold, warm) }
    val annInversionSuspect = {
      val b = results.collectFirst { case ("ann_index_build", v) => v }
      val q = results.collectFirst { case ("ann_index_query", v) => v }
      (b, q) match {
        case (Some(bs), Some(qs)) => BenchGuard.buildQueryInversionSuspect(bs, qs)
        case _ => false
      }
    }

    // north-star throughput at the configured parallelism
    val docsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
      "/tmp/graft_bench_docs")
    val warmPath = docsPath + "_warm"
    prepDocs(spark, nsDocs, docsPath)
    prepDocs(spark, math.max(nsDocs / 8, 100000), warmPath)
    val (_, nsWarm) = time { northstar(spark, warmPath) } // JIT warm
    // best-of-N: the sandbox host is shared, so single runs are noisy
    val nsRuns = (1 to repeats).map(_ => time { northstar(spark, docsPath) })
    val nRows = nsRuns.head._1
    val nsSec = nsRuns.map(_._2).min
    val rowsPerSec = nsDocs / nsSec
    spark.stop()

    // scaling evidence: same job, same input files, at N and 4N cores;
    // N = cores / 4 keeps the 4N leg within the host (a 4N above its
    // cores measures oversubscription, not scaling)
    val nCores = sys.env.get("SPARK_GRAFT_SCALE_N").map(_.toInt).getOrElse(math.max(1, nproc / 4))
    def measureLeg(cores: Int): Double = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val s = session(cores)
      time { northstar(s, warmPath) } // JIT warm
      val t = (1 to repeats).map(_ => time { northstar(s, docsPath) }._2).min
      s.stop()
      t
    }
    // Sanity guard (round-2 lesson: a co-tenant burst ate the local[4] leg
    // of a driver re-run and produced a physically impossible 2.259
    // "efficiency" that clobbered the curated report). Noise on this host is
    // one-sided — external load only slows a leg down — so re-measuring an
    // out-of-range pair and keeping the per-leg min converges on the
    // machine's true capability. Efficiency outside [0.5, 1.2] means one
    // leg was hit; re-measure up to 2 more times, else flag as suspect.
    var tN = measureLeg(nCores)
    var t4N = measureLeg(4 * nCores)
    def eff = (nsDocs / t4N) / (4.0 * (nsDocs / tN))
    var attempts = 1
    while (BenchGuard.efficiencySuspect(eff) && attempts < 3) {
      attempts += 1
      tN = math.min(tN, measureLeg(nCores))
      t4N = math.min(t4N, measureLeg(4 * nCores))
    }
    val scalingSuspect = BenchGuard.efficiencySuspect(eff)

    // Headline-leg guard (round-3 lesson: the driver artifact's local[32]
    // north-star leg read BELOW its own local[16] leg — physically
    // inverted, a co-tenant burst — and nothing flagged it). Throughput
    // must be monotone non-decreasing in cores on the same input; when the
    // headline leg violates that, re-measure it (noise is one-sided).
    var nsSecEff = nsSec
    var hAttempts = 1
    while (BenchGuard.monotoneSuspect(
        Seq((nCores, nsDocs / tN), (4 * nCores, nsDocs / t4N),
          (cpus, nsDocs / nsSecEff))) && hAttempts < 3) {
      hAttempts += 1
      nsSecEff = math.min(nsSecEff, measureLeg(cpus))
    }
    val headlineSuspect = BenchGuard.monotoneSuspect(
      Seq((nCores, nsDocs / tN), (4 * nCores, nsDocs / t4N),
        (cpus, nsDocs / nsSecEff)))

    val thr8 = nsDocs / tN
    val thr32 = nsDocs / t4N
    val efficiency = thr32 / (4.0 * thr8)

    val rowsPerSecEff = nsDocs / nsSecEff
    val loadEnd = loadavg()
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    // total = steady-state seconds of the legacy query set (cross-round
    // comparable); total_r5 adds the round-5 operators. The one-time
    // ann_index build leg is reported in queries but folded into neither.
    val steady = results.filterNot(_._1 == "ann_index_build")
    val total = steady.filterNot(p => round5.contains(p._1)).map(_._2).sum
    val totalR5 = steady.map(_._2).sum
    val suspectField = if (scalingSuspect) ",\"suspect\":true" else ""
    val hSuspectField = if (headlineSuspect) ",\"suspect\":true" else ""
    val annField = if (annInversionSuspect) ",\"ann_pair_suspect\":true" else ""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_with_r5_ops":$totalR5%.3f,"queries":$qs$annField,"sf":"$sfDir","northstar":{"docs":$nsDocs,"rows":$nRows,"sec":$nsSecEff%.3f,"docs_per_sec":$rowsPerSecEff%.0f$hSuspectField},"scaling":{"localN_docs_per_sec":$thr8%.0f,"local4N_docs_per_sec":$thr32%.0f,"efficiency":$efficiency%.3f$suspectField},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"host":{"nproc":$nproc,"mem_total_kb":$memKb}}"""
    println(json)
    if (scalingOnly) return
    // clean artifact for machine parsing (sbt prefixes stdout lines, which
    // broke the round-1 driver parse: BENCH_r01.json "parsed": null)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), json + "\n")

    // Per-run artifact ONLY — BENCH.md is a curated report (it carries the
    // cross-run distribution table) and is never auto-overwritten; the
    // round-2 driver re-run clobbered it with a noise-corrupted scaling
    // number, which is exactly what this split prevents.
    val runDir = java.nio.file.Paths.get("BENCH_runs")
    java.nio.file.Files.createDirectories(runDir)
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
      .format(java.time.LocalDateTime.now())
    java.nio.file.Files.writeString(runDir.resolve(s"run-$stamp.json"), json + "\n")
    val md =
      f"""# Bench run $stamp
         |
         |Host: local JVM, $nproc cores visible, MemTotal $memKb kB; Spark ${spark.version}
         |loadavg at end: ${scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim).getOrElse("n/a")}
         |
         |## Headline queries (sf dir: $sfDir, local[$cpus])
         |
         |Estimator: each query executes twice; reported = min(cold, warm).
         |The cold leg includes per-query codegen + parquet footer reads; a
         |resident service amortizes those, so the min is the steady-state
         |figure. ann_index reports its one-time index build
         |(ann_index_build, excluded from the total) separately from the
         |steady-state reuse-hit query (ann_index_query, two legs, min
         |reported)${if (annInversionSuspect) " — SUSPECT: the query leg exceeded the build leg (co-tenant burst); re-run on a quiet host" else ""}.
         |Both legs below for auditability.
         |
         || query | cold s | warm s | reported |
         ||---|---|---|---|
         |${coldWarm.map { case (k, c, w) => f"| $k | $c%.3f | $w%.3f | ${math.min(c, w)}%.3f |" }.mkString("\n|")}
         |
         |## North-star ($nsDocs docs): ${rowsPerSecEff.toLong} docs/s at local[$cpus]
         |
         |loadavg start/end: $loadStart / $loadEnd
         |
         || parallelism | docs/sec |
         ||---|---|
         || local[$nCores]  | $thr8%.0f |
         || local[${4 * nCores}] | $thr32%.0f |
         || local[$cpus] (headline config) | $rowsPerSecEff%.0f${if (headlineSuspect) " — SUSPECT (below the local[" + (4 * nCores) + "] leg after re-measures)" else ""} |
         |
         |Scaling efficiency local[$nCores]→local[${4 * nCores}] (N→4N cores, identical
         |input): **$efficiency%.3f**${if (scalingSuspect) " — SUSPECT (outside [0.5,1.2] after 3 re-measure attempts; treat as noise-hit, re-run on a quiet host)" else ""}
         |(guard: an efficiency outside [0.5, 1.2] triggers automatic
         |re-measurement of both legs, keeping per-leg minima — one-sided
         |co-tenant noise can only slow a leg down).
         |""".stripMargin
    java.nio.file.Files.writeString(runDir.resolve(s"run-$stamp.md"), md)
  }
}
