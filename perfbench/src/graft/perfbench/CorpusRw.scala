package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spark.{AnnIndex, MediaFunctions, Snapshots, TrainingOps}

/** corpus_rw: writes beside reads on the same tables. Each batch ingests
  * the next of two docs slices (MinHash dedup, SimHash buckets, snapshot
  * commit), decodes the slice's JPEG media into feature embeddings, builds an ANN
  * index over them, then answers several k=10 query batches against it.
  * Dedup is shuffle-bound; no geo kernel runs. */
final class CorpusRw(spark: SparkSession, val seed: Long, tr: Tracer) extends Workload {
  import CorpusRw._

  private var dir = ""
  private var docs: Array[Array[Gen.GDoc]] = Array.empty
  private var media: Map[String, Gen.GMedia] = Map.empty
  private val ingests = ArrayBuffer.empty[Ingest]
  private val readSeconds = ArrayBuffer.empty[Double]
  private var lastQuery: DataFrame = _
  private var lastQueryRows = 0

  private def docsPath(s: Int) = s"$dir/docs/slice=$s"
  private def mediaPath(s: Int) = s"$dir/media/slice=$s"
  private def table = s"$dir/out/snapshots"
  private def embPath(a: Int) = s"$dir/out/emb/attempt=$a"
  private def indexPath(a: Int) = s"$dir/out/index/attempt=$a"

  def setup(d: String): Unit = {
    dir = d
    docs = Array.tabulate(Slices)(s => Gen.docs(seed, s, PerSlice))
    val parts = spark.sparkContext.defaultParallelism
    val mediaSchema = StructType(Seq(StructField("media_ref", StringType),
      StructField("payload", BinaryType)))
    val made = for (s <- 0 until Slices) yield {
      Workload.write(spark, docs(s).toSeq.map(Workload.docRow), Workload.DocsSchema, docsPath(s), parts)
      val ms = docs(s).flatMap(_.spans.filter(_.kind == "media").map(sp => Gen.media(seed, sp.mediaRef)))
      Workload.write(spark, ms.toSeq.map(m => Row(m.ref, m.payload)), mediaSchema, mediaPath(s), parts)
      ms
    }
    media = made.flatten.map(m => m.ref -> m).toMap
    ingests.clear(); readSeconds.clear()
  }

  private def withText(df: DataFrame): DataFrame =
    df.withColumn("text", concat_ws(" ",
      transform(filter(col("spans"), s => s.getField("kind") === "text"), s => s.getField("text"))))

  private def dedupPairs(s: Int): DataFrame = tr.span("TrainingOps.minhashDedupShared") {
    TrainingOps.minhashDedupShared(withText(spark.read.parquet(docsPath(s))), "doc_id", "text")
  }

  private def decoded(s: Int): DataFrame =
    spark.read.parquet(mediaPath(s)).select(
      xxhash64(col("media_ref")).as("vec_id"), col("media_ref"),
      MediaFunctions.mediaInfo(col("payload")).as("info"),
      MediaFunctions.jpegPixelStats(col("payload")).as("px"),
      MediaFunctions.mediaFeature(col("payload"), lit(Dim)).as("embedding"))
      .select(col("vec_id"), col("media_ref"), col("info.width").as("width"),
        col("info.height").as("height"), col("px.n_px").as("n_px"),
        col("px.px_sum").as("px_sum"), col("embedding"))

  def batch(attempt: Int): Long = {
    val s = math.floorMod(attempt, Slices)
    val input = withText(spark.read.parquet(docsPath(s)))
    val pairs = dedupPairs(s)
    val survivors = input.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val bucketed = tr.span("TrainingOps.withSimhashBucketShared") {
      TrainingOps.withSimhashBucketShared(survivors, "text", "bucket")
    }.withColumn("part", pmod(col("bucket"), lit(Parts)))
    val snap = tr.span("Snapshots.commit") {
      Snapshots.commit(bucketed, table, "part", "bucket", s"perfbench slice=$s attempt=$attempt")
    }
    tr.span("MediaFunctions.decode") {
      decoded(s).write.mode("overwrite").parquet(embPath(attempt))
    }
    tr.span("AnnIndex.build") {
      AnnIndex.build(spark.read.parquet(embPath(attempt)).select("vec_id", "embedding"),
        indexPath(attempt), planes = Planes, tables = Tables)
    }
    val answers = (0 until Reads).map { r =>
      val q = spark.read.parquet(embPath(attempt))
        .where(pmod(col("vec_id") + r, lit(QueryEvery)) === 0).select("vec_id", "embedding")
      val (rows, secs) = Workload.seconds(tr.span("AnnIndex.query") {
        lastQuery = AnnIndex.query(spark, indexPath(attempt), q, K)
        lastQuery.collect()
      })
      lastQueryRows = rows.map(_.getAs[Long]("q_id")).distinct.length
      if (attempt >= 0) readSeconds += secs
      rows.map(x => (x.getAs[Long]("q_id"), x.getAs[Long]("c_id"),
        x.getAs[Long]("cos_ppm"), x.getAs[Int]("rnk")))
    }
    ingests += Ingest(attempt, s, snap, answers)
    PerSlice
  }

  /** Checks a sample: the first and the last ingest. */
  def check(): Map[Int, String] = {
    val sample = (ingests.take(1) ++ ingests.takeRight(1)).distinctBy(_.attempt)
    sample.flatMap(i => checkIngest(i).map(i.attempt -> _)).toMap
  }

  private def checkIngest(in: Ingest): Option[String] = {
    // dedup survivors: a subset of the input with unchanged spans
    val ck = (df: DataFrame) => df.select(col("doc_id"), xxhash64(to_json(col("spans"))).as("ck"))
    val got = ck(Snapshots.read(spark, table, in.snapshot))
    val want = ck(spark.read.parquet(docsPath(in.slice)))
    val nGot = got.count()
    val bad = got.join(want.withColumnRenamed("ck", "ck_in"), Seq("doc_id"), "left")
      .where(col("ck_in").isNull || col("ck_in") =!= col("ck")).count()
    if (bad > 0) return Some(s"snapshot ${in.snapshot}: $bad survivors not in the input unchanged")
    if (nGot == 0 || nGot >= PerSlice)
      return Some(s"snapshot ${in.snapshot}: $nGot survivors of $PerSlice docs")
    // decode: header and pixel sums against the JDK's own decoder
    val emb = spark.read.parquet(embPath(in.attempt)).collect()
    for (r <- emb) {
      val m = media(r.getAs[String]("media_ref"))
      val n = m.width.toLong * m.height
      if (r.getAs[Any]("width") != m.width || r.getAs[Any]("height") != m.height ||
        r.getAs[Any]("n_px") != n)
        return Some(s"media ${m.ref}: decoded ${r.getAs[Any]("width")}x${r.getAs[Any]("height")}, " +
          s"n_px ${r.getAs[Any]("n_px")}, want ${m.width}x${m.height}")
      val meanDiff = math.abs(r.getAs[Long]("px_sum") - m.pxSum).toDouble / n
      if (meanDiff > MaxMeanPixelDiff)
        return Some(s"media ${m.ref}: mean pixel differs by $meanDiff from the JDK decoder")
    }
    // ANN answers: every asked query gets the exact top-k by brute-force
    // cosine among the vectors sharing an LSH bucket with it (AnnIndex's
    // documented md5 hyperplanes), itself excluded; scores may differ by 1
    // ppm from rounding, so ties at equal ppm may swap ids
    val vecs = emb.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val keys = vecs.map { case (v, x) => v -> bucketKeys(x) }
    val postings = keys.toSeq.flatMap { case (v, ks) => ks.map(_ -> v) }.groupMap(_._1)(_._2)
    for ((rows, r) <- in.answers.zipWithIndex) {
      val asked = vecs.keys.filter(v => math.floorMod(v + r, QueryEvery.toLong) == 0).toSeq
      val byQ = rows.groupBy(_._1)
      if (!byQ.keySet.subsetOf(asked.toSet))
        return Some(s"read $r: ${(byQ.keySet -- asked).size} answered queries were not asked")
      for (q <- asked) {
        val got = byQ.getOrElse(q, Array.empty).sortBy(_._4).toSeq
        val ppm = (keys(q).flatMap(postings).toSet - q).map(c => c -> cosPpm(vecs(q), vecs(c))).toMap
        val want = ppm.toSeq.sortBy(x => (-x._2, x._1)).take(K)
        if (got.length != want.length)
          return Some(s"read $r q$q: ${got.length} answers, ${want.length} of ${ppm.size} candidates wanted")
        if (got.map(_._4) != (1 to got.length))
          return Some(s"read $r q$q: ranks ${got.map(_._4).mkString(",")}")
        if (got.map(_._2).distinct.length != got.length)
          return Some(s"read $r q$q: an answer repeats")
        for (((_, c, p, rnk), (_, wp)) <- got.zip(want)) {
          if (!vecs.contains(c)) return Some(s"read $r q$q: c$c is not in the corpus")
          if (!ppm.contains(c)) return Some(s"read $r q$q: c$c shares no bucket with the query")
          if (math.abs(ppm(c) - p) > 1) return Some(s"read $r q$q c$c: cos_ppm $p, brute force ${ppm(c)}")
          if (math.abs(wp - p) > 1) return Some(s"read $r q$q rank $rnk: cos_ppm $p, exact top-k has $wp")
        }
      }
    }
    None
  }

  /** (table, bucket) keys of a vector under the shared md5 hyperplanes, as
    * AnnIndex.build hashes it: bit p of table t is set when the dot product
    * with plane (t, p), summed in index order, is >= 0. */
  private def bucketKeys(v: Array[Double]): Seq[(Int, Long)] =
    (0 until Tables).map { t =>
      t -> (0 until Planes).map { p =>
        var dot = 0.0; var d = 0
        while (d < v.length) { dot += v(d) * Plane(t)(p)(d); d += 1 }
        if (dot >= 0) 1L << p else 0L
      }.sum
    }

  private def cosPpm(a: Array[Double], b: Array[Double]): Long = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    math.round(d / math.sqrt(na * nb) * 1e6)
  }

  override def extraMetrics(): Seq[(String, Double, String)] = {
    val reads = readSeconds.toSeq
    val tail = Stats.tail(reads)
    val inBytes = (0 until Slices).map(s =>
      Workload.dirBytes(docsPath(s)) + Workload.dirBytes(mediaPath(s))).toArray
    // bytes written per ingest (its snapshot plus its index) per input byte
    val ratios = ingests.toSeq.map(i =>
      (Workload.dirBytes(f"$table/snapshot-${i.snapshot}%06d") +
        Workload.dirBytes(indexPath(i.attempt))).toDouble / inBytes(i.slice))
    Seq(("read_p50_s", Stats.median(reads), "s")) ++
      tail.toSeq.flatMap { case (p, v) =>
        Seq(("read_tail_s", v, "s"), ("read_tail_pct", p, "%"), ("read_samples", reads.length.toDouble, "count"))
      } ++
      Seq(("storage_bytes_per_input_byte", Stats.median(ratios), "B/B"))
  }

  def layerMetrics(clock: TaskClock, kernels: Map[String, Double]): Seq[(String, Double, String)] = {
    // prefix actions over one slice, in executor task seconds (median of 3)
    val reps = 3
    val dedup = dedupPairs(0)
    val dedupT = clock.median(reps)(dedup.collect())
    // band candidates: the band self-join's rows; accepted: rows kept by
    // the threshold filter (both summed over the reps)
    val ops = Workload.operators(dedup)
    val joinRows = ops.filter(_.nodeName.contains("Join")).map(Workload.metric(_, "numOutputRows")).sum
    val acceptRows = ops.collect { case f: org.apache.spark.sql.execution.FilterExec => f }
      .map(Workload.metric(_, "numOutputRows")).sum
    val mediaSpans = docs(0).map(_.spans.count(_.kind == "media")).sum
    val decodeT = clock.median(reps)(decoded(0).agg(sum(col("px_sum"))).collect())
    val last = ingests.last
    def parquetFiles(path: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try st.filter(_.toString.endsWith(".parquet")).count() finally st.close()
    }
    val scanned = Workload.operators(lastQuery).filter(_.nodeName.contains("Scan"))
      .map(Workload.metric(_, "numFiles")).sum
    Seq(
      ("training.dedup_s_per_mrow", dedupT / (PerSlice / 1e6), "s/Mrow"),
      ("training.candidate_pairs_per_doc", joinRows.toDouble / reps / PerSlice, "pairs/doc"),
      ("training.accept_ratio", if (joinRows > 0) acceptRows.toDouble / joinRows else Double.NaN, "ratio"),
      ("media.decode_s_per_kspan", decodeT / (mediaSpans / 1e3), "s/kspan"),
      ("ann.index_files", parquetFiles(indexPath(last.attempt)).toDouble, "count"),
      ("ann.index_bytes", Workload.dirBytes(indexPath(last.attempt)).toDouble, "B"),
      ("ann.files_scanned_per_query", scanned.toDouble / lastQueryRows, "count"),
      ("snapshots.files_per_commit", parquetFiles(f"$table/snapshot-${last.snapshot}%06d").toDouble, "count"))
  }

  def coords: Array[(Double, Double)] =
    docs.head.filter(!_.lon.isNaN).map(g => (g.lon, g.lat))

  override def payloads: Array[Array[Byte]] = media.values.map(_.payload).toArray

  def inputStamp: Map[String, Any] = Map("slices" -> Slices, "docs_per_slice" -> PerSlice,
    "media" -> media.size,
    "input_bytes" -> (Workload.dirBytes(s"$dir/docs") + Workload.dirBytes(s"$dir/media")))
}

object CorpusRw {
  final case class Ingest(attempt: Int, slice: Int, snapshot: Int,
                          answers: Seq[Array[(Long, Long, Long, Int)]])
  val Slices = 2
  val PerSlice = 1000
  val Parts = 4
  val Dim = 16
  val Planes = 4
  val Tables = 4
  val Reads = 2
  val QueryEvery = 32
  val K = 10
  /** AnnIndex's "shared" hyperplane family: component d of plane p of
    * table t comes from the md5 of "t,p,d". */
  val Plane: Array[Array[Array[Double]]] = Array.tabulate(Tables, Planes, Dim) { (t, p, d) =>
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(s"$t,$p,$d".getBytes("UTF-8"))
    val word = md5.take(4).foldLeft(0L)((acc, b) => acc << 8 | (b & 0xffL))
    (word % 2001 - 1000) / 1000.0
  }
  /** JPEG decoders may round the IDCT differently; grey levels. */
  val MaxMeanPixelDiff = 2.0
}
