package graft.spark

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, ProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** DocsTable.withAnchor against the column formula it
  * replaced, with `try_cast` in place of `cast`:
  * `try_cast(try_element_at(split(text, ' '), i) AS DOUBLE)` over the text
  * of the first geo span. Every comparison is bit for bit, through both
  * the interpreted and the generated-code path. */
class AnchorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val paths: Seq[(String, SparkSession)] = Seq(
    "interpreted" -> EvalPaths.interpreted(spark),
    "codegen" -> EvalPaths.codegenOnly(spark))

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(spanType))))

  private def span(kind: String, text: String): Row = Row(kind, text, "", 0)
  private def geoDoc(text: String): Seq[Row] = Seq(span("geo", text))

  private def docsOf(s: SparkSession, docs: Seq[Seq[Row]]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(docs.zipWithIndex.map { case (spans, i) =>
      Row(f"doc_$i%06d", spans)
    }: _*), docsSchema)

  private def reference(spans: Column): Seq[Column] = {
    val text = try_element_at(filter(spans, s => s.getField("kind") === "geo"), lit(1))
      .getField("text")
    val parts = split(text, " ")
    (1 to 4).map(i => try_element_at(parts, lit(i)).try_cast("double"))
  }

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  /** withAnchor's columns per doc, checked against the reference (a
    * separate query: its lambda would take the anchor's operator out of
    * whole-stage codegen). */
  private def checkAgainstReference(docs: DataFrame, path: String): Map[String, Seq[Any]] = {
    def perDoc(df: DataFrame): Map[String, Seq[Any]] =
      df.collect().map(r => r.getString(0) -> (1 to 4).map(r.get)).toMap
    val df = DocsTable.withAnchor(docs).select(col("doc_id") +: DocsTable.anchorColumns.map(col): _*)
    val got = perDoc(df)
    if (path == "codegen")
      assert(EvalPaths.inCodegenStage(df).exists(_.isInstanceOf[GenerateExec]),
        df.queryExecution.executedPlan.toString)
    val want = perDoc(docs.select(col("doc_id") +: reference(col("spans")): _*))
    assert(got.keySet == want.keySet)
    for ((doc, vs) <- got; i <- 0 until 4)
      assert(bits(vs(i)) == bits(want(doc)(i)),
        s"$path: ${DocsTable.anchorColumns(i)} of $doc: ${vs(i)} vs try_cast ${want(doc)(i)}")
    got
  }

  test("DocsTable.docs anchors equal try_cast of the split geo text") {
    for ((path, s) <- paths) {
      val got = checkAgainstReference(DocsTable.docs(s, 3000, seed = 7L, partitions = 4), path)
      val withGeo = got.values.count(_.head != null)
      assert(withGeo > 0.9 * got.size && withGeo < got.size, s"$path: $withGeo of ${got.size}")
      assert(got.values.filter(_.head != null).forall(_.forall(_ != null)))
    }
  }

  private def decimalTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    // %.0f .. %.12f at several magnitudes; then digit runs of up to 20
    // integer and 26 fraction digits (past 15 significant, past 22 fraction)
    def fixed(): String = {
      val mag = Seq(1.0, 180.0, 1e4, 1e9, 1e-4)(rnd.nextInt(5))
      String.format(Locale.ROOT, s"%.${rnd.nextInt(13)}f", (rnd.nextDouble() * 2 - 1) * mag)
    }
    def digits(k: Int): String = Seq.fill(k)(('0' + rnd.nextInt(10)).toChar).mkString
    def long(): String = (if (rnd.nextBoolean()) "-" else "") + digits(1 + rnd.nextInt(20)) +
      (if (rnd.nextInt(4) == 0) "" else "." + digits(rnd.nextInt(27)))
    Seq.fill(n)(Seq.fill(4)(if (rnd.nextInt(3) == 0) long() else fixed()).mkString(" "))
  }

  test("kernel: random decimal tokens parse as Double.parseDouble does") {
    for (text <- decimalTexts(11L, 50000)) {
      val got = DocGenKernels.anchor(new GenericArrayData(Array[Any](UTF8String.fromString("geo"))),
        new GenericArrayData(Array[Any](UTF8String.fromString(text))))
      text.split(" ").zipWithIndex.foreach { case (tok, i) =>
        assert(bits(got.getDouble(i)) == bits(java.lang.Double.parseDouble(tok)), s"'$tok' in '$text'")
      }
    }
  }

  test("random decimal anchors equal try_cast, interpreted and codegen") {
    val docs = decimalTexts(12L, 3000).map(geoDoc)
    for ((path, s) <- paths) checkAgainstReference(docsOf(s, docs), path)
  }

  test("malformed anchors give null or a value, never an error") {
    val texts = Seq(
      "abc 35.5 10 2020", "139.5  35.5 10", "139.5 35.5", "139.5", "", " 139.5 35.5",
      "139.5 35.5 ", "NaN Infinity -Infinity inf", "1e5 1E-3 +1.5 .", "- -. .5 5.",
      "1.5d 0x1p3 1_000 ١٢", "1.5\t2 3 \t4\t", "-0 -0.0 +0 0.000",
      "12345678901234567890 0.1234567890123456789 9007199254740993 00000000000000000012.5",
      "0.00000000000000000000000001 1.7976931348623157e309 4.9e-324 1e-400",
      "é1 1é 1,5 1.2.3")
    val structural = Seq(
      Seq(span("geo", null)),
      Seq(span(null, "1 2"), span("geo", "3 4")),
      Seq(span("text", "1 2"), span("media", "")),
      Seq(span("text", "the geo"), span("media", ""), span("geo", "5 6 7 8")),
      Seq(span("geo", "x y"), span("geo", "1 2")),
      Seq(span("geo", null), span("geo", "1 2")),
      Seq(null, span("geo", "9 10")),
      Seq(span("GEO", "1 2"), span("geo ", "3 4")),
      Seq.empty,
      null)
    val docs = texts.map(geoDoc) ++ structural
    for ((path, s) <- paths) {
      val got = checkAgainstReference(docsOf(s, docs), path)
      def at(i: Int): Seq[Any] = got(f"doc_$i%06d")
      val n = texts.length
      assert(at(0) == Seq(null, 35.5, 10.0, 2020.0), path)
      assert(at(1) == Seq(139.5, null, 35.5, 10.0), path)
      assert(at(2) == Seq(139.5, 35.5, null, null), path)
      assert(at(n + 1) == Seq(3.0, 4.0, null, null), path)
      assert(at(n + 3) == Seq(5.0, 6.0, 7.0, 8.0), path)
      for (i <- Seq(n, n + 2, n + 4, n + 5, n + 7, n + 8, n + 9))
        assert(at(i) == Seq(null, null, null, null), s"$path: doc $i")
      assert(at(n + 6) == Seq(9.0, 10.0, null, null), path)
    }
  }

  test("span fields are found by name, and a span struct without them is refused") {
    val reordered = StructType(Seq(StructField("offset", IntegerType),
      StructField("text", StringType), StructField("extra", LongType),
      StructField("kind", StringType)))
    val docs = spark.createDataFrame(java.util.Arrays.asList(
      Row("a", Seq(Row(0, "1 2 3 4", 5L, "text"), Row(1, "5.5 -6.25", 7L, "geo")))),
      StructType(Seq(StructField("doc_id", StringType),
        StructField("spans", ArrayType(reordered)))))
    val r = DocsTable.withAnchor(docs).select(DocsTable.anchorColumns.map(col): _*).head()
    assert(r.toSeq == Seq(5.5, -6.25, null, null))
    val noText = docs.select(col("doc_id"),
      transform(col("spans"), s => struct(s.getField("kind").as("kind"))).as("spans"))
    intercept[IllegalArgumentException](DocsTable.withAnchor(noText))
    intercept[IllegalArgumentException](
      DocsTable.withAnchor(docs.withColumn("spans", lit("1 2"))))
  }

  test("a parquet scan under withAnchor reads only the spans' kind and text") {
    val dir = java.nio.file.Files.createTempDirectory("anchor_scan")
    try {
      val path = dir.resolve("docs").toString
      DocsTable.docs(spark, 200, partitions = 2).write.parquet(path)
      val df = DocsTable.withAnchor(spark.read.parquet(path))
        .select(col("doc_id") +: DocsTable.anchorColumns.map(col): _*)
      assert(df.where(col("lon").isNotNull).count() > 0)
      val read = df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.requiredSchema.simpleString
      }
      assert(read.nonEmpty, df.queryExecution.sparkPlan.toString)
      read.foreach(rs => assert(rs.contains("kind") && rs.contains("text") &&
        !rs.contains("media_ref") && !rs.contains("offset"), s"ReadSchema $rs"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("north-star pipeline: no codegen fallback, anchor Filter/Project in whole-stage codegen") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.collect().nonEmpty)
    val ops = EvalPaths.operators(df)
    val fallbacks = ops.flatMap(_.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e.prettyName
    }))
    assert(fallbacks.isEmpty, s"CodegenFallback expressions in the executed plan: $fallbacks")
    // the anchor is parsed once in a Generate, filtered on `lon IS NOT
    // NULL` and projected with the kernels
    val anchorOps = ops.filter {
      case _: GenerateExec | _: FilterExec => true
      case p: ProjectExec => p.projectList.exists(_.name == "lon")
      case _ => false
    }
    assert(anchorOps.exists(_.isInstanceOf[GenerateExec]) &&
      anchorOps.exists(_.isInstanceOf[FilterExec]) &&
      anchorOps.exists(_.isInstanceOf[ProjectExec]), df.queryExecution.executedPlan.toString)
    val staged = EvalPaths.inCodegenStage(df)
    anchorOps.foreach(op => assert(staged.exists(_ eq op),
      s"not in whole-stage codegen: ${op.simpleString(200)}\n${df.queryExecution.executedPlan}"))
  }
}
