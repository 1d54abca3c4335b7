package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks the single-pass text expressions (SimHash64Expr,
  * SimHashSharedExpr, LangScoresExpr) bit-for-bit against the multi-scan
  * column formulas they replaced — the formulas are reproduced here
  * verbatim as the reference implementation — and checks that the
  * primitive-return kernels compile as generated code. */
class TextExprsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // deterministic multilingual-ish corpus incl. edge cases: empty, one
  // word, repeated words, accents (multi-byte UTF-8), punctuation runs
  private lazy val texts: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "and", "of", "thing", "la", "nación", "de",
      "los", "le", "entente", "sch", "ein", "die", "der", "ingénieur",
      "información", "escuela", "Über", "touché", "x")
    Seq("", "the", "  ", "ión ión ión", "the the the and of",
      "la información de la nación", "le schéma de l'entente",
      "ein schönes sch die der") ++
      (0 until 60).map(_ =>
        Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.length)))
          .mkString(" "))
  }

  private def normWords(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  test("SimHash64Expr equals the 64-aggregate column formula") {
    val words = normWords(col("text"))
    val hashes = transform(words, w => xxhash64(w))
    val oldBits = (0 until 64).map { bit =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, lit(1L) * lit(1L << bit)).otherwise(0L)
    }.reduce(_ + _)
    val rows = texts.toDF("text")
      .select(oldBits.as("old"), TrainingOps.simhash(col("text")).as("neu"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("SimHashSharedExpr equals the 16-aggregate md5 column formula") {
    val words = normWords(col("text"))
    val oldBits = (0 until 16).map { k =>
      val pos = 13 + k / 4
      val shift = k % 4
      val vote = aggregate(words, lit(0), (acc, w) => {
        val digit = conv(substring(md5(w), pos, 1), 16, 10).cast("int")
        acc + when(shiftright(digit, shift).bitwiseAND(1) === 1, 1).otherwise(-1)
      })
      when(vote > 0, lit(1L << k)).otherwise(0L)
    }.reduce(_ + _)
    val rows = texts.toDF("text")
      .select(oldBits.as("old"),
        TrainingOps.simhashBucketSharedFromWords(words).as("neu"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("LangScoresExpr equals the per-trigram regexp formula (scores + argmax)") {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq(" th", "the", "he ", " an", "and", "ing", " of"),
      "es" -> Seq(" de", "de ", " la", "os ", "ión", " el", "ent"),
      "fr" -> Seq(" de", "es ", " le", "ent", "de ", " la", "ion"),
      "de" -> Seq("en ", "er ", "ch ", " de", "ein", "sch", "die"))
    val t = concat(lit(" "), lower(col("text")), lit(" "))
    def score(lang: String): Column =
      profiles(lang).map(g =>
        (length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(g), "")))
          / g.length).reduce(_ + _)
    val oldScored = texts.toDF("text")
      .withColumn("lang_scores", map(
        profiles.keys.toSeq.flatMap(l => Seq(lit(l), score(l))): _*))
      .withColumn("lang_pred",
        expr("map_keys(lang_scores)[array_position(map_values(lang_scores), array_max(map_values(lang_scores))) - 1]"))
      .select("text", "lang_scores", "lang_pred")
    val newScored = TrainingOps.withLangId(texts.toDF("text"))
      .select("text", "lang_scores", "lang_pred")
    val oldRows = oldScored.collect().map(r =>
      (r.getString(0), r.getMap[String, Int](1).toMap, r.getString(2)))
    val newRows = newScored.collect().map(r =>
      (r.getString(0), r.getMap[String, Int](1).toMap, r.getString(2)))
    assert(oldRows.sortBy(_._1).toSeq == newRows.sortBy(_._1).toSeq)
  }

  test("primitive-return kernels run under CODEGEN_ONLY and match the interpreted path") {
    def run(s: SparkSession): (Seq[Seq[Any]], DataFrame) = {
      val words = when(col("id") % 10 === 0, lit(null)).otherwise(
        split(format_string("w%d x%d w%d y%d",
          col("id") % 7, col("id") % 13, col("id") % 5, col("id")), " "))
      val df = s.range(0, 500).select(col("id"),
        TextFunctions.simhash64(words), TextFunctions.simhashBucketShared(words),
        TextFunctions.sampleHash(col("id"), lit(97L)),
        TextFunctions.sampleHash(col("id"), lit(null).cast("long")))
      (df.collect().map(_.toSeq).toSeq, df)
    }
    val (cg, cgDf) = run(EvalPaths.codegenOnly(spark))
    val (interp, _) = run(EvalPaths.interpreted(spark))
    assert(EvalPaths.inCodegenStage(cgDf).exists(_.isInstanceOf[ProjectExec]),
      cgDf.queryExecution.executedPlan.toString)
    assert(cg == interp)
    assert(cg.count(_(1) == null) == 50 && cg.forall(_(4) == null))
    assert(cg.forall(r => r(3).asInstanceOf[Long] >= 0 && r(3).asInstanceOf[Long] < 97))
  }
}
