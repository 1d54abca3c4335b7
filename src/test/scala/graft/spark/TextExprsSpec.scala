package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks the single-pass text kernels (simhashBucketShared, langScores)
  * bit-for-bit against the multi-scan column formulas they replaced — the
  * formulas are reproduced here verbatim as the reference implementation.
  * KernelCallSpec runs them through generated code. */
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
        TextFunctions.simhashBucketShared(words).as("neu"))
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
}
