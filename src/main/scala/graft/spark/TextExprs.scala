package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text kernels: the md5-derived SimHash bucket vote, the
  * sampling hash and language-id trigram scoring as one-scan Catalyst
  * expressions, reached through the `StaticInvoke`s built by TextExprs.
  *
  * The column-formula versions these replace were correct but re-scanned
  * their input per bit / per trigram: the 16-bit SimHash bucket
  * recomputed one md5 PER WORD PER BIT (16×), and langId ran one
  * regexp_replace over the text per profile trigram (26×). On the
  * dominant text pass of a 100 TB corpus that constant matters; each
  * kernel here reads its input exactly once per row. The old formulas are
  * locked against these in TextExprsSpec.
  */
object TextKernels {

  /** seeded uniform in [0, m): the LCG step with Java wrap semantics,
    * then a sign-safe mod (mirrored by the oracle's HUGEINT emulation). */
  def sampleHash(key: Long, m: Long): Long = {
    val s = key * 6364136223846793005L + 1442695040888963407L
    ((s % m) + m) % m
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 16-bit shared SimHash bucket: bit k is the majority vote over words
    * of nibble bit (k%4) of md5 HEX DIGIT (13 + k/4), 1-based — exactly
    * the md5-substring derivation the DuckDB oracle computes, but with
    * ONE md5 per word instead of one per (word, bit). */
  def simhashBucketShared(words: ArrayData): Long = {
    val counts = new Array[Int](16)
    val md = md5Local.get()
    val n = words.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val digest = md.digest(words.getUTF8String(i).getBytes)
      // hex digits 13..16 (1-based) = high/low nibbles of bytes 6 and 7
      var k = 0
      while (k < 16) {
        val pos = 12 + k / 4 // 0-based hex-digit index
        val byte = digest(pos / 2) & 0xff
        val digit = if (pos % 2 == 0) byte >> 4 else byte & 0xf
        if (((digit >> (k % 4)) & 1) == 1) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 16) { if (counts(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  /** Language profiles: insertion order IS the tie-break order (first
    * language reaching the max score wins, matching the previous
    * map-based argmax). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" th", "the", "he ", " an", "and", "ing", " of"),
    "es" -> Seq(" de", "de ", " la", "os ", "ión", " el", "ent"),
    "fr" -> Seq(" de", "es ", " le", "ent", "de ", " la", "ion"),
    "de" -> Seq("en ", "er ", "ch ", " de", "ein", "sch", "die"))

  // flattened pattern table: per pattern its UTF-8 bytes and the language
  // slots it contributes to (duplicated grams like "ent" in es+fr and
  // " de" in es/fr/de contribute to several)
  private val langPatterns: Array[(Array[Byte], Array[Int])] = {
    val byGram = scala.collection.mutable.LinkedHashMap.empty[String, List[Int]]
    for (((_, grams), li) <- langProfiles.zipWithIndex; g <- grams)
      byGram(g) = li :: byGram.getOrElse(g, Nil)
    byGram.map { case (g, ls) => (g.getBytes("UTF-8"), ls.reverse.toArray) }.toArray
  }
  private val langNames: Array[UTF8String] =
    langProfiles.map(p => UTF8String.fromString(p._1)).toArray

  /** One scan over the prepared text (" " + lower(text) + " "): per
    * pattern, count NON-OVERLAPPING occurrences greedily left-to-right
    * (the same count regexp_replace-then-length-diff produced), summed
    * into per-language scores; returns (en, es, fr, de, pred). All
    * patterns start with an ASCII or UTF-8 lead byte, so byte-level
    * matches are always character-aligned. */
  def langScores(prepared: UTF8String): InternalRow = {
    val bytes = prepared.getBytes
    val nPat = langPatterns.length
    val counts = new Array[Int](nPat)
    val nextOk = new Array[Int](nPat)
    var i = 0
    while (i < bytes.length) {
      var p = 0
      while (p < nPat) {
        if (i >= nextOk(p)) {
          val pat = langPatterns(p)._1
          if (i + pat.length <= bytes.length) {
            var j = 0
            while (j < pat.length && bytes(i + j) == pat(j)) j += 1
            if (j == pat.length) {
              counts(p) += 1
              nextOk(p) = i + pat.length
            }
          }
        }
        p += 1
      }
      i += 1
    }
    val scores = new Array[Int](langProfiles.length)
    var p = 0
    while (p < nPat) {
      val ls = langPatterns(p)._2
      var q = 0
      while (q < ls.length) { scores(ls(q)) += counts(p); q += 1 }
      p += 1
    }
    var best = 0
    var li = 1
    while (li < scores.length) { if (scores(li) > scores(best)) best = li; li += 1 }
    new GenericInternalRow(Array[Any](
      scores(0), scores(1), scores(2), scores(3), langNames(best)))
  }
}

/** Expression-level builders of the text kernels, one `StaticInvoke` of a
  * TextKernels method each; a result is nullable exactly when an argument
  * is. */
object TextExprs {
  private def call(fn: String, dataType: DataType, args: Seq[Expression],
                   inputTypes: DataType*): Expression =
    StaticInvoke(TextKernels.getClass, dataType, fn, args, inputTypes,
      returnNullable = false)

  private val langScoresType: StructType = StructType(
    TextKernels.langProfiles.map(p =>
      StructField(p._1, IntegerType, nullable = false)) :+
      StructField("pred", StringType, nullable = false))

  /** 16-bit shared (md5-derived) SimHash bucket of a words array. */
  def simhashBucketShared(words: Expression): Expression =
    call("simhashBucketShared", LongType, Seq(words), ArrayType(StringType))

  /** trigram-profile language scores + argmax prediction in one text scan;
    * input must already be " " + lower(text) + " " (prepared Spark-side so
    * the kernel stays a pure byte scan). */
  def langScores(prepared: Expression): Expression =
    call("langScores", langScoresType, Seq(prepared), StringType)

  /** seeded sampling hash in [0, m): Java two's-complement LCG wrap +
    * sign-safe mod — ANSI-mode Column arithmetic would raise on the
    * intentional overflow, so the wrap lives in the kernel. */
  def sampleHash(key: Expression, m: Expression): Expression =
    call("sampleHash", LongType, Seq(key, m), LongType, LongType)
}

/** Column API for the single-pass text expressions. */
object TextFunctions {
  import org.apache.spark.sql.graftbridge.Bridge
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def sampleHash(key: Column, m: Column): Column =
    col(TextExprs.sampleHash(ex(key), ex(m)))
  def simhashBucketShared(words: Column): Column =
    col(TextExprs.simhashBucketShared(ex(words)))
  def langScores(prepared: Column): Column = col(TextExprs.langScores(ex(prepared)))
}
