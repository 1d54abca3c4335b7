package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpReplace}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data pipeline operators over the `documents` /
  * `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard), text analysis (language id, quality scoring, token counting,
  * fingerprinting), and similarity search (brute-force cosine top-k, an
  * LSH-bucketed scale path and IVF).
  *
  * One hash family: every hash that reaches an output (MinHash values,
  * SimHash bits, LSH hyperplanes, fingerprints) derives from md5, which
  * every engine computes identically, so the DuckDB oracle reproduces each
  * operator bit for bit.
  *
  * Scale design: every operator is a map + hash-shuffle aggregation —
  * MinHash banding turns near-dup detection into an equi-join on
  * (band, signature-slice); SimHash keys on a 16-bit bucket; ANN's LSH path
  * buckets by random-hyperplane signs so candidate sets stay small no
  * matter the corpus size.
  */
object TrainingOps {

  // ---------------- text analysis ----------------

  /** whitespace token count (identical formula to the DuckDB oracle). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword-shaped token count: runs of letters, runs of digits,
    * and single non-alphanumeric marks (the pre-tokenizer split most BPE
    * vocabularies assume). Same regex semantics in Java regex and RE2, so
    * the DuckDB oracle reproduces it exactly. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Benchmark decontamination: flag corpus docs sharing any `n`-token
    * window with an eval-set snippet — the n-gram overlap rule web-scale
    * training corpora are scrubbed with before benchmark evaluation.
    * Tokens are the whitespace normalization the oracle mirrors
    * (lower+trim, runs collapsed). Returns (doc_id, n_hits) for flagged
    * docs.
    *
    * Scale path: the eval set is tiny next to the corpus, so it is
    * BROADCAST and the corpus never shuffles — n-gram windows generate
    * map-side (higher-order transform over the token array, inside
    * codegen) and probe the broadcast hash relation; the only exchange is
    * the final per-doc count. */
  def decontaminate(docs: DataFrame, evalGrams: DataFrame, n: Int = 13,
                    textCol: String = "text"): DataFrame = {
    // hoist the token split into a real column BEFORE the higher-order
    // transform: a split referenced inside the lambda re-evaluates per
    // window (O(tokens^2) re-tokenization — measured 4.8s -> sub-second on
    // the sf0.1 corpus)
    val toks = col("__toks")
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    docs.withColumn("__toks", normTokens(col(textCol)))
      .select(col("doc_id"), explode(grams).as("gram"))
      .join(broadcast(evalGrams.select(col("gram")).distinct()), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  /** normalized whitespace tokens (identical to the oracle's
    * string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))). */
  def normTokens(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** leading-window eval snippets: the first `n` tokens of each doc in the
    * eval subset (docs shorter than `n` tokens contribute nothing). */
  def evalSnippets(evalDocs: DataFrame, n: Int = 13,
                   textCol: String = "text"): DataFrame = {
    val toks = normTokens(col(textCol))
    evalDocs.select(toks.as("t"))
      .where(size(col("t")) >= n)
      .select(array_join(slice(col("t"), 1, n), " ").as("gram"))
  }

  /** Deterministic mixture sampling: keep each doc with its source's
    * target rate (ppm) using a seeded integer hash of the doc key — the
    * domain-mixing step of a training-data pipeline, reproducible across
    * engines and re-runs (no RNG state, no sampling drift between
    * attempts). The rates table broadcasts; the corpus never shuffles —
    * the filter is a map-side codegen'd predicate. */
  def sampleMixture(docs: DataFrame, rates: DataFrame,
                    keyCol: String = "doc_id",
                    sourceCol: String = "source"): DataFrame = {
    val h = TextFunctions.sampleHash(col(keyCol), lit(1000000L))
    docs.join(broadcast(rates), Seq(sourceCol))
      .where(h < col("rate_ppm"))
  }

  /** quality metrics: length, token count, punctuation/stopword ratios. */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
    val tokens = split(lower(trim(t)), "\\s+")
    docs
      .withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("punct_ratio",
        when(length(t) === 0, 0.0).otherwise(
          (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
            / length(t)))
      .withColumn("stopword_ratio",
        when(size(tokens) === 0, 0.0).otherwise(
          size(filter(tokens, w => w.isin(stopwords: _*))).cast("double") / size(tokens)))
      .withColumn("mean_token_len",
        when(size(tokens) === 0, 0.0).otherwise(
          aggregate(tokens, lit(0L), (acc, w) => acc + length(w)).cast("double")
            / size(tokens)))
  }

  /** n-gram-frequency language id heuristic: scores per language from
    * characteristic trigram hit counts. One single-pass expression
    * (TextFunctions.langScores) scans the text once for all 26 patterns — the
    * column-formula version ran one regexp_replace per trigram (26 scans
    * per row); outputs locked equal in TextExprsSpec. */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__ls", TextFunctions.langScores(
        concat(lit(" "), lower(col(textCol)), lit(" "))))
      .withColumn("lang_scores", map(
        TextKernels.langProfiles.flatMap { case (l, _) =>
          Seq(lit(l), col("__ls").getField(l)) }: _*))
      .withColumn("lang_pred", col("__ls").getField("pred"))
      .drop("__ls")

  // ---------------- deduplication ----------------

  /** exact dedup: ranks each group of byte-identical raw text (keyed on
    * md5 of the text as stored, with no normalization) by id and flags
    * every row but the group's min id as `is_duplicate`. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
  }

  /** 16-bit SimHash bucket over a docs frame: bit k is the majority vote
    * over the normalized words of nibble bit (k%4) of md5 hex digit
    * (13 + k/4), as the DuckDB oracle computes it, with one md5 per word
    * (TextKernels.simhashBucketShared). The tokenization is hoisted into a
    * real column so the kernel reads it once. */
  def withSimhashBucketShared(docs: DataFrame, textCol: String = "text",
                              out: String = "bucket"): DataFrame =
    docs.withColumn("__w", normTokens(col(textCol)))
      .withColumn(out, TextFunctions.simhashBucketShared(col("__w")))
      .drop("__w")

  /** word 3-shingles from a WORDS COLUMN (hoist the split into a real
    * column first: referencing the split subexpression inside the per-gram
    * lambda makes codegen re-run the regex per gram — measured 6x slower). */
  private def shinglesFromWords(words: Column): Column =
    when(size(words) < 3, array(concat_ws(" ", words)))
      .otherwise(transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1),
          element_at(words, i + 2), element_at(words, i + 3))))

  /** k-th affine rehash of a base hash (mirrored in the DuckDB oracle). */
  private def affine(h: Column, k: Int): Column =
    (h * (2 * k + 1) + (12345 + 777 * k)) % 1000000007L

  /** MinHash signature with the shared hash family over a precomputed
    * base-hash array column. */
  private def minhashSigFromBase(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map(k => array_min(transform(hs, h => affine(h, k)))): _*)

  /** MinHash+LSH near-dup pairs over word 3-shingles: each shingle's base
    * hash comes from its md5, `numHashes` affine rehashes give the
    * signature, and docs sharing any of `bands` signature slices become
    * candidates (the band key is an internal shuffle key and never reaches
    * the output). Estimated Jaccard is quantized to ppm (exact multiples of
    * 1/numHashes, so cross-engine stable). Returns (doc_a, doc_b, jacc_ppm). */
  def minhashDedupShared(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // each stage lands in a real column so codegen never re-evaluates the
    // regex/split/md5 chain inside downstream lambdas
    // the signature rides the band exchange as a FIXED-WIDTH binary
    // (numHashes x 8 bytes, big-endian per element) instead of array<long>
    // (~1.6x the bytes in UnsafeRow form), and the band key as an 8-byte
    // xxhash64 of the band's binary slice instead of a 32-char md5 hex
    // string — same candidate pairs (both key on the slice content), a
    // measurably slimmer shuffle at 10^12 rows
    val withSig = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .withColumn("w", normTokens(col("t")))
      .withColumn("grams", shinglesFromWords(col("w")))
      .withColumn("hs", transform(col("grams"),
        g => conv(substring(md5(g), 1, 7), 16, 10).cast("long")))
      .withColumn("sig", minhashSigFromBase(col("hs"), numHashes))
      .withColumn("sigb", to_binary(array_join(
        transform(col("sig"), h => lpad(hex(h), 16, "0")), ""), lit("hex")))
      .select(col("id"), col("sigb"))
    val banded = withSig.withColumn("band",
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_id"),
          xxhash64(substring(col("sigb"), b * rowsPerBand * 8 + 1,
            lit(rowsPerBand * 8))).as("band_key")))))
      .select(col("id"), col("sigb"), col("band.band_id"), col("band.band_key"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    // compute the signature agreement inside the join projection and
    // dedup on the 3-column result — carrying both full signatures through
    // the distinct exchange shuffled ~10x more bytes for the same rows
    val agree = (0 until numHashes).map { k =>
      when(substring(col("a.sigb"), k * 8 + 1, 8) ===
        substring(col("b.sigb"), k * 8 + 1, 8), 1).otherwise(0)
    }.reduce(_ + _)
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        (agree.cast("double") / numHashes).as("jacc"))
      .where(col("jacc") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jacc") * 1e6).cast("long").as("jacc_ppm"))
      .distinct()
  }

  /** brute-force cosine top-k over double-cast embeddings, ranked on the
    * ppm-quantized similarity (cross-engine-stable ordering; ties break on
    * c_id). Returns (q_id, c_id, cos_ppm, rnk). */
  def annBruteQuantized(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), doubles(col("embedding")).as("q_vec"))
    val c = corpus.select(col("vec_id").as("c_id"), doubles(col("embedding")).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("c_id"))
      .withColumn("cos_ppm",
        round(cosine(col("q_vec"), col("c_vec")) * 1e6).cast("long"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_ppm").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("q_id", "c_id", "cos_ppm", "rnk")
  }

  /** md5-derived rational hyperplane component in [-1, 1]:
    * (first8hex(md5("t,p,d")) % 2001 - 1000) / 1000 — computable identically
    * in SQL, so the LSH bucketing is cross-engine-verifiable. */
  private def sharedPlane(t: Int, p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t,$p,$d".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  /** an embedding array cast element-wise to double. */
  private[spark] def doubles(c: Column): Column = transform(c, x => x.cast("double"))

  /** (tbl, b) bucket structs for a `dim`-long `vec` under the md5-derived
    * hyperplanes (`tables` tables of `planes` sign bits) — THE one LSH
    * bucketing, shared by annLshShared, embeddingDedupShared and the
    * persisted AnnIndex (identical bucketing is what lets the index reuse
    * the in-memory paths' oracles). */
  private[spark] def bucketsFor(vec: Column, dim: Int, planes: Int,
                                tables: Int): Column = {
    val hyper = Array.tabulate(tables, planes, dim)((t, p, d) => sharedPlane(t, p, d))
    val perTable = hyper.indices.map { t =>
      val bits = hyper(t).indices.map { p =>
        val dot = aggregate(zip_with(vec,
          typedLit(hyper(t)(p).toSeq), (x, h) => x * h), lit(0.0d), (s, v) => s + v)
        when(dot >= 0, lit(1L << p)).otherwise(0L)
      }
      struct(lit(t).as("tbl"), bits.reduce(_ + _).as("b"))
    }
    array(perTable: _*)
  }

  /** LSH-bucketed ANN (the scale path): `tables` independent
    * random-hyperplane hash tables of `planes` sign bits each, with the
    * md5-derived planes of bucketsFor; a query probes its bucket in every
    * table and candidates are deduped before exact cosine scoring on the
    * ppm-quantized similarity, so every number is reproducible in the
    * DuckDB oracle. Recall ~ 1-(1-p^planes)^tables. */
  def annLshShared(queries: DataFrame, corpus: DataFrame, k: Int,
                   planes: Int = 6, tables: Int = 8): DataFrame = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    def buckets(vec: Column): Column = bucketsFor(vec, dim, planes, tables)
    val c = corpus.select(col("vec_id").as("c_id"), doubles(col("embedding")).as("c_vec"))
      .withColumn("bucket", explode(buckets(col("c_vec"))))
    val q = queries.select(col("vec_id").as("q_id"), doubles(col("embedding")).as("q_vec"))
      .withColumn("bucket", explode(buckets(col("q_vec"))))
    scoreTopK(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** Shared exact-scoring tail of the candidate ANN paths: self-filter,
    * candidate dedup, ppm-quantized cosine, per-query top-k with c_id
    * tie-breaks. annLshShared, annIvf and the persisted AnnIndex all call
    * THIS — annLshShared and AnnIndex must stay byte-identical (they share
    * one oracle), so the ranking logic must never fork. Input needs columns
    * (q_id, q_vec, c_id, c_vec). */
  private[spark] def scoreTopK(cand: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .where(col("q_id") =!= col("c_id"))
      .select("q_id", "q_vec", "c_id", "c_vec")
      .dropDuplicates("q_id", "c_id")
      .withColumn("cos_ppm",
        round(cosine(col("q_vec"), col("c_vec")) * 1e6).cast("long"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_ppm").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("q_id", "c_id", "cos_ppm", "rnk")
  }

  /** Character-window chunking for long documents: fixed `size` windows
    * with `overlap` characters shared between neighbors (stride =
    * size - overlap) — the op that turns documents into model-ready
    * training windows. Pure Catalyst (sequence + explode + substring,
    * integer `div` arithmetic an independent SQL engine reproduces
    * exactly); empty docs yield no chunks; the final chunk is the
    * remainder (never padded). Adds (chunk_idx, chunk). */
  def withChunks(docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"withChunks: need size > overlap >= 0 (got size=$size overlap=$overlap)")
    val stride = size - overlap
    docs.where(length(col("text")) > 0)
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0, greatest((length(text) - $overlap + $stride - 1) div $stride, 1) - 1)")))
      .withColumn("chunk", expr(s"substring(text, 1 + chunk_idx * $stride, $size)"))
  }

  /** PII scrubbing for training corpora: emails, phone-like digit runs and
    * long numeric ids become typed placeholders. The patterns use only the
    * regex subset RE2 and Java interpret identically (char classes +
    * bounded repetition — no backreferences/lookarounds), so an
    * independent engine reproduces the scrub byte-for-byte. Order
    * matters: emails first (so their digits aren't half-eaten), then
    * phones, then bare long ids. The phone run must span >= 11 chars so
    * ISO dates (2024-08-17, 10 chars) and dd-mm-yyyy survive — dates are
    * signal in training text, not PII. */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "\\+?\\d[\\d\\-]{9,}\\d"
  private val PiiIdRe = "\\d{6,}"

  def scrubPii(text: Column): Column = Bridge.column(scrubPiiExpr(Bridge.expression(text)))

  /** scrubPii as a resolved Catalyst tree, shared with graft_scrub_pii (a
    * Column built from `regexp_replace` would carry UnresolvedFunction
    * nodes, which an injected SQL function cannot return). */
  private[spark] def scrubPiiExpr(text: Expression): Expression = {
    val email = RegExpReplace(text, Literal(PiiEmailRe), Literal("<EMAIL>"))
    val phone = RegExpReplace(email, Literal(PiiPhoneRe), Literal("<PHONE>"))
    RegExpReplace(phone, Literal(PiiIdRe), Literal("<NUM>"))
  }

  /** whole-document md5 fingerprint over whitespace-normalized text —
    * cross-engine identical. */
  def fingerprintShared(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** embedding-cosine near-dup pairs: LSH-bucketed candidates (shared
    * md5-derived hyperplanes — same family as annLshShared) verified by
    * exact double cosine >= threshold. Returns (vec_a, vec_b, cos_ppm).
    * Scale: candidates come from bucket equi-joins, never all-pairs. */
  def embeddingDedupShared(vectors: DataFrame, thresholdPpm: Long,
                           planes: Int = 6, tables: Int = 8): DataFrame = {
    val dim = vectors.select(size(col("embedding"))).head().getInt(0)
    val v = vectors.select(col("vec_id"), doubles(col("embedding")).as("v"))
      .withColumn("bucket", explode(bucketsFor(col("v"), dim, planes, tables)))
    val a = v.select(col("vec_id").as("vec_a"), col("v").as("va"), col("bucket"))
    val b = v.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b", "va", "vb")
      .dropDuplicates("vec_a", "vec_b")
      .withColumn("cos_ppm", round(cosine(col("va"), col("vb")) * 1e6).cast("long"))
      .where(col("cos_ppm") >= thresholdPpm)
      .select("vec_a", "vec_b", "cos_ppm")
  }

  /** IVF (inverted-file) ANN: centroids trained by `iters` rounds of
    * DataFrame k-means (deterministic init: the first `nlist` corpus
    * vectors), corpus assigned to its nearest centroid ONCE, queries probe
    * the `nprobe` nearest lists and score candidates exactly. The model
    * (nlist x dim doubles) lives on the driver/broadcast — the data never
    * leaves the cluster; candidate generation is a cluster-id equi-join.
    * With iters = 0 the assignment is closed-form over the fixed seed
    * centroids, which is what the driver oracle replicates. */
  def annIvf(queries: DataFrame, corpus: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4, iters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val corp = corpus.select(col("vec_id").as("c_id"), doubles(col("embedding")).as("cv"))

    var centroids: Seq[(Int, Seq[Double])] = corp.where(col("c_id") < nlist)
      .orderBy("c_id").collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getAs[scala.collection.Seq[Double]]("cv").toSeq) }
      .toSeq

    def centDF(cs: Seq[(Int, Seq[Double])]): DataFrame =
      cs.toDF("cid", "centv")

    def assign(df: DataFrame, vecCol: String, cs: Seq[(Int, Seq[Double])],
               topN: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(centDF(cs)))
        .withColumn("cs", cosine(col(vecCol), col("centv")))
      if (topN == 1)
        // nearest-centroid argmax as a map-side-combinable aggregate: the
        // nlist candidate rows per vector collapse BEFORE the exchange
        // (partial max_by), vs a row_number window that would shuffle and
        // sort all nlist x N rows just to take rank 1. Tie-break matches
        // the window ordering (highest cs, then lowest cid).
        scored.groupBy(col(vecCol + "_id"))
          .agg(first(col(vecCol)).as(vecCol),
            max_by(col("cid"), struct(col("cs"), -col("cid"))).as("cid"))
      else {
        val w = Window.partitionBy(col(vecCol + "_id"))
          .orderBy(col("cs").desc, col("cid"))
        scored.withColumn("crnk", row_number().over(w))
          .where(col("crnk") <= topN)
          .drop("centv", "crnk")
      }
    }

    var it = 0
    while (it < iters) {
      // one k-means round: assign, then elementwise mean per cluster
      val asg = assign(corp.withColumnRenamed("c_id", "cv_id"), "cv", centroids, 1)
      val means = asg.select(col("cid"), posexplode(col("cv")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .groupBy("cid").agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cid"), transform(col("ms"), s => s.getField("m")).as("centv"))
        .collect()
        .map(r => (r.getInt(0), r.getAs[scala.collection.Seq[Double]]("centv").toSeq))
        .toSeq.sortBy(_._1)
      centroids = means
      it += 1
    }

    val assigned = assign(corp.withColumnRenamed("c_id", "cv_id"), "cv", centroids, 1)
      .select(col("cv_id").as("c_id"), col("cv").as("c_vec"), col("cid"))
    val q = queries.select(col("vec_id").as("q_id"), doubles(col("embedding")).as("qv"))
    val probes = assign(q.withColumnRenamed("q_id", "qv_id"), "qv", centroids, nprobe)
      .select(col("qv_id").as("q_id"), col("qv").as("q_vec"), col("cid"))
    scoreTopK(assigned.join(broadcast(probes), Seq("cid")), k)
  }

  /** n-gram Jaccard similarity between two text columns (exact, for the
    * verify phase of near-dup candidates). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    def grams(t: Column) = {
      val words = normTokens(t)
      array_distinct(when(size(words) < n, array(concat_ws(" ", words)))
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*))))
    }
    val ga = grams(a); val gb = grams(b)
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb))
  }

  // ---------------- similarity search ----------------

  /** cosine similarity of two float-array columns via zip_with/aggregate
    * (codegen'd higher-order functions, no UDF). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (s, v) => s + v))
    // zero-norm vectors exist in real corpora; define their similarity as 0
    // instead of dividing by zero (which throws under ANSI mode)
    when(na * nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** brute-force cosine top-k: queries × corpus with a per-query window.
    * The correctness baseline for the ANN paths. */
  def annBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("q_id", "c_id", "cos", "rnk")
  }

  /** Connected components over an undirected pair list → (node, cluster_id
    * = min node id in the component). The dedup-cluster step of a training
    * pipeline: near-dup PAIRS (minhash/simhash/embedding) become groups so
    * one representative per group survives.
    *
    * Iterative min-label propagation: each round, every node takes the
    * minimum label among itself and its neighbours (one shuffled join +
    * map-side-combinable min aggregate per round), converging in
    * graph-diameter rounds. Near-dup graphs have tiny diameters (dup
    * groups are near-cliques), so 2-4 rounds is typical; the iteration is
    * capped and lineage is truncated per round so the plan stays flat at
    * any scale. For adversarial long-chain graphs the alternating
    * large-star/small-star contraction (Kiveris et al.) drops rounds to
    * O(log n); the propagation core below is the building block either
    * way. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dstLabel")), "dst")
        .groupBy(col("src").as("node")).agg(min("dstLabel").as("nbrMin"))
      val updated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("newLabel"))
        .localCheckpoint(true)
      changed = updated.where(col("newLabel") < col("label")).count()
      labels = updated.select(col("node"), col("newLabel").as("label"))
      iter += 1
    }
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Near-dup clusters over the shared-hash minhash pairs: every document
    * that appears in a candidate pair, labelled with its cluster id (the
    * component's min doc_id) and the cluster size — the exact input a
    * keep-one-representative dedup filter consumes. */
  def dedupClustersShared(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val pairs = minhashDedupShared(docs, "doc_id", "text", numHashes, bands, threshold)
      .select("doc_a", "doc_b")
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("node").as("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** End-to-end near-dup dedup: the corpus minus every cluster member
    * except one representative per cluster (longest text, doc_id as the
    * tie-break — "keep the richest copy"). Unclustered docs pass through.
    * Plan shape: the cluster labels (small — only docs that hit a candidate
    * pair) broadcast against the corpus; representative choice is a
    * per-cluster top-1 window over that small set only. */
  def dedupNearShared(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    val labels = dedupClustersShared(docs, numHashes, bands, threshold)
      .select("doc_id", "cluster_id")
    val members = d.join(labels, "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(length(col("text")).desc, col("doc_id"))
    val reps = members.withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1).select("doc_id", "text")
    val untouched = d.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
    untouched.unionByName(reps)
      .select(col("doc_id"), md5(col("text")).as("fp"))
  }
}
