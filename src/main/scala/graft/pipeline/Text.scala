package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.LocalPath

/** Text-analysis operators for large-scale training-data pipelines
  * (driver mandate — beyond the reference surface; SURVEY.md §7.2 step 9).
  *
  * Everything here is pure `functions._` column algebra — codegen'd, no
  * UDFs, fully pushdown/prune-friendly, embarrassingly parallel at 100 TB
  * (per-row, no shuffle).
  */
object Text {

  /** Distinct-word bound of [[bpeTrain]]'s driver-local training. */
  private val BpeLocalMaxVocab = 2000000L

  /** Normalize for fingerprinting: lowercase, collapse whitespace, trim.
    * The whitespace class is written out explicitly (= Java's `\s`)
    * because RE2-based engines exclude U+000B from `\s` — with the
    * explicit class the DuckDB oracle sees identical semantics even on
    * documents containing a vertical tab. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Exact document fingerprint = md5 of the normalized text. Identical
    * semantics exist in every engine (the DuckDB oracle uses md5()). */
  def fingerprint(text: Column): Column = md5(normalized(text).cast("binary"))

  /** HTML → text extraction — the boilerplate-stripping front door of a
    * web-crawl curation pipeline (trafilatura-shaped, heuristic tier):
    * drop script/style blocks with their content, drop comments and all
    * remaining tags, decode the common entities, collapse whitespace.
    * Pure codegen'd column algebra (a chain of regexp_replace/replace —
    * zero shuffle, zero UDF) and every regex avoids backreferences so the
    * SAME patterns replay verbatim in RE2-based engines (the DuckDB
    * oracle runs them unchanged). */
  def htmlExtract(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTag = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val ent = Seq("&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<",
      "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'")
      .foldLeft(noTag) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    // explicit class (= Java \s): RE2 excludes U+000B from \s, so this is
    // what keeps the 'replays verbatim in RE2' claim true for VT input
    trim(regexp_replace(ent, "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** Whitespace token count. Typed bigint to match what every SQL engine
    * (and the DuckDB oracle) emits for a count — keeping spark int here was
    * a latent driver-hash type mismatch (OracleTypeLintSpec). */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish token count: word pieces = letter runs, digit runs, or single
    * non-space symbols (a cheap, deterministic proxy for subword counts). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Corpus vocabulary: term frequency + document frequency per lowercased
    * whitespace word, top-`topK` by (tf desc, word asc). The corpus-release
    * staple behind tokenizer training, IDF weighting, and OOV audits.
    *
    * Scale shape: explode + hash aggregate (map-side partial combine, one
    * shuffle on the word); document frequency is a two-phase distinct
    * aggregate Catalyst expands itself; the top-k is a TakeOrdered — no
    * global sort materializes. */
  def vocab(df: DataFrame, textCol: String, idCol: String,
            topK: Int = 1000): DataFrame = {
    require(topK > 0, "topK must be positive")
    df.select(col(idCol).as("__doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("__doc")).as("df"))
      .orderBy(col("tf").desc, col("word").asc)
      .limit(topK)
  }

  /** Per-document n-gram NOVELTY curve — the corpus-growth/diminishing-
    * returns signal: processing documents in id order, how many of each
    * document's distinct word n-grams have never been seen in any EARLIER
    * document? A crawl whose novelty stops falling is still finding new
    * language; one that decays to ~0 is re-crawling itself (the
    * aggregate-level complement of [[Dedup.substringSpans]]' span flags).
    * A gram's first document is its min id — so the per-doc novel count
    * is exactly "grams whose first occurrence lives here".
    *
    * Scale shape: per-doc DISTINCT positioned n-gram fingerprints are a
    * codegen'd projection (NgramWindowHashes + array_distinct, no
    * shuffle); the first-document attribution is ONE map-side-combined
    * min aggregation on the 8-byte hash; one join back on that same hash
    * and a per-doc count. Nothing is corpus² and the only row-scale
    * shuffle carries 16-byte (hash, id) pairs. Returns
    * (id, n_ngrams, n_novel, novelty), novelty = 0.0 for docs shorter
    * than n. */
  def noveltyCurve(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val spark = df.sparkSession
    val fname = s"ngram_window_hashes_$n"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.NgramWindowHashes(exprs.head, n), "scala_udf")
    // null text -> empty gram set (n_ngrams 0, novelty 0.0), matching the
    // oracle's range(0) fold instead of propagating a null array into size()
    val perDoc = df
      .select(col(idCol).as("id"),
        coalesce(array_distinct(call_function(fname,
          filter(split(lower(trim(col(textCol))), "\\s+"),
            w => length(w) > 0))), array().cast("array<long>")).as("__gs"))
      .select(col("id"), size(col("__gs")).as("n_ngrams"),
        explode_outer(col("__gs")).as("__gh"))
    val first = perDoc.filter(col("__gh").isNotNull)
      .groupBy("__gh").agg(min(col("id")).as("__fid"))
    perDoc.join(first, Seq("__gh"), "left")
      .groupBy("id", "n_ngrams")
      .agg(coalesce(sum(when(col("__fid") === col("id"), 1L).otherwise(0L)),
        lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_ngrams") > 0,
          col("n_novel").cast("double") / col("n_ngrams")).otherwise(0.0))
  }

  /** [[noveltyCurve]] over TIME windows — novelty per crawl DAY, the live
    * crawl-health signal (r13 VERDICT #4): a crawl whose daily novelty
    * decays to ~0 is re-fetching what it already has, and the day it
    * happens is visible, not just the corpus-order trend. Documents are
    * dated by joining `times` (timeKeyCol -> the doc id, tsCol -> its
    * crawl timestamp; re-crawled keys date to their FIRST fetch via min),
    * then a gram's first DAY is attributed by one min aggregation.
    *
    * Scale shape: the doc->day join is id-keyed row-scale; per-day
    * distinct grams is one (day, hash) distinct shuffle; first-day is one
    * map-side-combined min on the 8-byte gram hash; everything after is
    * day-scale (calendar-bounded). No per-day windows, nothing corpus².
    * Returns (day 'yyyy-MM-dd', n_docs, n_grams, n_novel, novelty) where
    * n_grams counts the day's distinct grams and novelty =
    * n_novel/n_grams (0.0 on gram-free days). Docs with no crawl record
    * are undateable and excluded (inner join). */
  /** Per-document DISTINCT word-n-gram hash sets `(id, __gs array<long>)`
    * — the shared gram representation of [[noveltyDaily]] and the
    * incremental-crawl e2e (native codegen'd window hashes; gram-free
    * docs get an empty array, not null).
    *
    * COLLISION CONVENTION (shared by every consumer of this frame —
    * `text_novelty_daily`, `pipeline_incremental_e2e`): "distinct grams"
    * means distinct 64-BIT GRAM HASHES. The DuckDB oracles count
    * distinct gram STRINGS, so oracle parity additionally asserts the
    * hash is collision-free on the test corpus — by the birthday bound,
    * ~2e-8 for a million distinct grams in a 64-bit space, and a
    * collision would surface as a deterministic count mismatch, not
    * silence. At 100 TB (~1e12 grams) collisions exist (~30 expected)
    * and the REPORTED novelty is the hash-distinct count, a documented
    * under-count of <<1ppm — the standard sketch trade. */
  def gramHashSets(docs: DataFrame, textCol: String, idCol: String,
                   n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val spark = docs.sparkSession
    val fname = s"ngram_window_hashes_$n"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.NgramWindowHashes(exprs.head, n), "scala_udf")
    docs.select(col(idCol).as("id"),
      coalesce(array_distinct(call_function(fname,
        filter(split(lower(trim(col(textCol))), "\\s+"),
          w => length(w) > 0))), array().cast("array<long>")).as("__gs"))
  }

  def noveltyDaily(docs: DataFrame, textCol: String, idCol: String,
                   times: DataFrame, timeKeyCol: String, tsCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val days = times.groupBy(col(timeKeyCol).as("id"))
      .agg(min(col(tsCol)).as("__ts"))
      .select(col("id"), date_format(col("__ts"), "yyyy-MM-dd").as("day"))
    val perDoc = gramHashSets(docs, textCol, idCol, n).join(days, Seq("id"))
    val dayGram = perDoc
      .select(col("day"), explode(col("__gs")).as("__gh")).distinct()
    val firstDay = dayGram.groupBy("__gh").agg(min(col("day")).as("__fd"))
    val dayStats = dayGram.join(firstDay, Seq("__gh"))
      .groupBy("day").agg(count(lit(1)).as("n_grams"),
        sum(when(col("__fd") === col("day"), 1L).otherwise(0L)).as("n_novel"))
    perDoc.groupBy("day").agg(count(lit(1)).as("n_docs"))
      .join(dayStats, Seq("day"), "left")
      .select(col("day"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") > 0,
          col("n_novel").cast("double") / col("n_grams")).otherwise(0.0))
  }

  /** Tokenizer-budget COVERAGE curve: for each candidate vocabulary size
    * k, the share of all corpus tokens covered by the k most frequent
    * word types (ties broken word-asc) — the how-big-a-vocab-do-I-need /
    * OOV-rate-vs-budget tradeoff read before training a tokenizer.
    *
    * Scale shape: ONE word-count aggregation (the row-scale shuffle,
    * map-side combined), the corpus total from the same vocab-scale
    * table, and a TakeOrdered of max(sizes) rows to the driver — bounded
    * by the requested budget, NEVER a global window over the vocabulary.
    * coverage = covered/total is one division of exact int64s. Returns
    * (vocab_size, covered_tokens, total_tokens, coverage) per size. */
  def oovCurve(df: DataFrame, textCol: String,
               sizes: Seq[Int] = Seq(100, 500, 1000, 5000)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), s"sizes must be positive: $sizes")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = counts.agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
      val top = counts.orderBy(col("tf").desc, col("word").asc)
        .limit(sizes.max).select(col("tf")).as[Long].collect()
      val prefix = top.scanLeft(0L)(_ + _)
      sizes.sorted.map { k =>
        val covered = prefix(math.min(k, top.length))
        (k, covered, total,
          if (total > 0) covered.toDouble / total else 0.0)
      }.toDF("vocab_size", "covered_tokens", "total_tokens", "coverage")
    } finally counts.unpersist(blocking = false)
  }

  /** Good-Turing frequency-of-frequencies report — the classic answer to
    * "how much of the language have we actually crawled": n_r = number of
    * word types seen exactly r times; the Turing estimate of UNSEEN
    * probability mass is p0 = n_1/N (singleton share), and the smoothed
    * adjusted count r* = (r+1)·n_{r+1}/n_r quantifies how much observed
    * frequencies should shrink toward the tail. A corpus whose p0 is
    * still large needs more crawling, not more epochs.
    *
    * Exactness: counts-of-counts are int64 all the way; p0 and each r*
    * are single divisions of exact integers — engine-identical doubles.
    * Shape: word count (the only row-scale shuffle, map-side combined) →
    * count-of-counts (vocab-scale) → a maxR-row result. Returns
    * (r, n_r, r_star — null when n_{r+1}=0, p_unseen) for r ≤ maxR. */
  def goodTuring(df: DataFrame, textCol: String, maxR: Int = 10): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1: $maxR")
    val words = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("__r"))
    val coc = words.groupBy(col("__r").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = words.agg(sum(col("__r")).as("__n"), // N = total tokens
      sum(when(col("__r") === 1, 1L).otherwise(0L)).as("__n1"))
    val nextC = coc.select((col("r") - 1).as("r"), col("n_r").as("__n_next"))
    coc.filter(col("r") <= maxR)
      .join(nextC, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        ((col("r") + 1).cast("double") * col("__n_next") / col("n_r")).as("r_star"),
        (col("__n1").cast("double") / col("__n")).as("p_unseen"))
  }

  /** Jensen–Shannon divergence between two corpora's unigram word
    * distributions — the symmetric, bounded ([0, ln 2]) corpus-comparison
    * statistic (crawl snapshot vs snapshot, domain vs domain, release vs
    * release), finite WITHOUT eps floors: with m = (p+q)/2, every p>0
    * term has m>0, and absent-side terms contribute 0 by the 0·ln(0)
    * convention. Tokenization matches [[vocab]] (lowercased,
    * whitespace-split, empties dropped).
    *
    * Scale shape: one map-side-combined word count per corpus (the only
    * row-scale shuffles), a vocab-scale full-outer join keyed by word,
    * totals as broadcast one-row aggregates, one final sum — nothing
    * driver-side, vocabulary never collected. Returns ONE row
    * (n_a, n_b, vocab_a, vocab_b, vocab_shared, js_nats, js_norm) with
    * js_norm = js_nats/ln 2 in [0, 1]. */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, n: String): DataFrame =
      df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as(n))
    val ca = counts(a, "na"); val cb = counts(b, "nb")
    val joined = ca.join(cb, Seq("word"), "full_outer")
      .withColumn("na", coalesce(col("na"), lit(0L)))
      .withColumn("nb", coalesce(col("nb"), lit(0L)))
    val tots = joined.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
      count(when(col("na") > 0, 1)).as("vocab_a"),
      count(when(col("nb") > 0, 1)).as("vocab_b"),
      count(when(col("na") > 0 && col("nb") > 0, 1)).as("vocab_shared"))
    // ANSI-proof: an empty side has t = 0 and its per-word proportion is
    // definitionally 0 (the when() guards keep its log terms out anyway)
    val p = when(col("ta") > 0, col("na").cast("double") / col("ta")).otherwise(lit(0.0))
    val q = when(col("tb") > 0, col("nb").cast("double") / col("tb")).otherwise(lit(0.0))
    val m = (p + q) / lit(2.0)
    joined.crossJoin(broadcast(tots))
      .select(col("ta"), col("tb"), col("vocab_a"), col("vocab_b"),
        col("vocab_shared"),
        (when(col("na") > 0, p * log(p / m)).otherwise(lit(0.0)) * lit(0.5) +
          when(col("nb") > 0, q * log(q / m)).otherwise(lit(0.0)) * lit(0.5))
          .as("contrib"))
      .groupBy("ta", "tb", "vocab_a", "vocab_b", "vocab_shared")
      .agg(sum(col("contrib")).as("__js"))
      // one-side-empty guard: p = 0/0 is NaN-poisonous — an empty corpus
      // has no distribution, so js is null (both-empty returns NO rows:
      // the vocab join is empty)
      .withColumn("__ok", col("ta") > 0 && col("tb") > 0)
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        col("vocab_a"), col("vocab_b"), col("vocab_shared"),
        when(col("__ok"), col("__js")).as("js_nats"),
        when(col("__ok"), col("__js") / lit(math.log(2.0))).as("js_norm"))
  }

  /** Collocation mining: top-`topK` adjacent word pairs by pointwise mutual
    * information, PMI = ln( P(x,y) / (P(x)·P(y)) ) with P(x,y) = c_xy/N_bg
    * over bigrams and P(x) = c_x/N_w over unigrams — the tokenizer-merge /
    * multi-word-expression signal. `minCount` prunes the rare-pair noise
    * PMI is notorious for (a pair seen once scores arbitrarily high).
    *
    * Scale shape: one shuffle keyed by bigram + one keyed by word (both
    * map-side combined); the two unigram joins run AFTER the minCount
    * filter so they only touch surviving pairs; corpus totals ride in as
    * one broadcast row; top-k is a TakeOrderedAndProject. Words are
    * lowercased, whitespace-split, empties dropped. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
                   topK: Int = 100): DataFrame = {
    require(topK > 0, "topK must be positive")
    val words = df.withColumn("__w",
      filter(split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0))
    // sequence(1, n-1) would run DESCENDING for n < 2 (Spark auto-steps
    // down) and fabricate pairs — guard short docs to an empty array
    val bigrams = words
      .select(explode(when(size(col("__w")) >= 2,
        transform(sequence(lit(1), size(col("__w")) - 1),
          i => struct(element_at(col("__w"), i).as("w1"),
            element_at(col("__w"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val unigrams = words.select(explode(col("__w")).as("w"))
    val uniCounts = unigrams.groupBy("w").agg(count(lit(1)).as("n"))
    val totals = broadcast(bigrams.agg(count(lit(1)).as("nb"))
      .crossJoin(unigrams.agg(count(lit(1)).as("nw"))))
    bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
      .join(uniCounts.select(col("w").as("w1"), col("n").as("n_x")), Seq("w1"))
      .join(uniCounts.select(col("w").as("w2"), col("n").as("n_y")), Seq("w2"))
      .crossJoin(totals)
      .withColumn("pmi", round(log(
        (col("n_xy").cast("double") / col("nb")) /
          ((col("n_x").cast("double") / col("nw")) *
            (col("n_y").cast("double") / col("nw")))), 6))
      .select("w1", "w2", "n_xy", "n_x", "n_y", "pmi")
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Context-window chunking: split each document's word stream into
    * overlapping windows of `chunkWords` words every `strideWords` words —
    * the retrieval-index / context-length prep step (stride < chunk ⇒
    * overlap keeps boundary-spanning content findable). One generator
    * explode per document, zero shuffle, codegen'd end to end; the words
    * array is materialized as a real column FIRST so the per-chunk lambda
    * slices an attribute (a non-attribute expression named inside a
    * higher-order-function lambda is re-evaluated per element — the
    * O(words²) trap NOTES.md documents).
    *
    * Output: (idCol, chunk_id, chunk_words, chunk_text); documents shorter
    * than one window yield exactly one (possibly short) chunk. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                chunkWords: Int, strideWords: Int): DataFrame = {
    require(chunkWords > 0, "chunkWords must be positive")
    require(strideWords > 0 && strideWords <= chunkWords,
      s"strideWords must be in [1, chunkWords]: $strideWords")
    val nChunks = greatest(lit(1L),
      (ceil((col("__nw") - chunkWords).cast("double") / strideWords) + 1).cast("long"))
    df.withColumn("__w", split(trim(col(textCol)), "\\s+"))
      .withColumn("__nw", size(col("__w")))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => array_join(slice(col("__w"), (i * strideWords + 1).cast("int"),
            lit(chunkWords)), " "))).as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_words", wsTokenCount(col("chunk_text")))
      .select(col(idCol), col("chunk_id"), col("chunk_words"), col("chunk_text"))
  }

  /** Quality signals: length, word count, mean word length, punctuation
    * ratio, stopword ratio — the standard cheap text-quality features. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = wsTokenCount(t)
    val chars = length(t)
    val punct = size(regexp_extract_all(t, lit("[\\.,;:!\\?]"), lit(0)))
    val stop = stopwordHits(t, Seq("the", "a", "of", "and", "to", "in"))
    df.withColumn("n_chars_measured", chars)
      .withColumn("n_words", words)
      .withColumn("mean_word_len",
        when(words > 0, (chars - (words - 1)).cast("double") / words))
      .withColumn("punct_ratio",
        when(chars > 0, punct.cast("double") / chars).otherwise(0.0))
      .withColumn("stopword_ratio",
        when(words > 0, stop.cast("double") / words).otherwise(0.0))
  }

  /** Linear quality-classifier inference (the fastText/logreg-style corpus
    * quality filter) as pure codegen'd column algebra:
    * score = sigmoid(bias + Σ w_f · feature_f) over [[qualityFeatures]]
    * columns. The weight vector rides the plan as literals, so model
    * inference at corpus scale is a zero-shuffle projection that fuses into
    * the scan — no UDF, no broadcast, replayable as ANSI SQL. */
  def classifierScore(df: DataFrame, textCol: String,
                      weights: Map[String, Double], bias: Double = 0.0,
                      out: String = "quality_score"): DataFrame = {
    val feats = qualityFeatures(df, textCol)
    require(weights.keySet.subsetOf(feats.columns.toSet),
      s"unknown feature(s): ${weights.keySet.diff(feats.columns.toSet).mkString(", ")}")
    val lin = weights.toSeq.sortBy(_._1).foldLeft(lit(bias)) {
      case (acc, (f, w)) => acc + col(f) * lit(w)
    }
    feats.withColumn(out, lit(1.0) / (lit(1.0) + exp(-lin)))
  }

  /** Count of whitespace-delimited tokens equal to any of `words`. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    filter(split(trim(lower(text)), "\\s+"),
      tok => words.map(w => tok === lit(w)).reduce(_ || _)).pipe(size)

  private implicit class Pipe[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }

  /** Marker lexicons for the n-gram/stopword language-ID heuristic. Tiny on
    * purpose: language ID at pipeline scale is a per-row scoring pass; the
    * lexicon rides along as a literal in the plan (no broadcast needed). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "有", "我"))

  /** Heuristic language ID: score = stopword hits per language, prediction =
    * first language (in `langMarkers` order) achieving the max score;
    * "und" (undetermined) when no marker hits at all. The scoring chain is
    * deterministic and SQL-expressible so the same decision procedure can be
    * replayed by the DuckDB oracle. */
  def langId(df: DataFrame, textCol: String, out: String = "pred_lang"): DataFrame = {
    val t = col(textCol)
    val scored = langMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      // spaceless scripts (zh) score by marker SUBSTRING occurrences —
      // whitespace tokens never equal a single hanzi in running text
      val score =
        if (lang == "zh")
          markers.map(m => size(regexp_extract_all(t, lit(m), lit(0)))).reduce(_ + _)
        else stopwordHits(t, markers)
      d.withColumn(s"score_$lang", score)
    }
    val scores = langMarkers.map { case (l, _) => col(s"score_$l") }
    val maxScore = greatest(scores: _*)
    val pred = langMarkers.foldLeft(when(maxScore === 0, "und")) {
      case (acc, (lang, _)) => acc.when(col(s"score_$lang") === maxScore, lang)
    }
    scored.withColumn(out, pred)
      .drop(langMarkers.map { case (l, _) => s"score_$l" }: _*)
  }

  /** Gopher-style document-quality rules (Rae et al. 2021 §A1.1, public):
    * per-document signals plus the keep/reject decision, as pure codegen'd
    * column algebra — per-row, zero shuffle, replayable in SQL. Signals:
    * word count bounds, mean word length bounds, symbol-to-word ratio
    * (# and ellipsis), bullet-line and ellipsis-line ratios, fraction of
    * words containing an alphabetic character, and the count of required
    * English stop words present. */
  def gopherQualityFlags(df: DataFrame, textCol: String,
                         minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = filter(split(trim(t), "\\s+"), w => length(w) > 0)
    val nWords = size(words)
    val wordChars = aggregate(transform(words, w => length(w)), lit(0), (a, x) => a + x)
    val meanWordLen = when(nWords > 0, wordChars.cast("double") / nWords).otherwise(0.0)
    val symbols = size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
    val symbolRatio = when(nWords > 0, symbols.cast("double") / nWords).otherwise(0.0)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val alphaRatio = when(nWords > 0, alphaWords.cast("double") / nWords).otherwise(0.0)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
    val bulletRatio = when(nLines > 0, bulletLines.cast("double") / nLines).otherwise(0.0)
    val ellipsisLines = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$")))
    val ellipsisRatio = when(nLines > 0, ellipsisLines.cast("double") / nLines).otherwise(0.0)
    val lw = transform(words, w => lower(w))
    val reqStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => array_contains(lw, w).cast("int")).reduce(_ + _)
    df.withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("symbol_word_ratio", symbolRatio)
      .withColumn("alpha_word_ratio", alphaRatio)
      .withColumn("bullet_line_ratio", bulletRatio)
      .withColumn("ellipsis_line_ratio", ellipsisRatio)
      .withColumn("n_req_stopwords", reqStops)
      .withColumn("gopher_keep",
        nWords.between(minWords, maxWords) &&
          meanWordLen.between(3.0, 10.0) &&
          symbolRatio < 0.1 &&
          alphaRatio >= 0.8 &&
          bulletRatio <= 0.9 &&
          ellipsisRatio <= 0.3 &&
          reqStops >= 2)
  }

  /** Conservative PII patterns — dialect-neutral (no lookaround/backrefs)
    * so Java regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\+?\\d[\\d()\\- ]{7,}\\d"

  /** PII scrubbing (standard pre-training hygiene): per-document match
    * counts on the raw text plus a redacted copy with typed placeholders
    * (<EMAIL> before <IP> before <PHONE> — emails contain dots and digits,
    * so order is part of the contract). Pure codegen'd column algebra,
    * zero shuffle. */
  def redactPii(df: DataFrame, textCol: String, out: String = "redacted"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailPattern), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhonePattern), lit(0))))
      .withColumn(out,
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailPattern, "<EMAIL>"),
            Ipv4Pattern, "<IP>"),
          PhonePattern, "<PHONE>"))
  }

  /** Most-frequent element count of a SORTED array: one linear pass over
    * equal-adjacent runs (a distinct×filter count is O(n²) per document —
    * 20s/query at sf0.1 document sizes before this). */
  private def maxRunCount(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit(0).as("best"), lit(0).as("run"),
        lit(null).cast("string").as("prev")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(greatest(acc.getField("best"), run).as("best"), run.as("run"),
          x.as("prev"))
      },
      acc => acc.getField("best"))

  /** Characters inside duplicated elements of a SORTED array (each element
    * of a >1 run contributes its length), one linear pass. */
  private def dupRunChars(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit(0).as("tot"), lit(0).as("run"),
        lit(null).cast("string").as("prev")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        val add = when(run === 2, length(x) * 2)
          .when(run > 2, length(x)).otherwise(lit(0))
        struct((acc.getField("tot") + add).as("tot"), run.as("run"), x.as("prev"))
      },
      acc => acc.getField("tot"))

  /** Repetition signals (Gopher §A1.1 repetition filters): duplicate
    * line/paragraph fractions, duplicate-line character fraction, and the
    * most-frequent word-bigram coverage. All per-row higher-order-function
    * algebra — duplicate detection runs as sort + one linear run-scan per
    * document (O(n log n), never the quadratic distinct×filter shape), so
    * the operator stays a zero-shuffle projection at any corpus size. */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val dupLineFrac = when(nLines > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") / nLines).otherwise(0.0)
    val lineChars = aggregate(transform(lines, l => length(l)), lit(0), (a, x) => a + x)
    val dupLineChars = dupRunChars(array_sort(lines))
    val dupLineCharFrac = when(lineChars > 0,
      dupLineChars.cast("double") / lineChars).otherwise(0.0)
    val paras = filter(split(t, "\\n{2,}"), p => length(trim(p)) > 0)
    val nParas = size(paras)
    val dupParaFrac = when(nParas > 0,
      lit(1.0) - size(array_distinct(paras)).cast("double") / nParas).otherwise(0.0)
    val words = filter(split(lower(trim(t)), "\\s+"), w => length(w) > 0)
    // let-bind the words array (see Decontaminate.wordNgrams): naming
    // `words` inside the per-position lambda would re-split the text for
    // EVERY bigram position — O(words^2) per document
    val bigrams = element_at(transform(array(words), ws =>
      when(size(ws) >= 2,
        transform(sequence(lit(0), size(ws) - 2),
          i => concat_ws(" ", get(ws, i), get(ws, i + 1))))
        .otherwise(array().cast("array<string>"))), 1)
    // materialize: `__bigrams` is referenced four times below and the
    // builder is not cheap enough to inline per reference
    val withB = df.withColumn("__bigrams", bigrams)
    val b = col("__bigrams")
    val topBigram = when(size(b) > 0, maxRunCount(array_sort(b))).otherwise(0)
    val topBigramFrac = when(size(b) > 0,
      topBigram.cast("double") / size(b)).otherwise(0.0)
    withB.withColumn("dup_line_frac", dupLineFrac)
      .withColumn("dup_line_char_frac", dupLineCharFrac)
      .withColumn("dup_para_frac", dupParaFrac)
      .withColumn("top_bigram_frac", topBigramFrac)
      .drop("__bigrams")
  }

  /** Rolling polynomial hash fingerprints (winnowing-style): hash every
    * k-gram of the normalized text, keep the minimum per window — a compact
    * near-dup signature. Deterministic, no library dependency. */
  def rollingHashMinSketch(text: String, k: Int = 8, windows: Int = 4): Array[Long] = {
    val s = text.toLowerCase.replaceAll("\\s+", " ").trim
    if (s.length < k) return Array(polyHash(s))
    val hashes = new Array[Long](s.length - k + 1)
    var h = 0L
    val B = 1000003L
    var powK = 1L
    for (_ <- 0 until k - 1) powK *= B
    var i = 0
    while (i < s.length) {
      h = if (i < k) h * B + s.charAt(i)
      else (h - s.charAt(i - k) * powK) * B + s.charAt(i)
      if (i >= k - 1) hashes(i - k + 1) = h
      i += 1
    }
    // min per contiguous window chunk
    val chunk = math.max(1, hashes.length / windows)
    hashes.grouped(chunk).map(_.min).take(windows).toArray
  }

  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1000003L + s.charAt(i); i += 1 }
    h
  }

  /** Unigram-LM perplexity scoring — the CCNet-style "does this read like
    * the corpus" curation filter, self-trained in the same pass (no external
    * model files in this container; the plumbing is the operator, the LM
    * order is the honest simplification and is documented as such).
    *
    * Model: add-alpha-smoothed unigram LM over the corpus's own top-K
    * vocabulary; every out-of-vocabulary token scores as ONE pooled OOV
    * pseudo-word. p(w) = (c_w + α)/(T + α·(K+1)); a document's score is its
    * mean negative log-likelihood and perplexity = exp(score). Gibberish /
    * boilerplate-free-but-unnatural text lands in the high-ppl tail, exactly
    * like the 5-gram KenLM filter it stands in for.
    *
    * Scale shape: one groupBy(word) for counts, top-K bounded vocab
    * broadcast back onto the token stream (left join, OOV = null fallback),
    * one groupBy(doc) — two row-scale shuffles, vocab never exceeds K rows,
    * corpus constants ride the plan as broadcast single-row aggregates (the
    * frame is fully lazy; no driver job at build time). */
  def perplexityScore(df: DataFrame, textCol: String, idCol: String,
                      topVocab: Int = 50000, alpha: Double = 1.0): DataFrame = {
    require(topVocab > 0, "topVocab must be positive")
    require(alpha > 0, "alpha must be positive (smoothing)")
    val toks = df
      .select(col(idCol).as("__doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val top = toks.groupBy("word").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("word").asc).limit(topVocab)
    // corpus constants stay IN the plan as two broadcast single-row aggs —
    // no driver job at build time, the whole score is one lazy frame
    val totals = toks.agg(count(lit(1)).as("__t"))
    val vocabStats = top.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__iv"), count(lit(1)).as("__k"))
    val oov = col("__t") - col("__iv")
    val denom = col("__t") + lit(alpha) * (col("__k") + lit(1L))
    toks.join(broadcast(top), Seq("word"), "left")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(vocabStats))
      .withColumn("__lp", log((coalesce(col("__c"), oov) + lit(alpha)) / denom))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp")).as("__slp"))
      .select(col("__doc").as(idCol), col("n_tokens"),
        (-col("__slp") / col("n_tokens")).as("avg_nll"),
        exp(-col("__slp") / col("n_tokens")).as("perplexity"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus's own LM ([[perplexityScore]]), then split the corpus into
    * head / middle / tail thirds by per-doc mean NLL — the standard
    * quality triage before an LLM pretraining mix (head = most natural
    * text, tail = gibberish/boilerplate candidates).
    *
    * Determinism: per-doc NLL is ROUNDED to 6dp FIRST, the tercile edges
    * are exact type-7 quantiles OF THE ROUNDED values, and docs bucket by
    * rounded-value ≤ edge — every comparison happens on a decimal grid
    * both engines share, so the bucketing replays bitwise (the
    * unrounded sums differ across engines in last-ulp summation order).
    * Returns (bucket, n_docs, mean_nll, n_tokens) — one row per third. */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String,
                        topVocab: Int = 50000, alpha: Double = 1.0): DataFrame = {
    val scored = perplexityScore(df, textCol, idCol, topVocab, alpha)
      .withColumn("__nll6", round(col("avg_nll"), 6))
      .localCheckpoint() // quantile pass + bucket pass read it twice
    val edges = graft.modify.Modify.exactQuantilesAll(
        scored, Seq("__nll6"), Seq(1.0 / 3, 2.0 / 3))("__nll6")
      .getOrElse(throw new IllegalArgumentException("no scored documents"))
    val bucket = when(col("__nll6") <= edges.head, "head")
      .when(col("__nll6") <= edges(1), "middle").otherwise("tail")
    scored.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("__nll6")).as("mean_nll"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  /** Flesch-Kincaid grade level from three regex counts (words, sentence
    * terminators, vowel-group syllable estimate) — the classic readability
    * filter, as a zero-shuffle codegen'd projection. Counts are integers
    * from identical regexes in any engine, so the score replays exactly;
    * sentence count floors at 1 (fragments still score). */
  def readability(df: DataFrame, textCol: String,
                  idCol: String): DataFrame = {
    val words = size(regexp_extract_all(
      lower(trim(col(textCol))), lit("[a-z0-9']+"), lit(0)))
    val sentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val syllables = size(regexp_extract_all(
      lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
    df.select(col(idCol), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_words") > 0,
          lit(0.39) * col("n_words") / col("n_sentences")
            + lit(11.8) * col("n_syllables") / col("n_words")
            - lit(15.59)))
  }

  /** Interpolated bigram LM scoring — one rung up from [[perplexityScore]]
    * toward the KenLM filter: p(w2|w1) = λ·p₂ + (1−λ)·p₁ where p₂ is the
    * ML bigram probability c(w1,w2)/c(w1·) when the bigram is in the
    * corpus's own top-K bigram table (0 otherwise — the interpolation
    * absorbs unseen bigrams) and p₁ is the add-α unigram probability with
    * pooled OOV. A document's score is its mean −ln p over bigrams;
    * documents shorter than 2 tokens have no bigrams and are absent.
    *
    * Scale shape: bigrams come from a zero-shuffle array zip (no
    * row-expansion shuffle); the bigram/unigram count tables are top-K
    * bounded and broadcast back; context totals join the bigram table
    * aggregate-to-aggregate (tiny). Corpus constants ride the plan as
    * broadcast single-row aggregates — the frame is fully lazy. */
  def bigramPerplexity(df: DataFrame, textCol: String, idCol: String,
                       topBigrams: Int = 200000, topVocab: Int = 50000,
                       alpha: Double = 1.0, lambda: Double = 0.7): DataFrame = {
    require(topBigrams > 0 && topVocab > 0, "top-K sizes must be positive")
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    val base = df.select(col(idCol).as("__doc"),
      filter(split(lower(trim(col(textCol))), "\\s+"),
        w => length(w) > 0).as("__a"))
    // per-doc bigram stream: guard short docs (sequence(1,0) DESCENDS in
    // Spark and would fabricate phantom pairs)
    val bg = base.select(col("__doc"), explode(expr(
        "CASE WHEN size(__a) < 2 THEN array() ELSE " +
          "transform(sequence(1, size(__a) - 1), " +
          "i -> struct(__a[i-1] AS w1, __a[i] AS w2)) END")).as("b"))
      .select(col("__doc"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgTop = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
      .orderBy(col("__c12").desc, col("w1").asc, col("w2").asc).limit(topBigrams)
    val ctx = bg.groupBy("w1").agg(count(lit(1)).as("__c1"))
    val bt = bgTop.join(ctx, Seq("w1"))          // aggregate ⋈ aggregate
    val toks = base.select(col("__doc"), explode(col("__a")).as("word"))
    val uniTop = toks.groupBy("word").agg(count(lit(1)).as("__cu"))
      .orderBy(col("__cu").desc, col("word").asc).limit(topVocab)
    val totals = toks.agg(count(lit(1)).as("__t"))
    val vocabStats = uniTop.agg(
      coalesce(sum(col("__cu")), lit(0L)).as("__iv"), count(lit(1)).as("__k"))
    val p1 = (coalesce(col("__cu"), col("__t") - col("__iv")) + lit(alpha)) /
      (col("__t") + lit(alpha) * (col("__k") + lit(1L)))
    val p2 = coalesce(col("__c12").cast("double") / col("__c1"), lit(0.0))
    bg.join(broadcast(bt), Seq("w1", "w2"), "left")
      .join(broadcast(uniTop.withColumnRenamed("word", "w2")), Seq("w2"), "left")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(vocabStats))
      .withColumn("__lp", log(lit(lambda) * p2 + lit(1.0 - lambda) * p1))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lp")).as("__slp"))
      .select(col("__doc").as(idCol), col("n_bigrams"),
        (-col("__slp") / col("n_bigrams")).as("avg_nll"),
        exp(-col("__slp") / col("n_bigrams")).as("perplexity"))
  }

  /** Corpus report card: doc counts and size stats at EVERY combination of
    * the grouping dimensions in one pass (cube = grouping sets), the
    * "corpus health dashboard" aggregation. One shuffle total — Spark
    * expands the grouping sets map-side and aggregates once; `g_<dim>`
    * columns carry grouping(dim) (1 = rolled up) so real NULL dimension
    * values stay distinguishable from subtotal rows. */
  def corpusReport(df: DataFrame, dims: Seq[String], sizeCol: String): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col(sizeCol)).as("total_size"),
      avg(col(sizeCol)).as("avg_size"),
      min(col(sizeCol)).as("min_size"),
      max(col(sizeCol)).as("max_size")) ++
      dims.map(d => grouping(col(d)).cast("int").as(s"g_$d"))
    df.cube(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 ranked retrieval for a FIXED term set — the "find the best training
    * documents for these keywords" pass, and the relevance kernel behind
    * retrieval-based data selection.
    *
    * Spark-first shape, one token shuffle total:
    *  1. one groupBy(doc) over the exploded tokens computes doc length AND
    *     each query term's tf as conditional sums (terms are a handful of
    *     literals, so this stays one map-side-combined aggregation);
    *  2. corpus stats (N, avgdl, per-term df) reduce that per-doc table to
    *     ONE row, broadcast back as a scalar join;
    *  3. the Robertson idf · tf saturation formula is a pure projection,
    *     and top-k is TakeOrderedAndProject (per-partition heaps, no sort).
    * Nothing driver-side, nothing quadratic; the per-doc table is the only
    * exchange and it is |docs| rows wide regardless of corpus text size.
    *
    * Scores use idf = ln(1 + (N − df + ½)/(df + ½)) (Lucene's non-negative
    * variant) and the standard k1/b length-normalized tf saturation. Term
    * contributions are added in the caller's term order, so the float result
    * replays bit-identically in any engine that evaluates the same formula
    * left-to-right (the DuckDB oracle does). */
  /** Per-document top-k TF-IDF keywords — the cheap document-topic /
    * keyword-extraction signal (cluster labeling, near-dup triage, index
    * fields). idf = ln((N+1)/(df_t+1)) + 1 (the sklearn smooth-idf form:
    * strictly positive, no div-by-zero on corpus-wide terms);
    * score = tf · idf. `minDf` prunes hapax noise before the join.
    *
    * Scale shape: explode + (doc, word) hash agg (map-side combined),
    * word→doc-frequency as a second map-side-combined agg over that
    * output, then a shuffle join keyed by word — the vocab side is NOT
    * broadcast by design (misspellings make real vocabs corpus-scale);
    * Catalyst broadcasts it anyway below its threshold. Top-k per doc is
    * a rank-limited window (WindowGroupLimit pushes the k cut into the
    * sort). Corpus doc count rides in as one broadcast row. */
  def tfidfTopK(df: DataFrame, textCol: String, idCol: String,
                topK: Int = 5, minDf: Long = 1L): DataFrame = {
    require(topK > 0, "topK must be positive")
    val tf = df.select(col(idCol).as("__doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__doc", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = df.agg(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * (log((col("__n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
    val w = Window.partitionBy("__doc").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("__doc").as(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  def bm25Rank(df: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.map(_.toLowerCase).distinct.length == terms.length,
      "terms must be distinct (case-insensitive)")
    val tfCols = terms.indices.map(i => s"__tf$i")
    val perDoc = df
      .select(col(idCol).as("__doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("__dl"),
        terms.zip(tfCols).map { case (t, c) =>
          sum(when(col("word") === t.toLowerCase, 1L).otherwise(0L)).as(c)
        }.toSeq: _*)
    val statsAggs = avg(col("__dl")).as("__avgdl") +:
      tfCols.zipWithIndex.map { case (c, i) =>
        sum(when(col(c) > 0, 1L).otherwise(0L)).as(s"__df$i")
      }
    val stats = perDoc.agg(count(lit(1)).as("__n"), statsAggs: _*)
    val scored = perDoc
      .filter(tfCols.map(c => col(c) > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
    val score = tfCols.zipWithIndex.map { case (c, i) =>
      val idf = log(lit(1.0) + (col("__n") - col(s"__df$i") + lit(0.5)) /
        (col(s"__df$i") + lit(0.5)))
      val tf = col(c).cast("double")
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    scored
      .withColumn("bm25", score)
      .select(col("__doc").as(idCol), col("bm25"), col("__dl").as("doc_len"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(topK)
  }

  // ------------------------------------------------------------------ URLs

  /** Extract http(s) URLs from a text column: one output row per URL
    * occurrence (posexplode keeps duplicates and their order). The regex
    * is RE2-safe (no backreferences/lookaround) so the DuckDB oracle
    * replays it verbatim; delimiters are whitespace, quotes and angle
    * brackets — the practical crawl-text boundary set. Zero shuffle: a
    * single generator projection. */
  def extractUrls(df: DataFrame, textCol: String, out: String = "url"): DataFrame =
    df.withColumn(out, explode(
      regexp_extract_all(col(textCol), lit("""(?i:https?)://[^ \t\n\x0B\f\r"'<>]+"""), lit(0))))

  /** Canonicalize a URL for dedup/host-aggregation — the normalization a
    * crawl pipeline applies before URL-level dedup:
    *   1. strip the fragment,
    *   2. lowercase scheme + authority (path/query case is preserved),
    *   3. drop utm_* tracking parameters (two-step: with-successor first
    *      so the surviving separator chain stays well-formed),
    *   4. strip a trailing '/' and a dangling '?'.
    * Pure codegen'd column algebra; every regex is RE2-replayable. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val prefix = regexp_extract(noFrag, "^[^/]*//[^/?#]*", 0)
    val rest = regexp_replace(noFrag, "^[^/]*//[^/?#]*", "")
    val lowered = concat(lower(prefix), rest)
    // anchored to the separator and REINSERTING it ($1): the unanchored
    // form corrupted any param whose name/value merely contained 'utm_'.
    // The (...)+ run form removes CONSECUTIVE utm params in one match
    // (after a replacement the scan resumes past the consumed separator,
    // so back-to-back utms would otherwise survive every other one).
    val utm1 = regexp_replace(lowered, "([?&])(utm_[^&#]*&)+", "$1")
    val utm2 = regexp_replace(utm1, "[?&]utm_[^&#]*$", "")
    // '?' strip FIRST: a URL ending '/?' must collapse with its slashless
    // twin ('a.com/?' -> 'a.com/' -> 'a.com'), not keep the slash
    regexp_replace(regexp_replace(utm2, "\\?$", ""), "/$", "")
  }

  /** Host of an http(s) URL, lowercased (port kept — it distinguishes
    * origins). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "(?i)^https?://([^/?#]+)", 1))

  /** EXACT frequent-word mining that never shuffles the tail vocabulary:
    * returns every word whose corpus frequency is >= phi * N (N = total
    * token count) with its EXACT count — identical output to the plain
    * GROUP BY + HAVING, at a fraction of its shuffle.
    *
    * Two passes, neither of which moves vocabulary-scale data:
    *
    *  1. Candidates: each partition runs a lossy-counting summary
    *     (Manku–Motwani, VLDB'02) at error phi — bucket width
    *     ceil(1/phi); a word with partition-local frequency >= phi * n_p
    *     is guaranteed to survive its partition's summary, and a
    *     globally phi-heavy word is locally phi-heavy in at least one
    *     partition (pigeonhole over the partition sums), so the UNION of
    *     the per-partition summaries is a guaranteed candidate SUPERSET
    *     of size O(partitions / phi * log(phi n)). The same pass counts
    *     N exactly.
    *  2. Verification: exact counts for candidate words only — a
    *     broadcast semi-join against the candidate set drops the tail
    *     BEFORE the map-side-combined aggregate, so the one shuffle
    *     carries only candidate keys — then the exact threshold
    *     tf >= ceil(phi * N). (r12, ADVICE r11: was an isInCollection
    *     literal — at small phi on a wide cluster the candidate superset
    *     is O(partitions/phi) strings, and embedding it in the PLAN costs
    *     driver memory and per-task serialization; a broadcast ships it
    *     once per executor instead.)
    *
    * The point at 100 TB: a web corpus has billions of distinct tokens;
    * [[vocab]] shuffles every one of them to rank the top-k, while the
    * heavy-hitter set above any practical phi is a few thousand words.
    * Tokenization matches [[vocab]]: lowercased, whitespace-split,
    * empties dropped. Output: (word, tf) sorted tf desc, word asc. */
  def heavyHitters(df: DataFrame, textCol: String, phi: Double): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi must be in (0,1): $phi")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    // lossy-counting bucket width, STRICTLY > 1/phi: an absent word has
    // true partition count <= floor(n_p/width) < phi*n_p, so equality at
    // the phi boundary can never be pruned (the +1 closes the f = phi*n_p
    // edge the textbook width leaves open)
    val width = math.ceil(1.0 / phi).toLong + 1
    // pass 1: (token count, candidate summary) per partition, one action
    val partSummaries: Array[(Long, Array[String])] =
      words.as[String].rdd.mapPartitions { it =>
        // word -> (count, maxMissed); prune at bucket boundaries
        val m = new java.util.HashMap[String, Array[Long]]()
        var n = 0L
        var bucket = 1L
        while (it.hasNext) {
          val w = it.next()
          n += 1
          val e = m.get(w)
          if (e != null) e(0) += 1
          else m.put(w, Array(1L, bucket - 1))
          if (n % width == 0) {
            // drop entries that cannot be phi-heavy even with max missed
            val itEnt = m.entrySet().iterator()
            while (itEnt.hasNext) {
              val ent = itEnt.next().getValue
              if (ent(0) + ent(1) <= bucket) itEnt.remove()
            }
            bucket += 1
          }
        }
        val keys = new Array[String](m.size())
        val kit = m.keySet().iterator()
        var i = 0
        while (kit.hasNext) { keys(i) = kit.next(); i += 1 }
        Iterator.single((n, keys))
      }.collect()
    val total = partSummaries.iterator.map(_._1).sum
    val candidates: Set[String] = partSummaries.iterator.flatMap(_._2).toSet
    val threshold = math.ceil(phi * total).toLong
    if (total == 0L || candidates.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))
    // pass 2: exact counts of the candidate superset only (broadcast
    // LEFT SEMI join: candidates ship once per executor, never in-plan)
    val candDf = candidates.toSeq.toDF("word")
    words.join(broadcast(candDf), Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= threshold)
      .orderBy(col("tf").desc, col("word").asc)
  }

  /** One canonical greedy left-to-right BPE merge applied to a
    * space-joined symbol string, as pure column algebra: a fold
    * (`functions.aggregate`) over the symbol array with state
    * (merged-prefix, pending-symbol). Exactly the reference BPE semantics
    * — `a a a a` under merge (a,a) becomes `aa aa`, `a a a` becomes
    * `aa a` — which a plain left-to-right regexp/replace CANNOT express
    * (it consumes the shared boundary and misses the run tail). */
  private def bpeApplyMerge(sym: Column, a: String, b: String): Column = {
    val merged = a + b
    val flush = (st: Column) =>
      when(st.getField("p") === lit(""), st.getField("m"))
        .otherwise(concat(st.getField("m"), lit(" "), st.getField("p")))
    aggregate(
      split(sym, " "),
      struct(lit("").as("m"), lit("").as("p")),
      (st, x) => when(st.getField("p") === lit(a) && x === lit(b),
          struct(concat(st.getField("m"), lit(" " + merged)).as("m"),
            lit("").as("p")))
        .otherwise(struct(flush(st).as("m"), x.as("p"))),
      st => ltrim(flush(st)))
  }

  /** Corpus-scale BPE tokenizer training (Sennrich et al. 2016): learn the
    * `numMerges` highest-count symbol-pair merges over the corpus.
    * Returns the merge table (step, lhs, rhs, merged, pair_count) in
    * learned order — the artifact a tokenizer ships.
    *
    * Scale shape — the reason BPE training fits the 100 TB engine: the
    * corpus is touched ONCE (word-count aggregation, map-side combined);
    * every merge iteration then runs on the distinct-WORD table, which is
    * vocabulary-sized (orders of magnitude smaller than the corpus and
    * independent of corpus growth past saturation). Per iteration: one
    * pair-count aggregation + a 1-row argmax to the driver + the fold
    * projection, with `localCheckpoint` cutting the iterative plan
    * lineage (same discipline as [[Dedup.components]]). Driver state is
    * O(numMerges). Ties break (count DESC, pair string ASC) so the
    * learned table is deterministic on any cluster.
    *
    * Symbols are the word's characters (pre-tokenization = whitespace on
    * the normalized text); an end-of-word marker is the caller's choice
    * of pre-tokenization and deliberately not imposed here. Words
    * containing U+0002 (the fold's state separator — unprintable, never
    * in natural text) are excluded up front rather than risking in-band
    * aliasing. */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               minCount: Long = 1L): DataFrame = {
    require(numMerges >= 1 && numMerges <= 100000,
      s"numMerges must be in [1, 100000]: $numMerges")
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus scan: the distinct-word count table (map-side combined).
    // Everything after runs on vocabulary-sized data.
    val wordCounts = docs
      .select(explode(split(normalized(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").contains("\u0002"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .localCheckpoint()
    // In-budget vocabulary: train EXACT greedy BPE locally with
    // incremental pair-count maintenance — the shape every production
    // tokenizer trainer uses (the corpus stays distributed; the vocabulary
    // is the driver artifact). Bounded jobs TOTAL regardless of numMerges,
    // vs one job per merge on the distributed path.
    val merges: Seq[(Int, String, String, Long)] =
      LocalPath.gate("bpeTrain", wordCounts, BpeLocalMaxVocab)
        .map(rows => localBpeTrain(rows.map(r => (r.getString(0), r.getLong(1))), numMerges))
        .getOrElse(distributedBpeTrain(wordCounts, numMerges))
    merges.toDF("step", "lhs", "rhs", "pair_count")
      .select(col("step"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
  }

  /** The over-budget-vocabulary path: the iterative distributed loop —
    * still exact greedy, but one pair-count job per merge. The production
    * lever at this scale is `minCount` (HF tokenizers' min_frequency): a
    * 100 TB web corpus's vocabulary is noise-heavy-tailed, and a frequency
    * floor collapses it back under [[BpeLocalMaxVocab]]. NOTE a
    * "top-N symbol-disjoint pairs per round" batch was considered and
    * rejected as UNSOUND for exact greedy: merging (a,b)->ab creates new
    * pairs (z,ab) whose count can exceed a later symbol-disjoint batch
    * member's (corpus "z a b"x10 + "c d"x6: greedy's 2nd merge is (z,ab)
    * at 10, not (c,d) at 6), so batched tables can diverge from the
    * reference greedy the oracle replays. */
  private def distributedBpeTrain(wordCounts: DataFrame,
                                  numMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = wordCounts
      .select(expr("array_join(transform(sequence(1, char_length(word)), " +
        "i -> substring(word, i, 1)), ' ')").as("sym"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val arr = split(col("sym"), " ")
      val best = words
        .select(explode(zip_with(
            slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
            (x, y) => concat(x, lit(" "), y))).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((step, a, b, best(0).getLong(1)))
        words = words
          .withColumn("sym", bpeApplyMerge(col("sym"), a, b))
          .localCheckpoint()
        step += 1
      }
    }
    merges.toSeq
  }

  /** Exact greedy BPE over a collected (word, count) vocabulary:
    * bit-identical to the distributed loop (same adjacency pair counts —
    * overlaps counted per adjacency — same count-DESC / pair-string-ASC
    * argmax under UTF-8 BYTE order to match Spark's and DuckDB's binary
    * string collation, same left-to-right non-overlapping merge), but with
    * incremental bookkeeping: a pair->count map, a pair->containing-words
    * index, and a lazy-deletion max-heap, so each merge touches only the
    * words containing the winning pair. Segmentation is per CODE POINT
    * (Spark's char_length/substring semantics), not UTF-16 chars. */
  private[pipeline] def localBpeTrain(vocab: Array[(String, Long)],
                                      numMerges: Int): Seq[(Int, String, String, Long)] = {
    if (vocab.isEmpty) return Nil
    val nWords = vocab.length
    val syms = new Array[Array[String]](nWords)
    val cnts = new Array[Long](nWords)
    var wi = 0
    while (wi < nWords) {
      syms(wi) = vocab(wi)._1.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      cnts(wi) = vocab(wi)._2
      wi += 1
    }
    val counts = new java.util.HashMap[String, java.lang.Long]()
    val occ = new java.util.HashMap[String, java.util.HashSet[Integer]]()
    val sumLongs = new java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long] {
      override def apply(x: java.lang.Long, y: java.lang.Long): java.lang.Long =
        java.lang.Long.valueOf(x.longValue() + y.longValue())
    }
    wi = 0
    while (wi < nWords) {
      val s = syms(wi)
      var i = 0
      while (i < s.length - 1) {
        val key = s(i) + " " + s(i + 1)
        counts.merge(key, java.lang.Long.valueOf(cnts(wi)), sumLongs)
        occ.computeIfAbsent(key, _ => new java.util.HashSet[Integer]())
          .add(Integer.valueOf(wi))
        i += 1
      }
      wi += 1
    }
    case class Cand(pairStr: String, cnt: Long, bytes: Array[Byte])
    val heapOrd = new java.util.Comparator[Cand] {
      override def compare(x: Cand, y: Cand): Int = {
        val c = java.lang.Long.compare(y.cnt, x.cnt) // count DESC
        if (c != 0) return c
        val a = x.bytes; val b = y.bytes // then pair string ASC, UTF-8 bytes
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        a.length - b.length
      }
    }
    def cand(key: String, c: Long) =
      Cand(key, c, key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val heap = new java.util.PriorityQueue[Cand](math.max(counts.size(), 1), heapOrd)
    counts.forEach((k, v) => heap.add(cand(k, v.longValue())))
    def applyMergeLocal(s: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.toArray
    }
    val result = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= numMerges) {
      // pop to the first non-stale entry (a stale entry's recorded count no
      // longer matches the live map — every count change pushed a fresh one)
      var top: Cand = null
      var searching = true
      while (searching) {
        val e = heap.poll()
        if (e == null) searching = false
        else {
          val cur = counts.get(e.pairStr)
          if (cur != null && cur.longValue() == e.cnt) { top = e; searching = false }
        }
      }
      if (top == null) return result.toSeq // pairless: vocabulary exhausted
      val sp = top.pairStr.indexOf(' ')
      val a = top.pairStr.substring(0, sp)
      val b = top.pairStr.substring(sp + 1)
      result += ((step, a, b, top.cnt))
      val affected = occ.get(top.pairStr).toArray(Array.empty[Integer])
      val changed = new java.util.HashSet[String]()
      var j = 0
      while (j < affected.length) {
        val w = affected(j).intValue()
        val old = syms(w)
        val neu = applyMergeLocal(old, a, b)
        val c = cnts(w)
        val oldTypes = new java.util.HashSet[String]()
        val newTypes = new java.util.HashSet[String]()
        var i = 0
        while (i < old.length - 1) {
          val key = old(i) + " " + old(i + 1)
          counts.merge(key, java.lang.Long.valueOf(-c), sumLongs)
          changed.add(key); oldTypes.add(key)
          i += 1
        }
        i = 0
        while (i < neu.length - 1) {
          val key = neu(i) + " " + neu(i + 1)
          counts.merge(key, java.lang.Long.valueOf(c), sumLongs)
          changed.add(key); newTypes.add(key)
          i += 1
        }
        oldTypes.forEach { t =>
          if (!newTypes.contains(t)) {
            val set = occ.get(t)
            if (set != null) {
              set.remove(Integer.valueOf(w)); if (set.isEmpty) occ.remove(t)
            }
          }
        }
        newTypes.forEach { t =>
          if (!oldTypes.contains(t))
            occ.computeIfAbsent(t, _ => new java.util.HashSet[Integer]())
              .add(Integer.valueOf(w))
        }
        syms(w) = neu
        j += 1
      }
      changed.forEach { key =>
        val cur = counts.get(key)
        if (cur != null) {
          if (cur.longValue() <= 0L) counts.remove(key)
          else heap.add(cand(key, cur.longValue()))
        }
      }
      step += 1
    }
    result.toSeq
  }

  /** Apply a learned BPE merge table ([[bpeTrain]] output order matters —
    * merges compose) to the corpus: per document, the whitespace words are
    * re-segmented through every merge in learned order and counted.
    * Returns (idCol, n_words, n_chars, n_bpe_tokens) — the
    * tokens-per-document measure a training-data pipeline budgets
    * sequences with, and chars/tokens is the tokenizer's compression
    * ratio.
    *
    * Scale shape: the merge table is O(#merges) DRIVER metadata (the
    * artifact a tokenizer ships), and the fold chain runs over the
    * DISTINCT-WORD table only — a word's segmentation doesn't depend on
    * which document it came from, so tokenizing the corpus costs
    * O(vocab) fold work plus two word-keyed aggregations (map-side
    * combined) and one vocab-sized join, NOT O(corpus-tokens) folds.
    * (The naive per-occurrence fold measured 8.4s at sf0.1 / 17.2s at
    * sf1 on the full corpus; the vocab route re-segments ~100× fewer
    * strings at those scales, and the gap widens with corpus growth
    * because the vocabulary saturates.) */
  def bpeApply(docs: DataFrame, textCol: String, idCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol),
        explode(split(normalized(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").contains("\u0002"))
    val sym0 = expr("array_join(transform(sequence(1, char_length(word)), " +
      "i -> substring(word, i, 1)), ' ')")
    val docWord = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("__c"))
    // one withColumn per merge: Catalyst collapses the projection chain,
    // and each fold reads the PREVIOUS column attribute once (embedding
    // the whole expression per step would grow the tree exponentially)
    val vocabTok = merges.zipWithIndex.foldLeft(
        words.select("word").distinct().withColumn("__sym_0", sym0)) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"__sym_${i + 1}", bpeApplyMerge(col(s"__sym_$i"), a, b))
    }.select(col("word"),
      size(split(col(s"__sym_${merges.size}"), " ")).cast("long").as("__tok"))
    docWord.join(vocabTok, Seq("word"))
      .groupBy(idCol)
      .agg(sum("__c").as("n_words"),
        sum(col("__c") * char_length(col("word")).cast("long")).as("n_chars"),
        sum(col("__c") * col("__tok")).as("n_bpe_tokens"))
  }

  /** Tokenizer FERTILITY per group (typically language) — the
    * multilingual tokenizer-budget report: train ONE shared BPE
    * tokenizer on the whole corpus ([[bpeTrain]] — one corpus scan to
    * word counts, vocab-sized merge rounds), apply it everywhere
    * ([[bpeApply]] — zero-shuffle fold chain over DISTINCT words), and
    * roll up per `groupCol`: fertility = BPE tokens per whitespace word
    * and chars per BPE token. Languages a shared tokenizer underserves
    * show fertility far above the corpus mean — the signal that drives
    * vocab-budget reallocation (the same question [[oovCurve]] answers
    * for whole-word vocabularies). All counts are exact int64 sums; the
    * two ratios are single double divisions of those sums. Documents
    * with no words contribute nothing (they have no tokens). Returns
    * (groupCol, n_docs, n_words, n_chars, n_bpe_tokens, fertility,
    * chars_per_token), unrounded. */
  def bpeFertility(docs: DataFrame, textCol: String, idCol: String,
                   groupCol: String, numMerges: Int = 8): DataFrame = {
    val merges = bpeTrain(docs, textCol, numMerges)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeApply(docs, textCol, idCol, merges)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
  }

  // ------------------------------------------------ unigram-LM tokenizer

  /** Unigram-LM segmentation state: (pieces used, summed piece count,
    * path = pieces joined by U+0001). The TOTAL ORDER (np asc, sc desc,
    * path asc) is graft's deterministic integer surrogate for the
    * unigram-LM objective (Kudo 2018): with every piece probability far
    * below 1, the true log-likelihood is dominated by the piece COUNT
    * (each extra piece multiplies by p << 1), so fewest-pieces-first is
    * the leading term; among equal-length segmentations the summed
    * integer count prefers frequent pieces; the path itself breaks exact
    * ties (equal-np paths over the same prefix have EQUAL string length,
    * so lexicographic order is preserved under common suffix append —
    * which is what makes the Viterbi DP exact under this order). Pure
    * int64: partitioning-, engine-, and SQL-replayable. */
  private[graft] final case class UniSeg(np: Int, sc: Long, path: String)

  private[graft] def uniBetter(a: UniSeg, b: UniSeg): Boolean =
    a.np < b.np || (a.np == b.np && (a.sc > b.sc ||
      (a.sc == b.sc && a.path < b.path)))

  /** Exact Viterbi segmentation of one word under the deterministic
    * order; None when no piece cover exists (an unseen character). */
  private[graft] def unigramViterbi(word: String, pieces: Map[String, Long],
                                       maxPieceLen: Int): Option[UniSeg] = {
    val n = word.length
    val dp = new Array[UniSeg](n + 1)
    dp(0) = UniSeg(0, 0L, "")
    var i = 1
    while (i <= n) {
      var best: UniSeg = null
      var j = 1
      while (j <= math.min(maxPieceLen, i)) {
        val prev = dp(i - j)
        if (prev != null) {
          val piece = word.substring(i - j, i)
          pieces.get(piece).foreach { c =>
            val cand = UniSeg(prev.np + 1, prev.sc + c,
              if (prev.path.isEmpty) piece else prev.path + "\u0001" + piece)
            if (best == null || uniBetter(cand, best)) best = cand
          }
        }
        j += 1
      }
      dp(i) = best
      i += 1
    }
    Option(dp(n))
  }

  /** Unigram-LM (SentencePiece-family, Kudo 2018) tokenizer training with
    * a fully DETERMINISTIC integer-count hard-EM, SQL-replayable end to
    * end (the [[bpeTrain]] discipline — the oracle replays seeding, every
    * EM round, the prune, and the final segmentation from the corpus):
    *
    *  1. ONE corpus scan -> (word, cnt) over the normalized whitespace
    *     words (words longer than `maxWordLen` chars or containing the
    *     U+0001/U+0002 separators are excluded from training; apply
    *     counts them by char fallback).
    *  2. SEED: every substring of length 2..maxPieceLen of every vocab
    *     word, counted by occurrence (all start positions) x word count;
    *     keep the top `seedMulti` by (cnt DESC, piece ASC) — plus ALL
    *     single characters (the fallback alphabet, never pruned).
    *  3. `emRounds` hard-EM rounds: E = Viterbi-segment every vocab word
    *     under the current piece scores ([[unigramViterbi]]); M = new
    *     piece score = its exact usage count (occurrences x word count).
    *     Multi-char pieces with zero usage drop; single chars persist
    *     (usage count, possibly 0).
    *  4. PRUNE to the target: top `vocabSize` multi-char pieces by
    *     (cnt DESC, piece ASC) + all single chars — the deterministic
    *     stand-in for unigram's loss-ranked prune.
    *
    * Training state is vocabulary-sized on the driver (the production
    * tokenizer-trainer shape); the corpus is never collected. Gated by
    * `graft.unigram.maxLocalVocab` (default 2M distinct words): past the
    * cap, training proceeds on a DETERMINISTIC hash-sample of the
    * word-count table (~maxLocalVocab words, the sampling family's
    * content-hash discipline — stable across partitionings and reruns)
    * with a loud warning; set `graft.unigram.overBudget=refuse` to get
    * the hard refusal instead (pre-r16 behavior). Tokenizer training is
    * count-frequency estimation, so a uniform word-type sample changes
    * little; the [[bpeTrain]] distributed path remains the alternative
    * when every word must count.
    * Returns (piece, cnt, n_chars) sorted (cnt DESC, piece ASC). */
  def unigramTrain(docs: DataFrame, textCol: String, seedMulti: Int = 60,
                   emRounds: Int = 2, vocabSize: Int = 80,
                   maxPieceLen: Int = 3, maxWordLen: Int = 18,
                   minCount: Long = 1L): DataFrame = {
    require(seedMulti >= 0 && vocabSize >= 0 && emRounds >= 1,
      s"bad params: seedMulti=$seedMulti vocabSize=$vocabSize emRounds=$emRounds")
    require(maxPieceLen >= 2 && maxWordLen >= maxPieceLen,
      s"bad lens: maxPieceLen=$maxPieceLen maxWordLen=$maxWordLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxLocal = graft.GraftConf.positiveLong(spark,
      "graft.unigram.maxLocalVocab", 2000000L)
    // ONE materialization of the word-count scan, which the bounded
    // collect reads; the over-budget branch pays only cheap passes over
    // the checkpoint.
    val wc0 = trainWordCounts(docs, textCol, maxWordLen, minCount)
      .localCheckpoint()
    val words = LocalPath.collectAtMost(wc0, maxLocal)
      .map(_.map(r => (r.getString(0), r.getLong(1))))
      .getOrElse {
        val n = wc0.count()
        val mode = spark.conf.getOption("graft.unigram.overBudget")
          .map(_.trim).getOrElse("sample")
        require(mode == "sample" || mode == "refuse",
          s"graft.unigram.overBudget must be 'sample' or 'refuse', got '$mode'")
        require(mode == "sample",
          s"unigramTrain: $n distinct words exceeds graft.unigram.maxLocalVocab=" +
            s"$maxLocal and graft.unigram.overBudget=refuse — subsample the " +
            "corpus or raise the cap")
        System.err.println(s"WARNING: unigramTrain corpus has $n distinct " +
          s"words > graft.unigram.maxLocalVocab=$maxLocal; training on a " +
          s"deterministic hash-sample of ~$maxLocal word types (set " +
          "graft.unigram.overBudget=refuse to fail instead)")
        Sampling.hashSample(wc0, col("word"), maxLocal.toDouble / n)
          .collect().map(r => (r.getString(0), r.getLong(1)))
      }
    val model = localUnigramTrain(words, seedMulti, emRounds, vocabSize, maxPieceLen)
    model.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => (p, c, p.length.toLong) }
      .toDF("piece", "cnt", "n_chars")
  }

  /** Shared normalized word-count scan for the unigram trainer/applier:
    * the [[bpeTrain]] projection plus the unigram-specific exclusions. */
  private def trainWordCounts(docs: DataFrame, textCol: String,
                              maxWordLen: Int, minCount: Long): DataFrame =
    docs.select(explode(split(normalized(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").contains("\u0001") &&
        !col("word").contains("\u0002") &&
        char_length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  private[graft] def localUnigramTrain(words: Array[(String, Long)],
      seedMulti: Int, emRounds: Int, vocabSize: Int,
      maxPieceLen: Int): Map[String, Long] = {
    // seed: occurrence-counted substrings + all single chars
    val seedCounts = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(i + maxPieceLen, w.length)) {
          val p = w.substring(i, j)
          seedCounts(p) = seedCounts.getOrElse(p, 0L) + c
          j += 1
        }
        i += 1
      }
    }
    val chars = seedCounts.filter(_._1.length == 1)
    val multi = seedCounts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedMulti)
    var vocab: Map[String, Long] = (chars ++ multi).toMap
    // hard-EM rounds: usage-count E-step, count-as-score M-step
    (1 to emRounds).foreach { _ =>
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, c) =>
        unigramViterbi(w, vocab, maxPieceLen).foreach { seg =>
          seg.path.split("\u0001").foreach { p =>
            usage(p) = usage.getOrElse(p, 0L) + c
          }
        }
      }
      vocab = vocab.keysIterator.collect {
        case p if p.length == 1 => p -> usage.getOrElse(p, 0L)
        case p if usage.getOrElse(p, 0L) > 0 => p -> usage(p)
      }.toMap
    }
    // prune to target: top multi-char by (cnt desc, piece asc) + chars
    val keptMulti = vocab.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(vocabSize)
    (vocab.filter(_._1.length == 1) ++ keptMulti).toMap
  }

  /** Apply a trained unigram model: Viterbi-segment the DISTINCT words
    * (the corpus never re-shuffles; the per-word DP runs distributed in
    * mapPartitions with the O(vocab) piece table in the closure), join
    * the token counts back to the doc-word counts, and roll up per doc.
    * Words longer than `maxWordLen` or with no piece cover (an unseen
    * character) fall back to their char count — deterministic, and
    * impossible for the training corpus itself (single chars are never
    * pruned). Returns (idCol, n_words, n_chars, n_unigram_tokens). */
  def unigramApply(docs: DataFrame, textCol: String, idCol: String,
                   pieces: Map[String, Long], maxPieceLen: Int = 3,
                   maxWordLen: Int = 18): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordsAll = docs.select(col(idCol),
        explode(split(normalized(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    val docWord = wordsAll.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("__c"))
    val vocabTok = wordsAll.select("word").distinct().as[String]
      .mapPartitions { it =>
        it.map { w =>
          val tok =
            if (w.length > maxWordLen || w.contains("\u0001") || w.contains("\u0002"))
              w.length.toLong
            else unigramViterbi(w, pieces, maxPieceLen)
              .map(_.np.toLong).getOrElse(w.length.toLong)
          (w, tok)
        }
      }.toDF("word", "__tok")
    docWord.join(vocabTok, Seq("word"))
      .groupBy(idCol)
      .agg(sum("__c").as("n_words"),
        sum(col("__c") * char_length(col("word")).cast("long")).as("n_chars"),
        sum(col("__c") * col("__tok")).as("n_unigram_tokens"))
  }

  /** Tokenizer-family A/B ([[bpeFertility]] extended, VERDICT r14 #5):
    * train BOTH mainstream families on the same corpus — BPE (merge
    * list, [[bpeTrain]]) and unigram-LM (piece inventory,
    * [[unigramTrain]]) — apply both, and report per-group fertility side
    * by side: the vocab-budget question ("which family serves which
    * language better at this budget") answered in one frame. All counts
    * exact int64; the fertilities are single divisions. Returns
    * (groupCol, n_docs, n_words, n_bpe_tokens, n_unigram_tokens,
    * bpe_fertility, unigram_fertility). */
  def tokenizerFertilityAb(docs: DataFrame, textCol: String, idCol: String,
                           groupCol: String, numMerges: Int = 8,
                           seedMulti: Int = 60, emRounds: Int = 2,
                           vocabSize: Int = 80): DataFrame = {
    // §2.6 (overlap independent jobs): the two trainings share no state —
    // each is its own word-count scan + driver fit — and ran strictly one
    // after another on the driver thread; constructing them concurrently
    // lets the FIFO scheduler back-fill (the pipeline_drift_e2e pattern).
    // Results unchanged: both artifacts are deterministic driver values.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fMerges = Future {
      bpeTrain(docs, textCol, numMerges)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    val fPieces = Future {
      unigramTrain(docs, textCol, seedMulti, emRounds, vocabSize)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    val merges = Await.result(fMerges, Duration.Inf)
    val pieces = Await.result(fPieces, Duration.Inf)
    val bpe = bpeApply(docs, textCol, idCol, merges)
      .select(col(idCol), col("n_words"), col("n_bpe_tokens"))
    val uni = unigramApply(docs, textCol, idCol, pieces)
      .select(col(idCol), col("n_unigram_tokens"))
    bpe.join(uni, Seq(idCol))
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        sum("n_unigram_tokens").as("n_unigram_tokens"))
      .withColumn("bpe_fertility",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("unigram_fertility",
        col("n_unigram_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** Kernel for [[graft.functions.WinnowPrints]]: winnowing selection
    * over a pre-split word array. Semantics IDENTICAL to the original
    * column-algebra form (and the DuckDB oracle): gram hash = first 15
    * hex digits of md5 of the space-joined k-gram read base-16 (= the
    * first 60 bits of the digest, big-endian); window ends
    * e in (min(w-1, ng-1) .. ng-1); per window the MIN hash with the
    * RIGHTMOST position on ties. O(ng·w) with w a small constant; one
    * MessageDigest per call, one StringBuilder per gram — the
    * interpreted nested-HOF form this replaced measured ~2 ms/doc
    * (md5 via codegen'd expressions but the fold interpreted); this
    * kernel is a plain JVM loop. Returns one struct(pos, fp) per
    * DISTINCT selection (same-pos re-selection by adjacent windows is
    * the only possible repeat, so a last-pos check IS distinct).
    * Null elements are SKIPPED (positions compact over non-null words):
    * the internal [[winnow]] caller never produces them (split+filter),
    * but the registered `winnow_prints_k_w` temp function is reachable
    * with containsNull arrays, where a null word must not NPE. */
  def winnowKernel(words: org.apache.spark.sql.catalyst.util.ArrayData,
                   k: Int, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n0 = words.numElements()
    // materialize non-null words ONCE (the per-window getUTF8String
    // form re-decoded each word w times and NPE'd on null elements)
    val ws = new Array[String](n0)
    var m = 0
    var q = 0
    while (q < n0) {
      if (!words.isNullAt(q)) { ws(m) = words.getUTF8String(q).toString; m += 1 }
      q += 1
    }
    val n = m
    val ng = n - k + 1
    if (ng <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](ng)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < ng) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex digits = first 60 bits big-endian = be64(d[0..7]) >>> 4
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = v >>> 4
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var lastPos = -1
    var e = math.min(w - 1, ng - 1)
    while (e < ng) {
      val s = math.max(e - (w - 1), 0)
      var bestPos = s
      var bestFp = hs(s)
      var p = s + 1
      while (p <= e) {
        if (hs(p) <= bestFp) { bestFp = hs(p); bestPos = p } // <= : rightmost
        p += 1
      }
      if (bestPos != lastPos) {
        out += org.apache.spark.sql.catalyst.InternalRow(bestPos.toLong, bestFp)
        lastPos = bestPos
      }
      e += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Kernel for [[graft.functions.CharEntropyStats]]: per-string
    * character (codepoint) Shannon entropy with the ORDER-PINNED fold —
    * counts per distinct codepoint, distinct codepoints sorted
    * ascending (== UTF-8 byte order == what Spark array_sort and DuckDB
    * list_sort produced in the column-algebra form), then
    * H = ln n − (Σ c·ln c)/n summed left-to-right in that order: the
    * same IEEE operations in the same order as the DuckDB oracle.
    * Returns struct(n_chars, n_distinct, entropy_nats); empty → (0,0,0). */
  def charEntropyKernel(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val counts = new java.util.TreeMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      acc += c * math.log(c)
    }
    val h = if (n > 0) math.log(n.toDouble) - acc / n else 0.0
    org.apache.spark.sql.catalyst.InternalRow(n, counts.size().toLong, h)
  }

  /** Per-document CHARACTER-level Shannon entropy — the classic
    * gibberish / compressibility signal (binary blobs, key-mash, and
    * repeated-character spam score far from natural text; complements
    * [[repetitionSignals]], which is word/n-gram-level). Exact count
    * algebra per document, zero shuffle: character multiset counts via
    * array algebra (O(alphabet · len) per row), then
    * H = ln n − (Σ c·ln c)/n in nats.
    *
    * Cross-engine determinism: the Σ c·ln c fold runs over the SORTED
    * distinct characters, so Spark and the DuckDB oracle add the same
    * IEEE terms in the same order — bit-identical before any rounding
    * (the describe_entropy discipline, strengthened from round-and-hope
    * to order-pinned). Returns (id, n_chars, n_distinct, entropy_nats);
    * empty text scores 0.0 entropy with n_chars 0. */
  def charEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val fname = "char_entropy_stats"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.CharEntropyStats(exprs.head), "scala_udf")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), call_function(fname, col(textCol)).as("__e"))
      .select(col("id"), col("__e.n_chars").as("n_chars"),
        col("__e.n_distinct").as("n_distinct"),
        col("__e.entropy_nats").as("entropy_nats"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every word `k`-gram, slide a
    * window of `w` consecutive gram positions over the hash sequence, and
    * in each window SELECT the minimum hash (rightmost position on ties —
    * the paper's "robust winnowing" rule, so a repeated gram re-selects
    * the same occurrence and selection density stays ~2/(w+1)).
    * Guarantee (the paper's theorem): any two documents sharing a run of
    * at least `w + k - 1` words share at least one selected fingerprint —
    * the partial-overlap detector that whole-document hashing
    * ([[fingerprint]]) cannot provide and that substring dedup pays a
    * corpus-wide shuffle for. Documents shorter than `k` words select
    * nothing; documents with 1..w-1 grams are one truncated window (their
    * global minimum is selected), so every hashable doc gets >= 1 print.
    *
    * Gram hash = first 15 hex digits of md5 of the space-joined gram,
    * read base-16 (60 bits, always positive) — bit-identical in Spark
    * (`conv(substring(md5(..),1,15),16,10)`) and DuckDB
    * (`('0x'||substr(md5(..),1,15))::BIGINT`), which matters here unlike
    * in the set-algebra dedup family: winnowing SELECTION depends on hash
    * ORDER, so an engine-local hash would select different grams.
    *
    * Scale shape: one codegen'd projection per row (split -> native
    * [[graft.functions.WinnowPrints]] selection kernel -> explode) —
    * zero shuffle, embarrassingly parallel at 100 TB. The first cut
    * expressed the per-window fold as nested transform/aggregate HOFs;
    * those evaluate interpreted and measured ~2 ms/doc at sf0.1 — the
    * native kernel is the same semantics as one JVM loop. Output is one
    * row per selected (doc, position): `(id, pos, fp)` where `pos` is
    * the gram's word offset. Selections are ~2/(w+1) of gram count, so
    * output is a small constant fraction of input tokens. */
  def winnow(df: DataFrame, textCol: String, idCol: String,
             k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(w >= 1, s"w must be >= 1: $w")
    val spark = df.sparkSession
    val fname = s"winnow_prints_${k}_$w"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.WinnowPrints(exprs.head, k, w), "scala_udf")
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      x => length(x) > 0)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(call_function(fname, ws)).as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }
}
