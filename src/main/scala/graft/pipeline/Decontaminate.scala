package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData

/** Benchmark decontamination + cross-document duplicated-span scoring for
  * training-data pipelines (driver mandate).
  *
  * Both operators work on word n-grams (the published decontamination
  * procedure: GPT-3 appendix C uses 13-gram overlap against evaluation
  * sets; Lee et al. 2021 measure duplicated token spans corpus-wide).
  *
  * Scale notes:
  *  - n-gram generation is per-row codegen'd column algebra (no shuffle).
  *  - joins run on xxhash64 of the n-gram, never the string — an 8-byte
  *    shuffle key instead of ~100 bytes of text (collisions are 2^-64-scale
  *    and only ever overcount a duplicate span — acceptable for a filter
  *    signal; the DuckDB oracle joins raw strings and agrees on the test
  *    corpus, which would expose any collision as a hash mismatch).
  *  - decontaminate: the eval side is distinct-hashed then BROADCAST (eval
  *    benchmarks are tiny vs a 100 TB corpus); the corpus side never
  *    shuffles — explode + broadcast-join + re-aggregate by doc id is
  *    map-side until the final per-doc count.
  *  - crossDocDupScore: two shuffles on the 8-byte n-gram hash (global
  *    doc-frequency aggregate + join back), then one per-doc count.
  */
object Decontaminate {

  /** Lowercased whitespace-token word n-grams of a text column; empty array
    * when the document has fewer than n words.
    *
    * The single-element transform(array(words), ws -> ...) wrapper is a
    * LET-BINDING: an expression referenced inside a lambda is re-evaluated
    * per lambda invocation, so naming `words` directly in the per-position
    * lambda would recompute the whole split+filter for EVERY n-gram start
    * (O(words^2) per document — measured 4.8s -> ~0.4s on the sf0.1 bench).
    * Binding it as a lambda variable materializes it once per row. */
  def wordNgrams(text: Column, n: Int): Column =
    element_at(transform(array(canonicalWords(text)), ws =>
      when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))), 1)

  /** Per-word XXH64 hashes combined polynomially per window: element i of
    * the result = hash of words[i..i+n-1]. Static kernel shared by the
    * interpreted and codegen'd paths of
    * [[graft.functions.NgramWindowHashes]]. O(words·n) long ops, no n-gram
    * string ever materialized. */
  def ngramWindowHashKernel(words: ArrayData, n: Int): Array[Long] = {
    val m = words.numElements()
    if (m < n) return Array.emptyLongArray
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      wh(i) =
        if (w == null) 0L
        else org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    var s = 0
    while (s <= m - n) {
      var h = -7046029254386353131L
      var j = 0
      while (j < n) { h = h * 1099511628211L + wh(s + j); j += 1 }
      out(s) = h
      s += 1
    }
    out
  }

  /** Ordered window hashes of the canonical words of `textCol` as a native
    * codegen'd Column (registered per (session, n)). */
  private def windowHashesOf(df: DataFrame, words: Column, n: Int): Column = {
    val fname = s"ngram_window_hashes_$n"
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.NgramWindowHashes(exprs.head, n), "scala_udf")
    call_function(fname, words)
  }

  private def windowHashes(df: DataFrame, textCol: String, n: Int): Column =
    windowHashesOf(df, canonicalWords(col(textCol)), n)

  /** Distinct word-n-gram hashes per document: (id, ngram_hash) exploded,
    * plus the per-document distinct count carried alongside. */
  private def docNgramHashes(df: DataFrame, textCol: String, idCol: String,
                             n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        array_distinct(windowHashes(df, textCol, n)).as("__gs"))
      .select(col("id"), size(col("__gs")).as("n_ngrams"),
        explode_outer(col("__gs")).as("__gh"))

  /** Decontamination report: for every training document, how many of its
    * distinct word n-grams appear anywhere in the evaluation corpus.
    * Returns (id, n_ngrams, n_overlap, overlap_frac, contaminated) — the
    * standard policy drops (or flags) any document with n_overlap > 0. */
  def overlapReport(train: DataFrame, eval: DataFrame, textCol: String,
                    idCol: String, n: Int = 13,
                    broadcastEval: Boolean = true): DataFrame = {
    val evalHashes = eval
      .select(explode(array_distinct(windowHashes(eval, textCol, n))).as("__gh"))
      .distinct()
    // eval benchmarks are tiny vs a training corpus -> broadcast by
    // default so the train side never shuffles; broadcastEval = false is
    // the escape hatch when "eval" is itself corpus-sized (shuffle join
    // on the 8-byte hash)
    val evalSide = evalHashes.withColumn("__hit", lit(1))
    val marked = docNgramHashes(train, textCol, idCol, n)
      .join(if (broadcastEval) broadcast(evalSide) else evalSide,
        Seq("__gh"), "left")
    marked.groupBy("id", "n_ngrams")
      .agg(coalesce(sum("__hit"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_ngrams") > 0,
          col("n_overlap").cast("double") / col("n_ngrams")).otherwise(0.0))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** SEMANTIC decontamination: flag training documents whose embedding is
    * cosine-similar (≥ threshold) to ANY evaluation item — catches
    * paraphrased/reformatted benchmark leakage that n-gram overlap misses.
    * Eval sets are tiny vs the training corpus, so the eval embeddings
    * broadcast and the train side never shuffles: one scan, per-row max
    * over |eval| codegen'd dot products. Returns
    * (id, best_eval_id, best_cosine, contaminated).
    *
    * For an eval set too big to broadcast, bucket both sides instead —
    * that shape is [[Similarity.cosineNearDups]]/[[Similarity.knnGraph]]. */
  def semanticOverlap(train: DataFrame, eval: DataFrame, threshold: Double,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"threshold must be in (-1, 1]: $threshold")
    val ev = broadcast(eval.select(col(idCol).as("__eid"), col(vecCol).as("__ev")))
    val scored = train.select(col(idCol).as("id"), col(vecCol).as("__tv"))
      .crossJoin(ev)
      .withColumn("__cos", graft.functions.GraftFunctions.cosine_similarity(
        train.sparkSession, col("__tv"), col("__ev")))
    // An EMPTY eval frame must report every training doc as
    // contaminated=false (best_cosine null), not cross-join to an empty
    // result — a caller anti-joining on flagged ids would misread an
    // empty scan as "everything was flagged clean". The isEmpty probe is
    // one job on the tiny eval side (it gets materialized for the
    // broadcast anyway); the common path stays a single aggregation with
    // no extra shuffle on the train corpus.
    if (eval.select(col(idCol)).isEmpty) {
      val idType = eval.schema(idCol).dataType
      train.select(col(idCol).as("id"))
        .withColumn("best_eval_id", lit(null).cast(idType))
        .withColumn("best_cosine", lit(null).cast("double"))
        .withColumn("contaminated", lit(false))
    } else {
      // per-train-doc argmax: max_by is a single hash aggregation; ties on
      // cosine break toward the smallest eval id for determinism
      scored.groupBy("id")
        .agg(max_by(struct(col("__cos"), (-col("__eid")).as("__neg")),
          struct(col("__cos"), (-col("__eid")).as("__neg"))).as("__best"))
        .select(col("id"),
          (-col("__best.__neg")).as("best_eval_id"),
          col("__best.__cos").as("best_cosine"))
        .withColumn("contaminated", col("best_cosine") >= threshold)
    }
  }

  private def canonicalWords(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)

  /** Duplicated-span REMOVAL (the cut step behind crossDocDupScore's
    * signal): every occurrence of a word n-gram that occurs more than once
    * in the corpus is dropped, EXCEPT the globally-first occurrence
    * (ordered by (id, start)). A word survives iff no removed occurrence's
    * n-window covers its position; the document is rebuilt from surviving
    * words joined by single spaces (text is canonicalized: lowercased,
    * whitespace-collapsed).
    *
    * Returns (id, n_words, n_removed, text_dedup).
    *
    * Scale shape: positioned n-grams explode per-row (no shuffle); the
    * global occurrence count + first-occurrence winner is ONE aggregation
    * on the 8-byte n-gram hash with map-side partial min/count; removed
    * starts flow back via one join on that same hash (co-partitioned with
    * the aggregation's exchange) and ONE per-doc aggregation collects them.
    * Coverage expansion is per-row array algebra — removed-start lists are
    * bounded by document length, never corpus size. */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     n: Int = 13): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      canonicalWords(col(textCol)).as("__ws"))
    val occ = base
      .select(col("id"), posexplode(windowHashesOf(df, col("__ws"), n)))
      .withColumnRenamed("pos", "start").withColumnRenamed("col", "__gh")
    // one shuffle: occurrence count + globally-first occurrence per n-gram
    val global = occ.groupBy("__gh").agg(
      count(lit(1)).as("__cnt"),
      min(struct(col("id"), col("start"))).as("__first"))
    val removedStarts = occ.join(global, Seq("__gh"))
      .filter(col("__cnt") > 1 &&
        !(col("id") === col("__first.id") && col("start") === col("__first.start")))
      .groupBy("id").agg(collect_list(col("start")).as("__rm"))
    base.join(removedStarts, Seq("id"), "left")
      .withColumn("__rm", coalesce(col("__rm"), array().cast("array<int>")))
      .select(col("id"), size(col("__ws")).cast("long").as("n_words"),
        filter(col("__ws"), (_, p) =>
          !exists(col("__rm"), s => p >= s && p < s + n)).as("__kept"))
      .select(col("id"), col("n_words"),
        (col("n_words") - size(col("__kept"))).as("n_removed"),
        concat_ws(" ", col("__kept")).as("text_dedup"))
  }

  /** Cross-document duplicated-span score: for every document, the count
    * and fraction of its distinct word n-grams that also occur in at least
    * one OTHER document of the corpus — the per-document signal behind
    * exact-substring dedup (documents past a threshold get their spans
    * cut or are dropped). Returns (id, n_ngrams, n_dup, dup_frac). */
  def crossDocDupScore(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 13): DataFrame = {
    val perDoc = docNgramHashes(df, textCol, idCol, n)
    // global doc-frequency per n-gram (distinct-per-doc input, so count =
    // number of documents containing the n-gram)
    val docFreq = perDoc.filter(col("__gh").isNotNull)
      .groupBy("__gh").agg(count(lit(1)).as("__df"))
    perDoc.join(docFreq, Seq("__gh"), "left")
      .groupBy("id", "n_ngrams")
      .agg(coalesce(sum(when(col("__df") > 1, 1L).otherwise(0L)), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_ngrams") > 0,
          col("n_dup").cast("double") / col("n_ngrams")).otherwise(0.0))
  }

  /** FUZZY decontamination via MinHash-LSH band buckets — the
    * appendix-C-of-GPT-3 shape generalized from exact 13-grams to
    * near-duplicate detection: a training document is flagged when ANY of
    * its signature's band slices collides with an eval document's slice
    * (the same banding contract [[Dedup.minhashCandidates]] uses for
    * near-dup pairs, so the flag means "would be an LSH candidate pair
    * with some eval doc"). Returns flagged train docs only:
    * (id, n_bands_matched), one row per flagged doc.
    *
    * Scale shape: eval benchmarks are tiny next to a 100 TB corpus — the
    * eval (band, bucket) set is distinct-aggregated then BROADCAST, so the
    * train side never shuffles: signature projection (codegen'd, per-row),
    * broadcast semi-shaped join, one map-side-combined count by id. */
  /** The banded (id, band, bucket) projection [[lshOverlap]] is built on,
    * public for STREAMING decontamination: it is a pure per-row
    * projection + generator (no shuffle, no state), so it runs unchanged
    * on a streaming DataFrame — flag live documents with a stream-static
    * LEFT SEMI join against the eval side's distinct (band, bucket) set
    * (StreamingSpec exercises exactly that shape). */
  def bandBuckets(df: DataFrame, textCol: String, idCol: String,
                  numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5,
                  seed: Long = 42L): DataFrame =
    Dedup.bandedBuckets(df.sparkSession, df, textCol, idCol,
      numHashes, bands, shingleK, seed)

  def lshOverlap(train: DataFrame, eval: DataFrame, textCol: String,
                 idCol: String, numHashes: Int = 64, bands: Int = 16,
                 shingleK: Int = 5, seed: Long = 42L): DataFrame = {
    val spark = train.sparkSession
    val tb = Dedup.bandedBuckets(spark, train, textCol, idCol,
      numHashes, bands, shingleK, seed)
    val eb = Dedup.bandedBuckets(spark, eval, textCol, idCol,
      numHashes, bands, shingleK, seed)
      .select("band", "bucket").distinct()
    tb.join(broadcast(eb), Seq("band", "bucket"))
      // a doc can hit the same eval bucket via ONE band only once — count
      // distinct bands, not join rows (duplicate eval slices are distinct'd)
      .groupBy("id")
      .agg(countDistinct(col("band")).as("n_bands_matched"))
  }

  /** Corpus-overlap ESTIMATE between a training and an evaluation corpus:
    * minhash Jaccard of the two corpora's character-shingle SETS, computed
    * without ANY join. The elementwise minimum of per-document minhash
    * signatures IS the corpus signature (min is associative), so each side
    * costs one codegen'd signature projection + one map-side-combined
    * aggregation with O(numHashes) state, and the estimate compares two
    * numHashes-long vectors on the driver.
    *
    * THE cheap pre-screen before exact decontamination at 100 TB:
    * [[overlapReport]] joins train x eval n-grams (a corpus-scale
    * shuffle); this reads each corpus once, shuffles O(numHashes x
    * partitions) longs TOTAL, and tells you whether the exact pass is
    * worth scheduling — the same single-pass trick sketch-based corpus
    * audits use (e.g. estimating crawl-snapshot overlap before a merge).
    *
    * Null-text docs carry no shingles and are excluded from the doc
    * counts. Returns ONE row: (n_train, n_eval, matching_components,
    * est_jaccard) — est_jaccard = matches/numHashes (an exact binary
    * double both here and in SQL), NULL if either corpus is empty. */
  def corpusMinhashJaccard(train: DataFrame, eval: DataFrame, textCol: String,
                           numHashes: Int = 64, shingleK: Int = 5,
                           seed: Long = 42L): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    val spark = train.sparkSession
    import spark.implicits._
    val params = Dedup.hashParams(numHashes, seed)
    def corpusSig(df: DataFrame): (Long, Array[Long]) = {
      val fname = s"minhash_sig_${numHashes}_${shingleK}_$seed"
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        fname,
        exprs => graft.functions.MinhashSignature(exprs.head, params, shingleK),
        "scala_udf")
      val sigs = df.select(call_function(fname, col(textCol)).as("sig"))
      val aggs = count(col("sig")).as("n") +: (0 until numHashes).map(i =>
        min(element_at(col("sig"), i + 1)).as(s"m$i"))
      val r = sigs.agg(aggs.head, aggs.tail: _*).head()
      (r.getLong(0), Array.tabulate(numHashes)(i =>
        if (r.isNullAt(i + 1)) Long.MaxValue else r.getLong(i + 1)))
    }
    val (nTrain, sigTrain) = corpusSig(train)
    val (nEval, sigEval) = corpusSig(eval)
    // empty-side short-circuit (ADVICE r11): with no shingles on a side,
    // its per-component mins are all the Long.MaxValue sentinel — counting
    // sentinel==sentinel as 64 "matches" against another empty side would
    // report full overlap of two empty corpora
    val matches =
      if (nTrain == 0L || nEval == 0L) 0L
      else (0 until numHashes).count(i => sigTrain(i) == sigEval(i)).toLong
    val est: Option[Double] =
      if (nTrain == 0L || nEval == 0L) None
      else Some(matches.toDouble / numHashes)
    Seq((nTrain, nEval, matches, est))
      .toDF("n_train", "n_eval", "matching_components", "est_jaccard")
  }

  /** Pairwise corpus-overlap MATRIX across the groups of one frame (e.g.
    * crawl sources, snapshot dates): [[corpusMinhashJaccard]]'s estimate
    * for every group pair, from ONE pass — the pre-merge audit telling
    * you which sources are re-crawls of each other before any exact
    * (join-shaped) decontamination is scheduled.
    *
    * Scale shape: one signature projection over the corpus, one
    * aggregation with O(#groups·numHashes) state (posexplode feeds
    * map-side-combined mins, so the shuffle carries only partial mins),
    * then the G×G comparison runs on collected O(#groups·numHashes)
    * driver metadata. Group cardinality is gated by
    * `graft.corpusMatrix.maxGroups` (default 256 → a 32k-pair matrix; the
    * groupedStats loud-refusal discipline) — sources/snapshots are
    * enum-scale, and past that a matrix is the wrong tool anyway.
    * Returns (group_a, group_b, n_a, n_b, matching_components,
    * est_jaccard) for group_a < group_b; est_jaccard is NULL when either
    * side has no shingled documents (the empty-side rule). */
  def corpusMinhashMatrix(df: DataFrame, textCol: String, groupCol: String,
                          numHashes: Int = 64, shingleK: Int = 5,
                          seed: Long = 42L): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    val spark = df.sparkSession
    import spark.implicits._
    val maxGroups = graft.GraftConf.positiveLong(spark, "graft.corpusMatrix.maxGroups", 256L)
    val params = Dedup.hashParams(numHashes, seed)
    val fname = s"minhash_sig_${numHashes}_${shingleK}_$seed"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname,
      exprs => graft.functions.MinhashSignature(exprs.head, params, shingleK),
      "scala_udf")
    val sigs = df.select(col(groupCol).cast("string").as("__g"),
      call_function(fname, col(textCol)).as("sig"))
    // gate straight off df so no plan shape can drag the signature
    // projection into this probe aggregation
    val est = df.agg(approx_count_distinct(col(groupCol).cast("string"), 0.05))
      .head().getLong(0)
    if (est > maxGroups) throw new IllegalArgumentException(
      s"corpusMinhashMatrix: ~$est distinct groups exceeds " +
        s"graft.corpusMatrix.maxGroups=$maxGroups — the matrix is O(groups²) " +
        "pairs and O(groups x numHashes) driver state. Raise the conf only " +
        "for a genuinely enum-scale group column, or bucket it upstream.")
    // count non-null TEXT, not non-null sig: same answer (the signature
    // expression is null iff its input is), but counting sig would force
    // the whole signature pipeline to run a second time just for its
    // nullness (measured ~2x of the op's sfx10 wall)
    val countRows = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(col(textCol)).as("n"))
      .collect()
    // loud refusal on NULL groups (r13 ADVICE): a null map key would
    // otherwise NPE later in groups.sorted — opaque instead of actionable
    if (countRows.exists(_.isNullAt(0))) throw new IllegalArgumentException(
      s"corpusMinhashMatrix: group column '$groupCol' contains NULLs — " +
        "filter or impute them upstream (a NULL source/snapshot label has " +
        "no place in the overlap matrix).")
    val counts = countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val mins = sigs.filter(col("sig").isNotNull)
      .select(col("__g"), posexplode(col("sig")))
      .groupBy("__g", "pos").agg(min(col("col")).as("m"))
      .collect()
    val sigOf = mins.groupBy(_.getString(0)).map { case (g, rows) =>
      val a = Array.fill(numHashes)(Long.MaxValue)
      rows.foreach(r => a(r.getInt(1)) = r.getLong(2))
      g -> a
    }
    val groups = counts.keys.toSeq.sorted
    val out = for {
      i <- groups.indices; j <- (i + 1) until groups.length
      ga = groups(i); gb = groups(j)
    } yield {
      val (na, nb) = (counts(ga), counts(gb))
      val empty = na == 0L || nb == 0L
      val matches =
        if (empty) 0L
        else (0 until numHashes).count(h => sigOf(ga)(h) == sigOf(gb)(h)).toLong
      (ga, gb, na, nb, matches,
        if (empty) None else Some(matches.toDouble / numHashes))
    }
    out.toDF("group_a", "group_b", "n_a", "n_b", "matching_components",
      "est_jaccard")
  }
}
