package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.GraftFunctions

/** Sketch-accelerated EXACT blocklist operations — the "filter 100 TB of
  * training data against a contaminated-URL / bad-hash list" primitive.
  *
  * The naive plan is a shuffle anti/semi join: every row of the corpus is
  * hashed across the wire to meet the blocklist. Here a bloom filter built
  * over the blocklist keys rides the corpus scan instead:
  *
  *  - bloom-NEGATIVE rows are provably not in the blocklist (bloom filters
  *    have no false negatives) and never shuffle at all;
  *  - bloom-POSITIVE rows — true matches plus an `fpp` fraction of false
  *    positives — continue to an exact join that removes the FPs.
  *
  * Results are therefore EXACTLY the anti/semi join (oracled in DuckDB as
  * plain `NOT IN` / `IN`), but the shuffle carries ~|matches| + fpp·|corpus|
  * rows instead of |corpus|. The sketch itself is one binary aggregate value
  * (`BloomFilterAggregate`, the same expression Spark's runtime join filters
  * use) embedded in the plan as a literal — identical distribution shape to
  * Spark's own InjectRuntimeFilter.
  *
  * Keys are pre-hashed with xxhash64 (any type → long) on both sides, so a
  * 64-bit collision can only ever ADD a false positive, which the exact
  * verify join removes.
  */
object Blocklist {

  /** Build the serialized bloom sketch over `blocklist[keyCol]`.
    * One aggregation job; the returned byte array is O(numBits/8), bounded
    * and independent of corpus size. `expectedItems < 0` ⇒ count the
    * blocklist first (metadata-fast on parquet). */
  def sketch(blocklist: DataFrame, keyCol: String, fpp: Double = 0.01,
             expectedItems: Long = -1L): Array[Byte] = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = math.max(1L, if (expectedItems >= 0) expectedItems else blocklist.count())
    val bits = math.max(64L, BloomFilter.optimalNumOfBits(n, fpp))
    // BloomFilterAggregate silently clamps its sizing to the session's
    // runtime-join-filter caps (maxNumItems default 4M, maxNumBits default
    // 64Mi bits). A >4M-key blocklist would silently get a far higher
    // effective fpp than requested — results stay exact (the verify join
    // removes FPs) but the documented shuffle-pruning contract erodes.
    // Raise the caps to cover the computed size before aggregating, and
    // RESTORE them after: the raise is scoped to this one aggregation, not
    // a session-wide change to runtime join-filter sizing for every
    // unrelated query that follows.
    val conf = blocklist.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevItems = conf.get(itemsKey)
    val prevBits = conf.get(bitsKey)
    val raiseItems = prevItems.toLong < n
    val raiseBits = prevBits.toLong < bits
    try {
      if (raiseItems) conf.set(itemsKey, n.toString)
      if (raiseBits) conf.set(bitsKey, bits.toString)
      val row = blocklist.agg(GraftFunctions.bloom_agg(blocklist.sparkSession,
        xxhash64(col(keyCol)), n, bits).as("bf")).head()
      if (row.isNullAt(0)) {          // empty blocklist → empty sketch
        val out = new java.io.ByteArrayOutputStream()
        BloomFilter.create(1, fpp).writeTo(out)
        out.toByteArray
      } else row.getAs[Array[Byte]](0)
    } finally {
      if (raiseItems) conf.set(itemsKey, prevItems)
      if (raiseBits) conf.set(bitsKey, prevBits)
    }
  }

  private def probe(df: DataFrame, bf: Array[Byte], key: Column): Column =
    GraftFunctions.might_contain(df.sparkSession, lit(bf), xxhash64(key))

  /** Exact left-anti join: rows of `df` whose `keyCol` does NOT appear in
    * `blocklist[blKey]`. Bloom-negative rows (the overwhelming majority when
    * the blocklist hit rate is low) bypass the join shuffle entirely; only
    * bloom-positives are verified exactly. The two branches re-scan the
    * source — at scale a columnar re-scan is far cheaper than shuffling the
    * full corpus, and the exchange on the positive branch is tiny.
    *
    * CONTRACT: `df` must be deterministic between scans (stable source
    * files, no rand()-derived columns) — the two branches evaluate it
    * independently, so a row that changes its key between scans could be
    * dropped from or duplicated in the union. For non-deterministic inputs
    * pass `persistInput = true` to evaluate `df` once (costs a
    * MEMORY_AND_DISK materialization; the caller should unpersist via the
    * returned frame's lineage when done). */
  def filterOut(df: DataFrame, blocklist: DataFrame, keyCol: String,
                blocklistKey: String = null, fpp: Double = 0.01,
                persistInput: Boolean = false,
                prebuiltSketch: Array[Byte] = null): DataFrame = {
    val blKey = Option(blocklistKey).getOrElse(keyCol)
    // prebuiltSketch (a prior [[sketch]] over blocklist[blKey]) lets a
    // caller overlap the sketch build with other eager work (§2.6) —
    // semantics identical, the verify join still removes every FP
    val bf = Option(prebuiltSketch).getOrElse(sketch(blocklist, blKey, fpp))
    val src = if (persistInput) df.persist() else df
    val clean = src.filter(!probe(src, bf, col(keyCol)))
    val verified = src.filter(probe(src, bf, col(keyCol)))
      .join(blocklist.select(col(blKey).as(keyCol)), Seq(keyCol), "left_anti")
    clean.unionByName(verified)
  }

  /** Exact left-semi join: rows of `df` whose `keyCol` IS in the blocklist
    * (e.g. "pull every contaminated document for audit"). Single scan: the
    * bloom prunes the probe side BEFORE the shuffle, so the exchange carries
    * matches + fpp·|corpus| rows only. */
  def keepMatching(df: DataFrame, blocklist: DataFrame, keyCol: String,
                   blocklistKey: String = null, fpp: Double = 0.01): DataFrame = {
    val blKey = Option(blocklistKey).getOrElse(keyCol)
    val bf = sketch(blocklist, blKey, fpp)
    df.filter(probe(df, bf, col(keyCol)))
      .join(blocklist.select(col(blKey).as(keyCol)), Seq(keyCol), "left_semi")
  }

  /** Multi-word PHRASE blocklist matching — "which documents contain any
    * banned phrase" for phrases of one or more words, matched at WORD
    * boundaries on whitespace-normalized lowercase text (so `"bad actor"`
    * matches `"a Bad  Actor spoke"` but never `"badactor"` — substring
    * matching inside words is deliberately NOT offered, because the
    * anchored plan below is only exact for word-aligned matches).
    *
    * Scale shape — the corpus NEVER shuffles: each document explodes to
    * its DISTINCT tokens (a narrow Generate), probes a broadcast hash
    * table of the phrases keyed by their FIRST token, and the few
    * anchor-hit rows verify the full phrase with one `contains` on the
    * already-normalized text. The naive plan is corpus × phrases; this
    * one is corpus-scan + |distinct tokens| broadcast probes.
    *
    * No false negatives, provably: if `' phrase '` occurs in
    * `' normalized_text '` then the phrase's first token occurs
    * space-bounded in the text, i.e. IS one of the document's tokens, so
    * the anchor join cannot drop a true match. No false positives: every
    * candidate is verified with the word-boundary `contains`.
    *
    * Output: one row per matched (document, phrase) — already distinct,
    * because each phrase has exactly one anchor token and the document's
    * tokens are distinct, so a (doc, phrase) candidate is produced at
    * most once per ORIGINAL phrase. Columns `(idCol, phraseCol)`, where
    * phraseCol carries the caller's ORIGINAL phrase string (not its
    * normalized form), so the output joins back to the blocklist table
    * for severity/category metadata; matching itself runs on the
    * normalized form. Two originals that normalize identically each get
    * their own match rows. Null / empty-after-normalization phrases are
    * refused loudly (they can match nothing or everything); null/empty
    * documents match nothing. */
  def phraseMatches(docs: DataFrame, phrases: DataFrame, textCol: String,
                    idCol: String, phraseCol: String = "phrase"): DataFrame = {
    val nBad = phrases
      .filter(col(phraseCol).isNull || Text.normalized(col(phraseCol)) === "")
      .count()
    require(nBad == 0L,
      s"$nBad null/empty phrase(s) in the blocklist ($phraseCol) — " +
        "normalize or drop them; an empty phrase would match every document")
    val anchored = phrases
      .select(col(phraseCol).as("__orig"),
        Text.normalized(col(phraseCol)).as("__phrase")).distinct()
      .withColumn("__anchor", element_at(split(col("__phrase"), " "), 1))
    val toks = docs
      // base-column null gate first (reaches the parquet scan as a pushed
      // filter); the derived empty-after-normalization gate follows
      .filter(col(textCol).isNotNull)
      .select(col(idCol), Text.normalized(col(textCol)).as("__norm"))
      .filter(col("__norm") =!= "")
      .select(col(idCol), col("__norm"),
        explode(array_distinct(split(col("__norm"), " "))).as("__anchor"))
    toks.join(broadcast(anchored), Seq("__anchor"))
      .filter(contains(concat(lit(" "), col("__norm"), lit(" ")),
        concat(lit(" "), col("__phrase"), lit(" "))))
      .select(col(idCol), col("__orig").as(phraseCol))
  }

  /** [[phraseMatches]] as a filter: documents containing NO blocklisted
    * phrase. One anti-join of the corpus against the (small) matched-id
    * set — AQE broadcasts it when it fits. Same deterministic-input
    * contract as [[filterOut]]: `docs` is evaluated on both sides. */
  def phraseFilterOut(docs: DataFrame, phrases: DataFrame, textCol: String,
                      idCol: String, phraseCol: String = "phrase"): DataFrame =
    docs.join(
      phraseMatches(docs, phrases, textCol, idCol, phraseCol)
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
