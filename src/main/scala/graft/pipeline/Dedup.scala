package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.LocalPath

/** Deduplication operators for training-data pipelines (driver mandate).
  *
  * Scale notes per operator:
  *  - exact: hash-groupBy — ONE shuffle on the fingerprint; at 100 TB the
  *    md5 key shuffles far less than the documents (only key+id move when
  *    projected first, which Catalyst does automatically).
  *  - MinHash+LSH: shingle → minhash signature (per-row, no shuffle) →
  *    band buckets → self-join per bucket. The only shuffle is on
  *    (band, bucketHash); candidate verification is per-pair local math.
  *  - SimHash: per-row 64-bit signature; near-dup = identical signature
  *    (or band-prefix buckets for hamming<=k).
  *  - n-gram Jaccard: exact verification on LSH candidates only — never
  *    all-pairs.
  *  - embedding cosine: see Similarity (LSH-bucketed path there).
  */
object Dedup {

  /** Edge bound of [[components]]' driver union-find. */
  private val ComponentsLocalMaxEdges = 1000000L

  /** Exact dedup on a normalized-text fingerprint: keep the smallest id per
    * group. Returns the deduplicated frame. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    df.withColumn("__fp", Text.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Per-group duplicate report: (fingerprint, n, keeper id). */
  def exactReport(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", Text.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** INCREMENTAL exact dedup: drop rows of `df` whose normalized-text
    * fingerprint already exists in `known` (a fingerprint corpus built by
    * [[exactReport]] — or any frame with a fingerprint column). The
    * new-crawl-vs-existing-corpus shape: the known index is usually far
    * smaller than the batch, and the bloom sketch lets the overwhelmingly-
    * novel majority of the batch skip the verify shuffle entirely
    * (exactness via [[Blocklist.filterOut]]'s verify join). Dedup WITHIN
    * the batch itself stays [[exact]]'s job — compose: exact then against. */
  def exactAgainst(df: DataFrame, known: DataFrame, textCol: String,
                   knownFpCol: String = "fp", fpp: Double = 0.01,
                   prebuiltSketch: Array[Byte] = null): DataFrame =
    Blocklist.filterOut(
        df.withColumn("__fp", Text.fingerprint(col(textCol))),
        known, "__fp", blocklistKey = knownFpCol, fpp = fpp,
        prebuiltSketch = prebuiltSketch)
      .drop("__fp")

  // ------------------------------------------------------------ MinHash LSH

  /** Deterministic hash family: murmur3 fmix64 finalizer over
    * (shingleHash ^ perFunctionSeed). A low-range linear (a·x+b) mod p
    * scheme is NOT usable here — with narrow coefficients it is nearly
    * order-preserving, signatures collapse to the globally-smallest
    * shingle, and every document pair collides in every band. fmix64 gives
    * full 64-bit avalanche at ~4 ops per hash. */
  private[graft] def hashParams(numHashes: Int, seed: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)(rnd.nextLong())
  }

  /** murmur3 64-bit finalizer — full avalanche mixing. */
  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Character shingles of the normalized text. */
  def shingles(s: String, k: Int): Iterator[String] = {
    val n = s.toLowerCase.replaceAll("\\s+", " ").trim
    if (n.length <= k) Iterator.single(n) else n.sliding(k)
  }

  /** MinHash signature of a document. */
  def minhashSignature(text: String, numHashes: Int, shingleK: Int,
                       seed: Long = 42L): Array[Long] =
    minhashSignatureWith(text, hashParams(numHashes, seed), shingleK)

  /** Signature with a precomputed hash family — hoist `hashParams` out of
    * per-row loops (it is deterministic; rebuilding it per document costs
    * billions of Random constructions at corpus scale). */
  def minhashSignatureWith(text: String, params: Array[Long],
                           shingleK: Int): Array[Long] = {
    val numHashes = params.length
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingles(text, shingleK).foreach { sh =>
      val x = Text.polyHash(sh)
      var i = 0
      while (i < numHashes) {
        val h = fmix64(x ^ params(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Distinct k-shingle polynomial hashes — the exact-Jaccard set
    * representation (also the static kernel behind the native
    * ShingleHashes expression). */
  def shingleHashSet(text: String, k: Int): Array[Long] =
    shingles(text, k).map(Text.polyHash).toArray.distinct

  /** Register-and-call helper for the native signature expressions: the
    * signature computation stays inside the codegen'd projection (a typed
    * Dataset map would force a deserialization boundary around the scan). */
  private def nativeCol(spark: SparkSession, fname: String,
                        build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
                          org.apache.spark.sql.catalyst.expressions.Expression)(
                        c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname, build, "scala_udf")
    call_function(fname, c)
  }

  /** Default sink for scale warnings (stderr) when a call passes no
    * `warnSink`. */
  private val logSink: String => Unit = s => System.err.println(s)

  /** Parsed `graft.dedup.pairBlowupWarnFactor` (default 8; 0 disables) —
    * shared by every pre-flight pair-bound guard so the conf key keeps
    * ONE parse/validation/default across paths. */
  private def pairBlowupWarnFactor(spark: SparkSession): Long =
    spark.conf.getOption("graft.dedup.pairBlowupWarnFactor")
      .map { s =>
        val v = try s.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft.dedup.pairBlowupWarnFactor must be a non-negative integer, got '$s'")
        }
        require(v >= 0, s"graft.dedup.pairBlowupWarnFactor must be >= 0, got $v")
        v
      }.getOrElse(8L)

  /** The pre-flight shared by the pairwise candidate joins: `buckets` holds
    * one row per (bucket, member), grouped by `keys`. One aggregation of the
    * bucket sizes gives the exact pre-dedup pair bound; when it passes
    * `factor` x the member count / `rowsPerDoc`, `sink` gets
    * `message(pairBound, docs, largestBucket)` before this returns, so the
    * check runs inside the caller's job group. `factor` 0 skips it. */
  private def warnPairBlowup(buckets: DataFrame, keys: Seq[String], factor: Long,
                             rowsPerDoc: Long, sink: String => Unit)(
                             message: (Long, Long, Long) => String): Unit =
    if (factor > 0L) {
      val r = buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).as("pairs"),
          coalesce(sum(col("c")), lit(0L)).as("rows"),
          coalesce(max(col("c")), lit(0L)).as("maxb")).head()
      val docs = math.max(r.getLong(1) / rowsPerDoc, 1L)
      if (r.getLong(0) > factor * docs) sink(message(r.getLong(0), docs, r.getLong(2)))
    }

  /** MinHash-LSH candidate pairs: documents sharing at least one band
    * bucket. Returns (id1, id2, estimated jaccard from full signatures),
    * id1 < id2, deduplicated. `warnSink` receives scale warnings (default:
    * stderr). */
  def minhashCandidates(spark: SparkSession, df: DataFrame, textCol: String,
                        idCol: String, numHashes: Int = 64, bands: Int = 16,
                        shingleK: Int = 5, seed: Long = 42L,
                        warnSink: String => Unit = null): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sink = if (warnSink != null) warnSink else logSink
    val rowsPerBand = numHashes / bands
    val params = hashParams(numHashes, seed) // computed ONCE, rides in the plan
    val sigOf = nativeCol(spark, s"minhash_sig_${numHashes}_${shingleK}_$seed",
      exprs => graft.functions.MinhashSignature(exprs.head, params, shingleK)) _
    // dup-heavy-corpus guard (VERDICT r11 #6): the pairwise contract is
    // OUTPUT-bound — bucket cliques are quadratic in duplicate-cluster
    // size (x110 pairs measured for x10 data at sf10, SCALE.md). One
    // cheap pre-flight aggregates bucket sizes into the EXACT pre-dedup
    // pair bound and warns past `graft.dedup.pairBlowupWarnFactor` x
    // corpus size (default 8; 0 disables), pointing at the linear path.
    val warnFactor = pairBlowupWarnFactor(spark)
    // ids ride as strings: arbitrary id types survive without cast-to-null
    // crashes or '7'/'07'-style collisions
    val sigs0 = df.select(col(idCol).cast("string").as("id"),
      sigOf(col(textCol)).as("sig"))
    // when the guard adds a second action below, cut lineage at the
    // PRE-explode signatures (r13 ADVICE refining the r12 banded cut):
    // the expensive shingle+hash work materializes once per DOC — 1/bands
    // the footprint of checkpointing the banded frame, which stored the
    // 64-long sig duplicated per band; the cheap slice/xxhash banding
    // recomputes per consumer (guard agg + both join sides)
    val sigs = if (warnFactor > 0L) sigs0.localCheckpoint() else sigs0
    // band buckets: (band, xxhash64(band slice)) — the ONLY shuffle
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    warnPairBlowup(banded, Seq("band", "bucket"), warnFactor, bands, sink) {
      (pairBound, nDocs, _) =>
        s"minhashCandidates: bucket co-occurrence bound ~$pairBound " +
          s"pairs for ~$nDocs docs (> ${warnFactor}x, " +
          "graft.dedup.pairBlowupWarnFactor) — the pairwise contract is " +
          "OUTPUT-bound on dup-heavy corpora. For duplicate GROUPS use " +
          "minhashStarEdges + components instead: O(m*bands) edges, " +
          "identical connected components (see SCALE.md, dedup_minhash_full)."
    }
    val a = banded.select(col("band"), col("bucket"), col("id").as("id1"), col("sig").as("sig1"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id2"), col("sig").as("sig2"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / numHashes).as("est_jaccard"))
      .dropDuplicates("id1", "id2")
  }

  /** LSH STAR edges — the linear-in-duplication grouping path for
    * dup-HEAVY corpora. [[minhashCandidates]]'s contract (every bucket
    * co-occurrence as a scored pair) is inherently quadratic in duplicate-
    * cluster size: ×10 data with ×10-deeper clusters multiplied the pair
    * OUTPUT ×110 and measured ×87–94 wall regardless of join shape (both
    * the signature-carrying streamed join and a pairs-first/attach-later
    * variant were A/B'd at sf10 — see SCALE.md). When the goal is
    * duplicate GROUPS rather than scored pairs, emit one (bucketRep, id)
    * edge per member instead of the bucket clique: within a bucket the
    * star spans exactly the clique's vertex set, so the union over
    * buckets has IDENTICAL connected components (spec-asserted against
    * the pairwise path) with O(m·bands) edges instead of O(m²·bands).
    * One groupBy + one self-join on (band, bucket), ids only; feed
    * [[components]] for groups, or [[ngramJaccard]] to verify the edges
    * when a similarity floor matters (star edges are between near-twins
    * in dup-heavy corpora, where verification is cheapest). */
  def minhashStarEdges(spark: SparkSession, df: DataFrame, textCol: String,
                       idCol: String, numHashes: Int = 64, bands: Int = 16,
                       shingleK: Int = 5, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigOf = nativeCol(spark, s"minhash_sig_${numHashes}_${shingleK}_$seed",
      exprs => graft.functions.MinhashSignature(exprs.head, params, shingleK)) _
    val banded = df
      .select(col(idCol).cast("string").as("id"), sigOf(col(textCol)).as("sig"))
      .select(col("id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val reps = banded.groupBy("band", "bucket").agg(min(col("id")).as("id1"))
    banded.join(reps, Seq("band", "bucket"))
      .filter(col("id") =!= col("id1"))
      .select(col("id1"), col("id").as("id2"))
      .dropDuplicates("id1", "id2")
  }

  /** Banded (id, band, bucket) projection shared with the
    * decontamination LSH overlap: same signature expression, same
    * band-slice hashing as [[minhashCandidates]]/[[minhashStarEdges]]. */
  private[pipeline] def bandedBuckets(spark: SparkSession, df: DataFrame,
      textCol: String, idCol: String, numHashes: Int, bands: Int,
      shingleK: Int, seed: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigOf = nativeCol(spark, s"minhash_sig_${numHashes}_${shingleK}_$seed",
      exprs => graft.functions.MinhashSignature(exprs.head, params, shingleK)) _
    df.select(col(idCol).cast("string").as("id"), sigOf(col(textCol)).as("sig"))
      .select(col("id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs — the
    * verification stage after LSH (never run all-pairs). */
  def ngramJaccard(spark: SparkSession, docs: DataFrame, pairs: DataFrame,
                   textCol: String, idCol: String, shingleK: Int = 5): DataFrame = {
    val shOf = nativeCol(spark, s"shingle_hashes_$shingleK",
      exprs => graft.functions.ShingleHashes(exprs.head, shingleK)) _
    val sets = docs.select(col(idCol).cast("string").as("id"),
      shOf(col(textCol)).as("sh"))
    pairs
      .join(sets.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("uni", size(array_union(col("sh1"), col("sh2"))))
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Asymmetric near-dup verification: containment C(A in B) = |A∩B|/|A|
    * flags a short document wholly embedded in a longer one — the
    * quote-page / boilerplate-wrapper case Jaccard dilutes toward 0 as the
    * length gap grows. One intersect pass over the same hashed-shingle
    * sets [[ngramJaccard]] uses (union size derived as |A|+|B|−|A∩B|, no
    * second array op); emits both directions plus jaccard so callers
    * threshold either measure. Same scale shape as ngramJaccard: the
    * corpus-scale work is the shingle projection; joins touch only the
    * candidate pairs. */
  def ngramContainment(spark: SparkSession, docs: DataFrame, pairs: DataFrame,
                       textCol: String, idCol: String,
                       shingleK: Int = 5): DataFrame = {
    val shOf = nativeCol(spark, s"shingle_hashes_$shingleK",
      exprs => graft.functions.ShingleHashes(exprs.head, shingleK)) _
    val sets = docs.select(col(idCol).cast("string").as("id"),
      shOf(col(textCol)).as("sh"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val n1 = size(col("sh1")).cast("double")
    val n2 = size(col("sh2")).cast("double")
    pairs
      .join(sets.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        when(n1 > 0, inter / n1).as("containment1"),
        when(n2 > 0, inter / n2).as("containment2"),
        when(n1 + n2 - inter > 0, inter / (n1 + n2 - inter)).as("jaccard"))
  }

  // ------------------------------------------------------ duplicate groups

  /** Connected components over verified candidate pairs — the grouping
    * stage between pair verification and keep-one resolution (candidate
    * pairs chain: A~B, B~C puts A,C in one duplicate group even when A~C
    * was never scored). Min-label propagation with POINTER JUMPING
    * (label <- label(label) each round), so rounds are O(log diameter)
    * rather than O(diameter); every round is cut from the growing plan
    * lineage with an eager localCheckpoint (iterative DataFrame algorithms
    * otherwise re-analyze an ever-larger plan per round). Each round is a
    * bounded number of shuffles on id over the PAIRS table only — verified
    * duplicate pairs are tiny relative to the corpus. Returns
    * (id, component) with component = min id of the group; the id column
    * KEEPS its input type (a string cast would silently turn min into
    * lexicographic order and disagree with numeric-min keepers). */
  def components(pairs: DataFrame, idCol1: String = "id1",
                 idCol2: String = "id2", maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(idCol1).as("src"), col(idCol2).as("dst"))
      .union(pairs.select(col(idCol2).as("src"), col(idCol1).as("dst")))
      .distinct()
      .localCheckpoint()
    // adaptive small-graph path: a dedup pair graph is usually orders of
    // magnitude smaller than the corpus; below [[ComponentsLocalMaxEdges]]
    // a driver union-find replaces 5+ distributed label-propagation rounds
    // (each a join + checkpoint job).
    // local-path eligibility (same gate as Graph.pageRank): the union-find
    // keys a JVM HashMap and orders ids via Comparable — sound for strings
    // and primitive numerics only (binary ids compare by reference /
    // ClassCastException), and NULL ids would group in the Map where the
    // distributed path's SQL joins never match them. Both shapes route to
    // the distributed path.
    val idEligible = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    if (idEligible) LocalPath.gate("components", edges, ComponentsLocalMaxEdges).foreach { probe =>
      if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        LocalPath.declined("components", "null id")
      else return localComponents(spark, edges.schema("src").dataType, probe)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // min over self + neighbors
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("nlabel").as("nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jumping: adopt the label of the current label-node
      val jumped = stepped.as("a")
        .join(stepped.select(col("id").as("jid"), col("label").as("jlabel")).as("b"),
          col("a.label") === col("b.jid"), "left")
        .select(col("a.id").as("id"), col("a.__old").as("__old"),
          coalesce(col("jlabel"), col("a.label")).as("label"))
      // ONE action per round: the eager localCheckpoint that cuts lineage
      // also tallies label changes through an accumulator, replacing the
      // former separate join+count convergence job. Task retries can only
      // overcount, which is safe for a ">0 means keep going" test.
      val acc = spark.sparkContext.longAccumulator("graft.components.changed")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", jumped.schema("id").dataType),
        org.apache.spark.sql.types.StructField("label", jumped.schema("label").dataType)))
      val nextRdd = jumped.rdd.map { r =>
        if (r.get(1) != r.get(2)) acc.add(1L)
        org.apache.spark.sql.Row(r.get(0), r.get(2))
      }
      labels = spark.createDataFrame(nextRdd, schema).localCheckpoint()
      changed = acc.value
      iter += 1
    }
    labels.select(col("id"), col("label").as("component"))
  }

  /** Driver union-find over a collected (already direction-doubled) edge
    * list; representative = the component's minimum id under the same
    * ordering the distributed path's min()/least() aggregation uses. */
  private def localComponents(spark: SparkSession,
                              idType: org.apache.spark.sql.types.DataType,
                              edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    edges.foreach { r =>
      val (s, d) = (r.get(0), r.get(1))
      if (!parent.containsKey(s)) parent.put(s, s)
      if (!parent.containsKey(d)) parent.put(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) { // min root wins, matching the distributed min-label
        if (lt(rs, rd)) parent.put(rd, rs) else parent.put(rs, rd)
      }
    }
    import scala.jdk.CollectionConverters._
    val rows = parent.keySet().asScala.toSeq.map { id =>
      org.apache.spark.sql.Row(id, find(id))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Keep-one resolution over grouped duplicates: every id maps to its
    * group's keeper (the minimum id). Ids absent from any pair are their
    * own keeper — join the result back to the corpus with a left join and
    * coalesce. */
  def resolveKeepers(components: DataFrame): DataFrame =
    components.select(col("id"), col("component").as("keeper"))

  /** Canonical-document selection per duplicate cluster — the "keep the
    * BEST member" cut (longest text, highest Gopher/quality score, a model
    * score, ...) instead of [[resolveKeepers]]' min-id keeper. `comps` is
    * the (id, component) assignment from [[components]]; docs absent from
    * it are singletons and survive untouched. Keeper = the member with the
    * maximum `quality`, ties broken to the minimum id in its STRING form
    * (the cross-type canonical ordering used throughout this module); a
    * cluster whose every quality is NULL falls back to the min-id keeper.
    *
    * Returns the surviving rows of `docs` plus a string `component`
    * column (the cluster id for cluster keepers, the doc's own id for
    * singletons).
    *
    * Scale shape: the cluster tables are duplicate-scale, not corpus-
    * scale, so every aggregate here is tiny and map-side combined; the
    * argmax is a two-level aggregate (max quality, then min id among the
    * maximizers — deterministic for ANY orderable id type, no window, no
    * per-cluster single-task funnel); the only corpus-scale operations
    * are the quality projection and the left-anti against the loser set
    * (broadcast-shaped: losers ⊆ duplicate members). */
  def keepBest(docs: DataFrame, comps: DataFrame, idCol: String,
               quality: Column): DataFrame = {
    val c = comps.select(col("id").cast("string").as("__kb_id"),
      col("component").cast("string").as("__kb_comp"))
    val members = docs
      .join(c, docs(idCol).cast("string") === col("__kb_id"))
      .select(col("__kb_comp"), col("__kb_id"), quality.as("__kb_q"))
    val best = members.groupBy("__kb_comp").agg(max("__kb_q").as("__kb_qmax"))
    val winners = members.join(best, Seq("__kb_comp"))
      .filter(col("__kb_q") <=> col("__kb_qmax")) // null-safe: all-null cluster keeps min id
      .groupBy("__kb_comp").agg(min(col("__kb_id")).as("__kb_win"))
    val losers = members.join(winners, Seq("__kb_comp"))
      .filter(col("__kb_id") =!= col("__kb_win"))
      .select(col("__kb_id").as("__kb_loser"))
    val kept = docs.join(losers,
      docs(idCol).cast("string") === col("__kb_loser"), "left_anti")
    kept.join(winners, kept(idCol).cast("string") === col("__kb_win"), "left")
      .withColumn("component",
        coalesce(col("__kb_comp"), kept(idCol).cast("string")))
      .drop("__kb_comp", "__kb_win")
  }

  /** One-call near-dedup: MinHash-LSH candidates → exact n-gram Jaccard
    * verification (candidates only) → connected components → keep-one.
    * Returns the deduplicated corpus: each duplicate group keeps its
    * minimum-id member; singletons pass through untouched (LEFT ANTI on
    * the non-keeper ids — the pairs/components tables are tiny relative to
    * the corpus, so the only corpus-scale operations are the signature
    * projection and one semi-join-shaped shuffle). */
  def nearDedup(spark: SparkSession, df: DataFrame, textCol: String,
                idCol: String, threshold: Double = 0.7, numHashes: Int = 64,
                bands: Int = 16, shingleK: Int = 5, seed: Long = 42L): DataFrame = {
    val cands = minhashCandidates(spark, df, textCol, idCol, numHashes, bands,
      shingleK, seed)
    val verified = ngramJaccard(spark, df, cands, textCol, idCol, shingleK)
      .filter(col("jaccard") >= threshold)
    val dupIds = resolveKeepers(components(verified))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"))
    df.join(dupIds, df(idCol).cast("string") === dupIds("id"), "left_anti")
  }

  /** Paragraph-level dedup (Dolma/FineWeb-shaped): every paragraph whose
    * normalized content (lowercased, whitespace-collapsed) occurs more
    * than once in the corpus is dropped EXCEPT the globally-first
    * occurrence, ordered by (doc id, paragraph index); documents are
    * rebuilt from their surviving paragraphs in order. The middle
    * granularity between whole-doc fingerprint dedup and word-n-gram span
    * removal — the standard cut for boilerplate paragraphs repeated
    * across a crawl. Cost shape: one shuffle at paragraph-hash scale
    * (count + first-occurrence agg), the join back, and the per-doc
    * rebuild keyed by id; nothing is corpus²; empty/whitespace paragraphs
    * are ignored. Returns (id, n_paras, n_removed, text_dedup) — a doc
    * whose every paragraph was removed survives with empty text_dedup. */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\\n{2,}")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "para")
      .filter(length(trim(col("para"))) > 0)
      .withColumn("__ph",
        md5(trim(regexp_replace(lower(col("para")), "\\s+", " ")).cast("binary")))
    val global = paras.groupBy("__ph").agg(
      count(lit(1)).as("__cnt"),
      min(struct(col("id"), col("idx"))).as("__first"))
    val kept = paras.join(global, Seq("__ph"))
      .filter(col("__cnt") === 1 ||
        (col("id") === col("__first.id") && col("idx") === col("__first.idx")))
      .groupBy("id")
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws("\n\n",
          transform(array_sort(collect_list(struct(col("idx"), col("para")))),
            s => s.getField("para"))).as("text_dedup"))
    paras.groupBy("id").agg(count(lit(1)).as("n_paras"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_paras"),
        (col("n_paras") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // ----------------------------------------------- exact substring dedup
  // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better" — the exact-substring pass production corpora run BEFORE fuzzy
  // MinHash dedup). No suffix array is built: a span of >= L tokens is
  // duplicated across documents iff every L-token window inside it is, so
  // flagging = positioned L-gram fingerprints -> cross-document doc
  // frequency -> per-document interval union. That re-expression is what
  // makes the pass one fingerprint-bucket aggregation instead of a
  // distributed suffix array, and it is never all-pairs.

  private def canonicalWordsCol(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => length(w) > 0)

  /** MAXIMAL cross-document duplicated spans of >= `minTokens` whitespace
    * tokens: every token position covered by an L-gram whose fingerprint
    * occurs in MORE THAN ONE document is duplicated coverage; overlapping /
    * adjacent covered windows merge into maximal spans (token-index
    * intervals over the canonicalized word sequence). Unlike
    * [[Decontaminate.removeDupSpans]] (any global re-occurrence, including
    * within-document repeats, non-first occurrences only), this flags the
    * cross-document coverage on BOTH sides — the flag/measure contract;
    * [[removeSubstringDups]] is the cut.
    *
    * Returns (id, span_start, span_end, n_tokens), span bounds inclusive
    * token indices, one row per maximal span.
    *
    * Scale shape: positioned L-gram hashes are a codegen'd per-row
    * projection (no shuffle, NgramWindowHashes); cross-doc detection is ONE
    * map-side-combined aggregation on the 8-byte hash — `min(id) !=
    * max(id)` is the ">1 distinct document" test without a count-distinct
    * expand; occurrences flow back via one join on that same hash
    * (co-partitioned with the aggregation's exchange) and the interval
    * union is a per-document window over DUPLICATED occurrences only —
    * output-bound, never corpus-bound. Equal-length windows sorted by
    * start make the union a lag(start) comparison: no running-max state.
    * Hash collisions (~n²/2⁶⁴ for n distinct grams) can only merge two
    * grams' coverage — the same fingerprint contract every dedup operator
    * here rides. */
  def substringSpans(df: DataFrame, textCol: String, idCol: String,
                     minTokens: Int = 50): DataFrame = {
    val spark = df.sparkSession
    val fname = s"ngram_window_hashes_$minTokens"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.NgramWindowHashes(exprs.head, minTokens), "scala_udf")
    val occ = df
      .select(col(idCol).as("id"),
        posexplode(call_function(fname, canonicalWordsCol(col(textCol)))))
      .withColumnRenamed("pos", "start").withColumnRenamed("col", "__gh")
    // cross-doc grams: one regular aggregation; min!=max <=> >=2 distinct ids.
    // localCheckpoint cuts the plan here — without it the join's broadcast
    // side re-runs the WHOLE gram pipeline (tokenize + window hashes over
    // the corpus) a second time; measured 9.9s -> 1.1s on the join stage at
    // sfx10. The materialized set is duplicated-gram fingerprints only
    // (vocab-scale, 8 bytes each), never corpus-scale.
    val crossDoc = occ.groupBy("__gh")
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__gh"))
      .localCheckpoint()
    val dup = occ.join(crossDoc, Seq("__gh")).select(col("id"), col("start"))
    // interval union per doc: windows are all [start, start+L-1], so after
    // sorting by start a window starts a new island iff it clears the
    // previous window's end+1, i.e. start > lag(start) + L
    val w = Window.partitionBy("id").orderBy("start")
    dup
      .withColumn("__new",
        when(lag(col("start"), 1).over(w).isNull
          || col("start") > lag(col("start"), 1).over(w) + minTokens, 1).otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(minTokens - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** The CUT step over [[substringSpans]]' coverage: every occurrence of a
    * cross-document-duplicated L-gram is removed EXCEPT occurrences in the
    * globally-first document containing that gram (min id — one surviving
    * copy per duplicated substring, the Lee et al. keep-one contract at
    * document granularity); documents are rebuilt from surviving words.
    * Returns (id, n_words, n_removed, text_dedup). Same shuffle shape as
    * [[substringSpans]] plus one per-doc collect of removed starts
    * (bounded by document length). */
  def removeSubstringDups(df: DataFrame, textCol: String, idCol: String,
                          minTokens: Int = 50): DataFrame = {
    val spark = df.sparkSession
    val fname = s"ngram_window_hashes_$minTokens"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fname, exprs => graft.functions.NgramWindowHashes(exprs.head, minTokens), "scala_udf")
    val base = df.select(col(idCol).as("id"),
      canonicalWordsCol(col(textCol)).as("__ws"))
    val occ = base
      .select(col("id"), posexplode(call_function(fname, col("__ws"))))
      .withColumnRenamed("pos", "start").withColumnRenamed("col", "__gh")
    // same lineage cut as substringSpans: the (fingerprint, keeper) set
    // computes once instead of once per join side
    val crossDoc = occ.groupBy("__gh")
      .agg(min(col("id")).as("__keeper"), max(col("id")).as("__mx"))
      .filter(col("__keeper") =!= col("__mx"))
      .select(col("__gh"), col("__keeper"))
      .localCheckpoint()
    val removedStarts = occ.join(crossDoc, Seq("__gh"))
      .filter(col("id") =!= col("__keeper"))
      .groupBy("id").agg(collect_list(col("start")).as("__rm"))
    base.join(removedStarts, Seq("id"), "left")
      .withColumn("__rm", coalesce(col("__rm"), array().cast("array<int>")))
      .select(col("id"), size(col("__ws")).cast("long").as("n_words"),
        filter(col("__ws"), (word, p) =>
          !exists(col("__rm"), st => p >= st && p < st + minTokens)).as("__kept"))
      .select(col("id"), col("n_words"),
        (col("n_words") - size(col("__kept"))).as("n_removed"),
        concat_ws(" ", col("__kept")).as("text_dedup"))
  }

  // ----------------------------------------------- prefix-filter join
  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin-family algorithm): every pair of documents whose word-SET
    * Jaccard is >= `threshold`, with NO false negatives — the exact
    * counterpart to [[minhashCandidates]]' probabilistic recall, for the
    * thresholds where production wants a guarantee (legal dedup,
    * eval-set contamination). The prefix-filter lemma: order each set by
    * a global token order (ascending document frequency — rarest first —
    * then token); if J(A,B) >= t, A and B must SHARE a token in their
    * first |X| − ceil(t·|X|) + 1 tokens, so candidates = pairs sharing a
    * PREFIX token only — never all-pairs, and rare-first ordering keeps
    * prefix buckets small (the frequent tokens never enter a prefix).
    *
    * OUTPUT CONTRACT: pairs are quadratic in duplicate-cluster depth by
    * definition (like [[minhashCandidates]]). When the goal is duplicate
    * GROUPS rather than scored pairs, use [[prefixJaccardStar]] — same
    * exact no-false-negatives guarantee, identical components, linear
    * output and (on near-twin clusters) linear verification work.
    *
    * Scale shape: one token-frequency aggregation + join (row-scale
    * shuffle on the token), a per-doc window for prefix positions
    * (partitioned by doc — full parallelism), the candidate self-join on
    * PREFIX tokens only, and exact verification on candidates (the
    * ngramJaccard discipline). Candidate volume is Σ_prefix-token c²,
    * bounded by the rarity of prefix tokens rather than corpus².
    * Returns (id1, id2, jaccard) with id1 < id2 (string order), jaccard
    * exact and >= threshold. */
  def prefixJaccardJoin(docs: DataFrame, textCol: String, idCol: String,
                        threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    val words = array_distinct(canonicalWordsCol(col(textCol)))
    val sets = docs.select(col(idCol).cast("string").as("id"), words.as("s"))
      .filter(size(col("s")) > 0)
    val toks = sets.select(col("id"), explode(col("s")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("id").orderBy(col("__df").asc, col("tok").asc)
    val prefix = toks.join(dfreq, Seq("tok"))
      .withColumn("__pos", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("id")))
      .filter(col("__pos") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
    val cands = prefix.select(col("tok"), col("id").as("id1"))
      .join(prefix.select(col("tok"), col("id").as("id2")), Seq("tok"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cands
      .join(sets.select(col("id").as("id1"), col("s").as("s1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("s").as("s2")), Seq("id2"))
      .withColumn("__i", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jaccard", col("__i").cast("double")
        / (size(col("s1")) + size(col("s2")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** The GROUPING form of [[prefixJaccardJoin]] — duplicate components with
    * the same EXACT no-false-negatives guarantee, but output and (on
    * dup-heavy corpora) work LINEAR in duplicate-cluster depth where the
    * pairwise contract is quadratic by definition (r13 VERDICT #2; the
    * [[minhashStarEdges]] discipline, made exact).
    *
    * The star reduction that preserves exactness: Jaccard DISTANCE is a
    * metric, so within a prefix-token bucket any two members within half
    * the threshold radius of the bucket representative — J(x, rep) >=
    * (1+t)/2 — are provably >= t of each other via the triangle
    * inequality, and their DIRECTLY VERIFIED star edges (x, rep) already
    * connect them. Only pairs touching a LOOSE member (J(x, rep) below the
    * half-radius bound) need direct verification. Every emitted edge has
    * verified J >= t (never over-merges), and every true pair is either
    * tight-connected via its shared bucket's rep or lands in that bucket's
    * loose candidate set (never under-merges) — so components are
    * IDENTICAL to components([[prefixJaccardJoin]]), spec-asserted.
    *
    * Scale shape: the same one token-frequency shuffle and per-doc prefix
    * window; then member-vs-rep verification is ONE ROW PER BUCKET
    * MEMBERSHIP (linear in prefix volume), and on a dup-heavy corpus
    * (near-twin clusters, J ≈ 1 >> (1+t)/2) the loose set is empty — no
    * quadratic stage anywhere, where the pairwise form measured ×110
    * output blowup per data decade. Returns (id, component) for every doc
    * with a nonempty word set; singletons map to themselves; component =
    * min member id (string order — ids ride as strings like every dedup
    * path). */
  def prefixJaccardStar(docs: DataFrame, textCol: String, idCol: String,
                        threshold: Double, maxIter: Int = 20): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    val words = array_distinct(canonicalWordsCol(col(textCol)))
    // several downstream actions consume the set projection (star verify,
    // loose verify, components rounds): materialize it once per doc
    val sets = docs.select(col(idCol).cast("string").as("id"), words.as("s"))
      .filter(size(col("s")) > 0)
      .localCheckpoint()
    val toks = sets.select(col("id"), explode(col("s")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("id").orderBy(col("__df").asc, col("tok").asc)
    val prefix = toks.join(dfreq, Seq("tok"))
      .withColumn("__pos", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("id")))
      .filter(col("__pos") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select("tok", "id")
    val reps = prefix.groupBy("tok").agg(min(col("id")).as("rid"))
    // exact member-vs-rep jaccard: one row per bucket membership — this is
    // the linear stage that replaces the bucket cliques
    val memberRep = prefix.join(reps, Seq("tok"))
      .join(sets.select(col("id"), col("s").as("s1")), Seq("id"))
      .join(sets.select(col("id").as("rid"), col("s").as("s2")), Seq("rid"))
      .withColumn("__i", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("j", col("__i").cast("double")
        / (size(col("s1")) + size(col("s2")) - col("__i")))
      .select(col("tok"), col("id"), col("rid"), col("j"))
      .localCheckpoint() // consumed by BOTH the star edges and the loose set
    val starEdges = memberRep
      .filter(col("id") =!= col("rid") && col("j") >= threshold)
      .select(least(col("id"), col("rid")).as("id1"),
        greatest(col("id"), col("rid")).as("id2"))
      .distinct()
    // loose members: not provably within t of their co-bucket peers via
    // the rep — their pairs (against ALL peers of that bucket) verify
    // directly. On near-twin clusters this set is empty.
    val tightBound = (1.0 + threshold) / 2.0
    val loosePairs = memberRep.filter(col("j") < tightBound)
      .select(col("tok"), col("id").as("__l"))
      .join(prefix.select(col("tok"), col("id").as("__m")), Seq("tok"))
      .filter(col("__l") =!= col("__m"))
      .select(least(col("__l"), col("__m")).as("id1"),
        greatest(col("__l"), col("__m")).as("id2"))
      .distinct()
    val looseEdges = loosePairs
      .join(sets.select(col("id").as("id1"), col("s").as("s1")), Seq("id1"))
      .join(sets.select(col("id").as("id2"), col("s").as("s2")), Seq("id2"))
      .withColumn("__i", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("__i").cast("double")
        / (size(col("s1")) + size(col("s2")) - col("__i")) >= threshold)
      .select("id1", "id2")
    val comps = components(starEdges.union(looseEdges).distinct(),
      "id1", "id2", maxIter)
    sets.select(col("id")).join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens: sum ±1 per bit weighted by token
    * hash, sign → bit. */
  def simhash(text: String): Long = {
    val acc = new Array[Int](64)
    text.toLowerCase.split("\\s+").foreach { tok =>
      val h = Text.polyHash(tok)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** SimHash near-dup candidates: pairs whose signatures agree on at least
    * one of 4 16-bit bands (hamming distance <= 3 guaranteed recalled). */
  def simhashCandidates(spark: SparkSession, df: DataFrame, textCol: String,
                        idCol: String): DataFrame = {
    val simOf = nativeCol(spark, "simhash64",
      exprs => graft.functions.Simhash64(exprs.head)) _
    val sigs = df.select(col(idCol).cast("string").as("id"),
      simOf(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(expr("transform(sequence(0,3), b -> (sig >> (b*16)) & 65535)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("id").as("id1"), col("sig").as("sig1"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id2"), col("sig").as("sig2"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast("long").as("hamming"))
      .dropDuplicates("id1", "id2")
  }

  /** MOSS-style near-duplicate CANDIDATE pairs from winnowing
    * fingerprints ([[Text.winnow]]): document pairs sharing at least
    * `minShared` DISTINCT selected prints, with the shared count. The
    * index join is fingerprint-bucketed (never all-pairs): each print's
    * bucket joins within itself, so the work is Σ_fp b² — the same
    * output-bound contract as the minhash band join — and the winnowing
    * guarantee means any pair sharing a run of >= w+k-1 words shares a
    * print, i.e. true partial overlaps of that length are ALWAYS
    * candidates (minhash only guarantees this probabilistically).
    * `minShared` is the noise floor: unrelated docs over a small
    * vocabulary share the odd print; real partial overlaps share many.
    * `maxDocFreq` (0 = off) drops fingerprints appearing in MORE than
    * that many documents before pairing — the MOSS paper's own practice
    * for boilerplate prints (navigation chrome, license headers): a
    * print shared by thousands of docs identifies a TEMPLATE, not a
    * copied passage, and its b² bucket join dominates the cost. The
    * documented tradeoff: pairs whose ONLY shared prints are boilerplate
    * are no longer reported. One O(distinct-fp) count aggregate.
    * Ids ride as strings like every dedup pairing path (the
    * [[minhashCandidates]] convention: no cast-to-null crashes, no
    * '7'/'07' collisions), so pair orientation is STRING order — the
    * same order [[components]] uses for the group representative.
    *
    * `maxCandidatesPerDoc` (0 = off) is the SECOND cap level of the MOSS
    * practice: after aggregation, keep only pairs ranked in either
    * endpoint's top-C by (shared DESC, partner id ASC) — the edge set is
    * then <= 2·C·n rows at ANY dup-cluster depth (the r16 probe measures
    * the uncapped edge stage superlinear when cluster depth grows with
    * the corpus). Deterministic; inside a uniform duplicate cluster
    * (all pairs equal `shared`) every member's top-C includes the
    * cluster's min-id member, so connected components are PRESERVED
    * there — asymmetric overlap structure can split (the documented
    * trade; see SCALE.md). Two edge-scale window passes, never
    * corpus-scale.
    * Returns (id1, id2, shared), id1 < id2 as strings. */
  def winnowCandidates(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, w: Int = 4, minShared: Int = 8,
                       maxDocFreq: Int = 0,
                       warnSink: String => Unit = null,
                       maxCandidatesPerDoc: Int = 0): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDocFreq >= 0, s"maxDocFreq must be >= 0 (0 = off): $maxDocFreq")
    require(maxCandidatesPerDoc >= 0,
      s"maxCandidatesPerDoc must be >= 0 (0 = off): $maxCandidatesPerDoc")
    val sink = if (warnSink != null) warnSink else logSink
    val spark = df.sparkSession
    // uncapped-megabucket guard (the minhashCandidates pre-flight
    // discipline, same conf): on boilerplate-heavy corpora one common
    // print's bucket is a single join KEY — Σ b² work lands in ONE task
    // (an sfx10 probe of the uncapped form killed the context by skew).
    // The pre-flight aggregates print doc-freqs into the exact pre-dedup
    // pair bound and warns toward maxDocFreq.
    val warnFactor = pairBlowupWarnFactor(spark)
    val all0 = Text.winnow(df, textCol, idCol, k, w)
      .select(col("id").cast("string").as("id"), col("fp")).distinct()
    // the guard and/or the doc-freq cap add a second action over the
    // winnow projection: materialize it once (first probe of the capped
    // path re-ran the whole selection and measured 2× the uncapped line)
    val all = if (maxDocFreq > 0 || warnFactor > 0L) all0.localCheckpoint() else all0
    if (maxDocFreq == 0)
      warnPairBlowup(all, Seq("fp"), warnFactor, 1L, sink) {
        (pairBound, rows, largest) =>
          s"winnowCandidates: print-bucket co-occurrence bound ~$pairBound " +
            s"pairs over $rows (doc, print) rows, largest bucket " +
            s"$largest docs (> ${warnFactor}x, " +
            "graft.dedup.pairBlowupWarnFactor) — a template print's bucket is " +
            "ONE join key, so Σ b² work lands in one task. Set maxDocFreq " +
            "(~2x expected dup-cluster depth) to drop boilerplate prints " +
            "(the MOSS practice; see SCALE.md dedup_winnow_pairs)."
      }
    val fps =
      if (maxDocFreq == 0) all
      else {
        val common = all.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select("fp")
        all.join(common, Seq("fp"), "left_anti")
      }
    val pairs = fps.as("x")
      .join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    if (maxCandidatesPerDoc == 0) pairs
    else {
      val w1 = Window.partitionBy("id1")
        .orderBy(col("shared").desc, col("id2").asc)
      val w2 = Window.partitionBy("id2")
        .orderBy(col("shared").desc, col("id1").asc)
      pairs.withColumn("__r1", row_number().over(w1))
        .withColumn("__r2", row_number().over(w2))
        .filter(col("__r1") <= maxCandidatesPerDoc ||
          col("__r2") <= maxCandidatesPerDoc)
        .drop("__r1", "__r2")
    }
  }

  /** The GROUPING form of [[winnowCandidates]]: candidate pairs →
    * connected components → one row per document with its
    * duplicate-group representative. OUTPUT is linear in the corpus
    * where the pairwise form's output is dup-cluster-quadratic;
    * singletons (including gram-free docs) map to themselves. NOTE the
    * intermediate EDGE set is still the pairwise candidate graph —
    * unlike [[prefixJaccardStar]], no member-vs-rep pruning applies,
    * because the `minShared`-prints edge predicate is pair-specific (two
    * docs can each share many prints with each other but few with a
    * bucket representative, so a rep-star graph would NOT have the same
    * components). On copy-heavy corpora bound the edge stage with
    * `maxDocFreq` (sf10 probe: the capped graph's 24.7M candidate edges
    * grouped in 25 s; the uncapped form is the documented skew death) —
    * and when dup-cluster DEPTH grows with the corpus, add the second
    * cap level `maxCandidatesPerDoc` (edge set <= 2·C·n at any depth;
    * components preserved inside uniform clusters, measured in the r16
    * probe — see SCALE.md).
    * Ids ride as strings like every dedup grouping path; component =
    * min member id in string order. Returns (id, component). */
  def winnowStar(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 3, w: Int = 4, minShared: Int = 8,
                 maxDocFreq: Int = 0, maxIter: Int = 20,
                 warnSink: String => Unit = null,
                 maxCandidatesPerDoc: Int = 0): DataFrame = {
    val pairs = winnowCandidates(df, textCol, idCol, k, w, minShared,
        maxDocFreq, warnSink, maxCandidatesPerDoc)
      .select(col("id1"), col("id2")) // already strings (pairing convention)
    val comps = components(pairs, "id1", "id2", maxIter)
    df.select(col(idCol).cast("string").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  // ------------------------------------------------- image perceptual hash

  /** dHash grid width/height (9x8 -> 64 adjacent-cell comparisons) and the
    * pHash grid side (32x32 -> 8x8 low-frequency DCT block). */
  val DhashGw = 9; val DhashGh = 8; val PhashG = 32

  /** Fixed-point DCT-II cosine table for [[phashBands]]:
    * COS(u, x) = round(cos(pi*(2x+1)*u / 64) * 65536) for u in 0..7,
    * x in 0..31, flattened u*32 + x. Both engines use THESE integers (the
    * oracle SQL interpolates this exact array as a literal), so the DCT is
    * pure int64 arithmetic — no cross-engine libm cos drift. */
  lazy val phashCosTable: Array[Long] = {
    val t = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        t(u * 32 + x) = math.round(math.cos(math.Pi * (2 * x + 1) * u / 64.0) * 65536.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Fixed-point cell mean: sum·65536 div count — exact int64, comparable
    * across images of different sizes (a k x k nearest-neighbor upscale
    * multiplies sum and count by k², leaving the mean IDENTICAL, which is
    * what makes the hashes scale-invariant by construction). */
  private def gridMeans(sums: Array[Long], counts: Array[Long]): Array[Long] = {
    val g = new Array[Long](sums.length)
    var i = 0
    while (i < g.length) { g(i) = sums(i) * 65536L / counts(i); i += 1 }
    g
  }

  private def packBands(bits: Array[Boolean]): Array[Long] = {
    val bands = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (bits(i)) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** dHash (difference hash) bands from a 9x8 [[Multimodal.lumaGrid]]:
    * bit gy·8 + gx set iff mean(gy, gx+1) > mean(gy, gx) — the luma
    * GRADIENT sign field, robust to uniform brightness shifts and (by the
    * fixed-point-mean construction) exactly invariant to integer
    * upscales. Returns the four 16-bit bands of the 64-bit signature
    * (band b = bits 16b..16b+15), the join representation — no signed
    * 64-bit packing anywhere, so the SQL replay needs no shift-overflow
    * care. Pure int64 from exact grid sums: engine-independent. */
  def dhashBands(sums: Array[Long], counts: Array[Long]): Array[Long] = {
    require(sums.length == DhashGw * DhashGh, s"need ${DhashGw}x$DhashGh grid")
    val g = gridMeans(sums, counts)
    val bits = new Array[Boolean](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        bits(gy * 8 + gx) = g(gy * DhashGw + gx + 1) > g(gy * DhashGw + gx)
        gx += 1
      }
      gy += 1
    }
    packBands(bits)
  }

  /** pHash (DCT hash) bands from a 32x32 [[Multimodal.lumaGrid]]:
    * C(u, v) = Σ_gx Σ_gy mean(gy, gx) · COS(u, gx) · COS(v, gy) over the
    * integer table [[phashCosTable]] (plain DCT-II, no alpha scaling —
    * uniform factors cancel in the median compare); bit u·8 + v set iff
    * C(u, v) > lower-median of the 63 non-DC coefficients. All int64
    * (|C| <= 2^60 by construction), bit-replayable in SQL. Captures the
    * low-frequency luma SHAPE — survives re-encoding and resampling that
    * flips dHash's finer gradient bits. */
  def phashBands(sums: Array[Long], counts: Array[Long]): Array[Long] = {
    require(sums.length == PhashG * PhashG, s"need ${PhashG}x$PhashG grid")
    val g = gridMeans(sums, counts)
    val t = phashCosTable
    // separable 2D DCT: rows first (32x8), then columns (8x8)
    val rowT = new Array[Long](32 * 8) // rowT(gy*8 + u) = Σ_gx g(gy,gx)·COS(u,gx)
    var gy = 0
    while (gy < 32) {
      var u = 0
      while (u < 8) {
        var acc = 0L
        var gx = 0
        while (gx < 32) { acc += g(gy * 32 + gx) * t(u * 32 + gx); gx += 1 }
        rowT(gy * 8 + u) = acc
        u += 1
      }
      gy += 1
    }
    val c = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var k = 0
        // scale rowT down before the second pass to keep |C| < 2^63:
        // rowT <= 32·(255·1000·65536)·65536 ~ 2^71? No: mean <= 254745·65536
        // ~ 2^34, ·COS(<=2^16) ~ 2^50, ·32 terms ~ 2^55; second pass
        // ·2^16·32 ~ 2^76 would overflow — divide rowT by 2^16 first
        // (exact spec: integer div, replayed identically in SQL).
        while (k < 32) { acc += (rowT(k * 8 + u) / 65536L) * t(v * 32 + k); k += 1 }
        c(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val nonDc = new Array[Long](63)
    var i = 1
    while (i < 64) { nonDc(i - 1) = c(i); i += 1 }
    java.util.Arrays.sort(nonDc)
    val med = nonDc(31) // lower median of 63
    val bits = new Array[Boolean](64)
    i = 0
    while (i < 64) { bits(i) = c(i) > med; i += 1 }
    packBands(bits)
  }

  /** Perceptual-hash signatures for a binary image column: one
    * mapPartitions decode pass ([[Multimodal.lumaGrid]], the
    * extractFeatures batch shape) -> (id, b0..b3), the four 16-bit bands
    * of the 64-bit dHash or pHash. Ids ride as strings (dedup family
    * convention). Undecodable payloads yield NO row — an image that can't
    * decode can't be a near-dup; [[imageDedupStar]] maps such ids to
    * themselves. Zero shuffle: decode + hash are per-row JVM work. */
  def imageSignatures(df: DataFrame, binCol: String, idCol: String,
                      kind: String = "dhash"): DataFrame = {
    require(kind == "dhash" || kind == "phash", s"kind must be dhash|phash: $kind")
    val spark = df.sparkSession
    import spark.implicits._
    val (gw, gh) = if (kind == "dhash") (DhashGw, DhashGh) else (PhashG, PhashG)
    val isP = kind == "phash"
    df.select(col(idCol).cast("string"), col(binCol))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          Multimodal.lumaGrid(bytes, gw, gh).map { case (_, _, sums, counts) =>
            val b = if (isP) phashBands(sums, counts) else dhashBands(sums, counts)
            (id, b(0), b(1), b(2), b(3))
          }
        }
      }
      .toDF("id", "b0", "b1", "b2", "b3")
  }

  /** Image near-duplicate candidate pairs: [[imageSignatures]] -> the
    * [[simhashCandidates]] 16-bit-band bucket join (pairs sharing at
    * least one of the 4 bands; hamming <= 3 is GUARANTEED recalled by
    * pigeonhole, larger distances probabilistically) -> exact hamming
    * filter at `maxDist`. The bucket join is Σ_bucket b² — on dup-heavy
    * corpora a popular signature's band bucket is one join key, the same
    * documented skew contract as simhash/minhash banding. Returns
    * (id1, id2, hamming), id1 < id2 as strings. */
  def imageCandidates(df: DataFrame, binCol: String, idCol: String,
                      kind: String = "dhash", maxDist: Int = 6): DataFrame = {
    require(maxDist >= 0 && maxDist <= 64, s"maxDist in [0,64]: $maxDist")
    // both sides of the band self-join consume the signatures: cut the
    // lineage once so the DECODE pass (the expensive stage at scale)
    // runs once, not twice (the semDedupClustered discipline)
    val sigs = imageSignatures(df, binCol, idCol, kind).localCheckpoint()
    val banded = sigs.select(col("id"), col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("id").as("id1"),
      col("b0").as("x0"), col("b1").as("x1"), col("b2").as("x2"), col("b3").as("x3"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id2"),
      col("b0").as("y0"), col("b1").as("y1"), col("b2").as("y2"), col("b3").as("y3"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("x0").bitwiseXOR(col("y0"))) +
          bit_count(col("x1").bitwiseXOR(col("y1"))) +
          bit_count(col("x2").bitwiseXOR(col("y2"))) +
          bit_count(col("x3").bitwiseXOR(col("y3")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id1", "id2")
  }

  /** Grouping form of [[imageCandidates]]: hamming-<=maxDist pairs ->
    * connected components -> one row per INPUT image with its dup-group
    * representative (min id, string order). Undecodable payloads and
    * singletons map to themselves. The image analogue of [[winnowStar]]:
    * linear output, pointer-jumping components over the (small) verified
    * pair set only. Returns (id, component).
    *
    * COVERAGE CONTRACT: self-mapping an undecodable payload is correct
    * fallback semantics, but it means this pass silently performs NO
    * near-dup detection on formats stock ImageIO cannot decode
    * (WebP/AVIF — the majority of a modern crawl corpus). Run
    * [[graft.pipeline.Multimodal.imageDecodeReport]] on the same corpus
    * and publish its per-container decode counts next to any dedup
    * numbers derived from this operator. */
  def imageDedupStar(df: DataFrame, binCol: String, idCol: String,
                     kind: String = "dhash", maxDist: Int = 6,
                     maxIter: Int = 20): DataFrame = {
    val pairs = imageCandidates(df, binCol, idCol, kind, maxDist)
      .select("id1", "id2")
    val comps = components(pairs, "id1", "id2", maxIter)
    df.select(col(idCol).cast("string").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
