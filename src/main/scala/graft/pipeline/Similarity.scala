package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Similarity search over embedding columns (driver mandate).
  *
  * Two paths:
  *  - brute-force cosine top-k: broadcast the (small) query set, score every
  *    corpus vector with codegen'd array algebra (`zip_with`/`aggregate`),
  *    per-query top-k via window. Exact; scales linearly in corpus size —
  *    the right baseline and the verifier for approximate paths.
  *  - random-hyperplane LSH buckets: per-row signature (no shuffle), search
  *    only within the query's bucket (and optionally neighboring probes).
  *    At 100 TB this turns a full scan per query into a bucket scan; the
  *    bucket table can also be written bucketed-by-signature so lookups
  *    prune partitions at the source.
  */
object Similarity {

  /** L2 norm of an array column, computed with the codegen'd `aggregate`. */
  def norm(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sqrt(aggregate(c, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** L2-normalize an array<float> column (unit vectors make cosine a plain
    * dot product); null/zero vectors pass through unchanged. */
  def l2Normalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = norm(c)
    when(n > 0, transform(c, x => (x.cast("double") / n).cast("float"))).otherwise(c)
  }

  /** Symmetric int8 quantization for embedding storage (~4x smaller at
    * rest): returns struct(scale, q array<tinyint>) with
    * q = round(x / scale), scale = maxabs/127. Pure column algebra — the
    * storage-side lever for a 100 TB embedding corpus. */
  def quantizeInt8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val maxabs = array_max(transform(c, x => abs(x.cast("double"))))
    val scale = when(maxabs > 0, maxabs / 127.0).otherwise(lit(1.0))
    struct(scale.cast("float").as("scale"),
      transform(c, x => round(x.cast("double") / scale).cast("tinyint")).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: struct(scale, q) -> array<float>. */
  def dequantizeInt8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(c.getField("q"),
      x => (x.cast("double") * c.getField("scale")).cast("float"))

  /** Per-group embedding centroids (the class/topic/language prototype
    * vectors clustering-based curation selects against — SemDeDup/prototype
    * pruning both start here). Fully declarative two-stage aggregation:
    * posexplode to (group, dim) — partial avg is map-side combined, so the
    * shuffle carries O(#groups × dim) partial sums, never rows — then
    * reassemble each centroid by sorting the (pos, avg) pairs. Returns
    * (groupCol, n_vectors, centroid: array<double>). */
  def centroids(df: DataFrame, groupCol: String,
                vecCol: String = "embedding"): DataFrame = {
    val exploded = df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("x").cast("double")).as("v"), count(lit(1)).as("n"))
    exploded.groupBy(col(groupCol))
      .agg(max(col("n")).as("n_vectors"),
        transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("centroid"))
  }

  /** Deterministic k-means seeds: the k corpus rows with the smallest ids
    * (a k-row TakeOrdered collect, never corpus-scale). Engine-replayable:
    * the DuckDB oracle reproduces the same seeds with ORDER BY id LIMIT k.
    * (First-k seeding is deliberately boring — k-means|| polish buys
    * little for curation bucketing, and determinism buys an oracle.) */
  def kmeansInit(corpus: DataFrame, k: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): Array[Array[Double]] = {
    require(k > 0, s"k must be positive: $k")
    // width-agnostic: embeddings have shipped as array<float> AND
    // array<double> across generator vintages (see EntryCompatSpec)
    val rows = corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
    require(rows.length == k, s"corpus has ${rows.length} rows < k=$k")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** Nearest-centroid assignment: squared-euclidean argmin over a
    * driver-resident O(k·dim) center table, ties to the lower cluster id.
    * Zero shuffle — one closure-captured projection per row (the same
    * shape [[ivfAssign]] uses); the center table rides in the closure,
    * never as a join side. */
  def assignToCenters(corpus: DataFrame, centers: Array[Array[Double]],
                      vecCol: String = "embedding",
                      out: String = "cluster_id"): DataFrame =
    corpus.withColumn(out,
      element_at(nearestLists(corpus.sparkSession, centers, 1)(col(vecCol)), 1))

  /** One Lloyd iteration: [[assignToCenters]] (zero shuffle) + per-cluster
    * elementwise mean ([[centroids]] — map-side-combined (cluster, dim)
    * partial sums, ONE shuffle carrying O(k·dim), never rows). Returns
    * (cluster_id, n_vectors, centroid: array<double>); clusters that won
    * no rows are absent ([[kmeans]] keeps their previous center). */
  def kmeansStep(corpus: DataFrame, centers: Array[Array[Double]],
                 vecCol: String = "embedding"): DataFrame =
    centroids(assignToCenters(corpus, centers, vecCol), "cluster_id", vecCol)

  /** Full Lloyd loop with deterministic first-k seeding — the corpus
    * topic/shard bucketer (cluster-then-curate, prototype pruning,
    * per-cluster mixing all start from this assignment). Each of the
    * `iters` rounds is one [[kmeansStep]] shuffle plus an O(k·dim) driver
    * collect of the new center table; the corpus itself is never
    * collected. Empty clusters keep their previous center so k never
    * shrinks. Returns the final centers and the corpus with its final
    * `cluster_id` assignment. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 10,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Double]], DataFrame) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val centers = lloyd(corpus, kmeansInit(corpus, k, idCol, vecCol), iters, vecCol)
    (centers, assignToCenters(corpus, centers, vecCol))
  }

  /** The Lloyd loop shared by [[kmeans]] and [[ivfTrain]]. `roundTo >= 0`
    * rounds every center coordinate to that many decimals after each step
    * (HALF_UP, the SQL `round()` contract) — this pins the trained centers
    * to a decimal grid so a SQL oracle replaying `round(avg(x), d)` lands
    * on the SAME centers even though the two engines sum the means in
    * different orders (their sub-ulp disagreement is crushed by the grid).
    * Precision loss is irrelevant for a coarse quantizer: recall comes
    * from nProbe, not the 7th decimal of a centroid. */
  private def lloyd(corpus: DataFrame, init: Array[Array[Double]], iters: Int,
                    vecCol: String, roundTo: Int = -1): Array[Array[Double]] = {
    def grid(v: Double): Double =
      if (roundTo < 0) v
      else BigDecimal(v).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
    var centers = init
    var i = 0
    while (i < iters) {
      val updated = kmeansStep(corpus, centers, vecCol).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](2).toArray.map(grid)).toMap
      centers = centers.indices.map(c => updated.getOrElse(c, centers(c))).toArray
      i += 1
    }
    centers
  }

  /** Whole-corpus k-nearest-neighbor GRAPH over a pre-assigned IVF index:
    * for every vector, its k most cosine-similar neighbors among the
    * `nProbe` nearest inverted lists. The corpus-scale self-join shape —
    * neither side broadcasts: the source side explodes its probe lists and
    * the join is a plain shuffle on `list_id`, so candidate pairs are
    * |corpus| × nProbe × avg-list-size. That is linear ONLY if nLists
    * grows with the corpus (avg-list-size held constant): at FIXED nLists
    * the graph is QUADRATIC — train with [[ivfTrainScaled]] so the list
    * count tracks corpus size, not a frozen constant.
    *
    * Pre-flight gate: before launching the join, ONE O(nLists)
    * aggregation over the assignment estimates the candidate count as
    * nProbe × Σ_l size(l)² (Σ size² alone is a hard LOWER bound — every
    * vector's own list is its nearest, so it probes it; the nProbe factor
    * is the proportional-probe-mass estimate) and the call refuses loudly
    * past `graft.ann.maxGraphCandidates` (default 1G) instead of running
    * a corpus² join. Persist/localCheckpoint the assignment (the
    * index-build contract — see [[ivfAssign]]) so the gate's aggregation
    * doesn't recompute it.
    *
    * Full probe (nProbe = nLists) degenerates to the exact graph — the
    * equivalence PipelineSpec asserts against [[bruteForceTopK]]. */
  def knnGraph(model: IvfModel, assigned: DataFrame, k: Int, nProbe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding",
               roundTo: Int = 6): DataFrame = {
    val nP = math.min(nProbe, model.nLists)
    val maxCand = graft.GraftConf.positiveLong(assigned.sparkSession,
      "graft.ann.maxGraphCandidates", 1000000000L)
    // the Σ c² sum runs in DOUBLE: at the 100 TB design point (n ~ 1e10
    // vectors, stale nLists) the int64 sum overflows PAST 9.2e18 and a
    // silent wrap would wave the quadratic join through — the exact
    // regime this gate exists for; a gate needs magnitude, not exactness
    val sumSq = assigned.groupBy(col("list_id"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .agg(coalesce(sum(col("__c") * col("__c")), lit(0.0d)))
      .head().getDouble(0)
    val estCand = sumSq * nP
    require(estCand <= maxCand.toDouble,
      f"knnGraph estimated candidate count $estCand%.3g (nProbe=$nP × Σ list-size²" +
        s" over ${model.nLists} lists) exceeds graft.ann.maxGraphCandidates=" +
        s"$maxCand — at fixed nLists the graph join is quadratic in the " +
        "corpus; train with ivfTrainScaled(vectorsPerList = ...) so nLists " +
        "grows with the corpus, or raise the cap")
    val src = assigned.select(col(idCol).as("src_id"), col(vecCol).as("sv"))
      .withColumn("list_id", explode(nearestLists(assigned.sparkSession, model.centers, nP)(col("sv"))))
    val nbr = assigned.select(col("list_id"), col(idCol).as("dst_id"),
      col(vecCol).as("dv"))
    // no dropDuplicates needed: src probes DISTINCT lists and each neighbor
    // lives in exactly one list, so a (src, dst) pair meets at most once.
    // cosine rounds BEFORE ranking (same contract as bruteForceTopK): the
    // rank tie-break then lives on a decimal grid both engines agree on
    val scored = src.join(nbr, Seq("list_id"))
      .filter(col("src_id") =!= col("dst_id"))
      .withColumn("cosine", round(
        GraftFunctions.cosine_similarity(assigned.sparkSession, col("sv"), col("dv")), roundTo))
    val w = Window.partitionBy("src_id")
      .orderBy(col("cosine").desc, col("dst_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src_id", "dst_id", "cosine", "rank")
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Result: (query_id, neighbor_id, cosine,
    * rank). Ties broken by neighbor id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     roundTo: Int = 6): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(
        GraftFunctions.cosine_similarity(corpus.sparkSession, col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Maximal-marginal-relevance rerank — the diversity-aware second stage
    * after any top-k retrieval: from each query's top-`m` cosine
    * candidates, greedily keep `k` maximizing
    * mmr(d) = lambda·rel(d) − (1−lambda)·max_{s∈selected} sim(d, s) —
    * relevance traded against redundancy (the dedup of retrieval).
    *
    * Scale shape: the corpus-scale work is [[bruteForceTopK]]'s candidate
    * scan; the greedy runs on O(#queries · m²) collected metadata (m is a
    * small constant — the candidate list, not the corpus). The collect is
    * GATED: past `graft.ann.mmrMaxCells` (default 10M) projected
    * query·m² cells the call refuses loudly instead of OOMing the driver
    * (the groupedStats.maxGroups discipline) — one cheap count over the
    * query frame, no corpus action. Determinism:
    * rel and pairwise sims round to `roundTo` BEFORE every argmax, ties
    * to the smaller id — each greedy step replays on a decimal grid.
    * Returns (query_id, neighbor_id, cosine, mmr_score, rank); rank 1's
    * mmr_score is lambda times its relevance (empty selected set → zero
    * redundancy term, so the score scale is lambda·rel). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
                lambda: Double = 0.5, idCol: String = "vec_id",
                vecCol: String = "embedding", roundTo: Int = 6): DataFrame = {
    require(k >= 1 && m >= k, s"need 1 <= k <= m: ($k, $m)")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1]: $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val maxCells = graft.GraftConf.positiveLong(spark,
      "graft.ann.mmrMaxCells", 10000000L)
    val nQueries = queries.count()
    val cells = nQueries * m.toLong * m.toLong
    if (cells > maxCells) throw new IllegalArgumentException(
      s"mmrRerank: $nQueries queries x m=$m projects ~$cells candidate-pair " +
        s"cells collected to the driver, exceeding graft.ann.mmrMaxCells=" +
        s"$maxCells. The greedy's driver state is O(#queries x m^2); raise " +
        "the conf only with matching driver memory, shrink the query batch " +
        "(rerank is per-query — split and union), or reduce m.")
    val top = bruteForceTopK(corpus, queries, m, idCol, vecCol, roundTo)
    val cv = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__v"))
    // pairwise sims WITHIN each query's candidate list: candidate-scale
    // self-join (m rows per query), never corpus-scale
    val cand = top.join(cv, top("neighbor_id") === cv("__cid"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__v"))
    val a = cand.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("cosine").as("rel_a"), col("__v").as("va"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("id_b"), col("__v").as("vb"))
    val pairs = a.join(b, Seq("query_id"))
      .select(col("query_id"), col("id_a"), col("rel_a"), col("id_b"),
        round(GraftFunctions.cosine_similarity(corpus.sparkSession, col("va"), col("vb")),
          roundTo).as("sim"))
      .collect()
    // driver greedy per query over the collected candidate metadata
    val byQ = pairs.groupBy(_.getLong(0))
    val out = byQ.toSeq.flatMap { case (q, rows) =>
      val rel = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val sim = rows.map(r => ((r.getLong(1), r.getLong(3)), r.getDouble(4))).toMap
      val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ rel.keys
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
      while (selected.length < k && remaining.nonEmpty) {
        val scoredCands = remaining.toSeq.map { d =>
          val redundancy =
            if (selected.isEmpty) 0.0
            else selected.map(s => sim((d, s._1))).max
          val raw = lambda * rel(d) - (1 - lambda) * redundancy
          val score = BigDecimal(raw).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
          (d, score)
        }
        val best = scoredCands.minBy { case (d, s) => (-s, d) }
        selected += ((best._1, rel(best._1), best._2))
        remaining -= best._1
      }
      selected.toSeq.zipWithIndex.map { case ((id, r, s), i) => (q, id, r, s, i + 1) }
    }
    out.toDF("query_id", "neighbor_id", "cosine", "mmr_score", "rank")
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * labeled query, the k most-similar corpus vectors with a DIFFERENT
    * label (the negatives that actually teach an embedding model).
    * [[bruteForceTopK]]'s exact-cosine shape (queries broadcast, corpus
    * never shuffles, round-before-rank + id tie-break) with the label
    * inequality pushed into the scan filter. Returns
    * (query_id, label, neighbor_id, neighbor_label, cosine, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label", roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("label")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("neighbor_label"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id") &&
        !(col("neighbor_label") <=> col("label")))
      .withColumn("cosine", round(
        GraftFunctions.cosine_similarity(corpus.sparkSession, col("qv"), col("cv")),
        roundTo))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "label", "neighbor_id", "neighbor_label", "cosine", "rank")
  }

  /** IVF-funnel hard negatives (VERDICT r12 #6): mine from the probed
    * inverted lists instead of the full corpus — [[hardNegatives]]' exact
    * scan is the truth/contract path; this is the scale path that touches
    * only nProbe/nLists of the corpus per query (the [[ivfQuery]]
    * candidate shape with the label inequality pushed into the same scan
    * filter). Negatives mined from nearby lists are exactly the
    * high-similarity other-label vectors contrastive training wants;
    * recall vs the exact path is spec-asserted the way ann_recall_eval
    * audits retrieval. Same determinism contract (round-before-rank, id
    * tie-breaks, queries broadcast, corpus never shuffles). Returns
    * (query_id, label, neighbor_id, neighbor_label, cosine, rank). */
  def hardNegativesIvf(model: IvfModel, assigned: DataFrame, queries: DataFrame,
                       k: Int, nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding", labelCol: String = "label",
                       roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val nP = math.min(nProbe, model.nLists)
    val c = assigned.select(col("list_id"), col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("neighbor_label"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("label"))
      .withColumn("list_id",
        explode(nearestLists(queries.sparkSession, model.centers, nP)(col("qv")))))
    val scored = c.join(q, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        !(col("neighbor_label") <=> col("label")))
      .withColumn("cosine", round(
        GraftFunctions.cosine_similarity(assigned.sparkSession, col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "label", "neighbor_id", "neighbor_label", "cosine", "rank")
  }

  /** Greedy k-center (farthest-point) diversity selection — the coverage
    * dual of dedup: pick k corpus vectors so every point is near some
    * pick (2-approximation of the k-center objective), the standard
    * diverse-subset seed for annotation budgets and eval-set curation.
    * Deterministic contract: the seed is the smallest id; each round
    * adds the point maximizing the min squared L2 distance to the chosen
    * set, distances ROUNDED to `roundTo` before the argmax with an id
    * tie-break (the round-before-rank discipline — both engines agree on
    * the decimal grid even though their 64-term sums differ in order).
    *
    * Scale shape: k scans, each a zero-shuffle distance projection
    * against O(k·dim) PLAN LITERALS plus a top-1 aggregate — no
    * pairwise join at any scale; driver state is the k centers. Returns
    * (round, center_id, dist_sq) where dist_sq is the rounded min
    * squared distance to the previously chosen set (0 for the seed). */
  def kCenter(df: DataFrame, k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    import spark.implicits._
    def sqDistTo(center: Array[Double]): org.apache.spark.sql.Column = {
      val lits = array(center.map(lit): _*)
      aggregate(
        zip_with(col(vecCol), lits,
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, d) => acc + d)
    }
    val seedRow = df.select(col(idCol).cast("long").as("id"), col(vecCol))
      .orderBy(col("id").asc).limit(1).head()
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)](
      (seedRow.getLong(0),
        seedRow.getSeq[Any](1).map(v => v.asInstanceOf[Number].doubleValue()).toArray,
        0.0))
    while (chosen.length < k) {
      val minDist = chosen.map(c => round(sqDistTo(c._2), roundTo))
        .reduce((a, b) => least(a, b))
      val next = df.select(col(idCol).cast("long").as("id"), col(vecCol),
          minDist.as("d"))
        .filter(!col("id").isin(chosen.map(_._1).toSeq: _*))
        .orderBy(col("d").desc, col("id").asc).limit(1).head()
      chosen += ((next.getLong(0),
        next.getSeq[Any](1).map(v => v.asInstanceOf[Number].doubleValue()).toArray,
        next.getDouble(2)))
    }
    chosen.toSeq.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("round", "center_id", "dist_sq")
  }

  /** Matryoshka (MRL-style) two-stage retrieval: COARSE-rank on the
    * embedding's first `prefixDims` components — prefix truncation is the
    * matryoshka representation contract: nested prefixes are themselves
    * trained embeddings — keep the top `rerankK` candidates per query,
    * then EXACT full-dimension cosine rerank of just those to top `k`.
    *
    * Scale shape: the coarse scan pays prefixDims/d of the dot-product
    * FLOPs (and, with prefix-pruned columnar layouts, of the scan bytes)
    * against broadcast queries; the full-dimension stage touches only
    * rerankK candidates per query — the standard cheap-filter/exact-
    * rerank funnel. Both cosines round to `roundTo` BEFORE ranking with
    * id tie-breaks ([[bruteForceTopK]]'s determinism contract). Returns
    * (query_id, neighbor_id, coarse_cosine, cosine, rank). */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     prefixDims: Int, rerankK: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     roundTo: Int = 6): DataFrame = {
    require(prefixDims > 0, s"prefixDims must be positive: $prefixDims")
    require(k > 0 && rerankK >= k, s"need 0 < k <= rerankK: ($k, $rerankK)")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val coarse = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse_cosine", round(
        GraftFunctions.cosine_similarity(corpus.sparkSession, 
          slice(col("qv"), 1, prefixDims), slice(col("cv"), 1, prefixDims)),
        roundTo))
    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("coarse_cosine").desc, col("neighbor_id").asc)
    val candidates = coarse.withColumn("__cr", row_number().over(wCoarse))
      .filter(col("__cr") <= rerankK)
    val exact = candidates.withColumn("cosine", round(
      GraftFunctions.cosine_similarity(corpus.sparkSession, col("qv"), col("cv")),
      roundTo))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "coarse_cosine", "cosine", "rank")
  }

  /** kNN majority-vote label prediction over a labeled embedding corpus —
    * the label-propagation / weak-supervision primitive of corpus curation
    * (label the unlabeled from their nearest labeled neighbors): each
    * query takes its k nearest corpus vectors by exact cosine (excluding
    * itself, [[bruteForceTopK]] shape — queries broadcast, corpus never
    * shuffles) and the neighbors vote with `labelCol`. Ties break by
    * (votes desc, best neighbor cosine desc, smaller label) so the answer
    * is deterministic and SQL-replayable. Returns
    * (query_id, predicted_label, votes, best_cosine). */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val top = bruteForceTopK(corpus, queries, k, idCol, vecCol)
    val lbl = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__l"))
    val votes = top.join(lbl, Seq("neighbor_id"))
      .groupBy("query_id", "__l")
      .agg(count(lit(1)).as("votes"), max(col("cosine")).as("best_cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("best_cosine").desc, col("__l").asc)
    votes.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("query_id"), col("__l").as("predicted_label"),
        col("votes"), col("best_cosine"))
  }

  /** Noisy-label audit (confident-learning-style): every labeled vector in
    * `queries` is kNN-classified from the corpus (self excluded) and
    * compared against its own label; per-label agreement rates flag label
    * classes whose examples the embedding geometry contradicts — the
    * standard screen for mislabeled training data before a fine-tune.
    * Returns (label, n, n_agree, agree_rate) sorted by label. */
  def knnLabelAudit(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val pred = knnClassify(corpus, queries.select(col(idCol), col(vecCol)), k,
      idCol = idCol, vecCol = vecCol, labelCol = labelCol)
    pred.join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("label")), Seq("query_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted_label") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        round(col("n_agree").cast("double") / col("n"), 6))
      .orderBy("label")
  }

  /** Corpus-scale variant of [[knnLabelAudit]]: the votes come from a
    * precomputed (src_id, dst_id, cosine) neighbor GRAPH — [[knnGraph]]
    * over the bucketed IVF index at 100 TB — so the audit never
    * cross-joins the corpus; the whole-corpus default of the brute path
    * is |corpus|² and exists for oracle-exact slices only. Labels join
    * twice (neighbor votes, source truth), both shuffles on id. Same
    * deterministic tie-break, same output schema. */
  def labelAuditFromGraph(graph: DataFrame, labeled: DataFrame,
                          idCol: String = "vec_id",
                          labelCol: String = "label"): DataFrame = {
    val votes = graph.join(
        labeled.select(col(idCol).as("dst_id"), col(labelCol).as("__l")),
        Seq("dst_id"))
      .groupBy(col("src_id"), col("__l"))
      .agg(count(lit(1)).as("votes"), max(col("cosine")).as("best_cosine"))
    val w = Window.partitionBy("src_id")
      .orderBy(col("votes").desc, col("best_cosine").desc, col("__l").asc)
    val pred = votes.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("src_id"), col("__l").as("predicted_label"))
    pred.join(labeled.select(col(idCol).as("src_id"),
        col(labelCol).as("label")), Seq("src_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted_label") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        round(col("n_agree").cast("double") / col("n"), 6))
      .orderBy("label")
  }

  /** The seeded gaussian plane matrix — public so the SQL oracle can embed
    * the SAME coefficients as literals and replay the signature exactly. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signature: `bits` hyperplanes with deterministic
    * seeded coefficients; bit i = sign(v · h_i). Implemented as the native
    * codegen'd HyperplaneSignature expression (the plane matrix rides in
    * the plan as a reference object; ONE fused loop instead of bits x dim
    * chained element_at nodes). */
  def hyperplaneSignature(dim: Int, bits: Int, seed: Long = 42L)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val planes: Seq[Seq[Double]] = hyperplanes(dim, bits, seed)
    vec => {
      val spark = org.apache.spark.sql.SparkSession.active
      val fname = s"hyperplane_sig_${seed}_${bits}_$dim"
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        fname, exprs => graft.functions.HyperplaneSignature(exprs.head, planes),
        "scala_udf")
      call_function(fname, vec)
    }
  }

  /** Johnson–Lindenstrauss random projection of `vecCol` onto `outDim`
    * seeded gaussian planes (the [[hyperplanes]] matrix — the SAME
    * coefficients the SQL oracle embeds as literals): a new array<double>
    * column with component b = v · plane_b. The standard pre-ANN
    * dimensionality cut — shrink 64→16 and every downstream embedding
    * scan, shuffle, and distance loop is 4× lighter, with JL's (1±ε)
    * pairwise-distance guarantee. ONE codegen'd fused loop per row
    * (native [[graft.functions.RandomProjection]] expression), no
    * shuffle, fully parallel. */
  def randomProjection(dim: Int, outDim: Int, seed: Long = 42L)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val planes: Seq[Seq[Double]] = hyperplanes(dim, outDim, seed)
    vec => {
      val spark = org.apache.spark.sql.SparkSession.active
      val fname = s"random_proj_${seed}_${outDim}_$dim"
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        fname, exprs => graft.functions.RandomProjection(exprs.head, planes),
        "scala_udf")
      call_function(fname, vec)
    }
  }

  /** LSH-bucketed ANN: join query and corpus on signature bucket, then
    * exact cosine within bucket. Recall is tunable via fewer bits and
    * MULTI-PROBE: each query also searches every bucket at hamming
    * distance <= `probes` from its own signature (flip-one-bit expansion),
    * which recovers most neighbors lost to a single hyperplane boundary
    * while still pruning the corpus scan by ~2^bits/(1+bits). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              bits: Int = 8, probes: Int = 1, idCol: String = "vec_id",
              vecCol: String = "embedding", seed: Long = 42L): DataFrame = {
    val sigOf = hyperplaneSignature(dim, bits, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("bucket", sigOf(col("cv")))
    // all XOR masks with hamming weight <= probes (bounded to keep the
    // probe fan-out sane)
    val masks: Seq[Long] = {
      def combos(d: Int): Seq[Long] =
        if (d == 0) Seq(0L)
        else (0 until bits).combinations(d).map(_.map(1L << _).sum).toSeq
      (0 to math.max(0, math.min(probes, bits))).flatMap(combos).take(512)
    }
    val probeBuckets = array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("sig", sigOf(col("qv")))
      .withColumn("bucket", explode(probeBuckets))
      .drop("sig"))
    val scored = c.join(q, Seq("bucket"))
      .dropDuplicates("query_id", "neighbor_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        GraftFunctions.cosine_similarity(corpus.sparkSession, col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Trained IVF coarse quantizer — just the centroid table (O(nLists·dim)
    * doubles, driver-resident). The heavy artifact to persist alongside is
    * the ASSIGNMENT ([[ivfAssign]]), written partitioned/bucketed by
    * `list_id` so probes prune at the source. */
  final case class IvfModel(centers: Array[Array[Double]]) {
    def nLists: Int = centers.length
  }

  /** Per-label embedding DISPERSION — the intra-class diversity audit a
    * curation pipeline runs before sampling: dispersion = E‖x‖² − ‖x̄‖²
    * (the population variance identity summed over dimensions), i.e. the
    * average squared distance of a label's vectors to their centroid,
    * computed WITHOUT materializing the centroid or any pairwise work. A
    * label whose dispersion collapses is near-duplicate mass (SemDeDup's
    * corpus-level symptom); the centroid norm is emitted alongside.
    *
    * Scale shape: one posexplode (×dim rows but immediately map-side
    * combined into O(#labels·dim) partial sums), one O(#labels·dim)
    * aggregation, one O(#labels) fold — no shuffle is row-scale and
    * nothing is pairwise. Returns (label, n, dispersion, centroid_norm). */
  def dispersionByLabel(df: DataFrame, labelCol: String = "label",
                        vecCol: String = "embedding"): DataFrame = {
    val x = df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
    x.groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
        sum(col("v") * col("v")).as("sxx"))
      .groupBy("label")
      .agg(max(col("n")).as("n"),
        sum(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
          .as("dispersion"),
        sum((col("sx") / col("n")) * (col("sx") / col("n"))).as("__mn2"))
      .select(col("label"), col("n"), col("dispersion"),
        sqrt(col("__mn2")).as("centroid_norm"))
  }

  /** Simplified (centroid-based) silhouette per cluster: for each vector,
    * a = distance to its own cluster's center, b = distance to the nearest
    * OTHER center, s = (b − a) / max(a, b) — the O(n·k) clustering-quality
    * metric that scales where the classic O(n²) pairwise silhouette
    * cannot. Distances are a zero-shuffle projection (the center table
    * rides the plan as array literals, folded left-to-right so any engine
    * replays the arithmetic bit-for-bit); the only shuffle is the O(k)
    * per-cluster mean. Rows whose max(a,b) = 0 score 0. */
  def silhouette(assigned: DataFrame, centers: Array[Array[Double]],
                 vecCol: String = "embedding",
                 clusterCol: String = "cluster_id"): DataFrame = {
    require(centers.nonEmpty, "centers must be non-empty")
    val dists = centers.map { ctr =>
      val carr = array(ctr.map(lit): _*)
      sqrt(aggregate(
        zip_with(col(vecCol).cast("array<double>"), carr,
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    }
    val s = assigned
      .withColumn("__d", array(dists: _*))
      .withColumn("__a", element_at(col("__d"), col(clusterCol).cast("int") + 1))
      .withColumn("__b", array_min(filter(col("__d"),
        (_, i) => i =!= col(clusterCol).cast("int"))))
      .withColumn("__s", when(greatest(col("__a"), col("__b")) > 0,
        (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
        .otherwise(lit(0.0)))
    s.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_vectors"), avg(col("__s")).as("silhouette"))
  }

  /** nProbe nearest inverted lists for a vector, by euclidean distance to
    * the O(nLists) centroid table. A NATIVE codegen'd expression
    * ([[graft.functions.NearestLists]], centers ride as a reference
    * object), so the corpus-scale index-build assignment ([[ivfAssign]])
    * runs without a per-row serialization boundary; the query path shares
    * the same kernel. */
  private def nearestLists(spark: SparkSession, centers: Array[Array[Double]],
                           nP: Int)(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // unsigned suffix: a negative hashCode would put '-' in the function
    // NAME and break call_function's identifier parse
    val fname = s"nearest_lists_${nP}_" + java.lang.Integer.toUnsignedString(
      java.util.Arrays.deepHashCode(centers.asInstanceOf[Array[AnyRef]]))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname,
      exprs => graft.functions.NearestLists(
        exprs.head, centers.map(_.toSeq).toSeq, nP), "scala_udf")
    call_function(fname, c)
  }

  /** Train the coarse quantizer ONCE: deterministic first-`nLists` seeding
    * + `trainMaxIter` Lloyd steps with centers pinned to a 6-decimal grid
    * each step (see [[lloyd]]). A loose quantizer is fine — recall comes
    * from nProbe, not centroid polish — so iterations are capped low and
    * `sampleFraction` bounds training on huge corpora. Fully deterministic
    * AND SQL-replayable: the DuckDB oracle reproduces seeds (ORDER BY id
    * LIMIT n), every Lloyd step (argmin + round(avg, 6) means, empty lists
    * keeping their previous center), and the final assignment — which is
    * what lets `ann_ivf_topk`/`ann_knn_graph` be hash-proven rather than
    * rows-only. `seed` only matters when `sampleFraction < 1` (the
    * non-oracle scale path). */
  def ivfTrain(corpus: DataFrame, nLists: Int = 16,
               vecCol: String = "embedding", seed: Long = 42L,
               sampleFraction: Double = 1.0, trainMaxIter: Int = 8,
               idCol: String = "vec_id"): IvfModel = {
    val trainDf = if (sampleFraction >= 1.0) corpus
      else corpus.sample(sampleFraction, seed)
    val init = kmeansInit(trainDf, nLists, idCol, vecCol)
    IvfModel(lloyd(trainDf, init, trainMaxIter, vecCol, roundTo = 6))
  }

  /** [[ivfTrain]] with the list count derived FROM the corpus — the
    * scale-correct configuration for corpus-scale consumers
    * ([[knnGraph]], the index build): nLists = max(minLists,
    * n / vectorsPerList), so average list size stays ~vectorsPerList at
    * every corpus scale and list-bucketed self-joins stay LINEAR (at
    * fixed nLists they are quadratic — the trap this helper removes).
    * Training is bounded: when the corpus exceeds
    * max(trainBudget, 8·nLists) vectors, Lloyd runs on a seeded sample of
    * that size (8 vectors per list keeps the deterministic first-nLists
    * seeding satisfiable and the means meaningful); below the budget the
    * full corpus trains and the model stays SQL-oracle-replayable
    * (sampleFraction = 1, see [[ivfTrain]]). One count() of the corpus is
    * the only extra work. */
  def ivfTrainScaled(corpus: DataFrame, vectorsPerList: Int = 200,
                     trainBudget: Long = 6400, minLists: Int = 16,
                     vecCol: String = "embedding", seed: Long = 42L,
                     trainMaxIter: Int = 8,
                     idCol: String = "vec_id"): IvfModel = {
    require(vectorsPerList >= 1, s"vectorsPerList must be >= 1: $vectorsPerList")
    require(minLists >= 1, s"minLists must be >= 1: $minLists")
    require(trainBudget >= 1, s"trainBudget must be >= 1: $trainBudget")
    val n = corpus.count()
    val nLists = math.max(minLists.toLong, n / vectorsPerList).toInt
    val budget = math.max(trainBudget, 8L * nLists)
    val fraction = if (n <= budget) 1.0 else budget.toDouble / n
    ivfTrain(corpus, nLists, vecCol, seed, fraction, trainMaxIter, idCol)
  }

  /** Assign every corpus vector to its inverted list — the index-build
    * step. Production writes the result partitioned/bucketed by `list_id`
    * (see the CLI's `ann-index`); [[ivfQuery]] then scans only probed
    * lists. */
  def ivfAssign(model: IvfModel, corpus: DataFrame,
                vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("list_id",
      element_at(nearestLists(corpus.sparkSession, model.centers, 1)(col(vecCol)), 1))

  /** Query path over a pre-assigned corpus: each query probes its `nProbe`
    * nearest lists, exact cosine + top-k within the probed lists only.
    * This is the part a bench should time — training/assignment are
    * build-once index costs. */
  def ivfQuery(model: IvfModel, assigned: DataFrame, queries: DataFrame,
               k: Int, nProbe: Int = 4, idCol: String = "vec_id",
               vecCol: String = "embedding", roundTo: Int = 6): DataFrame = {
    val nP = math.min(nProbe, model.nLists)
    val c = assigned.select(col("list_id"), col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("list_id", explode(nearestLists(queries.sparkSession, model.centers, nP)(col("qv")))))
    // cosine rounds BEFORE ranking (same contract as bruteForceTopK): the
    // rank tie-break then lives on a decimal grid both engines agree on
    val scored = c.join(q, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(
        GraftFunctions.cosine_similarity(assigned.sparkSession, col("qv"), col("cv")), roundTo))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Centroid-table persistence: (list_id, center) parquet. */
  def ivfSaveModel(spark: SparkSession, model: IvfModel, path: String): Unit = {
    import spark.implicits._
    model.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "center").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def ivfLoadModel(spark: SparkSession, path: String): IvfModel = {
    import spark.implicits._
    IvfModel(spark.read.parquet(path).orderBy("list_id")
      .select("center").as[Seq[Double]].collect().map(_.toArray))
  }

  /** Self-contained convenience (bench/oracle entry): train + assign +
    * query in one call. Production uses the split API and persists the
    * model + assignment. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding", seed: Long = 42L,
              sampleFraction: Double = 1.0, trainMaxIter: Int = 8): DataFrame = {
    // forward idCol too: kmeansInit's deterministic first-k seeding orders
    // by it (the knnLabelAudit delegate bug class, r7)
    val model = ivfTrain(corpus, nLists, vecCol, seed, sampleFraction, trainMaxIter, idCol)
    ivfQuery(model, ivfAssign(model, corpus, vecCol), queries, k, nProbe, idCol, vecCol)
  }

  /** One-call SEMANTIC dedup (SemDeDup-shaped): LSH-bucketed cosine
    * near-duplicate pairs → connected components → keep-one; returns the
    * corpus with every duplicate group reduced to its minimum-id member.
    * Same composition contract as [[Dedup.nearDedup]] for text — the only
    * corpus-scale operations are the signature projection and one
    * anti-join-shaped shuffle (the pair/component tables are duplicate-
    * sized, not corpus-sized). */
  def semanticDedup(df: DataFrame, threshold: Double,
                    dim: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding", bits: Int = 6,
                    seed: Long = 42L): DataFrame = {
    val pairs = cosineNearDups(df, threshold, dim, idCol, vecCol,
      byBucket = true, bits, seed)
    val dupIds = Dedup.resolveKeepers(Dedup.components(pairs))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"))
    df.join(dupIds, df(idCol).cast("string") === dupIds("id").cast("string"),
      "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — CLUSTER-scoped
    * semantic dedup: k-means-bucket the embedding space, then look for
    * cosine near-duplicates ONLY within each cluster and drop every
    * member that has a smaller-id neighbor at `cosine >= threshold` in
    * its cluster. This is the billion-document embedding-dedup recipe:
    * the pairwise work is Σ_cluster c² instead of corpus², and the
    * operator's contract (the paper's) is that cross-cluster near-dups
    * are out of scope — k sets the recall/cost point. EXACT duplicates
    * can never straddle clusters (identical vectors share an argmin), so
    * copies are always caught. Complements [[semanticDedup]] (LSH-bucket
    * pairs + components): clusters give cache-friendly contiguous
    * buckets and reuse a quantizer the pipeline often already has.
    *
    * `iters = 0` assigns against the deterministic first-k seeds
    * ([[kmeansInit]]) — fully SQL-replayable, the oracled form; > 0 runs
    * that many Lloyd rounds first (centers rounded to `roundTo` decimals
    * per round, the [[lloyd]] replay grid). Drop rule is deterministic:
    * cosine rounds to `roundTo` decimals BEFORE the threshold compare
    * (cross-engine identical), keeper is always the smaller id.
    *
    * Pre-flight gate: the within-cluster pair bound Σ c·(c−1)/2 is
    * computed first (one projection-only corpus scan — [[assignToCenters]]
    * is zero-shuffle) and the call refuses loudly past
    * `graft.semdedup.maxPairs` (default 100M) instead of launching a
    * quadratic join — raise k (smaller clusters) or the cap.
    *
    * Returns the corpus + `cluster_id` with dropped members removed. */
  def semDedupClustered(corpus: DataFrame, k: Int, threshold: Double,
                        iters: Int = 0, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        roundTo: Int = 6): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    require(iters >= 0, s"iters must be >= 0: $iters")
    val spark = corpus.sparkSession
    val maxPairs = graft.GraftConf.positiveLong(spark,
      "graft.semdedup.maxPairs", 100000000L)
    val seeds = kmeansInit(corpus, k, idCol, vecCol)
    val centers = if (iters == 0) seeds else lloyd(corpus, seeds, iters, vecCol, roundTo)
    // three consumers read the assignment (the pair-bound gate and both
    // sides of the within-cluster join) and the argmin projection is
    // O(k·dim) per row — materialize it once; without the cut the sf1
    // probe measured 3 full assignment passes (×20.9/decade)
    val assigned = assignToCenters(corpus, centers, vecCol).localCheckpoint()
    val pairBound = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c") * (col("__c") - 1L)), lit(0L)))
      .head().getLong(0) / 2
    require(pairBound <= maxPairs,
      s"semDedupClustered within-cluster pair bound $pairBound exceeds " +
        s"graft.semdedup.maxPairs=$maxPairs — raise k or the cap")
    val a = assigned.select(col("cluster_id"),
      col(idCol).as("__id1"), col(vecCol).as("__v1"))
    val b = assigned.select(col("cluster_id"),
      col(idCol).as("__id2"), col(vecCol).as("__v2"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("__id1") < col("__id2"))
      // native codegen'd cosine (one interleaved loop, per-accumulator
      // index-order sums; the oracle replays the same index-order fold
      // via ordered list_transform/list_sum, and round(roundTo) absorbs
      // any residual engine-fold ULP); the dot/norm HOF form it replaced
      // evaluates interpreted and dominated the sf1 probe (~40 s)
      .filter(round(GraftFunctions.cosine_similarity(corpus.sparkSession, 
        col("__v1"), col("__v2")), roundTo) >= threshold)
      .select(col("__id2").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: LSH-bucket self-join (`byBucket`,
    * the scale path) or a cheap consecutive-id sanity scan (id2 = id1 + 1 —
    * linear, NOT an all-pairs join). */
  def cosineNearDups(df: DataFrame, threshold: Double,
                     dim: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding", byBucket: Boolean = true,
                     bits: Int = 6, seed: Long = 42L): DataFrame = {
    val joined =
      if (byBucket) {
        val sigOf = hyperplaneSignature(dim, bits, seed)
        val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
          .withColumn("bucket", sigOf(col("v")))
        base.select(col("bucket"), col("id").as("id1"), col("v").as("v1"))
          .join(base.select(col("bucket"), col("id").as("id2"), col("v").as("v2")),
            Seq("bucket"))
          .filter(col("id1") < col("id2"))
      } else {
        val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
        val b = df.select((col(idCol) - 1).as("id1"), col(idCol).as("id2"),
          col(vecCol).as("v2"))
        a.join(b, Seq("id1"))
      }
    joined
      .withColumn("cosine",
        GraftFunctions.cosine_similarity(df.sparkSession, col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Product-quantization codebooks: `codebooks(b)(c)` is codeword `c` of
    * subvector block `b` (each of length dim/m). Driver-resident
    * O(m·k·subDim) doubles — the artifact a PQ index ships; the heavy
    * part is the CODES column [[pqAssign]] adds (m bytes a vector in
    * spirit vs 4·dim raw). */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
  }

  /** Train product-quantization codebooks (Jégou et al. 2011): split the
    * vector into `m` contiguous blocks and k-means each block
    * independently — the memory-side companion to [[ivfTrain]]'s
    * list-pruning (IVF cuts WHICH candidates are scored, PQ cuts the COST
    * of scoring one). Same determinism contract as IVF: first-k seeding,
    * `iters` Lloyd rounds with centers pinned to the 6-decimal grid, so a
    * SQL oracle replays the exact codebooks. m·iters one-shuffle rounds
    * over the corpus; all driver state is O(m·k·subDim). */
  def pqTrain(corpus: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 4,
              vecCol: String = "embedding", idCol: String = "vec_id"): PqModel = {
    require(m >= 1 && k >= 2 && iters >= 1, s"bad pq params m=$m k=$k iters=$iters")
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    def blockOf(b: Int) = slice(col(vecCol).cast("array<double>"), b * sub + 1, sub)
    // seeds: first-k rows' subvectors per block — ONE tiny head collect
    // shared by every block (the per-block kmeansInit contract, batched)
    val seedRows = corpus.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.length == k, s"corpus has ${seedRows.length} rows < k=$k")
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(b => seedRows.map(_.slice(b * sub, (b + 1) * sub)))
    def grid(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // fused Lloyd: all m blocks advance in ONE corpus scan per iteration
    // (the per-block loop would scan the corpus m×iters times — at 100 TB
    // the scan count IS the training cost). Each row emits m (block, cid,
    // subvec) entries; total shuffle volume stays one full vector per row,
    // and the (block, cid, pos) mean table is O(m·k·subDim) driver state.
    // round(avg, 6) grid-pinning keeps the SQL oracle's per-block replay
    // exact despite summation-order differences.
    for (_ <- 1 to iters) {
      val arms = books.zipWithIndex.map { case (cb, b) =>
        struct(lit(b).as("blk"),
          element_at(nearestLists(spark, cb, 1)(blockOf(b)), 1).as("cid"),
          blockOf(b).as("sv"))
      }
      val means = corpus.select(explode(array(arms.toSeq: _*)).as("e"))
        .select(col("e.blk"), col("e.cid"), posexplode(col("e.sv")))
        .groupBy("blk", "cid", "pos").agg(avg("col").as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((blk, cid), rows) =>
          (blk, cid) -> rows.sortBy(_.getInt(2)).map(r => grid(r.getDouble(3)))
        }
      books = Array.tabulate(m)(b => Array.tabulate(k)(c =>
        means.getOrElse((b, c), books(b)(c))))
    }
    PqModel(books)
  }

  /** Per-vector PQ codes: `out` = array of the argmin codeword id per
    * block (squared euclidean, ties to the lower id — the
    * [[assignToCenters]] contract per block). Zero shuffle: m
    * closure-captured argmin projections, codebooks never join. */
  def pqAssign(model: PqModel, corpus: DataFrame,
               vecCol: String = "embedding", out: String = "pq_code"): DataFrame = {
    val spark = corpus.sparkSession
    val sub = model.subDim
    val codes = model.codebooks.zipWithIndex.map { case (cb, b) =>
      element_at(nearestLists(spark, cb, 1)(
        slice(col(vecCol).cast("array<double>"), b * sub + 1, sub)), 1)
    }
    corpus.withColumn(out, array(codes.toSeq: _*))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each candidate is
    * scored as Σ_b ||q_b − codebook_b[code_b]||² — O(m) codeword lookups
    * instead of O(dim) float ops against the raw vector, the reason PQ
    * codes fit a RAM tier the raw corpus cannot. Scores are rounded to 6
    * decimals BEFORE ranking (ties to the lower neighbor id) — the same
    * round-before-rank contract [[ivfQuery]] uses, which is what makes
    * the ranking engine- and summation-order-invariant.
    *
    * Scale shape: the query block broadcasts (queries are few); the
    * candidate side streams with a zero-shuffle score projection and the
    * top-k rides WindowGroupLimit. `candidates` is typically pre-pruned
    * by an IVF probe ([[ivfQuery]]'s list join) — composing IVF × PQ is
    * the standard billion-scale layout; this operator is the scoring
    * stage, not the pruning stage. */
  def pqAdcTopK(model: PqModel, candidates: DataFrame, queries: DataFrame,
                k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
                codeCol: String = "pq_code"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val cands = candidates.select(col(idCol).as("neighbor_id"), col(codeCol).as("__code"))
    rankAdc(model, cands.crossJoin(broadcast(q)), k)
  }

  /** The IVF × PQ composition — the standard billion-scale ANN layout
    * (Jégou 2011 §V): the coarse quantizer prunes WHICH candidates are
    * scored (probe the `nProbe` nearest inverted lists, join on
    * `list_id` — corpus × nProbe, never corpus × queries), and the PQ
    * codes cut the COST of scoring each survivor to O(m) codeword
    * lookups. `codedAssigned` carries both artifacts: [[ivfAssign]]'s
    * `list_id` and [[pqAssign]]'s codes. Round-before-rank as ever. */
  def ivfPqTopK(ivf: IvfModel, pq: PqModel, codedAssigned: DataFrame,
                queries: DataFrame, k: Int, nProbe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                codeCol: String = "pq_code", listCol: String = "list_id"): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"bad params k=$k nProbe=$nProbe")
    val spark = queries.sparkSession
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn(listCol,
        explode(nearestLists(spark, ivf.centers, nProbe)(col("__qv"))))
    val cands = codedAssigned.select(col(idCol).as("neighbor_id"),
      col(codeCol).as("__code"), col(listCol))
    rankAdc(pq, cands.join(broadcast(q), Seq(listCol)), k)
  }

  /** Optimized Product Quantization (Ge et al. 2013 / OPQ-NP): learn an
    * ORTHONORMAL rotation R so the PQ blocks cut along the data's
    * principal structure instead of the arbitrary dimension order —
    * plain PQ cannot exploit correlation that spans block boundaries,
    * and real embedding spaces are full of it. Alternating minimization
    * of ||Rᵀx − c(Rᵀx)||²: (1) train PQ codebooks on the rotated
    * vectors; (2) Procrustes update R = U·Vᵀ from the SVD of the d×d
    * cross-covariance Σ x·c(Rᵀx)ᵀ.
    *
    * Scale shape: the rotation/code/reconstruction pass is a
    * mapPartitions batch (per-row O(d² + m·k·subDim) closure math, the
    * same shape as [[Multimodal.extractFeatures]]); the cross-covariance
    * is a treeAggregate carrying O(d²) state — NEVER rows — and the SVD
    * runs on the driver's d×d matrix. Each OPQ round costs one pqTrain
    * (itself one scan per Lloyd iteration) plus one covariance scan.
    *
    * Returns (R, model): encode NEW vectors as `pqAssign(model, Rᵀx)`.
    * Deterministic: seeded PQ + SVD of a deterministic matrix (sign
    * convention pinned by making each U column's largest-|u| entry
    * positive, mirrored into V, so the U·Vᵀ product is unique). */
  def opqTrain(corpus: DataFrame, m: Int = 4, k: Int = 16, pqIters: Int = 4,
               opqIters: Int = 3, vecCol: String = "embedding",
               idCol: String = "vec_id"): (Array[Array[Double]], PqModel) = {
    import breeze.linalg.{svd, DenseMatrix}
    require(opqIters >= 1, s"opqIters must be >= 1: $opqIters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val base = corpus.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>")).as[(Long, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // eigenvalue-allocation INIT (the parametric half of the paper):
      // PCA-rotate, then greedily deal principal directions to blocks
      // balancing Σ log λ — without it, alternating NP rounds cannot
      // break symmetry on independent dims (the cross-covariance is
      // diagonal and Procrustes returns the identity). Covariance is one
      // O(d²) treeAggregate + an O(d) mean pass; eig runs on the driver.
      val nRows = base.count().toDouble
      val sums = base.rdd.treeAggregate(new Array[Double](dim))(
        (a, row) => { var i = 0; while (i < dim) { a(i) += row._2(i); i += 1 }; a },
        (a, b2) => { var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a })
      val mean = sums.map(_ / nRows)
      val covFlat = base.rdd.treeAggregate(new Array[Double](dim * dim))(
        (a, row) => {
          val x = row._2
          var i = 0
          while (i < dim) {
            val xi = x(i) - mean(i)
            var j = 0
            while (j < dim) { a(i * dim + j) += xi * (x(j) - mean(j)); j += 1 }
            i += 1
          }
          a
        },
        (a, b2) => { var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a })
      val es = breeze.linalg.eigSym(
        new breeze.linalg.DenseMatrix(dim, dim, covFlat)) // symmetric: major order moot
      val order = (0 until dim).sortBy(i => -es.eigenvalues(i))
      val sub0 = dim / m
      val blockLog = new Array[Double](m)
      val blockSlots = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
      for (ei <- order) {
        val open = (0 until m).filter(b => blockSlots(b).size < sub0)
        val b = open.minBy(blockLog)
        blockSlots(b) += ei
        blockLog(b) += math.log(math.max(es.eigenvalues(ei), 1e-12))
      }
      val perm = blockSlots.flatMap(_.toSeq)
      var r = Array.tabulate(dim, dim)((i, j) => es.eigenvectors(i, perm(j)))
      // pin the eigenvector sign ambiguity (largest-|entry| positive)
      for (j <- 0 until dim) {
        var arg = 0; var mx = 0.0
        for (i <- 0 until dim)
          if (math.abs(r(i)(j)) > mx) { mx = math.abs(r(i)(j)); arg = i }
        if (r(arg)(j) < 0) for (i <- 0 until dim) r(i)(j) = -r(i)(j)
      }
      var model: PqModel = null
      for (round <- 1 to opqIters) {
        val rLocal = r
        val rotated = base.map { case (id, x) =>
          (id, Array.tabulate(dim)(j => {
            var s = 0.0; var i = 0
            while (i < dim) { s += rLocal(i)(j) * x(i); i += 1 }
            s
          }))
        }.toDF(idCol, "__rv")
        model = pqTrain(rotated, m, k, pqIters, "__rv", idCol)
        if (round < opqIters) {
          // C = Σ x · recon(Rᵀx)ᵀ, O(d²) treeAggregate state
          val books = model.codebooks
          val sub = dim / m
          val c = base.rdd.treeAggregate(new Array[Double](dim * dim))(
            seqOp = (acc, row) => {
              val x = row._2
              val rot = Array.tabulate(dim)(j => {
                var s = 0.0; var i = 0
                while (i < dim) { s += rLocal(i)(j) * x(i); i += 1 }
                s
              })
              val recon = new Array[Double](dim)
              var b = 0
              while (b < m) {
                var best = 0; var bestD = Double.MaxValue
                var cc = 0
                while (cc < k) {
                  var d2 = 0.0; var j = 0
                  while (j < sub) {
                    val d = rot(b * sub + j) - books(b)(cc)(j); d2 += d * d; j += 1
                  }
                  if (d2 < bestD) { bestD = d2; best = cc }
                  cc += 1
                }
                System.arraycopy(books(b)(best), 0, recon, b * sub, sub)
                b += 1
              }
              var i = 0
              while (i < dim) {
                var j = 0
                while (j < dim) { acc(i * dim + j) += x(i) * recon(j); j += 1 }
                i += 1
              }
              acc
            },
            combOp = (a, b2) => { var i = 0; while (i < a.length) { a(i) += b2(i); i += 1 }; a })
          val svd.SVD(u, _, vt) = svd(new DenseMatrix(dim, dim, c).t)
          // pin the SVD sign ambiguity so R is deterministic
          for (col0 <- 0 until dim) {
            var arg = 0; var mx = 0.0
            for (i <- 0 until dim)
              if (math.abs(u(i, col0)) > mx) { mx = math.abs(u(i, col0)); arg = i }
            if (u(arg, col0) < 0) {
              for (i <- 0 until dim) u(i, col0) = -u(i, col0)
              for (j <- 0 until dim) vt(col0, j) = -vt(col0, j)
            }
          }
          val rNew = u * vt
          r = Array.tabulate(dim, dim)((i, j) => rNew(i, j))
        }
      }
      (r, model)
    } finally base.unpersist(blocking = false)
  }

  /** Mean squared PQ reconstruction error of `corpus` under rotation `r`
    * (identity = plain PQ) — the quantity [[opqTrain]] minimizes; one
    * mapPartitions scan + a 2-value aggregate. */
  def pqReconError(corpus: DataFrame, r: Array[Array[Double]], model: PqModel,
                   vecCol: String = "embedding"): Double = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = model.codebooks
    val m = model.m; val sub = model.subDim; val k = model.k
    val dim = m * sub
    val (tot, n) = corpus.select(col(vecCol).cast("array<double>"))
      .as[Array[Double]].rdd.mapPartitions { it =>
        var s = 0.0; var cnt = 0L
        it.foreach { x =>
          val rot = Array.tabulate(dim)(j => {
            var acc = 0.0; var i = 0
            while (i < dim) { acc += r(i)(j) * x(i); i += 1 }
            acc
          })
          var b = 0
          while (b < m) {
            var bestD = Double.MaxValue
            var cc = 0
            while (cc < k) {
              var d2 = 0.0; var j = 0
              while (j < sub) { val d = rot(b * sub + j) - books(b)(cc)(j); d2 += d * d; j += 1 }
              if (d2 < bestD) bestD = d2
              cc += 1
            }
            s += bestD
            b += 1
          }
          cnt += 1
        }
        Iterator.single((s, cnt))
      }.reduce { case ((s1, c1), (s2, c2)) => (s1 + s2, c1 + c2) }
    tot / math.max(n, 1L)
  }

  /** Shared ADC scoring + round-before-rank top-k over a joined
    * (query_id, __qv, neighbor_id, __code) frame. */
  private def rankAdc(model: PqModel, joined: DataFrame, k: Int): DataFrame = {
    val sub = model.subDim
    val cbLit = typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val dist = aggregate(
      sequence(lit(0), lit(model.m - 1)), lit(0.0),
      (acc, b) => acc + aggregate(
        sequence(lit(1), lit(sub)), lit(0.0),
        (a2, j) => a2 + pow(
          element_at(col("__qv"), b * sub + j) -
            element_at(element_at(element_at(cbLit, b + 1),
              element_at(col("__code"), b + 1) + 1), j),
          lit(2.0))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    joined
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", round(dist, 6))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "rank")
  }
}
