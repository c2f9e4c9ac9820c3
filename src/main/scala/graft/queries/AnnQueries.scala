package graft
package queries

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity
import Tables._

/** Similarity search, embeddings and clustering. */
private[graft] object AnnQueries {

  val all: Seq[Q] = Seq(
    Q("ann_bruteforce_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
      () => """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         dots AS (
           SELECT query_id, neighbor_id,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(64) r
           WHERE query_id <> neighbor_id GROUP BY 1, 2),
         scored AS (SELECT query_id, neighbor_id, round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine
                    FROM dots),
         ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
         SELECT query_id, neighbor_id, cosine, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    Q("ann_mmr_rerank", (s, dir) => {
      // diversity-aware rerank: top-8 cosine candidates per query, MMR
      // greedy keeps 4 (lambda=0.5); every argmax on a 6dp decimal grid
      val e = t(s, dir, "embeddings")
      Similarity.mmrRerank(e, e.filter(col("vec_id") < 4), k = 4, m = 8)
        .orderBy("query_id", "rank")
    },
      () => mmrOracleSql(k = 4, m = 8)),

    Q("ann_hard_negatives", (s, dir) => {
      // contrastive-training mining: for each labeled query, the 3 most
      // cosine-similar corpus vectors with a DIFFERENT label
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
      () => """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
             FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
             label AS neighbor_label FROM embeddings),
         dots AS (
           SELECT query_id, q.label, neighbor_id, neighbor_label,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(64) r
           WHERE query_id <> neighbor_id
             AND neighbor_label IS DISTINCT FROM q.label
           GROUP BY 1, 2, 3, 4),
         scored AS (SELECT query_id, label, neighbor_id, neighbor_label,
             round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM dots),
         ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
         SELECT query_id, label, neighbor_id, neighbor_label, cosine, rank
         FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""),

    Q("ann_hard_negatives_ivf", (s, dir) => {
      // the SCALE path for negative mining (r12 VERDICT #6): candidates
      // come from the probed IVF lists (nProbe/nLists of the corpus per
      // query) instead of the exact full scan; label inequality in the
      // same scan filter. ann_hard_negatives stays the exact contract;
      // recall of this funnel vs exact is spec-asserted (PipelineSpec)
      val e = t(s, dir, "embeddings")
      val (model, assigned) = ivfIndex(s, dir)
      Similarity.hardNegativesIvf(model, assigned,
          e.filter(col("vec_id") < 5), k = 3, nProbe = 4)
        .orderBy("query_id", "rank")
    },
      () => annHardNegativesIvfOracleSql),

    Q("ann_matryoshka_topk", (s, dir) => {
      // MRL-style funnel: coarse cosine on the first 16 of 64 dims keeps
      // the top 10 per query; exact full-dim cosine reranks to top 3
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(e, e.filter(col("vec_id") < 5),
          k = 3, prefixDims = 16, rerankK = 10)
        .orderBy("query_id", "rank")
    },
      () => """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         coarse AS (
           SELECT query_id, neighbor_id,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(16) r
           WHERE query_id <> neighbor_id GROUP BY 1, 2),
         cs AS (SELECT query_id, neighbor_id,
             round(d / (sqrt(nq) * sqrt(nc)), 6) AS coarse_cosine FROM coarse),
         cr AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY coarse_cosine DESC, neighbor_id) AS crank FROM cs),
         cand AS (SELECT query_id, neighbor_id, coarse_cosine FROM cr WHERE crank <= 10),
         ex AS (
           SELECT cand.query_id, cand.neighbor_id, cand.coarse_cosine,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
           CROSS JOIN range(64) r GROUP BY 1, 2, 3),
         es AS (SELECT query_id, neighbor_id, coarse_cosine,
             round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM ex),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM es)
         SELECT query_id, neighbor_id, coarse_cosine, cosine, rank FROM rk
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    Q("ann_knn_classify", (s, dir) => {
      // kNN majority-vote over the labeled embedding corpus — the
      // label-propagation primitive; exact cosine votes, deterministic
      // tie-break, full SQL replay in the oracle
      val e = t(s, dir, "embeddings")
      Similarity.knnClassify(e, e.filter(col("vec_id") < 50), k = 5)
        .orderBy("query_id")
    },
      () => """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 50),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         dots AS (
           SELECT query_id, neighbor_id,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(64) r
           WHERE query_id <> neighbor_id GROUP BY 1, 2),
         scored AS (SELECT query_id, neighbor_id, round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine
                    FROM dots),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank FROM scored),
         votes AS (SELECT r.query_id, e.label AS l,
                     count(*) AS votes, max(r.cosine) AS best_cosine
                   FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
                   WHERE r.rank <= 5 GROUP BY 1, 2),
         best AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY votes DESC, best_cosine DESC, l) AS rr FROM votes)
         SELECT query_id, l AS predicted_label, votes, best_cosine
         FROM best WHERE rr = 1 ORDER BY query_id"""),

    Q("ann_label_audit", (s, dir) => {
      // noisy-label screen: per-label kNN agreement rate over a labeled
      // slice; same exact-cosine vote kernel, aggregated per true label
      val e = t(s, dir, "embeddings")
      Similarity.knnLabelAudit(e, e.filter(col("vec_id") < 100), k = 5)
    },
      () => """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 100),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         dots AS (
           SELECT query_id, neighbor_id,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(64) r
           WHERE query_id <> neighbor_id GROUP BY 1, 2),
         scored AS (SELECT query_id, neighbor_id, round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine
                    FROM dots),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rank FROM scored),
         votes AS (SELECT r.query_id, e.label AS l,
                     count(*) AS votes, max(r.cosine) AS best_cosine
                   FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
                   WHERE r.rank <= 5 GROUP BY 1, 2),
         best AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY votes DESC, best_cosine DESC, l) AS rr FROM votes),
         pred AS (SELECT query_id, l AS p FROM best WHERE rr = 1)
         SELECT t.label, count(*) AS n,
           CAST(sum(CASE WHEN pred.p = t.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           round(sum(CASE WHEN pred.p = t.label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS agree_rate
         FROM pred JOIN embeddings t ON t.vec_id = pred.query_id
         GROUP BY 1 ORDER BY 1"""),

    Q("ann_lsh_topk", (s, dir) => {
      // approximate path, hash-proven: the oracle replays the seeded
      // hyperplane family, sign-bit signatures, multi-probe buckets, and
      // in-bucket cosine top-k in DuckDB SQL (see lshOracleSql); recall vs
      // brute force is additionally asserted in SimilaritySpec
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 50), k = 3, dim = 64, bits = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
      () => lshOracleSql),

    Q("ann_ivf_topk", (s, dir) => {
      // IVF coarse-quantizer path, HASH-PROVEN: ivfTrain is deterministic
      // first-k-seeded Lloyd with 6-decimal center pinning, so the DuckDB
      // oracle replays the full train/assign/query pipeline in chained
      // CTEs (ivfOracleCtes). Recall + exactness-at-full-probe are also
      // asserted in PipelineSpec. Uses the build-once index (train +
      // assign memoized per dir) so repeated calls measure the QUERY path —
      // the shape production has after persisting the assignment.
      val (model, assigned) = ivfIndex(s, dir)
      Similarity.ivfQuery(model, assigned, t(s, dir, "embeddings").filter(col("vec_id") < 50),
          k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
      () => ivfTopkOracleSql),

    Q("ann_recall_eval", (s, dir) => {
      // index acceptance metric: recall@3 of the nProbe=4 IVF path
      // against the exact brute-force ground truth, per query — both
      // paths deterministic (round-before-rank + id tie-breaks), so the
      // overlap count is hash-exact
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
      val (model, assigned) = ivfIndex(s, dir)
      val approx = Similarity.ivfQuery(model, assigned, queries, k = 3, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val truth = Similarity.bruteForceTopK(e, queries, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_at_3", round(col("n_hits").cast("double") / 3.0, 6))
        .orderBy("query_id")
    },
      () => annRecallOracleSql),

    Q("ann_pq_topk", (s, dir) => {
      // product quantization (Jégou 2011): per-block codebooks trained
      // with the grid-pinned Lloyd loop, per-vector codes, then ADC
      // scoring — O(m) codeword lookups per candidate instead of O(dim)
      // float ops. HASH-PROVEN: the oracle replays all 4 block Lloyd
      // chains, the code assignment, and the round-before-rank ADC scan
      val e = t(s, dir, "embeddings")
      val model = pqIndex(s, dir)
      val coded = Similarity.pqAssign(model, e)
      Similarity.pqAdcTopK(model, coded, e.filter(col("vec_id") < 5), k = 3)
        .orderBy("query_id", "rank")
    },
      () => pqTopkOracleSql),

    Q("ann_ivfpq_topk", (s, dir) => {
      // the billion-scale layout: IVF prunes WHICH candidates are scored
      // (probe 4 lists, join on list_id — corpus × nProbe, never corpus ×
      // queries), PQ codes cut the COST of each score to O(m) lookups.
      // HASH-PROVEN: ivf Lloyd chains + pq block chains + ADC replay
      val e = t(s, dir, "embeddings")
      val (ivfModel, assigned) = ivfIndex(s, dir)
      val pq = pqIndex(s, dir)
      val coded = Similarity.pqAssign(pq, assigned)
      Similarity.ivfPqTopK(ivfModel, pq, coded,
          e.filter(col("vec_id") < 20), k = 3, nProbe = 4)
        .orderBy("query_id", "rank")
    },
      () => ivfPqTopkOracleSql),

    Q("ann_knn_graph", (s, dir) => {
      // whole-corpus neighbor graph over the CORPUS-SCALED IVF index
      // (ivfTrainScaled: nLists = max(16, n/200), so candidate pairs stay
      // ~n·nProbe·200 — linear — at every corpus scale; the r15 probes
      // measured the old fixed-nLists=16 config quadratic at sf1).
      // knnGraph additionally pre-flights the candidate bound against
      // graft.ann.maxGraphCandidates before launching the join.
      // HASH-PROVEN: the oracle replays the same greatest(16, n//200)
      // list count inside the Lloyd CTE chain (ivfGraphOracleSql);
      // full-probe ≡ brute force is additionally asserted in PipelineSpec
      val (model, assigned) = ivfGraphIndex(s, dir)
      Similarity.knnGraph(model, assigned, k = 3, nProbe = 2)
        .select(col("src_id"), col("dst_id"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
        .orderBy("src_id", "rank")
    },
      () => ivfGraphOracleSql),

    Q("ann_label_audit_graph", (s, dir) => {
      // CORPUS-SCALE label audit: majority vote over the bucketed IVF kNN
      // graph (corpus-scaled nLists + the knnGraph candidate gate keep it
      // linear, unlike the brute oracle slice in ann_label_audit).
      // HASH-PROVEN: the oracle replays the Lloyd-CTE index at the same
      // scaled list count, the graph, and the vote algebra
      // (labelAuditGraphOracleSql)
      val (model, assigned) = ivfGraphIndex(s, dir)
      val graph = Similarity.knnGraph(model, assigned, k = 3, nProbe = 2)
      Similarity.labelAuditFromGraph(graph, t(s, dir, "embeddings"))
    },
      () => labelAuditGraphOracleSql),

    Q("cluster_kmeans", (s, dir) => {
      // one Lloyd step from deterministic first-k seeds: zero-shuffle
      // argmin assignment + ONE map-side-combined (cluster, dim) shuffle;
      // the oracle replays seed choice, assignment, and means in SQL
      val e = t(s, dir, "embeddings")
      val centers = Similarity.kmeansInit(e, k = 8)
      Similarity.kmeansStep(e, centers)
        .select(col("cluster_id"), col("n_vectors"),
          round(Similarity.norm(col("centroid")), 6).as("center_norm"),
          round(element_at(col("centroid"), 1), 6).as("c1"))
        .orderBy("cluster_id")
    },
      () => """WITH init AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         a AS (
           SELECT e.vec_id, e.embedding,
             (SELECT i.cid FROM init i
                ORDER BY (SELECT sum((CAST(e.embedding AS DOUBLE[])[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid
                LIMIT 1) AS cid
           FROM embeddings e),
         d AS (SELECT cid, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x FROM a),
         m AS (SELECT cid, pos, avg(x) AS mv FROM d GROUP BY 1, 2),
         ctr AS (SELECT cid, round(sqrt(sum(mv * mv)), 6) AS center_norm,
                 round(max(CASE WHEN pos = 1 THEN mv END), 6) AS c1
                 FROM m GROUP BY 1),
         n AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors FROM a GROUP BY 1)
         SELECT CAST(n.cid AS INT) AS cluster_id, n.n_vectors,
           ctr.center_norm, ctr.c1
         FROM n JOIN ctr USING (cid) ORDER BY 1"""),

    Q("cluster_silhouette", (s, dir) => {
      // clustering-quality report: simplified silhouette vs the seed
      // center table — zero-shuffle distance projection (centers ride the
      // plan as literals), one O(k) aggregation
      val e = t(s, dir, "embeddings")
      val centers = Similarity.kmeansInit(e, k = 8)
      Similarity.silhouette(Similarity.assignToCenters(e, centers), centers)
        .select(col("cluster_id").cast("int").as("cluster_id"),
          col("n_vectors"), round(col("silhouette"), 6).as("silhouette"))
        .orderBy("cluster_id")
    },
      () => """WITH init AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         a AS (
           SELECT e.vec_id, e.embedding,
             (SELECT i.cid FROM init i
                ORDER BY (SELECT sum((CAST(e.embedding AS DOUBLE[])[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid
                LIMIT 1) AS cid
           FROM embeddings e),
         s AS (SELECT a.vec_id, a.cid,
             (SELECT list_distance(CAST(a.embedding AS DOUBLE[]), i.c)
              FROM init i WHERE i.cid = a.cid) AS da,
             (SELECT min(list_distance(CAST(a.embedding AS DOUBLE[]), i.c))
              FROM init i WHERE i.cid <> a.cid) AS db
           FROM a)
         SELECT CAST(cid AS INT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(CASE WHEN greatest(da, db) > 0
                     THEN (db - da) / greatest(da, db) ELSE 0 END), 6)
             AS silhouette
         FROM s GROUP BY 1 ORDER BY 1"""),

    Q("embedding_centroids", (s, dir) =>
      // per-label prototype vectors; exploded to (label, pos, v) so the
      // oracle compares scalar cells, not list equality
      Similarity.centroids(t(s, dir, "embeddings"), "label")
        .select(col("label"), col("n_vectors"),
          posexplode(col("centroid")).as(Seq("pos", "v")))
        .withColumn("v", round(col("v"), 6))
        .orderBy("label", "pos"),
      () => """WITH e AS (SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS pos FROM embeddings)
         SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(pos - 1 AS INT) AS pos,
           round(avg(CAST(x AS DOUBLE)), 6) AS v
         FROM e GROUP BY label, pos ORDER BY label, pos"""),

    Q("embedding_quantize", (s, dir) => {
      // int8 storage quantization: deterministic arithmetic, replayed
      // exactly by the oracle (q uses the DOUBLE scale; the stored struct
      // carries the float-rounded scale)
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 50)
      e.select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          round(col("qz").getField("scale").cast("double"), 9).as("scale"),
          posexplode(col("qz").getField("q")).as(Seq("pos", "qv")))
        .select(col("vec_id"), col("pos"), col("qv"), col("scale"))
        .orderBy("vec_id", "pos")
    },
      () => """WITH m AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
           FROM embeddings WHERE vec_id < 50),
         s AS (SELECT vec_id, embedding,
             CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 1.0 END AS dscale FROM m)
         SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) / dscale) AS TINYINT) AS qv,
           round(CAST(CAST(dscale AS FLOAT) AS DOUBLE), 9) AS scale
         FROM s ORDER BY vec_id, pos"""),

    Q("embedding_random_projection", (s, dir) => {
      // JL projection onto 8 seeded gaussian planes (the SAME coefficient
      // matrix the oracle embeds as literals); exploded + rounded so the
      // hash compare sees scalars
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 100)
      val projOf = Similarity.randomProjection(dim = 64, outDim = 8)
      e.select(col("vec_id"),
          posexplode(projOf(col("embedding"))).as(Seq("b", "p")))
        .select(col("vec_id"), col("b"), round(col("p"), 6).as("proj"))
        .orderBy("vec_id", "b")
    },
      () => randomProjectionOracleSql),

    Q("embedding_dispersion", (s, dir) =>
      // per-label intra-class diversity: E||x||^2 - ||mean||^2 without
      // materializing the centroid or any pairwise work; collapsing
      // dispersion = near-duplicate mass (the SemDeDup symptom)
      Similarity.dispersionByLabel(t(s, dir, "embeddings"))
        .select(col("label"), col("n"),
          round(col("dispersion"), 6).as("dispersion"),
          round(col("centroid_norm"), 6).as("centroid_norm"))
        .orderBy("label"),
      // population-variance identity per label: sum over dims of
      // (E x^2 - (E x)^2); centroid norm from the same per-dim sums
      () => """WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         pd AS (SELECT label, pos, count(*) AS n, sum(v) AS sx, sum(v * v) AS sxx
           FROM x GROUP BY 1, 2),
         agg AS (SELECT label, max(n) AS n,
             sum(sxx / n - (sx / n) * (sx / n)) AS disp,
             sum((sx / n) * (sx / n)) AS mn2
           FROM pd GROUP BY 1)
         SELECT label, CAST(n AS BIGINT) AS n, round(disp, 6) AS dispersion,
           round(sqrt(mn2), 6) AS centroid_norm
         FROM agg ORDER BY label"""),

    Q("ann_semantic_dedup", (s, dir) => {
      // one-call semantic dedup, hash-proven AND non-vacuous: the corpus
      // embeddings have max pairwise cosine ~0.51, so duplicates are
      // PLANTED (exact copies at vec_id+100000 of vec_id<30, cosine 1) —
      // the LSH bucket join, component build, and keep-one all do real
      // work, and a missed pair or wrong keeper surfaces as extra rows.
      // The oracle replays the plane family, bucket pairs, threshold, and
      // a general recursive-CTE connected components (see semdedupOracleSql)
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 30)
        .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
      Similarity.semanticDedup(s, e.unionByName(planted), threshold = 0.95,
          dim = 64)
        .select(col("vec_id")).orderBy("vec_id")
    },
      () => semdedupOracleSql, dualPath = true))

  /** Chained-CTE replay of Similarity.mmrRerank(k, m, lambda=0.5):
    * rel = the top-m cosine (rounded 6), pairwise candidate sims rounded
    * 6, then one greedy CTE block per rank — score = round(0.5·rel −
    * 0.5·max sim to selected, 6), argmax (score DESC, id ASC) per query
    * partition. Same decimal-grid argmaxes as the engine's driver greedy. */
  private def mmrOracleSql(k: Int, m: Int): String = {
    require(k >= 1 && m >= k)
    val sb = new StringBuilder
    sb ++= s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         dots AS (
           SELECT query_id, neighbor_id,
             sum(CAST(qv[r.range + 1] AS DOUBLE) * CAST(cv[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(qv[r.range + 1] AS DOUBLE) ^ 2) AS nq,
             sum(CAST(cv[r.range + 1] AS DOUBLE) ^ 2) AS nc
           FROM q CROSS JOIN c CROSS JOIN range(64) r
           WHERE query_id <> neighbor_id GROUP BY 1, 2),
         ranked AS (SELECT query_id, neighbor_id,
             round(d / (sqrt(nq) * sqrt(nc)), 6) AS rel,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(d / (sqrt(nq) * sqrt(nc)), 6) DESC, neighbor_id) AS rn
           FROM dots),
         cand AS (SELECT query_id, neighbor_id, rel FROM ranked WHERE rn <= $m),
         cv2 AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         ps AS (
           SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
             round(sum(CAST(x.v[r.range + 1] AS DOUBLE) * CAST(y.v[r.range + 1] AS DOUBLE))
               / (sqrt(sum(CAST(x.v[r.range + 1] AS DOUBLE) ^ 2))
                  * sqrt(sum(CAST(y.v[r.range + 1] AS DOUBLE) ^ 2))), 6) AS sim
           FROM cand a JOIN cand b USING (query_id)
           JOIN cv2 x ON x.id = a.neighbor_id JOIN cv2 y ON y.id = b.neighbor_id
           CROSS JOIN range(64) r GROUP BY 1, 2, 3),
         sel1 AS (SELECT query_id, neighbor_id, rel, round(0.5 * rel, 6) AS score
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY round(0.5 * rel, 6) DESC, neighbor_id) AS rn2 FROM cand)
           WHERE rn2 = 1),
         sall1 AS (SELECT query_id, neighbor_id FROM sel1)"""
    for (j <- 2 to k) {
      sb ++= s""",
         red$j AS (SELECT p.query_id, p.id_a AS neighbor_id, max(p.sim) AS red
           FROM ps p JOIN sall${j - 1} s
             ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
           GROUP BY 1, 2),
         sc$j AS (SELECT c.query_id, c.neighbor_id, c.rel,
             round(0.5 * c.rel - 0.5 * r.red, 6) AS score
           FROM cand c JOIN red$j r USING (query_id, neighbor_id)
           WHERE NOT EXISTS (SELECT 1 FROM sall${j - 1} s
             WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)),
         sel$j AS (SELECT query_id, neighbor_id, rel, score
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rn2 FROM sc$j)
           WHERE rn2 = 1),
         sall$j AS (SELECT * FROM sall${j - 1}
           UNION ALL SELECT query_id, neighbor_id FROM sel$j)"""
    }
    sb ++= (1 to k).map(j =>
        s"SELECT query_id, neighbor_id, rel AS cosine, score AS mmr_score, " +
          s"CAST($j AS INT) AS rank FROM sel$j")
      .mkString("\n         ", "\n         UNION ALL ", "\n         ORDER BY query_id, rank")
    sb.toString
  }

  /** JL-projection replay: the seeded gaussian plane matrix rides as
    * 8×64 literal coefficients — the SAME doubles the native
    * RandomProjection expression embeds. Rounding to 6 dp tolerates
    * summation-order noise exactly as the cosine oracles do. */
  private def randomProjectionOracleSql: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(dim = 64, bits = 8, seed = 42L)
    val pvals = planes.zipWithIndex.flatMap { case (row, b) =>
      row.zipWithIndex.map { case (w, j) => s"($b, $j, $w)" } }.mkString(", ")
    s"""WITH plane(b, j, w) AS (VALUES $pvals),
       |proj AS (
       |  SELECT e.vec_id, p.b, sum(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w) AS pr
       |  FROM embeddings e CROSS JOIN plane p
       |  WHERE e.vec_id < 100 GROUP BY 1, 2)
       |SELECT vec_id, CAST(b AS INT) AS b, round(pr, 6) AS proj
       |FROM proj ORDER BY vec_id, b""".stripMargin
  }

  /** Full DuckDB replay of Similarity.lshTopK over embeddings (dim=64,
    * bits=4, seed=42, probes=1): the seeded gaussian plane matrix rides as
    * 256 literal coefficients (Similarity.hyperplanes — the SAME doubles
    * the native expression embeds), signature bit b = sign(v · plane_b),
    * multi-probe buckets = sig XOR {0,1,2,4,8}, then exact cosine + rank
    * within the candidate set. Sign tests and ranking tolerate summation-
    * order noise only if no projection sits within ~1e-12 of zero and no
    * two candidate cosines are equal to ~1e-15 — true on this data (a
    * violation would surface as a hash mismatch, not silently). */
  private def lshOracleSql: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(dim = 64, bits = 4, seed = 42L)
    val pvals = planes.zipWithIndex.flatMap { case (row, b) =>
      row.zipWithIndex.map { case (w, j) => s"($b, $j, $w)" } }.mkString(", ")
    s"""WITH plane(b, j, w) AS (VALUES $pvals),
       |proj AS (
       |  SELECT e.vec_id, p.b,
       |         sum(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w) AS pr
       |  FROM embeddings e CROSS JOIN plane p GROUP BY 1, 2),
       |sig AS (
       |  SELECT vec_id,
       |         sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS s
       |  FROM proj GROUP BY 1),
       |qp AS (
       |  SELECT s.vec_id AS query_id, xor(s.s, CAST(m.m AS BIGINT)) AS bucket
       |  FROM sig s CROSS JOIN (VALUES (0), (1), (2), (4), (8)) m(m)
       |  WHERE s.vec_id < 50),
       |cand AS (
       |  SELECT DISTINCT qp.query_id, cs.vec_id AS neighbor_id
       |  FROM qp JOIN sig cs ON cs.s = qp.bucket
       |  WHERE cs.vec_id <> qp.query_id),
       |dots AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    sum(CAST(qe.embedding[r.range + 1] AS DOUBLE) * CAST(ne.embedding[r.range + 1] AS DOUBLE)) AS d,
       |    sum(CAST(qe.embedding[r.range + 1] AS DOUBLE) ^ 2) AS nq,
       |    sum(CAST(ne.embedding[r.range + 1] AS DOUBLE) ^ 2) AS nc
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
       |  CROSS JOIN range(64) r GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, d / (sqrt(nq) * sqrt(nc)) AS cr,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY d / (sqrt(nq) * sqrt(nc)) DESC, neighbor_id) AS INT) AS rank
       |  FROM dots)
       |SELECT query_id, neighbor_id, round(cr, 6) AS cosine, rank
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** Full IVF train/assign replay as chained DuckDB CTEs — what flips
    * `ann_ivf_topk`/`ann_knn_graph` from rows-only to hash-proven.
    * Mirrors [[graft.pipeline.Similarity.ivfTrain]] exactly: first-k seeds
    * (ORDER BY vec_id LIMIT n), then `iters` Lloyd steps where each step
    * is argmin assignment (ties to the lower list id — `ORDER BY
    * squared-distance-sum, cid LIMIT 1` = the NearestLists tie-break,
    * replayed on SQUARED distance — ordering by sqrt can collapse two
    * distinct squared distances onto one double and flip the tie) and
    * per-(list, dim) `round(avg(x), 6)` means with empty lists keeping
    * their previous center (the LEFT JOIN + coalesce). The 6-decimal grid
    * is what makes cross-engine equality exact: both engines' sub-ulp
    * mean disagreements collapse onto the same decimal lattice (see
    * Similarity.lloyd). Exposes CTEs `e` (vec_id, v DOUBLE[]),
    * `ctr$iters` (cid, c) and `asg` (vec_id, v, list_id).
    * `nLists` is a SQL EXPRESSION (DuckDB allows scalar subqueries in
    * LIMIT) — the graph oracles pass the corpus-scaled
    * greatest(16, count//200) formula of ivfTrainScaled so engine and
    * oracle derive the list count from the SAME rule at any sf. */
  private def ivfOracleCtes(nLists: String, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""a$i AS (SELECT e.vec_id, e.v,
         |  (SELECT i.cid FROM ctr$p i ORDER BY
         |    (SELECT sum((e.v[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid LIMIT 1) AS cid
         |  FROM e),
         |m$i AS (SELECT cid, pos, round(avg(x), 6) AS mv FROM
         |  (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a$i)
         |  GROUP BY 1, 2),
         |ml$i AS (SELECT cid, list(mv ORDER BY pos) AS c FROM m$i GROUP BY cid),
         |ctr$i AS (SELECT p.cid, coalesce(n.c, p.c) AS c
         |  FROM ctr$p p LEFT JOIN ml$i n USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ctr0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nLists)),
       |$steps,
       |asg AS (SELECT e.vec_id, e.v,
       |  (SELECT i.cid FROM ctr$iters i ORDER BY
       |    (SELECT sum((e.v[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid LIMIT 1) AS list_id
       |  FROM e)""".stripMargin
  }

  /** Per-block Lloyd chains + code argmins for the PQ oracles: defines
    * e$b, ctr${b}_0..iters, code$b for each block over the sliced
    * subvectors (requires an `e` CTE with the cast DOUBLE[] vectors). */
  private def pqOracleBlockCtes(m: Int, k: Int, iters: Int, sub: Int): String =
    (0 until m).map { b =>
      val lo = b * sub + 1
      val hi = (b + 1) * sub
      val steps = (1 to iters).map { i =>
        val p = i - 1
        s"""a${b}_$i AS (SELECT e.vec_id, e.v,
           |  (SELECT i.cid FROM ctr${b}_$p i ORDER BY
           |    (SELECT sum((e.v[r2.range+1] - i.c[r2.range+1])^2) FROM range($sub) r2), i.cid LIMIT 1) AS cid
           |  FROM e$b e),
           |m${b}_$i AS (SELECT cid, pos, round(avg(x), 6) AS mv FROM
           |  (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a${b}_$i)
           |  GROUP BY 1, 2),
           |ml${b}_$i AS (SELECT cid, list(mv ORDER BY pos) AS c FROM m${b}_$i GROUP BY cid),
           |ctr${b}_$i AS (SELECT p.cid, coalesce(n.c, p.c) AS c
           |  FROM ctr${b}_$p p LEFT JOIN ml${b}_$i n USING (cid))""".stripMargin
      }.mkString(",\n")
      s"""e$b AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),
         |ctr${b}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
         |  FROM (SELECT vec_id, v FROM e$b ORDER BY vec_id LIMIT $k)),
         |$steps,
         |code$b AS (SELECT e.vec_id,
         |  (SELECT i.cid FROM ctr${b}_$iters i ORDER BY
         |    (SELECT sum((e.v[r2.range+1] - i.c[r2.range+1])^2) FROM range($sub) r2), i.cid LIMIT 1) AS cid
         |  FROM e$b e)""".stripMargin
    }.mkString(",\n")

  /** Shared ADC tail for the PQ oracles: codes join, per-block distance
    * arms, round-before-rank top-k. `candFrom` supplies the candidate
    * rows as (query_id, qv, neighbor_id, k0..k{m-1}). */
  private def pqAdcTailSql(m: Int, iters: Int, sub: Int, topK: Int,
                           candFrom: String): String = {
    val distArms = (0 until m).map { b =>
      s"(SELECT sum((cand.qv[${b * sub} + r.range + 1] - b$b.c[r.range + 1])^2) FROM range($sub) r)"
    }.mkString("\n   + ")
    val cbJoins = (0 until m).map(b =>
      s"JOIN ctr${b}_$iters b$b ON b$b.cid = cand.k$b").mkString("\n  ")
    s"""cand AS ($candFrom),
       |d AS (SELECT cand.query_id, cand.neighbor_id,
       |   $distArms AS dist
       |  FROM cand
       |  $cbJoins),
       |ranked AS (SELECT query_id, neighbor_id, round(dist, 6) AS adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dist, 6) ASC, neighbor_id ASC) AS INT) AS rank FROM d)
       |SELECT query_id, neighbor_id, adc_dist, rank FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  private def pqCodesCteSql(m: Int): String = {
    val codeJoins = (1 until m).map(b => s"JOIN code$b c$b USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(b => s"c$b.cid AS k$b").mkString(", ")
    s"codes AS (SELECT c0.vec_id, $codeCols FROM code0 c0 $codeJoins)"
  }

  /** `ann_pq_topk` oracle: one grid-pinned Lloyd chain PER BLOCK on the
    * sliced subvectors (the ivfOracleCtes recipe at subDim), per-vector
    * code argmins, then the ADC scan with round-before-rank. */
  private def pqTopkOracleSql: String = {
    val (m, k, iters, sub, nQ, topK) = (4, 16, 4, 16, 5, 3)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqOracleBlockCtes(m, k, iters, sub)},
       |${pqCodesCteSql(m)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQ),
       |${pqAdcTailSql(m, iters, sub, topK,
          s"""SELECT q.query_id, q.qv, codes.vec_id AS neighbor_id, ${(0 until m).map(b => s"codes.k$b").mkString(", ")}
             |  FROM q CROSS JOIN codes WHERE codes.vec_id <> q.query_id""".stripMargin)}""".stripMargin
  }

  /** `ann_ivfpq_topk` oracle: the ivf Lloyd chains prune candidates to
    * the nProbe nearest lists, the pq block chains supply the codes, the
    * shared ADC tail scores and ranks — the full IVF × PQ replay. */
  private def ivfPqTopkOracleSql: String = {
    val (nLists, ivfIters) = ("16", 8)
    val (m, k, iters, sub, nQ, topK, nProbe) = (4, 16, 4, 16, 20, 3, 4)
    s"""WITH ${ivfOracleCtes(nLists, ivfIters)},
       |${pqOracleBlockCtes(m, k, iters, sub)},
       |${pqCodesCteSql(m)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQ),
       |probe AS (SELECT query_id, qv, cid AS list_id FROM (
       |    SELECT q.query_id, q.qv, i.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (SELECT sum((q.qv[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid) AS pr
       |    FROM q CROSS JOIN ctr$ivfIters i) WHERE pr <= $nProbe),
       |${pqAdcTailSql(m, iters, sub, topK,
          s"""SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, ${(0 until m).map(b => s"codes.k$b").mkString(", ")}
             |  FROM probe p JOIN asg a ON a.list_id = p.list_id
             |  JOIN codes ON codes.vec_id = a.vec_id
             |  WHERE a.vec_id <> p.query_id""".stripMargin)}""".stripMargin
  }

  /** `ann_ivf_topk` oracle: [[ivfOracleCtes]] + the probe/scan/top-k query
    * path. Ranks by ROUNDED cosine then neighbor id — the ivfQuery
    * contract (round-before-rank, same as bruteForceTopK). */
  private def ivfTopkOracleSql: String = {
    val (nLists, iters, k, nProbe) = ("16", 8, 3, 4)
    s"""WITH ${ivfOracleCtes(nLists, iters)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
       |probe AS (SELECT query_id, qv, cid AS list_id FROM (
       |    SELECT q.query_id, q.qv, i.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (SELECT sum((q.qv[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid) AS pr
       |    FROM q CROSS JOIN ctr$iters i) WHERE pr <= $nProbe),
       |cand AS (SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
       |  FROM probe p JOIN asg a ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.query_id),
       |dots AS (SELECT query_id, neighbor_id,
       |    sum(qv[r.range + 1] * cv[r.range + 1]) AS d,
       |    sum(qv[r.range + 1] ^ 2) AS nq,
       |    sum(cv[r.range + 1] ^ 2) AS nc
       |  FROM cand CROSS JOIN range(64) r GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id,
       |    round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM dots),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** `ann_recall_eval` oracle: the full IVF replay (same CTEs as
    * ivfTopkOracleSql) joined against the brute-force ground truth —
    * recall@k per query as an exact overlap count. */
  private def annRecallOracleSql: String = {
    val (nLists, iters, k, nProbe) = ("16", 8, 3, 4)
    s"""WITH ${ivfOracleCtes(nLists, iters)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
       |probe AS (SELECT query_id, qv, cid AS list_id FROM (
       |    SELECT q.query_id, q.qv, i.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (SELECT sum((q.qv[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid) AS pr
       |    FROM q CROSS JOIN ctr$iters i) WHERE pr <= $nProbe),
       |cand AS (SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
       |  FROM probe p JOIN asg a ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.query_id),
       |dots AS (SELECT query_id, neighbor_id,
       |    sum(qv[r.range + 1] * cv[r.range + 1]) AS d,
       |    sum(qv[r.range + 1] ^ 2) AS nq,
       |    sum(cv[r.range + 1] ^ 2) AS nc
       |  FROM cand CROSS JOIN range(64) r GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id,
       |    round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM dots),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored),
       |approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $k),
       |bd AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
       |    sum(q.qv[r.range + 1] * e2.v[r.range + 1]) AS d,
       |    sum(q.qv[r.range + 1] ^ 2) AS nq,
       |    sum(e2.v[r.range + 1] ^ 2) AS nc
       |  FROM q CROSS JOIN e e2 CROSS JOIN range(64) r
       |  WHERE e2.vec_id <> q.query_id GROUP BY 1, 2),
       |bscored AS (SELECT query_id, neighbor_id,
       |    round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM bd),
       |branked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk FROM bscored),
       |truth AS (SELECT query_id, neighbor_id FROM branked WHERE rk <= $k)
       |SELECT t.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       |  round(CAST(count(a.neighbor_id) AS DOUBLE) / $k, 6) AS recall_at_3
       |FROM truth t LEFT JOIN approx a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** `ann_hard_negatives_ivf` oracle: the ivfTopkOracleSql replay with
    * labels joined on both sides and the IS DISTINCT FROM inequality in
    * the candidate filter (the engine's null-safe !(<=>)). */
  private def annHardNegativesIvfOracleSql: String = {
    val (nLists, iters, k, nProbe) = ("16", 8, 3, 4)
    s"""WITH ${ivfOracleCtes(nLists, iters)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |q AS (SELECT e.vec_id AS query_id, e.v AS qv, lab.label
       |  FROM e JOIN lab ON lab.vec_id = e.vec_id WHERE e.vec_id < 5),
       |probe AS (SELECT query_id, qv, label, cid AS list_id FROM (
       |    SELECT q.query_id, q.qv, q.label, i.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY (SELECT sum((q.qv[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid) AS pr
       |    FROM q CROSS JOIN ctr$iters i) WHERE pr <= $nProbe),
       |cand AS (SELECT p.query_id, p.label, p.qv, a.vec_id AS neighbor_id,
       |    a.v AS cv, nl.label AS neighbor_label
       |  FROM probe p JOIN asg a ON a.list_id = p.list_id
       |  JOIN lab nl ON nl.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id AND nl.label IS DISTINCT FROM p.label),
       |dots AS (SELECT query_id, label, neighbor_id, neighbor_label,
       |    sum(qv[r.range + 1] * cv[r.range + 1]) AS d,
       |    sum(qv[r.range + 1] ^ 2) AS nq,
       |    sum(cv[r.range + 1] ^ 2) AS nc
       |  FROM cand CROSS JOIN range(64) r GROUP BY 1, 2, 3, 4),
       |scored AS (SELECT query_id, label, neighbor_id, neighbor_label,
       |    round(d / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM dots),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
       |SELECT query_id, label, neighbor_id, neighbor_label, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** `ann_knn_graph` oracle: every corpus vector probes its nProbe nearest
    * lists over the SAME replayed index; k best rounded-cosine neighbors
    * per source. nLists is the CORPUS-SCALED ivfTrainScaled formula
    * (max(16, n/200)) as a SQL expression — integer division truncates
    * identically in Scala `/` and DuckDB `//` for non-negative counts —
    * so the oracle derives the list count from the corpus exactly like
    * the engine does at ANY sf (at sf0.01's 500 vectors both land on
    * 16). */
  private def ivfGraphCtes: String = {
    val (nLists, iters, k, nProbe) =
      ("greatest(16, (SELECT count(*) // 200 FROM e))", 8, 3, 2)
    s"""${ivfOracleCtes(nLists, iters)},
       |probe AS (SELECT vec_id AS src_id, sv, cid AS list_id FROM (
       |    SELECT e.vec_id, e.v AS sv, i.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (SELECT sum((e.v[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid) AS pr
       |    FROM e CROSS JOIN ctr$iters i) WHERE pr <= $nProbe),
       |cand AS (SELECT p.src_id, p.sv, a.vec_id AS dst_id, a.v AS dv
       |  FROM probe p JOIN asg a ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.src_id),
       |dots AS (SELECT src_id, dst_id,
       |    sum(sv[r.range + 1] * dv[r.range + 1]) AS d,
       |    sum(sv[r.range + 1] ^ 2) AS ns,
       |    sum(dv[r.range + 1] ^ 2) AS nd
       |  FROM cand CROSS JOIN range(64) r GROUP BY 1, 2),
       |scored AS (SELECT src_id, dst_id,
       |    round(d / (sqrt(ns) * sqrt(nd)), 6) AS cosine FROM dots),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY src_id
       |      ORDER BY cosine DESC, dst_id) AS INT) AS rank FROM scored),
       |graph AS (SELECT src_id, dst_id, cosine, rank FROM ranked
       |  WHERE rank <= $k)""".stripMargin
  }

  private def ivfGraphOracleSql: String =
    s"""WITH $ivfGraphCtes
       |SELECT src_id, dst_id, cosine, rank FROM graph
       |ORDER BY src_id, rank""".stripMargin

  /** `ann_label_audit_graph` oracle: the SAME replayed IVF kNN graph, then
    * the majority-vote + per-label agreement algebra of
    * [[graft.pipeline.Similarity.labelAuditFromGraph]] in plain SQL
    * (votes desc, best rounded cosine desc, label asc tie-break). */
  private def labelAuditGraphOracleSql: String =
    s"""WITH $ivfGraphCtes,
       |votes AS (SELECT g.src_id, l.label AS lbl,
       |    count(*) AS nv, max(g.cosine) AS best_cosine
       |  FROM graph g JOIN embeddings l ON l.vec_id = g.dst_id
       |  GROUP BY 1, 2),
       |pred AS (SELECT src_id, lbl AS predicted_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src_id
       |      ORDER BY nv DESC, best_cosine DESC, lbl) AS r FROM votes)
       |  WHERE r = 1)
       |SELECT l.label, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN p.predicted_label = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  round(CAST(sum(CASE WHEN p.predicted_label = l.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS agree_rate
       |FROM pred p JOIN embeddings l ON l.vec_id = p.src_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Full DuckDB replay of Similarity.semanticDedup over embeddings plus
    * the query's planted duplicates (dim=64, bits=6, seed=42, threshold
    * 0.95): seeded plane literals → sign-bit signatures → same-bucket
    * pairs (id1 < id2) → cosine threshold → GENERAL connected components
    * via a recursive-CTE transitive closure (no chain-structure shortcut)
    * → keep-one (min id per component) → surviving ids. */
  private def semdedupOracleSql: String = {
    val planes = graft.pipeline.Similarity.hyperplanes(dim = 64, bits = 6, seed = 42L)
    val pvals = planes.zipWithIndex.flatMap { case (row, b) =>
      row.zipWithIndex.map { case (w, j) => s"($b, $j, $w)" } }.mkString(", ")
    s"""WITH RECURSIVE plane(b, j, w) AS (VALUES $pvals),
       |base AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 30),
       |proj AS (
       |  SELECT e.vec_id, p.b,
       |         sum(CAST(e.embedding[p.j + 1] AS DOUBLE) * p.w) AS pr
       |  FROM base e CROSS JOIN plane p GROUP BY 1, 2),
       |sig AS (
       |  SELECT vec_id,
       |         sum(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS s
       |  FROM proj GROUP BY 1),
       |cp AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT cp.id1, cp.id2,
       |    sum(CAST(x.embedding[r.range + 1] AS DOUBLE) * CAST(y.embedding[r.range + 1] AS DOUBLE)) AS d,
       |    sum(CAST(x.embedding[r.range + 1] AS DOUBLE) ^ 2) AS nx,
       |    sum(CAST(y.embedding[r.range + 1] AS DOUBLE) ^ 2) AS ny
       |  FROM cp JOIN base x ON x.vec_id = cp.id1
       |         JOIN base y ON y.vec_id = cp.id2
       |  CROSS JOIN range(64) r GROUP BY 1, 2),
       |ed AS (SELECT id1, id2 FROM dots WHERE d / (sqrt(nx) * sqrt(ny)) >= 0.95),
       |sym AS (SELECT id1 AS a, id2 AS b FROM ed
       |        UNION SELECT id2, id1 FROM ed),
       |reach(src, dst) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst),
       |removed AS (SELECT src AS id FROM reach GROUP BY src HAVING min(dst) < src)
       |SELECT vec_id FROM base
       |WHERE vec_id NOT IN (SELECT id FROM removed) ORDER BY vec_id""".stripMargin
  }
}
