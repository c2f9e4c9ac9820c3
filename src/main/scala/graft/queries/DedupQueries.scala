package graft
package queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Blocklist, Decontaminate, Dedup, Similarity, Text}
import graft.streaming.EventStreams
import Tables._

/** Dedup, blocklist filtering and benchmark decontamination. */
private[graft] object DedupQueries {

  val all: Seq[Q] = Seq(
    Q("dedup_stream_batch", (s, dir) => {
      // at-least-once re-delivery simulated by a self-union; the SAME
      // transform that runs watermarked on a stream (EventStreams
      // .dedupStream) dedups it in batch mode — one definition, two modes
      val ev = t(s, dir, "events")
      EventStreams.dedupStream(ev.unionAll(ev))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      () => """WITH uni AS (SELECT * FROM events UNION ALL SELECT * FROM events),
         d AS (SELECT DISTINCT event_id, ts, event_type FROM uni)
         SELECT event_type, count(*) AS n FROM d GROUP BY 1 ORDER BY 1"""),

    Q("dedup_exact", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactReport(docs, "text", "doc_id")
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_docs"),
          sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_dupes"))
    },
      () => """WITH fp AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                     FROM documents),
         grp AS (SELECT f, count(*) AS n FROM fp GROUP BY 1)
         SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_dupes FROM grp"""),

    Q("dedup_exact_against", (s, dir) => {
      // incremental dedup: the "new batch" (doc_id >= 250) against the
      // fingerprint index of the existing corpus (doc_id < 250); bloom
      // prunes the verify shuffle, result is the exact anti-join
      val docs = t(s, dir, "documents")
      val known = Dedup.exactReport(docs.filter(col("doc_id") < 250),
        "text", "doc_id").select("fp")
      Dedup.exactAgainst(docs.filter(col("doc_id") >= 250), known, "text")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
      () => """WITH known AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
             FROM documents WHERE doc_id < 250)
         SELECT doc_id, source FROM documents
         WHERE doc_id >= 250
           AND md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) NOT IN
             (SELECT f FROM known)
         ORDER BY doc_id"""),

    Q("decon_semantic", (s, dir) => {
      // embedding-space decontamination: train = vec_id >= 100 scored
      // against the "eval set" vec_id < 20; flags cosine >= 0.4
      val e = t(s, dir, "embeddings")
      Decontaminate.semanticOverlap(e.filter(col("vec_id") >= 100),
          e.filter(col("vec_id") < 20), threshold = 0.4)
        .select(col("id"), col("best_eval_id"),
          round(col("best_cosine"), 6).as("best_cosine"), col("contaminated"))
        .orderBy("id")
    },
      () => """WITH t AS (SELECT vec_id AS id, embedding AS tv FROM embeddings WHERE vec_id >= 100),
         e AS (SELECT vec_id AS eid, embedding AS ev FROM embeddings WHERE vec_id < 20),
         dots AS (
           SELECT id, eid,
             sum(CAST(tv[r.range + 1] AS DOUBLE) * CAST(ev[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(tv[r.range + 1] AS DOUBLE) ^ 2) AS nt,
             sum(CAST(ev[r.range + 1] AS DOUBLE) ^ 2) AS ne
           FROM t CROSS JOIN e CROSS JOIN range(64) r GROUP BY 1, 2),
         scored AS (SELECT id, eid, d / (sqrt(nt) * sqrt(ne)) AS cos FROM dots),
         best AS (SELECT id, eid, cos, row_number() OVER (PARTITION BY id
             ORDER BY cos DESC, eid ASC) AS rn FROM scored)
         SELECT id, eid AS best_eval_id, round(cos, 6) AS best_cosine,
           cos >= 0.4 AS contaminated
         FROM best WHERE rn = 1 ORDER BY id"""),

    Q("dedup_minhash_lsh", (s, dir) => {
      // hash-proven: the oracle replays polyHash + the fmix64 family +
      // band buckets + candidate pairs in DuckDB SQL (see minhashOracleSql).
      // est_jaccard stays unrounded — k/64 is an exact binary double on
      // both engines, while round() would pit HALF_UP against HALF_EVEN.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      Dedup.minhashCandidates(s, docs, "text", "doc_id")
        .select(col("id1"), col("id2"), col("est_jaccard"))
        .orderBy("id1", "id2")
    },
      () => minhashOracleSql),

    Q("dedup_minhash_star", (s, dir) => {
      // the linear-in-duplication grouping path (star edges per bucket —
      // same connected components as the pairwise cliques, O(m·bands)
      // edges instead of O(m²); DedupStarSpec asserts component equality);
      // hash-proven via the shared banded replay + per-bucket min rep
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      Dedup.minhashStarEdges(s, docs, "text", "doc_id")
        .orderBy("id1", "id2")
    },
      () => minhashStarOracleSql),

    Q("dedup_cluster_histogram", (s, dir) => {
      // the curation dashboard's "how deep is the duplication" number:
      // duplicate-cluster SIZE distribution over the linear star-edge
      // components (n_clusters per size; singletons = size 1). Output is
      // O(max cluster size) rows at any corpus scale
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val comps = Dedup.components(
        Dedup.minhashStarEdges(s, docs, "text", "doc_id"))
      docs.select(col("doc_id").cast("string").as("id"))
        .join(comps, Seq("id"), "left")
        .select(coalesce(col("component"), col("id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("size")
    },
      // the star-edge CTEs + recursive reachability (the winnow_star
      // oracle pattern) + the size histogram on top
      () => s"""${minhashBandedCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         rp AS (SELECT b, slice, min(id) AS id1 FROM bd GROUP BY b, slice),
         e AS (SELECT DISTINCT rp.id1, bd.id AS id2
               FROM bd JOIN rp ON bd.b = rp.b AND bd.slice = rp.slice
               WHERE bd.id <> rp.id1),
         ed AS MATERIALIZED (
           SELECT id1 AS src, id2 AS dst FROM e
           UNION SELECT id2 AS src, id1 AS dst FROM e),
         ids AS (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
                 WHERE doc_id < 200),
         reach AS (
           SELECT id, id AS node FROM ids
           UNION
           SELECT r.id, ed.dst AS node FROM reach r JOIN ed ON ed.src = r.node),
         comp AS (SELECT id, min(node) AS component FROM reach GROUP BY id),
         sz AS (SELECT component, CAST(count(*) AS BIGINT) AS size
                FROM comp GROUP BY 1)
         SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY 1 ORDER BY 1""", dualPath = true),

    Q("dedup_source_report", (s, dir) => {
      // per-source exact-duplication dashboard: docs, distinct
      // fingerprints, dup rate — ONE aggregation (count_distinct is the
      // standard two-phase partial), zero joins. Copies are PLANTED
      // (doc_id<30 re-ingested, same source) so the rate column does
      // real work: the corpus has no natural byte-dups at the oracle SF
      val d0 = t(s, dir, "documents").filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      d0.unionByName(d0.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 10000L))
        .select(col("source"), Text.fingerprint(col("text")).as("__f"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("__f")).as("n_unique"))
        .withColumn("dup_rate",
          round((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs"), 6))
        .orderBy("source")
    },
      () => """WITH base AS (
           SELECT source, text FROM documents WHERE source IS NOT NULL
           UNION ALL
           SELECT source, text FROM documents
           WHERE source IS NOT NULL AND doc_id < 30),
         f AS (SELECT source,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS f
           FROM base)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT f) AS BIGINT) AS n_unique,
           round(CAST(count(*) - count(DISTINCT f) AS DOUBLE) / count(*), 6)
             AS dup_rate
         FROM f GROUP BY 1 ORDER BY 1"""),

    Q("dedup_simhash", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      Dedup.simhashCandidates(s, docs, "text", "doc_id")
        .filter(col("hamming") <= 16)
        .orderBy("id1", "id2")
    },
      () => simhashOracleSql),

    Q("dedup_ngram_jaccard", (s, dir) => {
      // exact jaccard on consecutive-id pairs (linear, deterministic)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val pairs = docs.select(col("doc_id").as("id1"))
        .withColumn("id2", col("id1") + 1).filter(col("id2") < 100)
      Dedup.ngramJaccard(s, docs, pairs, "text", "doc_id", shingleK = 4)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    },
      // set-of-4-grams jaccard on the raw strings — equivalent to the Spark
      // side's hashed-shingle sets as long as polyHash is collision-free on
      // the corpus (it is; a collision would show up as a hash mismatch here)
      () => """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 100),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN length(t) <= 4 THEN [t]
                  ELSE list_transform(range(length(t) - 3), i -> substr(t, CAST(i AS INT) + 1, 4)) END) AS s
                FROM d)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           round(len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         ORDER BY id1, id2"""),

    Q("dedup_containment", (s, dir) => {
      // asymmetric overlap on consecutive-id pairs: containment catches
      // short-in-long embeddings that jaccard dilutes
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val pairs = docs.select(col("doc_id").as("id1"))
        .withColumn("id2", col("id1") + 1).filter(col("id2") < 100)
      Dedup.ngramContainment(s, docs, pairs, "text", "doc_id", shingleK = 4)
        .select(col("id1"), col("id2"),
          round(col("containment1"), 6).as("containment1"),
          round(col("containment2"), 6).as("containment2"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    },
      // same shingle-set replay as dedup_ngram_jaccard; union size derived
      // as |A|+|B|-|A∩B| exactly like the Spark side
      () => """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 100),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN length(t) <= 4 THEN [t]
                  ELSE list_transform(range(length(t) - 3), i -> substr(t, CAST(i AS INT) + 1, 4)) END) AS s
                FROM d),
         p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
                 CAST(len(a.s) AS DOUBLE) AS n1, CAST(len(b.s) AS DOUBLE) AS n2
               FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
         SELECT id1, id2,
           round(i / n1, 6) AS containment1,
           round(i / n2, 6) AS containment2,
           round(i / (n1 + n2 - i), 6) AS jaccard
         FROM p ORDER BY id1, id2"""),

    Q("dedup_components", (s, dir) => {
      // verified pairs (consecutive-id chain, exact jaccard >= 0.3) ->
      // connected components -> duplicate groups with min-id keeper
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val pairs = docs.select(col("doc_id").as("id1"))
        .withColumn("id2", col("id1") + 1).filter(col("id2") < 100)
      val verified = Dedup.ngramJaccard(s, docs, pairs, "text", "doc_id", shingleK = 4)
        .filter(col("jaccard") >= 0.3)
      Dedup.components(verified)
        .select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component"))
        .orderBy("id")
    },
      // the pair graph here is the consecutive-id chain, so components are
      // maximal runs of adjacent verified pairs — expressible exactly via
      // a run-break cumulative sum (general CC is not needed for the oracle)
      () => """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 100),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN length(t) <= 4 THEN [t]
                  ELSE list_transform(range(length(t) - 3), i -> substr(t, CAST(i AS INT) + 1, 4)) END) AS s
                FROM d),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
               FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
         e AS (SELECT id1, id2 FROM j WHERE jac >= 0.3),
         n AS (SELECT DISTINCT id FROM (SELECT id1 AS id FROM e UNION ALL SELECT id2 AS id FROM e)),
         m AS (SELECT id, CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.id1 = n.id - 1 AND e.id2 = n.id)
                 THEN 0 ELSE 1 END AS brk FROM n),
         r AS (SELECT id, sum(brk) OVER (ORDER BY id) AS grp FROM m)
         SELECT CAST(id AS BIGINT) AS id,
           CAST(min(id) OVER (PARTITION BY grp) AS BIGINT) AS component
         FROM r ORDER BY id""", dualPath = true),

    Q("dedup_keep_best", (s, dir) => {
      // same verified chain components as dedup_components, but the keeper
      // is the BEST cluster member (longest canonical text, string-id tie
      // break) instead of the min id — the quality-aware canonical cut
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val pairs = docs.select(col("doc_id").as("id1"))
        .withColumn("id2", col("id1") + 1).filter(col("id2") < 100)
      val verified = Dedup.ngramJaccard(s, docs, pairs, "text", "doc_id", shingleK = 4)
        .filter(col("jaccard") >= 0.3)
      val comps = Dedup.components(verified)
      Dedup.keepBest(docs, comps, "doc_id",
          length(graft.pipeline.Text.normalized(col("text"))))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"),
          length(graft.pipeline.Text.normalized(col("text"))).cast("long").as("quality"))
        .orderBy("doc_id")
    },
      // same run-break components replay as dedup_components, plus the
      // quality argmax: keeper = (length(t) DESC, string-id ASC) row_number 1
      () => """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 100),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN length(t) <= 4 THEN [t]
                  ELSE list_transform(range(length(t) - 3), i -> substr(t, CAST(i AS INT) + 1, 4)) END) AS s
                FROM d),
         j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                 len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
               FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
         e AS (SELECT id1, id2 FROM j WHERE jac >= 0.3),
         n AS (SELECT DISTINCT id FROM (SELECT id1 AS id FROM e UNION ALL SELECT id2 AS id FROM e)),
         m AS (SELECT id, CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.id1 = n.id - 1 AND e.id2 = n.id)
                 THEN 0 ELSE 1 END AS brk FROM n),
         r AS (SELECT id, sum(brk) OVER (ORDER BY id) AS grp FROM m),
         comp AS (SELECT id, min(id) OVER (PARTITION BY grp) AS component FROM r),
         membr AS (SELECT c.id, c.component, length(d.t) AS q FROM comp c JOIN d ON d.doc_id = c.id),
         win AS (SELECT component, id AS winner FROM (
                   SELECT id, component, row_number() OVER (PARTITION BY component
                     ORDER BY q DESC, CAST(id AS VARCHAR)) AS rn FROM membr) WHERE rn = 1),
         losers AS (SELECT mb.id FROM membr mb JOIN win w ON w.component = mb.component
                    WHERE mb.id <> w.winner)
         SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(coalesce(w.component, d.doc_id) AS BIGINT) AS component,
           CAST(length(d.t) AS BIGINT) AS quality
         FROM d
         LEFT JOIN losers l ON l.id = d.doc_id
         LEFT JOIN win w ON w.winner = d.doc_id
         WHERE l.id IS NULL
         ORDER BY doc_id""", dualPath = true),

    Q("dedup_embedding_cosine", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      val b = e.select((col("vec_id") - 1).as("id1"), col("vec_id").as("id2"),
        col("embedding").as("v2"))
      a.join(b, Seq("id1"))
        .withColumn("cosine", round(Similarity.dot(col("v1"), col("v2")) /
          (Similarity.norm(col("v1")) * Similarity.norm(col("v2"))), 6))
        .select("id1", "id2", "cosine")
        .orderBy("id1")
    },
      () => """WITH pairs AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2, a.embedding AS v1, b.embedding AS v2
           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         dots AS (
           SELECT id1, id2,
             sum(CAST(v1[r.range + 1] AS DOUBLE) * CAST(v2[r.range + 1] AS DOUBLE)) AS d,
             sum(CAST(v1[r.range + 1] AS DOUBLE) ^ 2) AS n1,
             sum(CAST(v2[r.range + 1] AS DOUBLE) ^ 2) AS n2
           FROM pairs CROSS JOIN range(64) r GROUP BY 1, 2)
         SELECT id1, id2, round(d / (sqrt(n1) * sqrt(n2)), 6) AS cosine
         FROM dots ORDER BY id1"""),

    Q("dedup_winnow_pairs", (s, dir) =>
      // MOSS candidate pairs: docs sharing >= 8 distinct winnow prints.
      // fp-bucketed index join (never all-pairs); the winnowing theorem
      // makes >= w+k-1-word true overlaps ALWAYS candidates
      Dedup.winnowCandidates(t(s, dir, "documents"), "text", "doc_id",
          k = 3, w = 4, minShared = 8)
        .orderBy("id1", "id2"),
      () => s"""WITH ${winnowCtes("")},
         fs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, fp FROM fps),
         pairs AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
             CAST(count(*) AS BIGINT) AS shared
           FROM fs x JOIN fs y ON x.fp = y.fp AND x.doc_id < y.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 8)
         SELECT id1, id2, shared FROM pairs ORDER BY id1, id2"""),

    Q("dedup_winnow_star", (s, dir) =>
      // grouping form: winnow candidates -> components -> one row per
      // doc (linear output; the pairwise form is dup-cluster-quadratic).
      // Oracle replays pairs + recursive reachability, so the green row
      // IS the pairs==components identity on real data (the
      // dedup_prefix_star precedent)
      Dedup.winnowStar(t(s, dir, "documents"), "text", "doc_id",
          k = 3, w = 4, minShared = 8, maxDocFreq = 50)
        .orderBy("id"),
      () => s"""WITH RECURSIVE ${winnowCtes("")},
         dfq AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
         f2 AS (SELECT fps.doc_id, fps.fp FROM fps JOIN dfq USING (fp)
                WHERE dfq.c <= 50),
         pairs AS (SELECT x.doc_id AS i1, y.doc_id AS i2
           FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 8),
         e AS (SELECT CAST(i1 AS VARCHAR) AS id1, CAST(i2 AS VARCHAR) AS id2
               FROM pairs),
         ed AS MATERIALIZED (
           SELECT id1 AS src, id2 AS dst FROM e
           UNION SELECT id2 AS src, id1 AS dst FROM e),
         ids AS (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents),
         reach AS (
           SELECT id, id AS node FROM ids
           UNION
           SELECT r.id, ed.dst AS node FROM reach r JOIN ed ON ed.src = r.node)
         SELECT id, min(node) AS component
         FROM reach GROUP BY id ORDER BY id""", dualPath = true),

    Q("dedup_image_dhash", (s, dir) =>
      // image near-dup GROUPS via dHash (difference hash): procedural
      // BMP corpus (120 base + 40 resized + 40 brightness plants) ->
      // REAL ImageIO decode -> exact integer luma grid -> 64-bit
      // gradient-sign signature -> 16-bit-band bucket join (hamming <= 3
      // guaranteed recalled) -> hamming <= 6 -> components. All int64
      // bit algebra from exact pixel sums, so the oracle replays
      // pixels -> grid -> bits -> bands -> pairs -> recursive
      // reachability with no codec — the green row IS the decode+hash
      // identity on planted resize/re-encode near-dups.
      Dedup.imageDedupStar(imageCorpus(s, dir, 120, 40), "payload",
          "img_id", "dhash", maxDist = 6)
        .orderBy("id"),
      () => imageDhashOracleSql, dualPath = true),

    Q("dedup_image_phash", (s, dir) =>
      // image near-dup PAIRS via pHash (DCT hash): 32x32 exact luma
      // grid -> integer DCT-II over the fixed-point cosine table (the
      // SAME integers interpolated into the oracle — no cross-engine
      // libm drift) -> 8x8 low-frequency block vs its non-DC median ->
      // banded pairs at hamming <= 10. Scale-invariant BY CONSTRUCTION
      // (fixed-point means cancel k² upscales exactly), so the resized
      // plants pair at hamming 0.
      Dedup.imageCandidates(imageCorpus(s, dir, 80, 30), "payload",
          "img_id", "phash", maxDist = 10)
        .orderBy("id1", "id2"),
      () => imagePhashOracleSql),

    Q("dedup_winnow_pairs_capped", (s, dir) =>
      // the maxDocFreq boilerplate cap (MOSS practice): prints in more
      // than maxDocFreq docs are template chrome, not copied passages,
      // and their b² buckets dominate the uncapped join. Cap 3 BITES at
      // the oracle SF (max print df is 7 — 20 pairs / Σshared 342 vs the
      // uncapped 23 / 480, a visibly different result); production sets
      // it ~2× the expected dup-cluster depth (sf1 probe: ×20.5 → ×1.2)
      Dedup.winnowCandidates(t(s, dir, "documents"), "text", "doc_id",
          k = 3, w = 4, minShared = 8, maxDocFreq = 3)
        .orderBy("id1", "id2"),
      () => s"""WITH ${winnowCtes("")},
         dfq AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
         f2 AS (SELECT CAST(fps.doc_id AS VARCHAR) AS doc_id, fps.fp
                FROM fps JOIN dfq USING (fp) WHERE dfq.c <= 3),
         pairs AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
             CAST(count(*) AS BIGINT) AS shared
           FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 8)
         SELECT id1, id2, shared FROM pairs ORDER BY id1, id2"""),

    Q("dedup_url_canonical", (s, dir) => {
      // URL-level dedup after canonicalization: fragment stripped,
      // scheme+authority lowercased, utm_* params dropped, trailing
      // separators trimmed — case/utm/fragment raw variants collapse
      // onto one canonical form (non-vacuous: n_raw_forms > 1 rows exist)
      Text.extractUrls(urlBody(s, dir), "body")
        .groupBy(Text.canonicalizeUrl(col("url")).as("canonical_url"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("url")).as("n_raw_forms"))
        .orderBy("canonical_url")
    },
      () => s"""WITH $urlBodyCtes,
         c1 AS (SELECT url, regexp_replace(url, '#.*$$', '', 'g') AS nf FROM u),
         c2 AS (SELECT url,
             lower(regexp_extract(nf, '^[^/]*//[^/?#]*', 0))
               || regexp_replace(nf, '^[^/]*//[^/?#]*', '', 'g') AS lw FROM c1),
         c3 AS (SELECT url, regexp_replace(regexp_replace(lw,
             '([?&])(utm_[^&#]*&)+', '\\1', 'g'), '[?&]utm_[^&#]*$$', '', 'g') AS nu FROM c2),
         c4 AS (SELECT url, regexp_replace(regexp_replace(nu,
             '\\?$$', '', 'g'), '/$$', '', 'g') AS canonical_url FROM c3)
         SELECT canonical_url, count(*) AS n_occurrences,
           count(DISTINCT url) AS n_raw_forms
         FROM c4 GROUP BY 1 ORDER BY 1"""),

    Q("dedup_paragraphs", (s, dir) => {
      // paragraph-level dedup over synthetic multi-paragraph docs: every
      // doc gets the SAME boilerplate footer paragraph plus its per-source
      // tag paragraph, so the footer survives only in the first doc and
      // each source tag only in its first carrier — non-vacuous at every SF
      val d = t(s, dir, "documents").filter(col("doc_id") < 200)
      val multi = d.select(col("doc_id"),
        concat(col("text"), lit("\n\n"),
          lit("GRAFT boilerplate footer - subscribe now"), lit("\n\n"),
          col("source")).as("text"))
      Dedup.dedupParagraphs(multi, "text", "doc_id")
        .select(col("id"), col("n_paras"), col("n_removed"),
          md5(col("text_dedup").cast("binary")).as("text_md5"))
        .orderBy("id")
    },
      () => """WITH d AS (SELECT doc_id AS id,
                      concat(text, chr(10)||chr(10), 'GRAFT boilerplate footer - subscribe now', chr(10)||chr(10), source) AS t
                    FROM documents WHERE doc_id < 200),
         sp AS (SELECT id, string_split_regex(t, '\n{2,}') AS ps FROM d),
         p AS (SELECT id, generate_subscripts(ps, 1) - 1 AS idx, unnest(ps) AS para FROM sp),
         ph AS (SELECT id, idx, para,
                  md5(trim(regexp_replace(lower(para), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS h
                FROM p WHERE len(trim(para)) > 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY id, idx) AS rn,
                 count(*) OVER (PARTITION BY h) AS cnt FROM ph),
         kept AS (SELECT id, idx, para FROM r WHERE cnt = 1 OR rn = 1),
         agg AS (SELECT id, count(*) AS n_kept,
                   md5(string_agg(para, chr(10)||chr(10) ORDER BY idx)) AS text_md5
                 FROM kept GROUP BY id),
         tot AS (SELECT id, count(*) AS n_paras FROM ph GROUP BY id)
         SELECT tot.id, n_paras,
           n_paras - coalesce(n_kept, 0) AS n_removed,
           coalesce(text_md5, md5('')) AS text_md5
         FROM tot LEFT JOIN agg USING (id) ORDER BY id"""),

    Q("dedup_prefix_join", (s, dir) =>
      // EXACT set-similarity self-join (PPJoin-family prefix filter):
      // all word-set Jaccard >= 0.8 pairs with NO false negatives — the
      // guarantee-grade counterpart to the probabilistic MinHash paths.
      // Output is pair-scale (inherently quadratic in dup-cluster depth,
      // like dedup_minhash_lsh), so the oracled slice mirrors theirs
      Dedup.prefixJaccardJoin(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.8)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2"),
      // prefix-filter replay: ids as VARCHAR (the engine's string-id
      // contract, so id1 < id2 agrees), rare-first prefix via (df, token)
      // window rank, candidate join on prefix tokens, exact-count verify
      () => """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS did,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS s
           FROM documents WHERE doc_id < 200),
         dd AS (SELECT did, s FROM d WHERE len(s) > 0),
         tk AS (SELECT did, unnest(s) AS tok FROM dd),
         dfq AS (SELECT tok, count(*) AS dfc FROM tk GROUP BY 1),
         pos AS (SELECT tk.did, tk.tok,
             row_number() OVER (PARTITION BY tk.did ORDER BY dfq.dfc, tk.tok) AS p,
             count(*) OVER (PARTITION BY tk.did) AS n
           FROM tk JOIN dfq USING (tok)),
         pre AS (SELECT did, tok FROM pos WHERE p <= n - ceil(0.8 * n) + 1),
         cand AS (SELECT DISTINCT a.did AS id1, b.did AS id2
           FROM pre a JOIN pre b ON a.tok = b.tok AND a.did < b.did),
         sz AS (SELECT did, len(s) AS n FROM dd),
         inter AS (SELECT c.id1, c.id2, count(*) AS i
           FROM cand c JOIN tk t1 ON t1.did = c.id1
           JOIN tk t2 ON t2.did = c.id2 AND t2.tok = t1.tok
           GROUP BY 1, 2)
         SELECT inter.id1, inter.id2,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter JOIN sz sa ON sa.did = inter.id1
         JOIN sz sb ON sb.did = inter.id2
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
         ORDER BY id1, id2"""),

    Q("dedup_prefix_star", (s, dir) =>
      // the GROUPING form of dedup_prefix_join (r13 VERDICT #2): exact
      // no-false-negative duplicate COMPONENTS via triangle-inequality
      // star pruning — linear output where the pairwise contract is
      // dup-cluster-quadratic; oracle replays the full pairwise graph +
      // recursive reachability, so this row IS the pairs≡star identity
      Dedup.prefixJaccardStar(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.8)
        .orderBy("id"),
      // INDEPENDENT replay of the star path's contract: the full PAIRWISE
      // verified graph (dedup_prefix_join's recipe) + recursive reachability
      // → component = min reachable id. The engine never builds this graph
      // (star + triangle-pruned loose edges only), so a green row here IS
      // the pairs≡star component-identity law on real data. ed is
      // MATERIALIZED: the recursion must not re-inline the whole pipeline
      // per iteration (the k-core lesson).
      () => """WITH RECURSIVE d AS (SELECT CAST(doc_id AS VARCHAR) AS did,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS s
           FROM documents WHERE doc_id < 200),
         dd AS (SELECT did, s FROM d WHERE len(s) > 0),
         tk AS (SELECT did, unnest(s) AS tok FROM dd),
         dfq AS (SELECT tok, count(*) AS dfc FROM tk GROUP BY 1),
         pos AS (SELECT tk.did, tk.tok,
             row_number() OVER (PARTITION BY tk.did ORDER BY dfq.dfc, tk.tok) AS p,
             count(*) OVER (PARTITION BY tk.did) AS n
           FROM tk JOIN dfq USING (tok)),
         pre AS (SELECT did, tok FROM pos WHERE p <= n - ceil(0.8 * n) + 1),
         cand AS (SELECT DISTINCT a.did AS id1, b.did AS id2
           FROM pre a JOIN pre b ON a.tok = b.tok AND a.did < b.did),
         sz AS (SELECT did, len(s) AS n FROM dd),
         inter AS (SELECT c.id1, c.id2, count(*) AS i
           FROM cand c JOIN tk t1 ON t1.did = c.id1
           JOIN tk t2 ON t2.did = c.id2 AND t2.tok = t1.tok
           GROUP BY 1, 2),
         e AS (SELECT inter.id1, inter.id2
           FROM inter JOIN sz sa ON sa.did = inter.id1
           JOIN sz sb ON sb.did = inter.id2
           WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         ed AS MATERIALIZED (
           SELECT id1 AS src, id2 AS dst FROM e
           UNION SELECT id2 AS src, id1 AS dst FROM e),
         reach AS (
           SELECT did AS id, did AS node FROM dd
           UNION
           SELECT r.id, ed.dst AS node FROM reach r JOIN ed ON ed.src = r.node)
         SELECT id, min(node) AS component
         FROM reach GROUP BY id ORDER BY id""", dualPath = true),

    Q("dedup_substring", (s, dir) =>
      // exact substring dedup, corpus-vs-itself (Lee et al. 2022): maximal
      // cross-document duplicated spans of >= 15 tokens. L=15 suits this
      // corpus's ~55-token docs (production runs 50 on web-length docs);
      // output is span-bounded, never corpus-bounded
      Dedup.substringSpans(t(s, dir, "documents"), "text", "doc_id",
          minTokens = 15)
        .select(col("id").as("doc_id"), col("span_start").cast("long"),
          col("span_end").cast("long"), col("n_tokens").cast("long"))
        .orderBy("doc_id", "span_start"),
      // cross-doc duplicated 15-grams by STRING (the engine groups the same
      // grams by their 8-byte fingerprint — the house dedup contract);
      // min<>max doc_id is the ">=2 distinct docs" test; equal-length
      // windows make the interval union a lag(start) island sweep
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         o AS (SELECT doc_id, u.start AS start, u.g AS g
           FROM (SELECT doc_id,
               unnest(list_transform(range(CASE WHEN len(w) >= 15 THEN len(w) - 14 ELSE 0 END),
                 i -> {'start': CAST(i AS INT),
                       'g': array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 15], ' ')})) AS u
             FROM d)),
         cd AS (SELECT g FROM o GROUP BY g HAVING min(doc_id) <> max(doc_id)),
         dup AS (SELECT doc_id, start FROM o JOIN cd USING (g)),
         isl AS (SELECT doc_id, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                  OR start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 15
               THEN 1 ELSE 0 END AS nw
           FROM dup),
         isl2 AS (SELECT doc_id, start,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           FROM isl)
         SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(start) + 14 AS BIGINT) AS span_end,
           CAST(max(start) + 14 - min(start) + 1 AS BIGINT) AS n_tokens
         FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start"""),

    Q("dedup_substring_cut", (s, dir) =>
      // the keep-one cut over the flagged coverage: every cross-doc
      // duplicated 15-gram occurrence outside its min-id keeper document
      // is removed; docs rebuilt from surviving words (md5-proven)
      Dedup.removeSubstringDups(t(s, dir, "documents"), "text", "doc_id",
          minTokens = 15)
        .select(col("id").as("doc_id"), col("n_words"), col("n_removed"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
        .orderBy("doc_id"),
      // the cut replay: same positioned 15-grams, keeper = min doc_id per
      // cross-doc gram, coverage removal via the nested list lambdas
      // (decon_remove_spans' recipe, cross-doc + keeper-doc semantics)
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         o AS (SELECT doc_id, u.start AS start, u.g AS g
           FROM (SELECT doc_id,
               unnest(list_transform(range(CASE WHEN len(w) >= 15 THEN len(w) - 14 ELSE 0 END),
                 i -> {'start': CAST(i AS INT),
                       'g': array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 15], ' ')})) AS u
             FROM d)),
         cd AS (SELECT g, min(doc_id) AS keeper FROM o GROUP BY g
           HAVING min(doc_id) <> max(doc_id)),
         rm AS (SELECT doc_id, list(start) AS starts
           FROM o JOIN cd USING (g) WHERE doc_id <> keeper GROUP BY doc_id),
         k AS (SELECT d.doc_id, d.w,
             list_filter(d.w, (x, i) -> len(list_filter(coalesce(rm.starts, []),
               s -> i - 1 >= s AND i - 1 < s + 15)) = 0) AS kept
           FROM d LEFT JOIN rm USING (doc_id))
         SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_md5
         FROM k ORDER BY doc_id"""),

    Q("dedup_semdedup", (s, dir) => {
      // SemDeDup (Abbas et al. 2023): k-means clusters scope the pairwise
      // cosine search — Σ c² work, never corpus². Two regimes in one
      // query: planted exact copies (cosine 1, provably co-clustered —
      // identical vectors share an argmin) AND natural within-cluster
      // near-pairs at threshold 0.45 (corpus max cosine ~0.51), so the
      // drop rule does non-trivial work on real data. Oracle replays
      // seeds, argmin assignment, within-cluster pairs, and the
      // smaller-id-keeper rule.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 30)
        .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
      Similarity.semDedupClustered(e.unionByName(planted), k = 8,
          threshold = 0.45)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
      () => """WITH base AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 30),
         init AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 8)),
         d0 AS (
           SELECT e.vec_id, e.embedding, i.cid,
             list_sum(list_transform(range(64),
               r2 -> (CAST(e.embedding AS DOUBLE[])[r2+1] - i.c[r2+1])^2)) AS dist
           FROM base e CROSS JOIN init i),
         a AS (
           SELECT vec_id, embedding, cid FROM (
             SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d0)
           WHERE rn = 1),
         p AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
                 x.embedding AS v1, y.embedding AS v2
               FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id),
         -- order-pinned index folds (list_transform preserves index
         -- order; the unordered GROUP-BY-over-range form it replaced
         -- could flip a near-threshold cosine nondeterministically)
         dots AS (SELECT id1, id2,
             list_sum(list_transform(range(64),
               r -> CAST(v1[r + 1] AS DOUBLE) * CAST(v2[r + 1] AS DOUBLE))) AS d,
             list_sum(list_transform(range(64),
               r -> CAST(v1[r + 1] AS DOUBLE) ^ 2)) AS n1,
             list_sum(list_transform(range(64),
               r -> CAST(v2[r + 1] AS DOUBLE) ^ 2)) AS n2
           FROM p),
         dr AS (SELECT DISTINCT id2 FROM dots
                WHERE round(d / (sqrt(n1) * sqrt(n2)), 6) >= 0.45)
         SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id FROM a
         WHERE a.vec_id NOT IN (SELECT id2 FROM dr)
         ORDER BY a.vec_id"""),

    Q("decon_overlap", (s, dir) => {
      // eval slice is every 7th doc; the eval n-gram set is broadcast, so
      // the 100 TB train side never shuffles rows — only the final per-doc
      // aggregation moves (id, count) pairs
      val docs = t(s, dir, "documents")
      Decontaminate.overlapReport(
          docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", n = 5)
        .select(col("id").as("doc_id"), col("n_ngrams").cast("long").as("n_ngrams"),
          col("n_overlap"), round(col("overlap_frac"), 6).as("overlap_frac"),
          col("contaminated"))
        .orderBy("doc_id")
    },
      // word-5-gram decontamination: DuckDB joins the RAW n-gram strings where
      // the Spark side joins xxhash64 of them — a collision would surface here
      // as a hash mismatch. unnest() of an empty list drops the row, so empty
      // n-gram sets (docs under 5 words, e.g. spaceless zh) emit one NULL to
      // mirror Spark's explode_outer.
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         g AS (SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 5
               THEN list_transform(range(len(w) - 4),
                      i -> array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 5], ' '))
               ELSE [] END) AS gs
           FROM d),
         ev AS (SELECT DISTINCT unnest(gs) AS ng FROM g WHERE doc_id % 7 = 0),
         tr AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams,
             unnest(CASE WHEN len(gs) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE gs END) AS ng
           FROM g WHERE doc_id % 7 <> 0),
         c AS (SELECT tr.doc_id, tr.n_ngrams,
             CAST(coalesce(sum(CASE WHEN ev.ng IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_overlap
           FROM tr LEFT JOIN ev ON tr.ng = ev.ng
           GROUP BY 1, 2)
         SELECT doc_id, n_ngrams, n_overlap,
           round(CASE WHEN n_ngrams > 0 THEN CAST(n_overlap AS DOUBLE) / n_ngrams ELSE 0.0 END, 6) AS overlap_frac,
           n_overlap > 0 AS contaminated
         FROM c ORDER BY doc_id"""),

    Q("decon_minhash_lsh", (s, dir) => {
      // fuzzy decontamination: train docs that would be an LSH candidate
      // pair with some eval doc (shared band bucket); eval side broadcast
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      Decontaminate.lshOverlap(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id")
        .select(col("id").cast("long").as("doc_id"), col("n_bands_matched"))
        .orderBy("doc_id")
    },
      // same banded CTE as the dedup replays; the train/eval split rides
      // doc_id parity mod 7, the join is on the band SLICE itself
      () => s"""$minhashBandedCte,
         |tb AS (SELECT id, b, slice FROM bd WHERE CAST(id AS BIGINT) % 7 <> 0),
         |ebs AS (SELECT DISTINCT b, slice FROM bd WHERE CAST(id AS BIGINT) % 7 = 0)
         |SELECT CAST(tb.id AS BIGINT) AS doc_id,
         |  CAST(count(DISTINCT tb.b) AS BIGINT) AS n_bands_matched
         |FROM tb JOIN ebs ON tb.b = ebs.b AND tb.slice = ebs.slice
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("decon_corpus_minhash", (s, dir) => {
      // corpus-level overlap estimate: NO join — one signature projection
      // + one O(numHashes)-state aggregation per side
      val docs = t(s, dir, "documents")
      Decontaminate.corpusMinhashJaccard(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "text")
    },
      () => corpusMinhashOracleSql),

    Q("decon_source_matrix", (s, dir) =>
      // pre-merge audit: pairwise corpus-overlap estimates across the
      // source column from ONE pass — O(#groups·numHashes) driver state,
      // gated by graft.corpusMatrix.maxGroups
      Decontaminate.corpusMinhashMatrix(t(s, dir, "documents"), "text", "source")
        .orderBy("group_a", "group_b"),
      () => corpusMatrixOracleSql),

    Q("decon_crossdoc_dup", (s, dir) =>
      Decontaminate.crossDocDupScore(
          t(s, dir, "documents").filter(col("doc_id") < 300), "text", "doc_id", n = 5)
        .select(col("id").as("doc_id"), col("n_ngrams").cast("long").as("n_ngrams"),
          col("n_dup"), round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy("doc_id"),
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 5
               THEN list_transform(range(len(w) - 4),
                      i -> array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 5], ' '))
               ELSE [] END) AS gs
           FROM d),
         ex AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams,
             unnest(CASE WHEN len(gs) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE gs END) AS ng
           FROM g),
         df AS (SELECT ng, count(*) AS nd FROM ex WHERE ng IS NOT NULL GROUP BY 1)
         SELECT ex.doc_id, ex.n_ngrams,
           CAST(coalesce(sum(CASE WHEN df.nd > 1 THEN 1 END), 0) AS BIGINT) AS n_dup,
           round(CASE WHEN ex.n_ngrams > 0
             THEN CAST(coalesce(sum(CASE WHEN df.nd > 1 THEN 1 END), 0) AS DOUBLE) / ex.n_ngrams
             ELSE 0.0 END, 6) AS dup_frac
         FROM ex LEFT JOIN df ON ex.ng = df.ng
         GROUP BY 1, 2 ORDER BY doc_id"""),

    Q("decon_remove_spans", (s, dir) =>
      // the cut step: every non-first occurrence of a corpus-duplicated
      // word-5-gram is removed; doc rebuilt from surviving words
      Decontaminate.removeDupSpans(t(s, dir, "documents"), "text", "doc_id", n = 5)
        .select(col("id").as("doc_id"), col("n_words"), col("n_removed"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
        .orderBy("doc_id"),
      // positioned-occurrence replay of removeDupSpans: first occurrence per
      // duplicated 5-gram via window rank; coverage via nested list lambdas
      // (DuckDB list_filter index i is 1-based; Spark's is 0-based)
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         o AS (SELECT doc_id, u.start AS start, u.g AS g
           FROM (SELECT doc_id,
               unnest(list_transform(range(CASE WHEN len(w) >= 5 THEN len(w) - 4 ELSE 0 END),
                 i -> {'start': CAST(i AS INT),
                       'g': array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 5], ' ')})) AS u
             FROM d)),
         r AS (SELECT doc_id, start,
             count(*) OVER (PARTITION BY g) AS cnt,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, start) AS rn
           FROM o),
         rm AS (SELECT doc_id, list(start) AS starts FROM r
           WHERE cnt > 1 AND rn > 1 GROUP BY doc_id),
         k AS (SELECT d.doc_id, d.w,
             list_filter(d.w, (x, i) -> len(list_filter(coalesce(rm.starts, []),
               s -> i - 1 >= s AND i - 1 < s + 5)) = 0) AS kept
           FROM d LEFT JOIN rm USING (doc_id))
         SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_md5
         FROM k ORDER BY doc_id"""),

    Q("blocklist_filter_out", (s, dir) => {
      // remove documents whose content hash is on a bad-hash blocklist;
      // bloom-negative rows never shuffle, result is the exact anti-join
      val docs = t(s, dir, "documents").withColumn("fp", md5(col("text")))
      val bl = docs.filter(col("doc_id") % 7 === 0).select(col("fp").as("bad_fp"))
      Blocklist.filterOut(docs, bl, "fp", blocklistKey = "bad_fp")
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    },
      () => """SELECT doc_id, source FROM documents
         WHERE md5(text) NOT IN
           (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)
         ORDER BY doc_id"""),

    Q("blocklist_phrase", (s, dir) => {
      // multi-word phrase blocklist at word boundaries: first-token
      // anchored broadcast join (provably no false negatives for
      // word-aligned matches), contains-verify — the corpus never
      // shuffles. One phrase ("data leak probe") has a corpus-frequent
      // anchor but never matches in full: a false positive would show as
      // extra rows vs the oracle's brute cross-join.
      import s.implicits._
      val phrases = Seq("slow scan", "fast merge", "key agg",
        "customer data", "spark join", "window sort", "stream filter",
        "data leak probe").toDF("phrase")
      Blocklist.phraseMatches(t(s, dir, "documents"), phrases,
          "text", "doc_id")
        .orderBy("doc_id", "phrase")
    },
      () => """WITH ph(phrase) AS (
           SELECT * FROM (VALUES ('slow scan'), ('fast merge'), ('key agg'),
             ('customer data'), ('spark join'), ('window sort'),
             ('stream filter'), ('data leak probe')) v(phrase)),
         n AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, phrase FROM n CROSS JOIN ph
         WHERE contains(' ' || norm || ' ', ' ' || phrase || ' ')
         ORDER BY doc_id, phrase"""),

    Q("blocklist_semi", (s, dir) => {
      // audit pull: every document matching the blocklist (exact semi-join,
      // bloom prunes the probe side before the shuffle)
      val docs = t(s, dir, "documents").withColumn("fp", md5(col("text")))
      val bl = docs.filter(col("doc_id") % 7 === 0).select(col("fp").as("bad_fp"))
      Blocklist.keepMatching(docs, bl, "fp", blocklistKey = "bad_fp")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    },
      () => """SELECT doc_id, lang FROM documents
         WHERE md5(text) IN
           (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)
         ORDER BY doc_id"""))

  // -------------------------------------------- minhash/simhash SQL replay
  // DuckDB replay of the Dedup hash kernels (Dedup.polyHash via Text,
  // fmix64, the seeded family) so the LSH candidate queries are hash-proven
  // rather than rows-only. All 64-bit wrapping arithmetic runs in HUGEINT
  // limbs (DuckDB raises on BIGINT overflow instead of wrapping); signed
  // Long min-comparison is obtained on UBIGINT bits by flipping the sign
  // bit (x XOR 2^63 maps signed order onto unsigned order). Corpus is
  // ASCII (verified), so unicode() == Java charAt and lower() == toLowerCase.
  /** 64-bit wrapping multiply of a UBIGINT sql expression by a constant:
    * 32-bit limb products in HUGEINT, recombined mod 2^64. */
  private def sqlUmul64(a: String, c: BigInt): String = {
    val cl = c & 0xFFFFFFFFL
    val ch = c >> 32
    s"CAST((((($a)::HUGEINT % 4294967296) * $cl" +
      s" + (((($a)::HUGEINT // 4294967296) * $cl" +
      s" + (($a)::HUGEINT % 4294967296) * $ch) % 4294967296) * 4294967296)" +
      s" % 18446744073709551616) AS UBIGINT)"
  }

  /** Text.polyHash replay: h = h*1000003 + char, wrapping at 2^64. */
  private def sqlPolyHash(x: String): String =
    s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |  list_transform(range(length($x)), ci -> CAST(unicode($x[CAST(ci AS INT)+1:CAST(ci AS INT)+1]) AS HUGEINT))),
       |  (acc, c) -> (acc * 1000003 + c) % CAST('18446744073709551616' AS HUGEINT)) AS UBIGINT)""".stripMargin

  /** Dedup.fmix64 replay as chained CTEs over a column named `a`. */
  private def sqlFmixSteps(from: String): String = {
    val c1 = BigInt("ff51afd7ed558ccd", 16)
    val c2 = BigInt("c4ceb9fe1a85ec53", 16)
    s"""f1 AS (SELECT id, i, xor(a, a >> 33) AS a FROM $from),
       |f2 AS (SELECT id, i, ${sqlUmul64("a", c1)} AS a FROM f1),
       |f3 AS (SELECT id, i, xor(a, a >> 33) AS a FROM f2),
       |f4 AS (SELECT id, i, ${sqlUmul64("a", c2)} AS a FROM f3),
       |f5 AS (SELECT id, i, xor(a, a >> 33) AS a FROM f4)""".stripMargin
  }

  /** Shared CTE prefix: shingle → polyHash → fmix64(x ^ param_i) →
    * per-function signed min → signature list → 16 band slices (`bd`). */
  private def minhashBandedCte: String = {
    val params = graft.pipeline.Dedup.hashParams(64, 42L)
    val prvals = params.zipWithIndex
      .map { case (p, i) => s"($i, CAST('${java.lang.Long.toUnsignedString(p)}' AS UBIGINT))" }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id,
       |         trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS n
       |  FROM documents WHERE doc_id < 200),
       |shl AS (SELECT id, unnest(list_distinct(CASE WHEN length(n) <= 5 THEN [n]
       |    ELSE list_transform(range(length(n)-4), i -> n[CAST(i AS INT)+1:CAST(i AS INT)+5]) END)) AS s
       |  FROM d),
       |ph AS (SELECT id, ${sqlPolyHash("s")} AS x FROM shl),
       |pr(i, p) AS (VALUES $prvals),
       |f0 AS (SELECT id, i, xor(x, p) AS a FROM ph CROSS JOIN pr),
       |${sqlFmixSteps("f0")},
       |mn AS (SELECT id, i, min(xor(a, CAST('9223372036854775808' AS UBIGINT))) AS m FROM f5 GROUP BY id, i),
       |sg AS (SELECT id, list(m ORDER BY i) AS sig FROM mn GROUP BY id),
       |bd AS (SELECT id, sig, b, sig[CAST(b AS INT)*4+1 : CAST(b AS INT)*4+4] AS slice
       |       FROM sg CROSS JOIN range(16) r(b))""".stripMargin
  }

  /** Full DuckDB replay of Dedup.minhashCandidates on documents doc_id<200:
    * shingle → polyHash → fmix64(x ^ param_i) → per-function signed min →
    * 16 band slices → bucket self-join → est_jaccard from full signatures.
    * Buckets join on the band SLICE itself where the engine joins on
    * xxhash64(slice) — identical pairs unless xxhash64 collides on two
    * distinct 4-long slices within one band (2^-64 per pair, r12: was
    * 32-bit murmur3 whose birthday bound ~2^16 distinct slices per band
    * undercut the 100 TB claim — ADVICE r11; a collision would surface
    * as extra Spark rows here). */
  private def minhashOracleSql: String =
    s"""$minhashBandedCte,
       |cd AS (SELECT DISTINCT x.id AS id1, y.id AS id2, x.sig AS s1, y.sig AS s2
       |       FROM bd x JOIN bd y ON x.b = y.b AND x.slice = y.slice AND x.id < y.id)
       |SELECT id1, id2,
       |  CAST(len(list_filter(range(64), i -> s1[CAST(i AS INT)+1] = s2[CAST(i AS INT)+1])) AS DOUBLE)/64 AS est_jaccard
       |FROM cd ORDER BY id1, id2""".stripMargin

  /** Corpus-level minhash replay: same shingle → polyHash → fmix64 →
    * signed-min pipeline as [[minhashBandedCte]], but the min groups by
    * CORPUS SIDE (doc_id parity) instead of document — the elementwise
    * min of per-doc signatures IS the corpus signature, so the SQL can
    * min straight over the side's distinct shingle set. */
  private def corpusMinhashOracleSql: String = {
    val params = graft.pipeline.Dedup.hashParams(64, 42L)
    val prvals = params.zipWithIndex
      .map { case (p, i) => s"($i, CAST('${java.lang.Long.toUnsignedString(p)}' AS UBIGINT))" }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(doc_id % 2 AS INT) AS side,
       |         trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS n
       |  FROM documents),
       |shl AS (SELECT side, unnest(list_distinct(CASE WHEN length(n) <= 5 THEN [n]
       |    ELSE list_transform(range(length(n)-4), i -> n[CAST(i AS INT)+1:CAST(i AS INT)+5]) END)) AS s
       |  FROM d WHERE n IS NOT NULL),
       |ph AS (SELECT DISTINCT side AS id, ${sqlPolyHash("s")} AS x FROM shl),
       |pr(i, p) AS (VALUES $prvals),
       |f0 AS (SELECT id, i, xor(x, p) AS a FROM ph CROSS JOIN pr),
       |${sqlFmixSteps("f0")},
       |mn AS (SELECT id, i, min(xor(a, CAST('9223372036854775808' AS UBIGINT))) AS m FROM f5 GROUP BY id, i),
       |cnt AS (SELECT
       |    CAST(count(CASE WHEN side = 0 AND n IS NOT NULL THEN 1 END) AS BIGINT) AS n_train,
       |    CAST(count(CASE WHEN side = 1 AND n IS NOT NULL THEN 1 END) AS BIGINT) AS n_eval FROM d),
       |mt AS (SELECT CAST(count(*) AS BIGINT) AS matching_components
       |       FROM mn a JOIN mn b ON a.i = b.i AND a.id = 0 AND b.id = 1 AND a.m = b.m)
       |SELECT n_train, n_eval, matching_components,
       |  CASE WHEN n_train = 0 OR n_eval = 0 THEN NULL
       |       ELSE matching_components / 64.0 END AS est_jaccard
       |FROM cnt CROSS JOIN mt""".stripMargin
  }

  /** Per-source overlap-matrix replay: the corpusMinhashOracleSql recipe
    * grouped by source instead of the %2 split; signed-min via the 2⁶³
    * xor trick; pairs on id < id with the empty-side NULL rule. */
  private def corpusMatrixOracleSql: String = {
    val params = graft.pipeline.Dedup.hashParams(64, 42L)
    val prvals = params.zipWithIndex
      .map { case (p, i) => s"($i, CAST('${java.lang.Long.toUnsignedString(p)}' AS UBIGINT))" }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT source AS id,
       |         trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS n
       |  FROM documents),
       |shl AS (SELECT id, unnest(list_distinct(CASE WHEN length(n) <= 5 THEN [n]
       |    ELSE list_transform(range(length(n)-4), i -> n[CAST(i AS INT)+1:CAST(i AS INT)+5]) END)) AS s
       |  FROM d WHERE n IS NOT NULL),
       |ph AS (SELECT DISTINCT id, ${sqlPolyHash("s")} AS x FROM shl),
       |pr(i, p) AS (VALUES $prvals),
       |f0 AS (SELECT id, i, xor(x, p) AS a FROM ph CROSS JOIN pr),
       |${sqlFmixSteps("f0")},
       |mn AS (SELECT id, i, min(xor(a, CAST('9223372036854775808' AS UBIGINT))) AS m FROM f5 GROUP BY id, i),
       |cnt AS (SELECT id, CAST(count(CASE WHEN n IS NOT NULL THEN 1 END) AS BIGINT) AS nd FROM d GROUP BY id),
       |mt AS (SELECT a.id AS ga, b.id AS gb,
       |    CAST(count(CASE WHEN a.m = b.m THEN 1 END) AS BIGINT) AS mc
       |  FROM mn a JOIN mn b ON a.i = b.i AND a.id < b.id GROUP BY 1, 2)
       |SELECT ca.id AS group_a, cb.id AS group_b, ca.nd AS n_a, cb.nd AS n_b,
       |  coalesce(mt.mc, 0) AS matching_components,
       |  CASE WHEN ca.nd = 0 OR cb.nd = 0 THEN NULL
       |       ELSE coalesce(mt.mc, 0) / 64.0 END AS est_jaccard
       |FROM cnt ca JOIN cnt cb ON ca.id < cb.id
       |LEFT JOIN mt ON mt.ga = ca.id AND mt.gb = cb.id
       |ORDER BY group_a, group_b""".stripMargin
  }

  /** Star-edge replay: per (band, slice) bucket the lexicographically-
    * smallest member is the representative; edges = (rep, member). */
  private def minhashStarOracleSql: String =
    s"""$minhashBandedCte,
       |rp AS (SELECT b, slice, min(id) AS id1 FROM bd GROUP BY b, slice)
       |SELECT DISTINCT rp.id1, bd.id AS id2
       |FROM bd JOIN rp ON bd.b = rp.b AND bd.slice = rp.slice
       |WHERE bd.id <> rp.id1
       |ORDER BY id1, id2""".stripMargin

  /** Winnowing CTE chain (k=3, w=4) over `documents` rows matching
    * `where` — replays Text.winnow exactly: gram hash list (md5-prefix
    * int64, the cross-engine hash), per-position rows, window-frame mins
    * with the short-doc truncated window, and the rightmost-min position
    * via a frame join-back. Exposes `sel` (doc_id, pos, fp — one row per
    * window, pre-dedup) and `fps` (DISTINCT (doc_id, fp)). Shared by the
    * text_winnow oracle and the policy-e2e composition. */
  private[queries] def winnowCtes(where: String): String =
    s"""d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w
           FROM documents $where),
         gl AS (SELECT doc_id,
             list_transform(range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END),
               i -> CAST(('0x' || substr(md5(array_to_string(
                      w[CAST(i AS INT) + 1 : CAST(i AS INT) + 3], ' ')), 1, 15)) AS BIGINT)) AS hs
           FROM d),
         p AS (SELECT doc_id,
             CAST(generate_subscripts(hs, 1) - 1 AS BIGINT) AS pos,
             unnest(hs) AS h FROM gl),
         wm AS (SELECT doc_id, pos AS e, h,
             min(h) OVER win AS winmin,
             max(pos) OVER (PARTITION BY doc_id) AS maxpos
           FROM p
           WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
         sel AS (SELECT wm.doc_id, max(p2.pos) AS pos, wm.winmin AS fp
           FROM wm JOIN p p2 ON p2.doc_id = wm.doc_id
             AND p2.pos BETWEEN wm.e - 3 AND wm.e AND p2.h = wm.winmin
           WHERE wm.e >= 3 OR wm.e = wm.maxpos
           GROUP BY wm.doc_id, wm.e, wm.winmin),
         fps AS (SELECT DISTINCT doc_id, fp FROM sel)"""

  /** Shared image-corpus replay CTEs (through the fixed-point luma-mean
    * grid): procedural pixels -> luma_permille (= 1000·v, grayscale) ->
    * per-pixel cell assignment (x·gw div w) -> exact integer sums ->
    * mean·65536 div count. All int64; GROUP BY sums are of INTEGERS so
    * no order pinning is needed anywhere in the image oracles. */
  private def imageGridCtes(nBase: Int, nCopies: Int, gw: Int, gh: Int): String = {
    // MUST mirror imageCorpus's variant construction (base width 64,
    // upscale factors {1, 2}): the pixel-enumeration ceiling is DERIVED
    // as baseW·max(sc), so growing the plant's scale factors can never
    // silently truncate oracle pixels while the engine decodes full
    // images (advisor r15)
    val baseW = 64
    val scales = Seq(1, 2)
    val maxDim = baseW * scales.max
    s"""ids AS (SELECT doc_id FROM documents WHERE doc_id < $nBase),
       |imgs AS (
       |  SELECT doc_id AS base, doc_id AS img, $baseW AS wid, 1 AS sc, 0 AS db FROM ids
       |  UNION ALL SELECT doc_id, doc_id + 100000, ${baseW * 2}, 2, 0 FROM ids WHERE doc_id < $nCopies
       |  UNION ALL SELECT doc_id, doc_id + 200000, $baseW, 1, 7 FROM ids WHERE doc_id < $nCopies),
       |px AS (SELECT img, wid, base, sc, db, x.range AS x, y.range AS y
       |       FROM imgs, range($maxDim) x, range($maxDim) y
       |       WHERE x.range < wid AND y.range < wid),
       |pv AS (SELECT img, wid, x, y,
       |         1000 * (((((x//sc) * (3 + base % 5) + (y//sc) * (2 + base % 7)
       |           + (((x//sc) * (y//sc) + base) % 23) * 11) % 208) + 24) + db) AS lum
       |       FROM px),
       |grid AS (SELECT img, (y*$gh)//wid AS gy, (x*$gw)//wid AS gx,
       |           CAST((sum(lum)*65536)//count(*) AS BIGINT) AS g
       |         FROM pv GROUP BY 1, 2, 3)""".stripMargin
  }

  /** bits(img, idx, bit) -> 16-bit bands -> pivoted sig -> banded
    * candidate pairs with exact hamming (ids as VARCHAR, string order —
    * the dedup pairing convention). */
  private[queries] def imageBandCtes: String =
    s"""bands AS (SELECT img, idx//16 AS band,
       |            CAST(sum(bit * (1 << (idx % 16))) AS BIGINT) AS bv
       |          FROM bits GROUP BY 1, 2),
       |sig AS (SELECT img,
       |          max(CASE WHEN band = 0 THEN bv END) AS b0,
       |          max(CASE WHEN band = 1 THEN bv END) AS b1,
       |          max(CASE WHEN band = 2 THEN bv END) AS b2,
       |          max(CASE WHEN band = 3 THEN bv END) AS b3
       |        FROM bands GROUP BY 1),
       |cd AS (SELECT CAST(x.img AS VARCHAR) AS id1, CAST(y.img AS VARCHAR) AS id2,
       |         bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
       |         bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming
       |       FROM sig x JOIN sig y
       |       ON (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
       |          AND CAST(x.img AS VARCHAR) < CAST(y.img AS VARCHAR))""".stripMargin

  private def imageDhashOracleSql: String =
    s"""WITH RECURSIVE ${imageGridCtes(120, 40, 9, 8)},
       |bits AS (SELECT a.img, a.gy*8 + a.gx AS idx,
       |           CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
       |         FROM grid a JOIN grid b
       |           ON b.img = a.img AND b.gy = a.gy AND b.gx = a.gx + 1
       |         WHERE a.gx < 8),
       |$imageBandCtes,
       |e AS (SELECT id1, id2 FROM cd WHERE hamming <= 6),
       |ed AS MATERIALIZED (
       |  SELECT id1 AS src, id2 AS dst FROM e
       |  UNION SELECT id2 AS src, id1 AS dst FROM e),
       |allid AS (SELECT CAST(img AS VARCHAR) AS id FROM imgs),
       |reach AS (
       |  SELECT id, id AS node FROM allid
       |  UNION
       |  SELECT r.id, ed.dst AS node FROM reach r JOIN ed ON ed.src = r.node)
       |SELECT id, min(node) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin

  private def imagePhashOracleSql: String = {
    val cosLit = graft.pipeline.Dedup.phashCosTable.mkString("[", ", ", "]")
    s"""WITH ${imageGridCtes(80, 30, 32, 32)},
       |ct AS (SELECT $cosLit AS c),
       |rt AS (SELECT g.img, g.gy, u.range AS u,
       |         CAST(sum(g.g * ct.c[u.range*32 + g.gx + 1]) AS BIGINT)//65536 AS rv
       |       FROM grid g CROSS JOIN range(8) u CROSS JOIN ct
       |       GROUP BY 1, 2, 3),
       |dct AS (SELECT rt.img, rt.u, v.range AS v,
       |          CAST(sum(rt.rv * ct.c[v.range*32 + rt.gy + 1]) AS BIGINT) AS cc
       |        FROM rt CROSS JOIN range(8) v CROSS JOIN ct
       |        GROUP BY 1, 2, 3),
       |med AS (SELECT img, quantile_disc(cc, 0.5) AS m
       |        FROM dct WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
       |bits AS (SELECT dct.img, dct.u*8 + dct.v AS idx,
       |           CASE WHEN dct.cc > med.m THEN 1 ELSE 0 END AS bit
       |         FROM dct JOIN med ON med.img = dct.img),
       |$imageBandCtes
       |SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
       |FROM cd WHERE hamming <= 10 ORDER BY id1, id2""".stripMargin
  }

  /** Full DuckDB replay of Dedup.simhashCandidates on documents doc_id<200:
    * token polyHash → ±1 per bit → sign bit pack → 4 16-bit bands (exact
    * bit-slice buckets, no hash compression anywhere) → hamming ≤ 16. */
  private def simhashOracleSql: String =
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id, lower(text) AS lt
       |  FROM documents WHERE doc_id < 200),
       |tk AS (SELECT id, unnest(string_split_regex(lt, '\\s+')) AS tok FROM d),
       |ph AS (SELECT id, ${sqlPolyHash("tok")} AS x FROM tk),
       |bits AS (SELECT id, b, sum(CASE WHEN (x >> CAST(b AS INT)) & CAST(1 AS UBIGINT) = CAST(1 AS UBIGINT) THEN 1 ELSE -1 END) AS acc
       |         FROM ph CROSS JOIN range(64) r(b) GROUP BY id, b),
       |sg AS (SELECT id, CAST(CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS UBIGINT) << CAST(b AS INT))::HUGEINT ELSE 0 END) AS HUGEINT)
       |         % 18446744073709551616 AS UBIGINT) AS sig
       |       FROM bits GROUP BY id),
       |bd AS (SELECT id, sig, b, (sig >> CAST(b*16 AS INT)) & CAST(65535 AS UBIGINT) AS bucket
       |       FROM sg CROSS JOIN range(4) r(b)),
       |cd AS (SELECT DISTINCT x.id AS id1, y.id AS id2, x.sig AS s1, y.sig AS s2
       |       FROM bd x JOIN bd y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id)
       |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
       |FROM cd WHERE bit_count(xor(s1, s2)) <= 16 ORDER BY id1, id2""".stripMargin
}
