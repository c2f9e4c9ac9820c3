package graft
package queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sampling, Similarity, Text}
import Tables._

/** Deterministic sampling, splits and mixtures. */
private[graft] object SampleQueries {

  val all: Seq[Q] = Seq(
    Q("sample_kcenter", (s, dir) => {
      // greedy farthest-point diversity pick: 5 rounds, min-id seed,
      // distances rounded to the shared decimal grid before each argmax
      Similarity.kCenter(t(s, dir, "embeddings"), k = 5)
        .orderBy("round")
    },
      () => kCenterOracleSql(5)),

    Q("sample_cluster_balanced", (s, dir) => {
      // cluster-then-curate composition: nearest-centroid bucketing over
      // the deterministic seeds, then exactly-k-per-cluster deterministic
      // sampling (WindowGroupLimit) — balanced topic coverage
      val e = t(s, dir, "embeddings")
      val assigned = Similarity.assignToCenters(e, Similarity.kmeansInit(e, k = 8))
      Sampling.stratifiedSample(assigned, Seq("cluster_id"), k = 10,
          key = col("vec_id"))
        .select(col("cluster_id"), col("vec_id"))
        .orderBy("cluster_id", "vec_id")
    },
      () => """WITH init AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  CAST(embedding AS DOUBLE[]) AS c
           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
         a AS (
           SELECT e.vec_id,
             (SELECT i.cid FROM init i
                ORDER BY (SELECT sum((CAST(e.embedding AS DOUBLE[])[r2.range+1] - i.c[r2.range+1])^2) FROM range(64) r2), i.cid
                LIMIT 1) AS cid
           FROM embeddings e),
         r AS (SELECT cid, vec_id,
             row_number() OVER (PARTITION BY cid
               ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15),
                        CAST(vec_id AS VARCHAR)) AS rn
           FROM a)
         SELECT CAST(cid AS INT) AS cluster_id, vec_id
         FROM r WHERE rn <= 10 ORDER BY cluster_id, vec_id"""),

    Q("sample_weighted", (s, dir) => {
      // Efraimidis–Spirakis weighted-without-replacement: exactly 20 docs
      // per lang, longer docs favored proportionally to n_chars
      val d = t(s, dir, "documents")
      Sampling.weightedSample(d, col("n_chars"), col("doc_id"), k = 20,
          strataCols = Seq("lang"))
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "doc_id")
    },
      () => """WITH s AS (SELECT lang, doc_id, n_chars,
             pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                   / 4503599627370496.0,
                 1.0 / CAST(n_chars AS DOUBLE)) AS es
           FROM documents),
         r AS (SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY es DESC, CAST(doc_id AS VARCHAR) ASC) AS rn FROM s)
         SELECT lang, doc_id, n_chars FROM r WHERE rn <= 20
         ORDER BY lang, doc_id"""),

    Q("sample_hash", (s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), col("doc_id"), fraction = 0.25)
        .select(col("doc_id")).orderBy("doc_id"),
      () => s"""SELECT doc_id FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) < '${Sampling.hexThreshold(0.25)}'
         ORDER BY doc_id"""),

    Q("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), Seq("lang"), k = 20,
          key = col("doc_id"))
        .select(col("lang"), col("doc_id")).orderBy("lang", "doc_id"),
      () => """WITH r AS (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), CAST(doc_id AS VARCHAR)) AS rn
           FROM documents)
         SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id"""),

    Q("sample_domain_mix", (s, dir) =>
      Sampling.domainMix(t(s, dir, "documents"), "source",
          targets = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          key = col("doc_id"), exact = true)
        .select(col("doc_id"), col("source")).orderBy("doc_id"),
      // mixture quotas replayed in DOUBLE arithmetic to match the JVM exactly
      () => """WITH t(domain, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
         c AS (SELECT source AS domain, count(*) AS n FROM documents GROUP BY 1),
         p AS (SELECT t.domain, CAST(t.w AS DOUBLE) AS w, CAST(c.n AS DOUBLE) AS n
               FROM t JOIN c USING (domain) WHERE t.w > 0 AND c.n > 0),
         f AS (SELECT min(n / w) AS bigt FROM p),
         q AS (SELECT domain,
                 least(CAST(n AS BIGINT),
                   CAST(floor(w * (SELECT bigt FROM f) + 1e-9) AS BIGINT)) AS quota
               FROM p),
         r AS (SELECT d.doc_id, d.source,
                 row_number() OVER (PARTITION BY d.source
                   ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15),
                            CAST(d.doc_id AS VARCHAR)) AS rn
               FROM documents d JOIN q ON d.source = q.domain)
         SELECT doc_id, source FROM r JOIN q ON r.source = q.domain
         WHERE rn <= quota ORDER BY doc_id"""),

    Q("sample_split", (s, dir) =>
      // leakage-safe 80/10/10 split keyed on the CONTENT fingerprint so
      // exact dups co-locate; zero-shuffle projection + one count agg
      Sampling.splitAssign(t(s, dir, "documents"),
          Text.fingerprint(col("text")),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("split"),
      // thresholds built with the SAME scanLeft the operator uses: 0.8+0.1
      // in doubles is 0.9000000000000001, and the hex threshold must match
      // that value bit-for-bit, not a literal 0.9
      () => {
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).drop(1)
      val (t1, t2) = (Sampling.hexThreshold(cum(0)), Sampling.hexThreshold(cum(1)))
      s"""WITH f AS (SELECT doc_id,
             substr(md5(md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))), 1, 15) AS b
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN b < '$t1' THEN 'train'
                  WHEN b < '$t2' THEN 'val' ELSE 'test' END AS split
           FROM f)
         SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM s GROUP BY 1 ORDER BY 1"""
    }),

    Q("sample_shard_manifest", (s, dir) =>
      // reproducible-release artifact: deterministic shard membership +
      // order-free int64 content checksums, re-derivable by any reader
      Sampling.shardManifest(t(s, dir, "documents"),
          content = Text.normalized(col("text")), key = col("doc_id"),
          seed = "release1", numShards = 32)
        .orderBy("shard_id"),
      // shard = 52-bit seeded-key prefix mod 32; checksum = exact int64
      // sum of 40-bit fingerprint prefixes (order-free in any engine)
      () => """WITH s AS (SELECT
             CAST(('0x' || substr(md5('release1:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 32 AS shard_id,
             CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))), 1, 10)) AS BIGINT) AS sig
           FROM documents)
         SELECT shard_id, count(*) AS n_docs, CAST(sum(sig) AS BIGINT) AS content_checksum
         FROM s GROUP BY 1 ORDER BY 1"""),

    Q("sample_epoch_mix", (s, dir) => {
      // data-constrained repetition budgeting: a token budget of half the
      // corpus x maxEpochs=4 caps, water-filled across languages; the
      // waterline is ONE division of exact int64s so every double is
      // engine-identical (sig discipline)
      val docs = t(s, dir, "documents")
      val toks = size(split(trim(col("text")), "\\s+")).cast("long")
      val total = docs.agg(sum(toks)).head().getLong(0)
      Sampling.epochMix(docs.filter(col("lang").isNotNull), "lang", toks,
          budget = total / 2, maxEpochs = 4)
        .select(col("domain"), col("n_tokens"), col("cap"),
          round(col("alloc"), 6).as("alloc"), round(col("epochs"), 6).as("epochs"))
        .orderBy("domain")
    },
      () => """WITH d AS (SELECT lang AS domain,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n
           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         p AS (SELECT CAST((SELECT sum(n) FROM d) // 2 AS BIGINT) AS budget),
         o AS (SELECT domain, n, CAST(n * 4 AS BIGINT) AS cap,
             row_number() OVER (ORDER BY n * 4, domain) - 1 AS idx,
             CAST(coalesce(sum(n * 4) OVER (ORDER BY n * 4, domain
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
             count(*) OVER () AS dd,
             CAST(sum(n * 4) OVER () AS BIGINT) AS totcap
           FROM d),
         jl AS (SELECT min(idx) AS j FROM o, p WHERE prefix + (dd - idx) * cap >= budget),
         lv AS (SELECT (budget - o.prefix) / CAST(o.dd - o.idx AS DOUBLE) AS line
                FROM o, jl, p WHERE o.idx = jl.j),
         f AS (SELECT domain, n AS n_tokens, cap,
             CASE WHEN totcap <= budget THEN CAST(cap AS DOUBLE)
                  WHEN idx < jl.j THEN CAST(cap AS DOUBLE) ELSE line END AS alloc
           FROM o, jl, lv, p)
         SELECT domain, n_tokens, cap, round(alloc, 6) AS alloc,
           round(alloc / n_tokens, 6) AS epochs
         FROM f ORDER BY domain"""),

    Q("sample_temperature_mix", (s, dir) =>
      // p_d ∝ sqrt(n_d) tail-flattening mixture; sqrt is IEEE correctly
      // rounded, so the quota algebra replays bitwise in the oracle
      Sampling.temperatureMix(t(s, dir, "documents"), "source",
          tau = 0.5, key = col("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("source"),
      // the domain-mix quota replay with data-derived sqrt(n) weights —
      // scale-invariant quotas, so no normalizer sum enters the floats
      () => """WITH c AS (SELECT source AS domain, count(*) AS n FROM documents GROUP BY 1),
         p AS (SELECT domain, sqrt(CAST(n AS DOUBLE)) AS w, CAST(n AS DOUBLE) AS n
               FROM c WHERE n > 0),
         f AS (SELECT min(n / w) AS bigt FROM p),
         q AS (SELECT domain,
                 least(CAST(n AS BIGINT),
                   CAST(floor(w * (SELECT bigt FROM f) + 1e-9) AS BIGINT)) AS quota
               FROM p),
         r AS (SELECT d.doc_id, d.source,
                 row_number() OVER (PARTITION BY d.source
                   ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15),
                            CAST(d.doc_id AS VARCHAR)) AS rn
               FROM documents d JOIN q ON d.source = q.domain)
         SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM r JOIN q ON r.source = q.domain WHERE rn <= quota
         GROUP BY 1 ORDER BY 1"""),

    Q("sample_dsir", (s, dir) =>
      // domain-targeted data selection: top-20 docs by likelihood ratio
      // vs the src0 target model, exact integer micro-nat aggregation
      Sampling.dsirScores(t(s, dir, "documents"), "text", "doc_id",
          col("source") === "src0")
        .orderBy(col("score_unats").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("n_tokens"), col("score_unats")),
      // same add-1-smoothed unigram likelihood ratio; per-word micro-nat
      // quantization BEFORE the per-doc sum makes the aggregate exact
      // int64 (no float summation-order sensitivity between engines)
      () => s"""WITH $dsirScoreCtes
         SELECT doc_id, n_tokens, score_unats
         FROM sc ORDER BY score_unats DESC, doc_id ASC LIMIT 20"""),

    Q("sample_dsir_resample", (s, dir) =>
      // the full DSIR pipeline: likelihood-ratio scores -> deterministic
      // importance RESAMPLING (A-ES with w = exp(score); stochastic-like
      // but reproducible via key-hash randomness, unlike a hard top-k)
      Sampling.weightedSample(
          Sampling.dsirScores(t(s, dir, "documents"), "text", "doc_id",
            col("source") === "src0"),
          exp(col("score_unats").cast("double") / 1e6), col("doc_id"), k = 25)
        .select(col("doc_id"), col("n_tokens"), col("score_unats"))
        .orderBy("doc_id"),
      // the selection step: Efraimidis–Spirakis with w = exp(score), the
      // same A-ES replay sample_weighted uses (13-hex exact-double u)
      () => s"""WITH $dsirScoreCtes,
         es AS (SELECT doc_id, n_tokens, score_unats,
             pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                   / 4503599627370496.0,
                 1.0 / exp(score_unats / 1000000.0)) AS es
           FROM sc),
         r AS (SELECT doc_id, n_tokens, score_unats,
             row_number() OVER (ORDER BY es DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
           FROM es)
         SELECT doc_id, n_tokens, score_unats FROM r WHERE rn <= 25
         ORDER BY doc_id"""),

    Q("sample_component_split", (s, dir) => {
      // leakage-safe split at NEAR-dup granularity: verified chain pairs ->
      // connected components -> the whole component keys ONE split decision
      // (sample_split's content fingerprint only co-locates exact dups)
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id1"))
        .withColumn("id2", col("id1") + 1)
      val verified = Dedup.ngramJaccard(s, docs, pairs, "text", "doc_id", shingleK = 4)
        .filter(col("jaccard") >= 0.3)
      val comps = Dedup.components(verified)
      Sampling.componentSplit(docs, comps, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_group")).as("n_groups"),
          sum("doc_id").as("id_sum"))
        .orderBy("split")
    },
      () => {
      // run-break chain components (the dedup_components replay, full
      // table) -> representative = numeric-min id -> md5 split thresholds
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).drop(1)
      val (t1, t2) = (Sampling.hexThreshold(cum(0)), Sampling.hexThreshold(cum(1)))
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                    FROM documents),
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
         c AS (SELECT id, min(id) OVER (PARTITION BY grp) AS component FROM r),
         k AS (SELECT doc_id, coalesce(CAST(c.component AS VARCHAR), CAST(doc_id AS VARCHAR)) AS rep
               FROM documents LEFT JOIN c ON c.id = documents.doc_id),
         sp AS (SELECT doc_id, rep,
                 CASE WHEN substr(md5(rep), 1, 15) < '$t1' THEN 'train'
                      WHEN substr(md5(rep), 1, 15) < '$t2' THEN 'val' ELSE 'test' END AS split
                FROM k)
         SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM sp GROUP BY 1 ORDER BY 1"""
    }, dualPath = true),

    Q("sample_contrastive_pairs", (s, dir) => {
      // contrastive training-pair feed: positives from (planted)
      // exact-dup components, negatives by deterministic circular
      // seeded-hash order skipping same-component partners — byte-stable
      // per seed, the release-reproducibility contract
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d0.unionByName(d0.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      val c = docs.select(col("doc_id").cast("string").as("id"),
        Text.fingerprint(col("text")).as("__f"))
      val reps = c.groupBy("__f").agg(min("id").as("component"))
      val comp = c.join(reps, Seq("__f")).select("id", "component")
      Sampling.contrastivePairs(docs, comp, "doc_id", negK = 2, seed = "cp1")
        .orderBy("anchor", "kind", "partner")
    },
      () => """WITH base AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30),
         c AS (SELECT CAST(doc_id AS VARCHAR) AS id,
             md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS f
           FROM base),
         r AS (SELECT f, min(id) AS component FROM c GROUP BY 1),
         w AS (SELECT c.id, r.component FROM c JOIN r USING (f)),
         pos AS (SELECT id AS anchor, component AS partner, 'pos' AS kind
                 FROM w WHERE id <> component),
         h AS (SELECT w.id, w.component,
             row_number() OVER (ORDER BY md5('cp1:' || w.id), w.id) - 1 AS p
           FROM w),
         nn AS (SELECT count(*) AS n FROM c),
         a AS (SELECT p1.anchor, h.p, h.component AS acomp
               FROM (SELECT DISTINCT anchor FROM pos) p1
               JOIN h ON h.id = p1.anchor),
         negs AS (SELECT a.anchor, h2.id AS partner, 'neg' AS kind
                  FROM a CROSS JOIN nn CROSS JOIN range(1, 3) j(j)
                  JOIN h h2 ON h2.p = (a.p + j.j) % nn.n
                  WHERE h2.component <> a.acomp)
         SELECT anchor, partner, kind FROM pos
         UNION ALL SELECT anchor, partner, kind FROM negs
         ORDER BY anchor, kind, partner"""),

    Q("sample_corpus_shuffle", (s, dir) =>
      Sampling.shufflePositions(
          t(s, dir, "documents").select("doc_id", "lang"),
          key = col("doc_id"), seed = "epoch0")
        .select(col("doc_id"), col("lang"), col("shuffle_pos"))
        .orderBy("doc_id"),
      () => """SELECT doc_id, lang,
           CAST(row_number() OVER (
             ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                      CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS shuffle_pos
         FROM documents ORDER BY doc_id"""),

    Q("sample_curriculum", (s, dir) => {
      // curriculum interleave (r13 VERDICT #3): difficulty = token count,
      // 8 exact ntile buckets, position = rank_in_bucket*8 + bucket — all
      // closed-form off ONE range sort's global rank, zero windows; the
      // oracle replays the same arithmetic from row_number()
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0)).cast("double").as("difficulty"))
      Sampling.curriculumOrder(docs, "difficulty", "doc_id", k = 8)
        .select(col("id").as("doc_id"), col("difficulty"), col("bucket"),
          col("rank_in_bucket"), col("position"))
        .orderBy("position")
    },
      // independent replay of the curriculum arithmetic from a row_number()
      // global rank (the engine derives the same rank from a range sort +
      // partition offsets); ntile-of-rank is pure integer math both sides
      () => """WITH d AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
               x -> length(x) > 0)) AS DOUBLE) AS difficulty
           FROM documents),
         r AS (SELECT doc_id, difficulty,
             row_number() OVER (ORDER BY difficulty, doc_id) - 1 AS r,
             count(*) OVER () AS n
           FROM d),
         p AS (SELECT doc_id, difficulty, r, n // 8 AS q, n % 8 AS m FROM r),
         c AS (SELECT doc_id, difficulty,
             CASE WHEN r < m * (q + 1) THEN r // (q + 1)
                  ELSE m + (r - m * (q + 1)) // q END AS bucket,
             CASE WHEN r < m * (q + 1) THEN r % (q + 1)
                  ELSE (r - m * (q + 1)) % q END AS rank_in_bucket
           FROM p)
         SELECT doc_id, difficulty, CAST(bucket AS BIGINT) AS bucket,
           CAST(rank_in_bucket AS BIGINT) AS rank_in_bucket,
           CAST(rank_in_bucket * 8 + bucket AS BIGINT) AS position
         FROM c ORDER BY position"""),

    Q("sample_importance", (s, dir) => {
      // quality-weighted downsampling: longer docs survive with higher p
      val d = t(s, dir, "documents")
      val p = col("n_chars").cast("double") / (col("n_chars") + lit(500))
      Sampling.importanceSample(d, p, key = col("doc_id"))
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")
    },
      () => """SELECT doc_id, n_chars FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
           lower(lpad(hex(least(
             CAST(floor((CAST(n_chars AS DOUBLE) / (n_chars + 500)) * pow(16, 15)) AS BIGINT),
             1152921504606846975)), 15, '0'))
         ORDER BY doc_id"""))

  /** Chained-CTE replay of Similarity.kCenter(k): seed = min id; round
    * j's per-point min distance md_j = least(md_{j-1}, round(sqdist to
    * center_{j-1}, 6)); the next center is the (md DESC, id ASC) argmax
    * excluding already-chosen ids — exactly the engine's
    * round-before-argmax greedy, one CTE pair per round. */
  private def kCenterOracleSql(k: Int): String = {
    require(k >= 1)
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         c1 AS (SELECT id, v, CAST(0.0 AS DOUBLE) AS d FROM e ORDER BY id LIMIT 1)"""
    for (j <- 2 to k) {
      val prevC = s"c${j - 1}"
      val chosen = (1 until j).map(i => s"SELECT id FROM c$i").mkString(" UNION ALL ")
      sb ++= s""",
         dj$j AS (SELECT e.id, e.v,
             round(sum((CAST(e.v[r.range + 1] AS DOUBLE)
                 - CAST(c.v[r.range + 1] AS DOUBLE)) ^ 2), 6) AS dc
           FROM e CROSS JOIN $prevC c CROSS JOIN range(64) r
           GROUP BY e.id, e.v),
         m$j AS (${
        if (j == 2) "SELECT id, v, dc AS md FROM dj2"
        else s"SELECT m${j - 1}.id, m${j - 1}.v, least(m${j - 1}.md, dj$j.dc) AS md " +
          s"FROM m${j - 1} JOIN dj$j USING (id)"
      }),
         c$j AS (SELECT id, v, md AS d FROM m$j
           WHERE id NOT IN ($chosen)
           ORDER BY md DESC, id ASC LIMIT 1)"""
    }
    sb ++= (1 to k).map(j =>
        s"SELECT $j AS round, id AS center_id, d AS dist_sq FROM c$j")
      .mkString("\n         ", "\n         UNION ALL ", "\n         ORDER BY round")
    sb.toString
  }

  /** CTEs replaying `Sampling.dsirScores` on the documents table with
    * target = source 'src0': add-1-smoothed unigram log-likelihood ratio,
    * quantized to integer micro-nats per word BEFORE the per-document sum
    * (exact int64 — no float summation-order sensitivity). Exposes `sc`
    * = (doc_id, n_tokens, score_unats). */
  private def dsirScoreCtes: String =
    """tk AS (SELECT doc_id, source = 'src0' AS tgt,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ')) AS word
           FROM documents),
         tw AS (SELECT * FROM tk WHERE word <> ''),
         c AS (SELECT word, count(*) AS c_all,
                 sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
               FROM tw GROUP BY 1),
         tot AS (SELECT sum(c_all) AS n_raw, sum(c_tgt) AS n_tgt, count(*) AS vocab FROM c),
         lam AS (SELECT word,
                 CAST(round((ln((c_tgt + 1) * 1.0 / (n_tgt + vocab))
                           - ln((c_all + 1) * 1.0 / (n_raw + vocab))) * 1e6) AS BIGINT) AS lam
                 FROM c, tot),
         dc AS (SELECT doc_id, word, count(*) AS cw FROM tw GROUP BY 1, 2),
         sc AS (SELECT dc.doc_id, CAST(sum(cw) AS BIGINT) AS n_tokens,
                  CAST(sum(cw * lam) AS BIGINT) AS score_unats
                FROM dc JOIN lam USING (word) GROUP BY 1)"""
}
