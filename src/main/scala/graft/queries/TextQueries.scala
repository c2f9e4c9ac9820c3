package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Packing, SpaceSaving, Text}
import Tables._
import DedupQueries.winnowCtes

/** Text analysis, tokenizers and sequence packing. */
private[graft] object TextQueries {

  val all: Seq[Q] = Seq(
    Q("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      () => """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents WHERE doc_id < 50 ORDER BY doc_id"""),

    Q("text_char_entropy", (s, dir) =>
      // per-doc character-entropy gibberish signal: exact count algebra,
      // zero shuffle; the Σ c·ln c fold runs over SORTED distinct chars
      // so both engines add identical IEEE terms in identical order
      Text.charEntropy(t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_chars"), col("n_distinct"),
          round(col("entropy_nats"), 6).as("entropy_nats"))
        .orderBy("doc_id"),
      () => """WITH d AS (SELECT doc_id, text FROM documents
             WHERE doc_id < 200 AND text IS NOT NULL),
         ch AS (SELECT doc_id, length(text) AS n,
             list_transform(range(length(text)),
               i -> substr(text, CAST(i AS INT) + 1, 1)) AS cs
           FROM d),
         e AS (SELECT doc_id, n, cs, list_sort(list_distinct(cs)) AS ds FROM ch),
         s AS (SELECT doc_id, n, len(ds) AS n_distinct,
             list_aggregate(list_transform(ds,
               c -> CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                    * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE))),
               'sum') AS t
           FROM e)
         SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           round(CASE WHEN n > 0 THEN ln(CAST(n AS DOUBLE)) - t / n
                      ELSE 0.0 END, 6) AS entropy_nats
         FROM s ORDER BY doc_id"""),

    Q("text_winnow", (s, dir) =>
      // MOSS winnowing (Schleimer et al. 2003): per-window min-hash gram
      // SELECTION (rightmost on ties) — the partial-overlap detector with
      // the w+k-1 shared-run guarantee. Zero shuffle; hash is the
      // cross-engine md5-prefix int64, because selection depends on hash
      // ORDER (an engine-local hash would select different grams). The
      // oracle replays windows via SQL frames + a frame join-back for the
      // rightmost-min position.
      Text.winnow(t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", k = 3, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pos"),
      () => s"""WITH ${winnowCtes("WHERE doc_id < 200")}
         SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos"""),

    Q("text_token_count", (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          Text.wsTokenCount(col("text")).as("ws_tokens"),
          Text.regexTokenCount(col("text")).as("re_tokens"))
        .orderBy("doc_id"),
      () => """SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
         FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    Q("text_quality", (s, dir) =>
      Text.qualityFeatures(t(s, dir, "documents").filter(col("doc_id") < 100), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy("doc_id"),
      () => """WITH f AS (SELECT doc_id, text,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[\.,;:!\?]')) AS punct,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS stop
           FROM documents WHERE doc_id < 100)
         SELECT doc_id, n_words,
           round(CASE WHEN n_words > 0 THEN (n_chars - (n_words - 1)) * 1.0 / n_words END, 6) AS mean_word_len,
           round(CASE WHEN n_chars > 0 THEN punct * 1.0 / n_chars ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN n_words > 0 THEN stop * 1.0 / n_words ELSE 0.0 END, 6) AS stopword_ratio
         FROM f ORDER BY doc_id"""),

    Q("text_lm_perplexity", (s, dir) =>
      // add-1-smoothed unigram LM scoring (the KenLM quality-filter
      // stand-in): vocab = corpus's own top-1000 tokens, OOV pooled into
      // one pseudo-word; two row-scale shuffles, vocab + corpus constants
      // broadcast back onto the token stream, fully lazy frame
      Text.perplexityScore(t(s, dir, "documents"), "text", "doc_id",
          topVocab = 1000, alpha = 1.0)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 6).as("avg_nll"))
        .orderBy("doc_id"),
      () => """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents),
         wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
         top AS (SELECT word, count(*) AS c FROM wf GROUP BY 1
                 ORDER BY c DESC, word ASC LIMIT 1000),
         tot AS (SELECT count(*) AS t FROM wf),
         vs AS (SELECT coalesce(sum(c), 0) AS iv, count(*) AS k FROM top)
         SELECT doc_id, count(*) AS n_tokens,
           round(-sum(ln((CAST(coalesce(top.c, t - iv) AS DOUBLE) + CAST(1.0 AS DOUBLE))
                 / (t + CAST(1.0 AS DOUBLE) * (k + 1)))) / count(*), 6) AS avg_nll
         FROM wf LEFT JOIN top USING (word) CROSS JOIN tot CROSS JOIN vs
         GROUP BY doc_id, t, iv, k ORDER BY doc_id"""),

    Q("text_zipf_fit", (s, dir) => {
      // rank-frequency power law: closed-form OLS of ln(tf) on ln(rank)
      // over the top-500 vocab (Zipf exponent ≈ −slope). The rank window
      // runs on 500 rows AFTER the top-k — bounded by construction; the
      // literal partition key keeps the identical one-partition plan but
      // without WindowExec's "No Partition Defined" WARN, which was the
      // only log line spamming the driver's 2000-char stdout tail capture
      val v = Text.vocab(t(s, dir, "documents"), "text", "doc_id", topK = 500)
        .withColumn("rank",
          row_number().over(Window.partitionBy(lit(0))
            .orderBy(col("tf").desc, col("word").asc)))
      val xy = v.select(log(col("rank").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
      xy.agg(count(lit(1)).as("__n"), sum("x").as("__sx"), sum("y").as("__sy"),
          sum(col("x") * col("x")).as("__sxx"), sum(col("x") * col("y")).as("__sxy"))
        .select(col("__n").as("n_terms"),
          round((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
            / (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6)
            .as("slope"),
          round((col("__sy") - ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
            / (col("__n") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx"))
            / col("__n"), 6).as("intercept"))
    },
      () => """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents),
         v AS (SELECT word, count(*) AS tf FROM w WHERE word <> ''
               GROUP BY 1 ORDER BY tf DESC, word LIMIT 500),
         r AS (SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, word)
                   AS DOUBLE)) AS x,
                 ln(CAST(tf AS DOUBLE)) AS y FROM v),
         s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy FROM r)
         SELECT n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
         FROM s"""),

    Q("text_readability", (s, dir) =>
      // Flesch-Kincaid grade: three integer regex counts + closed-form
      // arithmetic, zero shuffle, exact replay in any engine
      Text.readability(t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", "doc_id")
        .withColumn("fk_grade", round(col("fk_grade"), 4))
        .orderBy("doc_id"),
      () => """WITH c AS (SELECT doc_id,
             len(regexp_extract_all(lower(trim(text)), '[a-z0-9'']+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
           FROM documents WHERE doc_id < 100)
         SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(n_sentences AS INT) AS n_sentences,
           CAST(n_syllables AS INT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             round(CAST(0.39 AS DOUBLE) * n_words / n_sentences
               + CAST(11.8 AS DOUBLE) * n_syllables / n_words
               - CAST(15.59 AS DOUBLE), 4) END AS fk_grade
         FROM c ORDER BY doc_id"""),

    Q("text_bigram_lm", (s, dir) =>
      // interpolated bigram LM (λ·p₂ + (1−λ)·p₁): bigrams from a
      // zero-shuffle array zip; top-K bigram/unigram tables + corpus
      // constants broadcast; fully lazy
      Text.bigramPerplexity(t(s, dir, "documents"), "text", "doc_id",
          topBigrams = 2000, topVocab = 1000, alpha = 1.0, lambda = 0.7)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 6).as("avg_nll"))
        .orderBy("doc_id"),
      () => """WITH a AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS arr
           FROM documents),
         bg AS (SELECT doc_id, unnest(arr[1:len(arr)-1]) AS w1,
                  unnest(arr[2:len(arr)]) AS w2 FROM a),
         bt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
                ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 2000),
         cx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         btc AS (SELECT bt.w1, bt.w2, bt.c12, cx.c1 FROM bt JOIN cx USING (w1)),
         wf AS (SELECT doc_id, unnest(arr) AS word FROM a),
         top AS (SELECT word, count(*) AS cu FROM wf GROUP BY 1
                 ORDER BY cu DESC, word ASC LIMIT 1000),
         tot AS (SELECT count(*) AS t FROM wf),
         vs AS (SELECT coalesce(sum(cu), 0) AS iv, count(*) AS k FROM top)
         SELECT bg.doc_id, count(*) AS n_bigrams,
           round(-sum(ln(
               CAST(0.7 AS DOUBLE)
                 * coalesce(CAST(btc.c12 AS DOUBLE) / btc.c1, CAST(0 AS DOUBLE))
             + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                 * ((CAST(coalesce(top.cu, t - iv) AS DOUBLE) + CAST(1.0 AS DOUBLE))
                    / (t + CAST(1.0 AS DOUBLE) * (k + 1)))
           )) / count(*), 6) AS avg_nll
         FROM bg LEFT JOIN btc ON bg.w1 = btc.w1 AND bg.w2 = btc.w2
         LEFT JOIN top ON bg.w2 = top.word
         CROSS JOIN tot CROSS JOIN vs
         GROUP BY bg.doc_id, t, iv, k ORDER BY bg.doc_id"""),

    Q("text_langid", (s, dir) =>
      Text.langId(t(s, dir, "documents").filter(col("doc_id") < 100), "text")
        .select(col("doc_id"), col("pred_lang"))
        .orderBy("doc_id"),
      () => """WITH toks AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS tk
                       FROM documents WHERE doc_id < 100),
         s AS (SELECT doc_id,
             len(list_filter(tk, x -> x IN ('the','and','of','to','is','with'))) AS s_en,
             len(list_filter(tk, x -> x IN ('el','la','de','que','los','una'))) AS s_es,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ist','nicht'))) AS s_de,
             len(list_filter(tk, x -> x IN ('le','la','les','des','est','une'))) AS s_fr,
             len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
               + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
               + len(regexp_extract_all(text, '有')) + len(regexp_extract_all(text, '我')) AS s_zh
           FROM toks),
         m AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS mx FROM s)
         SELECT doc_id,
           CASE WHEN mx = 0 THEN 'und'
                WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
                WHEN s_de = mx THEN 'de' WHEN s_fr = mx THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM m ORDER BY doc_id"""),

    Q("text_html_extract", (s, dir) => {
      // web-crawl front door: wrap each doc in deterministic HTML (tags,
      // a style block, a script, entities) and extract the text back —
      // the oracle replays the identical backreference-free regex chain
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body><h1>"),
        col("source"), lit("</h1><!-- crawl artifact --><p>"), col("text"),
        lit(" &amp; more&nbsp;soon</p><script>var x=1;</script></body></html>"))
      d.select(col("doc_id"), Text.htmlExtract(html).as("clean_text"))
        .orderBy("doc_id")
    },
      // the SAME backreference-free regex chain Text.htmlExtract emits,
      // with DuckDB's explicit 'g' flag (Spark replaces globally by default)
      () => """SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       concat('<html><head><style>p{color:red}</style></head><body><h1>', source,
                              '</h1><!-- crawl artifact --><p>', text,
                              ' &amp; more&nbsp;soon</p><script>var x=1;</script></body></html>'),
                       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean_text
         FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    Q("text_url_extract", (s, dir) => {
      // URL harvesting: docs get two deterministic embedded URLs (mixed
      // case, utm variants, fragments, a quoted one with a port); the
      // extractor is a single generator projection and host aggregation
      // is one map-side-combined shuffle. Oracle replays the RE2-safe
      // regex verbatim.
      Text.extractUrls(urlBody(s, dir), "body")
        .groupBy(Text.urlHost(col("url")).as("host"))
        .agg(count(lit(1)).as("n_urls"))
        .orderBy("host")
    },
      () => s"""WITH $urlBodyCtes
         SELECT lower(regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)) AS host,
           count(*) AS n_urls
         FROM u GROUP BY 1 ORDER BY 1"""),

    Q("text_heavy_hitters_sketch", (s, dir) =>
      // one-pass Space-Saving sketch in its EXACT regime (capacity >=
      // the slice's vocabulary -> estimates are true counts, err 0):
      // hash-proves the offer/merge/treeReduce machinery end-to-end;
      // the approximate regime's bounds are property-tested
      SpaceSaving.approxHeavyHitters(
          t(s, dir, "documents").filter(col("doc_id") < 100), "text",
          capacity = 20000)
        .filter(col("estimate") >= 5)
        .orderBy(col("estimate").desc, col("word").asc),
      // exact-regime sketch replay: plain word counts (err 0 by contract
      // when capacity exceeds the vocabulary)
      () => """WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> length(x) > 0)) AS word
           FROM documents WHERE doc_id < 100),
         c AS (SELECT word, CAST(count(*) AS BIGINT) AS estimate FROM w GROUP BY 1)
         SELECT word, estimate, CAST(0 AS BIGINT) AS err, estimate AS guaranteed
         FROM c WHERE estimate >= 5 ORDER BY estimate DESC, word ASC"""),

    Q("text_hh_guaranteed", (s, dir) => {
      // the sketch BEYOND the exact regime (r13 VERDICT #5): capacity 512
      // << the ~950-type unigram+bigram stream, so counters genuinely
      // differ under partitioning — but the guaranteed (estimate − err)
      // verdict at φ = 1/100 is partitioning-invariant on this corpus
      // (unigrams ≥ ~840 tokens vs bigrams ≤ ~48 vs φN ≈ 538, a gap far
      // wider than the ≤ N/512 ≈ 105 err bound); oracle = TRUE counts
      import s.implicits._
      val w = t(s, dir, "documents")
        .select(filter(split(lower(trim(col("text"))), "\\s+"),
          x => length(x) > 0).as("w"))
      val uni = w.select(explode(col("w")).as("g"))
      val bi = w.select(explode(when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', slice(w, i + 1, 2)))"))
        .otherwise(array().cast("array<string>"))).as("g"))
      SpaceSaving.guaranteedHeavyHitters(uni.union(bi).as[String],
        capacity = 512, phiNum = 1L, phiDen = 100L)
    },
      // TRUE-count replay of the guarantee contract: in the gap regime the
      // sketch's (estimate − err) ≥ N/100 verdict equals tf · 100 >= N on
      // true counts — the engine side never sees these counts (capacity 512
      // << vocab), so a green row proves the lower-bound report is both
      // sound and complete here
      () => """WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> length(x) > 0) AS w
           FROM documents),
         bi0 AS (SELECT list_transform(range(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END),
             i -> array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 2], ' ')) AS gs
           FROM d),
         s AS (SELECT unnest(w) AS g FROM d
               UNION ALL SELECT unnest(gs) AS g FROM bi0),
         c AS (SELECT g, count(*) AS tf FROM s GROUP BY 1),
         t AS (SELECT sum(tf) AS n FROM c)
         SELECT c.g AS word, CAST(t.n AS BIGINT) AS n_total
         FROM c, t WHERE c.tf * 100 >= t.n ORDER BY word"""),

    Q("text_novelty_curve", (s, dir) =>
      // corpus-growth signal: per doc (in id order), the share of its
      // distinct word 3-grams never seen in any earlier document — the
      // diminishing-returns curve of a crawl (first-occurrence = min id,
      // one 8-byte-hash aggregation; house fingerprint contract)
      Text.noveltyCurve(t(s, dir, "documents"), "text", "doc_id", n = 3)
        .select(col("id").as("doc_id"), col("n_ngrams").cast("long"),
          col("n_novel"), round(col("novelty"), 6).as("novelty"))
        .orderBy("doc_id"),
      // first-occurrence attribution by gram STRING (engine: 8-byte
      // fingerprint); empty/short docs survive via the LEFT JOIN
      () => """WITH d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         gl AS (SELECT doc_id,
             list_distinct(list_transform(range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END),
               i -> array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 3], ' '))) AS gs
           FROM d),
         e AS (SELECT doc_id, unnest(gs) AS g FROM gl),
         f AS (SELECT g, min(doc_id) AS fid FROM e GROUP BY g),
         nov AS (SELECT e.doc_id, count(*) AS n_ngrams,
             sum(CASE WHEN f.fid = e.doc_id THEN 1 ELSE 0 END) AS n_novel
           FROM e JOIN f USING (g) GROUP BY 1)
         SELECT gl.doc_id, CAST(coalesce(nov.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
           round(CASE WHEN coalesce(nov.n_ngrams, 0) > 0
             THEN CAST(nov.n_novel AS DOUBLE) / nov.n_ngrams ELSE 0.0 END, 6) AS novelty
         FROM gl LEFT JOIN nov USING (doc_id) ORDER BY doc_id"""),

    Q("text_novelty_daily", (s, dir) =>
      // the crawl-health TIME series (r13 VERDICT #4): novelty per crawl
      // DAY — docs dated via the events timestamps (event_id as the crawl
      // record key, first fetch wins), gram first-occurrence by min day.
      // "distinct grams" = distinct 64-bit HASHES vs the oracle's gram
      // STRINGS — the documented Text.gramHashSets collision convention
      Text.noveltyDaily(t(s, dir, "documents"), "text", "doc_id",
          t(s, dir, "events"), "event_id", "ts", n = 3)
        .select(col("day"), col("n_docs"), col("n_grams"), col("n_novel"),
          round(col("novelty"), 6).as("novelty"))
        .orderBy("day"),
      // same raw-string gram replay as text_novelty_curve, re-keyed to crawl
      // DAYS: doc day = strftime of its first event ts (UTC both engines),
      // gram first-occurrence = min day over the per-day DISTINCT gram sets
      () => """WITH dy AS (SELECT event_id AS doc_id, strftime(min(ts), '%Y-%m-%d') AS day
           FROM events GROUP BY 1),
         d AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         gl AS (SELECT doc_id,
             list_distinct(list_transform(range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END),
               i -> array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + 3], ' '))) AS gs
           FROM d),
         dd AS (SELECT gl.doc_id, dy.day, gl.gs FROM gl JOIN dy USING (doc_id)),
         e AS (SELECT DISTINCT day, g FROM (SELECT day, unnest(gs) AS g FROM dd)),
         f AS (SELECT g, min(day) AS fd FROM e GROUP BY g),
         ds AS (SELECT e.day, count(*) AS n_grams,
             sum(CASE WHEN f.fd = e.day THEN 1 ELSE 0 END) AS n_novel
           FROM e JOIN f USING (g) GROUP BY 1),
         nd AS (SELECT day, count(*) AS n_docs FROM dd GROUP BY 1)
         SELECT nd.day, CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(ds.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(ds.n_novel, 0) AS BIGINT) AS n_novel,
           round(CASE WHEN coalesce(ds.n_grams, 0) > 0
             THEN CAST(ds.n_novel AS DOUBLE) / ds.n_grams ELSE 0.0 END, 6) AS novelty
         FROM nd LEFT JOIN ds USING (day) ORDER BY day"""),

    Q("text_oov_curve", (s, dir) =>
      // tokenizer-budget tradeoff: corpus token coverage of the top-k
      // vocabulary at candidate budgets; coverage = one exact-int64
      // division; top-k is a TakeOrdered, never a vocab-scale window
      Text.oovCurve(t(s, dir, "documents"), "text",
          sizes = Seq(100, 500, 1000, 5000))
        .select(col("vocab_size").cast("long").as("vocab_size"),
          col("covered_tokens"), col("total_tokens"),
          round(col("coverage"), 6).as("coverage"))
        .orderBy("vocab_size"),
      // top-k coverage replay: rank by (tf desc, word asc), cumulative tf
      // at each budget via the rank-bounded join; exact-int64 division
      () => """WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> length(x) > 0)) AS word FROM documents),
         c AS (SELECT word, count(*) AS tf FROM w GROUP BY 1),
         r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, word ASC) AS rk FROM c),
         tot AS (SELECT sum(tf) AS total FROM c),
         s(k) AS (VALUES (100), (500), (1000), (5000)),
         cov AS (SELECT s.k, coalesce(sum(r.tf), 0) AS covered
           FROM s LEFT JOIN r ON r.rk <= s.k GROUP BY 1)
         SELECT CAST(k AS BIGINT) AS vocab_size,
           CAST(covered AS BIGINT) AS covered_tokens,
           CAST(tot.total AS BIGINT) AS total_tokens,
           round(CAST(covered AS DOUBLE) / tot.total, 6) AS coverage
         FROM cov, tot ORDER BY vocab_size"""),

    Q("text_langid_eval", (s, dir) => {
      // language-ID accuracy audit against the corpus lang column — the
      // text twin of ann_label_audit: per-language doc counts and
      // heuristic-agreement rate, same langid kernel, one extra join +
      // agg. On this synthetic corpus the non-en rows are English-ish
      // text carrying arbitrary lang tags, so ~0 accuracy there is the
      // CORRECT audit verdict (mislabeled data is what an audit flags);
      // both engines agree exactly
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      Text.langId(d, "text")
        .select(col("doc_id"), col("pred_lang"))
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n"), 6))
        .orderBy("lang")
    },
      () => """WITH toks AS (SELECT doc_id, text, lang, string_split_regex(lower(trim(text)), '\s+') AS tk
                       FROM documents WHERE doc_id < 100),
         s AS (SELECT doc_id, lang,
             len(list_filter(tk, x -> x IN ('the','and','of','to','is','with'))) AS s_en,
             len(list_filter(tk, x -> x IN ('el','la','de','que','los','una'))) AS s_es,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ist','nicht'))) AS s_de,
             len(list_filter(tk, x -> x IN ('le','la','les','des','est','une'))) AS s_fr,
             len(regexp_extract_all(text, '的')) + len(regexp_extract_all(text, '是'))
               + len(regexp_extract_all(text, '了')) + len(regexp_extract_all(text, '在'))
               + len(regexp_extract_all(text, '有')) + len(regexp_extract_all(text, '我')) AS s_zh
           FROM toks),
         m AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS mx FROM s),
         p AS (SELECT doc_id, lang,
           CASE WHEN mx = 0 THEN 'und'
                WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
                WHEN s_de = mx THEN 'de' WHEN s_fr = mx THEN 'fr'
                ELSE 'zh' END AS pred_lang
           FROM m)
         SELECT lang, count(*) AS n,
           CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS accuracy
         FROM p GROUP BY 1 ORDER BY 1"""),

    Q("text_gopher_quality", (s, dir) =>
      Text.gopherQualityFlags(t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", minWords = 25)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("alpha_word_ratio"), 6).as("alpha_word_ratio"),
          round(col("bullet_line_ratio"), 6).as("bullet_line_ratio"),
          round(col("ellipsis_line_ratio"), 6).as("ellipsis_line_ratio"),
          col("n_req_stopwords"), col("gopher_keep"))
        .orderBy("doc_id"),
      () => """WITH base AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), w -> len(w) > 0) AS words,
             list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
           FROM documents WHERE doc_id < 100),
         sig AS (
           SELECT doc_id,
             CAST(len(words) AS INT) AS n_words,
             CASE WHEN len(words) > 0 THEN CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE) / len(words) ELSE 0.0 END AS mean_word_len,
             CASE WHEN len(words) > 0 THEN CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(words) ELSE 0.0 END AS symbol_word_ratio,
             CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words) ELSE 0.0 END AS alpha_word_ratio,
             CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS bullet_line_ratio,
             CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE) / len(lines) ELSE 0.0 END AS ellipsis_line_ratio,
             CAST(CAST(list_contains(list_transform(words, w -> lower(w)), 'the') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'be') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'to') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'of') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'and') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'that') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'have') AS INT)
               + CAST(list_contains(list_transform(words, w -> lower(w)), 'with') AS INT) AS INT) AS n_req_stopwords
           FROM base)
         SELECT doc_id, n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(symbol_word_ratio, 6) AS symbol_word_ratio,
           round(alpha_word_ratio, 6) AS alpha_word_ratio,
           round(bullet_line_ratio, 6) AS bullet_line_ratio,
           round(ellipsis_line_ratio, 6) AS ellipsis_line_ratio,
           n_req_stopwords,
           (n_words BETWEEN 25 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_word_ratio < 0.1 AND alpha_word_ratio >= 0.8
             AND bullet_line_ratio <= 0.9 AND ellipsis_line_ratio <= 0.3
             AND n_req_stopwords >= 2) AS gopher_keep
         FROM sig ORDER BY doc_id"""),

    Q("text_pii_redact", (s, dir) =>
      Text.redactPii(t(s, dir, "documents").filter(col("doc_id") < 100), "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("redacted").cast("binary")).as("redacted_md5"))
        .orderBy("doc_id"),
      () => """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(text, '\+?\d[\d()\- ]{7,}\d')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d()\- ]{7,}\d', '<PHONE>', 'g')) AS redacted_md5
         FROM documents WHERE doc_id < 100 ORDER BY doc_id"""),

    Q("text_repetition", (s, dir) =>
      Text.repetitionSignals(t(s, dir, "documents").filter(col("doc_id") < 100), "text")
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("dup_para_frac"), 6).as("dup_para_frac"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac"))
        .orderBy("doc_id"),
      () => """WITH base AS (
           SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines,
             list_filter(string_split_regex(text, '\n{2,}'), p -> len(trim(p)) > 0) AS paras,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS words
           FROM documents WHERE doc_id < 100),
         bg AS (
           SELECT doc_id, lines, paras,
             list_filter(list_transform(words, (w, i) ->
               CASE WHEN i < len(words) THEN w || ' ' || list_extract(words, i + 1) END),
               x -> x IS NOT NULL) AS bigrams
           FROM base),
         lstats AS (
           SELECT doc_id,
             sum(CASE WHEN c > 1 THEN c * le ELSE 0 END) AS dup_chars,
             sum(c * le) AS all_chars
           FROM (SELECT doc_id, l, count(*) AS c, min(length(l)) AS le
                 FROM (SELECT doc_id, unnest(lines) AS l FROM bg)
                 GROUP BY doc_id, l)
           GROUP BY doc_id),
         bstats AS (
           SELECT doc_id, max(c) AS top, sum(c) AS nb
           FROM (SELECT doc_id, b, count(*) AS c
                 FROM (SELECT doc_id, unnest(bigrams) AS b FROM bg)
                 GROUP BY doc_id, b)
           GROUP BY doc_id)
         SELECT g.doc_id,
           round(CASE WHEN len(g.lines) > 0 THEN 1.0 - CAST(len(list_distinct(g.lines)) AS DOUBLE) / len(g.lines) ELSE 0.0 END, 6) AS dup_line_frac,
           round(CASE WHEN coalesce(l.all_chars, 0) > 0 THEN CAST(l.dup_chars AS DOUBLE) / l.all_chars ELSE 0.0 END, 6) AS dup_line_char_frac,
           round(CASE WHEN len(g.paras) > 0 THEN 1.0 - CAST(len(list_distinct(g.paras)) AS DOUBLE) / len(g.paras) ELSE 0.0 END, 6) AS dup_para_frac,
           round(CASE WHEN coalesce(b.nb, 0) > 0 THEN CAST(b.top AS DOUBLE) / b.nb ELSE 0.0 END, 6) AS top_bigram_frac
         FROM bg g LEFT JOIN lstats l USING (doc_id) LEFT JOIN bstats b USING (doc_id)
         ORDER BY g.doc_id"""),

    Q("text_quality_score", (s, dir) =>
      // linear classifier inference as a zero-shuffle projection; the
      // oracle replays the identical sigmoid arithmetic
      Text.classifierScore(t(s, dir, "documents").filter(col("doc_id") < 200), "text",
          weights = Map("stopword_ratio" -> 4.0, "punct_ratio" -> 2.0,
            "mean_word_len" -> 0.1, "n_words" -> 0.001),
          bias = -1.0)
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
        .orderBy("doc_id"),
      () => """WITH f AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_words,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[\.,;:!\?]')) AS punct,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS stop
           FROM documents WHERE doc_id < 200),
         g AS (SELECT doc_id,
             CASE WHEN n_words > 0
               THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words END AS mean_word_len,
             n_words,
             CASE WHEN n_chars > 0
               THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_words > 0
               THEN CAST(stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio
           FROM f)
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-(((((CAST(-1.0 AS DOUBLE)
             + mean_word_len * CAST(0.1 AS DOUBLE))
             + n_words * CAST(0.001 AS DOUBLE))
             + punct_ratio * CAST(2.0 AS DOUBLE))
             + stopword_ratio * CAST(4.0 AS DOUBLE))))), 6) AS quality_score
         FROM g ORDER BY doc_id"""),

    Q("pack_chunked", (s, dir) =>
      Packing.packChunked(t(s, dir, "documents"), col("n_chars"), maxTokens = 4096,
          groupCol = "lang", orderCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("start_offset"),
          col("chunk_first"), col("chunk_last"))
        .orderBy("doc_id"),
      // start_offset MUST be cast back to BIGINT: DuckDB's sum(BIGINT) is
      // HUGEINT, which lands in pandas as float64 and hash-mismatches the
      // Spark LongType column even though every value is identical
      // (CORRECTNESS_r05: rows+schema matched, hash didn't)
      () => """WITH o AS (SELECT doc_id, lang, n_chars,
             CAST(coalesce(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
           FROM documents)
         SELECT doc_id, lang, start_offset,
           CAST(floor(start_offset / 4096.0) AS BIGINT) AS chunk_first,
           CASE WHEN n_chars > 0
             THEN CAST(floor((start_offset + n_chars - 1) / 4096.0) AS BIGINT)
             ELSE CAST(floor(start_offset / 4096.0) AS BIGINT) END AS chunk_last
         FROM o ORDER BY doc_id"""),

    Q("pack_firstfit", (s, dir) =>
      // greedy no-split bin packing is sequential per group (one linear
      // mapPartitions pass) but still deterministic — the oracle replays
      // the exact (bin_id, fill) recurrence with a DuckDB recursive CTE
      // advancing every group one row per iteration; PackingSpec
      // additionally verifies against a brute-force sequential reference
      Packing.packFirstFit(t(s, dir, "documents"), "n_chars", maxTokens = 4096,
          groupCol = "lang", orderCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("bin_id"))
        .orderBy("doc_id"),
      // exact replay of Packing.packFirstFit's sequential (bin_id, fill)
      // recurrence: the recursive CTE advances EVERY group by one row per
      // iteration (rn joins rn+1), so depth = max rows per group, width =
      // #groups — the same O(group-size) work as the engine's linear pass
      () => """WITH RECURSIVE d AS (
           SELECT doc_id, lang, CAST(coalesce(n_chars, 0) AS BIGINT) AS n,
                  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT doc_id, lang, rn, n, CAST(0 AS BIGINT) AS bin_id, n AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.doc_id, d.lang, d.rn, d.n,
             CASE WHEN p.fill > 0 AND p.fill + d.n > 4096
                  THEN p.bin_id + CAST(1 AS BIGINT) ELSE p.bin_id END,
             CASE WHEN p.fill > 0 AND p.fill + d.n > 4096
                  THEN d.n ELSE p.fill + d.n END
           FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
         SELECT doc_id, lang, bin_id FROM p ORDER BY doc_id"""),

    Q("text_chunk_windows", (s, dir) =>
      // context-window prep: overlapping 64-word chunks every 48 words;
      // chunk text compared by md5 so the result stays small
      Text.chunkDocs(t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", "doc_id", chunkWords = 64, strideWords = 48)
        .withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
        .select(col("doc_id"), col("chunk_id"), col("chunk_words"), col("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
      () => """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
             FROM documents WHERE doc_id < 100),
         n AS (SELECT doc_id, ws,
             GREATEST(1, CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT) + 1) AS nc FROM w)
         SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(len(ws[i*48+1 : i*48+64]) AS BIGINT) AS chunk_words,
           md5(array_to_string(ws[i*48+1 : i*48+64], ' ')) AS chunk_md5
         FROM n, generate_series(0, 10000) t(i) WHERE i < nc
         ORDER BY doc_id, chunk_id"""),

    Q("text_good_turing", (s, dir) =>
      // crawl-coverage report: counts-of-counts, Turing unseen mass
      // n1/N, smoothed r* — every number a division of exact int64s
      Text.goodTuring(t(s, dir, "documents"), "text", maxR = 10)
        .select(col("r"), col("n_r"), round(col("r_star"), 6).as("r_star"),
          round(col("p_unseen"), 6).as("p_unseen"))
        .orderBy("r"),
      () => """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             FROM documents),
         wc AS (SELECT word, CAST(count(*) AS BIGINT) AS r FROM w
                WHERE word <> '' GROUP BY 1),
         coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM wc GROUP BY 1),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE r = 1) AS BIGINT) AS n1 FROM wc)
         SELECT coc.r, coc.n_r,
           round((coc.r + 1) * CAST(nx.n_r AS DOUBLE) / coc.n_r, 6) AS r_star,
           round(CAST(n1 AS DOUBLE) / n, 6) AS p_unseen
         FROM coc LEFT JOIN coc nx ON nx.r = coc.r + 1 CROSS JOIN tot
         WHERE coc.r <= 10 ORDER BY coc.r"""),

    Q("text_ccnet_buckets", (s, dir) =>
      // CCNet-style quality triage: head/middle/tail thirds by per-doc
      // LM NLL; per-doc scores round to 6dp BEFORE the tercile edges and
      // the bucketing, so the split replays bitwise
      Text.perplexityBuckets(t(s, dir, "documents"), "text", "doc_id",
          topVocab = 1000, alpha = 1.0)
        .select(col("bucket"), col("n_docs"),
          round(col("mean_nll"), 6).as("mean_nll"), col("n_tokens"))
        .orderBy("bucket"),
      () => {
      val e1 = (1.0 / 3).toString
      val e2 = (2.0 / 3).toString
      s"""WITH w AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
           FROM documents),
         wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
         top AS (SELECT word, count(*) AS c FROM wf GROUP BY 1
                 ORDER BY c DESC, word ASC LIMIT 1000),
         tot AS (SELECT count(*) AS t FROM wf),
         vs AS (SELECT coalesce(sum(c), 0) AS iv, count(*) AS k FROM top),
         docs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-sum(ln((CAST(coalesce(top.c, t - iv) AS DOUBLE) + 1.0)
                   / (t + 1.0 * (k + 1)))) / count(*), 6) AS nll6
           FROM wf LEFT JOIN top USING (word) CROSS JOIN tot CROSS JOIN vs
           GROUP BY doc_id, t, iv, k),
         q AS (SELECT quantile_cont(nll6, [$e1, $e2]) AS qs FROM docs),
         b AS (SELECT CASE WHEN nll6 <= qs[1] THEN 'head'
                  WHEN nll6 <= qs[2] THEN 'middle' ELSE 'tail' END AS bucket,
               nll6, n_tokens FROM docs, q)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(nll6), 6) AS mean_nll,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM b GROUP BY 1 ORDER BY 1"""
    }),

    Q("text_js_divergence", (s, dir) => {
      // crawl-snapshot comparison: JS divergence between the even- and
      // odd-doc_id halves' unigram distributions — symmetric, bounded,
      // eps-free (absent-side terms are 0 by the 0*ln(0) convention)
      val docs = t(s, dir, "documents")
      Text.jsDivergence(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0), "text")
        .select(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"),
          col("vocab_shared"), round(col("js_nats"), 6).as("js_nats"),
          round(col("js_norm"), 6).as("js_norm"))
    },
      () => """WITH wa AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             FROM documents WHERE doc_id % 2 = 0),
         wb AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             FROM documents WHERE doc_id % 2 <> 0),
         ca AS (SELECT word, CAST(count(*) AS BIGINT) AS na FROM wa WHERE word <> '' GROUP BY 1),
         cb AS (SELECT word, CAST(count(*) AS BIGINT) AS nb FROM wb WHERE word <> '' GROUP BY 1),
         j AS (SELECT word, CAST(coalesce(na, 0) AS BIGINT) AS na,
             CAST(coalesce(nb, 0) AS BIGINT) AS nb
           FROM ca FULL OUTER JOIN cb USING (word)),
         t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb,
             CAST(count(*) FILTER (WHERE na > 0) AS BIGINT) AS vocab_a,
             CAST(count(*) FILTER (WHERE nb > 0) AS BIGINT) AS vocab_b,
             CAST(count(*) FILTER (WHERE na > 0 AND nb > 0) AS BIGINT) AS vocab_shared
           FROM j),
         c AS (SELECT
             (CASE WHEN na > 0 THEN (CAST(na AS DOUBLE) / ta)
                 * ln((CAST(na AS DOUBLE) / ta)
                   / ((CAST(na AS DOUBLE) / ta + CAST(nb AS DOUBLE) / tb) / 2.0))
               ELSE 0.0 END) * 0.5 +
             (CASE WHEN nb > 0 THEN (CAST(nb AS DOUBLE) / tb)
                 * ln((CAST(nb AS DOUBLE) / tb)
                   / ((CAST(na AS DOUBLE) / ta + CAST(nb AS DOUBLE) / tb) / 2.0))
               ELSE 0.0 END) * 0.5 AS contrib
           FROM j, t)
         SELECT ta AS n_a, tb AS n_b, vocab_a, vocab_b, vocab_shared,
           round(sum(contrib), 6) AS js_nats,
           round(sum(contrib) / ln(2.0), 6) AS js_norm
         FROM c, t GROUP BY 1, 2, 3, 4, 5"""),

    Q("text_vocab_topk", (s, dir) =>
      Text.vocab(t(s, dir, "documents"), "text", "doc_id", topK = 100)
        .select(col("word"), col("tf"), col("df"))
        .orderBy(col("tf").desc, col("word").asc),
      () => """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents)
         SELECT word, CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         FROM w WHERE word <> ''
         GROUP BY 1 ORDER BY tf DESC, word LIMIT 100"""),

    Q("text_heavy_hitters", (s, dir) =>
      // exact >=phi*N frequent words WITHOUT shuffling the tail
      // vocabulary (lossy-counting candidates + exact verify pass)
      Text.heavyHitters(t(s, dir, "documents"), "text", phi = 0.002),
      // plain GROUP BY + HAVING: the lossy-counting candidate pass is a
      // guaranteed superset, so the engine's two-pass answer is EXACT
      () => """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
                    FROM documents),
         ww AS (SELECT word FROM w WHERE word <> ''),
         n AS (SELECT count(*) AS total FROM ww)
         SELECT word, CAST(count(*) AS BIGINT) AS tf
         FROM ww GROUP BY 1
         HAVING count(*) >= (SELECT ceil(0.002 * total) FROM n)
         ORDER BY tf DESC, word"""),

    Q("text_bpe_train", (s, dir) =>
      // tokenizer training at corpus scale: the corpus is scanned ONCE
      // (word counts); 8 merge rounds then run on the vocab-sized table
      Text.bpeTrain(t(s, dir, "documents"), "text", numMerges = 8)
        .orderBy("step"),
      () => {
      // chained-CTE replay of 8 BPE rounds (the Lloyd-iteration pattern):
      // p_i = weighted adjacent-pair counts, b_i = argmax with the
      // (count DESC, pair ASC) tie break, w_i = canonical greedy
      // left-to-right merge via a list_reduce fold whose state string is
      // "<merged>\x02<pending>" — byte-identical to the engine's
      // functions.aggregate fold, including the `a a a a` -> `aa aa` run
      // semantics a regexp replace cannot express
      val n = 8
      val sel = (1 to n).map(i =>
        s"SELECT CAST($i AS INT) AS step, a AS lhs, b AS rhs, a || b AS merged, c AS pair_count FROM b$i")
        .mkString(" UNION ALL ")
      s"""WITH ${bpeTrainCtes(n)}
         SELECT * FROM ($sel) ORDER BY step"""
    }, dualPath = true),

    Q("text_bpe_fertility", (s, dir) =>
      // per-language tokenizer fertility: ONE shared tokenizer trained
      // on the whole corpus, BPE tokens per word + chars per token per
      // lang — the vocab-budget reallocation signal. Trained on the FULL
      // table (matching the oracle's training CTEs); null-lang groups
      // drop at the rollup
      Text.bpeFertility(t(s, dir, "documents"), "text", "doc_id", "lang",
          numMerges = 8)
        .filter(col("lang").isNotNull)
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_bpe_tokens"),
          round(col("fertility"), 6).as("fertility"),
          round(col("chars_per_token"), 6).as("chars_per_token"))
        .orderBy("lang"),
      () => {
      // the same 8 trained rounds applied to EVERY document, rolled up
      // per language over the per-doc word/char/token sums
      val n = 8
      s"""WITH ${bpeTrainCtes(n)},
         dwords AS (SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS word
           FROM documents),
         dw0 AS (SELECT doc_id, word, array_to_string(list_transform(range(length(word)),
                  k -> substr(word, CAST(k AS INT) + 1, 1)), ' ') AS sym
                 FROM dwords WHERE length(word) > 0 AND NOT contains(word, chr(2))),
         ${bpeApplyChainSql(n)},
         perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(length(word)) AS BIGINT) AS n_chars,
             CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_bpe
           FROM dw$n GROUP BY 1)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_words) AS BIGINT) AS n_words,
           CAST(sum(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(p.n_bpe) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE), 6) AS fertility,
           round(CAST(sum(p.n_chars) AS DOUBLE) / CAST(sum(p.n_bpe) AS DOUBLE), 6) AS chars_per_token
         FROM perdoc p JOIN documents d USING (doc_id)
         WHERE d.lang IS NOT NULL
         GROUP BY 1 ORDER BY 1"""
    }, dualPath = true),

    Q("text_bpe_apply", (s, dir) => {
      // train on the FULL corpus, tokenize a slice with the learned
      // merges (the merge table is O(#merges) driver metadata; the
      // application itself is a zero-shuffle per-row fold chain)
      val d = t(s, dir, "documents")
      val merges = Text.bpeTrain(d, "text", numMerges = 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Text.bpeApply(d.filter(col("doc_id") < 40), "text", "doc_id", merges)
        .orderBy("doc_id")
    },
      () => {
      // the same 8 trained rounds, then the per-document words of the
      // doc_id < 40 slice are folded through b1..b8 in learned order
      val n = 8
      val apply = bpeApplyChainSql(n)
      s"""WITH ${bpeTrainCtes(n)},
         dwords AS (SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS word
           FROM documents WHERE doc_id < 40),
         dw0 AS (SELECT doc_id, word, array_to_string(list_transform(range(length(word)),
                  k -> substr(word, CAST(k AS INT) + 1, 1)), ' ') AS sym
                 FROM dwords WHERE length(word) > 0 AND NOT contains(word, chr(2))),
         $apply
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_bpe_tokens
         FROM dw$n GROUP BY 1 ORDER BY 1"""
    }, dualPath = true),

    Q("text_unigram_apply", (s, dir) => {
      // unigram-LM tokenizer (SentencePiece family, Kudo 2018) with the
      // DETERMINISTIC integer hard-EM: seed substrings -> 2 Viterbi
      // E-steps with count-as-score M-steps -> prune -> apply. Trained on
      // the FULL corpus (one scan to word counts, vocab-local EM); the
      // oracle replays seeding, BOTH EM rounds, the prune, and the final
      // segmentation as unrolled integer DP chains in SQL. Output sliced
      // to doc_id < 300 (row-bounded); training is unsliced.
      val d = t(s, dir, "documents")
      val pieces = Text.unigramTrain(d, "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      Text.unigramApply(d, "text", "doc_id", pieces)
        .filter(col("doc_id") < 300)
        .orderBy("doc_id")
    },
      () => {
      // full unigram-LM training replay (seed -> EM x2 -> prune) + the
      // final Viterbi apply, all as unrolled integer DP chains; words
      // over 18 chars or with separator bytes char-fallback via the
      // LEFT JOIN coalesce
      s"""WITH $unigramTrainCtes
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * length(word)) AS BIGINT) AS n_chars,
           CAST(sum(c * coalesce(w.tok, length(word))) AS BIGINT)
             AS n_unigram_tokens
         FROM udwc LEFT JOIN wtok w USING (word)
         WHERE doc_id < 300
         GROUP BY 1 ORDER BY 1"""
    }),

    Q("text_tokenizer_fertility_ab", (s, dir) =>
      // the tokenizer-family A/B (VERDICT r14 #5): BPE and unigram-LM
      // trained on the SAME corpus, applied everywhere, per-language
      // fertility side by side — the vocab-budget question
      // text_bpe_fertility half-answers, now answered across families.
      // Both trainings run on the full table (matching both oracle
      // chains); null-lang groups drop at the rollup.
      Text.tokenizerFertilityAb(t(s, dir, "documents"), "text", "doc_id",
          "lang", numMerges = 8)
        .filter(col("lang").isNotNull)
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_bpe_tokens"), col("n_unigram_tokens"),
          round(col("bpe_fertility"), 6).as("bpe_fertility"),
          round(col("unigram_fertility"), 6).as("unigram_fertility"))
        .orderBy("lang"),
      () => {
      // BOTH tokenizer-family training replays on the same corpus: the
      // 8-round BPE chain and the unigram seed/EM/prune/apply chain,
      // joined per language
      val n = 8
      s"""WITH ${bpeTrainCtes(n)},
         dwords AS (SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS word
           FROM documents),
         dw0 AS (SELECT doc_id, word, array_to_string(list_transform(range(length(word)),
                  k -> substr(word, CAST(k AS INT) + 1, 1)), ' ') AS sym
                 FROM dwords WHERE length(word) > 0 AND NOT contains(word, chr(2))),
         ${bpeApplyChainSql(n)},
         perbpe AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_bpe
           FROM dw$n GROUP BY 1),
         $unigramTrainCtes,
         peruni AS (SELECT doc_id,
             CAST(sum(c * coalesce(w.tok, length(word))) AS BIGINT) AS n_uni
           FROM udwc LEFT JOIN wtok w USING (word) GROUP BY 1)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_words) AS BIGINT) AS n_words,
           CAST(sum(b.n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(u.n_uni) AS BIGINT) AS n_unigram_tokens,
           round(CAST(sum(b.n_bpe) AS DOUBLE) / CAST(sum(b.n_words) AS DOUBLE), 6)
             AS bpe_fertility,
           round(CAST(sum(u.n_uni) AS DOUBLE) / CAST(sum(b.n_words) AS DOUBLE), 6)
             AS unigram_fertility
         FROM perbpe b JOIN peruni u USING (doc_id)
         JOIN documents d USING (doc_id)
         WHERE d.lang IS NOT NULL
         GROUP BY 1 ORDER BY 1"""
    }, dualPath = true),

    Q("text_tfidf_topk", (s, dir) =>
      Text.tfidfTopK(t(s, dir, "documents"), "text", "doc_id",
          topK = 3, minDf = 2L)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), col("rank"))
        .orderBy("doc_id", "rank"),
      () => """WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf
                 GROUP BY 1 HAVING count(*) >= 2),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0) AS tfidf
           FROM tf JOIN dfq USING (term), n),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS INT) AS rank FROM sc)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tfidf, 6) AS tfidf, rank
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""),

    Q("text_collocations", (s, dir) =>
      // multi-word-expression mining: top adjacent pairs by PMI
      Text.collocations(t(s, dir, "documents"), "text", minCount = 5L, topK = 50)
        .orderBy(col("pmi").desc, col("w1"), col("w2")),
      () => """WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
             x -> len(x) > 0) AS ws FROM documents),
         b AS (SELECT ws[i] AS w1, ws[i+1] AS w2
           FROM d, generate_series(1, 10000) t(i) WHERE i < len(ws)),
         u AS (SELECT unnest(ws) AS w FROM d),
         bc AS (SELECT w1, w2, count(*) AS n_xy FROM b GROUP BY 1, 2),
         uc AS (SELECT w, count(*) AS n FROM u GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM b) AS nb, (SELECT count(*) FROM u) AS nw)
         SELECT w1, w2, n_xy, x.n AS n_x, y.n AS n_y,
           round(ln((CAST(n_xy AS DOUBLE) / nb) /
             ((CAST(x.n AS DOUBLE) / nw) * (CAST(y.n AS DOUBLE) / nw))), 6) AS pmi
         FROM bc JOIN uc x ON bc.w1 = x.w JOIN uc y ON bc.w2 = y.w CROSS JOIN tot
         WHERE n_xy >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 50"""),

    Q("text_corpus_report", (s, dir) =>
      // corpus health dashboard: size stats at every (lang, source) rollup
      // explicit NULLS FIRST on both sides: Spark ASC defaults nulls-first,
      // DuckDB nulls-last — the cube's rollup rows are disambiguated by the
      // g_* grouping flags, but a REAL null lang/source value would
      // otherwise break row-order parity (ADVICE r5)
      Text.corpusReport(t(s, dir, "documents"), Seq("lang", "source"), "n_chars")
        .orderBy(col("g_lang"), col("g_source"),
          col("lang").asc_nulls_first, col("source").asc_nulls_first),
      () => """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_size,
           avg(n_chars) AS avg_size,
           CAST(min(n_chars) AS BIGINT) AS min_size,
           CAST(max(n_chars) AS BIGINT) AS max_size,
           CAST(GROUPING(lang) AS INT) AS g_lang,
           CAST(GROUPING(source) AS INT) AS g_source
         FROM documents GROUP BY CUBE(lang, source)
         ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST"""),

    Q("text_bm25_topk", (s, dir) =>
      // keyword retrieval over the corpus: top-20 docs for a 3-term query
      Text.bm25Rank(t(s, dir, "documents"), "text", "doc_id",
          terms = Seq("hash", "join", "vector"), topK = 20)
        .withColumn("bm25", round(col("bm25"), 6)),
      // BM25 replay: every constant CAST to DOUBLE (bare DuckDB literals are
      // DECIMAL), term contributions added in the same order as the Spark
      // expression, ORDER BY the raw score (round only in the projection)
      () => """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
           FROM documents),
         d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
             sum(CASE WHEN word = 'hash' THEN 1 ELSE 0 END) AS tf0,
             sum(CASE WHEN word = 'join' THEN 1 ELSE 0 END) AS tf1,
             sum(CASE WHEN word = 'vector' THEN 1 ELSE 0 END) AS tf2
           FROM w WHERE word <> '' GROUP BY 1),
         s AS (SELECT count(*) AS n, avg(dl) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
           FROM d),
         sc AS (SELECT doc_id, dl,
             ln(CAST(1.0 AS DOUBLE) + (n - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)))
               * (CAST(tf0 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (CAST(tf0 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
             + ln(CAST(1.0 AS DOUBLE) + (n - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)))
               * (CAST(tf1 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (CAST(tf1 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
             + ln(CAST(1.0 AS DOUBLE) + (n - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)))
               * (CAST(tf2 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (CAST(tf2 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
             AS score
           FROM d, s WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0)
         SELECT doc_id, round(score, 6) AS bm25, dl AS doc_len
         FROM sc ORDER BY score DESC, doc_id LIMIT 20"""))

  /** The canonical greedy left-to-right BPE merge as a DuckDB
    * `list_reduce` fold — state string "<merged>\x02<pending>",
    * byte-identical to `Text.bpeApplyMerge`'s `functions.aggregate` fold.
    * `best` is a 1-row CTE exposing the merge pair as columns a, b. */
  private def bpeFoldSql(best: String, symCol: String): String =
    s"""list_reduce(list_prepend(chr(2), string_split($symCol, ' ')),
       (acc, x) -> CASE WHEN split_part(acc, chr(2), 2) = $best.a AND x = $best.b
           THEN split_part(acc, chr(2), 1) || ' ' || $best.a || $best.b || chr(2)
           ELSE (CASE WHEN split_part(acc, chr(2), 2) = '' THEN split_part(acc, chr(2), 1)
                 ELSE split_part(acc, chr(2), 1) || ' ' || split_part(acc, chr(2), 2) END) || chr(2) || x END)"""

  /** Per-document BPE apply chain: dw1..dwn fold dw0's (doc_id, word,
    * char-split sym) through the trained b1..bn merges in learned order —
    * shared by the text_bpe_apply and text_bpe_fertility oracles. */
  private def bpeApplyChainSql(n: Int): String =
    (1 to n).map { i =>
      s"""dw$i AS (SELECT doc_id, word,
             ltrim(CASE WHEN split_part(f, chr(2), 2) = '' THEN split_part(f, chr(2), 1)
                  ELSE split_part(f, chr(2), 1) || ' ' || split_part(f, chr(2), 2) END) AS sym FROM (
             SELECT doc_id, word, ${bpeFoldSql(s"b$i", "sym")} AS f
             FROM dw${i - 1}, b$i))"""
    }.mkString(",\n         ")

  /** CTE chain replaying `n` BPE training rounds on the documents table:
    * wd = corpus word counts, w0 = char-split symbol strings, then per
    * round p_i (weighted adjacent-pair counts), b_i (argmax with the
    * (count DESC, pair ASC) tie break), w_i (the fold applied). */
  private def bpeTrainCtes(n: Int): String = {
    val steps = (1 to n).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
         SELECT unnest(list_transform(range(len(string_split(sym, ' ')) - 1),
           k -> string_split(sym, ' ')[CAST(k AS INT) + 1] || ' ' || string_split(sym, ' ')[CAST(k AS INT) + 2])) AS pair, cnt
         FROM $prev) GROUP BY 1),
       b$i AS (SELECT pair, c, split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
               FROM p$i ORDER BY c DESC, pair ASC LIMIT 1),
       w$i AS (SELECT ltrim(CASE WHEN split_part(f, chr(2), 2) = '' THEN split_part(f, chr(2), 1)
                    ELSE split_part(f, chr(2), 1) || ' ' || split_part(f, chr(2), 2) END) AS sym, cnt FROM (
           SELECT cnt, ${bpeFoldSql(s"b$i", "sym")} AS f
           FROM $prev, b$i))"""
    }.mkString(",\n         ")
    s"""wr AS (SELECT trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
                    FROM documents),
       wd AS (SELECT word, count(*) AS cnt
              FROM (SELECT unnest(string_split(t, ' ')) AS word FROM wr)
              WHERE length(word) > 0 AND NOT contains(word, chr(2)) GROUP BY 1),
       w0 AS (SELECT array_to_string(list_transform(range(length(word)),
                k -> substr(word, CAST(k AS INT) + 1, 1)), ' ') AS sym, cnt FROM wd),
       $steps"""
  }

  /** One unigram Viterbi segmentation pass as an unrolled integer DP
    * chain: d{tag}_0..d{tag}_18 (best state per word per position under
    * the (np ASC, sc DESC, path ASC) total order — Text.uniBetter
    * verbatim) + seg{tag} (the final state of every word). Pieces up to
    * length 3; words up to length 18 (the Text.unigramTrain caps). */
  private def unigramDpSql(tag: String, vocab: String): String = {
    val M = 18
    val steps = (1 to M).map { i =>
      val cands = (1 to math.min(3, i)).map { j =>
        s"""SELECT d.word, d.cnt, d.np + 1 AS np, d.sc + v.cnt AS sc,
           CASE WHEN d.path = '' THEN v.piece
                ELSE d.path || chr(1) || v.piece END AS path
           FROM (SELECT word, cnt, np, sc, path,
                   substr(word, ${i - j + 1}, $j) AS pc
                 FROM d${tag}_${i - j} WHERE length(word) >= $i) d
           JOIN $vocab v ON v.piece = d.pc"""
      }.mkString("\n         UNION ALL\n         ")
      s"""d${tag}_$i AS MATERIALIZED (SELECT word, cnt, np, sc, path FROM (
         SELECT *, row_number() OVER (
           PARTITION BY word ORDER BY np, sc DESC, path) AS rn
         FROM ($cands)) WHERE rn = 1)"""
    }.mkString(",\n       ")
    val collect = (1 to M).map(i =>
      s"SELECT word, cnt, np, sc, path FROM d${tag}_$i WHERE length(word) = $i")
      .mkString("\n         UNION ALL\n         ")
    s"""d${tag}_0 AS MATERIALIZED (SELECT word, cnt, 0 AS np, CAST(0 AS BIGINT) AS sc,
         '' AS path FROM uwd),
       $steps,
       seg$tag AS ($collect)"""
  }

  /** Full Text.unigramTrain replay (defaults: seedMulti 60, 2 EM rounds,
    * vocabSize 80, pieces <= 3 chars, words <= 18 chars): normalized word
    * counts -> occurrence-counted substring seeds (+ all single chars) ->
    * E1/M1 -> E2/M2 (zero-usage multigrams drop, chars persist) -> prune
    * (top-80 multigrams + chars) -> final apply segmentation `segf`.
    * Exposes `wtok` (word -> token count) and `udwc` (per-doc word
    * counts, NO length cap — excluded words char-fallback via the LEFT
    * JOIN coalesce, exactly Text.unigramApply). */
  private def unigramTrainCtes: String = {
    def usage(seg: String) =
      s"""(SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         SELECT unnest(string_split(path, chr(1))) AS piece, cnt FROM $seg)
         GROUP BY 1)"""
    def nextVocab(prevV: String, uc: String) =
      s"""MATERIALIZED (SELECT c.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
         FROM (SELECT piece FROM $prevV WHERE length(piece) = 1) c
         LEFT JOIN $uc u USING (piece)
         UNION ALL
         SELECT piece, cnt FROM $uc WHERE length(piece) > 1)"""
    s"""uwr AS (SELECT doc_id,
           trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
         FROM documents),
       uaw AS (SELECT doc_id, unnest(string_split(t, ' ')) AS word FROM uwr),
       uwd AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM uaw
               WHERE length(word) > 0 AND length(word) <= 18
                 AND NOT contains(word, chr(1)) AND NOT contains(word, chr(2))
               GROUP BY 1),
       subs AS (SELECT substr(word, s.range + 1, l.range + 2) AS piece, cnt
                FROM uwd, range(18) s, range(2) l
                WHERE s.range + l.range + 2 <= length(word)),
       seedm AS (SELECT piece, cnt FROM (
                 SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
                 FROM subs GROUP BY 1)
                 ORDER BY cnt DESC, piece ASC LIMIT 60),
       seedc AS (SELECT substr(word, s.range + 1, 1) AS piece,
                   CAST(sum(cnt) AS BIGINT) AS cnt
                 FROM uwd, range(18) s WHERE s.range < length(word)
                 GROUP BY 1),
       v1 AS MATERIALIZED (SELECT piece, cnt FROM seedc
              UNION ALL SELECT piece, cnt FROM seedm),
       ${unigramDpSql("e1", "v1")},
       uc1 AS ${usage("sege1")},
       v2 AS ${nextVocab("v1", "uc1")},
       ${unigramDpSql("e2", "v2")},
       uc2 AS ${usage("sege2")},
       v3 AS ${nextVocab("v2", "uc2")},
       vf AS MATERIALIZED (SELECT piece, cnt FROM v3 WHERE length(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt FROM v3 WHERE length(piece) > 1
                ORDER BY cnt DESC, piece ASC LIMIT 80)),
       ${unigramDpSql("f", "vf")},
       wtok AS MATERIALIZED (SELECT word, CAST(np AS BIGINT) AS tok FROM segf),
       udwc AS MATERIALIZED (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
                FROM uaw WHERE length(word) > 0 GROUP BY 1, 2)"""
  }
}
