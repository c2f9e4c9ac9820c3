package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 headline bench (VERDICT r6 #8): the 2×-of-baseline mandate is
  * otherwise only exercised at sf0.1, where every table fits in page cache
  * and shuffle volume is trivial. This main synthesizes a true sf1-scale
  * dataset (×10 of sf0.1 → 6M lineitem rows = TPC-H sf1; 50k documents)
  * under /tmp, then times a headline subset at BOTH sf0.1 and sf1 in one
  * JVM so the scaling ratio is self-contained (same methodology: per-query
  * codegen warmup, System.gc between lines, min of two passes, noop sink).
  *
  * Scale-up preserves join semantics: every key column maps k -> k*10+i
  * for copy i (consistent across fact/dim sides); nation/region copy
  * as-is (fixed cardinality at every TPC-H SF, like the real generator).
  * Document text gets a per-copy suffix token, so cross-copy pairs are
  * near-dups (not byte-dups) — the realistic shape of a web-scale corpus
  * with boilerplate variants; the MinHash line is a genuinely heavier
  * per-doc workload than sf0.1's, which the report calls out.
  *
  * Bench-only data: correctness oracles keep reading the driver-generated
  * /root/testdata dirs untouched. */
object BenchSf1 {

  private val outDir = "/tmp/sfx1"
  private val srcDir = "/root/testdata/sf0.1"

  /** The committed real lossy-WebP fixture (see SparkEntry's copy): the
    * full-volume e2e pays the from-scratch VP8 decode per lossy payload. */
  private[tools] lazy val lossyFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/fixtures/lossy_vp8.webp")
    require(in != null, "missing lossy_vp8.webp fixture")
    try in.readAllBytes() finally in.close()
  }

  /** Round-11 second wave, shared with [[BenchSf10]]: decontamination,
    * dedup-aware split, BPE tokenizer, DSIR selection — full-corpus forms
    * where the oracled query slices a fixed id range that would not grow
    * with SF (the split/dsir/bpe_train queries already scan everything). */
  private[tools] def assertProbeKeysGrounded(
      workloads: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val declared = graft.SparkEntry.queries.keySet
    val orphanOk = Set("ann_opq_train_full")
    val ungrounded = workloads.map(_._1).filterNot(k =>
      orphanOk(k) || declared(k) || declared.exists(d => k.startsWith(d + "_")))
    require(ungrounded.isEmpty,
      s"probe keys not grounded in declared query names: $ungrounded")
  }

  /** Does probe key k cover declared query n? Exact name, or the
    * `<name>_<suffix>` full-corpus/forced-path convention — EXCEPT when k
    * is itself a different declared query (dedup_exact_against must not
    * count as covering dedup_exact), and ONLY for the LONGEST declared
    * prefix of k (ann_label_audit_graph_full covers
    * ann_label_audit_graph, NOT ann_label_audit — self-review r15: the
    * shorter name would otherwise silently drop off the board). */
  private def probeCovers(k: String, n: String): Boolean =
    k == n || (k.startsWith(n + "_") && !graft.SparkEntry.queries.contains(k) &&
      !graft.SparkEntry.queries.keysIterator.exists(d =>
        d.length > n.length && k.startsWith(d + "_")))

  /** Probe-board COMPLETENESS (VERDICT r14 #3, the reverse direction of
    * [[assertProbeKeysGrounded]]): every DECLARED query must appear on the
    * scale-probe board — as itself or as a documented `_full`-style
    * variant. Queries without a curated full-corpus form ride as
    * themselves (fixed-slice lines stay flat across decades, which the
    * board then SHOWS instead of leaving unprobed — a missing pair like
    * r14's pipeline_curriculum_e2e can no longer slip). `exclude` lists
    * contract-infeasible lines, each documented at the call site. */
  private[tools] def backfillDeclared(
      curated: Seq[(String, (SparkSession, String) => DataFrame)],
      exclude: Set[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    curated ++ graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        exclude(n) || curated.exists { case (k, _) => probeCovers(k, n) } }

  private[tools] def assertProbesCoverDeclared(
      workloads: Seq[(String, (SparkSession, String) => DataFrame)],
      exclude: Set[String]): Unit = {
    val keys = workloads.map(_._1)
    val missing = graft.SparkEntry.queries.keySet.filterNot(n =>
      exclude(n) || keys.exists(k => probeCovers(k, n)))
    require(missing.isEmpty,
      s"declared queries with no scale probe: ${missing.toSeq.sorted.mkString(", ")}")
  }

  /** The bench documents with 15 per-BASE salt tokens appended. WHY: the
    * synthetic corpus draws every doc from the same 31-word vocabulary, so
    * raw word-SET similarity is ~19%-dense corpus-wide (measured on the
    * oracled slice: 3759 of 19900 pairs >= 0.8) — the TRUE pair graph is
    * quadratic and NO exact method can verify less than it. That is not
    * the regime prefix filtering exists for. The salts give each base
    * doc's copy cluster a large-vocab identity: copies stay near-twins,
    * cross-cluster J drops under 0.5, and the rarest-first prefixes become
    * the df=10/100 salt tokens — bucket = one cluster, the web-corpus
    * shape. 48 salts so the tight bound holds for the SHORTEST docs at
    * every decade: the worst doc has 6 distinct vocab words and sfx10
    * copies carry 2 distinct variant tokens, so within-cluster
    * J = (6+48)/(6+48+4) = 0.931 >= (1+0.8)/2 = 0.9 (at 15 salts the
    * short-doc clusters slipped LOOSE at sfx10 and the star probe
    * measured an artifactual ×13 — the loose fallback doing the pairwise
    * work the tight regime avoids). */
  private[tools] def saltedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val div = math.max(docs.count() / 5000L, 1L) // copies per base at this SF
    docs.select(col("doc_id"), concat(col("text"), lit(" "),
      concat_ws(" ", (0 until 48).map(i =>
        concat(lit(s"salt${i}b"), expr(s"doc_id DIV $div"))): _*)).as("text"))
  }

  /** Round-14 probes, shared by both SF tools: the prefix STAR grouping vs
    * the pairwise join on the SAME salted near-twin corpus (dup-cluster
    * depth grows ×10 per decade, so the pairwise OUTPUT is contract-
    * quadratic — C(10,2)·5000 pairs at sfx1, C(100,2)·5000 at sfx10 —
    * while the star path's components output stays one row per doc), plus
    * three new declared lines that already scan the full corpus. */
  private[tools] def round14Wave: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_prefix_star_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.prefixJaccardStar(saltedDocs(s, dir),
          "text", "doc_id", 0.8)
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))),
    "dedup_prefix_join_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.prefixJaccardJoin(saltedDocs(s, dir),
          "text", "doc_id", 0.8)
        .groupBy().agg(count(lit(1)).as("n_pairs"))),
    "sample_curriculum" -> graft.SparkEntry.queries("sample_curriculum"),
    "text_novelty_daily" -> graft.SparkEntry.queries("text_novelty_daily"),
    "text_hh_guaranteed" -> graft.SparkEntry.queries("text_hh_guaranteed"))

  /** Round-14 second wave (this session's operators): winnowing selection
    * (per-row CPU, zero shuffle — full-corpus form since the oracled
    * query slices doc_id<200), the winnow pair index join (output- and
    * bucket-bound by dup-cluster depth, the minhash-band contract: the
    * ×10 corpus has 10-deep near-twin clusters at sfx1, 100-deep at
    * sfx10, so candidate output grows C(copies,2)·bases — quadratic BY
    * CONTRACT; the maxDocFreq=2·copies form caps boilerplate buckets the
    * MOSS way), char entropy (per-row CPU), the phrase blocklist and
    * policy e2e (full corpus by construction), and SemDeDup with k
    * scaled so mean cluster size stays ~100 (the paper's own scaling —
    * fixed k at growing n is the documented quadratic trap the
    * pre-flight gate refuses). */
  private[tools] def round14SecondWave: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_winnow_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Text.winnow(
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .groupBy().agg(count(lit(1)).as("n_prints"),
          sum(col("fp")).as("chk"))),
    "text_char_entropy_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Text.charEntropy(
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .groupBy().agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chk"),
          sum(round(col("entropy_nats"), 6)).as("hchk"))),
    // full-corpus AGGREGATE form of the declared pairs query (the _full
    // suffix convention — the declared name itself must mean the same
    // workload on every artifact)
    "dedup_winnow_pairs_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.winnowCandidates(
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          minShared = 8)
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          sum(col("shared")).as("chk"))),
    // the declared capped query pins maxDocFreq=3 (bites at the oracle
    // SF); this full-corpus form scales the cap with copy depth — the
    // production setting (~2× expected dup-cluster size)
    "dedup_winnow_pairs_capped_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val copies = math.max(docs.count() / 5000L, 1L).toInt
      graft.pipeline.Dedup.winnowCandidates(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies)
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          sum(col("shared")).as("chk"))
    }),
    "blocklist_phrase" -> graft.SparkEntry.queries("blocklist_phrase"),
    "pipeline_policy_e2e" -> graft.SparkEntry.queries("pipeline_policy_e2e"),
    // both full-corpus by construction: the reliability binning is one
    // O(bins)-key aggregate; fertility is bpeTrain (~3 jobs) + the
    // distinct-word fold chain + two row-scale rollup shuffles
    "describe_calibration" -> graft.SparkEntry.queries("describe_calibration"),
    "text_bpe_fertility" -> graft.SparkEntry.queries("text_bpe_fertility"),
    // full-corpus forms: LOO encoding is one O(#cats) agg broadcast
    // back; contrastive pairs ride the planted-dup query (its position
    // sort and joins scan the whole corpus already)
    // full-corpus star components -> size histogram (O(max size) output)
    "dedup_cluster_histogram_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val comps = graft.pipeline.Dedup.components(
        graft.pipeline.Dedup.minhashStarEdges(s, docs, "text", "doc_id"))
      docs.select(col("doc_id").cast("string").as("id"))
        .join(comps, Seq("id"), "left")
        .select(coalesce(col("component"), col("id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))
    }),
    "dedup_source_report" -> graft.SparkEntry.queries("dedup_source_report"),
    "modify_target_encode_loo_full" -> ((s: SparkSession, dir: String) =>
      graft.modify.Modify.targetEncodeLoo(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_returnflag").as("cat"),
            col("l_quantity").cast("long").as("q")),
        "cat", "q")
        .groupBy().agg(count(lit(1)).as("n"),
          sum(round(col("te_loo"), 6)).as("chk"))),
    "sample_contrastive_pairs" -> graft.SparkEntry.queries("sample_contrastive_pairs"),
    // grouping form over the ×10-copy corpus with the copy-scaled cap:
    // components output stays one row per doc at every decade
    "dedup_winnow_star_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val copies = math.max(docs.count() / 5000L, 1L).toInt
      graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies)
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))
    }),
    "dedup_semdedup_full" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val k = math.max(8L, e.count() / 100L).toInt
      // the ×10 corpus replicates embeddings EXACTLY, so every base
      // vector's copies co-cluster (the operator's own guarantee) and
      // the within-cluster pair bound is genuinely copy²-deep — at sfx10
      // that exceeds the default 100M refusal gate (which is correct
      // behavior, unit-tested); the probe raises the cap to measure the
      // full quadratic-contract pair pass the gate would refuse
      s.conf.set("graft.semdedup.maxPairs", "4000000000")
      try graft.pipeline.Similarity.semDedupClustered(e, k, threshold = 0.95)
        .groupBy().agg(count(lit(1)).as("n_kept"))
      finally s.conf.unset("graft.semdedup.maxPairs")
    }))

  /** Round-15 wave: the two IVF-graph lines whose declared fixed
    * nLists=16 form is list-scan-QUADRATIC on a growing corpus (each of N
    * vectors probes nProbe lists of N/nLists candidates — the first full
    * board backfill measured ×252/×218 at sfx1, ~quadratic as predicted).
    * The production form scales nLists WITH the corpus (~200 vectors per
    * list, the dedup_semdedup_full k-scaling precedent) and trains the
    * quantizer on a bounded sample: per-vector candidate count stays
    * constant → the graph is linear in N. The declared fixed-slice
    * queries keep their oracles; these probes measure the scale-correct
    * configuration. */
  private[tools] def round15Wave: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def scaledGraph(s: SparkSession, dir: String) = {
      // the production helper: nLists = max(16, n/200), bounded train
      // sample — the same call the DECLARED queries make since r16
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val model = graft.pipeline.Similarity.ivfTrainScaled(e, vectorsPerList = 200)
      val assigned = graft.pipeline.Similarity.ivfAssign(model, e).localCheckpoint()
      (e, graft.pipeline.Similarity.knnGraph(model, assigned, k = 3, nProbe = 2))
    }
    Seq(
      "ann_knn_graph_full" -> ((s: SparkSession, dir: String) => {
        val (_, graph) = scaledGraph(s, dir)
        graph.groupBy().agg(count(lit(1)).as("n_edges"),
          sum(col("rank")).as("chk"))
      }),
      "ann_label_audit_graph_full" -> ((s: SparkSession, dir: String) => {
        val (e, graph) = scaledGraph(s, dir)
        graft.pipeline.Similarity.labelAuditFromGraph(graph, e)
          .groupBy().agg(count(lit(1)).as("n_labels"),
            sum(col("n_agree")).as("chk"))
      }),
      // VOLUME form of the image dedup (the declared query's 200-image
      // slice is flat by construction): ONE 64x64 BMP per document —
      // encode + REAL ImageIO decode + grid + hash are the per-image
      // work, all inside one mapPartitions pass (payloads never
      // shuffle; only the O(1)-per-image band rows do). Gradient
      // multipliers keyed mod 101/103 give ~240k distinct patterns, so
      // dup mass stays light at every decade (the realistic corpus
      // shape, not the cluster_histogram 100%-dup construction).
      "dedup_image_dhash_full" -> ((s: SparkSession, dir: String) => {
        import s.implicits._
        val imgs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              (id, graft.pipeline.Multimodal.encodeBmpGray(64, 64, (x, y) =>
                (((x * (3 + id % 101) + y * (2 + id % 103) +
                  ((x.toLong * y + id) % 23) * 11) % 208) + 24).toInt))
            }
          }.toDF("img_id", "payload")
        graft.pipeline.Dedup.imageDedupStar(imgs, "payload", "img_id",
            "dhash", maxDist = 6)
          .groupBy().agg(count(lit(1)).as("n_images"),
            count_distinct(col("component")).as("n_components"))
      }))
  }

  /** Round-16 wave: the multimodal release chain at full corpus volume
    * (the declared query slices 120 docs -> flat across decades).
    * mod-101/103 gradient multipliers give ~240k distinct patterns so dup
    * mass stays realistic per decade; PNG exact-pixel twins for
    * doc_id % 7 == 0 add cross-FORMAT dup work; the REAL libwebp lossy
    * fixture for % 3 == 0 now pays the full from-scratch VP8 decode per
    * payload (r17 — previously a sniff-only header). 16x16 payloads:
    * encode + decodability flag + ImageIO
    * dhash decode are the per-image work, all inside mapPartitions —
    * payloads never shuffle. */
  private[tools] def round16Wave: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pipeline_multimodal_e2e_full" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "text").localCheckpoint()
      val ids = docs.select(col("doc_id").as("base"))
      val variants = ids
        .select(col("base"), col("base").as("img_id"), lit(0).as("k"))
        .unionByName(ids.filter(col("base") % 7 === 0).select(col("base"),
          (col("base") + 100000000L).as("img_id"), lit(1).as("k")))
        .unionByName(ids.filter(col("base") % 3 === 0).select(col("base"),
          (col("base") + 200000000L).as("img_id"), lit(2).as("k")))
      val corpus = variants.as[(Long, Long, Int)].mapPartitions { it =>
        it.map { case (base, img, k) =>
          def pix(x: Int, y: Int): Int =
            (((x * (3 + base % 101) + y * (2 + base % 103) +
              ((x.toLong * y + base) % 23) * 11) % 208) + 24).toInt
          val payload = k match {
            case 0 => graft.pipeline.Multimodal.encodeBmpGray(16, 16, pix)
            case 1 => graft.pipeline.Multimodal.encodePngGray(16, 16, pix)
            case _ => BenchSf1.lossyFixture
          }
          (base, img, payload,
            if (graft.pipeline.Multimodal.imageDecodes(payload)) 1L else 0L)
        }
      }.toDF("base", "img_id", "payload", "dec").localCheckpoint()
      val comp = graft.pipeline.Dedup.imageDedupStar(corpus, "payload",
        "img_id", "dhash", maxDist = 0)
      val att = corpus.select(col("img_id").cast("string").as("id"),
          col("base"), col("dec"))
        .join(comp, Seq("id"))
        .join(docs.select(col("doc_id").as("base"), col("source")), Seq("base"))
      val perImg = att.groupBy("source").agg(
        count(lit(1)).as("n_images"),
        sum(col("dec")).as("n_decoded"),
        sum(when(col("id") =!= col("component"), 1L).otherwise(0L))
          .as("n_dup_merged"),
        count_distinct(col("component")).as("n_groups"))
      val cap = docs.select(col("source"),
          when(size(split(trim(col("text")), "\\s+")) >= 40, 1L)
            .otherwise(0L).as("__p"))
        .groupBy("source").agg(sum(col("__p")).as("n_caption_pass"))
      perImg.join(cap, Seq("source"))
        .groupBy().agg(sum("n_images").as("n_images"),
          sum("n_decoded").as("n_decoded"), sum("n_dup_merged").as("n_dup"),
          sum("n_groups").as("chk_groups"), sum("n_caption_pass").as("n_pass"))
    }),
    // TWO-LEVEL cap measurement (VERDICT r15 #7): same corpus and
    // maxDocFreq as dedup_winnow_star_full, plus maxCandidatesPerDoc=3 —
    // edge set <= 6n at ANY dup-cluster depth where the single-cap form's
    // edge stage grows with depth (x8.1/decade at sf10). Compare this
    // line's time AND n_components against dedup_winnow_star_full on the
    // same board: the probe corpus's copy clusters are uniform, so
    // components should match exactly (the preservation argument).
    "dedup_winnow_star_capped2_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val copies = math.max(docs.count() / 5000L, 1L).toInt
      graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies, maxCandidatesPerDoc = 3)
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))
    }))

  private[tools] def round11SecondWave: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "decon_minhash_lsh_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Decontaminate.lshOverlap(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id")
        .groupBy().agg(count(lit(1)).as("n_flagged"),
          sum("n_bands_matched").as("chk"))
    }),
    "sample_component_split" -> graft.SparkEntry.queries("sample_component_split"),
    "text_bpe_train" -> graft.SparkEntry.queries("text_bpe_train"),
    // r12: the production-depth tokenizer shape — 256 merges must amortize
    // (local exact trainer over the collected vocabulary: ~3 Spark jobs
    // total), not run one pair-count job per merge
    "text_bpe_train_256" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Text.bpeTrain(docs, "text", numMerges = 256)
        .groupBy().agg(count(lit(1)).as("n_merges"),
          sum("pair_count").as("chk"))
    }),
    "text_bpe_apply_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val merges = graft.pipeline.Text.bpeTrain(docs, "text", numMerges = 8)
        .orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.pipeline.Text.bpeApply(docs, "text", "doc_id", merges)
        .groupBy().agg(sum("n_bpe_tokens").as("total_tokens"),
          sum("n_chars").as("total_chars"))
    }),
    "sample_dsir" -> graft.SparkEntry.queries("sample_dsir"),
    // index build (memoized per dir) + pruned ADC scan
    "ann_ivfpq_topk" -> graft.SparkEntry.queries("ann_ivfpq_topk"),
    // statistics wave: KS prefix-sums over 6M lineitem rows; 8-iteration
    // IRLS document-classifier training; sqrt-weighted mixture quotas
    "describe_ks_drift" -> graft.SparkEntry.queries("describe_ks_drift"),
    "analyze_quality_logit" -> graft.SparkEntry.queries("analyze_quality_logit"),
    "sample_temperature_mix" -> graft.SparkEntry.queries("sample_temperature_mix"),
    // composed pipelines: release back door and the drift-monitoring gate
    "pipeline_release_e2e" -> graft.SparkEntry.queries("pipeline_release_e2e"),
    "pipeline_drift_e2e" -> graft.SparkEntry.queries("pipeline_drift_e2e"),
    // full OPQ training loop (eig-allocation init + 2 NP rounds) + the
    // reconstruction-error measurement scan — library surface, no query
    "ann_opq_train_full" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val (r, model) = graft.pipeline.Similarity.opqTrain(
        e, m = 4, k = 16, pqIters = 3, opqIters = 2)
      Seq(graft.pipeline.Similarity.pqReconError(e, r, model)).toDF("opq_err")
    }))

  /** ×10 replication of `src` into `dst` with the join-consistent key
    * scaling above, rebuilt only when a table is missing from `dst`.
    * `fileMul` scales the output file counts; each document copy gets
    * `textSuffix` plus its copy index. */
  private[tools] def scaleUp(spark: SparkSession, tag: String, src: String, dst: String,
                             fileMul: Int, textSuffix: String): Unit = {
    val scaled = Seq(
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32),
      ("orders", Seq("o_orderkey", "o_custkey"), 16),
      ("customer", Seq("c_custkey"), 8),
      ("supplier", Seq("s_suppkey"), 4),
      ("part", Seq("p_partkey"), 4), // consistent with l_partkey scaling
      ("events", Seq("event_id", "user_id"), 16),
      ("documents", Seq("doc_id"), 16),
      ("embeddings", Seq("vec_id"), 4))
    val fixed = Seq("nation", "region")
    if ((scaled.map(_._1) ++ fixed).forall(n => new java.io.File(s"$dst/$n.parquet").isDirectory))
      return
    val t0 = System.nanoTime()
    val copies = explode(lit((0 until 10).toArray)).as("__i")
    scaled.foreach { case (name, keyCols, files) =>
      val rep = spark.read.parquet(s"$src/$name.parquet").select(col("*"), copies)
      val keyed = keyCols.foldLeft(rep) { (d, k) =>
        d.withColumn(k, col(k) * 10 + col("__i")) }
      val out = if (name != "documents") keyed
        else keyed.withColumn("text", concat(col("text"), lit(textSuffix), col("__i")))
      out.drop("__i")
        .repartition(files * fileMul)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    fixed.foreach(n => spark.read.parquet(s"$src/$n.parquet")
      .write.mode("overwrite").parquet(s"$dst/$n.parquet"))
    System.err.println(f"[$tag] scale-up built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The timed sf-pair loop both scale mains share: codegen/JIT warm-up
    * on the tiny SF, then the build-once index artifacts and the page
    * cache/footers at both dirs, then per line the min of two noop-sink
    * passes at each dir. Prints one JSON line with the lines' times under
    * the two dirs' keys. */
  private[tools] def timePairs(spark: SparkSession, tag: String,
                               selected: Seq[(String, (SparkSession, String) => DataFrame)],
                               lo: (String, String), hi: (String, String),
                               sfLabel: String): Unit = {
    val (loKey, loDir) = lo
    val (hiKey, hiDir) = hi
    selected.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // IVF index build (train + assign) is a one-time cost at both dirs —
    // the timed ann_ivf_topk line measures the QUERY path, as production
    // does after persisting the assignment
    Seq(loDir, hiDir).foreach { dir =>
      try graft.SparkEntry.warmIndexes(spark, dir)
      catch { case _: Throwable => () }
    }
    Seq(loDir, hiDir).foreach { dir =>
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach { f =>
          try spark.read.parquet(f.getAbsolutePath)
            .write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
        }
    }

    // a failed line must NOT land in the published JSON as a plausible
    // (usually faster) number — NaN propagates to "failed":true below
    def timed(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val runs = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        try {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[$tag] failed on $dir: ${e.getMessage}")
          Double.NaN
        }
      }
      // ANY failed run fails the line: Scala's total-order min would pick
      // the surviving (warm, usually faster) run and publish a plausible
      // number with no failed flag — exactly what must not happen
      if (runs.exists(_.isNaN)) Double.NaN else runs.min
    }

    val rows = selected.map { case (name, fn) =>
      val a = timed(fn, loDir)
      val b = timed(fn, hiDir)
      System.err.println(f"[$tag] $name%-28s $loKey $a%7.2f s   $hiKey $b%7.2f s   x${b / a}%.1f")
      (name, a, b)
    }
    def num(d: Double): String = if (d.isNaN) "null" else f"$d%.3f"
    val qs = rows.map { case (n, a, b) =>
      val failed = if (a.isNaN || b.isNaN) ""","failed":true""" else ""
      s""""$n":{"$loKey":${num(a)},"$hiKey":${num(b)},"ratio":${num(b / a)}$failed}"""
    }.mkString("{", ",", "}")
    val okTotal = rows.map(_._3).filterNot(_.isNaN).sum
    val nFailed = rows.count { case (_, a, b) => a.isNaN || b.isNaN }
    println(s"""{"metric":"${tag}_subset_total","value":${f"$okTotal%.3f"},"unit":"sec","failed_lines":$nFailed,"queries":$qs,"sf":"$sfLabel"}""")
  }

  def main(args: Array[String]): Unit = {
    // events.ts may be TIMESTAMP(NANOS) parquet depending on the testdata
    // generator vintage (see SparkEntry.t / EntryCompatSpec); without this
    // the scale-up read crashes with 'Illegal Parquet type' before timing
    val spark = graft.GraftSession.create("local[32]", 32,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    spark.sparkContext.setLogLevel("WARN")
    scaleUp(spark, "sf1", srcDir, outDir, fileMul = 1, textSuffix = " variant")

    // headline subset; minhash runs over the FULL corpus at both scales
    // (the oracled query's doc_id<200 slice would not grow with SF)
    val workloads: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q1_pricing_summary" -> graft.SparkEntry.queries("q1_pricing_summary"),
      "q3_join_revenue_by_nation" -> graft.SparkEntry.queries("q3_join_revenue_by_nation"),
      "analyze_assoc_wide" -> graft.SparkEntry.queries("analyze_assoc_wide"),
      "text_tfidf_topk" -> graft.SparkEntry.queries("text_tfidf_topk"),
      "graph_pagerank" -> graft.SparkEntry.queries("graph_pagerank"),
      "graph_pagerank_dangling" -> graft.SparkEntry.queries("graph_pagerank_dangling"),
      // forced PAST the local fast path (VERDICT r8 #8): the
      // distributed superstep recurrence itself gets measured ×10 evidence
      // (edge derivation scans lineitem — that part scales; the nation
      // graph stays 25 nodes at every SF, like TPC-H itself)
      "graph_pagerank_distributed" -> ((s: SparkSession, dir: String) => {
        s.conf.set(graft.LocalPath.ModeKey, "distributed")
        try graft.SparkEntry.queries("graph_pagerank")(s, dir)
        finally s.conf.unset(graft.LocalPath.ModeKey)
      }),
      "text_url_extract" -> graft.SparkEntry.queries("text_url_extract"),
      "dedup_url_canonical" -> graft.SparkEntry.queries("dedup_url_canonical"),
      "join_asof" -> graft.SparkEntry.queries("join_asof"),
      "events_retention" -> graft.SparkEntry.queries("events_retention"),
      "dedup_exact" -> graft.SparkEntry.queries("dedup_exact"),
      "ann_ivf_topk" -> graft.SparkEntry.queries("ann_ivf_topk"),
      "ann_knn_classify" -> graft.SparkEntry.queries("ann_knn_classify"),
      // worst-20 sf0.1 families (VERDICT r7 item 6): every line above
      // ~0.4s on the r7 board gets measured ×10 evidence here
      "modify_robust_scale" -> graft.SparkEntry.queries("modify_robust_scale"),
      // r12 wave: drift gate, categorical PSI, JS divergence, epoch
      // water-filling, matryoshka funnel
      "events_drift_monitor" -> graft.SparkEntry.queries("events_drift_monitor"),
      "describe_psi_categorical" -> graft.SparkEntry.queries("describe_psi_categorical"),
      "text_js_divergence" -> graft.SparkEntry.queries("text_js_divergence"),
      "sample_epoch_mix" -> graft.SparkEntry.queries("sample_epoch_mix"),
      "ann_matryoshka_topk" -> graft.SparkEntry.queries("ann_matryoshka_topk"),
      "ann_hard_negatives" -> graft.SparkEntry.queries("ann_hard_negatives"),
      "sample_kcenter" -> graft.SparkEntry.queries("sample_kcenter"),
      "events_cusum_drift" -> graft.SparkEntry.queries("events_cusum_drift"),
      "text_ccnet_buckets" -> graft.SparkEntry.queries("text_ccnet_buckets"),
      "ann_mmr_rerank" -> graft.SparkEntry.queries("ann_mmr_rerank"),
      "graph_kcore" -> graft.SparkEntry.queries("graph_kcore"),
      "text_good_turing" -> graft.SparkEntry.queries("text_good_turing"),
      "modify_yeo_johnson_grid" -> graft.SparkEntry.queries("modify_yeo_johnson_grid"),
      "pipeline_budget_e2e" -> graft.SparkEntry.queries("pipeline_budget_e2e"),
      "pipeline_dedup_e2e" -> graft.SparkEntry.queries("pipeline_dedup_e2e"),
      "describe_score_eval" -> graft.SparkEntry.queries("describe_score_eval"),
      "ann_recall_eval" -> graft.SparkEntry.queries("ann_recall_eval"),
      "events_active_users" -> graft.SparkEntry.queries("events_active_users"),
      // r13 wave: exact substring dedup (whole-corpus by contract), the
      // IVF hard-negative funnel; events_drift_monitor (above) re-probes
      // with its new CUSUM stage included
      "dedup_substring" -> graft.SparkEntry.queries("dedup_substring"),
      "dedup_substring_cut" -> graft.SparkEntry.queries("dedup_substring_cut"),
      "text_novelty_curve" -> graft.SparkEntry.queries("text_novelty_curve"),
      "embedding_dispersion" -> graft.SparkEntry.queries("embedding_dispersion"),
      "text_oov_curve" -> graft.SparkEntry.queries("text_oov_curve"),
      "decon_source_matrix" -> graft.SparkEntry.queries("decon_source_matrix"),
      "graph_lpa" -> graft.SparkEntry.queries("graph_lpa"),
      "dedup_prefix_join" -> graft.SparkEntry.queries("dedup_prefix_join"),
      // full-corpus sketch form: the oracled query slices doc_id<100
      "text_heavy_hitters_sketch_full" -> ((s: SparkSession, dir: String) =>
        graft.pipeline.SpaceSaving.approxHeavyHitters(
          s.read.parquet(s"$dir/documents.parquet"), "text", capacity = 200)),
      "ann_hard_negatives_ivf" -> graft.SparkEntry.queries("ann_hard_negatives_ivf"),
      "modify_quantile_normalize" -> graft.SparkEntry.queries("modify_quantile_normalize"),
      "modify_rint" -> graft.SparkEntry.queries("modify_rint"),
      "modify_quantile_bins" -> graft.SparkEntry.queries("modify_quantile_bins"),
      "modify_winsorize" -> graft.SparkEntry.queries("modify_winsorize"),
      "modify_remove_outliers_iqr" -> graft.SparkEntry.queries("modify_remove_outliers_iqr"),
      "modify_categorize" -> graft.SparkEntry.queries("modify_categorize"),
      "modify_make_binary" -> graft.SparkEntry.queries("modify_make_binary"),
      "graph_triangles" -> graft.SparkEntry.queries("graph_triangles"),
      "genotype_maf_describe" -> graft.SparkEntry.queries("genotype_maf_describe"),
      "text_bigram_lm" -> graft.SparkEntry.queries("text_bigram_lm"),
      "text_lm_perplexity" -> graft.SparkEntry.queries("text_lm_perplexity"),
      "text_collocations" -> graft.SparkEntry.queries("text_collocations"),
      "join_asof_forward" -> graft.SparkEntry.queries("join_asof_forward"),
      "join_salted" -> graft.SparkEntry.queries("join_salted"),
      "layout_zorder" -> graft.SparkEntry.queries("layout_zorder"),
      "plot_qq_prep" -> graft.SparkEntry.queries("plot_qq_prep"),
      // round-9 additions above the ~0.4s line: the interaction GLM pair
      // fits — all-continuous Gaussian studies take the AGGREGATED
      // sufficient-stats path (one treeReduce scan, O(pairs*p^2) state; the
      // 24.7s->0.37s change in SCALE.md), so these lines measure that
      // single-scan moments kernel — and the audited sketch profile (sketch
      // pass + exact audit pass, both linear)
      "analyze_interaction_pair" -> graft.SparkEntry.queries("analyze_interaction_pair"),
      "analyze_interaction_allpairs" -> graft.SparkEntry.queries("analyze_interaction_allpairs"),
      "describe_summarize_approx" -> graft.SparkEntry.queries("describe_summarize_approx"),
      "dedup_minhash_lsh_full" -> ((s: SparkSession, dir: String) =>
        graft.pipeline.Dedup.minhashCandidates(s,
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
          .groupBy().agg(count(lit(1)).as("n_candidates"))),
      // round-11 additions: the new scale operators, full-corpus forms
      // (the oracled keep_best / projection queries slice a fixed id range
      // that would not grow with SF)
      "text_heavy_hitters" -> graft.SparkEntry.queries("text_heavy_hitters"),
      "decon_corpus_minhash" -> graft.SparkEntry.queries("decon_corpus_minhash"),
      "dedup_keep_best_full" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val edges = graft.pipeline.Dedup.minhashStarEdges(s, docs, "text", "doc_id")
        val comps = graft.pipeline.Dedup.components(edges)
        graft.pipeline.Dedup.keepBest(docs, comps, "doc_id",
            length(graft.pipeline.Text.normalized(col("text"))))
          .groupBy().agg(count(lit(1)).as("n_kept"))
      }),
      "embedding_random_projection_full" -> ((s: SparkSession, dir: String) => {
        val projOf = graft.pipeline.Similarity.randomProjection(dim = 64, outDim = 16)
        s.read.parquet(s"$dir/embeddings.parquet")
          .select(projOf(col("embedding")).as("p"))
          .groupBy().agg(count(lit(1)).as("n"),
            sum(element_at(col("p"), 1)).as("chk"))
      })) ++ round11SecondWave ++ round14Wave ++ round14SecondWave ++ round15Wave ++ round16Wave

    // every probe key must be GROUNDED in a declared query name (VERDICT
    // r13 #7): the name itself, or '<declared>_<suffix>' for documented
    // full-corpus/forced-path variants — so a cross-artifact grep for any
    // declared query always hits its probes. The one allowed orphan is
    // OPQ, which deliberately has no declared form (SVD can't replay in
    // SQL; unit-tested instead). And the REVERSE (VERDICT r14 #3): every
    // declared query not covered by a curated form rides the board as
    // itself, so probe keys (modulo suffix) ⊇ declared queries always.
    val board = backfillDeclared(workloads, Set.empty)
    assertProbeKeysGrounded(board)
    assertProbesCoverDeclared(board, Set.empty)

    // optional subset: `runMain graft.tools.BenchSf1 q1 q2 ...` probes only
    // the named lines (adds new-operator evidence without re-timing the
    // whole board)
    val selected =
      if (args.isEmpty) board
      else board.filter { case (n, _) => args.contains(n) }

    timePairs(spark, "sf1", selected, "sf01" -> srcDir, "sf1" -> outDir,
      "1 (synthetic x10 of sf0.1)")
    spark.stop()
  }
}
