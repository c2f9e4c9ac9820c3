package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-corpus forms of registered queries, for timing at scale
  * (`runMain graft.Bench <form> ...`): where a query slices a fixed id range
  * or pins a size that would not grow with the data, its form here scans
  * the whole corpus or scales the parameter with it. Each name is
  * `<registered query>_<suffix>`; `ann_opq_train_full` has no query (OPQ's
  * SVD cannot replay in SQL). The no-argument board never runs these. */
object BenchForms {

  /** The documents with 48 per-base salt tokens appended. The synthetic
    * corpus draws every document from one 31-word vocabulary, so raw
    * word-set similarity is dense corpus-wide (3,759 of 19,900 pairs
    * >= 0.8 on the oracled slice) and no exact method can verify less
    * than that quadratic pair graph. The salts give each base document's
    * copy cluster a large-vocabulary identity: copies stay near-twins,
    * cross-cluster J drops under 0.5, and the rarest-first prefixes become
    * the salt tokens. 48 salts keep the shortest documents' clusters tight
    * at the x100 copy depth: 6 vocabulary words and 2 copy tokens give
    * J = (6+48)/(6+48+4) = 0.931 >= (1+0.8)/2. */
  def saltedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val div = math.max(docs.count() / 5000L, 1L) // copies per base at this SF
    docs.select(col("doc_id"), concat(col("text"), lit(" "),
      concat_ws(" ", (0 until 48).map(i =>
        concat(lit(s"salt${i}b"), expr(s"doc_id DIV $div"))): _*)).as("text"))
  }

  /** Copies of each base document at this SF (the x10 copies of sf0.1). */
  private def copies(docs: DataFrame): Int = math.max(docs.count() / 5000L, 1L).toInt

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // the sketch over the whole corpus; the registered query slices doc_id<100
    "text_heavy_hitters_sketch_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.SpaceSaving.approxHeavyHitters(
        s.read.parquet(s"$dir/documents.parquet"), "text", capacity = 200)),
    // candidate pairs over the whole corpus: the output grows with
    // C(copies, 2) per base document, by contract
    "dedup_minhash_lsh_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.minhashCandidates(s,
        s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
        .groupBy().agg(count(lit(1)).as("n_candidates"))),
    // the grouping path: star edges + connected components, linear in
    // duplication where the pair output is quadratic
    "dedup_minhash_star_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.components(
        graft.pipeline.Dedup.minhashStarEdges(s,
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id"))
        .groupBy().agg(count(lit(1)).as("n_grouped"),
          count_distinct(col("component")).as("n_groups"))),
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
    }),
    "decon_minhash_lsh_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Decontaminate.lshOverlap(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id")
        .groupBy().agg(count(lit(1)).as("n_flagged"),
          sum("n_bands_matched").as("chk"))
    }),
    // the production-depth tokenizer: 256 merges must amortize (a local
    // exact trainer over the collected vocabulary, ~3 jobs), not run one
    // pair-count job per merge
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
    // the full OPQ training loop (eig-allocation init + 2 rounds) and the
    // reconstruction-error scan: library surface with no query
    "ann_opq_train_full" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val (r, model) = graft.pipeline.Similarity.opqTrain(
        e, m = 4, k = 16, pqIters = 3, opqIters = 2)
      Seq(graft.pipeline.Similarity.pqReconError(e, r, model)).toDF("opq_err")
    }),
    // the prefix star grouping vs the pairwise join on the same salted
    // near-twin corpus: the pairwise output is C(copies, 2) per base by
    // contract, the star output one row per document
    "dedup_prefix_star_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.prefixJaccardStar(saltedDocs(s, dir),
          "text", "doc_id", 0.8)
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))),
    "dedup_prefix_join_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.prefixJaccardJoin(saltedDocs(s, dir),
          "text", "doc_id", 0.8)
        .groupBy().agg(count(lit(1)).as("n_pairs"))),
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
    // uncapped: one template print's bucket is one join key, so its
    // sum of squares lands in one task (SCALE.md: infeasible at sfx10)
    "dedup_winnow_pairs_full" -> ((s: SparkSession, dir: String) =>
      graft.pipeline.Dedup.winnowCandidates(
          s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
          minShared = 8)
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          sum(col("shared")).as("chk"))),
    // the registered capped query pins maxDocFreq=3; here the cap scales
    // with copy depth (~2x the expected duplicate-cluster size)
    "dedup_winnow_pairs_capped_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Dedup.winnowCandidates(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies(docs))
        .groupBy().agg(count(lit(1)).as("n_pairs"),
          sum(col("shared")).as("chk"))
    }),
    // star components -> size histogram (O(max size) output)
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
    "modify_target_encode_loo_full" -> ((s: SparkSession, dir: String) =>
      graft.modify.Modify.targetEncodeLoo(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_returnflag").as("cat"),
            col("l_quantity").cast("long").as("q")),
        "cat", "q")
        .groupBy().agg(count(lit(1)).as("n"),
          sum(round(col("te_loo"), 6)).as("chk"))),
    "dedup_winnow_star_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies(docs))
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))
    }),
    // the two-level cap: edges <= 6n at any duplicate-cluster depth; on
    // this corpus's uniform clusters n_components must equal the line above
    "dedup_winnow_star_capped2_full" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id",
          minShared = 8, maxDocFreq = 2 * copies(docs), maxCandidatesPerDoc = 3)
        .groupBy().agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))
    }),
    // SemDeDup with k scaled so clusters stay ~100 vectors. The x10 corpus
    // replicates embeddings exactly, so the within-cluster pair bound is
    // copy-squared deep and exceeds the default graft.semdedup.maxPairs at
    // sfx10; this form raises the cap to measure the pair pass it refuses
    "dedup_semdedup_full" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val k = math.max(8L, e.count() / 100L).toInt
      s.conf.set("graft.semdedup.maxPairs", "4000000000")
      try graft.pipeline.Similarity.semDedupClustered(e, k, threshold = 0.95)
        .groupBy().agg(count(lit(1)).as("n_kept"))
      finally s.conf.unset("graft.semdedup.maxPairs")
    }),
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
    // image dedup by volume: one 64x64 BMP per document (encode, ImageIO
    // decode, grid and hash inside one mapPartitions pass; payloads never
    // shuffle). Gradients keyed mod 101/103 give ~240k distinct patterns.
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
    }),
    // the multimodal release chain over every document: BMPs, exact-pixel
    // PNG twins for doc_id % 7 == 0 and the lossy VP8 fixture for % 3 == 0
    // (a full decode per payload), 16x16 payloads
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
            case _ => graft.queries.Tables.lossyVp8Fixture
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
    }))

  /** The IVF kNN graph with nLists scaled to the corpus (~200 vectors a
    * list) and a bounded training sample: constant candidates per vector. */
  private def scaledGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.pipeline.Similarity.ivfTrainScaled(e, vectorsPerList = 200)
    val assigned = graft.pipeline.Similarity.ivfAssign(model, e).localCheckpoint()
    (e, graft.pipeline.Similarity.knnGraph(model, assigned, k = 3, nProbe = 2))
  }
}
