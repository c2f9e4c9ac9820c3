package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, Text}

/** Unit tests for the training-data pipeline operators: planted-duplicate
  * recovery, ANN recall vs brute force, text features, multimodal plumbing. */
class PipelineSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank totay"), // near-dup of 0
      (2L, "completely different text about spark query engines and distributed joins"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (4L, "yet another unrelated document mentioning gradient descent and tokenizers"),
      (5L, "Completely  different TEXT about spark query engines and distributed joins")) // case/ws dup of 2
    base.toDF("doc_id", "text")
  }

  test("exact dedup keeps the smallest id per normalized fingerprint") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 4L)) // 3 dups 0; 5 normalizes to 2
  }

  test("exactAgainst: new batch deduped against an existing fingerprint index") {
    val known = Dedup.exactReport(docs.filter(col("doc_id") <= 2), "text", "doc_id")
      .select("fp")
    val batch = docs.filter(col("doc_id") >= 3)
    val out = Dedup.exactAgainst(batch, known, "text")
    // 3 duplicates 0 (known), 5 normalizes to 2 (known); only 4 is novel
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(4L))
    // fingerprint helper column does not leak into the output
    assert(out.columns.toSeq === batch.columns.toSeq)
    // empty index keeps everything
    val none = Dedup.exactAgainst(batch, known.limit(0), "text")
    assert(none.count() === 3)
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val cands = Dedup.minhashCandidates(spark, docs, "text", "doc_id",
      numHashes = 64, bands = 16, shingleK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val pairs = cands.map(c => (c._1, c._2)).toSet
    assert(pairs.contains(("0", "1")), s"expected near-dup (0,1) in $pairs")
    assert(pairs.contains(("0", "3"))) // exact dup -> jaccard 1
    val est13 = cands.find(c => c._1 == "0" && c._2 == "3").get._3
    assert(est13 === 1.0)
    // unrelated docs 2 vs 4 must NOT collide
    assert(!pairs.contains(("2", "4")))
  }

  test("minhashCandidates: dup-heavy corpora trigger the pair-blowup warning pointing at the star path") {
    import spark.implicits._
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-call sink (r12 ADVICE): no global logSink swap — parallel suites
    // can't race or misroute warnings through a shared var
    val sink: String => Unit = s => warnings.synchronized { warnings += s }
    // 100 byte-identical docs: every band has one 100-member bucket ->
    // pair bound 16*C(100,2) = 79200 >> 8*100
    val heavy = (1 to 100).map(i => (i.toLong, "the same document body repeated"))
      .toDF("doc_id", "text")
    Dedup.minhashCandidates(spark, heavy, "text", "doc_id", warnSink = sink)
    assert(warnings.exists(w => w.contains("minhashStarEdges") &&
      w.contains("graft.dedup.pairBlowupWarnFactor")),
      s"expected blow-up warning, got: $warnings")
    // distinct corpus: silent
    warnings.clear()
    val rngDocs = new scala.util.Random(99L)
    val distinctDocs = (1 to 100)
      .map(i => (i.toLong, (1 to 12).map(_ =>
        (1 to 8).map(_ => ('a' + rngDocs.nextInt(26)).toChar).mkString).mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.minhashCandidates(spark, distinctDocs, "text", "doc_id", warnSink = sink)
    assert(warnings.isEmpty, s"no warning expected for a distinct corpus: $warnings")
    // factor 0 disables the pre-flight entirely
    spark.conf.set("graft.dedup.pairBlowupWarnFactor", "0")
    try {
      Dedup.minhashCandidates(spark, heavy, "text", "doc_id", warnSink = sink)
      assert(warnings.isEmpty, "factor 0 must disable the guard")
    } finally spark.conf.unset("graft.dedup.pairBlowupWarnFactor")
    // malformed conf rejected loudly
    spark.conf.set("graft.dedup.pairBlowupWarnFactor", "-1")
    try intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(spark, heavy, "text", "doc_id", warnSink = sink)
    } finally spark.conf.unset("graft.dedup.pairBlowupWarnFactor")
  }

  test("winnowCandidates: the pair-blowup warning reaches the sink before the call returns") {
    import spark.implicits._
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink: String => Unit = s => warnings.synchronized { warnings += s }
    // 100 byte-identical docs: every print's bucket holds all 100 docs ->
    // pair bound C(100,2) per print >> 8 x (doc, print) rows
    val heavy = (1 to 100).map(i => (i.toLong, "the same document body repeated in every row"))
      .toDF("doc_id", "text")
    Dedup.winnowCandidates(heavy, "text", "doc_id", warnSink = sink)
    assert(warnings.synchronized(warnings.exists(w => w.contains("maxDocFreq") &&
      w.contains("graft.dedup.pairBlowupWarnFactor"))),
      s"expected the blow-up warning on return, got: $warnings")
    warnings.synchronized(warnings.clear())
    spark.conf.set("graft.dedup.pairBlowupWarnFactor", "0")
    try {
      Dedup.winnowCandidates(heavy, "text", "doc_id", warnSink = sink).collect()
      assert(warnings.synchronized(warnings.isEmpty), "factor 0 must disable the guard")
    } finally spark.conf.unset("graft.dedup.pairBlowupWarnFactor")
  }

  test("minhash star edges: same connected components as pairwise cliques, fewer edges") {
    // real corpus slice: every bucket's star spans the clique's vertex
    // set, so components must be IDENTICAL — with at most O(m·bands)
    // edges where the clique path emits O(m²)
    val docs200 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 300)
    val pairPath = Dedup.components(
      Dedup.minhashCandidates(spark, docs200, "text", "doc_id")
        .select("id1", "id2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val starEdges = Dedup.minhashStarEdges(spark, docs200, "text", "doc_id")
    val starPath = Dedup.components(starEdges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pairPath.nonEmpty, "fixture must produce duplicate groups")
    assert(starPath === pairPath, "star and clique paths must agree on components")
    // star edge count is bounded by bands × members, never m² per bucket
    val m = docs200.count()
    assert(starEdges.count() <= 16 * m)
  }

  test("prefixJaccardStar: transitive chains merge, singletons self-map, matches pairwise on real corpus") {
    import spark.implicits._
    // chain: J(0,1) = 4/6 ≈ 0.67 and J(1,2) = 4/6 ≈ 0.67 at t=0.6, but
    // J(0,2) = 3/7 ≈ 0.43 < t — all three must still land in ONE component
    // (the pairwise-graph contract); doc 3 shares nothing and stays alone
    val chain = Seq(
      (0L, "a b c d e"), (1L, "a b c d f"), (2L, "a b c f g"),
      (3L, "x y z q")).toDF("doc_id", "text")
    val got = Dedup.prefixJaccardStar(chain, "text", "doc_id", 0.6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("0" -> "0", "1" -> "0", "2" -> "0", "3" -> "3"))
    // real corpus slice at the oracled threshold: star components must
    // equal components over the full pairwise verified graph
    val docs200 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 300)
    val pairPath = Dedup.components(
      Dedup.prefixJaccardJoin(docs200, "text", "doc_id", 0.8)
        .select("id1", "id2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val starAll = Dedup.prefixJaccardStar(docs200, "text", "doc_id", 0.8)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pairPath.nonEmpty, "fixture must produce duplicate groups")
    // restrict the star map to ids that have at least one verified pair
    // (the pairwise path only returns those); the rest must self-map
    assert(starAll.view.filterKeys(pairPath.contains).toMap === pairPath,
      "star and pairwise paths must agree on components")
    starAll.foreach { case (id, comp) =>
      if (!pairPath.contains(id)) assert(comp === id, s"singleton $id moved") }
  }

  test("ngram jaccard verification is exact") {
    import spark.implicits._
    val pairs = Seq(("0", "3"), ("0", "2")).toDF("id1", "id2")
    val j = Dedup.ngramJaccard(spark, docs, pairs, "text", "doc_id")
      .collect().map(r => (r.getString(r.fieldIndex("id1")), r.getString(r.fieldIndex("id2"))) ->
        r.getDouble(r.fieldIndex("jaccard"))).toMap
    assert(j(("0", "3")) === 1.0)
    assert(j(("0", "2")) < 0.2)
  }

  test("connected components group transitive duplicate chains") {
    import spark.implicits._
    // components: {1,2,3} (chain), {7,8} (pair), 20-30-40 (star on 20)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (30L, 20L), (20L, 40L))
      .toDF("id1", "id2")
    val comp = graft.pipeline.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) === 1L && comp(2L) === 1L && comp(3L) === 1L)
    assert(comp(7L) === 7L && comp(8L) === 7L)
    assert(comp(20L) === 20L && comp(30L) === 20L && comp(40L) === 20L)
    // keepers = component mins
    val keepers = graft.pipeline.Dedup.resolveKeepers(
      graft.pipeline.Dedup.components(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers(40L) === 20L)
    // numeric ids across digit widths keep NUMERIC min (no string coercion)
    val wide = graft.pipeline.Dedup.components(
      Seq((8L, 9L), (9L, 10L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide(10L) === 8L)
  }

  test("semanticDedup: planted duplicate embeddings collapse to the min id") {
    import spark.implicits._
    val base = Array.tabulate(4)(i => if (i == 0) 1.0f else 0.1f * i)
    val ortho = Array(0.0f, 0.0f, 0.0f, 1.0f)
    val rows = Seq(
      (0L, base),                    // keeper of the duplicate group
      (1L, base.clone()),            // exact dup
      (2L, ortho),                   // unrelated
      (3L, base.map(_ * 2.0f)),      // cosine 1.0 with base (same LSH signs)
      (4L, base.map(-_)))            // antipode: cosine -1, never a dup
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, threshold = 0.95, dim = 4,
        bits = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 4L))
  }

  test("components: distributed path == local union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }.toDF("id1", "id2")
    val local = graft.pipeline.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = distributed(graft.pipeline.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(local === dist)
  }

  test("components: binary ids route to the distributed path (local gate declines)") {
    import spark.implicits._
    // Array[Byte] ids: the driver union-find's Comparable ordering / HashMap
    // keying is unsound for binary (reference equality) — the type gate must
    // send these to the distributed min-label path even under the local bound
    val pairs = Seq(
      (Array[Byte](1), Array[Byte](2)), (Array[Byte](2), Array[Byte](3)),
      (Array[Byte](7), Array[Byte](8))).toDF("id1", "id2")
    val comp = graft.pipeline.Dedup.components(pairs).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(comp(Seq[Byte](1)) === Seq[Byte](1))
    assert(comp(Seq[Byte](2)) === Seq[Byte](1))
    assert(comp(Seq[Byte](3)) === Seq[Byte](1))
    assert(comp(Seq[Byte](8)) === Seq[Byte](7))
  }

  test("components: NULL endpoints route to the distributed path (SQL null-join semantics)") {
    import spark.implicits._
    // a null id never equality-joins, so the distributed path leaves both
    // the null node and its partner isolated; the local union-find would
    // have grouped them via JVM Map semantics — the gate picks ONE semantics
    val pairs = Seq((Option(1L), Option(2L)), (Option.empty[Long], Option(5L)))
      .toDF("id1", "id2")
    val comp = graft.pipeline.Dedup.components(pairs).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(comp(Some(1L)) === Some(1L) && comp(Some(2L)) === Some(1L))
    assert(comp(Some(5L)) === Some(5L), "null partner must stay isolated")
    assert(comp(None) === None)
  }

  test("simhash of identical docs is identical; near-dups are close") {
    val s0 = Dedup.simhash(docs.filter(col("doc_id") === 0).head.getString(1))
    val s3 = Dedup.simhash(docs.filter(col("doc_id") === 3).head.getString(1))
    val s1 = Dedup.simhash(docs.filter(col("doc_id") === 1).head.getString(1))
    val s2 = Dedup.simhash(docs.filter(col("doc_id") === 2).head.getString(1))
    assert(s0 === s3)
    assert(java.lang.Long.bitCount(s0 ^ s1) < java.lang.Long.bitCount(s0 ^ s2))
  }

  test("LSH ANN achieves high recall@3 vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket-pruned search with few bits (coarse buckets -> high recall)
    val approx = Similarity.lshTopK(e, queries, k = 3, dim = 64, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    // brute-force self-consistency: rank 1 has the highest cosine
    val byQuery = Similarity.bruteForceTopK(e, queries, k = 3)
      .collect().groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("IVF ANN achieves high recall@3 vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(e, queries, k = 3, nLists = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    // probing ALL lists must recover brute force exactly
    val full = Similarity.ivfTopK(e, queries, k = 3, nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nProbe = nLists must equal the exact result")
  }

  test("embedding storage ops: l2-normalize and int8 quantize round-trip") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    // unit norm after normalization
    val norms = e.select(Similarity.norm(Similarity.l2Normalize(col("embedding"))))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    // quantize/dequantize keeps cosine similarity to the original high
    val q = e.select(col("vec_id"), col("embedding"),
      Similarity.dequantizeInt8(Similarity.quantizeInt8(col("embedding"))).as("deq"))
    val cos = q.select(
      (Similarity.dot(col("embedding"), col("deq")) /
        (Similarity.norm(col("embedding")) * Similarity.norm(col("deq")))))
      .collect().map(_.getDouble(0))
    assert(cos.forall(_ > 0.999), s"int8 round-trip cosine floor ${cos.min}")
  }

  test("IVF split API: persisted model + assignment reproduce the one-shot result") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 20)
    val oneShot = Similarity.ivfTopK(e, queries, k = 3, nLists = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // train once, persist the centroid table, reload, assign, query
    val model = Similarity.ivfTrain(e, nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.ivfSaveModel(spark, model, s"$dir/centers")
    val loaded = Similarity.ivfLoadModel(spark, s"$dir/centers")
    assert(loaded.centers.map(_.toSeq).toSeq === model.centers.map(_.toSeq).toSeq)
    val assigned = Similarity.ivfAssign(loaded, e)
    val split = Similarity.ivfQuery(loaded, assigned, queries, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(split === oneShot, "split train/assign/query must equal the one-shot path")
  }

  test("text features: tokens, quality, langid, fingerprint") {
    import spark.implicits._
    val df = Seq((1L, "The cat and the dog, of course!")).toDF("doc_id", "text")
    val q = Text.qualityFeatures(df, "text").collect().head
    assert(q.getLong(q.fieldIndex("n_words")) === 7L)
    val tok = df.select(Text.wsTokenCount(col("text")), Text.regexTokenCount(col("text"))).head
    assert(tok.getLong(0) === 7L)
    assert(tok.getLong(1) === 9L) // 7 words + comma + bang
    val lang = Text.langId(df, "text").collect().head
    assert(lang.getString(lang.fieldIndex("pred_lang")) === "en")
    // spaceless CJK text: marker tokens never split on whitespace, so zh
    // scores by substring occurrences
    val zh = Seq((9L, "我们在这里有很多好的东西了这是真的")).toDF("doc_id", "text")
    val zl = Text.langId(zh, "text").collect().head
    assert(zl.getString(zl.fieldIndex("pred_lang")) === "zh")
    val fp = df.select(Text.fingerprint(col("text"))).head.getString(0)
    planted()
    fpChecks(fp)
  }

  test("url ops: extraction boundaries and canonicalization edge cases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://A.Example.COM/Page/1?utm_a=1&utm_b=2&x=3#f end"),
      (2L, "quoted 'http://host:8080/p/' and <https://b.example.com> tail"),
      (3L, "bare http://Host.Example.com/ plus https://c.example.com/q?utm_only=1"),
      (4L, "no urls here at all")).toDF("doc_id", "text")
    val urls = graft.pipeline.Text.extractUrls(docs, "text")
      .select(col("doc_id"), col("url"),
        graft.pipeline.Text.canonicalizeUrl(col("url")).as("canon"),
        graft.pipeline.Text.urlHost(col("url")).as("host"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(urls.count(_._1 == 4L) === 0)                      // none invented
    // BOTH utm params stripped (Spark regexp_replace is global), other
    // param and path case preserved, fragment gone
    val u1 = urls.find(_._1 == 1L).get
    assert(u1._3 === "https://a.example.com/Page/1?x=3", u1._3)
    assert(u1._4 === "a.example.com")
    // quote and angle-bracket delimiters end the URL; port survives in host
    val u2 = urls.filter(_._1 == 2L)
    assert(u2.map(_._2).toSet === Set("http://host:8080/p/", "https://b.example.com"))
    assert(u2.map(_._3).toSet === Set("http://host:8080/p", "https://b.example.com"))
    assert(u2.map(_._4).contains("host:8080"))
    // trailing slash trimmed; utm-only query leaves no dangling '?'
    val u3 = urls.filter(_._1 == 3L).map(_._3).toSet
    assert(u3 === Set("http://host.example.com", "https://c.example.com/q"), u3)

    // review findings, pinned: a param VALUE containing 'utm_' is not a
    // tracking param (the strip is separator-anchored); consecutive utm
    // params all go in one run match; uppercase schemes extract
    val extra = Seq(
      (5L, "v http://h.example.com/p?id=abutm_z&b=2 w"),
      (6L, "r https://h.example.com/q?utm_a=1&utm_b=2&utm_c=3&k=9 s"),
      (7L, "t HTTPS://Upper.Example.COM/Path u")).toDF("doc_id", "text")
    val canon = graft.pipeline.Text.extractUrls(extra, "text")
      .select(col("doc_id"), graft.pipeline.Text.canonicalizeUrl(col("url")).as("c"),
        graft.pipeline.Text.urlHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(canon(5L)._1 === "http://h.example.com/p?id=abutm_z&b=2", canon(5L)._1)
    assert(canon(6L)._1 === "https://h.example.com/q?k=9", canon(6L)._1)
    assert(canon(7L)._1 === "https://upper.example.com/Path", canon(7L)._1)
    assert(canon(7L)._2 === "upper.example.com")
  }

  /** Planted truly-multilingual corpus: every language's marker path must
    * actually fire (the synthetic documents table's non-en rows are
    * English-ish text with arbitrary tags, so the audit query's ~0 accuracy
    * there is the CORRECT verdict — this pins the kernel's non-trivial
    * positives separately). */
  private def planted(): Unit = {
    import spark.implicits._
    val docs = Seq(
      ("en", "The size and the shape of it is known to all, with reason."),
      ("en", "Many of the things that matter end with the truth and the proof."),
      ("es", "El perro y la casa de que hablamos son de los vecinos, una maravilla."),
      ("es", "La luz de el faro guia a los barcos en una noche de tormenta."),
      ("de", "Der Hund und die Katze sind nicht da, das ist schade und nicht gut."),
      ("de", "Die Sonne ist hell und der Himmel ist blau, das ist nicht neu."),
      ("fr", "Le chien et la maison des voisins est une merveille, les gens le savent."),
      ("fr", "La mer est calme et le vent souffle sur les plages, une belle journee."),
      ("zh", "我们在这里有很多好的东西了这是真的"),
      ("zh", "他说的话在我心里是有分量的了"))
      .toDF("lang", "text")
    val pred = graft.pipeline.Text.langId(docs, "text")
    val perLang = pred.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L)).as("ok"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Seq("en", "es", "de", "fr", "zh").foreach { l =>
      val (n, ok) = perLang(l)
      assert(n === 2L && ok === 2L, s"$l markers must fire on planted $l text: $ok/$n")
    }
  }

  private def fpChecks(fp: String): Unit = {
    import spark.implicits._
    assert(fp.matches("[0-9a-f]{32}"))
    // normalization-invariant
    val fp2 = Seq((1L, "  the CAT and the  dog, of course!  ")).toDF("doc_id", "text")
      .select(Text.fingerprint(col("text"))).head.getString(0)
    assert(fp === fp2)
  }

  test("nearDedup end-to-end: planted near-duplicate chain collapses to its min id") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val docs = Seq(
      (10L, base),
      (11L, base + " tail-a"),          // near-dup of 10
      (12L, base + " tail-a b"),        // near-dup of 11 (chains to 10)
      (20L, "completely different content about spark catalyst optimizers " * 6),
      (30L, "a third unrelated short document")).toDF("doc_id", "text")
    val out = Dedup.nearDedup(spark, docs, "text", "doc_id", threshold = 0.6)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(10L, 20L, 30L),
      s"chain 10-11-12 keeps min id; singletons survive (got ${kept.mkString(",")})")
  }

  test("PII redaction: emails, IPv4, phone runs get typed placeholders") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
      (2L, "server at 10.0.42.7 answered"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val r = Text.redactPii(df, "text").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(r(1L).fieldIndex("n_emails")) === 1)
    assert(r(1L).getInt(r(1L).fieldIndex("n_phones")) === 1)
    val red1 = r(1L).getString(r(1L).fieldIndex("redacted"))
    assert(red1.contains("<EMAIL>") && red1.contains("<PHONE>"))
    assert(!red1.contains("example.co.uk") && !red1.contains("555"))
    assert(r(2L).getInt(r(2L).fieldIndex("n_ips")) === 1)
    assert(r(2L).getString(r(2L).fieldIndex("redacted")) === "server at <IP> answered")
    assert(r(3L).getString(r(3L).fieldIndex("redacted")) === "nothing sensitive here")
  }

  test("native dedup signature expressions tolerate null text (no NPE)") {
    import spark.implicits._
    val df = Seq((1L, "some document text here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // null text yields no signature/banded rows — the old typed-map path NPE'd
    assert(Dedup.minhashCandidates(spark, df, "text", "doc_id").count() === 0)
    assert(Dedup.simhashCandidates(spark, df, "text", "doc_id").count() === 0)
  }

  test("gopher quality flags and repetition signals") {
    import spark.implicits._
    val good = ("the quick brown fox " * 10).trim + " and that have with be to of"
    val listy = "- item one\n- item two\n- item three"
    val repeated = "same line\nsame line\nother\n\npara\n\npara"
    val df = Seq((1L, good), (2L, listy), (3L, repeated)).toDF("doc_id", "text")
    val q = Text.gopherQualityFlags(df, "text", minWords = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getBoolean(q(1L).fieldIndex("gopher_keep")), "clean prose keeps")
    assert(q(1L).getInt(q(1L).fieldIndex("n_req_stopwords")) >= 5)
    assert(q(2L).getDouble(q(2L).fieldIndex("bullet_line_ratio")) === 1.0)
    assert(!q(2L).getBoolean(q(2L).fieldIndex("gopher_keep")), "all-bullets rejects")
    val rep = Text.repetitionSignals(df, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r3 = rep(3L)
    // lines: [same line, same line, other, para, para] -> 1 - 3/5;
    // duplicated-line chars (9+9+4+4) over all line chars (9+9+5+4+4)
    assertRtol(r3.getDouble(r3.fieldIndex("dup_line_frac")), 0.4, 1e-9, "dup_line")
    assertRtol(r3.getDouble(r3.fieldIndex("dup_line_char_frac")), 26.0 / 31, 1e-9, "dup_chars")
    // paras: [same line\nsame line\nother, para, para] -> 1 - 2/3
    assertRtol(r3.getDouble(r3.fieldIndex("dup_para_frac")), 1.0 / 3, 1e-9, "dup_para")
    // "the quick" dominates the good doc's bigrams
    assert(rep(1L).getDouble(rep(1L).fieldIndex("top_bigram_frac")) > 0.15)
    assert(rep(2L).getDouble(rep(2L).fieldIndex("dup_line_frac")) === 0.0)
  }

  test("perplexityScore: hand-computed unigram LM; gibberish lands in the tail") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "z z z")).toDF("doc_id", "text")
    val got = graft.pipeline.Text.perplexityScore(df, "text", "doc_id",
        topVocab = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // vocab {a:2, b:1}, T=6, OOV total=3 (the z's), K=2, denom=6+1*(2+1)=9
    val (pa, pb, poov) = (3.0 / 9, 2.0 / 9, 4.0 / 9)
    val nll1 = -(2 * math.log(pa) + math.log(pb)) / 3
    val nll2 = -math.log(poov)
    assert(got(1L)._1 === 3L && got(2L)._1 === 3L)
    assertRtol(got(1L)._2, nll1, 1e-12, "doc1 nll")
    assertRtol(got(2L)._2, nll2, 1e-12, "doc2 nll")
    assertRtol(got(1L)._3, math.exp(nll1), 1e-12, "doc1 ppl")
    // natural text (corpus-typical words) beats gibberish
    val corpus = (0L until 200L).map(i => (i, "the quick brown fox jumps")) ++
      Seq((900L, "qzx vbnm wrtp lkjh zzqq"))
    val scored = graft.pipeline.Text.perplexityScore(
        corpus.toDF("doc_id", "text"), "text", "doc_id", topVocab = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scored(900L) > 5 * scored(0L),
      s"gibberish ppl ${scored(900L)} must dwarf natural ${scored(0L)}")
  }

  test("silhouette: tight well-separated blobs score near 1, one blob scores ~0") {
    import spark.implicits._
    // two tight blobs far apart: every point much closer to its own center
    val blobA = (0 until 20).map(i => (i.toLong, Array(0.0f + i % 3 * 0.01f, 0.0f)))
    val blobB = (0 until 20).map(i => (100L + i, Array(10.0f + i % 3 * 0.01f, 10.0f)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val centers = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val assigned = graft.pipeline.Similarity.assignToCenters(df, centers)
    val s = graft.pipeline.Similarity.silhouette(assigned, centers)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(s(0) > 0.99 && s(1) > 0.99, s"separated blobs: $s")
    // a single center: b is undefined (no other cluster) -> array_min of
    // empty -> null; guard: k must be >= 2 for a meaningful score
    val one = graft.pipeline.Similarity.silhouette(
      graft.pipeline.Similarity.assignToCenters(df, Array(Array(0.0, 0.0))),
      Array(Array(0.0, 0.0))).collect()
    assert(one.head.get(2) == null || one.head.getDouble(2) <= 0.0)
  }

  test("bigramPerplexity: hand-computed interpolation; word order matters") {
    import spark.implicits._
    // one doc "a b a b": bigrams (a,b) x2, (b,a) x1; contexts a:2, b:1
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val got = graft.pipeline.Text.bigramPerplexity(df, "text", "doc_id",
        topBigrams = 10, topVocab = 10, alpha = 1.0, lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
    // unigram: T=4, a:2 b:2 in vocab, K=2, denom=4+3=7 -> p1(a)=p1(b)=3/7
    val p1 = 3.0 / 7
    val pab = 0.7 * (2.0 / 2) + 0.3 * p1   // p2(b|a) = c(a,b)/c(a.) = 1
    val pba = 0.7 * (1.0 / 1) + 0.3 * p1
    val want = -(2 * math.log(pab) + math.log(pba)) / 3
    assert(got._1 === 1L && got._2 === 3L)
    assertRtol(got._3, want, 1e-12, "interpolated nll")

    // word ORDER separates docs a unigram model cannot: same bag of words,
    // one in corpus-typical order, one scrambled
    val corpus = (0L until 100L).map(i => (i, "the quick brown fox jumps")) ++
      Seq((900L, "fox the jumps brown quick"))
    val scored = graft.pipeline.Text.bigramPerplexity(
        corpus.toDF("doc_id", "text"), "text", "doc_id",
        topBigrams = 50, topVocab = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scored(900L) > 2 * scored(0L),
      s"scrambled ppl ${scored(900L)} must exceed natural ${scored(0L)}")
    // a 1-token doc has no bigrams and is absent
    val one = graft.pipeline.Text.bigramPerplexity(
      Seq((5L, "solo")).toDF("doc_id", "text"), "text", "doc_id")
    assert(one.count() === 0L)
  }

  test("bm25Rank matches the formula computed from first principles") {
    import spark.implicits._
    val docs = Seq(
      (0L, "hash hash hash filter"),       // tf(hash)=3, dl=4
      (1L, "hash join scan"),              // both terms, dl=3
      (2L, "scan filter merge sort"),      // no query terms -> excluded
      (3L, "join join join join hash x"),  // dl=6
      (4L, "filter")).toDF("doc_id", "text")
    val got = graft.pipeline.Text.bm25Rank(docs, "text", "doc_id",
        terms = Seq("hash", "join"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    // replay: N=5 docs, avgdl=(4+3+4+6+1)/5, df(hash)=3, df(join)=2
    val (n, avgdl) = (5.0, 18.0 / 5.0)
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double, df: Double) =
      if (tf == 0) 0.0
      else idf(df) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    val want = Seq(
      (0L, w(3, 4, 3) + w(0, 4, 2), 4L),
      (1L, w(1, 3, 3) + w(1, 3, 2), 3L),
      (3L, w(1, 6, 3) + w(4, 6, 2), 6L)).sortBy(x => (-x._2, x._1)).toList
    assert(got.map(_._1) === want.map(_._1))
    got.zip(want).foreach { case ((_, g, gl), (_, e, el)) =>
      assert(gl === el); assertRtol(g, e, 1e-12, "bm25")
    }
    // doc 2 (no terms) and doc 4 excluded, not scored at zero
    assert(!got.exists(r => r._1 == 2L || r._1 == 4L))
  }

  test("rolling-hash min-sketch is deterministic and shift-robust") {
    val a = Text.rollingHashMinSketch("the quick brown fox jumps over the lazy dog")
    val b = Text.rollingHashMinSketch("the quick brown fox jumps over the lazy dog")
    assert(a.toSeq === b.toSeq)
    val c = Text.rollingHashMinSketch("xx the quick brown fox jumps over the lazy dog")
    assert(a.toSet.intersect(c.toSet).nonEmpty) // shared shingle minima survive a prefix shift
  }

  test("multimodal: media meta + batch feature extraction on binary payloads") {
    val bin = docs.withColumn("payload", col("text").cast("binary"))
    val withMeta = Multimodal.withMediaMeta(bin, "payload", "text/plain")
    val m = withMeta.filter(col("doc_id") === 0).select("payload_meta.*").head
    assert(m.getLong(0) === docs.filter(col("doc_id") === 0).head.getString(1).length.toLong)
    assert(m.getString(1).matches("[0-9a-f]{64}"))
    val feats = Multimodal.extractFeatures(spark, bin, "doc_id", "payload")
    val rows = feats.collect()
    assert(rows.length === 6)
    assert(rows.forall(_.getSeq[Float](1).length === 8))
    // identical payloads -> identical features (deterministic stub)
    val f = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(0L) === f(3L))
    // frame sampling emits bounded pseudo-frames per row
    val frames = Multimodal.sampleFrames(bin, "doc_id", "payload", frameBytes = 16, maxFrames = 3)
    assert(frames.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 3))
  }

  test("multimodal: PNG/JPEG payloads decode to REAL pixel statistics via ImageIO") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val red = png(4, 2, 0xff0000)         // pure red
    val gray = png(3, 3, 0x808080)        // uniform mid-gray
    val notAnImage = "hello".getBytes("UTF-8")
    val df = Seq((1L, red), (2L, gray), (3L, notAnImage)).toDF("doc_id", "payload")
    val f = Multimodal.extractFeatures(spark, df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // red 4x2: [w, h, bands, meanR, meanG, meanB, lumaMean, lumaStd]
    assert(f(1L)(0) === 4.0f && f(1L)(1) === 2.0f && f(1L)(2) === 3.0f)
    assertRtol(f(1L)(3), 1.0, 1e-6, "meanR")
    assert(f(1L)(4) === 0.0f && f(1L)(5) === 0.0f)
    assertRtol(f(1L)(6), 0.299, 1e-6, "luma of pure red")
    assert(f(1L)(7) === 0.0f, "uniform image has zero luma std")
    assertRtol(f(2L)(3), 128.0 / 255.0, 1e-6, "gray mean")
    assert(f(2L)(7) === 0.0f)
    // non-image payloads keep the deterministic stub features
    assert(f(3L) === Multimodal.stubDecode(notAnImage).toSeq)
    // and a JPEG round-trip decodes through the same path
    val jimg = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jimg, "jpg", jb)
    val jf = Multimodal.decodeImage(jb.toByteArray)
    assert(jf.isDefined && jf.get(0) === 2.0f && jf.get(1) === 2.0f)
  }

  // shared procedural test image: grayscale blocky-noise pattern per id
  // (the same family the dedup_image_* queries generate and their DuckDB
  // oracles replay from the formula)
  private def imgPix(id: Long)(x: Int, y: Int): Int =
    (((x * (3 + id % 5) + y * (2 + id % 7) + ((x.toLong * y + id) % 23) * 11) % 208) + 24).toInt

  test("image hash: luma grid is the exact integer block sum of the generated pixels") {
    val bmp = Multimodal.encodeBmpGray(64, 64, imgPix(7))
    val Some((w, h, sums, counts)) = Multimodal.lumaGrid(bmp, 9, 8)
    assert(w === 64 && h === 64)
    val ds = new Array[Long](72); val dc = new Array[Long](72)
    for (y <- 0 until 64; x <- 0 until 64) {
      val cell = (y * 8 / 64) * 9 + (x * 9 / 64)
      ds(cell) += 1000L * imgPix(7)(x, y); dc(cell) += 1
    }
    assert(sums.toSeq === ds.toSeq, "decode drift: grid sums != direct sums")
    assert(counts.toSeq === dc.toSeq)
  }

  private def bandsOf(bytes: Array[Byte], kind: String): Array[Long] = {
    val (gw, gh) = if (kind == "dhash") (9, 8) else (32, 32)
    val Some((_, _, s, c)) = Multimodal.lumaGrid(bytes, gw, gh)
    if (kind == "dhash") graft.pipeline.Dedup.dhashBands(s, c)
    else graft.pipeline.Dedup.phashBands(s, c)
  }
  private def ham(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("image hash: scale/brightness invariance, lossless re-encode identity, JPEG robustness") {
    val base = Multimodal.encodeBmpGray(64, 64, imgPix(7))
    // 2x nearest-neighbor upscale: pHash EXACTLY invariant (power-of-2
    // grid boundaries align; fixed-point means identical); dHash's 9-wide
    // grid has a few boundary pixels shift cells -> hamming stays tiny
    val up = Multimodal.encodeBmpGray(128, 128, (x, y) => imgPix(7)(x / 2, y / 2))
    assert(bandsOf(up, "phash").toSeq === bandsOf(base, "phash").toSeq)
    assert(ham(bandsOf(up, "dhash"), bandsOf(base, "dhash")) <= 6)
    // +7 uniform brightness: gradient signs and non-DC DCT shape survive
    val bright = Multimodal.encodeBmpGray(64, 64, (x, y) => imgPix(7)(x, y) + 7)
    assert(ham(bandsOf(bright, "dhash"), bandsOf(base, "dhash")) <= 2)
    assert(ham(bandsOf(bright, "phash"), bandsOf(base, "phash")) <= 4)
    // lossless PNG re-encode: identical pixels -> identical bands, exactly
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val png = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", png)
    assert(bandsOf(png.toByteArray, "dhash").toSeq === bandsOf(base, "dhash").toSeq)
    assert(bandsOf(png.toByteArray, "phash").toSeq === bandsOf(base, "phash").toSeq)
    // lossy JPEG re-encode: hamming small, and FAR below an unrelated pair
    val jpg = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jpg)
    val other = Multimodal.encodeBmpGray(64, 64, imgPix(8))
    val jd = ham(bandsOf(jpg.toByteArray, "dhash"), bandsOf(base, "dhash"))
    val od = ham(bandsOf(other, "dhash"), bandsOf(base, "dhash"))
    assert(jd <= 12, s"jpeg dhash hamming $jd")
    assert(od > 12 && jd < od, s"unrelated dhash hamming $od vs jpeg $jd")
  }

  test("imageDedupStar: planted copies group to min-string-id rep; undecodable maps to itself") {
    import spark.implicits._
    def bmp(id: Long, sc: Int, db: Int): Array[Byte] =
      Multimodal.encodeBmpGray(64 * sc, 64 * sc, (x, y) => imgPix(id)(x / sc, y / sc) + db)
    val rows = Seq(
      (5L, bmp(5, 1, 0)), (6L, bmp(6, 1, 0)), (7L, bmp(7, 1, 0)),
      (105L, bmp(5, 2, 0)),            // resized copy of 5
      (205L, bmp(5, 1, 7)),            // brightness copy of 5
      (9L, "not an image".getBytes("UTF-8")))
    val out = graft.pipeline.Dedup.imageDedupStar(
        rows.toDF("img_id", "payload"), "payload", "img_id", "dhash", maxDist = 6)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("105") === out("5") && out("205") === out("5"), s"copies split: $out")
    assert(out("5") === "105", s"min STRING id rep expected '105': ${out("5")}")
    assert(out("6") === "6" && out("7") === "7", s"unrelated merged: $out")
    assert(out("9") === "9", "undecodable must map to itself")
  }

  test("multimodal: deterministic nearest-neighbor resize preserves quadrant colors") {
    import spark.implicits._
    // 4x4 image: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val src = bos.toByteArray
    val small = Multimodal.resizeImage(src, 2, 2).get
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(small))
    assert(dec.getWidth === 2 && dec.getHeight === 2)
    assert((dec.getRGB(0, 0) & 0xffffff) === 0xff0000, "left stays red")
    assert((dec.getRGB(1, 1) & 0xffffff) === 0x0000ff, "right stays blue")
    // upscale is deterministic too: every pixel maps to an exact source px
    val big = Multimodal.resizeImage(src, 8, 8).get
    val bigDec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(big))
    assert((bigDec.getRGB(0, 0) & 0xffffff) === 0xff0000)
    assert((bigDec.getRGB(7, 7) & 0xffffff) === 0x0000ff)
    // Spark plumbing: batch resize routes decodable payloads, nulls the rest
    val df = Seq((1L, src), (2L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val out = Multimodal.resizeImages(spark, df, "doc_id", "payload", 2, 2)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).isDefined && out(2L).isEmpty)
    val viaDf = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).get.asInstanceOf[Array[Byte]]))
    assert(viaDf.getWidth === 2 && (viaDf.getRGB(0, 0) & 0xffffff) === 0xff0000)
  }

  test("multimodal: WAV payloads decode to REAL signal statistics via javax.sound") {
    import spark.implicits._
    // 0.1s of a 440 Hz sine at 8 kHz, 16-bit mono PCM, amplitude 0.5
    val rate = 8000f
    val nFrames = 800
    val wav = TestWav.fromShorts(Array.tabulate(nFrames)(i =>
      (0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toLong), 1, rate)
    val f = Multimodal.decodeAudio(wav).get
    assertRtol(f(0), 0.1, 1e-3, "duration")          // 800 frames / 8 kHz
    assert(f(1) === 1.0f && f(2) === 8000.0f)        // mono, sample rate
    assertRtol(f(3), 0.5 / math.sqrt(2), 2e-2, "sine RMS = A/sqrt(2)")
    assertRtol(f(4), 2 * 440.0 / 8000, 0.1, "zcr ~ 2f/Fs")
    // and the batch extractor routes WAV through the audio decoder
    val df = Seq((7L, wav)).toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(spark, df, "doc_id", "payload")
      .collect().head.getSeq[Float](1)
    assert(feats === f.toSeq)
  }

  test("multimodal: MP4/FLAC/MP3 container metadata parses for REAL from bytes") {
    import spark.implicits._
    // --- hand-built ISO-BMFF: ftyp + moov(mvhd ts=1000 dur=5000, trak(tkhd 640x360))
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 100)
    def box(size: Int, typ: String): Unit = { bb.putInt(size); bb.put(typ.getBytes("US-ASCII")) }
    box(16, "ftyp"); bb.put("isom".getBytes); bb.putInt(0)
    box(8 + 108 + 100, "moov")
    box(108, "mvhd"); bb.putInt(0)                    // version 0 + flags
    bb.putInt(0); bb.putInt(0)                        // ctime, mtime
    bb.putInt(1000); bb.putInt(5000)                  // timescale, duration
    bb.position(bb.position + 108 - 8 - 20)           // rest of mvhd body
    box(100, "trak")
    box(92, "tkhd"); bb.putInt(0)                     // version 0 + flags
    bb.position(bb.position + 72)                     // body up to width
    bb.putInt(640 << 16); bb.putInt(360 << 16)        // 16.16 fixed w, h
    val mp4 = bb.array()
    val (mk, mf) = Multimodal.parseContainerMeta(mp4).get
    assert(mk === "mp4")
    assert(mf(0) === 5.0f && mf(1) === 640.0f && mf(2) === 360.0f && mf(3) === 1.0f)

    // --- hand-built FLAC STREAMINFO: 44100 Hz stereo, 88200 samples (2 s)
    val fl = new Array[Byte](4 + 4 + 34)
    Array[Byte]('f', 'L', 'a', 'C', 0x00, 0x00, 0x00, 0x22).copyToArray(fl)
    fl(8 + 10) = 0x0a; fl(8 + 11) = 0xc4.toByte; fl(8 + 12) = 0x42 // rate|ch
    fl(8 + 14) = 0x00; fl(8 + 15) = 0x01; fl(8 + 16) = 0x58.toByte
    fl(8 + 17) = 0x88.toByte                                       // 88200
    val (fk, ff) = Multimodal.parseContainerMeta(fl).get
    assert(fk === "flac")
    assert(ff(3) === 2.0f && ff(4) === 44100.0f)
    assert(math.abs(ff(0) - 2.0f) < 1e-4)

    // --- hand-built MP3: three 128 kbps 44.1 kHz MPEG-1 Layer III frames
    val frameLen = 144 * 128000 / 44100                // 417, no padding
    val mp3 = new Array[Byte](frameLen * 3)
    for (f <- 0 until 3) {
      mp3(f * frameLen) = 0xff.toByte
      mp3(f * frameLen + 1) = 0xfb.toByte
      mp3(f * frameLen + 2) = 0x90.toByte              // brIdx 9, srIdx 0
    }
    val (ak, af) = Multimodal.parseContainerMeta(mp3).get
    assert(ak === "mp3")
    assert(af(4) === 44100.0f && af(5) === 128.0f)
    assert(math.abs(af(0) - 3 * 1152.0 / 44100) < 1e-4)

    // random bytes match NO container (the sync/magic gates hold)
    val rnd = Array.tabulate[Byte](600)(i => ((i * 37 + 11) % 251).toByte)
    assert(Multimodal.parseContainerMeta(rnd).isEmpty)

    // and the batch extractor routes containers through the real parser
    val feats = Multimodal.extractFeatures(spark,
        Seq((1L, mp4), (2L, fl), (3L, mp3)).toDF("doc_id", "payload"),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) === mf.toSeq && feats(2L) === ff.toSeq && feats(3L) === af.toSeq)
  }

  test("multimodal: FLAC samples decode for REAL (verbatim/fixed/rice/stereo)") {
    import spark.implicits._
    // minimal FLAC ENCODER: enough of the bitstream to produce legal
    // frames (CRC bytes zeroed — the decoder derives features, it does not
    // verify archival integrity)
    class BW {
      val buf = scala.collection.mutable.ArrayBuffer[Byte]()
      private var cur = 0; private var nb = 0
      def put(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          cur = (cur << 1) | ((v >>> i) & 1L).toInt; nb += 1
          if (nb == 8) { buf += cur.toByte; cur = 0; nb = 0 }
          i -= 1
        }
      }
      def align(): Unit = while (nb != 0) put(0, 1)
      def bytes: Array[Byte] = { align(); buf.toArray }
    }
    val rate = 8000; val bs = 64
    def streaminfo(w: BW, channels: Int, total: Long): Unit = {
      w.put(0x664c6143L, 32)              // fLaC
      w.put(0x80, 8); w.put(34, 24)       // last block, STREAMINFO, len 34
      w.put(bs, 16); w.put(bs, 16); w.put(0, 24); w.put(0, 24)
      w.put(rate, 20); w.put(channels - 1, 3); w.put(15, 5) // 16 bps
      w.put(total, 36); (0 until 16).foreach(_ => w.put(0, 8))
    }
    def frameHeader(w: BW, chAsgn: Int, frameNo: Int): Unit = {
      w.put(0x3ffe, 14); w.put(0, 1); w.put(0, 1)
      w.put(6, 4)                          // blockSize: 8-bit follows
      w.put(0, 4)                          // rate from STREAMINFO
      w.put(chAsgn, 4); w.put(4, 3); w.put(0, 1) // 16-bit, reserved
      w.put(frameNo, 8)                    // UTF-8 frame number (< 0x80)
      w.put(bs - 1, 8)                     // blockSize - 1
      w.put(0, 8)                          // CRC-8 (zeroed)
    }
    def verbatim(w: BW, s: Array[Long], bits: Int): Unit = {
      w.put(0, 1); w.put(1, 6); w.put(0, 1)
      s.foreach(v => w.put(v & ((1L << bits) - 1), bits))
    }
    def constant(w: BW, v: Long): Unit = {
      w.put(0, 1); w.put(0, 6); w.put(0, 1); w.put(v & 0xffffL, 16)
    }
    def fixed2Rice(w: BW, s: Array[Long], k: Int): Unit = {
      w.put(0, 1); w.put(8 + 2, 6); w.put(0, 1)   // FIXED order 2
      w.put(s(0) & 0xffffL, 16); w.put(s(1) & 0xffffL, 16)
      w.put(0, 2); w.put(0, 4); w.put(k, 4)       // RICE, 1 partition
      (2 until s.length).foreach { i =>
        val e = s(i) - (2 * s(i - 1) - s(i - 2))
        val u = (e << 1) ^ (e >> 63)              // zigzag
        val q = (u >>> k).toInt
        (0 until q).foreach(_ => w.put(0, 1)); w.put(1, 1)
        if (k > 0) w.put(u & ((1L << k) - 1), k)
      }
    }
    def endFrame(w: BW): Unit = { w.align(); w.put(0, 16) } // CRC-16 (zeroed)
    // reference feature computation (mirrors the decodeAudio stat loop)
    def stats(inter: Array[Double], channels: Int): Array[Float] = {
      var sumSq = 0.0; var sumAbs = 0.0; var sum = 0.0
      var peak = 0.0; var zc = 0L; var prevNeg = false
      inter.zipWithIndex.foreach { case (s, i) =>
        sumSq += s * s; sumAbs += math.abs(s); sum += s
        if (math.abs(s) > peak) peak = math.abs(s)
        val neg = s < 0
        if (i > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
      }
      val n = inter.length
      Array((n / channels.toDouble / rate).toFloat, channels.toFloat, rate.toFloat,
        math.sqrt(sumSq / n).toFloat, (zc.toDouble / n).toFloat, peak.toFloat,
        (sumAbs / n).toFloat, (sum / n).toFloat)
    }

    // --- stream A: stereo; frame 0 verbatim L/R, frame 1 LEFT/SIDE
    val left1 = Array.tabulate(bs)(i => (8000 * math.sin(2 * math.Pi * 440 * i / rate)).toLong)
    val right1 = Array.tabulate(bs)(i => (i * 100 - 3000).toLong)
    val left2 = Array.tabulate(bs)(i => (4000 * math.sin(2 * math.Pi * 880 * i / rate)).toLong)
    val right2 = Array.tabulate(bs)(i => left2(i) - (i % 7) + 3) // small side
    val wa = new BW
    streaminfo(wa, 2, 2L * bs)
    frameHeader(wa, 1, 0); verbatim(wa, left1, 16); verbatim(wa, right1, 16); endFrame(wa)
    frameHeader(wa, 8, 1)                        // left/side
    verbatim(wa, left2, 16)
    verbatim(wa, Array.tabulate(bs)(i => left2(i) - right2(i)), 17) // side, 17 bits
    endFrame(wa)
    val fa = Multimodal.decodeFlac(wa.bytes).get
    val interA = (0 until bs).flatMap(i => Seq(left1(i), right1(i))).toArray ++
      (0 until bs).flatMap(i => Seq(left2(i), right2(i)))
    val expA = stats(interA.map(_ / 32768.0), 2)
    fa.zip(expA).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"stream A feature $i: $g vs $e") }
    // independent cross-check: the JDK's WAV decoder on the same samples
    val fw = Multimodal.decodeAudio(TestWav.fromShorts(interA, 2, rate.toFloat)).get
    fa.zip(fw).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"FLAC vs WAV feature $i: $g vs $e") }

    // --- stream B: mono; frame 0 FIXED order-2 + Rice, frame 1 CONSTANT
    val ramp = Array.tabulate(bs)(i => (i * i / 4 - 200 + (i % 5)).toLong)
    val wb = new BW
    streaminfo(wb, 1, 2L * bs)
    frameHeader(wb, 0, 0); fixed2Rice(wb, ramp, 3); endFrame(wb)
    frameHeader(wb, 0, 1); constant(wb, -1234L); endFrame(wb)
    val fb = Multimodal.decodeFlac(wb.bytes).get
    val interB = ramp ++ Array.fill(bs)(-1234L)
    val expB = stats(interB.map(_ / 32768.0), 1)
    fb.zip(expB).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"stream B feature $i: $g vs $e") }

    // the batch extractor routes full FLAC streams through the PCM decoder
    val feats2 = Multimodal.extractFeatures(spark,
        Seq((9L, wa.bytes)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head.getSeq[Float](1)
    assert(feats2 === fa.toSeq)
  }

  test("native cosine_similarity expression: eval, codegen, SQL, parity with HOF version") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pair = e.limit(1).select(col("embedding").as("a"))
      .crossJoin(e.orderBy(col("vec_id").desc).limit(1).select(col("embedding").as("b")))
    val native = pair.select(
      graft.functions.GraftFunctions.cosine_similarity(spark, col("a"), col("b"))).head.getDouble(0)
    val viaSql = pair.selectExpr("cosine_similarity(a, b)").head.getDouble(0)
    val hof = pair.select(
      (Similarity.dot(col("a"), col("b")) / (Similarity.norm(col("a")) * Similarity.norm(col("b"))))).head.getDouble(0)
    assertRtol(native, hof, 1e-12, "native vs HOF")
    assert(native === viaSql)
    // width polymorphism: array<double> inputs work (generator-vintage
    // guard, EntryCompatSpec) and match the float-path value
    val dbl = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val gotD = dbl.selectExpr("cosine_similarity(a, b)").head.getDouble(0)
    assertRtol(gotD, 11.0 / (math.sqrt(5) * 5), 1e-12, "double-width cosine")
    // mixed widths also resolve (each side picks its own accessor)
    val mixed = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
    assertRtol(mixed.selectExpr("cosine_similarity(a, b)").head.getDouble(0),
      gotD, 1e-6, "mixed-width cosine")
    // type checking still rejects non-numeric arrays
    val bad = Seq((Array("x"), Array("y"))).toDF("a", "b")
    intercept[Exception] { bad.selectExpr("cosine_similarity(a, b)").head }
  }

  test("multimodal: committed sample.flac fixture decodes to its known samples (WAV cross-check)") {
    // the fixture feeding the driver-visible multimodal_features query:
    // decodeFlac on the committed bytes must equal the JDK WAV decoder on
    // the same 16-bit samples (independent decode path)
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/fixtures/sample.flac")
      assert(in != null, "missing committed sample.flac — run Test/runMain graft.FixtureGen")
      try in.readAllBytes() finally in.close()
    }
    // committed bytes == deterministic re-encode (catches fixture drift)
    assert(bytes.toSeq === FlacTestEncoder.encodeFixture().toSeq,
      "sample.flac drifted from FlacTestEncoder — regenerate and re-pin the oracle")
    val got = Multimodal.decodeFlac(bytes).get
    val exp = Multimodal.decodeAudio(TestWav.fromShorts(
      FlacTestEncoder.fixtureSamples, 1, FlacTestEncoder.rate.toFloat)).get
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) < 1e-6, s"fixture FLAC vs WAV feature $i: $g vs $e") }
  }

  test("htmlExtract: tags, script/style content, comments, entities") {
    import spark.implicits._
    val html = "<html><head><style>h1{x:1}</style><script src=\"a.js\"></script>" +
      "</head><body><!-- note --><h1 class=\"t\">Hello &amp; <b>world</b></h1>" +
      "<script>if (1 < 2) { alert(\"hi\"); }</script>" +
      "<p>a&nbsp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p>  </body></html>"
    val out = Seq(Tuple1(html)).toDF("h")
      .select(Text.htmlExtract(col("h"))).head.getString(0)
    assert(out === "Hello & world a b <tag> \"q\" 's'")
    // multiline script body with a closing-angle inside must still vanish
    val tricky = "<p>keep</p><script>\nvar s = '</p>';\n</script><p>tail</p>"
    val out2 = Seq(Tuple1(tricky)).toDF("h")
      .select(Text.htmlExtract(col("h"))).head.getString(0)
    assert(out2 === "keep tail")
  }

  test("dedupParagraphs: global first occurrence survives, later copies cut; all-dup doc keeps empty text") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta\n\nSHARED FOOTER\n\ngamma"),
      (2L, "delta\n\nshared   footer\n\nepsilon"), // normalizes equal -> cut
      (3L, "Shared Footer")                        // only para is a dup -> empty
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 0L, "alpha beta\n\nSHARED FOOTER\n\ngamma")),
      "first occurrence keeps everything")
    assert(out(2L) === ((3L, 1L, "delta\n\nepsilon")),
      "normalized-equal later copy is cut")
    assert(out(3L) === ((1L, 1L, "")),
      "a doc of only duplicate paragraphs survives with empty text")
  }

  test("knnClassify: planted clusters vote correctly; minority labels lose") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 1),
      (2L, Array(0.9f, 0.1f, 0.0f), 1),
      (3L, Array(0.95f, 0.05f, 0.0f), 1),
      (4L, Array(0.0f, 1.0f, 0.0f), 2),
      (5L, Array(0.1f, 0.9f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (100L, Array(1.0f, 0.05f, 0.0f)),
      (200L, Array(0.05f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnClassify(corpus, queries, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(100L) === ((1, 3L)), "all 3 nearest to q100 carry label 1")
    assert(out(200L)._1 === 2, "2-of-3 majority near q200 is label 2")
    // k=5 pulls in the whole corpus: q200 sees 3 votes for 1, 2 for 2 —
    // majority flips to the global majority label
    val all = Similarity.knnClassify(corpus, queries, k = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(all(200L) === 1, "k=corpus-size majority is the global label")
  }

  test("labelAuditFromGraph at full probe equals the brute-force audit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.knnLabelAudit(e, e, k = 5)
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    val model = Similarity.ivfTrain(e, nLists = 8)
    val assigned = Similarity.ivfAssign(model, e)
    val graph = Similarity.knnGraph(model, assigned, k = 5, nProbe = 8)
    val viaGraph = Similarity.labelAuditFromGraph(graph, e)
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGraph === brute,
      "full-probe graph audit must reproduce the exact audit")
  }

  test("sniffImageContainer + imageDecodeReport: detection separate from decodability") {
    import spark.implicits._
    val pix = (x: Int, y: Int) => (x * 20 + y) % 250
    val bmp = Multimodal.encodeBmpGray(8, 8, pix)
    val png = Multimodal.encodePngGray(8, 8, pix)
    val webp = Array[Byte]('R', 'I', 'F', 'F', 16, 0, 0, 0, 'W', 'E', 'B', 'P',
      'V', 'P', '8', ' ', 4, 0, 0, 0, 0, 0, 0, 0)
    val avif = Array[Byte](0, 0, 0, 24, 'f', 't', 'y', 'p', 'a', 'v', 'i', 'f',
      0, 0, 0, 0, 'm', 'i', 'f', '1', 'm', 'i', 'a', 'f')
    val badJpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++
      "corrupt jpeg body".getBytes("UTF-8")
    val text = "not an image payload at all".getBytes("UTF-8")
    val tiff = Array[Byte]('I', 'I', 0x2a, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    assert(Multimodal.sniffImageContainer(bmp) === "bmp")
    assert(Multimodal.sniffImageContainer(png) === "png")
    assert(Multimodal.sniffImageContainer(webp) === "webp")
    assert(Multimodal.sniffImageContainer(avif) === "avif")
    assert(Multimodal.sniffImageContainer(badJpg) === "jpeg")
    assert(Multimodal.sniffImageContainer(text) === "unknown")
    assert(Multimodal.sniffImageContainer(tiff) === "tiff")
    // HEIF brands (r17): explicit image brand and the mif1 structural brand
    val heic = Array[Byte](0, 0, 0, 24, 'f', 't', 'y', 'p', 'h', 'e', 'i', 'c',
      0, 0, 0, 0, 'm', 'i', 'f', '1', 'h', 'e', 'i', 'c')
    val mif1 = Array[Byte](0, 0, 0, 24, 'f', 't', 'y', 'p', 'm', 'i', 'f', '1',
      0, 0, 0, 0, 'm', 'i', 'f', '1', 'h', 'e', 'i', 'c')
    assert(Multimodal.sniffImageContainer(heic) === "heic")
    assert(Multimodal.sniffImageContainer(mif1) === "heic")
    assert(!Multimodal.imageDecodes(heic), "no HEVC codec — counted, not decoded")
    // a WAV is RIFF but NOT an image container
    assert(Multimodal.sniffImageContainer(Array[Byte]('R', 'I', 'F', 'F',
      16, 0, 0, 0, 'W', 'A', 'V', 'E')) === "unknown")
    assert(Multimodal.imageDecodes(bmp) && Multimodal.imageDecodes(png))
    // a garbage/truncated VP8 chunk still fails cleanly (gated, no throw)
    assert(!Multimodal.imageDecodes(webp) && !Multimodal.imageDecodes(avif))
    assert(!Multimodal.imageDecodes(badJpg) && !Multimodal.imageDecodes(text))
    // PNG is lossless: lumaGrid recovers the generative pixels exactly
    val Some((w, h, sums, _)) = Multimodal.lumaGrid(png, 8, 8)
    assert(w === 8 && h === 8)
    assert(sums(2 * 8 + 3) === 1000L * pix(3, 2), "luma = 1000·v for gray")
    val rep = Multimodal.imageDecodeReport(
        Seq((0L, bmp), (1L, png), (2L, webp), (3L, badJpg), (4L, avif),
          (5L, text), (6L, bmp)).toDF("img_id", "payload"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rep("bmp") === ((2L, 2L, 0L)))
    assert(rep("png") === ((1L, 1L, 0L)))
    assert(rep("webp") === ((1L, 0L, 1L)))
    assert(rep("jpeg") === ((1L, 0L, 1L)))
    assert(rep("avif") === ((1L, 0L, 1L)))
    assert(rep("unknown") === ((1L, 0L, 1L)))
  }

  test("imageDims: header-only dims for every sniffable container, no codec") {
    val pix = (x: Int, y: Int) => (x * 20 + y) % 250
    // encoders: BMP/PNG/TIFF real, VP8L in-house, lossy VP8 real fixture
    assert(Multimodal.imageDims(Multimodal.encodeBmpGray(13, 9, pix)) === Some((13, 9)))
    assert(Multimodal.imageDims(Multimodal.encodePngGray(13, 9, pix)) === Some((13, 9)))
    val tiff = Multimodal.encodeTiffGray(13, 9, pix)
    assert(Multimodal.sniffImageContainer(tiff) === "tiff")
    assert(Multimodal.imageDims(tiff) === Some((13, 9)))
    // TIFF also DECODES through the ImageIO path (JDK 9+ bundled plugin)
    val Some((tw, th, tpx)) = Multimodal.decodeArgbPixels(tiff)
    assert(tw === 13 && th === 9)
    assert((tpx(2 * 13 + 3) & 0xff) === pix(3, 2), "baseline TIFF is lossless")
    val vp8l = graft.pipeline.Vp8lEncoder.encode(13, 9, Array.tabulate(13 * 9)(i =>
      0xff000000 | (pix(i % 13, i / 13) * 0x010101)))
    assert(Multimodal.imageDims(vp8l) === Some((13, 9)))
    // real libwebp files: simple VP8 frame header and VP8X canvas
    def res(n: String) = {
      val in = getClass.getResourceAsStream(n)
      try in.readAllBytes() finally in.close()
    }
    assert(Multimodal.imageDims(res("/graft/fixtures/lossy_vp8.webp")) === Some((64, 48)))
    assert(Multimodal.imageDims(res("/webp/python_vp8x_lossy.webp")) === Some((16, 16)))
    // GIF logical screen
    val gif = "GIF89a".getBytes("ISO-8859-1") ++
      Array[Byte](0x0d, 0, 0x09, 0, 0, 0, 0)
    assert(Multimodal.imageDims(gif) === Some((13, 9)))
    // hand-built JPEG: SOI, APP0, SOF0(h=9, w=13) — the marker scan
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte, 0, 4, 'J', 'F',
      0xff.toByte, 0xc0.toByte, 0, 17, 8, 0, 9, 0, 13, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    assert(Multimodal.imageDims(jpeg) === Some((13, 9)))
    // corrupt JPEG (no SOF) and non-image bytes -> None
    assert(Multimodal.imageDims(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte) ++ "junk".getBytes) === None)
    assert(Multimodal.imageDims("plain text".getBytes) === None)
    // ISO-BMFF ispe walk (AVIF + HEIC), with an hdlr sibling to skip
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def box(name: String, payload: Array[Byte]) =
      be32(8 + payload.length) ++ name.getBytes("ISO-8859-1") ++ payload
    def bmff(brand: String, w: Int, h: Int) = {
      val ftyp = box("ftyp", brand.getBytes("ISO-8859-1") ++ be32(0) ++
        "mif1".getBytes("ISO-8859-1"))
      val hdlr = box("hdlr", be32(0) ++ be32(0) ++
        "pict".getBytes("ISO-8859-1") ++ new Array[Byte](12))
      val ispe = box("ispe", be32(0) ++ be32(w) ++ be32(h))
      ftyp ++ box("meta", be32(0) ++ hdlr ++ box("iprp", box("ipco", ispe)))
    }
    assert(Multimodal.sniffImageContainer(bmff("avif", 123, 77)) === "avif")
    assert(Multimodal.imageDims(bmff("avif", 123, 77)) === Some((123, 77)))
    assert(Multimodal.sniffImageContainer(bmff("heic", 222, 150)) === "heic")
    assert(Multimodal.imageDims(bmff("heic", 222, 150)) === Some((222, 150)))
    // truncated ispe / missing meta -> clean None
    assert(Multimodal.imageDims(box("ftyp", "avif".getBytes ++ be32(0) ++
      "mif1".getBytes) ++ box("meta", be32(0))) === None)
  }

  test("lossy VP8 webp joins the image family: decode, dhash literals, identical-twin merge") {
    import spark.implicits._
    // the committed REAL libwebp-encoded lossy fixture (vp8_photo_q1)
    val in = getClass.getResourceAsStream("/graft/fixtures/lossy_vp8.webp")
    assert(in != null, "missing lossy_vp8.webp fixture")
    val lossy = try in.readAllBytes() finally in.close()
    assert(Multimodal.sniffImageContainer(lossy) === "webp")
    assert(Multimodal.imageDecodes(lossy), "real lossy VP8 must decode (r17)")
    val Some((w, h, px)) = Multimodal.decodeArgbPixels(lossy)
    assert(w === 64 && h === 48)
    assert(px.forall(p => (p >>> 24) == 255), "simple VP8 has no alpha chunk")
    // engine dhash bands equal the INDEPENDENT derivation from libwebp's
    // own yuv dump (tools/lossy_fixture_dhash.py — the oracle's literals)
    val sig = Dedup.imageSignatures(
        Seq(("f1", lossy)).toDF("id", "payload"), "payload", "id")
      .collect().head
    assert((sig.getLong(1), sig.getLong(2), sig.getLong(3), sig.getLong(4)) ===
      ((31675L, 281L, 56472L, 33885L)),
      "engine dhash must match the libwebp-yuv-derived literals")
    // byte-identical lossy twins merge under imageDedupStar (maxDist 0)
    val corpus = Seq(("a", lossy), ("b", lossy),
      ("c", Multimodal.encodeBmpGray(16, 16, (x, y) => (x * 7 + y) % 250)))
      .toDF("img_id", "payload")
    val comp = Dedup.imageDedupStar(corpus, "payload", "img_id", "dhash",
        maxDist = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("a") === "a" && comp("b") === "a", "lossy twins merge")
    assert(comp("c") === "c", "unrelated bmp stays its own component")
  }

  test("VP8L webp joins the image family: decode report, lumaGrid parity, cross-format dedup") {
    import spark.implicits._
    val pix = (x: Int, y: Int) => (x * 13 + y * 29 + 5) % 256
    // 16x16: the dhash 9x8 grid needs width >= 9
    val argb = Array.tabulate(16 * 16) { i =>
      val p = pix(i % 16, i / 16)
      0xff000000 | (p << 16) | (p << 8) | p
    }
    val webp = graft.pipeline.Vp8lEncoder.encode(16, 16, argb)
    val bmp = Multimodal.encodeBmpGray(16, 16, pix)
    assert(Multimodal.sniffImageContainer(webp) === "webp")
    assert(Multimodal.imageDecodes(webp), "lossless VP8L decodes for real")
    // bit-exact pixel parity across containers: identical luma grids
    assert(Multimodal.lumaGrid(webp, 9, 8).get._3.toSeq ===
      Multimodal.lumaGrid(bmp, 9, 8).get._3.toSeq)
    // ... so the image dedup star merges the cross-FORMAT pair
    val star = Dedup.imageDedupStar(
        Seq((1L, bmp), (2L, webp)).toDF("img_id", "payload"),
        "payload", "img_id", "dhash", maxDist = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(star("1") === "1" && star("2") === "1",
      s"BMP and VP8L of the same pixels must group: $star")
    // decodeImage features flow too (bands = 4 on the ARGB webp path)
    val f = Multimodal.decodeImage(webp).get
    assert(f(0) === 16.0f && f(1) === 16.0f && f(2) === 4.0f)
  }

  test("knnGraph pre-flight gate refuses past graft.ann.maxGraphCandidates") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.ivfTrain(e, nLists = 8)
    val assigned = Similarity.ivfAssign(model, e).localCheckpoint()
    spark.conf.set("graft.ann.maxGraphCandidates", "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.knnGraph(model, assigned, k = 3, nProbe = 2)
      }
      assert(ex.getMessage.contains("graft.ann.maxGraphCandidates"),
        s"refusal must name the cap conf: ${ex.getMessage}")
      assert(ex.getMessage.contains("ivfTrainScaled"),
        s"refusal must name the nLists-∝-corpus remedy: ${ex.getMessage}")
      // malformed conf value fails with the shared descriptive parse error
      spark.conf.set("graft.ann.maxGraphCandidates", " 1G ")
      val bad = intercept[IllegalArgumentException] {
        Similarity.knnGraph(model, assigned, k = 3, nProbe = 2)
      }
      assert(bad.getMessage.contains("must be a positive integer"))
    } finally spark.conf.unset("graft.ann.maxGraphCandidates")
    // back under the default cap the same call runs
    assert(Similarity.knnGraph(model, assigned, k = 3, nProbe = 2).count() > 0)
  }

  test("ivfTrainScaled derives nLists from the corpus and bounds the train sample") {
    import spark.implicits._
    // 4000 vectors / 200 per list = 20 lists; trainBudget below 8·nLists
    // is raised to it (seeds must stay satisfiable), sampling ~160 of 4000
    val big = spark.range(4000).map(i => (i, Array(
        (i % 7).toFloat, (i % 11).toFloat, (i % 13).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val m = Similarity.ivfTrainScaled(big, vectorsPerList = 200, trainBudget = 100)
    assert(m.nLists === 20, "4000/200 lists")
    // below minLists·vectorsPerList the floor holds — and matches the
    // r15-and-earlier fixed config, which is what keeps the sf0.01
    // oracle replay (500 vectors -> 16 lists, full train) hash-stable
    val small = big.filter(col("vec_id") < 500)
    assert(Similarity.ivfTrainScaled(small, vectorsPerList = 200).nLists === 16,
      "minLists floor")
  }

  test("array-input native expressions codegen over NON-NULLABLE children and null dim mismatches") {
    // array(lit...) children are non-nullable: with inherited nullability
    // the generated `ev.isNull = true` referenced an undeclared variable,
    // failing codegen compile (silent interpreted fallback in production;
    // fatal here since the test session sets codegen.fallback=false)
    val one = spark.range(1).toDF("i")
    val v2 = array(lit(1.0f), lit(0.0f))
    val v2b = array(lit(0.6f), lit(0.8f))
    val cos = one.select(graft.functions.GraftFunctions
      .cosine_similarity(spark, v2, v2b).as("c")).head.getDouble(0)
    assertRtol(cos, 0.6, 1e-6, "cosine over literal arrays (float inputs)")
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("t_hyper",
      exprs => graft.functions.HyperplaneSignature(exprs.head, planes), "scala_udf")
    reg.createOrReplaceTempFunction("t_near",
      exprs => graft.functions.NearestLists(
        exprs.head, Seq(Seq(0.0, 0.0), Seq(1.0, 0.0)), 1), "scala_udf")
    val sig = one.select(call_function("t_hyper", v2).as("s")).head.getLong(0)
    assert(sig === 3L, "both projections non-negative -> both bits set")
    val nl = one.select(call_function("t_near", v2).as("n")).head.getSeq[Int](0)
    assert(nl === Seq(1), "nearest centroid is (1,0)")
    // dimension mismatch -> null, even though the child is non-nullable
    val wrongDim = array(lit(1.0f), lit(2.0f), lit(3.0f))
    val row = one.select(
      call_function("t_hyper", wrongDim).as("s"),
      call_function("t_near", wrongDim).as("n"),
      graft.functions.GraftFunctions.cosine_similarity(spark, v2, wrongDim).as("c")).head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2),
      "dim mismatch must yield null, not garbage")
  }

  test("collocations: PMI matches a hand computation; rare pairs pruned") {
    import spark.implicits._
    // "new york" appears 4x; "a b" appears 4x but from independent frequent
    // words; singleton pair "rare pair" is pruned by minCount
    val df = Seq(
      (0L, "new york a b a b"),
      (1L, "new york a b a b"),
      (2L, "new york rare pair"),
      (3L, "new york b a")).toDF("doc_id", "text")
    val out = Text.collocations(df, "text", minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(!out.contains(("rare", "pair")), "minCount must prune singletons")
    val words = Seq("new york a b a b", "new york a b a b",
      "new york rare pair", "new york b a").flatMap(_.split(" "))
    val nw = words.size.toDouble
    val bigrams = Seq("new york a b a b", "new york a b a b",
      "new york rare pair", "new york b a")
      .flatMap(s => s.split(" ").sliding(2).map(a => (a(0), a(1))))
    val nb = bigrams.size.toDouble
    def pmiOf(x: String, y: String): Double = {
      val cxy = bigrams.count(_ == ((x, y))).toDouble
      val cx = words.count(_ == x).toDouble
      val cy = words.count(_ == y).toDouble
      math.log((cxy / nb) / ((cx / nw) * (cy / nw)))
    }
    val (nxy, nx, ny, pmi) = out(("new", "york"))
    assert(nxy === 4L && nx === 4L && ny === 4L)
    assertRtol(pmi, pmiOf("new", "york"), 1e-6, "pmi new york")
    // "new york" (always adjacent) must outscore "a b" (frequent words)
    assert(pmi > out(("a", "b"))._4)
    assertRtol(out(("a", "b"))._4, pmiOf("a", "b"), 1e-6, "pmi a b")
  }

  test("centroids: per-group mean vectors match a hand computation") {
    import spark.implicits._
    val df = Seq(
      ("a", Array(1.0f, 2.0f, 3.0f)),
      ("a", Array(3.0f, 4.0f, 5.0f)),
      ("b", Array(10.0f, 0.0f, -2.0f))).toDF("label", "embedding")
    val out = Similarity.centroids(df, "label").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2).toSeq))).toMap
    assert(out("a")._1 === 2L)
    assert(out("a")._2 === Seq(2.0, 3.0, 4.0))
    assert(out("b")._1 === 1L)
    assert(out("b")._2 === Seq(10.0, 0.0, -2.0))
  }

  test("knnGraph: full probe equals the exact brute-force neighbor graph") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 120)
    val model = Similarity.ivfTrain(e, nLists = 6)
    val assigned = Similarity.ivfAssign(model, e)
    val full = Similarity.knnGraph(model, assigned, k = 3, nProbe = model.nLists)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = Similarity.bruteForceTopK(e, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full === exact, "full-probe knnGraph must equal brute force")
    // pruned probe keeps high recall on real embeddings (nProbe=3 of 6
    // lists: the deterministic first-k-seeded Lloyd quantizer — the price
    // of the hash-proven ann_* oracles — trades a little per-probe recall
    // vs kmeans||, recovered by one extra probe; recall-per-probe is the
    // standard ANN knob)
    val pruned = Similarity.knnGraph(model, assigned, k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2))
    val recall = exactPairs.count(pruned.contains).toDouble / exactPairs.size
    assert(recall > 0.7, s"knnGraph recall@3 with nProbe=3 was $recall")
  }

  test("ngramContainment: short-in-long embedding scores ~1 one way, jaccard stays low") {
    import spark.implicits._
    val short = "alpha beta gamma delta"
    val long = short + " " + (1 to 40).map(i => s"word$i").mkString(" ")
    val df = Seq((0L, short), (1L, long), (2L, "unrelated text entirely")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id1", "id2")
    val out = Dedup.ngramContainment(spark, df, pairs, "text", "doc_id", shingleK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (c1, c2, j) = out((0L, 1L))
    assert(c1 === 1.0, "short doc fully contained in long")
    assert(c2 < 0.25 && j < 0.25, "jaccard/reverse-containment diluted by length gap")
    val (u1, _, uj) = out((0L, 2L))
    assert(u1 < 0.2 && uj < 0.1)
    // parity: jaccard from containment path equals ngramJaccard's
    val viaJ = Dedup.ngramJaccard(spark, df, pairs, "text", "doc_id", shingleK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(viaJ((0L, 1L)) - j) < 1e-12)
  }

  test("kmeans: Lloyd loop separates planted blobs; assignment is the exact argmin") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // ids 0 and 1 sit in DIFFERENT blobs so the deterministic first-k
    // seeding starts with one center per blob
    def pt(cx: Double, cy: Double) =
      Array((cx + rnd.nextGaussian() * 0.1).toFloat, (cy + rnd.nextGaussian() * 0.1).toFloat)
    val rows = ((0L, pt(0, 0)) +: (1L, pt(10, 10)) +:
      ((2 until 60).map(i => (i.toLong,
        if (i % 2 == 0) pt(0, 0) else pt(10, 10)))))
    val df = rows.toDF("vec_id", "embedding")
    val (centers, assigned) = Similarity.kmeans(df, k = 2, iters = 5)
    val got = assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("cluster_id"))).toMap
    (0 until 60).foreach { i =>
      val want = if (i <= 1) i else i % 2
      assert(got(i.toLong) === (if (want == 0) 0 else 1), s"vec $i")
    }
    // converged centers land on the blob means
    assert(math.abs(centers(0)(0)) < 0.2 && math.abs(centers(1)(0) - 10) < 0.2)
    // assignment is the brute-force argmin over the final centers
    val local = df.collect().map { r =>
      val v = r.getSeq[Float](1)
      val d = centers.map(c => c.indices.map(j => (v(j) - c(j)) * (v(j) - c(j))).sum)
      r.getLong(0) -> d.indexOf(d.min)
    }.toMap
    assert(local === got)
  }

  test("kmeans: empty clusters keep their previous center; k never shrinks") {
    import spark.implicits._
    val df = (0 until 5).map(i => (i.toLong, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    // both seeds identical -> ties all go to cluster 0, cluster 1 never wins
    val (centers, assigned) = Similarity.kmeans(df, k = 2, iters = 3)
    assert(centers.length === 2)
    assert(centers(1).toSeq === Seq(5.0, 5.0))
    assert(assigned.select("cluster_id").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(0))
  }

  test("tfidfTopK matches the smooth-idf formula from first principles") {
    import spark.implicits._
    val df = Seq(
      (0L, "apple apple banana"),
      (1L, "apple cherry"),
      (2L, "banana cherry cherry")).toDF("doc_id", "text")
    val out = Text.tfidfTopK(df, "text", "doc_id", topK = 2).collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("rank"))) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(r.fieldIndex("tfidf")))))
      .toMap
    val idf = math.log(4.0 / 3.0) + 1.0 // every term appears in 2 of 3 docs
    // d0: apple tf=2 beats banana tf=1
    assert(out((0L, 1))._1 === "apple" && out((0L, 1))._2 === 2L && out((0L, 1))._3 === 2L)
    assertRtol(out((0L, 1))._4, 2.0 * idf, 1e-12, "d0 apple tfidf")
    assert(out((0L, 2))._1 === "banana")
    // d1: tie on tf=1 breaks alphabetically
    assert(out((1L, 1))._1 === "apple" && out((1L, 2))._1 === "cherry")
    // d2: cherry tf=2 first
    assert(out((2L, 1))._1 === "cherry")
    assertRtol(out((2L, 1))._4, 2.0 * idf, 1e-12, "d2 cherry tfidf")
    // minDf prunes: a hapax term never appears
    val pruned = Text.tfidfTopK(df, "text", "doc_id", topK = 2, minDf = 3L)
    assert(pruned.count() === 0)
  }

  test("heavyHitters: exact parity with GROUP BY + HAVING on an adversarial spread") {
    import spark.implicits._
    // worst case for the pigeonhole: the phi-heavy words are spread EVENLY
    // across many partitions (no partition sees them concentrated), the
    // tail is a sea of distinct singletons that churns the summaries
    val rng = new scala.util.Random(3)
    val rows = (0 until 20000).map { i =>
      val w =
        if (i % 50 == 0) "heavy" + (i % 3)            // three words at exactly 1/150 each
        else if (i % 97 == 0) "medium" + (i % 5)
        else "tail" + i                               // all-distinct tail
      (i.toLong, w + " " + "tail2_" + rng.nextInt(1000000))
    }
    val df = rows.toDF("id", "text").repartition(16)
    val phi = 1.0 / 500
    val got = Text.heavyHitters(df, "text", phi).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = df.select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val total = words.count()
    val thr = math.ceil(phi * total).toLong
    val want = words.groupBy("w").count().filter(col("count") >= thr)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want, s"threshold=$thr total=$total")
    assert(got.nonEmpty, "the planted heavy words must clear the threshold")
  }

  test("heavyHitters: boundary frequency exactly phi*N survives; empty corpus; bad phi") {
    import spark.implicits._
    // 100 tokens, phi=0.05 -> threshold 5; one word at EXACTLY 5
    val text = (Seq.fill(5)("edge") ++ (0 until 95).map("t" + _)).mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text").repartition(4)
    val out = Text.heavyHitters(df, "text", 0.05).collect()
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap === Map("edge" -> 5L))
    val empty = Text.heavyHitters(Seq.empty[(Long, String)].toDF("id", "text"), "text", 0.1)
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("word", "tf"))
    intercept[IllegalArgumentException](Text.heavyHitters(df, "text", 0.0))
    intercept[IllegalArgumentException](Text.heavyHitters(df, "text", 1.0))
  }

  test("keepBest: quality argmax keeper, string-id tie break, singleton passthrough, null quality") {
    import spark.implicits._
    val docs = Seq(
      (9L,  "aaaa bbbb", 10),   // cluster A member (len 9)
      (10L, "aaaa bbbb cc", 0), // cluster A member (len 12) -> keeper
      (11L, "aaaa bb", 0),      // cluster A member (len 7)
      (20L, "same length", 0),  // cluster B: equal quality ->
      (21L, "same length", 0),  //   min STRING id "20" wins
      (30L, "loner document", 0)
    ).toDF("doc_id", "text", "junk")
    val comps = Seq(("9", "9"), ("10", "9"), ("11", "9"), ("20", "20"), ("21", "20"))
      .toDF("id", "component")
    val out = Dedup.keepBest(docs, comps, "doc_id",
      length(Text.normalized(col("text"))))
    val kept = out.select(col("doc_id"), col("component")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept === Map(10L -> "9", 20L -> "20", 30L -> "30"))
    // original columns survive alongside the component tag
    assert(out.columns.toSet === Set("doc_id", "text", "junk", "component"))
    // an all-null-quality cluster falls back to the min-string-id keeper
    val nulls = Seq((5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ncomp = Seq(("5", "5"), ("6", "5")).toDF("id", "component")
    val nk = Dedup.keepBest(nulls, ncomp, "doc_id", length(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nk === Set(5L))
  }

  test("randomProjection: matches a driver-side dot product; dim mismatch and null element -> null") {
    import spark.implicits._
    val planes = Similarity.hyperplanes(dim = 4, bits = 3, seed = 7L)
    val v = Array(0.5f, -1.25f, 2.0f, 0.125f)
    val df = Seq(Tuple1(v)).toDF("emb")
    val projOf = Similarity.randomProjection(dim = 4, outDim = 3, seed = 7L)
    val got = df.select(projOf(col("emb")).as("p")).head().getSeq[Double](0)
    val want = planes.map(row => row.zip(v.map(_.toDouble)).map { case (w, x) => w * x }.sum)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
    // wrong input dimension -> null row, not a truncated projection
    val short = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("emb")
    assert(short.select(projOf(col("emb")).as("p")).head().isNullAt(0))
    val withNull = Seq(Tuple1(Array[java.lang.Float](1.0f, null, 3.0f, 4.0f)))
      .toDF("emb")
    assert(withNull.select(projOf(col("emb")).as("p")).head().isNullAt(0))
  }

  test("corpusMinhashJaccard: identical corpora -> 1, disjoint -> ~0, agg min == driver min, empty -> null") {
    import spark.implicits._
    val a = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    val same = graft.pipeline.Decontaminate.corpusMinhashJaccard(a, a, "text").head()
    assert(same.getLong(0) === 2L && same.getLong(1) === 2L)
    assert(same.getDouble(3) === 1.0)
    val b = Seq((0L, "nu xi omicron pi rho sigma"),
      (1L, "tau upsilon phi chi psi omega")).toDF("doc_id", "text")
    val diff = graft.pipeline.Decontaminate.corpusMinhashJaccard(a, b, "text").head()
    assert(diff.getDouble(3) < 0.2, s"disjoint corpora estimated ${diff.getDouble(3)}")
    // the distributed elementwise-min equals the driver-side min of per-doc signatures
    val texts = a.select("text").collect().map(_.getString(0))
    val sigs = texts.map(Dedup.minhashSignature(_, 64, 5))
    val driverMin = Array.tabulate(64)(i => sigs.map(_(i)).min)
    val apart = graft.pipeline.Decontaminate.corpusMinhashJaccard(
      a, a.limit(1), "text").head()
    val sig0 = Dedup.minhashSignature(texts(0), 64, 5)
    val expectMatches = (0 until 64).count(i => driverMin(i) == sig0(i)).toLong
    assert(apart.getLong(2) === expectMatches)
    val et = a.limit(0)
    val empty = graft.pipeline.Decontaminate.corpusMinhashJaccard(a, et, "text").head()
    assert(empty.isNullAt(3) && empty.getLong(1) === 0L)
    // ADVICE r11: an empty side's mins are all the MaxValue sentinel —
    // matching_components must be 0, never sentinel==sentinel = 64
    assert(empty.getLong(2) === 0L, "one-side-empty must report 0 matching components")
    val bothEmpty = graft.pipeline.Decontaminate.corpusMinhashJaccard(et, et, "text").head()
    assert(bothEmpty.getLong(2) === 0L && bothEmpty.isNullAt(3),
      "two empty corpora must not report full sentinel overlap")
    // all-null-text side behaves as empty too
    val nullText = Seq((0L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nt = graft.pipeline.Decontaminate.corpusMinhashJaccard(a, nullText, "text").head()
    assert(nt.getLong(1) === 0L && nt.getLong(2) === 0L && nt.isNullAt(3))
  }

  test("lshOverlap: planted eval near-dup flags its train twin; unrelated docs stay clean") {
    import spark.implicits._
    val longText = (1 to 60).map(i => "token" + i).mkString(" ")
    val train = Seq(
      (0L, longText),                              // near-dup of eval doc 100
      (1L, "completely different text about spark catalyst physical plans"),
      (2L, longText + " tinyedit")                 // also near-dup of 100
    ).toDF("doc_id", "text")
    val evals = Seq(
      (100L, longText + " extra"),
      (101L, "unrelated benchmark question answer pairs entirely elsewhere")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Decontaminate.lshOverlap(train, evals, "text", "doc_id")
      .collect().map(r => r.getString(0).toLong -> r.getLong(1)).toMap
    assert(out.contains(0L) && out.contains(2L), s"twins must be flagged: $out")
    assert(!out.contains(1L), s"unrelated doc flagged: $out")
    assert(out.values.forall(n => n >= 1 && n <= 16))
    // empty eval set flags nothing
    assert(graft.pipeline.Decontaminate.lshOverlap(
      train, evals.limit(0), "text", "doc_id").count() === 0)
  }

  test("componentSplit: a near-dup component never straddles splits; singletons key on their own id") {
    import spark.implicits._
    val docs = (0L to 59L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    // components: {0..9} -> rep 0, {20,21} -> rep 20; the rest singletons
    val comps = ((0L to 9L).map(i => (i, 0L)) ++ Seq((20L, 20L), (21L, 20L)))
      .toDF("id", "component")
    val out = graft.pipeline.Sampling.componentSplit(docs, comps, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val rows = out.select("doc_id", "split_group", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length === 60)
    // every member of a component carries the rep's key and ONE split
    assert(rows.filter(_._1 <= 9).map(_._2).toSet === Set("0"))
    assert(rows.filter(r => r._1 == 20 || r._1 == 21).map(_._2).toSet === Set("20"))
    assert(rows.groupBy(_._2).forall { case (_, g) => g.map(_._3).toSet.size == 1 })
    // a singleton's decision is EXACTLY splitAssign on its own id: adding
    // the components join must not move untouched rows
    val solo = graft.pipeline.Sampling.splitAssign(
        docs.filter($"doc_id" > 21), col("doc_id").cast("string"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(_._1 > 21).foreach { case (id, grp, sp) =>
      assert(grp === id.toString && sp === solo(id))
    }
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  /** Driver-side reference BPE (Sennrich get_stats/merge_vocab semantics)
    * for parity-testing the distributed fold. */
  private def naiveBpe(wordCounts: Map[String, Long], numMerges: Int): Seq[(Int, String, String, Long)] = {
    var vocab = wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to numMerges) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        stats((syms(i), syms(i + 1))) = stats.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (stats.nonEmpty) {
        val ((a, b), c) = stats.minBy { case ((x, y), n) => (-n, x + " " + y) }
        out += ((step, a, b, c))
        vocab = vocab.map { case (syms, cnt) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toVector, cnt)
        }
      }
    }
    out.toSeq
  }

  test("pq: blob members share codes; ADC ranks own-blob neighbors first") {
    import spark.implicits._
    // two well-separated blobs in dim 4, m=2 blocks of 2
    val vecs = ((0L to 9L).map(i => (i, Array(0.0 + i * 0.01, 0.0, 0.0, 0.0))) ++
      (10L to 19L).map(i => (i, Array(10.0 + (i - 10) * 0.01, 10.0, 10.0, 10.0))))
      .toDF("vec_id", "embedding")
    val model = graft.pipeline.Similarity.pqTrain(vecs, m = 2, k = 2, iters = 3)
    assert(model.m === 2 && model.k === 2 && model.subDim === 2)
    val coded = graft.pipeline.Similarity.pqAssign(model, vecs)
    val codes = coded.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](r.length - 1).toList).toMap
    // every member of a blob lands on the same code word per block
    assert(codes.filterKeys(_ < 10).values.toSet.size === 1)
    assert(codes.filterKeys(_ >= 10).values.toSet.size === 1)
    assert(codes(0L) !== codes(10L))
    val top = graft.pipeline.Similarity.pqAdcTopK(model, coded,
        vecs.filter($"vec_id" === 0L || $"vec_id" === 15L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // own-blob neighbors rank first and at near-zero ADC distance
    top.filter(_._1 == 0L).foreach { case (_, n, d) =>
      assert(n < 10L && d < 1.0, s"query 0 got cross-blob neighbor $n at $d") }
    top.filter(_._1 == 15L).foreach { case (_, n, d) =>
      assert(n >= 10L && d < 1.0, s"query 15 got cross-blob neighbor $n at $d") }
  }

  test("shardManifest: partitioning-invariant, and tampering one doc flips exactly its shard's checksum") {
    import spark.implicits._
    def manifest(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Sampling.shardManifest(df,
          content = graft.pipeline.Text.normalized(col("text")),
          key = col("doc_id"), seed = "s", numShards = 8)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = (1L to 200L).map(i => (i, s"document number $i body")).toDF("doc_id", "text")
    val base = manifest(docs)
    assert(base.values.map(_._1).sum === 200L)
    assert(manifest(docs.repartition(13)) === base)
    // tamper: one doc's text changes -> that shard's checksum moves, its
    // count and every other shard stay identical
    val tampered = manifest(docs.withColumn("text",
      when($"doc_id" === 77L, lit("evil replacement")).otherwise($"text")))
    val moved = base.keySet.filter(k => base(k) != tampered(k))
    assert(moved.size === 1, s"expected exactly one shard to move: $moved")
    assert(base(moved.head)._1 === tampered(moved.head)._1, "count must not change")
    assert(base(moved.head)._2 !== tampered(moved.head)._2)
  }

  test("temperatureMix: tau=0.5 keeps the smallest domain whole and geometric-means the rest; tau=1 keeps everything") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, "small")) ++
      (101 to 500).map(i => (i.toLong, "big"))).toDF("id", "dom")
    val out = graft.pipeline.Sampling.temperatureMix(df, "dom", tau = 0.5, key = col("id"))
      .groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // feasibleT = min sqrt(n) = 10; quota_d = floor(sqrt(n_d)*10) = sqrt(n_d*100)
    assert(out("small") === 100L)
    assert(out("big") === 200L)
    val flat = graft.pipeline.Sampling.temperatureMix(df, "dom", tau = 1.0, key = col("id"))
    assert(flat.count() === 500L, "tau=1 is the natural mixture - keep everything")
  }

  test("PQ ADC selections beat the random-candidate baseline in TRUE distance") {
    // the testdata embeddings are near-isotropic noise — the hardest case
    // for coarse codes (all points near-equidistant), so exact-recall
    // floors are meaningless here; what MUST hold is that ADC-selected
    // candidates are genuinely closer than a random pick, i.e. the codes
    // carry real signal about true euclidean distance
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.pqTrain(e, m = 4, k = 16, iters = 4)
    val coded = Similarity.pqAssign(model, e)
    val picks = Similarity.pqAdcTopK(model, coded, e.filter(col("vec_id") < 20), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val all = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def trueDist(a: Long, b: Long): Double =
      all(a).zip(all(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val pickMean = picks.map { case (q, n) => trueDist(q, n) }.sum / picks.length
    val baseMean = {
      val qs = picks.map(_._1).distinct
      val ds = for (q <- qs; n <- all.keys if n != q) yield trueDist(q, n)
      ds.sum / ds.size
    }
    assert(pickMean < 0.8 * baseMean,
      s"ADC picks (mean true dist $pickMean) not better than random ($baseMean)")
  }

  test("OPQ: learned rotation beats plain PQ reconstruction error on block-unbalanced data") {
    import spark.implicits._
    // both HIGH-variance dims land in block 0 under the natural layout: a
    // 2-D patch quantized by k codewords has error ~L²/k, but one 1-D line
    // per block gets ~L²/k² — the rotation must split them across blocks
    val rng = new scala.util.Random(7L)
    val vecs = (0L until 400L).map { i =>
      (i, Array(rng.nextDouble() * 10, rng.nextDouble() * 10,
        rng.nextDouble() * 0.01, rng.nextDouble() * 0.01))
    }.toDF("vec_id", "embedding")
    val ident = Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
    val plain = Similarity.pqTrain(vecs, m = 2, k = 16, iters = 5)
    val plainErr = Similarity.pqReconError(vecs, ident, plain)
    val (r, opq) = Similarity.opqTrain(vecs, m = 2, k = 16, pqIters = 5, opqIters = 6)
    val opqErr = Similarity.pqReconError(vecs, r, opq)
    info(f"plain $plainErr%.5f  opq $opqErr%.5f  ratio ${opqErr / plainErr}%.3f")
    assert(opqErr < 0.9 * plainErr,
      f"OPQ must beat plain PQ here: opq $opqErr%.5f vs plain $plainErr%.5f")
    // R stays orthonormal: RᵀR = I
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(t => r(t)(i) * r(t)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RtR[$i][$j] = $dot")
    }
  }

  test("ivfPqTopK at full probe equals the unpruned ADC scan") {
    import spark.implicits._
    val vecs = (0L to 49L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toDouble)))
      .toDF("vec_id", "embedding")
    val ivf = graft.pipeline.Similarity.ivfTrain(vecs, nLists = 4, trainMaxIter = 3)
    val assigned = graft.pipeline.Similarity.ivfAssign(ivf, vecs)
    val pq = graft.pipeline.Similarity.pqTrain(vecs, m = 2, k = 4, iters = 2)
    val coded = graft.pipeline.Similarity.pqAssign(pq, assigned)
    val queries = vecs.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val pruned = rows(graft.pipeline.Similarity.ivfPqTopK(
      ivf, pq, coded, queries, k = 3, nProbe = 4))
    val scan = rows(graft.pipeline.Similarity.pqAdcTopK(pq, coded, queries, k = 3))
    assert(pruned === scan, "probing every list must degenerate to the full ADC scan")
  }

  test("dsirScores: target-domain lookalikes outscore off-domain docs; int64 scores are partitioning-invariant") {
    import spark.implicits._
    val docs = (
      (1L to 10L).map(i => (i, "alpha beta gamma alpha beta", true)) ++
      (11L to 30L).map(i => (i, "delta epsilon zeta eta theta", false)) ++
      Seq((100L, "alpha beta gamma", false),      // target lookalike, unlabeled
          (101L, "delta epsilon zeta", false))    // raw lookalike
    ).toDF("doc_id", "text", "tgt")
    val out = graft.pipeline.Sampling.dsirScores(docs, "text", "doc_id", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(100L) > 0L, s"target lookalike must score positive: ${out(100L)}")
    assert(out(101L) < out(100L))
    // exact int64 path: any partitioning gives bit-identical scores
    val out7 = graft.pipeline.Sampling.dsirScores(docs.repartition(7), "text", "doc_id", col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out7 === out)
  }

  test("jsDivergence: identical -> 0, disjoint -> ln 2, empty side -> null js") {
    import spark.implicits._
    val a = Seq("alpha beta gamma", "beta gamma delta").toDF("text")
    val same = graft.pipeline.Text.jsDivergence(a, a, "text").head()
    assert(same.getDouble(same.fieldIndex("js_nats")) === 0.0)
    assert(same.getLong(same.fieldIndex("vocab_shared")) === 4L)
    // disjoint vocabularies: maximal divergence ln 2 (js_norm = 1)
    val b = Seq("epsilon zeta eta", "zeta eta theta").toDF("text")
    val dis = graft.pipeline.Text.jsDivergence(a, b, "text").head()
    assertRtol(dis.getDouble(dis.fieldIndex("js_nats")), math.log(2.0), 1e-12, "disjoint js")
    assertRtol(dis.getDouble(dis.fieldIndex("js_norm")), 1.0, 1e-12, "disjoint js_norm")
    assert(dis.getLong(dis.fieldIndex("vocab_shared")) === 0L)
    // hand formula on a tiny asymmetric case: a = {x:1}, b = {x:1, y:1}
    val ha = Seq("x").toDF("text"); val hb = Seq("x y").toDF("text")
    val h = graft.pipeline.Text.jsDivergence(ha, hb, "text").head()
    val m1 = (1.0 + 0.5) / 2; val m2 = 0.25
    val want = 0.5 * (1.0 * math.log(1.0 / m1)) +
      0.5 * (0.5 * math.log(0.5 / m1) + 0.5 * math.log(0.5 / m2))
    assertRtol(h.getDouble(h.fieldIndex("js_nats")), want, 1e-12, "hand js")
    // one empty side: js undefined (null), not NaN
    val e = graft.pipeline.Text.jsDivergence(a, a.limit(0), "text").head()
    assert(e.isNullAt(e.fieldIndex("js_nats")) && e.isNullAt(e.fieldIndex("js_norm")))
    // both empty: no distribution at all -> zero rows
    assert(graft.pipeline.Text.jsDivergence(a.limit(0), a.limit(0), "text").count() === 0L)
  }

  test("epochMix: caps saturate small domains, waterline is exact, infeasible budget degrades to caps") {
    import spark.implicits._
    // domains: tiny=10 tokens, mid=100, big=1000; maxEpochs=4 ->
    // caps 40/400/4000
    val docs = (Seq.fill(10)("tiny") ++ Seq.fill(100)("mid") ++ Seq.fill(1000)("big"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "domain")
    def mix(budget: Long) = graft.pipeline.Sampling
      .epochMix(docs, "domain", lit(1L), budget, maxEpochs = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    // budget 1000: tiny and mid saturate (40 + 400), big takes the rest
    val m = mix(1000L)
    assert(m("tiny") === ((10L, 40L, 40.0, 4.0)))
    assert(m("mid") === ((100L, 400L, 400.0, 4.0)))
    assert(m("big")._3 === 560.0 && m("big")._4 === 0.56)
    // budget below every cap: uniform waterline budget/3 per domain
    val lo = mix(30L)
    assert(lo.values.forall(_._3 === 10.0))
    assert(lo("tiny")._4 === 1.0 && lo("big")._4 === 0.01)
    // infeasible budget: everything saturates at its cap
    val hi = mix(100000L)
    assert(hi.values.forall { case (_, cap, alloc, ep) => alloc === cap.toDouble && ep === 4.0 })
    // total allocation always equals min(budget, total cap)
    assert(m.values.map(_._3).sum === 1000.0)
    assert(hi.values.map(_._3).sum === 4440.0)
  }

  test("matryoshkaTopK: full-prefix degenerates to brute force; coarse funnel keeps blob neighbors") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 4)
    // prefixDims = full width and rerankK = corpus: identical to brute force
    val dim = e.head().getSeq[Float](e.head().fieldIndex("embedding")).length
    val n = e.count().toInt
    val full = graft.pipeline.Similarity
      .matryoshkaTopK(e, queries, k = 3, prefixDims = dim, rerankK = n)
      .select("query_id", "neighbor_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = graft.pipeline.Similarity.bruteForceTopK(e, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(full === brute, "full-prefix matryoshka must equal brute force")
    // constructed blobs where the FIRST dims carry the signal: the coarse
    // stage must already rank own-blob members on top
    val blobs = ((0L to 9L).map(i => (i, Array.fill(4)(1.0f) ++ Array.fill(4)(0.0f))) ++
      (10L to 19L).map(i => (i, Array.fill(4)(-1.0f) ++ Array.fill(4)(0.0f))))
      .toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity.matryoshkaTopK(blobs,
        blobs.filter(col("vec_id").isin(0L, 15L)), k = 3, prefixDims = 4, rerankK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (q, nb) =>
      assert((q < 10) === (nb < 10), s"query $q got cross-blob neighbor $nb")
    }
  }

  test("yeoJohnsonGrid: lambda=1 is the identity llf, lognormal prefers lambda~0, negatives handled") {
    import spark.implicits._
    val rng = new scala.util.Random(5L)
    val logn = (1 to 2000).map(i => (i.toLong, math.exp(rng.nextGaussian())))
      .toDF("id", "x")
    val grid = graft.modify.Modify.yeoJohnsonGrid(logn, Seq("x"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(3)).toMap
    // lambda = 1: psi(x) = x (identity up to shift) -> llf = -n/2 ln(mle var)
    val xs = logn.select("x").collect().map(_.getDouble(0))
    val n = xs.length
    val mean = xs.sum / n
    val mleVar = xs.map(v => (v - mean) * (v - mean)).sum / n
    assertRtol(grid(1.0), -n / 2.0 * math.log(mleVar), 1e-9, "identity llf")
    // lognormal data: the log transform (lambda=0) must beat identity and
    // the extremes
    assert(grid(0.0) > grid(1.0) && grid(0.0) > grid(2.0) && grid(0.0) > grid(-2.0),
      s"lambda=0 must win on lognormal data: $grid")
    // negative branch: a symmetric column runs all four psi branches
    val sym = (1 to 500).map(i => (i.toLong, rng.nextGaussian() * 3)).toDF("id", "x")
    val g2 = graft.modify.Modify.yeoJohnsonGrid(sym, Seq("x"))
      .collect().map(r => (r.getDouble(1), r.getLong(2), r.isNullAt(3)))
    assert(g2.length === 9 && g2.forall(t => t._2 === 500L && !t._3))
    // ties-first low-cardinality path vs the one-scan row path: same grid
    // to float noise (budget 1 admits nothing -> row path forced)
    def gridOf(df: org.apache.spark.sql.DataFrame) =
      graft.modify.Modify.yeoJohnsonGrid(df, Seq("x")).collect()
        .map(r => (r.getDouble(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val low = gridOf(sym)
    spark.conf.set("graft.powerTransform.maxDistinct", "1")
    val high = try gridOf(sym) finally spark.conf.unset("graft.powerTransform.maxDistinct")
    low.zip(high).foreach { case ((l1, n1, f1), (l2, n2, f2)) =>
      assert(l1 === l2 && n1 === n2, "grid cells must align")
      assertRtol(f1, f2, 1e-9, s"llf parity at lambda $l1")
    }
    // malformed conf rejected
    spark.conf.set("graft.powerTransform.maxDistinct", "-5")
    try intercept[IllegalArgumentException] {
      graft.modify.Modify.yeoJohnsonGrid(sym, Seq("x")).collect()
    } finally spark.conf.unset("graft.powerTransform.maxDistinct")
  }

  test("goodTuring: hand-built counts-of-counts, unseen mass = singleton share") {
    import spark.implicits._
    // corpus: a x4, b x2, c x2, d x1, e x1, f x1 -> N=11, n1=3, n2=2, n4=1
    val docs = Seq("a a a a b b", "c c d e f").toDF("text")
    val out = graft.pipeline.Text.goodTuring(docs, "text", maxR = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getDouble(3))).toMap
    assert(out(1L)._1 === 3L && out(2L)._1 === 2L && out(4L)._1 === 1L)
    assert(!out.contains(3L), "no word occurs exactly 3 times")
    // p0 = n1/N = 3/11 everywhere
    out.values.foreach(v => assertRtol(v._3, 3.0 / 11, 1e-12, "p_unseen"))
    // r*(1) = 2*n2/n1 = 4/3; r*(2) = 3*n3/n2 -> n3=0 -> null... n_3 absent
    assertRtol(out(1L)._2.get, 2.0 * 2 / 3, 1e-12, "r*(1)")
    assert(out(2L)._2.isEmpty, "r*(2) needs n_3 which is 0 -> null")
  }

  test("mmrRerank: redundant twin demoted below a diverse candidate; rank 1 scores lambda*rel") {
    import spark.implicits._
    // query at [1,0]; candidates: A=[0.99,0.14] (closest), A'=[0.99,0.141]
    // (near-twin of A), B=[0.7,0.71] (diverse). Plain top-2 = {A, A'}; at
    // lambda=0.3 the twin's redundancy penalty (0.7 * ~0.2) outweighs its
    // relevance edge (0.3 * ~0.29), so MMR must pick A then B. (At
    // lambda=0.5 the twin legitimately wins — relevance still dominates.)
    def v(x: Double, y: Double) = {
      val n = math.sqrt(x * x + y * y)
      Array((x / n).toFloat, (y / n).toFloat)
    }
    val vecs = Seq(
      (0L, v(1.0, 0.0)), (1L, v(0.99, 0.14)), (2L, v(0.99, 0.141)),
      (3L, v(0.7, 0.71))).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.mmrRerank(
        vecs, vecs.filter(col("vec_id") === 0L), k = 2, m = 3, lambda = 0.3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(4)))
    assert(out.toSeq === Seq((1L, 1), (3L, 2)),
      s"expected A then diverse B, got ${out.toSeq}")
  }

  test("mmrRerank: driver-collect gate refuses past graft.ann.mmrMaxCells") {
    import spark.implicits._
    val vecs = (0L to 9L).map(i => (i, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    // 10 queries x m=5 -> 250 projected cells; a 100-cell budget must refuse
    // BEFORE any corpus-scale action, naming the conf and the remedies
    spark.conf.set("graft.ann.mmrMaxCells", "100")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.pipeline.Similarity.mmrRerank(vecs, vecs, k = 2, m = 5)
      }
      assert(e.getMessage.contains("graft.ann.mmrMaxCells")
        && e.getMessage.contains("250"), e.getMessage)
      // raising the budget lets the same call through
      spark.conf.set("graft.ann.mmrMaxCells", "1000")
      assert(graft.pipeline.Similarity.mmrRerank(vecs, vecs, k = 2, m = 5)
        .count() === 20L)
      // malformed conf rejected loudly
      spark.conf.set("graft.ann.mmrMaxCells", "lots")
      intercept[IllegalArgumentException] {
        graft.pipeline.Similarity.mmrRerank(vecs, vecs, k = 2, m = 5)
      }
    } finally spark.conf.unset("graft.ann.mmrMaxCells")
  }

  test("substringSpans: cross-doc maximal spans merge; within-doc repeats don't flag") {
    import spark.implicits._
    // docs A and B share a 6-token run inside different surroundings; doc C
    // repeats its own 5-gram twice (within-doc only — must NOT flag); doc D
    // is unique. L=5 over A's shared run gives windows at 2..3 -> one
    // maximal span [2, 7] (6 tokens) in A and [0, 5] in B.
    val docs = Seq(
      (1L, "xa xb the quick brown fox jumps high xc xd"),
      (2L, "the quick brown fox jumps high yb yc yd ye"),
      (3L, "r1 r2 r3 r4 r5 zz r1 r2 r3 r4 r5"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    ).toDF("doc_id", "text")
    val spans = graft.pipeline.Dedup.substringSpans(docs, "text", "doc_id", minTokens = 5)
      .orderBy("id", "span_start")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(spans.toSeq === Seq((1L, 2, 7, 6), (2L, 0, 5, 6)),
      s"expected the shared 6-token run on both sides only, got ${spans.toSeq}")
    // the cut: doc 1 (min id) keeps the run, doc 2 loses it
    val cut = graft.pipeline.Dedup.removeSubstringDups(docs, "text", "doc_id", minTokens = 5)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(cut(0)._3 === 0L, "keeper doc keeps its copy")
    assert(cut(1)._3 === 6L && cut(1)._4 === "yb yc yd ye",
      s"doc 2 must lose exactly the shared run: ${cut(1)}")
    assert(cut(2)._3 === 0L && cut(3)._3 === 0L,
      "within-doc repeats and unique docs survive the cross-doc cut")
  }

  test("substringSpans: adjacent duplicated windows merge into one maximal span") {
    import spark.implicits._
    // A 12-token run shared verbatim: windows 0..7 at L=5 merge to [0,11]
    val run = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq((10L, s"$run tail10a tail10b"), (20L, s"$run tail20a")).toDF("doc_id", "text")
    val spans = graft.pipeline.Dedup.substringSpans(docs, "text", "doc_id", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(spans.toSeq === Seq((10L, 0, 11, 12), (20L, 0, 11, 12)), spans.toSeq.toString)
  }

  test("kCoreBounded: pendants peel away, the clique survives, cascade handled") {
    import spark.implicits._
    // 4-clique {a,b,c,d} + a chain d-e-f: 3-core = the clique only
    // (e has degree 2 -> peeled; then f degenerates -> peeled)
    val edges = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
      ("d","e"),("e","f")).toDF("src","dst")
    val core = graft.pipeline.Graph.kCoreBounded(edges, "src", "dst", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set("a","b","c","d"), s"3-core must be the clique: $core")
    assert(core.values.forall(_ === 3L), "each clique member has in-core degree 3")
    // k above the graph's degeneracy: everything peels, empty result
    assert(graft.pipeline.Graph.kCoreBounded(edges, "src", "dst", k = 5).count() === 0L)
    // duplicate + reversed edges collapse before peeling
    val dup = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val core2 = graft.pipeline.Graph.kCoreBounded(dup, "src", "dst", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 === core)
  }

  test("hardNegatives: same-label neighbors excluded, nearest other-label found") {
    import spark.implicits._
    // two tight label-0 points, one label-1 point near them, one far away
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),   // nearest to 0 but SAME label
      (2L, Array(0.9f, 0.1f), 1),     // nearest hard negative
      (3L, Array(-1.0f, 0.0f), 1)     // opposite direction
    ).toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity
      .hardNegatives(vecs, vecs.filter(col("vec_id") === 0L), k = 2)
      .collect().map(r => (r.getLong(2), r.getInt(3), r.getInt(5)))
    assert(out.length === 2)
    assert(out(0)._1 === 2L && out(0)._2 === 1 && out(0)._3 === 1,
      s"rank-1 hard negative must be vec 2: ${out.toSeq}")
    assert(out.forall(_._2 === 1), "every mined negative must carry a different label")
    assert(!out.map(_._1).contains(1L), "same-label twin must never appear")
  }

  test("labelPropagation: two bridged triangles split into two communities; dup edges collapse") {
    import spark.implicits._
    // triangles {a,b,c} and {x,y,z} joined by bridge c-x; hand-replayed
    // 3 synchronous rounds (min-label ties) give communities a and c
    val edges = Seq(("a","b"),("a","c"),("b","c"),("x","y"),("x","z"),("y","z"),
      ("c","x")).toDF("src","dst")
    val out = graft.pipeline.Graph.labelPropagation(edges, "src", "dst", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"), out.toString)
    // duplicate + reversed edges are collapsed before any round
    val dup = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .union(edges)
    val out2 = graft.pipeline.Graph.labelPropagation(dup, "src", "dst", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2 === out)
  }

  test("hardNegativesIvf: label filter holds; recall vs the exact miner on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 10)
    val model = graft.pipeline.Similarity.ivfTrain(e, nLists = 16)
    val assigned = graft.pipeline.Similarity.ivfAssign(model, e)
    val ivf = graft.pipeline.Similarity
      .hardNegativesIvf(model, assigned, queries, k = 3, nProbe = 4)
      .collect()
    assert(ivf.nonEmpty)
    assert(ivf.forall(r => r.getInt(1) != r.getInt(3)),
      "every IVF-mined negative must carry a different label")
    // recall vs the exact full-scan miner — the ann_recall_eval contract:
    // nProbe=4/16 on this corpus should recover most exact negatives
    val exact = graft.pipeline.Similarity.hardNegatives(e, queries, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF negative-funnel recall too low: $recall%.2f " +
      s"(${(exact & got).size}/${exact.size})")
    // raising nProbe to all lists makes the funnel EXACT (same contract
    // as matryoshka's full-prefix == brute force)
    val full = graft.pipeline.Similarity
      .hardNegativesIvf(model, assigned, queries, k = 3, nProbe = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "nProbe = nLists must equal the exact miner")
  }

  test("noveltyCurve: first-occurrence attribution by doc order; short docs score 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),        // grams {a b c, b c d} — all novel (first doc)
      (2L, "a b c x"),        // {a b c}=seen, {b c x}=novel -> 0.5
      (3L, "a b"),            // too short: 0 grams, novelty 0.0
      (4L, "b c d a b c"),    // {b c d, a b c}=seen, {c d a, d a b}=novel -> 0.5
      (5L, null.asInstanceOf[String]) // null text: empty gram set, not a null row
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Text.noveltyCurve(docs, "text", "doc_id", n = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 2, 2L, 1.0), (2L, 2, 1L, 0.5),
      (3L, 0, 0L, 0.0), (4L, 4, 2L, 0.5), (5L, 0, 0L, 0.0)), out.toSeq.toString)
  }

  test("noveltyDaily: gram first-day attribution, recrawl dates to first fetch, undated docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // day1: grams {abc, bcd} both novel
      (2L, "a b c x"),   // day1: {abc} dup within day, {bcx} novel
      (3L, "b c d a"),   // day2: {bcd}=day1, {cda}=novel -> day2 n_novel 1 of 2
      (4L, "a b"),       // day2: too short — counts as a doc, adds no grams
      (5L, "q r s t")    // no crawl record: excluded entirely
    ).toDF("doc_id", "text")
    val times = Seq(
      (1L, "2024-03-01 10:00:00"), (1L, "2024-03-02 09:00:00"), // recrawl -> day1
      (2L, "2024-03-01 23:59:59"), (3L, "2024-03-02 00:00:01"),
      (4L, "2024-03-02 12:00:00")
    ).toDF("event_id", "tss").withColumn("ts", col("tss").cast("timestamp"))
    val out = graft.pipeline.Text.noveltyDaily(
        docs, "text", "doc_id", times, "event_id", "ts", n = 3)
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // day1: docs {1,2}, distinct grams {abc, bcd, bcx} all first-seen
    // day2: docs {3,4}, distinct grams {bcd, cda}; bcd first-seen day1
    assert(out.toSeq === Seq(
      ("2024-03-01", 2L, 3L, 3L, 1.0),
      ("2024-03-02", 2L, 2L, 1L, 0.5)), out.toSeq.toString)
  }

  test("dispersionByLabel: hand variance identity; singleton label disperses 0") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(3.0f, 0.0f), 0),
      (2L, Array(0.0f, 5.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.dispersionByLabel(vecs)
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // label 0: dim0 population var = 1, dim1 = 0 -> dispersion 1; centroid (2,0)
    assert(out(0)._1 === 0 && out(0)._2 === 2L)
    assertRtol(out(0)._3, 1.0, 1e-12, "two-point dispersion")
    assertRtol(out(0)._4, 2.0, 1e-12, "centroid norm")
    // singleton: zero dispersion, centroid = the point
    assert(out(1)._2 === 1L && out(1)._3 === 0.0)
    assertRtol(out(1)._4, 5.0, 1e-12, "singleton centroid norm")
  }

  test("oovCurve: hand coverage at each budget; budgets beyond the vocab saturate") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = graft.pipeline.Text.oovCurve(docs, "text", sizes = Seq(1, 2, 10))
      .orderBy("vocab_size").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1, 3L, 6L, 0.5), (2, 5L, 6L, 5.0 / 6),
      (10, 6L, 6L, 1.0)), out.toSeq.toString)
  }

  test("corpusMinhashMatrix: identical groups estimate 1, empty group nulls, cardinality gate") {
    import spark.implicits._
    val rngM = new scala.util.Random(7L)
    def doc() = (1 to 12).map(_ =>
      (1 to 6).map(_ => ('a' + rngM.nextInt(26)).toChar).mkString).mkString(" ")
    val shared = (1 to 20).map(_ => doc())
    val rows =
      shared.map(t => ("s1", t)) ++ shared.map(t => ("s2", t)) ++ // identical corpora
      (1 to 20).map(_ => ("s3", doc())) ++                        // disjoint
      Seq(("s4", null.asInstanceOf[String]))                      // empty (null text)
    val df = rows.toDF("source", "text")
    val out = graft.pipeline.Decontaminate
      .corpusMinhashMatrix(df, "text", "source")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(out.size === 6, s"4 groups -> 6 pairs: ${out.keySet}")
    assert(out(("s1", "s2")) === ((20L, 20L, 64L, Some(1.0))),
      s"identical corpora must match all components: ${out(("s1", "s2"))}")
    val d13 = out(("s1", "s3"))._4.get
    assert(d13 < 0.5, s"disjoint corpora should estimate low: $d13")
    assert(out(("s1", "s4")) === ((20L, 0L, 0L, None)),
      "empty side must report NULL estimate, not full overlap")
    // group-cardinality gate refuses loudly
    spark.conf.set("graft.corpusMatrix.maxGroups", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.pipeline.Decontaminate.corpusMinhashMatrix(df, "text", "source")
      }
      assert(e.getMessage.contains("graft.corpusMatrix.maxGroups"), e.getMessage)
    } finally spark.conf.unset("graft.corpusMatrix.maxGroups")
  }

  test("kCenter: greedy farthest-point picks the extremes; deterministic under repartition") {
    import spark.implicits._
    // 1-D line embedded in 2-D: 0.0, 1.0, 10.0, 10.1, 20.0
    val pts = Seq((0L, 0.0), (1L, 1.0), (2L, 10.0), (3L, 10.1), (4L, 20.0))
      .map { case (i, x) => (i, Array(x.toFloat, 0.0f)) }.toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity.kCenter(pts, k = 3)
      .orderBy("round").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // seed = id 0 (min id); round 2 = farthest from 0 -> id 4 (d=400);
    // round 3 = farthest from {0, 4} -> id 2 (d=100) [10.1 is 98.01 from 4]
    assert(got.toSeq === Seq((1, 0L, 0.0), (2, 4L, 400.0), (3, 2L, 100.0)))
    val reGot = graft.pipeline.Similarity.kCenter(pts.repartition(7), k = 3)
      .orderBy("round").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(reGot.toSeq === got.toSeq, "kCenter must be partitioning-invariant")
  }

  test("perplexityBuckets: thirds partition the corpus, head reads more natural than tail") {
    import spark.implicits._
    // three quality tiers with per-doc variation so the terciles are
    // genuinely distinct (identical docs tie their NLLs and legitimately
    // collapse the middle bucket)
    val natural = (1 to 15).map(i =>
      (i.toLong, s"the cat sat on the mat and the dog sat on the rug ${"the" * (i % 3 + 1)}"))
    val mixed = (16 to 30).map(i =>
      (i.toLong, s"the cat zz$i on the mat qq$i the dog"))
    val noise = (31 to 45).map(i => (i.toLong, s"zq$i xv$i kj$i wq$i pf$i"))
    val docs = (natural ++ mixed ++ noise).toDF("doc_id", "text")
    val out = graft.pipeline.Text.perplexityBuckets(docs, "text", "doc_id",
        topVocab = 100, alpha = 1.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.keySet === Set("head", "middle", "tail"))
    assert(out.values.map(_._1).sum === 45L, "buckets must partition the corpus")
    assert(out("head")._2 < out("tail")._2,
      s"head must score lower NLL than tail: $out")
    // the gibberish docs cannot be in the head third
    assert(out("head")._1 <= 30L)
  }

  test("unigramViterbi: DP equals brute-force enumeration under the deterministic order") {
    import graft.pipeline.Text
    // brute-force reference: enumerate EVERY segmentation, pick best by
    // the same (np asc, sc desc, path asc) total order
    def brute(w: String, pieces: Map[String, Long], maxLen: Int): Option[Text.UniSeg] = {
      def segs(s: String): Seq[List[String]] =
        if (s.isEmpty) Seq(Nil)
        else (1 to math.min(maxLen, s.length)).flatMap { j =>
          val p = s.substring(0, j)
          if (pieces.contains(p)) segs(s.substring(j)).map(p :: _) else Nil
        }
      val all = segs(w).map { ps =>
        Text.UniSeg(ps.length, ps.map(pieces).sum, ps.mkString("\u0001"))
      }
      all.sortWith(Text.uniBetter).headOption
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    // piece table with deliberate count TIES to exercise every tie-break
    val pieces: Map[String, Long] =
      (alphabet.map(c => c.toString -> 5L) ++
        Seq("ab" -> 9L, "bc" -> 9L, "cd" -> 9L, "abc" -> 9L, "bcd" -> 9L,
          "aa" -> 3L, "ba" -> 3L)).toMap
    for (_ <- 0 until 300) {
      val w = (0 until (1 + rnd.nextInt(9)))
        .map(_ => alphabet(rnd.nextInt(4))).mkString
      val dp = Text.unigramViterbi(w, pieces, 3)
      assert(dp === brute(w, pieces, 3), s"word $w")
    }
    // unseen char: no cover
    assert(Text.unigramViterbi("axz", pieces, 3).isEmpty)
  }

  test("unigramTrain/apply: EM keeps frequent multigrams, fertility <= 1 token/word on a repetitive corpus") {
    import spark.implicits._
    // corpus dominated by two words: 'abab' and 'cd' — EM must keep the
    // frequent multi-char pieces and segment them in 1-2 tokens
    val docs = (0 until 50).map(i => (i.toLong, "abab cd abab cd abab"))
      .toDF("doc_id", "text")
    val model = graft.pipeline.Text.unigramTrain(docs, "text",
        seedMulti = 10, emRounds = 2, vocabSize = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // single chars survive (never pruned), frequent pieces present
    assert("abcd".forall(c => model.contains(c.toString)), model.toString)
    assert(model.contains("cd") || model.contains("ab"), model.toString)
    val out = graft.pipeline.Text.unigramApply(docs, "text", "doc_id", model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.foreach { case (_, nWords, nChars, nTok) =>
      assert(nWords === 5L && nChars === 3L * 4 + 2 * 2)
      // 'abab' -> at most 2 pieces, 'cd' -> 1: 5 words segment in <= 8
      assert(nTok <= 8L, s"tokens $nTok")
    }
    // determinism: a second train over a repartitioned corpus is identical
    val model2 = graft.pipeline.Text.unigramTrain(docs.repartition(7), "text",
        seedMulti = 10, emRounds = 2, vocabSize = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(model2 === model)
    // char fallback: unseen chars and over-length words count as chars
    val weird = Seq((99L, "zzzz " + "a" * 30)).toDF("doc_id", "text")
    val fb = graft.pipeline.Text.unigramApply(weird, "text", "doc_id", model)
      .collect().head
    assert(fb.getLong(3) === 4L + 30L, fb.toString)
  }

  test("unigramTrain over budget: deterministic hash-sample by default, refusal via conf") {
    import spark.implicits._
    // 26 distinct words, cap of 8: default mode trains on a hash-sample
    val docs = (0 until 26).map(i =>
      (i.toLong, (('a' + i).toChar.toString * 3) + " shared")).toDF("doc_id", "text")
    spark.conf.set("graft.unigram.maxLocalVocab", "8")
    try {
      val m1 = graft.pipeline.Text.unigramTrain(docs, "text",
          seedMulti = 10, emRounds = 1, vocabSize = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(m1.nonEmpty, "over-budget corpus must still train via the sample")
      // content-hash sampling: identical under repartitioning
      val m2 = graft.pipeline.Text.unigramTrain(docs.repartition(5), "text",
          seedMulti = 10, emRounds = 1, vocabSize = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(m2 === m1, "hash-sampled train must be partitioning-invariant")
      // the pre-r16 refusal stays available
      spark.conf.set("graft.unigram.overBudget", "refuse")
      val ex = intercept[IllegalArgumentException] {
        graft.pipeline.Text.unigramTrain(docs, "text",
          seedMulti = 10, emRounds = 1, vocabSize = 8)
      }
      assert(ex.getMessage.contains("graft.unigram.maxLocalVocab"))
      spark.conf.set("graft.unigram.overBudget", "bogus")
      val bad = intercept[IllegalArgumentException] {
        graft.pipeline.Text.unigramTrain(docs, "text",
          seedMulti = 10, emRounds = 1, vocabSize = 8)
      }
      assert(bad.getMessage.contains("'sample' or 'refuse'"))
    } finally {
      spark.conf.unset("graft.unigram.maxLocalVocab")
      spark.conf.unset("graft.unigram.overBudget")
    }
  }

  test("tokenizerFertilityAb: both families report on the same frame, ratios consistent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa", "the cat sat on the mat the cat"),
      (2L, "aa", "the cat ran to the mat"),
      (3L, "bb", "zq xv wj kp zq")).toDF("doc_id", "lang", "text")
    val ab = graft.pipeline.Text.tokenizerFertilityAb(
        docs, "text", "doc_id", "lang", numMerges = 4,
        seedMulti = 20, emRounds = 2, vocabSize = 16)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(ab.keySet === Set("aa", "bb"))
    val (nDocs, nWords, bpeTok, uniTok, bpeF, uniF) = ab("aa")
    assert(nDocs === 2L && nWords === 14L)
    assert(bpeTok >= nWords && uniTok >= nWords) // a word is >= 1 token
    assert(math.abs(bpeF - bpeTok.toDouble / nWords) < 1e-12)
    assert(math.abs(uniF - uniTok.toDouble / nWords) < 1e-12)
    // the repetitive-English group must tokenize no worse than the
    // rare-consonant group under BOTH families
    assert(uniF <= ab("bb")._6 && bpeF <= ab("bb")._5, ab.toString)
  }

  test("bpeApply: learned merges re-segment; more merges never increase the token count") {
    import spark.implicits._
    val docs = Seq((1L, "banana band ban"), (2L, "an an banana")).toDF("doc_id", "text")
    // no merges: every char is a token
    val zero = graft.pipeline.Text.bpeApply(docs, "text", "doc_id", Seq.empty)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(zero(1L) === ((3L, 13L, 13L)) && zero(2L) === ((3L, 10L, 10L)))
    // hand-applied: merge (a,n) then (an,an): "banana"->b an an a->b anan a (3)
    // "band"->b an d (3), "ban"->b an (2), "an"->an (1)
    val two = graft.pipeline.Text.bpeApply(docs, "text", "doc_id",
        Seq(("a", "n"), ("an", "an")))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(two(1L) === 3L + 3L + 2L, s"doc1 tokens: ${two(1L)}")
    assert(two(2L) === 1L + 1L + 3L, s"doc2 tokens: ${two(2L)}")
    // monotone: applying the doc-trained merges never inflates tokens
    val merges = graft.pipeline.Text.bpeTrain(docs, "text", 4)
      .orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    (0 to merges.size).foldLeft(Long.MaxValue) { (prev, k) =>
      val tot = graft.pipeline.Text.bpeApply(docs, "text", "doc_id", merges.take(k))
        .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).head().getLong(0)
      assert(tot <= prev, s"tokens grew at $k merges: $tot > $prev")
      tot
    }
  }

  test("bpeTrain: empty corpus and single-char-vocab corpora degrade to empty/short merge tables") {
    import spark.implicits._
    val empty = graft.pipeline.Text.bpeTrain(
      Seq.empty[String].toDF("text"), "text", numMerges = 4)
    assert(empty.count() === 0L)
    // one repeated 1-char word: no adjacent pairs ever exist
    val single = graft.pipeline.Text.bpeTrain(
      Seq("a a a", "a").toDF("text"), "text", numMerges = 4)
    assert(single.count() === 0L)
    // vocab exhausts before numMerges: table stops early, no crash
    val tiny = graft.pipeline.Text.bpeTrain(Seq("ab ab").toDF("text"), "text", 8)
      .collect()
    assert(tiny.length === 1 && tiny.head.getString(3) === "ab")
  }

  test("bpeTrain randomized parity sweep: 5 seeded corpora match the reference implementation") {
    import spark.implicits._
    val rng = new scala.util.Random(20260815L)
    val alphabet = "abcdef"
    for (trial <- 1 to 5) {
      val nDocs = 5 + rng.nextInt(10)
      val docs = (1 to nDocs).map { _ =>
        val words = (1 to (3 + rng.nextInt(12))).map { _ =>
          (1 to (1 + rng.nextInt(7)))
            .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
        }
        words.mkString(" ")
      }.toDF("text")
      val nMerges = 3 + rng.nextInt(5)
      val got = graft.pipeline.Text.bpeTrain(docs, "text", nMerges)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
        .sortBy(_._1)
      val wc = docs.collect().map(_.getString(0)).flatMap(_.split(" "))
        .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val want = naiveBpe(wc, nMerges)
      assert(got.length === want.length, s"trial $trial: merge counts differ")
      got.zip(want).foreach { case ((s1, a1, b1, c1), (s2, a2, b2, c2)) =>
        assert(s1 === s2 && a1 === a2 && b1 === b2 && c1 === c2,
          s"trial $trial step $s1: got ($a1,$b1,$c1) want ($a2,$b2,$c2)")
      }
    }
  }

  test("bpeTrain: distributed merge table equals the reference greedy implementation") {
    import spark.implicits._
    // classic Sennrich corpus + an aaaa run (self-overlapping pair) + a
    // tie between pairs (broken by pair string) + repeated docs for weight
    val docs = (Seq.fill(5)("low lower lowest") ++ Seq.fill(3)("new newer newest wider") ++
      Seq("aaaa aaa baaa", "zq zq zq zq zq zq zq zq zq zq zq zq")).toDF("text")
    val got = graft.pipeline.Text.bpeTrain(docs, "text", numMerges = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // reference word counts from the same normalization
    val wc = docs.collect().map(_.getString(0)).flatMap(_.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val want = naiveBpe(wc, 10)
    assert(got.length === 10)
    got.zip(want).foreach { case ((s1, a1, b1, m1, c1), (s2, a2, b2, c2)) =>
      assert(s1 === s2 && a1 === a2 && b1 === b2 && c1 === c2, s"step $s1: got ($a1,$b1,$c1) want ($a2,$b2,$c2)")
      assert(m1 === a1 + b1)
    }
    // the aaaa-run semantics: merging (a,a) in 'a a a a' must yield 'aa aa'
    // (pair (aa,aa) becomes countable later) — guarded implicitly by the
    // parity above, explicitly by the naive impl's non-overlap scan
  }

  test("bpeTrain: forced-distributed path equals the local trainer on every sweep corpus") {
    import spark.implicits._
    val rng = new scala.util.Random(4242L)
    val alphabet = "abcde"
    for (trial <- 1 to 3) {
      val docs = (1 to (4 + rng.nextInt(8))).map { _ =>
        (1 to (3 + rng.nextInt(10))).map { _ =>
          (1 to (1 + rng.nextInt(6)))
            .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
        }.mkString(" ")
      }.toDF("text")
      def table(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).sortBy(_._1).toSeq
      val local = table(graft.pipeline.Text.bpeTrain(docs, "text", 6))
      val dist = distributed(table(graft.pipeline.Text.bpeTrain(docs, "text", 6)))
      assert(local === dist, s"trial $trial: local vs distributed tables differ")
    }
  }

  test("bpeTrain: 256 merges amortize to well under 0.1 Spark jobs per merge") {
    import spark.implicits._
    // a corpus rich enough to survive 256 merges: random 12-char words over
    // a 10-letter alphabet (vocabulary >> merge count)
    val rng = new scala.util.Random(7L)
    val docs = (1 to 120).map { _ =>
      (1 to 40).map { _ =>
        (1 to 12).map(_ => ('a' + rng.nextInt(10)).toChar).mkString
      }.mkString(" ")
    }.toDF("text").localCheckpoint() // isolate input jobs from the count
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val merges =
      try {
        val out = graft.pipeline.Text.bpeTrain(docs, "text", 256).collect()
        Thread.sleep(500) // let queued listener events drain
        out
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(merges.length === 256, s"expected 256 merges, got ${merges.length}")
    assert(jobs.get() <= 25, // 25/256 < 0.1 jobs per merge
      s"bpeTrain(256) ran ${jobs.get()} Spark jobs — one-job-per-merge regression?")
  }

  test("graft.local.mode=bogus rejected in every module; bad bpeTrain minCount too") {
    import spark.implicits._
    val docs = Seq("ab ab").toDF("text")
    val edges = Seq(("a", "b"), ("b", "c")).toDF("id1", "id2")
    val sample = Seq((1.0, true), (2.0, false)).toDF("x", "a")
    val pvalues = Seq(("v1", 0.01), ("v2", 0.5)).toDF("Variable", "pvalue")
    val gated: Seq[(String, () => Any)] = Seq(
      "Describe" -> (() => graft.describe.Describe.ksTwoSample(sample, "x", col("a"))),
      "Corrections" -> (() => graft.analyze.Corrections.addCorrectedPvalues(pvalues)),
      "Graph" -> (() => graft.pipeline.Graph.labelPropagation(edges, "id1", "id2")),
      "Dedup" -> (() => Dedup.components(edges)),
      "Text" -> (() => Text.bpeTrain(docs, "text", 2)))
    for ((module, run) <- gated; bad <- Seq("bogus", "local", "")) {
      spark.conf.set(LocalPath.ModeKey, bad)
      try {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("graft.local.mode") && e.getMessage.contains("distributed"),
          s"$module, '$bad': ${e.getMessage}")
      } finally spark.conf.unset(LocalPath.ModeKey)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.Text.bpeTrain(docs, "text", 2, minCount = 0L)
    }
    // minCount floors the vocabulary before training: with the floor above
    // every count, training sees an empty vocabulary
    assert(graft.pipeline.Text.bpeTrain(docs, "text", 2, minCount = 100L).count() === 0L)
  }

  test("charEntropy: hand values, uniform max, constant zero, empty and null text") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aab"),       // H = ln3 - (2 ln2)/3
      (1L, "abcd"),      // all distinct: H = ln4
      (2L, "aaaa"),      // constant: H = 0
      (3L, ""),          // empty: n=0, H=0 by contract
      (4L, null.asInstanceOf[String]) // null: dropped
    ).toDF("doc_id", "text")
    val out = Text.charEntropy(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(0L)._1 === 3L && out(0L)._2 === 2L)
    assert(math.abs(out(0L)._3 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-12)
    assert(math.abs(out(1L)._3 - math.log(4)) < 1e-12)
    assert(out(2L)._3 === 0.0)
    assert(out(3L) === ((0L, 0L, 0.0)))
    assert(!out.contains(4L))
    // entropy never exceeds ln(n_distinct) (uniform bound)
    out.values.filter(_._2 > 0).foreach { case (_, d, h) =>
      assert(h <= math.log(d.toDouble) + 1e-12) }
  }

  test("winnowCandidates: planted partial overlap is always a candidate; noise floor holds") {
    import spark.implicits._
    val k = 3; val w = 4
    val rnd = new scala.util.Random(23)
    def soup(n: Int) = Seq.fill(n)("n" + rnd.nextInt(10000)).mkString(" ")
    // a long shared run -> many shared prints; disjoint-vocab docs -> none
    val run = Seq.fill(60)("r" + rnd.nextInt(10000)).mkString(" ")
    val docs = Seq(
      (0L, s"${soup(30)} $run ${soup(30)}"),
      (1L, s"${soup(40)} $run ${soup(20)}"),
      (2L, soup(80)), (3L, soup(80))
    ).toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.winnowCandidates(
        docs, "text", "doc_id", k, w, minShared = 8)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(pairs.contains(("0", "1")), s"planted 60-word overlap missed: $pairs")
    assert(pairs(("0", "1")) >= 8L)
    assert(pairs.keySet === Set(("0", "1")), s"noise pair above the floor: $pairs")
  }

  test("cluster histogram and source report: hand dup structures") {
    import spark.implicits._
    // histogram over components: triple {0,3,6}, pair {1,4}, singles 2,5
    val comps = Seq(("0", "0"), ("3", "0"), ("6", "0"), ("1", "1"),
      ("4", "1"), ("2", "2"), ("5", "5")).toDF("id", "component")
    val hist = comps.groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist === Map(3L -> 1L, 2L -> 1L, 1L -> 2L))
    // source report algebra: dup_rate = (n - distinct)/n per source
    val docs = Seq(
      (0L, "sA", "x x"), (1L, "sA", "x x"), (2L, "sA", "y"),
      (3L, "sB", "z")).toDF("doc_id", "source", "text")
    val rep = docs
      .select(col("source"), Text.fingerprint(col("text")).as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), count_distinct(col("f")).as("u"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rep("sA") === ((3L, 2L)) && rep("sB") === ((1L, 1L)))
  }

  test("contrastivePairs: positives are the non-reps, negatives never in-component, seed-stable") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two components: {0,1,2} and {10,11}; everything else singleton
    val comp = ((0L until 40L).map(i => (i.toString, i.toString)).toMap
      ++ Map("1" -> "0", "2" -> "0", "11" -> "10")).toSeq
      .toDF("id", "component")
    def run(seed: String) = graft.pipeline.Sampling
      .contrastivePairs(docs, comp, "doc_id", negK = 3, seed = seed)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val out = run("s1")
    val pos = out.filter(_._3 == "pos").map(t => (t._1, t._2)).toSet
    assert(pos === Set(("1", "0"), ("2", "0"), ("11", "10")))
    val compOf = (Map("1" -> "0", "2" -> "0", "11" -> "10")
      ++ (0L until 40L).map(i => i.toString -> i.toString).toMap
      ++ Map("1" -> "0", "2" -> "0", "11" -> "10"))
    val negs = out.filter(_._3 == "neg")
    assert(negs.nonEmpty)
    negs.foreach { case (a, p, _) =>
      assert(compOf(p) != compOf(a), s"negative $p shares $a's component") }
    // anchors carry at most negK negatives
    negs.groupBy(_._1).foreach { case (a, g) => assert(g.length <= 3, a) }
    // byte-stable per seed; a different seed is a different draw
    assert(run("s1").sortBy(t => (t._1, t._3, t._2)).toSeq ===
      out.sortBy(t => (t._1, t._3, t._2)).toSeq)
    assert(run("s2").filter(_._3 == "neg").toSet != negs.toSet)
    // negK = 0: positives only
    val p0 = graft.pipeline.Sampling.contrastivePairs(docs, comp, "doc_id", negK = 0)
      .collect()
    assert(p0.forall(_.getString(2) == "pos") && p0.length === 3)
    // negK > n-1: the circle wraps — caps at n-1 instead of emitting
    // byte-identical duplicate negative rows
    val tiny = Seq((0L, "x"), (1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val tcomp = Seq(("0", "0"), ("1", "0"), ("2", "2")).toDF("id", "component")
    val tn = graft.pipeline.Sampling
      .contrastivePairs(tiny, tcomp, "doc_id", negK = 7)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(tn.length === tn.distinct.length, s"duplicate pair rows: ${tn.toSeq}")
    assert(tn.count(_._3 == "neg") <= 2, tn.toSeq.toString)
  }

  test("bpeFertility: shared tokenizer, grouped sums equal per-doc sums, empty docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa aa bb", "x"), (2L, "aa bb bb", "x"),
      (3L, "cc dd", "y"), (4L, "", "y"),   // empty: no words, contributes 0
      (5L, "aa aa", null.asInstanceOf[String]) // null group rides through (caller filters)
    ).toDF("doc_id", "text", "grp")
    val out = Text.bpeFertility(docs, "text", "doc_id", "grp", numMerges = 2)
      .collect().map(r => (Option(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5))))
      .toMap
    // group x: docs 1,2 -> 6 words; group y: only doc 3 (doc 4 empty)
    assert(out(Some("x"))._1 === 2L && out(Some("x"))._2 === 6L)
    assert(out(Some("y"))._1 === 1L && out(Some("y"))._2 === 2L)
    assert(out.contains(None)) // null group present; callers filter explicitly
    // identity: grouped token sums == direct bpeApply per-doc sums
    val merges = Text.bpeTrain(docs, "text", 2).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val direct = Text.bpeApply(docs.filter(col("grp") === "x"), "text", "doc_id", merges)
      .agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(out(Some("x"))._3 === direct)
    // fertility is tokens/words exactly
    val (_, w, t, f) = out(Some("x"))
    assert(f === t.toDouble / w.toDouble)
  }

  test("winnowStar: transitive chains group, singletons map to themselves") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    def soup(n: Int) = Seq.fill(n)("s" + rnd.nextInt(10000)).mkString(" ")
    val runAB = Seq.fill(40)("x" + rnd.nextInt(10000)).mkString(" ")
    val runBC = Seq.fill(40)("y" + rnd.nextInt(10000)).mkString(" ")
    // A shares a run with B, B with C, A and C share nothing directly:
    // the component must still join all three (reachability, not pairs)
    val docs = Seq(
      (1L, s"${soup(20)} $runAB ${soup(20)}"),
      (2L, s"$runAB ${soup(15)} $runBC"),
      (3L, s"${soup(25)} $runBC"),
      (4L, soup(40)), // singleton
      (5L, "a b")     // gram-free at k=3: still a singleton row
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("1") === "1" && out("2") === "1" && out("3") === "1", out.toString)
    assert(out("4") === "4" && out("5") === "5")
    // identity law: components equal a local union-find over the pairs
    val pairs = graft.pipeline.Dedup.winnowCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    out.foreach { case (id, comp) => assert(find(id) === comp, s"$id: $comp") }
  }

  test("winnowCandidates maxDocFreq drops boilerplate prints, keeps unique overlaps") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def soup(n: Int) = Seq.fill(n)("m" + rnd.nextInt(10000)).mkString(" ")
    val boiler = Seq.fill(40)("b" + rnd.nextInt(10000)).mkString(" ")
    val run = Seq.fill(40)("u" + rnd.nextInt(10000)).mkString(" ")
    // 20 docs share the boilerplate header; docs 100/101 also share a
    // unique run. Unbounded: C(20,2)+ pairs. maxDocFreq=10: boilerplate
    // prints (df ~20) drop, ONLY the unique-run pair survives.
    val docs = ((0 until 20).map(i => (i.toLong, s"$boiler ${soup(30)}")) ++
      Seq((100L, s"$boiler ${soup(10)} $run"), (101L, s"${soup(12)} $run"))
    ).toDF("doc_id", "text")
    val unbounded = graft.pipeline.Dedup.winnowCandidates(
        docs, "text", "doc_id", minShared = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(unbounded.size > 1 && unbounded.contains(("100", "101")))
    val capped = graft.pipeline.Dedup.winnowCandidates(
        docs, "text", "doc_id", minShared = 8, maxDocFreq = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped === Set(("100", "101")), s"capped: $capped")
  }

  test("winnowCandidates maxCandidatesPerDoc: edge set bounded, uniform-cluster components preserved") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def soup(n: Int) = Seq.fill(n)("q" + rnd.nextInt(10000)).mkString(" ")
    // a 12-deep exact-copy cluster (all pairs share ALL prints — the
    // uniform case) plus two singletons
    val copyText = soup(60)
    val docs = ((0 until 12).map(i => (i.toLong, copyText)) ++
      Seq((100L, soup(40)), (101L, soup(40)))).toDF("doc_id", "text")
    val full = graft.pipeline.Dedup.winnowCandidates(
        docs, "text", "doc_id", minShared = 8)
      .collect()
    assert(full.length === 12 * 11 / 2, s"uncapped C(12,2): ${full.length}")
    val capped = graft.pipeline.Dedup.winnowCandidates(
        docs, "text", "doc_id", minShared = 8, maxCandidatesPerDoc = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // union-keep bound: <= 2·C·n edges
    assert(capped.length <= 2 * 2 * 12, s"edge bound: ${capped.length}")
    // components unchanged: every member still reaches the min-id rep
    val star = graft.pipeline.Dedup.winnowStar(docs, "text", "doc_id",
        minShared = 8, maxCandidatesPerDoc = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    (0 until 12).foreach(i => assert(star(i.toString) === "0", star.toString))
    assert(star("100") === "100" && star("101") === "101")
    // determinism under repartitioning (window order is fully keyed)
    val capped2 = graft.pipeline.Dedup.winnowCandidates(
        docs.repartition(7), "text", "doc_id", minShared = 8,
        maxCandidatesPerDoc = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(capped2.toSet === capped.toSet)
  }

  test("semDedupClustered: hand geometry, keeper rule, exact-copy co-clustering, iters") {
    import spark.implicits._
    // 2D corpus, k=2: seeds are ids 0 and 1. Cluster 0 around (1,0),
    // cluster 1 around (0,1). Within cluster 0: ids 0,2,3 all cosine 1
    // to each other (colinear) -> keep 0, drop 2 and 3. id 4 is nearly
    // orthogonal to the cluster-0 members but assigned there (closer to
    // seed 0): kept. Cluster 1: ids 1,5 cosine 1 -> drop 5.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(0.5f, 0.0f)),
      (4L, Array(0.9f, 0.43f)), (5L, Array(0.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedupClustered(vecs, k = 2, threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 1L, 4L))
    // exact copies can never straddle clusters: planted copies of every
    // row (ids +100) must ALL drop at any k
    val planted = vecs.unionByName(
      vecs.select((col("vec_id") + 100L).as("vec_id"), col("embedding")))
    Seq(1, 2, 3).foreach { k =>
      val ids = Similarity.semDedupClustered(planted, k, threshold = 0.9999)
        .select("vec_id").as[Long].collect()
      assert(ids.forall(_ < 100L), s"k=$k: a planted copy survived: ${ids.toSeq}")
    }
    // iters > 0 (Lloyd-refined centers) keeps the guarantee
    val it = Similarity.semDedupClustered(planted, k = 2, threshold = 0.9999,
      iters = 2).select("vec_id").as[Long].collect()
    assert(it.forall(_ < 100L))
  }

  test("semDedupClustered: pair-bound gate refuses loudly, bad conf rejected") {
    import spark.implicits._
    val vecs = (0 until 50).map(i => (i.toLong, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    spark.conf.set("graft.semdedup.maxPairs", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.semDedupClustered(vecs, k = 1, threshold = 0.9)
      }
      assert(e.getMessage.contains("graft.semdedup.maxPairs"), e.getMessage)
    } finally spark.conf.unset("graft.semdedup.maxPairs")
    spark.conf.set("graft.semdedup.maxPairs", "not-a-number")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.semDedupClustered(vecs, k = 1, threshold = 0.9)
      }
      assert(e.getMessage.contains("positive integer"), e.getMessage)
    } finally spark.conf.unset("graft.semdedup.maxPairs")
  }

  test("winnow: the w+k-1 shared-run guarantee on randomized planted overlaps") {
    import spark.implicits._
    // Schleimer et al. 2003 theorem: docs sharing a run of >= w+k-1 words
    // share >= 1 selected fingerprint. Construct random word soup pairs
    // with a planted shared run of exactly w+k-1 words (the tight case).
    val k = 3; val w = 4
    val rnd = new scala.util.Random(7)
    def soup(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000)).mkString(" ")
    val run = Seq.fill(w + k - 1)("s" + rnd.nextInt(5000)).mkString(" ")
    val rows = (0 until 10).flatMap { i =>
      Seq((i * 2L, s"${soup(20)} $run ${soup(20)}"),
          (i * 2L + 1L, s"${soup(25)} $run ${soup(15)}"))
    }
    val sel = Text.winnow(rows.toDF("doc_id", "text"), "text", "doc_id", k, w)
      .select(col("id"), col("fp")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    (0 until 10).foreach { i =>
      val shared = sel(i * 2L) intersect sel(i * 2L + 1L)
      assert(shared.nonEmpty, s"pair $i: no shared fingerprint across a ${w + k - 1}-word run")
    }
  }

  test("winnowKernel: null elements skipped, positions compact (temp-fn reachable path)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: Seq[String]): GenericArrayData =
      new GenericArrayData(ws.map(w =>
        if (w == null) null else UTF8String.fromString(w)).toArray[Any])
    val clean = Seq("p", "q", "r", "s", "t", "u", "v", "w")
    val holey = Seq("p", null, "q", "r", null, "s", "t", "u", null, "v", "w")
    // null elements must not NPE and must compact away: identical output
    val a = Text.winnowKernel(arr(clean), 3, 4)
    val b = Text.winnowKernel(arr(holey), 3, 4)
    def render(g: GenericArrayData) = (0 until g.numElements()).map { i =>
      val r = g.getStruct(i, 2); (r.getLong(0), r.getLong(1))
    }
    assert(render(a).nonEmpty && render(a) === render(b))
    // all-null and empty arrays: no grams, no selections, no NPE
    assert(Text.winnowKernel(arr(Seq(null, null)), 3, 4).numElements() === 0)
    assert(Text.winnowKernel(arr(Seq.empty), 3, 4).numElements() === 0)
  }

  test("winnow: rightmost tie-break, short-doc window, sub-k doc, density bound") {
    import spark.implicits._
    val docs = Seq(
      // doc 0: "a b c" repeats -> positions 0 and 3 hash identically and
      // fall in one window (w=4 over 4 grams): the min's RIGHTMOST
      // occurrence must be selected when the tie is the window min
      (0L, "a b c a b c"),
      (1L, "x y z"),      // exactly one gram (k=3): single truncated window
      (2L, "x y"),        // < k words: no grams, no selections
      (3L, "p q r s t u v w x y z a b c d e f g h")
    ).toDF("doc_id", "text")
    val out = Text.winnow(docs, "text", "doc_id", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    // doc 0: grams at 0..3 = [abc, bca, cab, abc]; hs(0)==hs(3). If that
    // hash is the window min, selection must be pos 3, not pos 0 — assert
    // no (pos=0) and (pos=3) selection carry the SAME fp
    val d0 = byDoc(0L).map(t => (t._2, t._3)).toMap
    if (d0.contains(0L) && d0.contains(3L))
      assert(d0(0L) != d0(3L), "tie selected both occurrences — rightmost rule broken")
    // the duplicated gram hash: if selected at all, only at pos 3
    val dupFp = d0.get(3L)
    dupFp.foreach(fp => assert(d0.get(0L) != Some(fp)))
    // doc 1: one gram -> exactly one selection at pos 0
    assert(byDoc(1L).toSeq === Seq((1L, 0L, byDoc(1L).head._3)))
    // doc 2: nothing
    assert(!byDoc.contains(2L))
    // doc 3: 17 grams, 14 full windows -> selections <= windows, >= ceil(windows/w)
    val n3 = byDoc(3L).length
    assert(n3 >= 4 && n3 <= 14, s"doc 3 selected $n3 prints")
    // every selection's fp is the true min over SOME window: spot-check
    // positions are within gram range
    byDoc(3L).foreach { case (_, pos, _) => assert(pos >= 0 && pos <= 16) }
  }
}
