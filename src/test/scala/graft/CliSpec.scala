package graft

import java.nio.file.Files
import graft.cli.Cli

/** In-process CLI pipeline: load -> categorize -> describe -> study,
  * with TSV + dtypes sidecar state between verbs. */
class CliSpec extends SparkSpec {

  test("load -> categorize -> association-study reproduces the golden p-value") {
    val dir = Files.createTempDirectory("graft-cli").toString
    Cli.run(spark, List("load", "from-csv",
      refPath("test_data_files/nhanes_data.csv"), s"$dir/nh"))
    assert(new java.io.File(s"$dir/nh.dtypes").exists())
    Cli.run(spark, List("modify", "categorize", s"$dir/nh", s"$dir/nh2"))
    Cli.run(spark, List("analyze", "association-study", s"$dir/nh2", s"$dir/res",
      "--outcome", "HI_CHOL", "--covariates", "agecat,RIAGENDR", "--min-n", "1"))
    val res = spark.read.option("sep", "\t").option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/res")
    val race = res.filter(res("Variable") === "race").collect().head
    assertRtol(race.getDouble(race.fieldIndex("pvalue")), 7.074783e-03, 1e-4,
      "race golden p through the CLI")
  }

  test("recode-values, merge-variables, move-variables, plot round-trip") {
    val dir = Files.createTempDirectory("graft-cli2").toString
    Cli.run(spark, List("load", "from-csv",
      refPath("test_data_files/nhanes_data.csv"), s"$dir/nh"))
    // recode race level 1 -> 99 (string state)
    Cli.run(spark, List("modify", "recode-values", s"$dir/nh", s"$dir/rc",
      "--current", "1", "--replacement", "99", "--only", "race"))
    val rc = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$dir/rc.txt")
    assert(rc.filter(rc("race").cast("double") === 99.0).count() > 0)
    assert(rc.filter(rc("race").cast("double") === 1.0).count() === 0)
    // move WTMEC2YR into a second frame
    Cli.run(spark, List("modify", "colfilter", s"$dir/nh", s"$dir/idonly",
      "--only", "SDMVPSU"))
    Cli.run(spark, List("modify-move-variables", s"$dir/nh", s"$dir/idonly",
      s"$dir/left2", s"$dir/right2", "--only", "WTMEC2YR"))
    val left2 = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/left2.txt")
    val right2 = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/right2.txt")
    assert(!left2.columns.contains("WTMEC2YR"))
    assert(right2.columns.contains("WTMEC2YR"))
    // merge the moved column back (project right down to it first so the
    // frames are disjoint)
    Cli.run(spark, List("modify", "colfilter", s"$dir/right2", s"$dir/right3",
      "--only", "WTMEC2YR"))
    Cli.run(spark, List("modify", "merge-variables", s"$dir/left2", s"$dir/back",
      "--right", s"$dir/right3", "--how", "inner"))
    val back = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/back.txt")
    assert(back.columns.contains("WTMEC2YR"))
    // plot prep verbs write tables
    Cli.run(spark, List("plot", "histogram", s"$dir/nh", s"$dir/hist",
      "--column", "WTMEC2YR", "--bins", "10"))
    val hist = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/hist")
    assert(hist.count() > 0 && hist.columns.toSeq == Seq("bin", "lo", "hi", "count"))
    Cli.run(spark, List("plot", "qq", s"$dir/nh", s"$dir/qq",
      "--columns", "WTMEC2YR", "--n", "100"))
    val qq = spark.read.option("sep", "\t").option("header", "true").csv(s"$dir/qq")
    assert(qq.count() === 100)
  }

  test("pipeline verbs: dedup + text features over parquet") {
    val dir = Files.createTempDirectory("graft-cli3").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    Cli.run(spark, List("pipeline", "dedup-exact", docs, s"$dir/dd"))
    val dd = spark.read.parquet(s"$dir/dd")
    assert(dd.count() > 0 && dd.columns.contains("text"))
    Cli.run(spark, List("pipeline", "text-features", docs, s"$dir/tf"))
    val tf = spark.read.parquet(s"$dir/tf")
    assert(tf.columns.contains("pred_lang") && tf.columns.contains("stopword_ratio"))
    Cli.run(spark, List("pipeline", "dedup-minhash", docs, s"$dir/mk",
      "--threshold", "0.5"))
    assert(spark.read.parquet(s"$dir/mk").columns.toSeq === Seq("id", "keeper"))
    Cli.run(spark, List("pipeline", "text-redact", docs, s"$dir/red"))
    assert(spark.read.parquet(s"$dir/red").columns.contains("redacted"))
    // one-call near-dedup returns the corpus itself, smaller-or-equal
    Cli.run(spark, List("pipeline", "dedup-near", docs, s"$dir/nd",
      "--threshold", "0.5"))
    val nd = spark.read.parquet(s"$dir/nd")
    assert(nd.columns.contains("text") &&
      nd.count() <= spark.read.parquet(docs).count() && nd.count() > 0)
  }

  test("pipeline curation verbs: decontaminate, pack, sample, domain-mix") {
    val dir = Files.createTempDirectory("graft-cli5").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val nDocs = spark.read.parquet(docs).count()
    Cli.run(spark, List("pipeline", "decontaminate", docs, s"$dir/dc",
      "--eval", docs, "--ngram", "5"))
    val dc = spark.read.parquet(s"$dir/dc")
    // eval == train, so every doc with >= 1 n-gram is contaminated
    assert(dc.count() === nDocs)
    assert(dc.filter("n_ngrams > 0 AND NOT contaminated").count() === 0)
    Cli.run(spark, List("pipeline", "crossdoc-dup", docs, s"$dir/cd", "--ngram", "5"))
    assert(spark.read.parquet(s"$dir/cd").columns.contains("dup_frac"))
    Cli.run(spark, List("pipeline", "remove-dup-spans", docs, s"$dir/rs", "--ngram", "5"))
    val rs = spark.read.parquet(s"$dir/rs")
    assert(rs.count() === nDocs && rs.columns.contains("text_dedup"))
    // r13 verbs: substring dedup pair, exact prefix join, novelty, OOV,
    // Space-Saving sketch, source-overlap matrix
    Cli.run(spark, List("pipeline", "dedup-substring", docs, s"$dir/sub",
      "--min-tokens", "15"))
    assert(spark.read.parquet(s"$dir/sub").columns.toSet ===
      Set("id", "span_start", "span_end", "n_tokens"))
    Cli.run(spark, List("pipeline", "dedup-substring-cut", docs, s"$dir/subc",
      "--min-tokens", "15"))
    assert(spark.read.parquet(s"$dir/subc").count() === nDocs)
    Cli.run(spark, List("pipeline", "dedup-prefix-join", docs, s"$dir/pj",
      "--threshold", "0.8"))
    assert(spark.read.parquet(s"$dir/pj").columns.toSet ===
      Set("id1", "id2", "jaccard"))
    Cli.run(spark, List("pipeline", "text-novelty", docs, s"$dir/nv", "--n", "3"))
    assert(spark.read.parquet(s"$dir/nv").count() === nDocs)
    Cli.run(spark, List("pipeline", "text-oov-curve", docs, s"$dir/oov",
      "--sizes", "10,100"))
    assert(spark.read.parquet(s"$dir/oov").count() === 2)
    Cli.run(spark, List("pipeline", "text-heavy-hitters", docs, s"$dir/hh",
      "--capacity", "50"))
    val hh = spark.read.parquet(s"$dir/hh")
    assert(hh.count() <= 50 && hh.columns.contains("guaranteed"))
    Cli.run(spark, List("pipeline", "source-overlap-matrix", docs, s"$dir/som"))
    assert(spark.read.parquet(s"$dir/som").columns.contains("est_jaccard"))
    Cli.run(spark, List("pipeline", "pack-chunked", docs, s"$dir/pc",
      "--tokens", "n_chars", "--group", "lang", "--order", "doc_id", "--max", "4096"))
    assert(spark.read.parquet(s"$dir/pc").columns.contains("chunk_first"))
    Cli.run(spark, List("pipeline", "pack-firstfit", docs, s"$dir/pf",
      "--tokens", "n_chars", "--group", "lang", "--order", "doc_id", "--max", "4096"))
    assert(spark.read.parquet(s"$dir/pf").count() === nDocs)
    Cli.run(spark, List("pipeline", "sample-hash", docs, s"$dir/sh",
      "--fraction", "0.5"))
    val sh = spark.read.parquet(s"$dir/sh").count()
    assert(sh > 0 && sh < nDocs)
    Cli.run(spark, List("pipeline", "sample-stratified", docs, s"$dir/ss",
      "--strata", "lang", "--k", "5"))
    assert(spark.read.parquet(s"$dir/ss").groupBy("lang").count()
      .filter("count <> 5").count() === 0)
    Cli.run(spark, List("pipeline", "domain-mix", docs, s"$dir/dm",
      "--domain", "source", "--targets", "src0=0.5,src1=0.5"))
    val dm = spark.read.parquet(s"$dir/dm")
    assert(dm.select("source").distinct().count() === 2)
  }

  test("pipeline round-15 verbs: image-dedup, unigram-train, tokenizer-ab") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli15").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    // tiny image corpus: base + 2x-resized copy + an unrelated image
    def pix(id: Long)(x: Int, y: Int): Int =
      (((x * (3 + id % 5) + y * (2 + id % 7) + ((x.toLong * y + id) % 23) * 11) % 208) + 24).toInt
    val imgs = Seq(
      (5L, graft.pipeline.Multimodal.encodeBmpGray(64, 64, pix(5))),
      (6L, graft.pipeline.Multimodal.encodeBmpGray(64, 64, pix(6))),
      (105L, graft.pipeline.Multimodal.encodeBmpGray(128, 128, (x, y) => pix(5)(x / 2, y / 2))))
      .toDF("doc_id", "payload")
    imgs.write.parquet(s"$dir/imgs")
    Cli.run(spark, List("pipeline", "image-dedup", s"$dir/imgs", s"$dir/idd",
      "--bin", "payload"))
    val idd = spark.read.parquet(s"$dir/idd").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(idd("105") === idd("5") && idd("6") === "6", idd.toString)
    Cli.run(spark, List("pipeline", "unigram-train", docs, s"$dir/uni",
      "--vocab-size", "40"))
    val uni = spark.read.parquet(s"$dir/uni")
    assert(uni.count() > 0 && uni.columns.toSet === Set("piece", "cnt", "n_chars"))
    Cli.run(spark, List("pipeline", "tokenizer-ab", docs, s"$dir/ab",
      "--group", "lang", "--merges", "4"))
    val ab = spark.read.parquet(s"$dir/ab")
    assert(ab.count() > 0 &&
      ab.columns.contains("bpe_fertility") && ab.columns.contains("unigram_fertility"))
  }

  test("pipeline verbs: vocab, shuffle, shuffle-shards, join-asof, join-range") {
    val dir = Files.createTempDirectory("graft-cli6").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val events = "/root/testdata/sf0.001/events.parquet"
    Cli.run(spark, List("pipeline", "vocab", docs, s"$dir/vb", "--k", "50"))
    val vb = spark.read.parquet(s"$dir/vb")
    assert(vb.count() > 0 && vb.count() <= 50 &&
      vb.columns.toSet === Set("word", "tf", "df"))
    Cli.run(spark, List("pipeline", "shuffle", docs, s"$dir/sp", "--seed", "s1"))
    val sp = spark.read.parquet(s"$dir/sp")
    assert(sp.columns.contains("shuffle_pos") &&
      sp.select("shuffle_pos").distinct().count() === sp.count())
    Cli.run(spark, List("pipeline", "shuffle-shards", docs, s"$dir/shd",
      "--seed", "s1", "--shards", "4"))
    assert(spark.read.parquet(s"$dir/shd").count() === sp.count())
    // timestamp columns as epoch micros for the temporal joins; the
    // testdata has shipped ts as both TIMESTAMP(NANOS) (long via
    // nanosAsLong) and TIMESTAMP_NTZ micros — handle either
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // ns ts -> long
    val e = spark.read.parquet(events)
    import org.apache.spark.sql.functions.{col, expr}
    val mic = e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000 AS BIGINT)") // raw ns long -> micros
      case _ => expr("unix_micros(CAST(ts AS TIMESTAMP))")
    }
    e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), mic.as("t"))
      .write.mode("overwrite").parquet(s"$dir/clicks")
    e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), mic.as("pt"),
        col("value"), mic.as("w_start"), (mic + expr("3600000000")).as("w_end"))
      .write.mode("overwrite").parquet(s"$dir/purch")
    Cli.run(spark, List("pipeline", "join-asof", s"$dir/clicks", s"$dir/ja",
      "--right", s"$dir/purch", "--keys", "user_id", "--left-ts", "t",
      "--right-ts", "pt", "--right-cols", "value"))
    val ja = spark.read.parquet(s"$dir/ja")
    assert(ja.count() === spark.read.parquet(s"$dir/clicks").count() &&
      ja.columns.contains("asof_value"))
    Cli.run(spark, List("pipeline", "join-range", s"$dir/clicks", s"$dir/jr",
      "--intervals", s"$dir/purch", "--keys", "user_id", "--point", "t",
      "--start", "w_start", "--end", "w_end"))
    assert(spark.read.parquet(s"$dir/jr").columns.contains("purchase_id"))
  }

  test("pipeline blocklist-filter and blocklist-semi partition the corpus exactly") {
    val dir = Files.createTempDirectory("graft-cli7").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val d = spark.read.parquet(docs)
    import org.apache.spark.sql.functions.col
    d.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/bl")
    Cli.run(spark, List("pipeline", "blocklist-filter", docs, s"$dir/clean",
      "--blocklist", s"$dir/bl", "--key", "doc_id"))
    Cli.run(spark, List("pipeline", "blocklist-semi", docs, s"$dir/hit",
      "--blocklist", s"$dir/bl", "--key", "doc_id"))
    val clean = spark.read.parquet(s"$dir/clean")
    val hit = spark.read.parquet(s"$dir/hit")
    assert(clean.count() + hit.count() === d.count())
    assert(hit.filter(col("doc_id") % 5 =!= 0).count() === 0)
    assert(clean.filter(col("doc_id") % 5 === 0).count() === 0)
  }

  test("pipeline ann-index builds a persisted IVF index that ann-topk --model queries") {
    val dir = Files.createTempDirectory("graft-cli4").toString
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    Cli.run(spark, List("pipeline", "ann-index", emb, s"$dir/idx", "--lists", "8"))
    assert(spark.read.parquet(s"$dir/idx/centers").count() === 8)
    val assigned = spark.read.parquet(s"$dir/idx/assigned")
    assert(assigned.columns.contains("list_id") && assigned.count() > 0)
    // queries-only invocation against the persisted index
    Cli.run(spark, List("pipeline", "ann-topk", emb, s"$dir/topk",
      "--model", s"$dir/idx", "--k", "3"))
    val topk = spark.read.parquet(s"$dir/topk")
    assert(topk.columns.toSeq === Seq("query_id", "neighbor_id", "cosine", "rank"))
    assert(topk.count() > 0)
    // embedding-level near-dup removal returns the corpus (<= input rows)
    Cli.run(spark, List("pipeline", "semantic-dedup", emb, s"$dir/sd",
      "--dim", "64", "--threshold", "0.99"))
    val sd = spark.read.parquet(s"$dir/sd")
    assert(sd.count() > 0 && sd.count() <= spark.read.parquet(emb).count())
  }

  test("pipeline round-6 verbs: curate, quantile-bins, chunk, sample-weighted, write-sized") {
    val dir = Files.createTempDirectory("graft-cli6").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val nDocs = spark.read.parquet(docs).count()
    Cli.run(spark, List("pipeline", "curate", docs, s"$dir/cur",
      "--langs", "en,de,fr,es,zh", "--no-gopher", "--threshold", "0.8"))
    val cur = spark.read.parquet(s"$dir/cur")
    assert(cur.count() > 0 && cur.count() <= nDocs && cur.columns.contains("text"))
    Cli.run(spark, List("pipeline", "quantile-bins", docs, s"$dir/qb",
      "--cols", "n_chars", "--k", "4"))
    val qb = spark.read.parquet(s"$dir/qb")
    assert(qb.columns.contains("n_chars_bin"))
    assert(qb.select("n_chars_bin").distinct().count() === 4)
    Cli.run(spark, List("pipeline", "chunk", docs, s"$dir/ch",
      "--chunk", "32", "--stride", "24"))
    val ch = spark.read.parquet(s"$dir/ch")
    assert(ch.count() >= nDocs && ch.columns.contains("chunk_text"))
    Cli.run(spark, List("pipeline", "sample-weighted", docs, s"$dir/sw",
      "--weight", "n_chars", "--k", "10"))
    assert(spark.read.parquet(s"$dir/sw").count() === 10)
    Cli.run(spark, List("pipeline", "write-sized", docs, s"$dir/ws",
      "--target-mb", "1"))
    assert(spark.read.parquet(s"$dir/ws").count() === nDocs)
  }

  test("pipeline verbs: sample-split, tfidf, kmeans, winsorize, psi-drift") {
    val dir = Files.createTempDirectory("graft-cli7").toString
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val li = "/root/testdata/sf0.001/lineitem.parquet"
    val nDocs = spark.read.parquet(docs).count()
    Cli.run(spark, List("pipeline", "sample-split", docs, s"$dir/sp",
      "--splits", "train=0.8,val=0.1,test=0.1"))
    val sp = spark.read.parquet(s"$dir/sp")
    assert(sp.count() === nDocs)
    assert(sp.select("split").distinct().count() === 3)
    Cli.run(spark, List("pipeline", "tfidf", docs, s"$dir/tfidf", "--k", "2"))
    val tfidf = spark.read.parquet(s"$dir/tfidf")
    assert(tfidf.columns.contains("tfidf") && tfidf.count() > 0)
    Cli.run(spark, List("pipeline", "kmeans", emb, s"$dir/km", "--k", "4",
      "--iters", "3"))
    val km = spark.read.parquet(s"$dir/km")
    assert(km.select("cluster_id").distinct().count() <= 4 && km.count() > 0)
    Cli.run(spark, List("pipeline", "winsorize", li, s"$dir/wz",
      "--cols", "l_extendedprice"))
    assert(spark.read.parquet(s"$dir/wz").count() ===
      spark.read.parquet(li).count())
    Cli.run(spark, List("pipeline", "psi-drift", docs, s"$dir/psi",
      "--ref", docs, "--cols", "n_chars"))
    val psi = spark.read.parquet(s"$dir/psi").collect()
    assert(psi.length === 1 && psi(0).getDouble(psi(0).fieldIndex("psi")) === 0.0)
  }

  test("pipeline knn-classify and label-audit over the labeled embeddings") {
    val dir = Files.createTempDirectory("graft-cli9").toString
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val n = spark.read.parquet(emb).count()
    Cli.run(spark, List("pipeline", "knn-classify", emb, s"$dir/kc", "--k", "3"))
    val kc = spark.read.parquet(s"$dir/kc")
    assert(kc.columns.toSet === Set("query_id", "predicted_label", "votes", "best_cosine"))
    assert(kc.count() === n, "one prediction per corpus vector")
    Cli.run(spark, List("pipeline", "label-audit", emb, s"$dir/la"))
    val la = spark.read.parquet(s"$dir/la")
    assert(la.columns.toSet === Set("label", "n", "n_agree", "agree_rate"))
    import org.apache.spark.sql.functions.sum
    assert(la.agg(sum("n")).head.getLong(0) === n, "audit covers every vector")
  }

  test("pipeline label-audit forwards non-default --id/--vec/--label") {
    // regression: knnLabelAudit used to delegate to knnClassify with the
    // DEFAULT column names, so renamed columns threw (or silently voted
    // with a stray 'label' column). Renamed input must give the identical
    // audit result as the default-named input.
    val dir = Files.createTempDirectory("graft-cli10").toString
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val renamed = spark.read.parquet(emb)
      .withColumnRenamed("vec_id", "my_id")
      .withColumnRenamed("embedding", "my_vec")
      .withColumnRenamed("label", "my_label")
    renamed.write.parquet(s"$dir/renamed")
    Cli.run(spark, List("pipeline", "label-audit", s"$dir/renamed", s"$dir/la2",
      "--id", "my_id", "--vec", "my_vec", "--label", "my_label"))
    Cli.run(spark, List("pipeline", "label-audit", emb, s"$dir/la1"))
    val a = spark.read.parquet(s"$dir/la1").orderBy("label").collect().toSeq
    val b = spark.read.parquet(s"$dir/la2").orderBy("label").collect().toSeq
    assert(a === b, "renamed columns must not change the audit")
  }

  test("pipeline ann-topk forwards non-default --id to the deterministic train") {
    // regression: ivfTopK delegated to ivfTrain without idCol, so the
    // kmeansInit first-k seeding ordered by a nonexistent vec_id and threw
    val dir = Files.createTempDirectory("graft-cli12").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumnRenamed("vec_id", "item_id")
    emb.write.parquet(s"$dir/renamed")
    Cli.run(spark, List("pipeline", "ann-topk", s"$dir/renamed", s"$dir/topk",
      "--id", "item_id", "--k", "3"))
    val out = spark.read.parquet(s"$dir/topk")
    assert(out.count() > 0)
    assert(out.columns.contains("query_id") && out.columns.contains("neighbor_id"))
  }

  test("pipeline url-extract and pagerank --dangling-mass") {
    import org.apache.spark.sql.functions.sum
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli11").toString
    Seq((1L, "a https://X.Example.com/p?utm_s=1&q=2 b"),
        (2L, "c http://y.example.com/ d"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Cli.run(spark, List("pipeline", "url-extract", s"$dir/docs", s"$dir/urls"))
    val u = spark.read.parquet(s"$dir/urls")
    assert(u.columns.toSet ===
      Set("doc_id", "text", "url", "host", "canonical_url"))
    val canon = u.orderBy("doc_id").select("canonical_url").as[String].collect()
    assert(canon === Array("https://x.example.com/p?q=2", "http://y.example.com"))

    Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0))
      .toDF("src", "dst", "w").write.parquet(s"$dir/edges")
    Cli.run(spark, List("pipeline", "pagerank", s"$dir/edges", s"$dir/pr",
      "--dangling-mass"))
    val total = spark.read.parquet(s"$dir/pr").agg(sum("rank")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"mass conserved, got $total")
  }

  test("interaction-study CLI: bare-variable form, explicit pairs, arity error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-inter").toString
    val rnd = new scala.util.Random(5)
    val df = (1 to 80).map { i =>
      val a = rnd.nextGaussian(); val b = rnd.nextGaussian(); val c = rnd.nextGaussian()
      (i.toLong, 1.0 + a + 0.5 * b * c + rnd.nextGaussian(), a, b, c)
    }.toDF("ID", "y", "a", "b", "c")
    graft.io.Load.saveTsvWithSidecar(graft.model.CladeFrame(df, "ID"),
      s"$dir/in.txt", s"$dir/in.dtypes")
    // bare variable: pairs of 'b' with every other valid variable
    Cli.run(spark, List("analyze", "interaction-study", s"$dir/in", s"$dir/res",
      "--outcome", "y", "--interactions", "b", "--min-n", "1"))
    val res = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$dir/res")
    assert(res.select("Term1", "Term2").collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet ===
      Set(Set("b", "a"), Set("b", "c")))
    // explicit pairs still parse
    Cli.run(spark, List("analyze", "interaction-study", s"$dir/in", s"$dir/res2",
      "--outcome", "y", "--interactions", "a,b;b,c", "--min-n", "1"))
    assert(spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$dir/res2").count() === 2)
    // malformed arity gets the reference's error, not a MatchError
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, List("analyze", "interaction-study", s"$dir/in", s"$dir/res3",
        "--outcome", "y", "--interactions", "a,b,c", "--min-n", "1"))
    }
    assert(err.getMessage.contains("does not list exactly two variables"))
  }

  test("unknown commands fail loudly") {
    intercept[IllegalArgumentException] {
      Cli.run(spark, List("frobnicate", "everything"))
    }
  }

  test("stream heavy-hitters verb is DURABLE: second run resumes the count from --checkpoint") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-stream").toString
    val src = s"$dir/src"; val out = s"$dir/hh"; val ckpt = s"$dir/ckpt"
    Seq("a a a b", "b c").toDF("text").write.mode("append").parquet(src)
    Cli.run(spark, List("stream", "heavy-hitters", src, out,
      "--checkpoint", ckpt, "--capacity", "10"))
    val first = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first("a") === 3L && first("b") === 2L && first("c") === 1L)
    // NEW files land under src; re-running with the SAME checkpoint
    // processes only them and CONTINUES the cumulative count (the
    // durable contract the CLI defaults to; driver-state forms would
    // restart from zero)
    Seq("c c a").toDF("text").write.mode("append").parquet(src)
    Cli.run(spark, List("stream", "heavy-hitters", src, out,
      "--checkpoint", ckpt, "--capacity", "10"))
    val second = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(second("a") === 4L && second("c") === 3L && second("b") === 2L,
      s"resumed cumulative snapshot wrong: $second")
  }

  test("stream drift verb: closed windows scored per run, CUSUM continues across runs") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft-cli-drift").toString
    val src = s"$dir/src"; val out = s"$dir/drift"; val ckpt = s"$dir/ckpt"
    def ts(sec: Long) = Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(sec))
    val refDf = (1 to 1000).map(_.toDouble).toDF("value")
    refDf.write.parquet(s"$dir/ref")
    // hour 0 leans low; hour 1's arrival advances the watermark past it
    val hour0 = (0 until 100).map(i => (ts(i * 36L), (i * 8 + 1).toDouble))
    val hour1 = (0 until 100).map(i => (ts(3600L + i * 35L), 990.0 + (i % 10)))
    (hour0 ++ hour1).toDF("ts", "value").write.mode("append").parquet(src)
    Cli.run(spark, List("stream", "drift", src, out,
      "--checkpoint", ckpt, "--ref", s"$dir/ref", "--value", "value"))
    val first = spark.read.parquet(out).collect()
    assert(first.length === 1, s"exactly hour 0 closed: ${first.length}")
    // hour 2 arrives -> hour 1 closes on the SECOND run; its CUSUM builds
    // on hour 0's checkpointed state (all-top-decile hour -> alarm)
    val hour2 = (0 until 50).map(i => (ts(7200L + i * 60L), 500.0))
    hour2.toDF("ts", "value").write.mode("append").parquet(src)
    Cli.run(spark, List("stream", "drift", src, out,
      "--checkpoint", ckpt, "--ref", s"$dir/ref", "--value", "value"))
    val rows = spark.read.parquet(out).orderBy("window_start").collect()
    assert(rows.length === 2, s"hour 1 appended: ${rows.length}")
    val verdictIdx = rows.head.fieldIndex("verdict")
    assert(rows.last.getString(verdictIdx) === "action",
      s"all-top-decile hour must score action: ${rows.last}")
    assert(rows.last.getBoolean(rows.last.fieldIndex("cusum_alarm")),
      "CUSUM alarm must fire on the shifted hour")
  }
}
