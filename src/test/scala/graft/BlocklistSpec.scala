package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Blocklist

/** Bloom-sketch-accelerated exact blocklist filtering. */
class BlocklistSpec extends SparkSpec {

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"url-$i", i % 10)).toDF("id", "url", "grp")
  }

  test("filterOut equals the exact anti-join, bloom FPs removed") {
    import spark.implicits._
    val df = corpus(500)
    val bl = df.filter(col("id") % 7 === 0).select("url")
    // high fpp forces false positives through the verify branch
    val got = Blocklist.filterOut(df, bl, "url", fpp = 0.3)
      .select("id").as[Long].collect().sorted
    val want = df.join(bl, Seq("url"), "left_anti")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === want.toSeq)
    assert(want.length === 500 - (500 + 6) / 7)
  }

  test("keepMatching equals the exact semi-join") {
    import spark.implicits._
    val df = corpus(300)
    val bl = spark.createDataset(Seq("url-5", "url-5", "url-250", "url-999"))
      .toDF("bad_url")
    val got = Blocklist.keepMatching(df, bl, "url", blocklistKey = "bad_url",
        fpp = 0.3)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === Seq(5L, 250L))
  }

  test("null keys follow join semantics: anti keeps them, semi drops them") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("id", "k")
    val bl = Seq("a").toDF("k")
    assert(Blocklist.filterOut(df, bl, "k").select("id").as[Long]
      .collect().sorted.toSeq === Seq(2L, 3L))
    assert(Blocklist.keepMatching(df, bl, "k").select("id").as[Long]
      .collect().toSeq === Seq(1L))
  }

  test("empty blocklist: filterOut is identity, keepMatching is empty") {
    val df = corpus(50)
    val bl = corpus(1).filter(lit(false)).select("url")
    assert(Blocklist.filterOut(df, bl, "url").count() === 50L)
    assert(Blocklist.keepMatching(df, bl, "url").count() === 0L)
  }

  test("sketch has no false negatives; fpp roughly bounds false positives") {
    import spark.implicits._
    val members = (0 until 1000).map(i => s"m-$i")
    val bl = members.toDF("k")
    val bf = Blocklist.sketch(bl, "k", fpp = 0.01)
    val probes = (members ++ (0 until 10000).map(i => s"x-$i")).toDF("k")
    val hits = probes.filter(
        graft.functions.GraftFunctions.might_contain(spark, lit(bf), xxhash64(col("k"))))
      .as[String].collect()
    assert(members.forall(hits.contains), "bloom must have zero false negatives")
    val fp = hits.count(_.startsWith("x-"))
    assert(fp < 10000 * 0.05, s"fp rate way above sizing target: $fp / 10000")
  }

  test("sketch restores the session bloom caps it raised") {
    import spark.implicits._
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val beforeItems = spark.conf.get(itemsKey)
    val beforeBits = spark.conf.get(bitsKey)
    // expectedItems above the 4M default forces both caps up for the agg
    val bl = (0 until 100).map(i => s"k$i").toDF("k")
    val bf = Blocklist.sketch(bl, "k", fpp = 0.01, expectedItems = 8000000L)
    assert(bf.nonEmpty)
    assert(spark.conf.get(itemsKey) === beforeItems,
      "maxNumItems must be restored after the sketch aggregation")
    assert(spark.conf.get(bitsKey) === beforeBits,
      "maxNumBits must be restored after the sketch aggregation")
  }

  test("phraseMatches: anchored plan equals brute-force contains on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 12).map(i => s"w$i")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0 until 200).map(i => (i.toLong, doc(8 + rnd.nextInt(20))))
      .toDF("id", "text")
    // 1-, 2-, and 3-word phrases from the same tiny vocab -> dense matches
    val phrases = Seq("w1", "w2 w3", "w4 w5 w6", "w0 w0", "w7 w8 w9 w10")
      .toDF("phrase")
    val got = Blocklist.phraseMatches(docs, phrases, "text", "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = docs.crossJoin(phrases)
      .filter(contains(concat(lit(" "), col("text"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))))
      .select("id", "phrase")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
    assert(want.nonEmpty, "vacuous law: no phrase matched any random doc")
  }

  test("phraseMatches: word boundaries, normalization, and output uniqueness") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the badactor walked"),          // no word-aligned match
      (1L, "the  Bad   ACTOR  walked"),     // ws+case normalize -> match
      (2L, "bad actor bad actor bad actor"),// repeats -> ONE output row
      (3L, null.asInstanceOf[String]),      // null text matches nothing
      (4L, "actor bad"),                    // reversed -> no match
      (5L, "prefix bad actor")              // match at end
    ).toDF("id", "text")
    // the blocklist carries the phrase in its ORIGINAL casing/spacing:
    // matching runs normalized, but the output must return the original
    // string so it joins back to blocklist metadata (severity, category)
    val phrases = Seq("Bad  ACTOR").toDF("phrase")
    val out = Blocklist.phraseMatches(docs, phrases, "text", "id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((1L, "Bad  ACTOR"), (2L, "Bad  ACTOR"), (5L, "Bad  ACTOR")))
    // complement: phraseFilterOut keeps exactly the unmatched ids
    val kept = Blocklist.phraseFilterOut(docs, phrases, "text", "id")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 3L, 4L))
  }

  test("phraseMatches refuses null and empty-after-normalization phrases") {
    import spark.implicits._
    val docs = Seq((0L, "a b")).toDF("id", "text")
    Seq(Seq("ok phrase", null.asInstanceOf[String]), Seq("   "), Seq(""))
      .foreach { bad =>
        val e = intercept[IllegalArgumentException] {
          Blocklist.phraseMatches(docs, bad.toDF("phrase"), "text", "id")
        }
        assert(e.getMessage.contains("phrase"), e.getMessage)
      }
  }
}
