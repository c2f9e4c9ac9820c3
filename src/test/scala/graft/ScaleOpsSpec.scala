package graft

import org.apache.spark.sql.functions._
import graft.io.Load
import graft.pipeline.Joins

/** Scale primitives: salted skew-joins, bucketed co-located joins, ORC
  * interchange. These tests pin the PLAN shape, not just the values —
  * at 100 TB the plan is the contract. */
class ScaleOpsSpec extends SparkSpec {

  test("saltedJoin == plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of fact rows share one key (the pathological-skew shape)
    val fact = (0 until 5000).map(i =>
      (if (i % 10 == 0) i % 7 else 999, i.toLong)).toDF("k", "v")
    val dim = (0 until 1000).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
    val salted = Joins.saltedJoin(fact, dim, Seq("k"), salt = 8)
    assert(salted.columns.toSeq === plain.columns.toSeq)
    val a = plain.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val b = salted.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(a === b) // row-for-row identical incl. duplicate multiplicity
    // the join key really is (k, __salt): fact's skew key splits 8 ways
    val plan = Joins.saltedJoin(fact, dim, Seq("k"), 8).queryExecution
      .executedPlan.toString
    assert(plan.contains("__salt"))
  }

  test("bucketed tables equi-join without a shuffle on either side") {
    val t1 = "graft_bkt_orders"
    val t2 = "graft_bkt_lineitem"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Load.saveBucketed(orders, t1, Seq("o_orderkey"), numBuckets = 8)
    Load.saveBucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      t2, Seq("o_orderkey"), numBuckets = 8)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = spark.table(t1).join(spark.table(t2), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === lineitem.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
    }
  }

  test("asofJoin matches a brute-force per-key scan (ties, tolerance, no-match)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // small timestamp range on purpose: forces equal-ts ties both within
    // the right side and across left/right (the inclusive-match edge)
    val left = Seq.fill(400)((rng.nextInt(5), rng.nextInt(50).toLong))
    val right = Seq.fill(120)((rng.nextInt(6), rng.nextInt(50).toLong,
      (rng.nextInt(90) + 10) / 10.0))
    def expected(tol: Option[Long]) = left.map { case (k, t) =>
      val cands = right.filter(x =>
        x._1 == k && x._2 <= t && tol.forall(tt => t - x._2 <= tt))
      val best = if (cands.isEmpty) None
                 else Some(cands.maxBy(x => (x._2, x._3))) // greatest (ts, payload)
      (k, t, best.map(_._2), best.map(_._3))
    }.groupBy(identity).view.mapValues(_.length).toMap
    val ldf = left.toDF("k", "t")
    val rdf = right.toDF("k", "rt", "v")
    for (tol <- Seq(None, Some(7L))) {
      val got = Joins.asofJoin(ldf, rdf, Seq("k"), "t", "rt", Seq("v"),
          prefix = "m_", tolerance = tol)
        .select("k", "t", "m_rt", "m_v").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === expected(tol), s"tolerance=$tol")
    }
  }

  test("asofJoin forward matches a brute-force next-match scan") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val left = Seq.fill(400)((rng.nextInt(5), rng.nextInt(50).toLong))
    val right = Seq.fill(120)((rng.nextInt(6), rng.nextInt(50).toLong,
      (rng.nextInt(90) + 10) / 10.0))
    // forward: smallest rightTs >= leftTs; among equal-ts rights the
    // greatest (ts, payload) wins (same tie rule as backward)
    def expected(tol: Option[Long]) = left.map { case (k, t) =>
      val cands = right.filter(x =>
        x._1 == k && x._2 >= t && tol.forall(tt => x._2 - t <= tt))
      val best = if (cands.isEmpty) None
                 else {
                   val minTs = cands.map(_._2).min
                   Some(cands.filter(_._2 == minTs).maxBy(_._3))
                 }
      (k, t, best.map(_._2), best.map(_._3))
    }.groupBy(identity).view.mapValues(_.length).toMap
    val ldf = left.toDF("k", "t")
    val rdf = right.toDF("k", "rt", "v")
    for (tol <- Seq(None, Some(7L))) {
      val got = Joins.asofJoin(ldf, rdf, Seq("k"), "t", "rt", Seq("v"),
          prefix = "m_", tolerance = tol, direction = "forward")
        .select("k", "t", "m_rt", "m_v").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === expected(tol), s"tolerance=$tol")
    }
  }

  test("rangeJoin matches a brute-force interval scan at several bucket widths") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val points = Seq.fill(300)((rng.nextInt(4), rng.nextInt(1000).toLong, rng.nextInt(100000)))
    val intervals = Seq.fill(60) {
      val s = rng.nextInt(1000).toLong
      (rng.nextInt(5), s, s + rng.nextInt(200).toLong, rng.nextInt(100000))
    }
    val expected = (for {
      (pk, t, pid) <- points
      (ik, s, e, iid) <- intervals if ik == pk && s <= t && t <= e
    } yield (pk, t, pid, s, e, iid)).groupBy(identity).view.mapValues(_.length).toMap
    val pdf = points.toDF("k", "t", "pid")
    val idf = intervals.toDF("k", "s", "e", "iid")
    // widths below, near, and above the max interval length
    for (width <- Seq(16L, 128L, 4096L)) {
      val got = Joins.rangeJoin(pdf, idf, Seq("k"), "t", "s", "e", width)
        .select("k", "t", "pid", "s", "e", "iid").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getLong(4), r.getInt(5)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got === expected, s"bucketWidth=$width")
    }
  }

  test("intervalJoin matches a brute-force overlap scan at several bucket widths") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val as = Seq.tabulate(150) { i =>
      val s = rng.nextInt(200).toLong; (i.toLong, rng.nextInt(4), s, s + rng.nextInt(40))
    }
    val bs = Seq.tabulate(150) { i =>
      val s = rng.nextInt(200).toLong; (i.toLong, rng.nextInt(5), s, s + rng.nextInt(25))
    }
    val expected = (for {
      (ai, ak, a1, a2) <- as
      (bi, bk, b1, b2) <- bs
      if ak == bk && a1 <= b2 && b1 <= a2
    } yield (ai, bi)).toSet
    val adf = as.toDF("aid", "k", "a1", "a2")
    val bdf = bs.toDF("bid", "k", "b1", "b2")
    for (width <- Seq(1L, 7L, 32L, 500L)) {
      val got = Joins.intervalJoin(adf, bdf, Seq("k"), "a1", "a2", "b1", "b2", width)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.distinct.length, s"width=$width emitted duplicate pairs")
      assert(got.toSet === expected, s"width=$width")
    }
  }

  test("shufflePositions is the md5 permutation; shuffledShards replays it shard-by-shard") {
    import spark.implicits._
    val n = 500
    val df = (0 until n).map(i => (i.toLong, s"doc$i")).toDF("id", "payload")
      .repartition(13) // physical layout must not matter
    val got = graft.pipeline.Sampling.shufflePositions(df, col("id"), "seedA")
      .select("id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference permutation via the JVM's own md5
    val md = java.security.MessageDigest.getInstance("MD5")
    def m(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectedOrder = (0L until n).sortBy(i => (m(s"seedA:$i"), i.toString))
    assert(got.toSeq.sorted === expectedOrder.zipWithIndex
      .map { case (id, pos) => id -> pos.toLong }.sorted)
    // a different seed is a different permutation
    val gotB = graft.pipeline.Sampling.shufflePositions(df, col("id"), "seedB")
      .select("id", "shuffle_pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB !== got)
    // shards: range-disjoint in the shuffle key, concatenation = the permutation
    val sharded = graft.pipeline.Sampling.shuffledShards(df, col("id"), "seedA", 7)
    val perPart = sharded.select("id").rdd
      .mapPartitionsWithIndex { (pi, it) => Iterator.single(pi -> it.map(_.getLong(0)).toArray) }
      .collect().sortBy(_._1)
    val replayed = perPart.flatMap(_._2)
    assert(replayed.toSeq === expectedOrder)
  }

  test("fuzzyJoin == brute-force levenshtein within blocks; banded DP prunes") {
    import spark.implicits._
    val names = Seq("alpha corp", "alpha corps", "alpha korp", "ALPHA CORP",
      "beta llc", "beta lc", "betta llc", "gamma inc", "gamm inc",
      "delta gmbh", "delts gmbh", "zeta sa")
    val l = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("lid", "lname")
    val r = names.zipWithIndex.map { case (n, i) => (i.toLong + 100, n) }.toDF("rid", "rname")
    val got = Joins.fuzzyJoin(l, r, "lname", "rname", maxDist = 2, prefixLen = 4)
      .select("lid", "rid", "edit_dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    // brute force replay: same blocking contract, plain levenshtein
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (a, i) <- names.zipWithIndex; (b, j) <- names.zipWithIndex
      if a.toLowerCase.take(4) == b.toLowerCase.take(4)
      dist = lev(a.toLowerCase, b.toLowerCase) if dist <= 2
    } yield (i.toLong, j.toLong + 100, dist)).toSet
    assert(got === want)
    // case-insensitive: "ALPHA CORP" matches "alpha corp" at distance 0
    assert(got.contains((3L, 100L, 0)))
    // blocking really blocks: "zeta sa" vs "beta sa" share no prefix-4
    assert(!got.exists { case (a, b, _) => a == 11L && b != 111L })
  }

  test("ORC roundtrip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").orc(s"$dir/docs.orc")
    val back = Load.fromOrc(spark, s"$dir/docs.orc", idCol = Some("doc_id"))
    assert(back.df.schema.fields.map(f => (f.name, f.dataType)).toSet ===
      docs.withColumnRenamed("doc_id", graft.model.CladeFrame.DefaultId)
        .schema.fields.map(f => (f.name, f.dataType)).toSet)
    assert(back.df.count() === docs.count())
    // pushdown reaches the ORC scan too
    val plan = back.df.filter(col(graft.model.CladeFrame.DefaultId) < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan"))
  }

  test("writeSized: file count tracks the target size; round-trip intact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val dir = java.nio.file.Files.createTempDirectory("sized").toString
    // tiny target -> several files; huge target -> exactly one
    val nSmall = Load.writeSized(li, s"$dir/small", targetMB = 1)
    val filesSmall = new java.io.File(s"$dir/small").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesSmall === nSmall, s"expected $nSmall files, saw $filesSmall")
    val nBig = Load.writeSized(li, s"$dir/big", targetMB = 10240)
    assert(nBig === 1)
    val filesBig = new java.io.File(s"$dir/big").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBig === 1)
    // data survives both layouts
    val n = li.count()
    assert(spark.read.parquet(s"$dir/small").count() === n)
    assert(spark.read.parquet(s"$dir/big").count() === n)
  }

  test("JSONL roundtrip: schema pinned, corrupt lines quarantined not fatal") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars").limit(50)
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    Load.writeJsonl(docs, s"$dir/docs", codec = "none")
    // drop a malformed shard into the dump (every web dump has some);
    // a separate file keeps Hadoop's .crc sidecars of the real parts valid
    val w = new java.io.FileWriter(s"$dir/docs/part-extra.json")
    w.write("{not json at all\n"); w.close()
    // Spark refuses to answer queries that reference ONLY _corrupt_record
    // against raw files — cache the parsed frame first (documented contract)
    val back = Load.fromJsonl(spark, s"$dir/docs",
      schema = Some(docs.schema), idCol = Some("doc_id")).df.cache()
    assert(back.filter(col("_corrupt_record").isNotNull).count() === 1)
    val clean = back.filter(col("_corrupt_record").isNull)
    assert(clean.count() === 50)
    // values intact through the roundtrip
    val sum0 = docs.agg(sum("n_chars")).head().getLong(0)
    assert(clean.agg(sum("n_chars")).head().getLong(0) === sum0)
  }

  test("upsert: updates replace, inserts append, untouched rows survive") {
    import spark.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "name", "v")
    val updates = Seq((2L, "b2", 99), (4L, "d", 40)).toDF("k", "name", "v")
    val got = graft.pipeline.Joins.upsert(base, updates, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, "a", 10), (2L, "b2", 99), (3L, "c", 30), (4L, "d", 40)))
    // schema drift is an error, not silent column loss
    intercept[IllegalArgumentException] {
      graft.pipeline.Joins.upsert(base, updates.drop("v"), Seq("k"))
    }
  }

  test("diffSnapshots: added/removed/changed/unchanged; null-safe compare") {
    import spark.implicits._
    val base = Seq((1L, "a", Some(10)), (2L, "b", None), (3L, "c", Some(30)),
      (4L, "d", Some(40))).toDF("k", "name", "v")
    val newer = Seq((1L, "a", Some(10)),   // unchanged
      (2L, "b", Some(20)),                 // null -> value = changed
      (3L, "c2", Some(30)),                // name change
      (5L, "e", None)                      // added (with a null field)
    ).toDF("k", "name", "v")
    val got = graft.pipeline.Joins.diffSnapshots(base, newer, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
    intercept[IllegalArgumentException] {
      graft.pipeline.Joins.diffSnapshots(base, newer.drop("v"), Seq("k"))
    }
  }

  test("checkRules: one-pass pass/fail counts; null verdicts fail") {
    import spark.implicits._
    val df = Seq((1, Some(5)), (2, Some(-1)), (3, None)).toDF("id", "x")
    val got = graft.describe.Describe.checkRules(df, Seq(
        "x_positive" -> (col("x") > 0),          // null verdict for row 3
        "id_unique_domain" -> col("id").isin(1, 2, 3)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("x_positive") === ((3L, 1L, 2L)))  // null counts as failed
    assert(got("id_unique_domain") === ((3L, 3L, 0L)))
  }

  test("pageRank: hand-computed 3-node graph; sum of ranks conserved") {
    import spark.implicits._
    // a -> b (w 1), a -> c (w 3), b -> c (w 1), c -> a (w 1)
    val edges = Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0),
      ("c", "a", 1.0)).toDF("src", "dst", "w")
    val got = graft.pipeline.Graph.pageRank(edges, "src", "dst", "w",
        iterations = 2, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // replay the recurrence by hand: rank0 = 1/3 each
    val d = 0.85; val base = 0.15 / 3
    def step(r: Map[String, Double]): Map[String, Double] = Map(
      "a" -> (base + d * r("c")),                      // c's only out-edge
      "b" -> (base + d * (0.25 * r("a"))),             // w 1 of a's total 4
      "c" -> (base + d * (0.75 * r("a") + r("b"))))
    val want = step(step(Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3)))
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, k) }
    // every node has out-edges -> no dangling leak: total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("pageRank danglingMass: leaked mass re-spread uniformly, total stays 1") {
    import spark.implicits._
    // c has NO out-edges: without redistribution its mass leaks each step
    val edges = Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0))
      .toDF("src", "dst", "w")
    val leak = graft.pipeline.Graph.pageRank(edges, "src", "dst", "w",
        iterations = 2, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(leak.values.sum < 1.0 - 1e-6) // the default leaks
    val got = graft.pipeline.Graph.pageRank(edges, "src", "dst", "w",
        iterations = 2, damping = 0.85, danglingMass = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // hand recurrence with the dangling term: dm_k = rank_k(c)
    val d = 0.85; val base = 0.15 / 3
    def step(r: Map[String, Double]): Map[String, Double] = {
      val dm = r("c") / 3
      Map("a" -> (base + d * dm),
        "b" -> (base + d * (0.25 * r("a") + dm)),
        "c" -> (base + d * (0.75 * r("a") + r("b") + dm)))
    }
    val want = step(step(Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3)))
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, k) }
    assert(math.abs(got.values.sum - 1.0) < 1e-12) // conserved exactly
  }

  test("labelPropagation: distributed path (forced via conf) equals the local fast path") {
    import spark.implicits._
    // chain + island + a tie (b's neighbors a,c carry distinct labels with
    // equal counts in round 1 — the min-label tie-break must agree)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("src", "dst")
    def run(): Map[String, String] =
      graft.pipeline.Graph.labelPropagation(edges, "src", "dst", rounds = 3)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = run()
    val dist = distributed(run())
    assert(local === dist)
    assert(local.keySet === Set("a", "b", "c", "d", "e", "x", "y"))
  }

  test("kCoreBounded: distributed path (forced via conf) equals the local fast path") {
    import spark.implicits._
    // triangle core + a degree-1 tail that must peel off at k=2
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    def run(): Map[String, Long] =
      graft.pipeline.Graph.kCoreBounded(edges, "src", "dst", k = 2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = run()
    val dist = distributed(run())
    assert(local === dist)
    assert(local === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("pageRank: distributed path (forced via conf) equals the local fast path") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 1.0),
      ("c", "a", 2.0), ("b", "d", 4.0)).toDF("src", "dst", "w")
    def run(dangling: Boolean): Map[String, Double] =
      graft.pipeline.Graph.pageRank(edges, "src", "dst", "w",
          iterations = 3, danglingMass = dangling)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val localPlain = run(false); val localDangling = run(true)
    val (distPlain, distDangling) = distributed((run(false), run(true)))
    Seq((localPlain, distPlain), (localDangling, distDangling)).foreach {
      case (l, d) =>
        assert(l.keySet === d.keySet)
        l.foreach { case (k, v) => assert(math.abs(d(k) - v) < 1e-12, k) }
    }
  }

  test("pageRank: NULL endpoints fall through to the distributed path (paths agree)") {
    import spark.implicits._
    // a null src/dst edge: SQL joins never match it, while the local Map
    // would key it and propagate its mass — the local path must decline so
    // BOTH modes produce the identical (SQL-semantics) result
    val edges = Seq((Option("a"), Option("b"), 1.0), (Option("b"), Option("a"), 2.0),
      (Option.empty[String], Option("c"), 1.0)).toDF("src", "dst", "w")
    def run(): Map[Option[String], Double] =
      graft.pipeline.Graph.pageRank(edges, "src", "dst", "w", iterations = 2)
        .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getString(0)))
          -> r.getDouble(1)).toMap
    val default = run()
    val forced = distributed(run())
    assert(default.keySet === forced.keySet)
    default.foreach { case (k, v) => assert(math.abs(forced(k) - v) < 1e-12, s"$k") }
    // and the null-src edge contributed no mass to c anywhere
    assert(math.abs(default(Some("c")) - (0.15 / 4)) < 1e-12)
  }

  test("zOrder: interleave bits exactly; cells partition rows; layout sorts by z") {
    import spark.implicits._
    // interleaveBits(3, 5) with 3 bits: x=011 at even positions, y=101 at
    // odd -> z = 1 + 2 + 4 + 32 = 39
    val z = Seq((3L, 5L)).toDF("bx", "by")
      .select(graft.pipeline.Layout.interleaveBits(col("bx"), col("by"), 3))
      .head().getLong(0)
    assert(z === 39L)

    val df = (0 until 400).map(i => (i.toLong % 97, (i * 31L) % 89, i))
      .toDF("x", "y", "payload")
    val stats = graft.pipeline.Layout.zCellStats(df, "x", "y", bits = 4).collect()
    assert(stats.map(_.getLong(1)).sum === 400L)          // every row in a cell
    assert(stats.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 256))
    // bucket endpoints: global min maps to cell 0's corner, max to the top
    val zval = graft.pipeline.Layout.withZValue(df, "x", "y", bits = 4)
    val minz = zval.filter(col("x") === 0 && col("y") === 0).head().getAs[Long]("zvalue")
    assert(minz === 0L)

    // 3-D interleave, 2 bits: x=01,y=10,z=11 -> 1 + 4 + 16 + 32 = 53
    val z3 = Seq((1L, 2L, 3L)).toDF("a", "b", "c")
      .select(graft.pipeline.Layout.interleaveBitsN(
        Seq(col("a"), col("b"), col("c")), 2))
      .head().getLong(0)
    assert(z3 === 53L)
    // N-D z-value: distinct triples spread over distinct cells, bounds hold
    val z3df = graft.pipeline.Layout.withZValueN(df
        .withColumn("w", (col("payload") % 13).cast("long")),
      Seq("x", "y", "w"), bits = 3, out = "zvalue")
    assert(z3df.agg(max("zvalue")).head().getLong(0) < (1L << 9))
    assert(z3df.agg(min("zvalue")).head().getLong(0) >= 0L)

    val laid = graft.pipeline.Layout.zOrdered(df, "x", "y", numFiles = 4, bits = 4)
    assert(laid.rdd.getNumPartitions === 4)
    // within every partition the z-values are non-decreasing (the write layout)
    val ok = laid.select("zvalue").rdd.mapPartitions { it =>
      val zs = it.map(_.getLong(0)).toSeq
      Iterator.single(zs == zs.sorted)
    }.collect()
    assert(ok.forall(identity))
  }

  test("zValue bucket is exact over the full long domain (no overflow)") {
    import spark.implicits._
    // epoch-nanos-style wide domain: (x-mn)*(2^bits-1) overflows Long, and
    // x-mn itself overflows when the range spans the sign. The decimal
    // bucket arithmetic must match exact BigInt division everywhere.
    val xs = Seq(Long.MinValue + 10, Long.MinValue / 2, -1L, 0L, 1L,
      Long.MaxValue / 3, Long.MaxValue - 10)
    val df = xs.map(Tuple1(_)).toDF("x")
    val bits = 8
    val out = graft.pipeline.Layout.withZValueN(df, Seq("x"), bits, "z")
      .select("x", "z").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = BigInt(xs.min); val mx = BigInt(xs.max)
    def want(x: Long): Long =
      ((BigInt(x) - mn) * ((1 << bits) - 1) / (mx - mn)).toLong
    xs.foreach(x => assert(out(x) === want(x), s"bucket($x)"))
    assert(out(xs.min) === 0L && out(xs.max) === (1L << bits) - 1)
  }
}
