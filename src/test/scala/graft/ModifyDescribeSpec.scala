package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.describe.Describe
import graft.io.Load
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify

/** Unit tests for the QC/describe operator semantics (reference behaviors
  * from clarite/modules/modify.py and describe.py). */
class ModifyDescribeSpec extends SparkSpec {
  import VariableType._

  private def mk(rows: Seq[(Long, java.lang.Double, String)]): CladeFrame = {
    import spark.implicits._
    CladeFrame(rows.toDF("id", "num", "cat"))
  }

  lazy val sample: CladeFrame = mk(Seq(
    (1L, 1.0: java.lang.Double, "a"), (2L, 2.0: java.lang.Double, "b"),
    (3L, null: java.lang.Double, "a"), (4L, 4.0: java.lang.Double, "b"),
    (5L, 100.0: java.lang.Double, null)))

  test("colfilterMinN drops sparse columns of tested kinds only") {
    val typed = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    val out = Modify.colfilterMinN(typed, n = 5)
    assert(out.variables.isEmpty) // num has 4, cat has 4 -> both dropped
    val keep = Modify.colfilterMinN(typed, n = 4)
    assert(keep.variables.toSet === Set("num", "cat"))
    // unknown-kind variables are never tested (left for manual typing)
    val untyped = Modify.colfilterMinN(sample, n = 5) // cat is Unknown here
    assert(untyped.variables === Seq("cat"))
  }

  test("colfilterMinCatN drops categories with rare levels") {
    val cf = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    val dropped = Modify.colfilterMinCatN(cf, n = 3)
    assert(!dropped.variables.contains("cat")) // a=2, b=2 -> min 2 < 3
    val kept = Modify.colfilterMinCatN(cf, n = 2)
    assert(kept.variables.contains("cat"))
  }

  test("colfilterPercentZero drops mostly-zero continuous columns") {
    import spark.implicits._
    val cf = CladeFrame(Seq((1L, 0.0, 1.0), (2L, 0.0, 2.0), (3L, 0.0, 3.0),
      (4L, 1.0, 4.0)).toDF("id", "zeros", "vals"))
    val out = Modify.colfilterPercentZero(cf, filterPercent = 75.0)
    assert(out.variables === Seq("vals"))
  }

  test("rowfilterIncompleteObs drops rows with any NA") {
    assert(Modify.rowfilterIncompleteObs(sample).df.count() === 3)
    assert(Modify.rowfilterIncompleteObs(sample, only = Some(Seq("num"))).df.count() === 4)
  }

  test("mergeObservations rejects overlapping ids and mismatched types") {
    val a = mk(Seq((1L, 1.0: java.lang.Double, "x")))
    val b = mk(Seq((1L, 2.0: java.lang.Double, "y")))
    val e = intercept[IllegalArgumentException] { Modify.mergeObservations(a, b) }
    assert(e.getMessage.contains("overlapping"))
    val c = mk(Seq((2L, 3.0: java.lang.Double, "z")))
    assert(Modify.mergeObservations(a, c).df.count() === 2)
  }

  test("mergeVariables outer join aligns by id") {
    import spark.implicits._
    val left = CladeFrame(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "l"))
    val right = CladeFrame(Seq((2L, 20.0), (3L, 30.0)).toDF("id", "r"))
    val outer = Modify.mergeVariables(left, right, "outer")
    assert(outer.df.count() === 3)
    assert(Modify.mergeVariables(left, right, "inner").df.count() === 1)
  }

  test("categorize infers kinds per the distinct-count rules") {
    import spark.implicits._
    val df = (1 to 30).map { i =>
      (i.toLong, "const", if (i % 2 == 0) "y" else "n", s"cat${i % 4}",
        i.toDouble, s"str$i", if (true) null: String else "x")
    }.toDF("id", "c_const", "c_bin", "c_cat", "c_cont", "c_unknown", "c_allna")
    val rep = Modify.categorize(CladeFrame(df))
    val d = rep.decisions.map(x => x._1 -> x._3).toMap
    assert(d("c_const") === "constant")
    assert(d("c_bin") === "binary")
    assert(d("c_cat") === "categorical")
    assert(d("c_cont") === "continuous")
    assert(d("c_unknown") === "unknown") // 30 uniques but not numeric
    assert(d("c_allna") === "dropped")
    assert(!rep.frame.variables.contains("c_allna"))
    assert(rep.frame.typeOf("c_cont") === Continuous)
  }

  test("recodeValues replaces values only in selected columns and keeps levels in sync") {
    val cf = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    val out = Modify.recodeValues(cf, Map("a" -> "A"), only = Some(Seq("cat")))
    val vals = out.df.select("cat").collect().map(_.getString(0)).toSet
    assert(vals === Set("A", "b", null))
    assert(out.levels("cat") === Seq("A", "b"))
  }

  test("removeOutliers gaussian nulls values beyond mean +/- c*sd") {
    val out = Modify.removeOutliers(sample, "gaussian", cutoff = 1.0,
      only = Some(Seq("num")))
    // mean=26.75, sd~48.9 -> 100 is outside 1 sd
    assert(out.df.filter(col("num").isNotNull).count() === 3)
  }

  test("exactQuantilesAll property: matches in-memory (n-1)q linear interpolation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val colA = Seq.fill(537)(rnd.nextDouble() * 100 - 50)
    val colB = Seq.fill(537)(if (rnd.nextDouble() < 0.3) null
      else java.lang.Double.valueOf(rnd.nextGaussian()))
    val df = colA.zip(colB).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    val fracs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val got = Modify.exactQuantilesAll(df, Seq("a", "b"), fracs)
    def expect(vs: Seq[Double]): Seq[Double] = {
      val s = vs.sorted
      fracs.map { q =>
        val h = (s.length - 1) * q
        val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
        s(lo) + (h - lo) * (s(hi) - s(lo))
      }
    }
    got("a").get.zip(expect(colA)).foreach { case (g, e) =>
      assertRtol(g, e, 1e-12, "col a quantile") }
    val bVals = colB.collect { case v if v != null => v.doubleValue() }
    got("b").get.zip(expect(bVals)).foreach { case (g, e) =>
      assertRtol(g, e, 1e-12, "col b quantile (nulls dropped)") }
  }

  test("removeOutliers iqr approx fast path agrees with exact on dense data") {
    val df = spark.range(0, 1000).select(col("id"),
      (col("id") % 101).cast("double").as("v"))
    val cf = CladeFrame(df)
    val exact = Modify.removeOutliers(cf, "iqr", cutoff = 0.5)
      .df.filter(col("v").isNotNull).count()
    val approx = Modify.removeOutliers(cf, "iqr", cutoff = 0.5, exactQuantiles = false)
      .df.filter(col("v").isNotNull).count()
    // t-digest at accuracy 10000 is exact-ish on 101 distinct values
    assert(math.abs(exact - approx) <= 20, s"exact=$exact approx=$approx")
  }

  test("groupedQuantiles: matches Spark's percentile aggregate; null group kept") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (1 to 5000).map { i =>
      (if (i % 17 == 0) None: Option[String] else Some(s"g${i % 3}"),
       math.floor(rng.nextDouble() * 40), // heavy ties
       if (i % 9 == 0) None: Option[Double] else Some(rng.nextGaussian()))
    }.toDF("g", "tied", "cont")
    val fr = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    Seq("tied", "cont").foreach { vc =>
      val fast = Describe.groupedQuantiles(df, vc, "g", fr)
        .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](2)).toMap
      val slow = df.filter(col(vc).isNotNull)
        .groupBy("g")
        .agg(percentile(col(vc).cast("double"), array(fr.map(lit): _*)).as("q"))
        .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](1)).toMap
      assert(fast.keySet === slow.keySet, s"$vc groups (incl. the null group)")
      fast.keySet.foreach { g =>
        fast(g).zip(slow(g)).zipWithIndex.foreach { case ((a, b), j) =>
          assert(math.abs(a - b) < 1e-12, s"$vc group=$g fraction ${fr(j)}: $a vs $b")
        }
      }
    }
  }

  test("exactQuantilesAll: bracket-selection path agrees with the sort path") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // shapes that stress the brackets: heavy ties (50 distinct over 20k
    // rows), continuous, a sparse column, a constant, an empty column —
    // and fractions at the edges where the pad clamps
    val rows = (1 to 20000).map { i =>
      (math.floor(rng.nextDouble() * 50),                       // heavy ties
       rng.nextGaussian() * 100,                                // continuous
       if (i % 7 == 0) Some(rng.nextDouble()) else None,        // sparse
       3.25,                                                    // constant
       None: Option[Double],                                    // empty
       i match {                                                // infinities
         case x if x % 1000 == 0 => Double.PositiveInfinity
         case x if x % 1001 == 0 => Double.NegativeInfinity
         case _ => rng.nextDouble()
       })
    }
    val df = rows.toDF("ties", "cont", "sparse", "const", "void", "inf")
    val colsQ = Seq("ties", "cont", "sparse", "const", "void", "inf")
    val fracs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    // force the sketch-bracket route for every non-empty column (n=20000
    // vs the small-n [min,max] widening at the default accuracy=10000
    // would exercise only the trivial bracket)
    spark.conf.set("graft.quantile.accuracy", "1000")
    val fast = try Modify.exactQuantilesAll(df, colsQ, fracs)
      finally spark.conf.unset("graft.quantile.accuracy")
    val slow = Modify.exactQuantilesAllSorted(df, colsQ, fracs)
    colsQ.foreach { c =>
      (fast(c), slow(c)) match {
        case (None, None) => ()
        case (Some(a), Some(b)) =>
          a.zip(b).zipWithIndex.foreach { case ((x, y), j) =>
            assert(java.lang.Double.compare(x, y) == 0,
              s"$c fraction ${fracs(j)}: bracket=$x sort=$y") }
        case (a, b) => fail(s"$c: presence mismatch $a vs $b")
      }
    }
    // small n (< accuracy): the [min, max] widening path, still exact
    val tiny = (1 to 37).map(i => Tuple1(i.toDouble)).toDF("v")
    val f2 = Modify.exactQuantilesAll(tiny, Seq("v"), fracs)
    val s2 = Modify.exactQuantilesAllSorted(tiny, Seq("v"), fracs)
    assert(f2("v").get === s2("v").get)
  }

  test("removeOutliers iqr at width: 500 columns in a bounded number of jobs") {
    // 500 continuous columns; the quantile engine must run ONE melt +
    // range-sort for all of them, not a full sort per column
    val k = 500
    val wide = spark.range(0, 60).select(
      col("id") +: (0 until k).map(i =>
        ((col("id") + i) % 59).cast("double").as(s"c$i")): _*)
    val cf = CladeFrame(wide)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Modify.removeOutliers(cf, "iqr", cutoff = 1.5)
      out.df.write.format("noop").mode("overwrite").save()
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() < 15, s"expected a bounded job count, got ${jobs.get()} (O(k) sorts?)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the batched quantiles agree with the single-column path
    val all = Modify.exactQuantilesAll(wide, Seq("c0", "c7"), Seq(0.25, 0.75))
    val single = Modify.exactQuantiles(wide, "c7", Seq(0.25, 0.75))
    assert(all("c7") === single)
    assert(all("c0").isDefined)
  }

  test("transform applies whitelisted functions and rejects unknown names") {
    val out = Modify.transform(sample, "log", only = Some(Seq("num")))
    val v = out.df.filter(col("id") === 2).select("num").head.getDouble(0)
    assertRtol(v, math.log(2.0), 1e-12, "log")
    intercept[IllegalArgumentException] { Modify.transform(sample, "os.system") }
  }

  test("makeBinary validates exactly two levels and records them sorted") {
    val cf = Modify.makeBinary(sample, only = Some(Seq("cat")))
    assert(cf.typeOf("cat") === Binary)
    assert(cf.levels("cat") === Seq("a", "b"))
    val three = sample.copy(df = sample.df.union(sample.df.limit(1).withColumn("cat", lit("c"))))
    val e = intercept[IllegalArgumentException](Modify.makeBinary(three, only = Some(Seq("cat", "num"))))
    assert(e.getMessage ===
      "requirement failed: cannot make binary (not exactly 2 unique values): num, cat")
  }

  test("describe.percentNa / freqTable / summarize") {
    val cf = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    val na = Describe.percentNa(spark, cf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assertRtol(na("num"), 20.0, 1e-12, "num na")
    assertRtol(na("cat"), 20.0, 1e-12, "cat na")
    val freq = Describe.freqTable(spark, cf)
      .filter(col("variable") === "cat").orderBy("value").collect()
    assert(freq.map(r => (r.getString(1), r.getLong(2))).toSeq === Seq(("a", 2L), ("b", 2L)))
    val sum = Describe.summarize(spark, cf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum("categorical") === 1L)
    assert(sum("continuous") === 1L)
  }

  test("describe.correlations is pairwise-complete like pandas df.corr") {
    import spark.implicits._
    // y has an NA; pairwise-complete corr(x,y) uses only complete pairs
    val df = Seq((1L, 1.0, 2.0: java.lang.Double), (2L, 2.0, 4.0: java.lang.Double),
      (3L, 3.0, null: java.lang.Double), (4L, 4.0, 8.1: java.lang.Double))
      .toDF("id", "x", "y")
    val corr = Describe.correlations(spark, CladeFrame(df), 0.0).collect()
    assert(corr.length === 1)
    assert(corr.head.getDouble(2) > 0.999) // near-perfect on the 3 complete pairs
  }

  test("correlations wide path: 500-column frame in one pass, equals agg path") {
    // 30 columns with planted correlation structure + nulls: both paths run
    // on the SAME frame and must agree to double precision
    val rng = new scala.util.Random(7)
    val k = 30
    val rows = (0 until 300).map { i =>
      val base = rng.nextGaussian()
      Row.fromSeq(i.toLong +: (0 until k).map { j =>
        if (rng.nextDouble() < 0.1) null
        else java.lang.Double.valueOf(base * (j % 3) + rng.nextGaussian())
      })
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType) +:
        (0 until k).map(j => org.apache.spark.sql.types.StructField(
          s"v$j", org.apache.spark.sql.types.DoubleType, nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    layouts(df).foreach { case (layout, in) =>
      val cf = CladeFrame(in)
      val viaAgg = Describe.correlations(spark, cf, 0.0)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val viaWide = Describe.correlations(spark, cf, 0.0, widePathMinPairs = 1)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(viaAgg.keySet === viaWide.keySet)
      viaAgg.foreach { case (pair, c) =>
        assertRtol(viaWide(pair), c, 1e-9, s"pair $pair ($layout)")
      }
    }

    // the reference's documented width: 500 continuous columns -> 124,750
    // pairs, far past what a single agg could plan; must finish bounded
    val wideK = 500
    val wideRows = (0 until 200).map { i =>
      Row.fromSeq(i.toLong +: (0 until wideK).map(j =>
        java.lang.Double.valueOf(rng.nextGaussian() + (if (j % 7 == 0) i * 0.01 else 0.0))))
    }
    val wideSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType) +:
        (0 until wideK).map(j => org.apache.spark.sql.types.StructField(
          s"w$j", org.apache.spark.sql.types.DoubleType, nullable = true)))
    val wideDf = spark.createDataFrame(spark.sparkContext.parallelize(wideRows, 4), wideSchema)
    val t0 = System.nanoTime()
    val res = Describe.correlations(spark, CladeFrame(wideDf), 0.9)
    assert(res.columns.toSeq === Seq("var1", "var2", "correlation"))
    res.collect() // force
    assert((System.nanoTime() - t0) / 1e9 < 120.0, "wide correlations too slow")
  }

  test("skewness matches scipy population g1 + D'Agostino transform") {
    import spark.implicits._
    val data = Seq(2.0, 8.0, 0.0, 4.0, 1.0, 9.0, 9.0, 0.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val cf = CladeFrame(data.toDF("id", "x"))
    val r = Describe.skewness(spark, cf).collect().head
    // scipy.stats.skew([2,8,0,4,1,9,9,0]) = 0.2650554122698573
    assertRtol(r.getDouble(r.fieldIndex("skew")), 0.2650554122698573, 1e-10, "skew")
    // scipy.stats.skewtest -> z=0.44626385374196975, p=0.6554066631275459
    assertRtol(r.getDouble(r.fieldIndex("zscore")), 0.44626385374196975, 1e-8, "z")
    assertRtol(r.getDouble(r.fieldIndex("pvalue_2sided")), 0.6554066631275459, 1e-8, "p")
  }

  test("dtypes sidecar roundtrip preserves kinds, levels, and ordered flag") {
    var cf = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    cf = cf.withOrdered(Set("cat"))
    val json = Load.dtypesJson(cf)
    assert(json.contains("\"ordered\":true"))
    val (types, levels, ordered) = Load.parseDtypesJson(json)
    assert(types("cat") === Categorical)
    assert(levels("cat") === Seq("a", "b"))
    assert(types("num") === Continuous)
    assert(ordered === Set("cat"))
    // unordered stays false
    val cf2 = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    val (_, _, ordered2) = Load.parseDtypesJson(Load.dtypesJson(cf2))
    assert(ordered2 === Set.empty[String])
  }

  test("colfilter report matches the reference's log prose") {
    import spark.implicits._
    // 3 continuous vars: v1 mostly zero, others not
    val df = (1 to 100).map(i =>
      (i.toLong, if (i <= 95) 0.0 else 1.0, i.toDouble, i * 2.0))
      .toDF("id", "v1", "v2", "v3")
    val cf = CladeFrame(df)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val old = Modify.logSink
    try {
      Modify.logSink = lines += _
      Modify.colfilterPercentZero(cf, filterPercent = 90.0)
    } finally Modify.logSink = old
    // exact _process_colfilter wording (utilities.py:183-190)
    assert(lines.toSeq === Seq(
      "Testing 3 of 3 continuous variables",
      "\tRemoved 1 (33.33%) tested continuous variables which were equal to " +
        "zero in at least 90.00% of non-NA observations."))
  }

  test("moveVariables relocates columns between frames") {
    import spark.implicits._
    val left = CladeFrame(Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0)).toDF("id", "a", "b"))
    val right = CladeFrame(Seq((1L, 100.0), (2L, 200.0)).toDF("id", "c"))
    val (newLeft, newRight) = Modify.moveVariables(left, right, only = Some(Seq("b")))
    assert(newLeft.variables === Seq("a"))
    assert(newRight.variables.toSet === Set("c", "b"))
    val r = newRight.df.filter(col("id") === 2).head
    assert(r.getDouble(r.fieldIndex("b")) === 20.0)
  }

  test("dropExtraCategories refreshes level sets to observed values") {
    var cf = Modify.makeCategorical(sample, only = Some(Seq("cat")))
    // inject a phantom level into the metadata
    cf = cf.withLevels(Map("cat" -> Seq("a", "b", "phantom")))
    val out = Modify.dropExtraCategories(cf, only = Some(Seq("cat")))
    assert(out.levels("cat") === Seq("a", "b"))
  }

  test("p-value correction: NaN and uncastable p-values are missing, never inflate m") {
    import spark.implicits._
    import graft.analyze.Corrections
    val df = Seq(("a", 0.01), ("b", 0.04), ("c", Double.NaN))
      .toDF("Variable", "pvalue")
    val out = Corrections.addCorrectedPvalues(df).collect()
      .map(r => r.getString(0) -> r).toMap
    // m = 2 (NaN excluded): bonferroni of a = 0.02, not NaN-poisoned
    assertRtol(out("a").getDouble(out("a").fieldIndex("pvalue_bonferroni")),
      0.02, 1e-12, "bonferroni with m=2")
    assert(out("c").isNullAt(out("c").fieldIndex("pvalue_bonferroni")))
    assert(out("c").isNullAt(out("c").fieldIndex("pvalue_fdr")))
    // uncastable string p-values stay visible as missing rows (the naive
    // NaN predicate made them vanish from both branches)
    val sdf = Seq(("a", "0.01"), ("b", "oops")).toDF("Variable", "pvalue")
    val sout = Corrections.addCorrectedPvalues(sdf).collect()
    assert(sout.length === 2)
    val bad = sout.find(_.getString(0) == "b").get
    assert(bad.isNullAt(bad.fieldIndex("pvalue_fdr")))
  }

  test("grouped p-value correction dedups repeated tests per group") {
    import spark.implicits._
    // two groups, each repeated twice with the same pvalue (the dedup-
    // then-correct-then-rejoin mode, reference: utils.py:77-117)
    val df = Seq(
      ("t1", "x", 0.01), ("t1", "x", 0.01),
      ("t2", "y", 0.04), ("t2", "y", 0.04)).toDF("Term1", "Term2", "pvalue")
    val out = graft.analyze.Corrections.addCorrectedPvalues(df,
      groupby = Seq("Term1", "Term2")).collect()
    assert(out.length === 4)
    val byTerm = out.groupBy(_.getString(0))
    // m = 2 distinct tests -> bonferroni = p * 2
    byTerm("t1").foreach(r =>
      assertRtol(r.getDouble(r.fieldIndex("pvalue_bonferroni")), 0.02, 1e-12, "t1 bonf"))
    byTerm("t2").foreach(r =>
      assertRtol(r.getDouble(r.fieldIndex("pvalue_bonferroni")), 0.08, 1e-12, "t2 bonf"))
    // fdr: ordered p=(0.01,0.04): 0.01*2/1=0.02; 0.04*2/2=0.04
    byTerm("t1").foreach(r =>
      assertRtol(r.getDouble(r.fieldIndex("pvalue_fdr")), 0.02, 1e-12, "t1 fdr"))
    byTerm("t2").foreach(r =>
      assertRtol(r.getDouble(r.fieldIndex("pvalue_fdr")), 0.04, 1e-12, "t2 fdr"))
  }

  test("summarizeApprox: one job, exact moments, bounded sketch error") {
    import spark.implicits._
    val n = 10000
    val df = (1 to n).map(i =>
      (i.toDouble, (i % 100).toDouble, if (i % 10 == 0) None else Some(i.toDouble)))
      .toDF("seq", "mod100", "holey")
    val out = Describe.summarizeApprox(spark, df, Seq("seq", "mod100", "holey"))
      .collect().map(r => r.getString(0) -> r).toMap
    val seqR = out("seq")
    assert(seqR.getLong(1) === n.toLong)
    assertRtol(seqR.getDouble(3), (n + 1) / 2.0, 1e-12, "mean exact")
    assert(seqR.getDouble(4) === 1.0 && seqR.getDouble(8) === n.toDouble)
    // HLL at rsd=0.05: within 3 sigma of the true distinct counts
    assert(math.abs(seqR.getLong(2) - n) <= 0.15 * n)
    assert(math.abs(out("mod100").getLong(2) - 100) <= 15)
    // quantile sketch at accuracy=10000 on 10k rows: near-exact
    assert(math.abs(seqR.getDouble(5) - n / 4.0) <= n * 0.01)
    assert(math.abs(seqR.getDouble(6) - n / 2.0) <= n * 0.01)
    assert(math.abs(seqR.getDouble(7) - 3 * n / 4.0) <= n * 0.01)
    // nulls excluded from n, included in nothing
    assert(out("holey").getLong(1) === (n - n / 10).toLong)
    // all-null column: null stats, zero counts
    val allNull = (1 to 50).map(_ => (1, None: Option[Double])).toDF("k", "v")
    val nr = Describe.summarizeApprox(spark, allNull, Seq("v")).head()
    assert(nr.getLong(1) === 0L && nr.getLong(2) === 0L && nr.isNullAt(3))
  }

  test("summarizeApproxAudited: exact core matches, sketch booleans TRUE, null edges") {
    import spark.implicits._
    val n = 10000
    val df = (1 to n).map(i =>
      (i.toDouble, if (i % 10 == 0) None else Some(i.toDouble), None: Option[Double]))
      .toDF("seq", "holey", "void")
    val out = Describe.summarizeApproxAudited(spark, df, Seq("seq", "holey", "void"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("seq")
    // exact core: n / mean / min / max
    assert(s.getLong(1) === n.toLong)
    assertRtol(s.getDouble(2), (n + 1) / 2.0, 1e-12, "mean exact")
    assert(s.getDouble(3) === 1.0 && s.getDouble(4) === n.toDouble)
    // deterministic in-bounds booleans (the oracle pins these TRUE)
    Seq(5, 6, 7, 8).foreach(i => assert(s.getBoolean(i), s"seq flag $i"))
    val h = out("holey")
    assert(h.getLong(1) === (n - n / 10).toLong)
    Seq(5, 6, 7, 8).foreach(i => assert(h.getBoolean(i), s"holey flag $i"))
    // all-null column: n=0, null stats, booleans vacuously true (no data
    // for a sketch to be wrong about)
    val v = out("void")
    assert(v.getLong(1) === 0L && v.isNullAt(2) && v.isNullAt(3) && v.isNullAt(4))
    Seq(5, 6, 7, 8).foreach(i => assert(v.getBoolean(i), s"void flag $i"))
  }

  test("summarizeApproxAudited: three jobs regardless of column width") {
    // the audit must be sketch(1) + melted-distinct(1) + rank-counts(1) —
    // per-column jobs or an Expand-backed distinct would scale with k
    // (VERDICT r9 #3: batch the sketch fan-out, assert the job count)
    val k = 40
    val wide = spark.range(0, 2000).select(
      (0 until k).map(i => ((col("id") + i) % 97).cast("double").as(s"c$i")): _*)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Describe.summarizeApproxAudited(spark, wide, (0 until k).map(i => s"c$i"))
        .collect()
      Thread.sleep(500) // listener bus is async
      // 3 actions; AQE materializes each exchange of the distinct agg as
      // its own job (measured 7 total). The invariant under test is that
      // the count does NOT scale with k=40 columns — a per-column fan-out
      // or an Expand-backed distinct would be 40+.
      assert(jobs.get() <= 8, s"expected O(1) jobs (3 actions + AQE stages), got ${jobs.get()}")
      assert(out.length === k && out.forall(r => Seq(5, 6, 7, 8).forall(r.getBoolean)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Plots.histogram and distributions bin correctly") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble, i * 2.0))
      .toDF("id", "x", "y")
    val h = graft.describe.Plots.histogram(df, "x", bins = 10).collect()
    assert(h.length === 10)
    assert(h.map(_.getLong(3)).sum === 100)
    assert(h.forall(_.getLong(3) === 10)) // uniform data -> equal bins
    // max value lands in the last bin, not bin 10
    assert(h.map(_.getInt(0)).max === 9)
    val d = graft.describe.Plots.distributions(df, Seq("x", "y"), bins = 4)
      .collect()
    assert(d.map(_.getString(0)).toSet === Set("x", "y"))
    assert(d.filter(_.getString(0) == "x").map(_.getLong(2)).sum === 100)
    // all-null column yields an empty histogram, not an error
    val nulls = Seq((1L, null: java.lang.Double)).toDF("id", "z")
    assert(graft.describe.Plots.histogram(nulls, "z").collect().isEmpty)
  }

  test("winsorize clamps tails to quantile bounds and preserves row count") {
    import spark.implicits._
    val vals: Seq[(Long, Option[Double])] =
      (1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+ (101L -> None)
    val df = vals.toDF("id", "x")
    val out = Modify.winsorize(df, Seq("x"), lower = 0.10, upper = 0.90)
    assert(out.count() === 101)
    val xs = out.filter(col("x").isNotNull).select("x").collect().map(_.getDouble(0))
    // type-7 quantiles of 1..100 at 0.1/0.9: 10.9 and 90.1
    assertRtol(xs.min, 10.9, 1e-12, "lower clamp")
    assertRtol(xs.max, 90.1, 1e-12, "upper clamp")
    assert(xs.count(_ === xs.min) === 10) // 1..10 all clamped up
    // untouched middle survives exactly
    assert(xs.count(_ === 50.0) === 1)
    assert(out.filter(col("x").isNull).count() === 1)
  }

  test("skewReport: heavy hitter stats match hand computation; nulls count as a key") {
    import spark.implicits._
    val rows = Seq.fill(90)(Some("hot")) ++ (1 to 9).map(i => Some(s"k$i")) :+
      Option.empty[String]
    val df = rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val out = Describe.skewReport(df, "k", topK = 3).collect()
    assert(out.length === 3)
    val hot = out.find(r => r.getString(0) == "hot").get
    assert(hot.getLong(1) === 90L)
    assert(hot.getLong(2) === 100L && hot.getLong(3) === 11L)
    assertRtol(hot.getDouble(hot.fieldIndex("share")), 0.9, 1e-12, "hot share")
    // skew_ratio = max_cnt * n_keys / total = 90 * 11 / 100
    assertRtol(hot.getDouble(hot.fieldIndex("skew_ratio")), 9.9, 1e-12, "skew ratio")
    // the null key participates (it hashes to one reducer like any other)
    val all = Describe.skewReport(df, "k", topK = 11).collect()
    assert(all.exists(r => r.isNullAt(0) && r.getLong(1) === 1L))
  }

  test("robustScale: median/MAD hand computation; outlier-insensitive; MAD=0 column nulls") {
    import spark.implicits._
    val c = 1.4826022185056018
    // 0..100 plus one huge outlier: median 50.5, MAD 25.5 (type-7)
    val vals = (0 to 100).map(_.toDouble) :+ 10000.0
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v, 7.0) }
      .toDF("id", "x", "const")
    val out = Modify.robustScale(df, Seq("x", "const"))
    val byId = out.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.get(2)))).toMap
    assertRtol(byId(0L)._1.get, (0.0 - 50.5) / (c * 25.5), 1e-12, "z(0)")
    assertRtol(byId(101L)._1.get, (10000.0 - 50.5) / (c * 25.5), 1e-12, "z(outlier)")
    // robustness: the outlier's z under mean/sd scaling would be ~10x smaller
    // than under median/MAD because it inflates its own sd; here the bulk
    // stays tightly scaled (z(100) ~ 1.3)
    assertRtol(byId(100L)._1.get, (100.0 - 50.5) / (c * 25.5), 1e-12, "z(100)")
    // constant column: MAD = 0 -> null, never Inf
    assert(byId.values.forall(_._2.isEmpty))
    // null passthrough counts
    val withNull = df.withColumn("x",
      when(col("id") === 5L, lit(null).cast("double")).otherwise(col("x")))
    val scaled = Modify.robustScale(withNull, Seq("x"))
    assert(scaled.filter(col("x").isNull).count() === 1)
  }

  test("robustScale: low-distinct fast path is bit-identical to the bracket path") {
    import spark.implicits._
    // mixed cardinalities: a 7-distinct column, a near-continuous column,
    // and a column with NaN + nulls sprinkled in
    val rng = new scala.util.Random(42)
    val df = (1 to 5000).map { i =>
      val tied = (i % 7).toDouble
      val contRaw = rng.nextGaussian() * 10 + 3
      val cont = if (i % 97 == 0) Double.NaN else contRaw
      (i.toLong, tied, cont,
        if (i % 13 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rng.nextDouble() * 4 - 2))
    }.toDF("id", "tied", "cont", "gappy")
    val cols = Seq("tied", "cont", "gappy")
    val fast = Modify.robustScaleParams(df, cols)
    // budget 1 admits nothing -> every column takes the bracket path
    spark.conf.set("graft.robustScale.maxDistinct", "1")
    val bracket =
      try Modify.robustScaleParams(df, cols)
      finally spark.conf.unset("graft.robustScale.maxDistinct")
    cols.foreach { c =>
      assert(fast(c).isDefined && bracket(c).isDefined, c)
      val (mF, dF) = fast(c).get; val (mB, dB) = bracket(c).get
      assert(mF === mB, s"$c median: fast $mF vs bracket $mB")
      assert(dF === dB, s"$c MAD: fast $dF vs bracket $dB")
    }
    // and the public API agrees row-for-row under both budgets
    val outFast = Modify.robustScale(df, cols).orderBy("id").collect()
    spark.conf.set("graft.robustScale.maxDistinct", "1")
    val outBracket =
      try Modify.robustScale(df, cols).orderBy("id").collect()
      finally spark.conf.unset("graft.robustScale.maxDistinct")
    outFast.zip(outBracket).foreach { case (a, b) => assert(a === b) }
  }

  test("grouped prefix-sum family: high group cardinality fails loudly with the named knob") {
    import spark.implicits._
    // 1000 distinct groups against a budget of 50: every member of the
    // family must refuse with the conf name, not walk into O(groups x
    // partitions) driver state
    val df = (1 to 1000).map(i => (s"g$i", i.toDouble, 1.0)).toDF("g", "x", "w")
    spark.conf.set("graft.groupedStats.maxGroups", "50")
    try {
      Seq(
        "giniByGroup" -> (() => Describe.giniByGroup(df, "x", "g").collect()),
        "weightedQuantile" -> (() => Describe.weightedQuantile(df, "x", "w", Seq("g")).collect()),
        "groupedQuantiles" -> (() => Describe.groupedQuantiles(df, "x", "g", Seq(0.5)).collect())
      ).foreach { case (op, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("graft.groupedStats.maxGroups") &&
          e.getMessage.contains(op), s"$op msg: ${e.getMessage}")
      }
    } finally spark.conf.unset("graft.groupedStats.maxGroups")
    // within budget: same calls succeed (default 250k ≫ 1000)
    assert(Describe.giniByGroup(df, "x", "g").count() === 1000L)
    // malformed conf rejected
    Seq("many", "-2", "0").foreach { bad =>
      spark.conf.set("graft.groupedStats.maxGroups", bad)
      try {
        val e = intercept[IllegalArgumentException] {
          Describe.giniByGroup(df, "x", "g").collect()
        }
        assert(e.getMessage.contains("graft.groupedStats.maxGroups"), s"msg: ${e.getMessage}")
      } finally spark.conf.unset("graft.groupedStats.maxGroups")
    }
  }

  test("positive-integer knobs: malformed values rejected naming the key") {
    import spark.implicits._
    val df = Seq((1L, 2.0, "s1", "a b c d e f"), (2L, 3.0, "s2", "a b c d e g"))
      .toDF("id", "x", "source", "text")
    val knobs: Seq[(String, () => Any)] = Seq(
      "graft.robustScale.maxDistinct" -> (() => Modify.robustScaleParams(df, Seq("x"))),
      "graft.powerTransform.maxDistinct" -> (() => Modify.yeoJohnsonGrid(df, Seq("x")).collect()),
      "graft.groupedStats.maxGroups" -> (() => Describe.giniByGroup(df, "x", "source").collect()),
      "graft.corpusMatrix.maxGroups" ->
        (() => graft.pipeline.Decontaminate.corpusMinhashMatrix(df, "text", "source")))
    for ((key, run) <- knobs; bad <- Seq("zero point five", "", "-3", "0")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(key), s"msg: ${e.getMessage}")
      } finally spark.conf.unset(key)
    }
  }

  test("psiDrift: zero for identical slices, hand-formula for a full shift, flags only the moved column") {
    import spark.implicits._
    val ref = (1 to 1000).map(i => (i.toLong, i.toDouble, i.toDouble))
      .toDF("id", "a", "b")
    // identical current -> psi exactly 0 on both columns
    val same = Describe.psiDrift(ref, ref, Seq("a", "b")).collect()
    same.foreach(r => assert(r.getDouble(r.fieldIndex("psi")) === 0.0))
    // shift column a far beyond the reference range: ALL current mass in
    // the top bin -> psi = sum over the hand formula
    val cur = ref.withColumn("a", col("a") + 1e6)
    val out = Describe.psiDrift(ref, cur, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("psi"))).toMap
    val eps = 1e-6
    val expected = (0 until 10).map { bin =>
      val p = 0.1
      val q = if (bin == 9) 1.0 else eps
      (p - q) * math.log(p / q)
    }.sum
    assertRtol(out("a"), expected, 1e-9, "full-shift psi")
    assert(out("b") === 0.0, "unmoved column must not flag")
  }

  test("scoreEval: perfect/uninformative/hand-tied AUC and AP; exact under repartition") {
    import spark.implicits._
    def ev(rows: Seq[(Double, Boolean)], parts: Int = 1) = {
      val df0 = rows.toDF("score", "pos")
      val df = if (parts > 1) df0.repartition(parts) else df0
      val r = Describe.scoreEval(df, "score", col("pos")).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    }
    // perfect separation: every positive above every negative
    val perfect = (1 to 5).map(i => (10.0 + i, true)) ++ (1 to 7).map(i => (i.toDouble, false))
    assert(ev(perfect) === ((5L, 7L, 1.0, 1.0)))
    // uninformative: one shared score value -> AUC 1/2, AP = prevalence
    val flat = Seq.fill(4)((3.0, true)) ++ Seq.fill(12)((3.0, false))
    val (np, nn, auc, ap) = ev(flat)
    assert(np === 4L && nn === 12L && auc === 0.5)
    assertRtol(ap, 4.0 / 16, 1e-6, "AP at a single block = prevalence")
    // hand case with a tie straddling the classes:
    // scores: pos {3, 2}, neg {2, 1} -> pairs: (3>2),(3>1),(2=2 half),(2>1)
    // AUC = (1 + 1 + 0.5 + 1) / 4 = 0.875
    val hand = Seq((3.0, true), (2.0, true), (2.0, false), (1.0, false))
    val h = ev(hand)
    assert(h._3 === 0.875, s"hand AUC: $h")
    // AP blocks desc: {3}: TP1/1 * (1/2) ; {2}: dTP=1/2 * (2/3); {1}: dTP 0
    assertRtol(h._4, 0.5 * 1.0 + 0.5 * (2.0 / 3), 1e-6, "hand AP (6dp rounded output)")
    // partitioning cannot move the exact statistic
    assert(ev(hand, parts = 7) === h)
    // single-class input refuses loudly
    intercept[IllegalArgumentException] { ev(Seq((1.0, true), (2.0, true))) }
    // null labels are EXCLUDED (not counted as negatives): a null-label
    // row wedged between the classes must not move any statistic
    val withNull = Seq((3.0, Some(true)), (2.0, Some(true)), (2.5, None),
      (2.0, Some(false)), (1.0, Some(false))).toDF("score", "pos")
    val rn = Describe.scoreEval(withNull, "score", col("pos")).head()
    assert((rn.getLong(0), rn.getLong(1), rn.getDouble(2), rn.getDouble(3))
      === ((2L, 2L, h._3, h._4)), "null label must be dropped, not negative")
  }

  test("psiCategorical: identical -> 0, full swap hand-formula, null is its own category") {
    import spark.implicits._
    val ref = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).map(Tuple1(_)).toDF("c")
    // identical distribution -> psi exactly 0 on the shared categories
    val same = Describe.psiCategorical(ref, ref, Seq("c")).head()
    assert(same.getDouble(same.fieldIndex("psi")) === 0.0)
    assert(same.getLong(same.fieldIndex("n_levels")) === 2L)
    // full swap a<->b: hand formula with p=(0.6,0.4), q=(0.4,0.6)
    val cur = (Seq.fill(40)("a") ++ Seq.fill(60)("b")).map(Tuple1(_)).toDF("c")
    val swap = Describe.psiCategorical(ref, cur, Seq("c")).head()
    val want = (0.6 - 0.4) * math.log(0.6 / 0.4) + (0.4 - 0.6) * math.log(0.4 / 0.6)
    assertRtol(swap.getDouble(swap.fieldIndex("psi")), want, 1e-12, "swap psi")
    // null is a category; a category only in current gets the eps floor
    val refN = Seq(Some("x"), Some("x"), None).map(Tuple1(_)).toDF("c")
    val curN = Seq(Some("x"), Some("y"), None).map(Tuple1(_)).toDF("c")
    val r = Describe.psiCategorical(refN, curN, Seq("c")).head()
    assert(r.getLong(r.fieldIndex("n_levels")) === 3L) // x, y, null
    val eps = 1e-6
    val terms = Seq((2.0 / 3, 1.0 / 3), (eps, 1.0 / 3), (1.0 / 3, 1.0 / 3))
    val wantN = terms.map { case (p, q) => (p - q) * math.log(p / q) }.sum
    assertRtol(r.getDouble(r.fieldIndex("psi")), wantN, 1e-9, "null/new-category psi")
  }

  test("mutualInfo: zero for exact independence, nmi=1 for a bijection, hand formula") {
    import spark.implicits._
    // exact product distribution: every (a,b) cell has the same count
    val indep = (for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 25 }
      yield (a, b)).toDF("a", "b")
    val mi0 = Describe.mutualInfo(indep, Seq("a", "b")).collect()(0)
    assert(math.abs(mi0.getDouble(mi0.fieldIndex("mi"))) < 1e-12)
    assert(math.abs(mi0.getDouble(mi0.fieldIndex("nmi"))) < 1e-12)
    // bijection: MI = H(A) = ln 2 for a uniform 2-level map, nmi = 1
    val bij = (Seq.fill(30)(("x", "u")) ++ Seq.fill(30)(("y", "v")))
      .toDF("a", "b")
    val mi1 = Describe.mutualInfo(bij, Seq("a", "b")).collect()(0)
    assertRtol(mi1.getDouble(mi1.fieldIndex("mi")), math.log(2.0), 1e-12, "bijection MI")
    assertRtol(mi1.getDouble(mi1.fieldIndex("nmi")), 1.0, 1e-12, "bijection NMI")
    assert(mi1.getLong(mi1.fieldIndex("n")) === 60L)
    // hand formula on a skewed 2x2: p(x,u)=.5, p(x,v)=.25, p(y,v)=.25
    val skew = (Seq.fill(2)(("x", "u")) ++ Seq(("x", "v")) ++ Seq(("y", "v")))
      .toDF("a", "b")
    val r = Describe.mutualInfo(skew, Seq("a", "b")).collect()(0)
    val expect = 0.5 * math.log(0.5 / (0.75 * 0.5)) +
      0.25 * math.log(0.25 / (0.75 * 0.5)) +
      0.25 * math.log(0.25 / (0.25 * 0.5))
    assertRtol(r.getDouble(r.fieldIndex("mi")), expect, 1e-12, "skewed MI")
    // three columns -> three pair rows from ONE grouping-sets pass
    val tri = Describe.mutualInfo(
      indep.withColumn("c", col("a")), Seq("a", "b", "c")).collect()
    assert(tri.length === 3)
  }

  test("cramersV: one-pass matrix agrees with per-pair chi2; perfect association gives V=1") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map { _ =>
      val a = rnd.nextInt(3)
      // b perfectly determined by a; c independent of both
      (s"a$a", s"b$a", s"c${rnd.nextInt(4)}")
    }
    val df = rows.toDF("x", "y", "z")
    val m = Describe.cramersV(df, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(4), r.getDouble(5)))).toMap
    assert(m.keySet === Set(("x", "y"), ("x", "z"), ("y", "z")))
    // x<->y perfectly associated -> V = 1
    assertRtol(m(("x", "y"))._3, 1.0, 1e-9, "perfect association V")
    // x<->z independent -> small V
    assert(m(("x", "z"))._3 < 0.2, s"independent V ${m(("x", "z"))._3}")
    // per-pair chi2 matches the standalone test on the same pair
    val solo = Describe.chi2Independence(df, "x", "z").collect().head
    assertRtol(m(("x", "z"))._2, solo.getDouble(solo.fieldIndex("chi2")),
      1e-9, "matrix vs standalone chi2")
    assert(m(("x", "z"))._1 === solo.getLong(solo.fieldIndex("n")))
  }

  test("rintMap: Acklam ppf matches commons-math; average ranks on ties; joined transform is monotone") {
    import spark.implicits._
    // Acklam column ppf vs the exact erfInv-based scalar, across regions
    val ps = Seq(1e-6, 0.001, 0.02, 0.1, 0.5, 0.77, 0.975, 0.999, 1 - 1e-6)
    val ppf = ps.toDF("p")
      .select(graft.stats.ColMath.normalPpf(col("p")).as("z"))
      .collect().map(_.getDouble(0))
    ps.zip(ppf).foreach { case (p, z) =>
      val exact = graft.stats.Distributions.normalPpf(p)
      assert(math.abs(z - exact) < 1e-7, s"ppf($p): $z vs $exact")
    }
    // ties share the average rank: values 1,2,2,3 -> ranks 1, 2.5, 2.5, 4
    val df = Seq(1.0, 2.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val m = Modify.rintMap(df, Seq("x")).collect()
      .map(r => r.getDouble(1) -> r.getDouble(3)).toMap
    def blom(r: Double, n: Double) =
      graft.stats.Distributions.normalPpf((r - 0.375) / (n + 0.25))
    assertRtol(m(1.0), blom(1.0, 4), 1e-7, "rint rank 1")
    assertRtol(m(2.0), blom(2.5, 4), 1e-7, "rint tied rank 2.5")
    assertRtol(m(3.0), blom(4.0, 4), 1e-7, "rint rank 4")
    // row applier: monotone in the raw value, symmetric-ish mean
    val skewed = (1 to 500).map(i => (i.toLong, math.exp(i / 100.0)))
      .toDF("id", "v")
    val out = Modify.rankInverseNormal(skewed, Seq("v"))
      .orderBy("v").collect().map(_.getDouble(2))
    assert(out.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
    assert(math.abs(out.sum / out.length) < 1e-6, "RINT mean ~ 0")
  }

  test("chi2Independence: matches commons-math on a fixed table; W-H p near exact") {
    import spark.implicits._
    // 2x3 table: [[10, 20, 30], [25, 15, 10]]
    val rows = Seq.fill(10)(("x", "a")) ++ Seq.fill(20)(("x", "b")) ++
      Seq.fill(30)(("x", "c")) ++ Seq.fill(25)(("y", "a")) ++
      Seq.fill(15)(("y", "b")) ++ Seq.fill(10)(("y", "c"))
    val df = rows.toDF("g", "h")
    val out = Describe.chi2Independence(df, "g", "h").collect().head
    val exactStat = new org.apache.commons.math3.stat.inference.ChiSquareTest()
      .chiSquare(Array(Array(10L, 20L, 30L), Array(25L, 15L, 10L)))
    assert(out.getLong(out.fieldIndex("n")) === 110L)
    assert(out.getLong(out.fieldIndex("df")) === 2L)
    assertRtol(out.getDouble(out.fieldIndex("chi2")), exactStat, 1e-9, "chi2 stat")
    val exactP = graft.stats.Distributions.chi2Sf(exactStat, 2.0)
    val approxP = out.getDouble(out.fieldIndex("pvalue_approx"))
    assert(math.abs(approxP - exactP) < 2e-3,
      s"W-H p $approxP vs exact $exactP")
    // zero-observed cells still contribute their expectation: drop all
    // (y, c) rows and the stat must still use the full 2x3 grid
    val sparse = rows.filterNot(r => r._1 == "y" && r._2 == "c").toDF("g", "h")
    val s2 = Describe.chi2Independence(sparse, "g", "h").collect().head
    val exact2 = new org.apache.commons.math3.stat.inference.ChiSquareTest()
      .chiSquare(Array(Array(10L, 20L, 30L), Array(25L, 15L, 0L)))
    assertRtol(s2.getDouble(s2.fieldIndex("chi2")), exact2, 1e-9, "sparse chi2")
    // crosstab long format covers the observed cells
    val cells = Describe.crosstab(df, "g", "h").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells(("x", "c")) === 30L && cells(("y", "a")) === 25L)
  }

  test("quantileBins: equi-depth quartiles, boundary goes to the lower bin, nulls stay null") {
    import spark.implicits._
    val vals: Seq[(Long, Option[Double])] =
      (1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+ (101L -> None)
    val df = vals.toDF("id", "x")
    val out = Modify.quantileBins(df, Seq("x"), k = 4)
    val byBin = out.filter(col("x").isNotNull)
      .groupBy("x_bin").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 1..100, quartile bounds at 25.75/50.5/75.25 -> 25 values per bin
    assert(byBin === Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L))
    // null value -> null bin
    assert(out.filter(col("x").isNull).select("x_bin").collect().head.isNullAt(0))
    // boundary convention: with duplicates making a bound an exact data
    // value, v > bound is false -> lower bin
    val dup = Seq.fill(8)(1.0).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "y")
    val dupBins = Modify.quantileBins(dup, Seq("y"), k = 2)
      .select("y_bin").collect().map(_.getInt(0)).toSet
    assert(dupBins === Set(0), "all-equal values land in the lowest bin")
  }

  test("quantileNormalize: identical marginals after, order preserved within column") {
    import spark.implicits._
    // classic 3x2 example: col a = (5, 2, 3), col b = (4, 1, 6)
    // sorted a = 2,3,5; sorted b = 1,4,6; rank means = (1.5, 3.5, 5.5)
    val df = Seq((1L, 5.0, 4.0), (2L, 2.0, 1.0), (3L, 3.0, 6.0)).toDF("id", "a", "b")
    val out = Modify.quantileNormalize(df, Seq("a", "b"), "id")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out((2L, "a")) === 1.5 && out((3L, "a")) === 3.5 && out((1L, "a")) === 5.5)
    assert(out((2L, "b")) === 1.5 && out((1L, "b")) === 3.5 && out((3L, "b")) === 5.5)
    // both columns now share EXACTLY the same multiset of values
    val byCol = Modify.quantileNormalize(df, Seq("a", "b"), "id")
      .collect().groupBy(_.getString(1))
      .view.mapValues(_.map(_.getDouble(2)).sorted.toSeq).toMap
    assert(byCol("a") === byCol("b"))
  }

  test("weightedQuantile: hand-computed crossings; weight-1 reduces to plain rank") {
    import spark.implicits._
    // group g: values 1..4 with weights 1,1,6,2 (total 10): cw = 1,2,8,10;
    // median crossing at value 3 (cw 8 >= 5); q=0.9 -> value 4 (10 >= 9)
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 6.0), ("g", 4.0, 2.0))
      .toDF("k", "v", "w")
    def wq(q: Double) = Describe.weightedQuantile(df, "v", "w", Seq("k"), q)
      .head().getDouble(1)
    assert(wq(0.5) === 3.0 && wq(0.9) === 4.0 && wq(0.05) === 1.0)
    // ties share one cumulative weight: two rows of value 2 cross together
    val tied = Seq(("t", 1.0, 2.0), ("t", 2.0, 2.0), ("t", 2.0, 2.0), ("t", 9.0, 1.0))
      .toDF("k", "v", "w")
    assert(Describe.weightedQuantile(tied, "v", "w", Seq("k"), 0.5)
      .head().getDouble(1) === 2.0)
    // unit weights: the smallest v with rank >= q*n
    val unit = (1 to 100).map(i => ("u", i.toDouble, 1.0)).toDF("k", "v", "w")
    assert(Describe.weightedQuantile(unit, "v", "w", Seq("k"), 0.25)
      .head().getDouble(1) === 25.0)
  }

  test("bootstrapCI: weights ~ Poisson(1), CI brackets the mean, se tracks sd/sqrt(n)") {
    import spark.implicits._
    // deterministic uniform-ish data: mean 49.5, sd ~ 28.9, n = 4000
    val df = (0 until 4000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "x")
    val r = Describe.bootstrapCI(df, "x", col("id"), replicas = 60).head()
    val (n, mean, se, lo, mid, hi) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n === 4000L && math.abs(mean - 49.5) < 1e-9)
    assert(lo < mean && mean < hi, s"CI [$lo,$hi] must bracket $mean")
    assert(lo < mid && mid < hi)
    // bootstrap SE ~ analytic sd/sqrt(n) = 28.87/63.2 = 0.456 (loose band:
    // 60 replicas)
    val analytic = math.sqrt((0 until 100).map(v => math.pow(v - 49.5, 2)).sum / 100) /
      math.sqrt(4000)
    assert(se > analytic * 0.6 && se < analytic * 1.6, s"se=$se vs analytic=$analytic")
    // deterministic: identical on re-run
    val r2 = Describe.bootstrapCI(df, "x", col("id"), replicas = 60).head()
    assert(r2.getDouble(3) === lo && r2.getDouble(5) === hi)
  }

  test("entropy: uniform = ln k, constant = 0, nulls dropped, skew in between") {
    import spark.implicits._
    val df = (0 until 80).map { i =>
      (s"L${i % 4}",                                  // uniform over 4 levels
        "const",                                      // single level
        if (i % 8 == 0) null else if (i < 70) "a" else "b") // skewed + nulls
    }.toDF("u", "c", "s")
    val out = Describe.entropy(df, Seq("u", "c", "s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("u")._1 === 4L && math.abs(out("u")._3 - math.log(4)) < 1e-12)
    assert(out("c") === ((1L, 80L, 0.0)))
    val (lv, tot, h) = out("s")
    assert(lv === 2L && tot === 70L)                  // 10 nulls dropped
    val pa = 61.0 / 70; val pb = 9.0 / 70             // i%8==0 removes 9 a's, 1 b
    assert(math.abs(h - (-(pa * math.log(pa) + pb * math.log(pb)))) < 1e-12)
  }

  test("giniByGroup: non-ASCII keys where JVM and UTF8 orders differ; null groups dropped") {
    import spark.implicits._
    // U+FF61 is a single UTF-16 unit 0xFF61 but UTF-8 bytes EF BD A1;
    // U+10000 is a surrogate pair leading 0xD800 but UTF-8 F0 90 80 80.
    // JVM String order puts g2 < g1, UTF8-binary order puts g1 < g2 — a
    // driver-side .sorted offset table would misalign every rank.
    val g1 = "｡"
    val g2 = "𐀀"
    val vals1 = Seq(1.0, 5.0, 9.0, 9.0, 20.0)
    val vals2 = Seq(2.0, 2.0, 3.0, 40.0)
    val rows = vals1.map(v => (g1, v)) ++ vals2.map(v => (g2, v)) ++
      Seq((null: String, 99.0))
    val df = rows.toDF("g", "v")
    def giniRef(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      2.0 * s.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum /
        (n * s.sum) - (n + 1.0) / n
    }
    val out = Describe.giniByGroup(df, "v", "g").collect()
    assert(out.length === 2, "null group key must be excluded, not NPE")
    val m = out.map(r => r.getString(0) -> r.getDouble(2)).toMap
    assertRtol(m(g1), giniRef(vals1), 1e-9, "gini g1")
    assertRtol(m(g2), giniRef(vals2), 1e-9, "gini g2")
  }

  test("rankInverseNormal: melted single join matches per-column maps; nulls and row count preserved") {
    import spark.implicits._
    val df = Seq(
      (1L, 1.0: java.lang.Double, 10.0: java.lang.Double),
      (2L, 2.0: java.lang.Double, null: java.lang.Double),
      (3L, 2.0: java.lang.Double, 30.0: java.lang.Double),
      (4L, null: java.lang.Double, 20.0: java.lang.Double),
      (5L, 9.0: java.lang.Double, 20.0: java.lang.Double)).toDF("id", "a", "b")
    val out = Modify.rankInverseNormal(df, Seq("a", "b")).collect()
    assert(out.length === 5, "the apply join must not duplicate or drop rows")
    val byId = out.map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    def mapOf(c: String) = Modify.rintMap(df, Seq(c)).collect()
      .map(r => r.getDouble(1) -> r.getDouble(3)).toMap
    val (ma, mb) = (mapOf("a"), mapOf("b"))
    def rint(id: Long, c: String): Option[Double] = {
      val r = byId(id); val i = r.fieldIndex(s"${c}_rint")
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    assertRtol(rint(1L, "a").get, ma(1.0), 1e-12, "a rint row 1")
    assertRtol(rint(3L, "a").get, ma(2.0), 1e-12, "a rint tied row 3")
    assertRtol(rint(5L, "b").get, mb(20.0), 1e-12, "b rint tied row 5")
    assert(rint(4L, "a").isEmpty && rint(2L, "b").isEmpty,
      "null inputs must keep null rint")
  }

  test("rankInverseNormal plan: join count independent of column width") {
    import spark.implicits._
    // the melted apply is 2 joins (map join + row_id re-join) whatever the
    // width; the per-column design was C joins — a 500-column apply would
    // be 500 shuffle joins on continuous data where the map is O(rows)
    val df = (1 to 50).map(i => (i.toLong, i * 1.0, i * 2.0, i * 3.0, i * 5.0))
      .toDF("id", "a", "b", "c", "d")
    def joins(cols: Seq[String]): Int =
      Modify.rankInverseNormal(df, cols).queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    val one = joins(Seq("a"))
    assert(one === joins(Seq("a", "b", "c", "d")),
      "join count must not grow with the column count")
  }

  test("groupedQuantiles: sentinel-named groups stay distinct; all-null groups surface with n=0") {
    import spark.implicits._
    val df = Seq(
      (Some("__graft_null_group_key__"), Some(1.0)),
      (Some("__graft_null_group_key__"), Some(3.0)),
      (None: Option[String], Some(10.0)),
      (None: Option[String], Some(20.0)),
      (Some("allnull"), None: Option[Double]),
      (Some("allnan"), Some(Double.NaN))
    ).toDF("g", "v")
    val out = Describe.groupedQuantiles(df, "v", "g", Seq(0.5)).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), Option(r.getSeq[Double](2)))).toMap
    assert(out.size === 4)
    // a group literally named like the old in-band sentinel must NOT merge
    // with the null group (the r10 encoding would have aliased them)
    assert(out(Some("__graft_null_group_key__")) === ((2L, Some(Seq(2.0)))))
    assert(out(None) === ((2L, Some(Seq(15.0)))))
    // groups whose values are all null / all NaN surface with n=0 and a
    // null quantiles array (the aggregate shape's answer), not dropped
    assert(out(Some("allnull")) === ((0L, None)))
    assert(out(Some("allnan")) === ((0L, None)))
  }

  test("weightedQuantile: separator / null-sentinel group values never alias") {
    import spark.implicits._
    // engineered collisions against the old concat_ws("\u0001") key:
    // ("a\u0001b","c") vs ("a","b\u0001c") encoded identically, and a
    // literal "\u0002null" value collided with an actual NULL component
    val df = Seq(
      ("a\u0001b", "c", 1.0, 1.0),
      ("a", "b\u0001c", 5.0, 1.0),
      ("\u0002null", "x", 7.0, 1.0),
      (null.asInstanceOf[String], "x", 9.0, 1.0)
    ).toDF("k1", "k2", "v", "w")
    val out = Describe.weightedQuantile(df, "v", "w", Seq("k1", "k2"), 0.5)
      .collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size === 4, s"four distinct groups expected: $out")
    assert(out((Some("a\u0001b"), "c")) === 1.0)
    assert(out((Some("a"), "b\u0001c")) === 5.0)
    assert(out((Some("\u0002null"), "x")) === 7.0)
    assert(out((None, "x")) === 9.0)
  }

  test("exactQuantilesAll: malformed graft.quantile.accuracy rejected with a clear error") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("x")
    Seq("nope", "0", "-5").foreach { bad =>
      spark.conf.set("graft.quantile.accuracy", bad)
      try {
        val e = intercept[IllegalArgumentException] {
          Modify.exactQuantilesAll(df, Seq("x"), Seq(0.5))
        }
        assert(e.getMessage.contains("graft.quantile.accuracy"), s"msg: ${e.getMessage}")
      } finally spark.conf.unset("graft.quantile.accuracy")
    }
    // a valid override still works
    spark.conf.set("graft.quantile.accuracy", "500")
    try {
      val q = Modify.exactQuantilesAll(df, Seq("x"), Seq(0.5))("x")
      assert(q === Some(Seq(2.0)))
    } finally spark.conf.unset("graft.quantile.accuracy")
  }

  test("distinctSketches: merged halves and the whole-data sketch agree within the HLL error bound") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i, s"k${i % 700}")).toDF("id", "k")
    def est(d: org.apache.spark.sql.DataFrame) = d
      .select(hll_sketch_estimate(col("sketch"))).head().getLong(0)
    val whole = est(Describe.distinctSketches(df, Seq("k")))
    val merged = est(Describe.mergeDistinctSketches(
      Describe.distinctSketches(df.filter($"id" % 2 === 0), Seq("k")),
      Describe.distinctSketches(df.filter($"id" % 2 =!= 0), Seq("k"))))
    // NOT bit-identical: the Datasketches union target promotes register
    // types (HLL_4 sketch vs HLL_8 union), so the two estimators differ
    // slightly — both must sit inside the 3·rsd bound of the true count
    assert(math.abs(merged - 700L).toDouble / 700 < 0.05, s"merged $merged off 700")
    assert(math.abs(whole - 700L).toDouble / 700 < 0.05, s"whole $whole off 700")
    assert(math.abs(merged - whole).toDouble / 700 < 0.05, s"merged $merged vs whole $whole")
  }

  test("mergeSummaries: batch merges equal the whole-data profile; one-sided variables pass through") {
    import spark.implicits._
    val rng = new scala.util.Random(4L)
    val rows = (1 to 300).map(i =>
      (i, rng.nextDouble() * 100, if (i % 5 == 0) null else java.lang.Double.valueOf(rng.nextGaussian())))
    val df = rows.toDF("id", "x", "y")
    val whole = Describe.numericSummary(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val merged = Describe.mergeSummaries(
        Describe.mergeSummaries(
          Describe.numericSummary(df.filter($"id" % 3 === 0), Seq("x", "y")),
          Describe.numericSummary(df.filter($"id" % 3 === 1), Seq("x", "y"))),
        Describe.numericSummary(df.filter($"id" % 3 === 2), Seq("x", "y")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    for (v <- Seq("x", "y")) {
      assert(merged(v)._1 === whole(v)._1)
      assertRtol(merged(v)._2, whole(v)._2, 1e-10, s"$v mean")
      assertRtol(merged(v)._3, whole(v)._3, 1e-9, s"$v m2")
    }
    // a variable present in only one batch passes through untouched
    val solo = Describe.mergeSummaries(
        Describe.numericSummary(df, Seq("x")),
        Describe.numericSummary(df.limit(0), Seq("y")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(solo("x") === 300L && !solo.contains("y"))
  }

  test("mannWhitney: separation/identity/tied cases; exact-integer rank sums are partitioning-invariant") {
    import spark.implicits._
    def mw(df: org.apache.spark.sql.DataFrame) =
      Describe.mannWhitney(df, "x", col("a")).head()
    // complete separation: A all lower -> U = 0, p tiny
    val sep = mw(((1 to 20).map(i => (i.toDouble, true)) ++
      (31 to 50).map(i => (i.toDouble, false))).toDF("x", "a"))
    assert(sep.getDouble(2) === 0.0 && sep.getDouble(4) < 1e-6)
    // identical samples: U = na*nb/2, z = 0, p = 1
    val same = mw(((1 to 30).map(i => (i.toDouble, true)) ++
      (1 to 30).map(i => (i.toDouble, false))).toDF("x", "a"))
    assert(same.getDouble(2) === 450.0 && same.getDouble(3) === 0.0
      && same.getDouble(4) === 1.0)
    // tied data: U from hand-computed average ranks
    // A = {1,2,2}, B = {2,3}: ranks 1, 3, 3, 3, 5 -> R_A = 7, U = 7 - 6 = 1
    val tied = mw(Seq((1.0, true), (2.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("x", "a"))
    assert(tied.getLong(0) === 3L && tied.getLong(1) === 2L && tied.getDouble(2) === 1.0)
    // exact integers: any partitioning gives the identical row
    val df = ((1 to 40).map(i => ((i % 7).toDouble, i % 3 == 0))).toDF("x", "a")
    assert(mw(df) === mw(df.repartition(11)))
  }

  test("ksTwoSample: identical/disjoint/shifted samples; partitioning-invariant") {
    import spark.implicits._
    def ks(df: org.apache.spark.sql.DataFrame) =
      Describe.ksTwoSample(df, "x", col("a")).head()
    // identical samples: D = 0, p = 1 (the λ→0 clamp)
    val same = ks(((1 to 40).map(i => (i.toDouble, true)) ++
      (1 to 40).map(i => (i.toDouble, false))).toDF("x", "a"))
    assert(same.getDouble(2) === 0.0 && same.getDouble(3) === 1.0)
    // disjoint supports: D = 1, p ~ 0
    val disj = ks(((1 to 30).map(i => (i.toDouble, true)) ++
      (100 to 129).map(i => (i.toDouble, false))).toDF("x", "a"))
    assert(disj.getDouble(2) === 1.0 && disj.getDouble(3) < 1e-6)
    // half-shifted uniforms: sup gap is exactly 25/50; ties across sides OK
    val shift = ((1 to 50).map(i => (i.toDouble, true)) ++
      (26 to 75).map(i => (i.toDouble, false))).toDF("x", "a")
    val r = ks(shift)
    assert(r.getLong(0) === 50L && r.getLong(1) === 50L)
    assert(r.getDouble(2) === 0.5 && r.getDouble(3) < 1e-4)
    // the integer-numerator max cannot move under repartitioning
    val r7 = ks(shift.repartition(7))
    assert(r7.getDouble(2) === r.getDouble(2) && r7.getDouble(3) === r.getDouble(3))
  }

  test("targetEncodeLoo: hand values, singleton null, null target and null category") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](
      ("a", 10L), ("a", 20L), ("a", 30L),      // loo: (50/2, 40/2, 30/2)
      ("b", 7L),                                // singleton -> null
      ("c", 1L), ("c", null),                  // null target
      (null, 5L)                               // null category -> null
    ).toDF("cat", "q")
    val out = graft.modify.Modify.targetEncodeLoo(df, "cat", "q")
      .collect().map(r => (Option(r.getString(0)),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    def of(c: Option[String], q: Option[Long]) =
      out.find(t => t._1 == c && t._2 == q).get._3
    assert(of(Some("a"), Some(10L)) === Some(25.0))
    assert(of(Some("a"), Some(20L)) === Some(20.0))
    assert(of(Some("a"), Some(30L)) === Some(15.0))
    assert(of(Some("b"), Some(7L)) === None)     // no "others"
    assert(of(Some("c"), None) === None)         // null target encodes null
    // c's non-null row: count(q)=1 in its category -> null too
    assert(of(Some("c"), Some(1L)) === None)
    assert(of(None, Some(5L)) === None)          // null category joins nothing
  }

  test("targetEncodeLoo: broadcast gate falls back to a plain join past the cap, identical output") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"c${i % 17}", i.toLong)).toDF("cat", "q")
    def run(maxBytes: Long): (Array[(String, Long, Option[Double])], String) = {
      val out = graft.modify.Modify.targetEncodeLoo(df, "cat", "q", "te_loo", maxBytes)
      val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(t => (t._1, t._2))
      (rows, out.queryExecution.executedPlan.toString)
    }
    // session auto-broadcast OFF: only the operator's own hint (or its
    // absence) decides the physical join — the gate must be independent
    // of spark.sql.autoBroadcastJoinThreshold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (hinted, hintedPlan) = run(256L << 20)
      assert(hintedPlan.contains("BroadcastHashJoin"),
        s"default cap must HINT broadcast despite threshold=-1:\n$hintedPlan")
      assert(graft.modify.Modify.targetEncodeLoo(df, "cat", "q")
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the public entry must use the default cap")
      val (fallback, fbPlan) = run(1L)
      assert(!fbPlan.contains("BroadcastHashJoin"),
        s"cap=1 must take the plain-join path:\n$fbPlan")
      assert(fallback.toSeq === hinted.toSeq, "fallback output diverged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("calibration: hand bins, edge clamp, null exclusion, out-of-range refusal") {
    import spark.implicits._
    val rows = Seq(
      (0.05, true), (0.08, false),            // bin 0: mean .065, rate .5
      (0.55, true), (0.55, true), (0.50, false), // bin 5
      (1.0, true),                            // micro 1e6 -> clamps to bin 9
      (0.95, false),                          // bin 9
      (Double.NaN, true)                      // excluded
    ).toDF("score", "pos")
    val out = Describe.calibration(rows, "score", col("pos"), bins = 10)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out.keySet === Set(0L, 5L, 9L))
    assert(out(0L) === ((2L, 1L, 0.065, 0.5, 0.435)))
    assert(out(5L)._1 === 3L && out(5L)._2 === 2L)
    assert(out(5L)._3 === BigDecimal((550000L + 550000L + 500000L) / 1e6 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(9L) === ((2L, 1L, 0.975, 0.5, 0.475)))
    // null label excluded symmetrically (the scoreEval rule)
    val withNull = Seq((0.5, java.lang.Boolean.TRUE), (0.5, null.asInstanceOf[java.lang.Boolean]))
      .toDF("score", "pos")
    val n5 = Describe.calibration(withNull, "score", col("pos")).collect()
    assert(n5.length === 1 && n5.head.getLong(1) === 1L)
    // out-of-range scores are an upstream bug -> loud refusal
    val e = intercept[IllegalArgumentException] {
      Describe.calibration(Seq((1.2, true)).toDF("score", "pos"),
        "score", col("pos"))
    }
    assert(e.getMessage.contains("outside [0,1]"), e.getMessage)
    intercept[IllegalArgumentException] {
      Describe.calibration(rows, "score", col("pos"), bins = 1)
    }
  }

  test("tie-table stats: distributed path (forced via conf) equals the local fast path") {
    import spark.implicits._
    // ties, NaN-free, both classes/groups present — covers gini, ks, mwu,
    // scoreEval (the bounded local paths); graft.local.mode=distributed
    // routes every op down the distributed sweep, which must agree
    val df = (1 to 400).map { i =>
      (if (i % 3 == 0) "A" else "B", (i % 25).toDouble, i % 2 == 0)
    }.toDF("g", "x", "pos")
    def all(): Seq[Seq[Row]] = Seq(
      Describe.giniByGroup(df, "x", "g").orderBy("g").collect().toSeq,
      Describe.ksTwoSample(df, "x", col("pos")).collect().toSeq,
      Describe.mannWhitney(df, "x", col("pos")).collect().toSeq,
      Describe.scoreEval(df, "x", col("pos")).collect().toSeq)
    val local = all()
    val dist = distributed(all())
    local.zip(dist).zipWithIndex.foreach { case ((l, d), i) =>
      assert(l.size === d.size, s"op $i row count")
      l.zip(d).foreach { case (lr, dr) =>
        lr.toSeq.zip(dr.toSeq).foreach {
          case (a: Double, b: Double) => assert(math.abs(a - b) < 1e-9, s"op $i: $lr vs $dr")
          case (a, b) => assert(a === b, s"op $i: $lr vs $dr")
        }
      }
    }
    // the local path still honors the group-cardinality refusal contract
    spark.conf.set("graft.groupedStats.maxGroups", "1")
    try {
      val e2 = intercept[IllegalArgumentException] {
        Describe.giniByGroup(df, "x", "g").collect()
      }
      assert(e2.getMessage.contains("graft.groupedStats.maxGroups"))
    } finally spark.conf.unset("graft.groupedStats.maxGroups")
  }

  test("weightedQuantile / groupedQuantiles: distributed path (forced via conf) equals the local fast path") {
    import spark.implicits._
    // adversarial inputs for the r17 local rewrites: fractional + negative
    // weights, a negative-TOTAL group (no crossing row on either path), a
    // zero-total-weight group (degenerates to its smallest value), value
    // ties, and a null group key
    val wq = Seq(
      ("a", 1.0, 0.25), ("a", 2.0, 0.5), ("a", 2.0, 0.25), ("a", 3.0, 1.5),
      ("b", 5.0, -1.0), ("b", 6.0, 2.0), ("b", 7.0, -0.5),
      ("neg", 1.0, -1.0), ("neg", 2.0, -2.0),
      ("z", 1.0, 0.0), ("z", 2.0, 0.0),
      (null.asInstanceOf[String], 4.0, 1.0)
    ).toDF("g", "v", "w")
    val gq = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.0), (1L, 1.0), (1L, 2.0), (1L, 9.0),
      (2L, 5.0), (2L, null), (3L, null),
      (null.asInstanceOf[java.lang.Long], 7.0)
    ).toDF("g", "v")
    def run() = (
      Describe.weightedQuantile(wq, "v", "w", Seq("g"), 0.5).collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getDouble(2))).toSet,
      Describe.groupedQuantiles(gq, "v", "g", Seq(0.0, 0.5, 1.0)).collect()
        .map(r => (Option(r.get(0)), r.getLong(1),
          Option(r.getSeq[Double](2)).map(_.toList))).toSet)
    val local = run()
    val dist = distributed(run())
    assert(local._1 === dist._1)
    assert(local._2 === dist._2)
    // hand-checked crossings: a crosses 1.5 at v=3; b (tw=0.5) crosses
    // 0.25 at v=6; z degenerates to its smallest value; neg (tw<0) has no
    // crossing row and must vanish
    assert(local._1 === Set(
      (Some("a"), 3.0, 2.5), (Some("b"), 6.0, 0.5),
      (Some("z"), 1.0, 0.0), (None, 4.0, 1.0)))
    assert(local._2 === Set(
      (Some(1L), 4L, Some(List(1.0, 1.5, 9.0))),
      (Some(2L), 1L, Some(List(5.0, 5.0, 5.0))),
      (Some(3L), 0L, None),
      (None, 1L, Some(List(7.0, 7.0, 7.0)))))
    // date-typed value column: the driver ordering must replay the SQL
    // chronological sort for whichever external type collect() returns
    val dt = Seq(
      ("a", java.sql.Date.valueOf("2020-01-02"), 1.0),
      ("a", java.sql.Date.valueOf("2020-01-01"), 2.0)).toDF("g", "v", "w")
    val dres = Describe.weightedQuantile(dt, "v", "w", Seq("g"), 0.5).collect()
    assert(dres.length === 1 && dres.head.getDate(1) === java.sql.Date.valueOf("2020-01-01"))
  }

  test("psi ops: side-absent variables/categories after the union-tagged rewrite") {
    import spark.implicits._
    val eps = 1e-6
    // psiDrift: current all-null on the column -> every current bin share
    // floors to eps and n_cur reports 0 (the old two-groupBy + grid shape's
    // answer), instead of the variable vanishing
    val ref = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "a")
    val cur = ref.withColumn("a", lit(null).cast("double"))
    val d = Describe.psiDrift(ref, cur, Seq("a")).head()
    assert(d.getLong(d.fieldIndex("n_ref")) === 1000L)
    assert(d.getLong(d.fieldIndex("n_cur")) === 0L)
    val expDrift = (0 until 10).map(_ => (0.1 - eps) * math.log(0.1 / eps)).sum
    assertRtol(d.getDouble(d.fieldIndex("psi")), expDrift, 1e-9, "all-null current psi")
    // psiCategorical: category present on ONE side only still surfaces as
    // a cell with the eps floor on the absent side
    val refC = (1 to 10).map(_ => Tuple1("x")).toDF("c")
    val curC = ((1 to 5).map(_ => "x") ++ (1 to 5).map(_ => "y")).map(Tuple1(_)).toDF("c")
    val pc = Describe.psiCategorical(refC, curC, Seq("c")).head()
    assert(pc.getLong(pc.fieldIndex("n_levels")) === 2L)
    val expCat = (1.0 - 0.5) * math.log(1.0 / 0.5) +
      (eps - 0.5) * math.log(eps / 0.5)
    assertRtol(pc.getDouble(pc.fieldIndex("psi")), expCat, 1e-9, "one-sided category psi")
    // fully empty current side: all shares floor to eps, totals report 0
    val pcEmpty = Describe.psiCategorical(refC, refC.limit(0), Seq("c")).head()
    assert(pcEmpty.getLong(pcEmpty.fieldIndex("n_cur")) === 0L)
    assertRtol(pcEmpty.getDouble(pcEmpty.fieldIndex("psi")),
      (1.0 - eps) * math.log(1.0 / eps), 1e-9, "empty current psi")
  }

  /** A random column for the typing operators: about `k` distinct values
    * of the type `kind` picks (each present, then drawn at random, ~15%
    * null). Floating columns may hold -0.0 beside 0.0 and a NaN;
    * numeric-looking strings carry one uncastable value when `k` is odd. */
  private def typingColumn(r: scala.util.Random, rows: Int, kind: Int, k: Int)
      : (org.apache.spark.sql.types.DataType, Seq[Any]) = {
    import org.apache.spark.sql.types._
    val (dt, pool): (DataType, Seq[Any]) = kind match {
      case 0 => DoubleType -> ((if (r.nextBoolean()) Seq(-0.0, 0.0, Double.NaN) else Nil) ++
        (1 to k).map(_ * 1.5)).take(k + (if (k > 1 && r.nextBoolean()) 1 else 0))
      case 1 => FloatType -> ((if (r.nextBoolean()) Seq(-0.0f, 0.0f, Float.NaN) else Nil) ++
        (1 to k).map(_ * 0.25f)).take(k + (if (k > 1 && r.nextBoolean()) 1 else 0))
      case 2 => LongType -> (1 to k).map(i => i * 7L - 20)
      case 3 => DecimalType(10, 2) -> (1 to k).map(i => new java.math.BigDecimal(i).movePointLeft(1))
      case 4 => TimestampType -> (1 to k).map(i => java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(i * 5L)))
      case 5 => StringType -> ((1 to k).map(i => if (i % 3 == 0) s"0$i" else s"$i.0") ++
        (if (k % 2 == 1) Seq("n/a") else Nil)).takeRight(k)
      case _ => StringType -> (1 to k).map(i => s"lvl$i")
    }
    (dt, pool ++ (pool.size until rows).map(_ =>
      if (pool.isEmpty || r.nextDouble() < 0.15) null else pool(r.nextInt(pool.size))))
  }

  test("categorize and the level sets equal per-column countDistinct + collect_set on random frames") {
    import org.apache.spark.sql.types._
    val rows = 40
    (0 until 3).foreach { trial =>
      val r = new scala.util.Random(900L + trial)
      val cols = (for (kind <- 0 to 6; k <- Seq(0, 1, 2, 3, 5, 6, 7, 11, 14, 15, 22))
        yield typingColumn(r, rows, kind, k)).zipWithIndex.map { case (c, i) => (s"v$i", c) }
      val schema = StructType(StructField("id", LongType) +:
        cols.map { case (n, (dt, _)) => StructField(n, dt) })
      val data = (0 until rows).map(i => Row.fromSeq(i.toLong +: cols.map(_._2._2(i))))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
      val names = cols.map(_._1)
      // the reference: one flat countDistinct + bad-cast count per column,
      // and collect_set over the string cast, where a floating -0.0 is the
      // level 0.0 (one value to countDistinct)
      val ref = df.agg(count(lit(1)), names.flatMap(c => Seq(countDistinct(col(c)),
        sum(when(col(c).isNotNull && expr(s"try_cast(`$c` AS DOUBLE)").isNull, 1)
          .otherwise(0)),
        sort_array(collect_set(col(c).cast("string"))))): _*).head()
      val want = names.zipWithIndex.map { case (c, i) =>
        val u = ref.getLong(1 + 3 * i)
        val bad = ref.getLong(2 + 3 * i) > 0
        val d = if (u == 0) "dropped" else if (u == 1) "constant" else if (u == 2) "binary"
          else if (u >= 3 && u <= 6) "categorical" else if (u >= 15 && !bad) "continuous"
          else "unknown"
        val floating = Set[DataType](FloatType, DoubleType)(cols(i)._2._1)
        (c, u, d, ref.getSeq[String](3 + 3 * i)
          .map(l => if (floating && l == "-0.0") "0.0" else l).distinct.sorted)
      }
      val cf = CladeFrame(df)
      val rep = Modify.categorize(cf)
      assert(rep.decisions === want.map(w => (w._1, w._2, w._3)), s"trial $trial")
      val typedLevels = want.collect { case (c, _, d, l)
        if Set("constant", "binary", "categorical")(d) => c -> l }.toMap
      assert(rep.frame.levels === typedLevels, s"trial $trial")
      typedLevels.foreach { case (c, l) =>
        val cast = rep.frame.df.select(c).distinct().collect()
          .collect { case x if !x.isNullAt(0) => x.getString(0) }.sorted.toSeq
        assert(cast === l, s"trial $trial: $c's levels vs its cast values")
      }
      val all = want.collect { case (c, u, _, l) if u > 0 => c -> l }.toMap
      assert(Modify.makeCategorical(cf).levels === all, s"trial $trial")
      val two = want.collect { case (c, 2L, _, _) => c }
      assert(Modify.makeBinary(cf, only = Some(two)).levels === all.view.filterKeys(two.toSet).toMap)
    }
  }

  test("categorize on a wide frame runs one action and plans no Expand") {
    import org.apache.spark.sql.execution.{ExpandExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val df = spark.range(200).select(col("id") +: (0 until 50).map(j =>
      (if (j % 2 == 0) (col("id") * (j + 1)) % (j + 2) else (col("id") % 97).cast("string"))
        .as(s"c$j")): _*)
    val cf = CladeFrame(df)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      Modify.categorize(cf)
      Thread.sleep(1000) // the listener bus is async
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size === 1, "categorize reads its input in one action")
    object Plans extends AdaptiveSparkPlanHelper
    plans.forEach { qe =>
      assert(Plans.collect(qe.executedPlan) { case e: ExpandExec => e }.isEmpty,
        qe.executedPlan.treeString)
    }
  }
}
