package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.analyze.Corrections

/** Property-style checks (scalacheck generators, deterministic seeds): the
  * BH-FDR, on both its driver-local and its distributed path, against a
  * local reference implementation on arbitrary p-value vectors, plus
  * invariants. */
class PropertySpec extends SparkSpec {

  /** Local statsmodels-style fdr_bh: sort, p*m/rank, reverse cummin, clip. */
  private def localBh(ps: Seq[Double]): Seq[Double] = {
    val m = ps.size
    val sortedIdx = ps.zipWithIndex.sortBy(_._1).map(_._2)
    val raw = sortedIdx.zipWithIndex.map { case (orig, rank) =>
      orig -> ps(orig) * m / (rank + 1)
    }
    // reverse cumulative min over the sorted order
    val adjSorted = raw.map(_._2).scanRight(Double.MaxValue)(math.min).init
    val out = new Array[Double](m)
    sortedIdx.zip(adjSorted).foreach { case (orig, v) => out(orig) = math.min(v, 1.0) }
    out.toSeq
  }

  private def bothModes(df: org.apache.spark.sql.DataFrame, order: Seq[String],
                        groupby: Seq[String] = Nil): Seq[org.apache.spark.sql.Row] = {
    val Seq(local, dist) = Seq(false, true).map { d =>
      def run() = {
        val out = Corrections.addCorrectedPvalues(df, groupby = groupby)
        // the local path returns a driver-local relation, the sweep does not
        val isLocal = out.queryExecution.analyzed
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        if (groupby.isEmpty) assert(isLocal === !d, s"distributed=$d")
        out.orderBy(order.map(col): _*).collect().toSeq
      }
      if (d) distributed(run()) else run()
    }
    assert(local === dist, s"local and distributed BH-FDR differ on ${df.collect().toSeq}")
    local
  }

  test("window BH-FDR matches the local reference on random p-vectors") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(0.0, 1.0))
    val cases = (0 until 25).flatMap { i =>
      gen(Gen.Parameters.default.withSize(1 + i * 8),
        rng.Seed(42L + i)).toSeq
    } :+ List(0.5, 0.5, 0.5) :+ List(1.0) :+ List(0.0, 1.0, 0.25, 0.25) :+
      List(0.01, 0.01, 0.2, 0.01, 0.2, 0.9, 0.9)
    cases.foreach { ps0 =>
      {
        val ps = ps0.take(200)
        val df = ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "pvalue")
        val rows = bothModes(df, Seq("id"))
        val got = rows.map(_.getDouble(3))
        val want = localBh(ps)
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(math.abs(g - w) < 1e-12, s"fdr mismatch at $i: $g vs $w (ps=$ps)")
        }
        // invariants: bonferroni >= fdr >= raw p (up to clipping)
        rows.foreach { r =>
          val p = r.getDouble(r.fieldIndex("pvalue"))
          val bonf = r.getDouble(r.fieldIndex("pvalue_bonferroni"))
          val fdr = r.getDouble(r.fieldIndex("pvalue_fdr"))
          assert(bonf >= fdr - 1e-12 && fdr >= p - 1e-12)
          assert(bonf <= 1.0 && fdr <= 1.0)
        }
      }
    }
  }

  test("BH-FDR, local and distributed: null, NaN and uncastable p-values are missing") {
    import spark.implicits._
    // string p-values: null, "NaN" and "abc" are missing (m counts the
    // other five), and ties share their corrected value
    val raw = Seq[(Long, String)](0L -> "0.01", 1L -> null, 2L -> "0.04", 3L -> "NaN",
      4L -> "0.04", 5L -> "abc", 6L -> "0.5", 7L -> "0.02")
    val rows = bothModes(raw.toDF("id", "pvalue"), Seq("id"))
    val fdr = rows.map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val valid = raw.collect { case (i, p) if p != null && p != "NaN" && p != "abc" =>
      i -> p.toDouble }
    val want = localBh(valid.map(_._2)).map(math.min(_, 1.0))
    valid.zip(want).foreach { case ((i, _), w) =>
      assert(math.abs(fdr(i.toInt).get - w) < 1e-12, s"id $i") }
    Seq(1, 3, 5).foreach { i =>
      assert(fdr(i).isEmpty && rows(i).isNullAt(2), s"id $i must be missing") }
    assert(fdr(2) === fdr(4))
    // double p-values: null and NaN
    val dbl = Seq[(Long, Option[Double])](0L -> Some(0.2), 1L -> None,
      2L -> Some(Double.NaN), 3L -> Some(0.01), 4L -> Some(0.2))
    val drows = bothModes(dbl.toDF("id", "pvalue"), Seq("id"))
    assert(drows.map(_.isNullAt(3)) === Seq(false, true, true, false, false))
    assert(math.abs(drows(3).getDouble(3) - 0.03) < 1e-12 &&
      math.abs(drows(0).getDouble(3) - 0.2) < 1e-12)
  }

  test("grouped BH-FDR agrees between the local and the distributed path") {
    import spark.implicits._
    val cases = (0 until 8).map { i =>
      val r = new scala.util.Random(100 + i)
      val groups = 1 + r.nextInt(30)
      val gp = (0 until groups).map(g => g -> (if (g % 7 == 3) 0.25 else r.nextDouble()))
      gp.flatMap { case (g, p) => (0 to r.nextInt(4)).map(m => (g, m, p)) }
    }
    cases.foreach { rows =>
      val df = rows.toDF("g", "member", "pvalue")
      val out = bothModes(df, Seq("g", "member"), groupby = Seq("g"))
      // one correction per group: m = #groups
      val byGroup = rows.map(r => r._1 -> r._3).distinct.sortBy(_._1)
      val want = byGroup.map(_._1).zip(localBh(byGroup.map(_._2))).toMap
      out.foreach { r =>
        assert(math.abs(r.getDouble(r.fieldIndex("pvalue_fdr")) - want(r.getInt(0))) < 1e-12)
      }
    }
  }

  test("jackknife vcov matches the independent JKn fixture on the fpc design") {
    // Golden parity for SurveyKernel.jackknifeVcov (SURVEY §2.10 row 61):
    // expected SEs computed by tools/jackknife_fixture.py — a standalone
    // numpy implementation of R `survey`'s JKn replicate scheme (drop one
    // cluster, reweight its stratum by nh/(nh-1), center at the full fit,
    // scale by (nh-1)/nh and 1-fpc) sharing no code with the engine.
    import graft.io.Load
    import graft.modify.Modify
    import graft.stats.Glm
    import graft.survey.{SurveyDesignSpec, SurveyKernel}
    import breeze.linalg.{DenseMatrix, DenseVector}
    val fixture = Map(
      "gaussian_nofpc" -> Seq(1.0631810510069022, 0.16553035311460526),
      "gaussian_fpc" -> Seq(0.8836342405941322, 0.1375583344752421),
      "binomial_nofpc" -> Seq(6.138792286430477, 1.2458985143317112))
    val raw = Load.rawDelimited(spark, refPath("test_data_files/fpc_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeContinuous(cf, only = Some(Seq("x", "y", "Nh")))
    val rows = cf.df.select("id", "x", "y").collect().sortBy(_.getLong(0))
    val n = rows.length
    val x = DenseMatrix.tabulate(n, 2)((i, j) => if (j == 0) 1.0 else rows(i).getDouble(1))
    val yCont = DenseVector(rows.map(_.getDouble(2)))
    val sortedY = rows.map(_.getDouble(2)).sorted
    val median = (sortedY((n - 1) / 2) + sortedY(n / 2)) / 2.0
    val yBin = DenseVector(rows.map(r => if (r.getDouble(2) > median) 1.0 else 0.0))
    val ids = rows.map(_.getLong(0).toString)
    def designFor(fpc: Option[String]): SurveyKernel.AlignedDesign = {
      val spec = new SurveyDesignSpec(cf.df, "id",
        strata = Some("stratid"), cluster = Some("psuid"), nest = true,
        singleWeight = Some("weight"), fpc = fpc)
      // the design's per-observation feed, aligned to the fixture's rows
      val byId = spec.surveyRowsDf.collect().map(r => r.getString(0) -> r).toMap
      val aligned = ids.map(byId)
      SurveyKernel.AlignedDesign(aligned.map(_.getAs[String]("__strat")),
        aligned.map(_.getAs[String]("__clust")), aligned.map(_.getAs[Double]("__w_weight")),
        spec.totals)
    }
    def jkSe(y: DenseVector[Double], family: Glm.Family,
             design: SurveyKernel.AlignedDesign): Seq[Double] = {
      val w = DenseVector(design.weights)
      val fit = Glm.fit(x, y, family, Some(w))
      val jk = SurveyKernel.jackknifeVcov(x, y, fit, family, design)
      Seq(math.sqrt(jk(0, 0)), math.sqrt(jk(1, 1)))
    }
    val noFpc = designFor(None)
    val withFpc = designFor(Some("Nh"))
    val got = Map(
      "gaussian_nofpc" -> jkSe(yCont, Glm.Gaussian, noFpc),
      "gaussian_fpc" -> jkSe(yCont, Glm.Gaussian, withFpc),
      "binomial_nofpc" -> jkSe(yBin, Glm.Binomial, noFpc))
    for ((k, want) <- fixture; (g, w) <- got(k).zip(want))
      assertRtol(g, w, 1e-8, s"jackknife SE $k")
    // sanity anchor: on this design JKn and linearization are close
    val fitC = Glm.fit(x, yCont, Glm.Gaussian, Some(DenseVector(noFpc.weights)))
    val lin = SurveyKernel.stataLinearizationVcov(x, yCont, fitC, Glm.Gaussian, noFpc)
    val jk = SurveyKernel.jackknifeVcov(x, yCont, fitC, Glm.Gaussian, noFpc)
    val ratio = jk(1, 1) / lin(1, 1)
    assert(ratio > 0.2 && ratio < 5.0, s"jk/lin variance ratio $ratio out of range")
  }

  test("GraftExtensions wires up; SQL registration round-trips") {
    // spark.sql.extensions applies only at SparkSession creation, which a
    // shared-session suite cannot exercise; verify the injection hook runs
    // and the function registry path works end-to-end via SQL
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head.getDouble(0)
    assertRtol(r, 1.0, 1e-12, "self-cosine")
  }

  test("plan guards: row-filtered scans keep their pushed filters") {
    // regression guards for plan-audit findings (tools/PlanAudit): the
    // user slice must reach the events scan (it sat ABOVE the stateful
    // sessionize op in r3 until moved), and doc slices must prune documents
    def planOf(q: String): String =
      graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*user_id[^\\]]*\\]".r
      .findFirstIn(planOf("sessionize_events")).isDefined,
      "sessionize user slice must be pushed to the parquet scan")
    assert("PushedFilters: \\[[^\\]]*doc_id[^\\]]*\\]".r
      .findFirstIn(planOf("text_gopher_quality")).isDefined,
      "doc slice must be pushed to the documents scan")
  }

  test("interaction aggregated path == broadcast kernel on random typed frames") {
    import spark.implicits._
    import graft.analyze.InteractionStudy
    import graft.modify.Modify
    // randomized parity sweep: random sizes, level counts, null densities
    // — every numeric cell of the sufficient-stats result must agree with
    // the row kernel at rtol 1e-8, error rows string-exactly
    (1 to 6).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      val n = 60 + rnd.nextInt(140)
      val nLevels = 2 + rnd.nextInt(3)
      val levels = (0 until nLevels).map(l => s"L$l")
      val nullEvery = 4 + rnd.nextInt(6)
      val df = (1 to n).map { i =>
        val cat = levels(rnd.nextInt(nLevels))
        val x1 = rnd.nextGaussian() * (1 + trial)
        val x2 = if (i % nullEvery == 0) None else Some(rnd.nextGaussian())
        val y = 0.5 * x1 + (if (cat == "L1") 1.5 else 0.0) + rnd.nextGaussian()
        (i.toLong, y, cat, x1, x2)
      }.toDF("id", "y", "cat", "x1", "x2")
      var cf = graft.model.CladeFrame(df, "id")
      cf = Modify.makeCategorical(cf, only = Some(Seq("cat")))
      val pairs = Seq(("x1", "x2"), ("cat", "x1"), ("cat", "x2"))
      val agg = InteractionStudy.run(spark, cf, "y", pairs, minN = 1)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
      val bc = InteractionStudy.runRows(spark, cf, "y", pairs, Nil, minN = 1,
          reportBetas = false)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
      assert(agg.keySet === bc.keySet, s"trial $trial")
      agg.foreach { case (k, row) =>
        row.zip(bc(k)).zipWithIndex.foreach { case ((a, b), i) => (a, b) match {
          case (x: Double, y2: Double) =>
            assert(math.abs(x - y2) <= 1e-8 * math.max(1.0, math.abs(y2)),
              s"trial $trial $k field $i: $x vs $y2")
          case _ => assert(a === b, s"trial $trial $k field $i")
        } }
      }
    }
  }

  test("epochMix laws on random domain tables: conservation, caps, uniform waterline") {
    import spark.implicits._
    val rng = new scala.util.Random(77L)
    for (trial <- 1 to 5) {
      val nDom = 2 + rng.nextInt(8)
      val rows = (0 until nDom).flatMap { d =>
        (0 until (1 + rng.nextInt(50))).map(_ => (s"dom$d", 1L + rng.nextInt(40).toLong))
      }.toDF("domain", "tok")
      val totCap = rows.agg(org.apache.spark.sql.functions.sum("tok")).head().getLong(0) * 3
      val budget = math.max(1L, (totCap * (0.2 + rng.nextDouble() * 1.2)).toLong)
      val out = graft.pipeline.Sampling
        .epochMix(rows, "domain", col("tok"), budget, maxEpochs = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
      // conservation: total allocation = min(budget, total capacity)
      val allocSum = out.map(_._4).sum
      assert(math.abs(allocSum - math.min(budget, totCap).toDouble) < 1e-6 * allocSum + 1e-6,
        s"trial $trial: alloc $allocSum vs min($budget, $totCap)")
      // caps respected; epochs never exceed maxEpochs
      out.foreach { case (d, n, cap, alloc, ep) =>
        assert(cap === n * 3 && alloc <= cap + 1e-9 && ep <= 3.0 + 1e-12, s"$trial/$d")
      }
      // waterline: all UNSATURATED domains receive the same token count
      val unsat = out.filter(t => t._4 < t._3 - 1e-9).map(_._4)
      assert(unsat.distinct.length <= 1, s"trial $trial: waterline not uniform: ${unsat.toSeq}")
    }
  }

  test("jsDivergence laws: symmetric, within [0, ln 2], zero iff identical") {
    import spark.implicits._
    val rng = new scala.util.Random(31L)
    val words = ('a' to 'j').map(_.toString)
    def corpus(n: Int) = (1 to n).map(_ =>
      (1 to (3 + rng.nextInt(8))).map(_ => words(rng.nextInt(words.length))).mkString(" "))
      .toDF("text")
    val (a, b) = (corpus(20), corpus(20))
    def js(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Text.jsDivergence(x, y, "text").head()
        .getDouble(5)
    val ab = js(a, b); val ba = js(b, a)
    assert(math.abs(ab - ba) < 1e-12, s"symmetry: $ab vs $ba")
    assert(ab >= 0.0 && ab <= math.log(2.0) + 1e-12, s"bounds: $ab")
    assert(js(a, a) === 0.0)
  }

  test("kCoreBounded invariant: every surviving node has in-core degree >= k on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(13L)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 120).map(_ => (s"v${rng.nextInt(n)}", s"v${rng.nextInt(n)}"))
        .filter(e => e._1 != e._2).toDF("src", "dst")
      val k = 2 + rng.nextInt(3)
      val core = graft.pipeline.Graph.kCoreBounded(edges, "src", "dst", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(core.values.forall(_ >= k), s"trial $trial k=$k: degree invariant violated: $core")
    }
  }

  test("substringSpans laws on random corpora: spans >= L, disjoint, novelty mass conserved") {
    import spark.implicits._
    val L = 4
    val rnd = new scala.util.Random(123L)
    // small token alphabet forces cross-doc collisions; random doc lengths
    (0 until 5).foreach { trial =>
      val docs = (0 until 30).map { i =>
        (i.toLong, (0 until (3 + rnd.nextInt(25)))
          .map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }.toDF("doc_id", "text")
      val spans = graft.pipeline.Dedup.substringSpans(docs, "text", "doc_id", minTokens = L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      spans.foreach { case (_, s, e, n) =>
        assert(n === e - s + 1 && n >= L, s"span [$s,$e] n=$n must be >= L=$L (trial $trial)")
      }
      // maximality: spans of one doc are disjoint AND non-adjacent (a gap
      // of <= 1 token between covered windows would have merged)
      spans.groupBy(_._1).foreach { case (d, ss) =>
        ss.sortBy(_._2).sliding(2).foreach {
          case Array(p, q) => assert(q._2 > p._3 + 1,
            s"doc $d spans $p and $q should have merged (trial $trial)")
          case _ =>
        }
      }
      // novelty mass conservation (ties substringSpans' gram machinery to
      // noveltyCurve's): sum of per-doc novel n-grams == corpus distinct
      val nov = graft.pipeline.Text.noveltyCurve(docs, "text", "doc_id", n = L)
        .agg(sum("n_novel")).head().getLong(0)
      val distinctGrams = docs
        .select(split(lower(trim(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= L)
        .select(explode(expr(
          s"transform(sequence(0, size(w) - $L), i -> concat_ws(' ', slice(w, i + 1, $L)))")).as("g"))
        .distinct().count()
      assert(nov === distinctGrams,
        s"novel mass $nov != corpus distinct grams $distinctGrams (trial $trial)")
    }
  }

  test("prefixJaccardJoin == brute-force all-pairs on random corpora (no false negatives)") {
    import spark.implicits._
    val rnd = new scala.util.Random(777L)
    (0 until 4).foreach { trial =>
      val t = Seq(0.5, 0.6, 0.8, 0.9)(trial)
      val docs = (0 until 40).map { i =>
        (i.toLong, (0 until (4 + rnd.nextInt(10)))
          .map(_ => s"w${rnd.nextInt(12)}").distinct.mkString(" "))
      }.toDF("doc_id", "text")
      val got = graft.pipeline.Dedup.prefixJaccardJoin(docs, "text", "doc_id", t)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // brute force over the same canonical word sets
      val sets = docs.collect().map { r =>
        r.getLong(0).toString -> r.getString(1).toLowerCase.trim
          .split("\\s+").filter(_.nonEmpty).toSet
      }.toSeq
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a < b && sa.nonEmpty && sb.nonEmpty
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (a, b)).toSet
      assert(got === want,
        s"trial $trial t=$t: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("prefixJaccardStar components == brute-force pairwise graph components (identity law)") {
    import spark.implicits._
    val rnd = new scala.util.Random(778L)
    (0 until 4).foreach { trial =>
      val t = Seq(0.5, 0.6, 0.8, 0.9)(trial)
      val docs = (0 until 40).map { i =>
        (i.toLong, (0 until (4 + rnd.nextInt(10)))
          .map(_ => s"w${rnd.nextInt(12)}").distinct.mkString(" "))
      }.toDF("doc_id", "text")
      val star = graft.pipeline.Dedup.prefixJaccardStar(docs, "text", "doc_id", t)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // reference: brute-force all-pairs verified graph -> union-find,
      // component = min string id; singletons map to themselves
      val sets = docs.collect().map { r =>
        r.getLong(0).toString -> r.getString(1).toLowerCase.trim
          .split("\\s+").filter(_.nonEmpty).toSet
      }.toSeq.filter(_._2.nonEmpty)
      val parent = scala.collection.mutable.Map(sets.map(s => s._1 -> s._1): _*)
      def find(x: String): String = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      for {
        (a, sa) <- sets; (b, sb) <- sets
        if a < b && (sa & sb).size.toDouble / (sa | sb).size >= t
      } {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val want = sets.map { case (id, _) => id -> find(id) }.toMap
      assert(star === want,
        s"trial $trial t=$t: star path disagrees with the pairwise graph " +
          s"(diff=${(star.toSet diff want.toSet) ++ (want.toSet diff star.toSet)})")
      assert(want.values.toSet.size < want.size || trial >= 2,
        s"trial $trial fixture should contain at least one real duplicate group")
    }
  }

  test("guaranteedHeavyHitters: verdict set never flips under repartition in the gap regime; always sound") {
    import spark.implicits._
    val rnd = new scala.util.Random(91L)
    // gap-regime corpus: 20 heavies at tf=300, 500 lights at tf=8 ->
    // N=10000, φ=1/50 -> φN=200; the band [200, 200 + N/256≈39) is empty
    // and capacity 256 << 520 types (genuinely approximate: counters DO
    // differ across partitionings; only the verdict must not)
    val words = rnd.shuffle(
      (0 until 20).flatMap(h => Seq.fill(300)(s"heavy$h")) ++
      (0 until 500).flatMap(l => Seq.fill(8)(s"light$l")))
    val truthHeavy = (0 until 20).map(h => s"heavy$h").toSet
    val reports = (0 until 5).map { _ =>
      val parts = 1 + rnd.nextInt(64)
      val ds = words.toDF("w").repartition(parts).select(col("w")).as[String]
      val rep = graft.pipeline.SpaceSaving
        .guaranteedHeavyHitters(ds, capacity = 256, phiNum = 1L, phiDen = 50L)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rep.forall(_._2 === 10000L), "total mass is exact in any merge")
      rep.map(_._1).toSet
    }
    reports.foreach(r => assert(r === truthHeavy,
      s"gap-regime report must be exactly the true heavy set: $r"))
    // outside the regime (band occupied) the report may drop band items
    // but must stay SOUND: everything reported is truly >= φN
    val bandWords = rnd.shuffle(
      (0 until 30).flatMap(h => Seq.fill(40 + h)(s"b$h")) ++ // tf 40..69 straddle φN
      (0 until 300).flatMap(l => Seq.fill(3)(s"l$l")))
    val n2 = bandWords.size.toLong
    val truth2 = bandWords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (0 until 3).foreach { _ =>
      val parts = 1 + rnd.nextInt(32)
      val ds = bandWords.toDF("w").repartition(parts).select(col("w")).as[String]
      val rep = graft.pipeline.SpaceSaving
        .guaranteedHeavyHitters(ds, capacity = 64, phiNum = 1L, phiDen = 50L)
        .collect().map(_.getString(0))
      rep.foreach(w => assert(truth2(w) * 50L >= n2,
        s"reported $w has true tf ${truth2(w)} < N/50 — unsound"))
    }
    intercept[IllegalArgumentException](
      graft.pipeline.SpaceSaving.guaranteedHeavyHitters(
        words.take(5).toDF("w").as[String], 8, 3L, 2L))
  }

  test("SpaceSaving laws: overcount bounds, frequent-item guarantee, exact regime, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    (0 until 4).foreach { trial =>
      // zipf-ish corpus: word w_k with weight ~ 1/(k+1)
      val words = (0 until 4000).map { _ =>
        val k = math.min((1.0 / math.max(rnd.nextDouble(), 1e-3)).toInt, 80)
        s"w$k"
      }
      val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = words.size.toLong
      val parts = 1 + rnd.nextInt(16)
      val ds = words.toDF("w").repartition(parts).select(col("w")).as[String]
      val cap = 20 + trial * 10
      val sk = graft.pipeline.SpaceSaving.sketchOf(ds, cap)
      assert(sk.total === n, "total token mass must be exact")
      val snap = sk.snapshot.map(s => s._1 -> ((s._2, s._3))).toMap
      snap.foreach { case (w, (est, err)) =>
        val t = truth.getOrElse(w, 0L)
        assert(t <= est && est <= t + err,
          s"trial $trial cap=$cap parts=$parts: $w true=$t est=$est err=$err")
      }
      // any item with true count > N/cap must be tracked
      truth.filter(_._2 > n / cap).keys.foreach { w =>
        assert(snap.contains(w),
          s"trial $trial: frequent item $w (${truth(w)} > ${n / cap}) untracked")
      }
      // exact regime: capacity >= distinct items -> estimates exact, err 0
      val exact = graft.pipeline.SpaceSaving.sketchOf(ds, 10000).snapshot
      assert(exact.forall(_._3 == 0L), "exact regime must carry zero error")
      assert(exact.map(s => s._1 -> s._2).toMap === truth,
        s"trial $trial: exact-regime counts differ")
    }
  }

  test("upsert laws: idempotent, identity on empty delta, diff sees the change") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 300).map(i => (i.toLong, rnd.nextInt(100), s"v$i"))
      .toDF("k", "x", "s")
    val delta = (0 until 300 by 7).map(i => (i.toLong, -1, s"new$i"))
      .toDF("k", "x", "s")
    val once = graft.pipeline.Joins.upsert(base, delta, Seq("k"))
    val twice = graft.pipeline.Joins.upsert(once, delta, Seq("k"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
      "upsert must be idempotent for the same delta")
    val idU = graft.pipeline.Joins.upsert(base, base.limit(0), Seq("k"))
    assert(idU.exceptAll(base).isEmpty && base.exceptAll(idU).isEmpty,
      "empty delta must be the identity")
    // diff(base, upsert(base, delta)) flags exactly the delta keys as
    // changed (every delta row here differs from its base row)
    val st = graft.pipeline.Joins.diffSnapshots(base, once, Seq("k"))
      .groupBy("row_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("changed") === delta.count())
    assert(st("unchanged") === 300L - delta.count())
    assert(!st.contains("added") && !st.contains("removed"))
    // diff(x, x) is all-unchanged
    val same = graft.pipeline.Joins.diffSnapshots(base, base, Seq("k"))
      .select("row_status").distinct().collect().map(_.getString(0)).toSeq
    assert(same === Seq("unchanged"))
  }

  test("weightedQuantile with unit weights matches exactQuantilesAll type-7 at the crossing") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(501)(rnd.nextDouble() * 100)
    val df = vals.map(v => ("g", v, 1.0)).toDF("k", "v", "w")
    // with unit weights the crossing value is the ceil((n)*q)-th order
    // statistic: compare against a direct in-memory computation
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val got = graft.describe.Describe.weightedQuantile(df, "v", "w", Seq("k"), q)
        .head().getDouble(1)
      val want = vals.sorted.apply(math.ceil(vals.length * q).toInt - 1)
      assert(got === want, s"q=$q")
    }
  }

  test("partitioning-invariance laws: calibration, targetEncodeLoo, contrastivePairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(59)
    // calibration: exact int64 micro-bins -> identical to the last bit
    // under any partitioning
    val scored = (0 until 500)
      .map(_ => (rnd.nextDouble(), rnd.nextBoolean())).toDF("score", "pos")
    def cal(df: org.apache.spark.sql.DataFrame) =
      graft.describe.Describe.calibration(df, "score", col("pos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
    assert(cal(scored) === cal(scored.repartition(7)))
    // targetEncodeLoo on integer targets: one division of exact int64s
    val te = (0 until 400)
      .map(_ => (s"c${rnd.nextInt(12)}", rnd.nextInt(1000).toLong))
      .toDF("cat", "q")
    def loo(df: org.apache.spark.sql.DataFrame) =
      graft.modify.Modify.targetEncodeLoo(df, "cat", "q")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(loo(te).zip(loo(te.repartition(5))).forall { case (a, b) =>
      a._1 == b._1 && a._2 == b._2 &&
        (a._3.isNaN && b._3.isNaN || a._3 == b._3) })
    // contrastivePairs: positions come from a seeded-hash TOTAL order
    // (range sort + offsets), so the pair set must not depend on the
    // input partitioning
    val docs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val comp = ((0L until 60L).map(i => (i.toString, i.toString)).toMap
      ++ Map("1" -> "0", "2" -> "0", "7" -> "5")).toSeq.toDF("id", "component")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Sampling.contrastivePairs(d, comp, "doc_id", negK = 3)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sortBy(identity).toSeq
    assert(pairs(docs) === pairs(docs.repartition(9)))
  }
}
