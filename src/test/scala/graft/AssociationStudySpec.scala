package graft

import org.apache.spark.sql.functions._
import graft.analyze.AssociationStudy
import graft.io.Load
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify

/** Golden-output parity with the reference's R `survey` oracle
  * (reference: tests/r_test_output/analyze CSVs; comparison contract
  * rtol=1e-4 per tests/analyze/test_association_study.py:1-11). */
class AssociationStudySpec extends SparkSpec {

  private def goldenMap(path: String): Map[String, Map[String, Double]] = {
    // CSV shape: "Variable","Variable_type","N","Beta","SE","Diff_AIC","pvalue"
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    val header = lines.head.split(",").map(_.replaceAll("\"", ""))
    lines.tail.map { l =>
      val cells = l.split(",").map(_.replaceAll("\"", ""))
      val m = header.zip(cells).toMap
      m("Variable") -> m.collect {
        case (k, v) if k != "Variable" && k != "Variable_type" && v != "NA" =>
          k -> v.toDouble
      }
    }.toMap
  }

  lazy val nhanes = {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    // index_col=None in the fixture → sequential row id
    // (reference: tests/analyze/conftest.py:25)
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    cf
  }

  test("nhanes_noweights matches R glm golden (binomial logit, LRT)") {
    val golden = goldenMap(refPath("r_test_output/analyze/nhanes_noweights_result.csv"))
    val results = Seq(
      ("race", Seq("agecat", "RIAGENDR")),
      ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).map { case (rv, covars) =>
      AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv)).collect().head
    }
    results.foreach { r =>
      val v = r.getString(r.fieldIndex("Variable"))
      val g = golden(v)
      assert(r.getLong(r.fieldIndex("N")) === g("N").toLong, s"$v N")
      assertRtol(r.getDouble(r.fieldIndex("pvalue")), g("pvalue"), 1e-4, s"$v pvalue")
      g.get("Beta").foreach(b =>
        assertRtol(r.getDouble(r.fieldIndex("Beta")), b, 1e-4, s"$v Beta"))
      g.get("SE").foreach(se =>
        assertRtol(r.getDouble(r.fieldIndex("SE")), se, 1e-4, s"$v SE"))
      g.get("Diff_AIC").foreach(d =>
        assertRtol(r.getDouble(r.fieldIndex("Diff_AIC")), d, 1e-3, s"$v Diff_AIC"))
    }
  }

  test("fpc_noweights matches R glm golden (gaussian identity, t inference)") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/fpc_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeContinuous(cf, only = Some(Seq("x", "y")))
    val res = AssociationStudy.run(spark, cf, outcomes = Seq("y"),
      regressionVariables = Seq("x"), minN = 1).collect().head
    val g = goldenMap(refPath("r_test_output/analyze/fpc_noweights_result.csv"))("x")
    assert(res.getLong(res.fieldIndex("N")) === 8L)
    assertRtol(res.getDouble(res.fieldIndex("Beta")), g("Beta"), 1e-4, "Beta")
    assertRtol(res.getDouble(res.fieldIndex("SE")), g("SE"), 1e-4, "SE")
    assertRtol(res.getDouble(res.fieldIndex("pvalue")), g("pvalue"), 1e-4, "pvalue")
  }

  Seq(("apipop_data.csv", "api_apipop_result.csv"),
      ("apipop_withna_data.csv", "api_apipop_withna_result.csv")).foreach {
    case (dataFile, goldenFile) =>
      test(s"$goldenFile matches golden (gaussian joint model, AggregatedGlm path)") {
        val raw = Load.rawDelimited(spark, refPath(s"test_data_files/$dataFile"))
        var cf = Load.withSequentialId(raw)
        cf = Modify.makeContinuous(cf, only = Some(Seq("api00", "ell", "meals", "mobility")))
        cf = Modify.colfilter(cf, only = Some(Seq("api00", "ell", "meals", "mobility")))
        val golden = goldenMap(refPath(s"r_test_output/analyze/$goldenFile"))
        Seq("ell", "meals", "mobility").foreach { rv =>
          val covars = Seq("ell", "meals", "mobility").filterNot(_ == rv)
          val r = AssociationStudy.run(spark, cf, outcomes = Seq("api00"),
            covariates = covars, regressionVariables = Seq(rv), minN = 1)
            .collect().head
          val g = golden(rv)
          assert(r.getLong(r.fieldIndex("N")) === g("N").toLong, s"$rv N")
          assertRtol(r.getDouble(r.fieldIndex("Beta")), g("Beta"), 1e-4, s"$rv Beta")
          assertRtol(r.getDouble(r.fieldIndex("SE")), g("SE"), 1e-4, s"$rv SE")
          assertRtol(r.getDouble(r.fieldIndex("pvalue")), g("pvalue"), 1e-4, s"$rv pvalue")
        }
      }
  }

  test("nhanes_noweights_withna matches golden (NA-heavy categorical)") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_NAs_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val golden = goldenMap(refPath("r_test_output/analyze/nhanes_noweights_withna_result.csv"))
    val results = Seq(
      ("race", Seq("agecat", "RIAGENDR")),
      ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).map { case (rv, covars) =>
      AssociationStudy.run(spark, cf, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv)).collect().head
    }
    results.foreach { r =>
      val v = r.getString(r.fieldIndex("Variable"))
      val g = golden(v)
      assert(r.getLong(r.fieldIndex("N")) === g("N").toLong, s"$v N")
      assertRtol(r.getDouble(r.fieldIndex("pvalue")), g("pvalue"), 1e-4, s"$v pvalue")
    }
  }

  test("fit failures surface an error message on the null row, never silently") {
    import spark.implicits._
    import graft.model.{CladeFrame, VariableType}
    // 'bad' is TYPED continuous but holds unparseable strings -> the fit
    // kernel throws; the result must be a null row WITH the reason
    val n = 250
    val df = (1 to n).map(i => (i.toLong, i.toDouble + (i % 7), "x" + i, i.toDouble))
      .toDF("id", "y", "bad", "ok")
    val cf = CladeFrame(df).withTypes(Map(
      "y" -> VariableType.Continuous, "bad" -> VariableType.Continuous,
      "ok" -> VariableType.Continuous))
    // the all-numeric study takes the aggregated path; reporting
    // categorical betas keeps it on the row paths, broadcast under auto
    // and co-group under distributed
    def study(rows: Boolean) = AssociationStudy.run(spark, cf, Seq("y"),
      regressionVariables = Seq("bad", "ok"), minN = 10, reportCategoricalBetas = rows)
    val paths: Seq[(String, () => org.apache.spark.sql.DataFrame, Seq[String])] = Seq(
      ("aggregated", () => study(rows = false), Nil),
      ("broadcast", () => study(rows = true), Seq("-> driver-local path")),
      ("co-group", () => distributed(study(rows = true)), Seq("-> distributed path")))
    for ((path, run, want) <- paths) {
      val (res0, decisions) = gateDecisions(run())
      assert(decisions.map(d => d.substring(d.indexOf("->"))) === want, s"$path: $decisions")
      val res = res0.collect().map(r => r.getString(0) -> r).toMap
      val bad = res("bad")
      assert(bad.isNullAt(bad.fieldIndex("pvalue")), path)
      val err = bad.getString(bad.fieldIndex("error"))
      assert(err != null && err.contains("NumberFormatException"),
        s"$path: error column should name the failure, got '$err'")
      assert(res("ok").getString(res("ok").fieldIndex("error")) == null, path)
    }
    // min_n gate carries its reason too
    val tooFew = AssociationStudy.run(spark, cf, Seq("y"),
      regressionVariables = Seq("ok"), minN = 100000)
      .collect().head
    assert(tooFew.getString(tooFew.fieldIndex("error")).contains("min_n"))
    // interaction runner: same contract
    val inter = graft.analyze.InteractionStudy.run(spark, cf, "y",
      interactions = Seq(("bad", "ok")), minN = 10)
      .collect().head
    val ierr = inter.getString(inter.fieldIndex("error"))
    assert(ierr != null && ierr.contains("NumberFormatException"), s"got '$ierr'")
  }

  test("regression-kind registry: custom kinds dispatch, builtin names validate") {
    import spark.implicits._
    import graft.model.CladeFrame
    import graft.analyze.RegressionKind
    val df = (1 to 300).map(i => (i.toLong, i.toDouble, i * 2.0)).toDF("id", "y", "x")
    val cf = CladeFrame(df)
    object CountKind extends RegressionKind {
      def run(spark: org.apache.spark.sql.SparkSession, cf: CladeFrame,
              outcome: String, covariates: Seq[String], rvs: Seq[String],
              minN: Long, surveyDesign: Option[graft.survey.SurveyDesignSpec]) = {
        import spark.implicits._
        rvs.map(v => (v, outcome, 0.5)).toDF("Variable", "Outcome", "pvalue")
      }
    }
    AssociationStudy.registerRegressionKind("count_kind", CountKind)
    val res = AssociationStudy.run(spark, cf, Seq("y"),
      regressionVariables = Seq("x"), minN = 1,
      regressionKind = Some("count_kind")).collect()
    assert(res.length === 1 && res.head.getDouble(2) === 0.5)
    intercept[IllegalArgumentException] {
      AssociationStudy.run(spark, cf, Seq("y"), regressionVariables = Seq("x"),
        regressionKind = Some("nope"))
    }
    intercept[UnsupportedOperationException] {
      AssociationStudy.run(spark, cf, Seq("y"), regressionVariables = Seq("x"),
        regressionKind = Some("r_survey"))
    }
    intercept[IllegalArgumentException] { // builtin name misuse
      AssociationStudy.run(spark, cf, Seq("y"), regressionVariables = Seq("x"),
        regressionKind = Some("weighted_glm"))
    }
  }

  test("non-varying covariates are dropped with a warning on the result row") {
    import spark.implicits._
    import graft.model.{CladeFrame, VariableType}
    val df = (1 to 300).map(i => (i.toLong, i.toDouble, i * 2.0 + (i % 3), 7.0))
      .toDF("id", "y", "x", "c")
    val cf = CladeFrame(df)
    // AggregatedGlm path (all numeric)
    val agg = AssociationStudy.run(spark, cf, Seq("y"),
      covariates = Seq("c"), regressionVariables = Seq("x"), minN = 1).collect().head
    assert(agg.getString(agg.fieldIndex("warnings")).contains("non-varying covariates(s): c"))
    assert(!agg.isNullAt(agg.fieldIndex("pvalue"))) // still fits without c
    // row path (a categorical covar disqualifies the aggregated one)
    val cf2 = cf.withTypes(Map("c" -> VariableType.Categorical))
      .withLevels(Map("c" -> Seq("7.0")))
    val mel = AssociationStudy.run(spark, cf2, Seq("y"),
      covariates = Seq("c"), regressionVariables = Seq("x"), minN = 1).collect().head
    assert(mel.getString(mel.fieldIndex("warnings")).contains("non-varying covariates(s): c"))
  }

  test("standardize_data: z-scoring changes betas but not pvalues") {
    // (reference contract: standardization affects Beta/SE, not pvalues -
    // weighted_glm_regression.py docstring)
    val plain = AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
      covariates = Seq("race", "agecat"), regressionVariables = Seq("RIAGENDR"))
      .collect().head
    val std = AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
      covariates = Seq("race", "agecat"), regressionVariables = Seq("RIAGENDR"),
      standardizeData = true).collect().head
    // binary rv is 0/1 either way; continuous covariates absent -> same fit
    assertRtol(std.getDouble(std.fieldIndex("pvalue")),
      plain.getDouble(plain.fieldIndex("pvalue")), 1e-6, "binary rv pvalue invariant")
    // use a continuous rv for the real check
    val cf = Modify.makeContinuous(nhanes, only = Some(Seq("WTMEC2YR")))
    val plainC = AssociationStudy.run(spark, cf, outcomes = Seq("HI_CHOL"),
      covariates = Seq("race"), regressionVariables = Seq("WTMEC2YR"))
      .collect().head
    val stdC = AssociationStudy.run(spark, cf, outcomes = Seq("HI_CHOL"),
      covariates = Seq("race"), regressionVariables = Seq("WTMEC2YR"),
      standardizeData = true).collect().head
    assertRtol(stdC.getDouble(stdC.fieldIndex("pvalue")),
      plainC.getDouble(plainC.fieldIndex("pvalue")), 1e-6, "pvalue invariant")
    assert(math.abs(stdC.getDouble(stdC.fieldIndex("Beta")) -
      plainC.getDouble(plainC.fieldIndex("Beta"))) > 1e-6, "beta should change")
  }

  test("report_categorical_betas: one row per non-reference level, shared LRT") {
    val plain = AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
      covariates = Seq("agecat", "RIAGENDR"), regressionVariables = Seq("race"))
      .collect().head
    val betas = AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
      covariates = Seq("agecat", "RIAGENDR"), regressionVariables = Seq("race"),
      reportCategoricalBetas = true).collect()
    assert(betas.length === 3) // race has 4 observed levels -> 3 dummies
    val cats = betas.map(_.getString(betas.head.fieldIndex("Category"))).toSet
    assert(cats === Set("race[T.2]", "race[T.3]", "race[T.4]"))
    betas.foreach { r =>
      assertRtol(r.getDouble(r.fieldIndex("LRT_pvalue")),
        plain.getDouble(plain.fieldIndex("pvalue")), 1e-12, "shared LRT")
      assert(!r.isNullAt(r.fieldIndex("Beta")) && !r.isNullAt(r.fieldIndex("SE")))
    }
  }

  test("auto path selection: tiny base broadcasts, forced distributed routes to co-group") {
    val cfC = Modify.makeContinuous(nhanes, only = Some(Seq("WTMEC2YR")))
    def study() = AssociationStudy.run(spark, cfC, outcomes = Seq("HI_CHOL"),
      covariates = Seq("race"), regressionVariables = Seq("WTMEC2YR")).collect()
    // auto: the nhanes base is tiny -> the gate's probe is the broadcast base
    val (bc, auto) = gateDecisions(study())
    assert(auto.size === 1 && auto.head.startsWith("associationStudy:") &&
      auto.head.endsWith("-> driver-local path"), auto)
    // forced distributed: co-group, same results
    val (cg, dist) = gateDecisions(distributed(study()))
    assert(dist.size === 1 && dist.head.endsWith("-> distributed path"), dist)
    assert(cg.nonEmpty && !cg.head.isNullAt(cg.head.fieldIndex("pvalue")))
    assertRtol(cg.head.getDouble(cg.head.fieldIndex("pvalue")),
      bc.head.getDouble(bc.head.fieldIndex("pvalue")), 1e-10, "pvalue across paths")
  }

  test("interaction auto path selection goes through the same gate") {
    import graft.analyze.InteractionStudy
    def study() = InteractionStudy.run(spark, nhanes, "HI_CHOL",
      interactions = Seq(("agecat", "RIAGENDR")), covariates = Seq("race")).collect()
    val (r, dist) = gateDecisions(distributed(study()))
    assert(dist.size === 1 && dist.head.startsWith("interactionStudy:") &&
      dist.head.endsWith("-> distributed path"), dist)
    assert(r.nonEmpty)
    val (_, auto) = gateDecisions(study())
    assert(auto.size === 1 && auto.head.endsWith("-> driver-local path"),
      s"tiny block broadcasts by default: $auto")
  }

  test("standardize_data through the co-group path matches the broadcast path") {
    // binomial outcome + continuous covariate and rv (global covar moments)
    val cfC = Modify.makeContinuous(nhanes, only = Some(Seq("WTMEC2YR")))
    // gaussian outcome: the outcome itself is z-scored with global moments
    val gOut = Modify.makeContinuous(nhanes, only = Some(Seq("WTMEC2YR")))
    val cases = Seq(
      (cfC, "HI_CHOL", Seq("race"), "WTMEC2YR"),
      (gOut, "WTMEC2YR", Seq("race"), "RIAGENDR"))
    cases.foreach { case (cf, outcome, covars, rv) =>
      def study() = AssociationStudy.run(spark, cf, outcomes = Seq(outcome),
        covariates = covars, regressionVariables = Seq(rv),
        standardizeData = true).collect().head
      val bc = study()
      val cg = distributed(study())
      assert(cg.getLong(cg.fieldIndex("N")) === bc.getLong(bc.fieldIndex("N")),
        s"$rv N")
      Seq("Beta", "SE", "pvalue").foreach { c =>
        assertRtol(cg.getDouble(cg.fieldIndex(c)),
          bc.getDouble(bc.fieldIndex(c)), 1e-10, s"$outcome~$rv $c")
      }
    }
  }

  test("cogroup path (no broadcast): golden parity on nhanes binomial LRT") {
    val golden = goldenMap(refPath("r_test_output/analyze/nhanes_noweights_result.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("RIAGENDR", Seq("race", "agecat")))
      .foreach { case (rv, covars) =>
        val r = distributed(AssociationStudy.run(spark, nhanes, outcomes = Seq("HI_CHOL"),
          covariates = covars, regressionVariables = Seq(rv))).collect().head
        val g = golden(rv)
        assert(r.getLong(r.fieldIndex("N")) === g("N").toLong, s"$rv N (cogroup)")
        assertRtol(r.getDouble(r.fieldIndex("pvalue")), g("pvalue"), 1e-4,
          s"$rv pvalue (cogroup)")
      }
  }

  test("analyze_assoc_cogroup's study on the broadcast path returns the query's rows") {
    // the query forces co-group and DuckDB checks that result; the same
    // study under auto takes the broadcast path, which the oracle then
    // certifies through this equality
    val dir = "/root/testdata/sf0.001"
    val want = SparkEntry.queries("analyze_assoc_cogroup")(spark, dir).collect().toSeq
    val cf = CladeFrame(graft.queries.Tables.t(spark, dir, "orders")
      .withColumn("order_day",
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01")).cast("double"))
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_custkey", "order_day"),
      "o_orderkey")
      .withTypes(Map("o_orderstatus" -> VariableType.Categorical))
    val (got, decisions) = gateDecisions(AssociationStudy.run(spark, cf,
      outcomes = Seq("o_totalprice"), covariates = Seq("o_orderstatus"),
      regressionVariables = Seq("o_custkey", "order_day"), minN = 1)
      .select(col("Variable").as("variable"), col("N").as("n"),
        round(col("Beta"), 4).as("beta"), round(col("SE"), 4).as("se"))
      .orderBy("variable").collect().toSeq)
    assert(decisions.size === 1 && decisions.head.startsWith("associationStudy:") &&
      decisions.head.endsWith("-> driver-local path"), decisions)
    assert(want.length === 2 && got === want)
  }

  test("driver query analyze_assoc_cogroup is collect-free and rejects dup ids") {
    // the CORRECTNESS board's co-group row (VERDICT r9 #6): assert the
    // declared query actually exercises the no-collect path
    val (r, decisions) = gateDecisions(
      SparkEntry.queries("analyze_assoc_cogroup")(spark, "/root/testdata/sf0.001").collect())
    assert(decisions.size === 1 && decisions.head.startsWith("associationStudy:") &&
      decisions.head.endsWith("no probe (graft.local.mode=distributed) -> distributed path"),
      s"analyze_assoc_cogroup must run the co-group path (no driver collect): $decisions")
    assert(r.length === 2 && r.forall(!_.isNullAt(2)))

    // duplicate observation ids would silently EXPLODE the melt⋈base join
    // (observed: lineitem keyed by non-unique l_orderkey inflated
    // N 60000→298996) — the co-group path must reject them like the
    // broadcast path's collected-index check does
    import spark.implicits._
    val dup = Seq(("a", 1.0, 2.0), ("a", 3.0, 4.0), ("b", 5.0, 6.0))
      .toDF("id", "y", "x")
    val cf = graft.model.CladeFrame(dup, "id")
    val ex = intercept[IllegalArgumentException] {
      distributed(AssociationStudy.run(spark, cf, outcomes = Seq("y"),
        regressionVariables = Seq("x"), minN = 1,
        reportCategoricalBetas = true)) // disqualify the aggregated path
    }
    assert(ex.getMessage.contains("not unique"), ex.getMessage)
  }
}