package graft

import org.apache.spark.sql.DataFrame
import graft.analyze.AssociationStudy
import graft.io.Load
import graft.modify.Modify
import graft.model.CladeFrame
import graft.survey.SurveyDesignSpec

/** Survey-weighted golden-output parity vs the R `survey` oracle
  * (rtol 1e-4 — reference: tests/analyze/test_association_study.py). */
class WeightedAssociationSpec extends SparkSpec {

  private def golden(path: String): Map[String, Map[String, Double]] = {
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

  private def loadCsv(name: String, contCols: Seq[String]): CladeFrame = {
    val raw = Load.rawDelimited(spark, refPath(s"test_data_files/$name"))
    Modify.makeContinuous(Load.withSequentialId(raw), only = Some(contCols))
  }

  private def checkRow(df: DataFrame, v: String, g: Map[String, Double],
                       rtol: Double = 1e-4): Unit = {
    val r = df.filter(df("Variable") === v).collect().head
    assert(r.getLong(r.fieldIndex("N")) === g("N").toLong, s"$v N")
    g.get("Beta").foreach(x => assertRtol(r.getDouble(r.fieldIndex("Beta")), x, rtol, s"$v Beta"))
    g.get("SE").foreach(x => assertRtol(r.getDouble(r.fieldIndex("SE")), x, rtol, s"$v SE"))
    g.get("pvalue").foreach(x => assertRtol(r.getDouble(r.fieldIndex("pvalue")), x, rtol, s"$v pvalue"))
  }

  test("fpc_withoutfpc: weights+cluster+strata, nested, no fpc") {
    val cf = loadCsv("fpc_data.csv", Seq("x", "y"))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("stratid"), cluster = Some("psuid"), nest = true,
      singleWeight = Some("weight"))
    val data = Modify.colfilter(cf, only = Some(Seq("x", "y")))
    val res = AssociationStudy.run(spark, data, outcomes = Seq("y"),
      regressionVariables = Seq("x"), minN = 1, surveyDesign = Some(design))
    checkRow(res, "x", golden(refPath("r_test_output/analyze/fpc_withoutfpc_result.csv"))("x"))
  }

  test("fpc_withfpc: fpc as population size triggers conversion") {
    val cf = loadCsv("fpc_data.csv", Seq("x", "y"))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("stratid"), cluster = Some("psuid"), nest = true,
      singleWeight = Some("weight"), fpc = Some("Nh"))
    val data = Modify.colfilter(cf, only = Some(Seq("x", "y")))
    val res = AssociationStudy.run(spark, data, outcomes = Seq("y"),
      regressionVariables = Seq("x"), minN = 1, surveyDesign = Some(design))
    checkRow(res, "x", golden(refPath("r_test_output/analyze/fpc_withfpc_result.csv"))("x"))
  }

  test("fpc_withfpc_nostrat: cluster-only design with fpc") {
    val cf = loadCsv("fpc_nostrat_data.csv", Seq("x", "y"))
    val design = new SurveyDesignSpec(cf.df, "id",
      cluster = Some("psuid"), singleWeight = Some("weight"), fpc = Some("Nh"))
    val data = Modify.colfilter(cf, only = Some(Seq("x", "y")))
    val res = AssociationStudy.run(spark, data, outcomes = Seq("y"),
      regressionVariables = Seq("x"), minN = 1, surveyDesign = Some(design))
    checkRow(res, "x", golden(refPath("r_test_output/analyze/fpc_withfpc_nostrat_result.csv"))("x"))
  }

  test("api_apistrat: stratified-only design with per-stratum fpc") {
    val cf = loadCsv("apistrat_data.csv", Seq("api00", "ell", "meals", "mobility"))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("stype"), singleWeight = Some("pw"), fpc = Some("fpc"))
    val data = Modify.colfilter(cf, only = Some(Seq("api00", "ell", "meals", "mobility")))
    val g = golden(refPath("r_test_output/analyze/api_apistrat_result.csv"))
    // R golden comes from the joint model: each rv adjusted for the others
    Seq("ell", "meals", "mobility").foreach { rv =>
      val covars = Seq("ell", "meals", "mobility").filterNot(_ == rv)
      val res = AssociationStudy.run(spark, data, outcomes = Seq("api00"),
        covariates = covars, regressionVariables = Seq(rv), minN = 1,
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("api_apiclus1: cluster-only design with fpc") {
    val cf = loadCsv("apiclus1_data.csv", Seq("api00", "ell", "meals", "mobility"))
    val design = new SurveyDesignSpec(cf.df, "id",
      cluster = Some("dnum"), singleWeight = Some("pw"), fpc = Some("fpc"))
    val data = Modify.colfilter(cf, only = Some(Seq("api00", "ell", "meals", "mobility")))
    val g = golden(refPath("r_test_output/analyze/api_apiclus1_result.csv"))
    Seq("ell", "meals", "mobility").foreach { rv =>
      val covars = Seq("ell", "meals", "mobility").filterNot(_ == rv)
      val res = AssociationStudy.run(spark, data, outcomes = Seq("api00"),
        covariates = covars, regressionVariables = Seq(rv), minN = 1,
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("nhanes_complete: full design, binary outcome, categorical LRT via regTermTest") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_result.csv"))
    Seq(
      ("race", Seq("agecat", "RIAGENDR")),
      ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).foreach { case (rv, covars) =>
      val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv),
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("nhanes_weightsonly: weights-only design") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id", singleWeight = Some("WTMEC2YR"))
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_weightsonly_result.csv"))
    Seq(
      ("race", Seq("agecat", "RIAGENDR")),
      ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).foreach { case (rv, covars) =>
      val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv),
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("weighted + standardized: co-group equals broadcast (fpc design)") {
    // the r2 gap: a weighted+standardized study on unbroadcastable data had
    // NO path (the co-group runner rejected standardize_data); the global-
    // moments aggregation closes it — exact cross-path parity here
    val raw = Load.rawDelimited(spark, refPath("test_data_files/fpc_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeContinuous(cf, only = Some(Seq("x", "y")))
    def mkDesign() = new SurveyDesignSpec(cf.df, "id", strata = Some("stratid"),
      cluster = Some("psuid"), nest = true, singleWeight = Some("weight"))
    val data = Modify.colfilter(cf, only = Some(Seq("x", "y")))
    def runPath(bc: Boolean) = {
      def study() = AssociationStudy.run(spark, data, outcomes = Seq("y"),
        regressionVariables = Seq("x"), minN = 5, standardizeData = true,
        surveyDesign = Some(mkDesign()))
      (if (bc) study() else distributed(study())).collect().head
    }
    val b = runPath(true)
    val c = runPath(false)
    assert(c.getLong(c.fieldIndex("N")) === b.getLong(b.fieldIndex("N")))
    Seq("Beta", "SE", "pvalue").foreach { cn =>
      assertRtol(c.getDouble(c.fieldIndex(cn)), b.getDouble(b.fieldIndex(cn)),
        1e-10, s"standardized weighted $cn")
    }
    // and standardization actually changed the fit vs unstandardized
    val plain = distributed(AssociationStudy.run(spark, data, outcomes = Seq("y"),
      regressionVariables = Seq("x"), minN = 5,
      surveyDesign = Some(mkDesign()))).collect().head
    assert(math.abs(plain.getDouble(plain.fieldIndex("Beta")) -
      c.getDouble(c.fieldIndex("Beta"))) > 1e-9)
  }

  test("nhanes_weightsonly through co-group: golden parity, no row-scale collect") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id", singleWeight = Some("WTMEC2YR"))
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_weightsonly_result.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("RIAGENDR", Seq("race", "agecat")))
      .foreach { case (rv, covars) =>
        val res = distributed(AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
          covariates = covars, regressionVariables = Seq(rv),
          surveyDesign = Some(design)))
        checkRow(res, rv, g(rv))
      }
    // the no-cluster design must reach the kernel through the O(#strata)
    // stratum totals, never a per-pseudo-PSU map
    assert(design.totals.stratForClust.isEmpty && design.totals.fpcPerClust.isEmpty,
      "no-cluster designs must not build per-pseudo-cluster maps")
    assert(design.totals.stratumTotals.values.map(_._1).sum === 8591L) // rows = PSUs
  }

  Seq("certainty", "adjust", "average").foreach { mode =>
    test(s"nhanes_lonely $mode: lonely-PSU handling") {
      val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_lonely_data.csv"))
      var cf = Load.withSequentialId(raw)
      cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
      cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
      val design = new SurveyDesignSpec(cf.df, "id",
        strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
        singleWeight = Some("WTMEC2YR"), singleCluster = mode)
      val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
      val g = golden(refPath(s"r_test_output/analyze/nhanes_${mode}_result.csv"))
      Seq(
        ("race", Seq("agecat", "RIAGENDR")),
        ("agecat", Seq("race", "RIAGENDR")),
        ("RIAGENDR", Seq("race", "agecat"))).foreach { case (rv, covars) =>
        val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
          covariates = covars, regressionVariables = Seq(rv),
          surveyDesign = Some(design))
        checkRow(res, rv, g(rv))
      }
    }
  }

  test("nhanes_realistic: multi-weight dict, NA-heavy, gaussian outcome") {
    val cf0 = Load.fromTsv(spark, refPath("test_data_files/nhanes_real.txt"), Some("ID"))
    val surveyCols = Seq("SDMVPSU", "SDMVSTRA", "WTMEC4YR", "WTSHM4YR", "WTSVOC4Y")
    val surveyDf = cf0.df.select(("id" +: surveyCols).map(cf0.df.col): _*)
    var cf = Modify.colfilter(cf0, skip = Some(surveyCols))
    cf = Modify.makeBinary(cf, only = Some(Seq("RHQ570", "first_degree_support",
      "SDDSRVYR", "female", "black", "mexican", "other_hispanic", "other_eth")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("SES_LEVEL")))
    val design = new SurveyDesignSpec(surveyDf, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      multiWeight = Map(
        "RHQ570" -> "WTMEC4YR", "first_degree_support" -> "WTMEC4YR",
        "URXUPT" -> "WTSHM4YR", "LBXV3A" -> "WTSVOC4Y", "LBXBEC" -> "WTMEC4YR"))
    val g = golden(refPath("r_test_output/analyze/nhanes_real_result.csv"))
    val res = AssociationStudy.run(spark, cf, outcomes = Seq("BMXBMI"),
      covariates = Seq("SES_LEVEL", "SDDSRVYR", "female", "black", "mexican",
        "other_hispanic", "other_eth", "RIDAGEYR"),
      regressionVariables = Seq("RHQ570", "first_degree_support", "URXUPT",
        "LBXV3A", "LBXBEC"),
      surveyDesign = Some(design))
    g.keys.foreach(v => checkRow(res, v, g(v)))
  }

  test("nhanes subset_cat: categorical subpopulation, design totals stay full") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
      .subset(cf.df, org.apache.spark.sql.functions.col("agecat") =!= "(19,39]")
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_result_subset_cat.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("RIAGENDR", Seq("race", "agecat")))
      .foreach { case (rv, covars) =>
        val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
          covariates = covars, regressionVariables = Seq(rv),
          surveyDesign = Some(design))
        checkRow(res, rv, g(rv), rtol = 1e-3)
      }
  }

  test("subset through the co-group path: golden parity, subset stays a DataFrame") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
      .subset(cf.df, org.apache.spark.sql.functions.col("agecat") =!= "(19,39]")
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_result_subset_cat.csv"))
    val res = distributed(AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
      covariates = Seq("agecat", "RIAGENDR"), regressionVariables = Seq("race"),
      surveyDesign = Some(design)))
    checkRow(res, "race", g("race"), rtol = 1e-3)
  }

  test("nhanes subset_cont: continuous-mask subpopulation") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data_subset.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
      .subset(cf.df, org.apache.spark.sql.functions.col("subset") > 0)
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_result_subset_cont.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).foreach { case (rv, covars) =>
      val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv),
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("nhanes subset with separate design table and subset-induced single clusters") {
    val cfData = Load.fromTsv(spark, refPath("test_data_files/nhanes_subset/data.txt"), Some("ID"))
    val cfSurvey = Load.fromTsv(spark,
      refPath("test_data_files/nhanes_subset/design_data.txt"), Some("ID"))
    // survey_df.loc[df.index]: restrict the design to the data's rows
    val surveyDf = cfSurvey.df.join(cfData.df.select("id"), Seq("id"), "left_semi")
    var cf = cfData
    cf = Modify.makeBinary(cf, only = Some(Seq("LBXHBC", "black", "female")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("SES_LEVEL", "SDDSRVYR")))
    val design = new SurveyDesignSpec(surveyDf, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC4YR"))
      .subset(cf.df, org.apache.spark.sql.functions.col("black") === "1")
    val data = Modify.colfilter(cf, skip = Some(Seq("black")))
    val g = golden(refPath("r_test_output/analyze/nhanes_subset_result.csv"))
    val res = AssociationStudy.run(spark, data, outcomes = Seq("LBXLYPCT"),
      covariates = Seq("female", "SES_LEVEL", "RIDAGEYR", "SDDSRVYR", "BMXBMI"),
      regressionVariables = Seq("LBXVCF", "SMD160", "LBXHBC", "LBDEONO"),
      minN = 50, surveyDesign = Some(design))
    g.keys.foreach(v => checkRow(res, v, g(v)))
  }

  test("nhanes_complete_withna: full design with NA-heavy categorical") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_NAs_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_withna_result.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("agecat", Seq("race", "RIAGENDR")),
      ("RIAGENDR", Seq("race", "agecat"))).foreach { case (rv, covars) =>
      val res = AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
        covariates = covars, regressionVariables = Seq(rv),
        surveyDesign = Some(design))
      checkRow(res, rv, g(rv))
    }
  }

  test("survey co-group path: golden parity without base collection") {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    val design = new SurveyDesignSpec(cf.df, "id",
      strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
      singleWeight = Some("WTMEC2YR"))
    val data = Modify.colfilter(cf, only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val g = golden(refPath("r_test_output/analyze/nhanes_complete_result.csv"))
    Seq(("race", Seq("agecat", "RIAGENDR")), ("RIAGENDR", Seq("race", "agecat")))
      .foreach { case (rv, covars) =>
        val res = distributed(AssociationStudy.run(spark, data, outcomes = Seq("HI_CHOL"),
          covariates = covars, regressionVariables = Seq(rv),
          surveyDesign = Some(design)))
        checkRow(res, rv, g(rv))
      }
  }
}