package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.analyze.{AssociationStudy, InteractionStudy}
import graft.model.{CladeFrame, VariableType}
import graft.survey.SurveyDesignSpec

/** The studies' two row paths on synthetic data: the broadcast path the
  * gate picks at this size (auto) and the co-group path it is forced onto
  * under `graft.local.mode=distributed` return the same rows, and the
  * logged decision shows which path ran. */
class StudyPathSpec extends SparkSpec {

  /** 600 observations in 4 strata of 5 PSUs, with a gaussian and a binary
    * outcome, a categorical covariate, two continuous exposures (one with
    * gaps) and a categorical one. */
  private lazy val frame: CladeFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 600).map { i =>
      val c = Seq("a", "b", "c")(i % 3)
      val x1 = rnd.nextGaussian()
      val x2 = if (i % 9 == 0) None else Some(rnd.nextGaussian())
      val k = Seq("k0", "k1", "k2")(rnd.nextInt(3))
      val eta = 0.6 * x1 + (if (c == "b") 0.7 else 0.0) + (if (k == "k2") 0.4 else 0.0)
      val yG = eta + rnd.nextGaussian()
      val yB = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) "1" else "0"
      (i.toLong, yG, yB, c, x1, x2, k, s"S${i % 4}", (i / 4) % 5, 1.0 + i % 7, 18 + i % 60)
    }.toDF("id", "yG", "yB", "c", "x1", "x2", "k", "strat", "psu", "w", "age")
    CladeFrame(df, "id").withTypes(Map(
      "yG" -> VariableType.Continuous, "yB" -> VariableType.Binary,
      "c" -> VariableType.Categorical, "x1" -> VariableType.Continuous,
      "x2" -> VariableType.Continuous, "k" -> VariableType.Categorical))
      .withLevels(Map("yB" -> Seq("0", "1")))
  }

  /** A stratified, clustered, weighted design restricted to a subset. */
  private def design(): SurveyDesignSpec =
    new SurveyDesignSpec(frame.df, "id", strata = Some("strat"), cluster = Some("psu"),
      nest = true, singleWeight = Some("w"))
      .subset(frame.df, col("age") >= 30)

  /** Rows keyed by their string cells; doubles compare at rtol 1e-9, as
    * the two paths feed each fit its rows in a different order. */
  private def assertSameRows(a: Seq[Row], b: Seq[Row], keyCols: Int): Unit = {
    def key(r: Row) = (0 until keyCols).map(r.get).mkString("|")
    val bm = b.map(r => key(r) -> r).toMap
    assert(a.map(key).toSet === bm.keySet)
    a.foreach { r =>
      r.toSeq.zip(bm(key(r)).toSeq).zipWithIndex.foreach {
        case ((x: Double, y: Double), i) =>
          assert(x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"${key(r)} field $i: $x vs $y")
        case ((x, y), i) => assert(x === y, s"${key(r)} field $i")
      }
    }
  }

  private def onlyDecision(decisions: Seq[String], op: String, path: String): Unit = {
    assert(decisions.nonEmpty && decisions.forall(d => d.startsWith(s"$op:") &&
      d.endsWith(s"-> $path path")), decisions)
  }

  test("association study, gaussian and logistic over a subset survey design: both row paths agree") {
    def study(d: SurveyDesignSpec): DataFrame = AssociationStudy.run(spark,
      frame.copy(df = frame.df.drop("strat", "psu", "w", "age")), Seq("yG", "yB"),
      covariates = Seq("c"), regressionVariables = Seq("x1", "x2", "k"), minN = 10,
      surveyDesign = Some(d))
    val (auto, autoDecisions) = gateDecisions(study(design()).collect().toSeq)
    assert(autoDecisions.size === 2, s"one decision per outcome: $autoDecisions")
    onlyDecision(autoDecisions, "associationStudy", "driver-local")
    val forcedDesign = design()
    val (forced, forcedDecisions) = gateDecisions(distributed(study(forcedDesign).collect().toSeq))
    assert(forcedDecisions.size === 2, forcedDecisions)
    onlyDecision(forcedDecisions, "associationStudy", "distributed")
    assert(!forcedDesign.wasCollectedForBroadcast,
      "the co-group path must not materialize the design on the driver")
    assert(auto.size === 6 && auto.forall(r => r.isNullAt(r.fieldIndex("error"))), auto)
    assertSameRows(auto, forced, keyCols = 2)
  }

  test("interaction study with a binary outcome: both row paths agree") {
    def study() = InteractionStudy.run(spark, frame, "yB",
      Seq(("x1", "k"), ("x2", "k"), ("x1", "x2")), covariates = Seq("c"), minN = 10)
      .collect().toSeq
    val (auto, autoDecisions) = gateDecisions(study())
    onlyDecision(autoDecisions, "interactionStudy", "driver-local")
    val (forced, forcedDecisions) = gateDecisions(distributed(study()))
    onlyDecision(forcedDecisions, "interactionStudy", "distributed")
    assert(auto.size === 3 && auto.forall(r => !r.isNullAt(r.fieldIndex("LRT_pvalue"))), auto)
    assertSameRows(auto, forced, keyCols = 3)
  }
}
