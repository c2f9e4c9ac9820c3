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

  /** (N, Beta, SE, pvalue) of each (variable, outcome) row of the first
    * test, as the broadcast path computed them before both row paths were
    * rebuilt on one row assembly; categorical rows have no Beta or SE. */
  private val pinned: Map[(String, String), (Long, Option[Double], Option[Double], Double)] =
    Map(
      ("x1", "yG") -> ((480L, Some(0.6048079668329853), Some(0.06554269111029491),
        4.534034227486595e-7)),
      ("x1", "yB") -> ((480L, Some(0.677603920171159), Some(0.11442456448786996),
        5.0517572449094154e-5)),
      ("k", "yG") -> ((480L, None, None, 0.002443168088876099)),
      ("k", "yB") -> ((480L, None, None, 0.04143759631749437)),
      ("x2", "yG") -> ((427L, Some(-0.038347844093688174), Some(0.04979691647122097),
        0.4550166427175063)),
      ("x2", "yB") -> ((427L, Some(-0.046411887646013096), Some(0.1420836134467031),
        0.7491305996991375)))

  private def close(x: Double, want: Double, what: String): Unit =
    assert(math.abs(x - want) <= 1e-9 * math.abs(want), s"$what: $x vs $want")

  private def assertPinned(rows: Seq[Row]): Unit = {
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet === pinned.keySet)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val (n, beta, se, p) = pinned(key)
      def opt(c: String) =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
      assert(r.getLong(r.fieldIndex("N")) === n, key)
      Seq("Beta" -> beta, "SE" -> se).foreach { case (c, want) =>
        assert(opt(c).isDefined === want.isDefined, s"$key $c")
        want.foreach(close(opt(c).get, _, s"$key $c"))
      }
      close(r.getDouble(r.fieldIndex("pvalue")), p, s"$key pvalue")
    }
  }

  test("association study, gaussian and logistic over a subset survey design: both row paths agree") {
    def study(d: SurveyDesignSpec): DataFrame = AssociationStudy.run(spark,
      frame.copy(df = frame.df.drop("strat", "psu", "w", "age")), Seq("yG", "yB"),
      covariates = Seq("c"), regressionVariables = Seq("x1", "x2", "k"), minN = 10,
      surveyDesign = Some(d))
    val (auto, autoDecisions) = gateDecisions(study(design()).collect().toSeq)
    assert(autoDecisions.size === 2, s"one decision per outcome: $autoDecisions")
    onlyDecision(autoDecisions, "associationStudy", "driver-local")
    val (forced, forcedDecisions) = gateDecisions(distributed(study(design()).collect().toSeq))
    assert(forcedDecisions.size === 2, forcedDecisions)
    onlyDecision(forcedDecisions, "associationStudy", "distributed")
    assert(auto.size === 6 && auto.forall(r => r.isNullAt(r.fieldIndex("error"))), auto)
    assertPinned(auto)
    assertPinned(forced)
    assertSameRows(auto, forced, keyCols = 2)
  }

  /** The gaussian study of every exposure over the subset design built on
    * `table`, weighted by `w` unless `multiWeight` maps weights per
    * exposure; `data` is the observation frame, or a variant of it. */
  private def weightedStudy(data: DataFrame, table: DataFrame,
                            dropUnweighted: Boolean = false,
                            multiWeight: Map[String, String] = Map.empty): Seq[Row] =
    AssociationStudy.run(spark, frame.copy(df = data.drop("strat", "psu", "w", "age")),
      Seq("yG"), covariates = Seq("c"), regressionVariables = Seq("x1", "x2", "k"),
      minN = 10, surveyDesign = Some(new SurveyDesignSpec(table, "id",
        strata = Some("strat"), cluster = Some("psu"), nest = true,
        singleWeight = if (multiWeight.isEmpty) Some("w") else None,
        multiWeight = multiWeight, dropUnweighted = dropUnweighted)
        .subset(frame.df, col("age") >= 30))).collect().toSeq

  test("an exposure without a mapped weight is an error row on both paths") {
    val weights = Map("x1" -> "w", "k" -> "w")
    val auto = weightedStudy(frame.df, frame.df, multiWeight = weights)
    val x2 = auto.filter(_.getString(0) == "x2")
    assert(x2.size === 1 && x2.head.getAs[String]("error") ===
      "No weight found in the survey design for the 'x2' variable", auto)
    assert(auto.filter(_.getString(0) != "x2").forall(r => r.isNullAt(r.fieldIndex("error"))),
      auto)
    assertSameRows(auto, distributed(weightedStudy(frame.df, frame.df, multiWeight = weights)),
      keyCols = 2)
  }

  test("a subset observation without its outcome and its weight: the error row on both paths") {
    // observation 20 is in the subset (age 38) and has every exposure, but
    // neither its outcome nor its weight: the missing-weight rule runs
    // before complete-casing, so each exposure is an error row ...
    val holed = frame.df
      .withColumn("yG", when(col("id") === 20L, lit(null)).otherwise(col("yG")))
      .withColumn("w", when(col("id") === 20L, lit(null)).otherwise(col("w")))
    Seq(weightedStudy(holed, holed), distributed(weightedStudy(holed, holed))).foreach { rows =>
      assert(rows.size === 3 && rows.forall(r =>
        r.getAs[String]("error").startsWith("1 observations are missing weights (w)")), rows)
    }
    // ... unless drop_unweighted, which fits the complete rows the same both ways
    val auto = weightedStudy(holed, holed, dropUnweighted = true)
    assert(auto.size === 3 && auto.forall(r => r.isNullAt(r.fieldIndex("error"))), auto)
    assertSameRows(auto, distributed(weightedStudy(holed, holed, dropUnweighted = true)),
      keyCols = 2)
  }

  test("an observation missing from the design table fails the same way on both paths") {
    val table = frame.df.filter(col("id") =!= 20L)
    val msg = "The survey design is missing information for 1 rows in the data"
    val local = intercept[IllegalArgumentException](weightedStudy(frame.df, table))
    assert(local.getMessage.endsWith(msg), local.getMessage)
    val forced = intercept[IllegalArgumentException](distributed(weightedStudy(frame.df, table)))
    assert(forced.getMessage.endsWith(msg), forced.getMessage)
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
