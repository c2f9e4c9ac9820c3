package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.analyze.{AssociationStudy, InteractionStudy}
import graft.model.{CladeFrame, VariableType}

/** The sufficient-statistics paths on their own numbers: the gaussian and
  * logistic batches of the association study and the interaction study's
  * aggregated path, pinned at rtol 1e-9 to the values they returned before
  * their accumulators were folded into one, and their cast-fail error rows.
  * Every case runs on [[SparkSpec.layouts]]; the pins come from the frame
  * as built. */
class AggregatedPathSpec extends SparkSpec {

  /** 400 observations: a gaussian and a binary outcome, a continuous
    * covariate, two continuous exposures (one with gaps), a declared binary
    * and a declared categorical one, and `rare`, present in 40 rows only,
    * so it falls below the studies' minN of 100. */
  private lazy val frame: CladeFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 400).map { i =>
      val age = 20.0 + rnd.nextInt(50)
      val x1 = rnd.nextGaussian()
      val x2 = if (i % 7 == 0) None else Some(rnd.nextGaussian() * 2.0)
      val x3 = rnd.nextGaussian()
      val b = if (rnd.nextDouble() < 0.4) "yes" else "no"
      val k = Seq("k0", "k1", "k2")(rnd.nextInt(3))
      val rare = if (i % 10 == 0) Some(rnd.nextGaussian()) else None
      val eta = 0.5 * x1 + 0.02 * (age - 45) + (if (b == "yes") 0.6 else 0.0) +
        (if (k == "k2") -0.5 else 0.0) + 0.3 * x1 * x3
      val yG = eta + rnd.nextGaussian()
      val yB = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) "1" else "0"
      (i.toLong, yG, yB, age, x1, x2, x3, b, k, rare)
    }.toDF("id", "yG", "yB", "age", "x1", "x2", "x3", "b", "k", "rare")
    CladeFrame(df, "id").withTypes(Map(
      "yB" -> VariableType.Binary, "b" -> VariableType.Binary,
      "k" -> VariableType.Categorical))
      .withLevels(Map("yB" -> Seq("0", "1"), "b" -> Seq("no", "yes"),
        "k" -> Seq("k0", "k1", "k2")))
  }

  private def onLayouts(cf: CladeFrame)(body: (String, CladeFrame) => Unit): Unit =
    layouts(cf.df).foreach { case (layout, df) => body(layout, cf.copy(df = df)) }

  private def study(cf: CladeFrame, outcome: String): DataFrame =
    AssociationStudy.run(spark, cf, outcomes = Seq(outcome), covariates = Seq("age"),
      regressionVariables = Seq("x1", "x2", "b", "k", "rare"), minN = 100)

  private val plainPairs = Seq(("x1", "x2"), ("x1", "k"), ("b", "k"), ("x1", "b"),
    ("x2", "rare"))
  private val betaPairs = Seq(("x1", "x3"), ("x1", "x2"), ("x3", "rare"))

  private def interactions(cf: CladeFrame, reportBetas: Boolean): DataFrame = {
    val (res, decisions) = gateDecisions(InteractionStudy.run(spark, cf, "yG",
      interactions = if (reportBetas) betaPairs else plainPairs,
      covariates = Seq("age"), minN = 100, reportBetas = reportBetas))
    assert(decisions.isEmpty, "the aggregated path logs no gate decision")
    res
  }

  /** Rows keyed by their first `keyCols` cells (joined by '|'); doubles
    * compare at rtol 1e-9, everything else exactly. */
  private def assertPinned(rows: Seq[Row], keyCols: Int, pins: Map[String, Seq[Any]],
                           clue: String): Unit = {
    def key(r: Row) = (0 until keyCols).map(r.get).mkString("|")
    assert(rows.map(key).toSet === pins.keySet, clue)
    rows.foreach { r =>
      val k = key(r)
      assert(r.length === pins(k).length, s"$k ($clue)")
      r.toSeq.zip(pins(k)).zipWithIndex.foreach {
        case ((x: Double, y: Double), i) =>
          assert(x == y || math.abs(x - y) <= 1e-9 * math.abs(y),
            s"$k field $i ($clue): $x vs $y")
        case ((x, y), i) => assert(x == y, s"$k field $i ($clue): $x vs $y")
      }
    }
  }

  test("gaussian batch: continuous, binary, categorical and below-minN rows are pinned") {
    onLayouts(frame) { (layout, cf) =>
      assertPinned(study(cf, "yG").collect().toSeq, 2, gaussianPins, layout)
    }
  }

  test("logistic batch: continuous, binary, categorical and below-minN rows are pinned") {
    onLayouts(frame) { (layout, cf) =>
      assertPinned(study(cf, "yB").collect().toSeq, 2, logisticPins, layout)
    }
  }

  test("aggregated interaction study: plain rows are pinned") {
    onLayouts(frame) { (layout, cf) =>
      assertPinned(interactions(cf, reportBetas = false).collect().toSeq, 2,
        interactionPins, layout)
    }
  }

  test("aggregated interaction study: report_betas rows are pinned") {
    onLayouts(frame) { (layout, cf) =>
      assertPinned(interactions(cf, reportBetas = true).collect().toSeq, 4,
        interactionBetaPins, layout)
    }
  }

  /** `frame` plus `bad` and `badC`: string columns declared continuous,
    * each with 4 values ("n/a") that do not cast to a number. */
  private lazy val castFrame: CladeFrame = {
    import org.apache.spark.sql.functions._
    val bad = when(col("id") % 100 === 5, lit("n/a")).otherwise(col("x3").cast("string"))
    frame.copy(df = frame.df.withColumn("bad", bad).withColumn("badC", bad))
      .withTypes(Map("bad" -> VariableType.Continuous, "badC" -> VariableType.Continuous))
  }

  private def errorOf(rows: Seq[Row], key: Row => Boolean): String = {
    val hit = rows.filter(key)
    assert(hit.size === 1)
    hit.head.getAs[String]("error")
  }

  private val badMessage = "NumberFormatException: 4 value(s) of 'bad' could not be cast to numeric"

  test("cast-fail rows: gaussian and binomial batches") {
    onLayouts(castFrame) { (layout, cf) =>
      Seq("yG", "yB").foreach { outcome =>
        val rows = AssociationStudy.run(spark, cf, outcomes = Seq(outcome),
          covariates = Seq("age"), regressionVariables = Seq("x1", "bad"),
          minN = 100).collect().toSeq
        assert(errorOf(rows, _.getString(0) == "bad") === badMessage, s"$outcome ($layout)")
        assert(errorOf(rows, _.getString(0) == "x1") === null, s"$outcome ($layout)")
      }
    }
  }

  test("cast-fail rows: aggregated interaction study, variable and covariate") {
    onLayouts(castFrame) { (layout, cf) =>
      def run(covariates: Seq[String]) = gateDecisions(InteractionStudy.run(spark, cf,
        "yG", interactions = Seq(("bad", "x1"), ("x1", "x2")), covariates = covariates,
        minN = 100)) match {
        case (res, decisions) =>
          assert(decisions.isEmpty, layout)
          res.collect().toSeq
      }
      val byVar = run(Seq("age"))
      assert(errorOf(byVar, _.getString(0) == "bad") === badMessage, layout)
      assert(errorOf(byVar, _.getString(0) == "x1") === null, layout)
      run(Seq("age", "badC")).foreach { r =>
        assert(r.getAs[String]("error") === "NumberFormatException: 4 value(s) of " +
          "covariate 'badC' could not be cast to numeric", layout)
      }
    }
  }

  // The pins: each row's cells in column order, as the paths returned them
  // before their accumulators were shared.
  private val gaussianPins: Map[String, Seq[Any]] = Map(
    "b|yG" -> Seq("b", "yG", "binary", null, true, 400L, 0.23163225132691237, 0.12366455164594334, 0.061793450887172655, null, null, 0.061793450887172655, null, null, null),
    "k|yG" -> Seq("k", "yG", "categorical", null, true, 400L, null, null, null, 9.163453958052925E-4, -9.990234389413217, 9.163453958052925E-4, null, null, null),
    "rare|yG" -> Seq("rare", "yG", "continuous", null, false, 40L, null, null, null, null, null, null, null, "too few complete observations (min_n filter: 40 < 100)", null),
    "x1|yG" -> Seq("x1", "yG", "continuous", null, true, 400L, 0.5125288446935122, 0.05489185420995232, 7.172270307246006E-19, null, null, 7.172270307246006E-19, null, null, null),
    "x2|yG" -> Seq("x2", "yG", "continuous", null, true, 343L, -0.02675624519873078, 0.0338476639687944, 0.42979258056653, null, null, 0.42979258056653, null, null, null))
  private val logisticPins: Map[String, Seq[Any]] = Map(
    "b|yB" -> Seq("b", "yB", "binary", null, true, 400L, 0.26360088934163334, 0.20724509103318947, 0.20339860764803763, null, null, 0.20339860764803763, null, null, null),
    "k|yB" -> Seq("k", "yB", "categorical", null, true, 400L, null, null, null, 0.007978824833056685, -5.661928284785631, 0.007978824833056685, null, null, null),
    "rare|yB" -> Seq("rare", "yB", "continuous", null, false, 40L, null, null, null, null, null, null, null, "too few complete observations (min_n filter: 40 < 100)", null),
    "x1|yB" -> Seq("x1", "yB", "continuous", null, true, 400L, 0.41331454204685436, 0.10697539205288879, 1.1170922904981683E-4, null, null, 1.1170922904981683E-4, null, null, null),
    "x2|yB" -> Seq("x2", "yB", "continuous", null, true, 343L, 0.03588496478656539, 0.056489508940757306, 0.5252653290624887, null, null, 0.5252653290624887, null, null, null))
  private val interactionPins: Map[String, Seq[Any]] = Map(
    "b|k" -> Seq("b", "k", "yG", true, 400L, null, null, null, 0.361976424578915, null),
    "x1|b" -> Seq("x1", "b", "yG", true, 400L, -0.08533850226732097, 0.11008871114078739, 0.43869746232816675, 0.43985195155915946, null),
    "x1|k" -> Seq("x1", "k", "yG", true, 400L, null, null, null, 0.7147309386917959, null),
    "x1|x2" -> Seq("x1", "x2", "yG", true, 343L, -0.0028366558667630845, 0.03154022744552179, 0.9283899837087276, 1.0, null),
    "x2|rare" -> Seq("x2", "rare", "yG", false, 35L, null, null, null, null, "too few complete observations (min_n filter: 35 < 100)"))
  private val interactionBetaPins: Map[String, Seq[Any]] = Map(
    "x1|x2|yG|x1:x2" -> Seq("x1", "x2", "yG", "x1:x2", true, 343L, 1.0, 0.5175227745634722, 0.05875375575701843, 6.681166315545441E-17, -0.011252772750556478, 0.0306290602844451, 0.7135582950466571, -0.0028366558667630827, 0.03154022744552178, 0.9283899837087276, 0.5177922136284056, 0.0589161187895074, 7.785957681867831E-17, -0.011082574830276979, 0.03073228833677586, 0.7186113032615932, null),
    "x1|x3|yG|x1:x3" -> Seq("x1", "x3", "yG", "x1:x3", true, 400L, 2.91482922479576E-10, 0.5086672361291585, 0.05504299280827344, 1.5158801501289903E-18, 0.05500287489974117, 0.057096569532735716, 0.33596949955389943, 0.3267129493326576, 0.050862173819581316, 3.832801275513867E-10, 0.5196994820717079, 0.052469759600647974, 8.361288239530467E-21, 0.025569084196655833, 0.05459081612866273, 0.6397733461456347, null),
    "x3|rare|yG|x3:rare" -> Seq("x3", "rare", "yG", "x3:rare", false, 40L, null, null, null, null, null, null, null, null, null, null, null, null, null, null, null, null, "too few complete observations (min_n filter: 40 < 100)"))
}
