package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.{AssociationStudy, Corrections, RegressionKind}
import graft.model.{CladeFrame, VariableType}
import graft.survey.SurveyDesignSpec

/** The EWAS tail — association study, BH-FDR, significant hits — keeps its
  * O(#variables) tables on the driver: after the study's own fit, the
  * steps that follow start no Spark jobs, and the driver-side sort orders
  * rows exactly as Spark's `ORDER BY` does. The survey design's totals come
  * from one grouped aggregation. */
class EwasTailSpec extends SparkSpec {

  /** Jobs started by `body`, counted by job group so that events of
    * earlier jobs still on the listener bus are not counted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"ewas-tail-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count guard")
      val out = try body finally sc.clearJobGroup()
      Thread.sleep(500) // listener bus is async
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** A tiny study frame. Its categorical covariate k keeps the study off
    * the all-numeric AggregatedGlm path, so it runs the broadcast kernel. */
  private lazy val tiny: CladeFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (1 to 240).map { i =>
      val x = rnd.nextGaussian()
      val c = Seq("a", "b", "c")(i % 3)
      (i.toLong, 0.5 * x + (if (c == "b") 0.8 else 0.0) + rnd.nextGaussian(), x, c,
        rnd.nextGaussian(), Option.empty[Double], if (i % 2 == 0) "k0" else "k1")
    }.toDF("id", "y", "x", "c", "z", "empty", "k")
    CladeFrame(df).withTypes(Map("y" -> VariableType.Continuous,
      "x" -> VariableType.Continuous, "z" -> VariableType.Continuous,
      "c" -> VariableType.Categorical, "empty" -> VariableType.Continuous,
      "k" -> VariableType.Categorical))
      .withLevels(Map("c" -> Seq("a", "b", "c"), "k" -> Seq("k0", "k1")))
  }

  test("after a broadcast-path study, its collect, BH-FDR and hits start 0 jobs") {
    val (res, decisions) = gateDecisions(AssociationStudy.run(spark, tiny, Seq("y"),
      covariates = Seq("k"), regressionVariables = Seq("x", "c", "z", "empty"), minN = 10))
    assert(decisions.size === 1 && decisions.head.endsWith("-> driver-local path"), decisions)
    val (rows, collectJobs) = jobsOf(res.collect())
    assert(rows.length === 4)
    assert(collectJobs === 0, "collect of the study result")
    val (corrected, corrJobs) = jobsOf(Corrections.addCorrectedPvalues(res).collect())
    assert(corrected.length === 4)
    assert(corrJobs === 0, "addCorrectedPvalues(...).collect()")
    val (hits, sigJobs) = jobsOf(
      Corrections.getSignificant(Corrections.addCorrectedPvalues(res)).collect())
    assert(sigJobs === 0, "getSignificant(...).collect()")
    assert(hits.map(_.getString(0)).toSet === Set("x", "c"))
  }

  test("study rows follow Spark's ORDER BY pvalue NULLS LAST, Variable") {
    import spark.implicits._
    // null, NaN, -0.0 vs 0.0, tied p-values and non-ASCII names: UTF-8
    // byte order puts 'Z' < 'a' < 'z' < 'Ä' < 'ß' < 'é' < U+FF21 < U+1D4B3,
    // where Java's UTF-16 String order would put U+1D4B3 before U+FF21
    val crafted = Seq[(String, Option[Double])](
      "z" -> Some(0.01), "é" -> Some(0.01), "a" -> Some(0.01), "Ä" -> Some(0.01),
      "\uFF21" -> Some(0.01), "\uD835\uDCB3" -> Some(0.01),
      "n1" -> None, "Z" -> None, "nan" -> Some(Double.NaN), "NaN2" -> Some(Double.NaN),
      "neg0" -> Some(-0.0), "pos0" -> Some(0.0), "ß" -> Some(0.5), "one" -> Some(1.0),
      "tiny" -> Some(1e-300))
    object Crafted extends RegressionKind {
      def run(spark: SparkSession, cf: CladeFrame, outcome: String,
              covariates: Seq[String], rvs: Seq[String], minN: Long,
              surveyDesign: Option[SurveyDesignSpec]): DataFrame = {
        import spark.implicits._
        crafted.map { case (v, p) => (v, outcome, p) }
          .toDF("Variable", "Outcome", "pvalue").repartition(3)
      }
    }
    AssociationStudy.registerRegressionKind("crafted_order", Crafted)
    val res = AssociationStudy.run(spark, tiny, Seq("y"),
      regressionVariables = Seq("x"), regressionKind = Some("crafted_order")).collect()
    val want = crafted.toDF("Variable", "pvalue")
      .orderBy(col("pvalue").asc_nulls_last, col("Variable")).collect()
    assert(res.map(_.getString(0)).toSeq === want.map(_.getString(0)).toSeq)

    // the built-in kernel: two identical columns tie on pvalue, an all-null
    // column has a null pvalue
    val twin = tiny.copy(df = tiny.df.withColumn("ü", col("x")).withColumn("b", col("x")))
      .withTypes(Map("ü" -> VariableType.Continuous, "b" -> VariableType.Continuous))
    val (study, decisions) = gateDecisions(AssociationStudy.run(spark, twin, Seq("y"),
      covariates = Seq("k"), regressionVariables = Seq("ü", "c", "b", "empty", "z"),
      minN = 10))
    assert(decisions.size === 1 && decisions.head.endsWith("-> driver-local path"), decisions)
    val got = study.collect().map(_.getString(0)).toSeq
    assert(got === study.orderBy(col("pvalue").asc_nulls_last, col("Variable"))
      .collect().map(_.getString(0)).toSeq)
    assert(got.indexOf("b") + 1 === got.indexOf("ü") && got.last === "empty")
  }

  test("a clustered survey design costs no more jobs than one grouped aggregation") {
    import spark.implicits._
    val design = (1 to 400).map(i => (i.toLong, s"S${i % 4}", (i / 4) % 3, 1.0 + (i % 5)))
      .toDF("id", "strat", "psu", "w")
    val (_, refJobs) = jobsOf(design.groupBy("psu").agg(count(lit(1))).collect())
    val (spec, designJobs) = jobsOf(new SurveyDesignSpec(design, "id",
      strata = Some("strat"), cluster = Some("psu"), nest = true, singleWeight = Some("w")))
    assert(designJobs <= refJobs, s"design $designJobs jobs, one aggregation $refJobs")
    assert(spec.totals.clustPerStrat === (0 until 4).map(s => s"S$s" -> 3).toMap)
  }
}
