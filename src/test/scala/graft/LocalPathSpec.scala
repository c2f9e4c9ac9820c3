package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.analyze.{AssociationStudy, Corrections, InteractionStudy}
import graft.describe.Describe
import graft.model.{CladeFrame, VariableType}
import graft.pipeline.{Dedup, Graph, Text}

/** Routing guard for the dual-path operators: `graft.local.mode=distributed`
  * must really move each gated op off its driver-local path. Each op's
  * equivalence test compares the two modes, so an op that ignored the mode
  * would compare its local path with itself and still pass. */
class LocalPathSpec extends SparkSpec {

  /** Jobs started by `body`, counted by job group so that events of
    * earlier jobs still on the listener bus are not counted. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"local-path-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "routing guard")
      try body finally sc.clearJobGroup()
      Thread.sleep(500) // listener bus is async
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("every gated op starts more jobs in distributed mode than in auto") {
    import spark.implicits._
    val sample = (1 to 60).map { i =>
      (if (i % 3 == 0) "A" else "B", (i % 7).toDouble, i % 2 == 0, 1.0 + i % 4)
    }.toDF("g", "x", "pos", "w")
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 2.0), ("c", "d", 1.0))
      .toDF("src", "dst", "w")
    val pvalues = (1 to 20).map(i => (s"v$i", i / 21.0)).toDF("Variable", "pvalue")
    val docs = Seq("ab ab abc", "bca cab abab").toDF("text")
    // a categorical covariate / interaction var keeps both studies off
    // their aggregated paths, on the gated row paths
    val study = CladeFrame(sample.withColumn("id", monotonically_increasing_id()), "id")
      .withTypes(Map("g" -> VariableType.Categorical, "x" -> VariableType.Continuous,
        "pos" -> VariableType.Binary, "w" -> VariableType.Continuous))
    val ops: Seq[(String, () => Any)] = Seq(
      "giniByGroup" -> (() => Describe.giniByGroup(sample, "x", "g").collect()),
      "ksTwoSample" -> (() => Describe.ksTwoSample(sample, "x", col("pos")).collect()),
      "scoreEval" -> (() => Describe.scoreEval(sample, "x", col("pos")).collect()),
      "mannWhitney" -> (() => Describe.mannWhitney(sample, "x", col("pos")).collect()),
      "weightedQuantile" ->
        (() => Describe.weightedQuantile(sample, "x", "w", Seq("g")).collect()),
      "groupedQuantiles" ->
        (() => Describe.groupedQuantiles(sample, "x", "g", Seq(0.5)).collect()),
      "addCorrectedPvalues" -> (() => Corrections.addCorrectedPvalues(pvalues).collect()),
      "kCoreBounded" -> (() => Graph.kCoreBounded(edges, "src", "dst", k = 2).collect()),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst").collect()),
      "pageRank" -> (() => Graph.pageRank(edges, "src", "dst", "w").collect()),
      "components" -> (() => Dedup.components(edges, "src", "dst").collect()),
      "bpeTrain" -> (() => Text.bpeTrain(docs, "text", 3).collect()),
      "associationStudy" -> (() => AssociationStudy.run(spark, study, Seq("x"),
        covariates = Seq("g"), regressionVariables = Seq("w"), minN = 1).collect()),
      "interactionStudy" -> (() => InteractionStudy.run(spark, study, "pos",
        Seq(("g", "x")), minN = 1).collect()))
    ops.foreach { case (op, run) =>
      val auto = jobsOf(run())
      val dist = jobsOf(distributed(run()))
      assert(dist > auto, s"$op: $dist jobs under distributed, $auto under auto")
    }
  }

  test("the distributed scope restores the mode the caller had set") {
    val key = LocalPath.ModeKey
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "auto")
      val inner = LocalPath.distributed(spark) {
        LocalPath.distributed(spark)(spark.conf.get(key)) // nested scopes
      }
      assert(inner === "distributed")
      assert(spark.conf.getOption(key) === Some("auto"))
      intercept[IllegalStateException] {
        LocalPath.distributed(spark)(throw new IllegalStateException("body failed"))
      }
      assert(spark.conf.getOption(key) === Some("auto"), "restored after a failure")
      spark.conf.unset(key)
      LocalPath.distributed(spark)(())
      assert(spark.conf.getOption(key) === None, "an unset mode stays unset")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
