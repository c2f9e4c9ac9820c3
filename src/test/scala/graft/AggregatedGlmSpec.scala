package graft

import org.apache.spark.sql.functions._
import graft.analyze.AssociationStudy
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify

/** Equivalence of the two physical execution paths: the distributed
  * sufficient-statistics GLM must produce the same numbers as the
  * broadcast+melt collect path (same normal equations, same LRT). */
class AggregatedGlmSpec extends SparkSpec {

  private lazy val li = {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("id", monotonically_increasing_id())
      .select("id", "l_extendedprice", "l_quantity", "l_returnflag", "l_linestatus")
    var cf = CladeFrame(df)
    cf = Modify.makeCategorical(cf, only = Some(Seq("l_returnflag")))
    cf = Modify.makeBinary(cf, only = Some(Seq("l_linestatus")))
    cf
  }

  /** Strip level metadata so supports() fails and the collect path runs. */
  private def collectPathFrame(cf: CladeFrame): CladeFrame =
    cf.copy(levels = Map.empty)

  test("categorical rv LRT: aggregated path == collect path") {
    val viaAgg = AssociationStudy.run(spark, li, outcomes = Seq("l_extendedprice"),
      covariates = Seq("l_quantity"), regressionVariables = Seq("l_returnflag"),
      minN = 1).collect().head
    val viaCollect = AssociationStudy.run(spark, collectPathFrame(li),
      outcomes = Seq("l_extendedprice"), covariates = Seq("l_quantity"),
      regressionVariables = Seq("l_returnflag"), minN = 1).collect().head
    assert(viaAgg.getLong(viaAgg.fieldIndex("N")) ===
      viaCollect.getLong(viaCollect.fieldIndex("N")))
    Seq("LRT_pvalue", "Diff_AIC", "pvalue").foreach { c =>
      assertRtol(viaAgg.getDouble(viaAgg.fieldIndex(c)),
        viaCollect.getDouble(viaCollect.fieldIndex(c)), 1e-9, c)
    }
  }

  test("binary rv: aggregated path == collect path") {
    layouts(li.df).foreach { case (layout, df) =>
      val cf = li.copy(df = df)
      val viaAgg = AssociationStudy.run(spark, cf, outcomes = Seq("l_extendedprice"),
        covariates = Seq("l_quantity"), regressionVariables = Seq("l_linestatus"),
        minN = 1).collect().head
      val viaCollect = AssociationStudy.run(spark, collectPathFrame(cf),
        outcomes = Seq("l_extendedprice"), covariates = Seq("l_quantity"),
        regressionVariables = Seq("l_linestatus"), minN = 1).collect().head
      Seq("Beta", "SE", "pvalue").foreach { c =>
        assertRtol(viaAgg.getDouble(viaAgg.fieldIndex(c)),
          viaCollect.getDouble(viaCollect.fieldIndex(c)), 1e-9, s"$c ($layout)")
      }
    }
  }

  test("BatchSize boundary: 70 variables span two aggregation batches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(11)
    val k = 70 // > BatchSize=64 -> exercises the batch split
    val rows = (0 until 400).map { i =>
      Row.fromSeq(i.toLong +: (i * 0.5 + rng.nextGaussian()) +:
        (0 until k).map(j => i * (j % 5) * 0.01 + rng.nextGaussian()))
    }
    val schema = StructType(
      StructField("id", LongType) +: StructField("y", DoubleType) +:
        (0 until k).map(j => StructField(s"v$j", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val cf = graft.model.CladeFrame(df)
    val res = AssociationStudy.run(spark, cf, outcomes = Seq("y"),
      regressionVariables = (0 until k).map(j => s"v$j"), minN = 1)
    assert(res.count() === k.toLong)
    // variables with a real slope (j % 5 != 0) are significant; pure-noise
    // ones are not tiny-p across the board
    val ps = res.collect().map(r =>
      r.getString(0) -> r.getDouble(r.fieldIndex("pvalue"))).toMap
    assert(ps("v1") < 1e-10 && ps("v69") < 1e-10)
    assert(ps("v0") > 1e-10 && ps("v65") > 1e-10)
  }

  test("binary outcome + categorical rv: distributed LRT == local LRT") {
    val cf = li.copy(df = li.df.withColumn("high",
      (col("l_extendedprice") > 30000).cast("string")))
      .withTypes(Map("high" -> VariableType.Binary))
      .withLevels(Map("high" -> Seq("false", "true")))
    val viaAgg = AssociationStudy.run(spark, cf, outcomes = Seq("high"),
      covariates = Seq("l_quantity"), regressionVariables = Seq("l_returnflag"),
      minN = 1).collect().head
    val viaCollect = AssociationStudy.run(spark,
      cf.copy(levels = cf.levels.view.filterKeys(_ == "high").toMap),
      outcomes = Seq("high"), covariates = Seq("l_quantity"),
      regressionVariables = Seq("l_returnflag"), minN = 1).collect().head
    Seq("LRT_pvalue", "Diff_AIC", "pvalue").foreach { c =>
      assertRtol(viaAgg.getDouble(viaAgg.fieldIndex(c)),
        viaCollect.getDouble(viaCollect.fieldIndex(c)), 1e-6, c)
    }
  }

  test("binary outcome + binary rv: distributed IRLS == local IRLS") {
    layouts(li.df).foreach { case (layout, df) =>
      val cf = li.copy(df = df.withColumn("high",
        (col("l_extendedprice") > 30000).cast("string")))
        .withTypes(Map("high" -> VariableType.Binary))
        .withLevels(Map("high" -> Seq("false", "true")))
      val viaAgg = AssociationStudy.run(spark, cf, outcomes = Seq("high"),
        covariates = Seq("l_quantity"), regressionVariables = Seq("l_linestatus"),
        minN = 1).collect().head
      val viaCollect = AssociationStudy.run(spark,
        cf.copy(levels = cf.levels.view.filterKeys(_ == "high").toMap),
        outcomes = Seq("high"), covariates = Seq("l_quantity"),
        regressionVariables = Seq("l_linestatus"), minN = 1).collect().head
      Seq("Beta", "SE", "pvalue").foreach { c =>
        assertRtol(viaAgg.getDouble(viaAgg.fieldIndex(c)),
          viaCollect.getDouble(viaCollect.fieldIndex(c)), 1e-6, s"$c ($layout)")
      }
    }
  }
}
