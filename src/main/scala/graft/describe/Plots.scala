package graft.describe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.stats.Distributions

/** Data preparation behind the reference's plotting surface
  * (SURVEY.md §2.11 — the engine's responsibility ends at producing the
  * aggregates each plot consumes; rendering is driver-side).
  *
  *  - histogram: equal-width binning as ONE groupBy over the bin index
  *    (reference: plot/histogram.py:9-65)
  *  - distributions: per-variable histograms for continuous vars via melt
  *    (reference: plot/distributions.py:19-175)
  *  - manhattan prep lives in analyze.Corrections (−log10 p + positions)
  *  - top_results prep is Corrections.topResults (ordered limit)
  */
object Plots {

  /** Equal-width histogram: (bin, lo, hi, count), bins indexed 0..n-1 over
    * [min, max]; the max value falls in the last bin (matplotlib behavior).
    * Two passes: one min/max aggregate, one groupBy on the computed bin. */
  def histogram(df: DataFrame, column: String, bins: Int = 100): DataFrame = {
    val r = df.agg(min(col(column)).cast("double"), max(col(column)).cast("double")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) {
      // all-NULL column / empty frame -> empty histogram, not an NPE
      import df.sparkSession.implicits._
      return Seq.empty[(Int, Double, Double, Long)].toDF("bin", "lo", "hi", "count")
    }
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    val bin = least(floor((col(column) - lit(lo)) / lit(width)), lit(bins - 1)).cast("int")
    df.filter(col(column).isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("count"))
      .withColumn("lo", lit(lo) + col("bin") * lit(width))
      .withColumn("hi", lit(lo) + (col("bin") + 1) * lit(width))
      .select("bin", "lo", "hi", "count")
      .orderBy("bin")
  }

  /** Per-variable histograms for a set of continuous columns: melt + one
    * grouped aggregation (the multi-page `distributions` PDF data). */
  def distributions(df: DataFrame, columns: Seq[String], bins: Int = 100): DataFrame = {
    import graft.modify.Modify
    val long = Modify.meltNumeric(df, columns).filter(col("value").isNotNull)
    val ranges = long.groupBy("variable")
      .agg(min("value").as("lo"), max("value").as("hi"))
    long.join(broadcast(ranges), "variable")
      .withColumn("width",
        when(col("hi") > col("lo"), (col("hi") - col("lo")) / bins).otherwise(1.0))
      .withColumn("bin",
        least(floor((col("value") - col("lo")) / col("width")), lit(bins - 1)).cast("int"))
      .groupBy("variable", "bin").agg(count(lit(1)).as("count"))
      .orderBy("variable", "bin")
  }

  /** QQ-plot data prep (reference: plot/distributions.py:138-142 — QQ plots
    * subsample to n=400 with a fixed seed "otherwise there are too many
    * points"). Per variable: seeded subsample of the non-NA values to at
    * most `n`, standardized (the reference's qqplot(fit=True)), paired with
    * standard-normal theoretical quantiles at plotting positions
    * i/(count+1).
    *
    * Scale shape: the rank<=n filter on a partitioned window is pushed to
    * per-partition partial top-k by Spark's WindowGroupLimit rule, so no
    * variable's full data ever funnels through one partition; everything
    * after the sample is O(#variables · n). */
  def qqPrep(spark: SparkSession, df: DataFrame, columns: Seq[String],
             n: Int = 400, seed: Long = 1L): DataFrame = {
    import graft.modify.Modify
    val long = Modify.meltNumeric(df, columns).filter(col("value").isNotNull)
    val wSample = Window.partitionBy("variable").orderBy(rand(seed), col("value"))
    val sampled = long.withColumn("__r", row_number().over(wSample))
      .filter(col("__r") <= n).drop("__r")
    val moments = sampled.groupBy("variable").agg(
      count(lit(1)).as("__n"), avg("value").as("__mu"), stddev_samp("value").as("__sd"))
    // moments are O(#variables); collect once and ship BOTH the mu/sd map
    // and the per-(variable, position) theoretical quantiles back as
    // broadcast literal tables — the inverse normal CDF runs driver-side
    // over <= #variables * n bounded positions, so no udf touches row-scale
    // data (and src/main stays udf-free on the reference surface)
    import spark.implicits._
    val momRows = moments.collect()
    // sd is NULL for single-value variables — keep it nullable so the
    // standardized quantile stays null (matching the old join semantics)
    // instead of throwing on getDouble
    val muSd = momRows.map(r => (r.getString(0), r.getDouble(2),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3))))
      .toSeq.toDF("variable", "__mu", "__sd")
    val theo = momRows.flatMap { r =>
      val v = r.getString(0); val n = r.getLong(1).toInt
      (1 to n).map(i => (v, i, Distributions.normalPpf(i.toDouble / (n + 1))))
    }.toSeq.toDF("variable", "position", "theoretical_quantile")
    val wRank = Window.partitionBy("variable").orderBy("value")
    sampled.withColumn("position", row_number().over(wRank))
      .join(broadcast(muSd), "variable")
      .join(broadcast(theo), Seq("variable", "position"))
      .withColumn("sample_quantile", (col("value") - col("__mu")) / col("__sd"))
      .select("variable", "position", "theoretical_quantile", "sample_quantile")
      .orderBy("variable", "position")
  }
}
