package graft.analyze

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.LocalPath

/** Multiple-testing correction — `analyze.add_corrected_pvalues`
  * (reference: clarite/modules/analyze/utils.py:9-117):
  *
  *   - Bonferroni: min(p·m, 1)
  *   - Benjamini-Hochberg FDR: rank p ascending, p·m/rank, then a running
  *     minimum from the LARGEST p downward (the monotonicity step of
  *     statsmodels' `multipletests(method="fdr_bh")`), clipped at 1.
  *
  * Two executions, identical values. A table of at most 100k rows is
  * collected once and corrected on the driver, and the result is a local
  * relation — no jobs at all when the input is one already (a study's
  * result table).
  * Larger tables run fully DISTRIBUTED, with no unpartitioned window: the
  * ranks come from a range-partitioned sort + zipWithIndex, and the
  * suffix-min is two passes (per-partition minima, then a driver-side
  * suffix scan over the O(#partitions) minima feeding a reverse
  * per-partition sweep) — a 100M-variant GWAS results table is not tiny.
  * With `groupby` keys the correction runs once per de-duplicated test,
  * matching the reference's grouped mode (utils.py:77-117).
  */
object Corrections {

  def addCorrectedPvalues(
      df: DataFrame,
      pvalue: String = "pvalue",
      groupby: Seq[String] = Nil): DataFrame = {
    if (groupby.isEmpty) addFlat(df, pvalue)
    else {
      // de-duplicate repeated tests on the group keys, correct once per
      // group, then re-join the corrected values to every original row
      val dedup = df.select((groupby :+ pvalue).map(col): _*).dropDuplicates(groupby)
      val corrected = addFlat(dedup, pvalue)
        .select((groupby ++ Seq("pvalue_bonferroni", "pvalue_fdr")).map(col): _*)
      df.join(corrected, groupby, "left").orderBy(CorrectedOrder.map(_.column): _*)
    }
  }

  /** Row bound of the driver-local correction. */
  private val LocalMaxRows = 100000L

  /** Corrected-table row order: FDR, then Bonferroni, nulls last. */
  private val CorrectedOrder: Seq[SortKey] =
    Seq(SortKey("pvalue_fdr", nullsLast = true), SortKey("pvalue_bonferroni", nullsLast = true))

  private def addFlat(df: DataFrame, pvalue: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("pvalue_bonferroni", DoubleType, nullable = true),
      StructField("pvalue_fdr", DoubleType, nullable = true)))
    // NaN p-values are missing, like null: they must not inflate m, and
    // their corrections are null (NaN passed the old isNotNull filter and
    // poisoned bonferroni via java math.min(NaN,1)=NaN). try_cast keeps
    // ANSI from failing on an uncastable string p-value, which is missing
    // too
    val pd = expr(s"try_cast(`$pvalue` AS DOUBLE)")
    // Bounded LOCAL path: the table (with its p-values as doubles) is
    // corrected on the driver by the same sweep, in the same double
    // arithmetic, as the distributed path below — sort ascending,
    // raw = p·m/rank, suffix minimum. Every tie shares one corrected value
    // on both paths (for equal p at ranks r1 < r2, raw(r1) > raw(r2), so
    // the suffix-min reaches both at r2).
    LocalPath.gate("addCorrectedPvalues", df.withColumn("__pd", pd), LocalMaxRows).foreach { local =>
      val width = df.schema.size
      val pOf = local.map(r => if (r.isNullAt(width)) Double.NaN else r.getDouble(width))
      val ranked = local.indices.filterNot(i => pOf(i).isNaN)
        .sortBy(pOf)(Ordering.Double.TotalOrdering).toArray
      val mD = ranked.length.toDouble
      val fdr = new Array[Double](local.length)
      var run = Double.PositiveInfinity
      var k = ranked.length - 1
      while (k >= 0) {
        val i = ranked(k)
        run = math.min(run, pOf(i) * mD / (k + 1))
        fdr(i) = run
        k -= 1
      }
      val rows = local.indices.map { i =>
        Row.fromSeq(local(i).toSeq.take(width) ++
          (if (pOf(i).isNaN) Seq(null, null)
           else Seq(math.min(pOf(i) * mD, 1.0), math.min(fdr(i), 1.0))))
      }
      return LocalResult.sorted(spark, outSchema, rows, CorrectedOrder)
    }

    val missing = pd.isNull || isnan(pd)
    val nonNull = df.filter(!missing)
    val nullRows = df.filter(missing)
      .withColumn("pvalue_bonferroni", lit(null).cast(DoubleType))
      .withColumn("pvalue_fdr", lit(null).cast(DoubleType))
    val m = nonNull.count()
    if (m == 0) return nullRows

    val width = df.schema.size
    val mD = m.toDouble
    // range-partitioned ascending sort; zipWithIndex = global 0-based rank
    val sorted = nonNull
      .withColumn("__pd", pd) // try_cast: rows here are castable by filter,
                              // but ANSI must never hinge on operator order
      .orderBy(col("__pd").asc)
      .rdd.zipWithIndex()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pdPos = width // appended __pd position
      // pass 1: per-partition minimum of raw = p·m/rank
      val partMins: Array[(Int, Double)] = sorted.mapPartitionsWithIndex { (pi, it) =>
        var mn = Double.PositiveInfinity
        it.foreach { case (r, i) =>
          val raw = r.getDouble(pdPos) * mD / (i + 1)
          if (raw < mn) mn = raw
        }
        Iterator.single(pi -> mn)
      }.collect()
      // suffix-min across partitions (later partitions hold larger p)
      val nPart = partMins.map(_._1).foldLeft(-1)(math.max) + 1
      val minByPart = Array.fill(nPart)(Double.PositiveInfinity)
      partMins.foreach { case (pi, mn) => minByPart(pi) = mn }
      val suffixAfter = Array.fill(nPart + 1)(Double.PositiveInfinity)
      for (pi <- nPart - 1 to 0 by -1)
        suffixAfter(pi) = math.min(suffixAfter(pi + 1), minByPart(pi))
      // pass 2: reverse sweep inside each partition with the later
      // partitions' minimum as the floor
      val outRdd = sorted.mapPartitionsWithIndex { (pi, it) =>
        val rows = it.toArray
        val fdr = new Array[Double](rows.length)
        var run = suffixAfter(pi + 1)
        var i = rows.length - 1
        while (i >= 0) {
          val (r, rank0) = rows(i)
          val raw = r.getDouble(pdPos) * mD / (rank0 + 1)
          if (raw < run) run = raw
          fdr(i) = run
          i -= 1
        }
        rows.iterator.zipWithIndex.map { case ((r, _), j) =>
          val pv = r.getDouble(pdPos)
          Row.fromSeq(r.toSeq.take(width) ++
            Seq(math.min(pv * mD, 1.0), math.min(fdr(j), 1.0)))
        }
      }
      val corrected = spark.createDataFrame(outRdd, outSchema)
      corrected.unionByName(nullRows).orderBy(CorrectedOrder.map(_.column): _*)
    } finally sorted.unpersist(blocking = false)
  }

  /** Top-N results by pvalue — the data prep behind `plot.top_results`
    * (reference: plot/top_results.py:79-83). */
  def topResults(df: DataFrame, n: Int = 20, pvalue: String = "pvalue"): DataFrame =
    df.orderBy(col(pvalue).asc_nulls_last).limit(n)

  /** Significance filter — CLI `analyze get_significant`
    * (reference: cli/commands/analyze.py:299-324). */
  def getSignificant(df: DataFrame, cutoff: Double = 0.05,
                     column: String = "pvalue_fdr"): DataFrame =
    df.filter(col(column) <= cutoff)

  /** Manhattan-plot data prep: per-result −log10(p) plus a dense x-position
    * grouped by category (reference: plot/manhattan.py:58-98). The
    * category axis is a LABEL set (bounded), so the dense rank is a
    * distinct-collect + broadcast-join — no global ordering window. */
  def manhattanPrep(df: DataFrame, pvalue: String = "pvalue",
                    category: String = "Variable"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // rank categories in the column's NATIVE ordering (numeric chromosomes
    // 1..22 must not sort as "1","10","11",...), then key the broadcast
    // mapping by string form for a type-stable join
    val cats: Array[String] = df.select(col(category)).distinct()
      .orderBy(col(category).asc_nulls_last)
      .select(col(category).cast("string"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    // xpos as Long: SQL engines rank with bigint; an Int here was a latent
    // driver-hash type mismatch vs the dense_rank() oracle (OracleTypeLintSpec)
    val rankOf = cats.zipWithIndex.map { case (c, i) => (c, (i + 1).toLong) }
    val mapping = rankOf.toSeq.toDF("__cat", "xpos")
    df.withColumn("neg_log_pvalue", -log10(col(pvalue)))
      .join(broadcast(mapping), df(category).cast("string") <=> col("__cat"), "left")
      .drop("__cat")
  }
}
