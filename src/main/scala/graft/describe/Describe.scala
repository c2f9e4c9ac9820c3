package graft.describe

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.LocalPath
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify
import VariableType._

/** Descriptive statistics (SURVEY.md §2.5).
  *
  * Each operator returns a DataFrame (the reference returns pandas frames —
  * reference: clarite/modules/describe.py). Everything is a one-pass
  * aggregation or a single melt+groupBy shuffle; nothing is per-column jobs.
  */
object Describe {

  /** get_types: per-variable CLARITE kind
    * (reference: describe.py:138-163). Pure metadata — no job. */
  def getTypes(spark: SparkSession, cf: CladeFrame): DataFrame = {
    import spark.implicits._
    cf.variables.map(v => (v, cf.typeOf(v).name)).toDF("variable", "type")
  }

  /** summarize: variable counts per kind + row count
    * (reference: describe.py:256-287). */
  def summarize(spark: SparkSession, cf: CladeFrame): DataFrame = {
    import spark.implicits._
    val n = cf.df.count()
    VariableType.all.map(t => (t.name, cf.variablesOfType(t).size.toLong, n))
      .toDF("type", "n_variables", "n_rows")
  }

  /** percent_na: % missing per variable (reference: describe.py:166-194).
    * One aggregation pass over all columns. */
  def percentNa(spark: SparkSession, cf: CladeFrame): DataFrame = {
    import spark.implicits._
    val vars = cf.variables
    if (vars.isEmpty) return Seq.empty[(String, Double)].toDF("variable", "percent_na")
    val aggs = count(lit(1)).as("__n") +: vars.map(c => count(col(c)).as(c))
    val r = cf.df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0).toDouble
    vars.zipWithIndex
      .map { case (c, i) => (c, if (n == 0) 0.0 else (1.0 - r.getLong(i + 1) / n) * 100.0) }
      .toDF("variable", "percent_na")
  }

  /** freq_table: per categorical/binary/constant variable, value → count;
    * non-categorical variables contribute one `<Non-Categorical Values>` row
    * (reference: describe.py:78-135). One melt + one groupBy shuffle for all
    * categorical columns together (AQE rebalances skewed variables). */
  def freqTable(spark: SparkSession, cf: CladeFrame): DataFrame = {
    import spark.implicits._
    val catCols = cf.variables.filter(c =>
      Set[VariableType](Constant, Binary, Categorical)(cf.typeOf(c)))
    val otherCols = cf.variables.filterNot(catCols.toSet)
    val catPart: Option[DataFrame] =
      if (catCols.isEmpty) None
      else Some(Modify.melt(cf.df, catCols)
        .filter(col("value").isNotNull)
        .groupBy("variable", "value").agg(count(lit(1)).as("count")))
    val otherPart: Option[DataFrame] =
      if (otherCols.isEmpty) None
      else {
        // the reference reports the NON-NA COUNT for non-categorical
        // variables (describe.py:135), not zero
        val aggs = otherCols.map(c => count(col(c)).as(c))
        val r = cf.df.agg(aggs.head, aggs.tail: _*).head()
        Some(otherCols.zipWithIndex
          .map { case (c, i) => (c, "<Non-Categorical Values>", r.getLong(i)) }
          .toDF("variable", "value", "count"))
      }
    (catPart, otherPart) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _ => Seq.empty[(String, String, Long)].toDF("variable", "value", "count")
    }
  }

  /** One-pass SKETCH profile of numeric columns — the 100 TB describe.
    * Exact `summarize`/quantile paths sort or hold exact state; at corpus
    * scale the profile wants mergeable sketches instead: HyperLogLog++ for
    * distinct counts (`rsd` relative error) and the KLL/GK-style
    * `percentile_approx` sketch (`accuracy` knob) for quantiles, plus exact
    * streaming-mergeable n/mean/min/max. ONE aggregation job for ALL
    * columns (map-side partials, no row shuffle); output is one row per
    * variable. Sketch results are approximate by contract, so this op is
    * deliberately NOT DuckDB-oracled — the spec pins error bounds instead. */
  def summarizeApprox(spark: SparkSession, df: DataFrame, cols: Seq[String],
                      rsd: Double = 0.05, accuracy: Int = 10000): DataFrame = {
    import spark.implicits._
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      Seq(count(v).as(s"n__$c"),
        approx_count_distinct(v, rsd).as(s"d__$c"),
        avg(v).as(s"m__$c"),
        min(v).as(s"mn__$c"),
        max(v).as(s"mx__$c"),
        percentile_approx(v, array(lit(0.25), lit(0.5), lit(0.75)),
          lit(accuracy)).as(s"q__$c"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val b = i * 6
      val qs = if (r.isNullAt(b + 5)) Seq[Double]() else r.getSeq[Double](b + 5)
      def dOrNull(ix: Int) = if (r.isNullAt(ix)) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(r.getDouble(ix))
      (c, r.getLong(b), r.getLong(b + 1), dOrNull(b + 2), dOrNull(b + 3),
        if (qs.nonEmpty) java.lang.Double.valueOf(qs(0)) else null.asInstanceOf[java.lang.Double],
        if (qs.nonEmpty) java.lang.Double.valueOf(qs(1)) else null.asInstanceOf[java.lang.Double],
        if (qs.nonEmpty) java.lang.Double.valueOf(qs(2)) else null.asInstanceOf[java.lang.Double],
        dOrNull(b + 4))
    }.toDF("variable", "n", "approx_distinct", "mean", "min",
      "p25_approx", "p50_approx", "p75_approx", "max")
  }

  /** summarizeApprox plus an EXACT audit pass — the shape that lets the
    * sketch profile be driver-oracled. Returns per variable:
    *
    *  - the exact mergeable core (`n`, `mean`, `min`, `max`) — hash-matchable
    *    against any exact engine;
    *  - one boolean per sketch asserting it landed inside its DETERMINISTIC
    *    contract: each GK quantile's exact rank window must straddle its
    *    target within ±1/`accuracy` (the sketch's published guarantee), and
    *    the HLL distinct estimate must sit within `rsdTolerance`·`rsd` of the
    *    exact count. The booleans are deterministic given the data (both
    *    sketches are hash-seeded, not random), so an oracle can pin them
    *    TRUE — a sketch regression past its bound reds the row instead of
    *    hiding behind "approximate by contract".
    *
    * Cost: summarizeApprox's one-pass sketch job, an O(#cols) collect of the
    * one-row result, then ONE exact audit aggregation (count-distinct + rank
    * counts of the sketch outputs). The audit pass is the expensive half at
    * corpus scale — this is the validation shape you run on a sample or
    * slice, while production profiling calls plain summarizeApprox. */
  def summarizeApproxAudited(spark: SparkSession, df: DataFrame, cols: Seq[String],
                             rsd: Double = 0.05, accuracy: Int = 10000,
                             rsdTolerance: Double = 3.0): DataFrame = {
    import spark.implicits._
    // Three jobs, bounded regardless of column count (job-count spec'd):
    //
    //  1. the sketch pass (summarizeApprox's single ObjectHashAggregate);
    //  2. the exact-distinct audit over the MELTED columns — N independent
    //     `count_distinct(c)`s in a flat agg make Catalyst plan an
    //     (N+1)-way Expand (every input row replicated once per distinct
    //     aggregate; measured 1.5s of this query's 2.7s at sf0.1), while
    //     (variable, value) melting leaves a SINGLE distinct expression,
    //     which plans as two-phase hash aggregation (variable, value) →
    //     (variable) with map-side partials and no row replication;
    //  3. the quantile rank counts — a flat codegen'd conditional-count
    //     aggregate (needs job 1's thresholds).
    //
    // Jobs 1 and 2 share no inputs, so they are SUBMITTED CONCURRENTLY
    // (SparkSession actions are thread-safe; on a cluster the scheduler
    // interleaves their stages) — wall = max(sketch, distinct) + ranks.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val skF = Future { summarizeApprox(spark, df, cols, rsd, accuracy).collect() }
    val distF = Future {
      Modify.meltNumeric(df, cols).filter(col("value").isNotNull)
        .groupBy("variable").agg(count_distinct(col("value")).as("d")).collect()
    }
    val sk = Await.result(skF, Duration.Inf)
    val byVar = sk.map(r => r.getString(0) -> r).toMap
    val rankAggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      val r = byVar(c)
      Seq(5, 6, 7).flatMap { i =>
        // null (not NaN) limit for empty columns: `v <= null` is null-false,
        // while NaN compares greater than everything in Spark's ordering
        val lim = if (r.isNullAt(i)) lit(null).cast("double") else lit(r.getDouble(i))
        Seq(count(when(v <= lim, 1)).as(s"le${i}__$c"),
          count(when(v < lim, 1)).as(s"lt${i}__$c"))
      }
    }
    val ranks = df.agg(rankAggs.head, rankAggs.tail: _*).head()
    // all-null columns have no melted rows: absent groups audit as zeros
    val exByVar = Await.result(distF, Duration.Inf).map(r => r.getString(0) -> r.getLong(1)).toMap
    val eps = 1.0 / accuracy
    cols.zipWithIndex.map { case (c, ci) =>
      val r = byVar(c)
      val n = r.getLong(1)
      val exactD = exByVar.getOrElse(c, 0L)
      val approxD = r.getLong(2)
      val distinctOk =
        if (exactD == 0L) approxD == 0L
        else math.abs(approxD - exactD).toDouble <= rsdTolerance * rsd * exactD
      // rank-count row layout: 6 counts per column (le/lt per quantile)
      val rb = ci * 6
      def qOk(skIdx: Int, qIdx: Int, q: Double): Boolean =
        if (r.isNullAt(skIdx)) n == 0L
        else {
          val le = ranks.getLong(rb + 2 * qIdx)
          val lt = ranks.getLong(rb + 2 * qIdx + 1)
          // GK compression merges samples while g + delta <= 2*eps*n, so the
          // answered rank carries one whole rank of discretization slack on
          // top of the fractional eps*n window (observable at small n where
          // eps*n < 1 — an exact-rank bound would flag a legal answer)
          (lt - 1).toDouble / n - eps <= q && q <= (le + 1).toDouble / n + eps
        }
      def dOrNull(ix: Int) = if (r.isNullAt(ix)) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(r.getDouble(ix))
      (c, n, dOrNull(3), dOrNull(4), dOrNull(8),
        distinctOk, qOk(5, 0, 0.25), qOk(6, 1, 0.5), qOk(7, 2, 0.75))
    }.toDF("variable", "n", "mean", "min", "max",
      "distinct_ok", "p25_ok", "p50_ok", "p75_ok")
  }

  /** correlations: pairwise-complete Pearson correlation for every pair of
    * (numeric-castable) variables, |corr| >= threshold, sorted desc
    * (reference: describe.py:26-75).
    *
    * pandas `df.corr()` is pairwise-complete-observations; Spark's
    * `ml.stat.Correlation` is listwise. To keep pandas semantics, two paths
    * with identical semantics, both ONE scan:
    *
    *  - narrow (<= `widePathMinPairs` pairs): the built-in `corr(x, y)` SQL
    *    aggregate (which IS pairwise) for all k·(k−1)/2 pairs in a single
    *    codegen'd aggregation — map-side partials, no row shuffle.
    *  - wide: one `treeAggregate` accumulating the 6 pairwise-complete
    *    co-moments (n, Σx, Σy, Σxy, Σx², Σy²) for every pair in flat
    *    arrays. At the reference's documented 970-variable NHANES width
    *    that is ~470k aggregate expressions — far past codegen/planner
    *    limits — while the co-moment state is just 6·470k doubles ≈ 22 MB
    *    per partition, combined tree-wise. Still one scan, still pairwise. */
  def correlations(spark: SparkSession, cf: CladeFrame,
                   threshold: Double = 0.75,
                   widePathMinPairs: Int = 2048): DataFrame = {
    import spark.implicits._
    val vars = cf.variables.filter(c => cf.typeOf(c) == Continuous)
    val pairs = for {
      i <- vars.indices; j <- (i + 1) until vars.size
    } yield (vars(i), vars(j))
    if (pairs.isEmpty)
      return Seq.empty[(String, String, Double)].toDF("var1", "var2", "correlation")
    if (pairs.size > widePathMinPairs)
      return correlationsWide(spark, cf, vars, threshold)
    val aggs = pairs.map { case (a, b) =>
      corr(col(a).cast("double"), col(b).cast("double")).as(s"${a}__$b")
    }
    val r = cf.df.agg(aggs.head, aggs.tail: _*).head()
    pairs.zipWithIndex
      .collect { case ((a, b), i) if !r.isNullAt(i) => (a, b, r.getDouble(i)) }
      .filter { case (_, _, c) => math.abs(c) >= threshold }
      .sortBy { case (_, _, c) => -math.abs(c) }
      .toDF("var1", "var2", "correlation")
  }

  /** Wide-frame pairwise-complete correlation: flat co-moment arrays over
    * the upper triangle, accumulated per partition and tree-combined.
    * Numerics: the shifted-data formulation (values centered on each
    * column's first seen value) avoids the catastrophic cancellation of raw
    * power sums. */
  private def correlationsWide(spark: SparkSession, cf: CladeFrame,
                               vars: Seq[String], threshold: Double): DataFrame = {
    import spark.implicits._
    val k = vars.size
    val m = k * (k - 1) / 2
    // InternalRow-direct decode (see Rows.doubleRdd); null AND NaN both
    // arrive as NaN = missing, which matches pandas' pairwise-complete
    // drop (a literal NaN cell no longer poisons its pairs' moments)
    val rows = graft.stats.Rows.doubleRdd(
      cf.df.select(vars.map(c => col(c).cast("double")): _*))
    // layout: acc(6*p .. 6*p+5) = n, sx, sy, sxy, sxx, syy for pair p;
    // tail block acc(6*m + i) = per-column shift (first non-null seen)
    val size = 6 * m + k
    val acc = rows.treeAggregate(Array.fill(size)(Double.NaN))(
      seqOp = { (a, r) =>
        var i = 0
        while (i < k) { // record shifts on first contact
          if (!r(i).isNaN && a(6 * m + i).isNaN) a(6 * m + i) = r(i)
          i += 1
        }
        i = 0
        var p = 0
        while (i < k) {
          val xNull = r(i).isNaN
          if (xNull) { p += k - i - 1; i += 1 }
          else {
          val x = r(i) - a(6 * m + i)
          var j = i + 1
          while (j < k) {
            if (!r(j).isNaN) {
              val y = r(j) - a(6 * m + j)
              val b = 6 * p
              if (a(b).isNaN) { a(b) = 0; a(b+1) = 0; a(b+2) = 0; a(b+3) = 0; a(b+4) = 0; a(b+5) = 0 }
              a(b) += 1; a(b+1) += x; a(b+2) += y
              a(b+3) += x * y; a(b+4) += x * x; a(b+5) += y * y
            }
            p += 1
            j += 1
          }
          i += 1
          }
        }
        a
      },
      combOp = { (a, b) =>
        // partitions saw different shifts; re-base b's moments onto a's shift
        // only when both touched a pair — otherwise copy through
        var p = 0
        var i = 0
        while (i < k) {
          var j = i + 1
          while (j < k) {
            val o = 6 * p
            if (!b(o).isNaN) {
              if (a(o).isNaN) {
                var q = 0
                while (q < 6) { a(o + q) = b(o + q); q += 1 }
                if (a(6 * m + i).isNaN) a(6 * m + i) = b(6 * m + i)
                if (a(6 * m + j).isNaN) a(6 * m + j) = b(6 * m + j)
                // note: moments stay based on b's shifts; record them below
                // by shifting to a's basis when bases differ
                val dxAB = b(6 * m + i) - a(6 * m + i)
                val dyAB = b(6 * m + j) - a(6 * m + j)
                if (dxAB != 0.0 || dyAB != 0.0)
                  rebase(a, o, dxAB, dyAB)
              } else {
                val dx = b(6 * m + i) - a(6 * m + i)
                val dy = b(6 * m + j) - a(6 * m + j)
                val n2 = b(o)
                // shift b's sums into a's basis, then add
                val sx2 = b(o+1) + n2 * dx
                val sy2 = b(o+2) + n2 * dy
                val sxy2 = b(o+3) + dy * b(o+1) + dx * b(o+2) + n2 * dx * dy
                val sxx2 = b(o+4) + 2 * dx * b(o+1) + n2 * dx * dx
                val syy2 = b(o+5) + 2 * dy * b(o+2) + n2 * dy * dy
                a(o) += n2; a(o+1) += sx2; a(o+2) += sy2
                a(o+3) += sxy2; a(o+4) += sxx2; a(o+5) += syy2
              }
            }
            p += 1
            j += 1
          }
          i += 1
        }
        i = 0
        while (i < k) { // adopt shifts for columns a never saw
          if (a(6 * m + i).isNaN) a(6 * m + i) = b(6 * m + i)
          i += 1
        }
        a
      })
    val out = (for {
      i <- 0 until k; j <- (i + 1) until k
    } yield (i, j)).zipWithIndex.flatMap { case ((i, j), p) =>
      val o = 6 * p
      val n = acc(o)
      if (n.isNaN || n < 2) None
      else {
        val cxy = acc(o+3) - acc(o+1) * acc(o+2) / n
        val cxx = acc(o+4) - acc(o+1) * acc(o+1) / n
        val cyy = acc(o+5) - acc(o+2) * acc(o+2) / n
        if (cxx <= 0.0 || cyy <= 0.0) None
        else Some((vars(i), vars(j), cxy / math.sqrt(cxx * cyy)))
      }
    }
    out.filter { case (_, _, c) => math.abs(c) >= threshold }
      .sortBy { case (_, _, c) => -math.abs(c) }
      .toDF("var1", "var2", "correlation")
  }

  /** Shift a pair's accumulated moments from basis (x+dx, y+dy) to (x, y). */
  private def rebase(a: Array[Double], o: Int, dx: Double, dy: Double): Unit = {
    val n = a(o); val sx = a(o+1); val sy = a(o+2)
    a(o+3) = a(o+3) + dy * sx + dx * sy + n * dx * dy
    a(o+4) = a(o+4) + 2 * dx * sx + n * dx * dx
    a(o+5) = a(o+5) + 2 * dy * sy + n * dy * dy
    a(o+1) = sx + n * dx
    a(o+2) = sy + n * dy
  }

  /** skewness: per continuous variable, population skewness g1 (scipy
    * bias=True parity; Spark's `skewness` aggregate computes exactly g1) plus
    * the D'Agostino skewtest z-statistic and two-sided p-value
    * (reference: describe.py:197-253; scipy.stats.skewtest).
    * One aggregation pass; the z transform is O(#columns) driver math. */
  def skewness(spark: SparkSession, cf: CladeFrame,
               dropna: Boolean = false): DataFrame = {
    import spark.implicits._
    val vars = cf.variables.filter(cf.typeOf(_) == Continuous)
    if (vars.isEmpty)
      return Seq.empty[(String, String, Double, Double, Double)]
        .toDF("variable", "type", "skew", "zscore", "pvalue_2sided")
    val aggs = vars.flatMap(c => Seq(
      org.apache.spark.sql.functions.skewness(col(c).cast("double")).as(s"s_$c"),
      count(col(c)).as(s"n_$c"))) :+ count(lit(1)).as("__rows")
    val r = cf.df.agg(aggs.head, aggs.tail: _*).head()
    val totalRows = r.getLong(2 * vars.size)
    vars.zipWithIndex.map { case (c, i) =>
      val n = r.getLong(2 * i + 1)
      // reference default dropna=False propagates NaN when the column has
      // any missing values (describe.py:249-253, scipy nan_policy)
      val hasNa = n < totalRows
      val skew =
        if (!dropna && hasNa) Double.NaN
        else if (r.isNullAt(2 * i)) Double.NaN
        else r.getDouble(2 * i)
      val (z, p) = skewTest(skew, n)
      (c, "continuous", skew, z, p)
    }.toDF("variable", "type", "skew", "zscore", "pvalue_2sided")
  }

  /** Contingency table of two categorical columns, long format: (a, b, n).
    * Null rows (either side) are excluded, values stringified — one
    * map-side-combined aggregation, output is O(levels_a x levels_b). */
  def crosstab(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))

  /** Chi-square test of independence between two categorical columns —
    * the categorical↔categorical screening companion to `correlations`.
    * One row-scale aggregation ([[crosstab]]); everything after runs on the
    * O(levels²) cell table (expected counts from row/column marginals over
    * the FULL level cross product, so zero-observed cells contribute their
    * expectation). The p-value is the Wilson-Hilferty column approximation
    * ([[graft.stats.ColMath.chi2SfWH]]) — a screening value that replays
    * exactly in SQL; inference-grade tails come from
    * [[graft.stats.Distributions.chi2Sf]] on the returned statistic.
    * Returns one row: (n, df, chi2, pvalue_approx). */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = crosstab(df, aCol, bCol)
    val rowT = cells.groupBy("a").agg(sum(col("n")).as("ra"))
    val colT = cells.groupBy("b").agg(sum(col("n")).as("cb"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    val full = rowT.crossJoin(colT).crossJoin(tot)
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("n"), lit(0L)).cast("double"))
      .withColumn("e", col("ra").cast("double") * col("cb") / col("nn"))
    full.agg(
        max(col("nn")).as("n"),
        countDistinct(col("a")).as("__ra_n"),
        countDistinct(col("b")).as("__cb_n"),
        sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chi2"))
      .withColumn("df", (col("__ra_n") - 1) * (col("__cb_n") - 1))
      .withColumn("pvalue_approx",
        graft.stats.ColMath.chi2SfWH(col("chi2"), col("df")))
      .select("n", "df", "chi2", "pvalue_approx")
  }

  /** Join-key skew report — the 100 TB planning diagnostic run BEFORE a
    * big join: per-key counts reduced to heavy-hitter rows (top-k) plus
    * the skew statistics that decide the strategy (skew_ratio = max key
    * count / mean key count; a ratio ≫ #partitions means the hot key
    * dominates one reducer → salt it or let AQE split it; top_share = the
    * heavy hitters' fraction of all rows). ONE map-side-combined groupBy
    * on the key + an O(#distinct) aggregate; top-k is a
    * TakeOrderedAndProject. Nulls count as a key (they hash to one
    * reducer too — the classic silent skew). */
  /** Loud driver-state gate for the grouped prefix-sum family
    * ([[giniByGroup]] / [[weightedQuantile]] / [[groupedQuantiles]]):
    * their per-partition prefix maps put O(#groups × #partitions) entries
    * on the driver — honest metadata for the domain/stratum cardinalities
    * these target, but a million-group call must fail with a NAMED KNOB
    * (`graft.groupedStats.maxGroups`, default 250k), not a driver OOM —
    * the same discipline as Dedup.components' edge cap and PageRank's
    * local-path gate. One cheap HLL aggregate over the already-cached
    * DISTINCT-row table; ±5% estimate error only moves the refusal
    * threshold, never correctness. */
  private def groupedStatsMaxGroups(spark: SparkSession): Long =
    graft.GraftConf.positiveLong(spark, "graft.groupedStats.maxGroups", 250000L)

  private def refuseGroupCardinality(op: String, est: Long, maxGroups: Long): Unit =
    if (est > maxGroups) throw new IllegalArgumentException(
      s"$op: ~$est distinct groups exceeds graft.groupedStats.maxGroups=" +
        s"$maxGroups. Driver prefix state here is O(groups x partitions); " +
        "raise the conf only with matching driver memory, or reduce the " +
        "group cardinality upstream (e.g. bucket the group key).")

  private def gateGroupCardinality(op: String, sorted: DataFrame,
                                   groupCol: String): Unit = {
    val maxGroups = groupedStatsMaxGroups(sorted.sparkSession)
    val est = sorted.agg(approx_count_distinct(col(groupCol), 0.05))
      .head().getLong(0)
    refuseGroupCardinality(op, est, maxGroups)
  }

  /** Driver-side ordering matching Spark's SQL ASC sort order, for the
    * bounded local fast paths that replay a range sort on collected rows
    * (external row values, hence the `Any`): integer types natural;
    * float/double via java compare — NaN greatest like SQL, and the rows
    * come from a groupBy whose key normalization already folded -0.0 into
    * 0.0; strings by UTF8String BINARY bytes (the SQL order, NOT java's
    * UTF-16 order — the PageRank local-path discipline); date/timestamp
    * chronological. None for any other type keeps the distributed sort
    * authoritative. */
  private def driverSortOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
      })
      case FloatType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      })
      case DoubleType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      })
      case _: DecimalType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal])
      })
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
      })
      // collect() yields java.sql.Date/Timestamp by default but
      // java.time.LocalDate/Instant under spark.sql.datetime.java8API —
      // all four are Comparable and chronologically ordered, and both
      // operands of one compare are always the same runtime class
      case DateType | TimestampType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
      })
      case BooleanType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      })
      case _ => None
    }
  }

  /** Row bound of the describe ops' driver-local fast paths, counted in
    * rows of the tie-aggregated table each op probes. */
  private val LocalMaxRows = 1000000L

  /** Index comparator ascending by `vals` (java compare: NaN greatest). */
  private def byDouble(vals: Array[Double]): java.util.Comparator[Integer] =
    (a: Integer, b: Integer) => java.lang.Double.compare(vals(a.intValue()), vals(b.intValue()))

  /** Row order of the grouped local fast paths ([[giniByGroup]],
    * [[weightedQuantile]], [[groupedQuantiles]]): row indices bucketed by
    * group key in first-seen order (a counting sort), each group's slice
    * sorted by `byVal`. Group g holds `idx(starts(g) until starts(g + 1))`
    * and `first(g)` is its first row. The group-cardinality refusal holds
    * on this path too. Returns (starts, idx, first). */
  private def groupSlices(op: String, spark: SparkSession, keys: Array[String],
                          byVal: java.util.Comparator[Integer])
      : (Array[Int], Array[Integer], Array[Int]) = {
    val np = keys.length
    val gids = new Array[Int](np)
    val ids = new java.util.HashMap[String, Integer]()
    val first = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < np) {
      var id = ids.get(keys(i))
      if (id == null) {
        id = Integer.valueOf(first.length)
        ids.put(keys(i), id)
        first += i
      }
      gids(i) = id.intValue()
      i += 1
    }
    val nGroups = first.length
    refuseGroupCardinality(op, nGroups.toLong, groupedStatsMaxGroups(spark))
    val starts = new Array[Int](nGroups + 1)
    i = 0; while (i < np) { starts(gids(i) + 1) += 1; i += 1 }
    var g = 0
    while (g < nGroups) { starts(g + 1) += starts(g); g += 1 }
    val pos = java.util.Arrays.copyOf(starts, nGroups)
    val idx = new Array[Integer](np)
    i = 0
    while (i < np) {
      val p = pos(gids(i)); idx(p) = Integer.valueOf(i); pos(gids(i)) = p + 1
      i += 1
    }
    g = 0
    while (g < nGroups) { java.util.Arrays.sort(idx, starts(g), starts(g + 1), byVal); g += 1 }
    (starts, idx, first.toArray)
  }

  /** The two-sample tie table (value, count A, count B) of the local fast
    * paths of [[ksTwoSample]], [[mannWhitney]] and [[scoreEval]]: its two
    * count columns as flat arrays in ascending value order, the order the
    * distributed sweeps range-sort into. */
  private def sortedTieCounts(rows: Array[Row]): (Array[Long], Array[Long]) = {
    val idx = Array.tabulate[Integer](rows.length)(Integer.valueOf)
    java.util.Arrays.sort(idx, byDouble(rows.map(_.getDouble(0))))
    (idx.map(k => rows(k).getLong(1)), idx.map(k => rows(k).getLong(2)))
  }

  /** Gini concentration coefficient per group, from the rank-weighted sum
    * identity G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n.
    *
    * Scale shape (r10): AGGREGATE TIES FIRST. A run of c equal values x
    * starting after b in-group predecessors contributes
    * x·Σ(b+1..b+c) = x·c·(2b+c+1)/2 to Σi·x — closed-form and
    * tie-order-invariant (which is also why the SQL window replay is
    * exact). So: ONE map-side-combined groupBy(group, value).count (the
    * only row-scale shuffle), a range-partitioned sort of the DISTINCT
    * (group, value) rows only, per-partition per-group prefix counts from
    * one O(#groups·#partitions) metadata job, then the closed-form
    * contribution per distinct row and an O(#groups) final aggregate.
    * The previous shape sorted the raw rows and zipWithIndex'd them —
    * measured ×17 wall at ×100 data on a tied column. The rank-SUM
    * identity needs no tie-break. Rows with a null group key are
    * excluded. */
  def giniByGroup(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val counted = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__x"))
      .groupBy("__g", "__x").agg(count(lit(1)).as("__c"))
    // Bounded LOCAL fast path: the distributed sweep needs a range sort +
    // cache + gate + prefix-metadata jobs — three eager scheduling rounds
    // whose floor dominates when the TIE-AGGREGATED table (already
    // O(distinct (group, value)) rows, not row-scale) is small. The driver
    // walks each group in value order accumulating the SAME closed-form
    // terms, so values agree to the final fp rounding (the per-group sums
    // are associative up to fp order, and the result is rounded at 6dp by
    // every caller).
    LocalPath.gate("giniByGroup", counted, LocalMaxRows).foreach { probe =>
      val vals = probe.map(_.getDouble(1))
      val cnts = probe.map(_.getLong(2))
      val (starts, idx, first) = groupSlices("giniByGroup", spark,
        probe.map(_.getString(0)), byDouble(vals))
      val rows = first.indices.map { g =>
        var n = 0L; var sx = 0.0; var six = 0.0; var below = 0L
        var j = starts(g)
        while (j < starts(g + 1)) {
          val k = idx(j).intValue(); val x = vals(k); val c = cnts(k)
          n += c; sx += x * c
          six += x * (2.0 * below + c + 1.0) * c / 2.0
          below += c
          j += 1
        }
        Row(probe(first(g)).getString(0), n, 2.0 * six / (n * sx) - (n + 1.0) / n)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(groupCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("gini",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }
    val sorted = counted
      .repartitionByRange(parts, col("__g"), col("__x"))
      .sortWithinPartitions("__g", "__x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      gateGroupCardinality("giniByGroup", sorted, "__g")
      val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { r =>
          val g = r.getString(0)
          m.update(g, m.getOrElse(g, 0L) + r.getLong(2))
        }
        Iterator.single((pi, m.toMap))
      }.collect().sortBy(_._1)
      val running = scala.collection.mutable.HashMap.empty[String, Long]
      val startN: Array[Map[String, Long]] = perPart.map { case (_, m) =>
        val snapshot = running.toMap
        m.foreach { case (g, c) => running.update(g, running.getOrElse(g, 0L) + c) }
        snapshot
      }
      val out = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val below = scala.collection.mutable.HashMap[String, Long]() ++ startN(pi)
        it.map { r =>
          val g = r.getString(0); val x = r.getDouble(1); val c = r.getLong(2)
          val b = below.getOrElse(g, 0L)
          below.update(g, b + c)
          // Σ ranks over the tie run = c·(2b + c + 1)/2 (exact in double
          // well past any realistic n)
          (g, c, x * c, x * (2.0 * b + c + 1.0) * c / 2.0)
        }
      }.toDF("__g", "__c", "__sx", "__six")
        .groupBy("__g")
        .agg(sum(col("__c")).as("n"), sum(col("__sx")).as("__sx2"),
          sum(col("__six")).as("__six2"))
        .select(col("__g").as(groupCol), col("n"),
          (lit(2.0) * col("__six2") / (col("n") * col("__sx2"))
            - (col("n") + lit(1.0)) / col("n")).as("gini"))
        // the metadata job already ran the sort eagerly; materialize the
        // O(#groups) result so the cached sort can be released
        .localCheckpoint(true)
      out
    } finally sorted.unpersist(blocking = false)
  }

  /** Two-sample Kolmogorov–Smirnov drift test between the rows where
    * `isFirst` is true (sample A) and the rest (sample B): D = sup over
    * x of |F_A(x) − F_B(x)|, with the asymptotic two-sided p-value
    * (Smirnov series with the small-sample λ correction, as scipy's
    * `mode='asymp'` and Numerical Recipes use). The distribution-shape
    * companion to [[psiDrift]]'s binned report: KS needs no bin choice
    * and is sensitive to ANY CDF gap, the canonical train/serve or
    * before/after corpus drift check.
    *
    * Determinism contract: the maximized statistic is the INTEGER
    * |cumA·nB − cumB·nA| (exact int64 for any realistic n), so the max is
    * engine/partitioning-invariant; D and p divide/transform it with a
    * fixed operation order both engines replay bitwise.
    *
    * Scale shape: ties aggregate first (one shuffle keyed by value), the
    * distinct-value table gets a range-partitioned sort, per-partition
    * totals (O(#partitions) driver metadata) seed running counts, and the
    * sup is a max reduce — the [[giniByGroup]] prefix-sum discipline; no
    * single-partition global window ever materializes. */
  def ksTwoSample(df: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val counted = df
      .filter(col(valueCol).isNotNull && isFirst.isNotNull)
      .select(col(valueCol).cast("double").as("__x"),
        isFirst.cast("boolean").as("__a"))
      .groupBy("__x").agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb"))
    // Bounded LOCAL fast path: the statistic is pure int64 algebra over
    // the tie-aggregated (value, cA, cB) table — already O(distinct
    // values), not row-scale — so the driver sweep replaces the sort +
    // cache + two prefix jobs and is BIT-IDENTICAL (exact integers, same
    // Smirnov scalar tail).
    val (na, nb, dNum) = LocalPath.gate("ksTwoSample", counted, LocalMaxRows).map { rows =>
      val (cas, cbs) = sortedTieCounts(rows)
      val na = cas.sum; val nb = cbs.sum
      var ca = 0L; var cb = 0L; var dNum = 0L
      var i = 0
      while (i < cas.length) {
        ca += cas(i); cb += cbs(i)
        val dd = math.abs(Math.subtractExact(
          Math.multiplyExact(ca, nb), Math.multiplyExact(cb, na)))
        if (dd > dNum) dNum = dd
        i += 1
      }
      (na, nb, dNum)
    }.getOrElse {
      val sorted = counted
        .repartitionByRange(parts, col("__x"))
        .sortWithinPartitions("__x")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var ca = 0L; var cb = 0L
          it.foreach { r => ca += r.getLong(1); cb += r.getLong(2) }
          Iterator.single((pi, ca, cb))
        }.collect().sortBy(_._1)
        val na = perPart.iterator.map(_._2).sum
        val nb = perPart.iterator.map(_._3).sum
        val starts = perPart.scanLeft((0L, 0L)) {
          case ((a, b), (_, ca, cb)) => (a + ca, b + cb)
        }.init
        // exact-or-fail: cum·n products approach n² — Math.multiplyExact
        // turns a would-be silent int64 wrap (possible past ~3e9 rows) into
        // a loud ArithmeticException instead of a wrong statistic
        val dNum = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var (ca, cb) = starts(pi)
          it.map { r =>
            ca += r.getLong(1); cb += r.getLong(2)
            math.abs(Math.subtractExact(
              Math.multiplyExact(ca, nb), Math.multiplyExact(cb, na)))
          }
        }.fold(0L)(math.max)
        (na, nb, dNum)
      } finally sorted.unpersist(blocking = false)
    }
    require(na > 0 && nb > 0,
      s"ksTwoSample needs both samples non-empty: nA=$na nB=$nb")
    val d = dNum * 1.0 / (na * 1.0 * nb)
    val ne = na * 1.0 * nb / (na + nb)
    val lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    // alternating Smirnov series, fixed 25-term left-associated sum so
    // the oracle's identical expression reproduces the same double. 25
    // is ODD on purpose: for λ→0 the alternating partial sum overshoots
    // (every term →1), so 2·sum ≥ 1 and the clamp returns the correct
    // p=1; for λ ≥ ~0.12 the k=26 tail is < 1e-6 (inside the rounding)
    val series = (1 to 25).map { k =>
      val t = math.exp(-2.0 * (k * k) * lam * lam)
      if (k % 2 == 1) t else -t
    }.foldLeft(0.0)(_ + _)
    val p = math.min(1.0, math.max(0.0, 2.0 * series))
    Seq((na, nb, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_a", "n_b", "d", "pvalue")
  }

  /** ROC AUC + average precision of a score column against a boolean
    * label — the evaluation pair for the engine's own classifiers (or
    * any ranking score), on the KS/Mann-Whitney exact-int64 machinery:
    * ties aggregate first (ONE row-scale shuffle keyed by score), the
    * distinct-score blocks get a range-partitioned sort with
    * O(#partitions) prefix offsets, and
    *
    *  - AUC rides the rank identity with ties at 1/2:
    *    2·nP·nN·AUC = Σ_blocks cPos·(2·cumNegBelow + cNeg) — EXACT int64
    *    (Math.multiplyExact makes a >3e9-row wrap loud, the KS bound),
    *    so AUC is ONE division of exact integers: partitioning- and
    *    engine-invariant to the last bit;
    *  - average precision is sklearn's distinct-threshold step sum
    *    AP = Σ_blocks (ΔTP/nP)·(TP/(TP+FP)) with TP/FP exact int64
    *    cumulatives from the top — per-block terms are exact-rounded
    *    identically everywhere, the cross-block sum rounds at 6dp.
    *
    * Returns ONE row (n_pos, n_neg, auc, average_precision). */
  def scoreEval(df: DataFrame, scoreCol: String, isPositive: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val counted = df
      // null/NaN scores AND null labels are excluded symmetrically — a
      // null label is "unknown", not "negative" (r12 ADVICE: the old
      // otherwise(1L) silently counted null-label rows as negatives)
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double"))
        && isPositive.cast("boolean").isNotNull)
      .select(col(scoreCol).cast("double").as("__x"),
        isPositive.cast("boolean").as("__p"))
      .groupBy("__x").agg(
        sum(when(col("__p"), 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__p"), 0L).otherwise(1L)).as("__cn"))
    // Bounded LOCAL fast path — the ksTwoSample rationale: 2·U (hence
    // AUC) is exact int64, so identical; the AP step terms accumulate in
    // the same global score order but without the distributed fold's
    // per-partition grouping, so AP agrees up to fp association — inside
    // the 6dp rounding both paths apply.
    val (nP, nN, a2, ap) = LocalPath.gate("scoreEval", counted, LocalMaxRows).map { rows =>
      val (cps, cns) = sortedTieCounts(rows)
      val nP = cps.sum; val nN = cns.sum
      var cpb = 0L; var cnb = 0L; var a2 = 0L; var ap = 0.0
      var i = 0
      while (i < cps.length) {
        val cp = cps(i); val cn = cns(i)
        val term = Math.multiplyExact(cp,
          Math.addExact(Math.multiplyExact(2L, cnb), cn))
        val tp = nP - cpb; val fp = nN - cnb
        ap += (cp.toDouble / nP) * (tp.toDouble / (tp.toDouble + fp))
        a2 = Math.addExact(a2, term)
        cpb += cp; cnb += cn
        i += 1
      }
      (nP, nN, a2, ap)
    }.getOrElse {
      val sorted = counted
        .repartitionByRange(parts, col("__x"))
        .sortWithinPartitions("__x")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var cp = 0L; var cn = 0L
          it.foreach { r => cp += r.getLong(1); cn += r.getLong(2) }
          Iterator.single((pi, cp, cn))
        }.collect().sortBy(_._1)
        val nP = perPart.iterator.map(_._2).sum
        val nN = perPart.iterator.map(_._3).sum
        val starts = perPart.scanLeft((0L, 0L)) {
          case ((a, b), (_, cp, cn)) => (a + cp, b + cn)
        }.init
        // one pass: exact 2·U accumulator + the AP step terms
        val (a2, ap) = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var (cpb, cnb) = starts(pi)
          it.map { r =>
            val cp = r.getLong(1); val cn = r.getLong(2)
            val term = Math.multiplyExact(cp,
              Math.addExact(Math.multiplyExact(2L, cnb), cn))
            val tp = nP - cpb; val fp = nN - cnb // cumulative from the top
            val apTerm = (cp.toDouble / nP) * (tp.toDouble / (tp.toDouble + fp))
            cpb += cp; cnb += cn
            (term, apTerm)
          }
        }.fold((0L, 0.0)) { case ((s1, s2), (t1, t2)) =>
          (Math.addExact(s1, t1), s2 + t2)
        }
        (nP, nN, a2, ap)
      } finally sorted.unpersist(blocking = false)
    }
    require(nP > 0 && nN > 0,
      s"scoreEval needs both classes non-empty: nPos=$nP nNeg=$nN")
    val auc = a2.toDouble / (2.0 * nP * nN)
    Seq((nP, nN,
      BigDecimal(auc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(ap).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_pos", "n_neg", "auc", "average_precision")
  }

  /** Per-column numeric summary in the MERGEABLE form (variable, n, mean,
    * m2, min, max) — m2 = Σ(x−mean)² is the sufficient statistic that
    * lets [[mergeSummaries]] combine per-batch profiles without
    * rescanning. One melt + one map-side-combined aggregation for every
    * column together. Null values are excluded per column (n counts
    * non-nulls). */
  def numericSummary(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val melted = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("variable"), col(c).cast("double").as("value"))): _*)).as("e"))
      .select(col("e.variable"), col("e.value"))
      .filter(col("value").isNotNull)
    melted.groupBy("variable").agg(
      count(lit(1)).as("n"),
      avg("value").as("mean"),
      (var_samp(col("value")) * (count(lit(1)) - 1)).as("m2"),
      min("value").as("min"),
      max("value").as("max"))
  }

  /** Mergeable DISTINCT-count profiles: one Datasketches HLL sketch per
    * column ([[mergeDistinctSketches]] unions them), the sketch sibling
    * of [[numericSummary]] — per-batch cardinality profiles combine
    * without rescanning history, the property exact `count(DISTINCT)`
    * fundamentally lacks. One melt + one map-side-combined sketch
    * aggregation; each sketch is O(2^lgK) bytes whatever the row count. */
  def distinctSketches(df: DataFrame, cols: Seq[String], lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("variable"), col(c).cast("string").as("value"))): _*)).as("e"))
      .select(col("e.variable"), col("e.value"))
      .filter(col("value").isNotNull)
      .groupBy("variable")
      .agg(hll_sketch_agg(col("value"), lit(lgK)).as("sketch"))
  }

  /** Union per-variable HLL sketches from two [[distinctSketches]]
    * profiles — O(#variables · 2^lgK) work, no data rescans. */
  def mergeDistinctSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("variable")
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  /** Merge two [[numericSummary]] profiles (Chan et al. parallel
    * combine): n = nₐ+n_b, mean via the weighted delta update,
    * m2 = m2ₐ + m2_b + Δ²·nₐ·n_b/n — the algebra that makes per-batch /
    * per-partition / per-day profiles COMPOSABLE, so incremental corpus
    * statistics never rescan history. Variables present on one side only
    * pass through unchanged (full outer join on variable). */
  def mergeSummaries(a: DataFrame, b: DataFrame): DataFrame = {
    val bb = b.select(col("variable"), col("n").as("nb"), col("mean").as("meanb"),
      col("m2").as("m2b"), col("min").as("minb"), col("max").as("maxb"))
    a.join(bb, Seq("variable"), "full_outer")
      .select(col("variable") +: {
        val na = coalesce(col("n"), lit(0L))
        val nb = coalesce(col("nb"), lit(0L))
        val n = na + nb
        val ma = coalesce(col("mean"), lit(0.0))
        val mb = coalesce(col("meanb"), lit(0.0))
        val delta = mb - ma
        val mean = when(n === 0, lit(null).cast("double"))
          .otherwise(ma + delta * nb.cast("double") / n.cast("double"))
        val m2 = coalesce(col("m2"), lit(0.0)) + coalesce(col("m2b"), lit(0.0)) +
          delta * delta * na.cast("double") * nb.cast("double") / n.cast("double")
        Seq(n.as("n"), mean.as("mean"),
          when(n === 0, lit(null).cast("double")).otherwise(m2).as("m2"),
          least(col("min"), col("minb")).as("min"),
          greatest(col("max"), col("maxb")).as("max"))
      }: _*)
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) test — the rank-based
    * companion to [[ksTwoSample]]: U from sample A's rank sum with
    * average ranks over ties, the tie-corrected normal approximation for
    * z, and the two-sided p via the shared Cody erfc. Location-shift
    * drift detection that is outlier-robust where a mean test is not.
    *
    * Determinism contract: the fold accumulates 2·R_A = Σ c_A·(2·below +
    * t + 1) and Σ(t³ − t) as EXACT int64 (ranks over a tie run sum to a
    * half-integer multiple, so doubling stays integral); u/z/p derive
    * from those integers through a fixed operation order the oracle
    * mirrors term for term.
    *
    * Scale shape: identical to [[ksTwoSample]] — tie-aggregated shuffle,
    * range-partitioned sort, O(#partitions) driver offsets, one fold. */
  def mannWhitney(df: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val counted = df
      .filter(col(valueCol).isNotNull && isFirst.isNotNull)
      .select(col(valueCol).cast("double").as("__x"),
        isFirst.cast("boolean").as("__a"))
      .groupBy("__x").agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb"))
    // Bounded LOCAL fast path — same rationale and bit-exactness argument
    // as [[ksTwoSample]]: the rank-sum and tie accumulators are exact
    // int64 over the tie-aggregated table, and the u/z/p tail below is
    // the SAME column algebra either way.
    val (na, nb, ra2, tie3) = LocalPath.gate("mannWhitney", counted, LocalMaxRows).map { rows =>
      val (cas, cbs) = sortedTieCounts(rows)
      var below = 0L; var r2 = 0L; var t3 = 0L
      var i = 0
      while (i < cas.length) {
        val t = cas(i) + cbs(i)
        r2 = Math.addExact(r2, Math.multiplyExact(cas(i), 2L * below + t + 1L))
        t3 = Math.addExact(t3,
          Math.multiplyExact(Math.multiplyExact(t, t), t) - t)
        below += t
        i += 1
      }
      (cas.sum, cbs.sum, r2, t3)
    }.getOrElse {
      val sorted = counted
        .repartitionByRange(parts, col("__x"))
        .sortWithinPartitions("__x")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var ca = 0L; var cb = 0L
          it.foreach { r => ca += r.getLong(1); cb += r.getLong(2) }
          Iterator.single((pi, ca, cb))
        }.collect().sortBy(_._1)
        val na0 = perPart.iterator.map(_._2).sum
        val nb0 = perPart.iterator.map(_._3).sum
        val starts = perPart.scanLeft(0L) { case (acc, (_, ca, cb)) => acc + ca + cb }.init
        // exact-or-fail (see ksTwoSample): t³ on a giant tie run or the
        // rank-sum at multi-billion rows must raise, never silently wrap
        val (r2, t3) = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
          var below = starts(pi)
          var r2a = 0L; var t3a = 0L
          it.foreach { r =>
            val ca = r.getLong(1); val t = ca + r.getLong(2)
            r2a = Math.addExact(r2a,
              Math.multiplyExact(ca, 2L * below + t + 1L))
            t3a = Math.addExact(t3a,
              Math.multiplyExact(Math.multiplyExact(t, t), t) - t)
            below += t
          }
          Iterator.single((r2a, t3a))
        }.fold((0L, 0L)) { case ((a1, b1), (a2, b2)) =>
          (Math.addExact(a1, a2), Math.addExact(b1, b2)) }
        (na0, nb0, r2, t3)
      } finally sorted.unpersist(blocking = false)
    }
    require(na > 0 && nb > 0,
      s"mannWhitney needs both samples non-empty: nA=$na nB=$nb")
    locally {
      // u/z/p in COLUMN algebra over the exact integers so the arithmetic
      // (and the Cody erfc) is the very expression the oracle replays
      Seq((na, nb, ra2, tie3)).toDF("n_a", "n_b", "__ra2", "__t3")
        .withColumn("u",
          col("__ra2").cast("double") / 2.0 -
            (col("n_a") * (col("n_a") + 1)).cast("double") / 2.0)
        .withColumn("__n", col("n_a") + col("n_b"))
        .withColumn("__mu", (col("n_a") * col("n_b")).cast("double") / 2.0)
        .withColumn("__s2",
          (col("n_a") * col("n_b")).cast("double") / 12.0 *
            ((col("__n") + 1).cast("double") -
              col("__t3").cast("double") /
                (col("__n").cast("double") * (col("__n").cast("double") - 1.0))))
        .withColumn("z", (col("u") - col("__mu")) / sqrt(col("__s2")))
        .select(col("n_a"), col("n_b"), col("u"),
          round(col("z"), 6).as("z"),
          round(graft.stats.ColMath.erfc(abs(col("z")) / math.sqrt(2.0)), 6).as("pvalue"))
        .localCheckpoint(true)
    }
  }

  /** Declarative data-quality rules — the Deequ-style validation pass:
    * every rule is a boolean Column evaluated in ONE aggregation over ONE
    * scan (no per-rule jobs), returning (rule, n_rows, passed, failed,
    * pass_rate) rows. A null rule verdict counts as FAILED (unknown is not
    * a pass). Rules are plain Catalyst predicates, so they fold into
    * whole-stage codegen and push nothing to the driver. */
  def checkRules(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map { case ((_, c), i) =>
      sum(when(coalesce(c, lit(false)), 1L).otherwise(0L)).as(s"__p$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.zipWithIndex.map { case ((name, _), i) =>
      s"'${name.replace("\\", "\\\\").replace("'", "''")}', __p$i" }.mkString(", ")
    one.selectExpr(s"stack(${rules.length}, $stacked) AS (rule, passed)", "__n")
      .select(col("rule"), col("__n").as("n_rows"), col("passed"),
        (col("__n") - col("passed")).as("failed"),
        (col("passed").cast("double") / col("__n")).as("pass_rate"))
  }

  /** Weighted quantile per group: the smallest value whose cumulative
    * weight reaches q·(total weight) — the survey-weighted median/quantile
    * (each row counts `weightCol` times). Tie-safe by construction: ties
    * aggregate into ONE (group, value, Σweight) row before any cumulative
    * state exists, so the answer is the VALUE at the crossing, which tie
    * order cannot move (integer-valued double weights sum exactly; the
    * determinism contract for fractional weights is the same the SQL
    * RANGE-frame replay carries).
    *
    * Scale shape (r10): the per-group WINDOW this op used funnels every
    * row of a group through one task — measured ×10 wall at ×100 data on
    * a 3-group table. Now: one map-side-combined groupBy(group, value)
    * (the only row-scale shuffle), a range-partitioned sort of the
    * DISTINCT rows, per-partition per-group weight prefixes from one
    * O(#groups·#partitions) metadata job, and the crossing row found in
    * a single ordered walk — full parallelism however few groups. */
  def weightedQuantile(df: DataFrame, valueCol: String, weightCol: String,
                       groupCols: Seq[String], q: Double = 0.5): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(q > 0 && q <= 1, s"q must be in (0,1]: $q")
    val spark = df.sparkSession
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // injective group-key encoding for the driver-side prefix maps: each
    // component is tagged (N = null, V = value) and length-prefixed, so it
    // parses unambiguously left-to-right — no in-band separator or null
    // sentinel a genuine value could collide with
    val gKey = concat(groupCols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("N:"))
        .otherwise(concat(lit("V"), length(s).cast("string"), lit(":"), s))
    }: _*)
    val counted = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy((groupCols.map(col) :+ col(valueCol)): _*)
      .agg(sum(col(weightCol).cast("double")).as("__w"))
      .withColumn("__g", gKey)
    // Bounded LOCAL fast path (the giniByGroup shape): the distributed
    // sweep pays a range sort + cache + gate + prefix-metadata jobs whose
    // scheduling floor dominates when the TIE-AGGREGATED table
    // (O(distinct (group, value)), not row-scale) is small. The driver
    // walks each group in ASCENDING value order — exactly the range-sorted
    // walk's order. For integer-valued double weights the crossing row and
    // total weight are exact on both paths; for fractional weights the
    // local strict left-to-right sum vs the distributed per-partition-
    // then-combine sum can differ in ULPs (the same fp-order contract the
    // docstring states for the distributed path). Only value types with a
    // driver-replayable SQL ordering take it.
    driverSortOrdering(df.schema(valueCol).dataType).foreach { ord =>
      LocalPath.gate("weightedQuantile", counted, LocalMaxRows).foreach { probe =>
        val nG = groupCols.length // row layout: groupCols..., value, __w, __g
        val vAny = probe.map(_.get(nG))
        val ws = probe.map(_.getDouble(nG + 1))
        val (starts, idx, first) = groupSlices("weightedQuantile", spark,
          probe.map(_.getString(nG + 2)),
          (a: Integer, b: Integer) => ord.compare(vAny(a.intValue()), vAny(b.intValue())))
        val rows = first.indices.flatMap { g =>
          val s = starts(g); val e = starts(g + 1)
          var tw = 0.0
          var j = s
          while (j < e) { tw += ws(idx(j).intValue()); j += 1 }
          // the crossing condition replayed verbatim; the first satisfier
          // in ascending order IS the distributed min(valueCol) over all
          // satisfiers (negative-weight recrossings included)
          var before = 0.0
          var found = -1
          j = s
          while (j < e && found < 0) {
            val k = idx(j).intValue(); val after = before + ws(k)
            if ((before < q * tw && after >= q * tw) ||
              (tw == 0.0 && before == 0.0)) found = k
            before = after
            j += 1
          }
          // no satisfier (possible only for a negative total weight):
          // the distributed groupBy sees zero crossing rows for the
          // group, so it emits nothing — replicate that
          if (found < 0) None
          else Some(Row.fromSeq((0 to nG).map(probe(found).get) :+ tw))
        }
        val schema = org.apache.spark.sql.types.StructType(
          (0 until nG).map(counted.schema(_)) ++ Seq(
            org.apache.spark.sql.types.StructField("weighted_quantile",
              counted.schema(nG).dataType),
            org.apache.spark.sql.types.StructField("total_weight",
              org.apache.spark.sql.types.DoubleType)))
        return spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
      }
    }
    val sorted = counted
      .repartitionByRange(parts, col("__g"), col(valueCol))
      .sortWithinPartitions("__g", valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      gateGroupCardinality("weightedQuantile", sorted, "__g")
      val gIdx = sorted.schema.fieldIndex("__g")
      val wIdx = sorted.schema.fieldIndex("__w")
      val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val m = scala.collection.mutable.HashMap.empty[String, Double]
        it.foreach { r =>
          val g = r.getString(gIdx)
          m.update(g, m.getOrElse(g, 0.0) + r.getDouble(wIdx))
        }
        Iterator.single((pi, m.toMap))
      }.collect().sortBy(_._1)
      val running = scala.collection.mutable.HashMap.empty[String, Double]
      val startW: Array[Map[String, Double]] = perPart.map { case (_, m) =>
        val snapshot = running.toMap
        m.foreach { case (g, w) => running.update(g, running.getOrElse(g, 0.0) + w) }
        snapshot
      }
      val totals = running.toMap
      val outSchema = sorted.schema.add("__tw", org.apache.spark.sql.types.DoubleType)
      val crossing = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val cw = scala.collection.mutable.HashMap[String, Double]() ++ startW(pi)
        it.flatMap { r =>
          val g = r.getString(gIdx)
          val before = cw.getOrElse(g, 0.0)
          val after = before + r.getDouble(wIdx)
          cw.update(g, after)
          val tw = totals(g)
          // smallest value with cw >= q·tw; an all-zero-weight group
          // degenerates to its smallest value (the window shape's answer)
          if ((before < q * tw && after >= q * tw) || (tw == 0.0 && before == 0.0))
            Some(Row.fromSeq(r.toSeq :+ tw))
          else None
        }
      }
      spark.createDataFrame(crossing, outSchema)
        .groupBy(groupCols.map(col): _*)
        .agg(min(col(valueCol)).as("weighted_quantile"),
          max(col("__tw")).as("total_weight"))
        // O(#groups) result; release the cached sort
        .localCheckpoint(true)
    } finally sorted.unpersist(blocking = false)
  }

  /** Per-group EXACT type-7 quantiles without holding any group's values
    * in memory — the scalable replacement for Spark's `percentile`
    * aggregate, whose buffer holds EVERY value of a group (the one
    * agg-buffer shape in the library that grew with rows; measured
    * 7.5-18.5s with heavy memory-pressure variance at 60M rows).
    *
    * Same machinery as [[weightedQuantile]] (r10): aggregate ties into
    * (group, value, count) rows — the only row-scale shuffle, map-side
    * combined — range-sort the DISTINCT rows, derive each group's
    * per-partition rank offsets from one O(#groups·#partitions) metadata
    * job, then a single ordered walk emits just the floor/ceil order
    * statistics each fraction needs (O(#groups·#fractions) rows to the
    * driver) and type-7 interpolation matches `quantile_cont`/pandas.
    * `n` counts non-null, non-NaN values (what the quantiles are over).
    * Groups whose values are ALL null/NaN still appear in the output,
    * with n=0 and a null quantiles array — parity with the aggregate
    * shape (`count(col)` = 0, `percentile_cont` = null), found by one
    * extra O(#groups) distinct over the group column.
    * Returns (group, n, quantiles array) with the group column keeping
    * its input name and type. */
  def groupedQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                       fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(q => q >= 0.0 && q <= 1.0),
      s"fractions must be in [0, 1]: $fractions")
    val spark = df.sparkSession
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val vd = col(valueCol).cast("double")
    val counted = df
      .filter(vd.isNotNull && !isnan(vd))
      .select(col(groupCol), vd.as("__x"))
      .groupBy(col(groupCol), col("__x")).agg(count(lit(1)).as("__c"))
      // tag-prefixed key: "N" for null, "V" + value otherwise — injective,
      // so no genuine group value can alias the null group
      .withColumn("__g", when(col(groupCol).isNull, lit("N"))
        .otherwise(concat(lit("V"), col(groupCol).cast("string"))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(groupCol),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("quantiles",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = true)))
    // groups whose values are ALL null/NaN never reach the tie table; one
    // O(#groups) column-pruned distinct finds them so they surface with
    // n=0 and null quantiles (the aggregate shape's answer) instead of
    // silently disappearing — needed by BOTH paths below
    def emptyGroupRows(present: String => Boolean): Seq[Row] = {
      val allG = df.select(col(groupCol),
          when(col(groupCol).isNull, lit("N"))
            .otherwise(concat(lit("V"), col(groupCol).cast("string"))).as("__g"))
        .distinct().collect()
      allG.filter(r => !present(r.getString(1)))
        .map(r => Row(r.get(0), 0L, null)).toSeq
    }
    // Bounded LOCAL fast path (the giniByGroup shape): the driver reads
    // off the needed order statistics of the tie-aggregated table from
    // integer tie counts — the identical type-7 arithmetic on the
    // identical counts, so the result is BIT-IDENTICAL to the distributed
    // walk. Row layout: groupCol(0), __x(1), __c(2), __g(3).
    LocalPath.gate("groupedQuantiles", counted, LocalMaxRows).foreach { probe =>
      val vals = probe.map(_.getDouble(1))
      val cnts = probe.map(_.getLong(2))
      val keys = probe.map(_.getString(3))
      val (starts, idx, first) = groupSlices("groupedQuantiles", spark, keys, byDouble(vals))
      val rows = first.indices.map { g =>
        val s = starts(g); val e = starts(g + 1)
        var n = 0L
        var j = s
        while (j < e) { n += cnts(idx(j).intValue()); j += 1 }
        val needRanks = fractions.flatMap { fq =>
          val h = (n - 1) * fq
          Seq(math.floor(h).toLong, math.ceil(h).toLong)
        }.toSet
        val ranks = scala.collection.mutable.HashMap.empty[Long, Double]
        var below = 0L
        j = s
        while (j < e) {
          val k = idx(j).intValue(); val c = cnts(k)
          needRanks.foreach { rk =>
            if (rk >= below && rk < below + c) ranks.update(rk, vals(k)) }
          below += c
          j += 1
        }
        val qs = fractions.map { fq =>
          val h = (n - 1) * fq
          val lo = math.floor(h).toLong
          val vl = ranks(lo); val vh = ranks(math.ceil(h).toLong)
          if (h == lo) vl else vl + (h - lo) * (vh - vl)
        }
        Row(probe(first(g)).get(0), n, qs)
      }
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows ++ emptyGroupRows(keys.toSet), 1),
        schema)
    }
    val sorted = counted
      .repartitionByRange(parts, col("__g"), col("__x"))
      .sortWithinPartitions("__g", "__x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      gateGroupCardinality("groupedQuantiles", sorted, "__g")
      val perPart = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { r =>
          val g = r.getString(3)
          m.update(g, m.getOrElse(g, 0L) + r.getLong(2))
        }
        Iterator.single((pi, m.toMap))
      }.collect().sortBy(_._1)
      val running = scala.collection.mutable.HashMap.empty[String, Long]
      val startN: Array[Map[String, Long]] = perPart.map { case (_, m) =>
        val snapshot = running.toMap
        m.foreach { case (g, c) => running.update(g, running.getOrElse(g, 0L) + c) }
        snapshot
      }
      val ns = running.toMap
      val needed: Map[String, Set[Long]] = ns.map { case (g, n) =>
        g -> fractions.flatMap { q =>
          val h = (n - 1) * q
          Seq(math.floor(h).toLong, math.ceil(h).toLong)
        }.toSet
      }
      // ordered walk: emit only the needed order statistics (+ the
      // ORIGINAL group value riding along for the output schema)
      val found = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
        val below = scala.collection.mutable.HashMap[String, Long]() ++ startN(pi)
        it.flatMap { r =>
          val g = r.getString(3); val x = r.getDouble(1); val c = r.getLong(2)
          val b = below.getOrElse(g, 0L)
          below.update(g, b + c)
          needed(g).iterator.filter(rk => rk >= b && rk < b + c)
            .map(rk => (g, rk, x, r.get(0)))
        }
      }.collect()
      val byG = found.groupBy(_._1)
      val rows = ns.toSeq.map { case (g, n) =>
        val ranks = byG(g).map(t => t._2 -> t._3).toMap
        val orig = byG(g).head._4
        val qs = fractions.map { q =>
          val h = (n - 1) * q
          val lo = math.floor(h).toLong
          val vl = ranks(lo); val vh = ranks(math.ceil(h).toLong)
          if (h == lo) vl else vl + (h - lo) * (vh - vl)
        }
        Row(orig, n, qs)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows ++ emptyGroupRows(ns.contains), 1),
        schema)
    } finally sorted.unpersist(blocking = false)
  }

  /** Cumulative Poisson(1) probabilities as integer thresholds against a
    * 31-bit-prime uniform (floor(P·p), p = 2^31−1): exact long compares,
    * no float conversion anywhere, so any SQL engine replays the weights
    * bit-for-bit. Mass beyond k=5 (~6e-4) gets weight 6. */
  private val poisson1PrimeThresholds = Seq(
    790015083L, 1580030167L, 1975037709L, 2106706890L, 2139624185L, 2146207644L)

  /** Poisson bootstrap confidence interval for the mean of `valueCol` —
    * THE bootstrap at data sizes where resampling is impossible: each row
    * contributes a deterministic Poisson(1) weight per replica (classic
    * multinomial resampling converges to iid Poisson(1) weights as n→∞),
    * so ALL `replicas` resamples ride ONE pass over the data.
    *
    * Weight derivation: ONE md5 per row reduces the key to h ∈ [0, p),
    * p = 2^31−1; each replica draws its uniform from the universal-hash
    * family u_r = (a_r·h + b_r) mod p with per-replica multipliers derived
    * from r by the same safe integer arithmetic in Scala and SQL (every
    * product < 2^62, so both engines compute exactly — no wrap-around, no
    * strings in the replica loop). Pairwise-independent uniforms are the
    * standard construction for hash-derived resampling weights; the
    * hot stage is pure long arithmetic, ~replicas× cheaper than hashing
    * per (row, replica).
    *
    * Scale shape: a `replicas`× generator expansion feeds a map-side-
    * combined groupBy(replica) — the shuffle carries O(replicas ×
    * partitions) partial sums, never row-scale; the replica-mean frame
    * (`replicas` rows) reduces to one CI row with an exact percentile.
    * Null values are dropped (they carry no information about the mean).
    * `key` must be row-unique: rows sharing a key (or the ~n²/2^33
    * 31-bit h collisions) draw IDENTICAL weights, correlating their
    * resampling slightly.
    * Returns one row: n, mean, se_boot, ci_lo, ci_p50, ci_hi. */
  def bootstrapCI(df: DataFrame, valueCol: String, key: Column,
                  replicas: Int = 50): DataFrame = {
    require(replicas >= 2, s"replicas must be >= 2: $replicas")
    // spread BEFORE the replicas× expansion: downstream work is ~replicas×
    // the scan, so inheriting the scan's partitioning (often 1-2
    // partitions for a single parquet file) serializes the whole op; a
    // cheap 2-column shuffle buys full parallelism for the expensive stage
    val parts = math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val p = 2147483647L                      // 2^31 − 1 (prime)
    // hash-partition on the raw key (a cheap murmur, deterministic under
    // task retry — round-robin pays a per-partition sort, §2.5) BEFORE
    // computing the md5 reduction, so the per-row hash work itself runs
    // at full parallelism instead of inside the scan's few tasks
    val src = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__x"),
        key.cast("string").as("__k"))
      .repartition(parts, col("__k"))
      .select(col("__x"),
        // 12 hex = 48 bits, reduced mod p: exact in any engine
        pmod(conv(substring(md5(col("__k")), 1, 12), 16, 10)
          .cast("long"), lit(p)).as("__h"))
    val a = pmod(col("__r") * lit(2654435761L) + lit(1L), lit(p))
    val b = pmod(col("__r") * lit(40503L) + lit(7L), lit(p))
    val u = pmod(a * col("__h") + b, lit(p))
    val w = poisson1PrimeThresholds.zipWithIndex
      .foldRight(lit(6): Column) { case ((th, k), rest) =>
        when(u < lit(th), k).otherwise(rest) }
    val replicaMeans = src
      .select(col("__x"), col("__h"),
        explode(sequence(lit(0L), lit(replicas - 1L))).as("__r"))
      .withColumn("__w", w)
      .groupBy("__r")
      .agg((sum(col("__w") * col("__x")) / sum(col("__w"))).as("__m"))
    val ci = replicaMeans.agg(
      stddev_samp(col("__m")).as("se_boot"),
      percentile(col("__m"), array(lit(0.025), lit(0.5), lit(0.975))).as("__q"))
    // n/mean need neither the hash nor the shuffle — aggregate the bare
    // filtered scan instead of recomputing src's md5+repartition pass
    val base = df.filter(col(valueCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        avg(col(valueCol).cast("double")).as("mean"))
    base.crossJoin(ci).select(col("n"), col("mean"), col("se_boot"),
      element_at(col("__q"), 1).as("ci_lo"),
      element_at(col("__q"), 2).as("ci_p50"),
      element_at(col("__q"), 3).as("ci_hi"))
  }

  /** Shannon entropy (nats) of each column's level distribution — the
    * corpus-diversity / label-balance metric (H = ln N − Σ n·ln n / N,
    * exact algebra on counts so it replays in any SQL engine). Nulls are
    * dropped, matching the freq-table convention. One melt (stack, codegen)
    * + a (variable, value) count shuffle; the per-variable reduction is
    * O(#levels), never row-scale. */
  def entropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    Modify.melt(df, cols).filter(col("value").isNotNull)
      .groupBy("variable", "value").agg(count(lit(1)).as("n"))
      .groupBy("variable").agg(
        count(lit(1)).as("n_levels"),
        sum("n").as("total"),
        sum(col("n") * log(col("n"))).as("__snlogn"))
      .select(col("variable"), col("n_levels"), col("total"),
        (log(col("total")) - col("__snlogn") / col("total")).as("entropy_nats"))
  }

  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc_nulls_first)
      .limit(topK)
    top.crossJoin(broadcast(stats))
      .select(col("key"), col("cnt"), col("total_rows"), col("n_keys"),
        (col("cnt").cast("double") / col("total_rows")).as("share"),
        (col("max_cnt").cast("double") * col("n_keys") / col("total_rows"))
          .as("skew_ratio"))
  }

  /** Population-stability-index drift report: how far each numeric
    * column's distribution in `current` has moved from `reference` — the
    * corpus-release / feature-drift monitor (PSI < 0.1 stable, > 0.25
    * action). Bin edges are the REFERENCE's equi-depth quantiles (one
    * batched range-sort via [[Modify.exactQuantilesAll]]); both sides are
    * melted, side-tagged and unioned so ONE aggregation bins and counts
    * the (variable, bin) cells, with per-variable totals riding a window
    * over the O(#vars·bins) cells. PSI = Σ_bins (p − q)·ln(p/q) with proportions
    * floored at `eps` so empty bins stay finite. All arithmetic replays
    * in SQL (the oracle recomputes the same quantile_cont edges). */
  // NOTE: the bin-edge quantiles are an ACTION over `reference` that runs
  // before the returned plan — persist/localCheckpoint an expensive
  // reference pipeline first or it computes twice (see Sampling.domainMix).
  def psiDrift(reference: DataFrame, current: DataFrame, cols: Seq[String],
               bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val bounds = Modify.exactQuantilesAll(reference, cols,
      (1 until bins).map(_.toDouble / bins))
    val usable = cols.filter(bounds(_).isDefined)
    require(usable.nonEmpty, "no non-empty reference columns")
    def melt(df: DataFrame): DataFrame =
      Modify.meltNumeric(df, usable).filter(col("value").isNotNull)
    val bin = usable.foldLeft(lit(null).cast("int")) { (acc, c) =>
      when(col("variable") === c,
        bounds(c).get.map(b => when(col("value") > b, 1).otherwise(0))
          .reduce(_ + _)).otherwise(acc)
    }
    // r17 §2.4: ONE union-tagged aggregation replaces the two per-side
    // groupBys (halves the row-scale shuffle count), and the grid/totals
    // joins collapse outright — a (variable, bin) cell absent from BOTH
    // sides has p = q = eps, so its contribution (p−q)·ln(p/q) is exactly
    // 0; only cells present on at least one side can contribute, and the
    // single groupBy's output is exactly that set (every usable variable
    // has ≥ 1 reference row by the bounds gate, so no variable row can
    // disappear). Per-variable totals ride a window over the
    // O(#vars·bins) cells; the final aggregation reuses the window's
    // hash partitioning, so the tail adds one exchange total.
    val stacked = melt(reference).withColumn("__side", lit(0))
      .unionByName(melt(current).withColumn("__side", lit(1)))
    val cells = stacked.withColumn("bin", bin)
      .groupBy("variable", "bin")
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("n_cur"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("variable")
    cells
      .withColumn("t_ref", sum(col("n_ref")).over(w))
      .withColumn("t_cur", sum(col("n_cur")).over(w))
      // try_divide: a side with ZERO rows for a variable has total 0, and
      // its share must floor to eps (null -> skipped by greatest) under
      // ANSI and non-ANSI alike, not raise DIVIDE_BY_ZERO under ANSI
      .withColumn("p", greatest(
        try_divide(col("n_ref").cast("double"), col("t_ref")), lit(eps)))
      .withColumn("q", greatest(
        try_divide(col("n_cur").cast("double"), col("t_cur")), lit(eps)))
      .withColumn("contrib", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("variable")
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        sum(col("contrib")).as("psi"))
  }

  /** Categorical PSI: [[psiDrift]]'s companion for DISCRETE columns —
    * how far each listed column's category distribution in `current` has
    * moved from `reference`. Categories are the UNION of both sides (a
    * category absent from one side gets the eps floor, so new-in-current
    * categories surface as drift instead of vanishing); nulls count as
    * their own category via the tagged "N"/"V"+value key (injective — a
    * genuine "N" value cannot alias the null bucket). Both sides are
    * melted, side-tagged and unioned so ONE map-side-combined groupBy on
    * (variable, tagged value) — state is category-vocabulary-sized, never
    * row-scale — yields the union-of-sides cells directly; per-variable
    * totals and the level count ride a window over those cells, then the
    * PSI sum. Returns (variable, n_ref, n_cur, n_levels, psi). */
  def psiCategorical(reference: DataFrame, current: DataFrame,
                     cols: Seq[String], eps: Double = 1e-6): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(eps > 0, s"eps must be > 0: $eps")
    def melt(df: DataFrame): DataFrame = df.selectExpr(
      s"stack(${cols.size}, ${cols.map(c =>
        s"'$c', CASE WHEN `$c` IS NULL THEN 'N' ELSE concat('V', CAST(`$c` AS STRING)) END")
        .mkString(", ")}) AS (variable, category)")
    // r17 §2.4 (same shape as [[psiDrift]]): one union-tagged aggregation
    // replaces the two per-side groupBys + full-outer join — the join's
    // output cells are exactly the categories present on EITHER side,
    // which is exactly the single groupBy's key set (coalesce-to-0
    // included: an absent side sums zero rows). Totals and the level
    // count ride a per-variable window over the O(vocabulary) cells; the
    // final aggregation reuses the window's partitioning.
    val cells = melt(reference).withColumn("__side", lit(0))
      .unionByName(melt(current).withColumn("__side", lit(1)))
      .groupBy("variable", "category")
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("n_cur"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("variable")
    cells
      .withColumn("t_ref", sum(col("n_ref")).over(w))
      .withColumn("t_cur", sum(col("n_cur")).over(w))
      .withColumn("n_levels", count(lit(1)).over(w))
      // try_divide: see [[psiDrift]] — an empty side floors to eps instead
      // of raising DIVIDE_BY_ZERO under ANSI
      .withColumn("p", greatest(
        try_divide(col("n_ref").cast("double"), col("t_ref")), lit(eps)))
      .withColumn("q", greatest(
        try_divide(col("n_cur").cast("double"), col("t_cur")), lit(eps)))
      .withColumn("contrib", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("variable")
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        max(col("n_levels")).as("n_levels"), sum(col("contrib")).as("psi"))
  }

  /** Pairwise categorical association matrix (Cramér's V) — the
    * categorical analog of `correlations`, for every unordered pair of the
    * listed columns. ONE grouping-sets aggregation computes every pair's
    * contingency cells, every single-column marginal, and the grand total
    * in a single shuffle (no per-pair scans); the chi-square algebra then
    * runs on that O(Σ levels²) aggregate, with zero-observed cells
    * contributing their expectation via the marginal cross product.
    * Complete-case across `cols` (rows with any null dropped), mirroring a
    * square correlation matrix's listwise behavior. Returns
    * (var_a, var_b, n, df, chi2, cramers_v) per pair, var_a < var_b. */
  def cramersV(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "cramersV needs at least two columns")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val sets: Seq[Seq[Column]] =
      pairs.map { case (a, b) => Seq(col(a), col(b)) } ++
        cols.map(c => Seq(col(c))) :+ Seq.empty[Column]
    val aggs = count(lit(1)).as("n") +:
      cols.map(c => grouping(col(c)).cast("int").as(s"g_$c"))
    // EAGER localCheckpoint, not lazy persist — same fix as [[mutualInfo]]:
    // the per-pair branches are materialized concurrently under AQE, and a
    // lazy persist let every branch recompute the grouping-sets aggregation
    // before the first cache write landed. One eager materialization of the
    // O(Σ levels²) aggregate; branches read the checkpointed blocks.
    val base = df.na.drop("any", cols)
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .groupingSets(sets, cols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)
    def grouped(c: String): Column = col(s"g_$c") === 1
    val total = base.filter(cols.map(grouped).reduce(_ && _))
      .select(col("n").as("nn"))
    val perPair = pairs.map { case (a, b) =>
      def onlyThese(keep: Seq[String]): Column =
        cols.map(c => if (keep.contains(c)) !grouped(c) else grouped(c))
          .reduce(_ && _)
      val cells = base.filter(onlyThese(Seq(a, b)))
        .select(col(a).as("la"), col(b).as("lb"), col("n"))
      val ma = base.filter(onlyThese(Seq(a)))
        .select(col(a).as("la"), col("n").as("ra"))
      val mb = base.filter(onlyThese(Seq(b)))
        .select(col(b).as("lb"), col("n").as("cb"))
      val full = ma.crossJoin(mb).crossJoin(total)
        .join(cells, Seq("la", "lb"), "left")
        .withColumn("o", coalesce(col("n"), lit(0L)).cast("double"))
        .withColumn("e", col("ra").cast("double") * col("cb") / col("nn"))
      full.agg(
          max(col("nn")).as("n"),
          countDistinct(col("la")).as("__ra_n"),
          countDistinct(col("lb")).as("__cb_n"),
          sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chi2"))
        .withColumn("var_a", lit(a)).withColumn("var_b", lit(b))
        .withColumn("df", (col("__ra_n") - 1) * (col("__cb_n") - 1))
        .withColumn("cramers_v", sqrt(col("chi2") /
          (col("n").cast("double") *
            least(col("__ra_n") - 1, col("__cb_n") - 1).cast("double"))))
        .select("var_a", "var_b", "n", "df", "chi2", "cramers_v")
    }
    perPair.reduce(_ unionByName _)
  }

  /** Pairwise mutual information matrix (nats) for categorical columns,
    * plus normalized MI = I(A;B) / √(H(A)·H(B)) — the scale-free
    * redundancy screen (which label/metadata columns say the same thing)
    * that complements [[cramersV]]'s significance view. Complete-case over
    * the listed columns, like cramersV.
    *
    * Same scale shape as cramersV: ONE grouping-sets aggregation feeds
    * every pair table, margin, and total, so the corpus is shuffled once
    * regardless of how many pairs are requested. Unlike chi2, MI sums only
    * OBSERVED cells (0·ln 0 = 0), so no dense level-cross is built at
    * all — the per-pair work is joins between already-tiny aggregates. */
  def mutualInfo(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "mutualInfo needs at least two columns")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val sets: Seq[Seq[Column]] =
      pairs.map { case (a, b) => Seq(col(a), col(b)) } ++
        cols.map(c => Seq(col(c))) :+ Seq.empty[Column]
    val aggs = count(lit(1)).as("n") +:
      cols.map(c => grouping(col(c)).cast("int").as(s"g_$c"))
    // EAGER localCheckpoint, not lazy persist: the per-pair branches below
    // (cells/ma/mb × pairs) are planned as independent subtrees that AQE
    // materializes concurrently — with a lazy persist each branch raced to
    // compute the grouping-sets aggregation itself before any cache entry
    // existed (profiled: 9 near-identical ~450 ms stages per run, one per
    // branch, "Asked to cache already cached data" warnings). One eager
    // materialization of the O(Σ levels²) aggregate runs the row-scale agg
    // exactly once; every branch then reads the checkpointed blocks.
    val base = df.na.drop("any", cols)
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .groupingSets(sets, cols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)
    def grouped(c: String): Column = col(s"g_$c") === 1
    val total = base.filter(cols.map(grouped).reduce(_ && _))
      .select(col("n").as("nn"))
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame =
      m.crossJoin(total).agg(
        sum(-(col(cnt).cast("double") / col("nn")) *
          log(col(cnt).cast("double") / col("nn"))).as(out))
    val perPair = pairs.map { case (a, b) =>
      def onlyThese(keep: Seq[String]): Column =
        cols.map(c => if (keep.contains(c)) !grouped(c) else grouped(c))
          .reduce(_ && _)
      val cells = base.filter(onlyThese(Seq(a, b)))
        .select(col(a).as("la"), col(b).as("lb"), col("n"))
      val ma = base.filter(onlyThese(Seq(a)))
        .select(col(a).as("la"), col("n").as("ra"))
      val mb = base.filter(onlyThese(Seq(b)))
        .select(col(b).as("lb"), col("n").as("cb"))
      val miRow = cells.join(ma, Seq("la")).join(mb, Seq("lb")).crossJoin(total)
        .agg(max(col("nn")).as("n"),
          sum((col("n").cast("double") / col("nn")) *
            log(col("n").cast("double") * col("nn") /
              (col("ra").cast("double") * col("cb")))).as("mi"))
      miRow.crossJoin(entropy(ma, "ra", "ha")).crossJoin(entropy(mb, "cb", "hb"))
        .withColumn("var_a", lit(a)).withColumn("var_b", lit(b))
        .withColumn("nmi", when(col("ha") > 0 && col("hb") > 0,
          col("mi") / sqrt(col("ha") * col("hb"))).otherwise(lit(0.0)))
        .select("var_a", "var_b", "n", "mi", "nmi")
    }
    perPair.reduce(_ unionByName _)
  }

  /** D'Agostino skewness test (scipy.stats.skewtest transform). n must be
    * >= 8 for the normal approximation; returns NaN otherwise. */
  def skewTest(g1: Double, n: Long): (Double, Double) = {
    if (n < 8 || g1.isNaN) return (Double.NaN, Double.NaN)
    val nd = n.toDouble
    val y = g1 * math.sqrt((nd + 1) * (nd + 3) / (6.0 * (nd - 2)))
    val beta2 = 3.0 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3) /
      ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    val w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1.0))
    val delta = 1.0 / math.sqrt(0.5 * math.log(w2))
    val alpha = math.sqrt(2.0 / (w2 - 1.0))
    val yy = if (y == 0.0) 1.0 else y
    val z = delta * math.log(yy / alpha + math.sqrt(math.pow(yy / alpha, 2) + 1.0))
    val p = 2.0 * graft.stats.Distributions.normalSf(math.abs(z))
    (z, p)
  }

  /** Classifier CALIBRATION (reliability) table — the companion to
    * [[scoreEval]] for probability-emitting quality filters: equal-width
    * probability bins over [0,1], per bin the exact count, positive
    * count, mean predicted probability and observed positive rate. A
    * well-calibrated filter has mean_pred ≈ obs_rate per bin; the gap
    * column is the per-bin |difference| (weighted-sum it for ECE).
    *
    * Determinism discipline (the DSIR micro-nats pattern): scores
    * quantize to integer MICRO-probabilities first —
    * `round(score·1e6)` is the digitless integer round, half-away-
    * from-zero on the same double in both engines — so bin assignment
    * is pure int64 arithmetic (`micro·bins div 1e6`, top edge clamped)
    * and per-bin sums are exact int64: partitioning- and
    * engine-invariant. The two ratios are single divisions of exact
    * integers. Scores outside [0,1] are refused loudly by contract (a
    * "probability" of 1.2 is an upstream bug, not bin 9); null/NaN
    * scores and null labels are excluded symmetrically (the scoreEval
    * rule). One groupBy over O(bins) keys — aggregation-only, scales as
    * a scan. Returns (bin, n, n_pos, mean_pred, obs_rate, gap) for
    * OCCUPIED bins, bin in 0..bins-1. */
  def calibration(df: DataFrame, scoreCol: String, isPositive: Column,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(scoreCol).cast("double")
    // ONE corpus scan: the O(bins) aggregate collects (bounded — this is
    // a summary table like scoreEval's single row), validation and the
    // ratio arithmetic run on the collected bins
    val rows = df
      .filter(x.isNotNull && !isnan(x) && isPositive.cast("boolean").isNotNull)
      .select(round(x * lit(1000000L)).cast("long").as("__m"),
        when(isPositive.cast("boolean"), 1L).otherwise(0L).as("__y"))
      .groupBy(least(expr(s"__m * $bins div 1000000"), lit(bins - 1L)).as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__m")).as("__sm"),
        sum(when(col("__m") < 0L || col("__m") > 1000000L, 1L).otherwise(0L))
          .as("__nbad"))
      .collect()
    val nBad = rows.iterator.map(_.getLong(4)).sum
    require(nBad == 0L,
      s"calibration: $nBad score(s) outside [0,1] — scores must be probabilities")
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.toSeq.map { r =>
      val (bin, n, pos, sm) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val mp = sm.toDouble / 1000000.0 / n
      val or = pos.toDouble / n
      (bin, n, pos, r6(mp), r6(or), r6(math.abs(mp - or)))
    }.sortBy(_._1)
      .toDF("bin", "n", "n_pos", "mean_pred", "obs_rate", "gap")
  }
}
