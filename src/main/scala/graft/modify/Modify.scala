package graft.modify

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{CladeFrame, VariableType}
import VariableType._

/** QC / modification operators (SURVEY.md §2.2-2.4, §2.9) — every operator
  * is CladeFrame => CladeFrame, mirroring the reference's table-in/table-out
  * contract (reference: clarite/modules/modify.py:5).
  *
  * Scale design: all data-dependent column decisions (which columns to drop,
  * outlier bounds, …) are made from ONE wide aggregation pass over the data
  * (a single job, map-side combinable, no per-column jobs) and the actual
  * transformation stays lazy/declarative so Catalyst fuses it with
  * surrounding operators. Nothing here collects row-level data to the
  * driver — only O(#columns) aggregate summaries.
  */
object Modify {

  // ---------------------------------------------------------------- helpers

  /** Null-on-failure numeric cast (works under both ANSI and legacy cast
    * semantics — pandas to_numeric parity needs invalid -> NULL). */
  private def tryCastDouble(c: String): Column = expr(s"try_cast(`$c` AS DOUBLE)")

  /** One-pass per-column aggregate summary. `aggs` builds the aggregate
    * columns per variable; returns the single result Row. */
  private def aggRow(df: DataFrame, aggs: Seq[Column]): Row =
    df.agg(aggs.head, aggs.tail: _*).head()

  /** A variable's exact nunique, bad-cast flag and, if at most `maxLevels`, sorted levels. */
  private final case class Distinct(nunique: Long, badCast: Boolean, levels: Option[Seq[String]])

  /** The one definition of a variable's distinct values, shared by the
    * typing operators: ONE job melts the typed columns to (variable, value
    * as string, bad cast) and summarizes each variable's distinct pairs,
    * linear in rows × columns (a flat distinct count per column plans an
    * (N+1)-way Expand). All-null variables are absent. Exact like a distinct
    * count of the typed column: the bad cast is judged on the typed column (a
    * timestamp casts to double, its string does not), a string column's once
    * per distinct value (a failed parse costs an exception), and the values
    * are the strings of [[asString]], which writes `-0.0` as `0.0`. No level
    * buffer grows past `maxLevels + 2` strings. */
  private def distinctValues(df: DataFrame, cols: Seq[String],
                             maxLevels: Int): Map[String, Distinct] = {
    if (cols.isEmpty) return Map.empty
    val typeOf = cols.map(c => c -> df.schema(c).dataType).toMap
    val bad = (c: String) => // a string column is judged below, per distinct value
      if (typeOf(c) == StringType) "CAST(NULL AS BOOLEAN)" else s"try_cast(`$c` AS DOUBLE) IS NULL"
    val levels = udaf(new CappedLevels(maxLevels.toLong + 1), Encoders.STRING)
    df.select(stack("variable, value, bad",
        cols.map(c => Seq(quoted(c), asStringSql(c, typeOf(c)), bad(c)))))
      .filter(col("value").isNotNull)
      .groupBy("variable", "value").agg(max("bad").as("bad"))
      .groupBy("variable").agg(count(lit(1)),
        max(coalesce(col("bad"), tryCastDouble("value").isNull)), sort_array(levels(col("value"))))
      .collect().map { r =>
        val n = r.getLong(1)
        r.getString(0) -> Distinct(n, r.getBoolean(2), Option.when(n <= maxLevels)(r.getSeq[String](3)))
      }.toMap
  }

  /** Every variable's sorted distinct strings; absent when all null. */
  private def levelsOf(df: DataFrame, cols: Seq[String]): Map[String, Seq[String]] =
    distinctValues(df, cols, Int.MaxValue).collect { case (c, Distinct(_, _, Some(l))) => c -> l }

  /** A group's strings, or null once there are more than `cap`. The inputs
    * are distinct, so the buffer only appends; it stops growing past `cap`. */
  private final class CappedLevels(cap: Long) extends Aggregator[String, Seq[String], Seq[String]] {
    def zero: Seq[String] = Vector.empty
    def reduce(b: Seq[String], v: String): Seq[String] = if (b.size > cap) b else b :+ v
    def merge(x: Seq[String], y: Seq[String]): Seq[String] = if (x.size > cap) x else x ++ y
    def finish(b: Seq[String]): Seq[String] = if (b.size > cap) null else b
    def bufferEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }

  // ----------------------------------------------------------- §2.2 columns

  /** Sink for the reference's filter-report prose (click.echo text) —
    * stderr by default, swappable for capture in tests. */
  @volatile var logSink: String => Unit = s => System.err.println(s)

  /** Emit the reference's exact `_process_colfilter` report
    * (utilities.py:163-194): per tested kind, "Testing N of M <kind>
    * variables" + "\tRemoved R (P%) tested <kind> variables <explanation>". */
  private def logColfilter(cf: CladeFrame, tested: Seq[String],
                           dropped: Set[String], explanation: String,
                           kinds: Seq[VariableType]): Unit =
    kinds.foreach { kind =>
      val isKind = cf.variables.count(cf.typeOf(_) == kind)
      val testedKind = tested.filter(cf.typeOf(_) == kind)
      logSink(f"Testing ${testedKind.size}%,d of $isKind%,d ${kind.name} variables")
      if (testedKind.nonEmpty) {
        val removed = testedKind.count(dropped)
        logSink(f"\tRemoved $removed%,d (${removed * 100.0 / testedKind.size}%.2f%%) " +
          s"tested ${kind.name} variables $explanation")
      }
    }

  /** colfilter: keep/drop named variable columns
    * (reference: modify.py:179-225). */
  def colfilter(cf: CladeFrame, skip: Option[Seq[String]] = None,
                only: Option[Seq[String]] = None): CladeFrame =
    cf.selectVariables(cf.resolveSkipOnly(skip, only))

  /** colfilter_min_n: drop variables with fewer than n non-NA observations
    * (reference: modify.py:283-340). One count() aggregation pass. */
  def colfilterMinN(cf: CladeFrame, n: Long = 200,
                    skip: Option[Seq[String]] = None,
                    only: Option[Seq[String]] = None): CladeFrame = {
    // only binary/categorical/continuous kinds are tested; unknown/constant
    // variables are left for manual categorization (reference:
    // modify.py:330-337 kinds list)
    val tested = cf.resolveSkipOnly(skip, only).filter(c =>
      Set[VariableType](Binary, Categorical, Continuous)(cf.typeOf(c)))
    if (tested.isEmpty) return cf
    val counts = nonNullCounts(cf, tested)
    val dropped = tested.filter(counts(_) < n).toSet
    logColfilter(cf, tested, dropped, s"which had less than $n non-null values.",
      Seq(Binary, Categorical, Continuous))
    cf.selectVariables(cf.variables.filterNot(dropped))
  }

  /** Per-variable non-null counts (exposed for oracle queries/tests). */
  def nonNullCounts(cf: CladeFrame, cols: Seq[String]): Map[String, Long] = {
    val r = aggRow(cf.df, cols.map(c => count(col(c)).as(c)))
    cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
  }

  /** colfilter_min_cat_n: drop binary/categorical variables whose rarest
    * non-NA level has fewer than n observations
    * (reference: modify.py:228-280).
    *
    * Scale path: melt the tested columns to long (variable, value) and do a
    * single two-level aggregation — one shuffle keyed by (variable, value)
    * with map-side combine, instead of one job per column. */
  def colfilterMinCatN(cf: CladeFrame, n: Long = 200,
                       skip: Option[Seq[String]] = None,
                       only: Option[Seq[String]] = None): CladeFrame = {
    val tested = cf.resolveSkipOnly(skip, only)
      .filter(c => cf.typeOf(c) == Binary || cf.typeOf(c) == Categorical)
    if (tested.isEmpty) return cf
    val minCounts = minLevelCounts(cf, tested)
    val dropped = tested.filter(c => minCounts.getOrElse(c, 0L) < n).toSet
    logColfilter(cf, tested, dropped,
      s"which had a category with less than $n values.", Seq(Binary, Categorical))
    cf.selectVariables(cf.variables.filterNot(dropped))
  }

  /** Smallest level count per (categorical) column — one melt + two aggs. */
  def minLevelCounts(cf: CladeFrame, cols: Seq[String]): Map[String, Long] = {
    if (cols.isEmpty) return Map.empty
    melt(cf.df, cols)
      .filter(col("value").isNotNull)
      .groupBy("variable", "value").count()
      .groupBy("variable").agg(min("count").as("min_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** colfilter_percent_zero: drop continuous variables where >= pct% of
    * non-NA values are zero (reference: modify.py:343-393). */
  def colfilterPercentZero(cf: CladeFrame, filterPercent: Double = 90.0,
                           skip: Option[Seq[String]] = None,
                           only: Option[Seq[String]] = None): CladeFrame = {
    val tested = cf.resolveSkipOnly(skip, only).filter(cf.typeOf(_) == Continuous)
    if (tested.isEmpty) return cf
    val pcts = percentZero(cf, tested)
    val dropped = tested.filter(c => pcts(c) >= filterPercent).toSet
    logColfilter(cf, tested, dropped,
      f"which were equal to zero in at least $filterPercent%.2f%% of non-NA observations.",
      Seq(Continuous))
    cf.selectVariables(cf.variables.filterNot(dropped))
  }

  /** % zeros among non-NA per column, one pass (NULL rows are excluded
    * from the denominator, like the reference's (col==0).sum()/col.count()). */
  def percentZero(cf: CladeFrame, cols: Seq[String]): Map[String, Double] = {
    val r = aggRow(cf.df,
      cols.map(c => (avg(when(col(c).isNotNull,
        when(col(c) === 0, 1.0).otherwise(0.0))) * 100).as(c)))
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) 0.0 else r.getDouble(i))
    }.toMap
  }

  /** move_variables: move columns from left to right
    * (reference: modify.py:888-940). The join is on the id key; Catalyst
    * picks sort-merge/broadcast by size. */
  def moveVariables(left: CladeFrame, right: CladeFrame,
                    skip: Option[Seq[String]] = None,
                    only: Option[Seq[String]] = None): (CladeFrame, CladeFrame) = {
    val moved = left.resolveSkipOnly(skip, only)
    val movedSet = moved.toSet
    val newRight = mergeVariables(right, left.selectVariables(moved), "outer")
    val newLeft = left.selectVariables(left.variables.filterNot(movedSet))
    (newLeft, newRight)
  }

  // -------------------------------------------------------------- §2.3 rows

  /** rowfilter_incomplete_obs: drop rows with any NA among selected columns
    * (reference: modify.py:738-781). Pure Filter — pushed down by Catalyst. */
  def rowfilterIncompleteObs(cf: CladeFrame,
                             skip: Option[Seq[String]] = None,
                             only: Option[Seq[String]] = None): CladeFrame = {
    val tested = cf.resolveSkipOnly(skip, only)
    cf.copy(df = cf.df.na.drop("any", tested))
  }

  /** CLI rowfilter: keep rows where `column <op> value`
    * (reference: cli/commands/modify.py:196-255 — note the reference swaps
    * the gt/gte bodies; implemented CORRECTLY here, divergence documented). */
  def rowfilter(cf: CladeFrame, column: String, comparison: String, value: Any): CladeFrame = {
    val c = col(column)
    val v = lit(value)
    val pred = comparison match {
      case "lt"  => c < v
      case "lte" => c <= v
      case "eq"  => c === v
      case "gte" => c >= v
      case "gt"  => c > v
      case other => throw new IllegalArgumentException(s"bad comparison: $other")
    }
    cf.copy(df = cf.df.filter(pred))
  }

  // ------------------------------------------------------------- §2.4 joins

  /** merge_variables: column-wise equi-join on the id
    * (reference: modify.py:847-885). how ∈ left|right|inner|outer. */
  def mergeVariables(left: CladeFrame, right: CladeFrame, how: String = "outer"): CladeFrame = {
    require(Set("left", "right", "inner", "outer")(how), s"bad join type: $how")
    val overlap = left.variables.toSet intersect right.variables.toSet
    require(overlap.isEmpty, s"duplicate variable names: ${overlap.mkString(", ")}")
    val joined = left.df.join(right.df.withColumnRenamed(right.idCol, left.idCol),
      Seq(left.idCol), how)
    CladeFrame(joined, left.types ++ right.types, left.levels ++ right.levels, left.idCol)
  }

  /** merge_observations: row-wise union on common columns; error on
    * overlapping ids or type mismatch (reference: modify.py:784-844).
    * The id-overlap check is a LEFT SEMI join (no data movement to driver). */
  def mergeObservations(top: CladeFrame, bottom: CladeFrame): CladeFrame = {
    val common = top.variables.filter(bottom.variables.toSet)
    require(common.nonEmpty, "no common variables")
    val mismatched = common.filter(c => top.typeOf(c) != bottom.typeOf(c))
    require(mismatched.isEmpty, s"type mismatch on: ${mismatched.mkString(", ")}")
    // category LEVEL sets are part of the dtype in the reference (pandas
    // CategoricalDtype equality) — differing level sets must fail loudly
    val levelMismatch = common.filter(c =>
      top.levels.contains(c) && bottom.levels.contains(c) &&
        top.levels(c).sorted != bottom.levels(c).sorted)
    require(levelMismatch.isEmpty,
      s"category level mismatch on: ${levelMismatch.mkString(", ")}")
    val overlap = top.df.select(top.idCol)
      .join(bottom.df.select(col(bottom.idCol).as(top.idCol)), Seq(top.idCol), "left_semi")
      .limit(1).count()
    require(overlap == 0, "overlapping ids between top and bottom")
    val cols = top.idCol +: common
    val unioned = top.df.select(cols.map(col): _*)
      .unionByName(bottom.df.withColumnRenamed(bottom.idCol, top.idCol).select(cols.map(col): _*))
    CladeFrame(unioned, top.types.view.filterKeys(common.toSet).toMap,
      top.levels.view.filterKeys(common.toSet).toMap, top.idCol)
  }

  // -------------------------------------------------- §2.9 column functions

  /** make_binary: require exactly 2 unique non-NA values, tag as binary with
    * sorted levels (reference: modify.py:396-453). */
  def makeBinary(cf: CladeFrame, skip: Option[Seq[String]] = None,
                 only: Option[Seq[String]] = None): CladeFrame = {
    val cols = cf.resolveSkipOnly(skip, only)
    val dv = distinctValues(cf.df, cols, 2)
    val bad = cols.filter(c => dv.get(c).forall(_.nunique != 2))
    require(bad.isEmpty,
      s"cannot make binary (not exactly 2 unique values): ${bad.mkString(", ")}")
    castToString(cf, cols).withTypes(cols.map(_ -> (Binary: VariableType)).toMap)
      .withLevels(cols.map(c => c -> dv(c).levels.get).toMap)
  }

  /** make_categorical (reference: modify.py:456-500). */
  def makeCategorical(cf: CladeFrame, skip: Option[Seq[String]] = None,
                      only: Option[Seq[String]] = None): CladeFrame = {
    val cols = cf.resolveSkipOnly(skip, only)
    val lv = levelsOf(cf.df, cols)
    castToString(cf, cols)
      .withTypes(cols.map(_ -> (Categorical: VariableType)).toMap).withLevels(lv)
  }

  /** make_continuous: cast to double; any value that fails the cast is an
    * error, not a silent null (reference: modify.py:503-567). */
  def makeContinuous(cf: CladeFrame, skip: Option[Seq[String]] = None,
                     only: Option[Seq[String]] = None): CladeFrame = {
    val cols = cf.resolveSkipOnly(skip, only)
    if (cols.isEmpty) return cf
    val r = aggRow(cf.df, cols.map(c =>
      sum(when(col(c).isNotNull && tryCastDouble(c).isNull, 1L).otherwise(0L)).as(c)))
    val bad = cols.zipWithIndex.collect { case (c, i) if !r.isNullAt(i) && r.getLong(i) > 0 => c }
    require(bad.isEmpty, s"cannot make continuous (non-numeric values): ${bad.mkString(", ")}")
    cf.copy(df = cf.df.withColumns(cols.map(c => c -> tryCastDouble(c)).toMap),
      types = cf.types ++ cols.map(_ -> (Continuous: VariableType)),
      levels = cf.levels -- cols)
  }

  /** Result of [[categorize]] with the per-variable decision trail
    * (the reference logs these counts; we surface them as data). */
  final case class CategorizeReport(
      frame: CladeFrame,
      decisions: Seq[(String, Long, String)]) // (variable, nunique, decision)

  /** categorize: infer CLARITE kinds from distinct counts
    * (reference: modify.py:40-176):
    * 0 uniques → dropped; 1 → constant; 2 → binary;
    * [catMin, catMax] → categorical; >= contMin → continuous if
    * numeric-coercible else unknown; the (catMax, contMin) gap → unknown.
    * One job computes every column's exact nunique, coercibility and, up
    * to `catMax` values, its level set ([[distinctValues]]).
    */
  def categorize(cf: CladeFrame, catMin: Int = 3, catMax: Int = 6,
                 contMin: Int = 15): CategorizeReport = {
    require(catMin > 2 && catMin <= catMax && contMin > catMax)
    val vars = cf.variables
    if (vars.isEmpty) return CategorizeReport(cf, Nil)
    val dv = distinctValues(cf.df, vars, catMax)
    val decisions = vars.map { c =>
      val Distinct(u, badCast, _) = dv.getOrElse(c, Distinct(0L, badCast = false, None))
      val decision: String =
        if (u == 0) "dropped"
        else if (u == 1) Constant.name
        else if (u == 2) Binary.name
        else if (u >= catMin && u <= catMax) Categorical.name
        else if (u >= contMin && !badCast) Continuous.name
        else Unknown.name
      (c, u, decision)
    }
    val kinds = decisions.collect {
      case (c, _, d) if d != "dropped" => c -> VariableType.fromString(d)
    }
    val catCols = kinds.collect { case (c, Constant | Binary | Categorical) => c }
    val contCols = kinds.collect { case (c, Continuous) => c }
    val kept = cf.selectVariables(kinds.map(_._1)).df
    val casted = kept.withColumns((catCols.map(c =>
      c -> asString(kept, c)) ++ contCols.map(c => c -> tryCastDouble(c))).toMap)
    CategorizeReport(CladeFrame(casted, kinds.toMap,
      catCols.map(c => c -> dv(c).levels.get).toMap, cf.idCol),
      decisions)
  }

  /** recode_values: value→value replacement across selected columns
    * (reference: modify.py:570-633). Declarative when/otherwise chain —
    * codegen'd, no UDF. */
  def recodeValues(cf: CladeFrame, replacements: Map[Any, Any],
                   skip: Option[Seq[String]] = None,
                   only: Option[Seq[String]] = None): CladeFrame = {
    val cols = cf.resolveSkipOnly(skip, only)
    val out = cols.foldLeft(cf.df) { (d, c) =>
      val recoded = replacements.foldLeft(when(lit(false), col(c))) {
        // a null target recodes the value to missing (the reference's
        // canonical {special_code: NaN} use case)
        case (acc, (from, to)) =>
          acc.when(col(c) === lit(from),
            if (to == null) lit(null) else lit(to))
      }.otherwise(col(c))
      d.withColumn(c, recoded)
    }
    // recorded category levels must follow the recode (pandas renames the
    // categories; stale levels would silently mis-encode later regressions)
    val stringRepl = replacements.map { case (k, v) =>
      k.toString -> Option(v).map(_.toString)
    }
    val newLevels = cf.levels.map {
      case (c, ls) if cols.contains(c) =>
        c -> ls.flatMap(l => stringRepl.getOrElse(l, Some(l))).distinct.sorted
      case kv => kv
    }
    cf.copy(df = out, levels = newLevels)
  }

  /** remove_outliers: replace out-of-bounds continuous values with NA
    * (reference: modify.py:636-735). method ∈ gaussian (mean ± cutoff·sd) |
    * iqr ([Q1 − cutoff·IQR, Q3 + cutoff·IQR]).
    * Two passes: ONE aggregation computes every column's bounds (exact
    * percentiles to match pandas linear interpolation), then a lazy
    * projection applies them. */
  def removeOutliers(cf: CladeFrame, method: String = "gaussian", cutoff: Double = 3.0,
                     skip: Option[Seq[String]] = None,
                     only: Option[Seq[String]] = None,
                     exactQuantiles: Boolean = true): CladeFrame = {
    require(cutoff > 0, "cutoff must be positive")
    val cols = cf.resolveSkipOnly(skip, only).filter(cf.typeOf(_) == Continuous)
    if (cols.isEmpty) return cf
    val bounds: Map[String, (Double, Double)] = method match {
      case "iqr" if !exactQuantiles =>
        // fast path: ONE aggregation, no sort — approx_percentile's
        // t-digest bounds the error; exact (pandas-parity) stays default
        val r = aggRow(cf.df, cols.map(c =>
          approx_percentile(col(c).cast("double"), array(lit(0.25), lit(0.75)),
            lit(10000)).as(s"q_$c")))
        cols.zipWithIndex.map { case (c, i) =>
          if (r.isNullAt(i)) c -> (Double.NegativeInfinity, Double.PositiveInfinity)
          else {
            val qs = r.getSeq[Double](i)
            val iqr = qs(1) - qs(0)
            c -> (qs(0) - cutoff * iqr, qs(1) + cutoff * iqr)
          }
        }.toMap
      case "gaussian" =>
        val r = aggRow(cf.df, cols.flatMap(c =>
          Seq(avg(col(c)).as(s"m_$c"), stddev_samp(col(c)).as(s"s_$c"))))
        cols.zipWithIndex.map { case (c, i) =>
          // < 2 non-null values -> no bounds, leave the column untouched
          // (reference: NaN bounds compare false)
          if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1))
            c -> (Double.NegativeInfinity, Double.PositiveInfinity)
          else {
            val m = r.getDouble(2 * i); val s = r.getDouble(2 * i + 1)
            c -> (m - cutoff * s, m + cutoff * s)
          }
        }.toMap
      case "iqr" =>
        exactQuantilesAll(cf.df, cols, Seq(0.25, 0.75)).map {
          case (c, None) => c -> (Double.NegativeInfinity, Double.PositiveInfinity)
          case (c, Some(qs)) =>
            val q1 = qs(0); val q3 = qs(1)
            c -> (q1 - cutoff * (q3 - q1), q3 + cutoff * (q3 - q1))
        }
      case other => throw new IllegalArgumentException(s"bad method: $other")
    }
    val out = cols.foldLeft(cf.df) { (d, c) =>
      val (lo, hi) = bounds(c)
      d.withColumn(c, when(col(c).between(lo, hi), col(c)))
    }
    cf.copy(df = out)
  }

  /** Exact linear-interpolation quantiles (pandas / DuckDB `quantile_cont`
    * semantics: position h = (n−1)·q), computed DISTRIBUTED: a
    * range-partitioned sort plus a global-index lookup. Spark's exact
    * `percentile` aggregate buffers the whole column in ONE aggregation
    * buffer — fine at test scale, dead at 100 TB; this path never holds
    * more than a partition per task. `approx_percentile` remains the
    * documented fast-path knob when exactness is not required. None when
    * the column has no non-missing values. */
  def exactQuantiles(df: DataFrame, c: String, fractions: Seq[Double]): Option[Seq[Double]] =
    exactQuantilesAll(df, Seq(c), fractions)(c)

  /** Exact quantiles for MANY columns in ONE distributed sort. The round-2
    * shape ran the full count+sort+lookup pipeline once PER column — ~970
    * sequential sorts at the reference's documented width (load.py:41).
    * This melts the requested columns to (columnIndex, value) pairs and
    * range-sorts the composite key once: a per-partition counts pass (no
    * shuffle), the sort, zipWithIndex, and one needed-index lookup — a
    * bounded number of jobs regardless of column count. Per-column offsets
    * into the global sorted order come from the counts, so each column's
    * rank-h values are read off the single sorted sequence. The melted pair
    * stream is recomputed for the sort rather than cached: two columnar
    * scans beat pinning a k-times-melted copy of the table in executor
    * storage at scale. */
  /** Melt `cols` to (vid, value) pairs, drop null/NaN (pandas semantics:
    * each column's n counts only its own non-missing values), and run ONE
    * Tungsten range sort globally ordered by (vid, value): stack() melts
    * in codegen, repartitionByRange + sortWithinPartitions is the
    * distributed sort (RangePartitioner orders partitions globally), and
    * the sorted rdd's partition order IS the global order, so zipWithIndex
    * gives each value its global rank. This replaced an RDD sortBy of
    * boxed tuples through the Java serializer — same distributed shape,
    * ~2.6x faster (4.8s -> 1.5s for 3 lineitem columns at sf0.1). The
    * returned rdd is persisted (serialized, spillable; counts/size/select
    * passes reuse it) — CALLER MUST UNPERSIST. Also returns per-column
    * counts and exclusive global offsets. */
  private def sortedMelt(df: DataFrame, cols: Seq[String])
      : (org.apache.spark.rdd.RDD[(Int, Double)], Array[Long], Array[Long],
         Array[Long], DataFrame) = {
    val k = cols.length
    val melted = numericCells(df, cols)
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    // cache the sorted DATAFRAME (compressed Tungsten columnar batches),
    // not an RDD of boxed (Int, Double) tuples: at 240M melted rows the
    // tuple objects cost ~48 B each plus GC scanning, which measured as
    // the dominant superlinearity at ×100 scale. InMemoryRelation
    // preserves the range partitioning and intra-partition order, so the
    // .rdd views below still walk the global (vid, value) order.
    val sortedDf = melted.repartitionByRange(parts, col("vid"), col("value"))
      .sortWithinPartitions("vid", "value")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = sortedDf.rdd.map(r => (r.getInt(0), r.getDouble(1)))
    // ONE counting job yields BOTH the per-column totals and each
    // partition's global start offset (the RDD is range-sorted, so every
    // partition is a contiguous slice of the global (vid, value) order) —
    // callers then pick ranks with mapPartitionsWithIndex instead of
    // zipWithIndex, whose internal size pass would be a third job per sort
    val perPart: Array[(Int, Array[Long])] = pairs
      .mapPartitionsWithIndex { (pi, it) =>
        val cnt = new Array[Long](k)
        it.foreach(p => cnt(p._1) += 1L)
        Iterator.single((pi, cnt))
      }.collect()
    val totals = new Array[Long](pairs.getNumPartitions)
    val ns = new Array[Long](k)
    perPart.foreach { case (pi, cnt) =>
      var s = 0L; var i = 0
      while (i < k) { s += cnt(i); ns(i) += cnt(i); i += 1 }
      totals(pi) = s
    }
    (pairs, ns, ns.scanLeft(0L)(_ + _), totals.scanLeft(0L)(_ + _), sortedDf)
  }

  /** Values at the given GLOBAL ranks of a [[sortedMelt]] RDD, in one job:
    * each partition walks its contiguous slice with a running global index
    * starting at its precomputed offset. */
  private def valuesAtRanks(pairs: org.apache.spark.rdd.RDD[(Int, Double)],
                            partStart: Array[Long],
                            needed: Set[Long]): Map[Long, Double] =
    pairs.mapPartitionsWithIndex { (pi, it) =>
      var gi = partStart(pi)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      it.foreach { case (_, v) =>
        if (needed(gi)) out += ((gi, v))
        gi += 1
      }
      out.iterator
    }.collect().toMap

  /** Quantile normalization (the expression-array classic): each column's
    * values are replaced by the MEAN across columns of the value at the
    * same rank, forcing identical marginal distributions while preserving
    * each column's ordering. Columns with unequal non-null counts use the
    * standard generalization (the rank mean averages whichever columns
    * have that rank). Returns LONG format (id, variable, normalized).
    *
    * Scale shape: the same ONE Tungsten range sort as
    * [[exactQuantilesAll]] but carrying the row id, so per-column ranks
    * come from the sorted partitions' global index minus the column
    * offset; rank means are one O(maxN) aggregation and the remap is one
    * join keyed by rank. Ties break by id — deterministic in any engine.
    * `idCol` must be integral (it is carried as a long through the sort). */
  def quantileNormalize(df: DataFrame, cols: Seq[String],
                        idCol: String): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val k = cols.length
    val melted = numericCells(df, cols, col(idCol).as("__id"))
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // cache the sorted DATAFRAME (compressed Tungsten columnar), not boxed
    // tuples — same reasoning as sortedMelt: object-per-row storage was
    // the dominant superlinearity at ×100 scale
    val sortedDf = melted
      .repartitionByRange(parts, col("vid"), col("value"), col("__id"))
      .sortWithinPartitions("vid", "value", "__id")
      .select(col("vid"), col("value"), col("__id").cast("long").as("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Global rank WITHOUT leaving columnar execution (r17): the old
      // shape boxed every cached row through countByValue + an RDD
      // zipWithIndex, and the ranked frame's TWO consumers each re-ran
      // that object churn (profiled: the two dominant stages, ~19 s
      // summed task time, 2.5 s GC). Instead: one tiny metadata
      // aggregation (per-partition per-vid counts via
      // spark_partition_id) gives each partition's global start and each
      // column's offset, and the rank becomes a pure codegen expression
      // over monotonically_increasing_id's documented encoding
      // (partitionId << 33 | row-in-partition, stable on the cached
      // sort's fixed partitioning) plus two broadcast literal arrays.
      // Consumers now read the compressed columnar cache directly.
      //
      // INVARIANT (r17 verdict #3): the rank expression is evaluated on a
      // LATER action than the metadata collect, so correctness requires
      // any evicted-and-recomputed cache partition to reproduce the exact
      // row order. That holds because (a) the sort key (vid, value, __id)
      // is TOTAL — no duplicate keys, hence a unique in-partition order —
      // and (b) repartitionByRange's boundary sampling is seeded
      // deterministically per input partition (XORShiftRandom over
      // byteswap64(partitionId)), so re-execution of a lost block yields
      // identical partition contents. MEMORY_AND_DISK additionally makes
      // recomputation an executor-loss-only event. A nondeterministic
      // source (rand() columns) would void (b) — same contract as
      // Blocklist.filterOut's two-scan note.
      val nParts = sortedDf.rdd.getNumPartitions
      val pc = sortedDf
        .groupBy(spark_partition_id().as("__pid"), col("vid")).count().collect()
      val cnt = Array.ofDim[Long](nParts, k)
      pc.foreach(r => cnt(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      val colTotals = new Array[Long](k)
      var p = 0
      while (p < nParts) {
        var i = 0; while (i < k) { colTotals(i) += cnt(p)(i); i += 1 }; p += 1
      }
      val offsets = colTotals.scanLeft(0L)(_ + _)
      val partStart = Array.tabulate(nParts)(q => cnt(q).sum).scanLeft(0L)(_ + _)
      val partStartLit = array(partStart.take(nParts).map(lit): _*)
      val offLit = array(offsets.take(k).map(lit): _*)
      val midCol = monotonically_increasing_id()
      val ranked = sortedDf
        .withColumn("rank",
          element_at(partStartLit, shiftright(midCol, 33).cast("int") + 1)
            + midCol.bitwiseAND(lit((1L << 33) - 1))
            - element_at(offLit, col("vid") + 1))
        .withColumnRenamed("__id", "id")
      val rankMeans = ranked.groupBy("rank")
        .agg(avg(col("value")).as("__rm"))
      val names = cols.zipWithIndex.map { case (c, j) => (j, c) }.toDF("vid", "variable")
      val out = ranked.join(rankMeans, Seq("rank"))
        .join(broadcast(names), Seq("vid"))
        .select(col("id").as(idCol), col("variable"),
          col("__rm").as("normalized"))
        // the checkpoint above computed the sort eagerly; materialize the
        // result (truncating lineage) so the cached sort can be released
        .localCheckpoint(true)
      out
    } finally sortedDf.unpersist(blocking = false)
  }

  /** Exact type-7 quantiles for ALL columns via BRACKET SELECTION — two
    * scans, zero sort, zero persist, nothing row-scale on the driver:
    *
    *  1. ONE aggregation: per column n/min/max plus `percentile_approx`
    *     sketches at each fraction padded by ±4/accuracy. The GK sketch's
    *     published guarantee (returned value's rank within ±n/accuracy of
    *     target) makes the padded pair a BRACKET whose rank span provably
    *     contains the exact floor/ceil ranks; columns with n < accuracy/2
    *     (where ±1-rank discretization could matter) widen to [min, max].
    *  2. ONE melted aggregation: each (vid, value) maps to its bracket
    *     zone — values inside a bracket keep their value, values in the
    *     gaps collapse to a single per-gap counter — then
    *     groupBy(vid, zone, value).count(). The shuffle carries only
    *     in-bracket DISTINCT values (≈ 8n/accuracy ranks wide, fewer with
    *     ties) plus O(#brackets) gap counters per column.
    *
    * The driver then walks gap counts + per-bracket sorted distinct counts
    * — an exact partial CDF — to read off the order statistics, and
    * interpolates type-7 (= DuckDB `quantile_cont`, pandas default), so
    * oracle parity is bit-identical to the sort path this replaces. The
    * sort path (sortedMelt at ×10 data measured ×12.8 wall: 240M boxed
    * (Int, Double) pairs persisted through two passes = GC + spill) is
    * kept as [[exactQuantilesAllSorted]] and used as a fallback iff a
    * needed rank lands outside every bracket — impossible under the GK
    * contract, but exactness here must not depend on a sketch bound.
    *
    * At 100 TB: both scans are map-side-combined aggregations; sketch
    * state is O(accuracy) per column; the collect is O(8n/accuracy)
    * values per fraction — `graft.quantile.accuracy` trades the two
    * (raise to √n-ish for trillion-row columns). */
  def exactQuantilesAll(df: DataFrame, cols: Seq[String], fractions: Seq[Double])
      : Map[String, Option[Seq[Double]]] = {
    if (cols.isEmpty) return Map.empty
    require(fractions.nonEmpty && fractions.forall(q => q >= 0.0 && q <= 1.0),
      s"fractions must be in [0, 1]: $fractions")
    val spark = df.sparkSession
    val k = cols.length
    val accuracy0 = graft.GraftConf.positiveLong(spark, "graft.quantile.accuracy", 10000L)
    require(accuracy0 <= Int.MaxValue,
      s"graft.quantile.accuracy must be <= ${Int.MaxValue}, got $accuracy0")
    val accuracy = accuracy0.toInt
    val eps = 1.0 / accuracy

    // ---- pass 1: n / min / max / padded sketch brackets, one agg job
    val padded = fractions.flatMap { q =>
      Seq(math.max(0.0, q - 4 * eps), math.min(1.0, q + 4 * eps)) }
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      // NaN excluded like the sort path (pandas drops them from quantiles)
      val clean = when(isnan(v), lit(null).cast("double")).otherwise(v)
      Seq(count(clean), min(clean), max(clean),
        percentile_approx(clean, array(padded.map(lit): _*), lit(accuracy)))
    }
    val r1 = df.agg(aggs.head, aggs.tail: _*).head()
    val ns = Array.tabulate(k)(i => r1.getLong(4 * i))
    val mns = Array.tabulate(k)(i => if (r1.isNullAt(4 * i + 1)) Double.NaN else r1.getDouble(4 * i + 1))
    val mxs = Array.tabulate(k)(i => if (r1.isNullAt(4 * i + 2)) Double.NaN else r1.getDouble(4 * i + 2))
    val sks = Array.tabulate(k)(i =>
      if (r1.isNullAt(4 * i + 3)) Seq.empty[Double] else r1.getSeq[Double](4 * i + 3))

    // per column: merged disjoint brackets (ascending)
    val brackets: Array[Seq[(Double, Double)]] = Array.tabulate(k) { i =>
      // empty column: no melted rows can match, but the literal array
      // below must still typecheck — a degenerate bracket stands in.
      // n < accuracy: the 4/accuracy pad's rank margin (3n/accuracy below
      // the queried fraction) must clear the ±2-rank gap between q·n and
      // floor(q·(n-1)) — widen to [min, max] instead (≤ n ≤ accuracy
      // distinct values collected, bounded)
      if (ns(i) == 0L) Seq((0.0, 0.0))
      else if (ns(i) < accuracy || sks(i).isEmpty) Seq((mns(i), mxs(i)))
      else {
        val raw = fractions.indices.map { j =>
          val (a, b) = (sks(i)(2 * j), sks(i)(2 * j + 1))
          (math.min(a, b), math.max(a, b)) // GK answers should be monotone
        }.sortBy(_._1)
        raw.tail.foldLeft(Vector(raw.head)) { (acc, b) =>
          if (b._1 <= acc.last._2) acc.init :+ ((acc.last._1, math.max(acc.last._2, b._2)))
          else acc :+ b
        }
      }
    }

    // ---- pass 2: melt, zone-collapse, count. zone 2j+1 = inside bracket
    // j (value kept); zone 2j = the gap below bracket j (value nulled).
    // The zone is computed with PLAIN when-chains over the per-column
    // bracket bounds (r18, guide §4): the previous array-HOF form —
    // size(filter(los, value >= _)) + element_at — is CodegenFallback,
    // so every melted value paid an interpreted lambda and the Project
    // split the whole-stage-codegen span (psi_drift's pass-2 stage
    // measured 838 ms of its 2.1 s task time here). zone =
    // Σ_i [value >= lo_i] + [value > hi_i] over the ascending disjoint
    // brackets is the identical encoding: inside bracket k it counts
    // k + (k−1) = 2k−1, in the gap above bracket k it counts 2k.
    // balanced trees, not left-nested chains: a 500-column caller
    // (removeOutliers at width) would otherwise nest 500 when().otherwise()
    // levels and overflow the recursive Column-node converter; the binary
    // vid dispatch is depth log2(k) and evaluates one branch per row
    def balancedSum(xs: Seq[Column]): Column =
      if (xs.size == 1) xs.head
      else balancedSum(xs.grouped(2).map(_.reduce(_ + _)).toSeq)
    def zoneOf(j: Int): Column = balancedSum(brackets(j).map { case (lo, hi) =>
      when(col("value") >= lit(lo), 1).otherwise(0) +
        when(col("value") > lit(hi), 1).otherwise(0)
    })
    def dispatch(lo: Int, hi: Int): Column =
      if (hi - lo == 1) zoneOf(lo)
      else {
        val mid = (lo + hi) / 2
        when(col("vid") < mid, dispatch(lo, mid)).otherwise(dispatch(mid, hi))
      }
    val zoneExpr: Column = dispatch(0, k)
    val melted = numericCells(df, cols)
    val rows2 = melted
      .select(col("vid"), zoneExpr.as("zone"),
        when(zoneExpr % 2 === 1, col("value")).as("v"))
      .groupBy("vid", "zone", "v").agg(count(lit(1)).as("cnt"))
      .collect()

    // ---- driver: exact partial CDF per column
    // cumStart(zone) = #values in all zones below; inside odd zones the
    // distinct values are sorted and walked with their tie counts
    val byVid = rows2.groupBy(_.getInt(0))
    val missed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val out: Map[String, Option[Seq[Double]]] = cols.zipWithIndex.map { case (c, i) =>
      if (ns(i) == 0L) c -> None
      else {
        val rows = byVid.getOrElse(i, Array.empty)
        val zoneTotals = rows.groupBy(_.getInt(1)).view
          .mapValues(_.map(_.getLong(3)).sum).toMap
        val maxZone = 2 * brackets(i).length
        val cumStart = new Array[Long](maxZone + 2)
        (0 to maxZone).foreach { z =>
          cumStart(z + 1) = cumStart(z) + zoneTotals.getOrElse(z, 0L) }
        // sorted distinct values + counts per odd zone
        val zoneVals: Map[Int, Array[(Double, Long)]] = rows
          .filter(r => r.getInt(1) % 2 == 1)
          .groupBy(_.getInt(1)).view.mapValues(
            _.map(r => (r.getDouble(2), r.getLong(3))).sortBy(_._1)).toMap
        def valueAtRank(target: Long): Option[Double] = {
          val z = (1 to maxZone by 2).find(z =>
            target >= cumStart(z) && target < cumStart(z + 1))
          z.flatMap { zz =>
            var rem = target - cumStart(zz)
            zoneVals.getOrElse(zz, Array.empty).iterator
              .find { case (_, cnt) => if (rem < cnt) true else { rem -= cnt; false } }
              .map(_._1)
          }
        }
        val qs = fractions.map { q =>
          val h = (ns(i) - 1) * q
          val lo = math.floor(h).toLong
          (valueAtRank(lo), valueAtRank(math.ceil(h).toLong)) match {
            // exact-rank hit returns the order statistic itself — the
            // lerp would turn ±Inf neighbors into Inf−Inf = NaN
            case (Some(vl), Some(vh)) =>
              if (h == lo) vl else vl + (h - lo) * (vh - vl)
            case _ => missed.set(true); Double.NaN
          }
        }
        c -> Some(qs)
      }
    }.toMap
    if (missed.get()) {
      logSink("exactQuantilesAll: a target rank fell outside every " +
        "sketch bracket (GK bound violated?) — falling back to the sort path")
      exactQuantilesAllSorted(df, cols, fractions)
    } else out
  }

  /** The pre-r10 sort-based exact path ([[sortedMelt]] + rank pick) —
    * retained as the fallback for [[exactQuantilesAll]]'s bracket miss
    * guard and for tests proving both paths agree. */
  private[graft] def exactQuantilesAllSorted(df: DataFrame, cols: Seq[String],
                                             fractions: Seq[Double])
      : Map[String, Option[Seq[Double]]] = {
    if (cols.isEmpty) return Map.empty
    val k = cols.length
    val (pairs, ns, offsets, partStart, cached) = sortedMelt(df, cols)
    try {
    val needed: Set[Long] = (0 until k).flatMap { i =>
      if (ns(i) == 0) Nil
      else fractions.flatMap { q =>
        val h = (ns(i) - 1) * q
        Seq(offsets(i) + math.floor(h).toLong, offsets(i) + math.ceil(h).toLong)
      }
    }.toSet
    val found: Map[Long, Double] = valuesAtRanks(pairs, partStart, needed)
    cols.zipWithIndex.map { case (c, i) =>
      if (ns(i) == 0) c -> None
      else c -> Some(fractions.map { q =>
        val h = (ns(i) - 1) * q
        val lo = math.floor(h).toLong
        val vl = found(offsets(i) + lo); val vh = found(offsets(i) + math.ceil(h).toLong)
        // exact-rank hit: no lerp (±Inf neighbors would yield NaN)
        if (h == lo) vl else vl + (h - lo) * (vh - vl)
      })
    }.toMap
    } finally cached.unpersist(blocking = false)
  }

  /** Leave-one-out TARGET ENCODING — the standard high-cardinality
    * categorical encoder for tabular ML: each row's category is replaced
    * by the mean target of the OTHER rows in that category,
    * (Σ_cat target − own target) / (n_cat − 1). Leaving the own row out
    * is what prevents the target leak a plain category-mean encoder has.
    *
    * Plan shape: one map-side-combined (category) aggregation — O(#cats)
    * rows — joined back, then a zero-shuffle projection: the corpus
    * never shuffles for the encode itself (a per-category window would
    * also collapse parallelism to #categories — the describe_gini
    * lesson). Rows whose category is a singleton (n = 1) encode null (no
    * "others" to average); null targets are excluded from the sums and
    * encode null; null categories join nothing and encode null (SQL join
    * semantics — encode them explicitly upstream if they are meaningful).
    *
    * Broadcast is GATED, not forced: the operator exists FOR
    * high-cardinality categoricals, and at extreme cardinality (tens of
    * millions of categories at the 100 TB design point) a forced
    * broadcast OOMs the driver. The stats side gets the broadcast hint
    * only when its Catalyst size estimate fits 256 MiB; past the cap it
    * stays a plain join, where AQE still converts to broadcast at runtime
    * if the ACTUAL aggregated size turns out small (the estimate for an
    * aggregate is child-size-bounded, i.e. conservative).
    *
    * Determinism: pass an integer-valued target (cast it) and the sums
    * are exact int64, making the encoding one division of exact
    * integers — partitioning- and engine-invariant.
    *
    * Side effect: sizing the broadcast gate reads the stats frame's
    * `optimizedPlan`, which ANALYZES AND OPTIMIZES the input plan eagerly
    * at call time (no job runs, but plan errors surface here rather than
    * at the first action). */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                      out: String = "te_loo"): DataFrame =
    targetEncodeLoo(df, catCol, targetCol, out, TargetEncodeBroadcastMaxBytes)

  private val TargetEncodeBroadcastMaxBytes = 256L << 20

  /** [[targetEncodeLoo]] with the broadcast cap `maxBytes`. */
  private[graft] def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                                     out: String, maxBytes: Long): DataFrame = {
    val t = col(targetCol)
    val stats = df.groupBy(col(catCol))
      .agg(sum(t).as("__te_s"), count(t).as("__te_n"))
    val est = stats.queryExecution.optimizedPlan.stats.sizeInBytes
    val statsSide = if (est <= BigInt(maxBytes)) broadcast(stats) else stats
    df.join(statsSide, Seq(catCol), "left")
      .withColumn(out,
        when(col("__te_n") > 1L && t.isNotNull,
          (col("__te_s") - t).cast("double") / (col("__te_n") - 1L))
          .otherwise(lit(null).cast("double")))
      .drop("__te_s", "__te_n")
  }

  /** Winsorize: CLAMP values beyond the [lower, upper] quantiles to the
    * quantile bounds (the keep-the-row alternative to removeOutliers'
    * null-ing — preserves n for downstream models while taming tails).
    * Bounds come from the same ONE-range-sort-for-all-columns batch as
    * IQR outliers ([[exactQuantilesAll]], type-7 = DuckDB quantile_cont);
    * the clamp itself is a zero-shuffle projection. Nulls pass through. */
  def winsorize(df: DataFrame, cols: Seq[String], lower: Double = 0.05,
                upper: Double = 0.95): DataFrame = {
    require(lower >= 0 && upper <= 1 && lower < upper,
      s"need 0 <= lower < upper <= 1: ($lower, $upper)")
    val bounds = exactQuantilesAll(df, cols, Seq(lower, upper))
    cols.foldLeft(df) { (d, c) =>
      bounds(c) match {
        case Some(Seq(lo, hi)) =>
          val v = col(c).cast("double")
          d.withColumn(c,
            when(v.isNull, lit(null).cast("double"))
              .when(v < lo, lit(lo)).when(v > hi, lit(hi)).otherwise(v))
        case _ => d
      }
    }
  }

  /** Robust (median/MAD) standardization: x → (x − median) / (1.4826·MAD)
    * — the outlier-insensitive alternative to z-scores (a single extreme
    * value moves mean AND sd, but not the medians; 1.4826 makes MAD a
    * consistent σ estimator under normality). Two batched
    * [[exactQuantilesAll]] range sorts (ALL columns per pass: one for the
    * medians, one for the deviation medians), then a zero-shuffle
    * projection. Columns with MAD = 0 (constant-majority) scale to null
    * rather than ±Inf. Type-7 quantiles = DuckDB quantile_cont, so the
    * whole transform replays in SQL. */
  def robustScale(df: DataFrame, cols: Seq[String],
                  consistency: Double = 1.4826022185056018): DataFrame = {
    val params = robustScaleParams(df, cols)
    cols.foldLeft(df) { (d, c) =>
      params.getOrElse(c, None) match {
        case Some((m, md)) if md > 0 =>
          d.withColumn(c,
            (col(c).cast("double") - lit(m)) / lit(consistency * md))
        case Some(_) =>
          d.withColumn(c, lit(null).cast("double"))
        case None => d
      }
    }
  }

  /** (median, MAD) per column, adaptive on distinct-value cardinality:
    *
    *  - LOW-distinct columns (HLL estimate × 1.3 fits the
    *    `graft.robustScale.maxDistinct` driver budget, default 2M values
    *    TOTAL across columns): ONE melted groupBy(vid, value).count gives
    *    the full exact CDF; median AND MAD are then driver arithmetic over
    *    the distinct values — 2 scans, no GK sketch, no deviation pass.
    *    This is the rintMap "aggregate first, ties collapse" shape: a
    *    100 TB integer-coded column shuffles thousands of distinct rows,
    *    not billions, and the MAD needs no second pass because
    *    |v − median| is a per-DISTINCT-value map the driver re-sorts.
    *  - HIGH-distinct columns: the r10 bracket-selection path (two batched
    *    [[exactQuantilesAll]] calls — sketch brackets + melted refinement
    *    for the medians, again for the deviation medians).
    *
    * Both paths produce the identical type-7 order statistics (same
    * floor/ceil-rank lerp, same IEEE abs), so results are bit-equal to
    * the sort path and to DuckDB `quantile_cont`. The cardinality routing
    * is perf-only: a mis-estimate can only move a column to the slower
    * (still exact) path or enlarge the driver collect by the estimate's
    * error factor. */
  private[graft] def robustScaleParams(df: DataFrame, cols: Seq[String])
      : Map[String, Option[(Double, Double)]] = {
    if (cols.isEmpty) return Map.empty
    val spark = df.sparkSession
    val budget = graft.GraftConf.positiveLong(spark, "graft.robustScale.maxDistinct", 2000000L)
    def clean(c: String) = {
      val v = col(c).cast("double")
      when(isnan(v), lit(null).cast("double")).otherwise(v)
    }
    // job 0: per-column n + HLL distinct estimate — cheap relative to the
    // GK sketch the bracket path would build (hash+max per row vs a
    // compressed quantile summary insert)
    val aggs0 = cols.flatMap(c => Seq(count(clean(c)), approx_count_distinct(clean(c), 0.05)))
    val r0 = df.agg(aggs0.head, aggs0.tail: _*).head()
    val ns = Array.tabulate(cols.length)(i => r0.getLong(2 * i))
    val ests = Array.tabulate(cols.length)(i => r0.getLong(2 * i + 1))
    // greedily admit columns (smallest estimate first) while the padded
    // total fits the driver budget; the rest take the bracket path
    val nonEmpty = cols.indices.filter(ns(_) > 0L)
    var used = 0L
    val lowIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    nonEmpty.sortBy(ests(_)).foreach { i =>
      val padded = math.ceil(ests(i) * 1.3).toLong
      if (used + padded <= budget) { used += padded; lowIdx += i }
    }
    val lowSet = lowIdx.toSet
    val highCols = nonEmpty.filterNot(lowSet).map(cols(_))

    val lowParams: Map[String, Option[(Double, Double)]] =
      if (lowIdx.isEmpty) Map.empty
      else {
        val lowCols = lowIdx.toSeq.sorted.map(cols(_))
        val counted = numericCells(df, lowCols)
          .groupBy("vid", "value").agg(count(lit(1)).as("cnt"))
          .collect()
        // exact type-7 order statistic over (value, cnt) runs — the same
        // floor/ceil-rank lerp as the bracket path (exact-rank hit returns
        // the order statistic itself; no Inf−Inf lerp)
        def typ7(sorted: Array[(Double, Long)], n: Long, q: Double): Double = {
          val h = (n - 1) * q
          val lo = math.floor(h).toLong
          val hi = math.ceil(h).toLong
          def at(target: Long): Double = {
            var cum = 0L; var j = 0
            while (j < sorted.length) {
              cum += sorted(j)._2
              if (target < cum) return sorted(j)._1
              j += 1
            }
            sorted.last._1 // unreachable when target < n
          }
          val vl = at(lo)
          if (h == lo) vl else { val vh = at(hi); vl + (h - lo) * (vh - vl) }
        }
        val byVid = counted.groupBy(_.getInt(0))
        lowCols.zipWithIndex.map { case (c, j) =>
          val i = cols.indexOf(c)
          val vals = byVid.getOrElse(j, Array.empty)
            .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
          val m = typ7(vals, ns(i), 0.5)
          val devs = vals.map { case (v, cnt) => (math.abs(v - m), cnt) }.sortBy(_._1)
          c -> Some((m, typ7(devs, ns(i), 0.5)))
        }.toMap
      }

    val highParams: Map[String, Option[(Double, Double)]] =
      if (highCols.isEmpty) Map.empty
      else {
        val med = exactQuantilesAll(df, highCols, Seq(0.5))
        val usable = highCols.filter(med(_).isDefined)
        val devs = usable.foldLeft(df) { (d, c) =>
          d.withColumn(s"__dev_$c", abs(col(c).cast("double") - lit(med(c).get.head)))
        }
        val mad = exactQuantilesAll(devs, usable.map(c => s"__dev_$c"), Seq(0.5))
        highCols.map { c =>
          (med(c), if (usable.contains(c)) mad(s"__dev_$c") else None) match {
            case (Some(Seq(m)), Some(Seq(md))) => c -> Some((m, md))
            case _ => c -> None
          }
        }.toMap
      }

    cols.map(c => c -> (lowParams.orElse(highParams).lift(c).flatten)).toMap
  }

  /** Rank-based inverse-normal transform (RINT) — the standard EWAS/GWAS
    * normalization for non-normal phenotypes: each value maps to
    * Φ⁻¹((r − c) / (n − 2c + 1)) where r is its AVERAGE rank (ties share
    * the mean of their rank run) and c is the Blom offset (default 3/8).
    *
    * Returns the transform MAP (variable, value, n_ties, rint) — one row
    * per distinct value; [[rankInverseNormal]] joins it back onto rows.
    *
    * Scale shape (r10): AGGREGATE FIRST, SORT THE DISTINCT. The previous
    * shape range-sorted the raw melted rows and then reduceByKey'd them —
    * two row-scale shuffles. The rank map only needs per-DISTINCT-value
    * state, so: one melted groupBy(vid, value).count (map-side combined —
    * the only row-scale shuffle), then a range sort of the distinct rows
    * only, and below-counts from per-partition per-column prefix sums
    * (one tiny metadata job; the sorted partitions are contiguous slices
    * of each column's value order). Ties collapse BEFORE the sort, so a
    * heavily-tied 100 TB column sorts thousands of rows, not billions.
    * Φ⁻¹ is [[graft.stats.ColMath.normalPpf]] — column algebra that
    * replays verbatim in the SQL oracle. */
  def rintMap(df: DataFrame, cols: Seq[String],
              offset: Double = 0.375): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val k = cols.length
    val counted = numericCells(df, cols)
      .groupBy("vid", "value").agg(count(lit(1)).as("cnt"))
    val parts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val sortedDf = counted.repartitionByRange(parts, col("vid"), col("value"))
      .sortWithinPartitions("vid", "value")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one metadata job: per-partition per-column value totals → each
      // partition's per-column below-count offset and the column n's
      val perPart: Array[(Int, Array[Long])] = sortedDf.rdd
        .mapPartitionsWithIndex { (pi, it) =>
          val tot = new Array[Long](k)
          it.foreach(r => tot(r.getInt(0)) += r.getLong(2))
          Iterator.single((pi, tot))
        }.collect().sortBy(_._1)
      val nParts = sortedDf.rdd.getNumPartitions
      val belowStart = Array.ofDim[Long](nParts, k)
      val ns = new Array[Long](k)
      perPart.foreach { case (pi, tot) =>
        var i = 0
        while (i < k) {
          belowStart(pi)(i) = ns(i); ns(i) += tot(i); i += 1
        }
      }
      val colNames = cols.toArray
      val nsB = ns
      val grouped = sortedDf.rdd
        .mapPartitionsWithIndex { (pi, it) =>
          val below = belowStart(pi).clone()
          it.map { r =>
            val i = r.getInt(0); val v = r.getDouble(1); val c = r.getLong(2)
            val b = below(i); below(i) += c
            (colNames(i), v, b, c, nsB(i))
          }
        }
        .toDF("variable", "value", "below", "n_ties", "n")
      grouped
        .withColumn("avg_rank",
          col("below").cast("double") + (col("n_ties").cast("double") + 1.0) / 2.0)
        .withColumn("rint", graft.stats.ColMath.normalPpf(
          (col("avg_rank") - lit(offset)) /
            (col("n").cast("double") + lit(1.0 - 2.0 * offset))))
        .select("variable", "value", "n_ties", "rint")
        // the map is distinct-value-sized; materialize it so the cached
        // sort can be released before the caller's downstream join runs
        .localCheckpoint(true)
    } finally sortedDf.unpersist(blocking = false)
  }

  /** Apply [[rintMap]] to the rows: adds `<col>_rint` per listed column
    * (null where the value is null). ONE melted join whatever the column
    * count: rows posexplode to (row_id, col_idx, value) — contiguous, no
    * shuffle — then a single (variable, value)-keyed left join against the
    * map, a pivot-back aggregation, and a re-join on row_id. Per-column
    * joins would be catastrophic for wide continuous data: the map side is
    * O(#distinct) ≈ O(rows) there, so each of 500 columns would be its own
    * full shuffle join (and a 500-join plan besides). Here the pivot's
    * map-side partial agg collapses each row's C melted entries in place
    * (they never leave their partition), so the shuffle carries ~one row
    * per input row regardless of width. row_id is
    * monotonically_increasing_id, localCheckpoint-pinned so every plan
    * branch reads the SAME materialized id assignment even when the
    * upstream is non-deterministic (sample, task retry). */
  def rankInverseNormal(df: DataFrame, cols: Seq[String],
                        offset: Double = 0.375): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val m = rintMap(df, cols, offset)
    // localCheckpoint pins ONE materialized id assignment: __rid is
    // consumed by two plan branches (melted and the final re-join), and
    // monotonically_increasing_id would otherwise be recomputed per branch
    // — a non-deterministic upstream (sample, task retry, reordering
    // shuffle) could then silently misalign rows to the wrong __rid.
    val withId = df.withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint()
    val melted = withId
      .select(col("__rid"),
        posexplode(array(cols.map(c => col(c).cast("double")): _*)))
      .select(col("__rid"), col("pos").as("__ci"),
        element_at(array(cols.map(lit): _*), col("pos") + 1).as("variable"),
        col("col").as("value"))
    val joined = melted.join(
      m.select(col("variable"), col("value"), col("rint")),
      Seq("variable", "value"), "left")
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      max(when(col("__ci") === i, col("rint"))).as(s"${c}_rint") }
    val pivoted = joined.groupBy("__rid").agg(aggs.head, aggs.tail: _*)
    withId.join(pivoted, Seq("__rid")).drop("__rid")
  }

  /** Equi-depth (quantile) binning: adds `<col>_bin` ∈ [0, k) per listed
    * column — the quality-decile / popularity-band assignment step of
    * corpus curation, without the global percent_rank window (which would
    * funnel the table through one partition). Bounds come from ONE batched
    * exact range-sort for ALL columns ([[exactQuantilesAll]], type-7
    * interpolation = DuckDB `quantile_cont`); assignment is then the
    * zero-shuffle predicate `bin = #bounds < value`. Values equal to an
    * interior bound land in the LOWER bin — plain `>` comparisons, so the
    * assignment replays in any SQL engine; null values get null bins.
    * Interpolated bounds sit strictly between adjacent order statistics,
    * so a last-ulp difference in the interpolation arithmetic can never
    * flip a data value across a bound. */
  def quantileBins(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val fractions = (1 until k).map(_.toDouble / k)
    val bounds = exactQuantilesAll(df, cols, fractions)
    cols.foldLeft(df) { (d, c) =>
      bounds(c) match {
        case None => d.withColumn(s"${c}_bin", lit(null).cast("int"))
        case Some(bs) =>
          val v = col(c).cast("double")
          val cnt = bs.map(b => when(v > lit(b), 1).otherwise(0)).reduce(_ + _)
          d.withColumn(s"${c}_bin", when(v.isNotNull, cnt).otherwise(lit(null).cast("int")))
      }
    }
  }

  /** transform: apply a whitelisted unary function to continuous variables
    * (reference: modify.py:943-1008). Named whitelist → built-in codegen'd
    * Column functions; arbitrary code execution is deliberately impossible. */
  def transform(cf: CladeFrame, method: String,
                skip: Option[Seq[String]] = None,
                only: Option[Seq[String]] = None): CladeFrame = {
    val fn: Column => Column = method match {
      case "log"   => log(_)
      case "log10" => log10(_)
      case "log1p" => log1p(_)
      case "sqrt"  => sqrt(_)
      case "exp"   => exp(_)
      case "abs"   => abs(_)
      case "square" => c => c * c
      case "cbrt"  => cbrt(_)
      case "reciprocal" => c => lit(1.0) / c
      case other => throw new IllegalArgumentException(s"unknown transform: $other")
    }
    val selected = cf.resolveSkipOnly(skip, only)
    val bad = selected.filterNot(cf.typeOf(_) == Continuous)
    require(bad.isEmpty,
      s"transformations may only be applied to continuous variables: ${bad.mkString(", ")}")
    cf.copy(df = cf.df.withColumns(selected.map(c => c -> fn(col(c).cast(DoubleType))).toMap))
  }

  /** Yeo-Johnson profile-likelihood GRID — the power-transform
    * normality diagnostic (sklearn PowerTransformer's estimator, but
    * emitting the whole grid instead of a float-fragile argmax): for each
    * column and each λ, the Gaussian profile log-likelihood of the
    * transformed values, llf(λ) = −n/2·ln(σ̂²_λ) + (λ−1)·Σ sgn(x)·ln(|x|+1),
    * where ψ_λ handles the four Yeo-Johnson branches (x≥0 / x<0, λ at the
    * log singularities 0 and 2). Callers pick λ* from the grid (reporting
    * the grid keeps the oracle exact — an argmax between two near-equal
    * llf values is where cross-engine ulps bite; the grid values
    * themselves round robustly).
    *
    * ONE aggregation job evaluates every (column, λ) cell: the per-row ψ
    * and its square are plain column algebra, so the scan stays
    * whole-stage-codegen and the shuffle carries O(#cols × #λ × 3)
    * partial sums. NaN/null excluded per column (quantile-family
    * convention). Returns (variable, lambda, n, llf). */
  def yeoJohnsonGrid(df: DataFrame, cols: Seq[String],
                     lambdas: Seq[Double] =
                       (-4 to 4).map(_ * 0.5)): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(lambdas.nonEmpty, "lambdas must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    def psi(x: Column, lam: Double): Column = {
      val pos =
        if (lam == 0.0) log(x + 1.0)
        else (pow(x + 1.0, lam) - 1.0) / lam
      val neg =
        if (lam == 2.0) -log(-x + 1.0)
        else -(pow(-x + 1.0, 2.0 - lam) - 1.0) / (2.0 - lam)
      when(x >= 0, pos).otherwise(neg)
    }
    def clean(c: String): Column = {
      val v = col(c).cast("double")
      when(isnan(v), lit(null).cast("double")).otherwise(v)
    }
    // cardinality routing (the robustScale discipline, but the low path
    // stays DISTRIBUTED — the budget trades a distinct-row shuffle
    // against per-row pow evaluation, not driver memory): tied columns
    // evaluate the 4·|λ| pow-heavy psi cells once per DISTINCT value and
    // weight by tie counts — l_quantity-style integer columns pay ~50
    // psi evaluations instead of 60M × |λ|. High-cardinality columns
    // keep the zero-shuffle one-scan aggregation.
    val budget = graft.GraftConf.positiveLong(spark, "graft.powerTransform.maxDistinct", 4000000L)
    val aggs0 = cols.map(c => approx_count_distinct(clean(c), 0.05))
    val r0 = df.agg(aggs0.head, aggs0.tail: _*).head()
    val (lowCols, highCols) = cols.zipWithIndex.partition {
      case (_, i) => r0.getLong(i) * 13 / 10 <= budget
    }

    def llfOf(c: String, lam: Double, n: Long, sp: Double, spp: Double,
              slog: Double): (String, Double, Long, Option[Double]) = {
      if (n < 2) (c, lam, n, None)
      else {
        // biased (MLE) variance, sklearn's convention
        val sigma2 = (spp - sp * sp / n) / n
        val llf =
          if (sigma2 <= 0) None // constant transform: llf diverges
          else Some(-n / 2.0 * math.log(sigma2) + (lam - 1.0) * slog)
        (c, lam, n, llf)
      }
    }

    val highRows =
      if (highCols.isEmpty) Nil
      else {
        val aggs = for { (c, _) <- highCols; lam <- lambdas } yield {
          val x = clean(c)
          val p = psi(x, lam)
          struct(count(x).as("n"), sum(p).as("sp"), sum(p * p).as("spp"),
            sum(signum(x) * log(abs(x) + 1.0)).as("slog")).as(s"__${c}__$lam")
        }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        highCols.map(_._1).zipWithIndex.flatMap { case (c, ci) =>
          lambdas.zipWithIndex.map { case (lam, li) =>
            val cell = r.getStruct(ci * lambdas.length + li)
            llfOf(c, lam, cell.getLong(0), cell.getDouble(1),
              cell.getDouble(2), cell.getDouble(3))
          }
        }
      }

    val lowRows =
      if (lowCols.isEmpty) Nil
      else {
        val lc = lowCols.map(_._1)
        val distinct = numericCells(df, lc)
          .groupBy("vid", "value").agg(count(lit(1)).as("cnt"))
        val x = col("value")
        val cd = col("cnt").cast("double")
        val aggs = lambdas.flatMap { lam =>
          val p = psi(x, lam)
          Seq(sum(col("cnt")).as(s"n_$lam"), sum(cd * p).as(s"sp_$lam"),
            sum(cd * p * p).as(s"spp_$lam"),
            sum(cd * signum(x) * log(abs(x) + 1.0)).as(s"slog_$lam"))
        }
        val rs = distinct.groupBy("vid").agg(aggs.head, aggs.tail: _*).collect()
        val byVid = rs.map(r => r.getInt(0) -> r).toMap
        lc.zipWithIndex.flatMap { case (c, j) =>
          lambdas.zipWithIndex.map { case (lam, li) =>
            byVid.get(j) match {
              case None => (c, lam, 0L, None: Option[Double])
              case Some(r) =>
                llfOf(c, lam, r.getLong(1 + 4 * li), r.getDouble(2 + 4 * li),
                  r.getDouble(3 + 4 * li), r.getDouble(4 + 4 * li))
            }
          }
        }
      }

    (highRows ++ lowRows).toDF("variable", "lambda", "n", "llf")
  }

  /** drop_extra_categories: recompute observed level sets, dropping recorded
    * levels with zero occurrences (reference: modify.py:1011-1061). In the
    * string-encoded representation the data itself never holds phantom
    * levels — this refreshes the metadata in one pass. */
  def dropExtraCategories(cf: CladeFrame, skip: Option[Seq[String]] = None,
                          only: Option[Seq[String]] = None): CladeFrame = {
    val cols = cf.resolveSkipOnly(skip, only)
      .filter(c => cf.levels.contains(c) || cf.typeOf(c) == Binary ||
        cf.typeOf(c) == Categorical || cf.typeOf(c) == Constant)
    if (cols.isEmpty) return cf
    cf.withLevels(levelsOf(cf.df, cols))
  }

  // ------------------------------------------------------------------- melt

  /** Wide → long (variable, value) reshape via the `stack` expression —
    * the scale-friendly shape for per-(column,value) aggregation: a single
    * generator projection (no shuffle by itself), values cast to string.
    * Public because describe/ and the EWAS long-format path reuse it. */
  def melt(df: DataFrame, cols: Seq[String], keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) :+ stack("variable, value",
      cols.map(c => Seq(quoted(c), s"CAST(`$c` AS STRING)"))): _*)

  /** Typed melt for numeric work: values cast to double, nulls kept out. */
  def meltNumeric(df: DataFrame, cols: Seq[String], keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) :+ stack("variable, value",
      cols.map(c => Seq(quoted(c), s"CAST(`$c` AS DOUBLE)"))): _*)

  /** (vid, value) of every non-null, non-NaN cell of `cols` as a double,
    * vid the column's index, then the `keep` columns. */
  private def numericCells(df: DataFrame, cols: Seq[String], keep: Column*): DataFrame =
    df.select(stack("vid, value", cols.zipWithIndex.map { case (c, j) =>
      Seq(j.toString, s"CAST(`$c` AS DOUBLE)") }) +: keep: _*)
      .filter(col("value").isNotNull && !isnan(col("value")))

  /** The `stack` generator of `rows`, its outputs named `names`. */
  private def stack(names: String, rows: Seq[Seq[String]]): Column =
    expr(s"stack(${rows.size}, ${rows.map(_.mkString(", ")).mkString(", ")}) AS ($names)")

  private def quoted(name: String): String = s"'${name.replace("'", "\\'")}'"

  /** SQL for column `c` of type `t` as a string, with a float or double
    * `-0.0` written as `0.0`: the two are one value to a distinct count, so
    * they must be one level too. */
  private def asStringSql(c: String, t: DataType): String = t match {
    case FloatType | DoubleType => s"CAST(IF(`$c` = 0, CAST(0 AS ${t.sql}), `$c`) AS STRING)"
    case _ => s"CAST(`$c` AS STRING)"
  }

  private def asString(df: DataFrame, c: String): Column = expr(asStringSql(c, df.schema(c).dataType))

  private def castToString(cf: CladeFrame, cols: Seq[String]): CladeFrame =
    cf.copy(df = cf.df.withColumns(cols.map(c => c -> asString(cf.df, c)).toMap))
}
