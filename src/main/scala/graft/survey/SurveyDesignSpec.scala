package graft.survey

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** A design's full-population totals (survey_design.py:131-141), computed
  * before any subset, with the flags the variance needs. One serializable
  * value: [[SurveyDesignSpec]] builds it once and every fit's
  * [[SurveyKernel.AlignedDesign]] holds it as is. Clustered designs fill
  * the per-PSU maps; a no-cluster design, whose every observation is its own
  * PSU, fills only the O(#strata) `stratumTotals`. */
final case class DesignTotals(
    hasStrata: Boolean,
    hasCluster: Boolean,
    singleCluster: String,
    fpcPerClust: Map[String, Double],   // PSU -> sampling fraction
    clustPerStrat: Map[String, Int],    // stratum -> PSUs (rows without clusters)
    stratForClust: Map[String, String], // PSU -> stratum
    stratumTotals: Map[String, (Long, Double)]) // stratum -> (PSUs, Σ(1 − fpc))

/** Complex-survey design specification — strata / cluster (PSU) / sampling
  * weights / finite-population correction, aligned to the observation table
  * by id (reference: clarite/modules/survey/survey_design.py:9-146).
  *
  * Construction is ONE grouped Spark aggregation, keyed by PSU (or by
  * stratum when there are no clusters), whose O(#PSUs) / O(#strata) rows
  * are collected once; validations (missing strata/cluster/fpc counts,
  * empty design), weight normalization means and the [[DesignTotals]] are
  * computed from them on the driver. The survey table itself is never
  * collected: per-observation metadata reaches the studies only through
  * [[surveyRowsDf]], which both of their row paths join by id.
  */
final class SurveyDesignSpec(
    surveyDf: DataFrame,
    idCol: String = "id",
    strata: Option[String] = None,
    cluster: Option[String] = None,
    nest: Boolean = false,
    singleWeight: Option[String] = None,
    multiWeight: Map[String, String] = Map.empty, // rv name -> weight column
    fpc: Option[String] = None,
    val singleCluster: String = "fail",
    val dropUnweighted: Boolean = false) extends Serializable {

  require(Set("fail", "adjust", "average", "certainty")(singleCluster),
    "'single_cluster' must be one of 'fail', 'adjust', 'average', 'certainty'")
  require(strata.nonEmpty || cluster.nonEmpty || singleWeight.nonEmpty || multiWeight.nonEmpty,
    "At least one of strata, cluster, or weights must be provided")

  private val hasStrata: Boolean = strata.nonEmpty
  private val hasCluster: Boolean = cluster.nonEmpty
  private val hasFpc: Boolean = fpc.nonEmpty

  /** Weight column used for a given regression variable, or Left(error)
    * when the design maps weights per variable and has none for `rv`: one
    * variable without a mapped weight must null that variable, not abort
    * the study (reference: weighted_glm_regression.py per-variable error
    * capture). */
  def weightNameFor(rv: String): Either[String, Option[String]] =
    singleWeight.orElse(multiWeight.get(rv)) match {
      case None if multiWeight.nonEmpty =>
        Left(s"No weight found in the survey design for the '$rv' variable")
      case w => Right(w)
    }

  private val weightCols: Seq[String] = (singleWeight.toSeq ++ multiWeight.values).distinct

  // ------------------------------------------------- projected design frame
  private def strataCol: Column = strata.map(col(_).cast("string")).getOrElse(lit("1.0"))

  /** No-cluster designs treat every observation as its own PSU; the
    * pseudo-cluster id derives DETERMINISTICALLY from the observation id
    * (a monotonically_increasing_id here could disagree between jobs). */
  private def clustColRaw: Column = cluster.map(col(_).cast("string"))
    .getOrElse(concat(lit("r"), col(idCol).cast("string")))

  /** nest: same PSU id in different strata are distinct PSUs
    * (survey_design.py:216-221). */
  private def clustCol: Column =
    if (nest && hasStrata && hasCluster) concat(strataCol, lit("-"), clustColRaw)
    else clustColRaw

  /** Zero/negative weights become 1e-99 (survey_design.py:244-247); nulls
    * stay null (missing weight). */
  private def clampedW(wc: String): Column =
    when(col(wc).isNull, lit(null).cast("double"))
      .when(col(wc).cast("double") <= 0, lit(1e-99))
      .otherwise(col(wc).cast("double"))

  private def designProj: DataFrame = surveyDf.select(
    (Seq(col(idCol).cast("string").as(idCol), strataCol.as("__strat"),
      clustCol.as("__clust"),
      fpc.map(col(_).cast("double")).getOrElse(lit(0.0)).as("__fpc")) ++
      weightCols.map(wc => clampedW(wc).as(s"__w_$wc"))): _*)

  // ------------------------------------------ ONE grouped aggregation pass
  // Keyed by PSU when the design is clustered, by stratum otherwise, so its
  // rows are O(#PSUs) / O(#strata). Everything else derives from them on
  // the driver: the validations, the weight means and the full-design
  // totals (computed before subsets — survey_design.py:131-141). A
  // no-cluster design (every observation its own PSU) never builds a
  // per-PSU table — #PSUs == #rows there, and an O(rows) driver map is a
  // scale bug; it uses the O(#strata) [[stratumTotals]] instead.
  //
  // Columns: the key, then clustered: s (first stratum), n, f (min fpc),
  // ms (missing strata); no-cluster: n. Then mf (missing fpc), per weight
  // sw_/cw_ (sum, count of non-missing), and no-cluster with fpc: sf, sinv,
  // mn, mx. 1/__fpc only when there IS an fpc: without one __fpc is 0,
  // and that division fails under ANSI.
  private val designRows: Array[Row] = {
    def nullCount(c: String): Column = sum(when(col(c).isNull, 1L).otherwise(0L))
    val perKey: Seq[Column] =
      if (hasCluster) Seq(first("__strat").as("s"), count(lit(1)).as("n"),
        min("__fpc").as("f"), nullCount("__strat").as("ms"))
      else Seq(count(lit(1)).as("n"))
    val aggs: Seq[Column] = perKey ++ Seq(nullCount("__fpc").as("mf")) ++
      weightCols.flatMap(wc => Seq(sum(col(s"__w_$wc")).as(s"sw_$wc"),
        count(col(s"__w_$wc")).as(s"cw_$wc"))) ++
      (if (hasFpc && !hasCluster) Seq(sum("__fpc").as("sf"),
        sum(lit(1.0) / col("__fpc")).as("sinv"), min("__fpc").as("mn"),
        max("__fpc").as("mx")) else Nil)
    designProj.groupBy(if (hasCluster) "__clust" else "__strat")
      .agg(aggs.head, aggs.tail: _*).collect()
  }

  private def total(field: String, rows: Iterable[Row] = designRows): Long =
    rows.iterator.map { r =>
      val i = r.fieldIndex(field)
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }.sum

  private val (nClustFull: Long, weightMeans: Map[String, Double]) = {
    val n = total("n")
    require(n > 0, "survey design is empty")
    // rows whose key (PSU, or stratum) is missing form the null-key group
    val nullKey = total("n", designRows.filter(_.isNullAt(0)))
    val missStrat = if (hasCluster) total("ms") else nullKey
    val missFpc = total("mf")
    // missing design values are a hard error with a count, like the
    // reference (survey_design.py:180-183, 206-210, 281-284)
    if (hasStrata)
      require(missStrat == 0, s"$missStrat of $n strata values were missing")
    if (hasCluster)
      require(nullKey == 0, s"$nullKey of $n cluster values were missing")
    if (hasFpc)
      require(missFpc == 0, s"$missFpc of $n fpc values were missing")
    val means = weightCols.map { wc =>
      val cnt = total(s"cw_$wc")
      val sumW = designRows.iterator.map { r =>
        val i = r.fieldIndex(s"sw_$wc")
        if (r.isNullAt(i)) 0.0 else r.getDouble(i)
      }.sum
      wc -> (if (cnt == 0) 1.0 else sumW / cnt)
    }.toMap
    (if (hasCluster) designRows.count(!_.isNullAt(0)).toLong else n, means)
  }

  /** (cluster, stratum, rows-in-cluster, raw fpc) — one row per cluster.
    * CLUSTERED designs only. */
  private lazy val clusterTable: Array[(String, String, Long, Double)] =
    designRows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) 0.0 else r.getDouble(3)))

  /** No-cluster designs: per-stratum totals on the FULL design — PSU count
    * (= rows: each observation is its own PSU) and Σ(1 − fpc fraction),
    * plus the population-form flag. All O(#strata); fpc values > 1 are
    * population sizes converted per the reference's rules
    * (survey_design.py:291-312 — with strata, stratum size over population;
    * population-form fpc without strata or clusters is invalid). */
  @transient private lazy val noClustTotals
      : (Map[String, (Long, Double)], Boolean) = {
    val rows = designRows
    if (!hasFpc)
      (rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(1).toDouble)).toMap, false)
    else {
      val anyPop = rows.exists(r => r.getDouble(r.fieldIndex("mx")) > 1.0)
      val m = rows.map { r =>
        val s = r.getString(0); val nh = r.getLong(1)
        val (sumFrac, ok) =
          if (!anyPop) (r.getDouble(r.fieldIndex("sf")),
            r.getDouble(r.fieldIndex("mn")) >= 0.0)
          else if (hasStrata) (nh.toDouble * r.getDouble(r.fieldIndex("sinv")),
            r.getDouble(r.fieldIndex("mn")) >= nh.toDouble)
          else (r.getDouble(r.fieldIndex("sf")), false)
        require(ok, "Error processing FPC- invalid values")
        s -> (nh, nh.toDouble - sumFrac)
      }.toMap
      (m, anyPop)
    }
  }

  /** Clusters per stratum on the full design (rows per stratum when every
    * observation is its own PSU). */
  private def clustPerStrat: Map[String, Int] =
    if (hasCluster) clusterTable.groupBy(_._2).view.mapValues(_.length).toMap
    else noClustTotals._1.map { case (s, (n, _)) => s -> n.toInt }

  /** fpc as a sampling FRACTION per cluster. Values > 1 are population
    * sizes and are converted (survey_design.py:291-312): with strata, the
    * sampled stratum SIZE (row count) over the population; cluster-only
    * designs use the number of sampled clusters over the population.
    * CLUSTERED designs only — no-cluster fpc rides per-row. */
  private def fpcPerClust: Map[String, Double] = {
    if (!hasFpc || !hasCluster) Map.empty
    else {
      val anyPop = clusterTable.exists(_._4 > 1.0)
      val strataSize: Map[String, Double] =
        if (anyPop && hasStrata)
          clusterTable.groupBy(_._2).view.mapValues(_.map(_._3).sum.toDouble).toMap
        else Map.empty
      val m = clusterTable.map { case (c, s, _, f) =>
        val conv =
          if (!anyPop) f
          else if (hasStrata) strataSize(s) / f
          else nClustFull.toDouble / f
        c -> conv
      }.toMap
      require(m.values.forall(f => f >= 0 && f <= 1),
        "Error processing FPC- invalid values")
      m
    }
  }

  /** The full design's totals, built (and validated) at construction. */
  val totals: DesignTotals = DesignTotals(
    hasStrata = hasStrata, hasCluster = hasCluster, singleCluster = singleCluster,
    fpcPerClust = fpcPerClust, clustPerStrat = clustPerStrat,
    // cluster -> stratum: empty for no-cluster designs, whose kernel path
    // never enumerates PSUs
    stratForClust =
      if (hasCluster) clusterTable.map(c => c._1 -> c._2).toMap else Map.empty,
    stratumTotals = if (hasCluster) Map.empty else noClustTotals._1)

  // the design-rule check that the reference performs at construction
  if (hasStrata && hasCluster &&
      !Set("average", "certainty", "adjust")(singleCluster)) {
    val singles = totals.clustPerStrat.filter(_._2 < 2)
    require(singles.isEmpty,
      s"One or more strata have single clusters: ${singles.keys.mkString(", ")}. " +
        "Adjust the 'single_cluster' SurveyDesignSpec parameter or reassign " +
        "the singular cluster to avoid this error.")
  }

  // ----------------------------------------------------------------- subset
  @transient private var subsetKeepDf: Option[DataFrame] = None

  /** Restrict analysis to a subpopulation; the design totals above remain
    * computed on the full design (survey_design.py:552-578). The predicate
    * is evaluated against the given table (which may contain columns later
    * dropped from the analysis data — the reference materializes the
    * boolean mask the same way). The kept ids stay a DATAFRAME: nothing is
    * collected here, and the studies apply them as a left-semi join. */
  def subset(df: DataFrame, predicate: Column): SurveyDesignSpec = {
    val keep = df.filter(predicate).select(col(idCol).cast("string").as(idCol))
    subsetKeepDf = Some(subsetKeepDf.map(_.join(keep, Seq(idCol), "left_semi"))
      .getOrElse(keep))
    this
  }

  /** Kept ids as a DataFrame (single `idCol` string column); apply with a
    * LEFT SEMI join. None when no subset was applied. */
  def subsetKeepIdsDf: Option[DataFrame] = subsetKeepDf

  /** Per-observation survey metadata as a DataFrame — the design's only
    * per-observation feed, joined by id on both of the studies' row paths.
    * Columns: id (string), __strat, __clust, one normalized weight column
    * per distinct weight (`__w_<name>`, null where missing), then __fpc.
    * The normalization means and design totals are the (tiny) aggregates
    * this spec already computed. */
  def surveyRowsDf: DataFrame = {
    // per-row fpc FRACTION rides LAST: populated only for no-cluster
    // designs with fpc; population-form values convert via the tiny
    // per-stratum row-count map (when-chain over O(#strata) literals — no
    // join, stays codegen'd)
    val fpcFrac: Column =
      if (!hasFpc || hasCluster) lit(0.0)
      else {
        val (totals, anyPop) = noClustTotals
        if (!anyPop) col("__fpc")
        else totals.foldLeft(lit(Double.NaN)) { case (acc, (s, (nh, _))) =>
          when(col("__strat") === lit(s), lit(nh.toDouble) / col("__fpc")).otherwise(acc)
        }
      }
    designProj.select((Seq(col(idCol), col("__strat"), col("__clust")) ++
      weightCols.map(wc => (col(s"__w_$wc") / weightMeans(wc)).as(s"__w_$wc")) :+
      fpcFrac.as("__fpc")): _*)
  }

  /** Distinct weight column names (order matches surveyRowsDf). */
  def weightColumnNames: Seq[String] = weightCols

  /** Survey variables must not appear in the analysis data
    * (survey_design.py:488-535). */
  def validateAgainstData(dataColumns: Seq[String]): Unit = {
    val reserved = strata.toSeq ++ cluster.toSeq ++ fpc.toSeq ++ weightCols
    val overlap = reserved.filter(dataColumns.contains)
    require(overlap.isEmpty,
      s"Survey design variables should not be included in the data: ${overlap.mkString(", ")}")
  }
}
