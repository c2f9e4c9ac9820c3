package graft.analyze

import breeze.linalg.DenseVector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LocalPath
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify
import graft.stats.{DesignMatrix, Glm}
import graft.survey.{SurveyDesignSpec, SurveyKernel}
import VariableType._

/** One row of the association-study results table — fixed schema and column
  * order per the reference (reference: glm_regression.py:240-252,
  * clarite/modules/analyze/__init__.py:28-40). */
final case class AssocResult(
    Variable: String,
    Outcome: String,
    Variable_type: String,
    Weight: Option[String],
    Converged: Boolean,
    N: Long,
    Beta: Option[Double],
    SE: Option[Double],
    Beta_pvalue: Option[Double],
    LRT_pvalue: Option[Double],
    Diff_AIC: Option[Double],
    pvalue: Option[Double],
    Category: Option[String] = None,
    error: Option[String] = None,
    warnings: Option[String] = None)

/** Mass per-variable GLM association study (EWAS/PhEWAS) —
  * `analyze.association_study` (reference: association_study.py:14-132,
  * glm_regression.py:24-565).
  *
  * Execution model (SURVEY.md §3.1, designed for the EWAS shape — thousands
  * of variables over a modest-row observation table):
  *
  *   1. The outcome + covariates block is complete-cased once, projected,
  *      and BROADCAST (it is a handful of columns — small even at millions
  *      of rows; the per-variable data each task needs beyond it is just
  *      that variable's column).
  *   2. The regression-variable columns are melted to long
  *      `(variable, id, value)` — one generator projection, then ONE shuffle
  *      keyed by variable distributes whole columns to executors.
  *   3. Each task joins its column against the broadcast block locally and
  *      runs the Breeze IRLS kernel — one (continuous/binary) or two
  *      (categorical LRT) fits per variable. No further shuffles; the
  *      O(#variables) result rows are collected ONCE, completed and sorted
  *      on the driver, and returned as a local relation (see
  *      [[LocalResult]]), so corrections and filters downstream of the
  *      study start no jobs.
  *
  * At the 100 TB design point with *billions of rows*, the broadcast block
  * no longer fits and the melt shuffle carries the full table; the same
  * kernel then runs over per-variable cogroups with distributed partial
  * X'WX accumulation (the normal equations are associative) — the declared
  * fan-out shape is unchanged, only the kernel's data feed switches.
  */
/** A pluggable regression kind — the reference's `regression_kind=`
  * extension point (association_study.py:41-45: a builtin name or a custom
  * Regression subclass). Implementations receive one outcome per call and
  * return a results DataFrame; register under a name with
  * [[AssociationStudy.registerRegressionKind]]. */
trait RegressionKind extends Serializable {
  def run(spark: SparkSession, cf: CladeFrame, outcome: String,
          covariates: Seq[String], rvs: Seq[String], minN: Long,
          surveyDesign: Option[SurveyDesignSpec]): DataFrame
}

object AssociationStudy {

  // ---- regression-kind registry (reference: builtin_regression_kinds +
  // custom Regression subclasses, association_study.py:63-99)
  private val kindRegistry =
    scala.collection.concurrent.TrieMap[String, RegressionKind]()

  /** Register a custom regression kind usable via `regressionKind=`. */
  def registerRegressionKind(name: String, kind: RegressionKind): Unit = {
    require(!Set("glm", "weighted_glm", "r_survey")(name),
      s"'$name' is a builtin regression kind")
    kindRegistry(name) = kind
  }

  /** Per-variable raw column data shipped to the fit kernel. */
  private final case class BaseData(
      index: Map[String, Int],        // id -> row position
      y: Array[Double],
      covars: Seq[(String, String, Array[String], Array[Double])],
      // (name, kind, stringValues | null, doubleValues | null)
      survey: Option[SurveyBase])

  /** Survey metadata aligned to the base rows (weighted studies). */
  private final case class SurveyBase(
      strat: Array[String],
      clust: Array[String],
      weightsByName: Map[String, Array[Double]], // normalized, NaN = missing
      weightNameFor: Map[String, Option[String]],
      weightErrorRvs: Map[String, String], // rv -> error when no mapped weight
      weightByIdAll: Map[String, Map[String, Double]], // full-design lookup
      subsetIds: Option[Set[String]],
      fpcPerClust: Map[String, Double],
      clustPerStratFull: Map[String, Int],
      stratForClustFull: Map[String, String],
      hasStrata: Boolean, hasCluster: Boolean, hasWeights: Boolean,
      singleCluster: String, dropUnweighted: Boolean,
      // no-cluster designs: O(#strata) full-design totals + per-row fpc
      // fractions (replaces the per-pseudo-cluster maps, which stay empty)
      stratumTotalsFull: Map[String, (Long, Double)] = Map.empty,
      rowFpc: Array[Double] = Array.empty)

  def run(
      spark: SparkSession,
      cf0: CladeFrame,
      outcomes: Seq[String],
      covariates: Seq[String] = Nil,
      regressionVariables: Seq[String] = Nil,
      minN: Long = 200,
      standardizeData: Boolean = false,
      surveyDesign: Option[SurveyDesignSpec] = None,
      reportCategoricalBetas: Boolean = false,
      encoding: String = "additive",
      edgeEncodingInfo: Option[DataFrame] = None,
      regressionKind: Option[String] = None,
      variantInfo: Map[String, graft.genomics.Genotypes.VariantInfo] = Map.empty): DataFrame = {
    val cf = graft.genomics.Genotypes.encodeForStudy(cf0, encoding, edgeEncodingInfo, variantInfo)
    val rvs =
      if (regressionVariables.nonEmpty) regressionVariables
      else cf.variables.filterNot((outcomes ++ covariates).toSet)
    require(rvs.nonEmpty, "no regression variables")
    surveyDesign.foreach(_.validateAgainstData(cf.variables))
    // kind selection per the reference: default 'glm' without a design,
    // 'weighted_glm' with one (association_study.py:63-75)
    val kindName = regressionKind.getOrElse(
      if (surveyDesign.nonEmpty) "weighted_glm" else "glm")
    val customKind: Option[RegressionKind] = kindName match {
      case "glm" =>
        require(surveyDesign.isEmpty,
          "regression_kind 'glm' does not accept a survey design"); None
      case "weighted_glm" =>
        require(surveyDesign.nonEmpty,
          "regression_kind 'weighted_glm' requires a survey design"); None
      case "r_survey" => throw new UnsupportedOperationException(
        "r_survey is not built in (its oracle role is covered by the R golden corpus); " +
          "register a custom RegressionKind to bridge out")
      case other => Some(kindRegistry.getOrElse(other,
        throw new IllegalArgumentException(
          s"unknown regression kind '$other' (register it via registerRegressionKind)")))
    }
    val perOutcome = outcomes.map { outcome =>
      customKind match {
        case Some(k) =>
          k.run(spark, cf, outcome, covariates, rvs.filterNot(_ == outcome),
            minN, surveyDesign)
        case None =>
          runOne(spark, cf, outcome, covariates, rvs.filterNot(_ == outcome), minN,
            standardizeData, surveyDesign, reportCategoricalBetas)
      }
    }
    // global sort by pvalue (reference: association_study.py:126-129), on
    // the driver; each built-in path's table is a local relation already
    LocalResult.collectSorted(perOutcome.reduce(_ unionByName _), ResultOrder)
  }

  /** Result row order: pvalue ascending with nulls last, then Variable. */
  private val ResultOrder: Seq[SortKey] =
    Seq(SortKey("pvalue", nullsLast = true), SortKey("Variable"))

  /** Deprecated alias kept for surface parity
    * (reference: clarite/modules/analyze/ewas.py:9-106 — a thin wrapper
    * that warns and delegates). */
  @deprecated("use AssociationStudy.run (association_study)", "0.1.0")
  def ewas(spark: SparkSession, cf: CladeFrame, outcomes: Seq[String],
           covariates: Seq[String] = Nil, regressionVariables: Seq[String] = Nil,
           minN: Long = 200,
           surveyDesign: Option[SurveyDesignSpec] = None): DataFrame = {
    System.err.println("WARNING: ewas() is deprecated; use association_study")
    run(spark, cf, outcomes, covariates, regressionVariables, minN,
      surveyDesign = surveyDesign)
  }

  /** Row bound of the broadcast path's driver-side block: 256 MiB at 32
    * bytes a cell, for a block of `nCols` string columns. */
  private[analyze] def broadcastRowBound(nCols: Int): Long =
    (256L << 20) / (32L * nCols)

  private def runOne(
      spark: SparkSession,
      cf: CladeFrame,
      outcome: String,
      covariates: Seq[String],
      rvs: Seq[String],
      minN: Long,
      standardize: Boolean,
      surveyDesign: Option[SurveyDesignSpec],
      reportCategoricalBetas: Boolean): DataFrame = {
    import spark.implicits._

    // tall-data fast path: every design column numeric -> distributed
    // sufficient-statistics GLM, no collect/melt (see AggregatedGlm)
    if (surveyDesign.isEmpty && !reportCategoricalBetas &&
        AggregatedGlm.supports(cf, outcome, covariates, rvs, standardize))
      return AggregatedGlm.run(spark, cf, outcome, covariates, rvs, minN)

    val outcomeType = cf.typeOf(outcome)
    val family = outcomeType match {
      case Continuous => Glm.Gaussian
      case Binary     => Glm.Binomial
      case t => throw new IllegalArgumentException(
        s"outcome $outcome must be continuous or binary, got $t")
    }

    // ------- base block: complete-case outcome + covariates. Survey subsets
    // restrict the analyzed rows (a left-semi join on the kept ids, which
    // materializes nothing on the driver); design totals remain full --
    // survey_design.py:131-141 vs 552-578. Like the reference
    // (association_study.py:100), a caller never chooses the row path: the
    // gate collects the analyzed block when it fits the driver, and that
    // collect IS the broadcast path's base; otherwise the co-group path
    // JOINS the block to the melted variables, so nothing row-scale ever
    // reaches the driver.
    val baseCols = outcome +: covariates
    val baseDf = cf.df
      .select((cf.idCol +: baseCols).map(c => col(c).cast("string").as(c)): _*)
      .na.drop("any", baseCols)
    val analyzed = surveyDesign.flatMap(_.subsetKeepIdsDf) match {
      case Some(keep) => baseDf.join(keep.toDF(cf.idCol), Seq(cf.idCol), "left_semi")
      case None       => baseDf
    }
    val baseRows = LocalPath.gate("associationStudy", analyzed,
      broadcastRowBound(2 + covariates.size)) match {
      case Some(rows) => rows
      case None => return runOneCogroup(spark, cf, outcome, covariates, rvs, minN,
        standardize, reportCategoricalBetas, surveyDesign, family, baseDf)
    }
    val n0 = baseRows.length
    val index = baseRows.iterator.zipWithIndex.map { case (r, i) => r.getString(0) -> i }.toMap
    require(index.size == n0,
      s"id column ${cf.idCol} is not unique (${n0 - index.size} duplicates) — " +
        "the observation key must identify rows (reference enforces a proper index)")

    val yRaw = Array.tabulate(n0)(i => baseRows(i).getString(1))
    val y: Array[Double] = outcomeType match {
      case Continuous =>
        val v = yRaw.map(_.toDouble)
        if (standardize) DesignMatrix.zscore(v) else v
      case Binary =>
        // 0/1 by sorted level order with the Case/Control override
        // (reference: glm_regression.py:128-156)
        val levels0 = cf.levels.getOrElse(outcome, yRaw.distinct.sorted.toSeq).sorted
        val levels =
          if (levels0 == Seq("Case", "Control")) Seq("Control", "Case") else levels0
        require(levels.size == 2, s"binary outcome $outcome must have 2 levels")
        yRaw.map(v => if (v == levels(1)) 1.0 else 0.0)
      case _ => throw new IllegalStateException("unreachable")
    }

    val covarData = covariates.zipWithIndex.map { case (c, j) =>
      val raw = Array.tabulate(n0)(i => baseRows(i).getString(j + 2))
      cf.typeOf(c) match {
        case Continuous =>
          val v = raw.map(_.toDouble)
          (c, "continuous", null: Array[String],
            if (standardize) DesignMatrix.zscore(v) else v)
        case Binary      => (c, "binary", raw, null: Array[Double])
        case _           => (c, "categorical", raw, null: Array[Double])
      }
    }
    val surveyBase = surveyDesign.map { sd =>
      val idsArr = Array.tabulate(n0)(i => baseRows(i).getString(0))
      val missing = idsArr.filterNot(sd.stratOf.contains)
      require(missing.isEmpty,
        s"The survey design is missing information for ${missing.length} rows in the data")
      val weightLookups = rvs.map(rv => rv -> sd.weightNameEither(rv)).toMap
      SurveyBase(
        strat = idsArr.map(sd.stratOf),
        clust = idsArr.map(sd.clustOf),
        weightsByName = sd.normalizedWeights.map { case (wn, byId) =>
          wn -> idsArr.map(id => byId.getOrElse(id, Double.NaN))
        },
        weightNameFor = weightLookups.collect { case (rv, Right(w)) => rv -> w },
        weightErrorRvs = weightLookups.collect { case (rv, Left(e)) => rv -> e },
        weightByIdAll = sd.normalizedWeights,
        subsetIds = sd.subsetIdSet,
        fpcPerClust = sd.fpcPerClust,
        clustPerStratFull = sd.clustPerStrat,
        stratForClustFull = sd.stratForClust,
        hasStrata = sd.hasStrata, hasCluster = sd.hasCluster,
        hasWeights = sd.hasWeights,
        singleCluster = sd.singleCluster, dropUnweighted = sd.dropUnweighted,
        stratumTotalsFull = sd.stratumTotals,
        rowFpc = if (sd.hasCluster) Array.empty[Double]
          else idsArr.map(id => sd.fpcFracOf.getOrElse(id, 0.0)))
    }
    val base = spark.sparkContext.broadcast(BaseData(index, y, covarData, surveyBase))
    val typesB = spark.sparkContext.broadcast(
      rvs.map(v => v -> cf.typeOf(v).name).toMap)
    val levelsB = spark.sparkContext.broadcast(cf.levels)

    // ------------- fan-out: melt rv columns, one shuffle keyed by variable
    val long = Modify.melt(
      cf.df.select((cf.idCol +: rvs).map(col): _*)
        .withColumn(cf.idCol, col(cf.idCol).cast("string")),
      rvs, keep = Seq(cf.idCol))
      .filter(col("value").isNotNull)
      .as[(String, String, String)] // (id, variable, value)

    val outcomeName = outcome
    val doStd = standardize
    val catBetas = reportCategoricalBetas
    val results = long.groupByKey(_._2).flatMapGroups { (variable, it) =>
      val b = base.value
      val pairs = new scala.collection.mutable.ArrayBuffer[(Int, String)]()
      val presentIds = new scala.collection.mutable.ArrayBuffer[String]()
      it.foreach { case (id, _, v) =>
        presentIds += id
        b.index.get(id).foreach(i => pairs += ((i, v)))
      }
      val idx = pairs.map(_._1).toArray
      val vals = pairs.map(_._2).toArray
      val kind = typesB.value(variable)
      fitOne(variable, outcomeName, kind, levelsB.value.get(variable), b, idx,
        vals, presentIds.toArray, family, minN, doStd, catBetas)
    }
    withMissingRows(spark, cf, outcome, rvs, results.collect())
  }

  /** The study's O(#rvs) result table as a local relation: the collected
    * fit rows plus a null row for each variable with NO non-null values —
    * it forms no melt group at all, and the reference still emits a row
    * for it (the result table has one entry per tested variable). */
  private def withMissingRows(spark: SparkSession, cf: CladeFrame, outcome: String,
                              rvs: Seq[String], fitted: Array[AssocResult]): DataFrame = {
    import spark.implicits._
    val produced = fitted.iterator.map(_.Variable).toSet
    val missingRows = rvs.filterNot(produced).map(v => AssocResult(v, outcome,
      cf.typeOf(v).name, None, Converged = false, 0, None, None, None, None,
      None, None, error = Some("no non-missing observations")))
    (fitted.toSeq ++ missingRows).toDF()
  }

  /** Co-group execution: melt the rv columns, JOIN the (uncollected)
    * complete-case base block `baseDf` by id, shuffle once keyed by
    * variable, and rebuild the kernel's per-variable arrays inside each
    * group. Identical numerics to the
    * broadcast path (same fitOne kernel); the trade is one wide shuffle of
    * (value + base) rows for zero driver-side materialization. */
  private def runOneCogroup(
      spark: SparkSession,
      cf: CladeFrame,
      outcome: String,
      covariates: Seq[String],
      rvs: Seq[String],
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean,
      surveyDesign: Option[SurveyDesignSpec],
      family: Glm.Family,
      baseDf: DataFrame): DataFrame = {
    import spark.implicits._
    val outcomeLevels: Seq[String] = cf.typeOf(outcome) match {
      case Binary =>
        val levels0 = cf.levels.getOrElse(outcome,
          cf.df.select(col(outcome).cast("string")).na.drop().distinct()
            .collect().map(_.getString(0)).toSeq).sorted
        if (levels0 == Seq("Case", "Control")) Seq("Control", "Case") else levels0
      case _ => Nil
    }
    // same contract the broadcast path enforces via its collected index: a
    // duplicate observation id would EXPLODE the melt⋈base join below and
    // silently multiply every group's rows (observed: lineitem keyed by the
    // non-unique l_orderkey inflated N 60000→298996). One narrow two-count
    // aggregation over the projected base block — cheap relative to the fit
    // scan, and a wrong-answer generator otherwise.
    val Array(nBase, nIds) = baseDf
      .agg(count(col(cf.idCol)), count_distinct(col(cf.idCol)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(nIds == nBase,
      s"id column ${cf.idCol} is not unique (${nBase - nIds} duplicates) — " +
        "the observation key must identify rows (reference enforces a proper index)")
    // standardize_data support: global moments of the continuous outcome and
    // continuous covariates from ONE aggregation over the (subset-restricted)
    // complete-case base — each group then z-scores with the SAME moments
    // the broadcast path uses driver-side. zscore semantics preserved:
    // identity when n < 2 (null stddev) or sd == 0. The rv itself is
    // standardized inside the kernel from its own group, which is local.
    val stdTargets: Seq[(Int, String)] =
      if (!standardize) Nil
      else (if (family == Glm.Gaussian) Seq(-1 -> outcome) else Nil) ++
        covariates.zipWithIndex.collect {
          case (c, j) if cf.typeOf(c) == Continuous => j -> c }
    val stdMom: Map[Int, (Double, Double)] =
      if (stdTargets.isEmpty) Map.empty
      else {
        val baseForM = surveyDesign.flatMap(_.subsetKeepIdsDf) match {
          case Some(keep) => baseDf.join(keep.toDF(cf.idCol), Seq(cf.idCol), "left_semi")
          case None       => baseDf
        }
        val aggs = stdTargets.flatMap { case (_, c) => Seq(
          avg(col(c).cast("double")), stddev_samp(col(c).cast("double"))) }
        val r = baseForM.agg(aggs.head, aggs.tail: _*).head()
        stdTargets.zipWithIndex.collect {
          case ((j, _), k) if !r.isNullAt(2 * k) && !r.isNullAt(2 * k + 1) &&
              r.getDouble(2 * k + 1) > 0.0 =>
            j -> (r.getDouble(2 * k), r.getDouble(2 * k + 1))
        }.toMap
      }
    val yMuSd: Option[(Double, Double)] = stdMom.get(-1)
    val covMuSd: Map[Int, (Double, Double)] = stdMom - (-1)
    val long0 = Modify.melt(
      cf.df.select((cf.idCol +: rvs).map(col): _*)
        .withColumn(cf.idCol, col(cf.idCol).cast("string")),
      rvs, keep = Seq(cf.idCol))
      .filter(col("value").isNotNull)
    // survey subsets restrict analyzed rows; design totals stay full. The
    // subset stays a DataFrame end-to-end: LEFT SEMI join, no driver id set
    val long = surveyDesign.flatMap(_.subsetKeepIdsDf) match {
      case Some(keep) => long0.join(keep.toDF(cf.idCol), Seq(cf.idCol), "left_semi")
      case None       => long0
    }
    // LEFT join keeps rv-present rows with incomplete base visible to the
    // missing-weight check (outcome null marks them non-fittable); the
    // survey per-observation metadata rides along as joined columns
    val nW = surveyDesign.map(_.weightColumnNames.size).getOrElse(0)
    val joined = surveyDesign match {
      case Some(sd) =>
        long.join(baseDf, Seq(cf.idCol), "left")
          .join(sd.surveyRowsDf, Seq(cf.idCol), "left")
      case None => long.join(baseDf, Seq(cf.idCol)) // inner: complete base
    }
    // row: id(0), variable(1), value(2), outcome(3), covars(4..),
    //      [__strat, __clust, __w_*]
    val covarKinds = covariates.map(c => c -> (cf.typeOf(c) match {
      case Continuous => "continuous"
      case Binary     => "binary"
      case _          => "categorical"
    })).toMap
    val typesB = spark.sparkContext.broadcast(rvs.map(v => v -> cf.typeOf(v).name).toMap)
    val levelsB = spark.sparkContext.broadcast(cf.levels)
    val surveySmall = surveyDesign.map { sd =>
      // only the TINY design-total structures are broadcast — the
      // per-observation metadata arrived via the join above
      (rvs.map(rv => rv -> sd.weightNameEither(rv)).toMap,
        sd.weightColumnNames, sd.fpcPerClust, sd.clustPerStrat,
        sd.stratForClust, sd.hasStrata, sd.hasCluster, sd.hasWeights,
        sd.singleCluster, sd.dropUnweighted, sd.stratumTotals)
    }
    val outcomeName = outcome
    val catBetas = reportCategoricalBetas
    val doStd = standardize
    val nCov = covariates.size
    val covarSeq = covariates
    val oLevels = outcomeLevels

    val resultDs = joined.groupByKey(r => r.getString(1)).flatMapGroups { (variable, rows) =>
      val ids = new scala.collection.mutable.ArrayBuffer[String]()
      val yBuf = new scala.collection.mutable.ArrayBuffer[Double]()
      val vals = new scala.collection.mutable.ArrayBuffer[String]()
      val covarBufs = Array.fill(nCov)(new scala.collection.mutable.ArrayBuffer[String]())
      val stratBuf = new scala.collection.mutable.ArrayBuffer[String]()
      val clustBuf = new scala.collection.mutable.ArrayBuffer[String]()
      val fpcBuf = new scala.collection.mutable.ArrayBuffer[Double]()
      val wBufs = Array.fill(nW)(new scala.collection.mutable.ArrayBuffer[Double]())
      val allIds = new scala.collection.mutable.ArrayBuffer[String]()
      val wByIdBufs = Array.fill(nW)(Map.newBuilder[String, Double])
      rows.foreach { r =>
        val id = r.getString(0)
        allIds += id
        val sBase = 4 + nCov
        var k = 0
        while (k < nW) {
          val w = if (r.isNullAt(sBase + 2 + k)) Double.NaN else r.getDouble(sBase + 2 + k)
          wByIdBufs(k) += id -> w
          k += 1
        }
        if (!r.isNullAt(3)) { // base-complete row -> fittable
          ids += id
          vals += r.getString(2)
          val yRaw = r.getString(3)
          val y0 = if (oLevels.isEmpty) yRaw.toDouble
            else if (yRaw == oLevels(1)) 1.0 else 0.0
          yBuf += (yMuSd match {
            case Some((mu, sd)) => (y0 - mu) / sd
            case None           => y0
          })
          var j = 0
          while (j < nCov) { covarBufs(j) += r.getString(4 + j); j += 1 }
          if (nW > 0 || surveySmall.nonEmpty) {
            stratBuf += (if (r.isNullAt(sBase)) null else r.getString(sBase))
            clustBuf += (if (r.isNullAt(sBase + 1)) null else r.getString(sBase + 1))
            var k2 = 0
            while (k2 < nW) {
              wBufs(k2) += (if (r.isNullAt(sBase + 2 + k2)) Double.NaN
                else r.getDouble(sBase + 2 + k2))
              k2 += 1
            }
            // per-row fpc fraction rides LAST in surveyRowsDf
            fpcBuf += (if (r.isNullAt(sBase + 2 + nW)) 0.0
              else r.getDouble(sBase + 2 + nW))
          }
        }
      }
      val n = yBuf.length
      val covarData = covarSeq.zipWithIndex.map { case (c, j) =>
        covarKinds(c) match {
          case "continuous" =>
            val arr = covarBufs(j).map(_.toDouble).toArray
            val out = covMuSd.get(j) match {
              case Some((mu, sd)) => arr.map(v => (v - mu) / sd)
              case None           => arr
            }
            (c, "continuous", null: Array[String], out)
          case k => (c, k, covarBufs(j).toArray, null: Array[Double])
        }
      }
      val surveyBase = surveySmall.map { case (wLookups, wNames, fpc, cps, sfc,
          hasStrata, hasCluster, hasWeights, singleCluster, dropUnweighted,
          stratTotals) =>
        SurveyBase(
          strat = stratBuf.toArray,
          clust = clustBuf.toArray,
          weightsByName = wNames.zipWithIndex.map { case (wn, k) =>
            wn -> wBufs(k).toArray }.toMap,
          weightNameFor = wLookups.collect { case (rv, Right(w)) => rv -> w },
          weightErrorRvs = wLookups.collect { case (rv, Left(e)) => rv -> e },
          weightByIdAll = wNames.zipWithIndex.map { case (wn, k) =>
            wn -> wByIdBufs(k).result() }.toMap,
          subsetIds = None, // subset already applied to the joined rows
          fpcPerClust = fpc, clustPerStratFull = cps, stratForClustFull = sfc,
          hasStrata = hasStrata, hasCluster = hasCluster, hasWeights = hasWeights,
          singleCluster = singleCluster, dropUnweighted = dropUnweighted,
          stratumTotalsFull = stratTotals, rowFpc = fpcBuf.toArray)
      }
      val localBase = BaseData(Map.empty, yBuf.toArray, covarData, surveyBase)
      fitOne(variable, outcomeName, typesB.value(variable),
        levelsB.value.get(variable), localBase, Array.range(0, n),
        vals.toArray, allIds.toArray, family, minN, standardize = doStd,
        catBetas)
    }
    // the co-group fit (melt ⋈ base shuffle + per-variable kernels) runs
    // once, for this collect of its O(#rvs) rows
    withMissingRows(spark, cf, outcome, rvs, resultDs.collect())
  }

  /** Fit one variable's model(s) against the (subset of the) base block.
    * Runs executor-side; everything here is local array math. */
  private def fitOne(
      variable: String,
      outcome: String,
      kind: String,
      knownLevels: Option[Seq[String]],
      b: BaseData,
      idx: Array[Int],
      vals: Array[String],
      presentIds: Array[String],
      family: Glm.Family,
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean): Seq[AssocResult] = {
    val n = idx.length
    val nullRes = AssocResult(variable, outcome, kind, None, Converged = false,
      n, None, None, None, None, None, None)
    if (n < minN || n < 3) return Seq(nullRes.copy(error = Some(
      s"too few complete observations (min_n filter: $n < $minN)")))

    try {
      b.survey match {
        case Some(sv) =>
          return fitOneWeighted(variable, outcome, kind, knownLevels, b, sv,
            idx, vals, presentIds, family, minN, standardize, reportCategoricalBetas)
        case None => ()
      }
      val ySub = DenseVector(idx.map(b.y))
      // covariate terms on the subset; non-varying covariates are dropped
      // with a warning (reference: base.py:174-187)
      val covarTerms: Seq[DesignMatrix.Term] = b.covars.map {
        case (name, "continuous", _, dv) =>
          DesignMatrix.ContinuousTerm(name, idx.map(dv))
        case (name, _, sv, _) =>
          DesignMatrix.CategoricalTerm(name, idx.map(sv))
      }
      val nonVarying = covarTerms.filterNot(_.varies).map(_.name)
      val warn: Option[String] =
        if (nonVarying.isEmpty) None
        else Some(s"non-varying covariates(s): ${nonVarying.mkString(", ")}")

      kind match {
        case "continuous" | "binary" | "constant" | "unknown" =>
          val rvTerm: DesignMatrix.Term = kind match {
            case "binary" =>
              val lv = knownLevels.getOrElse(vals.distinct.sorted.toSeq)
              DesignMatrix.BinaryTerm(variable, vals, lv)
            case _ =>
              val raw = vals.map(_.toDouble)
              DesignMatrix.ContinuousTerm(variable,
                if (standardize) DesignMatrix.zscore(raw) else raw)
          }
          if (!rvTerm.varies) return Seq(nullRes.copy(error = Some(
            s"variable '$variable' does not vary"), warnings = warn))
          val (names, x) = DesignMatrix.build(n, covarTerms :+ rvTerm)
          val fit = Glm.fit(x, ySub, family)
          val i = names.indexWhere(_ == rvTerm.columns.head._1)
          val beta = fit.beta(i)
          val se = fit.se(i)
          val p = fit.pvalue(i, family)
          Seq(AssocResult(variable, outcome, kind, None, fit.converged, n,
            Some(beta), Some(se), Some(p), None, None, Some(p), warnings = warn))

        case "categorical" =>
          val rvTerm = DesignMatrix.CategoricalTerm(variable, vals)
          if (!rvTerm.varies) return Seq(nullRes.copy(error = Some(
            s"variable '$variable' does not vary"), warnings = warn))
          val (namesFull, xFull) = DesignMatrix.build(n, covarTerms :+ rvTerm)
          val (_, xRest) = DesignMatrix.build(n, covarTerms)
          val full = Glm.fit(xFull, ySub, family)
          val rest = Glm.fit(xRest, ySub, family)
          val (_, lrP, diffAic) = Glm.lrt(full, rest)
          val converged = full.converged && rest.converged
          if (!reportCategoricalBetas)
            Seq(AssocResult(variable, outcome, kind, None, converged, n,
              None, None, None, Some(lrP), Some(diffAic), Some(lrP),
              warnings = warn))
          else {
            // per-level rows (reference: glm_regression.py:340-354)
            rvTerm.columns.map(_._1).map { param =>
              val i = namesFull.indexOf(param)
              AssocResult(variable, outcome, kind, None, converged, n,
                Some(full.beta(i)), Some(full.se(i)),
                Some(full.pvalue(i, family)), Some(lrP), Some(diffAic),
                Some(lrP), Category = Some(param), warnings = warn)
            }
          }

        case other =>
          Seq(nullRes.copy(Variable_type = other,
            error = Some(s"unknown variable type '$other'")))
      }
    } catch {
      // per-variable failures become a null row WITH the reason, mirroring
      // the reference's error capture (base.py:155-195); never swallowed
      case e: Exception => Seq(nullRes.copy(error = Some(
        s"${e.getClass.getSimpleName}: ${e.getMessage}")))
    }
  }

  /** Survey-weighted per-variable fit: weighted GLM + Stata-linearization
    * sandwich SEs, survey dof t-inference, Rao-Scott-style working LRT for
    * categoricals (reference: weighted_glm_regression.py:24-494). */
  private def fitOneWeighted(
      variable: String,
      outcome: String,
      kind: String,
      knownLevels: Option[Seq[String]],
      b: BaseData,
      sv: SurveyBase,
      idx0: Array[Int],
      vals0: Array[String],
      presentIds: Array[String],
      family: Glm.Family,
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean): Seq[AssocResult] = {
    // an rv with no mapped weight nulls this variable, not the whole study
    // (reference: per-variable ValueError capture)
    sv.weightErrorRvs.get(variable).foreach { msg =>
      return Seq(AssocResult(variable, outcome, kind, None, Converged = false,
        idx0.length, None, None, None, None, None, None, error = Some(msg)))
    }
    val weightName = sv.weightNameFor(variable)
    val wAll: Array[Double] = weightName match {
      case Some(wn) => sv.weightsByName(wn)
      case None     => Array.fill(b.y.length)(1.0)
    }
    // missing-weight policy (survey_design.py:397-486): the check runs over
    // ALL subset rows where the variable is present (pre-complete-case,
    // like the reference's ~variable_na & weight_na mask) -> error (null
    // result) unless drop_unweighted
    val anyMissingW = weightName.exists { wn =>
      val byId = sv.weightByIdAll(wn)
      presentIds.exists { id =>
        sv.subsetIds.forall(_.contains(id)) &&
          byId.get(id).forall(_.isNaN)
      }
    }
    val missingW = idx0.indices.filter(i => wAll(idx0(i)).isNaN)
    val nullRes = AssocResult(variable, outcome, kind, weightName,
      Converged = false, idx0.length, None, None, None, None, None, None)
    val (idx, vals) =
      if (!anyMissingW) (idx0, vals0)
      else if (sv.dropUnweighted) {
        val keep = idx0.indices.filterNot(missingW.toSet).toArray
        (keep.map(idx0), keep.map(vals0))
      } else return Seq(nullRes.copy(error = Some(
        s"${missingW.length} observations are missing weights (${weightName.getOrElse("")}) " +
          "where the variable is present; pass drop_unweighted to analyze anyway")))
    val n = idx.length
    if (n < minN || n < 3) return Seq(nullRes.copy(N = n, error = Some(
      s"too few complete observations (min_n filter: $n < $minN)")))

    try {
      val ySub = DenseVector(idx.map(b.y))
      val w = idx.map(wAll)
      val covarTerms: Seq[DesignMatrix.Term] = b.covars.map {
        case (name, "continuous", _, dv) =>
          DesignMatrix.ContinuousTerm(name, idx.map(dv))
        case (name, _, svv, _) =>
          DesignMatrix.CategoricalTerm(name, idx.map(svv))
      }
      val design = SurveyKernel.AlignedDesign(
        strat = idx.map(b.survey.get.strat),
        clust = idx.map(b.survey.get.clust),
        weights = w,
        fpcPerClust = sv.fpcPerClust,
        clustPerStratFull = sv.clustPerStratFull,
        stratForClustFull = sv.stratForClustFull,
        hasStrata = sv.hasStrata, hasCluster = sv.hasCluster,
        hasWeights = sv.hasWeights,
        singleCluster = sv.singleCluster,
        stratumTotalsFull = sv.stratumTotalsFull,
        rowFpc = if (sv.rowFpc.isEmpty) Array.empty[Double] else idx.map(sv.rowFpc))

      kind match {
        case "continuous" | "binary" | "constant" | "unknown" =>
          val rvTerm: DesignMatrix.Term = kind match {
            case "binary" =>
              val lv = knownLevels.getOrElse(vals.distinct.sorted.toSeq)
              DesignMatrix.BinaryTerm(variable, vals, lv)
            case _ =>
              val raw = vals.map(_.toDouble)
              DesignMatrix.ContinuousTerm(variable,
                if (standardize) DesignMatrix.zscore(raw) else raw)
          }
          if (!rvTerm.varies) return Seq(nullRes.copy(N = n))
          val (names, x) = DesignMatrix.build(n, covarTerms :+ rvTerm)
          val fit = Glm.fit(x, ySub, family, Some(DenseVector(w)))
          val i = names.indexWhere(_ == rvTerm.columns.head._1)
          val useSandwich = sv.hasStrata || sv.hasCluster || sv.hasWeights
          val (se0, dof) =
            if (useSandwich) {
              val vcov = SurveyKernel.stataLinearizationVcov(x, ySub, fit, family, design)
              (math.sqrt(vcov(i, i)), design.dof(n, x.cols))
            } else (fit.se(i), (n - x.cols).toDouble)
          val beta = fit.beta(i)
          // dof < 1 -> SE infinite, pvalue 1 (weighted_glm_regression.py:186-189)
          val (se, p) =
            if (dof < 1) (Double.PositiveInfinity, 1.0)
            else (se0, graft.stats.Distributions.tSfTwoSided(beta / se0, dof))
          Seq(AssocResult(variable, outcome, kind, weightName, fit.converged, n,
            Some(beta), Some(se), Some(p), None, None, Some(p)))

        case "categorical" =>
          val rvTerm = DesignMatrix.CategoricalTerm(variable, vals)
          if (!rvTerm.varies) return Seq(nullRes.copy(N = n, error = Some(
            s"variable '$variable' does not vary")))
          val (namesFull, xFull) = DesignMatrix.build(n, covarTerms :+ rvTerm)
          val (_, xRest) = DesignMatrix.build(n, covarTerms)
          val wVec = Some(DenseVector(w))
          val full = Glm.fit(xFull, ySub, family, wVec)
          val rest = Glm.fit(xRest, ySub, family, wVec)
          // working LRT (Lumley & Scott 2014; calculations.py:10-30)
          val chisq =
            SurveyKernel.weightedDeviance(xRest, ySub, rest, family, w) -
            SurveyKernel.weightedDeviance(xFull, ySub, full, family, w)
          val vcov = SurveyKernel.stataLinearizationVcov(xFull, ySub, full, family, design)
          val v0 = SurveyKernel.naiveCovOverScale(xFull, full, family, w)
          val rvIdx = namesFull.zipWithIndex.collect {
            case (nm, i) if nm.startsWith(s"$variable[T.") => i
          }
          val dof = design.dof(n, xFull.cols)
          val lrP = SurveyKernel.regTermTest(chisq, rvIdx, vcov, v0, dof)
          val converged = full.converged && rest.converged
          // no Diff_AIC for weighted categorical (may be inaccurate)
          if (!reportCategoricalBetas)
            Seq(AssocResult(variable, outcome, kind, weightName, converged, n,
              None, None, None, Some(lrP), None, Some(lrP)))
          else {
            // per-level betas with sandwich SEs and survey-dof t inference
            // (reference: weighted_glm_regression.py report_categorical_betas)
            rvIdx.map { i =>
              val beta = full.beta(i)
              val se0 = math.sqrt(vcov(i, i))
              val (se, bp) =
                if (dof < 1) (Double.PositiveInfinity, 1.0)
                else (se0, graft.stats.Distributions.tSfTwoSided(beta / se0, dof))
              AssocResult(variable, outcome, kind, weightName, converged, n,
                Some(beta), Some(se), Some(bp), Some(lrP), None, Some(lrP),
                Category = Some(namesFull(i)))
            }
          }

        case other => Seq(nullRes.copy(Variable_type = other,
          error = Some(s"unknown variable type '$other'")))
      }
    } catch {
      case e: Exception => Seq(nullRes.copy(N = n, error = Some(
        s"${e.getClass.getSimpleName}: ${e.getMessage}")))
    }
  }
}
