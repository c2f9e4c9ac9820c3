package graft.analyze

import breeze.linalg.DenseVector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.LocalPath
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify
import graft.stats.{DesignMatrix, Glm}
import graft.survey.{DesignTotals, SurveyDesignSpec, SurveyKernel}
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
  *   1. The observations — outcome, covariates and, with a survey design,
  *      its per-row columns — are projected once and BROADCAST (a handful
  *      of columns — small even at millions of rows; the per-variable data
  *      each task needs beyond them is just that variable's column).
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
  * At the 100 TB design point with *billions of rows*, the observations no
  * longer fit the driver: the melt is JOINED to them and shuffled by
  * variable, and each group runs the same row assembly and kernel — the
  * declared fan-out shape is unchanged, only the kernel's data feed
  * switches.
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

  /** The kernel's per-observation inputs, built by [[assemble]]. Positions
    * number the assembled rows, complete-case rows first: `y` and the
    * covariate arrays hold just those, the survey weights every row, as the
    * missing-weight rule runs before complete-casing. */
  private final case class BaseData(
      y: Array[Double],
      covars: Seq[(String, String, Array[String], Array[Double])],
      // (name, kind, stringValues | null, doubleValues | null)
      survey: Option[SurveyBase])

  /** Survey columns of the assembled rows (weighted studies). */
  private final case class SurveyBase(
      design: StudyDesign,
      strat: Array[String],  // complete-case rows
      clust: Array[String],  // complete-case rows
      rowFpc: Array[Double], // complete-case rows: per-row fpc fraction
      weightsByName: Map[String, Array[Double]]) // every row; normalized, NaN = missing

  /** What every weighted fit of one study shares, on either row path. */
  private final case class StudyDesign(
      totals: DesignTotals,
      weightNames: Seq[String], // the `__w_*` columns of surveyRowsDf, in order
      weightFor: Map[String, Either[String, Option[String]]], // rv -> weight, or why none
      dropUnweighted: Boolean)

  /** How [[assemble]] turns rows of the study's one row layout (see
    * [[observations]]) into the kernel's inputs. `standardize` maps the
    * complete-case values of the continuous outcome (key -1) and of each
    * continuous covariate (its index) to what the fits see. */
  private final case class RowLayout(
      covariates: Seq[(String, String)], // name, kind
      caseLevel: Option[String],         // binary outcome: the value coded 1
      design: Option[StudyDesign],
      standardize: (Int, Array[Double]) => Array[Double])

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

  /** The value a binary outcome codes as 1: the second of its sorted
    * levels, or Case when they are Case/Control
    * (reference: glm_regression.py:128-156). */
  private[analyze] def caseLevel(outcome: String, levels: Seq[String]): String = {
    val sorted = levels.sorted
    require(sorted.size == 2, s"binary outcome $outcome must have 2 levels")
    if (sorted == Seq("Case", "Control")) "Case" else sorted(1)
  }

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

    val family = cf.typeOf(outcome) match {
      case Continuous => Glm.Gaussian
      case Binary     => Glm.Binomial
      case t => throw new IllegalArgumentException(
        s"outcome $outcome must be continuous or binary, got $t")
    }
    val covKinds = covariates.map(c => c -> (cf.typeOf(c) match {
      case Continuous => "continuous"
      case Binary     => "binary"
      case _          => "categorical"
    }))
    val design = surveyDesign.map(sd => StudyDesign(sd.totals, sd.weightColumnNames,
      rvs.map(rv => rv -> sd.weightNameFor(rv)).toMap, sd.dropUnweighted))

    // Like the reference (association_study.py:100), a caller never
    // chooses the row path: the gate collects the observations when they
    // fit the driver, and that collect IS the broadcast path's base;
    // otherwise the co-group path JOINS them to the melted variables, so
    // nothing row-scale ever reaches the driver.
    val obs = observations(cf, outcome +: covariates, surveyDesign)
    val probe = LocalPath.gate("associationStudy", obs,
      broadcastRowBound(obs.columns.length)) match {
      case Some(rows) => rows
      case None =>
        val joined = surveyDesign.fold(obs) { sd =>
          val rows = sd.surveyRowsDf
          obs.join(rows.toDF(cf.idCol +: rows.columns.tail: _*), Seq(cf.idCol), "left")
        }
        return runOneCogroup(spark, cf, outcome, rvs, minN, standardize,
          reportCategoricalBetas, family, joined, covKinds, design)
    }
    val rows = surveyDesign.fold(probe)(joinSurveyRows(probe, _))
    val caseLv = if (family == Glm.Gaussian) None
      else Some(caseLevel(outcome, cf.levels.getOrElse(outcome,
        rows.filter(isComplete(_, covariates.size)).map(_.getString(1)).distinct.toSeq)))
    val layout = RowLayout(covKinds, caseLv, design,
      if (standardize) (_, v) => DesignMatrix.zscore(v) else (_, v) => v)
    val (base, ids, _) = assemble(rows.iterator, layout, values = false)
    val index = ids.iterator.zipWithIndex.toMap
    checkObservations(cf.idCol, rows.length, index.size,
      base.survey.fold(0L)(_.clust.count(_ == null).toLong))
    val shared = spark.sparkContext.broadcast((index, base))
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
      val (index, b) = shared.value
      val pairs = new scala.collection.mutable.ArrayBuffer[(Int, String)]()
      it.foreach { case (id, _, v) => index.get(id).foreach(i => pairs += ((i, v))) }
      fitOne(variable, outcomeName, typesB.value(variable), levelsB.value.get(variable),
        b, pairs.map(_._1).toArray, pairs.map(_._2).toArray, family, minN, doStd, catBetas)
    }
    withMissingRows(spark, cf, outcome, rvs, results.collect())
  }

  /** The study's observations: id, outcome and covariates as strings.
    * With a design they are the subset's observations, incomplete ones
    * included (the missing-weight rule sees them), and each row path
    * LEFT-joins them to `surveyRowsDf`, which gives the study's one row
    * layout: id, outcome, covariates, `__strat`, `__clust`, the `__w_*`
    * weights and `__fpc`. The design's totals stay full
    * (survey_design.py:131-141 vs 552-578). Without a design they are the
    * complete-case rows. */
  private def observations(cf: CladeFrame, baseCols: Seq[String],
                           surveyDesign: Option[SurveyDesignSpec]): DataFrame = {
    val obs = cf.df.select((cf.idCol +: baseCols).map(c => col(c).cast("string").as(c)): _*)
    surveyDesign match {
      case None => obs.na.drop("any", baseCols)
      case Some(sd) => sd.subsetKeepIdsDf.fold(obs)(keep =>
        obs.join(keep.toDF(cf.idCol), Seq(cf.idCol), "left_semi"))
    }
  }

  /** The broadcast path's LEFT join of its probed observations to the
    * design's survey rows, done on the driver after one collect of
    * `surveyRowsDf`; the co-group path joins the same two in Spark. In
    * Spark this join is a broadcast hash join whose page-sized hash
    * relation raised `ewas_survey_wide`'s peak heap from 73 to 90 MB. */
  private def joinSurveyRows(probe: Array[Row], sd: SurveyDesignSpec): Array[Row] = {
    val byId = sd.surveyRowsDf.collect().groupBy(_.getString(0))
    val unmatched = Array(Row.fromSeq(Seq.fill[Any](4 + sd.weightColumnNames.size)(null)))
    probe.flatMap(r => byId.getOrElse(r.getString(0), unmatched)
      .map(s => Row.fromSeq(r.toSeq ++ s.toSeq.tail)))
  }

  /** Whether a row of the layout has its outcome and every covariate. */
  private def isComplete(r: Row, nCov: Int): Boolean =
    (1 to 1 + nCov).forall(!r.isNullAt(_))

  /** The checks both row paths make before any fit, from counts over their
    * observations: ids are unique (a duplicate would multiply rows in the
    * co-group join — observed: lineitem keyed by the non-unique l_orderkey
    * inflated N 60000→298996), and every complete-case observation has a
    * row in the survey design. */
  private def checkObservations(idCol: String, rows: Long, distinctIds: Long,
                                unmatched: Long): Unit = {
    require(distinctIds == rows,
      s"id column $idCol is not unique (${rows - distinctIds} duplicates) — " +
        "the observation key must identify rows (reference enforces a proper index)")
    require(unmatched == 0,
      s"The survey design is missing information for $unmatched rows in the data")
  }

  /** Builds the kernel's inputs from rows of the study's one row layout:
    * the driver calls it once on the broadcast probe's rows, each co-group
    * task on its variable's rows. Returns them with each position's id and,
    * with `values` (co-group rows, which end with the variable's value),
    * each position's value. */
  private def assemble(rows: Iterator[Row], layout: RowLayout,
                       values: Boolean): (BaseData, Array[String], Array[String]) = {
    import scala.collection.mutable.ArrayBuffer
    val nCov = layout.covariates.size
    val nW = layout.design.fold(0)(_.weightNames.size)
    val s0 = 2 + nCov // first survey cell
    val ids, vals, strat, clust = new ArrayBuffer[String]()
    val complete = new ArrayBuffer[Boolean]()
    val cells = Array.fill(1 + nCov)(new ArrayBuffer[String]()) // outcome, covariates
    val fpc = new ArrayBuffer[Double]()
    val w = Array.fill(nW)(new ArrayBuffer[Double]())
    rows.foreach { r =>
      ids += r.getString(0)
      complete += isComplete(r, nCov)
      var j = 0
      while (j <= nCov) { cells(j) += r.getString(1 + j); j += 1 }
      if (layout.design.nonEmpty) {
        strat += r.getString(s0)
        clust += r.getString(s0 + 1)
        var k = 0
        while (k < nW) {
          w(k) += (if (r.isNullAt(s0 + 2 + k)) Double.NaN else r.getDouble(s0 + 2 + k))
          k += 1
        }
        fpc += (if (r.isNullAt(s0 + 2 + nW)) 0.0 else r.getDouble(s0 + 2 + nW))
      }
      if (values) vals += r.getString(r.length - 1)
    }
    val fit = ids.indices.filter(complete).toArray
    val order = fit ++ ids.indices.filterNot(complete)
    def doubles(cell: Int) = layout.standardize(cell - 1, fit.map(cells(cell)(_).toDouble))
    val y = layout.caseLevel match {
      case Some(one) => fit.map(i => if (cells(0)(i) == one) 1.0 else 0.0)
      case None      => doubles(0)
    }
    val covars = layout.covariates.zipWithIndex.map {
      case ((c, "continuous"), j) => (c, "continuous", null: Array[String], doubles(j + 1))
      case ((c, kind), j)         => (c, kind, fit.map(cells(j + 1)), null: Array[Double])
    }
    val survey = layout.design.map(d => SurveyBase(d, fit.map(strat), fit.map(clust),
      fit.map(fpc), d.weightNames.zipWithIndex.map { case (wn, k) => wn -> order.map(w(k)) }.toMap))
    (BaseData(y, covars, survey), order.map(ids), if (values) order.map(vals) else Array.empty)
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
    * observations `obs` (with a design, already LEFT-joined to its survey
    * rows) by id, shuffle once keyed by variable, and
    * [[assemble]] the kernel's inputs inside each group. Identical numerics
    * to the broadcast path (same assembly, same fitOne kernel); the trade is
    * one wide shuffle of (value + observation) rows for zero driver-side
    * materialization. */
  private def runOneCogroup(
      spark: SparkSession,
      cf: CladeFrame,
      outcome: String,
      rvs: Seq[String],
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean,
      family: Glm.Family,
      obs: DataFrame,
      covKinds: Seq[(String, String)],
      design: Option[StudyDesign]): DataFrame = {
    import spark.implicits._
    // binary outcome levels: from metadata if present, else one tiny
    // distinct scan (O(#levels) rows to the driver, never row-scale)
    val caseLv = if (family == Glm.Gaussian) None
      else Some(caseLevel(outcome, cf.levels.getOrElse(outcome,
        cf.df.select(col(outcome).cast("string")).na.drop().distinct()
          .collect().map(_.getString(0)).toSeq)))
    // ONE aggregation over the observations feeds the checks the broadcast
    // path makes on its collected rows, and for standardize_data the global
    // moments of the continuous outcome and covariates over the
    // complete-case rows: each group then z-scores with the SAME moments the
    // broadcast path uses driver-side (identity when n < 2 or sd == 0). The
    // rv itself is standardized inside the kernel from its own group.
    val complete = (outcome +: covKinds.map(_._1)).map(col(_).isNotNull).reduce(_ && _)
    val unmatched =
      if (design.isEmpty) Nil else Seq(count(when(complete && col("__clust").isNull, 1)))
    val stdTargets: Seq[(Int, String)] =
      if (!standardize) Nil
      else (if (family == Glm.Gaussian) Seq(-1 -> outcome) else Nil) ++
        covKinds.zipWithIndex.collect { case ((c, "continuous"), j) => j -> c }
    val aggs = Seq(count(col(cf.idCol)), count_distinct(col(cf.idCol))) ++ unmatched ++
      stdTargets.flatMap { case (_, c) =>
        val v = when(complete, col(c).cast("double"))
        Seq(avg(v), stddev_samp(v))
      }
    val r = obs.agg(aggs.head, aggs.tail: _*).head()
    checkObservations(cf.idCol, r.getLong(0), r.getLong(1),
      if (unmatched.isEmpty) 0L else r.getLong(2))
    val m0 = 2 + unmatched.size
    val moments: Map[Int, (Double, Double)] = stdTargets.zipWithIndex.collect {
      case ((j, _), k) if !r.isNullAt(m0 + 2 * k) && !r.isNullAt(m0 + 2 * k + 1) &&
          r.getDouble(m0 + 2 * k + 1) > 0.0 =>
        j -> (r.getDouble(m0 + 2 * k), r.getDouble(m0 + 2 * k + 1))
    }.toMap
    val layout = RowLayout(covKinds, caseLv, design, (k, v) =>
      moments.get(k).fold(v) { case (mu, sd) => v.map(x => (x - mu) / sd) })

    val long = Modify.melt(
      cf.df.select((cf.idCol +: rvs).map(col): _*)
        .withColumn(cf.idCol, col(cf.idCol).cast("string")),
      rvs, keep = Seq(cf.idCol))
      .filter(col("value").isNotNull)
    // each row: the observation's cells, then (variable, value); the inner
    // join keeps just the observations (with a design, the subset's)
    val joined = obs.join(long, Seq(cf.idCol))
    val typesB = spark.sparkContext.broadcast(rvs.map(v => v -> cf.typeOf(v).name).toMap)
    val levelsB = spark.sparkContext.broadcast(cf.levels)
    val outcomeName = outcome
    val catBetas = reportCategoricalBetas
    val doStd = standardize

    val resultDs = joined.groupByKey(r => r.getString(r.length - 2)).flatMapGroups {
      (variable, rows) =>
        val (b, _, vals) = assemble(rows, layout, values = true)
        fitOne(variable, outcomeName, typesB.value(variable), levelsB.value.get(variable),
          b, Array.range(0, vals.length), vals, family, minN, doStd, catBetas)
    }
    // the co-group fit (melt ⋈ observations shuffle + per-variable kernels)
    // runs once, for this collect of its O(#rvs) rows
    withMissingRows(spark, cf, outcome, rvs, resultDs.collect())
  }

  /** The covariate terms on the fitted positions `idx`. */
  private def covariateTerms(b: BaseData, idx: Array[Int]): Seq[DesignMatrix.Term] =
    b.covars.map {
      case (name, "continuous", _, dv) => DesignMatrix.ContinuousTerm(name, idx.map(dv))
      case (name, _, sv, _)            => DesignMatrix.CategoricalTerm(name, idx.map(sv))
    }

  /** The one-column term of a non-categorical variable: a binary one coded
    * 0/1 by its levels (declared, else observed), any other parsed as
    * numbers and z-scored with `standardize`. */
  private def scalarTerm(variable: String, kind: String, knownLevels: Option[Seq[String]],
                         vals: Array[String], standardize: Boolean): DesignMatrix.Term =
    kind match {
      case "binary" =>
        DesignMatrix.BinaryTerm(variable, vals, knownLevels.getOrElse(vals.distinct.sorted.toSeq))
      case _ =>
        val raw = vals.map(_.toDouble)
        DesignMatrix.ContinuousTerm(variable, if (standardize) DesignMatrix.zscore(raw) else raw)
    }

  /** Fit one variable's model(s) on the base rows where it is present:
    * positions `present`, values `presentVals`. Only complete-case rows are
    * fitted; the others count for the missing-weight rule alone. Runs
    * executor-side; everything here is local array math. */
  private def fitOne(
      variable: String,
      outcome: String,
      kind: String,
      knownLevels: Option[Seq[String]],
      b: BaseData,
      present: Array[Int],
      presentVals: Array[String],
      family: Glm.Family,
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean): Seq[AssocResult] = {
    val fitted = present.indices.filter(present(_) < b.y.length)
    val idx = fitted.map(present).toArray
    val vals = fitted.map(presentVals).toArray
    val n = idx.length
    val nullRes = AssocResult(variable, outcome, kind, None, Converged = false,
      n, None, None, None, None, None, None)
    if (n < minN || n < 3) return Seq(nullRes.copy(error = Some(
      s"too few complete observations (min_n filter: $n < $minN)")))

    try {
      b.survey match {
        case Some(sv) =>
          return fitOneWeighted(variable, outcome, kind, knownLevels, b, sv,
            present, idx, vals, family, minN, standardize, reportCategoricalBetas)
        case None => ()
      }
      val ySub = DenseVector(idx.map(b.y))
      // non-varying covariates are dropped with a warning
      // (reference: base.py:174-187)
      val covarTerms = covariateTerms(b, idx)
      val nonVarying = covarTerms.filterNot(_.varies).map(_.name)
      val warn: Option[String] =
        if (nonVarying.isEmpty) None
        else Some(s"non-varying covariates(s): ${nonVarying.mkString(", ")}")

      kind match {
        case "continuous" | "binary" | "constant" | "unknown" =>
          val rvTerm = scalarTerm(variable, kind, knownLevels, vals, standardize)
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
      present: Array[Int],
      idx0: Array[Int],
      vals0: Array[String],
      family: Glm.Family,
      minN: Long,
      standardize: Boolean,
      reportCategoricalBetas: Boolean): Seq[AssocResult] = {
    // an rv with no mapped weight nulls this variable, not the whole study
    // (reference: per-variable ValueError capture)
    val weightName = sv.design.weightFor(variable) match {
      case Right(w) => w
      case Left(msg) => return Seq(AssocResult(variable, outcome, kind, None,
        Converged = false, idx0.length, None, None, None, None, None, None,
        error = Some(msg)))
    }
    val wAll: Array[Double] = weightName match {
      case Some(wn) => sv.weightsByName(wn)
      case None     => Array.fill(b.y.length)(1.0)
    }
    // missing-weight policy (survey_design.py:397-486): the check runs over
    // ALL subset rows where the variable is present (pre-complete-case, like the
    // reference's ~variable_na & weight_na mask) -> error (null result)
    // unless drop_unweighted
    val missingW = if (weightName.isEmpty) 0 else present.count(wAll(_).isNaN)
    val nullRes = AssocResult(variable, outcome, kind, weightName,
      Converged = false, idx0.length, None, None, None, None, None, None)
    val (idx, vals) =
      if (missingW == 0) (idx0, vals0)
      else if (sv.design.dropUnweighted) {
        val keep = idx0.indices.filterNot(i => wAll(idx0(i)).isNaN).toArray
        (keep.map(idx0), keep.map(vals0))
      } else return Seq(nullRes.copy(error = Some(
        s"$missingW observations are missing weights (${weightName.getOrElse("")}) " +
          "where the variable is present; pass drop_unweighted to analyze anyway")))
    val n = idx.length
    if (n < minN || n < 3) return Seq(nullRes.copy(N = n, error = Some(
      s"too few complete observations (min_n filter: $n < $minN)")))

    try {
      val ySub = DenseVector(idx.map(b.y))
      val w = idx.map(wAll)
      val covarTerms = covariateTerms(b, idx)
      val design = SurveyKernel.AlignedDesign(idx.map(sv.strat), idx.map(sv.clust), w,
        sv.design.totals, idx.map(sv.rowFpc))

      kind match {
        case "continuous" | "binary" | "constant" | "unknown" =>
          val rvTerm = scalarTerm(variable, kind, knownLevels, vals, standardize)
          if (!rvTerm.varies) return Seq(nullRes.copy(N = n))
          val (names, x) = DesignMatrix.build(n, covarTerms :+ rvTerm)
          val fit = Glm.fit(x, ySub, family, Some(DenseVector(w)))
          val i = names.indexWhere(_ == rvTerm.columns.head._1)
          // every design has strata, clusters or weights, so the sandwich
          val vcov = SurveyKernel.stataLinearizationVcov(x, ySub, fit, family, design)
          val se0 = math.sqrt(vcov(i, i))
          val dof = design.dof(n, x.cols)
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
