package graft.analyze

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.LocalPath
import graft.model.{CladeFrame, VariableType}
import graft.stats.{DesignMatrix, Glm}
import VariableType._

/** One row of the interaction-study results table
  * (reference: interaction_regression.py:143-168). */
final case class InteractionResult(
    Term1: String,
    Term2: String,
    Outcome: String,
    Converged: Boolean,
    N: Long,
    Beta: Option[Double],
    SE: Option[Double],
    Beta_pvalue: Option[Double],
    LRT_pvalue: Option[Double],
    error: Option[String] = None)

/** One row per interaction parameter in `report_betas` mode
  * (reference: interaction_regression.py:255-295) — reduced- and full-model
  * coefficients for each interaction design column. */
final case class InteractionBetaResult(
    Term1: String, Term2: String, Outcome: String, Parameter: String,
    Converged: Boolean, N: Long, LRT_pvalue: Option[Double],
    Red_Var1_beta: Option[Double], Red_Var1_SE: Option[Double], Red_Var1_Pval: Option[Double],
    Red_Var2_beta: Option[Double], Red_Var2_SE: Option[Double], Red_Var2_Pval: Option[Double],
    Full_Var1_Var2_beta: Option[Double], Full_Var1_Var2_SE: Option[Double],
    Full_Var1_Var2_Pval: Option[Double],
    Full_Var1_beta: Option[Double], Full_Var1_SE: Option[Double], Full_Var1_Pval: Option[Double],
    Full_Var2_beta: Option[Double], Full_Var2_SE: Option[Double], Full_Var2_Pval: Option[Double],
    error: Option[String] = None)

/** Pairwise interaction study — `analyze.interaction_study`
  * (reference: clarite/modules/analyze/interaction_study.py:10-137,
  * interaction_regression.py:22-501). For each pair (v1, v2): LRT of
  * `y ~ 1 + covars + v1 + v2 + v1:v2` against the model without the
  * interaction term.
  *
  * Gaussian studies with continuous covariates over continuous and
  * declared categorical/binary vars run from sufficient statistics
  * ([[runAggregated]]); the rest take one of two row paths, with identical
  * numerics — both decode their rows with one function and run ONE pair
  * kernel ([[PairStudy.fit]]):
  *
  *  - broadcast: the projected column block is collected once and
  *    broadcast; the PAIR list distributes. Right when rows fit on the
  *    driver and the pair list is large (all-pairs of a shortlist).
  *    [[graft.LocalPath.gate]] takes it when the block is within the
  *    driver bound, and its probe IS that collect.
  *  - co-group (otherwise, or under `graft.local.mode=distributed`): one
  *    `stack` generator fans each observation out to its pairs, one
  *    shuffle keyed by pair id, each group rebuilds the pair's local
  *    arrays executor-side. NOTHING row-scale ever reaches the driver —
  *    the path for billion-row data with a bounded pair list (each pair's
  *    rows must fit in one task, exactly like the association study's
  *    per-variable groups).
  *
  * Every path brings its O(#pairs) rows, in the kernel's row shape, to
  * the driver, where one rendering ([[render]]) makes them the result
  * table; both row paths return it as a local relation ([[complete]]).
  */
object InteractionStudy {

  /** Valid interaction variables: the frame's variables minus the outcome
    * and covariates, EXCLUDING unknown-typed columns — the reference's
    * regression_variables keeps only binary/categorical/continuous/
    * genotypes dtypes (base.py:107-114), so an uncategorized string column
    * is never a valid interaction variable there either. */
  private def validVars(cf: CladeFrame, outcome: String,
                        covariates: Seq[String]): Seq[String] =
    cf.variables.filterNot((outcome +: covariates).toSet)
      .filterNot(v => cf.typeOf(v) == Unknown)

  private def requireEnough(vs: Seq[String]): Unit =
    require(vs.size >= 2,
      s"Not enough valid variables for running interactions: ${vs.size} variables")

  /** The reference's `interactions=None` form
    * (interaction_regression.py:110-111): all pairwise combinations of
    * valid variables — the frame's variables minus the outcome and
    * covariates. Kept in COLUMN ORDER (the reference iterates a python
    * set, i.e. order is undefined there; results are sorted by p-value
    * either way). */
  def allPairs(cf: CladeFrame, outcome: String,
               covariates: Seq[String] = Nil): Seq[(String, String)] = {
    val vs = validVars(cf, outcome, covariates)
    requireEnough(vs)
    for (i <- vs.indices; j <- (i + 1) until vs.size) yield (vs(i), vs(j))
  }

  /** The reference's `interactions="variable"` form: that variable paired
    * with every other valid variable. The reference DOCUMENTS this form
    * (interaction_study.py:35-39) but `_process_interactions` validates
    * the name without ever building the pair list (a latent reference
    * bug, interaction_regression.py:112-117); this implements the
    * documented intent. */
  def pairsWith(cf: CladeFrame, variable: String, outcome: String,
                covariates: Seq[String] = Nil): Seq[(String, String)] = {
    val vs = validVars(cf, outcome, covariates)
    requireEnough(vs)
    require(vs.contains(variable),
      s"'$variable' was passed as the value for 'interactions' but is not a valid variable")
    vs.filterNot(_ == variable).map(v => (variable, v))
  }

  /** Explicit pair-list validation with the reference's error strings
    * (interaction_regression.py:118-137). */
  def validatePairs(cf: CladeFrame, outcome: String, covariates: Seq[String],
                    pairs: Seq[(String, String)]): Unit = {
    val valid = validVars(cf, outcome, covariates)
    requireEnough(valid)
    val vs = valid.toSet
    val errors = pairs.zipWithIndex.flatMap { case ((a, b), idx) =>
      if (!vs.contains(a))
        Some(s"Interaction ${idx + 1} of ${pairs.size} contains an invalid variable: '$a'")
      else if (!vs.contains(b))
        Some(s"Interaction ${idx + 1} of ${pairs.size} contains an invalid variable: '$b'")
      else None
    }
    require(errors.isEmpty,
      "Invalid interactions provided\n\t" + errors.mkString("\n\t"))
  }

  /** Multiple-outcome form (reference: interaction_study.py:92-120 loops
    * outcomes and concatenates): one run per outcome, results unioned and
    * re-sorted. With `interactions = None` the pair list is resolved PER
    * OUTCOME — other outcomes are valid interaction variables for this
    * one, exactly as the reference's regression_variables =
    * columns − {outcome} − covariates implies. */
  def runOutcomes(
      spark: SparkSession,
      cf0: CladeFrame,
      outcomes: Seq[String],
      interactions: Option[Seq[(String, String)]] = None,
      covariates: Seq[String] = Nil,
      minN: Long = 200,
      reportBetas: Boolean = false,
      encoding: String = "additive",
      edgeEncodingInfo: Option[DataFrame] = None): DataFrame = {
    require(outcomes.nonEmpty, "no outcomes")
    val parts = outcomes.map { o =>
      run(spark, cf0, o,
        interactions.getOrElse(allPairs(cf0, o, covariates)),
        covariates, minN, reportBetas, encoding = encoding,
        edgeEncodingInfo = edgeEncodingInfo)
    }
    LocalResult.collectSorted(parts.reduce(_.unionByName(_)),
      if (!reportBetas) PlainOrder else BetasOrder)
  }

  def run(
      spark: SparkSession,
      cf0: CladeFrame,
      outcome: String,
      interactions: Seq[(String, String)],
      covariates: Seq[String] = Nil,
      minN: Long = 200,
      reportBetas: Boolean = false,
      encoding: String = "additive",
      edgeEncodingInfo: Option[DataFrame] = None,
      variantInfo: Map[String, graft.genomics.Genotypes.VariantInfo] = Map.empty): DataFrame = {
    require(interactions.nonEmpty, "no interaction pairs")
    validatePairs(cf0, outcome, covariates, interactions)
    val cf = graft.genomics.Genotypes.encodeForStudy(cf0, encoding, edgeEncodingInfo, variantInfo)
    val allVars = interactions.flatMap(p => Seq(p._1, p._2)).distinct
    // Gaussian studies over continuous/declared-categorical variables
    // never need a row anywhere: each pair's full+restricted OLS is a
    // function of its (masked) sufficient statistics, computed for EVERY
    // pair in ONE scan — the AggregatedGlm shape. The patsy
    // design's Gram is selected driver-side as a SUBMATRIX of an
    // all-declared-levels superset Gram, so categorical/binary blocks ride
    // the same pass (their level sets must be declared — the CLARITE
    // make_categorical/make_binary contract). At sf1 the row paths cost
    // ~25s (6M-row collect or stack fan-out); this path is one pass of
    // fused array arithmetic. report_betas with categorical blocks stays
    // on the row paths (per-crossing coefficient naming is exercised by the
    // golden suites there); the cross-path equivalence tests reach the row
    // kernel directly through [[runRows]].
    def aggEligible(v: String): Boolean = cf.typeOf(v) match {
      case Continuous => true
      case Categorical | Binary => !reportBetas && cf.levels.contains(v)
      case _ => false
    }
    if (cf.typeOf(outcome) == Continuous &&
        covariates.forall(c => cf.typeOf(c) == Continuous) &&
        allVars.forall(aggEligible))
      runAggregated(spark, cf, outcome, interactions, covariates, minN, reportBetas)
    else runRows(spark, cf, outcome, interactions, covariates, minN, reportBetas)
  }

  /** The row paths, broadcast or co-group, as [[graft.LocalPath.gate]]
    * picks them. The block both read is the outcome, covariates and
    * interaction vars as strings, complete-cased on outcome + covariates
    * only — per-pair completeness is decided in the kernel. distinct: a
    * covariate reused as an interaction var must not project (and crash
    * na.drop on) a duplicate column. */
  private[graft] def runRows(
      spark: SparkSession,
      cf: CladeFrame,
      outcome: String,
      interactions: Seq[(String, String)],
      covariates: Seq[String],
      minN: Long,
      reportBetas: Boolean): DataFrame = {
    val study = PairStudy(cf, outcome, interactions, covariates, minN)
    val vars = interactions.flatMap(p => Seq(p._1, p._2)).distinct
    val cols = (outcome +: (covariates ++ vars)).distinct
    val block = cf.df
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .na.drop("any", outcome +: covariates)
    val fitted = LocalPath.gate("interactionStudy", block,
      AssociationStudy.broadcastRowBound(1 + covariates.size + vars.size)) match {
      case Some(rows) => fitBroadcast(spark, cf, study, rows, (covariates ++ vars).distinct
        .map(c => c -> cols.indexOf(c)))
      case None => fitCogroup(spark, cf, study, block)
    }
    complete(spark, study, fitted, reportBetas)
  }

  /** Broadcast execution: the gate's probe rows are decoded once on the
    * driver and broadcast, and the PAIR list distributes — one kernel call
    * a pair. `cells` places each covariate and interaction var in a row. */
  private def fitBroadcast(spark: SparkSession, cf: CladeFrame, study: PairStudy,
                           rows: Array[Row], cells: Seq[(String, Int)])
      : Array[(Int, InteractionBetaResult)] = {
    import spark.implicits._
    val caseLv = caseLevel(cf, study.outcome, rows.map(_.getString(0)).distinct.toSeq)
    val (y0, values) = decode(rows.iterator, caseLv, cells.map(_._2))
    val shared = spark.sparkContext.broadcast((y0, cells.map(_._1).zip(values).toMap))
    study.pairs.indices.toDS()
      .repartition(math.min(study.pairs.size, spark.sparkContext.defaultParallelism))
      .flatMap { k =>
        val (y, byName) = shared.value
        val (v1, v2) = study.pairs(k)
        study.fit(k, y, study.covariates.map(byName), byName(v1), byName(v2)).map(k -> _)
      }.collect()
  }

  /** Sufficient-statistics execution for Gaussian studies over
    * continuous and DECLARED categorical/binary variables: ONE [[Gram]]
    * fold over a primitive-array RDD accumulates, per pair, the masked
    * normal equations [n, sum y^2, X'y, upper(X'X)] of a SUPERSET design
    * block [1, covars, block1, block2, block1 x block2] — where a
    * continuous block is the value itself and a categorical block is one
    * dummy per declared level — with each column's min/max, and
    * per-continuous-var castfail counts. The patsy
    * design (observed levels sorted, first dropped, level crossings) is
    * then selected DRIVER-SIDE as a submatrix of each pair's superset
    * Gram — occupancy comes free as the dummy diagonal — and full +
    * restricted OLS solve from the same moments
    * ([[Gram.solveGauss]]: identical normal-equations algebra,
    * llf/SE/t-inference formulas to [[graft.stats.Glm]]'s row kernel).
    * NOTHING row-scale reaches the driver and no per-pair row fan-out
    * shuffles — state is O(#pairs * p^2) doubles with map-side combining.
    * min/max slots make every `varies` check EXACT (same `v != v(0)`
    * semantics as the row kernels), not threshold-based. */
  private def runAggregated(
      spark: SparkSession, cf: CladeFrame, outcome: String,
      interactions: Seq[(String, String)], covariates: Seq[String],
      minN: Long, reportBetas: Boolean): DataFrame = {
    val nc = covariates.size
    val vars: Seq[String] =
      (covariates ++ interactions.flatMap(p => Seq(p._1, p._2))).distinct
    val nPairs = interactions.size
    def isCat(v: String): Boolean = cf.typeOf(v) match {
      case Continuous => false
      case _ => true
    }
    def levelsOf(v: String): Array[String] = cf.levels(v).sorted.toArray
    val base = cf.df.na.drop("any", outcome +: covariates)

    // ---- row layout: [y] then per var: present + (value, castfail | dummies)
    final case class VSlots(present: Int, valueOrDummies: Array[Int],
                            castfail: Int, levels: Array[String])
    var w = 1
    val slots: Map[String, VSlots] = vars.map { v =>
      if (!isCat(v)) {
        val s = VSlots(w, Array(w + 1), w + 2, null); w += 3; v -> s
      } else {
        val lv = levelsOf(v)
        val s = VSlots(w, Array.tabulate(lv.length)(w + 1 + _), -1, lv)
        w += 1 + lv.length; v -> s
      }
    }.toMap
    val selCols: Seq[Column] =
      col(outcome).cast("double").as("__y") +: vars.flatMap { v =>
        val vp = when(col(v).isNotNull, 1.0).otherwise(0.0).as(s"__p_$v")
        if (!isCat(v))
          Seq(vp, Gram.numeric(v).as(s"__v_$v"), Gram.castFail(v).as(s"__cf_$v"))
        else vp +: slots(v).levels.toSeq.map(l => Gram.dummy(v, l).as(s"__d_${v}_$l"))
      }

    // ---- per-pair superset design: parallel primitive factor-slot arrays
    // (colA(j), colB(j)): (-1,-1) intercept; (a,-1) single factor; (a,b)
    // product — primitive arrays keep the per-row loop free of tuple
    // dereferences
    final case class PairLayout(v1: String, v2: String,
                                colA: Array[Int], colB: Array[Int],
                                b1: Int, b2: Int) {
      def p: Int = colA.length
      def covarCol(j: Int): Int = 1 + j
      def b1Start: Int = 1 + nc
      def b2Start: Int = 1 + nc + b1
      def crossStart: Int = 1 + nc + b1 + b2
    }
    val layouts: Array[PairLayout] = interactions.map { case (v1, v2) =>
      val s1 = slots(v1).valueOrDummies
      val s2 = slots(v2).valueOrDummies
      val cols: Array[(Int, Int)] = Array((-1, -1)) ++
        covariates.map(c => (slots(c).valueOrDummies(0), -1)) ++
        s1.map(a => (a, -1)) ++ s2.map(b => (b, -1)) ++
        (for (a <- s1; b <- s2) yield (a, b))
      PairLayout(v1, v2, cols.map(_._1), cols.map(_._2), s1.length, s2.length)
    }.toArray

    // ---- accumulator ([[Gram]]): per pair its block over the superset
    // design with w = 1, r = y and the scalar y², the (min, max) of its
    // p-1 non-intercept columns as ranges; per var its castfail tally
    val varIdx: Map[String, Int] = vars.zipWithIndex.toMap
    val rangeOff: Array[Int] = layouts.map(_.p - 1).scanLeft(0)(_ + _)
    val g = new Gram(layouts.map(_.p).toSeq, tallies = vars.size, ranges = rangeOff.last)
    val cfSlotArr: Array[Int] = vars.map(v => slots(v).castfail).toArray
    val presentArr: Array[(Int, Int)] = layouts.map(pl =>
      (slots(pl.v1).present, slots(pl.v2).present))
    val sums = g.fold(graft.stats.Rows.doubleRdd(base.select(selCols: _*))) { (st, row, z) =>
      var vi = 0
      while (vi < cfSlotArr.length) {
        if (cfSlotArr(vi) >= 0) g.tally(st, vi, row(cfSlotArr(vi)))
        vi += 1
      }
      val y = row(0)
      var k = 0
      while (k < nPairs) {
        if (row(presentArr(k)._1) == 1.0 && row(presentArr(k)._2) == 1.0) {
          val pl = layouts(k)
          val p = pl.p
          val ca = pl.colA
          val cb = pl.colB
          var j = 0
          while (j < p) {
            val a = ca(j); val b = cb(j)
            z(j) = if (a < 0) 1.0 else if (b < 0) row(a) else row(a) * row(b)
            j += 1
          }
          g.add(st, k, z, 1.0, y, y * y)
          j = 1
          while (j < p) { g.range(st, rangeOff(k) + j - 1, z(j)); j += 1 }
        }
        k += 1
      }
    }

    // a present-but-unparseable COVARIATE value (possible when a raw string
    // column is externally typed Continuous) would otherwise ride into every
    // pair's Gram as NaN and poison the solve silently; the row kernel hits
    // NumberFormatException and emits an error row, so mirror that here for
    // all pairs (covariates are shared across the whole study)
    val covarCastFail: Option[(String, Long)] = covariates.iterator
      .filter(c => slots(c).castfail >= 0)
      .map(c => (c, sums.tallies(varIdx(c)).toLong))
      .find(_._2 > 0)
    val study = PairStudy(cf, outcome, interactions, covariates, minN)
    val results = layouts.zipWithIndex.map { case (pl, k) =>
      val (v1, v2) = (pl.v1, pl.v2)
      val stats = sums.blocks(k)
      val n = stats.n
      val zz = stats.gram
      def varies(colIdx: Int): Boolean =
        sums.min(rangeOff(k) + colIdx - 1) < sums.max(rangeOff(k) + colIdx - 1)
      def fail(err: String, nn: Long) = errorRow(v1, v2, outcome, nn, err)

      // patsy selection per block: continuous -> the value column if it
      // varies; categorical -> OCCUPIED declared levels (dummy diagonal),
      // sorted, first dropped. Returns (keptSupersetIdx, termVaries).
      def blockKept(v: String, start: Int, size: Int): (Seq[Int], Boolean) =
        if (slots(v).levels == null) {
          (Seq(start), varies(start))
        } else {
          val occupied = (0 until size).filter(j => zz(start + j, start + j) > 0)
          val covered = (0 until size).map(j => zz(start + j, start + j)).sum
          if (math.abs(covered - n) > 0.5)
            throw new IllegalArgumentException(
              s"level metadata for $v is stale: ${n - covered.toLong} row(s) " +
                "hold values outside the declared levels")
          (occupied.drop(1).map(start + _), occupied.size > 1)
        }

      val cf1 = if (slots(v1).castfail >= 0) sums.tallies(varIdx(v1)).toLong else 0L
      val cf2 = if (slots(v2).castfail >= 0) sums.tallies(varIdx(v2)).toLong else 0L
      if (covarCastFail.isDefined) {
        val (badC, cntC) = covarCastFail.get
        fail(s"NumberFormatException: $cntC value(s) of covariate " +
          s"'$badC' could not be cast to numeric", n)
      } else if (cf1 > 0 || cf2 > 0) {
        // report the count that matches the variable being blamed (not
        // max(cf1, cf2), which could attribute v2's count to v1)
        val (bad, cnt) = if (cf1 > 0) (v1, cf1) else (v2, cf2)
        fail(s"NumberFormatException: $cnt value(s) of " +
          s"'$bad' could not be cast to numeric", n)
      } else if (n < minN || n < 3)
        fail(s"too few complete observations (min_n filter: $n < $minN)", n)
      else try {
        val (kept1, varies1) = blockKept(v1, pl.b1Start, pl.b1)
        val (kept2, varies2) = blockKept(v2, pl.b2Start, pl.b2)
        if (!varies1 || !varies2)
          fail("interaction term does not vary", n)
        else {
          val keptCovarIx = (0 until nc).filter(j => varies(pl.covarCol(j)))
            .map(pl.covarCol)
          // patsy crossings = kept block1 cols x kept block2 cols; the
          // TERM varies iff ANY kept crossing varies, and then ALL kept
          // crossings enter (term-level semantics, like DesignMatrix.build)
          val keptCross = for (a <- kept1; b <- kept2) yield
            pl.crossStart + (a - pl.b1Start) * pl.b2 + (b - pl.b2Start)
          val interVaries = keptCross.exists(varies)
          val restIx = (0 +: keptCovarIx) ++ kept1 ++ kept2
          val fullIx = if (interVaries) restIx ++ keptCross else restIx
          val (bR, ainvR, sseR, llfR, _) = Gram.solveGauss(stats.sub(restIx))
          val (bF, ainvF, sseF, llfF, _) =
            if (interVaries) Gram.solveGauss(stats.sub(fullIx))
            else (bR, ainvR, sseR, llfR, 0.0)
          val lrdf = fullIx.size - restIx.size
          val lrstat = -2.0 * (llfR - llfF)
          val lrP =
            if (lrdf == 0 && lrstat == 0.0) None
            else Some(graft.stats.Distributions.chi2Sf(lrstat, lrdf.toDouble))
          // the crossing's coefficient when it is one column (both blocks
          // single after patsy selection), like the row kernel's
          val pf = fullIx.size
          val scaleF = sseF / (n - pf)
          def coefAt(b: DenseVector[Double], ainv: DenseMatrix[Double], scale: Double,
                     pFit: Int, i: Int): Coef = {
            val bi = b(i)
            val sei = math.sqrt(ainv(i, i) * scale)
            (Some(bi), Some(sei), Some(
              graft.stats.Distributions.tSfTwoSided(bi / sei, (n - pFit).toDouble)))
          }
          val inter =
            if (interVaries && keptCross.size == 1) coefAt(bF, ainvF, scaleF, pf, pf - 1)
            else NoCoef
          // reportBetas reaches here only for all-continuous designs
          // (run()'s aggEligible gate): rest = [1, covars, v1, v2], full
          // appends the single crossing; without it the pair is one row
          // holding just the crossing, which is what the plain row reads
          val pr = restIx.size
          val scaleR = sseR / (n - pr)
          val (red1, red2) =
            if (!reportBetas) (NoCoef, NoCoef)
            else (coefAt(bR, ainvR, scaleR, pr, pr - 2), coefAt(bR, ainvR, scaleR, pr, pr - 1))
          val (full1, full2) =
            if (!reportBetas || !interVaries) (NoCoef, NoCoef)
            else (coefAt(bF, ainvF, scaleF, pf, pf - 3), coefAt(bF, ainvF, scaleF, pf, pf - 2))
          betaRow(v1, v2, outcome, s"$v1:$v2", converged = true, n, lrP,
            red1, red2, inter, full1, full2)
        }
      } catch {
        case e: Exception =>
          fail(s"${e.getClass.getSimpleName}: ${e.getMessage}", n)
      }
    }
    // sorted lazily over the local rows, not collected like the row paths'
    // table: the sort is the returned plan's one codegen stage
    val (table, order) = render(spark, study, results.toSeq.map(Seq(_)), reportBetas)
    table.orderBy(order.map(_.column): _*)
  }

  /** Co-group execution: a `stack` generator fans each base-complete
    * observation out to its (pair_id, val1, val2) rows, ONE shuffle keyed by
    * pair id, and each group is decoded and fitted by the same kernel as
    * the broadcast path. Nothing row-scale reaches the driver: the only
    * action is the one collect of the O(#pairs) result rows. */
  private def fitCogroup(spark: SparkSession, cf: CladeFrame, study: PairStudy,
                         base: DataFrame): Array[(Int, InteractionBetaResult)] = {
    import spark.implicits._
    val outcome = study.outcome
    // binary outcome levels: from metadata if present, else one tiny
    // distinct scan (O(#levels) rows to the driver, never row-scale)
    val caseLv = caseLevel(cf, outcome, cf.df.select(col(outcome).cast("string"))
      .na.drop().distinct().collect().map(_.getString(0)).toSeq)
    val pairSql = study.pairs.zipWithIndex.map { case ((a, b), i) =>
      s"$i, `$a`, `$b`"
    }.mkString(", ")
    // row: outcome(0), covars(1..nCov), pair_id(nCov+1), val1, val2
    val long = base.select((outcome +: study.covariates).map(col) :+
        expr(s"stack(${study.pairs.size}, $pairSql) AS (pair_id, val1, val2)"): _*)
      .filter(col("val1").isNotNull && col("val2").isNotNull)
    val nCov = study.covariates.size
    val cells = (1 to nCov) ++ Seq(nCov + 2, nCov + 3)
    long.groupByKey(_.getInt(nCov + 1)).flatMapGroups { (k, rows) =>
      val (y, values) = decode(rows, caseLv, cells)
      study.fit(k, y, values.take(nCov), values(nCov), values(nCov + 1)).map(k -> _)
    }.collect()
  }

  /** The value a binary outcome codes as 1, from its declared levels or
    * else the `observed` ones; None for a continuous outcome. */
  private def caseLevel(cf: CladeFrame, outcome: String,
                        observed: => Seq[String]): Option[String] =
    cf.typeOf(outcome) match {
      case Binary => Some(AssociationStudy.caseLevel(outcome,
        cf.levels.getOrElse(outcome, observed)))
      case _ => None
    }

  /** Decodes rows of either row path into the kernel's inputs: the outcome
    * in cell 0 (a binary one as 1.0 at its case level) and the string
    * values of each of `cells`. The broadcast path decodes its probe rows
    * once on the driver, each co-group task its pair's rows. */
  private def decode(rows: Iterator[Row], caseLv: Option[String],
                     cells: Seq[Int]): (Array[Double], Seq[Array[String]]) = {
    import scala.collection.mutable.ArrayBuffer
    val cellArr = cells.toArray
    val y = new ArrayBuffer[Double]()
    val values = Array.fill(cellArr.length)(new ArrayBuffer[String]())
    rows.foreach { r =>
      val v = r.getString(0)
      y += caseLv.fold(v.toDouble)(one => if (v == one) 1.0 else 0.0)
      var j = 0
      while (j < cellArr.length) { values(j) += r.getString(cellArr(j)); j += 1 }
    }
    (y.toArray, values.toSeq.map(_.toArray))
  }

  /** The row paths' result table as a local relation, from each pair's
    * kernel rows. A pair without rows — no complete observation, so no
    * co-group group — gets the kernel's rows for zero observations. */
  private def complete(spark: SparkSession, study: PairStudy,
                       fitted: Seq[(Int, InteractionBetaResult)],
                       reportBetas: Boolean): DataFrame = {
    val byPair = fitted.groupMap(_._1)(_._2)
    val (table, order) = render(spark, study, study.pairs.indices.map { k =>
      byPair.getOrElse(k, study.fit(k, Array.empty,
        study.covariates.map(_ => Array.empty[String]), Array.empty, Array.empty))
    }, reportBetas)
    LocalResult.collectSorted(table, order)
  }

  /** Every pair's rows, in pair order, as the result table and its row
    * order: the rows themselves with `reportBetas`, else each pair's one
    * plain row. */
  private def render(spark: SparkSession, study: PairStudy,
                     rows: Seq[Seq[InteractionBetaResult]],
                     reportBetas: Boolean): (DataFrame, Seq[SortKey]) = {
    import spark.implicits._
    if (reportBetas) (rows.flatten.toDF(), BetasOrder)
    else (rows.zipWithIndex.map { case (rs, k) => study.plain(k, rs) }.toDF(), PlainOrder)
  }

  /** Result row orders, plain and report_betas mode. */
  private val PlainOrder: Seq[SortKey] =
    Seq(SortKey("LRT_pvalue", nullsLast = true), SortKey("Term1"), SortKey("Term2"))
  private val BetasOrder: Seq[SortKey] = Seq(SortKey("LRT_pvalue", nullsLast = true),
    SortKey("Full_Var1_Var2_Pval", nullsLast = true), SortKey("Parameter"))

  /** A coefficient's (beta, SE, p-value); [[NoCoef]] when a model lacks it. */
  private type Coef = (Option[Double], Option[Double], Option[Double])
  private val NoCoef: Coef = (None, None, None)

  /** One result row of a pair: its reduced-model v1 and v2 coefficients,
    * and its full-model crossing, v1 and v2 coefficients. */
  private def betaRow(term1: String, term2: String, outcome: String, parameter: String,
                      converged: Boolean, n: Long, lrP: Option[Double],
                      red1: Coef, red2: Coef, inter: Coef, full1: Coef, full2: Coef,
                      error: Option[String] = None): InteractionBetaResult =
    InteractionBetaResult(term1, term2, outcome, parameter, converged, n, lrP,
      red1._1, red1._2, red1._3, red2._1, red2._2, red2._3,
      inter._1, inter._2, inter._3, full1._1, full1._2, full1._3,
      full2._1, full2._2, full2._3, error)

  /** A pair's one row when it has no fit: visible and not converged, never
    * a silently vanished pair (the reference emits 'NOT Converge' rows). */
  private def errorRow(v1: String, v2: String, outcome: String, n: Long,
                       error: String): InteractionBetaResult =
    betaRow(v1, v2, outcome, s"$v1:$v2", converged = false, n, None,
      NoCoef, NoCoef, NoCoef, NoCoef, NoCoef, Some(error))

  private def term(name: String, kind: String, raw: Array[String]): DesignMatrix.Term =
    kind match {
      case "continuous" =>
        DesignMatrix.ContinuousTerm(name, raw.map(_.toDouble))
      case _ =>
        // binary AND categorical enter interaction formulas as patsy
        // categoricals (dummy columns named `var[T.level]`) — the reference
        // builds these via formula strings, unlike the main-effect study's
        // "binary treated as continuous 0/1" rule
        DesignMatrix.CategoricalTerm(name, raw)
    }

  /** Interaction columns = elementwise products of the two terms' design
    * columns (level crossings for categoricals —
    * reference: interaction_regression.py:308-314). */
  private final case class ProductTerm(t1: DesignMatrix.Term, t2: DesignMatrix.Term)
      extends DesignMatrix.Term {
    def name: String = s"${t1.name}:${t2.name}"
    def columns: Seq[(String, Array[Double])] = for {
      (n1, c1) <- t1.columns; (n2, c2) <- t2.columns
    } yield s"$n1:$n2" -> Array.tabulate(c1.length)(i => c1(i) * c2(i))
    def varies: Boolean = columns.exists { case (_, v) => v.exists(_ != v(0)) }
  }

  private object PairStudy {
    def apply(cf: CladeFrame, outcome: String, interactions: Seq[(String, String)],
              covariates: Seq[String], minN: Long): PairStudy = {
      val family = cf.typeOf(outcome) match {
        case Continuous => Glm.Gaussian
        case Binary     => Glm.Binomial
        case t => throw new IllegalArgumentException(s"bad outcome type $t")
      }
      val vars = covariates ++ interactions.flatMap(p => Seq(p._1, p._2))
      PairStudy(outcome, interactions.toIndexedSeq, covariates,
        vars.map(v => v -> cf.typeOf(v).name).toMap, family, minN)
    }
  }

  /** What every pair of one study shares, with the one pair kernel and the
    * plain row rendered from its rows. `kinds` holds each covariate's and
    * interaction var's type name. */
  private final case class PairStudy(
      outcome: String,
      pairs: IndexedSeq[(String, String)],
      covariates: Seq[String],
      kinds: Map[String, String],
      family: Glm.Family,
      minN: Long) {

    /** The pair kernel: pair `k`'s reduced and full fits and their LRT over
      * the observations where both its vars are present, as one row per
      * interaction design column with the reduced- and full-model
      * coefficients (reference: interaction_regression.py:255-295), or as
      * one error row. The inputs are aligned over the outcome- and
      * covariate-complete observations (`a1`/`a2` may hold nulls). Pure
      * local math; both row paths run it executor-side. */
    def fit(k: Int, y: Array[Double], covars: Seq[Array[String]],
            a1: Array[String], a2: Array[String]): Seq[InteractionBetaResult] = {
      val (v1, v2) = pairs(k)
      def failed(n: Long, error: String) = Seq(errorRow(v1, v2, outcome, n, error))
      try {
        val idx = y.indices.filter(i => a1(i) != null && a2(i) != null).toArray
        val n = idx.length
        if (n < minN || n < 3)
          return failed(n, s"too few complete observations (min_n filter: $n < $minN)")

        val ySub = DenseVector(idx.map(y))
        val covarTerms = covariates.zip(covars).map { case (c, arr) =>
          term(c, kinds(c), idx.map(arr))
        }
        val t1 = term(v1, kinds(v1), idx.map(a1))
        val t2 = term(v2, kinds(v2), idx.map(a2))
        if (!t1.varies || !t2.varies) return failed(n, "interaction term does not vary")
        val inter = ProductTerm(t1, t2)

        val (namesRest, xRest) = DesignMatrix.build(n, covarTerms ++ Seq(t1, t2))
        val (namesFull, xFull) = DesignMatrix.build(n, covarTerms ++ Seq(t1, t2, inter))
        val rest = Glm.fit(xRest, ySub, family)
        val full = Glm.fit(xFull, ySub, family)
        val lrdf = full.p - rest.p
        val lrstat = -2.0 * (rest.llf - full.llf)
        // special case lrdf==0 && lrstat==0 (reference:
        // interaction_regression.py — interaction adds no information)
        val lrP =
          if (lrdf == 0 && lrstat == 0.0) None
          else Some(graft.stats.Distributions.chi2Sf(lrstat, lrdf.toDouble))
        val converged = full.converged && rest.converged

        def coef(names: Seq[String], fit: Glm.Fit, nm: String): Coef = {
          val i = names.indexOf(nm)
          if (i < 0) NoCoef
          else (Some(fit.beta(i)), Some(fit.se(i)), Some(fit.pvalue(i, family)))
        }
        inter.columns.map(_._1).map { param =>
          val Array(p1, p2) = param.split(":", 2)
          betaRow(p1, p2, outcome, param, converged, n, lrP,
            coef(namesRest, rest, p1), coef(namesRest, rest, p2),
            coef(namesFull, full, param), coef(namesFull, full, p1), coef(namesFull, full, p2))
        }
      } catch {
        // per-pair failures carry their reason on the error row (the
        // reference records error strings per test, base.py:155-195)
        case e: Exception => failed(0, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    /** Pair `k`'s plain row (reference: interaction_regression.py:143-168)
      * from its kernel rows: the crossing's coefficient when the pair has
      * exactly one interaction column. */
    def plain(k: Int, rows: Seq[InteractionBetaResult]): InteractionResult = {
      val (v1, v2) = pairs(k)
      val r = rows.head
      def single(c: Option[Double]) = c.filter(_ => rows.lengthCompare(1) == 0)
      InteractionResult(v1, v2, outcome, r.Converged, r.N, single(r.Full_Var1_Var2_beta),
        single(r.Full_Var1_Var2_SE), single(r.Full_Var1_Var2_Pval), r.LRT_pvalue, r.error)
    }
  }
}
