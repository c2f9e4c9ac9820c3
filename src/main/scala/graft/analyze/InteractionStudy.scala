package graft.analyze

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Two execution paths, identical numerics (shared array kernels):
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
    val all = parts.reduce(_.unionByName(_))
    if (!reportBetas) sortPlain(all) else sortBetas(all)
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
    // pair in ONE treeAggregate scan — the AggregatedGlm shape. The patsy
    // design's Gram is selected driver-side as a SUBMATRIX of an
    // all-declared-levels superset Gram, so categorical/binary blocks ride
    // the same pass (their level sets must be declared — the CLARITE
    // make_categorical/make_binary contract). At sf1 the row paths cost
    // ~25s (6M-row collect or stack fan-out); this path is one pass of
    // fused array arithmetic. report_betas with categorical blocks stays
    // on the row paths (per-crossing coefficient naming is exercised by the
    // golden suites there); the cross-path equivalence tests reach the row
    // kernels directly through [[runRows]].
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
    * only — per-pair completeness is decided in the task. distinct: a
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
    import spark.implicits._
    val outcomeType = cf.typeOf(outcome)
    val family = outcomeType match {
      case Continuous => Glm.Gaussian
      case Binary     => Glm.Binomial
      case t => throw new IllegalArgumentException(s"bad outcome type $t")
    }
    val vars = interactions.flatMap(p => Seq(p._1, p._2)).distinct
    val cols = (outcome +: (covariates ++ vars)).distinct
    val block = cf.df
      .select(cols.map(c => col(c).cast("string").as(c)): _*)
      .na.drop("any", outcome +: covariates)
    val rows = LocalPath.gate("interactionStudy", block,
      AssociationStudy.broadcastRowBound(1 + covariates.size + vars.size)) match {
      case Some(r) => r
      case None => return runCogroup(spark, cf, outcome, interactions, covariates,
        minN, reportBetas, family, block)
    }
    val n0 = rows.length
    val colIdx = cols.zipWithIndex.toMap

    val yRaw = Array.tabulate(n0)(i => rows(i).getString(0))
    val y = outcomeType match {
      case Binary =>
        val one = AssociationStudy.caseLevel(outcome,
          cf.levels.getOrElse(outcome, yRaw.distinct.toSeq))
        yRaw.map(v => if (v == one) 1.0 else 0.0)
      case _ => yRaw.map(_.toDouble)
    }
    val colData: Map[String, Array[String]] = (covariates ++ vars).map { c =>
      c -> Array.tabulate(n0)(i => rows(i).getString(colIdx(c)))
    }.toMap
    val typesMap = (covariates ++ vars).map(c => c -> cf.typeOf(c).name).toMap

    val yB = spark.sparkContext.broadcast(y)
    val colsB = spark.sparkContext.broadcast(colData)

    val outcomeName = outcome
    val pairsDs = interactions.toDS().repartition(
      math.min(interactions.size, spark.sparkContext.defaultParallelism))
    if (!reportBetas) {
      val results = pairsDs.map { case (v1, v2) =>
        val cd = colsB.value
        fitPairCore(v1, v2, outcomeName, typesMap(v1), typesMap(v2),
          yB.value, cd(v1), cd(v2),
          covariates.map(c => (c, typesMap(c), cd(c))), family, minN)
      }
      sortPlain(results.toDF())
    } else {
      val results = pairsDs.flatMap { case (v1, v2) =>
        val cd = colsB.value
        fitPairBetasCore(v1, v2, outcomeName, typesMap(v1), typesMap(v2),
          yB.value, cd(v1), cd(v2),
          covariates.map(c => (c, typesMap(c), cd(c))), family, minN)
      }
      sortBetas(results.toDF())
    }
  }

  /** Sufficient-statistics execution for Gaussian studies over
    * continuous and DECLARED categorical/binary variables: ONE
    * `treeAggregate` over a primitive-array RDD accumulates, per pair, the
    * masked Gram moments of a SUPERSET design block
    * [1, covars, block1, block2, block1 x block2] plus y — where a
    * continuous block is the value itself and a categorical block is one
    * dummy per declared level — plus [n, sum y^2, X'y, upper(X'X),
    * per-column min/max] and per-continuous-var castfail counts. The patsy
    * design (observed levels sorted, first dropped, level crossings) is
    * then selected DRIVER-SIDE as a submatrix of each pair's superset
    * Gram — occupancy comes free as the dummy diagonal — and full +
    * restricted OLS solve from the same moments
    * ([[AggregatedGlm.solveGauss]]: identical normal-equations algebra,
    * llf/SE/t-inference formulas to [[graft.stats.Glm]]'s row kernel).
    * NOTHING row-scale reaches the driver and no per-pair row fan-out
    * shuffles — state is O(#pairs * p^2) doubles with map-side combining.
    * min/max slots make every `varies` check EXACT (same `v != v(0)`
    * semantics as the row kernels), not threshold-based. */
  private def runAggregated(
      spark: SparkSession, cf: CladeFrame, outcome: String,
      interactions: Seq[(String, String)], covariates: Seq[String],
      minN: Long, reportBetas: Boolean): DataFrame = {
    import spark.implicits._
    val nc = covariates.size
    val vars: Seq[String] =
      (covariates ++ interactions.flatMap(p => Seq(p._1, p._2))).distinct
    val nPairs = interactions.size
    def tryD(c: String) = expr(s"try_cast(`$c` AS DOUBLE)")
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
          Seq(vp, tryD(v).as(s"__v_$v"),
            when(col(v).isNotNull && tryD(v).isNull, 1.0).otherwise(0.0)
              .as(s"__cf_$v"))
        else vp +: slots(v).levels.toSeq.map(l =>
          when(col(v).cast("string") === l, 1.0).otherwise(0.0)
            .as(s"__d_${v}_$l"))
      }

    // ---- per-pair superset design: parallel primitive factor-slot arrays
    // (colA(j), colB(j)): (-1,-1) intercept; (a,-1) single factor; (a,b)
    // product — primitive arrays keep the seqOp hot loop free of tuple
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
    val maxP = layouts.map(_.p).max

    // ---- accumulator layout: [castfail per var] ++ per pair
    //   [n, yy, zy(p), zz(tri p), min(p-1), max(p-1)]
    val nVars = vars.size
    val varIdx: Map[String, Int] = vars.zipWithIndex.toMap
    val pairOff = new Array[Int](nPairs)
    var szAcc = nVars
    layouts.zipWithIndex.foreach { case (pl, k) =>
      pairOff(k) = szAcc
      szAcc += 2 + pl.p + pl.p * (pl.p + 1) / 2 + 2 * (pl.p - 1)
    }
    val size = szAcc
    def mmOff(pl: PairLayout): Int = 2 + pl.p + pl.p * (pl.p + 1) / 2
    val zero = new Array[Double](size)
    layouts.zipWithIndex.foreach { case (pl, k) =>
      val mm = pairOff(k) + mmOff(pl)
      (0 until pl.p - 1).foreach { j =>
        zero(mm + j) = Double.PositiveInfinity
        zero(mm + (pl.p - 1) + j) = Double.NegativeInfinity
      }
    }
    val cfSlotArr: Array[Int] = vars.map(v => slots(v).castfail).toArray
    val presentArr: Array[(Int, Int)] = layouts.map(pl =>
      (slots(pl.v1).present, slots(pl.v2).present))

    // per-PARTITION fold (mapPartitions) + treeReduce instead of
    // treeAggregate: the z scratch buffer and the accumulator are allocated
    // once per partition, not per row — 6M rows at sf1 would otherwise churn
    // 6M short-lived arrays through the young gen inside the hot loop
    val partStates = graft.stats.Rows.doubleRdd(base.select(selCols: _*))
      .mapPartitions { it =>
        val st = zero.clone()
        val z = new Array[Double](maxP)
        it.foreach { row =>
          var vi = 0
          while (vi < nVars) {
            if (cfSlotArr(vi) >= 0) st(vi) += row(cfSlotArr(vi))
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
              val off = pairOff(k)
              st(off) += 1.0
              st(off + 1) += y * y
              var i = 0
              while (i < p) { st(off + 2 + i) += z(i) * y; i += 1 }
              var t = off + 2 + p
              i = 0
              while (i < p) {
                var jj = i
                while (jj < p) { st(t) += z(i) * z(jj); t += 1; jj += 1 }
                i += 1
              }
              val mm = off + mmOff(pl)
              i = 1
              while (i < p) {
                val v = z(i)
                if (v < st(mm + i - 1)) st(mm + i - 1) = v
                if (v > st(mm + (p - 1) + i - 1)) st(mm + (p - 1) + i - 1) = v
                i += 1
              }
            }
            k += 1
          }
        }
        Iterator.single(st)
      }
    // treeReduce throws on an empty collection; an empty (or AQE-coalesced-
    // to-nothing) input yields a ZERO-partition RDD, so degrade to the zero
    // state — every pair then reports its "too few observations" row
    // instead of crashing (mapPartitions preserves partition count, so the
    // check is exact)
    val acc = if (partStates.getNumPartitions == 0) zero.clone()
      else partStates.treeReduce { (x, yArr) =>
        var i = 0
        while (i < nVars) { x(i) += yArr(i); i += 1 }
        var k = 0
        while (k < nPairs) {
          val pl = layouts(k)
          val off = pairOff(k)
          val sumLen = mmOff(pl)
          var j = 0
          while (j < sumLen) { x(off + j) += yArr(off + j); j += 1 }
          val mm = off + sumLen
          j = 0
          while (j < pl.p - 1) {
            if (yArr(mm + j) < x(mm + j)) x(mm + j) = yArr(mm + j)
            val mx = mm + (pl.p - 1) + j
            if (yArr(mx) > x(mx)) x(mx) = yArr(mx)
            j += 1
          }
          k += 1
        }
        x
      }

    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    // a present-but-unparseable COVARIATE value (possible when a raw string
    // column is externally typed Continuous) would otherwise ride into every
    // pair's Gram as NaN and poison the solve silently; the row kernel hits
    // NumberFormatException and emits an error row, so mirror that here for
    // all pairs (covariates are shared across the whole study)
    val covarCastFail: Option[(String, Long)] = covariates.iterator
      .filter(c => slots(c).castfail >= 0)
      .map(c => (c, acc(varIdx(c)).toLong))
      .find(_._2 > 0)
    val results: Seq[Product] = layouts.zipWithIndex.map { case (pl, k) =>
      val (v1, v2) = (pl.v1, pl.v2)
      val off = pairOff(k)
      val n = acc(off).toLong
      val yy = acc(off + 1)
      val p = pl.p
      val zy = Array.tabulate(p)(i => acc(off + 2 + i))
      val zz = BDM.zeros[Double](p, p)
      var t = off + 2 + p
      var i = 0
      while (i < p) {
        var j = i
        while (j < p) { zz(i, j) = acc(t); zz(j, i) = acc(t); t += 1; j += 1 }
        i += 1
      }
      val mm = off + mmOff(pl)
      def varies(colIdx: Int): Boolean =
        acc(mm + colIdx - 1) < acc(mm + (p - 1) + colIdx - 1)
      def failPlain(err: String, nn: Long) = InteractionResult(
        v1, v2, outcome, Converged = false, nn, None, None, None, None,
        error = Some(err))
      def failBetas(err: String, nn: Long) = InteractionBetaResult(
        v1, v2, outcome, s"$v1:$v2", Converged = false, nn, None,
        None, None, None, None, None, None, None, None, None, None, None,
        None, None, None, None, error = Some(err))
      def fail(err: String, nn: Long): Product =
        if (!reportBetas) failPlain(err, nn) else failBetas(err, nn)

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

      val cf1 = if (slots(v1).castfail >= 0) acc(varIdx(v1)).toLong else 0L
      val cf2 = if (slots(v2).castfail >= 0) acc(varIdx(v2)).toLong else 0L
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
          def statsOf(ix: Seq[Int]) = AggregatedGlm.GaussStats(n, yy,
            BDV(ix.map(zy(_)).toArray),
            BDM.tabulate(ix.size, ix.size)((a, b) => zz(ix(a), ix(b))))
          val (bR, ainvR, sseR, llfR, _) = AggregatedGlm.solveGauss(statsOf(restIx))
          val (bF, ainvF, sseF, llfF, _) =
            if (interVaries) AggregatedGlm.solveGauss(statsOf(fullIx))
            else (bR, ainvR, sseR, llfR, 0.0)
          val lrdf = fullIx.size - restIx.size
          val lrstat = -2.0 * (llfR - llfF)
          val lrP =
            if (lrdf == 0 && lrstat == 0.0) None
            else Some(graft.stats.Distributions.chi2Sf(lrstat, lrdf.toDouble))
          if (!reportBetas) {
            // single-column interactions (both blocks single after patsy
            // selection) report the crossing coefficient, like the row path
            val (beta, se, bp) =
              if (!interVaries || keptCross.size != 1) (None, None, None)
              else {
                val pf = fullIx.size
                val scale = sseF / (n - pf)
                val bi = bF(pf - 1)
                val sei = math.sqrt(ainvF(pf - 1, pf - 1) * scale)
                (Some(bi), Some(sei), Some(
                  graft.stats.Distributions.tSfTwoSided(bi / sei, (n - pf).toDouble)))
              }
            InteractionResult(v1, v2, outcome, Converged = true, n,
              beta, se, bp, lrP)
          } else {
            // reportBetas reaches here only for all-continuous designs
            // (run()'s aggEligible gate): rest = [1, covars, v1, v2],
            // full appends the single crossing
            val pr = restIx.size
            val scaleR = sseR / (n - pr)
            def coefAt(b: BDV[Double], ainv: BDM[Double], scale: Double,
                       pFit: Int, i: Int) = {
              val bi = b(i)
              val sei = math.sqrt(ainv(i, i) * scale)
              (Some(bi), Some(sei), Some(
                graft.stats.Distributions.tSfTwoSided(bi / sei, (n - pFit).toDouble)))
            }
            val (rb1, rs1, rp1) = coefAt(bR, ainvR, scaleR, pr, pr - 2)
            val (rb2, rs2, rp2) = coefAt(bR, ainvR, scaleR, pr, pr - 1)
            val (fbi, fsi, fpi, fb1, fs1, fp1, fb2, fs2, fp2) =
              if (!interVaries) (None, None, None, None, None, None, None, None, None)
              else {
                val pf = fullIx.size
                val scaleF = sseF / (n - pf)
                val (a1, a2, a3) = coefAt(bF, ainvF, scaleF, pf, pf - 1)
                val (b1, b2, b3) = coefAt(bF, ainvF, scaleF, pf, pf - 3)
                val (c1, c2, c3) = coefAt(bF, ainvF, scaleF, pf, pf - 2)
                (a1, a2, a3, b1, b2, b3, c1, c2, c3)
              }
            InteractionBetaResult(v1, v2, outcome, s"$v1:$v2",
              Converged = true, n, lrP, rb1, rs1, rp1, rb2, rs2, rp2,
              fbi, fsi, fpi, fb1, fs1, fp1, fb2, fs2, fp2)
          }
        }
      } catch {
        case e: Exception =>
          fail(s"${e.getClass.getSimpleName}: ${e.getMessage}", n)
      }
    }
    if (!reportBetas)
      sortPlain(results.map(_.asInstanceOf[InteractionResult]).toDF())
    else
      sortBetas(results.map(_.asInstanceOf[InteractionBetaResult]).toDF())
  }

  /** Co-group execution: a `stack` generator fans each base-complete
    * observation out to its (pair_id, val1, val2) rows, ONE shuffle keyed by
    * pair id, and each group streams through the same local kernels as the
    * broadcast path. The only action is the one collect of the O(#pairs)
    * result rows, which are completed and sorted on the driver. */
  private def runCogroup(
      spark: SparkSession,
      cf: CladeFrame,
      outcome: String,
      interactions: Seq[(String, String)],
      covariates: Seq[String],
      minN: Long,
      reportBetas: Boolean,
      family: Glm.Family,
      base: DataFrame): DataFrame = {
    import spark.implicits._
    // binary outcome levels: from metadata if present, else one tiny
    // distinct scan (O(#levels) rows to the driver, never row-scale)
    val caseLv: Option[String] = cf.typeOf(outcome) match {
      case Binary => Some(AssociationStudy.caseLevel(outcome, cf.levels.getOrElse(outcome,
        cf.df.select(col(outcome).cast("string")).na.drop().distinct()
          .collect().map(_.getString(0)).toSeq)))
      case _ => None
    }
    val vars = interactions.flatMap(p => Seq(p._1, p._2)).distinct
    val baseCols = outcome +: covariates
    val pairSql = interactions.zipWithIndex.map { case ((a, b), i) =>
      s"$i, `$a`, `$b`"
    }.mkString(", ")
    val long = base.select(
        baseCols.map(col) :+
          expr(s"stack(${interactions.size}, $pairSql) AS (pair_id, val1, val2)"): _*)
      .filter(col("val1").isNotNull && col("val2").isNotNull)
    // row: outcome(0), covars(1..nCov), pair_id(nCov+1), val1, val2
    val nCov = covariates.size
    val covarKindArr = covariates.map(c => cf.typeOf(c).name)
    val interArr = interactions.toIndexedSeq
    val varKinds: Map[String, String] = vars.map(v => v -> cf.typeOf(v).name).toMap
    val outcomeName = outcome
    val covarSeq = covariates

    def collectGroup(rows: Iterator[org.apache.spark.sql.Row])
        : (Array[Double], Array[String], Array[String], Seq[(String, String, Array[String])]) = {
      val yBuf = new scala.collection.mutable.ArrayBuffer[Double]()
      val a1 = new scala.collection.mutable.ArrayBuffer[String]()
      val a2 = new scala.collection.mutable.ArrayBuffer[String]()
      val covarBufs = Array.fill(nCov)(new scala.collection.mutable.ArrayBuffer[String]())
      rows.foreach { r =>
        val yRaw = r.getString(0)
        yBuf += caseLv.fold(yRaw.toDouble)(one => if (yRaw == one) 1.0 else 0.0)
        var j = 0
        while (j < nCov) { covarBufs(j) += r.getString(1 + j); j += 1 }
        a1 += r.getString(nCov + 2)
        a2 += r.getString(nCov + 3)
      }
      val covarRaw = covarSeq.zipWithIndex.map { case (c, j) =>
        (c, covarKindArr(j), covarBufs(j).toArray)
      }
      (yBuf.toArray, a1.toArray, a2.toArray, covarRaw)
    }

    val grouped = long.groupByKey(_.getInt(nCov + 1))
    // a pair with NO complete rows forms no group; the reference still
    // emits its non-converged row. pair_id rides along so the membership
    // check does not depend on result naming (betas rows carry PARAMETER
    // names). The fit runs once, for the one collect of its O(#pairs) rows,
    // and the table is completed and sorted on the driver.
    if (!reportBetas) {
      val fitted = grouped.mapGroups { (pairId, rows) =>
        val (v1, v2) = interArr(pairId)
        val (y, a1, a2, covarRaw) = collectGroup(rows)
        pairId -> fitPairCore(v1, v2, outcomeName, varKinds(v1), varKinds(v2),
          y, a1, a2, covarRaw, family, minN)
      }.collect()
      val produced = fitted.iterator.map(_._1).toSet
      val missing = interArr.indices.filterNot(produced).map { i =>
        val (v1, v2) = interArr(i)
        InteractionResult(v1, v2, outcomeName, Converged = false, 0,
          None, None, None, None, error = Some("no non-missing observations"))
      }
      LocalResult.collectSorted((fitted.toSeq.map(_._2) ++ missing).toDF(), PlainOrder)
    } else {
      val fitted = grouped.flatMapGroups { (pairId, rows) =>
        val (v1, v2) = interArr(pairId)
        val (y, a1, a2, covarRaw) = collectGroup(rows)
        fitPairBetasCore(v1, v2, outcomeName, varKinds(v1), varKinds(v2),
          y, a1, a2, covarRaw, family, minN).map(pairId -> _)
      }.collect()
      val produced = fitted.iterator.map(_._1).toSet
      val missing = interArr.indices.filterNot(produced).map { i =>
        val (v1, v2) = interArr(i)
        InteractionBetaResult(v1, v2, outcomeName, s"$v1:$v2",
          Converged = false, 0, None, None, None, None, None, None, None,
          None, None, None, None, None, None, None, None, None,
          error = Some("no non-missing observations"))
      }
      LocalResult.collectSorted((fitted.toSeq.map(_._2) ++ missing).toDF(), BetasOrder)
    }
  }

  /** Result row orders (plain and report_betas mode), shared by the
    * distributed sorts below and the co-group path's driver-side sort. */
  private val PlainOrder: Seq[SortKey] =
    Seq(SortKey("LRT_pvalue", nullsLast = true), SortKey("Term1"), SortKey("Term2"))
  private val BetasOrder: Seq[SortKey] = Seq(SortKey("LRT_pvalue", nullsLast = true),
    SortKey("Full_Var1_Var2_Pval", nullsLast = true), SortKey("Parameter"))

  private def sortPlain(df: DataFrame): DataFrame = df.orderBy(PlainOrder.map(_.column): _*)

  private def sortBetas(df: DataFrame): DataFrame = df.orderBy(BetasOrder.map(_.column): _*)

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

  /** Shared pair kernel over base-complete aligned arrays (a1/a2 may hold
    * nulls: pair completeness is filtered here). Pure local math — runs
    * executor-side from both execution paths. */
  private def fitPairCore(
      v1: String, v2: String, outcome: String, k1: String, k2: String,
      y: Array[Double], a1: Array[String], a2: Array[String],
      covarRaw: Seq[(String, String, Array[String])],
      family: Glm.Family, minN: Long): InteractionResult = {
    val nullRes = InteractionResult(v1, v2, outcome, Converged = false, 0,
      None, None, None, None)
    try {
      val idx = (0 until y.length).filter(i => a1(i) != null && a2(i) != null).toArray
      val n = idx.length
      if (n < minN || n < 3) return nullRes.copy(N = n, error = Some(
        s"too few complete observations (min_n filter: $n < $minN)"))

      val ySub = DenseVector(idx.map(y))
      val covarTerms = covarRaw.map { case (c, k, arr) => term(c, k, idx.map(arr)) }
      val t1 = term(v1, k1, idx.map(a1))
      val t2 = term(v2, k2, idx.map(a2))
      if (!t1.varies || !t2.varies) return nullRes.copy(N = n, error = Some(
        s"interaction term does not vary"))
      val inter = ProductTerm(t1, t2)

      val (_, xRest) = DesignMatrix.build(n, covarTerms ++ Seq(t1, t2))
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

      // single-column interaction (both terms continuous/binary): report its
      // beta like the reference does
      val interCols = inter.columns.map(_._1)
      val (beta, se, bp) =
        if (interCols.size == 1) {
          val i = namesFull.indexOf(interCols.head)
          if (i >= 0)
            (Some(full.beta(i)), Some(full.se(i)), Some(full.pvalue(i, family)))
          else (None, None, None)
        } else (None, None, None)

      InteractionResult(v1, v2, outcome, full.converged && rest.converged, n,
        beta, se, bp, lrP)
    } catch {
      // per-pair failures carry their reason on the null row (the reference
      // records error strings per test, base.py:155-195)
      case e: Exception => nullRes.copy(error = Some(
        s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** report_betas mode: one row per interaction design column with reduced-
    * and full-model coefficient reports (reference:
    * interaction_regression.py:255-295). */
  private def fitPairBetasCore(
      v1: String, v2: String, outcome: String, k1: String, k2: String,
      y: Array[Double], a1: Array[String], a2: Array[String],
      covarRaw: Seq[(String, String, Array[String])],
      family: Glm.Family, minN: Long): Seq[InteractionBetaResult] = {
    // failures yield a visible non-converged placeholder row, never a
    // silently-vanished pair (the reference emits 'NOT Converge' rows)
    def failRow(n: Long) = Seq(InteractionBetaResult(v1, v2, outcome,
      s"$v1:$v2", Converged = false, n, None, None, None, None, None, None,
      None, None, None, None, None, None, None, None, None, None))
    try {
      val idx = (0 until y.length).filter(i => a1(i) != null && a2(i) != null).toArray
      val n = idx.length
      if (n < minN || n < 3) return failRow(n).map(_.copy(error = Some(
        s"too few complete observations (min_n filter: $n < $minN)")))

      val ySub = DenseVector(idx.map(y))
      val covarTerms = covarRaw.map { case (c, k, arr) => term(c, k, idx.map(arr)) }
      val t1 = term(v1, k1, idx.map(a1))
      val t2 = term(v2, k2, idx.map(a2))
      if (!t1.varies || !t2.varies) return failRow(n).map(_.copy(error = Some(
        "interaction term does not vary")))
      val inter = ProductTerm(t1, t2)

      val (namesRest, xRest) = DesignMatrix.build(n, covarTerms ++ Seq(t1, t2))
      val (namesFull, xFull) = DesignMatrix.build(n, covarTerms ++ Seq(t1, t2, inter))
      val rest = Glm.fit(xRest, ySub, family)
      val full = Glm.fit(xFull, ySub, family)
      val lrdf = full.p - rest.p
      val lrstat = -2.0 * (rest.llf - full.llf)
      val lrP =
        if (lrdf == 0 && lrstat == 0.0) None
        else Some(graft.stats.Distributions.chi2Sf(lrstat, lrdf.toDouble))
      val converged = full.converged && rest.converged

      def coef(names: Seq[String], fit: Glm.Fit, nm: String)
          : (Option[Double], Option[Double], Option[Double]) = {
        val i = names.indexOf(nm)
        if (i < 0) (None, None, None)
        else (Some(fit.beta(i)), Some(fit.se(i)), Some(fit.pvalue(i, family)))
      }

      inter.columns.map(_._1).map { param =>
        val Array(p1, p2) = param.split(":", 2)
        val (rb1, rs1, rp1) = coef(namesRest, rest, p1)
        val (rb2, rs2, rp2) = coef(namesRest, rest, p2)
        val (fbi, fsi, fpi) = coef(namesFull, full, param)
        val (fb1, fs1, fp1) = coef(namesFull, full, p1)
        val (fb2, fs2, fp2) = coef(namesFull, full, p2)
        InteractionBetaResult(p1, p2, outcome, param, converged, n, lrP,
          rb1, rs1, rp1, rb2, rs2, rp2, fbi, fsi, fpi, fb1, fs1, fp1, fb2, fs2, fp2)
      }
    } catch {
      case e: Exception => failRow(0).map(_.copy(error = Some(
        s"${e.getClass.getSimpleName}: ${e.getMessage}")))
    }
  }
}
