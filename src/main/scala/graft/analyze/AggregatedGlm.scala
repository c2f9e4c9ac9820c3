package graft.analyze

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{CladeFrame, VariableType}
import graft.stats.{Distributions, Glm}
import VariableType._

/** Distributed sufficient-statistics GLM — the 100 TB execution path for
  * mass per-variable regressions over TALL data.
  *
  * The broadcast+melt fan-out in [[AssociationStudy]] is the right shape for
  * the reference's EWAS workload (thousands of variables × modest rows).
  * When the table is instead billions of rows × a variable set whose design
  * columns are expressible without observed-level discovery, the data must
  * never be collected or reshuffled. This path expresses each per-variable
  * model fit purely as AGGREGATES over the observation table:
  *
  *   - Gaussian/identity: the normal equations Z'Z·β = Z'y per variable are
  *     sums of column products under that variable's complete-case mask —
  *     ONE map-side-combined aggregation pass fits EVERY variable at once
  *     (batched to keep codegen happy); the p×p solves are driver-side
  *     microseconds. Zero shuffles of data rows; the scan streams once.
  *     Categorical variables with KNOWN levels (metadata) fit in the SAME
  *     single pass: the full design uses all-levels dummies without an
  *     intercept (same span as intercept + L-1 dummies; SSE/LRT are
  *     parameterization-invariant), level occupancy falls out of the Z'Z
  *     diagonal (empty-level pruning matching `_remove_empty_categories`,
  *     plus a stale-metadata guard), and the restricted model solves on
  *     the {intercept, covars} block of the same statistics.
  *   - Binomial/logit: distributed IRLS — each iteration is one aggregation
  *     pass computing every variable's weighted normal equations and
  *     deviance simultaneously at its current β. Variables converge
  *     independently on [[Glm.devConverged]]; typically < 10 passes.
  *     Continuous, binary (0/1 encodable) and known-level categorical
  *     variables run here; a categorical's LRT fits its full and restricted
  *     models in the same passes.
  *
  * Every pass accumulates through [[Gram]], the one packed normal-equations
  * layout.
  *
  * Gaussian results equal the row kernel's ([[graft.stats.Glm]]) up to
  * float summation order: the same normal equations, solved the same way.
  * Binomial results do not equal it exactly. A pass computes its deviance
  * at the β it starts from, so the deviance lags one pass behind the β the
  * pass solves: the loop stops on Glm's rule one Newton step later than
  * `Glm.fitBinomial`, and the SE is taken at that final β, where Glm uses
  * the weights of its last weighted least squares. The two agree to about
  * 1e-6 relative, the tolerance `AggregatedGlmSpec` compares them at.
  */
object AggregatedGlm {

  /** Max regression variables fitted per aggregation job: bounds the width
    * of a single agg (codegen/JVM method-size limits), while each batch
    * still amortizes one full scan over many models. */
  val BatchSize = 64

  private def rvKindOk(cf: CladeFrame, rv: String): Boolean =
    cf.typeOf(rv) match {
      case Continuous  => true
      case Binary      => cf.levels.contains(rv)
      case Categorical => cf.levels.contains(rv)
      case _           => false
    }

  /** Can (outcome, covariates, rvs) run on this path? */
  def supports(cf: CladeFrame, outcome: String, covariates: Seq[String],
               rvs: Seq[String], standardize: Boolean): Boolean = {
    val gaussian = cf.typeOf(outcome) == Continuous
    val oOk = gaussian || (cf.typeOf(outcome) == Binary && cf.levels.contains(outcome))
    oOk && !standardize &&
      covariates.forall(cf.typeOf(_) == Continuous) &&
      rvs.forall(rvKindOk(cf, _))
  }

  def run(spark: SparkSession, cf: CladeFrame, outcome: String,
          covariates: Seq[String], rvs: Seq[String], minN: Long): DataFrame = {
    import spark.implicits._
    val binaryOutcome = cf.typeOf(outcome) == Binary
    val yExpr: Column =
      if (!binaryOutcome) Gram.numeric(outcome) // malformed -> null -> masked
      else Gram.dummy(outcome, AssociationStudy.caseLevel(outcome, cf.levels(outcome)))
    val results = rvs.grouped(BatchSize).flatMap { batch =>
      if (binaryOutcome)
        fitBinomialBatch(cf, cf.df, yExpr, Seq(outcome), covariates, batch, minN)
      else
        fitGaussianBatch(cf, cf.df, yExpr, Seq(outcome), covariates, batch, minN)
    }.toSeq
    results.map { r =>
      AssocResult(r.variable, outcome, r.kind, None, r.converged, r.n,
        r.beta, r.se, r.betaPvalue, r.lrtPvalue, r.diffAic, r.pvalue,
        error = r.error, warnings = r.warnings)
    }.toDF()
  }

  private final case class RvFit(
      variable: String, kind: String, n: Long, converged: Boolean,
      beta: Option[Double] = None, se: Option[Double] = None,
      betaPvalue: Option[Double] = None, lrtPvalue: Option[Double] = None,
      diffAic: Option[Double] = None, pvalue: Option[Double] = None,
      error: Option[String] = None, warnings: Option[String] = None)

  /** Numeric encoding of the tested column for continuous/binary rvs
    * (binary "treated as continuous 0/1", sorted second level = 1). */
  private def rvNumeric(cf: CladeFrame, v: String): Column = cf.typeOf(v) match {
    case Binary => Gram.dummy(v, cf.levels(v).sorted.lift(1).orNull)
    case _ => Gram.numeric(v)
  }

  /** Complete-case mask over the EFFECTIVE design expressions: a value that
    * survives a raw null check but fails its numeric cast must not be
    * counted in n while contributing nothing to the sums. Numeric casts use
    * try_cast (ANSI-safe); binary/categorical columns are string-encoded,
    * so their raw null check is the right predicate. */
  private def maskFor(cf: CladeFrame, covariates: Seq[String], v: String,
                      outcomeCols: Seq[String]): Column = {
    def notNullFor(c: String): Column = cf.typeOf(c) match {
      case Continuous => Gram.numeric(c).isNotNull
      case _          => col(c).isNotNull
    }
    (outcomeCols.map(notNullFor) ++ covariates.map(notNullFor) :+
      notNullFor(v)).reduce(_ && _)
  }

  /** Copies the design cells `idx` of `row` into `z`. */
  private def gather(row: Array[Double], idx: Array[Int], z: Array[Double]): Unit = {
    var i = 0
    while (i < idx.length) { z(i) = row(idx(i)); i += 1 }
  }

  // ------------------------------------------------------------- Gaussian

  private def fitGaussianBatch(cf: CladeFrame, df: DataFrame, yExpr: Column,
                               outCols: Seq[String], covariates: Seq[String],
                               batch: Seq[String], minN: Long): Seq[RvFit] = {
    // Design columns per rv, ONE pass for everything:
    //  - continuous/binary: [1, covars, rv]
    //  - categorical: [1, covars, dummy(l) for EVERY declared level] — the
    //    FULL model solves on {covars, dummies} WITHOUT the intercept (the
    //    all-levels dummy block spans the same space as intercept +
    //    (L-1) dummies, and the LRT/SSE are parameterization-invariant),
    //    while the restricted model solves on the {1, covars} block of the
    //    SAME statistics. Level occupancy comes free as the dummy diagonal
    //    of Z'Z: empty levels are pruned driver-side, and a diagonal sum
    //    below n exposes stale level metadata (values outside the declared
    //    levels) instead of silently pooling rows into a reference level.
    def zColumns(v: String): Seq[Column] = {
      val base = lit(1.0) +: covariates.map(Gram.numeric)
      cf.typeOf(v) match {
        case Categorical => base ++ cf.levels(v).sorted.map(Gram.dummy(v, _))
        case _ => base :+ rvNumeric(cf, v)
      }
    }
    val p0 = covariates.size + 1

    // One pass over a materialized array RDD instead of one giant
    // df.agg: a 64-variable batch needs hundreds of aggregate expressions,
    // far past spark.sql.codegen.maxFields (100), so the Catalyst plan
    // silently drops to INTERPRETED evaluation (~5s for what is <1s of
    // arithmetic at sf0.1). Each rv's block takes w = 1, r = y and the
    // scalar y², and one tally counts its cast fails (mask-independent).
    val nB = batch.size
    val (rows, zIdx) = batchRows(cf, df, yExpr, outCols, covariates, batch,
      batch.map(zColumns))
    val g = new Gram(zIdx.map(_.length).toSeq, tallies = nB)
    val sums = g.fold(rows) { (st, row, z) =>
      val y = row(0)
      var k = 0
      while (k < nB) {
        g.tally(st, k, row(1 + nB + k))
        if (row(1 + k) == 1.0) {
          gather(row, zIdx(k), z)
          g.add(st, k, z, 1.0, y, y * y)
        }
        k += 1
      }
    }

    batch.zipWithIndex.map { case (v, kIdx) =>
      val categorical = cf.typeOf(v) == Categorical
      val stats = sums.blocks(kIdx)
      val pAll = stats.rhs.length
      val n = stats.n
      val castFails = sums.tallies(kIdx).toLong
      val zz = stats.gram
      val kind = cf.typeOf(v).name

      // drop covariates that do not vary under this mask (var from stats:
      // zz_jj/n - mean^2), matching the collect path / reference base.py
      def varying(ix: Seq[Int]): Seq[Int] = ix.filter { j =>
        val mean = zz(0, j) / n
        (zz(j, j) / n - mean * mean) > 1e-12
      }

      if (castFails > 0)
        RvFit(v, kind, n, converged = false, error = Some(
          s"NumberFormatException: $castFails value(s) of '$v' could not be cast to numeric"))
      else if (n < minN || n <= 2) RvFit(v, kind, n, converged = false,
        error = Some(s"too few complete observations (min_n filter: $n < $minN)"))
      else try {
        val covarIx = varying(1 until p0)
        // dropped non-varying covariates carry a warning, mirroring
        // base.py:174-187's warning strings
        val dropped = (1 until p0).filterNot(covarIx.contains).map(j => covariates(j - 1))
        val warn: Option[String] =
          if (dropped.isEmpty) None
          else Some(s"non-varying covariates(s): ${dropped.mkString(", ")}")
        if (categorical) {
          // occupied levels from the dummy diagonal
          val dummyIx = (p0 until pAll).filter(j => zz(j, j) > 0)
          val occupancy = (p0 until pAll).map(j => zz(j, j)).sum
          require(math.abs(occupancy - n) < 0.5,
            s"level metadata for $v is stale: ${n - occupancy.toLong} row(s) " +
              "hold values outside the declared levels")
          val fullIx = covarIx ++ dummyIx   // interceptless full design
          val restIx = 0 +: covarIx         // intercept + covars
          if (dummyIx.size < 2 || n <= fullIx.size + 1)
            RvFit(v, kind, n, converged = false)
          else {
            val (_, _, _, llfF, aicF) = Gram.solveGauss(stats.sub(fullIx))
            val (_, _, _, llfR, aicR) = Gram.solveGauss(stats.sub(restIx))
            val lrstat = -2.0 * (llfR - llfF)
            val lrdf = (fullIx.size - restIx.size).toDouble
            val lrP = Distributions.chi2Sf(lrstat, lrdf)
            RvFit(v, kind, n, converged = true,
              lrtPvalue = Some(lrP), diffAic = Some(aicF - aicR), pvalue = Some(lrP),
              warnings = warn)
          }
        } else {
          // the rv itself must vary under the mask — otherwise pinv would
          // return a minimum-norm split between intercept and rv reported
          // as converged (collect path nulls this case via Term.varies)
          if (varying(Seq(pAll - 1)).isEmpty)
            RvFit(v, kind, n, converged = false,
              error = Some(s"variable '$v' does not vary"))
          else {
          val ix = (0 +: covarIx) :+ (pAll - 1)
          val p = ix.size
          if (n <= p) RvFit(v, kind, n, converged = false)
          else {
            val (b, ainv, sse, _, _) = Gram.solveGauss(stats.sub(ix))
            val scale = sse / (n - p)
            val se = math.sqrt(ainv(p - 1, p - 1) * scale)
            val beta = b(p - 1)
            val pv = Distributions.tSfTwoSided(beta / se, (n - p).toDouble)
            RvFit(v, kind, n, converged = true, Some(beta), Some(se), Some(pv),
              pvalue = Some(pv), warnings = warn)
          }
          }
        }
      } catch { case e: Exception => RvFit(v, kind, n, converged = false,
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    }
  }

  /** The batch pass's working rows, shared by both families. Row layout:
    * [y | mask per batch rv | castfail per batch rv | distinct design
    * columns]. Castfail ([[Gram.castFail]]) is 0 for binary/categorical
    * rvs, which encode string levels. Design columns shared between
    * designs (intercept, covariates) are projected once. Returns the rows
    * and, per design, its columns' row indices. */
  private def batchRows(cf: CladeFrame, df: DataFrame, yExpr: Column,
                        outCols: Seq[String], covariates: Seq[String],
                        batch: Seq[String], designs: Seq[Seq[Column]])
      : (RDD[Array[Double]], Array[Array[Int]]) = {
    def zKey(c: Column): String = c.toString
    val zList: Seq[Column] = designs.flatten.distinctBy(zKey)
    val zPos: Map[String, Int] = zList.map(zKey).zipWithIndex.toMap
    val nB = batch.size
    val selCols: Seq[Column] =
      (yExpr.cast("double").as("__y") +:
        batch.zipWithIndex.map { case (v, k) =>
          maskFor(cf, covariates, v, outCols).cast("double").as(s"__m_$k") }) ++
        batch.zipWithIndex.map { case (v, k) =>
          (if (cf.typeOf(v) == Continuous) Gram.castFail(v) else lit(0.0)).as(s"__cf_$k")
        } ++
        zList.zipWithIndex.map { case (c, j) => c.cast("double").as(s"__z_$j") }
    (graft.stats.Rows.doubleRdd(df.select(selCols: _*)),
      designs.map(_.map(c => 1 + 2 * nB + zPos(zKey(c))).toArray).toArray)
  }

  // ------------------------------------------------------------- Binomial

  /** One IRLS state: a design (column expressions) fitted under its rv's
    * complete-case mask.
    * Numeric rvs have one model; categorical rvs have a full model
    * (interceptless all-levels dummies + covars — same span as intercept +
    * L-1 dummies, deviance-invariant) and a restricted model (intercept +
    * covars) under the SAME mask, so the working LRT is fully distributed. */
  private final case class IrlsModel(key: String, rv: String, cols: Seq[Column])

  /** A model's place in the working rows: its mask and design cells. */
  private final case class MSpec(key: String, rv: String, maskIdx: Int, zIdx: Array[Int])

  private def fitBinomialBatch(cf: CladeFrame, df0: DataFrame, yExpr: Column,
                               outCols: Seq[String], covariates: Seq[String],
                               batch: Seq[String], minN: Long): Seq[RvFit] = {
    // IRLS is iterative, so the per-iteration feed must be CHEAP. Driving
    // each iteration through a fresh DataFrame aggregation re-pays Catalyst
    // analysis + whole-stage-codegen compilation every pass (the current β
    // values are embedded as literals, so no plan is ever reused — measured
    // ~0.7s/pass of pure overhead at sf0.1). Instead the projected working
    // set — y, one complete-case mask per variable, the DISTINCT design
    // columns — is materialized ONCE into a cached RDD of primitive double
    // arrays, and every iteration is one fold of plain arithmetic:
    // milliseconds per pass, zero planning, spark.ml's own design for
    // iterative fitting. MEMORY_AND_DISK: an executor that can't hold its
    // slice spills instead of recomputing the projection.
    val covarCols = covariates.map(Gram.numeric)
    val models: Seq[IrlsModel] = batch.flatMap { v =>
      cf.typeOf(v) match {
        case Categorical =>
          val dummies = cf.levels(v).sorted.map(Gram.dummy(v, _))
          Seq(
            IrlsModel(s"$v@full", v, covarCols ++ dummies),
            IrlsModel(s"$v@rest", v, lit(1.0) +: covarCols))
        case _ =>
          Seq(IrlsModel(v, v, (lit(1.0) +: covarCols) :+ rvNumeric(cf, v)))
      }
    }

    val maskPos: Map[String, Int] = batch.zipWithIndex.toMap
    val nB = batch.size
    val (rows, zIdx) = batchRows(cf, df0, yExpr, outCols, covariates, batch,
      models.map(_.cols))
    val rdd = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val specs: Seq[MSpec] = models.zip(zIdx).map { case (md, zi) =>
      MSpec(md.key, md.rv, 1 + maskPos(md.rv), zi)
    }
    // first pass only: each categorical's level occupancy under its mask,
    // then each rv's cast fails (mask-independent), as tallies
    val lcVars = batch.filter(v => cf.typeOf(v) == Categorical)
    val lcMask: Array[Int] = lcVars.map(v => 1 + maskPos(v)).toArray
    val lcIdx: Array[Array[Int]] = lcVars.map { v =>
      specs.find(_.key == s"$v@full").get.zIdx.drop(covariates.size)
    }.toArray
    val lcOff: Array[Int] = lcIdx.scanLeft(0)(_ + _.length)
    val cfOff = lcOff.last

    /** One IRLS pass over `active`: each model's Gram of weight
      * w = max(μ(1−μ), 1e−10), working response η + (y−μ)/w and deviance,
      * with μ from `betas` — or, when `betas` is null, the statsmodels
      * start μ = (y+½)/2 and the first pass's tallies. With `gramOnly` the
      * blocks hold just n and the Gram: no working response, no deviance.
      * The formulas are the row kernel's ([[graft.stats.Glm]]). */
    def pass(active: Array[MSpec], betas: Array[Array[Double]],
             gramOnly: Boolean = false): Gram.Sums = {
      val first = betas == null
      val g = new Gram(active.map(_.zIdx.length).toSeq,
        tallies = if (first) cfOff + nB else 0)
      g.fold(rdd) { (st, row, z) =>
        val y = row(0)
        var k = 0
        while (k < active.length) {
          val sp = active(k)
          if (row(sp.maskIdx) == 1.0) {
            gather(row, sp.zIdx, z)
            var eta = 0.0
            var mu = 0.0
            if (first) {
              mu = (y + 0.5) / 2.0
              eta = math.log(mu / (1.0 - mu))
            } else {
              val b = betas(k)
              var i = 0
              while (i < b.length) { eta += z(i) * b(i); i += 1 }
              mu = 1.0 / (1.0 + math.exp(-eta))
            }
            val w = math.max(mu * (1.0 - mu), 1e-10)
            if (gramOnly) g.add(st, k, z, w, 0.0, 0.0)
            else {
              val muC = math.min(math.max(mu, 1e-10), 1.0 - 1e-10)
              val devT = 2.0 * (
                (if (y > 0) y * math.log(y / muC) else 0.0) +
                (if (y < 1) (1.0 - y) * math.log((1.0 - y) / (1.0 - muC)) else 0.0))
              g.add(st, k, z, w, eta + (y - mu) / w, devT)
            }
          }
          k += 1
        }
        if (first) {
          var c = 0
          while (c < lcIdx.length) {
            if (row(lcMask(c)) == 1.0) {
              val ix = lcIdx(c)
              var l = 0
              while (l < ix.length) {
                if (row(ix(l)) == 1.0) g.tally(st, lcOff(c) + l, 1.0)
                l += 1
              }
            }
            c += 1
          }
          var j = 0
          while (j < nB) { g.tally(st, cfOff + j, row(1 + nB + j)); j += 1 }
        }
      }
    }

    val ainv = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
    val beta = scala.collection.mutable.Map[String, DenseVector[Double]]()
    val dev = scala.collection.mutable.Map[String, Double]()
    val done = scala.collection.mutable.Map[String, Boolean]()
    val failed = scala.collection.mutable.Map[String, Boolean]()
    val ns = scala.collection.mutable.Map[String, Long]()
    val levelCounts = scala.collection.mutable.Map[String, Seq[Long]]()
    val castFails = scala.collection.mutable.Map[String, Long]()
    models.foreach { md => done(md.key) = false; failed(md.key) = false }
    def rvFailed(v: String): Boolean =
      models.filter(_.rv == v).exists(md => failed(md.key))
    def live: Array[MSpec] = specs.filter(sp =>
      !done(sp.key) && !failed(sp.key) && !rvFailed(sp.rv)).toArray

    try {
      var iter = 0
      var active = live
      while (iter < Glm.MaxIter && active.nonEmpty) {
        val first = iter == 0
        val sums = pass(active, if (first) null else active.map(sp => beta(sp.key).toArray))
        active.zip(sums.blocks).foreach { case (sp, s) =>
          ns(sp.key) = s.n
          if (s.n < minN || s.n <= s.rhs.length) failed(sp.key) = true
          else try {
            beta(sp.key) = s.solve._1
            if (!first && Glm.devConverged(dev(sp.key), s.scalar)) done(sp.key) = true
            dev(sp.key) = s.scalar
          } catch { case _: Exception => failed(sp.key) = true }
        }
        if (first) {
          lcVars.zipWithIndex.foreach { case (v, c) =>
            levelCounts(v) = (lcOff(c) until lcOff(c + 1)).map(sums.tallies(_).toLong)
          }
          batch.zipWithIndex.foreach { case (v, k) =>
            val c = sums.tallies(cfOff + k).toLong
            if (c > 0) {
              castFails(v) = c
              models.filter(_.rv == v).foreach(md => failed(md.key) = true)
            }
          }
        }
        iter += 1
        active = live
      }

      // one more pass at the final betas of the fitted numeric rvs: their
      // SEs come from the information matrix there (its Gram), inverted
      // without the pinv fallback, so a singular one fails the fit
      val numericFitted = specs.filter(sp =>
        sp.key == sp.rv && !failed(sp.key) && beta.contains(sp.key)).toArray
      if (numericFitted.nonEmpty)
        numericFitted.zip(pass(numericFitted, numericFitted.map(sp => beta(sp.key).toArray),
          gramOnly = true)
          .blocks).foreach { case (sp, s) =>
          try ainv(sp.key) = inv(s.gram) catch { case _: Exception => failed(sp.key) = true }
        }
    } finally rdd.unpersist(blocking = false)

    batch.map { v =>
      val kind = cf.typeOf(v).name
      castFails.get(v) match {
        case Some(c) =>
          RvFit(v, kind, 0L, converged = false, error = Some(
            s"NumberFormatException: $c value(s) of '$v' could not be cast to numeric"))
        case None =>
      cf.typeOf(v) match {
        case Categorical =>
          val fullK = s"$v@full"; val restK = s"$v@rest"
          val n = ns.getOrElse(fullK, 0L)
          if (rvFailed(v) || !dev.contains(fullK) || !dev.contains(restK))
            RvFit(v, kind, n, converged = false, error = Some(
              if (n < minN) s"too few complete observations (min_n filter: $n < $minN)"
              else "IRLS failed (singular weighted design or aggregation failure)"))
          else {
            val occupancy = levelCounts(v)
            val nOccupied = occupancy.count(_ > 0)
            val covered = occupancy.sum
            if (math.abs(covered - n) > 0)
              throw new IllegalArgumentException(
                s"level metadata for $v is stale: ${n - covered} row(s) hold " +
                  "values outside the declared levels")
            if (nOccupied < 2) RvFit(v, kind, n, converged = false)
            else {
              val lrstat = dev(restK) - dev(fullK)
              val lrdf = (nOccupied - 1).toDouble
              val lrP = Distributions.chi2Sf(lrstat, lrdf)
              // binary-y binomial llf = -dev/2 exactly, so
              // Diff_AIC = (dev_f + 2 p_f) - (dev_r + 2 p_r) = 2*lrdf - lrstat
              val diffAic = 2.0 * lrdf - lrstat
              RvFit(v, kind, n, done(fullK) && done(restK),
                lrtPvalue = Some(lrP), diffAic = Some(diffAic), pvalue = Some(lrP))
            }
          }
        case _ =>
          if (failed(v) || !beta.contains(v))
            RvFit(v, kind, ns.getOrElse(v, 0L), converged = false, error = Some {
              val n = ns.getOrElse(v, 0L)
              if (n < minN) s"too few complete observations (min_n filter: $n < $minN)"
              else "IRLS failed (singular weighted design or aggregation failure)"
            })
          else {
            val p = beta(v).length
            val b = beta(v)(p - 1)
            val se = math.sqrt(ainv(v)(p - 1, p - 1))
            val pv = Distributions.zSfTwoSided(b / se)
            RvFit(v, kind, ns(v), done(v), Some(b), Some(se), Some(pv), pvalue = Some(pv))
          }
      }
      }
    }
  }
}
