package graft.analyze

import breeze.linalg.{DenseMatrix, DenseVector, inv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{CladeFrame, VariableType}
import graft.stats.Distributions
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
  *     deviance simultaneously, with each variable's current β embedded as
  *     literals. Variables converge independently (statsmodels deviance
  *     criterion); typically < 10 passes. Continuous, binary (0/1
  *     encodable) and known-level categorical variables run here; a
  *     categorical's LRT fits its full and restricted models in the same
  *     passes.
  *
  * Numeric results are identical to the local Breeze kernel (same normal
  * equations, same convergence test) — asserted by the golden-output suite
  * and by an equivalence test against the collect path.
  */
object AggregatedGlm {

  /** Max regression variables fitted per aggregation job: bounds the width
    * of a single agg (codegen/JVM method-size limits), while each batch
    * still amortizes one full scan over many models. */
  val BatchSize = 64

  val MaxIter = 100
  val Tol = 1e-8

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
      if (!binaryOutcome) tryD(outcome) // ANSI-safe: malformed -> null -> masked
      else when(col(outcome).cast("string") ===
        AssociationStudy.caseLevel(outcome, cf.levels(outcome)), 1.0).otherwise(0.0)
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
    case Binary =>
      val second = cf.levels(v).sorted.lift(1)
      when(col(v).cast("string") === second.orNull, 1.0).otherwise(0.0)
    // try_cast everywhere a value could be malformed: the array
    // materialization evaluates design columns unconditionally (no
    // when(mask) shield), so an ANSI cast would throw instead of masking
    case _ => tryD(v)
  }

  private def tryD(c: String): Column = expr(s"try_cast(`$c` AS DOUBLE)")

  /** Complete-case mask over the EFFECTIVE design expressions: a value that
    * survives a raw null check but fails its numeric cast must not be
    * counted in n while contributing nothing to the sums. Numeric casts use
    * try_cast (ANSI-safe); binary/categorical columns are string-encoded,
    * so their raw null check is the right predicate. */
  private def maskFor(cf: CladeFrame, covariates: Seq[String], v: String,
                      outcomeCols: Seq[String]): Column = {
    def notNullFor(c: String): Column = cf.typeOf(c) match {
      case Continuous => tryD(c).isNotNull
      case _          => col(c).isNotNull
    }
    (outcomeCols.map(notNullFor) ++ covariates.map(notNullFor) :+
      notNullFor(v)).reduce(_ && _)
  }

  private def tri(p: Int): Seq[(Int, Int)] =
    for (i <- 0 until p; j <- i until p) yield (i, j)

  // ------------------------------------------------------------- Gaussian

  private[analyze] final case class GaussStats(n: Long, yy: Double,
                                      zy: DenseVector[Double], zz: DenseMatrix[Double])

  /** OLS solve from sufficient stats; returns (beta, Ainv, sse, llf, aic).
    * llf/aic follow statsmodels Gaussian loglike with estimated scale. */
  private[analyze] def solveGauss(s: GaussStats): (DenseVector[Double], DenseMatrix[Double], Double, Double, Double) = {
    val p = s.zy.length
    val ainv =
      try inv(s.zz)
      catch { case _: Exception => breeze.linalg.pinv(s.zz) }
    val b = ainv * s.zy
    val sse = math.max(s.yy - (b dot s.zy), 0.0)
    val scale = sse / (s.n - p)
    val llf = -0.5 * (sse / scale + s.n * math.log(2.0 * math.Pi * scale))
    val aic = -2.0 * llf + 2.0 * p
    (b, ainv, sse, llf, aic)
  }

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
      val base = lit(1.0) +: covariates.map(tryD)
      cf.typeOf(v) match {
        case Categorical => base ++ cf.levels(v).sorted.map(lvl =>
          when(col(v).cast("string") === lvl, 1.0).otherwise(0.0))
        case _ => base :+ rvNumeric(cf, v)
      }
    }
    val p0 = covariates.size + 1

    // One pass over a materialized array RDD instead of one giant
    // df.agg: a 64-variable batch needs hundreds of aggregate expressions,
    // far past spark.sql.codegen.maxFields (100), so the Catalyst plan
    // silently drops to INTERPRETED evaluation (~5s for what is <1s of
    // arithmetic at sf0.1). The accumulation over [[batchRows]] is plain
    // fused loops with map-side combining via treeAggregate — the same
    // shape the binomial IRLS uses, minus the iteration.
    val nB = batch.size
    val (rows, zIdxPer) = batchRows(cf, df, yExpr, outCols, covariates, batch,
      batch.map(zColumns))
    val pPer: Array[Int] = zIdxPer.map(_.length)
    // block per rv: [n, castfail, yy, zy(p), zz(tri(p))]
    val blockOff = new Array[Int](nB)
    var szAcc = 0
    (0 until nB).foreach { k =>
      blockOff(k) = szAcc; szAcc += 3 + pPer(k) + pPer(k) * (pPer(k) + 1) / 2
    }
    val size = szAcc
    val acc = rows.treeAggregate(new Array[Double](size))(
      seqOp = { (st, row) =>
        val y = row(0)
        var k = 0
        while (k < nB) {
          val off = blockOff(k)
          st(off + 1) += row(1 + nB + k) // castfail (mask-independent)
          if (row(1 + k) == 1.0) {
            val p = pPer(k)
            val zi = zIdxPer(k)
            st(off) += 1.0
            st(off + 2) += y * y
            var i = 0
            while (i < p) { st(off + 3 + i) += row(zi(i)) * y; i += 1 }
            var t = off + 3 + p
            i = 0
            while (i < p) {
              var j = i
              while (j < p) { st(t) += row(zi(i)) * row(zi(j)); t += 1; j += 1 }
              i += 1
            }
          }
          k += 1
        }
        st
      },
      combOp = { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })

    batch.zipWithIndex.map { case (v, kIdx) =>
      val categorical = cf.typeOf(v) == Categorical
      val pAll = pPer(kIdx)
      val off = blockOff(kIdx)
      val n = acc(off).toLong
      val castFails = acc(off + 1).toLong
      val yy = acc(off + 2)
      val zy = DenseVector(Array.tabulate(pAll)(i => acc(off + 3 + i)))
      val zz = DenseMatrix.zeros[Double](pAll, pAll)
      var tPos = off + 3 + pAll
      tri(pAll).foreach { case (i, j) =>
        zz(i, j) = acc(tPos); zz(j, i) = acc(tPos); tPos += 1 }
      val kind = cf.typeOf(v).name

      def sub(ix: Seq[Int]): GaussStats = GaussStats(n, yy,
        DenseVector(ix.map(zy(_)).toArray),
        DenseMatrix.tabulate(ix.size, ix.size)((a, b) => zz(ix(a), ix(b))))

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
            val (_, _, _, llfF, aicF) = solveGauss(sub(fullIx))
            val (_, _, _, llfR, aicR) = solveGauss(sub(restIx))
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
            val (b, ainv, sse, _, _) = solveGauss(sub(ix))
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
    * columns]. Castfail marks rows where the raw rv value is present but
    * its numeric cast fails: those must surface as the reference's
    * per-variable NumberFormatException error row (captured per variable,
    * base.py:155-195), not as a silently shrunk n. Design columns shared
    * between designs (intercept, covariates) are projected once. Returns
    * the rows and, per design, its columns' row indices. */
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
          (cf.typeOf(v) match {
            case Continuous =>
              when(col(v).isNotNull && tryD(v).isNull, 1.0).otherwise(0.0)
            case _ => lit(0.0) // binary/categorical encode string levels
          }).as(s"__cf_$k")
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
  private final case class IrlsModel(key: String, rv: String, cols: Seq[Column]) {
    def p: Int = cols.size
  }

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
    // arrays, and every iteration is a treeAggregate of plain arithmetic:
    // milliseconds per pass, zero planning, spark.ml's own design for
    // iterative fitting. MEMORY_AND_DISK: an executor that can't hold its
    // slice spills instead of recomputing the projection.
    // try_cast, like the gaussian path: the array materialization evaluates
    // design columns unconditionally (no when(mask) shield), so an ANSI
    // cast of a malformed covariate value would kill the whole study
    val covarCols = covariates.map(tryD)
    val models: Seq[IrlsModel] = batch.flatMap { v =>
      cf.typeOf(v) match {
        case Categorical =>
          val dummies = cf.levels(v).sorted.map(lvl =>
            when(col(v).cast("string") === lvl, 1.0).otherwise(0.0))
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

    final case class MSpec(key: String, rv: String, maskIdx: Int,
                           zIdx: Array[Int], p: Int)
    val specs: Seq[MSpec] = models.zip(zIdx).map { case (md, zi) =>
      MSpec(md.key, md.rv, 1 + maskPos(md.rv), zi, md.p)
    }
    // (v, level-dummy row indices) for iteration-0 occupancy counting
    val lcSpecs: Seq[(String, Array[Int])] = batch
      .filter(v => cf.typeOf(v) == Categorical).map { v =>
        val full = specs.find(_.key == s"$v@full").get
        v -> full.zIdx.drop(covariates.size)
      }

    val lastAinv = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
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

    try {
      var iter = 0
      while (iter < MaxIter &&
          models.exists(md => !done(md.key) && !failed(md.key) && !rvFailed(md.rv))) {
        val active = specs.filter(sp =>
          !done(sp.key) && !failed(sp.key) && !rvFailed(sp.rv))
        val firstIter = iter == 0
        val lcs = if (firstIter) lcSpecs else Nil
        // flat accumulator: per model [n, dev, wzr(p), wzz(tri)]; then lcs
        val blockOff = new Array[Int](active.size)
        var sz = 0
        active.zipWithIndex.foreach { case (sp, k) =>
          blockOff(k) = sz; sz += 2 + sp.p + sp.p * (sp.p + 1) / 2
        }
        val lcOff = new Array[Int](lcs.size)
        lcs.zipWithIndex.foreach { case ((_, ix), k) => lcOff(k) = sz; sz += ix.length }
        // iteration-0 only: per-rv castfail tallies (mask-independent)
        val cfOff = sz
        if (firstIter) sz += nB
        val activeArr = active.toArray
        val betas: Array[Array[Double]] =
          if (firstIter) null else activeArr.map(sp => beta(sp.key).toArray)
        val lcArr = lcs.toArray
        val lcOffArr = lcOff
        val size = sz

        val acc = rdd.treeAggregate(new Array[Double](size))(
          seqOp = { (st, row) =>
            val y = row(0)
            var k = 0
            while (k < activeArr.length) {
              val sp = activeArr(k)
              if (row(sp.maskIdx) == 1.0) {
                val p = sp.p
                val zi = sp.zIdx
                // mu: first iteration uses the statsmodels start
                // mu=(y+1/2)/2; later the current linear predictor —
                // identical formulas to the local Breeze kernel
                var eta = 0.0
                var mu = 0.0
                if (firstIter) {
                  mu = (y + 0.5) / 2.0
                  eta = math.log(mu / (1.0 - mu))
                } else {
                  val b = betas(k)
                  var i = 0
                  while (i < p) { eta += row(zi(i)) * b(i); i += 1 }
                  mu = 1.0 / (1.0 + math.exp(-eta))
                }
                val vfun = math.max(mu * (1.0 - mu), 1e-10)
                val zr = eta + (y - mu) / vfun
                val muC = math.min(math.max(mu, 1e-10), 1.0 - 1e-10)
                val devT = 2.0 * (
                  (if (y > 0) y * math.log(y / muC) else 0.0) +
                  (if (y < 1) (1.0 - y) * math.log((1.0 - y) / (1.0 - muC)) else 0.0))
                val off = blockOff(k)
                st(off) += 1.0
                st(off + 1) += devT
                var i = 0
                while (i < p) { st(off + 2 + i) += vfun * row(zi(i)) * zr; i += 1 }
                var t = off + 2 + p
                i = 0
                while (i < p) {
                  var j = i
                  while (j < p) {
                    st(t) += vfun * row(zi(i)) * row(zi(j)); t += 1; j += 1
                  }
                  i += 1
                }
              }
              k += 1
            }
            var c = 0
            while (c < lcArr.length) {
              val (v, ix) = lcArr(c)
              if (row(1 + maskPos(v)) == 1.0) {
                var l = 0
                while (l < ix.length) {
                  if (row(ix(l)) == 1.0) st(lcOffArr(c) + l) += 1.0
                  l += 1
                }
              }
              c += 1
            }
            if (firstIter) {
              var k2 = 0
              while (k2 < nB) { st(cfOff + k2) += row(1 + nB + k2); k2 += 1 }
            }
            st
          },
          combOp = { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })

        active.zipWithIndex.foreach { case (sp, k) =>
          val p = sp.p
          val off = blockOff(k)
          val n = acc(off).toLong; ns(sp.key) = n
          val newDev = acc(off + 1)
          val c = DenseVector(Array.tabulate(p)(i => acc(off + 2 + i)))
          val a = DenseMatrix.zeros[Double](p, p)
          var t = off + 2 + p
          tri(p).foreach { case (i, j) => a(i, j) = acc(t); a(j, i) = acc(t); t += 1 }
          if (n < minN || n <= p) { failed(sp.key) = true }
          else try {
            val ai = try inv(a) catch { case _: Exception => breeze.linalg.pinv(a) }
            beta(sp.key) = ai * c
            lastAinv(sp.key) = ai
            if (iter > 0 && math.abs(newDev - dev.getOrElse(sp.key, Double.MaxValue)) <=
                Tol * (math.abs(newDev) + Tol)) done(sp.key) = true
            dev(sp.key) = newDev
          } catch { case _: Exception => failed(sp.key) = true }
        }
        lcs.zipWithIndex.foreach { case ((v, ix), k) =>
          levelCounts(v) = ix.indices.map(l => acc(lcOff(k) + l).toLong)
        }
        if (firstIter) {
          batch.zipWithIndex.foreach { case (v, k) =>
            val c = acc(cfOff + k).toLong
            if (c > 0) {
              castFails(v) = c
              models.filter(_.rv == v).foreach(md => failed(md.key) = true)
            }
          }
        }
        iter += 1
      }

      // one final pass at the converged betas for exact SEs of numeric rvs
      // (vcov evaluated AT the final beta, matching the local kernel)
      val numericFitted = specs.filter(sp =>
        sp.key == sp.rv && !failed(sp.key) && beta.contains(sp.key))
      if (numericFitted.nonEmpty) {
        val blockOff = new Array[Int](numericFitted.size)
        var sz = 0
        numericFitted.zipWithIndex.foreach { case (sp, k) =>
          blockOff(k) = sz; sz += sp.p * (sp.p + 1) / 2
        }
        val nfArr = numericFitted.toArray
        val betas = nfArr.map(sp => beta(sp.key).toArray)
        val size = sz
        val acc = rdd.treeAggregate(new Array[Double](size))(
          seqOp = { (st, row) =>
            var k = 0
            while (k < nfArr.length) {
              val sp = nfArr(k)
              if (row(sp.maskIdx) == 1.0) {
                val p = sp.p
                val zi = sp.zIdx
                val b = betas(k)
                var eta = 0.0
                var i = 0
                while (i < p) { eta += row(zi(i)) * b(i); i += 1 }
                val mu = 1.0 / (1.0 + math.exp(-eta))
                val w = math.max(mu * (1.0 - mu), 1e-10)
                var t = blockOff(k)
                i = 0
                while (i < p) {
                  var j = i
                  while (j < p) {
                    st(t) += w * row(zi(i)) * row(zi(j)); t += 1; j += 1
                  }
                  i += 1
                }
              }
              k += 1
            }
            st
          },
          combOp = { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        numericFitted.zipWithIndex.foreach { case (sp, k) =>
          val p = sp.p
          val a = DenseMatrix.zeros[Double](p, p)
          var t = blockOff(k)
          tri(p).foreach { case (i, j) => a(i, j) = acc(t); a(j, i) = acc(t); t += 1 }
          try lastAinv(sp.key) = inv(a) catch { case _: Exception => failed(sp.key) = true }
        }
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
            val se = math.sqrt(lastAinv(v)(p - 1, p - 1))
            val pv = Distributions.zSfTwoSided(b / se)
            RvFit(v, kind, ns(v), done(v), Some(b), Some(se), Some(pv), pvalue = Some(pv))
          }
      }
      }
    }
  }
}
