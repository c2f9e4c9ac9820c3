package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector, inv, sum => bsum}

/** Dense IRLS GLM kernel — the numeric core of the mass-regression engine
  * (SURVEY.md §2.10). One kernel invocation fits ONE small model; the
  * association-study operators fan thousands of these out across executors.
  * Semantics replicate statsmodels `sm.GLM(...).fit()` (IRLS) as used by
  * the reference (reference: clarite/modules/analyze/regression/
  * glm_regression.py:118-162, 499-565):
  *   - Gaussian family + identity link for continuous outcomes, inference
  *     with the t distribution (use_t=True), scale estimated (Pearson).
  *   - Binomial family + logit link for binary outcomes, inference with the
  *     normal distribution (use_t=False), scale fixed at 1.
  */
object Glm {

  sealed trait Family extends Serializable
  case object Gaussian extends Family
  case object Binomial extends Family

  final case class Fit(
      beta: Array[Double],
      se: Array[Double],
      llf: Double,
      aic: Double,
      scale: Double,
      converged: Boolean,
      n: Int,
      p: Int,
      sumWeights: Double) {
    /** statsmodels df_resid = sum(freq_weights) - p (equals n - p for unit
      * weights). */
    def dfResid: Double = sumWeights - p
    /** Two-sided p-value for coefficient i under the family's inference
      * distribution (t for Gaussian use_t=True, z for Binomial). */
    def pvalue(i: Int, family: Family): Double = {
      val t = beta(i) / se(i)
      family match {
        case Gaussian => Distributions.tSfTwoSided(t, dfResid)
        case Binomial => Distributions.zSfTwoSided(t)
      }
    }
  }

  val MaxIter = 100
  val Tol = 1e-8

  /** The IRLS stopping rule: the deviance moved from `dev` to `newDev` by
    * at most `Tol` relative to `dev`. */
  def devConverged(dev: Double, newDev: Double): Boolean =
    math.abs(newDev - dev) <= Tol * (math.abs(dev) + Tol)

  /** Fit y ~ X (X already includes the intercept column). Optional prior
    * weights act as frequency weights (survey-weighted path,
    * reference: survey_model.py:217-224). */
  def fit(x: DenseMatrix[Double], y: DenseVector[Double], family: Family,
          priorWeights: Option[DenseVector[Double]] = None): Fit = {
    val n = x.rows
    val p = x.cols
    val w0 = priorWeights.getOrElse(DenseVector.ones[Double](n))
    family match {
      case Gaussian => fitGaussian(x, y, w0, n, p)
      case Binomial => fitBinomial(x, y, w0, n, p)
    }
  }

  /** Gaussian + identity: a single weighted least-squares solve. */
  private def fitGaussian(x: DenseMatrix[Double], y: DenseVector[Double],
                          w: DenseVector[Double], n: Int, p: Int): Fit = {
    val (beta, xtwxInv) = wls(x, y, w)
    val mu = x * beta
    val resid = y - mu
    val wresid2 = bsum(w *:* resid *:* resid)
    val sumW = bsum(w)
    val dfResid = sumW - p
    val scale = wresid2 / dfResid // Pearson scale = SSE/(n-p) for Gaussian
    val se = DenseVector.tabulate(p)(i => math.sqrt(xtwxInv(i, i) * scale))
    // statsmodels Gaussian.loglike with estimated scale:
    // -1/2 * [ SSE/scale + n*log(2*pi*scale) ]
    val llf = -0.5 * (wresid2 / scale + sumW * math.log(2.0 * math.Pi * scale))
    val aic = -2.0 * llf + 2.0 * p
    Fit(beta.toArray, se.toArray, llf, aic, scale, converged = true, n, p, sumW)
  }

  /** Binomial + logit: IRLS, statsmodels-style convergence on deviance. */
  private def fitBinomial(x: DenseMatrix[Double], y: DenseVector[Double],
                          w: DenseVector[Double], n: Int, p: Int): Fit = {
    var beta = DenseVector.zeros[Double](p)
    // statsmodels starting mu: (y + 0.5) / 2 for binomial
    var mu = (y + 0.5) / 2.0
    var eta = mu.map(m => math.log(m / (1.0 - m)))
    var dev = deviance(y, mu, w)
    var converged = false
    var iter = 0
    var xtwxInv: DenseMatrix[Double] = null
    while (!converged && iter < MaxIter) {
      // working response z = eta + (y - mu) / (mu(1-mu)) ; IRLS weight mu(1-mu)
      val v = mu.map(m => math.max(m * (1.0 - m), 1e-10))
      val z = eta + (y - mu) /:/ v
      val wIrls = w *:* v
      val (b, xi) = wls(x, z, wIrls)
      beta = b
      xtwxInv = xi
      eta = x * beta
      mu = eta.map(e => 1.0 / (1.0 + math.exp(-e)))
      val newDev = deviance(y, mu, w)
      converged = devConverged(dev, newDev)
      dev = newDev
      iter += 1
    }
    val se = DenseVector.tabulate(p)(i => math.sqrt(xtwxInv(i, i))) // scale = 1
    val llf = bsum(DenseVector.tabulate(n) { i =>
      val m = math.min(math.max(mu(i), 1e-10), 1.0 - 1e-10)
      w(i) * (y(i) * math.log(m) + (1.0 - y(i)) * math.log(1.0 - m))
    })
    val aic = -2.0 * llf + 2.0 * p
    Fit(beta.toArray, se.toArray, llf, aic, 1.0, converged, n, p, bsum(w))
  }

  private def deviance(y: DenseVector[Double], mu: DenseVector[Double],
                       w: DenseVector[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < y.length) {
      val m = math.min(math.max(mu(i), 1e-10), 1.0 - 1e-10)
      val t1 = if (y(i) > 0) y(i) * math.log(y(i) / m) else 0.0
      val t2 = if (y(i) < 1) (1.0 - y(i)) * math.log((1.0 - y(i)) / (1.0 - m)) else 0.0
      acc += 2.0 * w(i) * (t1 + t2)
      i += 1
    }
    acc
  }

  /** Weighted least squares: returns (beta, (X'WX)^-1). Builds the p×p
    * normal equations in O(n·p²) without ever materializing an n×n weight
    * matrix (p = #design columns, tens at most — the solve is microseconds
    * per fit and allocation-light, which matters when an executor core runs
    * thousands of fits). */
  private def wls(x: DenseMatrix[Double], z: DenseVector[Double],
                  w: DenseVector[Double]): (DenseVector[Double], DenseMatrix[Double]) = {
    val n = x.rows
    val p = x.cols
    val xtwx = DenseMatrix.zeros[Double](p, p)
    val xtwz = DenseVector.zeros[Double](p)
    var i = 0
    while (i < n) {
      val wi = w(i)
      var j = 0
      while (j < p) {
        val xij = x(i, j) * wi
        xtwz(j) += xij * z(i)
        var k = j
        while (k < p) {
          xtwx(j, k) += xij * x(i, k)
          k += 1
        }
        j += 1
      }
      i += 1
    }
    // mirror the upper triangle
    var j = 0
    while (j < p) {
      var k = j + 1
      while (k < p) { xtwx(k, j) = xtwx(j, k); k += 1 }
      j += 1
    }
    val xtwxInv =
      try inv(xtwx)
      catch { case _: Exception => breeze.linalg.pinv(xtwx) }
    (xtwxInv * xtwz, xtwxInv)
  }

  /** Likelihood-ratio test between nested fits
    * (reference: glm_regression.py:310-362):
    * lrstat = −2·(llf_restricted − llf_full), p = chi2.sf(lrstat, Δdf). */
  def lrt(full: Fit, restricted: Fit): (Double, Double, Double) = {
    val lrstat = -2.0 * (restricted.llf - full.llf)
    val lrdf = (full.p - restricted.p).toDouble
    val pvalue =
      if (lrdf == 0 && lrstat == 0) Double.NaN
      else Distributions.chi2Sf(lrstat, lrdf)
    val diffAic = full.aic - restricted.aic
    (lrstat, pvalue, diffAic)
  }
}
