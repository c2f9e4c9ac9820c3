package graft.survey

import breeze.linalg.{DenseMatrix, DenseVector, eig, inv, pinv}
import graft.stats.{Distributions, Glm}

/** Survey-adjusted variance and test machinery for one fitted model —
  * the numeric core of the weighted regression engine
  * (reference: clarite/modules/survey/survey_model.py:46-246,
  * clarite/internal/calculations.py:10-87).
  *
  * Runs task-local inside the per-variable fan-out: the cluster score sums
  * are a small hash aggregation over the (already local) complete-case
  * rows. At the 100 TB design point the identical math distributes as
  * `groupBy(clust).agg(vector sum)` + stratum-window centering + a p×p
  * driver product (SURVEY.md §4.3.2) — the kernel's inputs (per-cluster
  * score sums) are associative aggregates by construction.
  */
object SurveyKernel {

  /** Survey metadata aligned to the fitted rows, with the full design's
    * [[DesignTotals]]. For no-cluster designs (every observation its own
    * PSU) the full-design universe enters ONLY through the totals'
    * O(#strata) `stratumTotals` and the per-fitted-row `rowFpc` fractions;
    * the per-PSU maps stay empty (an O(rows) driver map is a scale bug). */
  final case class AlignedDesign(
      strat: Array[String],
      clust: Array[String],
      weights: Array[Double], // normalized; aligned to rows
      totals: DesignTotals,
      rowFpc: Array[Double] = Array.empty) {
    def nStrat: Int = strat.distinct.length
    def nClust: Int = clust.distinct.length

    /** Survey dof: clusters − strata − (p−1), with the reference's variants
      * (survey_design.py get_dof). */
    def dof(n: Int, p: Int): Double =
      if (totals.hasCluster && totals.hasStrata) nClust - nStrat - (p - 1)
      else if (totals.hasCluster) nClust - 1 - (p - 1)
      else if (totals.hasStrata) n - nStrat - (p - 1)
      else n - p - 1
  }

  /** X' diag(w·v) X at the fitted β — shared by the sandwich, the naive
    * covariance, and regTermTest. */
  def weightedGram(x: DenseMatrix[Double], weights: Array[Double],
                   v: DenseVector[Double]): DenseMatrix[Double] = {
    val n = x.rows
    val p = x.cols
    val m = DenseMatrix.zeros[Double](p, p)
    var i = 0
    while (i < n) {
      val wv = weights(i) * v(i)
      var j = 0
      while (j < p) {
        val xij = x(i, j) * wv
        var k = j
        while (k < p) { m(j, k) += xij * x(i, k); k += 1 }
        j += 1
      }
      i += 1
    }
    var j = 0
    while (j < p) { var k = j + 1; while (k < p) { m(k, j) = m(j, k); k += 1 }; j += 1 }
    m
  }

  /** Variance function v(μ) at the fitted β. */
  def varianceAt(x: DenseMatrix[Double], fit: Glm.Fit,
                 family: Glm.Family): DenseVector[Double] = {
    val eta = x * DenseVector(fit.beta)
    family match {
      case Glm.Gaussian => DenseVector.ones[Double](x.rows)
      case Glm.Binomial =>
        eta.map(e => { val m = 1.0 / (1.0 + math.exp(-e)); math.max(m * (1.0 - m), 1e-10) })
    }
  }

  /** Stata-linearization sandwich vcov (survey_model.py:46-172).
    *
    * With canonical links the scale cancels between the Hessian and the
    * scores, so vcov = M⁻¹ Ĵ M⁻¹ with M = X'(w·v)X at the fitted β and
    * Ĵ built from unscaled per-observation scores u_i = w_i (y_i − μ_i) x_i:
    * cluster sums → per-stratum centering (with lonely-PSU modes) →
    * √(nh/(nh−1)) and √(1−fpc) scaling → Gram matrix.
    */
  def stataLinearizationVcov(
      x: DenseMatrix[Double], y: DenseVector[Double], fit: Glm.Fit,
      family: Glm.Family, design: AlignedDesign): DenseMatrix[Double] = {
    val t = design.totals
    if (!t.hasCluster && t.stratumTotals.nonEmpty)
      return noClusterLinearizationVcov(x, y, fit, family, design)
    val n = x.rows
    val p = x.cols
    val beta = DenseVector(fit.beta)
    val eta = x * beta
    val mu = family match {
      case Glm.Gaussian => eta
      case Glm.Binomial => eta.map(e => 1.0 / (1.0 + math.exp(-e)))
    }
    val v = varianceAt(x, fit, family)
    val mInv = inv(weightedGram(x, design.weights, v))

    // per-observation scores u_i = w_i (y_i - mu_i) x_i; cluster sums
    val clusterSum = scala.collection.mutable.LinkedHashMap[String, DenseVector[Double]]()
    val popMean = DenseVector.zeros[Double](p) // observation mean, for 'adjust'
    var i = 0
    while (i < n) {
      val r = design.weights(i) * (y(i) - mu(i))
      val u = DenseVector.tabulate(p)(j => r * x(i, j))
      popMean += u
      val c = design.clust(i)
      clusterSum.get(c) match {
        case Some(acc) => acc += u
        case None      => clusterSum(c) = u.copy
      }
      i += 1
    }
    popMean :/= n.toDouble

    // group clusters by stratum; center per stratum. ALL full-design
    // clusters participate — clusters with no fitted rows (dropped by
    // subsets/complete-case) contribute ZERO score rows, which shifts the
    // stratum means exactly as the R survey package (and the reference's
    // categorical groupby, which emits empty categories) computes them.
    val clusters = t.stratForClust.keys.toArray.sorted
    clusters.foreach(c => if (!clusterSum.contains(c))
      clusterSum(c) = DenseVector.zeros[Double](p))
    val byStrat = clusters.groupBy(c => t.stratForClust(c))
    val centered = scala.collection.mutable.LinkedHashMap[String, DenseVector[Double]]()
    if (t.hasStrata) {
      byStrat.foreach { case (_, cs) =>
        if (cs.length == 1 && t.singleCluster == "adjust") {
          // single-cluster stratum centered by the population mean
          centered(cs.head) = clusterSum(cs.head) - popMean
        } else {
          val mean = cs.map(clusterSum).reduce(_ + _) / cs.length.toDouble
          cs.foreach(c => centered(c) = clusterSum(c) - mean)
        }
      }
    } else {
      // no strata: center across all clusters (single implicit stratum)
      val mean = clusters.map(clusterSum).reduce(_ + _) / clusters.length.toDouble
      clusters.foreach(c => centered(c) = clusterSum(c) - mean)
    }

    // 'average' lonely-PSU mode: inflate by sqrt(H / (H - #single))
    if (t.hasStrata && t.singleCluster == "average") {
      val nSingle = t.clustPerStrat.count(_._2 == 1)
      val scale = math.sqrt(design.nStrat.toDouble /
        (design.nStrat - nSingle).toDouble)
      centered.keys.foreach(c => centered(c) :*= scale)
    }

    // scale rows: mh = sqrt(nh/(nh-1)) from the FULL design, fh = sqrt(1-fpc)
    val jrows = clusters.map { c =>
      val nh = t.clustPerStrat(t.stratForClust(c)).toDouble
      val mh = if (nh > 1) math.sqrt(nh / (nh - 1)) else 1.0
      val fh = math.sqrt(1.0 - t.fpcPerClust.getOrElse(c, 0.0))
      centered(c) * (mh * fh)
    }
    val vHat = DenseMatrix.zeros[Double](p, p)
    jrows.foreach { r =>
      var a = 0
      while (a < p) {
        var b = 0
        while (b < p) { vHat(a, b) += r(a) * r(b); b += 1 }
        a += 1
      }
    }
    mInv * vHat * mInv
  }

  /** No-cluster linearization: every design row is its own PSU, so the
    * cluster-sum / stratum-centering algebra collapses to per-stratum
    * aggregates over the FITTED rows plus the full design's O(#strata)
    * totals. Absent PSUs (design rows dropped by subsets / complete-case)
    * contribute zero score rows exactly as in the clustered path — but
    * only through their count and Σ(1−fpc), never enumerated. Algebra per
    * stratum: Σ_c fh²·(u_c−m)(u_c−m)ᵀ over ALL Nh PSUs equals
    * G − f·mᵀ − m·fᵀ + ΣFh²_full·m·mᵀ, with G = Σ_fitted fh²·u·uᵀ and
    * f = Σ_fitted fh²·u (absent PSUs have u = 0); m is the stratum mean
    * S/Nh (or the population mean under single-PSU 'adjust'). Numerically
    * identical to the generic path run over pseudo-clusters. */
  private def noClusterLinearizationVcov(
      x: DenseMatrix[Double], y: DenseVector[Double], fit: Glm.Fit,
      family: Glm.Family, design: AlignedDesign): DenseMatrix[Double] = {
    val n = x.rows
    val p = x.cols
    val beta = DenseVector(fit.beta)
    val eta = x * beta
    val mu = family match {
      case Glm.Gaussian => eta
      case Glm.Binomial => eta.map(e => 1.0 / (1.0 + math.exp(-e)))
    }
    val v = varianceAt(x, fit, family)
    val mInv = inv(weightedGram(x, design.weights, v))

    final class StratAcc {
      val s = DenseVector.zeros[Double](p)
      val f = DenseVector.zeros[Double](p)
      val g = DenseMatrix.zeros[Double](p, p)
      var sumFh2 = 0.0
    }
    val acc = scala.collection.mutable.LinkedHashMap[String, StratAcc]()
    val popMean = DenseVector.zeros[Double](p)
    val haveFpc = design.rowFpc.nonEmpty
    var i = 0
    while (i < n) {
      val r = design.weights(i) * (y(i) - mu(i))
      val u = DenseVector.tabulate(p)(j => r * x(i, j))
      popMean += u
      val fh2 = if (haveFpc) 1.0 - design.rowFpc(i) else 1.0
      val a = acc.getOrElseUpdate(design.strat(i), new StratAcc)
      a.s += u
      a.f += u * fh2
      var aa = 0
      while (aa < p) {
        var bb = 0
        while (bb < p) { a.g(aa, bb) += fh2 * u(aa) * u(bb); bb += 1 }
        aa += 1
      }
      a.sumFh2 += fh2
      i += 1
    }
    popMean :/= n.toDouble

    val t = design.totals
    val totals = t.stratumTotals
    val scale2 =
      if (t.hasStrata && t.singleCluster == "average") {
        val nSingle = totals.count(_._2._1 == 1L)
        design.nStrat.toDouble / (design.nStrat - nSingle).toDouble
      } else 1.0
    val vHat = DenseMatrix.zeros[Double](p, p)
    totals.foreach { case (s, (nh, sumFh2Full)) =>
      val a = acc.getOrElse(s, new StratAcc)
      val c =
        if (t.hasStrata && nh == 1L && t.singleCluster == "adjust") popMean
        else a.s / nh.toDouble
      val mh2 = if (nh > 1L) nh.toDouble / (nh - 1.0) else 1.0
      val w = mh2 * scale2
      var aa = 0
      while (aa < p) {
        var bb = 0
        while (bb < p) {
          vHat(aa, bb) += w * (a.g(aa, bb) - a.f(aa) * c(bb) - c(aa) * a.f(bb) +
            sumFh2Full * c(aa) * c(bb))
          bb += 1
        }
        aa += 1
      }
    }
    mInv * vHat * mInv
  }

  /** Naive (model-based) covariance / scale = M⁻¹, needed by regTermTest. */
  def naiveCovOverScale(x: DenseMatrix[Double], fit: Glm.Fit,
                        family: Glm.Family, weights: Array[Double]): DenseMatrix[Double] =
    inv(weightedGram(x, weights, varianceAt(x, fit, family)))

  /** Weighted deviance at the fit (statsmodels freq_weights semantics). */
  def weightedDeviance(x: DenseMatrix[Double], y: DenseVector[Double],
                       fit: Glm.Fit, family: Glm.Family,
                       weights: Array[Double]): Double = {
    val eta = x * DenseVector(fit.beta)
    family match {
      case Glm.Gaussian =>
        var acc = 0.0
        var i = 0
        while (i < y.length) { val r = y(i) - eta(i); acc += weights(i) * r * r; i += 1 }
        acc
      case Glm.Binomial =>
        var acc = 0.0
        var i = 0
        while (i < y.length) {
          val m = math.min(math.max(1.0 / (1.0 + math.exp(-eta(i))), 1e-10), 1.0 - 1e-10)
          val t1 = if (y(i) > 0) y(i) * math.log(y(i) / m) else 0.0
          val t2 = if (y(i) < 1) (1.0 - y(i)) * math.log((1.0 - y(i)) / (1.0 - m)) else 0.0
          acc += 2.0 * weights(i) * (t1 + t2)
          i += 1
        }
        acc
    }
  }

  /** Working-LRT p-value for a categorical term under a survey design —
    * Lumley & Scott (2014) as implemented by the reference
    * (calculations.py:10-30). `rvIdx` are the design columns of the tested
    * variable; `vcov` the sandwich; `v0` the naive cov/scale. */
  def regTermTest(chisq: Double, rvIdx: Seq[Int], vcov: DenseMatrix[Double],
                  v0: DenseMatrix[Double], ddf: Double): Double = {
    val k = rvIdx.size
    val vSub = DenseMatrix.tabulate(k, k)((a, b) => vcov(rvIdx(a), rvIdx(b)))
    val v0Sub = DenseMatrix.tabulate(k, k)((a, b) => v0(rvIdx(a), rvIdx(b)))
    val prod = pinv(v0Sub) * vSub
    val misspec = eig(prod).eigenvalues.toArray // real parts
    pFsum(chisq, misspec, ddf)
  }

  /** Satterthwaite-style F approximation with saddlepoint refinement
    * (calculations.py:31-49). */
  def pFsum(x: Double, a: Array[Double], ddf: Double): Double = {
    val tr = a.sum / a.length
    val tr2 = a.map(v => v * v).sum / a.length / (tr * tr)
    val scale = tr * tr2
    val ndf = a.length / tr2
    var rval = Distributions.fSf(x / ndf / scale, ndf, ddf)
    // saddlepoint refinement: lam = eigenvalues ++ (-x/ddf) repeated ddf
    // times (df>1 repeat per calculations.py:41-44)
    val lam0 = a :+ (-x / ddf)
    val dfs = Array.fill(a.length)(1.0) :+ ddf
    val lam =
      if (dfs.exists(_ > 1)) lam0.zip(dfs).flatMap { case (l, d) =>
        Array.fill(math.max(1, math.round(d).toInt))(l)
      } else lam0
    val s = saddle(0.0, lam)
    if (!s.isNaN) rval = s
    rval
  }

  /** Saddlepoint tail approximation (calculations.py:51-87). */
  def saddle(x0: Double, lam0: Array[Double]): Double = {
    val d = lam0.max
    if (d <= 0) return Double.NaN
    val lam = lam0.map(_ / d)
    val x = x0 / d
    def k0(z: Double) = -lam.map(l => math.log(1 - 2 * z * l)).sum / 2
    def kprime0(z: Double) = lam.map(l => l / (1 - 2 * z * l)).sum
    def kpprime0(z: Double) = 2 * lam.map(l => l * l / math.pow(1 - 2 * z * l, 2)).sum
    val neg = lam.filter(_ < 0)
    val lamMin =
      if (neg.nonEmpty) neg.map(l => 1 / (2 * l)).max * 0.99999
      else if (x > lam.sum) -0.01
      else -1.0 * lam.length / (2 * x)
    val pos = lam.filter(_ > 0)
    if (pos.isEmpty) return Double.NaN
    val lamMax = pos.map(l => 1 / (2 * l)).min * 0.99999
    val hatzeta =
      try brent(z => kprime0(z) - x, lamMin, lamMax)
      catch { case _: Exception => return Double.NaN }
    val sign = if (hatzeta > 0) 1.0 else -1.0
    val w = sign * math.sqrt(math.max(2 * (hatzeta * x - k0(hatzeta)), 0.0))
    val v = hatzeta * math.sqrt(kpprime0(hatzeta))
    if (math.abs(hatzeta) < 1e-4 || w == 0.0) Double.NaN
    else Distributions.normalSf(w + math.log(v / w) / w)
  }

  /** Brent root-find on [a, b] (scipy.optimize.brentq equivalent,
    * commons-math3 implementation). */
  def brent(f: Double => Double, a: Double, b: Double): Double = {
    val solver = new org.apache.commons.math3.analysis.solvers.BrentSolver(1e-12, 1e-12)
    val fn = new org.apache.commons.math3.analysis.UnivariateFunction {
      def value(z: Double): Double = f(z)
    }
    solver.solve(1000, fn, a, b)
  }

  /** Delete-one-cluster jackknife vcov (survey_model.py:174-208): refit with
    * replicate weights per left-out cluster, center at the full-sample β,
    * scale by √((nh−1)/nh)·√(1−fpc). */
  def jackknifeVcov(
      x: DenseMatrix[Double], y: DenseVector[Double], fit: Glm.Fit,
      family: Glm.Family, design: AlignedDesign): DenseMatrix[Double] = {
    val p = x.cols
    // ALL full-design clusters are deleted in turn — a cluster emptied by
    // subsets/complete-case still reweights its stratum's survivors
    // (mirrors the zero-score-row domain semantics of the linearization)
    val t = design.totals
    val clusters = t.stratForClust.keys.toArray.sorted
    val betaFull = DenseVector(fit.beta)
    val rows = clusters.map { dropped =>
      val s = t.stratForClust(dropped)
      val nh = t.clustPerStrat(s).toDouble
      val w = Array.tabulate(x.rows) { i =>
        if (design.clust(i) == dropped) 0.0
        else if (design.strat(i) == s) design.weights(i) * nh / (nh - 1)
        else design.weights(i)
      }
      val rep = Glm.fit(x, y, family, Some(DenseVector(w)))
      val centeredB = DenseVector(rep.beta) - betaFull
      val mh = if (nh > 1) math.sqrt((nh - 1) / nh) else 1.0
      val fh = math.sqrt(1.0 - t.fpcPerClust.getOrElse(dropped, 0.0))
      centeredB * (mh * fh)
    }
    val vcov = DenseMatrix.zeros[Double](p, p)
    rows.foreach { r =>
      var a = 0
      while (a < p) { var b = 0; while (b < p) { vcov(a, b) += r(a) * r(b); b += 1 }; a += 1 }
    }
    vcov
  }
}
