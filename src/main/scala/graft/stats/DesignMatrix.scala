package graft.stats

import breeze.linalg.DenseMatrix

/** Local design-matrix assembly for one model fit.
  *
  * Encoding contract matches the reference's patsy usage
  * (reference: glm_regression.py:499-507; SURVEY.md §2.10):
  *   - intercept column of ones first;
  *   - continuous variable → one column;
  *   - binary variable → one 0/1 column (sorted levels; second level = 1 —
  *     pandas category-code order), "treated as continuous"
  *     (reference: glm_regression.py:37-38);
  *   - categorical variable → dummy columns for every OBSERVED level except
  *     the first sorted level (reference level); empty levels are pruned
  *     exactly as `_remove_empty_categories` does
  *     (reference: clarite/internal/utilities.py:197-233);
  *   - dummy names follow the `var[T.level]` convention for output parity.
  */
object DesignMatrix {

  trait Term extends Serializable {
    def name: String
    /** Expand to (columnName, values) pairs given the complete-case subset. */
    def columns: Seq[(String, Array[Double])]
    /** True if the term varies in the subset (non-varying terms are dropped
      * with a warning per reference: base.py:174-187). */
    def varies: Boolean
  }

  final case class ContinuousTerm(name: String, values: Array[Double]) extends Term {
    def columns: Seq[(String, Array[Double])] = Seq(name -> values)
    def varies: Boolean = {
      if (values.isEmpty) return false
      val h = values(0)
      values.exists(_ != h)
    }
  }

  /** Categorical term from raw string values; levels = observed sorted. */
  final case class CategoricalTerm(name: String, raw: Array[String]) extends Term {
    lazy val observedLevels: Seq[String] = raw.distinct.sorted.toSeq
    def columns: Seq[(String, Array[Double])] =
      observedLevels.drop(1).map { lvl =>
        s"$name[T.$lvl]" -> raw.map(v => if (v == lvl) 1.0 else 0.0)
      }
    def varies: Boolean = observedLevels.size > 1
  }

  /** Binary term: encoded 0/1 by sorted level order, single column. */
  final case class BinaryTerm(name: String, raw: Array[String],
                              levels: Seq[String]) extends Term {
    def columns: Seq[(String, Array[Double])] = {
      val one = levels.sorted.lift(1)
      Seq(name -> raw.map(v => if (one.contains(v)) 1.0 else 0.0))
    }
    def varies: Boolean = raw.distinct.length > 1
  }

  /** Assemble intercept + the varying terms into (names, X). */
  def build(n: Int, terms: Seq[Term]): (Seq[String], DenseMatrix[Double]) = {
    val cols = ("Intercept" -> Array.fill(n)(1.0)) +: terms.filter(_.varies).flatMap(_.columns)
    val x = DenseMatrix.zeros[Double](n, cols.size)
    cols.zipWithIndex.foreach { case ((_, v), j) =>
      var i = 0
      while (i < n) { x(i, j) = v(i); i += 1 }
    }
    (cols.map(_._1), x)
  }

  /** z-score with ddof=1, NA-free input (reference: glm_regression.py:172-190
    * uses scipy zscore(ddof=1)). */
  def zscore(values: Array[Double]): Array[Double] = {
    val n = values.length
    if (n < 2) return values
    val mean = values.sum / n
    val sd = math.sqrt(values.map(v => (v - mean) * (v - mean)).sum / (n - 1))
    if (sd == 0.0) values else values.map(v => (v - mean) / sd)
  }
}
