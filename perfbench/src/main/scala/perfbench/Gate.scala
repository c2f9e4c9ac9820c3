package perfbench

/** One row of the corrected association table. */
final case class Assoc(variable: String, beta: Option[Double], pvalue: Option[Double],
                       fdr: Option[Double])

/** The per-run correctness gate. Each check returns its failures; a run
  * passes when all of them are empty. */
object Gate {
  val Q = 0.05
  /** Level of the raw p-value calibration check. */
  val Alpha = 0.05
  /** Tail probability beyond which a count of null hits fails the gate. The
    * outputs are deterministic per seed, so a correct program fails a given
    * seed's gate with at most this probability over seeds. */
  val Tail = 1e-3

  /** The association table has exactly one row per tested variable, every
    * planted exposure is significant with its planted sign, the null
    * exposures called significant stay within what BH-FDR at [[Q]] allows,
    * and the null exposures' raw p-values are calibrated: the count below
    * [[Alpha]] stays within the binomial tail of `nulls * Alpha`. A wrong
    * variance (a survey design ignored, say) shows as extra null hits. */
  def ewas(data: EwasData, tested: Seq[String], table: Seq[Assoc]): Seq[String] = {
    val counts = table.groupBy(_.variable).map { case (v, rs) => v -> rs.size }
    val missing = tested.filterNot(counts.contains)
    val extra = counts.keys.filterNot(tested.toSet).toSeq.sorted
    val repeated = counts.filter(_._2 > 1).keys.toSeq.sorted
    val byVar = table.map(a => a.variable -> a).toMap
    val sig = table.filter(_.fdr.exists(_ <= Q))
    val plantedNames = data.planted.map(_.name).toSet
    val plantedFail = data.planted.flatMap { e =>
      byVar.get(e.name) match {
        case None => Some(s"planted ${e.name} has no result")
        case Some(a) if !a.fdr.exists(_ <= Q) => Some(s"planted ${e.name} not significant (fdr ${a.fdr})")
        case Some(a) if !a.beta.exists(b => math.signum(b) == math.signum(e.effect)) =>
          Some(s"planted ${e.name} has beta ${a.beta}, planted effect ${e.effect}")
        case _ => None
      }
    }
    val falsePos = sig.count(a => !plantedNames(a.variable))
    val bound = falsePositiveBound(sig.size)
    val nulls = table.filterNot(a => plantedNames(a.variable))
    val nullLow = nulls.count(_.pvalue.exists(_ < Alpha))
    val calibration = binomialBound(nulls.size, Alpha)
    Seq(
      Option.when(missing.nonEmpty)(s"${missing.size} tested variables missing from the table"),
      Option.when(extra.nonEmpty)(s"untested variables in the table: ${extra.take(5).mkString(",")}"),
      Option.when(repeated.nonEmpty)(s"variables with several rows: ${repeated.take(5).mkString(",")}"),
      Option.when(falsePos > bound)(s"$falsePos null variables significant, FDR bound $bound"),
      Option.when(nullLow > calibration)(
        s"$nullLow of ${nulls.size} null variables have p < $Alpha, calibration bound $calibration"),
    ).flatten ++ plantedFail
  }

  /** Largest false-positive count compatible with BH-FDR at [[Q]] among
    * `significant` calls: the count is close to Poisson with mean at most
    * Q * significant, and this is the start of its [[Tail]] upper tail. */
  def falsePositiveBound(significant: Int): Int =
    upperBound(k => if (k == 0) math.exp(-Q * significant) else Q * significant / k)

  /** Largest count of `n` Bernoulli(`p`) successes short of the [[Tail]]
    * upper tail of the binomial. */
  def binomialBound(n: Int, p: Double): Int =
    if (n == 0) 0
    else upperBound(k => if (k == 0) math.pow(1 - p, n) else (n - k + 1) * p / (k * (1 - p)))

  /** Smallest k with P(X > k) < [[Tail]] for a count X whose probability
    * mass satisfies P(0) = ratio(0) and P(k) = P(k - 1) * ratio(k). */
  private def upperBound(ratio: Int => Double): Int = {
    var k = 0
    var term = ratio(0)
    var cdf = term
    while (1.0 - cdf >= Tail && term > 0) {
      k += 1
      term *= ratio(k)
      cdf += term
    }
    k
  }

  /** `categorize` must infer the generator's kind for every column. */
  def categorize(data: EwasData, decisions: Seq[(String, String)]): Seq[String] = {
    val expected = data.expectedKinds
    val got = decisions.toMap
    val wrong = expected.toSeq.sortBy(_._1).filter { case (c, k) => !got.get(c).contains(k.name) }
    val extra = got.keys.filterNot(expected.contains)
    wrong.take(5).map { case (c, k) => s"categorize typed $c as ${got.getOrElse(c, "nothing")}, generated ${k.name}" } ++
      Option.when(wrong.size > 5)(s"${wrong.size} categorize decisions differ") ++
      extra.map(c => s"categorize typed unknown column $c")
  }
}
