package graft.analyze

import breeze.linalg.{DenseMatrix, DenseVector, inv, pinv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The aggregated kernels' normal-equations accumulator: one packed array
  * holding, per model k over its `ps(k)` design columns z, the block
  * `[n, scalar, Σ w·z·r, upper(Σ w·z·zᵀ)]`, then `tallies` plain sums and
  * `ranges` exact (min, max) slots. [[AggregatedGlm]]'s gaussian batch and
  * IRLS passes and [[InteractionStudy]]'s aggregated path each give only
  * their own per-row weight w, response r and scalar; the layout, the
  * per-partition fold, the merge and the unpack live here alone.
  *
  * The fold runs one task per planned partition: each clones the zero
  * state and a scratch design row once, folds its rows, and the partials
  * merge in a `treeReduce` — element-wise sums, and min/max on the range
  * slots. Every slot's sum is the same sequence of additions whichever
  * caller fills it, so packing blocks differently moves no bit. */
private[analyze] final class Gram(ps: Seq[Int], tallies: Int = 0, ranges: Int = 0)
    extends Serializable {
  private val p: Array[Int] = ps.toArray
  private val off: Array[Int] = p.scanLeft(0)((o, q) => o + 2 + q + q * (q + 1) / 2)
  private val tallyOff = off(p.length)
  private val minOff = tallyOff + tallies
  private val maxOff = minOff + ranges
  private val size = maxOff + ranges
  private val width = if (p.isEmpty) 0 else p.max

  /** One observation of model k: n += 1, scalar += s, rhs += w·z·r and
    * upper += w·z·zᵀ over the first `ps(k)` cells of `z`. */
  def add(st: Array[Double], k: Int, z: Array[Double], w: Double, r: Double,
          s: Double): Unit = {
    val o = off(k)
    val q = p(k)
    st(o) += 1.0
    st(o + 1) += s
    var t = o + 2 + q
    var i = 0
    while (i < q) {
      val wz = w * z(i)
      st(o + 2 + i) += wz * r
      var j = i
      while (j < q) { st(t) += wz * z(j); t += 1; j += 1 }
      i += 1
    }
  }

  /** Adds `x` to tally slot j. */
  def tally(st: Array[Double], j: Int, x: Double): Unit = st(tallyOff + j) += x

  /** Widens range slot j to hold `v` (NaN leaves it as it is). */
  def range(st: Array[Double], j: Int, v: Double): Unit = {
    if (v < st(minOff + j)) st(minOff + j) = v
    if (v > st(maxOff + j)) st(maxOff + j) = v
  }

  /** Folds `rows` into the accumulator and unpacks it. `row(st, row, z)`
    * adds one row; `z` is a scratch array as wide as the widest design. An
    * input with no partitions folds to the zero state. */
  def fold(rows: RDD[Array[Double]])(
      row: (Array[Double], Array[Double], Array[Double]) => Unit): Gram.Sums = {
    val zero = new Array[Double](size)
    java.util.Arrays.fill(zero, minOff, maxOff, Double.PositiveInfinity)
    java.util.Arrays.fill(zero, maxOff, size, Double.NegativeInfinity)
    val parts = rows.mapPartitions { it =>
      val st = zero.clone()
      val z = new Array[Double](width)
      while (it.hasNext) row(st, it.next(), z)
      Iterator.single(st)
    }
    // treeReduce throws on an empty collection, and mapPartitions keeps
    // the partition count, so this check is exact
    unpack(if (parts.getNumPartitions == 0) zero else parts.treeReduce(merge))
  }

  private def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < minOff) { a(i) += b(i); i += 1 }
    while (i < maxOff) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    while (i < size) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  private def unpack(acc: Array[Double]): Gram.Sums = {
    val blocks = p.indices.map { k =>
      val o = off(k)
      val q = p(k)
      val gram = DenseMatrix.zeros[Double](q, q)
      var t = o + 2 + q
      for (i <- 0 until q; j <- i until q) {
        gram(i, j) = acc(t); gram(j, i) = acc(t); t += 1
      }
      Gram.Stats(acc(o).toLong, acc(o + 1),
        DenseVector(java.util.Arrays.copyOfRange(acc, o + 2, o + 2 + q)), gram)
    }
    Gram.Sums(blocks, acc.slice(tallyOff, minOff), acc.slice(minOff, maxOff),
      acc.slice(maxOff, size))
  }
}

private[analyze] object Gram {

  /** One model's unpacked block: its row count, scalar sum, right-hand
    * side Σ w·z·r and full symmetric Gram Σ w·z·zᵀ. */
  final case class Stats(n: Long, scalar: Double, rhs: DenseVector[Double],
                         gram: DenseMatrix[Double]) {
    /** The block of design columns `ix`, in that order. */
    def sub(ix: Seq[Int]): Stats = Stats(n, scalar, DenseVector(ix.map(rhs(_)).toArray),
      DenseMatrix.tabulate(ix.size, ix.size)((a, b) => gram(ix(a), ix(b))))

    /** (β, Gram⁻¹), the inverse falling back to the pseudo-inverse. */
    def solve: (DenseVector[Double], DenseMatrix[Double]) = {
      val ainv = try inv(gram) catch { case _: Exception => pinv(gram) }
      (ainv * rhs, ainv)
    }
  }

  /** A fold's result: each model's block, the tallies and the ranges. */
  final case class Sums(blocks: IndexedSeq[Stats], tallies: Array[Double],
                        min: Array[Double], max: Array[Double])

  /** OLS from a block whose scalar is Σy²; returns (β, Ainv, sse, llf,
    * aic). llf/aic follow statsmodels' Gaussian loglike with estimated
    * scale. */
  def solveGauss(s: Stats): (DenseVector[Double], DenseMatrix[Double], Double, Double, Double) = {
    val p = s.rhs.length
    val (b, ainv) = s.solve
    val sse = math.max(s.scalar - (b dot s.rhs), 0.0)
    val scale = sse / (s.n - p)
    val llf = -0.5 * (sse / scale + s.n * math.log(2.0 * math.Pi * scale))
    val aic = -2.0 * llf + 2.0 * p
    (b, ainv, sse, llf, aic)
  }

  // ---- design-column encodings the aggregated kernels share. Every
  // numeric cast is a try_cast: the row arrays evaluate design columns
  // unconditionally (no when(mask) shield), so an ANSI cast of one
  // malformed value would kill the whole study instead of masking it.

  /** `c` as a double, null where it does not cast. */
  def numeric(c: String): Column = expr(s"try_cast(`$c` AS DOUBLE)")

  /** 1.0 where `c` is present but does not cast to a double: the
    * reference's per-variable NumberFormatException row, never a silently
    * shrunk n. */
  def castFail(c: String): Column =
    when(col(c).isNotNull && numeric(c).isNull, 1.0).otherwise(0.0)

  /** 1.0 where `c` holds `level`, else 0.0. */
  def dummy(c: String, level: String): Column =
    when(col(c).cast("string") === level, 1.0).otherwise(0.0)
}
