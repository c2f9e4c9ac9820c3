package graft.stats

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Zero-copy row decode for the treeAggregate kernels: reads the query's
  * InternalRow output directly (`queryExecution.toRdd`) instead of paying
  * the InternalRow -> GenericRow conversion `df.rdd` inserts per row — on a
  * 600k-row, ~100-column projection that conversion was ~40% of the
  * association-study batch pass. The per-row array copy happens inside the
  * map before any buffering, so Spark's UnsafeRow reuse is safe. All
  * columns must already be DoubleType (cast in the projection); null maps
  * to NaN, matching the kernels' missing encoding. */
object Rows {

  def doubleRdd(df: DataFrame): RDD[Array[Double]] = {
    val width = df.schema.size
    require(df.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.DoubleType),
      "doubleRdd needs an all-double projection")
    df.queryExecution.toRdd.mapPartitions { it =>
      it.map { ir =>
        val a = new Array[Double](width)
        var i = 0
        while (i < width) {
          a(i) = if (ir.isNullAt(i)) Double.NaN else ir.getDouble(i)
          i += 1
        }
        a
      }
    }
  }

  /** Deterministic fan-out of a SMALL, effectively-unsplittable scan
    * (single-row-group parquet plans ONE effective task however many cores
    * the session has — the optimization guide §2.5 "unsplittable file"
    * shape): a UNION of `fanout` branches of the same plan, branch i
    * keeping rows with xxhash64(key) ≡ i (mod fanout) — deterministic,
    * retry-safe, pushable below derived-column projections to the scan; no
    * shuffle, no sort. Each branch re-decodes the input (pure CPU at this size — the
    * bytes are page-cached), buying up-to-`fanout`-way parallelism for the
    * CPU-heavy sufficient-stats aggregations above (profiled: the
    * treeAggregate Gram pass ran 1.2 s on one core of 32). Engaged only
    * when the plan's partition count is below the fanout AND its optimizer
    * size estimate is under `graft.aggscan.fanoutMaxBytes` (default
    * 256 MiB): a production-scale table plans thousands of row-group
    * splits and skips this entirely, so the knob derives from input size,
    * not the local core count. `graft.aggscan.fanout` (default 8) sizes
    * the split; 1 disables. Callers: `AggregatedGlm.fitGaussianBatch`
    * and `fitBinomialBatch`, `InteractionStudy.runAggregated` and
    * `Describe.correlationsWide`. */
  def fanOutSmall(df: DataFrame,
                  key: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val fanout = graft.GraftConf.positiveLong(spark, "graft.aggscan.fanout", 8L).toInt
    val maxB = graft.GraftConf.positiveLong(
      spark, "graft.aggscan.fanoutMaxBytes", 256L << 20)
    val ok = fanout > 1 && (try {
      df.rdd.getNumPartitions < fanout &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxB
    } catch { case _: Throwable => false })
    if (!ok) df
    else {
      // the split predicate hashes a SOURCE column, so it is deterministic
      // and Catalyst pushes it below the caller's derived-column
      // projections to the scan: each branch decodes the input and filters
      // FIRST, and the expensive expressions above run on 1/fanout rows
      // (a monotonically_increasing_id split is nondeterministic and
      // stays ABOVE the projections — measured 5x WORSE than no fan-out,
      // every branch evaluating the full expression set)
      val h = pmod(xxhash64(key), lit(fanout.toLong))
      (0 until fanout)
        .map(i => df.filter(h === lit(i.toLong)))
        .reduce(_ union _)
    }
  }

  /** (columnIndex, value) pairs of all non-null, non-NaN cells — the melted
    * stream the exact-quantile sort consumes. Same toRdd rationale. */
  def nonNullDoublePairs(df: DataFrame): RDD[(Int, Double)] = {
    val width = df.schema.size
    df.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { ir =>
        (0 until width).iterator.collect {
          case i if !ir.isNullAt(i) && !ir.getDouble(i).isNaN =>
            (i, ir.getDouble(i))
        }
      }
    }
  }
}
