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
  * to NaN, matching the kernels' missing encoding. The kernels scan their
  * input as planned: one task per planned partition. */
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
}
