package graft.analyze

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One ascending sort key of a results table; `nullsLast` selects Spark's
  * NULLS LAST instead of its ascending default, NULLS FIRST. */
private[graft] final case class SortKey(name: String, nullsLast: Boolean = false) {
  /** The same key for a distributed `orderBy`. */
  def column: Column = if (nullsLast) col(name).asc_nulls_last else col(name).asc
}

/** Results tables with one row per tested variable (or pair) are held on
  * the driver: collected once, sorted there, and returned as a local
  * relation, so the steps after them (corrections, significance filters,
  * writers) plan over a `LocalRelation` and start no Spark jobs.
  *
  * The sort is Spark's own `ORDER BY`: rows are compared as catalyst rows
  * with an [[InterpretedOrdering]], so doubles order NaN largest with
  * -0.0 = 0.0, strings order by UTF-8 bytes, and null placement follows
  * each [[SortKey]]. It is stable: rows equal on every key keep their
  * input order. */
private[graft] object LocalResult {

  /** Collects `df` (no job when it is already local) and sorts it. */
  def collectSorted(df: DataFrame, keys: Seq[SortKey]): DataFrame =
    sorted(df.sparkSession, df.schema, df.collect().toSeq, keys)

  /** Sorts `rows` of `schema` on the driver into a local relation. */
  def sorted(spark: SparkSession, schema: StructType, rows: Seq[Row],
             keys: Seq[SortKey]): DataFrame = {
    val ordering = new InterpretedOrdering(keys.map { k =>
      val i = schema.fieldIndex(k.name)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending,
        if (k.nullsLast) NullsLast else NullsFirst, Seq.empty)
    })
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val out = rows.map(r => (toCatalyst(r).asInstanceOf[InternalRow], r))
      .sortBy(_._1)(ordering).map(_._2)
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
