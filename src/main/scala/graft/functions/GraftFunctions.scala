package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Column wrappers + SQL registration for graft's native expressions. */
object GraftFunctions {

  private def twoArgs(name: String)(exprs: Seq[Expression]): (Expression, Expression) = {
    require(exprs.length == 2, s"$name requires exactly 2 arguments, got ${exprs.length}")
    (exprs.head, exprs(1))
  }

  /** Register SQL names on a session; idempotent (createOrReplace). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => {
        val (a, b) = twoArgs("cosine_similarity")(exprs)
        CosineSimilarity(a, b)
      }, "scala_udf")
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime join filters but registers them internal-only; re-expose them
    // under graft names (the analyzer wraps the returned AggregateFunction).
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg", exprs => {
        require(exprs.length == 3,
          s"graft_bloom_agg(hash, estItems, numBits) needs 3 args, got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain", exprs => {
        val (bf, v) = twoArgs("graft_might_contain")(exprs)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, v)
      }, "scala_udf")
  }

  /** `name(args)` as a Column of a frame on `spark`, registered there first: `call_function`,
    * the public path in Spark 4, resolves in the session of the frame it is used in. */
  private def call(spark: SparkSession, name: String, args: Column*): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }

  def cosine_similarity(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "cosine_similarity", a, b)

  /** bloom_agg over PRE-HASHED (xxhash64) long keys; returns the serialized
    * sketch as one binary value. Sizing via expectedItems + numBits. */
  def bloom_agg(spark: SparkSession, hashed: Column, expectedItems: Long,
                numBits: Long): Column = call(spark, "graft_bloom_agg", hashed,
    org.apache.spark.sql.functions.lit(expectedItems),
    org.apache.spark.sql.functions.lit(numBits))

  /** Probe a serialized bloom sketch (binary, constant/foldable) with an
    * xxhash64-hashed key. Codegen'd; false positives possible, negatives exact. */
  def might_contain(spark: SparkSession, sketch: Column, hashed: Column): Column =
    call(spark, "graft_might_contain", sketch, hashed)
}

/** SparkSessionExtensions hook: `spark.sql.extensions=graft.functions.GraftExtensions`
  * injects the native functions into every session (the supported
  * extension point for adding catalyst expressions cluster-wide). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"cosine_similarity requires exactly 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      }))
  }
}
