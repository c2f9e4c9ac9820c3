package graft

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one gate every dual-path operator goes through. A dual-path
  * operator has a driver-local replay for inputs of at most a fixed number
  * of rows and a distributed plan for everything else; both compute the
  * same result. [[gate]] decides between them with ONE bounded
  * `limit(bound + 1).collect()` whose rows, when they fit, ARE the local
  * path's input, so the decision costs no extra job on the local side.
  *
  * `graft.local.mode` (`auto`, the default, or `distributed`) is the only
  * knob: `distributed` makes every gate decline without probing, which
  * runs the plan production runs at scale on any input. Each decision is
  * logged once at INFO: the op, its bound, the rows probed (or why no probe
  * ran) and the chosen path. */
object LocalPath extends Logging {

  val ModeKey = "graft.local.mode"

  /** Past this optimizer estimate of the probe's input, no probe is
    * issued: at that size the bound fails anyway, and a `limit` above an
    * aggregate still computes the whole aggregation before truncating. */
  private val MaxProbeInputBytes = BigInt(4L << 30)

  /** The rows of `df` when it has at most `bound` rows, else None. No
    * rows are read when the input's size estimate already rules the bound
    * out. */
  def collectAtMost(df: DataFrame, bound: Long): Option[Array[Row]] =
    probe(df, bound).filter(_.length <= bound)

  /** [[collectAtMost]] for the local path of operator `op`, which declines
    * under `graft.local.mode=distributed`. A malformed mode fails naming
    * the key and its accepted values. */
  def gate(op: String, df: DataFrame, bound: Long): Option[Array[Row]] = {
    if (!localAllowed(df.sparkSession)) {
      logInfo(s"$op: bound $bound, no probe ($ModeKey=distributed) -> distributed path")
      return None
    }
    val rows = probe(df, bound)
    val local = rows.filter(_.length <= bound)
    logInfo(s"$op: bound $bound, " +
      rows.fold("skipped by estimate")(r => s"probed ${r.length} rows") +
      (if (local.isDefined) " -> driver-local path" else " -> distributed path"))
    local
  }

  /** Logs a site's own reason for leaving a local path the gate admitted. */
  def declined(op: String, reason: String): Unit =
    logInfo(s"$op: $reason -> distributed path")

  /** Runs `body` with every gate on `spark` forced onto the distributed
    * path, then restores the session's previous `graft.local.mode` (set or
    * unset), so scopes nest. */
  def distributed[T](spark: SparkSession)(body: => T): T = {
    val previous = spark.conf.getOption(ModeKey)
    spark.conf.set(ModeKey, "distributed")
    try body
    finally previous match {
      case Some(v) => spark.conf.set(ModeKey, v)
      case None    => spark.conf.unset(ModeKey)
    }
  }

  private def localAllowed(spark: SparkSession): Boolean =
    spark.conf.getOption(ModeKey).map(_.trim) match {
      case None | Some("auto") => true
      case Some("distributed") => false
      case Some(v) => throw new IllegalArgumentException(
        s"$ModeKey must be 'auto' or 'distributed', got '$v'")
    }

  /** None when the size estimate skips the probe, else at most bound+1 rows. */
  private def probe(df: DataFrame, bound: Long): Option[Array[Row]] =
    if (!worthProbing(df)) None
    else Some(df.limit((math.min(bound, Int.MaxValue.toLong - 1) + 1).toInt).collect())

  /** Whether the probe's input is small enough that probing is cheap even
    * when the bound then fails, judged on the optimizer's size estimate
    * before any job runs, so a 100 TB input takes the distributed path
    * without a wasted pass. Without CBO a join's estimate is the PRODUCT
    * of its children and a checkpointed or local input reports an unknown
    * (huge) size, so when the plan-level estimate is over, the LEAVES
    * decide: a materialized or cached leaf (LogicalRDD, LocalRelation,
    * InMemoryRelation) never rescans source files — a cache the probe
    * fills is the one the distributed path then reads — and any other
    * leaf must itself be under the bound. An estimation failure counts as
    * over: correctness never depends on the probe, only the local fast
    * path does. */
  private def worthProbing(df: DataFrame): Boolean =
    try {
      val plan = df.queryExecution.optimizedPlan
      plan.stats.sizeInBytes <= MaxProbeInputBytes || plan.collectLeaves().forall {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
        case l => l.stats.sizeInBytes <= MaxProbeInputBytes
      }
    } catch { case _: Throwable => false }
}
