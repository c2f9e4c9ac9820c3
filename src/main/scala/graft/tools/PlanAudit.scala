package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: for every declared query, checks the physical plan for the
  * properties that matter at 100 TB — parquet filter pushdown on filtered
  * scans, column pruning (ReadSchema narrower than the table), and
  * whole-stage codegen presence — and flags scans that read every column.
  *
  * `PlanAuditSpec` runs [[auditQuery]] over the whole query surface inside
  * `sbt test` and FAILS on any flag outside its justified allowlist, so a
  * pushdown/codegen regression reds the build rather than a log line.
  * Run standalone: `sbt "runMain graft.tools.PlanAudit [sfDir] [outDir] [query ...]"`;
  * with an `outDir` it also writes each audited query's formatted plan to
  * `<outDir>/<query>.txt` (the optimization-round plan evidence). */
object PlanAudit {

  final case class Audit(name: String, codegenSpans: Int, pushed: Boolean,
                         flags: Seq[String], plan: String)

  private val wide = "(struct<.{600,})".r

  /** Plan (not execute) one query with AQE off and derive its audit row.
    * Queries with eager driver-side steps (collect-based audits, local
    * fast paths) still only pay their construction cost. */
  def auditQuery(spark: SparkSession, sfDir: String, name: String,
                 fn: (SparkSession, String) => DataFrame): Audit =
    audit(name, fn(spark, sfDir))

  private def audit(name: String, df: DataFrame): Audit = {
    val s = df.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(s).map(_.group(1)).toSeq
    val hasScanFilter = pushed.exists(_.trim.nonEmpty)
    val nCodegen = "\\*\\(\\d+\\)".r.findAllIn(s).toSeq.distinct.size
    val wideScan = wide.findFirstIn(s).isDefined
    val flags = Seq(
      // a real Filter node with nothing reaching the scan ("PushedFilters:"
      // itself must not match)
      if (pushed.nonEmpty && !hasScanFilter && s.contains("Filter (")) "NO-PUSHDOWN" else "",
      if (nCodegen == 0) "NO-CODEGEN" else "",
      if (wideScan) "WIDE-SCAN" else "").filter(_.nonEmpty)
    Audit(name, nCodegen, hasScanFilter, flags, s)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = graft.SparkEntry.select(args.drop(2).toSeq).sortBy(_._1)
    val outDir = args.lift(1).map { d => val f = new java.io.File(d); f.mkdirs(); f }
    // AQE off: codegen stages are only visible in the static plan string
    // without adaptive wrapping
    val spark = graft.GraftSession.create("local[4]", 4, "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val a = audit(name, df)
        println(f"[audit] $name%-28s codegenSpans=${a.codegenSpans}%-3d pushed=${a.pushed}%-5s ${a.flags.mkString(",")}")
        outDir.foreach { d =>
          val w = new java.io.PrintWriter(new java.io.File(d, s"$name.txt"), "UTF-8")
          try w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          finally w.close()
        }
      } catch {
        case e: Throwable => println(s"[audit] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
