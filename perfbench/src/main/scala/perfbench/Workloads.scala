package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.analyze.{AssociationStudy, Corrections}
import graft.describe.Describe
import graft.io.Load
import graft.model.CladeFrame
import graft.modify.Modify
import graft.survey.SurveyDesignSpec

/** A named workload: inputs written once per seed, then a chain run as one
  * closed-loop caller. Every call into a library layer goes through
  * `tr.span("<layer>.<call>")`. */
trait Workload {
  type Result
  def name: String
  /** Warm run time on a 4-core machine, which turns `--seconds` into a fixed
    * number of measured runs. */
  def nominalRunS: Double
  /** Writes the inputs of `seed` under `dir`, replacing earlier ones. */
  def prepare(spark: SparkSession, seed: Long, dir: String, slices: Int): Unit
  /** One run, from load to the last collected result. */
  def run(spark: SparkSession, dir: String, tr: Tracer): Result
  /** Failures of the correctness gate; empty when the run is correct. */
  def check(result: Result): Seq[String]
  /** Writes what an outside checker needs, after all runs. */
  def export(spark: SparkSession, outDir: String): Unit = ()
}

object Workloads {
  /** A quarter of the NHANES observation count (22,624, BASELINE.md): the
    * full count does not fit the benchmark's time budget. */
  val Rows = 22624 / 4
  val MinN = 200L

  val all: Seq[Workload] = Seq(new EwasQc, new EwasCliTyped, new EwasSurveyWide, new CurationE2e)

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

final case class EwasResult(decisions: Seq[(String, String)], tested: Seq[String],
                            table: Seq[Assoc], significant: Seq[String])

/** The EWAS chains. Each ends with the association study, BH-FDR and the
  * significant hits; they differ in how the table arrives and is typed. */
abstract class EwasWorkload(val shape: EwasShape) extends Workload {
  import EwasData._
  type Result = EwasResult
  protected var data: EwasData = _

  def prepare(spark: SparkSession, seed: Long, dir: String, slices: Int): Unit = {
    data = new EwasData(seed, shape)
    write(spark, dir, slices)
  }

  protected def write(spark: SparkSession, dir: String, slices: Int): Unit

  def check(r: EwasResult): Seq[String] = {
    val sigSet = r.significant.toSet
    Gate.ewas(data, r.tested, r.table) ++
      (if (r.decisions.isEmpty) Nil else Gate.categorize(data, r.decisions)) ++
      Option.when(r.table.count(_.fdr.exists(_ <= Gate.Q)) != sigSet.size)(
        "getSignificant disagrees with the corrected table")
  }

  /** QC shared by the chains: min-N column filter and complete outcome and
    * covariates. */
  protected def qc(cf: CladeFrame, outcome: String, tr: Tracer): CladeFrame = {
    val kept = tr.span("modify.colfilter_min_n")(Modify.colfilterMinN(cf, Workloads.MinN))
    tr.span("modify.rowfilter_incomplete_obs")(
      Modify.rowfilterIncompleteObs(kept, only = Some(outcome +: Covariates)))
  }

  /** Association study of every exposure, then BH-FDR and the hits. The
    * study's table is collected inside its span, as the CLI writes it
    * before the correction step reads it. */
  protected def study(spark: SparkSession, cf: CladeFrame, outcome: String,
                      design: Option[SurveyDesignSpec], tr: Tracer,
                      decisions: Seq[(String, String)] = Nil): EwasResult = {
    val rvs = cf.variables.filterNot(NonExposures)
    val table = tr.span("analyze.association_study", items = rvs.size) {
      val df = AssociationStudy.run(spark, cf, Seq(outcome), Covariates, rvs,
        minN = Workloads.MinN, surveyDesign = design)
      spark.createDataFrame(df.collectAsList(), df.schema)
    }
    val (all, sig) = tr.span("analyze.corrections") {
      val corrected = Corrections.addCorrectedPvalues(table)
      (corrected.collect(), Corrections.getSignificant(corrected).collect())
    }
    def opt(r: Row, c: String): Option[Double] = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    EwasResult(decisions, rvs,
      all.map(r => Assoc(r.getAs[String]("Variable"), opt(r, "Beta"), opt(r, "pvalue"),
        opt(r, "pvalue_fdr"))).toSeq,
      sig.map(_.getAs[String]("Variable")).toSeq)
  }
}

/** The paper's full chain from a raw TSV: load, categorize, QC, describe,
  * gaussian association, FDR, hits. */
final class EwasQc extends EwasWorkload(EwasShape(Workloads.Rows, 10, 3)) {
  import EwasData._
  val name = "ewas_qc"
  val nominalRunS = 3.7

  protected def write(spark: SparkSession, dir: String, slices: Int): Unit =
    data.writeRawTsv(spark, s"$dir/raw.tsv", slices)

  def run(spark: SparkSession, dir: String, tr: Tracer): EwasResult = {
    val raw = tr.span("io.load")(Load.fromTsv(spark, s"$dir/raw.tsv"))
    val report = tr.span("modify.categorize")(Modify.categorize(raw))
    val cf = qc(report.frame, Y, tr)
    tr.span("describe.percent_na")(Describe.percentNa(spark, cf).collect())
    tr.span("describe.summarize")(Describe.summarize(spark, cf).collect())
    study(spark, cf, Y, None, tr, report.decisions.map { case (c, _, d) => c -> d })
  }
}

/** A typed frame reloaded the way the CLI passes it between steps (TSV plus
  * dtypes sidecar), then QC, percent NA, gaussian association, FDR. */
final class EwasCliTyped extends EwasWorkload(EwasShape(Workloads.Rows, 48, 6)) {
  import EwasData._
  val name = "ewas_cli_typed"
  val nominalRunS = 3.0

  protected def write(spark: SparkSession, dir: String, slices: Int): Unit =
    data.writeTsvWithSidecar(spark, s"$dir/typed.tsv", s"$dir/typed.dtypes", slices)

  def run(spark: SparkSession, dir: String, tr: Tracer): EwasResult = {
    val loaded = tr.span("io.load")(
      Load.loadTsvWithSidecar(spark, s"$dir/typed.tsv", s"$dir/typed.dtypes"))
    val cf = qc(loaded, Y, tr)
    tr.span("describe.percent_na")(Describe.percentNa(spark, cf).collect())
    study(spark, cf, Y, None, tr)
  }
}

/** The documented width, typed in one projection over parquet, with a
  * survey-weighted logistic association (15 strata x 2 nested PSUs). */
final class EwasSurveyWide extends EwasWorkload(EwasShape(Workloads.Rows, 32, 6)) {
  import EwasData._
  val name = "ewas_survey_wide"
  val nominalRunS = 2.0

  protected def write(spark: SparkSession, dir: String, slices: Int): Unit =
    data.writeParquet(spark, s"$dir/wide.parquet", slices)

  def run(spark: SparkSession, dir: String, tr: Tracer): EwasResult = {
    val (typed, designDf) = tr.span("io.load") {
      val raw = Load.fromParquet(spark, s"$dir/wide.parquet", Some(Id)).df
      (data.typed(raw.drop(Design: _*)), raw.select(Id, Design: _*))
    }
    val cf = qc(typed, Yb, tr)
    tr.span("describe.percent_na")(Describe.percentNa(spark, cf).collect())
    val design = tr.span("survey.design")(new SurveyDesignSpec(designDf, idCol = Id,
      strata = Some(Strata), cluster = Some(Psu), nest = true, singleWeight = Some(Weight)))
    study(spark, cf, Yb, Some(design), tr)
  }
}

/** The `pipeline_*_e2e` curation queries over the documents table, one
  * collect each. A run is correct when it returns the rows of the first
  * run, and the first run's rows are checked against each query's
  * registered oracle SQL outside the JVM (see run.py). */
final class CurationE2e extends Workload {
  type Result = Seq[(String, StructType, Array[Row])]
  val name = "curation_e2e"
  val nominalRunS = 3.2
  val queries: Seq[String] = CurationE2e.Queries
  private val reference = mutable.Map.empty[String, (Seq[String], Array[Row], StructType)]

  def prepare(spark: SparkSession, seed: Long, dir: String, slices: Int): Unit =
    new CurationData(seed, CurationData.Documents).write(spark, dir, slices)

  def run(spark: SparkSession, dir: String, tr: Tracer): Result = queries.map { q =>
    val (schema, rows) = tr.span("pipeline." + q.stripPrefix("pipeline_")) {
      val df = SparkEntry.queries(q)(spark, dir)
      (df.schema, df.collect())
    }
    (q, schema, rows)
  }

  private def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("\u0001")).toSeq.sorted

  def check(result: Result): Seq[String] = result.flatMap { case (q, schema, rows) =>
    val got = canonical(rows)
    reference.get(q) match {
      case _ if rows.isEmpty => Some(s"$q returned no rows")
      case None => reference(q) = (got, rows, schema); None
      case Some((want, _, _)) => Option.when(got != want)(s"$q returned other rows than its first run")
    }
  }

  override def export(spark: SparkSession, outDir: String): Unit = {
    reference.foreach { case (q, (_, rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
    }
    Json.write(s"$outDir/oracle_sql.json", ListMap(queries.map(q => q -> SparkEntry.oracleSql(q)): _*))
  }
}

object CurationE2e {
  /** Four of the nine `pipeline_*_e2e` queries, all over documents. The
    * others (budget, curriculum, multimodal, and drift and incremental,
    * which also need lineitem and events) are left out to keep a process
    * within the benchmark's time budget. */
  val Queries: Seq[String] =
    Seq("curate", "dedup", "policy", "release").map(q => s"pipeline_${q}_e2e")
}
