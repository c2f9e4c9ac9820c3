package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.VariableType

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createDirectories(Paths.get("target", "perfbench-spec")).toAbsolutePath
  private val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", tmp.resolve("spark-local").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  /** Every data file under `dir` (Spark's part files, not its markers), by
    * content, independent of the generated file names. */
  private def contents(dir: Path): Seq[Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map(p => Files.readAllBytes(p).toSeq).toSeq.sortBy(_.hashCode)

  test("the same seed writes identical EWAS files; another seed does not") {
    def write(seed: Long, tag: String): Path = {
      val d = new EwasData(seed, EwasShape(300, 10, 2))
      val dir = tmp.resolve(tag)
      d.writeRawTsv(spark, s"$dir/raw.tsv", 2)
      d.writeTsvWithSidecar(spark, s"$dir/typed.tsv", s"$dir/typed.dtypes", 3)
      d.writeParquet(spark, s"$dir/wide.parquet", 2)
      dir
    }
    val a = contents(write(7, "a"))
    assert(a.size >= 4)
    assert(a == contents(write(7, "b")))
    assert(a != contents(write(8, "c")))
  }

  test("EWAS rows do not depend on how generation is split") {
    val d = new EwasData(3, EwasShape(200, 10, 2))
    val byOne = d.frame(spark, 1).collect().map(_.toSeq)
    assert(byOne.toSeq == d.frame(spark, 4).collect().map(_.toSeq).toSeq)
    assert(byOne.toSeq == (0L until 200L).map(i => d.row(i).toSeq))
  }

  test("the generator's shape: kinds, planted effects and missing values") {
    val d = new EwasData(11, EwasShape(2000, 50, 6))
    assert(d.exposures.count(_.kind == VariableType.Continuous) == 30)
    assert(d.exposures.count(_.kind == VariableType.Binary) == 10)
    assert(d.exposures.count(_.kind == VariableType.Categorical) == 10)
    assert(d.planted.size == 6 && d.planted.forall(_.kind != VariableType.Categorical))
    assert(d.planted.map(e => math.signum(e.effect)).sum == 0.0)
    val cells = (0L until 2000L).flatMap(i => d.row(i).drop(8))
    val missing = cells.count(_ == null).toDouble / cells.size
    assert(missing > 0.06 && missing < 0.10, s"missing share $missing")
  }

  test("the same seed writes the same documents") {
    val a = tmp.resolve("docs-a"); val b = tmp.resolve("docs-b"); val c = tmp.resolve("docs-c")
    new CurationData(5, 200).write(spark, a.toString, 2)
    new CurationData(5, 200).write(spark, b.toString, 2)
    new CurationData(5, 200).write(spark, c.toString, 3)
    assert(contents(a) == contents(b))
    def rows(p: Path) = spark.read.parquet(s"$p/documents.parquet").collect().map(_.toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Long])
    assert(rows(a) == rows(c))
  }

  test("generated documents copy other documents as the test corpus does") {
    val d = new CurationData(9, 2000)
    val texts = d.texts.toSet
    val copies = d.texts.filter(_.endsWith(" dup"))
    assert(copies.length > 60 && copies.length < 140, copies.length)
    // most copies find their source; a copy of a later document that is
    // itself copied afterwards does not
    assert(copies.count(t => texts(t.stripSuffix(" dup"))) > copies.length * 0.85)
    val words = d.texts.filterNot(_.endsWith(" dup")).map(_.split(" ").length)
    assert(words.min >= 10 && words.max <= 99)
    assert(d.texts.flatMap(_.split(" ")).toSet == CurationData.Vocabulary.toSet + "dup")
  }

  private def perfectTable(d: EwasData): Seq[Assoc] = d.exposures.map { e =>
    if (e.planted) Assoc(e.name, Some(e.effect), Some(1e-14), Some(1e-12))
    else Assoc(e.name, if (e.kind == VariableType.Categorical) None else Some(0.01), Some(0.5), Some(0.8))
  }

  test("the gate accepts a correct table and rejects one without a planted variable") {
    val d = new EwasData(2, EwasShape(100, 40, 5))
    val tested = d.exposures.map(_.name)
    val table = perfectTable(d)
    assert(Gate.ewas(d, tested, table).isEmpty)
    val dropped = d.planted.head.name
    val failures = Gate.ewas(d, tested, table.filterNot(_.variable == dropped))
    assert(failures.exists(_.contains(dropped)), failures)
    assert(failures.exists(_.contains("missing from the table")), failures)
  }

  test("the gate rejects a wrong sign, a lost hit, repeated rows and too many false positives") {
    val d = new EwasData(2, EwasShape(100, 40, 5))
    val tested = d.exposures.map(_.name)
    val table = perfectTable(d)
    val p = d.planted.head
    assert(Gate.ewas(d, tested, table.map(a =>
      if (a.variable == p.name) a.copy(beta = Some(-p.effect)) else a)).nonEmpty)
    assert(Gate.ewas(d, tested, table.map(a =>
      if (a.variable == p.name) a.copy(fdr = Some(0.2)) else a)).nonEmpty)
    assert(Gate.ewas(d, tested, table :+ table.head).exists(_.contains("several rows")))
    assert(Gate.ewas(d, tested, table.map(_.copy(fdr = Some(0.01))))
      .exists(_.contains("null variables significant")))
  }

  test("the gate rejects 5 false positives among 6 true hits") {
    val d = new EwasData(2, EwasShape(100, 32, 6))
    val tested = d.exposures.map(_.name)
    val nulls = d.exposures.filterNot(_.planted).take(5).map(_.name).toSet
    val table = perfectTable(d).map(a =>
      if (nulls(a.variable)) a.copy(pvalue = Some(1e-4), fdr = Some(0.001)) else a)
    assert(Gate.ewas(d, tested, table).exists(_.contains("null variables significant")))
    // one false positive among the hits is what BH-FDR allows
    val one = nulls.head
    assert(Gate.ewas(d, tested, perfectTable(d).map(a =>
      if (a.variable == one) a.copy(pvalue = Some(1e-4), fdr = Some(0.001)) else a)).isEmpty)
  }

  test("the gate rejects null p-values that are too often small") {
    val d = new EwasData(2, EwasShape(100, 32, 6))
    val tested = d.exposures.map(_.name)
    val nulls = d.exposures.filterNot(_.planted).map(_.name)
    val bound = Gate.binomialBound(nulls.size, Gate.Alpha)
    def lowFirst(k: Int) = perfectTable(d).map(a =>
      if (nulls.take(k).contains(a.variable)) a.copy(pvalue = Some(0.01)) else a)
    assert(Gate.ewas(d, tested, lowFirst(bound)).isEmpty)
    assert(Gate.ewas(d, tested, lowFirst(bound + 1)).exists(_.contains("calibration bound")))
  }

  test("the binomial bound cuts a 1e-3 tail") {
    assert(Gate.binomialBound(0, 0.05) == 0)
    assert(Gate.binomialBound(26, 0.05) == 6)
    assert(Gate.binomialBound(1000, 0.05) > 50 && Gate.binomialBound(1000, 0.05) < 80)
  }

  test("the false-positive bound grows with the number of calls") {
    assert(Gate.falsePositiveBound(0) == 0)
    val bounds = Seq(1, 10, 100, 1000).map(Gate.falsePositiveBound)
    assert(bounds == bounds.sorted && bounds.last > 50 && bounds.last < 100, bounds)
  }

  test("the gate compares categorize decisions with the generated kinds") {
    val d = new EwasData(4, EwasShape(100, 10, 2))
    val right = d.expectedKinds.toSeq.map { case (c, k) => c -> k.name }
    assert(Gate.categorize(d, right).isEmpty)
    val c = d.exposures.find(_.kind == VariableType.Binary).get.name
    assert(Gate.categorize(d, right.map {
      case (`c`, _) => c -> VariableType.Categorical.name
      case kv => kv
    }).exists(_.contains(c)))
  }

  test("covered time is the union of stage intervals") {
    assert(Collector.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L), (50L, 50L))) == 30L)
    assert(Collector.coveredMs(Nil) == 0L)
  }

  private lazy val benchmark = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("manifest.json")).get("benchmark")
  private def names(section: String): Seq[String] =
    benchmark.get(section).elements().asScala.map(_.get("name").asText).toSeq

  test("every metric name is well formed and used once") {
    val all = names("end_to_end") ++ names("per_layer")
    assert(all.size > 10)
    all.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n))
    assert(all.distinct.size == all.size)
  }

  test("per-layer names the traced run emits are in the manifest") {
    val listed = names("per_layer").toSet
    val c = new Collector
    val spans = Seq("io.load", "survey.design", "analyze.association_study",
      "pipeline.curate_e2e").map(n => Span(n, 1, "run1", 0L, 1L, 0.5, 0.0,
      if (n == "analyze.association_study") 10 else 0))
    val emitted = Main.layerCounters(c, spans).keySet + "trace.overhead_s"
    assert(emitted.size == 8 + 8 + 10 + 4 + 1)
    assert(emitted.filterNot(listed).isEmpty, emitted.filterNot(listed))
  }
}
