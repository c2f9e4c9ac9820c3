package graft

import graft.analyze.InteractionStudy
import graft.io.Load
import graft.modify.Modify
import graft.model.{CladeFrame, VariableType}
import org.apache.spark.sql.Row

/** Interaction-study golden-output parity (reference:
  * tests/r_test_output/interactions CSVs, rtol 1e-4 on LRT_pvalue and N —
  * tests/analyze/test_interaction_study.py:24-45). */
class InteractionStudySpec extends SparkSpec {

  private def golden(file: String): Map[(String, String), (Long, Double)] = {
    val lines = scala.io.Source.fromFile(refPath(s"r_test_output/interactions/$file"))
      .getLines().toSeq
    val header = lines.head.split(",")
    val t1 = header.indexOf("Term1"); val t2 = header.indexOf("Term2")
    val ni = header.indexOf("N"); val pi = header.indexOf("LRT_pvalue")
    lines.tail.map { l =>
      val c = l.split(",", -1)
      (c(t1), c(t2)) -> (c(ni).toDouble.toLong, c(pi).toDouble)
    }.toMap
  }

  private lazy val nhanes: CladeFrame = {
    val raw = Load.rawDelimited(spark, refPath("test_data_files/nhanes_data.csv"))
    var cf = Load.withSequentialId(raw)
    cf = Modify.makeBinary(cf, only = Some(Seq("HI_CHOL", "RIAGENDR")))
    cf = Modify.makeCategorical(cf, only = Some(Seq("race", "agecat")))
    cf
  }

  private def check(df: org.apache.spark.sql.DataFrame,
                    g: Map[(String, String), (Long, Double)]): Unit = {
    val rows = df.collect().map { r =>
      (r.getString(r.fieldIndex("Term1")), r.getString(r.fieldIndex("Term2"))) ->
        (r.getLong(r.fieldIndex("N")),
          r.getDouble(r.fieldIndex("LRT_pvalue")))
    }.toMap
    g.foreach { case ((a, b), (n, p)) =>
      val got = rows.get((a, b)).orElse(rows.get((b, a)))
      assert(got.nonEmpty, s"missing pair ($a, $b) in ${rows.keys}")
      assert(got.get._1 === n, s"($a,$b) N")
      assertRtol(got.get._2, p, 1e-4, s"($a,$b) LRT_pvalue")
    }
  }

  test("nhanes ageXgender interaction (categorical x binary, covar race)") {
    val data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val res = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = Seq(("agecat", "RIAGENDR")), covariates = Seq("race"))
    check(res, golden("nhanes_ageXgender.csv"))
  }

  test("nhanes weightXrace interaction (continuous x categorical)") {
    var data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat", "WTMEC2YR")))
    data = Modify.makeContinuous(data, only = Some(Seq("WTMEC2YR")))
    val res = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = Seq(("WTMEC2YR", "race")),
      covariates = Seq("agecat", "RIAGENDR"))
    check(res, golden("nhanes_weightXrace.csv"))
  }

  test("nhanes pairwise interactions (all pairs, no covariates)") {
    val data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val rvs = Seq("RIAGENDR", "race", "agecat")
    val pairs = for (i <- rvs.indices; j <- (i + 1) until rvs.size)
      yield (rvs(i), rvs(j))
    val res = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = pairs, covariates = Nil)
    check(res, golden("nhanes_pairwise.csv"))
  }

  private def goldenBetas(file: String): Map[String, Map[String, Double]] = {
    // keyed by Parameter; values: N, LRT_pvalue, Full_Var1_Var2_{beta,SE,Pval}
    val lines = scala.io.Source.fromFile(refPath(s"r_test_output/interactions/$file"))
      .getLines().toSeq
    val header = splitCsv(lines.head)
    lines.tail.map { l =>
      val c = splitCsv(l)
      val m = header.zip(c).toMap
      m("Parameter") -> Seq("N", "LRT_pvalue", "Full_Var1_Var2_beta",
        "Full_Var1_Var2_SE", "Full_Var1_Var2_Pval")
        .flatMap(k => m.get(k).filter(_.nonEmpty).map(v => k -> v.toDouble)).toMap
    }.toMap
  }

  /** minimal quoted-field CSV splitter (golden files quote params with commas) */
  private def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    line.foreach {
      case '"' => inQ = !inQ
      case ',' if !inQ => out += sb.toString; sb.clear()
      case ch => sb += ch
    }
    out += sb.toString
    out.toArray
  }

  Seq(
    ("nhanes_ageXgender_withbetas.csv", ("agecat", "RIAGENDR"), Seq("race"), 1e-2),
    ("nhanes_weightXrace_withbetas.csv", ("WTMEC2YR", "race"), Seq("agecat", "RIAGENDR"), 1e-4))
    .foreach { case (file, (v1, v2), covars, rtol) =>
      test(s"$file: per-parameter interaction betas") {
        var data = Modify.colfilter(nhanes,
          only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat", "WTMEC2YR")))
        data = Modify.makeContinuous(data, only = Some(Seq("WTMEC2YR")))
        val res = InteractionStudy.run(spark, data, "HI_CHOL",
          interactions = Seq((v1, v2)), covariates = covars, reportBetas = true)
        val rows = res.collect().map { r =>
          r.getString(r.fieldIndex("Parameter")) -> r
        }.toMap
        val g = goldenBetas(file)
        assert(rows.keySet === g.keySet,
          s"parameter sets differ: ${rows.keySet} vs ${g.keySet}")
        g.foreach { case (param, exp) =>
          val r = rows(param)
          assert(r.getLong(r.fieldIndex("N")) === exp("N").toLong, s"$param N")
          assertRtol(r.getDouble(r.fieldIndex("LRT_pvalue")), exp("LRT_pvalue"),
            rtol, s"$param LRT")
          Seq("Full_Var1_Var2_beta", "Full_Var1_Var2_SE", "Full_Var1_Var2_Pval")
            .foreach { k =>
              exp.get(k).foreach(v =>
                assertRtol(r.getDouble(r.fieldIndex(k)), v, rtol, s"$param $k"))
            }
        }
      }
    }

  test("co-group path matches broadcast path and the pairwise golden") {
    val data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val rvs = Seq("RIAGENDR", "race", "agecat")
    val pairs = for (i <- rvs.indices; j <- (i + 1) until rvs.size)
      yield (rvs(i), rvs(j))
    val cg = distributed(InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = pairs, covariates = Nil))
    check(cg, golden("nhanes_pairwise.csv"))
    // exact numeric equivalence against the broadcast path
    val bc = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = pairs, covariates = Nil)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getString(1))
    val bcMap = bc.collect().map(r => key(r) -> r.toSeq).toMap
    cg.collect().foreach { r =>
      assert(bcMap(key(r)) === r.toSeq, s"pair ${key(r)} differs across paths")
    }
  }

  test("co-group path reportBetas matches broadcast (ageXgender with covar)") {
    val data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    def study() = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = Seq(("agecat", "RIAGENDR")), covariates = Seq("race"),
      reportBetas = true)
    val run = (b: Boolean) => if (b) study() else distributed(study())
    val bc = run(true).collect().map(r => r.getString(3) -> r.toSeq).toMap
    val cg = run(false).collect().map(r => r.getString(3) -> r.toSeq).toMap
    assert(bc.keySet === cg.keySet)
    bc.foreach { case (param, row) => assert(cg(param) === row, s"$param differs") }
  }

  test("interactions forms: all-pairs / single-variable / explicit validation") {
    import spark.implicits._
    var cf = CladeFrame((1 to 5).map(i =>
      (i.toLong, i.toDouble, i * 2.0, i * 3.0, i % 2.0, "x", "u"))
      .toDF("id", "y", "a", "b", "c", "lbl", "raw"), "id")
    cf = Modify.makeCategorical(cf, only = Some(Seq("lbl")))
    // interactions=None: all pairwise combinations of valid vars (minus
    // outcome + covariates), column order. 'raw' stays UNKNOWN-typed and
    // is excluded, like the reference's regression_variables
    // (base.py:107-114 keeps only typed dtypes)
    assert(InteractionStudy.allPairs(cf, "y", Seq("c")) ===
      Seq(("a", "b"), ("a", "lbl"), ("b", "lbl")))
    // interactions="a": pairs of that var with every other valid var —
    // the reference documents this form but never builds it (latent bug
    // in _process_interactions); we implement the documented intent
    assert(InteractionStudy.pairsWith(cf, "b", "y", Seq("c")) ===
      Seq(("b", "a"), ("b", "lbl")))
    intercept[IllegalArgumentException] {
      InteractionStudy.pairsWith(cf, "c", "y", Seq("c")) // covariate not valid
    }
    intercept[IllegalArgumentException] {
      InteractionStudy.allPairs(cf, "y", Seq("a", "b", "c", "lbl")) // <2 left
    }
    intercept[IllegalArgumentException] { // unknown-typed var is not valid
      InteractionStudy.run(spark, cf, "y",
        interactions = Seq(("a", "raw")), minN = 1)
    }
    // explicit pairs validate with the reference's error strings
    val err = intercept[IllegalArgumentException] {
      InteractionStudy.run(spark, cf, "y",
        interactions = Seq(("a", "nope")), covariates = Seq("c"), minN = 1)
    }
    assert(err.getMessage.contains(
      "Interaction 1 of 1 contains an invalid variable: 'nope'"))
  }

  test("runOutcomes: per-outcome pair resolution, results unioned and sorted") {
    import spark.implicits._
    val cf = CladeFrame((1 to 60).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(), r.nextGaussian())
    }.toDF("id", "y1", "y2", "a", "b"), "id")
    val out = InteractionStudy.runOutcomes(spark, cf, Seq("y1", "y2"), minN = 1)
      .collect()
    // per-outcome all-pairs: for y1 the valid vars are {y2, a, b} (3 pairs),
    // symmetrically for y2 — the OTHER outcome is a valid interaction var
    assert(out.length === 6)
    val byOutcome = out.groupBy(_.getString(2)).view.mapValues(_.map(r =>
      Set(r.getString(0), r.getString(1))).toSet).toMap
    assert(byOutcome("y1") === Set(Set("y2", "a"), Set("y2", "b"), Set("a", "b")))
    assert(byOutcome("y2") === Set(Set("y1", "a"), Set("y1", "b"), Set("a", "b")))
    // sorted by LRT_pvalue ascending across BOTH outcomes
    val ps = out.map(r => if (r.isNullAt(8)) Double.MaxValue else r.getDouble(8))
    assert(ps.toSeq === ps.sorted.toSeq)
  }

  test("aggregated sufficient-stats path matches the broadcast row kernel (continuous Gaussian)") {
    import spark.implicits._
    // all-continuous Gaussian studies auto-select the ONE-scan treeAggregate
    // path; this pins its numerics to the broadcast row kernel across
    // per-pair null masks, a shared covariate, and a constant-variable
    // error row. Sufficient-stats vs row summation order differ in float
    // accumulation, so numeric cells compare at rtol 1e-8.
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map { i =>
      val x1 = 2.0 * rnd.nextGaussian() + 1.0
      val x2 = if (i % 7 == 0) None else Some(rnd.nextGaussian())
      val x3 = rnd.nextDouble() * 3
      val x4 = if (i % 5 == 0) None else Some(rnd.nextGaussian() * 0.5)
      val y = 3.0 + 0.5 * x1 - 0.8 * x3 + x1 * x2.getOrElse(0.0) * 0.3 +
        rnd.nextGaussian()
      (i.toLong, y, x1, x2, x3, x4, 5.0)
    }.toDF("id", "y", "x1", "x2", "x3", "x4", "xconst")
    val pairs = Seq(("x1", "x2"), ("x2", "x4"), ("x1", "x4"), ("xconst", "x1"))

    def cmpCell(a: Any, b: Any, clue: String): Unit = (a, b) match {
      case (x: Double, y: Double) =>
        if (x.isNaN) assert(y.isNaN, clue)
        else assert(math.abs(x - y) <= 1e-8 * math.max(1.0, math.abs(y)),
          s"$clue: $x vs $y")
      case _ => assert(a === b, clue)
    }
    def cmp(agg: org.apache.spark.sql.DataFrame,
            bc: org.apache.spark.sql.DataFrame, keyIdx: Int, layout: String): Unit = {
      val aMap = agg.collect().map(r => r.getString(keyIdx) + r.getString(0) + r.getString(1) -> r.toSeq).toMap
      val bMap = bc.collect().map(r => r.getString(keyIdx) + r.getString(0) + r.getString(1) -> r.toSeq).toMap
      assert(aMap.keySet === bMap.keySet)
      aMap.foreach { case (k, row) =>
        row.zip(bMap(k)).zipWithIndex.foreach { case ((x, y), i) =>
          cmpCell(x, y, s"$k field $i ($layout)") }
      }
    }
    layouts(df).foreach { case (layout, in) =>
      val cf = CladeFrame(in, "id")
      def run(betas: Boolean) =
        InteractionStudy.run(spark, cf, "y", interactions = pairs,
          covariates = Seq("x3"), minN = 1, reportBetas = betas)
      def rows(betas: Boolean) = InteractionStudy.runRows(spark, cf, "y", pairs,
        Seq("x3"), minN = 1, reportBetas = betas)
      assert(gateDecisions(run(betas = false))._2.isEmpty,
        s"default path must be the no-collect aggregated one ($layout)")
      cmp(run(betas = false), rows(betas = false), 1, layout)
      cmp(run(betas = true), rows(betas = true), 3, layout)
      // the constant-variable pair produced the same error row on both paths
      val err = run(betas = false).collect()
        .find(r => r.getString(0) == "xconst").get
      assert(!err.getBoolean(3) && err.getString(9) == "interaction term does not vary")
    }
  }

  test("aggregated path matches the broadcast kernel for categorical/binary blocks") {
    import spark.implicits._
    // categorical (3 levels, one emptied by the null mask pattern for one
    // pair), binary, and continuous vars through the patsy-submatrix
    // sufficient-stats path vs the row kernel
    val rnd = new scala.util.Random(13)
    val df = (1 to 300).map { i =>
      val cat = Seq("a", "b", "c")(rnd.nextInt(3))
      val bin = if (rnd.nextBoolean()) "yes" else "no"
      val x = rnd.nextGaussian() * 2
      val x2 = if (i % 6 == 0) None else Some(rnd.nextGaussian())
      val y = 1.0 + (if (cat == "b") 2.0 else 0.0) + 0.5 * x +
        (if (bin == "yes") 0.7 * x else 0.0) + rnd.nextGaussian()
      (i.toLong, y, cat, bin, x, x2)
    }.toDF("id", "y", "cat", "bin", "x", "x2")
    val pairs = Seq(("cat", "x"), ("bin", "x"), ("cat", "x2"), ("bin", "cat"))
    layouts(df).foreach { case (layout, in) =>
      var cf = CladeFrame(in, "id")
      cf = Modify.makeCategorical(cf, only = Some(Seq("cat")))
      cf = Modify.makeBinary(cf, only = Some(Seq("bin")))
      val (agg, decisions) = gateDecisions(InteractionStudy.run(spark, cf, "y",
        interactions = pairs, minN = 1))
      assert(decisions.isEmpty,
        s"declared categorical/binary blocks must ride the aggregated path ($layout)")
      val bcMap = InteractionStudy.runRows(spark, cf, "y", pairs, Nil, minN = 1,
          reportBetas = false).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
      agg.collect().foreach { r =>
        val k = (r.getString(0), r.getString(1))
        r.toSeq.zip(bcMap(k)).zipWithIndex.foreach { case ((a, b), i) => (a, b) match {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-8 * math.max(1.0, math.abs(y)),
              s"$k field $i ($layout): $x vs $y")
          case _ => assert(a === b, s"$k field $i ($layout)")
        } }
      }
      // binary x continuous has a SINGLE patsy crossing -> Beta/SE reported
      val binRow = agg.collect().find(r => r.getString(0) == "bin" && r.getString(1) == "x").get
      assert(!binRow.isNullAt(5) && !binRow.isNullAt(6), "single-crossing beta reported")
    }
  }

  test("nhanes_pairwise_withbetas.csv: all-pairs per-parameter betas") {
    val data = Modify.colfilter(nhanes,
      only = Some(Seq("HI_CHOL", "RIAGENDR", "race", "agecat")))
    val rvs = Seq("RIAGENDR", "race", "agecat")
    val pairs = for (i <- rvs.indices; j <- (i + 1) until rvs.size)
      yield (rvs(i), rvs(j))
    val res = InteractionStudy.run(spark, data, "HI_CHOL",
      interactions = pairs, covariates = Nil, reportBetas = true)
    val rows = res.collect().map { r =>
      r.getString(r.fieldIndex("Parameter")) -> r
    }.toMap
    val g = goldenBetas("nhanes_pairwise_withbetas.csv")
    // parameter sets must match modulo term order within a pair
    def flip(p: String) = p.split(":", 2) match { case Array(a, b) => s"$b:$a" }
    g.foreach { case (param, exp) =>
      val r = rows.getOrElse(param, rows.getOrElse(flip(param),
        fail(s"parameter $param missing from ${rows.keySet}")))
      assert(r.getLong(r.fieldIndex("N")) === exp("N").toLong, s"$param N")
      assertRtol(r.getDouble(r.fieldIndex("LRT_pvalue")), exp("LRT_pvalue"),
        1e-4, s"$param LRT")
      exp.get("Full_Var1_Var2_beta").foreach { v =>
        val mine = r.getDouble(r.fieldIndex("Full_Var1_Var2_beta"))
        // a flipped pair keeps the same interaction column product -> same beta
        assertRtol(mine, v, 1e-4, s"$param beta")
      }
    }
  }

  test("aggregated path: zero-partition input degrades to error rows, not a crash") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("id", "y", "a", "b").map {
      case "id" => StructField("id", LongType)
      case c    => StructField(c, DoubleType)
    })
    // an empty RDD has ZERO partitions — treeReduce on the per-partition
    // accumulator RDD would throw "empty collection" without the guard
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(empty.rdd.getNumPartitions === 0)
    val res = InteractionStudy.run(spark, CladeFrame(empty), "y", Seq(("a", "b")))
    val rows = res.collect()
    assert(rows.length === 1)
    val err = rows.head.getString(rows.head.fieldIndex("error"))
    assert(err != null && err.nonEmpty, s"expected a too-few-observations error row: ${rows.head}")
  }

  /** 300 observations: a binary outcome, a categorical covariate `c`, and
    * the variables of [[pinPairs]] — continuous `x` (every tenth value
    * missing), declared categorical `cat`, binary `bin`, constant `flat`
    * and all-null `gone`. */
  private lazy val pinFrame: CladeFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 300).map { i =>
      val c = Seq("a", "b", "c")(i % 3)
      val cat = Seq("p", "q", "r")(rnd.nextInt(3))
      val bin = if (rnd.nextBoolean()) "yes" else "no"
      val x = if (i % 10 == 0) None else Some(rnd.nextGaussian())
      val eta = 0.5 * x.getOrElse(0.0) + (if (cat == "q") 0.6 else 0.0) +
        (if (bin == "yes" && cat == "r") 0.8 else 0.0) + (if (c == "b") -0.4 else 0.0)
      val y = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) "1" else "0"
      (i.toLong, y, c, x, cat, bin, 2.5, Option.empty[Double])
    }.toDF("id", "y", "c", "x", "cat", "bin", "flat", "gone")
    CladeFrame(df, "id").withTypes(Map(
      "y" -> VariableType.Binary, "c" -> VariableType.Categorical,
      "x" -> VariableType.Continuous, "cat" -> VariableType.Categorical,
      "bin" -> VariableType.Binary, "flat" -> VariableType.Continuous,
      "gone" -> VariableType.Continuous))
      .withLevels(Map("y" -> Seq("0", "1"), "c" -> Seq("a", "b", "c"),
        "cat" -> Seq("p", "q", "r"), "bin" -> Seq("no", "yes")))
  }

  /** Continuous x declared categorical, binary x categorical, continuous x
    * binary (one interaction column, so the plain row has a Beta), a pair
    * whose term does not vary and a pair with no complete observations. */
  private val pinPairs =
    Seq(("x", "cat"), ("bin", "cat"), ("x", "bin"), ("x", "flat"), ("x", "gone"))

  private def pinStudy(reportBetas: Boolean): Seq[Row] =
    InteractionStudy.run(spark, pinFrame, "y", pinPairs, covariates = Seq("c"),
      minN = 1, reportBetas = reportBetas).collect().toSeq

  /** Each row's cells, keyed by its string cells up to the outcome (plain:
    * Term1, Term2; report_betas: Term1, Term2, Outcome, Parameter). */
  private def pinKey(r: Row, betas: Boolean): String =
    (0 until (if (betas) 4 else 2)).map(r.getString).mkString("|")

  /** The broadcast path's rows of [[pinStudy]] before the row paths were
    * rebuilt on one pair kernel (nulls as null). */
  private val pinnedRows: Map[Boolean, Map[String, Seq[Any]]] = Map(
    false -> Map(
      "bin|cat" -> Seq("bin", "cat", "y", true, 300L, null, null, null, 0.049041714189157884,
        null),
      "x|bin" -> Seq("x", "bin", "y", true, 270L, -0.4779147004081472, 0.27286519211336946,
        0.07986529836457705, 0.07808995804106089, null),
      "x|cat" -> Seq("x", "cat", "y", true, 270L, null, null, null, 0.9681905288744627, null),
      "x|flat" -> Seq("x", "flat", "y", false, 270L, null, null, null, null,
        "interaction term does not vary"),
      "x|gone" -> Seq("x", "gone", "y", false, 0L, null, null, null, null,
        "too few complete observations (min_n filter: 0 < 1)")
    ),
    true -> Map(
      "bin[T.yes]|cat[T.q]|y|bin[T.yes]:cat[T.q]" -> Seq("bin[T.yes]", "cat[T.q]", "y",
        "bin[T.yes]:cat[T.q]", true, 300L, 0.049041714189157884, 0.1509070619517714,
        0.23600563369517014, 0.5225488055916744, 0.33056830210939414, 0.2947609748006177,
        0.2620839405556088, -1.0853153962922228, 0.5858765251031818, 0.06395916732287296,
        0.45974102377925646, 0.4265893259755469, 0.28116168613481884, 0.9274574215055593,
        0.421320498045568, 0.02771401893784725, null),
      "bin[T.yes]|cat[T.r]|y|bin[T.yes]:cat[T.r]" -> Seq("bin[T.yes]", "cat[T.r]", "y",
        "bin[T.yes]:cat[T.r]", true, 300L, 0.049041714189157884, 0.1509070619517714,
        0.23600563369517014, 0.5225488055916744, 0.2723146939130291, 0.29260675696194194,
        0.3520342603297826, 0.22805821866264042, 0.5934001002702344, 0.7007379241425862,
        0.45974102377925646, 0.4265893259755469, 0.28116168613481884, 0.14172549502454257,
        0.3986721361956601, 0.7222196468518769, null),
      "x|bin[T.yes]|y|x:bin[T.yes]" -> Seq("x", "bin[T.yes]", "y", "x:bin[T.yes]", true, 270L,
        0.07808995804106089, 0.43485129021436403, 0.1356994015449047, 0.001352884311096146,
        0.23018843122817081, 0.25065596710363114, 0.3584387406167133, -0.4779147004081472,
        0.27286519211336946, 0.07986529836457705, 0.6568428304746933, 0.19187806446258338,
        6.188159387525995E-4, 0.2762615742316698, 0.25349376878444524, 0.2757941886402626,
        null),
      "x|cat[T.r]|y|x:cat[T.r]" -> Seq("x", "cat[T.r]", "y", "x:cat[T.r]", true, 270L,
        0.9681905288744627, 0.42510584240825977, 0.13616640676813135, 0.0017965238941360726,
        0.19260756941247098, 0.3122949253858721, 0.5374003243641121, -0.044812826136800765,
        0.34816021916967527, 0.8975845669915796, 0.42592350852688077, 0.261445233444811,
        0.10328935880445356, 0.1993327323282154, 0.31304310166566973, 0.5242824188659403, null),
      "x|cat[T.q]|y|x:cat[T.q]" -> Seq("x", "cat[T.q]", "y", "x:cat[T.q]", true, 270L,
        0.9681905288744627, 0.42510584240825977, 0.13616640676813135, 0.0017965238941360726,
        0.3124877126684656, 0.3097199167946988, 0.3130051139073776, 0.03548500768645081,
        0.33820947964910997, 0.9164391267739906, 0.42592350852688077, 0.261445233444811,
        0.10328935880445356, 0.3085529116381926, 0.3108011511648078, 0.32082385214345044, null),
      "x|flat|y|x:flat" -> Seq("x", "flat", "y", "x:flat", false, 270L, null, null, null, null,
        null, null, null, null, null, null, null, null, null, null, null, null,
        "interaction term does not vary"),
      "x|gone|y|x:gone" -> Seq("x", "gone", "y", "x:gone", false, 0L, null, null, null, null,
        null, null, null, null, null, null, null, null, null, null, null, null,
        "too few complete observations (min_n filter: 0 < 1)")
    ))

  test("both row paths reproduce the pinned rows, with and without report_betas") {
    Seq(false, true).foreach { betas =>
      val (auto, autoDecisions) = gateDecisions(pinStudy(betas))
      val (forced, forcedDecisions) = gateDecisions(distributed(pinStudy(betas)))
      assert(autoDecisions.nonEmpty &&
        autoDecisions.forall(_.endsWith("-> driver-local path")), autoDecisions)
      assert(forcedDecisions.nonEmpty &&
        forcedDecisions.forall(_.endsWith("-> distributed path")), forcedDecisions)
      val want = pinnedRows(betas)
      Seq("broadcast" -> auto, "co-group" -> forced).foreach { case (path, rows) =>
        assert(rows.map(pinKey(_, betas)).toSet === want.keySet, s"$path betas=$betas")
        rows.foreach { r =>
          val k = pinKey(r, betas)
          r.toSeq.zip(want(k)).zipWithIndex.foreach {
            case ((x: Double, y: Double), i) =>
              assert(math.abs(x - y) <= 1e-9 * math.abs(y), s"$path $k field $i: $x vs $y")
            case ((x, y), i) => assert(x === y, s"$path $k field $i")
          }
        }
      }
      // the all-null pair is the min_n row on both paths
      Seq(auto, forced).foreach { rows =>
        val gone = rows.filter(_.getString(1) == "gone")
        assert(gone.size === 1 && gone.head.getAs[Long]("N") === 0L &&
          gone.head.getAs[String]("error") ===
            "too few complete observations (min_n filter: 0 < 1)", gone)
      }
    }
  }
}
