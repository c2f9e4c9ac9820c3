package graft

import org.apache.spark.sql.functions._
import graft.analyze.{AssociationStudy, InteractionStudy}
import graft.genomics.Genotypes

/** Genotype encodings + GWAS power assertions mirroring the reference's
  * simulation tests (reference: tests/analyze/test_gwas.py:10-31). */
class GenotypesSpec extends SparkSpec {

  test("dosage encodings: additive/dominant/recessive/codominant/edge") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0, 0)), (2L, Array(0, 1)),
      (3L, Array(1, 1)), (4L, Array(-1, 1))).toDF("id", "g")
    val out = df.select(
      Genotypes.additive(col("g")).as("add"),
      Genotypes.dominant(col("g")).as("dom"),
      Genotypes.recessive(col("g")).as("rec"),
      Genotypes.codominant(col("g")).as("cod"),
      Genotypes.edge(col("g"), 0.7).as("edge")).collect()
    assert(out(0).getDouble(0) === 0.0 && out(1).getDouble(0) === 1.0 && out(2).getDouble(0) === 2.0)
    assert(out(3).isNullAt(0)) // missing call -> null
    assert(out(0).getDouble(1) === 0.0 && out(1).getDouble(1) === 1.0 && out(2).getDouble(1) === 1.0)
    assert(out(0).getDouble(2) === 0.0 && out(1).getDouble(2) === 0.0 && out(2).getDouble(2) === 1.0)
    assert(out(1).getString(3) === "1")
    assertRtol(out(1).getDouble(4), 0.7, 1e-12, "edge het")
    assert(out(2).getDouble(4) === 1.0)
  }

  test("GWAS stress: the reference's intended 10,000 x 1,000 case/control run, with real asserts") {
    // The reference commits this exact scale as a commented-out stress test
    // ("TODO: Add useful asserts rather than just making sure it runs",
    // reference: tests/analyze/test_gwas.py:33-57, fixture
    // tests/analyze/conftest.py:92-119) — and could not run it in any case,
    // because its per-variable multiprocessing is forced to 1 process
    // (glm_regression.py:400-401). Here: 1000 distributed logistic fits
    // over 10,000 samples, ~24s on local[4..32], with the asserts.
    val cf = Genotypes.simulateCaseControl(spark,
      nSamples = 10000, nSnps = 1000, maf = 0.3,
      effectSnps = Map(0 -> 0.8, 1 -> 0.8))
    val encoded = Genotypes.encode(cf, "additive")
    val res = AssociationStudy.run(spark, encoded, outcomes = Seq("Outcome"),
      regressionVariables = (0 until 1000).map(s => s"SNP$s"))
      .select("Variable", "N", "pvalue", "error").collect()
    assert(res.length === 1000)
    // every fit converged: no error annotations, full N everywhere
    assert(res.forall(r => r.isNullAt(3)), "no per-variable fit errors")
    assert(res.forall(_.getLong(1) === 10000L), "complete cases everywhere")
    val p = res.map(r => r.getString(0) -> r.getDouble(2)).toMap
    // planted effects clear genome-wide significance by orders of magnitude
    assert(p("SNP0") < 5e-8 && p("SNP1") < 5e-8,
      s"effect SNPs: ${p("SNP0")}, ${p("SNP1")}")
    // null SNPs behave like uniform p-values: none anywhere near 5e-8, and
    // roughly the expected fraction below 0.05 (binomial tolerance)
    val nulls = p.view.filterKeys(k => k != "SNP0" && k != "SNP1").values.toSeq
    assert(nulls.min > 5e-8, s"null min p=${nulls.min}")
    val below05 = nulls.count(_ < 0.05)
    assert(below05 > 20 && below05 < 90, s"null p<.05 count=$below05 (expect ~50)")
  }

  test("GWAS power: main-effect SNPs reach 1e-5; null SNPs don't; interaction-only pair caught") {
    val cf = Genotypes.simulateCaseControl(spark,
      nSamples = 3000, nSnps = 8, maf = 0.3,
      effectSnps = Map(0 -> 0.8, 1 -> 0.8),
      interactionPair = Some((2, 3, 1.5)))
    val encoded = Genotypes.encode(cf, "additive")
    val res = AssociationStudy.run(spark, encoded, outcomes = Seq("Outcome"),
      regressionVariables = (0 until 8).map(s => s"SNP$s"))
      .collect().map(r => r.getString(0) -> r.getDouble(r.fieldIndex("pvalue"))).toMap
    assert(res("SNP0") <= 1e-5, s"main-effect SNP0 p=${res("SNP0")}")
    assert(res("SNP1") <= 1e-5, s"main-effect SNP1 p=${res("SNP1")}")
    // pure-noise SNPs must NOT hit genome-wide significance
    Seq("SNP4", "SNP5", "SNP6", "SNP7").foreach { s =>
      assert(res(s) > 1e-5, s"null $s p=${res(s)}")
    }
    // the interaction-only pair is caught by the interaction study
    val inter = InteractionStudy.run(spark, encoded, "Outcome",
      interactions = Seq(("SNP2", "SNP3"), ("SNP4", "SNP5")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex("LRT_pvalue"))).toMap
    assert(inter(("SNP2", "SNP3")) < 0.01, s"interaction pair p=${inter(("SNP2", "SNP3"))}")
    assert(inter(("SNP4", "SNP5")) > 0.01, s"null pair p=${inter(("SNP4", "SNP5"))}")
  }

  test("encoding= param on the study runners (reference: test_gwas.py:10-31)") {
    import spark.implicits._
    val cf = Genotypes.simulateCaseControl(spark,
      nSamples = 3000, nSnps = 4, maf = 0.3,
      effectSnps = Map(0 -> 0.8, 1 -> 0.8))
    val edgeInfo = (0 until 4).map(s => (s"SNP$s", 0.5)).toDF("Variant ID", "Alpha Value")
    // unencoded genotype frame goes straight into the runner per encoding
    Seq("additive", "dominant", "codominant", "edge").foreach { enc =>
      val res = AssociationStudy.run(spark, cf, outcomes = Seq("Outcome"),
        regressionVariables = (0 until 4).map(s => s"SNP$s"),
        encoding = enc, edgeEncodingInfo = Some(edgeInfo))
        .collect().map(r => r.getString(0) -> r.getDouble(r.fieldIndex("pvalue"))).toMap
      assert(res("SNP0") <= 1e-5, s"$enc: main-effect SNP0 p=${res("SNP0")}")
      assert(res("SNP1") <= 1e-5, s"$enc: main-effect SNP1 p=${res("SNP1")}")
    }
    // edge without its info table must error like the reference
    val ex = intercept[IllegalArgumentException] {
      AssociationStudy.run(spark, cf, outcomes = Seq("Outcome"),
        regressionVariables = Seq("SNP0"), encoding = "edge")
    }
    assert(ex.getMessage.contains("edge_encoding_info"))
    // interaction runner takes the same params
    val cfI = Genotypes.simulateCaseControl(spark,
      nSamples = 3000, nSnps = 4, maf = 0.3,
      interactionPair = Some((0, 1, 1.5)), seed = 7L)
    val inter = InteractionStudy.run(spark, cfI, "Outcome",
      interactions = Seq(("SNP0", "SNP1")), encoding = "additive")
      .collect().head
    assert(inter.getDouble(inter.fieldIndex("LRT_pvalue")) < 0.01)
  }

  test("describeMaf: MAF matches the simulator's allele frequency; variant info rides along") {
    val nSnps = 3
    val cf = Genotypes.simulateCaseControl(spark, nSamples = 4000, nSnps = nSnps,
      maf = 0.3, seed = 11L)
    val info = Genotypes.simulatedVariantInfo(nSnps)
    val rows = Genotypes.describeMaf(cf, info).collect()
    assert(rows.length === nSnps)
    rows.foreach { r =>
      val v = r.getString(r.fieldIndex("variable"))
      // simulator draws each allele alt with p=0.3 -> alt_freq ~ 0.3
      val af = r.getDouble(r.fieldIndex("alt_freq"))
      assert(math.abs(af - 0.3) < 0.03, s"$v alt_freq $af")
      assert(r.getDouble(r.fieldIndex("maf")) === math.min(af, 1 - af))
      assert(r.getLong(r.fieldIndex("n_obs")) === 4000L)
      assert(r.getLong(r.fieldIndex("n_missing")) === 0L)
      // hom/het counts partition n_obs
      assert(r.getLong(r.fieldIndex("n_hom_ref")) + r.getLong(r.fieldIndex("n_het")) +
        r.getLong(r.fieldIndex("n_hom_alt")) === 4000L)
      assert(r.getString(r.fieldIndex("variant_id")) === info(v).variantId)
      assert(r.getString(r.fieldIndex("chrom")) === info(v).chrom)
    }
    // MAF is the MINOR allele frequency even when alt is the major allele
    val cfMajor = Genotypes.simulateCaseControl(spark, nSamples = 2000, nSnps = 1,
      maf = 0.8, seed = 12L)
    val major = Genotypes.describeMaf(cfMajor).collect().head
    val afM = major.getDouble(major.fieldIndex("alt_freq"))
    assert(afM > 0.5 && major.getDouble(major.fieldIndex("maf")) === 1 - afM)
  }

  test("hweTest: chi2 matches hand formula; simulated HWE passes, planted het excess fails") {
    import spark.implicits._
    // hand-check on fixed counts: 50/30/20 hom_ref/het/hom_alt
    val fixed = (Seq.fill(50)(Seq(0, 0)) ++ Seq.fill(30)(Seq(0, 1)) ++
      Seq.fill(20)(Seq(1, 1))).zipWithIndex.map { case (g, i) => (i.toLong, g) }
      .toDF("id", "gv")
    val cfF = graft.model.CladeFrame(fixed).withTypes(Map(
      "gv" -> (graft.model.VariableType.Genotype: graft.model.VariableType)))
    val row = Genotypes.hweTest(cfF).collect().head
    val (hr, het, ha) = (50.0, 30.0, 20.0); val n = 100.0
    val p = (2 * ha + het) / (2 * n); val q = 1 - p
    val expChi = math.pow(hr - n * q * q, 2) / (n * q * q) +
      math.pow(het - 2 * n * p * q, 2) / (2 * n * p * q) +
      math.pow(ha - n * p * p, 2) / (n * p * p)
    assertRtol(row.getDouble(row.fieldIndex("hwe_chi2")), expChi, 1e-9, "chi2")
    // A-S erfc approximation vs commons-math chi2 sf (1 df): within 1.5e-7
    val exact = graft.stats.Distributions.chi2Sf(expChi, 1.0)
    assert(math.abs(row.getDouble(row.fieldIndex("hwe_p")) - exact) < 1e-6)
    // binomial(2, maf) simulated calls ARE in HWE: no variant may fail
    val cf = Genotypes.simulateCaseControl(spark, nSamples = 4000, nSnps = 5,
      maf = 0.3, seed = 21L)
    val sim = Genotypes.hweTest(cf).collect()
    assert(sim.length === 5)
    assert(sim.forall(r => !r.getBoolean(r.fieldIndex("hwe_fail"))),
      "simulated HWE data must pass")
    // planted extreme het excess (every call heterozygous) must fail
    val bad = (0 until 500).map(i => (i.toLong, Seq(0, 1))).toDF("id", "gv")
    val cfB = graft.model.CladeFrame(bad).withTypes(Map(
      "gv" -> (graft.model.VariableType.Genotype: graft.model.VariableType)))
    val b = Genotypes.hweTest(cfB).collect().head
    assert(b.getBoolean(b.fieldIndex("hwe_fail")), "all-het must fail HWE")
    // monomorphic variant: null chi2/p, not a failure
    val mono = (0 until 100).map(i => (i.toLong, Seq(0, 0))).toDF("id", "gv")
    val cfM = graft.model.CladeFrame(mono).withTypes(Map(
      "gv" -> (graft.model.VariableType.Genotype: graft.model.VariableType)))
    val m = Genotypes.hweTest(cfM).collect().head
    assert(m.isNullAt(m.fieldIndex("hwe_chi2")) && !m.getBoolean(m.fieldIndex("hwe_fail")))
  }

  test("EDGE weights join by variant id (column-name fallback preserved)") {
    import spark.implicits._
    val nSnps = 2
    val cf = Genotypes.simulateCaseControl(spark, nSamples = 800, nSnps = nSnps,
      effectSnps = Map(0 -> 0.8), seed = 13L)
    val info = Genotypes.simulatedVariantInfo(nSnps) // SNP0 -> rs1000, SNP1 -> rs1001
    // weights table keyed by VARIANT ID, as pandas-genomics emits it
    val byId = Seq(("rs1000", 0.55), ("rs1001", 0.35)).toDF("Variant ID", "Alpha Value")
    val alphas = Genotypes.edgeAlphasFor(byId, info, Seq("SNP0", "SNP1"))
    assert(alphas === Map("SNP0" -> 0.55, "SNP1" -> 0.35))
    // column-name fallback still works when no variant info exists
    val byName = Seq(("SNP0", 0.5), ("SNP1", 0.4)).toDF("Variant ID", "Alpha Value")
    assert(Genotypes.edgeAlphasFor(byName, Map.empty, Seq("SNP0", "SNP1"))
      === Map("SNP0" -> 0.5, "SNP1" -> 0.4))
    // end-to-end: the study runner resolves alphas through the id keyed table
    val res = AssociationStudy.run(spark, cf, outcomes = Seq("Outcome"),
      regressionVariables = Seq("SNP0", "SNP1"), minN = 10,
      encoding = "edge", edgeEncodingInfo = Some(byId), variantInfo = info)
      .collect()
    assert(res.length === 2 && res.forall(!_.isNullAt(res.head.fieldIndex("pvalue"))))
  }

  test("Case/Control outcome ordering: Control is the reference level") {
    val cf = Genotypes.simulateCaseControl(spark, nSamples = 500, nSnps = 1,
      effectSnps = Map(0 -> 1.0))
    val encoded = Genotypes.encode(cf, "additive")
    val r = AssociationStudy.run(spark, encoded, outcomes = Seq("Outcome"),
      regressionVariables = Seq("SNP0")).collect().head
    // positive effect on Case odds -> positive beta iff Case encoded as 1
    assert(r.getDouble(r.fieldIndex("Beta")) > 0)
  }
}
