package graft.cli

import org.apache.spark.sql.SparkSession
import graft.analyze.{AssociationStudy, Corrections}
import graft.describe.Describe
import graft.io.Load
import graft.model.CladeFrame
import graft.modify.Modify

/** Thin CLI mirroring the reference's `clarite-cli` verbs
  * (reference: clarite/cli/cli.py:8-18, clarite/cli/commands). Pipeline
  * state is
  * materialized between invocations — the reference uses TSV + a dtypes
  * JSON sidecar; this CLI keeps that format and runs one SparkSession per
  * invocation (the natural `spark-submit` shape, SURVEY.md §3.3).
  *
  * Usage examples:
  *   load from-csv <in.csv> <out>
  *   describe summarize|percent-na|freq-table|correlations|skewness <in>
  *   modify categorize|rowfilter-incomplete-obs|colfilter-min-n ... <in> <out>
  *   analyze association-study <in> <outDir> --outcome y [--covariates a,b]
  *   analyze add-corrected-pvalues <resultsDir> <outDir>
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { println(usage); sys.exit(2) }
    // SPARK_MASTER is a deployment setting: the CLI is a spark-submit shape
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "spark.app.name" -> "graft-cli")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private def flag(args: List[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case List(`name`, v) => v } match {
      case Some(v) if v.startsWith("--") =>
        throw new IllegalArgumentException(s"flag $name is missing its value (got '$v')")
      case other => other
    }

  /** Required flag: a clean usage error instead of None.get. */
  private def req(args: List[String], name: String): String =
    flag(args, name).getOrElse(
      throw new IllegalArgumentException(s"missing required flag $name\n$usage"))

  private def loadState(spark: SparkSession, path: String): CladeFrame =
    Load.loadTsvWithSidecar(spark, s"$path.txt", s"$path.dtypes")

  private def saveState(cf: CladeFrame, path: String): Unit =
    Load.saveTsvWithSidecar(cf, s"$path.txt", s"$path.dtypes")

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    // ------------------------------------------------------------- load
    case "load" :: "from-csv" :: in :: out :: _ =>
      val cf = Load.withSequentialId(Load.rawDelimited(spark, in, ","))
      saveState(cf, out)
    case "load" :: "from-tsv" :: in :: out :: _ =>
      val cf = Load.withSequentialId(Load.rawDelimited(spark, in, "\t"))
      saveState(cf, out)
    case "jsonl" :: "to-parquet" :: in :: out :: rest =>
      // corpus ingestion: JSONL dump -> parquet, corrupt lines quarantined.
      // With an inferred schema Spark only materializes _corrupt_record when
      // it actually met corrupt rows, so probe for the column first.
      val df = Load.fromJsonl(spark, in, idCol = flag(rest, "--id")).df.cache()
      val cr = org.apache.spark.sql.functions.col("_corrupt_record")
      val hasCorrupt = df.columns.contains("_corrupt_record")
      val clean = if (hasCorrupt) df.filter(cr.isNull).drop("_corrupt_record") else df
      clean.write.mode("overwrite").parquet(out)
      flag(rest, "--corrupt-out").foreach { co =>
        if (hasCorrupt)
          df.filter(cr.isNotNull).select("_corrupt_record")
            .write.mode("overwrite").text(co)
      }
      df.unpersist()
    case "parquet" :: "to-jsonl" :: in :: out :: rest =>
      Load.writeJsonl(spark.read.parquet(in), out,
        codec = flag(rest, "--codec").getOrElse("gzip"))

    // --------------------------------------------------------- describe
    case "describe" :: verb :: in :: _ =>
      val cf = loadState(spark, in)
      val out = verb match {
        case "summarize"    => Describe.summarize(spark, cf)
        case "percent-na"   => Describe.percentNa(spark, cf)
        case "freq-table"   => Describe.freqTable(spark, cf)
        case "correlations" => Describe.correlations(spark, cf)
        case "skewness"     => Describe.skewness(spark, cf)
        case "get-types"    => Describe.getTypes(spark, cf)
        case other => throw new IllegalArgumentException(s"unknown describe verb: $other")
      }
      args.drop(3).headOption match {
        case Some(path) if !path.startsWith("--") =>
          // full table to disk when an output path is given (show() truncates)
          out.coalesce(1).write.mode("overwrite")
            .option("sep", "\t").option("header", "true").csv(path)
        case _ => out.show(1000, truncate = false)
      }

    // ----------------------------------------------------------- modify
    case "modify" :: verb :: in :: out :: rest =>
      val cf = loadState(spark, in)
      val only = flag(rest, "--only").map(_.split(",").toSeq)
      val skip = flag(rest, "--skip").map(_.split(",").toSeq)
      val result = verb match {
        case "categorize" => Modify.categorize(cf,
          flag(rest, "--cat-min").map(_.toInt).getOrElse(3),
          flag(rest, "--cat-max").map(_.toInt).getOrElse(6),
          flag(rest, "--cont-min").map(_.toInt).getOrElse(15)).frame
        case "colfilter"              => Modify.colfilter(cf, skip, only)
        case "colfilter-min-n"        => Modify.colfilterMinN(cf,
          flag(rest, "--n").map(_.toLong).getOrElse(200L), skip, only)
        case "colfilter-min-cat-n"    => Modify.colfilterMinCatN(cf,
          flag(rest, "--n").map(_.toLong).getOrElse(200L), skip, only)
        case "colfilter-percent-zero" => Modify.colfilterPercentZero(cf,
          flag(rest, "--filter-percent").map(_.toDouble).getOrElse(90.0), skip, only)
        case "rowfilter-incomplete-obs" => Modify.rowfilterIncompleteObs(cf, skip, only)
        case "rowfilter" => Modify.rowfilter(cf,
          req(rest, "--column"), flag(rest, "--comparison").getOrElse("eq"),
          req(rest, "--value"))
        case "make-binary"      => Modify.makeBinary(cf, skip, only)
        case "make-categorical" => Modify.makeCategorical(cf, skip, only)
        case "make-continuous"  => Modify.makeContinuous(cf, skip, only)
        case "remove-outliers"  => Modify.removeOutliers(cf,
          flag(rest, "--method").getOrElse("gaussian"),
          flag(rest, "--cutoff").map(_.toDouble).getOrElse(3.0), skip, only,
          exactQuantiles = !rest.contains("--approx"))
        case "transform" | "transform-variable" =>
          Modify.transform(cf, req(rest, "--method"), skip, only)
        case "drop-extra-categories" => Modify.dropExtraCategories(cf, skip, only)
        case "recode-values" =>
          // reference flags --cs/--rs etc (current/replacement by type,
          // cli/commands/modify.py:147-186); TSV state makes string the
          // canonical carrier, "NULL" recodes to missing
          val current = req(rest, "--current")
          val repl = req(rest, "--replacement")
          Modify.recodeValues(cf,
            Map(current -> (if (repl == "NULL") null else repl)), skip, only)
        case "merge-variables" =>
          // here `in` is LEFT and --right names the right state
          Modify.mergeVariables(cf, loadState(spark, req(rest, "--right")),
            flag(rest, "--how").getOrElse("outer"))
        case "merge-observations" =>
          Modify.mergeObservations(cf, loadState(spark, req(rest, "--bottom")))
        case other => throw new IllegalArgumentException(s"unknown modify verb: $other")
      }
      saveState(result, out)

    // move-variables has TWO inputs and TWO outputs (reference:
    // cli/commands/modify.py:400-428)
    case "modify-move-variables" :: left :: right :: outLeft :: outRight :: rest =>
      val (newLeft, newRight) = Modify.moveVariables(
        loadState(spark, left), loadState(spark, right),
        flag(rest, "--skip").map(_.split(",").toSeq),
        flag(rest, "--only").map(_.split(",").toSeq))
      saveState(newLeft, outLeft)
      saveState(newRight, outRight)

    // ---------------------------------------------------------- analyze
    case "analyze" :: "association-study" :: in :: out :: rest =>
      val cf = loadState(spark, in)
      val outcomes = req(rest, "--outcome").split(",").toSeq
      val covariates = flag(rest, "--covariates").map(_.split(",").toSeq).getOrElse(Nil)
      val minN = flag(rest, "--min-n").map(_.toLong).getOrElse(200L)
      val res = AssociationStudy.run(spark, cf, outcomes, covariates, minN = minN)
      res.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)
    case "analyze" :: "interaction-study" :: in :: out :: rest =>
      val cf = loadState(spark, in)
      val outcome = req(rest, "--outcome")
      val covariates = flag(rest, "--covariates").map(_.split(",").toSeq).getOrElse(Nil)
      // mirror the reference's three forms (interaction_study.py:35-39):
      // omitted -> all pairs; a bare variable name -> its pairs with every
      // other valid variable; "a,b;c,d" -> explicit pairs
      val pairs = flag(rest, "--interactions") match {
        case Some(spec) if spec.contains(",") =>
          val parts = spec.split(";").toSeq
          parts.zipWithIndex.map { case (p, idx) =>
            p.split(",") match {
              case Array(a, b) => (a, b)
              case _ => throw new IllegalArgumentException(
                // reference: interaction_regression.py:122-125
                s"Interaction ${idx + 1} of ${parts.size} does not list exactly two variables.")
            }
          }
        case Some(variable) =>
          graft.analyze.InteractionStudy.pairsWith(cf, variable, outcome, covariates)
        case None =>
          graft.analyze.InteractionStudy.allPairs(cf, outcome, covariates)
      }
      graft.analyze.InteractionStudy.run(spark, cf, outcome, pairs, covariates,
        flag(rest, "--min-n").map(_.toLong).getOrElse(200L),
        reportBetas = rest.contains("--report-betas"))
        .coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    case "analyze" :: "association-study-weighted" :: in :: out :: rest =>
      val cf = loadState(spark, in)
      val design = new graft.survey.SurveyDesignSpec(
        loadState(spark, req(rest, "--survey")).df, "id",
        strata = flag(rest, "--strata"),
        cluster = flag(rest, "--cluster"),
        nest = rest.contains("--nest"),
        singleWeight = flag(rest, "--weights"),
        fpc = flag(rest, "--fpc"),
        singleCluster = flag(rest, "--single-cluster").getOrElse("fail"))
      val res = AssociationStudy.run(spark, cf,
        req(rest, "--outcome").split(",").toSeq,
        flag(rest, "--covariates").map(_.split(",").toSeq).getOrElse(Nil),
        minN = flag(rest, "--min-n").map(_.toLong).getOrElse(200L),
        surveyDesign = Some(design))
      res.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    case "analyze" :: "add-corrected-pvalues" :: in :: out :: rest =>
      val df = spark.read.option("sep", "\t").option("header", "true")
        .option("inferSchema", "true").csv(in)
      Corrections.addCorrectedPvalues(df,
        flag(rest, "--pvalue").getOrElse("pvalue"))
        .coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    case "analyze" :: "get-significant" :: in :: out :: rest =>
      val df = readTsv(spark, in)
      Corrections.getSignificant(df,
        flag(rest, "--cutoff").map(_.toDouble).getOrElse(0.05),
        flag(rest, "--column").getOrElse("pvalue_fdr"))
        .coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    case "analyze" :: "top-results" :: in :: out :: rest =>
      val df = readTsv(spark, in)
      Corrections.topResults(df,
        flag(rest, "--n").map(_.toInt).getOrElse(20),
        flag(rest, "--pvalue").getOrElse("pvalue"))
        .coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    // ------------------------------------------------- plot (data prep;
    // rendering is out of scope — SURVEY.md §7.4)
    case "plot" :: verb :: in :: out :: rest =>
      val result = verb match {
        case "histogram" =>
          graft.describe.Plots.histogram(loadState(spark, in).df,
            req(rest, "--column"),
            flag(rest, "--bins").map(_.toInt).getOrElse(100))
        case "distributions" =>
          val cf = loadState(spark, in)
          val cols = flag(rest, "--columns").map(_.split(",").toSeq)
            .getOrElse(cf.continuousVars)
          graft.describe.Plots.distributions(cf.df, cols,
            flag(rest, "--bins").map(_.toInt).getOrElse(100))
        case "qq" =>
          val cf = loadState(spark, in)
          val cols = flag(rest, "--columns").map(_.split(",").toSeq)
            .getOrElse(cf.continuousVars)
          graft.describe.Plots.qqPrep(spark, cf.df, cols,
            flag(rest, "--n").map(_.toInt).getOrElse(400),
            flag(rest, "--seed").map(_.toLong).getOrElse(1L))
        case "manhattan" =>
          Corrections.manhattanPrep(readTsv(spark, in),
            flag(rest, "--pvalue").getOrElse("pvalue"),
            flag(rest, "--category").getOrElse("Variable"))
        case other => throw new IllegalArgumentException(s"unknown plot verb: $other")
      }
      result.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").option("header", "true").csv(out)

    // ------------------------------------------- pipeline (driver-mandated
    // training-data operators; parquet in -> parquet out)
    case "pipeline" :: verb :: in :: out :: rest =>
      import graft.pipeline.{Dedup, Sampling, Similarity, Text}
      val df = spark.read.parquet(in)
      val idc = flag(rest, "--id").getOrElse("doc_id")
      val txt = flag(rest, "--text").getOrElse("text")
      val result = verb match {
        case "dedup-exact" => Dedup.exact(df, txt, idc)
        case "dedup-minhash" =>
          val cands = Dedup.minhashCandidates(spark, df, txt, idc)
          val verified = Dedup.ngramJaccard(spark, df, cands, txt, idc)
            .filter(org.apache.spark.sql.functions.col("jaccard") >=
              flag(rest, "--threshold").map(_.toDouble).getOrElse(0.7))
          // full pipeline: candidates -> verify -> group -> keepers
          Dedup.resolveKeepers(Dedup.components(verified))
        case "dedup-against" =>
          // incremental dedup: --index = parquet of known fingerprints
          Dedup.exactAgainst(df, spark.read.parquet(req(rest, "--index")), txt,
            knownFpCol = flag(rest, "--fp-col").getOrElse("fp"),
            fpp = flag(rest, "--fpp").map(_.toDouble).getOrElse(0.01))
        case "decon-semantic" =>
          // embedding decontamination: --eval = parquet of eval embeddings
          graft.pipeline.Decontaminate.semanticOverlap(df,
            spark.read.parquet(req(rest, "--eval")),
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.9),
            idCol = flag(rest, "--vec-id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
        case "write-sized" =>
          val n = graft.io.Load.writeSized(df, out,
            targetMB = flag(rest, "--target-mb").map(_.toInt).getOrElse(512))
          println(s"wrote $n file(s) to $out")
          return
        case "dedup-near" =>
          // one-call near-dedup: returns the deduplicated corpus itself
          Dedup.nearDedup(spark, df, txt, idc,
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.7))
        case "text-features" =>
          // full featurization: quality + language + Gopher rules +
          // repetition signals in one projection chain (gopher's n_words
          // recomputes the quality count on filtered tokens — last wins)
          Text.repetitionSignals(
            Text.gopherQualityFlags(
              Text.langId(Text.qualityFeatures(df, txt), txt), txt), txt)
        case "text-redact" =>
          Text.redactPii(df, txt)
        case "genotype-maf" =>
          // MAF describe over array<int> call columns (--cols to restrict)
          import org.apache.spark.sql.types.{ArrayType, IntegerType}
          val genoCols = flag(rest, "--cols").map(_.split(",").toSeq).getOrElse(
            df.schema.fields.collect {
              case f if f.dataType == ArrayType(IntegerType) ||
                f.dataType == ArrayType(IntegerType, containsNull = true) => f.name
            }.toSeq)
          val cf = graft.model.CladeFrame(df).withTypes(genoCols.map(c =>
            c -> (graft.model.VariableType.Genotype: graft.model.VariableType)).toMap)
          graft.genomics.Genotypes.describeMaf(cf, only = Some(genoCols))
        case "curate" =>
          // standard curation pipeline: lang -> quality -> exact dedup ->
          // near dedup -> (optional) decontaminate vs --eval
          graft.pipeline.Curation.curate(spark, df, txt, idc,
            graft.pipeline.Curation.CurationConfig(
              langs = flag(rest, "--langs").map(_.split(",").toSet).getOrElse(Set("en")),
              applyGopherRules = !rest.contains("--no-gopher"),
              nearDupThreshold =
                if (rest.contains("--no-near-dedup")) None
                else Some(flag(rest, "--threshold").map(_.toDouble).getOrElse(0.8)),
              evalCorpus = flag(rest, "--eval").map(spark.read.parquet(_))))
        case "quantile-bins" =>
          graft.modify.Modify.quantileBins(df,
            req(rest, "--cols").split(",").toSeq,
            k = flag(rest, "--k").map(_.toInt).getOrElse(10))
        case "genotype-hwe" =>
          import org.apache.spark.sql.types.{ArrayType, IntegerType}
          val genoCols = flag(rest, "--cols").map(_.split(",").toSeq).getOrElse(
            df.schema.fields.collect {
              case f if f.dataType == ArrayType(IntegerType) ||
                f.dataType == ArrayType(IntegerType, containsNull = true) => f.name
            }.toSeq)
          val cf = graft.model.CladeFrame(df).withTypes(genoCols.map(c =>
            c -> (graft.model.VariableType.Genotype: graft.model.VariableType)).toMap)
          graft.genomics.Genotypes.hweTest(cf, only = Some(genoCols),
            failAt = flag(rest, "--fail-at").map(_.toDouble).getOrElse(1e-6))
        case "ann-index" =>
          // build-once index: train the coarse quantizer, persist the
          // centroid table, and emit the assignment partitioned by list_id
          // so ann-topk --model probes prune at the source
          val vc = flag(rest, "--vec").getOrElse("embedding")
          val model = Similarity.ivfTrain(df,
            nLists = flag(rest, "--lists").map(_.toInt).getOrElse(16), vecCol = vc,
            idCol = flag(rest, "--id").getOrElse("vec_id"))
          Similarity.ivfSaveModel(spark, model, s"$out/centers")
          Similarity.ivfAssign(model, df, vc)
            .write.mode("overwrite").partitionBy("list_id")
            .parquet(s"$out/assigned")
          return
        case "ann-topk" =>
          val vc = flag(rest, "--vec").getOrElse("embedding")
          val idc2 = flag(rest, "--id").getOrElse("vec_id")
          val k = flag(rest, "--k").map(_.toInt).getOrElse(10)
          flag(rest, "--model") match {
            case Some(idx) =>
              // query path only: reuse a persisted ann-index (in = queries)
              val model = Similarity.ivfLoadModel(spark, s"$idx/centers")
              Similarity.ivfQuery(model, spark.read.parquet(s"$idx/assigned"),
                df, k, nProbe = flag(rest, "--probe").map(_.toInt).getOrElse(4),
                idCol = idc2, vecCol = vc)
            case None =>
              val queries = flag(rest, "--queries").map(spark.read.parquet(_)).getOrElse(df)
              Similarity.ivfTopK(df, queries, k, idCol = idc2, vecCol = vc)
          }
        case "semantic-dedup" =>
          // embedding-level near-dup removal; --dim required (vector width)
          Similarity.semanticDedup(df,
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.95),
            dim = req(rest, "--dim").toInt,
            idCol = flag(rest, "--id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
        case "html-extract" =>
          df.withColumn(flag(rest, "--out").getOrElse("clean_text"),
            graft.pipeline.Text.htmlExtract(
              org.apache.spark.sql.functions.col(txt)))
        case "dedup-substring" =>
          // flag maximal cross-doc duplicated spans (>= --min-tokens)
          Dedup.substringSpans(df, txt, idc,
            minTokens = flag(rest, "--min-tokens").map(_.toInt).getOrElse(50))
        case "dedup-substring-cut" =>
          // the keep-one cut: rebuilt docs with non-keeper spans removed
          Dedup.removeSubstringDups(df, txt, idc,
            minTokens = flag(rest, "--min-tokens").map(_.toInt).getOrElse(50))
        case "dedup-prefix-join" =>
          // exact word-set Jaccard >= --threshold pairs (no false negatives)
          Dedup.prefixJaccardJoin(df, txt, idc,
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.8))
        case "dedup-prefix-star" =>
          // exact duplicate GROUPS (same components as the pairwise join,
          // linear output): (id, component)
          Dedup.prefixJaccardStar(df, txt, idc,
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.8))
        case "curriculum-order" =>
          // ntile difficulty buckets + round-robin interleave position
          Sampling.curriculumOrder(df,
            difficultyCol = flag(rest, "--difficulty").getOrElse("difficulty"),
            idCol = idc, k = flag(rest, "--k").map(_.toInt).getOrElse(8))
        case "text-novelty" =>
          Text.noveltyCurve(df, txt, idc,
            n = flag(rest, "--n").map(_.toInt).getOrElse(3))
        case "text-novelty-daily" =>
          // novelty per crawl day; --times parquet supplies (key, ts)
          Text.noveltyDaily(df, txt, idc,
            times = spark.read.parquet(flag(rest, "--times").getOrElse(
              sys.error("text-novelty-daily requires --times <parquet>"))),
            timeKeyCol = flag(rest, "--time-key").getOrElse(idc),
            tsCol = flag(rest, "--ts").getOrElse("ts"),
            n = flag(rest, "--n").map(_.toInt).getOrElse(3))
        case "text-winnow" =>
          // MOSS winnowing fingerprints (window-min k-gram selection)
          Text.winnow(df, txt, idc,
            k = flag(rest, "--k").map(_.toInt).getOrElse(3),
            w = flag(rest, "--w").map(_.toInt).getOrElse(4))
        case "winnow-pairs" =>
          // MOSS candidate pairs: >= --min-shared distinct shared prints;
          // --max-doc-freq drops boilerplate prints (0 = off)
          graft.pipeline.Dedup.winnowCandidates(df, txt, idc,
            k = flag(rest, "--k").map(_.toInt).getOrElse(3),
            w = flag(rest, "--w").map(_.toInt).getOrElse(4),
            minShared = flag(rest, "--min-shared").map(_.toInt).getOrElse(8),
            maxDocFreq = flag(rest, "--max-doc-freq").map(_.toInt).getOrElse(0))
        case "text-char-entropy" =>
          Text.charEntropy(df, txt, idc)
        case "winnow-star" =>
          // grouping form: winnow pairs -> components -> (id, component)
          graft.pipeline.Dedup.winnowStar(df, txt, idc,
            k = flag(rest, "--k").map(_.toInt).getOrElse(3),
            w = flag(rest, "--w").map(_.toInt).getOrElse(4),
            minShared = flag(rest, "--min-shared").map(_.toInt).getOrElse(8),
            maxDocFreq = flag(rest, "--max-doc-freq").map(_.toInt).getOrElse(0))
        case "image-dedup" =>
          // perceptual-hash image dedup groups: decode -> dHash/pHash
          // bands -> banded pairs -> components (--bin binary column)
          graft.pipeline.Dedup.imageDedupStar(df,
            flag(rest, "--bin").getOrElse("payload"), idc,
            kind = flag(rest, "--kind").getOrElse("dhash"),
            maxDist = flag(rest, "--max-dist").map(_.toInt).getOrElse(6))
        case "unigram-train" =>
          // unigram-LM tokenizer training (deterministic integer hard-EM)
          Text.unigramTrain(df, txt,
            seedMulti = flag(rest, "--seed-multi").map(_.toInt).getOrElse(60),
            emRounds = flag(rest, "--em-rounds").map(_.toInt).getOrElse(2),
            vocabSize = flag(rest, "--vocab-size").map(_.toInt).getOrElse(80))
        case "tokenizer-ab" =>
          // BPE-vs-unigram fertility A/B per --group column
          Text.tokenizerFertilityAb(df, txt, idc,
            flag(rest, "--group").getOrElse("lang"),
            numMerges = flag(rest, "--merges").map(_.toInt).getOrElse(8))
        case "text-oov-curve" =>
          Text.oovCurve(df, txt,
            sizes = flag(rest, "--sizes").map(_.split(",").toSeq.map(_.toInt))
              .getOrElse(Seq(1000, 10000, 50000, 100000)))
        case "text-heavy-hitters" =>
          // one-pass Space-Saving sketch (approximate; --capacity counters)
          graft.pipeline.SpaceSaving.approxHeavyHitters(df, txt,
            capacity = flag(rest, "--capacity").map(_.toInt).getOrElse(1000))
        case "text-hh-guaranteed" => {
          // guaranteed-above-threshold report: φ = --phi-num / --phi-den
          import spark.implicits._
          val words = df.select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.split(
                org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
                  org.apache.spark.sql.functions.col(txt))), "\\s+")).as("w"))
            .filter(org.apache.spark.sql.functions.col("w") =!= "").as[String]
          graft.pipeline.SpaceSaving.guaranteedHeavyHitters(words,
            capacity = flag(rest, "--capacity").map(_.toInt).getOrElse(1000),
            phiNum = flag(rest, "--phi-num").map(_.toLong).getOrElse(1L),
            phiDen = flag(rest, "--phi-den").map(_.toLong).getOrElse(100L))
        }
        case "source-overlap-matrix" =>
          graft.pipeline.Decontaminate.corpusMinhashMatrix(df, txt,
            groupCol = flag(rest, "--group").getOrElse("source"))
        case "dedup-paragraphs" =>
          Dedup.dedupParagraphs(df, txt, idc)
        case "url-extract" =>
          import org.apache.spark.sql.functions.col
          graft.pipeline.Text.extractUrls(df, txt)
            .withColumn("host", graft.pipeline.Text.urlHost(col("url")))
            .withColumn("canonical_url",
              graft.pipeline.Text.canonicalizeUrl(col("url")))
        case "knn-classify" =>
          // label the --queries frame from the labeled input corpus
          val queries = flag(rest, "--queries").map(spark.read.parquet(_)).getOrElse(df)
          Similarity.knnClassify(df, queries,
            k = flag(rest, "--k").map(_.toInt).getOrElse(5),
            idCol = flag(rest, "--id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"),
            labelCol = flag(rest, "--label").getOrElse("label"))
        case "label-audit" =>
          // noisy-label screen: per-label kNN agreement over the corpus
          Similarity.knnLabelAudit(df, df,
            k = flag(rest, "--k").map(_.toInt).getOrElse(5),
            idCol = flag(rest, "--id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"),
            labelCol = flag(rest, "--label").getOrElse("label"))
        case "decontaminate" =>
          // --eval is the benchmark corpus; report per-train-doc overlap
          import graft.pipeline.Decontaminate
          val evalDf = spark.read.parquet(req(rest, "--eval"))
          Decontaminate.overlapReport(df, evalDf, txt, idc,
            n = flag(rest, "--ngram").map(_.toInt).getOrElse(13))
        case "crossdoc-dup" =>
          graft.pipeline.Decontaminate.crossDocDupScore(df, txt, idc,
            n = flag(rest, "--ngram").map(_.toInt).getOrElse(13))
        case "remove-dup-spans" =>
          graft.pipeline.Decontaminate.removeDupSpans(df, txt, idc,
            n = flag(rest, "--ngram").map(_.toInt).getOrElse(13))
        case "pack-chunked" =>
          graft.pipeline.Packing.packChunked(df,
            org.apache.spark.sql.functions.col(req(rest, "--tokens")),
            maxTokens = flag(rest, "--max").map(_.toInt).getOrElse(2048),
            groupCol = req(rest, "--group"), orderCol = req(rest, "--order"))
        case "pack-firstfit" =>
          graft.pipeline.Packing.packFirstFit(df, req(rest, "--tokens"),
            maxTokens = flag(rest, "--max").map(_.toInt).getOrElse(2048),
            groupCol = req(rest, "--group"), orderCol = req(rest, "--order"))
        case "profile" =>
          // sketch profile of numeric columns (HLL + approx quantiles)
          import org.apache.spark.sql.types.NumericType
          val cols = flag(rest, "--cols").map(_.split(",").toSeq).getOrElse(
            df.schema.fields.collect {
              case f if f.dataType.isInstanceOf[NumericType] => f.name
            }.toSeq)
          graft.describe.Describe.summarizeApprox(spark, df, cols)
        case "corpus-report" =>
          Text.corpusReport(df, req(rest, "--dims").split(",").toSeq,
            sizeCol = flag(rest, "--size").getOrElse("n_chars"))
        case "sample-importance" =>
          // --prob is a SQL expression over the row, e.g. a score column
          graft.pipeline.Sampling.importanceSample(df,
            org.apache.spark.sql.functions.expr(req(rest, "--prob")),
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)))
        case "sample-hash" =>
          graft.pipeline.Sampling.hashSample(df,
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            fraction = req(rest, "--fraction").toDouble)
        case "sample-weighted" =>
          // --weight is a SQL expression over the row (e.g. a score column)
          graft.pipeline.Sampling.weightedSample(df,
            org.apache.spark.sql.functions.expr(req(rest, "--weight")),
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            k = req(rest, "--k").toInt,
            strataCols = flag(rest, "--strata").map(_.split(",").toSeq).getOrElse(Nil))
        case "chunk" =>
          Text.chunkDocs(df, txt, idc,
            chunkWords = flag(rest, "--chunk").map(_.toInt).getOrElse(512),
            strideWords = flag(rest, "--stride").map(_.toInt).getOrElse(384))
        case "centroids" =>
          Similarity.centroids(df, req(rest, "--group"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
        case "knn-graph" =>
          // --model from ann-index; input is the ASSIGNED corpus
          val model = Similarity.ivfLoadModel(spark, s"${req(rest, "--model")}/centers")
          Similarity.knnGraph(model, df,
            k = flag(rest, "--k").map(_.toInt).getOrElse(10),
            nProbe = flag(rest, "--probes").map(_.toInt).getOrElse(4),
            idCol = flag(rest, "--vec-id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
        case "sample-split" =>
          // --splits train=0.8,val=0.1,test=0.1; key defaults to the
          // content fingerprint so dup groups never straddle splits
          val splits = req(rest, "--splits").split(",").map { kv =>
            val Array(n, w) = kv.split("=", 2); n -> w.toDouble
          }.toSeq
          val key = flag(rest, "--key")
            .map(org.apache.spark.sql.functions.col)
            .getOrElse(Text.fingerprint(org.apache.spark.sql.functions.col(txt)))
          graft.pipeline.Sampling.splitAssign(df, key, splits)
        case "tfidf" =>
          Text.tfidfTopK(df, txt, idc,
            topK = flag(rest, "--k").map(_.toInt).getOrElse(5),
            minDf = flag(rest, "--min-df").map(_.toLong).getOrElse(1L))
        case "kmeans" =>
          val (_, assigned) = Similarity.kmeans(df,
            k = req(rest, "--k").toInt,
            iters = flag(rest, "--iters").map(_.toInt).getOrElse(10),
            idCol = flag(rest, "--vec-id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
          assigned
        case "skew-report" =>
          graft.describe.Describe.skewReport(df, req(rest, "--key"),
            topK = flag(rest, "--k").map(_.toInt).getOrElse(10))
        case "robust-scale" =>
          graft.modify.Modify.robustScale(df, req(rest, "--cols").split(",").toSeq)
        case "winsorize" =>
          graft.modify.Modify.winsorize(df, req(rest, "--cols").split(",").toSeq,
            lower = flag(rest, "--lower").map(_.toDouble).getOrElse(0.05),
            upper = flag(rest, "--upper").map(_.toDouble).getOrElse(0.95))
        case "psi-drift" =>
          // `in` is the CURRENT slice; --ref is the reference corpus whose
          // quantiles define the bins
          graft.describe.Describe.psiDrift(
            spark.read.parquet(req(rest, "--ref")), df,
            req(rest, "--cols").split(",").toSeq,
            bins = flag(rest, "--bins").map(_.toInt).getOrElse(10))
        case "sample-stratified" =>
          graft.pipeline.Sampling.stratifiedSample(df,
            req(rest, "--strata").split(",").toSeq,
            k = req(rest, "--k").toInt,
            key = org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)))
        case "domain-mix" =>
          // --targets dom=w,dom=w (downsample-only mixture)
          val targets = req(rest, "--targets").split(",").map { kv =>
            val Array(d, w) = kv.split("=", 2); d -> w.toDouble
          }.toMap
          graft.pipeline.Sampling.domainMix(df, req(rest, "--domain"), targets,
            key = org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            exact = !rest.contains("--approx"))
        case "blocklist-filter" | "blocklist-semi" =>
          val bl = spark.read.parquet(req(rest, "--blocklist"))
          val key = req(rest, "--key")
          val blk = flag(rest, "--bl-key").getOrElse(key)
          val fpp = flag(rest, "--fpp").map(_.toDouble).getOrElse(0.01)
          if (verb == "blocklist-filter")
            graft.pipeline.Blocklist.filterOut(df, bl, key, blk, fpp)
          else graft.pipeline.Blocklist.keepMatching(df, bl, key, blk, fpp)
        case "semdedup" =>
          // SemDeDup: k-means-cluster-scoped cosine dedup (Abbas 2023)
          graft.pipeline.Similarity.semDedupClustered(df,
            k = flag(rest, "--k").map(_.toInt).getOrElse(8),
            threshold = flag(rest, "--threshold").map(_.toDouble).getOrElse(0.95),
            iters = flag(rest, "--iters").map(_.toInt).getOrElse(0),
            idCol = flag(rest, "--id").getOrElse("vec_id"),
            vecCol = flag(rest, "--vec").getOrElse("embedding"))
        case "blocklist-phrase" | "blocklist-phrase-filter" =>
          // word-boundary phrase blocklist; --phrases parquet supplies
          // the phrase column (--phrase-col, default 'phrase')
          val ph = spark.read.parquet(req(rest, "--phrases"))
          val pc = flag(rest, "--phrase-col").getOrElse("phrase")
          if (verb == "blocklist-phrase")
            graft.pipeline.Blocklist.phraseMatches(df, ph, txt, idc, pc)
          else graft.pipeline.Blocklist.phraseFilterOut(df, ph, txt, idc, pc)
        case "bm25" =>
          Text.bm25Rank(df, txt, idc,
            terms = req(rest, "--terms").split(",").toSeq,
            topK = flag(rest, "--k").map(_.toInt).getOrElse(10))
        case "vocab" =>
          Text.vocab(df, txt, idc,
            topK = flag(rest, "--k").map(_.toInt).getOrElse(1000))
        case "shuffle" =>
          graft.pipeline.Sampling.shufflePositions(df,
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            seed = flag(rest, "--seed").getOrElse("seed0"))
        case "shuffle-shards" =>
          graft.pipeline.Sampling.shuffledShards(df,
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            seed = flag(rest, "--seed").getOrElse("seed0"),
            numShards = req(rest, "--shards").toInt)
        case "join-asof" =>
          graft.pipeline.Joins.asofJoin(df,
            spark.read.parquet(req(rest, "--right")),
            keys = req(rest, "--keys").split(",").toSeq,
            leftTs = req(rest, "--left-ts"), rightTs = req(rest, "--right-ts"),
            rightCols = req(rest, "--right-cols").split(",").toSeq,
            tolerance = flag(rest, "--tolerance").map(_.toLong))
        case "join-fuzzy" =>
          graft.pipeline.Joins.fuzzyJoin(df,
            spark.read.parquet(req(rest, "--right")),
            leftCol = req(rest, "--left-col"), rightCol = req(rest, "--right-col"),
            maxDist = flag(rest, "--dist").map(_.toInt).getOrElse(2),
            prefixLen = flag(rest, "--prefix").map(_.toInt).getOrElse(4))
        case "join-range" =>
          graft.pipeline.Joins.rangeJoin(df,
            spark.read.parquet(req(rest, "--intervals")),
            keys = req(rest, "--keys").split(",").toSeq,
            pointCol = req(rest, "--point"),
            startCol = req(rest, "--start"), endCol = req(rest, "--end"),
            bucketWidth = flag(rest, "--bucket").map(_.toLong).getOrElse(3600000000L))
        case "lm-perplexity" =>
          Text.perplexityScore(df, txt, idc,
            topVocab = flag(rest, "--vocab").map(_.toInt).getOrElse(50000),
            alpha = flag(rest, "--alpha").map(_.toDouble).getOrElse(1.0))
        case "lm-bigram" =>
          Text.bigramPerplexity(df, txt, idc,
            topBigrams = flag(rest, "--bigrams").map(_.toInt).getOrElse(200000),
            topVocab = flag(rest, "--vocab").map(_.toInt).getOrElse(50000),
            alpha = flag(rest, "--alpha").map(_.toDouble).getOrElse(1.0),
            lambda = flag(rest, "--lambda").map(_.toDouble).getOrElse(0.7))
        case "resample-hourly" =>
          graft.streaming.EventStreams.resampleHourly(df,
            keyCol = flag(rest, "--key").getOrElse("event_type"),
            tsCol = flag(rest, "--ts").getOrElse("ts"),
            valueCol = flag(rest, "--value").getOrElse("value"))
        case "hourly-anomaly" =>
          graft.streaming.EventStreams.hourlyAnomaly(df,
            keyCol = flag(rest, "--key").getOrElse("event_type"),
            tsCol = flag(rest, "--ts").getOrElse("ts"),
            zThreshold = flag(rest, "--z").map(_.toDouble).getOrElse(2.0))
        case "pagerank" =>
          graft.pipeline.Graph.pageRank(df,
            srcCol = flag(rest, "--src").getOrElse("src"),
            dstCol = flag(rest, "--dst").getOrElse("dst"),
            weightCol = flag(rest, "--weight").getOrElse("w"),
            iterations = flag(rest, "--iters").map(_.toInt).getOrElse(3),
            damping = flag(rest, "--damping").map(_.toDouble).getOrElse(0.85),
            danglingMass = rest.contains("--dangling-mass"))
        case "zorder-write" =>
          graft.pipeline.Layout.zOrdered(df,
            xCol = req(rest, "--x"), yCol = req(rest, "--y"),
            numFiles = req(rest, "--files").toInt,
            bits = flag(rest, "--bits").map(_.toInt).getOrElse(8))
        case "zorder-stats" =>
          graft.pipeline.Layout.zCellStats(df,
            xCol = req(rest, "--x"), yCol = req(rest, "--y"),
            bits = flag(rest, "--bits").map(_.toInt).getOrElse(6))
        case "quantile-normalize" =>
          graft.modify.Modify.quantileNormalize(df,
            req(rest, "--cols").split(",").toSeq,
            idCol = flag(rest, "--id").getOrElse(idc))
        case "target-encode" =>
          // leave-one-out target encoding: --cat column, --target column
          graft.modify.Modify.targetEncodeLoo(df, req(rest, "--cat"),
            req(rest, "--target"),
            out = flag(rest, "--out").getOrElse("te_loo"))
        case "contrastive-pairs" =>
          // --components parquet supplies (id, component); --neg-k, --seed
          graft.pipeline.Sampling.contrastivePairs(df,
            spark.read.parquet(req(rest, "--components")), idc,
            negK = flag(rest, "--neg-k").map(_.toInt).getOrElse(2),
            seed = flag(rest, "--seed").getOrElse("cp1"))
        case "calibration" =>
          // reliability bins: --score prob column, --label sql-expr
          graft.describe.Describe.calibration(df, req(rest, "--score"),
            org.apache.spark.sql.functions.expr(req(rest, "--label")),
            bins = flag(rest, "--bins").map(_.toInt).getOrElse(10))
        case "bpe-fertility" =>
          Text.bpeFertility(df, txt, idc,
            groupCol = flag(rest, "--group").getOrElse("lang"),
            numMerges = flag(rest, "--merges").map(_.toInt).getOrElse(8))
        case "quality-rules" =>
          // --rules name=<sql-expr>;name=<sql-expr> (';'-separated)
          val rules = req(rest, "--rules").split(";").toSeq.map { kv =>
            val Array(n, e) = kv.split("=", 2)
            n -> org.apache.spark.sql.functions.expr(e)
          }
          graft.describe.Describe.checkRules(df, rules)
        case "diff-snapshots" =>
          graft.pipeline.Joins.diffSnapshots(df,
            spark.read.parquet(req(rest, "--new")),
            keys = req(rest, "--keys").split(",").toSeq)
        case "weighted-quantile" =>
          graft.describe.Describe.weightedQuantile(df, req(rest, "--value"),
            req(rest, "--weight"), req(rest, "--group").split(",").toSeq,
            q = flag(rest, "--q").map(_.toDouble).getOrElse(0.5))
        case "entropy" =>
          graft.describe.Describe.entropy(df, req(rest, "--cols").split(",").toSeq)
        case "bootstrap-ci" =>
          graft.describe.Describe.bootstrapCI(df, req(rest, "--value"),
            org.apache.spark.sql.functions.col(flag(rest, "--key").getOrElse(idc)),
            replicas = flag(rest, "--replicas").map(_.toInt).getOrElse(50))
        case "scd2" =>
          graft.streaming.EventStreams.scd2History(df,
            keyCol = flag(rest, "--key").getOrElse("user_id"),
            tsCol = flag(rest, "--ts").getOrElse("ts"),
            stateCol = flag(rest, "--state").getOrElse("event_type"),
            tieCol = flag(rest, "--tie").getOrElse("event_id"))
        case "upsert" =>
          graft.pipeline.Joins.upsert(df,
            spark.read.parquet(req(rest, "--updates")),
            keys = req(rest, "--keys").split(",").toSeq)
        case other => throw new IllegalArgumentException(s"unknown pipeline verb: $other")
      }
      result.write.mode("overwrite").parquet(out)

    // ------------------------------------------- streaming (DURABLE forms)
    // Both verbs run the checkpointed transformWithState pipelines on the
    // RocksDB state store: kill the command, re-run with the same
    // --checkpoint, and the count/CUSUM CONTINUE from where they stopped
    // (new files under <in> are the new micro-batches). The driver-state
    // streamHeavyHitters/startDriftMonitor forms are demo/test-only and
    // deliberately NOT exposed here.
    case "stream" :: verb :: in :: out :: rest =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ckpt = req(rest, "--checkpoint")
      val src = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      val (result, mode, writeMode) = verb match {
        case "heavy-hitters" =>
          // Update mode emits the full cumulative snapshot each batch;
          // <out> holds the LATEST snapshot (overwritten per batch)
          (graft.pipeline.SpaceSaving.durableStreamHeavyHitters(src,
            flag(rest, "--text").getOrElse("text"),
            capacity = flag(rest, "--capacity").map(_.toInt).getOrElse(1000))
            .toDF(), "update", "overwrite")
        case "drift" =>
          // Append mode emits one row per CLOSED window; <out> accumulates
          val ref = graft.streaming.DriftMonitor.buildReference(
            spark.read.parquet(req(rest, "--ref")), req(rest, "--value"),
            bins = flag(rest, "--bins").map(_.toInt).getOrElse(10))
          (graft.streaming.DriftMonitor.durableDriftMonitor(src,
            flag(rest, "--ts").getOrElse("ts"), req(rest, "--value"), ref,
            windowLen = flag(rest, "--window").getOrElse("1 hour"),
            watermark = flag(rest, "--watermark").getOrElse("30 minutes"))
            .toDF(), "append", "append")
        case other => throw new IllegalArgumentException(s"unknown stream verb: $other")
      }
      // AvailableNow: drain everything currently under <in>, then stop —
      // the CLI-shaped incremental run (state lives in --checkpoint)
      val q = result.writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode(writeMode).parquet(out)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()

    case other =>
      println(usage)
      throw new IllegalArgumentException(s"unknown command: ${other.take(2).mkString(" ")}")
  }

  private def readTsv(spark: SparkSession, in: String) =
    spark.read.option("sep", "\t").option("header", "true")
      .option("inferSchema", "true").csv(in)

  private val usage: String =
    """graft-cli — Spark-native CLARITE-style pipeline
      |  load from-csv|from-tsv <in> <out>
      |  describe summarize|percent-na|freq-table|correlations|skewness|get-types <in>
      |  modify <verb> <in> <out> [--only a,b] [--skip a,b] [--n N] [--method m] ...
      |    verbs: categorize colfilter colfilter-min-n colfilter-min-cat-n
      |      colfilter-percent-zero rowfilter rowfilter-incomplete-obs
      |      make-binary make-categorical make-continuous remove-outliers
      |      transform recode-values merge-variables merge-observations
      |      drop-extra-categories
      |  modify-move-variables <left> <right> <outLeft> <outRight> [--only|--skip]
      |  plot histogram|distributions|qq|manhattan <in> <outDir> [--column c] [--bins N] [--n N]
      |  analyze association-study <in> <outDir> --outcome y [--covariates a,b] [--min-n N]
      |  analyze get-significant|top-results <in.tsv> <outDir> [--cutoff a] [--n N]
      |  pipeline dedup-exact|dedup-minhash|dedup-near|text-features|text-redact|genotype-maf|ann-topk <in.parquet> <out.parquet>
      |    [--id c] [--text c] [--vec c] [--threshold t] [--k N] [--queries p] [--model idxDir] [--probe N]
      |  pipeline ann-index <in.parquet> <outIndexDir> [--vec c] [--lists N]
      |  pipeline knn-classify <corpus.parquet> <out> [--queries p] [--k N] [--label c]
      |  pipeline label-audit <labeled.parquet> <out> [--k N] [--label c]
      |  pipeline html-extract <in> <out> [--text c] [--out c]
      |  pipeline dedup-paragraphs <in> <out> [--text c] [--id c]
      |  pipeline dedup-substring|dedup-substring-cut <in> <out> [--text c] [--id c] [--min-tokens L]
      |  pipeline dedup-prefix-join <in> <out> [--text c] [--id c] [--threshold t]
      |  pipeline dedup-prefix-star <in> <out> [--text c] [--id c] [--threshold t]
      |  pipeline curriculum-order <in> <out> [--difficulty c] [--id c] [--k N]
      |  pipeline text-novelty <in> <out> [--text c] [--id c] [--n N]
      |  pipeline text-novelty-daily <in> <out> --times p [--time-key c] [--ts c] [--text c] [--id c] [--n N]
      |  pipeline text-hh-guaranteed <in> <out> [--text c] [--capacity N] [--phi-num a] [--phi-den b]
      |  pipeline text-winnow <in> <out> [--text c] [--id c] [--k N] [--w N]
      |  pipeline winnow-pairs <in> <out> [--text c] [--id c] [--k N] [--w N] [--min-shared N] [--max-doc-freq N]
      |  pipeline winnow-star <in> <out> [--text c] [--id c] [--k N] [--w N] [--min-shared N] [--max-doc-freq N]
      |  pipeline text-char-entropy <in> <out> [--text c] [--id c]
      |  pipeline text-oov-curve <in> <out> [--text c] [--sizes k1,k2,...]
      |  pipeline text-heavy-hitters <in> <out> [--text c] [--capacity N]
      |  pipeline source-overlap-matrix <in> <out> [--text c] [--group c]
      |  pipeline decontaminate <train.parquet> <out> --eval <eval.parquet> [--ngram N]
      |  pipeline crossdoc-dup|remove-dup-spans <in.parquet> <out> [--ngram N]
      |  pipeline vocab <in> <out> [--k N]; bm25 <in> <out> --terms t1,t2 [--k N]
      |  pipeline shuffle|shuffle-shards <in> <out> [--key c] [--seed s] [--shards N]
      |  pipeline blocklist-filter|blocklist-semi <in> <out> --blocklist p --key c [--bl-key c] [--fpp f]
      |  pipeline blocklist-phrase|blocklist-phrase-filter <in> <out> --phrases p [--phrase-col c] [--text c] [--id c]
      |  pipeline semdedup <in> <out> [--k N] [--threshold t] [--iters N] [--id c] [--vec c]
      |  pipeline join-asof <left> <out> --right p --keys k1,k2 --left-ts c --right-ts c --right-cols a,b [--tolerance T]
      |  pipeline join-range <points> <out> --intervals p --keys k --point c --start c --end c [--bucket W]
      |  pipeline join-fuzzy <left> <out> --right p --left-col c --right-col c [--dist d] [--prefix p]
      |  pipeline pack-chunked|pack-firstfit <in> <out> --tokens c --group c --order c [--max N]
      |  pipeline profile <in> <out> [--cols c1,c2]
      |  pipeline corpus-report <in> <out> --dims d1,d2 [--size c]
      |  pipeline sample-importance <in> <out> --prob <sql-expr> [--key c]
      |  pipeline sample-hash <in> <out> --fraction f [--key c]
      |  pipeline sample-stratified <in> <out> --strata a,b --k N [--key c]
      |  pipeline domain-mix <in> <out> --domain c --targets d1=w1,d2=w2 [--key c] [--approx]
      |  pipeline semantic-dedup <in> <out> --dim N [--threshold t] [--id c] [--vec c]
      |  pipeline sample-split <in> <out> --splits train=0.8,val=0.1,test=0.1 [--key c]
      |  pipeline tfidf <in> <out> [--k N] [--min-df N]
      |  pipeline kmeans <in> <out> --k N [--iters N] [--vec-id c] [--vec c]
      |  pipeline winsorize <in> <out> --cols c1,c2 [--lower q] [--upper q]
      |  pipeline robust-scale <in> <out> --cols c1,c2
      |  pipeline skew-report <in> <out> --key c [--k N]
      |  pipeline psi-drift <current> <out> --ref <reference.parquet> --cols c1,c2 [--bins N]
      |  pipeline lm-perplexity <in> <out> [--id c] [--text c] [--vocab N] [--alpha a]
      |  pipeline lm-bigram <in> <out> [--id c] [--text c] [--bigrams N] [--vocab N] [--alpha a] [--lambda l]
      |  pipeline resample-hourly|hourly-anomaly <in> <out> [--key c] [--ts c] [--value c] [--z t]
      |  pipeline pagerank <edges> <out> [--src c] [--dst c] [--weight c] [--iters N] [--damping d] [--dangling-mass]
      |  pipeline url-extract <docs.parquet> <out> [--text c] (adds url/host/canonical_url)
      |  pipeline zorder-write <in> <out> --x c --y c --files N [--bits b]
      |  pipeline zorder-stats <in> <out> --x c --y c [--bits b]
      |  pipeline entropy <in> <out> --cols c1,c2
      |  pipeline weighted-quantile <in> <out> --value c --weight c --group g1,g2 [--q f]
      |  pipeline quantile-normalize <in> <out> --cols c1,c2 [--id c]
      |  pipeline target-encode <in> <out> --cat c --target c [--out c]
      |  pipeline contrastive-pairs <in> <out> --components p [--id c] [--neg-k N] [--seed s]
      |  pipeline calibration <in> <out> --score c --label <expr> [--bins N]
      |  pipeline bpe-fertility <in> <out> [--text c] [--id c] [--group c] [--merges N]
      |  pipeline quality-rules <in> <out> --rules n1=<expr>;n2=<expr>
      |  pipeline diff-snapshots <old> <out> --new <new.parquet> --keys k1,k2
      |  pipeline bootstrap-ci <in> <out> --value c [--key c] [--replicas N]
      |  pipeline scd2 <in> <out> [--key c] [--ts c] [--state c] [--tie c]
      |  pipeline upsert <base> <out> --updates <delta.parquet> --keys k1,k2
      |  stream heavy-hitters <inDir> <out> --checkpoint dir [--text c] [--capacity N]  (durable: re-run resumes)
      |  stream drift <inDir> <out> --checkpoint dir --ref <ref.parquet> --value c [--ts c] [--window w] [--watermark w] [--bins N]
      |  analyze association-study-weighted ... --survey <state> --weights w [--strata s] [--cluster c] [--nest]
      |  analyze interaction-study <in> <outDir> --outcome y [--interactions a,b;c,d | --interactions var] [--report-betas]
      |  analyze add-corrected-pvalues <in.tsv> <outDir> [--pvalue col]
      |  jsonl to-parquet <in> <out> [--id c] [--corrupt-out dir]
      |  parquet to-jsonl <in> <out> [--codec gzip|none|zstd]
      |State format: <path>.txt (TSV) + <path>.dtypes (JSON sidecar).""".stripMargin
}
