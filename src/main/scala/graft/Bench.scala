package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: runs every registered query (or the named ones, which may
  * include [[BenchForms]]: `runMain graft.Bench q1 q2 ...`) on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Each query is forced through
  * a noop sink after its own transformations (results are small
  * aggregates; the work is the scan/shuffle/fit, not the collect).
  * BENCH_local.json gets every line's pass times and, for its median pass,
  * the jobs and stages it ran ([[JobCollector]]).
  *
  * GRAFT_AB="k=v[;k=v...]" times a second session conf in the same JVM:
  * each pass runs twice, baseline conf then with the overrides, so both
  * medians share one JIT/page-cache state and per-invocation machine noise
  * cancels. E.g. GRAFT_AB="graft.local.mode=distributed" times every
  * dual-path operator's distributed path beside its local one.
  *
  * `runMain graft.Bench --scale-up <srcDir> <dstDir>` writes the x10 copy of
  * a test-data dir ([[scaleUp]]) and exits; point SPARK_GRAFT_SF_DIR at it. */
object Bench {
  type Build = (SparkSession, String) => DataFrame

  /** Timed passes per line; the published time is their median. A single
    * pass attributes one-off noise (a stop-the-world GC from the previous
    * query's garbage, an OS scheduling hiccup) to whichever line it lands
    * on; the median is robust to one outlier pass in either direction, and
    * the per-line stddev is published beside it. */
  val Passes = 3

  /** One pass: seconds building the frame and running its sink, and its
    * wall-clock window in ms (the jobs it submitted). */
  final case class Pass(buildS: Double, sinkS: Double, startMs: Long, endMs: Long) {
    def secs: Double = buildS + sinkS
  }

  /** A line's passes (none when a pass failed: a failed line publishes no
    * time), its GRAFT_AB passes, and the jobs of its median pass. */
  final case class Line(name: String, failed: Boolean, passes: Seq[Pass], alt: Seq[Pass],
                        trace: Option[JobCollector.Trace] = None) {
    def times: Seq[Double] = passes.map(_.secs)
    def median: Double = times.sorted.apply(Passes / 2)
    def medianPass: Pass = passes.sortBy(_.secs).apply(Passes / 2)
    def stddev: Double = {
      val mean = times.sum / Passes
      math.sqrt(times.map(t => (t - mean) * (t - mean)).sum / (Passes - 1))
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def session(): SparkSession = {
      val s = GraftSession.create(s"local[$cpus]", cpus.toInt)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    if (args.headOption.contains("--scale-up")) {
      require(args.length == 3, "usage: Bench --scale-up <srcDir> <dstDir>")
      val spark = session()
      val t0 = System.nanoTime()
      scaleUp(spark, args(1), args(2))
      System.err.println(f"[bench] scale-up written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop(); return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = select(args.toSeq)
    val abConf: Seq[(String, String)] = sys.env.get("GRAFT_AB").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty).map(_.split("=", 2) match {
        case Array(k, v) => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"GRAFT_AB entries must be k=v, got '${sys.env("GRAFT_AB")}'")
      }))
    val spark = session()
    // Belt-and-braces vs stdout-tail pollution (the driver parses the final
    // stdout line as JSON from a ~2000-char tail): WindowExec's "No
    // Partition Defined" WARN — triggered 3×passes per run by any bounded
    // single-partition window — goes to ERROR. The one such window (zipf's
    // 500-row rank) is also partitioned by a literal at the source.
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
      // the registered-native-expression helpers re-register per call by
      // design; the per-call "replaced a previously registered function"
      // WARN is noise at bench volume
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case _: Throwable => () }
    warm(spark, sfDir, selected)
    val lines = run(spark, sfDir, selected, abConf)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    // The complete per-line medians, stddev and layer fields go to a file:
    // the round driver captures only the last ~2000 chars of stdout, so a
    // single all-lines JSON line arrives with its head chopped off and
    // fails to parse (BENCH_r11.json: "parsed": null). Humans and the judge
    // read the file; the driver parses the compact final line below.
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
      try w.println(fullJson(lines, sfDir, abConf)) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: ${e.getMessage}") }
    println(compactJson(lines, sfDir, outPath))
    spark.stop()
  }

  /** The registered queries named (all of them when `names` is empty) and
    * the named [[BenchForms]], by name. An unknown name fails. */
  def select(names: Seq[String]): Seq[(String, Build)] = {
    val all = SparkEntry.queries ++ BenchForms.all
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    (if (names.isEmpty) SparkEntry.queries else all.filter { case (n, _) => names.contains(n) })
      .toSeq.sortBy(_._1)
  }

  /** Untimed warm-up, so each timed line measures the steady-state engine:
    * JVM/codegen/sink on the tiny SF, every input table at the bench SF
    * once (first-touch parquet footer reads, string-page decode and page
    * cache faults otherwise land on whichever line first scans a table),
    * the build-once index artifacts, then each line once on the tiny SF
    * (first-call codegen compilation, ~1-2 s per distinct plan). */
  def warm(spark: SparkSession, sfDir: String, lines: Seq[(String, Build)]): Unit = {
    def quietly(f: => Unit): Unit = try f catch { case _: Throwable => () }
    quietly(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    quietly(new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getAbsolutePath).write.format("noop").mode("overwrite").save()))
    quietly(SparkEntry.warmIndexes(spark, sfDir))
    if (!new java.io.File(SparkEntry.TinyDir).isDirectory)
      System.err.println(s"[bench] ${SparkEntry.TinyDir} missing: per-line warm-up skipped")
    else lines.foreach { case (_, fn) =>
      quietly(fn(spark, SparkEntry.TinyDir).write.format("noop").mode("overwrite").save())
    }
  }

  /** Times each line [[Passes]] times on `sfDir` (with `abConf`, each pass
    * again under those session settings) and returns the lines with the
    * jobs and stages of each median pass. A pass that throws fails its
    * line, which is not timed further. */
  def run(spark: SparkSession, sfDir: String, lines: Seq[(String, Build)],
          abConf: Seq[(String, String)] = Nil): Seq[Line] = {
    // one timed pass; `conf` is set around it and put back after the clock stops
    def pass(name: String, fn: Build, conf: Seq[(String, String)]): Option[Pass] = {
      val saved = conf.map { case (k, v) =>
        val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old }
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // noop sink: forces FULL computation of every output column —
        // count() would let Catalyst prune the measured aggregates away
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Some(Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, ms0, System.currentTimeMillis()))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name${if (conf.isEmpty) "" else " (alt)"} failed: ${e.getMessage}")
        None
      } finally saved.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val collector = JobCollector.install(spark.sparkContext)
    collector.start()
    try {
      val timed = lines.map { case (name, fn) =>
        // collect the PREVIOUS query's garbage before timing this one: a
        // stop-the-world pause from another query's allocations otherwise
        // lands on whichever line is running when the heap fills
        System.gc()
        // (base, alt) per pass; None once a pass has failed
        val runs = (1 to Passes).foldLeft(Option(Vector.empty[(Pass, Option[Pass])])) {
          case (Some(done), _) => for {
            base <- pass(name, fn, Nil)
            alt <- if (abConf.isEmpty) Some(None) else pass(name, fn, abConf).map(Some(_))
          } yield done :+ (base -> alt)
          case (None, _) => None
        }
        val done = runs.getOrElse(Vector.empty)
        val line = Line(name, runs.isEmpty, done.map(_._1), done.flatMap(_._2))
        if (abConf.nonEmpty && !line.failed) {
          val altMed = line.alt.map(_.secs).sorted.apply(Passes / 2)
          def ts(ps: Seq[Pass]) = ps.map(p => f"${p.secs}%.3f").mkString(" ")
          System.err.println(f"[bench] $name%-28s med ${line.median}%6.3f s | alt $altMed%6.3f s  (${altMed / line.median * 100}%.0f%%)   passes ${ts(line.passes)} | ${ts(line.alt)}")
        }
        line
      }
      collector.drain()
      timed.map(l => if (l.failed) l
        else l.copy(trace = Some(collector.trace(l.medianPass.startMs, l.medianPass.endMs))))
    } finally collector.stop()
  }

  private def num(t: Double): String = f"$t%.3f"
  private def list(ts: Seq[Double]): String = ts.map(num).mkString("[", ",", "]")
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def names(ls: Seq[Line]): String = ls.map(l => Verify.jsonString(l.name)).mkString("[", ",", "]")

  /** The median pass's layer fields: jobs, stages, task/GC seconds, input
    * and shuffle-write MB, the build-vs-sink wall split, and one row per
    * stage. */
  private def layers(l: Line): String = {
    val t = l.trace.get
    val p = l.medianPass
    val stages = t.stages.map(s => obj(Seq("id" -> s.id.toString, "wall_ms" -> s.wallMs.toString,
      "task_ms" -> s.taskMs.toString, "gc_ms" -> s.gcMs.toString, "tasks" -> s.tasks.toString,
      "input_mb" -> num(s.inputBytes / 1048576.0), "read_mb" -> num(s.readBytes / 1048576.0),
      "write_mb" -> num(s.writeBytes / 1048576.0), "name" -> Verify.jsonString(s.name))))
    obj(Seq("jobs" -> t.jobs.toString, "stages" -> t.stages.size.toString,
      "task_s" -> num(t.taskS), "gc_s" -> num(t.gcS), "input_mb" -> num(t.inputMb),
      "shuffle_mb" -> num(t.shuffleMb), "build_s" -> num(p.buildS), "sink_s" -> num(p.sinkS),
      "stage_rows" -> stages.mkString("[", ",", "]")))
  }

  /** BENCH_local.json: every timed line's median, stddev and pass times, the
    * failed lines by name, each line's layer fields and the GRAFT_AB side. */
  def fullJson(lines: Seq[Line], sfDir: String, abConf: Seq[(String, String)] = Nil): String = {
    val (failed, ok) = lines.partition(_.failed)
    val total = ok.map(_.median).sum
    val ab = if (abConf.isEmpty) "" else {
      val conf = abConf.map { case (k, v) => s"$k=$v" }.mkString(";")
      val alt = ok.map(l => l.name -> l.alt.map(_.secs))
      s""","ab":{"conf":"$conf","queries":${obj(alt.map(a => a._1 -> num(a._2.sorted.apply(Passes / 2))))},"pass_times":${obj(alt.map(a => a._1 -> list(a._2)))}}"""
    }
    s"""{"metric":"total","value":$total,"unit":"sec","passes":$Passes,"estimator":"median","queries":${obj(ok.map(l => l.name -> num(l.median)))},"stddev":${obj(ok.map(l => l.name -> num(l.stddev)))},"failed":${names(failed)},"sf":"$sfDir","pass_times":${obj(ok.map(l => l.name -> list(l.times)))},"layers":${obj(ok.map(l => l.name -> layers(l)))}$ab}"""
  }

  /** The compact FINAL stdout line, sized to survive tail truncation:
    * summary stats + the slowest lines only (the signal a per-round perf
    * diff needs), the first 12 failed lines if any, and a pointer to the
    * full file. Kept well under the 2000-char capture even with sbt's
    * "[success] Total time" trailer printed after it. */
  def compactJson(lines: Seq[Line], sfDir: String, outPath: String): String = {
    val (failed, ok) = lines.partition(_.failed)
    val total = ok.map(_.median).sum
    val top = ok.sortBy(-_.median).take(12)
    val fails = if (failed.isEmpty) "" else s""","failed":${names(failed.take(12))}"""
    s"""{"metric":"total","value":${num(total)},"unit":"sec","passes":$Passes,"estimator":"median","n_queries":${ok.size},"queries":${obj(top.map(l => l.name -> num(l.median)))},"stddev":${obj(top.map(l => l.name -> num(l.stddev)))},"queries_are":"slowest12_of_${ok.size}"$fails,"full":"$outPath","sf":"$sfDir"}"""
  }

  /** The x10 copy of the test-data dir `src`, written to `dst`, join
    * consistent: every key column maps k -> k*10+i for copy i (the same on
    * fact and dimension sides), and `nation`/`region` are copied as they
    * are (fixed cardinality at every TPC-H SF, like the real generator).
    * Each copy's document text gets a token named after `dst` plus the copy
    * index, so cross-copy pairs are near-duplicates, not byte duplicates.
    * A table is written as max(its constant, 2 x its input files) files. */
  def scaleUp(spark: SparkSession, src: String, dst: String): Unit = {
    val scaled = Seq(
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32),
      ("orders", Seq("o_orderkey", "o_custkey"), 16),
      ("customer", Seq("c_custkey"), 8),
      ("supplier", Seq("s_suppkey"), 4),
      ("part", Seq("p_partkey"), 4),
      ("events", Seq("event_id", "user_id"), 16),
      ("documents", Seq("doc_id"), 16),
      ("embeddings", Seq("vec_id"), 4))
    val token = s" ${new java.io.File(dst).getName}_"
    val copies = explode(lit((0 until 10).toArray)).as("__i")
    scaled.foreach { case (name, keyCols, files) =>
      val in = spark.read.parquet(s"$src/$name.parquet")
      val keyed = keyCols.foldLeft(in.select(col("*"), copies)) { (d, k) =>
        d.withColumn(k, col(k) * 10 + col("__i")) }
      val out = if (name != "documents") keyed
        else keyed.withColumn("text", concat(col("text"), lit(token), col("__i")))
      out.drop("__i")
        .repartition(math.max(files, 2 * in.inputFiles.length))
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    Seq("nation", "region").foreach(n => spark.read.parquet(s"$src/$n.parquet")
      .write.mode("overwrite").parquet(s"$dst/$n.parquet"))
  }
}
