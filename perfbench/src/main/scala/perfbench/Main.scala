package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one process.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Writes `<work>/result.json` (metrics, run
  * counts and gate failures), `<work>/spans.json` when traced, and the
  * workload's exports under `<work>/export`. `python3 perfbench/run.py` is
  * the entry point that builds this and prints the benchmark's result.
  *
  * Order of a process: start the session; write the inputs [[SetupRepeats]]
  * times (median reported); one cold run; [[WarmupRuns]] more; then a
  * fixed number of measured runs, [[measuredRuns]]. Run times still fall
  * for ten and more runs as the JIT compiles Spark's planner, so the count
  * does not depend on how fast the runs are: every process and every
  * version of the program times the same run positions. With `--trace 1`
  * the listener is registered once and every untraced run is paired with
  * a traced one. Every run passes through the workload's correctness
  * gate. */
object Main {
  val MaxCores = 4
  val SetupRepeats = 3
  val WarmupRuns = 3
  val MinRuns = 5

  /** Measured runs of an untraced process: `seconds` worth of runs at the
    * workload's nominal run time, at least [[MinRuns]]. */
  def measuredRuns(w: Workload, seconds: Double): Int =
    math.max(MinRuns, math.round(seconds / w.nominalRunS).toInt)

  /** Untraced/traced pairs of a traced process, about as many runs in all
    * as an untraced process measures; even, so each order occurs equally
    * often. */
  def tracedPairs(w: Workload, seconds: Double): Int =
    math.max(2, 2 * math.round(measuredRuns(w, seconds) / 4.0).toInt)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.named(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = Paths.get(need("work")).toAbsolutePath.toString
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val input = s"$work/input"
      val prepareS = (1 to SetupRepeats).map(_ => timed(workload.prepare(spark, seed, input, cores))._2)
      val runner = new Runner(spark, workload, input)
      val coldS = runner.once(new Tracer(false))._1
      val warmupS = (1 to WarmupRuns).map(_ => runner.once(new Tracer(false))._1).sum
      // A fixed number of untraced runs. With tracing, each is paired with
      // a traced run, in alternating order so that the JVM's remaining
      // warm-up favours neither; the pairs' mean difference is the tracing
      // overhead.
      val collector = if (traced) Some(Collector.install(spark.sparkContext)) else None
      val tr = new Tracer(traced)
      val measured = mutable.ArrayBuffer.empty[(Double, Double)]
      val traces = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
      def untraced(): Unit = {
        collector.foreach(_.enabled = false)
        measured += runner.once(new Tracer(false))
      }
      def tracedRun(c: Collector): Unit = {
        ListenerDrain(spark.sparkContext)
        c.clear()
        c.enabled = true
        val id = traces.size + 1
        tr.startRun(id)
        val runS = runner.once(tr)._1
        ListenerDrain(spark.sparkContext)
        traces += ((runS, layerCounters(c, tr.spans.filter(_.runId == id).toSeq)))
      }
      collector match {
        case None => (1 to measuredRuns(workload, seconds)).foreach(_ => untraced())
        case Some(c) => (1 to tracedPairs(workload, seconds)).foreach { i =>
          if (i % 2 == 1) { untraced(); tracedRun(c) } else { tracedRun(c); untraced() }
        }
      }
      val endToEnd = Map(
        "run_s" -> median(measured.map(_._1).toSeq),
        "cold_run_s" -> coldS,
        "setup_s" -> (sessionS + median(prepareS) + coldS + warmupS),
        "peak_live_heap_mb" -> median(measured.map(_._2).toSeq))
      val perLayer = if (!traced) Map.empty[String, Double] else {
        Json.write(s"$work/spans.json", Json.spans(tr.spans.toSeq))
        val keys = traces.flatMap(_._2.keys).distinct
        keys.map(k => k -> median(traces.flatMap(_._2.get(k)).toSeq)).toMap +
          ("trace.overhead_s" -> (traces.map(_._1).sum - measured.map(_._1).sum) / traces.size)
      }

      val export = s"$work/export"
      Files.createDirectories(Paths.get(export))
      workload.export(spark, export)
      Json.write(s"$work/result.json", ListMap(
        "workload" -> workload.name,
        "seed" -> seed,
        "cores" -> cores,
        "attempted" -> runner.attempted,
        "failed" -> runner.failed,
        "gate_failures" -> runner.failures.take(20).toSeq,
        "measured_runs" -> measured.size,
        "run_s_all" -> measured.map(_._1).toSeq,
        "session_s" -> sessionS,
        "prepare_s" -> prepareS,
        "end_to_end" -> TreeMap(endToEnd.toSeq: _*),
        "per_layer" -> TreeMap(perLayer.toSeq: _*)))
    } finally spark.stop()
  }

  /** Runs the workload and its gate, counting attempts and failures. A run
    * that throws counts as failed. Returns (run seconds, peak heap MB). */
  final class Runner(spark: SparkSession, w: Workload, input: String) {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]

    def once(tr: Tracer): (Double, Double) = {
      HeapPeak.reset()
      attempted += 1
      val t0 = System.nanoTime()
      val result = try Right(w.run(spark, input, tr)) catch { case e: Exception => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      val heap = HeapPeak.peakMb
      val bad = result.fold(e => Seq(s"run threw ${e.toString.take(300)}"), r => w.check(r))
      if (bad.nonEmpty) {
        failed += 1
        failures ++= bad.map(b => s"run $attempted: $b")
      }
      (s, heap)
    }
  }

  /** Counters per call (`<layer>.<call>.<counter>`) of one traced run. The
    * association study also reports fits per second and jobs per variable. */
  def layerCounters(c: Collector, spans: Seq[Span]): Map[String, Double] = spans.flatMap { s =>
    val counters = c.countersOf(s)
    val kept =
      if (s.name.startsWith("pipeline.")) counters.view.filterKeys(PipelineCounters).toMap
      else if (s.items > 0) counters ++ Map(
        "fits_per_s" -> s.items / counters("wall_s"),
        "jobs_per_var" -> counters("jobs") / s.items)
      else counters
    kept.map { case (k, v) => s"${s.name}.$k" -> v }
  }.toMap

  val PipelineCounters: Set[String] = Set("wall_s", "driver_s", "task_s", "jobs")

  /** The session settings of `graft.Bench`; scratch space stays under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JSON output through Jackson, which Spark already brings. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  def spans(ss: Seq[Span]): Seq[ListMap[String, Any]] = ss.map(s => ListMap(
    "name" -> s.name, "run" -> s.runId, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "gc_s" -> s.gcS))
}
