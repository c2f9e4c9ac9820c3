package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a library layer. Spans of one run share `runId`;
  * `parent` names the enclosing span (the run itself); `items` is the number
  * of units the call works on (variables tested), 0 when not counted. */
final case class Span(name: String, runId: Int, parent: String,
                      startMs: Long, endMs: Long, wallS: Double, gcS: Double, items: Int)

/** Per-job and per-stage facts gathered by a SparkListener, in the style of
  * the repository's stage profiler. Jobs are attributed to spans by their
  * submission time: the benchmark is a single caller whose spans never
  * overlap, so every job submitted inside a span's interval is that call's
  * work, including jobs a call starts from helper threads. */
final class Collector extends SparkListener {
  import Collector._

  /** Events arriving while disabled are ignored. */
  @volatile var enabled = true

  val jobs = new ConcurrentHashMap[Int, JobFacts]()
  val stages = new ConcurrentHashMap[Int, StageFacts]()

  private def stage(id: Int): StageFacts = stages.computeIfAbsent(id, _ => new StageFacts)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (enabled) jobs.put(j.jobId, JobFacts(j.time, j.stageIds))

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (enabled) stage(s.stageInfo.stageId).submittedMs =
      s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (enabled) {
    val st = stage(s.stageInfo.stageId)
    st.completedMs = s.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (st.submittedMs == 0L) st.submittedMs = s.stageInfo.submissionTime.getOrElse(st.completedMs)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (enabled && m != null) {
      val st = stage(t.stageId)
      st.synchronized {
        st.runMs += m.executorRunTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        st.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stages.clear() }

  /** Counters of one span: jobs submitted inside it and the stages they ran. */
  def countersOf(s: Span): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.submittedMs >= s.startMs && j.submittedMs <= s.endMs)
    val ran = js.flatMap(_.stageIds).toSeq.distinct.flatMap(id => Option(stages.get(id)))
      .filter(_.submittedMs > 0L)
    val busy = Collector.coveredMs(ran.map(st =>
      (st.submittedMs max s.startMs, (if (st.completedMs > 0L) st.completedMs else s.endMs) min s.endMs)))
    val input = ran.map(_.inputRecords).sum
    Map(
      "wall_s" -> s.wallS,
      "driver_s" -> math.max(0.0, s.wallS - busy / 1000.0),
      "task_s" -> ran.map(_.runMs).sum / 1000.0,
      "gc_s" -> s.gcS,
      "jobs" -> js.size.toDouble,
      "stages" -> ran.size.toDouble,
      "shuffle_mb" -> ran.map(_.shuffleBytes).sum / 1048576.0,
      "rows_per_input_row" ->
        (if (input == 0L) 0.0 else ran.map(_.shuffleRecords).sum.toDouble / input))
  }
}

object Collector {
  final class StageFacts {
    @volatile var submittedMs = 0L
    @volatile var completedMs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var shuffleRecords = 0L
    var inputRecords = 0L
  }
  final case class JobFacts(submittedMs: Long, stageIds: Seq[Int])

  private val installed = new ConcurrentHashMap[SparkContext, Collector]()

  /** The context's collector, registered on first use only: re-registering
    * per call would double-count every event. */
  def install(sc: SparkContext): Collector =
    installed.computeIfAbsent(sc, { c =>
      val col = new Collector
      c.addSparkListener(col)
      col
    })

  /** Total length of the union of [start, end) intervals, in ms. */
  def coveredMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Times calls into library layers. Untraced, it only runs the body; traced,
  * it records a [[Span]] per call and the process GC time spent inside it. */
final class Tracer(val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var runId = 0

  def startRun(id: Int): Unit = runId = id

  def span[T](name: String, items: Int = 0)(body: => T): T =
    if (!traced) body
    else {
      val gc0 = Tracer.gcMs()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(name, runId, s"run$runId", ms0, System.currentTimeMillis(), wall,
        (Tracer.gcMs() - gc0) / 1000.0, items)
      out
    }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
}
