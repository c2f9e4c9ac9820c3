package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The jobs and stages one SparkContext runs, gathered by one listener.
  * A caller attributes work to a span of wall-clock time: every job
  * submitted inside [start, end] is that span's, including jobs started
  * from helper threads, so spans must not overlap. Events are recorded only
  * between [[start]] and [[stop]]. */
final class JobCollector private () extends SparkListener {
  import JobCollector._

  @volatile private var recording = false
  // (submission ms, stage ids) per job; per-stage sums, by stage id
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val stages = mutable.HashMap.empty[Int, StageRow]
  private var openJobs = 0
  @volatile private var lastEventNs = 0L

  private def event(f: => Unit): Unit =
    if (recording) synchronized { f; lastEventNs = System.nanoTime() }

  private def update(id: Int)(f: StageRow => StageRow): Unit =
    stages(id) = f(stages.getOrElse(id, StageRow(id)))

  override def onJobStart(j: SparkListenerJobStart): Unit =
    event { jobs += (j.time -> j.stageIds); openJobs += 1 }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = event(openJobs -= 1)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = event(update(t.stageId) { s =>
    val m = t.taskMetrics
    if (m == null) s.copy(tasks = s.tasks + 1)
    else s.copy(tasks = s.tasks + 1, taskMs = s.taskMs + m.executorRunTime,
      gcMs = s.gcMs + m.jvmGCTime, inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
      readBytes = s.readBytes + m.shuffleReadMetrics.totalBytesRead,
      writeBytes = s.writeBytes + m.shuffleWriteMetrics.bytesWritten)
  })

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = event {
    val i = sc.stageInfo
    // the call-site name is usually an opaque lambda frame; the RDD scope
    // chain (operator names) is what identifies the stage
    val ops = i.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(">")
    val name = (if (ops.nonEmpty) ops.take(110) + " | " else "") +
      i.name.linesIterator.nextOption().getOrElse("").take(40)
    val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
    update(i.stageId)(s => s.copy(name = name, wallMs = s.wallMs + wall))
  }

  /** Forgets what was recorded and records from now on. */
  def start(): Unit = synchronized {
    jobs.clear(); stages.clear(); openJobs = 0; recording = true
  }

  /** Stops recording and forgets what was recorded. */
  def stop(): Unit = synchronized {
    recording = false; jobs.clear(); stages.clear()
  }

  /** Waits (at most 10 s) until every job seen has ended and no event has
    * arrived for 100 ms: the listener bus delivers asynchronously, but an
    * action returns only after its jobs' end events are posted. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def busy = synchronized(openJobs > 0) || System.nanoTime() - lastEventNs < 100000000L
    while (busy && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** The jobs submitted in [startMs, endMs] and the stages they ran. */
  def trace(startMs: Long, endMs: Long): Trace = synchronized {
    val js = jobs.filter { case (t, _) => t >= startMs && t <= endMs }
    Trace(js.size, js.flatMap(_._2).distinct.sorted.flatMap(stages.get).toSeq)
  }
}

object JobCollector {

  /** One stage's wall time and its tasks' summed run time, GC time, input
    * and shuffle read/write bytes. */
  final case class StageRow(id: Int, name: String = "", tasks: Int = 0, wallMs: Long = 0,
                            taskMs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
                            readBytes: Long = 0, writeBytes: Long = 0)

  /** A span's job count and the stages its jobs ran (skipped stages run
    * no task and are absent). */
  final case class Trace(jobs: Int, stages: Seq[StageRow]) {
    def taskS: Double = stages.map(_.taskMs).sum / 1000.0
    def gcS: Double = stages.map(_.gcMs).sum / 1000.0
    def inputMb: Double = stages.map(_.inputBytes).sum / 1048576.0
    def shuffleMb: Double = stages.map(_.writeBytes).sum / 1048576.0
  }

  private val installed = new ConcurrentHashMap[SparkContext, JobCollector]()

  /** The context's collector, registered on first use only: a second
    * registration would see every event twice. */
  def install(sc: SparkContext): JobCollector = {
    installed.keySet.removeIf(_.isStopped)
    installed.computeIfAbsent(sc, { c =>
      val col = new JobCollector
      c.addSparkListener(col)
      col
    })
  }
}
