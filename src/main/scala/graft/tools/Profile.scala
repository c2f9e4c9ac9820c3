package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Stage-level profiler (optimization guide §1/§7, UI-free sandbox): runs
  * named SparkEntry queries at SPARK_GRAFT_SF_DIR with the Bench session
  * config and prints, per query, the jobs/stages it ran with per-stage
  * wall time, summed task run time, GC time, input bytes and shuffle
  * read/write bytes — the "where is the time actually going" view the
  * Spark UI would give. Timed pass follows one untimed warm pass so
  * codegen/JIT land on the warmup, like Bench's methodology.
  *
  * Usage: runMain graft.tools.Profile q1 [q2 ...] */
object Profile {

  final class Collector extends SparkListener {
    case class St(var name: String = "", var tasks: Int = 0, var run: Long = 0,
                  var gc: Long = 0, var in: Long = 0, var sr: Long = 0,
                  var sw: Long = 0, var wallMs: Long = 0, var attempts: Int = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    var jobs = 0
    def reset(): Unit = { stages.clear(); jobs = 0 }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(t.stageId, St())
      s.tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        s.run += m.executorRunTime
        s.gc += m.jvmGCTime
        s.in += m.inputMetrics.bytesRead
        s.sr += m.shuffleReadMetrics.totalBytesRead
        s.sw += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val i = sc.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, St())
      // the callsite name is usually an opaque lambda frame; the RDD scope
      // chain (operator names) is what identifies the stage
      val ops = i.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(">")
      val nm = i.name.linesIterator.next().take(40)
      s.name = (if (ops.nonEmpty) ops.take(110) + " | " else "") + nm
      s.attempts += 1
      for (a <- i.submissionTime; b <- i.completionTime) s.wallMs += b - a
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")
    val col = new Collector
    spark.sparkContext.addSparkListener(col)

    // page-cache + codegen warm, Bench discipline
    try {
      new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getAbsolutePath)
          .write.format("noop").mode("overwrite").save())
    } catch { case _: Throwable => () }
    try graft.SparkEntry.warmIndexes(spark, sfDir) catch { case _: Throwable => () }

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm pass (codegen/JIT) on the bench SF itself
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] warm $name failed: $e") }
      System.gc()
      col.reset()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name failed: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      // give listener events a moment to drain
      Thread.sleep(300)
      println(f"%n== $name  wall ${wall}%.3f s   jobs ${col.jobs}  stages ${col.stages.size}")
      val rows = col.stages.toSeq.sortBy(-_._2.wallMs)
      val totRun = rows.map(_._2.run).sum.toDouble
      rows.foreach { case (id, s) =>
        println(f"  stage $id%-4d wall ${s.wallMs}%6d ms  run ${s.run}%7d ms  gc ${s.gc}%5d  tasks ${s.tasks}%4d  in ${s.in / 1048576.0}%8.1f MB  sr ${s.sr / 1048576.0}%7.1f MB  sw ${s.sw / 1048576.0}%7.1f MB  ${s.name}")
      }
      println(f"  total task-run ${totRun / 1000}%.2f s  (wall x32 = ${wall * 32}%.1f core-s)")
    }
    spark.stop()
  }
}
