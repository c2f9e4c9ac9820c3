package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def refPath(p: String): String = s"/root/reference/tests/$p"

  /** `df` as built and spread over 7 partitions, so an aggregated kernel's
    * combine also runs over several partials. */
  def layouts(df: DataFrame): Seq[(String, DataFrame)] =
    Seq("as built" -> df, "repartition(7)" -> df.repartition(7))

  /** Runs `body` with every dual-path operator forced onto its distributed
    * path (`graft.local.mode=distributed`). */
  def distributed[T](body: => T): T = LocalPath.distributed(spark)(body)

  /** `body`'s result and the gate decisions it logged, one
    * `graft.LocalPath` INFO line each, in order: captured while `body`
    * runs, through an appender on a non-additive logger config installed
    * for that logger alone (so the lines stay off the console); the
    * logger's previous config is put back afterwards. Lines from every
    * thread count: some operators build their gated inputs in a Future. */
  def gateDecisions[T](body: => T): (T, Seq[String]) = {
    // build the session first: its setLogLevel would drop the capture
    spark
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "graft.LocalPath"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("gate-decisions", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val previous = Option(config.getLoggers.get(name))
    val capture = new LoggerConfig(name, Level.INFO, false)
    capture.addAppender(appender, null, null)
    config.addLogger(name, capture)
    ctx.updateLoggers()
    try {
      val out = body
      (out, lines.toArray(Array.empty[String]).toSeq)
    } finally {
      config.removeLogger(name)
      previous.foreach(config.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
  }

  /** rtol comparison mirroring the reference's assert_frame_equal contract
    * (atol=0, rtol=1e-4 — reference: tests/analyze/test_association_study.py:1-11). */
  def assertRtol(actual: Double, expected: Double, rtol: Double = 1e-4,
                 clue: String = ""): Unit = {
    if (expected.isNaN) assert(actual.isNaN, s"$clue: expected NaN, got $actual")
    else {
      val ok = math.abs(actual - expected) <= rtol * math.abs(expected)
      assert(ok, s"$clue: $actual != $expected (rtol $rtol)")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.create("local[4]", 4,
      "spark.app.name" -> "graft-test",
      // the Spark 4 default the suite is written against: runtime errors
      // (a divide by zero, an invalid cast) fail here where the non-ANSI
      // mains would turn them into NULLs
      "spark.sql.ansi.enabled" -> "true")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
