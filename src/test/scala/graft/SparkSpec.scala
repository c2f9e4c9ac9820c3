package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def refPath(p: String): String = s"/root/reference/tests/$p"

  /** Runs `body` with every dual-path operator forced onto its distributed
    * path (`graft.local.mode=distributed`). */
  def distributed[T](body: => T): T = {
    spark.conf.set(LocalPath.ModeKey, "distributed")
    try body finally spark.conf.unset(LocalPath.ModeKey)
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
