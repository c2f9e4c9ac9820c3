package graft

import org.apache.spark.sql.Row

/** Both paths of every dual-path query. Each query tagged `dualPath` runs
  * at sf0.001 under the default gate (`auto`, which takes the driver-local
  * path at this scale) and under `graft.local.mode=distributed`, and the
  * two must return the same rows. The DuckDB oracle certifies the local
  * path; this suite ties the distributed plan, which runs at scale, to it. */
class DualPathParitySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def sortedRows(q: Q): Seq[Row] =
    q.build(spark, sfDir).collect().toSeq.sortBy(_.toString)

  test("the registry tags its dual-path queries") {
    assert(SparkEntry.registry.exists(_.dualPath))
  }

  test("the dualPath tags are exactly the queries whose build logs a gate decision") {
    // ANSI off, as the mains build the board: some queries rely on an
    // invalid cast reading as NULL
    val ansi = "spark.sql.ansi.enabled"
    val previous = spark.conf.get(ansi)
    spark.conf.set(ansi, "false")
    val gated = try SparkEntry.registry.filter { q =>
      try gateDecisions(q.build(spark, sfDir).collect())._2.nonEmpty
      catch { case e: Exception => fail(s"${q.name} failed: $e", e) }
    }.map(_.name).toSet finally spark.conf.set(ansi, previous)
    val tagged = SparkEntry.registry.filter(_.dualPath).map(_.name).toSet
    assert(gated -- tagged === Set.empty, "reach the gate but are not tagged dualPath")
    assert(tagged -- gated === Set.empty, "tagged dualPath but log no gate decision")
  }

  SparkEntry.registry.filter(_.dualPath).foreach { q =>
    test(s"${q.name}: driver-local and distributed paths return the same rows") {
      val local = sortedRows(q)
      val dist = distributed(sortedRows(q))
      assert(local === dist)
    }
  }
}
