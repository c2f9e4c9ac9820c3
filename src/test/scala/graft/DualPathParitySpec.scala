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

  SparkEntry.registry.filter(_.dualPath).foreach { q =>
    test(s"${q.name}: driver-local and distributed paths return the same rows") {
      val local = sortedRows(q)
      val dist = distributed(sortedRows(q))
      assert(local === dist)
    }
  }
}
