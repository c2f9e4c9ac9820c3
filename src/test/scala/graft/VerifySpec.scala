package graft

import java.nio.file.Files

/** The oracle dump on a named subset: exactly the named result dirs and
  * oracle entries, so `tools/check_oracle.py` replays just those. */
class VerifySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q1_pricing_summary", "q3_join_revenue_by_nation")

  test("a named subset dumps exactly its results and oracle entries") {
    val out = Files.createTempDirectory("verify").toFile
    val failed = Verify.dump(spark, sfDir, out.getPath, names)
    assert(failed.isEmpty)
    val dirs = out.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == names.toSet)
    val json = new String(Files.readAllBytes(new java.io.File(out, "oracle_sql.json").toPath), "UTF-8")
    val keys = org.json4s.jackson.JsonMethods.parse(json).values
      .asInstanceOf[Map[String, String]].keySet
    assert(keys == names.toSet)
  }

  test("an unknown query name is rejected, naming it") {
    val out = Files.createTempDirectory("verify").toFile
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sfDir, out.getPath, Seq("q1_pricing_summary", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(out.listFiles().isEmpty)
  }
}
