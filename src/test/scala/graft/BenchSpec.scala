package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** The timing harness at sf0.001: its job collector, how a failed line is
  * published, the x10 scale-up step and the names of the full-corpus forms. */
class BenchSpec extends SparkSpec {
  private val tiny = SparkEntry.TinyDir

  test("the collector counts a line's jobs, the same on a second run") {
    val twoActions: Bench.Build = (s, dir) => {
      val n = s.read.parquet(s"$dir/nation.parquet").count()
      s.read.parquet(s"$dir/region.parquet").withColumn("n", lit(n))
    }
    def jobs() = {
      val Seq(line) = Bench.run(spark, tiny, Seq("two_actions" -> twoActions))
      assert(!line.failed && line.passes.size === Bench.Passes)
      val t = line.trace.get
      assert(t.stages.nonEmpty && t.stages.forall(_.tasks > 0))
      assert(line.medianPass.buildS > 0 && line.medianPass.sinkS > 0)
      t.jobs
    }
    val first = jobs()
    assert(first >= 2, "a count in the build and the sink")
    assert(jobs() === first, "one listener per context")
  }

  test("a line that throws is listed as failed and is out of the total") {
    val ok: Bench.Build = (s, dir) => s.read.parquet(s"$dir/region.parquet")
    val boom: Bench.Build = (_, _) => throw new IllegalStateException("boom")
    val lines = Bench.run(spark, tiny, Seq("boom" -> boom, "ok" -> ok))
    assert(lines.map(l => l.name -> l.failed) === Seq("boom" -> true, "ok" -> false))
    val json = new ObjectMapper()
    val full = json.readTree(Bench.fullJson(lines, tiny))
    assert(full.get("failed").elements().asScala.map(_.asText).toSeq === Seq("boom"))
    assert(full.get("queries").fieldNames().asScala.toSeq === Seq("ok"))
    assert(!full.get("stddev").has("boom") && !full.get("layers").has("boom"))
    assert(full.get("value").asDouble === lines(1).median)
    assert(full.get("layers").get("ok").get("jobs").asInt >= 1)
    val compact = json.readTree(Bench.compactJson(lines, tiny, "out.json"))
    assert(compact.get("failed").elements().asScala.map(_.asText).toSeq === Seq("boom"))
    assert(compact.get("n_queries").asInt === 1 && !compact.get("queries").has("boom"))
  }

  test("--scale-up writes x10 join-consistent tables") {
    val base = Files.createTempDirectory("graft-scale")
    val dst = base.resolve("sfx").toString
    try scaledUp(dst)
    finally Files.walk(base).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def scaledUp(dst: String): Unit = {
    Bench.scaleUp(spark, tiny, dst)
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    Seq("lineitem", "orders", "customer", "supplier", "part", "events", "documents",
      "embeddings").foreach(t => assert(rows(dst, t) === 10 * rows(tiny, t), t))
    Seq("nation", "region").foreach(t => assert(rows(dst, t) === rows(tiny, t), t))
    assert(spark.read.parquet(s"$dst/lineitem.parquet").inputFiles.length === 32)
    def revenue(dir: String) = SparkEntry.queries("q3_join_revenue_by_nation")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val (src, big) = (revenue(tiny), revenue(dst))
    assert(big.keySet === src.keySet)
    src.foreach { case (n, (rev, orders)) =>
      assert(big(n)._2 === 10 * orders, n)
      assertRtol(big(n)._1, 10 * rev, 1e-6, n) // float-sum order and round(, 2)
    }
  }

  test("every full-corpus form is named <registered query>_<suffix>") {
    val registered = SparkEntry.queries.keySet
    val names = BenchForms.all.map(_._1)
    assert(names.distinct === names)
    assert(names.filter(registered).isEmpty, "a form shadows a registered query")
    val orphans = names.filterNot(n => registered.exists(q => n.startsWith(q + "_")))
    assert(orphans === Seq("ann_opq_train_full"))
    assert(Bench.select(Nil).map(_._1) === registered.toSeq.sorted, "the no-argument board")
    assert(Bench.select(Seq("q1_pricing_summary", "dedup_minhash_lsh_full")).map(_._1) ===
      Seq("dedup_minhash_lsh_full", "q1_pricing_summary"))
    assert(intercept[IllegalArgumentException](Bench.select(Seq("nope"))).getMessage.contains("nope"))
  }
}
