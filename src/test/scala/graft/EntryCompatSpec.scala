package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** SparkEntry harness-contract tests: the testdata generator has shipped
  * events.ts as TIMESTAMP(NANOS)-read-as-long AND as TIMESTAMP_NTZ micros
  * across rounds — both encodings must produce identical query results. */
class EntryCompatSpec extends SparkSpec {

  test("events.ts normalization: nanos-long and TIMESTAMP_NTZ parquet agree") {
    val dir = Files.createTempDirectory("graft-ts-compat").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.write.mode("overwrite").parquet(s"$dir/a/events.parquet")
    // same instants as raw nanosecond longs (the pre-round-7 encoding)
    val micros = src.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts") / 1000
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    src.withColumn("ts", (micros * 1000).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/b/events.parquet")
    val q = SparkEntry.queries("events_interarrival")
    val a = q(spark, s"$dir/a").collect().map(_.toSeq).toSet
    val b = q(spark, s"$dir/b").collect().map(_.toSeq).toSet
    assert(a.nonEmpty, "compat fixture must produce rows")
    assert(a === b, "both ts encodings must yield identical results")
  }

  test("building and collecting a query leaves the caller's session conf alone") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.unset(key)
    val before = s.conf.getOption(key)
    val rows = SparkEntry.queries("events_interarrival")(s, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(s.conf.getOption(key) === before, s"$key changed by a table read")
  }

  test("embedding/doc_id encoding drift: double[] vectors and int32 ids agree") {
    // guard for the NEXT testdata regeneration: if the generator ships
    // embeddings as array<double> (not float) or ids as int32 (not
    // int64), every query must still produce the same VALUES (the driver
    // hash may see different integer widths, but the engine must not
    // break or change results)
    val dir = Files.createTempDirectory("graft-enc-compat").toString
    val src = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    e.write.mode("overwrite").parquet(s"$dir/a/embeddings.parquet")
    e.withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("vec_id", col("vec_id").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/b/embeddings.parquet")
    val d = spark.read.parquet(s"$src/documents.parquet")
    d.write.mode("overwrite").parquet(s"$dir/a/documents.parquet")
    d.withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/b/documents.parquet")
    Seq("ann_bruteforce_topk", "ann_knn_classify", "text_token_count",
        "dedup_exact",
        // the kmeansInit/NearestLists/HyperplaneSignature paths — the trio
        // this guard caught as float-only when first written
        "cluster_kmeans", "ann_lsh_topk", "ann_ivf_topk").foreach { name =>
      val q = SparkEntry.queries(name)
      // normalize integer widths before compare: values are the contract
      def run(sub: String) = q(spark, s"$dir/$sub").collect()
        .map(_.toSeq.map {
          case i: Int => i.toLong
          case f: Float => f.toDouble
          case v => v
        }).toSet
      val a = run("a"); val b = run("b")
      assert(a.nonEmpty, s"$name compat fixture must produce rows")
      assert(a === b, s"$name: re-encoded parquet must yield identical values")
    }
  }

  test("sig6: 6 significant digits at any magnitude, ties away from zero, null/zero passthrough") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val xs = Seq(
      116710.8152   -> 116711.0,      // 1e5 magnitude -> integer quantum
      -121.529349   -> -121.529,      // 1e2 -> 3dp
      0.00123456789 -> 0.00123457,    // small magnitude keeps 6 sig digits
      1234565.0     -> 1234570.0,     // >1e6 -> ELSE branch (divide form), tie away from zero
      -1234565.0    -> -1234570.0,    // negative tie away from zero
      28.613849999  -> 28.6138,       // the halfway-decimal case round(x,4) flipped
      0.0           -> 0.0)
    val df = xs.map(_._1).toDF("x")
    val got = df.select(SparkEntry.sig6(col("x")).as("r")).collect().map(_.getDouble(0))
    got.zip(xs.map(_._2)).zip(xs.map(_._1)).foreach { case ((g, want), in) =>
      assert(g === want, s"sig6($in): got $g want $want")
    }
    val withNull = Seq[Option[Double]](None).toDF("x")
    assert(withNull.select(SparkEntry.sig6(col("x"))).head().isNullAt(0))
    // the SQL twin contains the same scale expression shape (spot check),
    // including the r12 decade clamp
    assert(SparkEntry.sqlSig6("z")
      .contains("greatest(least(floor(log10(abs(z)) + 1e-9), 27), -17)"))
  }

  test("sig6: out-of-range magnitudes clamp to an exact decade instead of NaN/garbage (ADVICE r11)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val xs = Seq(
      // |x| < 1e-17: quantum pinned at 1e-22 (coarser than 6 sig digits,
      // still exact scale): near-singular-fit SEs stay finite and stable
      1.23456789e-20  -> 1.23e-20,
      1e-20           -> 1e-20,
      -2.5e-19        -> -2.5e-19,
      // below the pinned quantum: rounds to zero, never c*inf/inf = NaN
      1e-300          -> 0.0,
      -4.9e-324       -> -0.0, // smallest subnormal
      // |x| >= 1e28: quantum pinned at 1e22 (finer than 6 sig digits)
      1.234567891e30  -> 1.23456789e30,
      1e30            -> 1e30)
    val got = xs.map(_._1).toDF("x")
      .select(SparkEntry.sig6(col("x")).as("r")).collect().map(_.getDouble(0))
    got.zip(xs).foreach { case (g, (in, want)) =>
      assert(!g.isNaN && !g.isInfinite, s"sig6($in) must be finite, got $g")
      assert(g === want, s"sig6($in): got $g want $want")
    }
  }
}
