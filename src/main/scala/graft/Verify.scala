package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare
  * (`tools/check_oracle.py <sfDir> <outDir>`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query ...]
  *        runMain graft.Verify --sql-only <out.json> */
object Verify {
  def main(args: Array[String]): Unit = {
    // --sql-only <path>: dump just oracle_sql.json (no Spark session) —
    // used by tools/lint_oracle_types.py to regenerate the type sidecar.
    if (args.headOption.contains("--sql-only")) {
      require(args.length == 2, "usage: Verify --sql-only <out.json>")
      writeOracleJson(args(1), SparkEntry.oracleSql.keySet); return
    }
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // each dual-path decision stays visible (stderr): the only record of
    // which path a gated query took
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.LocalPath", org.apache.logging.log4j.Level.INFO)
    dump(spark, args(0), args(1), args.drop(2).toSeq)
    spark.stop()
  }

  /** Writes each named query's result (all queries when `names` is empty)
    * to `<outDir>/<name>` as parquet, and their oracle SQL to
    * `<outDir>/oracle_sql.json`. Returns the names that failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Seq[String] = {
    val selected = SparkEntry.select(names)
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // loud summary — a failed query would otherwise just be a missing
    // output dir, easy to miss among the INFO noise
    if (failed.nonEmpty)
      println(s"[verify] ${failed.size} QUERY FAILURE(S): ${failed.mkString(", ")}")
    else println(s"[verify] all ${selected.size} queries dumped OK")
    writeOracleJson(s"$outDir/oracle_sql.json", selected.map(_._1).toSet)
    failed
  }

  /** `s` as a JSON string literal. Escapes backslash, quote, and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeOracleJson(path: String, names: Set[String]): Unit = {
    val json = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }
}
