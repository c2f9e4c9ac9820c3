package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every graft main and the test suite start
  * from the base config below, so the board, the oracle dump and the tests
  * run one engine configuration. A caller's real difference is an explicit
  * override, applied after the base. */
object GraftSession {

  private val base: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.caseSensitive" -> "true",
    // non-ANSI cast semantics: categorize/make_continuous rely on
    // invalid-cast -> NULL (pandas to_numeric parity), and the DuckDB
    // oracle replays the same decisions with TRY_CAST
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // 235 queries x several codegen stages each far exceeds the default
    // 100-entry generated-class cache: pass 2 of a multi-stage query was
    // recompiling every stage pass 1 had just compiled (cramers_v
    // measured 5.3s in the shared bench JVM vs 1.4s isolated, all of it
    // Janino). A long-lived service JVM sizes this to its query library.
    "spark.sql.codegen.cache.maxEntries" -> "8000",
    // fail loudly on broken generated code instead of silently falling
    // back to interpreted execution: a doGenCode bug is a perf cliff in
    // production and must be a red test or a failed line (caught the
    // NearestLists / HyperplaneSignature / CosineSimilarity
    // nullable-vs-codegen bug)
    "spark.sql.codegen.fallback" -> "false",
    "spark.ui.enabled" -> "false")

  def create(master: String, shufflePartitions: Int,
             overrides: (String, String)*): SparkSession =
    (base ++ overrides).foldLeft(
      SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
}
