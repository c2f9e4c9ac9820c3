package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Adding a query: append a `Q` to its family's `all` in `graft.queries`,
  * beside the SQL helpers only it uses. `oracle` renders the DuckDB SQL that
  * must return `build`'s rows; set `dualPath` if `build` reaches [[LocalPath.gate]]. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                   oracle: () => String, dualPath: Boolean = false)

/** Driver contract: one query per implemented operator (SURVEY.md §2), each
  * with an ANSI-SQL oracle the driver executes in DuckDB over the same
  * parquet tables. Column names/types and row-level values must hash-match;
  * every float is rounded identically on both sides and every result has a
  * deterministic ORDER BY.
  */
object SparkEntry {

  /** Every query with its oracle, family by family; built once. */
  lazy val registry: Seq[Q] = unique(Seq(RelationalQueries.all, DescribeQueries.all,
    ModifyQueries.all, AnalyzeQueries.all, EventQueries.all, GraphQueries.all,
    DedupQueries.all, AnnQueries.all, TextQueries.all, MultimodalQueries.all,
    SampleQueries.all, PipelineQueries.all).flatten)

  /** `qs`, failing on any name that appears twice. */
  private[graft] def unique(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Each query's build, by name. Renders no oracle SQL. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Each query's DuckDB oracle, by name, rendered on first use. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle()).toMap

  /** Pre-build heavy build-once artifacts (IVF index, PQ codebooks)
    * outside any timed loop — Bench calls this during warmup. */
  def warmIndexes(s: SparkSession, dir: String): Unit =
    { Tables.ivfIndex(s, dir); Tables.ivfGraphIndex(s, dir); Tables.pqIndex(s, dir); () }

  /** The smallest test-data SF: [[entry]]'s input and Bench's warm-up. */
  val TinyDir = "/root/testdata/sf0.001"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, TinyDir)

  /** The named queries in [[queries]]' order, or all of them when `names`
    * is empty. An unknown name fails, naming it: a typo would otherwise
    * run nothing and exit 0. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }
  }

  /** 6-significant-digit rounding that is bitwise deterministic across
    * Spark and DuckDB — the robust alternative to round(x, d) for columns
    * whose magnitude grows with SF (at sf0.1 the interaction betas reach
    * 1e5, where the ~1e-9 relative cross-engine solve noise EQUALS a 4dp
    * quantum and parks results on rounding boundaries). Mechanics: scale
    * by an exactly-representable nonnegative power of ten (pow(10, k),
    * k in [0, 22], exact in both libms — verified), integer-round (both
    * engines round half away from zero), scale back; the decade exponent
    * floor(log10|x| + 1e-9) carries a nudge so the engines' <=1-ulp log10
    * difference can never split them across a decade boundary (a
    * consistently "wrong" decade near the boundary is harmless — only
    * cross-engine agreement matters). */
  private[graft] def sig6(c: Column): Column = {
    // decade exponent CLAMPED to [-17, 27] so the scale factor pow(10, k)
    // stays within the verified-exact k in [0, 22] in BOTH libms (ADVICE
    // r11): magnitudes outside [1e-17, 1e28) degrade gracefully to a
    // coarser (tiny x) or finer (huge x) — but still bitwise-deterministic
    // — quantum, and subnormals round to 0 instead of c*inf/inf = NaN.
    val e = greatest(least(floor(log10(abs(c)) + lit(1e-9)), lit(27.0)), lit(-17.0))
    val k = lit(5.0) - e
    when(c.isNull || c === 0.0, c)
      .otherwise(when(k >= 0,
        round(c * pow(lit(10.0), k), 0) / pow(lit(10.0), k))
        .otherwise(round(c / pow(lit(10.0), -k), 0) * pow(lit(10.0), -k)))
  }

  /** SQL twin of [[sig6]] for the DuckDB oracles (same ops, same order). */
  private[graft] def sqlSig6(x: String): String = {
    val e = s"greatest(least(floor(log10(abs($x)) + 1e-9), 27), -17)"
    s"""CASE WHEN $x IS NULL OR $x = 0 THEN $x
       | WHEN 5 - $e >= 0 THEN round($x * pow(10, 5 - $e)) / pow(10, 5 - $e)
       | ELSE round($x / pow(10, $e - 5)) * pow(10, $e - 5) END""".stripMargin
  }
}
