package graft

import org.apache.spark.sql.types._

/** Oracle result-type lint — the guard for the HUGEINT bug class.
  *
  * The driver's correctness hash is type-strict: DuckDB types
  * `sum(<any integer>)` as HUGEINT while Spark emits BIGINT, so an uncast
  * integer sum in an oracle reds the round even when every value matches.
  * This hit `pack_chunked` in round 6 and `ann_label_audit` /
  * `text_langid_eval` in round 7 — three recurrences with no guard.
  *
  * The guard: `tools/lint_oracle_types.py` DESCRIBEs every
  * `SparkEntry.oracleSql` entry in DuckDB and records the result schema in
  * `src/test/resources/oracle_types.json` (regenerate with
  * `sbt "runMain graft.Verify --sql-only /tmp/oracle_sql.json" &&
  *  python3 tools/lint_oracle_types.py /tmp/oracle_sql.json`).
  * This suite then asserts, for every oracled query:
  *   1. the sidecar has an entry (a new oracle without a regenerated
  *      sidecar is a red test, forcing the lint to run), and
  *   2. the Spark query's analyzed schema — column names AND canonical
  *      types — equals what DuckDB will emit, and
  *   3. no sidecar type is HUGEINT/UHUGEINT (the tool also hard-fails on
  *      these at generation time).
  */
class OracleTypeLintSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val sidecar: Map[String, Map[String, String]] = {
    val in = getClass.getResourceAsStream("/oracle_types.json")
    assert(in != null, "missing src/test/resources/oracle_types.json — run tools/lint_oracle_types.py")
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    org.json4s.jackson.JsonMethods.parse(txt).values
      .asInstanceOf[Map[String, Map[String, String]]]
  }

  /** Same canonical vocabulary as tools/lint_oracle_types.py. */
  private def canon(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "int"
    case ShortType => "smallint"
    case ByteType => "tinyint"
    case DoubleType => "double"
    case FloatType => "float"
    case StringType => "string"
    case BooleanType => "boolean"
    case DateType => "date"
    case _: TimestampType => "timestamp"
    case TimestampNTZType => "timestamp"
    case _: DecimalType => "decimal"
    case BinaryType => "binary"
    case ArrayType(e, _) => s"array<${canon(e)}>"
    case _: StructType => "struct"
    case _: MapType => "map"
    case other => other.simpleString
  }

  test("sidecar covers every oracle and contains no HUGEINT") {
    val missing = SparkEntry.oracleSql.keySet -- sidecar.keySet
    assert(missing.isEmpty,
      s"oracles missing from oracle_types.json (regenerate the sidecar): ${missing.toSeq.sorted.mkString(", ")}")
    val huge = for {
      (q, cols) <- sidecar.toSeq; (c, t) <- cols if t.contains("HUGEINT")
    } yield s"$q.$c"
    assert(huge.isEmpty,
      s"DuckDB will emit HUGEINT — CAST the aggregate in the oracle SQL: ${huge.sorted.mkString(", ")}")
  }

  test("every declared query has an oracle and every oracle a query") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noOracle.isEmpty && noQuery.isEmpty,
      s"queries without oracle: ${noOracle.toSeq.sorted.mkString(", ")}; " +
        s"oracles without query: ${noQuery.toSeq.sorted.mkString(", ")}")
  }

  test("query names in the registry are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct.sorted.mkString(", ")}")
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](SparkEntry.unique(Seq(q, q.copy(dualPath = !q.dualPath))))
    assert(e.getMessage.contains(q.name), e.getMessage)
  }

  test("every Spark query schema matches its DuckDB oracle schema") {
    val bad = SparkEntry.oracleSql.keys.toSeq.sorted.flatMap { name =>
      val exp = sidecar.getOrElse(name, Map.empty)
      if (exp.isEmpty) None // covered by the coverage test above
      else {
        val got = SparkEntry.queries(name)(spark, sfDir)
          .schema.fields.map(f => f.name -> canon(f.dataType)).toMap
        if (got == exp) None
        else {
          val diffs = (exp.keySet ++ got.keySet).toSeq.sorted.flatMap { c =>
            (exp.get(c), got.get(c)) match {
              case (Some(a), Some(b)) if a == b => None
              case (a, b) => Some(s"$c: oracle=${a.getOrElse("∅")} spark=${b.getOrElse("∅")}")
            }
          }
          Some(s"$name -> ${diffs.mkString("; ")}")
        }
      }
    }
    assert(bad.isEmpty, s"\noracle/spark schema mismatches (driver hash would red):\n  ${bad.mkString("\n  ")}")
  }
}
