package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{CladeFrame, VariableType}

/** Sources/sinks (SURVEY.md §2.1).
  *
  * The reference reads CSV/TSV with a mandatory "ID" index column
  * (reference: clarite/modules/load.py:17-87) and persists per-variable
  * kinds out-of-band as a `.dtypes` JSON sidecar
  * (reference: clarite/cli/custom_types.py:66-152). We keep both surfaces
  * and add Parquet (schema self-describing; the format actually used at
  * 100 TB scale — columnar, splittable, predicate-pushdown-able).
  */
object Load {

  /** Read a delimited file; first column (or `idCol`) becomes the id.
    * Mirrors load.from_csv/from_tsv (reference: load.py:17-87). */
  def fromDelimited(
      spark: SparkSession,
      path: String,
      sep: String,
      idCol: Option[String] = None): CladeFrame = {
    val raw = spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("inferSchema", "true")
      .option("nullValue", "NA")
      .option("nanValue", "NaN")
      .csv(path)
    val idName = idCol.getOrElse(raw.columns.head)
    require(raw.columns.contains(idName), s"id column $idName not present")
    CladeFrame(raw.withColumnRenamed(idName, CladeFrame.DefaultId))
  }

  /** Raw delimited read with no id handling (the reference's
    * `index_col=None` path — a sequential id is attached afterwards via
    * [[withSequentialId]]). */
  def rawDelimited(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("inferSchema", "true")
      .option("nullValue", "NA")
      .option("nanValue", "NaN")
      .csv(path)

  def fromCsv(spark: SparkSession, path: String, idCol: Option[String] = None): CladeFrame =
    fromDelimited(spark, path, ",", idCol)

  def fromTsv(spark: SparkSession, path: String, idCol: Option[String] = None): CladeFrame =
    fromDelimited(spark, path, "\t", idCol)

  def fromParquet(spark: SparkSession, path: String, idCol: Option[String] = None): CladeFrame = {
    val raw = spark.read.parquet(path)
    idCol match {
      case Some(c) => CladeFrame(raw.withColumnRenamed(c, CladeFrame.DefaultId))
      case None    => CladeFrame(raw, raw.columns.head) // caller-supplied key col
    }
  }

  /** ORC source (Spark-native reader — same pushdown/pruning contract as
    * parquet; interchange format breadth beyond the reference's CSV/TSV). */
  def fromOrc(spark: SparkSession, path: String, idCol: Option[String] = None): CladeFrame = {
    val raw = spark.read.orc(path)
    idCol match {
      case Some(c) => CladeFrame(raw.withColumnRenamed(c, CladeFrame.DefaultId))
      case None    => CladeFrame(raw, raw.columns.head)
    }
  }

  /** JSONL source — the native interchange format of web-scale text corpora
    * (one JSON object per line; splittable when uncompressed, so a 100 TB
    * dump parallelizes per line-range). Pass `schema` in production: it
    * pins the contract AND skips inference's extra full scan; PERMISSIVE
    * mode shunts malformed lines into `_corrupt_record` instead of failing
    * the job (a web-scale dump ALWAYS has some). Note Spark's contract:
    * a query referencing ONLY `_corrupt_record` against the raw files is
    * rejected — cache the parsed frame (or project data columns too)
    * before auditing corrupt rows. */
  def fromJsonl(spark: SparkSession, path: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None,
                idCol: Option[String] = None): CladeFrame = {
    val reader = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    val withSchema = schema.fold(reader) { s =>
      val fields = if (s.fieldNames.contains("_corrupt_record")) s
        else s.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      reader.schema(fields)
    }
    val raw = withSchema.json(path)
    idCol match {
      case Some(c) => CladeFrame(raw.withColumnRenamed(c, CladeFrame.DefaultId))
      case None    => CladeFrame(raw, raw.columns.head)
    }
  }

  /** JSONL sink. Default codec gzip for corpus hand-off; pass "none" when
    * downstream needs line-range splittability over a single large file. */
  def writeJsonl(df: DataFrame, path: String, codec: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", codec).json(path)

  /** Persist `df` hash-bucketed by `keys` as a saved table: two tables
    * bucketed the same way equi-join WITHOUT a shuffle on either side (the
    * 100 TB path for repeated fact-to-fact joins — pay the shuffle once at
    * write time, never per query). Requires saveAsTable (bucket metadata
    * lives in the catalog, not the files). */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String],
                   numBuckets: Int): Unit = {
    require(keys.nonEmpty && numBuckets > 0, "keys and numBuckets required")
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Attach a sequential row-number id (the reference's default RangeIndex →
    * "ID" behavior when no index column exists, load.py:44-49). zipWithIndex
    * keeps file order — deterministic for a given input. */
  /** Write parquet with output files sized near `targetMB` — the
    * small-files/giant-files fix for corpus releases. File count comes
    * from Catalyst's own size estimate of the OPTIMIZED plan (column
    * pruning and filters already applied), derated by a columnar
    * compression factor: plan stats estimate in-memory row bytes, parquet
    * on disk is typically ~3-4x smaller. One round `repartition(n)` —
    * the shuffle is the price of bounded file sizes at any input
    * partitioning; for an already-sorted frame prefer coalesce upstream.
    * Returns the file count chosen (useful for audits). */
  def writeSized(df: DataFrame, path: String, targetMB: Int = 512,
                 compressionFactor: Double = 3.5): Int = {
    require(targetMB > 0, "targetMB must be positive")
    require(compressionFactor >= 1.0, "compressionFactor must be >= 1")
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val onDisk = (BigDecimal(estBytes) / compressionFactor).toBigInt
    val target = BigInt(targetMB.toLong * 1024 * 1024)
    val n = ((onDisk + target - 1) / target).max(1).min(1 << 20).toInt
    df.repartition(n).write.mode("overwrite").parquet(path)
    n
  }

  def withSequentialId(df: DataFrame): CladeFrame = {
    val spark = df.sparkSession
    val schema = StructType(StructField(CladeFrame.DefaultId, LongType, nullable = false)
      +: df.schema.fields)
    val rdd = df.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(i +: r.toSeq)
    }
    CladeFrame(spark.createDataFrame(rdd, schema))
  }

  /** Assert that the id column is unique — the reference enforces a proper
    * index; at scale this is one aggregation, not a collect. */
  def assertUniqueId(cf: CladeFrame): CladeFrame = {
    val dup = cf.df.groupBy(col(cf.idCol)).count().filter(col("count") > 1).limit(1).count()
    require(dup == 0, s"duplicate values in id column ${cf.idCol}")
    cf
  }

  // --- dtypes sidecar -----------------------------------------------------

  /** Serialize types+levels as the sidecar JSON
    * ({col: {type, categories, ordered}}, reference: custom_types.py:117-152). */
  def dtypesJson(cf: CladeFrame): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    cf.variables.map { v =>
      val t = cf.typeOf(v)
      val cats = cf.levels.get(v) match {
        case Some(ls) =>
          s""","categories":[${ls.map(q).mkString(",")}],"ordered":${cf.ordered(v)}"""
        case None     => ""
      }
      s"${q(v)}:{${"\"type\""}:${q(t.name)}$cats}"
    }.mkString("{", ",", "}")
  }

  /** Parse a sidecar produced by [[dtypesJson]] (minimal JSON parser for the
    * fixed shape; avoids adding a JSON dependency). */
  def parseDtypesJson(json: String)
      : (Map[String, VariableType], Map[String, Seq[String]], Set[String]) = {
    // shape: {"col":{"type":"binary","categories":["a","b"],"ordered":false},...}
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\{([^{}]*)\}""".r
    val typeRe = """"type"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val catsRe = """"categories"\s*:\s*\[([^\]]*)\]""".r
    val strRe = """"((?:[^"\\]|\\.)*)"""".r
    // single-pass unescape (ordered replace would corrupt literal
    // backslash sequences like "C:\\notes" and never decoded \uXXXX)
    def unescape(str: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < str.length) {
        val c = str.charAt(i)
        if (c == '\\' && i + 1 < str.length) {
          str.charAt(i + 1) match {
            case '"'  => sb += '"'; i += 2
            case '\\' => sb += '\\'; i += 2
            case 'n'  => sb += '\n'; i += 2
            case 'r'  => sb += '\r'; i += 2
            case 't'  => sb += '\t'; i += 2
            case 'u' if i + 5 < str.length =>
              sb += Integer.parseInt(str.substring(i + 2, i + 6), 16).toChar
              i += 6
            case other => sb += other; i += 2
          }
        } else { sb += c; i += 1 }
      }
      sb.toString
    }
    var types = Map.empty[String, VariableType]
    var levels = Map.empty[String, Seq[String]]
    var ordered = Set.empty[String]
    val orderedRe = """"ordered"\s*:\s*true""".r
    for (m <- entry.findAllMatchIn(json)) {
      val colName = unescape(m.group(1))
      val body = m.group(2)
      typeRe.findFirstMatchIn(body).foreach { tm =>
        types += colName -> VariableType.fromString(unescape(tm.group(1)))
      }
      catsRe.findFirstMatchIn(body).foreach { cm =>
        levels += colName -> strRe.findAllMatchIn(cm.group(1)).map(x => unescape(x.group(1))).toSeq
      }
      if (orderedRe.findFirstIn(body).nonEmpty) ordered += colName
    }
    (types, levels, ordered)
  }

  /** Save data as TSV + dtypes sidecar, mirroring save_clarite_data
    * (reference: custom_types.py:117-152). */
  def saveTsvWithSidecar(cf: CladeFrame, dataPath: String, sidecarPath: String): Unit = {
    cf.df.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(dataPath)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecarPath), dtypesJson(cf))
  }

  /** Load TSV + sidecar, reapplying saved kinds and category levels
    * (reference: custom_types.py:38-114). */
  def loadTsvWithSidecar(spark: SparkSession, dataPath: String, sidecarPath: String): CladeFrame = {
    val base = fromTsv(spark, dataPath)
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sidecarPath)))
    val (types, levels, ordered) = parseDtypesJson(json)
    // categorical-kind columns are physically strings; continuous → double
    val present = base.df.columns.toSet
    val casted = base.df.withColumns(types.collect {
      case (c, VariableType.Continuous) if present(c) => c -> col(c).cast(DoubleType)
      case (c, t) if present(c) && t != VariableType.Unknown => c -> col(c).cast(StringType)
    }.toMap)
    CladeFrame(casted, base.types ++ types, levels, base.idCol, ordered)
  }
}
