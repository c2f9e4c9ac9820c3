package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** What more than one query family reads: the table reader, the keyed
  * lineitem, the image and URL corpora (with the SQL twins their oracles
  * replay), the committed lossy-WebP fixture, and the build-once IVF/PQ
  * index caches. */
private[graft] object Tables {

  /** Inferred parquet schema per table PATH — metadata only, the same
    * class as Spark's own per-session file-listing cache (guide §6): a
    * bare `read.parquet` runs a footer-inference JOB on every call, which
    * taxed every query construction ~25-30 ms of pure scheduling floor
    * (several t() calls per query × 3 bench passes × 235 queries).
    * Passing the schema explicitly skips that job; the schema of an
    * immutable table path never changes within a session, and every
    * query still computes entirely from the parquet files. */
  private val tableSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped in two parquet encodings across testdata
    // generations: TIMESTAMP(NANOS) (Spark has no ns timestamps — read as
    // a long under nanosAsLong, which GraftSession's base sets; the
    // caller's session is never changed here) and TIMESTAMP_NTZ micros.
    // Normalize BOTH to a session-tz microsecond TIMESTAMP so every query
    // sees one type (sessions run UTC, so NTZ wall time == the instant, and
    // DuckDB's naive epoch(ts) agrees; queries aggregate at >= second
    // granularity)
    val path = s"$dir/$name.parquet"
    val schema = tableSchemaCache.computeIfAbsent(path,
      _ => s.read.parquet(path).schema)
    val df = s.read.schema(schema).parquet(path)
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  /** lineitem with a deterministic synthetic row id: a hash of the full row.
    * Zero-shuffle and partition-parallel (the previous global row_number()
    * window funneled the whole table through ONE partition — a scale-killer).
    * Identical full rows share an id, which is fine here: they are
    * interchangeable, no harness query outputs or groups by `id`, and the
    * CladeFrame id is only an observation label for these QC operators. */
  def lineitemKeyed(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.withColumn("id", xxhash64(li.columns.map(col): _*))
  }

  /** lineitem with deterministic injected nulls (the TPC-H tables have no
    * NULLs; zero-discount/zero-tax become NULL so NA-aware operators have
    * real work). */
  def lineitemWithNulls(s: SparkSession, dir: String): DataFrame =
    lineitemKeyed(s, dir)
      .withColumn("disc_nz", nullif(col("l_discount"), lit(0.0)))
      .withColumn("tax_nz", nullif(col("l_tax"), lit(0.0)))

  /** Committed binary fixture (see test-scope FixtureGen for
    * regeneration) — feeds the driver-visible multimodal queries whose
    * oracles are VALUES literals pinned to these exact bytes. */
  def fixtureBytes(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing fixture resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** The committed REAL lossy-WebP payload (libwebp 1.2.4-encoded VP8
    * keyframe, 64x48 q=1 — see FIXTURES.md): the lossy class of the
    * mixed-container corpora. Decodes through the from-scratch
    * [[graft.pipeline.Vp8]] decoder; its YUV planes are
    * conformance-pinned byte-exact to libwebp's own decode in Vp8Spec,
    * which is what licenses the oracle's literal replay of its dhash. */
  lazy val lossyVp8Fixture: Array[Byte] =
    fixtureBytes("/graft/fixtures/lossy_vp8.webp")

  /** documents with two deterministic embedded URLs per row (mixed case,
    * utm/fragment variants, a quoted port-carrying mirror) — the shared
    * fixture for the URL extraction/canonicalization queries; the oracle
    * builds the identical body with || concatenation. */
  def urlBody(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("body", concat(
      col("text"), lit(" see https://Site"), (col("doc_id") % 5).cast("string"),
      lit(".Example.COM/Page/"), (col("doc_id") % 25).cast("string"),
      when(col("doc_id") % 4 === 0, "?utm_source=x&ref=1")
        .when(col("doc_id") % 4 === 1, "?ref=1&utm_campaign=y")
        .when(col("doc_id") % 4 === 2, "/").otherwise(""),
      when(col("doc_id") % 5 === 0, "#frag").otherwise(""),
      lit(" and 'http://mirror.example.org:8080/m/"),
      (col("doc_id") % 11).cast("string"), lit("'")))

  /** Procedural pixel formula for the image-dedup corpus: grayscale
    * blocky noise in [24, 231] from pure integer math on (id, x, y) —
    * headroom for the +7 brightness plant, SQL-replayable verbatim. */
  def imagePixel(id: Long, x: Int, y: Int): Int =
    (((x * (3 + id % 5) + y * (2 + id % 7) + ((x.toLong * y + id) % 23) * 11) % 208) + 24).toInt

  /** BMP image corpus derived from documents doc_ids: base 64x64
    * grayscale images of [[imagePixel]], plus planted near-dups for
    * base < nCopies — a 2x nearest-neighbor upscale at id+100000 and a
    * +7 brightness shift at id+200000. BMP stores raw pixels, so the
    * REAL ImageIO decode inside Dedup.imageSignatures recovers the
    * formula values exactly and the DuckDB oracle replays
    * pixels -> luma grid -> bit algebra engine-independently with no
    * codec in the loop (imageCorpusCtes). */
  def imageCorpus(s: SparkSession, dir: String,
                          nBase: Int, nCopies: Int): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").filter(col("doc_id") < nBase)
      .select(col("doc_id").as("base"))
    val variants = ids
      .select(col("base"), col("base").as("img_id"), lit(1).as("sc"), lit(0).as("db"))
      .unionByName(ids.filter(col("base") < nCopies).select(col("base"),
        (col("base") + 100000L).as("img_id"), lit(2).as("sc"), lit(0).as("db")))
      .unionByName(ids.filter(col("base") < nCopies).select(col("base"),
        (col("base") + 200000L).as("img_id"), lit(1).as("sc"), lit(7).as("db")))
    variants.as[(Long, Long, Int, Int)].mapPartitions { it =>
      it.map { case (base, img, sc, db) =>
        (img, graft.pipeline.Multimodal.encodeBmpGray(64 * sc, 64 * sc,
          (x, y) => imagePixel(base, x / sc, y / sc) + db))
      }
    }.toDF("img_id", "payload")
  }

  /** Build-once IVF index per sf dir: production trains the coarse
    * quantizer and persists the assignment offline (CLI `pipeline
    * ann-index`); queries then pay only the probe+scan path. Memoized so
    * verify/bench build it once per process; the assignment is cached and
    * materialized eagerly at build time. */
  private val ivfIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, (Similarity.IvfModel, DataFrame)]

  def ivfIndex(s: SparkSession, dir: String): (Similarity.IvfModel, DataFrame) =
    ivfIndexCache.getOrElseUpdate(dir, {
      val e = t(s, dir, "embeddings")
      val model = Similarity.ivfTrain(e, nLists = 16)
      val assigned = Similarity.ivfAssign(model, e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count()
      (model, assigned)
    })

  /** Build-once SCALED IVF index for the corpus-graph consumers
    * ([[graft.pipeline.Similarity.knnGraph]]): nLists = max(16, n/200)
    * via ivfTrainScaled, so the list-bucketed self-join stays linear at
    * every corpus scale (the fixed-nLists=16 config measured ×252 for
    * ×10 data at sf1 — quadratic, as the candidate algebra predicts).
    * At the sf0.01 oracle scale (500 vectors) the formula lands on
    * nLists=16 with a full-corpus train, so the DuckDB Lloyd replay
    * (ivfOracleCtes with the same greatest(16, n//200) expression) stays
    * hash-exact; the ENGINE config nonetheless scales with n. */
  private val ivfGraphIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, (Similarity.IvfModel, DataFrame)]

  def ivfGraphIndex(s: SparkSession, dir: String): (Similarity.IvfModel, DataFrame) =
    ivfGraphIndexCache.getOrElseUpdate(dir, {
      val e = t(s, dir, "embeddings")
      val model = Similarity.ivfTrainScaled(e, vectorsPerList = 200)
      val assigned = Similarity.ivfAssign(model, e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count()
      (model, assigned)
    })

  /** PQ codebooks are the same build-once artifact class as the IVF
    * index: train once per dir, reuse across calls (the production shape
    * after persisting a codebook; assignment itself is a cheap
    * zero-shuffle projection re-derived per query). */
  private val pqIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.PqModel]

  def pqIndex(s: SparkSession, dir: String): Similarity.PqModel =
    pqIndexCache.getOrElseUpdate(dir,
      Similarity.pqTrain(t(s, dir, "embeddings"), m = 4, k = 16, iters = 4))

  /** Shared CTE prefix for the URL oracles: the deterministic body build
    * + RE2 extraction — ONE definition mirrored against [[urlBody]]. */
  val urlBodyCtes: String =
    """b AS (SELECT text || ' see https://Site' || (doc_id % 5)
      |     || '.Example.COM/Page/' || (doc_id % 25)
      |     || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&ref=1'
      |              WHEN doc_id % 4 = 1 THEN '?ref=1&utm_campaign=y'
      |              WHEN doc_id % 4 = 2 THEN '/' ELSE '' END)
      |     || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)
      |     || ' and ''http://mirror.example.org:8080/m/' || (doc_id % 11)
      |     || '''' AS body FROM documents),
      | u AS (SELECT unnest(regexp_extract_all(body,
      |     '(?i:https?)://[^ \t\n\x0B\f\r"''<>]+')) AS url FROM b)""".stripMargin

  /** Cody erfc over a non-negative sql expression. */
  def sqlErfc(x: String): String = {
    val a = Seq("3.16112374387056560e0", "1.13864154151050156e2",
      "3.77485237685302021e2", "3.20937758913846947e3", "1.85777706184603153e-1")
    val b = Seq("2.36012909523441209e1", "2.44024637934444173e2",
      "1.28261652607737228e3", "2.84423683343917062e3")
    val c = Seq("5.64188496988670089e-1", "8.88314979438837594e0",
      "6.61191906371416295e1", "2.98635138197400131e2", "8.81952221241769090e2",
      "1.71204761263407058e3", "2.05107837782607147e3", "1.23033935479799725e3",
      "2.15311535474403846e-8")
    val d = Seq("1.57449261107098347e1", "1.17693950891312499e2",
      "5.37181101862009858e2", "1.62138957456669019e3", "3.29079923573345963e3",
      "4.36261909014324716e3", "3.43936767414372164e3", "1.23033935480374942e3")
    val ysq = s"(($x)*($x))"
    val num1 = s"((((${a(4)}*$ysq+${a(0)})*$ysq+${a(1)})*$ysq+${a(2)})*$ysq+${a(3)})"
    val den1 = s"(((($ysq+${b(0)})*$ysq+${b(1)})*$ysq+${b(2)})*$ysq+${b(3)})"
    val erfSmall = s"(($x)*$num1/$den1)"
    var num2 = s"${c(8)}*($x)"
    for (ci <- c.take(7)) num2 = s"(($num2+$ci)*($x))"
    num2 = s"($num2+${c(7)})"
    var den2 = s"($x)"
    for (di <- d.take(7)) den2 = s"(($den2+$di)*($x))"
    den2 = s"($den2+${d(7)})"
    val ysq16 = s"(floor(($x)*16)/16)"
    val del = s"((($x)-$ysq16)*(($x)+$ysq16))"
    val erfcMid = s"(exp(-$ysq16*$ysq16)*exp(-$del)*$num2/$den2)"
    s"(CASE WHEN ($x) <= 0.46875 THEN 1.0 - $erfSmall" +
      s" WHEN ($x) <= 4.0 THEN $erfcMid ELSE 0.0 END)"
  }
}
