package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded `documents` table with the schema (`doc_id`, `text`, `lang`,
  * `source`, `n_chars`) and the duplication structure of the repository's
  * sf0.1 test corpus, written as `<dir>/documents.parquet`. Exact copies
  * arise from two copies of one text, so their share grows with the
  * document count; the other shares do not depend on it.
  *
  * Texts draw 10-99 words from the corpus's 30-word vocabulary. One
  * document in twenty is a near copy: the current text of a random other
  * document plus the token "dup". Documents are visited in id order, so a
  * copy of an earlier document takes its final text and a copy of a later
  * one its own words; copies of copies form chains, and two copies of the
  * same text are exact duplicates. Languages are 41% `en` and the rest
  * spread over four others; sources cycle through twenty names.
  * `perfbench/corpus_stats.py` measures the structure of both corpora;
  * `perfbench/manifest.json` records the figures. */
final class CurationData(val seed: Long, val documents: Int) extends Serializable {
  import CurationData._

  private def rng(stream: Int, i: Long) =
    new SplittableRandom((seed * 31 + stream) * 0x9E3779B97F4A7C15L + i)

  private def words(i: Int): String = {
    val r = rng(1, i)
    Array.fill(10 + r.nextInt(90))(Vocabulary(r.nextInt(Vocabulary.length))).mkString(" ")
  }

  /** Every text, in doc_id order. */
  lazy val texts: Array[String] = {
    val out = Array.tabulate(documents)(words)
    for (i <- 0 until documents) {
      val r = rng(3, i)
      if (documents > 1 && r.nextInt(CopyEvery) == 0) {
        val j = (i + 1 + r.nextInt(documents - 1)) % documents
        out(i) = out(j) + " dup"
      }
    }
    out
  }

  def document(i: Int): Row = {
    val u = rng(2, i).nextDouble()
    val lang = if (u < 0.41) "en" else Langs((((u - 0.41) / 0.59) * 4).toInt min 3)
    Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
  }

  def write(spark: SparkSession, dir: String, slices: Int): Unit = {
    val rows = (0 until documents).map(document)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), Schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

object CurationData {
  /** Half the 5,000 documents of the sf0.1 corpus, for the time budget: the
    * DuckDB oracle of pipeline_release_e2e alone takes 17 s at full size. */
  val Documents = 2500
  /** One document in this many is a near copy of another. */
  val CopyEvery = 20
  val Vocabulary: Array[String] = ("a the data query table row column key value part line order " +
    "customer join merge sort scan filter group agg hash window stream batch vector spark " +
    "fast slow big small").split(" ")
  val Langs: Array[String] = Array("de", "es", "fr", "zh")

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}
