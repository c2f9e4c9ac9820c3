package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.io.Load
import graft.model.{CladeFrame, VariableType}

/** One exposure variable of a generated EWAS table. `effect` is the planted
  * coefficient on the continuous outcome `y` (0 for a null variable); the
  * binary outcome `yb` gets `LogitScale * effect` on the log-odds scale. */
final case class Exposure(name: String, kind: VariableType, levels: Int,
                          prob: Double, effect: Double) {
  def planted: Boolean = effect != 0.0
}

/** Shape of one generated table: NHANES rows, number of exposures, number
  * of planted true effects and the per-cell missing rate of exposures. */
final case class EwasShape(rows: Int, exposures: Int, planted: Int,
                           missing: Double = 0.08)

/** Seeded generator for an NHANES-shaped EWAS table.
  *
  * Columns: `id`, outcomes `y` (continuous) and `yb` (binary), covariates
  * `age` and `bmi` (2% missing each), the survey design (`strata` 1..15,
  * `psu` 1..2 nested in strata, sampling weight `wt`) and the exposures,
  * which are 60% continuous, 20% binary and 20% categorical with 3-5
  * levels. A row depends only on the seed and its index, so the table is
  * identical however Spark partitions the generation. The planted
  * exposures (continuous and binary only, so each has a signed Beta)
  * shift both outcomes with alternating signs. */
final class EwasData(val seed: Long, val shape: EwasShape) extends Serializable {
  import EwasData._

  val exposures: IndexedSeq[Exposure] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val kinds = (0 until shape.exposures).map(i => i % 5 match {
      case 3 => VariableType.Binary
      case 4 => VariableType.Categorical
      case _ => VariableType.Continuous
    })
    val signed = kinds.indices.filter(i => kinds(i) != VariableType.Categorical)
    val chosen = shuffle(signed, r).take(shape.planted).zipWithIndex.toMap
    kinds.zipWithIndex.map { case (k, i) =>
      val levels = if (k == VariableType.Categorical) 3 + r.nextInt(3) else 0
      val prob = if (k == VariableType.Binary) 0.2 + 0.3 * r.nextDouble() else 0.0
      val effect = chosen.get(i).fold(0.0) { j =>
        val sign = if (j % 2 == 0) 1.0 else -1.0
        sign * (if (k == VariableType.Binary) BinaryEffect else ContinuousEffect)
      }
      Exposure(f"x$i%04d", k, levels, prob, effect)
    }
  }

  def planted: Seq[Exposure] = exposures.filter(_.planted)

  /** The kind `Modify.categorize` must infer for every non-id column. */
  def expectedKinds: Map[String, VariableType] =
    Map(Y -> VariableType.Continuous, Yb -> VariableType.Binary,
      Age -> VariableType.Continuous, Bmi -> VariableType.Continuous,
      Strata -> VariableType.Continuous, Psu -> VariableType.Binary,
      Weight -> VariableType.Continuous) ++ exposures.map(e => e.name -> e.kind)

  val schema: StructType = StructType(
    Seq(StructField(Id, LongType, nullable = false),
      StructField(Y, DoubleType, nullable = false),
      StructField(Yb, IntegerType, nullable = false),
      StructField(Age, DoubleType), StructField(Bmi, DoubleType),
      StructField(Strata, IntegerType, nullable = false),
      StructField(Psu, IntegerType, nullable = false),
      StructField(Weight, DoubleType, nullable = false)) ++
      exposures.map(e => StructField(e.name,
        if (e.kind == VariableType.Continuous) DoubleType else IntegerType)))

  /** Row `i` in the order of [[schema]] (null = missing). */
  def row(i: Long): Array[Any] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    def miss(p: Double): Boolean = r.nextDouble() < p
    val age = round(20.0 + 60.0 * r.nextDouble(), 1)
    val bmi = round(27.0 + 5.0 * r.nextGaussian(), 2)
    val strata = 1 + r.nextInt(15)
    val psu = 1 + r.nextInt(2)
    val wt = round(800.0 * (1.0 + strata / 15.0) * math.exp(0.4 * r.nextGaussian()), 2)
    val xs = new Array[Any](exposures.length)
    var eta = 0.0
    var j = 0
    while (j < exposures.length) {
      val e = exposures(j)
      val v: Any = e.kind match {
        case VariableType.Continuous => round(r.nextGaussian(), 4)
        case VariableType.Binary => if (r.nextDouble() < e.prob) 1 else 0
        case _ => 1 + r.nextInt(e.levels)
      }
      // the missing draw always happens, so the stream stays aligned
      if (!miss(shape.missing)) {
        xs(j) = v
        if (e.planted) eta += e.effect * (v match {
          case d: Double => d
          case b: Int => b - e.prob
        })
      }
      j += 1
    }
    val ageMissing = miss(CovariateMissing)
    val bmiMissing = miss(CovariateMissing)
    val y = round(0.03 * (age - 50.0) + 0.05 * (bmi - 27.0) + eta + r.nextGaussian(), 4)
    val logit = -0.3 + 0.02 * (age - 50.0) + LogitScale * eta
    val yb = if (r.nextDouble() < 1.0 / (1.0 + math.exp(-logit))) 1 else 0
    Array[Any](i, y, yb, if (ageMissing) null else age, if (bmiMissing) null else bmi,
      strata, psu, wt) ++ xs
  }

  /** The raw numeric table, generated in `slices` parallel slices. */
  def frame(spark: SparkSession, slices: Int): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(0L until shape.rows.toLong, slices)
      .map(i => Row.fromSeq(row(i).toSeq))
    spark.createDataFrame(rows, schema)
  }

  /** Apply the generator's kinds and sorted levels to a raw frame in one
    * projection; binary and categorical columns become strings, as after
    * categorize. */
  def typed(raw: DataFrame): CladeFrame = {
    val kinds = expectedKinds
    val present = raw.columns.filter(_ != Id)
    val discrete = present.filter(c => kinds(c) != VariableType.Continuous).toSet
    val df = raw.select(raw.columns.toSeq.map(c =>
      if (discrete(c)) col(c).cast(StringType).as(c)
      else if (c == Id) col(c) else col(c).cast(DoubleType).as(c)): _*)
    CladeFrame(df, present.map(c => c -> kinds(c)).toMap,
      present.filter(discrete).map(c => c -> levelsOf(c)).toMap)
  }

  private def levelsOf(c: String): Seq[String] =
    if (expectedKinds(c) == VariableType.Binary) Seq("0", "1")
    else (1 to exposures.find(_.name == c).get.levels).map(_.toString)

  /** Raw TSV as a CLARITE user receives it: one file, `NA` for missing. */
  def writeRawTsv(spark: SparkSession, path: String, slices: Int): Unit =
    frame(spark, slices).coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(path)

  /** Typed TSV plus its dtypes sidecar, as the CLI writes between steps. */
  def writeTsvWithSidecar(spark: SparkSession, dataPath: String, sidecarPath: String,
                          slices: Int): Unit =
    Load.saveTsvWithSidecar(typed(frame(spark, slices)), dataPath, sidecarPath)

  def writeParquet(spark: SparkSession, path: String, slices: Int): Unit =
    frame(spark, slices).write.mode("overwrite").parquet(path)
}

object EwasData {
  val Id = "id"
  val Y = "y"
  val Yb = "yb"
  val Age = "age"
  val Bmi = "bmi"
  val Strata = "strata"
  val Psu = "psu"
  val Weight = "wt"
  val Covariates: Seq[String] = Seq(Age, Bmi)
  val Design: Seq[String] = Seq(Strata, Psu, Weight)
  val NonExposures: Set[String] = Set(Id, Y, Yb, Age, Bmi, Strata, Psu, Weight)

  val ContinuousEffect = 0.15
  val BinaryEffect = 0.3
  val LogitScale = 2.5
  val CovariateMissing = 0.02

  private def round(v: Double, digits: Int): Double = {
    val s = math.pow(10, digits)
    math.rint(v * s) / s
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
