package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.survey.SurveyDesignSpec

/** SurveyDesignSpec's construction-time validations raise the reference's
  * messages (survey_design.py:180-183, 206-210, 281-312), for clustered and
  * no-cluster designs alike. */
class SurveyDesignValidationSpec extends SparkSpec {

  /** 120 rows: 4 strata x 3 PSUs, weights, fpc as a sampling fraction (f)
    * and as a stratum population size (pop). */
  private lazy val design: DataFrame = {
    import spark.implicits._
    (0 until 120).map(i => (i.toLong, s"S${i % 4}", (i / 4) % 3, 1.0 + i % 7, 0.1, 500.0))
      .toDF("id", "strat", "psu", "w", "f", "pop")
  }

  private def nullEvery(c: String, k: Int): DataFrame =
    design.withColumn(c, when(col("id") % k === 0, lit(null)).otherwise(col(c)))

  private def message(build: => SurveyDesignSpec): String =
    intercept[IllegalArgumentException](build).getMessage

  test("missing strata, cluster and fpc values are counted in the error") {
    // ids 0, 10, ..., 110: 12 of 120 rows
    assert(message(new SurveyDesignSpec(nullEvery("strat", 10), "id", strata = Some("strat"),
      cluster = Some("psu"), nest = true, singleWeight = Some("w")))
      .contains("12 of 120 strata values were missing"))
    assert(message(new SurveyDesignSpec(nullEvery("strat", 10), "id", strata = Some("strat"),
      singleWeight = Some("w")))
      .contains("12 of 120 strata values were missing"))
    // ids 0, 12, ..., 108: 10 of 120 rows
    assert(message(new SurveyDesignSpec(nullEvery("psu", 12), "id", strata = Some("strat"),
      cluster = Some("psu"), singleWeight = Some("w")))
      .contains("10 of 120 cluster values were missing"))
    // ids 0, 15, ..., 105: 8 of 120 rows
    assert(message(new SurveyDesignSpec(nullEvery("f", 15), "id", strata = Some("strat"),
      cluster = Some("psu"), nest = true, fpc = Some("f")))
      .contains("8 of 120 fpc values were missing"))
    assert(message(new SurveyDesignSpec(nullEvery("f", 15), "id", strata = Some("strat"),
      fpc = Some("f")))
      .contains("8 of 120 fpc values were missing"))
  }

  test("an empty design is rejected") {
    val empty = design.filter(lit(false))
    assert(message(new SurveyDesignSpec(empty, "id", strata = Some("strat"),
      cluster = Some("psu"), singleWeight = Some("w")))
      .contains("survey design is empty"))
    assert(message(new SurveyDesignSpec(empty, "id", singleWeight = Some("w")))
      .contains("survey design is empty"))
  }

  test("invalid fpc values are rejected") {
    val invalid = "Error processing FPC- invalid values"
    // population 20 below the 30 sampled rows of each stratum: fraction > 1
    val small = design.withColumn("pop", lit(20.0))
    assert(message(new SurveyDesignSpec(small, "id", strata = Some("strat"),
      cluster = Some("psu"), nest = true, fpc = Some("pop"))).contains(invalid))
    assert(message(new SurveyDesignSpec(small, "id", strata = Some("strat"),
      fpc = Some("pop"))).contains(invalid))
    // a population-size fpc needs strata or clusters
    assert(message(new SurveyDesignSpec(design, "id", singleWeight = Some("w"),
      fpc = Some("pop"))).contains(invalid))
    // a negative sampling fraction
    assert(message(new SurveyDesignSpec(design.withColumn("f", lit(-0.1)), "id",
      strata = Some("strat"), fpc = Some("f"))).contains(invalid))
    // valid forms construct
    new SurveyDesignSpec(design, "id", strata = Some("strat"), cluster = Some("psu"),
      nest = true, fpc = Some("pop"))
    new SurveyDesignSpec(design, "id", strata = Some("strat"), fpc = Some("f"))
  }
}
