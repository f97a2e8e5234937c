package graft.x12

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Golden-output pins (SURVEY.md §5 item 3): the seed-42 corpus is fully
  * deterministic (seeded generator, fixed batch id/date/timestamp), so the
  * silver layer and gold marts must reproduce these exact numbers on every
  * machine. A change here means parser/validator/mart semantics moved —
  * deliberate changes must update the goldens consciously.
  */
class X12GoldenSpec extends AnyFunSuite with SparkTestBase {

  private val corpus = Files.createTempDirectory("x12golden").toString

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(new java.io.File(corpus))
    finally super.afterAll()

  private lazy val silver = {
    X12TestDataGen.writeCorpus(corpus, 45, seed = 42L)
    import spark.implicits._
    val bronze = X12Bronze.ingest(spark, corpus, "BATCH_Q", Date.valueOf("2025-09-01"))
    X12Silver.parse(
      bronze.filter(col("file_is_valid")).select("file_name", "content").as[(String, String)],
      "BATCH_Q", Date.valueOf("2025-09-01"),
      Timestamp.valueOf("2025-09-01 12:00:00")).cache()
  }

  test("golden: silver totals") {
    val r = silver.toDF().agg(
      count(lit(1)), sum("quality_score"),
      sum(when(col("is_valid"), 1).otherwise(0))).head()
    assert(r.getLong(0) == 98L)
    assert(r.getLong(1) == 8980L)
    assert(r.getLong(2) == 96L)
  }

  test("golden: per-type transaction counts and quality sums") {
    val expected = Map(
      "270" -> (12L, 1000L), "271" -> (15L, 1500L), "276" -> (14L, 1240L),
      "277" -> (14L, 1400L), "278" -> (7L, 610L), "279" -> (9L, 890L),
      "834" -> (6L, 600L), "835" -> (8L, 520L), "837" -> (13L, 1220L))
    val got = silver.toDF().groupBy("transaction_type")
      .agg(count(lit(1)).as("c"), sum("quality_score").as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("golden: claim mart money totals") {
    val claims = X12Gold.claimAnalytics(silver.toDF().filter(col("is_valid")))
    val r = claims.agg(
      round(sum("total_claim_amount"), 2),
      round(sum("calculated_total"), 2),
      sum("total_service_lines")).head()
    assert(r.getDouble(0) == 34826.27)
    assert(r.getDouble(1) == 55164.84)
    assert(r.getLong(2) == 27L)
  }
}
