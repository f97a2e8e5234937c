package graft.x12

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class X12ViewsSpec extends AnyFunSuite with SparkTestBase {

  private val corpus = Files.createTempDirectory("x12views").toString

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(new java.io.File(corpus))
    finally super.afterAll()

  private lazy val (bronze, silver) = {
    X12TestDataGen.writeCorpus(corpus, 27, seed = 5L)
    import spark.implicits._
    val b = X12Bronze.ingest(spark, corpus, "B1", Date.valueOf("2025-09-01")).cache()
    val s = X12Silver.parse(
      b.filter(col("file_is_valid")).select("file_name", "content").as[(String, String)],
      "B1", Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00")).toDF().cache()
    (b, s)
  }

  test("daily processing summary buckets by quality over the target date") {
    val v = X12Views.dailyProcessingSummary(spark, silver, Date.valueOf("2025-09-01"))
    val r = v.head()
    assert(v.count() == 1)
    assert(r.getAs[Long]("total_files") == silver.count())
    val sums = r.getAs[Long]("high_quality_files") +
      r.getAs[Long]("medium_quality_files") + r.getAs[Long]("low_quality_files")
    assert(sums == silver.count())
    // other dates produce nothing (the pushed date predicate)
    assert(X12Views.dailyProcessingSummary(spark, silver,
      Date.valueOf("2024-01-01")).count() == 0)
  }

  test("transaction type breakdown is ordered by volume") {
    val rows = X12Views.transactionTypeBreakdown(spark, silver).collect()
    assert(rows.map(_.getAs[Long]("file_count")).toSeq ==
      rows.map(_.getAs[Long]("file_count")).sortBy(-_).toSeq)
    assert(rows.map(_.getAs[Long]("file_count")).sum == silver.count())
  }

  test("recent processing activity keeps unmatched bronze files (left join)") {
    val v = X12Views.recentProcessingActivity(bronze, silver,
      Timestamp.valueOf("2025-08-30 00:00:00"))
    // the garbage file is bronze-only → silver columns null
    val garbage = v.filter(col("filename") === "test_x12_garbage.x12")
    assert(garbage.count() == 1)
    assert(garbage.head().getAs[String]("transaction_type") == null)
    // every silver transaction row appears joined to its bronze file
    assert(v.filter(col("transaction_type").isNotNull).count() == silver.count())
    assert(v.filter(col("processing_duration_seconds").isNotNull).count() == silver.count())
  }
}
