package graft.sources

import java.util.Properties
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class GoldMirrorSpec extends AnyFunSuite with SparkTestBase {

  private val url = "jdbc:derby:memory:graftMirror;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def sampleMart = {
    import spark.implicits._
    Seq(
      ("2025-09-01", "837", 3L, 1234.5, 87.5),
      ("2025-09-01", "835", 2L, 99.99, 100.0))
      .toDF("processing_date", "transaction_type", "total_transactions",
        "total_claim_amount", "average_quality_score")
      .withColumn("processing_date", col("processing_date").cast("date"))
  }

  test("withJdbcTypes maps doubles to the reference DDL decimal types") {
    val typed = GoldMirror.withJdbcTypes(sampleMart)
    // money → DECIMAL(15,2) per init.sql:59-60
    assert(typed.schema("total_claim_amount").dataType == DecimalType(15, 2))
    // bounded scores → DECIMAL(5,2) per init.sql:91
    assert(typed.schema("average_quality_score").dataType == DecimalType(5, 2))
    // non-double columns untouched
    assert(typed.schema("total_transactions").dataType.typeName == "long")
    assert(typed.schema("transaction_type").dataType.typeName == "string")
  }

  test("unbounded percentage columns get the wide decimal, never overflow to null") {
    import spark.implicits._
    // variance percentages are unbounded (tiny denominator → thousands of
    // percent); a DECIMAL(5,2) cast would overflow to NULL and silently
    // drop the signal
    val m = Seq(("a", 2300.0)).toDF("k", "variance_percentage")
    val typed = GoldMirror.withJdbcTypes(m)
    assert(typed.schema("variance_percentage").dataType == DecimalType(15, 2))
    val v = typed.select("variance_percentage").head
    assert(!v.isNullAt(0) &&
      v.getDecimal(0).compareTo(new java.math.BigDecimal("2300.00")) == 0)
  }

  test("JDBC round-trip through embedded Derby lands typed rows") {
    GoldMirror.writeJdbc(sampleMart, url, "gold_mirror_rt", props)
    val back = spark.read.jdbc(url, "gold_mirror_rt", props)
    assert(back.count() == 2)
    assert(back.schema("total_claim_amount").dataType == DecimalType(15, 2))
    assert(back.schema("average_quality_score").dataType == DecimalType(5, 2))
    val row = back.filter(col("transaction_type") === "837").head()
    assert(row.getAs[java.math.BigDecimal]("total_claim_amount")
      .compareTo(new java.math.BigDecimal("1234.50")) == 0)
  }

  test("mirror writes every mart and returns the names in sorted order") {
    val marts = Map("gold_mirror_b" -> sampleMart,
      "gold_mirror_a" -> sampleMart.limit(1))
    assert(GoldMirror.mirror(marts, url, props) ==
      Seq("gold_mirror_a", "gold_mirror_b"))
    assert(spark.read.jdbc(url, "gold_mirror_a", props).count() == 1)
    assert(spark.read.jdbc(url, "gold_mirror_b", props).count() == 2)
  }
}
