package graft.medbench

import java.nio.file.{Path, Paths}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.x12._

/** One medallion batch: where its files landed and what they hold. */
final case class LandedBatch(landing: Path, batchId: String, date: Date,
    expected: Gen.Batch) {
  def ts: Timestamp = Timestamp.valueOf(date.toLocalDate.atTime(12, 0))
}

/** The medallion run as a user executes it ([[X12Pipeline.run]]), a traced
  * copy of it, and the checks on what either wrote.
  */
object Medallion {

  /** Fixed acknowledgment clock: the 997 oracle SQL pins this instant. */
  val Now: LocalDateTime = LocalDateTime.of(2025, 9, 1, 12, 0, 0)

  def ledgerDir(out: Path): String = s"$out/_processed_files"

  def run(spark: SparkSession, b: LandedBatch, out: Path): Unit =
    X12Pipeline.run(spark, b.landing.toString, out.toString, b.batchId,
      b.date, b.ts, Now, write = true, incrementalGold = true)

  /** What the traced copy leaves behind for the layer counts. */
  final case class Frames(bronze: DataFrame, processed: DataFrame,
      silver: Dataset[SilverRecord], silverStore: DataFrame, acks: DataFrame)

  /** [[X12Pipeline.run]] with `write` and `incrementalGold` set, step for
    * step, calling the same public functions in the same order, with one
    * span around each layer call. Two changes
    * are needed to see the layers: the parsed silver is counted inside
    * `silver.parse` (the real run first materializes it in the silver
    * write), and `bronze.ingest` is two spans around the ledger read. Any
    * other drift shows as a digest mismatch against the real run.
    */
  def traced(spark: SparkSession, b: LandedBatch, out: Path,
      t: Tracer): Frames = {
    import spark.implicits._
    val outDir = out.toString
    val ingested = t.span("bronze.ingest")(
      X12Bronze.ingest(spark, b.landing.toString, b.batchId, b.date))
    val processed = t.span("ledger.read")(
      X12Pipeline.processedFiles(spark, outDir).localCheckpoint(true))
    val (bronze, doWrite) = t.span("bronze.ingest") {
      val bronze = ingested.join(processed, Seq("file_name"), "left_anti")
      bronze.cache()
      (bronze, bronze.count() > 0)
    }
    if (doWrite) t.span("bronze.write") {
      X12Bronze.writeLanding(bronze, s"$outDir/bronze")
      X12Bronze.writeMetadataJson(bronze, s"$outDir/bronze_metadata")
      X12Bronze.summary(bronze).write.mode("overwrite").json(s"$outDir/bronze_summary")
      bronze.filter(!col("file_is_valid"))
        .select("file_name", "batch_id", "validation_errors", "content")
        .write.mode("overwrite").json(s"$outDir/bronze_quarantine")
    }
    val silver = t.span("silver.parse") {
      val validFiles = bronze.filter(col("file_is_valid"))
        .select(col("file_name"), col("content")).as[(String, String)]
      val silver = X12Silver.parse(validFiles, b.batchId, b.date, b.ts)
      silver.cache()
      silver.count()
      silver
    }
    if (doWrite) t.span("silver.write") {
      X12Silver.write(silver, s"$outDir/silver")
      X12Silver.summary(silver).write.mode("overwrite").json(s"$outDir/silver_summary")
    }
    val silverStore = t.span("silver.readback") {
      if (doWrite)
        try spark.read.parquet(s"$outDir/silver")
        catch { case scala.util.control.NonFatal(_) => silver.toDF() }
      else silver.toDF()
    }
    t.span("gold") {
      val silverValid = silverStore.filter(col("is_valid"))
      val unpartitioned = Set("gold_business_kpis", "gold_daily_analytics")
      val crossDate = Set("gold_request_response_pairs")
      val fullMarts = X12Gold.allMarts(silverValid, b.date) +
        ("gold_daily_analytics" ->
          X12Gold.dailyAnalytics(bronze, silver.toDF(), b.date))
      val touched = X12Gold.allMarts(
        silverValid.filter(col("processing_date") === lit(b.date)), b.date)
      val marts = fullMarts.map { case (name, df) =>
        name -> (if (unpartitioned(name) || crossDate(name)) df else touched(name))
      }
      if (doWrite) {
        val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
        val prevMode = spark.conf.get(overwriteMode)
        spark.conf.set(overwriteMode, "dynamic")
        try marts.foreach { case (name, df) =>
          t.span("gold." + name.stripPrefix("gold_")) {
            val w = df.write.mode("overwrite")
            if (!unpartitioned(name))
              w.partitionBy("processing_date").parquet(s"$outDir/$name")
            else w.parquet(s"$outDir/$name")
          }
        } finally spark.conf.set(overwriteMode, prevMode)
      }
    }
    val acks = t.span("ack997") {
      val acks = Ack997.validate997(
        Ack997.acknowledgments(silver.toDF(), b.batchId, Now))
      if (doWrite) {
        Ack997.writeAckFiles(acks, s"$outDir/acknowledgments")
        Ack997.metadata(acks).write.mode("overwrite").json(s"$outDir/acknowledgment_metadata")
      }
      acks
    }
    if (doWrite) t.span("ledger.append") {
      bronze.select("file_name")
        .withColumn("batch_id", lit(b.batchId))
        .withColumn("processed_at", lit(b.ts))
        .write.mode("append").parquet(ledgerDir(out))
    }
    Frames(bronze, processed, silver, silverStore, acks)
  }

  /** Per-run output check: every landed file reached the ledger under this
    * batch (a batch the ledger skipped is a failure, not a fast run), and
    * the silver store holds exactly the transactions the generator wrote.
    */
  def check(spark: SparkSession, b: LandedBatch, out: Path): Seq[String] = {
    val ledgered = spark.read.parquet(ledgerDir(out))
      .filter(col("batch_id") === b.batchId).count()
    val tx = spark.read.parquet(s"$out/silver")
      .filter(col("batch_id") === b.batchId).count()
    Seq(
      Option.when(ledgered != b.expected.files)(
        s"${b.batchId}: ledgered $ledgered files, landed ${b.expected.files}"),
      Option.when(tx != b.expected.tx)(
        s"${b.batchId}: silver holds $tx transactions, generated ${b.expected.tx}")
    ).flatten
  }

  private val volatileCols = Set("created_at", "generation_timestamp")
  private val jsonSinks = Set("bronze_metadata", "bronze_summary",
    "bronze_quarantine", "silver_summary", "acknowledgment_metadata")

  /** Order-independent digest of every table the run writes, without the
    * wall-clock columns: row count and the sum of 64-bit row hashes.
    */
  def digest(spark: SparkSession, out: Path): String = {
    val root = out.toFile
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted
    dirs.map { d =>
      val path = s"$out/$d"
      // a sink the run wrote no rows to has no schema to read
      scala.util.Try {
        if (d == "acknowledgments") spark.read.text(path)
        else if (jsonSinks(d)) spark.read.json(path)
        else spark.read.parquet(path)
      }.toOption.filter(_.columns.nonEmpty) match {
        case None => s"$d:0"
        case Some(df) =>
          val cols = df.columns.filterNot(volatileCols).sorted.map(col)
          val r = df.select(xxhash64(cols: _*).as("h"))
            .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
            .head()
          s"$d:${r.getLong(0)}:${r.get(1)}"
      }
    }.mkString(";")
  }
}
