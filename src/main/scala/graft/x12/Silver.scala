package graft.x12

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Silver layer: distributed X12 parse.
  *
  * The reference parses every file in a driver-side Python loop and touches
  * executors only for the final write (silver_x12_parsing.py:1388-1501) —
  * its published 1,000 tx/hour baseline is driver-bound. Here the parse is a
  * `Dataset.flatMap` over wholetext file rows, so it scales with executors:
  * 100 TB of 50 MB-capped files spread across a 1000-executor cluster parse
  * in parallel with zero driver involvement. One file = one task row ⇒
  * intra-file segment order is preserved inside a single flatMap call, which
  * is what the ST/SE stateful grouping requires.
  */
object X12Silver {

  /** The landing scan's text-source options, batch and streaming alike:
    * `wholetext` keeps one row per file, and the glob admits `.x12` files
    * only.
    */
  val landingOptions: Map[String, String] =
    Map("wholetext" -> "true", "pathGlobFilter" -> "*.x12")

  /** S1+S2: landing-dir scan with extension filter and whole-file rows
    * (reference lists+filters then head-reads per file,
    * bronze_x12_ingestion.py:209-236). The hidden `_metadata` column
    * supplies the file name without a non-deterministic
    * `input_file_name()`.
    */
  def readFiles(spark: SparkSession, dir: String): Dataset[(String, String)] =
    fileRows(spark.read.format("text").options(landingOptions).load(dir))

  /** (file name, content) rows of a landing scan, batch or streaming. */
  def fileRows(scan: DataFrame): Dataset[(String, String)] = {
    import scan.sparkSession.implicits._
    scan.select(col("_metadata.file_name").as("file_name"), col("value"))
      .as[(String, String)]
  }

  /** The parse gate: only the files bronze marked valid reach the parser
    * (the F-gate before the flatMap).
    */
  def parseValid(
      bronze: DataFrame,
      batchId: String,
      processingDate: java.sql.Date,
      processingTs: java.sql.Timestamp): Dataset[SilverRecord] = {
    import bronze.sparkSession.implicits._
    parse(bronze.filter(col("file_is_valid"))
      .select(col("file_name"), col("content")).as[(String, String)],
      batchId, processingDate, processingTs)
  }

  /** Parse files → one typed row per transaction set
    * (record assembly parity: silver_x12_parsing.py:1453-1469 — all
    * transactions take the file's last ISA/GS values, sender/receiver stay
    * 15-wide padded, absent envelopes yield empty strings).
    */
  def parse(
      files: Dataset[(String, String)],
      batchId: String,
      processingDate: java.sql.Date,
      processingTs: java.sql.Timestamp): Dataset[SilverRecord] = {
    import files.sparkSession.implicits._
    files.flatMap { case (fileName, content) =>
      val (isa, gs, txs) = X12Parser.parseFile(content)
      txs.map { tx =>
        SilverRecord(
          batch_id = batchId,
          file_name = fileName,
          processing_timestamp = processingTs,
          interchange_control_number = isa.map(_.interchange_control_number).getOrElse(""),
          functional_group_number = gs.map(_.group_control_number).getOrElse(""),
          transaction_set_control_number = tx.st.transaction_set_control_number,
          transaction_type = tx.transactionType,
          sender_id = isa.map(_.interchange_sender_id).getOrElse(""),
          receiver_id = isa.map(_.interchange_receiver_id).getOrElse(""),
          transaction_date = gs.map(_.date).getOrElse(""),
          payload = tx.payload,
          validation = tx.validation,
          parsing_error = tx.parsingError,
          quality_score = tx.validation.quality_score,
          is_valid = tx.validation.is_valid,
          processing_date = processingDate)
      }
    }
  }

  /** S5: partitioned append — same layout as the reference
    * (silver_x12_parsing.py:1506-1510) so date+type filters prune
    * partitions. zstd instead of the snappy default: the silver table is
    * the 100 TB body of the lake and text-heavy payloads compress ~2×
    * better under zstd (the reference's 3:1 storage target,
    * docs/performance-tuning-guide.md:26).
    */
  def write(ds: Dataset[SilverRecord], path: String): Unit =
    ds.write.mode("append")
      .option("compression", "zstd")
      .partitionBy("processing_date", "transaction_type")
      .parquet(path)

  /** Reference-schema view (silver_x12_parsing.py:1333-1349): the typed
    * payload serialized back to the reference's two JSON-string columns.
    * Each transaction type serializes its own payload branch — the JSON keys
    * match the reference dicts because the model's field names do.
    */
  def referenceView(ds: Dataset[SilverRecord]): DataFrame = {
    val parsedJson =
      when(col("transaction_type") === "837", to_json(col("payload.claim837")))
        .when(col("transaction_type") === "835", to_json(col("payload.payment835")))
        .when(col("transaction_type") === "834", to_json(col("payload.enrollment834")))
        .when(col("transaction_type") === "270", to_json(col("payload.eligibility270")))
        .when(col("transaction_type") === "271", to_json(col("payload.eligibility271")))
        .when(col("transaction_type") === "276", to_json(col("payload.status276")))
        .when(col("transaction_type") === "277", to_json(col("payload.status277")))
        .when(col("transaction_type") === "278", to_json(col("payload.preauth278")))
        .when(col("transaction_type") === "279", to_json(col("payload.preauth279")))
        .otherwise(to_json(col("payload.generic")))
    ds.toDF()
      .withColumn("parsed_data", parsedJson)
      .withColumn("validation_results", to_json(col("validation")))
      .select("batch_id", "file_name", "processing_timestamp",
        "interchange_control_number", "functional_group_number",
        "transaction_set_control_number", "transaction_type", "sender_id",
        "receiver_id", "transaction_date", "parsed_data", "validation_results",
        "quality_score", "is_valid", "processing_date")
  }

  /** Per-batch processing summary (silver_x12_parsing.py:1378-1497) as one
    * distributed aggregate instead of driver-side counters.
    */
  def summary(ds: Dataset[SilverRecord]): DataFrame =
    ds.groupBy("batch_id", "processing_date")
      .agg(
        countDistinct(col("file_name")).as("files_processed"),
        count(lit(1)).as("transactions_processed"),
        sum(when(col("is_valid"), 1).otherwise(0)).as("transactions_valid"),
        sum(when(!col("is_valid"), 1).otherwise(0)).as("transactions_invalid"),
        sum(col("quality_score")).as("total_quality_score"),
        avg(col("quality_score")).as("average_quality_score"))
}
