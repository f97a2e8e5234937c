package graft.x12

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Jobs

/** End-to-end medallion run: bronze → silver → gold → 997 acks.
  *
  * Replaces the reference's DAG-of-notebooks orchestration
  * (local-development/airflow/dags/x12_processing_dag.py:311:
  * `create_dirs >> check_files >> bronze >> silver >> gold >> cleanup`) with
  * one in-process runner. Differences that matter at scale:
  *  - silver is parsed once and cached; each of the 12 catalogue marts
  *    ([[X12Gold.marts]]) is built once over a scan of the written silver
  *    store, plus the batch-scoped daily analytics; the reference re-reads
  *    and re-`count()`s the silver table per mart (SURVEY.md §3.1 step 4)
  *    and rebuilds every mart each DAG run (gold_x12_analytics.py:812-822);
  *    a per-date mart here rebuilds only this run's `processing_date`;
  *  - only files bronze marked valid reach the parser;
  *  - acknowledgments never collect() to the driver;
  *  - a processed-file ledger replaces the reference's archive-move
  *    (x12_processing_dag.py:250-270): the DAG physically moves files to
  *    `archive/` after each run so a re-run sees an empty landing dir. A
  *    distributed engine cannot assume it owns the landing dir (SFTP
  *    contract: the fetcher may land new files mid-run), so the batch
  *    runner writes `_processed_files` parquet under outDir and anti-joins
  *    it on the next run — re-running over the same landing dir appends no
  *    duplicate silver rows. The streaming path gets the same guarantee
  *    from checkpointed file tracking (Streaming.scala).
  *
  * Write order. Bronze's four sinks, then silver and its summary, then the
  * 13 gold writes (the 12 catalogue marts and `gold_daily_analytics`),
  * then the two 997-ack writes, then the ledger append. The gold writes
  * run concurrently through [[graft.Jobs.inParallel]]: each moves a few
  * hundred rows, so its time is fixed per-write cost (planning, codegen
  * lookup, commit, rename) that overlaps well; the reference writes its
  * marts one by one from separate notebook cells
  * (gold_x12_analytics.py:812-822). Everything else stays sequential.
  * Overlapping the ack writes, or bronze's sinks with silver's, cut the
  * medallion benchmark's wall time further but raised its peak RSS by
  * 7-17% (4 cores, x12_daily_incremental, 3 paired runs each). The ledger
  * is last and starts only after every gold write has ended: a file is
  * processed only once every sink above has been written, so a run whose
  * mart write fails throws and leaves no ledger row.
  */
object X12Pipeline {

  /** What a run built. `marts` holds each gold mart's frame under its table
    * name; a per-date mart's frame (`X12Gold.Mart.perDate`) holds this
    * run's `processing_date` only, which is all the run rewrote of it.
    */
  final case class Result(
      bronze: DataFrame,
      silver: Dataset[SilverRecord],
      marts: Map[String, DataFrame],
      acks: DataFrame)

  private def ledgerPath(outDir: String): String = s"$outDir/_processed_files"

  /** File names already processed into `outDir` by previous runs (empty
    * frame when no ledger exists yet).
    */
  def processedFiles(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val path = ledgerPath(outDir)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed append can leave a footer-less dir; an unreadable ledger
    // must mean "re-process" (the documented crash contract), never a
    // permanently wedged pipeline
    if (!fs.exists(hp)) Seq.empty[String].toDF("file_name")
    else
      try spark.read.parquet(path).select("file_name")
      catch { case scala.util.control.NonFatal(_) =>
        // schema-less dir OR corrupt footer — any unreadable ledger means
        // re-process, never a wedged pipeline
        Seq.empty[String].toDF("file_name")
      }
  }

  /** One medallion batch over the landing files not yet in `outDir`'s
    * ledger. `incrementalGold` is ignored (gold has one maintenance mode);
    * medbench's medallion run passes it by name.
    */
  def run(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      batchId: String,
      processingDate: java.sql.Date,
      processingTs: java.sql.Timestamp,
      now: LocalDateTime,
      write: Boolean = true,
      qualityDrivenAckCode: Boolean = false,
      incrementalGold: Boolean = false): Result = {
    // Bronze: validate + metadata; landing write partitioned by y/m/d.
    // Already-ledgered files are dropped up front (anti-join on the
    // file-name ledger), so a re-run is incremental, not a dup.
    // The ledger is SNAPSHOTTED via eager localCheckpoint before the run:
    // the run itself appends to the ledger at the end, and a plan that
    // read the ledger path directly would be re-cached against the grown
    // ledger (Spark's recacheByPath refreshes caches on writes to a source
    // path), anti-joining this run's own files away from the returned
    // frames. The checkpoint truncates the plan to a materialized RDD with
    // no file-source node — immune to the path refresh — WITHOUT pulling
    // the ledger to the driver (a collect here grows unboundedly with the
    // processed-file history; the checkpoint stays executor-side). AQE
    // broadcasts the anti-join when the snapshot fits the threshold.
    val ingested = X12Bronze.ingest(spark, landingDir, batchId, processingDate)
    val bronze =
      if (write) {
        val processed = processedFiles(spark, outDir).localCheckpoint(true)
        ingested.join(processed, Seq("file_name"), "left_anti")
      } else ingested
    bronze.cache()
    // a fully-ledgered re-run has nothing new: skip every write (the
    // overwrite-mode mart sinks would otherwise be wiped with empty frames)
    val doWrite = write && bronze.count() > 0
    if (doWrite) {
      X12Bronze.writeLanding(bronze, s"$outDir/bronze")
      X12Bronze.writeMetadataJson(bronze, s"$outDir/bronze_metadata")
      X12Bronze.summary(bronze).write.mode("overwrite").json(s"$outDir/bronze_summary")
      // dead-letter: invalid files quarantined with their errors, never
      // silently dropped (the reference only logs them)
      bronze.filter(!col("file_is_valid"))
        .select("file_name", "batch_id", "validation_errors", "content")
        .write.mode("overwrite").json(s"$outDir/bronze_quarantine")
    }

    // Silver: parse only bronze-valid files
    val silver = X12Silver.parseValid(bronze, batchId, processingDate, processingTs)
    silver.cache()
    if (doWrite) {
      X12Silver.write(silver, s"$outDir/silver")
      X12Silver.summary(silver).write.mode("overwrite").json(s"$outDir/silver_summary")
    }

    // Gold: valid transactions only (gold_x12_analytics.py:74), read from
    // the accumulated silver store. A per-date mart reads only the touched
    // date and replaces only that partition (A9's group recompute: O(day),
    // not O(history)): silver is append-only, so the other dates'
    // partitions already hold what a full recompute would write. The other
    // marts read the whole store. Batch-scoped outputs (summaries,
    // quarantine, 997 acks, daily analytics over this batch's bronze) stay
    // per-run by design.
    // the read-back can fail on a store with no parquet footers yet (this
    // run's silver slice was empty — e.g. every landing file failed bronze
    // validation); fall back to the in-memory slice so the run completes
    val silverStore =
      if (doWrite)
        try spark.read.parquet(s"$outDir/silver")
        catch { case scala.util.control.NonFatal(_) => silver.toDF() }
      else silver.toDF()
    val silverValid = silverStore.filter(col("is_valid"))
    val touched = silverValid.filter(col("processing_date") === lit(processingDate))
    val silverMarts = X12Gold.marts.map(m =>
      m -> m.build(if (m.perDate) touched else silverValid, processingDate))
    val daily = X12Gold.dailyAnalytics(bronze, silver.toDF(), processingDate)
    if (doWrite) {
      // the 13 gold writes overlap (see the object's scaladoc); the
      // launcher returns once every write has ended, failed or not
      val martWrites = silverMarts.map { case (m, df) => () =>
        // a per-write option, not the session conf, so the concurrent
        // writes on this session keep their own overwrite mode
        val w = df.write.mode("overwrite")
          .option("partitionOverwriteMode", if (m.perDate) "dynamic" else "static")
        (if (m.partitioned) w.partitionBy("processing_date") else w)
          .parquet(s"$outDir/${m.name}")
      }
      Jobs.inParallel(spark)(martWrites :+ (() =>
        daily.write.mode("overwrite").parquet(s"$outDir/gold_daily_analytics")): _*)
    }
    val marts = silverMarts.map { case (m, df) => m.name -> df }.toMap +
      ("gold_daily_analytics" -> daily)

    // 997 acknowledgments per trading partner
    val acks = Ack997.validate997(
      Ack997.acknowledgments(silver.toDF(), batchId, now, qualityDrivenAckCode))
    if (doWrite) {
      Ack997.writeAckFiles(acks, s"$outDir/acknowledgments")
      Ack997.metadata(acks).write.mode("overwrite").json(s"$outDir/acknowledgment_metadata")
      // ledger last: a file is "processed" only once every sink above has
      // been written (a crashed run re-processes, never skips)
      bronze.select("file_name")
        .withColumn("batch_id", lit(batchId))
        .withColumn("processed_at", lit(processingTs))
        .write.mode("append").parquet(ledgerPath(outDir))
    }

    Result(bronze, silver, marts, acks)
  }
}
