package graft.x12

import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession

/** CLI entry point for one medallion batch run — the operational analog of
  * the reference's DAG trigger (x12_processing_dag.py:28: scheduler invokes
  * bronze→silver→gold→ack every 15 minutes; here the scheduler invokes this
  * main).
  *
  * Usage: runMain graft.x12.RunPipeline <landingDir> <outDir> [batchId] [--quality-acks]
  *
  * `--quality-acks` picks the quality-driven 997 ack codes: each
  * transaction set's AK5 reads `A` or `E` by its validity, and a group's
  * AK9 reads `E` when any of its sets failed ([[Ack997.acknowledgments]]).
  * Without it every set is acknowledged `A`, as the reference does. The Spark master
  * comes from spark-submit or `-Dspark.master` when set, else
  * `local[$SPARK_GRAFT_CPUS]` (default 4).
  */
object RunPipeline {
  private val Usage =
    "usage: RunPipeline <landingDir> <outDir> [batchId] [--quality-acks]"

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length >= 2 && positional.length <= 3 &&
      flags.forall(_ == "--quality-acks"), Usage)
    val landingDir = positional(0)
    val outDir = positional(1)
    val now = LocalDateTime.now()
    // sanitized so the summary line below stays valid JSON and the id is
    // safe inside generated file names
    val batchId = (if (positional.length > 2) positional(2)
      else "BATCH_" + now.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")))
      .replaceAll("[^A-Za-z0-9_-]", "_")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session factory carries the engine's scale stance (AQE + skew
    // join, zstd, UTC, graft functions); shuffle partitions sized to cores
    val builder = SparkSession.builder().appName(s"graft-x12-$batchId")
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = graft.GraftSession.getOrCreate(builder,
      shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = X12Pipeline.run(spark, landingDir, outDir, batchId,
        java.sql.Date.valueOf(now.toLocalDate),
        java.sql.Timestamp.valueOf(now), now,
        qualityDrivenAckCode = flags.contains("--quality-acks"))
      val files = result.bronze.count()
      val txs = result.silver.count()
      val acks = result.acks.count()
      // the notebook-exit JSON contract (bronze_x12_ingestion.py:318)
      println(s"""{"batch_id":"$batchId","files":$files,"transactions":$txs,"acknowledgments":$acks,"out":"$outDir"}""")
    } finally spark.stop()
  }
}
