package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev profiler: run one SparkEntry query and print per-stage wall time,
  * record counts and shuffle volumes — the feedback loop for plan surgery
  * (which stage recomputes, which exchange dominates). Not part of the
  * bench/verify contract.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_MAX_PARTITION_BYTES=131072 matches the heavy tier's
    // protocol-v2 split grain (TimeQueries has the same knob)
    val maxPart = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
      (128L * 1024 * 1024).toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", maxPart)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += ((si.stageId, si.name.split("\n").head.take(60),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten))
      }
    })
    (1 to 2).foreach { i =>
      stages.clear()
      val t0 = System.nanoTime()
      val n = BenchHarness.executeFully(SparkEntry.queries(args(0))(spark, dir))
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(s"== RUN$i ${args(0)} rows=$n secs=$secs")
      stages.sortBy(_._1).foreach { case (id, name, ms, in, sr, sw) =>
        println(f"  stage $id%3d $ms%6d ms  input=$in%10d shufRead=$sr%10d shufWrite=$sw%10d  $name")
      }
    }
    spark.stop()
  }
}
