package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}

/** Dev timing and profiling against an arbitrary fixture dir (the heavy
  * dir included): `runMain graft.TimeQueries <dir> <name,name,...>
  * [runs]`. Same execution basis as Bench (`BenchHarness.executeFully`
  * — full output drained through `toRdd.count()`), printed per run so
  * plan-warmup vs steady-state is visible, each run followed by its
  * per-stage table (wall time, tasks, input records, shuffle read and
  * write records) — the feedback loop for plan surgery: which stage
  * recomputes, which exchange dominates. Scans split at the dir's own
  * grain (`BenchHeavy.splitGrain`). Measurement scratch tool; the
  * committed artifacts always come from Bench/BenchHeavy.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = BenchHarness.session(defaultCpus = 4, dir)
    println(s"SPLIT_GRAIN ${spark.conf.get("spark.sql.files.maxPartitionBytes")} bytes")
    val stages = scala.collection.mutable.ArrayBuffer[StageInfo]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages += sc.stageInfo)
    })
    for (n <- names; i <- 1 to runs) {
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      BenchHarness.executeFully(SparkEntry.queries(n)(spark, dir))
      println(f"TIME $n run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      stages.synchronized(stages.sortBy(_.stageId).toList).foreach { si =>
        val m = si.taskMetrics
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        println(f"  stage ${si.stageId}%3d $ms%6d ms  tasks=${si.numTasks}%4d" +
          f"  input=${m.inputMetrics.recordsRead}%10d" +
          f"  shufRead=${m.shuffleReadMetrics.recordsRead}%10d" +
          f"  shufWrite=${m.shuffleWriteMetrics.recordsWritten}%10d" +
          s"  ${si.name.split("\n").head.take(60)}")
      }
    }
    spark.stop()
  }
}
