package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev timing and profiling against an arbitrary fixture dir (the heavy
  * dir included): `runMain graft.TimeQueries <dir> <name,name,...>
  * [runs]`. Same execution basis as Bench (`BenchHarness.executeFully`
  * — full output drained through `toRdd.count()`), printed per run so
  * plan-warmup vs steady-state is visible, each run followed by its
  * per-stage table (wall time, tasks, input records, shuffle read and
  * write records) — the feedback loop for plan surgery: which stage
  * recomputes, which exchange dominates. After each `TIME` line a
  * `CODEGEN <name> run<i> classes=<n> compile_ms=<m> source_bytes=<b>`
  * line counts what the run compiled ([[CodegenTally]]): a warm run of a
  * plan that reuses its code reads `classes=0`. Scans split at the dir's own
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
      val before = CodegenTally.now()
      val t0 = System.nanoTime()
      BenchHarness.executeFully(SparkEntry.queries(n)(spark, dir))
      println(f"TIME $n run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      val compiled = CodegenTally.now() - before
      println(f"CODEGEN $n run$i classes=${compiled.classes} " +
        f"compile_ms=${compiled.compileNs / 1e6}%.1f source_bytes=${compiled.sourceBytes}")
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

/** What the process has compiled so far: classes (the count of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`), their compile time (Spark's
  * exact running sum of the times that histogram samples) and their
  * source size. The size histogram keeps no sum, so it is its sample mean
  * times its count: exact while the process has compiled no more classes
  * than the histogram's reservoir holds (1028), an estimate after.
  */
final case class CodegenTally(classes: Long, compileNs: Long, sourceBytes: Long) {
  def -(o: CodegenTally): CodegenTally =
    CodegenTally(classes - o.classes, compileNs - o.compileNs, sourceBytes - o.sourceBytes)
}

object CodegenTally {
  def now(): CodegenTally = {
    val size = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val sample = size.getSnapshot.getValues
    val bytes =
      if (sample.isEmpty) 0L
      else math.round(sample.sum.toDouble / sample.length * size.getCount)
    CodegenTally(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, bytes)
  }
}
