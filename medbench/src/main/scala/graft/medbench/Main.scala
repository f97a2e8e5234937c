package graft.medbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.{BenchHarness, GraftSession}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Sets up the workload's inputs, runs it in
  * a closed loop (one client; each run starts after the previous one has
  * finished and its output was checked) for `--seconds`, and prints one
  * line `MEDBENCH_RESULT <json>` with the run counts, the output checks'
  * failures, and the metrics: end-to-end ones untraced, per-layer ones
  * with `--trace 1`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  /** What a workload does between the closed loop's checks. */
  trait Workload {
    /** Input records one run consumes (transactions or documents). */
    def records: Long
    /** Nominal seconds of one warm run on a 4-core machine. A run of the
      * benchmark makes `--seconds / nominalRunS` timed runs: a count fixed
      * in advance, so a slow moment of the machine changes the times, not
      * how many runs the median is taken over.
      */
    def nominalRunS: Double
    /** Generates the inputs; may include runs that warm the JVM up. */
    def setup(): Unit
    /** Whether set-up ends with a cold first run of the measured work
      * (otherwise its own runs were the cold ones).
      */
    def coldRun: Boolean = true
    /** Untimed reset before each run. */
    def prepare(): Unit
    /** The timed run, from input to complete result. */
    def run(): Unit
    /** Failed output checks of the run just made. */
    def check(): Seq[String]
    /** Traced run: layer metrics and output digests of the real and the
      * traced run, which must agree.
      */
    def traced(log: StageLog, clock: Clock): Traced
    /** Oracle comparisons left for the DuckDB check, as (name, oracle SQL,
      * SQL over the written output) triples.
      */
    def oracleChecks: Seq[(String, String, String)] = Nil
  }

  /** Aligns Spark's epoch-millisecond event times with span nanoseconds. */
  final case class Clock(ms: Long, ns: Long) {
    def toNs(epochMs: Long): Long = ns + (epochMs - ms) * 1000000L
  }
  object Clock { def now(): Clock = Clock(System.currentTimeMillis(), System.nanoTime()) }

  final case class Traced(metrics: Map[String, Double], untracedWall: Double,
      tracedWall: Double, errors: Seq[String])

  def main(argv: Array[String]): Unit = {
    // set-up time counts from JVM start: the session start is part of it
    val t0 = System.nanoTime() - 1000000L * (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val spark = GraftSession.getOrCreate(SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString),
      shufflePartitions = threads)
    spark.sparkContext.setLogLevel("ERROR")
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try {
      val wl: Workload = a.workload match {
        case "x12_daily_incremental" => new DailyIncremental(spark, a.work, a.seed)
        case "curation_chain" => new CurationRun(spark, a.work, a.seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = execute(spark, wl, a, log, t0)
      println("MEDBENCH_RESULT " + result)
    } finally spark.stop()
  }

  /** Between runs, outside timed regions: drop every cached block the run
    * left behind and collect the heap, so each run starts from the same
    * state instead of paying for the previous run's garbage.
    */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    BenchHarness.unpersistLeaked(spark, Set.empty)
    System.gc()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def cpuS(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Spark's task threads: `-Dmedbench.threads` (`run.py` passes half the
    * cores), else every core.
    */
  def threads: Int = sys.props.get("medbench.threads").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** At least this many measured runs. */
  val MinRuns = 2

  def execute(spark: SparkSession, wl: Workload, a: Args, log: StageLog,
      t0: Long): String = {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def checked(run: => Unit): Unit = {
      attempted += 1
      val errs =
        try { run; wl.check() }
        catch { case e: Exception => Seq(s"run failed: $e") }
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
      hygiene(spark)
    }
    def note(what: String): Unit =
      System.err.println(f"[medbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")
    note("session up")
    wl.setup()
    note("set-up done")
    // the cold first run is set-up: a user's first batch in a fresh JVM
    // pays it every time, so it is reported, not hidden
    if (wl.coldRun) {
      wl.prepare()
      checked(wl.run())
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    note("cold run done")
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val runs = math.max(MinRuns, math.round(a.seconds / wl.nominalRunS).toInt)
        val walls = mutable.ArrayBuffer.empty[Double]
        while (walls.length < runs) {
          wl.prepare()
          var wall = 0.0
          checked {
            val s = System.nanoTime()
            wl.run()
            wall = (System.nanoTime() - s) / 1e9
          }
          walls += wall
          note(f"run ${walls.length}: $wall%.3f s; so far ${cpuS()}%.1f s of " +
            s"process cpu, ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount} classes generated")
        }
        val wall = median(walls.toSeq)
        Seq(("wall_s", wall, "s"),
          ("records_per_s", if (wall > 0) wl.records / wall else 0.0, "1/s"),
          ("setup_s", setupS, "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        // a traced round is a real run plus a traced one
        val rounds = math.max(1, (a.seconds / (2 * wl.nominalRunS)).toInt)
        val runs = mutable.ArrayBuffer.empty[Traced]
        while (runs.length < rounds) {
          attempted += 1
          val r =
            try wl.traced(log, Clock.now())
            catch { case e: Exception => Traced(Map.empty, 0, 0, Seq(s"traced run failed: $e")) }
          if (r.errors.nonEmpty) { failed += 1; errors ++= r.errors }
          runs += r
          hygiene(spark)
        }
        val overhead = median(runs.map(_.tracedWall).toSeq) -
          median(runs.map(_.untracedWall).toSeq)
        Catalog.perLayer.map { case (name, unit) =>
          val v =
            if (name == "trace.overhead_s") overhead
            else median(runs.map(_.metrics.getOrElse(name, 0.0)).toSeq)
          (name, v, unit)
        }
      }
    errors.distinct.take(20).foreach(e => System.err.println(s"[medbench] check failed: $e"))
    Json.result(errors.isEmpty, attempted, failed, metrics, wl.oracleChecks)
  }

  /** Layer metrics of one traced run from its spans and stage log. */
  def layerMetrics(spans: Seq[Span], log: StageLog, runId: String,
      clock: Clock, wall: Double): Map[String, Double] = {
    val (_, stages) = log.snapshot()
    val self = Intervals.selfTimes(spans)
    val per = Attribution.perSpan(spans, stages, runId, clock.toNs)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val busy = self(s.id) / 1e9
      val st = per(s.id)
      out(s"${s.name}.busy_s") += busy
      out(s"${s.name}.driver_gap_s") += math.max(0.0, busy - st.coveredS)
      out(s"${s.name}.executor_cpu_s") += st.cpuS
      out(s"${s.name}.tasks") += st.tasks
      out(s"${s.name}.shuffle_bytes") += st.shuffleBytes.toDouble
      out(s"${s.name}.records_out") += st.recordsOut.toDouble
    }
    val top = spans.filter(_.parent.isEmpty).map(_.duration).sum / 1e9
    out("trace.unattributed_s") = wall - top
    out.toMap
  }

  /** Self times plus unattributed time must add up to the traced wall. */
  def closes(m: Map[String, Double], wall: Double): Seq[String] = {
    val sum = m.collect { case (k, v) if k.endsWith(".busy_s") => v }.sum +
      m.getOrElse("trace.unattributed_s", 0.0)
    Option.when(wall <= 0 || math.abs(sum - wall) > 0.01 * wall)(
      f"span self times + unattributed = $sum%.3f s, traced wall $wall%.3f s").toSeq
  }

  /** Whole-run totals of the real, untraced run. */
  def pipelineMetrics(log: StageLog, fromMs: Long, toMs: Long,
      wall: Double): Map[String, Double] = {
    org.apache.spark.medbench.BusDrain(SparkSession.active.sparkContext)
    val (jobs, stages) = log.snapshot()
    val t = Attribution.window(jobs, stages, fromMs, toMs)
    Map("pipeline.jobs" -> t.jobs.toDouble, "pipeline.tasks" -> t.tasks.toDouble,
      "pipeline.stage_covered_s" -> t.coveredS,
      "pipeline.driver_gap_s" -> math.max(0.0, wall - t.coveredS),
      "pipeline.executor_cpu_s" -> t.cpuS,
      "pipeline.shuffle_bytes" -> t.shuffleBytes.toDouble,
      "pipeline.task_failures" -> t.failedTasks.toDouble)
  }

  /** Times `body` as a real run with the listener window around it. */
  def realRun(log: StageLog)(body: => Unit): (Double, Map[String, Double]) = {
    val fromMs = System.currentTimeMillis()
    val s = System.nanoTime()
    body
    val wall = (System.nanoTime() - s) / 1e9
    (wall, pipelineMetrics(log, fromMs, System.currentTimeMillis(), wall))
  }

  def tracedRun[T](log: StageLog, clock: Clock, runId: String)(
      body: Tracer => T): (T, Seq[Span], Double) = {
    log.clear()
    val t = new Tracer(runId, SparkSession.active.sparkContext)
    val s = System.nanoTime()
    val r = body(t)
    val wall = (System.nanoTime() - s) / 1e9
    org.apache.spark.medbench.BusDrain(SparkSession.active.sparkContext)
    (r, t.spans, wall)
  }
}

/** Bytes and files a run wrote, grouped by the layer that owns each output
  * directory of the store.
  */
object Written {
  private val owner: String => Option[String] = {
    case "bronze" | "bronze_metadata" | "bronze_summary" | "bronze_quarantine" =>
      Some("bronze.write")
    case "silver" | "silver_summary" => Some("silver.write")
    case d if d.startsWith("gold_") => Some("gold")
    case "acknowledgments" | "acknowledgment_metadata" => Some("ack997")
    case _ => None
  }

  def metrics(before: Map[String, Store.FileStat],
      after: Map[String, Store.FileStat]): Map[String, Double] = {
    val w = Store.written(before, after)
    val byLayer = w.toSeq.groupBy { case (p, _) => owner(p.takeWhile(_ != '/')) }
    val layers = byLayer.collect { case (Some(l), fs) =>
      Seq(s"$l.written_bytes" -> fs.map(_._2.size).sum.toDouble,
        s"$l.written_files" -> fs.length.toDouble)
    }.flatten.toMap
    layers ++ Map("pipeline.written_bytes" -> w.values.map(_.size).sum.toDouble,
      "pipeline.written_files" -> w.size.toDouble)
  }
}
