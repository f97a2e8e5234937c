package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the measurement mains (Bench, BenchHeavy, Verify,
  * Explain, TimeQueries, MakeHeavy): the one session they run on, JSON
  * escaping, the DuckDB oracle-timing sidecar, and the distributed-parse
  * throughput point — one copy of the hung-child/timeout/stdout-drain logic.
  */
object BenchHarness {

  /** The session every measurement main runs on: `local[SPARK_GRAFT_CPUS]`
    * (`defaultCpus` when unset) built by [[GraftSession.getOrCreate]] with
    * shuffle partitions = cpus and the UI off. File scans split at the
    * grain of `dataDir` ([[fitSplitGrain]]).
    */
  def session(defaultCpus: Int, dataDir: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val spark = GraftSession.getOrCreate(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    fitSplitGrain(spark, dataDir)
    spark
  }

  /** Split this session's file scans at `dir`'s grain
    * ([[BenchHeavy.splitGrain]]), worked out from the dir itself.
    */
  def fitSplitGrain(spark: SparkSession, dir: String): Unit =
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      BenchHeavy.splitGrain(dir))

  /** The timed action for every benched query: execute the query's OWN
    * physical plan and drain every output row (r7 measurement-basis fix).
    * `df.count()` plants an Aggregate on top and lets Catalyst prune
    * everything the count doesn't need — a pure projection degenerates to
    * a parquet row count, and a left-join rebuild (dd50) loses its entire
    * compute (measured: 0.14 s counted vs 43 s real) — while the DuckDB
    * sidecar `fetchall()`s full results, biasing every affected ratio in
    * Spark's favor. `toRdd.count()` consumes the compiled plan's row
    * iterator with no count pushdown and no driver materialization: what
    * the query computes is what gets timed, same as the oracle side.
    */
  def executeFully(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Storage hygiene between benched entries (r15 verdict #2): iterative
    * operators (dupClusters' RDD loop) leave their FINAL persisted label
    * generation behind for the caller to consume — correct per entry, but
    * across a 176-entry sweep the leftovers accumulate as resident storage
    * that later entries' timings then compete with (the BenchHeavy
    * txParse lesson at BenchHeavy.scala's clearCache note). Called AFTER a
    * query's timed runs, never inside them: unpersists every RDD whose id
    * is not in `keepIds` — the snapshot taken after the x12 silver
    * pre-fill, so the sweep-shared silver cache (measured separately as
    * x12_parse_tx_per_sec) survives. Blocking unpersist: the blocks must
    * actually be gone before the next entry's timing starts. This frees
    * localCheckpointed RDDs too, and their lineage is truncated: a plain
    * persist recomputes after an unpersist, but a localCheckpointed frame
    * fails with a missing checkpoint block. So a localCheckpointed frame
    * that later entries reuse must be in `keepIds`.
    */
  def unpersistLeaked(spark: SparkSession, keepIds: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keepIds.contains(id))
        try rdd.unpersist(true) catch { case _: Throwable => }
    }

  /** Pinned canary query — ONE fixed cheap scan+agg over documents, timed
    * warm at sweep start AND end (r13 verdict finding #2): the r13 session
    * showed per-job constants drifting monotonically 1.5-3× within a single
    * day at byte-identical source, which made late-session artifacts
    * unreadable without BASELINE.md's out-of-band load notes. The canary
    * pair makes a drifted draw machine-detectable from the artifact alone:
    * canary_end_s / canary_start_s > ~1.5 ⇒ the sweep is a drift envelope,
    * not a representative reading. The query is pinned forever — changing
    * it breaks cross-round comparability.
    */
  def canaryOnce(spark: SparkSession, tablesDir: String): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    executeFully(spark.read.parquet(s"$tablesDir/documents.parquet")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars")))
    (System.nanoTime() - t0) / 1e9
  }

  /** Steady-state canary reading: discard one JIT run, keep the min of
    * the next 3 (the r14 draw-1 artifact showed a 2-run warmup still
    * carrying JIT — start 0.63 s vs end 0.27 s on a drift-free sweep).
    * The END reading uses the same min-of-3 via [[canarySteady]], so the
    * pair compares like-for-like.
    */
  def canaryWarm(spark: SparkSession, tablesDir: String): Double = {
    canaryOnce(spark, tablesDir)
    canarySteady(spark, tablesDir)
  }

  /** min-of-3 canary draws (no discard — call when the path is warm). */
  def canarySteady(spark: SparkSession, tablesDir: String): Double =
    Seq.fill(3)(canaryOnce(spark, tablesDir)).min

  /** Emit the bench metric line AND persist it as a sidecar file (r13
    * verdict finding #1): the driver scrapes sbt stdout where every line
    * rides an `[info] ` prefix, so BENCH_r12/r13 both carried
    * `"parsed": null` and the structured gate survived only inside the raw
    * tail string. The sidecar goes to java.io.tmpdir (stable machine path)
    * and — ONLY on a labeled draw — the working directory (r14 verdict
    * finding #3: every bench run used to overwrite the cwd copy, so a
    * post-close probe left the committed sidecar stale/dirty against the
    * round artifact). Set SPARK_GRAFT_BENCH_DRAW=<label> (e.g.
    * "r15_heavy_1") for the representative draw: the label is stamped
    * into the JSON as a leading "draw" field so the committed copy
    * self-identifies, and the cwd copy is written. Unlabeled runs stamp
    * "draw":"unlabeled" and touch only the tmpdir copy.
    */
  def emit(json: String, sidecarName: String): Unit = {
    val draw = sys.env.get("SPARK_GRAFT_BENCH_DRAW").filter(_.nonEmpty)
    val stamped =
      if (json.startsWith("{"))
        s"""{"draw":${escJson(draw.getOrElse("unlabeled"))},""" + json.drop(1)
      else json
    println(stamped)
    val dirs = Seq(System.getProperty("java.io.tmpdir")) ++
      (if (draw.isDefined) Seq(System.getProperty("user.dir")) else Nil)
    for (dir <- dirs)
      try Files.writeString(
        java.nio.file.Paths.get(dir).resolve(sidecarName), stamped + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] sidecar write to $dir failed: ${e.getMessage}") }
  }

  /** JSON string escape: backslash, quote, and ALL control chars (< 0x20)
    * — a tab or CR in an oracle SQL string would otherwise make a
    * reader's `json.load` fail.
    */
  def escJson(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The `oracle_sql.json` body (entry name → DuckDB SQL) that the oracle
    * sidecar times and Verify's dump ships for the hash compare.
    */
  def oracleSqlJson(oracleSql: Map[String, String]): String =
    oracleSql.map { case (k, v) => s"${escJson(k)}: ${escJson(v)}" }
      .mkString("{", ",", "}")

  /** Time each DuckDB oracle over the same tables via the python sidecar
    * (driver-side tooling, not a library dependency). Returns the sidecar's
    * JSON object; on failure a DISTINGUISHABLE JSON string — a bench line
    * never fails because python/duckdb are absent, but a missing gate must
    * be loud in the artifact (r12 verdict finding #2: BENCH_r12 ended
    * `"oracle": null` on a sidecar timeout and the 2x gate became
    * unreadable from the driver's own artifact). `"oracle_timeout"` =
    * the child outlived timeoutMinutes; `"oracle_error"` = it exited
    * non-zero, emitted non-JSON, or could not be launched at all.
    */
  def runOracleSidecar(tablesDir: String, oracleSql: Map[String, String],
      sparkTimingsJson: String, timeoutMinutes: Long): String = try {
    val dir = Files.createTempDirectory("graft_bench")
    try {
      val of = dir.resolve("oracle_sql.json")
      Files.writeString(of, oracleSqlJson(oracleSql))
      val tf = dir.resolve("spark_timings.json")
      Files.writeString(tf, sparkTimingsJson)
      // stderr inherits (no pipe to fill and deadlock on); stdout drains on
      // a daemon thread so the timeout below actually fires on a hung child
      val proc = new ProcessBuilder(
        "python3", "tools/bench_oracle.py", tablesDir, of.toString, tf.toString)
        .redirectError(ProcessBuilder.Redirect.INHERIT)
        .start()
      val outBuf = new java.util.concurrent.atomic.AtomicReference[String]("")
      val reader = new Thread(() =>
        try outBuf.set(new String(proc.getInputStream.readAllBytes(), "UTF-8").trim)
        catch { case _: Throwable => })
      reader.setDaemon(true)
      reader.start()
      val done = proc.waitFor(timeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { proc.destroyForcibly(); "\"oracle_timeout\"" }
      else {
        reader.join(10000)
        val out = outBuf.get()
        if (proc.exitValue() == 0 && out.startsWith("{")) out else "\"oracle_error\""
      }
    } finally FileUtils.deleteQuietly(dir.toFile)
  } catch { case _: Throwable => "\"oracle_error\"" }

  /** X12 distributed-parse throughput (transactions/sec) over a generated
    * corpus of `nFiles` — the comparison point for the reference's
    * 1,000 tx/hour driver-bound baseline. -1 on failure.
    */
  def txParseThroughput(spark: SparkSession, corpusDir: String,
      nFiles: Int, seed: Long): Double = try {
    graft.x12.X12TestDataGen.writeCorpus(corpusDir, nFiles, seed = seed)
    val files = graft.x12.X12Silver.readFiles(spark, corpusDir)
    val t0 = System.nanoTime()
    val n = graft.x12.X12Silver.parse(files, "BENCH",
      java.sql.Date.valueOf("2025-09-01"),
      java.sql.Timestamp.valueOf("2025-09-01 12:00:00")).count()
    n / ((System.nanoTime() - t0) / 1e9)
  } catch { case _: Throwable => -1.0 }
}
