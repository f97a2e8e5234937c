package graft

import org.apache.spark.sql.SparkSession

/** Front door for library users: one call configures a SparkSession
  * builder with the engine's scale stance, so "switch to this library"
  * is a session-factory change rather than a conf scavenger hunt.
  *
  * What it encodes (and why — the 100 TB design defaults):
  *  - the native `graft_*` functions (the operators' codegen kernels):
  *    `GraftExtensions` injects the text kernels when the context is
  *    created, and [[getOrCreate]] registers the whole family
  *    (`GraftFunctions.register`) on any session;
  *  - AQE on with skew-join splitting and partition coalescing — runtime
  *    re-planning is the first defense against skewed partners/keys;
  *  - 128 MB file partitions (one task ≈ one parquet row-group span);
  *  - zstd parquet writes (the silver body compresses ~2× better than
  *    snappy on text-heavy payloads, SURVEY §storage);
  *  - UTC session timezone (cross-engine timestamp determinism);
  *  - a generated-code cache of [[CodegenCacheEntries]] classes. Every
  *    whole-stage plan compiles to Java source, and Spark keeps the
  *    compiled classes in a cache keyed by that source. Its default of 100
  *    entries is fewer than one medallion or curation run compiles (about
  *    235 classes), so each repeat of a run recompiled what the previous
  *    one had just compiled. The cache is JVM-global and sized the first
  *    time code is generated, so the conf takes effect only when
  *    GraftSession creates the SparkContext; a session joined to a running
  *    context keeps the size that context's first plan fixed;
  *  - no per-session artifact isolation. Spark plans a `cache()` on a clone
  *    of the session, and with isolation on the executor gives each clone
  *    its own classloader, which is part of the codegen cache's key: the
  *    tasks that fill a cache recompiled their stages on every run. The
  *    engine adds no jars or classes to a session, so isolation guards
  *    nothing here.
  *
  * `shufflePartitions` is the one knob a deployment MUST size: ~2-3× the
  * cluster's total cores, and large enough that a shuffle partition of the
  * biggest stage fits in executor memory. The default follows Spark's 200;
  * the local test/bench mains pass their core count instead.
  */
object GraftSession {

  /** Generated classes the codegen cache holds
    * (`spark.sql.codegen.cache.maxEntries`).
    */
  val CodegenCacheEntries = 2000

  def configure(builder: SparkSession.Builder,
      shufflePartitions: Int = 200): SparkSession.Builder =
    builder
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Build (or join) the session AND guarantee the graft functions are
    * available: `spark.sql.extensions` is a STATIC conf that only applies
    * when the SparkContext itself is created, so a session built on an
    * already-running context (notebooks, shared test JVMs) would silently
    * miss the injection — the imperative registration is idempotent and
    * covers that path.
    */
  def getOrCreate(builder: SparkSession.Builder = SparkSession.builder(),
      shufflePartitions: Int = 200): SparkSession = {
    val s = configure(builder, shufflePartitions).getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}
