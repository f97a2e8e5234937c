package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named bundle of driver-checkable queries.
  *
  * Each entry in `queries` is a function (spark, sfDir) => DataFrame over the
  * driver's parquet fixtures; `oracles` holds the equivalent DuckDB SQL for
  * hash-comparison. Queries with no SQL-expressible oracle are simply absent
  * from `oracles` (the driver then records a rows-only check).
  */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Shared helpers keeping Spark results bit-identical to the DuckDB oracle. */
object Q {
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark 4
    // only reads as a long) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ)
    // across fixture generations; normalize either to a session-TZ (UTC)
    // micros timestamp so every consumer sees one type. The DIV 1000 on the
    // long form is integer division = DuckDB's own ns→us truncation, so both
    // engines see identical values.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normTs's NTZ→timestamp cast is wall-clock-preserving ONLY under a UTC
    // session TZ; every entry point pins it already, but pin it here too so
    // a caller with an unpinned session cannot get silently shifted
    // timestamps vs the DuckDB oracle (ADVICE r6)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.withColumn("ts", normTs(df, "ts")) else df
  }

  /** The fixture's float `embedding` as `emb: double[]`, so every dot and
    * norm folds in double like the oracle's `list_sum`.
    */
  def embDouble: Column =
    transform(col("embedding"), x => x.cast("double")).as("emb")

  /** (vec_id, emb) of an embeddings frame — the fixture table or a
    * streamed batch of it.
    */
  def vecEmb(df: DataFrame): DataFrame = df.select(col("vec_id"), embDouble)

  /** The 8 fixed centroids: the vec_id < 8 vectors of a (vec_id, emb)
    * frame with their norms (deterministic and SQL-joinable; production
    * trains k-means offline).
    */
  def fixedCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8).select(
      col("vec_id").as("centroid_id"), col("emb").as("c_emb"),
      sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb")))
        .as("c_norm"))

  /** ts column normalized to TimestampType regardless of the fixture's
    * physical parquet type (long nanos | TIMESTAMP_NTZ micros | TIMESTAMP).
    * The session TZ is pinned to UTC, so the NTZ→TZ cast preserves the wall
    * clock DuckDB reads from the same file.
    */
  def normTs(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case org.apache.spark.sql.types.LongType =>
      // a raw-long ts is assumed parquet TIMESTAMP(NANOS); fail loud if the
      // values are only plausible as micros/millis (a future fixture
      // generation changing units) instead of silently dividing by 1000
      // (ADVICE r6). 1e17 ns ≈ 1973-03; micros/millis for any modern date
      // fall far below it. assert_true returns NULL when the guard holds.
      val guard = assert_true(col(c).isNull || col(c) >= lit(100000000000000000L),
        lit(s"$c: long timestamp too small to be nanoseconds — " +
          "fixture shipped micros/millis?"))
      timestamp_micros(when(guard.isNull, expr(s"$c DIV 1000")))
    case org.apache.spark.sql.types.TimestampNTZType => col(c).cast("timestamp")
    case _ => col(c)
  }

  /** Order-independent money sum, cents-long fast path (r9, the q58
    * integer discipline applied engine-wide): quantize each value to
    * cents with `floor(x*100 + 0.5)` (one codegen'd fp op + long cast —
    * no per-row BigDecimal), sum the longs on Spark's COMPACT aggregate
    * buffer, rescale once. The Decimal twin ([[dsumDecimal]]) widens its
    * sum buffer to Decimal(28,2) — past `Decimal.MAX_LONG_DIGITS`, so
    * every buffer update allocates through JavaBigDecimal; the builder
    * micro-bench read 0.28 s (double/long sums) vs 0.95 s (decimal) at
    * identical scan, and every `dsum` query paid it.
    *
    * Bit-identity to the Decimal path (spec-pinned, DsumCentsSpec) holds
    * for 2-DECIMAL MONEY inputs: the true value is integer cents, the
    * double carries it within ~1e-8 relative, so `floor(x*100+0.5)`
    * and `cast(x as DECIMAL(18,2))` both recover the exact cents (the
    * fixtures' closest approach to a half-cent tie is 0.4999999963 —
    * pure representation error, no real 3-decimal values). The rescale
    * `Σcents / 100.0` and `Σdecimal.cast(double)` are both
    * correctly-rounded doubles of the same rational. NOT valid for
    * arbitrary-precision doubles (a true .005 tie rounds HALF_UP on the
    * decimal string but can floor DOWN here) — use [[dsumDecimal]] there.
    *
    * Bounds, fail-quiet by design like the Decimal path's null-on-
    * overflow: |x| < 2^52/100 (≈ $45e12 per value) for the quantization
    * to be exact, |Σcents| < 2^63 (≈ $92e15 — TPC-H SF ~3M) for the long
    * sum; a corpus beyond either belongs on [[dsumDecimal]].
    */
  def dsum(c: Column): Column = sum(floor(c * 100 + lit(0.5))) / 100.0

  /** Sum of a derived value with more fractional digits (e.g.
    * price*(1-disc), exact at scale 4) — same cents discipline at 1e4.
    */
  def dsum4(c: Column): Column = sum(floor(c * 10000 + lit(0.5))) / 10000.0

  /** Reference Decimal forms of [[dsum]]/[[dsum4]]: exact for ANY double,
    * at the non-compact-buffer cost. The identity spec compares the two
    * paths; adopt these for columns that are not 2-decimal money.
    */
  def dsumDecimal(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")
  def dsum4Decimal(c: Column): Column =
    sum(c.cast(DecimalType(22, 4))).cast("double")

  /** Deterministic average built on the decimal sum.
    *
    * Rounding caveat (learned at sf0.1): `round(x, n)` can DIVERGE between
    * engines even on bit-identical x when x sits exactly on a rounding tie
    * (Spark rounds the shortest-decimal repr half-up, DuckDB rounds the
    * binary double — e.g. 1512.12/32 = 47.25375 → 47.2538 vs 47.2537).
    * Prefer UNROUNDED division when both operands are already
    * deterministic; keep round() only where it cannot tie (and mirror it
    * in the oracle SQL).
    */
  def davg(c: Column): Column =
    round(dsum(c) / count(c), 6)
}
