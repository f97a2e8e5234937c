package graft.medbench

import java.nio.file.Path
import java.sql.Date
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One day's drop onto a store that already holds an earlier day; the
  * store is restored from a pristine copy before each run. The drop mixes
  * many small files (per-file bronze and ledger cost) with a few
  * clearinghouse batch files (parse and silver write cost). The history
  * run is the JVM's cold run.
  */
final class DailyIncremental(spark: SparkSession, work: Path, seed: Long)
    extends Main.Workload {
  private val Start = Date.valueOf("2025-09-01").toLocalDate
  override def coldRun: Boolean = false
  private val out = work.resolve("out")
  private val pristine = work.resolve("pristine")
  private var batch: LandedBatch = _

  /** One day's drop: small files, pairs, one non-X12 file, and a few
    * clearinghouse batch files.
    */
  private def drop(day: Int, scale: Int): LandedBatch = {
    val dir = work.resolve(s"landing/day$day")
    val small = Gen.dailyBatch(dir, seed * 1000 + day, s"day$day",
      Sizes.DailyFiles / scale, Sizes.DailyPairs / scale)
    val bulk = Gen.bulkBatch(dir, seed * 1000 + day + 500, s"day${day}b",
      Sizes.DailyBulkFiles / scale, Sizes.BulkTxPerFile)
    LandedBatch(dir, s"DAY$day", Date.valueOf(Start.plusDays(day)),
      Gen.Batch(small.files + bulk.files, small.tx + bulk.tx))
  }

  /** History days have the measured day's shape at a third of its size,
    * so the history runs warm up the code the measured runs take.
    */
  def setup(): Unit = {
    (0 until Sizes.HistoryDays).foreach { d =>
      Medallion.run(spark, drop(d, scale = 3), pristine)
      Main.hygiene(spark)
    }
    batch = drop(Sizes.HistoryDays, scale = 1)
  }

  def prepare(): Unit = Store.restore(pristine, out)

  def records: Long = batch.expected.tx
  def nominalRunS: Double = 10.0
  def run(): Unit = Medallion.run(spark, batch, out)
  def check(): Seq[String] = Medallion.check(spark, batch, out)

  def traced(log: StageLog, clock: Main.Clock): Main.Traced = {
    prepare()
    val before = Store.files(out)
    val (uWall, pipeline) = Main.realRun(log)(run())
    val written = Written.metrics(before, Store.files(out))
    val errs = mutable.ArrayBuffer.empty[String] ++ check()
    val realDigest = Medallion.digest(spark, out)
    Main.hygiene(spark)

    prepare()
    val runId = s"x12-${System.nanoTime()}"
    val (f, spans, tWall) = Main.tracedRun(log, clock, runId) { t =>
      Medallion.traced(spark, batch, out, t)
    }
    val m = Main.layerMetrics(spans, log, runId, clock, tWall)
    errs ++= check()
    errs ++= Main.closes(m, tWall)
    val tracedDigest = Medallion.digest(spark, out)
    if (tracedDigest != realDigest)
      errs += s"traced outputs differ from the real run: $tracedDigest vs $realDigest"
    val b = f.bronze.groupBy().agg(count(lit(1)),
      sum(when(col("file_is_valid"), 1L).otherwise(0L))).head()
    val s = f.silver.toDF().groupBy().agg(count(lit(1)),
      sum(when(col("is_valid"), 0L).otherwise(1L))).head()
    val silverTx = s.getLong(0).toDouble
    val parseBusy = m.getOrElse("silver.parse.busy_s", 0.0)
    val goldRows = m.collect { case (k, v) if k.startsWith("gold") &&
      k.endsWith(".records_out") => v }.sum
    val counts = Map(
      "bronze.files_in" -> b.getLong(0).toDouble,
      "bronze.files_valid" -> b.getLong(1).toDouble,
      "bronze.files_quarantined" -> (b.getLong(0) - b.getLong(1)).toDouble,
      "ledger.rows" -> f.processed.count().toDouble,
      "silver.tx_out" -> silverTx,
      "silver.tx_invalid" -> s.getLong(1).toDouble,
      "silver.tx_per_busy_s" -> (if (parseBusy > 0) silverTx / parseBusy else 0.0),
      "silver.readback_rows" -> f.silverStore.count().toDouble,
      "gold.rows_out" -> goldRows,
      "ack997.acks_out" -> f.acks.count().toDouble)
    Main.Traced(m ++ pipeline ++ written ++ counts, uWall, tWall, errs.toSeq)
  }

  /** The sweep's DuckDB oracle SQL for the x12 marts and 997 acks, pointed
    * at the written silver store, next to SQL that reads what the run wrote.
    */
  override def oracleChecks: Seq[(String, String, String)] = {
    val oracles = graft.queries.X12Queries.oracles
    val tables = s"${System.getProperty("java.io.tmpdir")}/graft_x12_corpus_v1/_tables"
    val hive = "hive_partitioning = true, hive_types = " +
      "{'processing_date': DATE, 'transaction_type': VARCHAR}"
    val silverAll = s"read_parquet('$out/silver/*/*/*.parquet', $hive)"
    val silverBatch = s"(SELECT * FROM $silverAll WHERE batch_id = '${batch.batchId}')"
    def oracle(name: String, silver: String): String =
      oracles(name).replace(s"read_parquet('$tables/silver/*.parquet')", silver)
    def mart(name: String, stamped: Boolean = true): String =
      s"SELECT * ${if (stamped) "EXCLUDE (created_at)" else ""} " +
        s"FROM read_parquet('$out/$name/*/*.parquet', " +
        "hive_partitioning = true, hive_types = {'processing_date': DATE})"
    val acks = oracle("x12_65_ack997", silverBatch)
      .replace("_997_BATCH_Q.x12", s"_997_${batch.batchId}.x12")
    Seq(
      ("x12_66_request_response_pairs",
        oracle("x12_66_request_response_pairs", silverAll),
        mart("gold_request_response_pairs", stamped = false)),
      ("x12_62_gold_claims", oracle("x12_62_gold_claims", silverAll),
        mart("gold_healthcare_claim_analytics")),
      ("x12_63_gold_partners", oracle("x12_63_gold_partners", silverAll),
        mart("gold_trading_partner_analytics")),
      ("x12_64_gold_quality", oracle("x12_64_gold_quality", silverAll),
        mart("gold_data_quality_metrics")),
      ("x12_65_ack997.metadata",
        s"SELECT sender_id, receiver_id, ack_filename, file_count FROM ($acks)",
        "SELECT sender_id, receiver_id, ack_filename, file_count " +
          s"FROM read_json_auto('$out/acknowledgment_metadata/*.json')"),
      ("x12_65_ack997.content",
        "SELECT trim(sender_id) AS partner, unnest(string_split(" +
          s"acknowledgment_content, chr(10))) AS line FROM ($acks)",
        "SELECT regexp_extract(filename, 'partner=([^/]*)/', 1) AS partner, " +
          "unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line " +
          s"FROM read_text('$out/acknowledgments/*/part-*')"))
  }
}

/** The curation chain over generated documents with near-duplicate
  * variants; read-only, so nothing is reset between runs.
  */
final class CurationRun(spark: SparkSession, work: Path, seed: Long) extends Main.Workload {
  private val docsPath = work.resolve("documents.parquet").toString
  private var n = 0L
  private var last: DataFrame = _
  private var firstDigest: Option[String] = None

  def records: Long = n
  def nominalRunS: Double = 7.5

  def setup(): Unit = {
    import spark.implicits._
    val docs = Gen.documents(seed, Sizes.CurationBase, Sizes.CurationVariants)
    n = docs.length.toLong
    docs.toDF().repartition(Main.threads)
      .write.mode("overwrite").parquet(docsPath)
  }

  private def docs: DataFrame = spark.read.parquet(docsPath)

  def prepare(): Unit = ()

  def run(): Unit = last = CurationChain.run(spark, docs)

  /** Checks the mix and that every run of the process returns the same
    * survivors as its first.
    */
  def check(): Seq[String] = {
    val d = CurationChain.digest(last)
    val same = firstDigest.forall(_ == d)
    if (firstDigest.isEmpty) firstDigest = Some(d)
    CurationChain.check(last, docs) ++
      Option.when(!same)(s"mix digest $d differs from the first run's ${firstDigest.get}")
  }

  def traced(log: StageLog, clock: Main.Clock): Main.Traced = {
    val (uWall, pipeline) = Main.realRun(log)(run())
    val errs = mutable.ArrayBuffer.empty[String] ++ check()
    val realDigest = CurationChain.digest(last)
    Main.hygiene(spark)
    val runId = s"cur-${System.nanoTime()}"
    val (f, spans, tWall) = Main.tracedRun(log, clock, runId) { t =>
      CurationChain.traced(spark, docs, t)
    }
    val m = Main.layerMetrics(spans, log, runId, clock, tWall)
    errs ++= Main.closes(m, tWall)
    val tracedDigest = CurationChain.digest(f.mix)
    if (tracedDigest != realDigest)
      errs += s"traced mix differs from the real run: $tracedDigest vs $realDigest"
    val fd = f.frontDoor.count().toDouble
    val dd = f.dedup.count().toDouble
    val g = f.gate.groupBy().agg(
      sum(when(col("admitted"), 1L).otherwise(0L)),
      sum(when(!col("keep"), 1L).otherwise(0L)),
      sum(when(col("keep") && !col("lm_ok"), 1L).otherwise(0L)),
      sum(when(col("keep") && col("lm_ok") && !col("lang_ok"), 1L).otherwise(0L))).head()
    val mx = f.mix.groupBy().agg(count(lit(1)), sum("n_tokens")).head()
    val counts = Map(
      "front_door.docs_out" -> fd,
      "dedup.docs_out" -> dd,
      "dedup.keep_ratio" -> (if (fd > 0) dd / fd else 0.0),
      "gate.admitted" -> g.getLong(0).toDouble,
      "gate.reject_rule" -> g.getLong(1).toDouble,
      "gate.reject_lm" -> g.getLong(2).toDouble,
      "gate.reject_lang" -> g.getLong(3).toDouble,
      "mix.docs_out" -> mx.getLong(0).toDouble,
      "mix.tokens_out" -> mx.getLong(1).toDouble)
    Main.Traced(m ++ pipeline ++ counts, uWall, tWall, errs.toSeq)
  }
}
