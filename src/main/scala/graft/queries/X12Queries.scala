package graft.queries

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.x12._

/** Driver-visible X12 medallion queries. The corpus is generated
  * deterministically (seed 42) under the system temp dir on first use; the
  * driver's checks then exercise the full engine: wholetext scan →
  * distributed parse → typed silver → native-expression gold marts → 997
  * generation.
  *
  * Oracle strategy (the round-2 upgrade): on first use the session also
  * persists the bronze metadata frame, the silver frame, and the
  * reference-schema silver view as parquet under `<corpus>/_tables`. Every
  * x12 entry then carries a DuckDB oracle:
  *  - gold marts, views, 997 generation and correlation pairs are
  *    RE-COMPUTED by DuckDB SQL over the persisted silver/bronze parquet —
  *    an independent engine checks every aggregation, HOF metric extraction,
  *    join and string-assembly step downstream of the parse;
  *  - the parse itself (x12_60/61) is covered by a write/read round-trip
  *    hash (plus the ScalaTest parity suite over the reference's own
  *    fixtures, which carries the semantic assertions for parsing).
  *
  * Array/struct output columns are flattened or ","/"|"-joined: the
  * driver's pandas canonicalizer cannot sort raw array columns, and flat
  * strings compare identically across engines.
  */
object X12Queries extends QuerySet {

  private val corpusDir =
    s"${System.getProperty("java.io.tmpdir")}/graft_x12_corpus_v1"
  private val tablesDir = s"$corpusDir/_tables"

  /** DuckDB table ref over a persisted parquet dir. */
  private def pq(t: String): String = s"read_parquet('$tablesDir/$t/*.parquet')"

  private val date = Date.valueOf("2025-09-01")
  private val ts = Timestamp.valueOf("2025-09-01 12:00:00")
  private val now = LocalDateTime.of(2025, 9, 1, 12, 0, 0)

  // bronze + silver are computed once per session and cached — the x12_*
  // queries fan out from one shared scan (the same cache-once pattern
  // Pipeline uses); the same materialization writes the oracle tables
  @transient private var cached: Option[(SparkSession, DataFrame, Dataset[SilverRecord])] = None

  private def ensure(s: SparkSession): (DataFrame, Dataset[SilverRecord]) =
    synchronized {
      cached match {
        case Some((sess, b, ds)) if sess eq s => (b, ds)
        case other =>
          // release blocks cached under a previous session before replacing
          other.foreach { case (_, b, old) =>
            try { b.unpersist(); old.unpersist() } catch { case _: Throwable => }
          }
          X12TestDataGen.writeCorpus(corpusDir, 45, seed = 42L)
          val bronze = X12Bronze.ingest(s, corpusDir, "BATCH_Q", date).cache()
          val silver = X12Silver.parseValid(bronze, "BATCH_Q", date, ts).cache()
          // persist the oracle tables (small corpus → single file each)
          bronze.drop("content").coalesce(1)
            .write.mode("overwrite").parquet(s"$tablesDir/bronze")
          silver.toDF().coalesce(1)
            .write.mode("overwrite").parquet(s"$tablesDir/silver")
          X12Silver.referenceView(silver).coalesce(1)
            .write.mode("overwrite").parquet(s"$tablesDir/silver_ref")
          cached = Some((s, bronze, silver))
          (bronze, silver)
      }
    }

  private def silverDs(s: SparkSession): Dataset[SilverRecord] = ensure(s)._2

  private def silver(s: SparkSession): DataFrame = silverDs(s).toDF()

  /** Gold marts consume only valid transactions, like the reference
    * (gold_x12_analytics.py:74) and X12Pipeline.run.
    */
  private def silverValid(s: SparkSession): DataFrame =
    silver(s).filter(col("is_valid"))

  def x12Silver(s: SparkSession, dir: String): DataFrame =
    X12Silver.referenceView(silverDs(s))

  /** P17+P18: bronze validation + metadata, flattened to scalar columns
    * (struct fields promoted, error/warning arrays "|"-joined) so the
    * driver harness can sort and hash the frame.
    */
  def x12Bronze(s: SparkSession, dir: String): DataFrame =
    ensure(s)._1.select(
      col("file_name"), col("batch_id"), col("processing_date"),
      col("year"), col("month"), col("day"), col("file_is_valid"),
      concat_ws("|", col("validation_errors")).as("validation_errors"),
      concat_ws("|", col("validation_warnings")).as("validation_warnings"),
      col("metadata.file_size").as("file_size"),
      col("metadata.line_count").as("line_count"),
      col("metadata.element_separator").as("element_separator"),
      col("metadata.segment_terminator").as("segment_terminator"),
      col("metadata.segment_count").as("segment_count"),
      col("metadata.interchange_control_header.authorization_info").as("isa_authorization_info"),
      col("metadata.interchange_control_header.sender_id").as("isa_sender_id"),
      col("metadata.interchange_control_header.receiver_id").as("isa_receiver_id"),
      col("metadata.interchange_control_header.interchange_date").as("isa_interchange_date"),
      col("metadata.interchange_control_header.interchange_time").as("isa_interchange_time"),
      col("metadata.interchange_control_header.control_number").as("isa_control_number"),
      col("metadata.functional_group_header.functional_id_code").as("gs_functional_id_code"),
      col("metadata.functional_group_header.application_sender").as("gs_application_sender"),
      col("metadata.functional_group_header.application_receiver").as("gs_application_receiver"),
      col("metadata.functional_group_header.date").as("gs_date"),
      col("metadata.functional_group_header.time").as("gs_time"),
      col("metadata.functional_group_header.group_control_number").as("gs_control_number"),
      col("metadata.transaction_set_header.transaction_set_id").as("st_transaction_set_id"),
      col("metadata.transaction_set_header.control_number").as("st_control_number"))

  def x12ClaimMart(s: SparkSession, dir: String): DataFrame =
    X12Gold.claimAnalytics(silverValid(s)).drop("created_at")

  def x12PartnerMart(s: SparkSession, dir: String): DataFrame =
    X12Gold.tradingPartnerAnalytics(silverValid(s)).drop("created_at")

  def x12QualityMart(s: SparkSession, dir: String): DataFrame =
    X12Gold.dataQualityMetrics(silverValid(s)).drop("created_at")

  /** P19+P20: 997 generation + structural validation. Control-number lists
    * are ","-joined and missing-segment arrays "|"-joined for the harness;
    * generation_timestamp (wall clock) is excluded from the compared frame.
    */
  def x12Acks(s: SparkSession, dir: String): DataFrame =
    Ack997.validate997(Ack997.acknowledgments(silver(s), "BATCH_Q", now))
      .select(
        col("sender_id"), col("receiver_id"),
        concat_ws(",", col("interchange_numbers")).as("interchange_numbers"),
        concat_ws(",", col("group_numbers")).as("group_numbers"),
        concat_ws(",", col("transaction_numbers")).as("transaction_numbers"),
        col("file_count"), col("last_processed"),
        col("acknowledgment_content"), col("ack_filename"),
        concat_ws("|", col("ack_missing_segments")).as("ack_missing_segments"),
        col("ack_is_valid"))

  /** J3: request/response trace correlation over the generated pairs. */
  def x12Pairs(s: SparkSession, dir: String): DataFrame =
    X12Gold.requestResponsePairs(silverValid(s))

  /** S13 (ref: src/sftp/manager.py:217-231): remote-file eligibility —
    * age/size predicates over file metadata, no content read (the scan
    * projects only `_metadata`). mtime gates the filter but is not emitted:
    * filesystem timestamps round differently across readers.
    */
  def x12FileEligibility(s: SparkSession, dir: String): DataFrame = {
    X12TestDataGen.writeCorpus(corpusDir, 45, seed = 42L)
    s.read.format("text").options(X12Silver.landingOptions).load(corpusDir)
      .select(col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"),
        col("_metadata.file_modification_time").as("mtime"))
      .filter(col("file_size") <= 100L * 1024 * 1024 &&
        col("mtime") >= lit("2020-01-01").cast("timestamp"))
      .drop("mtime")
  }

  /** A7/F8: the reference's v_daily_processing_summary via spark.sql. */
  def x12DailySummary(s: SparkSession, dir: String): DataFrame =
    X12Views.dailyProcessingSummary(s, silver(s), date)

  /** A8/O1: v_transaction_type_breakdown via spark.sql. */
  def x12TypeBreakdown(s: SparkSession, dir: String): DataFrame =
    X12Views.transactionTypeBreakdown(s, silver(s))

  /** J1/X19: v_recent_processing_activity — bronze↔silver left join. */
  def x12RecentActivity(s: SparkSession, dir: String): DataFrame =
    X12Views.recentProcessingActivity(ensure(s)._1.drop("content"), silver(s),
      Timestamp.valueOf("2025-08-25 00:00:00"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x12_60_bronze_validate" -> (x12Bronze _),
    "x12_61_silver_parse" -> (x12Silver _),
    "x12_62_gold_claims" -> (x12ClaimMart _),
    "x12_63_gold_partners" -> (x12PartnerMart _),
    "x12_64_gold_quality" -> (x12QualityMart _),
    "x12_65_ack997" -> (x12Acks _),
    "x12_66_request_response_pairs" -> (x12Pairs _),
    "x12_67_file_eligibility" -> (x12FileEligibility _),
    "x12_68_daily_summary_view" -> (x12DailySummary _),
    "x12_69_type_breakdown_view" -> (x12TypeBreakdown _),
    "x12_70_recent_activity_view" -> (x12RecentActivity _))

  val oracles: Map[String, String] = Map(
    // parse-layer round-trip hashes: the Spark side re-computes bronze/
    // referenceView from the raw corpus; DuckDB reads the parquet persisted
    // by the same deterministic computation
    "x12_60_bronze_validate" ->
      s"""SELECT file_name, batch_id, processing_date, year, month, day, file_is_valid,
         | COALESCE(array_to_string(validation_errors, '|'), '') AS validation_errors,
         | COALESCE(array_to_string(validation_warnings, '|'), '') AS validation_warnings,
         | b.metadata.file_size AS file_size,
         | b.metadata.line_count AS line_count,
         | b.metadata.element_separator AS element_separator,
         | b.metadata.segment_terminator AS segment_terminator,
         | b.metadata.segment_count AS segment_count,
         | b.metadata.interchange_control_header.authorization_info AS isa_authorization_info,
         | b.metadata.interchange_control_header.sender_id AS isa_sender_id,
         | b.metadata.interchange_control_header.receiver_id AS isa_receiver_id,
         | b.metadata.interchange_control_header.interchange_date AS isa_interchange_date,
         | b.metadata.interchange_control_header.interchange_time AS isa_interchange_time,
         | b.metadata.interchange_control_header.control_number AS isa_control_number,
         | b.metadata.functional_group_header.functional_id_code AS gs_functional_id_code,
         | b.metadata.functional_group_header.application_sender AS gs_application_sender,
         | b.metadata.functional_group_header.application_receiver AS gs_application_receiver,
         | b.metadata.functional_group_header.date AS gs_date,
         | b.metadata.functional_group_header.time AS gs_time,
         | b.metadata.functional_group_header.group_control_number AS gs_control_number,
         | b.metadata.transaction_set_header.transaction_set_id AS st_transaction_set_id,
         | b.metadata.transaction_set_header.control_number AS st_control_number
         |FROM ${pq("bronze")} b""".stripMargin,
    "x12_61_silver_parse" ->
      s"""SELECT * FROM ${pq("silver_ref")}""",
    // gold claim mart re-computed by DuckDB from silver: list HOFs mirror
    // the Catalyst aggregate/filter/transform pipeline (left-fold via
    // list_reduce over a 0.0-prepended list = Spark's aggregate(.., 0.0, +))
    "x12_62_gold_claims" ->
      s"""WITH c AS (
         | SELECT processing_date, sender_id, receiver_id,
         |  interchange_control_number, transaction_set_control_number, quality_score,
         |  CAST(len(s.payload.claim837.service_lines) AS INTEGER) AS total_service_lines,
         |  COALESCE(s.payload.claim837.claim.monetary_amount, 0.0) AS total_claim_amount,
         |  list_reduce(list_prepend(0.0, list_transform(s.payload.claim837.service_lines,
         |    x -> x.monetary_amount)), (a, b) -> a + b) AS calculated_total,
         |  CAST(len(list_distinct(list_filter(list_transform(s.payload.claim837.service_lines,
         |    x -> x.product_service_id), y -> y IS NOT NULL AND y <> ''))) AS INTEGER) AS unique_service_count,
         |  COALESCE(s.payload.claim837.provider.entity_identifier_code, '') AS provider_type,
         |  COALESCE(s.payload.claim837.claim.claim_filing_indicator_code, '') AS filing_indicator
         | FROM ${pq("silver")} s
         | WHERE transaction_type = '837' AND is_valid AND s.payload.claim837 IS NOT NULL)
         |SELECT *,
         | abs(total_claim_amount - calculated_total) AS amount_variance,
         | CASE WHEN total_claim_amount > 0
         |  THEN abs(total_claim_amount - calculated_total) / total_claim_amount * 100
         |  ELSE 0.0 END AS variance_percentage
         |FROM c""".stripMargin,
    "x12_63_gold_partners" ->
      s"""SELECT processing_date, sender_id, receiver_id,
         | count(*) AS total_transactions,
         | count(DISTINCT transaction_type) AS unique_transaction_types,
         | avg(quality_score) AS average_quality_score,
         | CAST(SUM(CASE WHEN transaction_type = '837' THEN 1 ELSE 0 END) AS BIGINT) AS healthcare_claims,
         | CAST(SUM(CASE WHEN transaction_type = '835' THEN 1 ELSE 0 END) AS BIGINT) AS payment_advices,
         | CAST(SUM(CASE WHEN transaction_type = '834' THEN 1 ELSE 0 END) AS BIGINT) AS enrollments,
         | CAST(SUM(CASE WHEN transaction_type = '270' THEN 1 ELSE 0 END) AS BIGINT) AS eligibility_inquiries,
         | CAST(SUM(CASE WHEN transaction_type = '271' THEN 1 ELSE 0 END) AS BIGINT) AS eligibility_responses,
         | CAST(SUM(CASE WHEN transaction_type = '276' THEN 1 ELSE 0 END) AS BIGINT) AS claim_status_requests,
         | CAST(SUM(CASE WHEN transaction_type = '277' THEN 1 ELSE 0 END) AS BIGINT) AS claim_status_responses,
         | CAST(SUM(CASE WHEN transaction_type = '278' THEN 1 ELSE 0 END) AS BIGINT) AS preauth_requests,
         | CAST(SUM(CASE WHEN transaction_type = '279' THEN 1 ELSE 0 END) AS BIGINT) AS preauth_responses,
         | count(DISTINCT interchange_control_number) AS unique_interchanges,
         | min(processing_timestamp) AS first_transaction,
         | max(processing_timestamp) AS last_transaction,
         | sender_id || '-' || receiver_id AS trading_partner_id
         |FROM ${pq("silver")}
         |WHERE is_valid
         |GROUP BY processing_date, sender_id, receiver_id""".stripMargin,
    "x12_64_gold_quality" ->
      s"""WITH m AS (
         | SELECT processing_date, transaction_type,
         |  count(*) AS total_transactions,
         |  avg(quality_score) AS average_quality_score,
         |  min(quality_score) AS min_quality_score,
         |  max(quality_score) AS max_quality_score,
         |  CAST(SUM(CASE WHEN quality_score >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS high_quality_count,
         |  CAST(SUM(CASE WHEN quality_score BETWEEN 70 AND 89 THEN 1 ELSE 0 END) AS BIGINT) AS medium_quality_count,
         |  CAST(SUM(CASE WHEN quality_score < 70 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality_count,
         |  count(DISTINCT file_name) AS unique_files,
         |  count(DISTINCT sender_id) AS unique_senders,
         |  count(DISTINCT receiver_id) AS unique_receivers
         | FROM ${pq("silver")} WHERE is_valid
         | GROUP BY processing_date, transaction_type)
         |SELECT *,
         | high_quality_count / total_transactions * 100 AS high_quality_percentage,
         | medium_quality_count / total_transactions * 100 AS medium_quality_percentage,
         | low_quality_count / total_transactions * 100 AS low_quality_percentage
         |FROM m""".stripMargin,
    // 997 generation re-built segment-for-segment in SQL from silver
    // (generate_x12_acknowledgments.py:74-142 semantics; the clock is the
    // fixed parameter 2025-09-01T12:00 so every date/control field is a
    // constant here)
    "x12_65_ack997" ->
      s"""WITH g AS (
         | SELECT sender_id, receiver_id,
         |  list_sort(list(interchange_control_number)) AS icn_list,
         |  list_sort(list(functional_group_number)) AS fgn_list,
         |  list_transform(list_sort(list(struct_pack(tcn := transaction_set_control_number,
         |    is_valid := is_valid))), x -> x.tcn) AS tcn_list,
         |  count(*) AS file_count,
         |  max(processing_timestamp) AS last_processed
         | FROM ${pq("silver")}
         | GROUP BY sender_id, receiver_id
         |), a AS (
         | SELECT sender_id, receiver_id,
         |  array_to_string(icn_list, ',') AS interchange_numbers,
         |  array_to_string(fgn_list, ',') AS group_numbers,
         |  array_to_string(tcn_list, ',') AS transaction_numbers,
         |  file_count, last_processed,
         |  'ISA*00*          *00*          *ZZ*' || rpad(trim(receiver_id), 15, ' ')
         |    || '*ZZ*' || rpad(trim(sender_id), 15, ' ')
         |    || '*250901*1200*^*00501*2509011200*0*T*:~' || chr(10)
         |  || 'GS*FA*' || trim(receiver_id) || '*' || trim(sender_id)
         |    || '*20250901*1200*120000*X*005010~' || chr(10)
         |  || 'ST*997*0001~' || chr(10)
         |  || 'AK1*' || substr(COALESCE(fgn_list[1], ''), 1, 2) || '*'
         |    || COALESCE(fgn_list[1], '') || '~' || chr(10)
         |  || array_to_string(list_transform(tcn_list,
         |       t -> 'AK2*' || substr(t, 1, 3) || '*' || t || '~' || chr(10) || 'AK5*A~'),
         |       chr(10)) || chr(10)
         |  || 'AK9*A*' || len(tcn_list) || '*' || len(tcn_list) || '*' || len(tcn_list)
         |    || '~' || chr(10)
         |  || 'SE*' || (5 + 2 * len(tcn_list)) || '*0001~' || chr(10)
         |  || 'GE*1*120000~' || chr(10)
         |  || 'IEA*1*2509011200~' AS acknowledgment_content,
         |  trim(sender_id) || '_997_BATCH_Q.x12' AS ack_filename
         | FROM g)
         |SELECT sender_id, receiver_id, interchange_numbers, group_numbers,
         | transaction_numbers, file_count, last_processed,
         | acknowledgment_content, ack_filename,
         | concat_ws('|',
         |  CASE WHEN acknowledgment_content NOT LIKE '%ISA*%' THEN 'Missing segment: ISA' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%GS*%' THEN 'Missing segment: GS' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%ST*%' THEN 'Missing segment: ST' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%AK1*%' THEN 'Missing segment: AK1' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%AK9*%' THEN 'Missing segment: AK9' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%SE*%' THEN 'Missing segment: SE' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%GE*%' THEN 'Missing segment: GE' END,
         |  CASE WHEN acknowledgment_content NOT LIKE '%IEA*%' THEN 'Missing segment: IEA' END
         | ) AS ack_missing_segments,
         | (acknowledgment_content LIKE 'ISA*%'
         |  AND regexp_matches(acknowledgment_content, 'IEA\\*[^~]*\\*[^~]*~\\s*$$')
         |  AND acknowledgment_content LIKE '%ISA*%' AND acknowledgment_content LIKE '%GS*%'
         |  AND acknowledgment_content LIKE '%ST*%' AND acknowledgment_content LIKE '%AK1*%'
         |  AND acknowledgment_content LIKE '%AK9*%' AND acknowledgment_content LIKE '%SE*%'
         |  AND acknowledgment_content LIKE '%GE*%' AND acknowledgment_content LIKE '%IEA*%'
         | ) AS ack_is_valid
         |FROM a""".stripMargin,
    "x12_66_request_response_pairs" ->
      s"""WITH s AS (SELECT * FROM ${pq("silver")} WHERE is_valid),
         |req276 AS (
         | SELECT s.payload.status276.trace.reference_identification AS corr_ref,
         |  processing_date, sender_id, receiver_id,
         |  transaction_set_control_number AS request_control_number,
         |  quality_score AS request_quality, 0 AS request_details
         | FROM s WHERE transaction_type = '276'),
         |resp277 AS (
         | SELECT s.payload.status277.header.reference_identification AS corr_ref,
         |  transaction_set_control_number AS response_control_number,
         |  quality_score AS response_quality,
         |  CAST(len(s.payload.status277.claim_status) AS INTEGER) AS response_details
         | FROM s WHERE transaction_type = '277'),
         |req270 AS (
         | SELECT s.payload.eligibility270.header.reference_identification AS corr_ref,
         |  processing_date, sender_id, receiver_id,
         |  transaction_set_control_number AS request_control_number,
         |  quality_score AS request_quality,
         |  CAST(len(s.payload.eligibility270.inquiries) AS INTEGER) AS request_details
         | FROM s WHERE transaction_type = '270'),
         |resp271 AS (
         | SELECT s.payload.eligibility271.header.reference_identification AS corr_ref,
         |  transaction_set_control_number AS response_control_number,
         |  quality_score AS response_quality,
         |  CAST(len(s.payload.eligibility271.benefits) AS INTEGER) AS response_details
         | FROM s WHERE transaction_type = '271')
         |SELECT corr_ref, processing_date, sender_id, receiver_id,
         | request_control_number, request_quality, request_details,
         | response_control_number, response_quality, response_details,
         | '276-277' AS pair_type
         |FROM req276 JOIN resp277 USING (corr_ref)
         |UNION ALL
         |SELECT corr_ref, processing_date, sender_id, receiver_id,
         | request_control_number, request_quality, request_details,
         | response_control_number, response_quality, response_details,
         | '270-271' AS pair_type
         |FROM req270 JOIN resp271 USING (corr_ref)""".stripMargin,
    "x12_67_file_eligibility" ->
      s"""SELECT parse_filename(filename) AS file_name,
         | size AS file_size
         |FROM read_text('$corpusDir/*.x12')
         |WHERE size <= 104857600
         |  AND last_modified >= TIMESTAMP '2020-01-01 00:00:00'""".stripMargin,
    "x12_68_daily_summary_view" ->
      s"""SELECT processing_date,
         | COUNT(*) AS total_files,
         | AVG(quality_score) AS avg_quality_score,
         | COUNT(CASE WHEN quality_score > 80 THEN 1 END) AS high_quality_files,
         | COUNT(CASE WHEN quality_score BETWEEN 50 AND 80 THEN 1 END) AS medium_quality_files,
         | COUNT(CASE WHEN quality_score < 50 THEN 1 END) AS low_quality_files
         |FROM ${pq("silver")}
         |WHERE CAST(processing_timestamp AS DATE) = DATE '2025-09-01'
         |GROUP BY processing_date""".stripMargin,
    "x12_69_type_breakdown_view" ->
      s"""SELECT transaction_type,
         | COUNT(*) AS file_count,
         | AVG(quality_score) AS avg_quality_score,
         | MIN(processing_timestamp) AS first_processed,
         | MAX(processing_timestamp) AS last_processed
         |FROM ${pq("silver")}
         |GROUP BY transaction_type""".stripMargin,
    "x12_70_recent_activity_view" ->
      s"""SELECT b.file_name AS filename,
         | b.metadata.file_size AS file_size,
         | b.processing_date,
         | CAST(b.processing_date AS TIMESTAMP) AS bronze_timestamp,
         | s.transaction_type, s.quality_score,
         | s.processing_timestamp AS silver_timestamp,
         | date_diff('second', CAST(b.processing_date AS TIMESTAMP),
         |   s.processing_timestamp) AS processing_duration_seconds
         |FROM ${pq("bronze")} b
         |LEFT JOIN ${pq("silver")} s ON b.file_name = s.file_name
         |WHERE CAST(b.processing_date AS TIMESTAMP) >= TIMESTAMP '2025-08-25 00:00:00'""".stripMargin)
}
