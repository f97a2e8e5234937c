package graft.x12

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold layer: the reference's nine data marts (gold_x12_analytics.py, table
  * list at :812-822) plus the two metric families (eligibility, claim
  * status) whose UDFs the reference registers but never materializes.
  *
  * The reference extracts metrics by json.loads-ing the payload inside seven
  * Python UDFs (gold_x12_analytics.py:94-433) — one Python process round
  * trip per row. Here every metric is a native Catalyst expression over the
  * typed payload (higher-order `aggregate`/`filter`/`transform` on the
  * nested arrays), so the whole mart pipeline stays inside whole-stage
  * codegen and the parquet scan reads only the payload branch a mart
  * touches.
  *
  * Scale notes: each mart is its own plan over the silver frame it is
  * given. In a written run that frame is a scan of the written silver
  * store, so each of the 12 [[marts]] scans the store once (only the
  * touched date's partitions, for a per-date mart in incremental mode);
  * no mart re-counts silver on the driver the way the reference does
  * (§3.1 of SURVEY.md). Every groupBy here is a partial-agg-then-shuffle
  * on low-cardinality keys.
  */
object X12Gold {

  /** Python `x or ""` for nested optional strings. */
  private def orEmpty(c: Column): Column = coalesce(c, lit(""))

  /** Ratio-with-guard (gold_x12_analytics.py:492-494 etc.). */
  private def pct(num: Column, denom: Column): Column =
    when(denom > 0, num / denom * 100).otherwise(lit(0.0))

  /** Non-empty distinct count of a string array (Python set-of-truthy). */
  private def uniqNonEmpty(arr: Column): Column =
    size(array_distinct(filter(arr, x => x.isNotNull && x =!= "")))

  /** Mart 1 — transaction summary (gold_x12_analytics.py:443-461, A1). */
  def transactionSummary(silver: DataFrame): DataFrame =
    silver.groupBy("processing_date", "transaction_type", "sender_id", "receiver_id")
      .agg(
        count(lit(1)).as("transaction_count"),
        avg("quality_score").as("average_quality_score"),
        min("processing_timestamp").as("first_processed"),
        max("processing_timestamp").as("last_processed"),
        countDistinct("interchange_control_number").as("unique_interchanges"),
        countDistinct("file_name").as("unique_files"))
      .withColumn("created_at", BuildTime())

  /** Mart 2 — 837 claim analytics (gold_x12_analytics.py:473-502; metric
    * extraction :94-133 re-expressed natively, A19).
    */
  def claimAnalytics(silver: DataFrame): DataFrame = {
    val c = col("payload.claim837")
    val lines = c.getField("service_lines")
    val calcTotal = aggregate(lines, lit(0.0), (acc, x) => acc + x.getField("monetary_amount"))
    val claimAmt = coalesce(c.getField("claim").getField("monetary_amount"), lit(0.0))
    silver.filter(col("transaction_type") === "837")
      .select(
        col("processing_date"), col("sender_id"), col("receiver_id"),
        col("interchange_control_number"), col("transaction_set_control_number"),
        col("quality_score"),
        size(lines).as("total_service_lines"),
        claimAmt.as("total_claim_amount"),
        calcTotal.as("calculated_total"),
        abs(claimAmt - calcTotal).as("amount_variance"),
        uniqNonEmpty(transform(lines, x => x.getField("product_service_id")))
          .as("unique_service_count"),
        orEmpty(c.getField("provider").getField("entity_identifier_code")).as("provider_type"),
        orEmpty(c.getField("claim").getField("claim_filing_indicator_code")).as("filing_indicator"),
        c.isNotNull.as("__parsed"))
      // the reference drops rows whose metrics UDF returned {} (parse
      // errors, gold_x12_analytics.py:491); typed equivalent: null payload
      .filter(col("__parsed")).drop("__parsed")
      .withColumn("variance_percentage", pct(col("amount_variance"), col("total_claim_amount")))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 3 — 835 payment analytics (gold_x12_analytics.py:514-545; metrics
    * :135-170).
    */
  def paymentAnalytics(silver: DataFrame): DataFrame = {
    val p = col("payload.payment835")
    val claims = p.getField("claims")
    val charges = aggregate(claims, lit(0.0), (acc, x) => acc + x.getField("claim_charge_amount"))
    val patResp = aggregate(claims, lit(0.0), (acc, x) => acc + x.getField("patient_responsibility_amount"))
    val payAmt = coalesce(p.getField("header").getField("monetary_amount"), lit(0.0))
    silver.filter(col("transaction_type") === "835")
      .select(
        col("processing_date"), col("sender_id"), col("receiver_id"),
        col("interchange_control_number"), col("transaction_set_control_number"),
        col("quality_score"),
        size(claims).as("total_claims"),
        payAmt.as("total_payment_amount"),
        charges.as("total_charge_amount"),
        patResp.as("total_patient_responsibility"),
        abs(payAmt - (charges - patResp)).as("payment_variance"),
        orEmpty(p.getField("payer").getField("identification_code")).as("payer_id"),
        p.isNotNull.as("__parsed"))
      .filter(col("__parsed")).drop("__parsed")
      .withColumn("variance_percentage", pct(col("payment_variance"), col("total_charge_amount")))
      .withColumn("payment_ratio", pct(col("total_payment_amount"), col("total_charge_amount")))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 4 — 834 enrollment analytics (gold_x12_analytics.py:557-588;
    * metrics :172-212 — maintenance-code buckets 021/024/001 + distinct
    * insurance lines across all members' coverages).
    */
  def enrollmentAnalytics(silver: DataFrame): DataFrame = {
    val en = col("payload.enrollment834")
    val members = en.getField("members")
    def maint(code: String): Column =
      size(filter(members, m => m.getField("maintenance_type_code") === code))
    val allLines = flatten(transform(members,
      m => transform(m.getField("coverages"), cv => cv.getField("insurance_line_code"))))
    silver.filter(col("transaction_type") === "834")
      .select(
        col("processing_date"), col("sender_id"), col("receiver_id"),
        col("interchange_control_number"), col("transaction_set_control_number"),
        col("quality_score"),
        size(members).as("total_members"),
        maint("021").as("new_enrollments"),
        maint("024").as("terminations"),
        maint("001").as("changes"),
        uniqNonEmpty(allLines).as("unique_coverage_types"),
        orEmpty(en.getField("sponsor").getField("identification_code")).as("sponsor_id"))
      .filter(col("total_members").isNotNull)
      .withColumn("enrollment_ratio", pct(col("new_enrollments"), col("total_members")))
      .withColumn("termination_ratio", pct(col("terminations"), col("total_members")))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 5 — trading partner analytics (gold_x12_analytics.py:600-628, A2:
    * conditional-sum pivot over the nine types).
    */
  def tradingPartnerAnalytics(silver: DataFrame): DataFrame = {
    def cnt(t: String): Column =
      sum(when(col("transaction_type") === t, 1).otherwise(0))
    silver.groupBy("processing_date", "sender_id", "receiver_id")
      .agg(
        count(lit(1)).as("total_transactions"),
        countDistinct("transaction_type").as("unique_transaction_types"),
        avg("quality_score").as("average_quality_score"),
        cnt("837").as("healthcare_claims"),
        cnt("835").as("payment_advices"),
        cnt("834").as("enrollments"),
        cnt("270").as("eligibility_inquiries"),
        cnt("271").as("eligibility_responses"),
        cnt("276").as("claim_status_requests"),
        cnt("277").as("claim_status_responses"),
        cnt("278").as("preauth_requests"),
        cnt("279").as("preauth_responses"),
        countDistinct("interchange_control_number").as("unique_interchanges"),
        min("processing_timestamp").as("first_transaction"),
        max("processing_timestamp").as("last_transaction"))
      .withColumn("trading_partner_id", concat(col("sender_id"), lit("-"), col("receiver_id")))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 6 — 278 preauth request analytics (gold_x12_analytics.py:640-671;
    * metrics :302-352).
    */
  def preauthRequestAnalytics(silver: DataFrame): DataFrame = {
    val pr = col("payload.preauth278")
    val services = pr.getField("services")
    silver.filter(col("transaction_type") === "278")
      .select(
        col("processing_date"), col("transaction_date"), col("sender_id"),
        col("receiver_id"), col("file_name"),
        size(services).as("total_services"),
        aggregate(services, lit(0.0), (acc, x) => acc + x.getField("monetary_amount"))
          .as("total_service_amount"),
        pr.getField("review_information").getField("request_category_code")
          .as("request_category_code"),
        pr.getField("review_information").getField("certification_type_code")
          .as("certification_type_code"),
        pr.getField("review_information").getField("service_type_code").as("service_type_code"),
        pr.getField("patient").getField("first_name").as("patient_first_name"),
        pr.getField("patient").getField("last_name_or_org_name").as("patient_last_name"),
        pr.getField("service_provider").getField("last_name_or_org_name").as("provider_name"),
        pr.getField("service_provider").getField("identification_code").as("provider_id"),
        pr.getField("header").getField("date").as("request_date"),
        pr.getField("header").getField("reference_identification").as("reference_id"),
        aggregate(services, lit(0.0), (acc, x) => acc + x.getField("service_unit_count"))
          .as("service_unit_counts"),
        uniqNonEmpty(transform(services, x => x.getField("product_service_id")))
          .as("unique_service_types"))
      .filter(col("total_services").isNotNull)
      .withColumn("created_at", BuildTime())
  }

  /** Mart 7 — 279 preauth response analytics (gold_x12_analytics.py:685-723;
    * metrics :354-417 — the A1-A4 / A6-CT-DJ / PA-PN action-code
    * categorization done with array `filter`, and the first-categorizable
    * status via `filter(...)[0]`).
    */
  def preauthResponseAnalytics(silver: DataFrame): DataFrame = {
    val rr = col("payload.preauth279")
    val reviews = rr.getField("review_results")
    val approvedCodes = Seq("A1", "A2", "A3", "A4")
    val deniedCodes = Seq("A6", "CT", "DJ")
    val pendingCodes = Seq("PA", "PN")
    def inSet(c: Column, s: Seq[String]): Column = c.isin(s.map(x => x: Any): _*)
    def countIn(s: Seq[String]): Column =
      size(filter(reviews, r => inSet(r.getField("action_code"), s)))
    // first review whose action code falls in any category decides status
    val statuses = filter(
      transform(reviews, r => {
        val ac = r.getField("action_code")
        when(inSet(ac, approvedCodes), lit("APPROVED"))
          .when(inSet(ac, deniedCodes), lit("DENIED"))
          .when(inSet(ac, pendingCodes), lit("PENDING"))
      }), x => x.isNotNull)
    val firstCode = filter(transform(reviews, r => r.getField("action_code")),
      x => x.isNotNull && x =!= "")
    silver.filter(col("transaction_type") === "279")
      .select(
        col("processing_date"), col("transaction_date"), col("sender_id"),
        col("receiver_id"), col("file_name"),
        size(reviews).as("total_review_results"),
        rr.getField("header").getField("date").as("response_date"),
        rr.getField("header").getField("reference_identification").as("reference_id"),
        rr.getField("source").getField("last_name_or_org_name").as("payer_name"),
        rr.getField("patient").getField("first_name").as("patient_first_name"),
        rr.getField("patient").getField("last_name_or_org_name").as("patient_last_name"),
        // try_element_at: null on empty array (ANSI element_at would throw),
        // matching the reference's "first categorizable or None"
        try_element_at(statuses, lit(1)).as("authorization_status"),
        try_element_at(firstCode, lit(1)).as("primary_action_code"),
        (size(rr.getField("messages")) > 0).as("has_messages"),
        size(rr.getField("messages")).as("total_messages"),
        size(rr.getField("authorization_dates")).as("authorization_effective_dates"),
        countIn(approvedCodes).as("approved_services"),
        countIn(deniedCodes).as("denied_services"),
        countIn(pendingCodes).as("pending_services"))
      .filter(col("total_review_results").isNotNull)
      .withColumn("approval_rate", pct(col("approved_services"), col("total_review_results")))
      .withColumn("denial_rate", pct(col("denied_services"), col("total_review_results")))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 8 — data quality metrics (gold_x12_analytics.py:737-761, A3). */
  def dataQualityMetrics(silver: DataFrame): DataFrame =
    silver.groupBy("processing_date", "transaction_type")
      .agg(
        count(lit(1)).as("total_transactions"),
        avg("quality_score").as("average_quality_score"),
        min("quality_score").as("min_quality_score"),
        max("quality_score").as("max_quality_score"),
        sum(when(col("quality_score") >= 90, 1).otherwise(0)).as("high_quality_count"),
        sum(when(col("quality_score").between(70, 89), 1).otherwise(0)).as("medium_quality_count"),
        sum(when(col("quality_score") < 70, 1).otherwise(0)).as("low_quality_count"),
        countDistinct("file_name").as("unique_files"),
        countDistinct("sender_id").as("unique_senders"),
        countDistinct("receiver_id").as("unique_receivers"))
      .withColumn("high_quality_percentage", col("high_quality_count") / col("total_transactions") * 100)
      .withColumn("medium_quality_percentage", col("medium_quality_count") / col("total_transactions") * 100)
      .withColumn("low_quality_percentage", col("low_quality_count") / col("total_transactions") * 100)
      .withColumn("created_at", BuildTime())

  /** Mart 9 — global business KPIs (gold_x12_analytics.py:773-796, A4).
    * Fixes the reference bug of counting a column before it exists
    * (:778 vs :788): distinct partner pairs are computed inline.
    */
  def businessKpis(silver: DataFrame, processingDate: java.sql.Date): DataFrame = {
    def cnt(t: String): Column =
      sum(when(col("transaction_type") === t, 1).otherwise(0))
    silver.agg(
      count(lit(1)).as("total_transactions"),
      countDistinct("transaction_type").as("unique_transaction_types"),
      countDistinct("sender_id").as("unique_senders"),
      countDistinct("receiver_id").as("unique_receivers"),
      countDistinct(concat_ws("-", col("sender_id"), col("receiver_id")))
        .as("unique_trading_pairs"),
      avg("quality_score").as("overall_quality_score"),
      cnt("837").as("total_healthcare_claims"),
      cnt("835").as("total_payment_advices"),
      cnt("834").as("total_enrollments"),
      cnt("270").as("total_eligibility_inquiries"),
      cnt("271").as("total_eligibility_responses"),
      cnt("276").as("total_claim_status_requests"),
      cnt("277").as("total_claim_status_responses"),
      max("processing_timestamp").as("last_processed"))
      .withColumn("processing_date", lit(processingDate))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 10 — 270/271 eligibility metrics (UDF at
    * gold_x12_analytics.py:214-257, registered :430 but never written to a
    * mart in the reference; materialized here per SURVEY §2.5 A19).
    */
  def eligibilityAnalytics(silver: DataFrame): DataFrame = {
    val inq = col("payload.eligibility270").getField("inquiries")
    val ben = col("payload.eligibility271").getField("benefits")
    val inqTypes = transform(coalesce(inq, array()), x => x.getField("service_type_code"))
    val benTypes = transform(coalesce(ben, array()), x => x.getField("service_type_code"))
    val covLevels = transform(coalesce(ben, array()), x => x.getField("coverage_level_code"))
    silver.filter(col("transaction_type").isin("270", "271"))
      .select(
        col("processing_date"), col("transaction_type"), col("sender_id"),
        col("receiver_id"), col("quality_score"),
        coalesce(size(inq), lit(0)).as("total_inquiries"),
        coalesce(size(ben), lit(0)).as("total_benefits"),
        uniqNonEmpty(concat(inqTypes, benTypes)).as("unique_service_types"),
        uniqNonEmpty(covLevels).as("unique_coverage_levels"))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 11 — 276/277 claim-status metrics (UDF at
    * gold_x12_analytics.py:259-300; materialized like mart 10).
    */
  def claimStatusAnalytics(silver: DataFrame): DataFrame = {
    val statuses = coalesce(col("payload.status277").getField("claim_status"), array())
    silver.filter(col("transaction_type").isin("276", "277"))
      .select(
        col("processing_date"), col("transaction_type"), col("sender_id"),
        col("receiver_id"), col("quality_score"),
        size(statuses).as("total_claim_statuses"),
        aggregate(statuses, lit(0.0), (acc, x) => acc + x.getField("total_claim_charge_amount"))
          .as("total_claim_charges"),
        aggregate(statuses, lit(0.0), (acc, x) => acc + x.getField("claim_payment_amount"))
          .as("total_payments"),
        uniqNonEmpty(transform(statuses, x => x.getField("health_care_claim_status_code")))
          .as("unique_status_codes"))
      .withColumn("created_at", BuildTime())
  }

  /** Mart 12 — J3 request/response correlation (SURVEY.md §2.4: declared by
    * the data model via TRN trace references,
    * schemas/x12_transaction_schemas.json:437-443, never materialized in the
    * reference). 276 requests join 277 responses on the trace reference
    * (TRN02 → 277 BHT03); 270 inquiries join 271 responses on the shared
    * BHT reference. Inner equi-join — hash-shuffled on the reference key,
    * broadcastable when one side is a bounded working set.
    */
  def requestResponsePairs(silver: DataFrame): DataFrame = {
    def side(t: String, refCol: Column, extra: Column): DataFrame =
      silver.filter(col("transaction_type") === t).select(
        refCol.as("corr_ref"),
        col("processing_date"),
        col("sender_id"), col("receiver_id"),
        col("transaction_set_control_number"),
        col("quality_score"), extra.as("detail_count"))
    def pair(reqT: String, reqRef: Column, reqN: Column,
        respT: String, respRef: Column, respN: Column): DataFrame = {
      val req = side(reqT, reqRef, reqN)
        .withColumnRenamed("transaction_set_control_number", "request_control_number")
        .withColumnRenamed("quality_score", "request_quality")
        .withColumnRenamed("detail_count", "request_details")
      val resp = side(respT, respRef, respN)
        .withColumnRenamed("transaction_set_control_number", "response_control_number")
        .withColumnRenamed("quality_score", "response_quality")
        .withColumnRenamed("detail_count", "response_details")
        .drop("sender_id", "receiver_id", "processing_date")
      req.join(resp, "corr_ref").withColumn("pair_type", lit(s"$reqT-$respT"))
    }
    val c276 = col("payload.status276")
    val c277 = col("payload.status277")
    val c270 = col("payload.eligibility270")
    val c271 = col("payload.eligibility271")
    pair("276", c276.getField("trace").getField("reference_identification"),
        lit(0),
        "277", c277.getField("header").getField("reference_identification"),
        size(c277.getField("claim_status")))
      .unionByName(
        pair("270", c270.getField("header").getField("reference_identification"),
          size(c270.getField("inquiries")),
          "271", c271.getField("header").getField("reference_identification"),
          size(c271.getField("benefits"))))
  }

  /** Mart 13 — daily analytics (init.sql:41-50 `gold_daily_analytics`,
    * maintained by process_test_data.py:112-148): one row per batch date
    * with file-level quality buckets (>80 / 50-80 / <50 — the local-dev
    * mirror's thresholds, init.sql:154-156) and the two JSON payloads:
    * per-type transaction counts and corpus-wide segment frequencies. The
    * segment analysis is a native explode over bronze content —
    * `substring_index(trim(seg), "*", 1)` is the segment id — so the whole
    * mart stays in codegen. JSON maps are sorted by key for determinism.
    */
  def dailyAnalytics(bronze: DataFrame, silver: DataFrame,
      analyticsDate: java.sql.Date): DataFrame = {
    def jsonMap(k: Column, v: Column): Column =
      to_json(map_from_entries(sort_array(collect_list(struct(k, v)))))
    val fileBuckets = silver.groupBy("file_name")
      .agg(avg("quality_score").as("fq"))
      .agg(
        count(lit(1)).as("total_files_processed"),
        sum(when(col("fq") > 80, 1).otherwise(0)).as("high_quality_files"),
        sum(when(col("fq").between(50, 80), 1).otherwise(0)).as("medium_quality_files"),
        sum(when(col("fq") < 50, 1).otherwise(0)).as("low_quality_files"))
    val typeJson = silver.groupBy("transaction_type")
      .agg(count(lit(1)).as("n"))
      .agg(jsonMap(col("transaction_type"), col("n")))
      .toDF("transaction_types_json")
    val segJson = bronze.filter(col("file_is_valid"))
      .select(explode(split(col("content"), "~")).as("seg"))
      .select(substring_index(trim(col("seg")), "*", 1).as("segment_id"))
      .filter(length(col("segment_id")) > 0)
      .groupBy("segment_id").agg(count(lit(1)).as("n"))
      .agg(jsonMap(col("segment_id"), col("n")))
      .toDF("segment_analysis_json")
    fileBuckets.crossJoin(typeJson).crossJoin(segJson)
      .withColumn("analytics_date", lit(analyticsDate))
      .withColumn("created_at", BuildTime())
  }

  /** A catalogue mart: its reference table name, its builder over the valid
    * silver rows and the processing date, and how a run keeps it current.
    * `partitioned`: written partitioned by `processing_date` (the KPIs'
    * single global row is not). `perDate`: every row is a function of one
    * processing_date's rows, so an incremental run rebuilds it from the
    * touched date alone and replaces only that partition. A whole-store
    * mart must read the whole store: the KPIs are one row over all history,
    * and a request/response pair joins a request to a response that may
    * land in a LATER batch (the response side drops its date), so a rebuild
    * from the response's date would never revisit the request's partition.
    */
  final case class Mart(name: String, partitioned: Boolean, perDate: Boolean,
      build: (DataFrame, java.sql.Date) => DataFrame)

  private def perDateMart(name: String, build: DataFrame => DataFrame): Mart =
    Mart(name, partitioned = true, perDate = true, (s, _) => build(s))

  /** The silver marts in write order (gold_x12_analytics.py:812-822, the
    * two declared-only families and the request/response pairs). */
  val marts: Seq[Mart] = Seq(
    perDateMart("gold_transaction_summary", transactionSummary),
    perDateMart("gold_healthcare_claim_analytics", claimAnalytics),
    perDateMart("gold_healthcare_payment_analytics", paymentAnalytics),
    perDateMart("gold_healthcare_enrollment_analytics", enrollmentAnalytics),
    perDateMart("gold_trading_partner_analytics", tradingPartnerAnalytics),
    perDateMart("gold_healthcare_preauth_request_analytics", preauthRequestAnalytics),
    perDateMart("gold_healthcare_preauth_response_analytics", preauthResponseAnalytics),
    perDateMart("gold_data_quality_metrics", dataQualityMetrics),
    Mart("gold_business_kpis", partitioned = false, perDate = false, businessKpis),
    perDateMart("gold_eligibility_analytics", eligibilityAnalytics),
    perDateMart("gold_claim_status_analytics", claimStatusAnalytics),
    Mart("gold_request_response_pairs", partitioned = true, perDate = false,
      (s, _) => requestResponsePairs(s)))

  /** Every catalogue mart built over one silver frame, keyed by name. */
  def allMarts(silver: DataFrame, processingDate: java.sql.Date): Map[String, DataFrame] =
    marts.map(m => m.name -> m.build(silver, processingDate)).toMap
}
