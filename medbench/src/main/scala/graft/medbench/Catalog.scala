package graft.medbench

/** Input sizes. Chosen so one run of each workload measures several
  * closed-loop runs within the benchmark's run length on a 4-core machine.
  */
object Sizes {
  val HistoryDays = 1
  val DailyFiles = 64
  val DailyPairs = 6
  val DailyBulkFiles = 3
  val BulkTxPerFile = 100
  val CurationBase = 250
  val CurationVariants = 10
}

/** Every per-layer metric the traced run prints, with its unit. A layer the
  * workload does not run reads 0.
  */
object Catalog {
  private val spanMetrics = Seq(
    "busy_s" -> "s", "driver_gap_s" -> "s", "executor_cpu_s" -> "s",
    "tasks" -> "count", "shuffle_bytes" -> "bytes")

  val x12Spans: Seq[String] = Seq("ledger.read", "bronze.ingest", "bronze.write",
    "silver.parse", "silver.write", "silver.readback", "gold", "ack997",
    "ledger.append")

  val marts: Seq[String] = Seq("transaction_summary",
    "healthcare_claim_analytics", "healthcare_payment_analytics",
    "healthcare_enrollment_analytics", "trading_partner_analytics",
    "healthcare_preauth_request_analytics",
    "healthcare_preauth_response_analytics", "data_quality_metrics",
    "business_kpis", "eligibility_analytics", "claim_status_analytics",
    "request_response_pairs", "daily_analytics")

  val curationSpans: Seq[String] = Seq("front_door", "dedup", "gate", "mix")

  val perLayer: Seq[(String, String)] =
    x12Spans.flatMap(s => spanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
      marts.map(m => s"gold.$m.busy_s" -> "s") ++
      curationSpans.flatMap(s => spanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
      Seq("bronze.files_in", "bronze.files_valid", "bronze.files_quarantined",
        "ledger.rows", "silver.tx_out", "silver.tx_invalid").map(_ -> "count") ++
      Seq("silver.tx_per_busy_s" -> "1/s", "silver.readback_rows" -> "count",
        "gold.rows_out" -> "count", "ack997.acks_out" -> "count") ++
      Seq("bronze.write", "silver.write", "gold", "ack997").flatMap(l =>
        Seq(s"$l.written_bytes" -> "bytes", s"$l.written_files" -> "count")) ++
      Seq("front_door.docs_out" -> "count", "dedup.docs_out" -> "count",
        "dedup.keep_ratio" -> "ratio", "gate.admitted" -> "count",
        "gate.reject_rule" -> "count", "gate.reject_lm" -> "count",
        "gate.reject_lang" -> "count", "mix.docs_out" -> "count",
        "mix.tokens_out" -> "count") ++
      Seq("pipeline.jobs" -> "count", "pipeline.tasks" -> "count",
        "pipeline.stage_covered_s" -> "s", "pipeline.driver_gap_s" -> "s",
        "pipeline.executor_cpu_s" -> "s", "pipeline.shuffle_bytes" -> "bytes",
        "pipeline.task_failures" -> "count", "pipeline.written_bytes" -> "bytes",
        "pipeline.written_files" -> "count",
        "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s")
}

/** The JVM's result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)],
      oracle: Seq[(String, String, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
    val os = oracle.map { case (n, o, w) =>
      s"{${str("name")}: ${str(n)}, ${str("oracle")}: ${str(o)}, ${str("written")}: ${str(w)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "oracle_checks": [${os.mkString(", ")}]}"""
  }
}
