package graft.x12

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}

/** End-to-end medallion test: generated X12 corpus → bronze → silver →
  * gold marts → 997 acks, all on local Spark with real parquet/text writes.
  */
class X12PipelineSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val corpusDir = Files.createTempDirectory("x12corpus").toString
  private val outDir = Files.createTempDirectory("x12out").toString
  private val nFiles = 45
  private val totalFiles = nFiles + X12TestDataGen.extraFiles

  override def afterAll(): Unit =
    try Seq(corpusDir, outDir).foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()

  private lazy val result: X12Pipeline.Result = {
    X12TestDataGen.writeCorpus(corpusDir, nFiles, seed = 42L)
    X12Pipeline.run(spark, corpusDir, outDir, "BATCH_T1",
      Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00"),
      LocalDateTime.of(2025, 9, 1, 12, 0, 0))
  }

  test("bronze: all files land, garbage file flagged invalid") {
    val bronze = result.bronze
    assert(bronze.count() == totalFiles)
    val bad = bronze.filter(!col("file_is_valid"))
      .select("file_name").collect().map(_.getString(0))
    assert(bad.contains("test_x12_garbage.x12"))
    val errs = bronze.filter(col("file_name") === "test_x12_garbage.x12")
      .select("validation_errors").head().getSeq[String](0)
    assert(errs.contains("File does not start with ISA segment"))
    // metadata sniffing on a valid file
    val meta = bronze.filter(col("file_name").startsWith("test_x12_837"))
      .select("metadata.element_separator", "metadata.interchange_control_header.sender_id")
      .head()
    assert(meta.getString(0) == "*")
    assert(meta.getString(1).trim.nonEmpty)
  }

  test("silver: every valid file parses; garbage contributes nothing") {
    val silver = result.silver.toDF()
    assert(silver.count() > nFiles) // 1-3 transactions per file
    assert(silver.filter(col("file_name") === "test_x12_garbage.x12").count() == 0)
    // transaction types spread across all nine
    val types = silver.select("transaction_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(Seq("837", "835", "834", "270", "271", "276", "277", "278", "279")
      .forall(types.contains))
    // control numbers populated from the envelope
    assert(silver.filter(length(col("interchange_control_number")) === 0).count() == 0)
    // sender ids keep reference 15-wide padding
    val s = silver.select("sender_id").head().getString(0)
    assert(s.length == 15)
  }

  test("silver: unterminated trailing transaction is dropped") {
    val silver = result.silver.toDF()
    val fromUnterminated =
      silver.filter(col("file_name") === "test_x12_unterminated.x12")
    // the file holds one complete 837 + one dangling ST group → several
    // complete transactions possible, but none carrying the dangling control
    assert(fromUnterminated.count() >= 1)
  }

  test("silver: quality scores are 0-100 and defect files score lower") {
    val silver = result.silver.toDF()
    val range = silver.agg(min("quality_score"), max("quality_score")).head()
    assert(range.getInt(0) >= 0 && range.getInt(1) == 100)
    assert(silver.filter(col("quality_score") === 100).count() > 0)
    assert(silver.filter(col("quality_score") < 100).count() > 0)
  }

  test("silver reference view serializes payload JSON with reference keys") {
    val view = X12Silver.referenceView(result.silver)
    assert(view.columns.toSeq == Seq("batch_id", "file_name",
      "processing_timestamp", "interchange_control_number",
      "functional_group_number", "transaction_set_control_number",
      "transaction_type", "sender_id", "receiver_id", "transaction_date",
      "parsed_data", "validation_results", "quality_score", "is_valid",
      "processing_date"))
    val js = view.filter(col("transaction_type") === "837")
      .select("parsed_data").head().getString(0)
    assert(js.contains("\"service_lines\""))
    assert(js.contains("\"monetary_amount\""))
    val vr = view.select("validation_results").head().getString(0)
    assert(vr.contains("\"quality_score\""))
  }

  test("gold claim mart: calculated_total equals the sum of service lines") {
    val claims = result.marts("gold_healthcare_claim_analytics")
    assert(claims.count() > 0)
    // re-derive from typed silver and compare per transaction
    val typed = result.silver.toDF().filter(col("transaction_type") === "837" && col("is_valid"))
      .select(col("transaction_set_control_number").as("tcn"),
        aggregate(col("payload.claim837.service_lines"), lit(0.0),
          (acc, x) => acc + x.getField("monetary_amount")).as("expected"))
    val joined = claims.join(typed,
      claims("transaction_set_control_number") === typed("tcn"))
    assert(joined.filter(abs(col("calculated_total") - col("expected")) > 1e-9).count() == 0)
    // variance = |claim amount - calculated|
    assert(joined.filter(
      abs(col("amount_variance") - abs(col("total_claim_amount") - col("calculated_total"))) > 1e-9
    ).count() == 0)
  }

  test("gold payment mart: charge/patient-responsibility sums and ratios") {
    val pay = result.marts("gold_healthcare_payment_analytics")
    assert(pay.count() > 0)
    assert(pay.filter(col("total_claims") <= 0).count() == 0)
    val bad = pay.filter(col("total_charge_amount") > 0 &&
      abs(col("payment_ratio") -
        col("total_payment_amount") / col("total_charge_amount") * 100) > 1e-9)
    assert(bad.count() == 0)
  }

  test("gold enrollment mart: maintenance buckets partition the members") {
    val en = result.marts("gold_healthcare_enrollment_analytics")
    assert(en.count() > 0)
    // generator only emits 021/024/001, so buckets must sum to total
    assert(en.filter(col("new_enrollments") + col("terminations") + col("changes")
      =!= col("total_members")).count() == 0)
  }

  test("gold trading partner mart: type counts sum to total") {
    val tp = result.marts("gold_trading_partner_analytics")
    val typeSum = Seq("healthcare_claims", "payment_advices", "enrollments",
      "eligibility_inquiries", "eligibility_responses", "claim_status_requests",
      "claim_status_responses", "preauth_requests", "preauth_responses")
      .map(col).reduce(_ + _)
    assert(tp.filter(typeSum =!= col("total_transactions")).count() == 0)
    assert(tp.filter(!col("trading_partner_id").contains("-")).count() == 0)
  }

  test("gold preauth response mart: approval categorization") {
    val pr = result.marts("gold_healthcare_preauth_response_analytics")
    assert(pr.count() > 0)
    assert(pr.filter(col("approved_services") + col("denied_services") +
      col("pending_services") > col("total_review_results")).count() == 0)
    val statuses = pr.select("authorization_status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("APPROVED", "DENIED", "PENDING", null)))
  }

  test("gold quality metrics: bucket percentages consistent") {
    val q = result.marts("gold_data_quality_metrics")
    assert(q.count() > 0)
    assert(q.filter(col("high_quality_count") + col("medium_quality_count") +
      col("low_quality_count") =!= col("total_transactions")).count() == 0)
  }

  test("gold business KPIs: one global row with fixed partner-pair count") {
    val kpi = result.marts("gold_business_kpis")
    val row = kpi.head()
    assert(kpi.count() == 1)
    assert(row.getAs[Long]("total_transactions") > 0)
    assert(row.getAs[Long]("unique_trading_pairs") >= 1)
  }

  test("request/response correlation joins requests to their responses") {
    val pairs = result.marts("gold_request_response_pairs")
    // the corpus carries 3 correlated 276-277 pairs and 3 of 270-271
    assert(pairs.filter(col("pair_type") === "276-277").count() >= 3)
    assert(pairs.filter(col("pair_type") === "270-271").count() >= 3)
    assert(pairs.filter(col("corr_ref").startsWith("CORR")).count() >= 6)
    // every correlated response reported at least one detail record
    assert(pairs.filter(col("corr_ref").startsWith("CORR") &&
      col("response_details") < 1).count() == 0)
  }

  test("eligibility + claim-status marts materialize") {
    assert(result.marts("gold_eligibility_analytics").count() > 0)
    assert(result.marts("gold_claim_status_analytics").count() > 0)
    val cs = result.marts("gold_claim_status_analytics")
    // 276 rows have no claim_status payload → zero statuses, zero sums
    assert(cs.filter(col("transaction_type") === "276" &&
      col("total_claim_statuses") =!= 0).count() == 0)
  }

  test("997 acks: one per partner pair, structurally valid, round-trip parses") {
    val acks = result.acks
    val partners = result.silver.toDF()
      .select("sender_id", "receiver_id").distinct().count()
    assert(acks.count() == partners)
    assert(acks.filter(!col("ack_is_valid")).count() == 0)
    val content = acks.select("acknowledgment_content").head().getString(0)
    val (isa, _, txs) = X12Parser.parseFile(content)
    assert(isa.isDefined && txs.length == 1)
    assert(txs.head.transactionType == "997")
    // ack files written per partner directory without a driver collect;
    // the directory key is the sender, so pairs sharing a sender share a dir
    val senders = result.silver.toDF()
      .select(trim(col("sender_id"))).distinct().count()
    val ackRoot = Paths.get(outDir, "acknowledgments")
    assert(Files.list(ackRoot).filter(p => p.getFileName.toString.startsWith("partner=")).count() == senders)
  }

  test("daily analytics mart: buckets, type counts, segment frequencies") {
    val d = result.marts("gold_daily_analytics")
    val r = d.head()
    assert(d.count() == 1)
    val total = r.getAs[Long]("total_files_processed")
    assert(total == result.silver.toDF().select("file_name").distinct().count())
    assert(r.getAs[Long]("high_quality_files") +
      r.getAs[Long]("medium_quality_files") +
      r.getAs[Long]("low_quality_files") == total)
    val types = r.getAs[String]("transaction_types_json")
    assert(types.contains("\"837\":"))
    val segs = r.getAs[String]("segment_analysis_json")
    assert(segs.contains("\"ISA\":") && segs.contains("\"SE\":"))
  }

  test("invalid files are quarantined with their errors, not dropped") {
    result // force the pipeline run
    val q = spark.read.json(s"$outDir/bronze_quarantine")
    assert(q.filter(col("file_name") === "test_x12_garbage.x12").count() == 1)
    assert(q.columns.contains("validation_errors"))
  }

  test("quality-driven ack codes: partners with invalid transactions get E") {
    import java.time.LocalDateTime
    val acks = Ack997.acknowledgments(result.silver.toDF(), "B_Q",
      LocalDateTime.of(2025, 9, 1, 12, 0, 0), qualityDrivenAckCode = true)
    val badPairs = result.silver.toDF().filter(!col("is_valid"))
      .select("sender_id", "receiver_id").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(badPairs.nonEmpty, "corpus must contain invalid transactions")
    // per-transaction validity, for checking each AK2/AK5 pair
    val validity = result.silver.toDF()
      .select("transaction_set_control_number", "is_valid")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    var sawE = false
    acks.select(col("sender_id"), col("receiver_id"), col("ack_code"),
        col("acknowledgment_content")).collect().foreach { r =>
      val isBad = badPairs.contains((r.getString(0), r.getString(1)))
      assert(r.getString(2) == (if (isBad) "E" else "A"), s"pair ${r.getString(0)}")
      // every AK2's AK5 reflects that transaction set's own validity, and
      // AK9 reports group code + true accepted count
      val segs = X12Parser.parseSegments(r.getString(3))
      val ak25 = segs.filter(s => s.segment_id == "AK2" || s.segment_id == "AK5")
      ak25.grouped(2).foreach { case Seq(ak2, ak5) =>
        val expected = if (validity(ak2.elements(1))) "A" else "E"
        if (expected == "E") sawE = true
        assert(ak5.elements.head == expected, s"tcn ${ak2.elements(1)}")
      }
      val ak9 = segs.find(_.segment_id == "AK9").get
      val nValid = ak25.grouped(2).count { case Seq(ak2, _) => validity(ak2.elements(1)) }
      assert(ak9.elements.head == (if (isBad) "E" else "A"))
      assert(ak9.elements(3).toInt == nValid, "AK904 must be the accepted count")
    }
    assert(sawE, "at least one per-set E code must be exercised")
    // default path stays reference parity: no ack_code column, all-A content
    assert(!result.acks.columns.contains("ack_code"))
    assert(!result.acks.select("acknowledgment_content").collect()
      .exists(_.getString(0).contains("AK5*E~")))
  }

  test("written silver parquet reads back partitioned by date and type") {
    val back = spark.read.parquet(s"$outDir/silver")
    assert(back.count() == result.silver.count())
    assert(back.select("processing_date").distinct().count() == 1)
    // partition pruning: filter on partition col reads a subset
    val one = back.filter(col("transaction_type") === "837")
    assert(one.count() > 0 && one.count() < back.count())
  }

  test("nested-schema pruning: claim mart scans only the claim837 payload branch") {
    result // silver parquet written by the pipeline run
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    val back = spark.read.parquet(s"$outDir/silver")
    val mart = X12Gold.claimAnalytics(back.filter(col("is_valid")))
    val scan = mart.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    val schema = scan.substring(scan.indexOf("ReadSchema"))
    assert(schema.contains("claim837"), schema)
    // the other nine union branches must NOT be deserialized by this mart
    Seq("payment835", "enrollment834", "eligibility270", "eligibility271",
      "status276", "status277", "preauth278", "preauth279", "generic")
      .foreach(b => assert(!schema.contains(b), s"branch $b not pruned: $schema"))
  }

  test("pipeline summaries: silver counts reconcile") {
    val sm = X12Silver.summary(result.silver).head()
    assert(sm.getAs[Long]("transactions_processed") == result.silver.count())
    assert(sm.getAs[Long]("transactions_valid") +
      sm.getAs[Long]("transactions_invalid") ==
      sm.getAs[Long]("transactions_processed"))
  }

  // keep last in the suite: the re-runs below mutate outDir artifacts that
  // the earlier tests read

  test("processed-file ledger: re-run over the same landing dir adds no silver rows") {
    result // first run materialized and ledgered
    val before = spark.read.parquet(s"$outDir/silver").count()
    val second = X12Pipeline.run(spark, corpusDir, outDir, "BATCH_T2",
      Date.valueOf("2025-09-02"), Timestamp.valueOf("2025-09-02 12:00:00"),
      LocalDateTime.of(2025, 9, 2, 12, 0, 0))
    assert(second.bronze.isEmpty, "every landing file is already ledgered")
    assert(second.silver.isEmpty)
    assert(spark.read.parquet(s"$outDir/silver").count() == before,
      "no duplicate silver rows on re-run")
  }

  test("exactly-once 997 emission: a fully-ledgered re-run adds no ack files") {
    result // first run materialized and ledgered
    def ackFiles: Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(outDir, "acknowledgments"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
    val before = ackFiles
    assert(before.nonEmpty)
    val rerun = X12Pipeline.run(spark, corpusDir, outDir, "BATCH_ACK_RERUN",
      Date.valueOf("2025-09-04"), Timestamp.valueOf("2025-09-04 12:00:00"),
      LocalDateTime.of(2025, 9, 4, 12, 0, 0))
    assert(rerun.acks.isEmpty, "no new batches means no new acknowledgments")
    assert(ackFiles == before, "re-run must not re-emit 997 files")
  }

  /** A mart frame for content comparison: `created_at` (a run-time stamp by
    * design, not part of the contract) dropped and doubles rounded, since
    * two silver stores in different append orders can sum floats to
    * different ulps.
    */
  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(df.schema.fields.filter(_.name != "created_at")
      .map(f => f.dataType match {
        case org.apache.spark.sql.types.DoubleType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }).toSeq: _*)

  test("incremental gold: partition-scoped recompute equals the full recompute") {
    val corpus2 = tempDir("x12corpus_inc").toString
    val outInc = tempDir("x12out_inc").toString
    val outFull = tempDir("x12out_full").toString
    X12TestDataGen.writeCorpus(corpus2, 18, seed = 9L)
    val d = Date.valueOf("2025-09-05")
    val ts = Timestamp.valueOf("2025-09-05 12:00:00")
    val now = LocalDateTime.of(2025, 9, 5, 12, 0, 0)
    X12Pipeline.run(spark, corpus2, outInc, "INC1", d, ts, now)
    // a late file lands; the second run processes only it and rewrites
    // only the touched processing_date partition of each per-date mart
    Files.copy(Paths.get(corpus2, "test_x12_837_000.x12"),
      Paths.get(corpus2, "late_inc.x12"))
    val run2 = X12Pipeline.run(spark, corpus2, outInc, "INC2", d, ts, now)
    assert(run2.bronze.count() == 1)
    // reference: one combined run over the full corpus on a fresh store,
    // where the one touched date is the whole store — a full recompute
    val full = X12Pipeline.run(spark, corpus2, outFull, "FULL", d, ts, now)
    // every mart on disk must be content-identical to the combined run's
    // daily analytics is batch-scoped by design (this batch's bronze)
    full.marts.keys.filterNot(_ == "gold_daily_analytics").foreach { mart =>
      val a = canon(spark.read.parquet(s"$outInc/$mart"))
      val b = canon(spark.read.parquet(s"$outFull/$mart"))
      assert(a.count() == b.count(), s"$mart row count")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$mart content diverges from the combined run")
    }
  }

  test("incremental gold: cross-date request/response pairs survive") {
    // the correlation mart joins a request to a response that may arrive in
    // a LATER batch — it must recompute over the full store (a date-scoped
    // recompute would lose the pair forever)
    val corpus = tempDir("x12corpus_cd").toString
    val out = tempDir("x12out_cd").toString
    X12TestDataGen.writeCorpus(corpus, 9, seed = 13L)
    // hold back every correlated RESPONSE file until day 2
    val hold = tempDir("x12hold_cd")
    import scala.jdk.CollectionConverters._
    val responses = {
      val s = Files.list(Paths.get(corpus))
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("test_x12_277_pair") || n.startsWith("test_x12_271_pair")
      }.toList finally s.close()
    }
    assert(responses.nonEmpty)
    responses.foreach(p => Files.move(p, hold.resolve(p.getFileName)))
    X12Pipeline.run(spark, corpus, out, "CD1",
      Date.valueOf("2025-09-06"), Timestamp.valueOf("2025-09-06 12:00:00"),
      LocalDateTime.of(2025, 9, 6, 12, 0, 0))
    responses.foreach(p =>
      Files.move(hold.resolve(p.getFileName), Paths.get(corpus, p.getFileName.toString)))
    val day2 = Date.valueOf("2025-09-07")
    X12Pipeline.run(spark, corpus, out, "CD2",
      day2, Timestamp.valueOf("2025-09-07 12:00:00"),
      LocalDateTime.of(2025, 9, 7, 12, 0, 0))
    // reference: every catalogue mart recomputed over the whole written
    // silver store
    val store = spark.read.parquet(s"$out/silver").filter(col("is_valid"))
    X12Gold.marts.foreach { m =>
      val onDisk = canon(spark.read.parquet(s"$out/${m.name}"))
      val ref = canon(m.build(store, day2)).select(onDisk.columns.map(col).toSeq: _*)
      assert(onDisk.count() == ref.count(), s"${m.name} row count")
      assert(onDisk.exceptAll(ref).isEmpty && ref.exceptAll(onDisk).isEmpty,
        s"${m.name} on disk diverges from the full-store recompute")
    }
    // the correlated pairs really cross the two processing dates
    val pairs = spark.read.parquet(s"$out/gold_request_response_pairs")
    assert(pairs.filter(col("corr_ref").startsWith("CORR")).count() >= 6,
      "cross-date CORR pairs must survive")
    // a per-date mart: day 2's write replaces only its own partition, so
    // day 1's rows must still be there next to it
    assert(spark.read.parquet(s"$out/gold_transaction_summary")
      .select("processing_date").distinct().count() == 2)
  }

  test("mart catalogue: per-date marts read only the touched date, " +
      "and each mart is written with its catalogue partitioning") {
    val corpus = tempDir("x12corpus_cat").toString
    val out = tempDir("x12out_cat").toString
    X12TestDataGen.writeCorpus(corpus, 9, seed = 13L)
    X12Pipeline.run(spark, corpus, out, "CAT1",
      Date.valueOf("2025-09-08"), Timestamp.valueOf("2025-09-08 12:00:00"),
      LocalDateTime.of(2025, 9, 8, 12, 0, 0))
    // a late file lands: the second run meets a store holding day 1
    Files.copy(Paths.get(corpus, "test_x12_837_000.x12"),
      Paths.get(corpus, "late_cat.x12"))
    val run2 = X12Pipeline.run(spark, corpus, out, "CAT2",
      Date.valueOf("2025-09-09"), Timestamp.valueOf("2025-09-09 12:00:00"),
      LocalDateTime.of(2025, 9, 9, 12, 0, 0))
    val names = X12Gold.marts.map(_.name)
    assert(names.size == 12 && names.distinct == names)
    assert(run2.marts.keySet == names.toSet + "gold_daily_analytics")
    X12Gold.marts.foreach { m =>
      val scans = run2.marts(m.name).queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"${m.name} reads the silver store")
      scans.foreach { s =>
        val datePruned = s.partitionFilters
          .exists(_.references.exists(_.name == "processing_date"))
        assert(datePruned == m.perDate,
          s"${m.name} partition filters: ${s.partitionFilters}")
      }
    }
    def dateDirs(mart: String): Boolean =
      Option(new java.io.File(s"$out/$mart").list()).toSeq.flatten
        .exists(_.startsWith("processing_date="))
    X12Gold.marts.foreach(m => assert(dateDirs(m.name) == m.partitioned, m.name))
    assert(!dateDirs("gold_daily_analytics"))
  }

  test("crash contract under overlapped gold writes: a failed mart write " +
      "throws, leaves no ledger row, and no write still running") {
    val corpus = tempDir("x12corpus_crash").toString
    val out = tempDir("x12out_crash").toString
    X12TestDataGen.writeCorpus(corpus, 9, seed = 21L)
    val files = 9 + X12TestDataGen.extraFiles
    // a symlink to itself where a mart's output dir must go: nothing can be
    // created under it. (A plain file is no obstacle: an overwrite deletes
    // whatever sits at its path before writing.)
    val obstacle = Paths.get(out, "gold_business_kpis")
    Files.createSymbolicLink(obstacle, obstacle.getFileName)
    def runOnce() = X12Pipeline.run(spark, corpus, out, "CRASH",
      Date.valueOf("2025-09-10"), Timestamp.valueOf("2025-09-10 12:00:00"),
      LocalDateTime.of(2025, 9, 10, 12, 0, 0))
    intercept[Exception](runOnce())
    assert(X12Pipeline.processedFiles(spark, out).count() == 0,
      "a run whose mart write failed must ledger nothing")
    // every other gold write had ended when run threw: committed, with no
    // task output still staged. A static write marks its commit with
    // _SUCCESS; a per-date mart's dynamic write commits by moving its
    // partition out of a `.spark-staging-<job>` dir, which it then deletes
    val others = X12Gold.marts.map(_.name).filterNot(_ == "gold_business_kpis") :+
      "gold_daily_analytics"
    val perDate = X12Gold.marts.filter(_.perDate).map(_.name).toSet
    others.foreach { m =>
      val entries = Option(new java.io.File(s"$out/$m").list()).toSeq.flatten
      val committed =
        if (perDate(m)) entries.contains("processing_date=2025-09-10")
        else entries.contains("_SUCCESS")
      assert(committed, s"$m was not committed: $entries")
      assert(!entries.exists(e => e == "_temporary" || e.startsWith(".spark-staging")),
        s"$m still staging: $entries")
    }
    assert(Files.isSymbolicLink(obstacle))
    // the obstacle goes: the re-run processes the whole batch and ledgers it
    Files.delete(obstacle)
    val rerun = runOnce()
    assert(rerun.bronze.count() == files)
    assert(X12Pipeline.processedFiles(spark, out).count() == files)
    assert(Files.exists(Paths.get(out, "gold_business_kpis", "_SUCCESS")))
  }

  test("processed-file ledger: a late-arriving file is picked up incrementally") {
    result
    val before = spark.read.parquet(s"$outDir/silver").count()
    val src = Paths.get(corpusDir, "test_x12_837_000.x12")
    Files.copy(src, Paths.get(corpusDir, "late_arrival.x12"))
    val third = X12Pipeline.run(spark, corpusDir, outDir, "BATCH_T3",
      Date.valueOf("2025-09-03"), Timestamp.valueOf("2025-09-03 12:00:00"),
      LocalDateTime.of(2025, 9, 3, 12, 0, 0))
    assert(third.bronze.count() == 1, "only the new file is processed")
    assert(third.bronze.select("file_name").head.getString(0) == "late_arrival.x12")
    // gold marts on an incremental run aggregate the FULL accumulated
    // silver store — the overwrite-mode sinks must not replace history
    // with just the late batch's numbers
    val fullValid = spark.read.parquet(s"$outDir/silver")
      .filter(col("is_valid")).count()
    val kpiTotal = third.marts("gold_business_kpis")
      .select("total_transactions").head.getLong(0)
    assert(kpiTotal == fullValid,
      s"business KPIs must cover the full store ($fullValid), got $kpiTotal")
    val summaryTotal = spark.read.parquet(s"$outDir/gold_transaction_summary")
      .agg(sum(col("transaction_count"))).head.getLong(0)
    assert(summaryTotal == fullValid)
    val newRows = third.silver.count()
    assert(newRows > 0)
    assert(spark.read.parquet(s"$outDir/silver").count() == before + newRows)
  }
}
