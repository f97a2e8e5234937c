package graft.x12

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 997 Functional Acknowledgment generation
  * (reference: notebooks/generate_x12_acknowledgments.py:74-186).
  *
  * The 997 builder is a pure function (trivially unit-testable) wrapped in a
  * Scala UDF — string formatting is the one place SURVEY §2.11 keeps a UDF.
  * The file write is the scale-path fix for the reference's driver
  * `collect()` loop (generate_x12_acknowledgments.py:226-246): partitioning
  * the frame by partner and writing a partitioned text sink emits one
  * directory per partner with zero driver materialization.
  */
object Ack997 {

  /** Build one 997 interchange (generate_x12_acknowledgments.py:74-142).
    * Sender/receiver swap roles; ids are left-padded to 15 inside ISA.
    * The clock is a parameter (the reference calls datetime.now() inline)
    * so outputs are reproducible.
    */
  def generate997(
      senderId: String,
      receiverId: String,
      functionalGroupControlNumber: String,
      transactionSetControlNumbers: Seq[String],
      ackCode: String,
      now: LocalDateTime): String =
    generate997PerSet(senderId, receiverId, functionalGroupControlNumber,
      transactionSetControlNumbers.map(t => (t, ackCode)),
      ackCode,
      if (ackCode == "A") transactionSetControlNumbers.length else 0, now)

  /** Per-transaction-set variant: AK5 carries each set's own code, AK9
    * carries the group code plus the true accepted count (AK904). The
    * reference's formula (`accepted = n if code=='A' else 0`,
    * generate_x12_acknowledgments.py:125) is preserved by the parity
    * overload above; quality-driven acks pass the real per-set codes and
    * valid count here.
    */
  def generate997PerSet(
      senderId: String,
      receiverId: String,
      functionalGroupControlNumber: String,
      transactionSets: Seq[(String, String)],
      groupAckCode: String,
      acceptedCount: Int,
      now: LocalDateTime): String = {
    val time = now.format(DateTimeFormatter.ofPattern("HHmm"))
    val dateShort = now.format(DateTimeFormatter.ofPattern("yyMMdd"))
    val dateLong = now.format(DateTimeFormatter.ofPattern("yyyyMMdd"))
    val icn = now.format(DateTimeFormatter.ofPattern("yyMMddHHmm"))
    val gcn = now.format(DateTimeFormatter.ofPattern("HHmmss"))
    val tcn = "0001"
    def pad15(s: String): String = s.padTo(15, ' ')
    val isa = s"ISA*00*          *00*          *ZZ*${pad15(receiverId)}*ZZ*${pad15(senderId)}*$dateShort*$time*^*00501*$icn*0*T*:~"
    val gs = s"GS*FA*$receiverId*$senderId*$dateLong*$time*$gcn*X*005010~"
    val st = s"ST*997*$tcn~"
    val ak1 = s"AK1*${functionalGroupControlNumber.take(2)}*$functionalGroupControlNumber~"
    val akPairs = transactionSets.flatMap { case (ts, code) =>
      Seq(s"AK2*${ts.take(3)}*$ts~", s"AK5*$code~")
    }
    val n = transactionSets.length
    val ak9 = s"AK9*$groupAckCode*$n*$n*$acceptedCount~"
    val segmentCount = 4 + akPairs.length + 1 // ST+AK1+pairs+AK9+SE
    val se = s"SE*$segmentCount*$tcn~"
    val ge = s"GE*1*$gcn~"
    val iea = s"IEA*1*$icn~"
    (Seq(isa, gs, st, ak1) ++ akPairs ++ Seq(ak9, se, ge, iea)).mkString("\n")
  }

  /** The content generator UDF: one 997 per envelope group from its
    * (control number, is_valid) sets. In parity mode every set is coded `A`,
    * so the group code is `A` and AK904 = n: byte-for-byte [[generate997]]
    * with code `A`.
    */
  private def gen997(now: LocalDateTime, qualityDriven: Boolean) =
    udf { (sender: String, receiver: String, gcn: String,
        sets: Seq[org.apache.spark.sql.Row]) =>
      val perSet = sets.map(r =>
        (r.getString(0), if (!qualityDriven || r.getBoolean(1)) "A" else "E"))
      val accepted = perSet.count(_._2 == "A")
      val groupCode = if (accepted == perSet.length) "A" else "E"
      generate997PerSet(sender.trim, receiver.trim,
        Option(gcn).getOrElse(""), perSet, groupCode, accepted, now)
    }

  /** A5 + P19: per-partner envelope aggregation then 997 generation
    * (generate_x12_acknowledgments.py:155-186). Control-number lists are
    * sorted so the output is independent of partition order.
    *
    * The reference hardcodes ack code "A" and leaves error detection as a
    * declared enhancement (the `lit("A")  # Accept all for now — could be
    * enhanced with error detection` comment at :179).
    * `qualityDrivenAckCode=true` implements that declaration at the correct
    * grain: each AK5 carries ITS transaction set's code (A for valid, E for
    * invalid), the group-level AK9 is E when any set failed, and AK904
    * reports the true accepted count; an `ack_code` column carries the
    * group code. With the default false, output is schema- and
    * byte-identical to reference parity (all-A, AK904 = n).
    *
    * State bound: the per-partner collect_list grows with a partner's batch
    * volume. Reference semantics are batch-bounded (100 files/batch,
    * generate_x12_acknowledgments.py's batch loop), so the partner grain is
    * safe at that scale.
    */
  def acknowledgments(silver: DataFrame, batchId: String, now: LocalDateTime,
      qualityDrivenAckCode: Boolean = false): DataFrame = {
    val base = silver
      .groupBy("sender_id", "receiver_id")
      .agg(
        sort_array(collect_list("interchange_control_number")).as("interchange_numbers"),
        sort_array(collect_list("functional_group_number")).as("group_numbers"),
        sort_array(collect_list(struct(
          col("transaction_set_control_number").as("tcn"),
          col("is_valid")))).as("tx_sets"),
        count(lit(1)).as("file_count"),
        max("processing_timestamp").as("last_processed"),
        sort_array(collect_list("file_name")).as("processed_files"))
      .withColumn("transaction_numbers",
        transform(col("tx_sets"), x => x.getField("tcn")))
    val coded =
      if (qualityDrivenAckCode)
        base.withColumn("ack_code",
          when(exists(col("tx_sets"), x => !x.getField("is_valid")), lit("E"))
            .otherwise(lit("A")))
      else base
    coded
      .withColumn("acknowledgment_content",
        gen997(now, qualityDrivenAckCode)(col("sender_id"), col("receiver_id"),
          element_at(col("group_numbers"), 1), col("tx_sets")))
      .drop("tx_sets")
      .withColumn("ack_filename",
        concat(trim(col("sender_id")), lit("_997_"), lit(batchId), lit(".x12")))
      .withColumn("generation_timestamp", BuildTime())
  }

  /** S9 without the driver loop: partitioned single-column text write — one
    * directory per partner, executor-side only.
    */
  def writeAckFiles(acks: DataFrame, outDir: String): Unit =
    acks.select(trim(col("sender_id")).as("partner"),
        col("acknowledgment_content").as("value"))
      .repartition(col("partner"))
      .write.mode("overwrite").partitionBy("partner").text(outDir)

  /** P20 structural validator (generate_x12_acknowledgments.py:298-316):
    * required segments present, first segment ISA, last segment IEA.
    */
  def validate997(acks: DataFrame): DataFrame = {
    val c = col("acknowledgment_content")
    val required = Seq("ISA", "GS", "ST", "AK1", "AK9", "SE", "GE", "IEA")
    val missing = array_compact(array(required.map(seg =>
      when(!c.contains(seg + "*"), lit(s"Missing segment: $seg"))): _*))
    acks
      .withColumn("ack_missing_segments", missing)
      .withColumn("ack_is_valid",
        size(missing) === 0 &&
          c.startsWith("ISA*") &&
          c.rlike("IEA\\*[^~]*\\*[^~]*~\\s*$"))
  }

  /** Ack metadata table (generate_x12_acknowledgments.py:208-219). */
  def metadata(acks: DataFrame): DataFrame =
    acks.select("sender_id", "receiver_id", "ack_filename", "file_count",
      "generation_timestamp", "processed_files")
}
