package graft.streaming

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}
import graft.x12.X12TestDataGen

class StreamingSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("T1: file-source ingest drains the landing dir exactly once") {
    val landing = tempDir("x12stream").toString
    val out = tempDir("x12streamout").toString
    val ckpt = tempDir("x12ckpt").toString
    X12TestDataGen.writeCorpus(landing, 18, seed = 7L)

    val silver = X12Streaming.silverStream(spark, landing, "B1",
      Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00"))
    val q1 = X12Streaming.startIngest(silver, s"$out/silver", s"$ckpt/c1")
    q1.awaitTermination()

    val first = spark.read.parquet(s"$out/silver")
    assert(first.count() > 0)
    // batch parse of the same dir agrees row-for-row
    import spark.implicits._
    val batch = graft.x12.X12Silver.parse(
      graft.x12.X12Silver.readFiles(spark, landing).filter(_._2.startsWith("ISA")),
      "B1", Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00"))
    // streaming parses every file (garbage included → zero rows from it)
    assert(first.count() == batch.count())

    // second AvailableNow run with the same checkpoint: no new files → no new rows
    val q2 = X12Streaming.startIngest(
      X12Streaming.silverStream(spark, landing, "B1",
        Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00")),
      s"$out/silver", s"$ckpt/c1")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/silver").count() == first.count())

    // a newly landed file IS picked up on the next drain (new-file tracking)
    val rnd = new scala.util.Random(99)
    val (content, _, _, _) = X12TestDataGen.generateFile(rnd, "837", "LATE1", "RCV1")
    Files.writeString(java.nio.file.Paths.get(landing, "late_arrival.x12"), content)
    val q3 = X12Streaming.startIngest(
      X12Streaming.silverStream(spark, landing, "B2",
        Date.valueOf("2025-09-02"), Timestamp.valueOf("2025-09-02 12:00:00")),
      s"$out/silver", s"$ckpt/c1")
    q3.awaitTermination()
    val after = spark.read.parquet(s"$out/silver")
    assert(after.count() > first.count())
    assert(after.filter(col("file_name") === "late_arrival.x12").count() >= 1)
  }

  test("T2: foreachBatch custom sink sees every silver row") {
    val landing = tempDir("x12fb").toString
    val ckpt = tempDir("x12fbckpt").toString
    X12TestDataGen.writeCorpus(landing, 9, seed = 11L)
    val silver = X12Streaming.silverStream(spark, landing, "B1",
      Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00"))
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = X12Streaming.startForeachBatch(silver, s"$ckpt/c")( (df, _) =>
      seen.addAndGet(df.count()): Unit)
    q.awaitTermination()
    assert(seen.get() > 0)
  }

  test("stateful dedup suppresses replayed transactions across micro-batches") {
    val landing = tempDir("x12dedup").toString
    val ckpt = tempDir("x12dedupckpt").toString
    val out = tempDir("x12dedupout").toString
    // same interchange content landed twice under different file names —
    // the reference's archive-move idiom would process it twice
    val rnd = new scala.util.Random(3)
    val (content, _, _, _) = X12TestDataGen.generateFile(rnd, "835", "DUP1", "RCV1")
    Files.writeString(java.nio.file.Paths.get(landing, "original.x12"), content)
    Files.writeString(java.nio.file.Paths.get(landing, "replayed_copy.x12"), content)

    val silver = X12Streaming.silverStream(spark, landing, "B1",
      Date.valueOf("2025-09-01"), Timestamp.valueOf("2025-09-01 12:00:00"))
    val deduped = X12Streaming.dedupStream(silver)
    val q = deduped.writeStream.format("parquet")
      .option("checkpointLocation", s"$ckpt/c")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$out/silver")
    q.awaitTermination()
    val first = spark.read.parquet(s"$out/silver")
    val nTx = first.count()
    assert(nTx > 0)
    // both copies parse to the same envelope identities → exactly one survives
    assert(first.select("interchange_control_number",
      "functional_group_number", "transaction_set_control_number")
      .distinct().count() == nTx)

    // a THIRD copy landed later (new file → new micro-batch) is also suppressed
    Files.writeString(java.nio.file.Paths.get(landing, "late_replay.x12"), content)
    val q2 = X12Streaming.dedupStream(
      X12Streaming.silverStream(spark, landing, "B2",
        Date.valueOf("2025-09-02"), Timestamp.valueOf("2025-09-02 12:00:00")))
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$ckpt/c")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$out/silver")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/silver").count() == nTx)
  }

  test("T4: watermarked failure-burst windows fire above threshold only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val bursts = EventStreaming.failureBursts(events, threshold = 3)
    val q = bursts.writeStream.format("memory")
      .queryName("bursts").outputMode("append").start()

    def t(m: Int, s: Int) = Timestamp.valueOf(f"2025-09-01 10:$m%02d:$s%02d")
    // 5 errors inside 10:00-10:15 → fires; 2 errors in 10:15-10:30 → silent
    input.addData((0 until 5).map(i => (t(1, i * 10), "error")) ++
      Seq((t(16, 0), "error"), (t(17, 0), "error")) ++
      (0 until 6).map(i => (t(2, i), "click")))
    q.processAllAvailable()
    // advance the watermark far enough to close both windows; the watermark
    // computed from a batch's max event time only gates the NEXT batch, so
    // nudge once more after the clock-advancing event
    input.addData(Seq((Timestamp.valueOf("2025-09-01 13:00:00"), "click")))
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2025-09-01 13:01:00"), "click")))
    q.processAllAvailable()
    val rows = spark.table("bursts").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_events") == 5)
    assert(rows.head.getAs[Timestamp]("window_start") ==
      Timestamp.valueOf("2025-09-01 10:00:00"))
  }

  test("W2 streaming: hourly health rollup computes success rate per window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val health = EventStreaming.hourlyHealth(input.toDF().toDF("ts", "event_type"))
    val q = health.writeStream.format("memory")
      .queryName("health").outputMode("append").start()
    input.addData(Seq(
      (Timestamp.valueOf("2025-09-01 09:05:00"), "click"),
      (Timestamp.valueOf("2025-09-01 09:10:00"), "error"),
      (Timestamp.valueOf("2025-09-01 09:20:00"), "click"),
      (Timestamp.valueOf("2025-09-01 09:30:00"), "click")))
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2025-09-01 14:00:00"), "click")))
    q.processAllAvailable()
    val rows = spark.table("health").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("cnt") == 4)
    assert(rows.head.getAs[Double]("success_rate") == 75.0)
  }

  test("streaming sessions: session_window merges within the gap, splits across it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val sess = EventStreaming.sessions(
      input.toDF().toDF("ts", "user_id"), "user_id", "ts", "30 minutes")
    val q = sess.writeStream.format("memory")
      .queryName("sessions").outputMode("append").start()
    input.addData(Seq(
      (Timestamp.valueOf("2025-09-01 10:00:00"), "u1"),
      (Timestamp.valueOf("2025-09-01 10:10:00"), "u1"), // same session
      (Timestamp.valueOf("2025-09-01 11:30:00"), "u1"), // > 30 min later → new
      (Timestamp.valueOf("2025-09-01 10:05:00"), "u2")))
    q.processAllAvailable()
    // advance the watermark past every session's close (same two-nudge
    // pattern as the window tests: a batch's watermark gates the NEXT batch)
    input.addData(Seq((Timestamp.valueOf("2025-09-01 15:00:00"), "u3")))
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2025-09-01 15:01:00"), "u3")))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getString(0), r.getAs[Timestamp]("session_start")) ->
        (r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).toMap
    q.stop()
    val s1 = rows(("u1", Timestamp.valueOf("2025-09-01 10:00:00")))
    // session end = last event + gap; both events merged
    assert(s1 == ((Timestamp.valueOf("2025-09-01 10:40:00"), 2L)))
    val s2 = rows(("u1", Timestamp.valueOf("2025-09-01 11:30:00")))
    assert(s2 == ((Timestamp.valueOf("2025-09-01 12:00:00"), 1L)))
    assert(rows(("u2", Timestamp.valueOf("2025-09-01 10:05:00")))._2 == 1L)
  }
}
