package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}
import graft.queries.StreamingQueries

/** Checkpoint-restart recovery (r9, VERDICT #3): each stateful streaming
  * entry's recovery twin stops its query at a deterministic kill point,
  * restarts a fresh query instance from the same checkpoint, and
  * parity-`require`s the final result inside the entry itself — these
  * cases run the twins end-to-end at sf0.001, so a recovery regression
  * fails `sbt test`, not just the driver's sf0.01 verify.
  */
class StreamingRecoverySpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val dir = "/root/testdata/sf0.001"

  test("st62: watermark-dedup state suppresses a full post-restart replay") {
    assert(StreamingQueries.st62(spark, dir).count() > 0)
  }

  test("st63: transformWithState counts survive a checkpoint restart") {
    assert(StreamingQueries.st63(spark, dir).count() > 0)
  }

  test("st64: rolling-anomaly ring buffers survive a checkpoint restart") {
    assert(StreamingQueries.st64(spark, dir).count() > 0)
  }

  test("st65: durably maintained NB model equals the one-shot model " +
      "across a restart") {
    assert(StreamingQueries.st65(spark, dir).count() > 0)
  }

  test("st56: durably maintained gold totals survive a checkpoint restart") {
    assert(StreamingQueries.st56(spark, dir).count() > 0)
  }

  test("st67: maintained BM25 index (append-mode postings sink + durable " +
      "census/scalars) survives a checkpoint restart") {
    assert(StreamingQueries.st67(spark, dir).count() > 0)
  }

  test("st69: durably maintained kNN graph (cell-partition overwrites + " +
      "corpus store) survives a checkpoint restart") {
    assert(StreamingQueries.st69(spark, dir).count() > 0)
  }

  test("negative control: losing the checkpoint between phases re-emits " +
      "the replay (the recovery assertions have teeth)") {
    // st62's shape by hand, but phase 2 starts from a FRESH checkpoint
    // (its own sink dir too — a fresh checkpoint against the old sink
    // dir would clobber the sink's _spark_metadata log and HIDE the
    // re-emission from the reader): source offsets and dedup state are
    // gone, so the drain that a recovered query reduces to ZERO new rows
    // re-emits the whole corpus
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val feed = tempDir("graft_negctl_feed")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val d = tempDir("graft_negctl_stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, feed.resolve(name))
    }
    def drain(out: String, ckpt: String): Unit = {
      spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
        .parquet(feed.toString)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def newDir(p: String) =
      tempDir(p).toString
    stage(ev, "p000.parquet")
    drain(newDir("graft_negctl_out1"), newDir("graft_negctl_ck1"))
    stage(ev, "p001.parquet") // full replay after the "restart"
    val out2 = newDir("graft_negctl_out2")
    drain(out2, newDir("graft_negctl_ck2"))
    val reEmitted = spark.read.parquet(out2).count()
    val distinct = ev.select("event_id").distinct().count()
    assert(reEmitted == distinct && distinct > 0,
      s"fresh-checkpoint phase 2 should re-emit the corpus a recovered " +
        s"query suppresses (re-emitted=$reEmitted distinct=$distinct)")
  }

  test("DurableState: latestBefore respects commit markers and the " +
      "strictly-below bound") {
    val root = tempDir("graft_dstate_spec").toString
    assert(DurableState.latestBefore(root, 10) === None)
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    DurableState.commit(root, 0, Seq("t" -> df))
    DurableState.commit(root, 1, Seq("t" -> df))
    // an uncommitted (crashed mid-write) version is invisible
    val v2 = java.nio.file.Paths.get(root).resolve("v000000002/t")
    df.write.mode("overwrite").parquet(v2.toString)
    assert(DurableState.latestBefore(root, 10) === Some(1L))
    // a replaying batch never reads its own half-written version
    assert(DurableState.latestBefore(root, 1) === Some(0L))
    assert(DurableState.latestBefore(root, 0) === None)
    assert(DurableState.read(spark, root, 1, "t").count() === 1)
  }

  test("DurableState.prune keeps the newest k committed versions and " +
      "sweeps crash orphans below them") {
    val root = tempDir("graft_dprune_spec").toString
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    (0L to 4L).foreach(b => DurableState.commit(root, b, Seq("t" -> df)))
    // an uncommitted orphan BELOW the retention floor must be swept too
    df.write.parquet(
      java.nio.file.Paths.get(root).resolve("v000000001x").toString)
    df.write.mode("overwrite").parquet(java.nio.file.Paths.get(root)
      .resolve("v000000002").resolve("extra").toString)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root).resolve("v000000002").resolve("_COMMIT"))
    DurableState.prune(root, keep = 2)
    val left = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d{9}"))
      .map(_.getName).sorted.toSeq
    // v3/v4 survive (newest two committed); v0/v1 deleted; v2 (now an
    // orphan: its marker was removed above) is below the floor → swept
    assert(left === Seq("v000000003", "v000000004"), s"got $left")
    assert(DurableState.latestBefore(root, Long.MaxValue) === Some(4L))
    assert(DurableState.read(spark, root, 4, "t").count() === 1)
    // a replaying batch 4 still finds its merge source
    assert(DurableState.latestBefore(root, 4) === Some(3L))
  }

  test("DurableState.fold merges from strictly below the batch id, a " +
      "replayed batch converges, and newest fails loudly before a commit") {
    val root = tempDir("graft_dfold_spec").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    intercept[RuntimeException](DurableState.newest(spark, root))
    def trigger(b: Long, n: Long): Unit =
      DurableState.fold(spark, root, b) { prior =>
        val part = Seq(n).toDF("n")
        Seq("t" -> prior.fold(part)(_("t").unionByName(part)
          .agg(sum(col("n")).as("n"))))
      }
    trigger(0, 1); trigger(1, 10); trigger(2, 100)
    trigger(2, 100) // replay of the newest batch id
    assert(DurableState.newest(spark, root)("t").head.getLong(0) === 111L)
    val left = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d{9,}"))
      .map(_.getName).sorted.toSeq
    assert(left === Seq("v000000001", "v000000002"), s"got $left")
  }

  test("DurableState keep-floor contract: commit-then-prune inside EVERY " +
      "trigger still leaves the replay's merge source after a kill " +
      "before the checkpoint commit") {
    // r11 verdict #5: st70 (and every maintenance loop) commits v<b>
    // then prunes keep = 2 inside the SAME trigger. Spark's foreachBatch
    // replays at most the newest batch id b after an unclean stop — the
    // one whose checkpoint commit never landed — and the replay merges
    // from latestBefore(b) = v(b-1). The contract: prune called with b
    // as the newest committed version keeps the newest `keep` committed
    // versions, so keep >= 2 means v(b-1) is NEVER below the floor.
    // This cuts the kill window open by hand instead of leaving the
    // invariant in heads.
    val root = tempDir("graft_dfloor_spec").toString
    import spark.implicits._
    def trigger(b: Long, v: Long): Unit = {
      DurableState.commit(root, b, Seq("t" -> Seq((b, v)).toDF("b", "v")))
      DurableState.prune(root, keep = 2)
    }
    (0L to 2L).foreach(b => trigger(b, b * 10))
    // CRASH before batch 2's checkpoint commit. The restarted query
    // replays batch 2: its merge source v1 must have survived batch 2's
    // own commit-then-prune
    assert(DurableState.latestBefore(root, 2) === Some(1L),
      "prune after v2's commit must not evict the replay source v1")
    assert(DurableState.read(spark, root, 1, "t")
      .head.getLong(1) === 10L)
    // the replay recomputes the same merge and overwrites v2; a second
    // prune converges (idempotent replay, the DurableState contract)
    trigger(2L, 20L)
    assert(DurableState.latestBefore(root, Long.MaxValue) === Some(2L))
    assert(DurableState.latestBefore(root, 2) === Some(1L))
    val left = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d{9,}"))
      .map(_.getName).sorted.toSeq
    assert(left === Seq("v000000001", "v000000002"), s"got $left")
  }
}
