package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.x12.{SilverRecord, X12Parser, X12Silver}

/** Streaming surface (SURVEY.md §2.10).
  *
  * The reference is scheduler-driven micro-batch: an Airflow DAG polls a
  * landing directory every 15 minutes and moves files to an archive after
  * processing (x12_processing_dag.py:28,250-270). Structured Streaming's
  * file source replaces the move-to-archive idiom with checkpointed
  * exactly-once new-file tracking; `Trigger.AvailableNow` reproduces the
  * "drain everything then stop" semantics of one scheduled run, and
  * `maxFilesPerTrigger` reproduces the 100-files-per-batch admission cap
  * (config/development.json processing.batch_size).
  */
object X12Streaming {

  /** T1: streaming silver ingest. Same parse as batch silver — one code
    * path, two execution modes.
    */
  def silverStream(
      spark: SparkSession,
      landingDir: String,
      batchId: String,
      processingDate: java.sql.Date,
      processingTs: java.sql.Timestamp,
      maxFilesPerTrigger: Int = 100): Dataset[SilverRecord] = {
    val files = X12Silver.fileRows(spark.readStream.format("text")
      .options(X12Silver.landingOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(landingDir))
    X12Silver.parse(files, batchId, processingDate, processingTs)
  }

  /** Start the ingest with AvailableNow (one scheduled drain), writing
    * partitioned parquet exactly like batch silver (S5).
    */
  def startIngest(
      silver: Dataset[SilverRecord],
      outPath: String,
      checkpoint: String): StreamingQuery =
    silver.writeStream
      .format("parquet")
      .option("checkpointLocation", checkpoint)
      .partitionBy("processing_date", "transaction_type")
      .trigger(Trigger.AvailableNow())
      .start(outPath)

  /** Stateful exactly-once transaction dedup across micro-batches: the
    * reference gets at-most-once by MOVING files to an archive after
    * processing (x12_processing_dag.py:250-270), which re-delivers
    * duplicates when a partner re-uploads under a new name. Keyed state on
    * the envelope identity (interchange, group, transaction control
    * numbers) suppresses replays regardless of file name — the
    * `flatMapGroupsWithState` custom-state path SURVEY.md §2.10 maps the
    * scale design to. State grows one boolean per transaction identity;
    * production bounds it with a timeout keyed to the partner replay
    * window.
    */
  def dedupStream(silver: Dataset[SilverRecord]): Dataset[SilverRecord] = {
    import silver.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    silver
      .groupByKey(r => (r.interchange_control_number,
        r.functional_group_number, r.transaction_set_control_number))
      .flatMapGroupsWithState[Boolean, SilverRecord](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1) // first sighting wins; same-batch duplicates collapse too
          }
      }
  }

  /** T2: event-driven push — foreachBatch gives per-micro-batch custom
    * sinks (the reference's Service-Bus-per-file push,
    * functions/sftp-operations/push_files/__init__.py:139).
    */
  def startForeachBatch(
      silver: Dataset[SilverRecord],
      checkpoint: String)(handle: (DataFrame, Long) => Unit): StreamingQuery =
    silver.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[SilverRecord], id: Long) =>
        handle(batch.toDF(), id)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}

/** Windowed monitoring streams (A10/A16/W2/W4, T4): tumbling windows with a
  * watermark. The reference's KQL dashboards re-scan logs on every query
  * (recompute-on-query); the streaming mapping keeps running state and
  * drops data later than the watermark — the late-data policy the reference
  * never declares (SURVEY.md §2.10 T4).
  */
object EventStreaming {

  /** A16/W4: failure-burst alerting — errors per 15-minute tumbling window,
    * emit windows whose count crosses the threshold
    * (monitoring/sftp-monitoring-queries.md:152-159).
    *
    * The error predicate is a conditional aggregate (KQL `countif` shape),
    * NOT a row filter: an `event_type === "error"` filter would be pushed by
    * Catalyst below the EventTimeWatermark node (the column is a plain
    * grouping key), so non-error traffic would stop advancing the watermark
    * and alert windows would only close when another error arrived —
    * unbounded alert latency on a healthy stream. The conditional sum keeps
    * every event driving the clock.
    */
  def failureBursts(
      events: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      threshold: Long = 3): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "15 minutes"))
      .agg(sum(when(col(typeCol) === "error", 1).otherwise(0)).as("n_events"))
      .filter(col("n_events") > threshold)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_events"))

  /** A10/W2: hourly health rollup with success-rate percentage
    * (monitoring/sftp-monitoring-queries.md:16-23) — same expression tree
    * as the batch q11, applied to a stream.
    */
  def hourlyHealth(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"))
      .select(
        col("window.start").as("hour"),
        col("cnt"), col("n_errors"),
        round((col("cnt") - col("n_errors")).cast("double") / col("cnt") * 100, 4)
          .as("success_rate"))

  /** Stream-stream inner join with watermark-bounded state (the T-family's
    * correlation shape as a CONTINUOUS computation): view events join
    * purchase events of the same user where the purchase lands within
    * `withinSeconds` AFTER the view. Both sides carry watermarks and the
    * join condition carries the time range, so Spark can bound each
    * side's state buffer (a view older than watermark + range can never
    * match a future purchase and is evicted) — the requirement for a
    * stream-stream join to run indefinitely; without the range the state
    * grows forever. Emits one row per qualifying (view, purchase) pair.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
      withinSeconds: Long = 3600L): DataFrame = {
    val v = views
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val p = purchases
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    v.join(p,
      col("user_id") === col("p_user")
        && col("purchase_ts") > col("view_ts")
        && col("purchase_ts") <=
          col("view_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")
  }

  /** Streaming twin of the batch sessionizer (graft.operators.Sessions):
    * Spark's native `session_window` merges events of one key into sessions
    * separated by `gap` of inactivity, with watermark-bounded state — the
    * state-store analog of the batch gaps-and-islands windows, and the
    * 100 TB path for continuous sessionization (state is per OPEN session,
    * not per event).
    */
  def sessions(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming twin of the q58 rolling anomaly screen, on the same
    * arbitrary-state v2 API as [[runningCounts]]: per user, a RING BUFFER of the last 8
    * cent-quantized values lives in a typed `ValueState[Array[Long]]`
    * and every arriving event evaluates the integer-cleared z-score
    * condition against it (8·dev² > 9·(8·Σc² − (Σc)²)) before pushing
    * its own value — exactly the batch window's previous-8 frame,
    * maintained incrementally across micro-batches. Correctness needs
    * per-key event-time order: rows are sorted by (ts, event_id) WITHIN
    * each trigger, and the caller must stage the feed so batch
    * boundaries respect that order (st59's range-staged files). Input:
    * (user_id, tsMicros, event_id, cents). Output one row per event
    * with ≥ 8 predecessors: (event_id, user_id, c, dev, is_anomaly).
    * At 100 TB: state is 8 longs per active key — the bounded-state
    * form of a lookbehind window no watermark aggregate can express.
    */
  def rollingAnomaly(events: Dataset[(Long, Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long, Boolean)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}
    events.groupByKey(_._1)
      .transformWithState(
        new StatefulProcessor[Long, (Long, Long, Long, Long),
            (Long, Long, Long, Long, Boolean)] {
          @transient private var buf: ValueState[Array[Long]] = _
          override def init(outputMode: OutputMode,
              timeMode: TimeMode): Unit =
            buf = getHandle.getValueState[Array[Long]]("ring",
              org.apache.spark.sql.Encoders.kryo[Array[Long]],
              TTLConfig.NONE)
          override def handleInputRows(key: Long,
              rows: Iterator[(Long, Long, Long, Long)],
              timerValues: TimerValues)
              : Iterator[(Long, Long, Long, Long, Boolean)] = {
            var ring = if (buf.exists()) buf.get() else Array.empty[Long]
            val out = Vector.newBuilder[(Long, Long, Long, Long, Boolean)]
            // (ts, event_id) order within the trigger; cross-trigger
            // order is the caller's staging contract
            rows.toSeq.sortBy(r => (r._2, r._3)).foreach {
              case (_, _, eventId, c) =>
                if (ring.length == 8) {
                  var s1 = 0L; var s2 = 0L; var i = 0
                  while (i < 8) {
                    s1 += ring(i); s2 += ring(i) * ring(i); i += 1
                  }
                  val dev = c * 8 - s1
                  out += ((eventId, key, c, dev,
                    dev * dev * 8 > 9L * (s2 * 8 - s1 * s1)))
                }
                ring = (ring :+ c).takeRight(8)
            }
            buf.update(ring)
            out.result().iterator
          }
        },
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-key running event counts on the Spark 4 arbitrary-state v2 API
    * (`transformWithState` + `StatefulProcessor` + typed `ValueState`) —
    * the successor of `flatMapGroupsWithState` (dedupStream's API): state
    * variables are named and typed, TTL is first-class, and the state
    * store is RocksDB-backed (the caller must set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider — transformWithState refuses the default HDFS store).
    * Emits (user_id, running count) at every trigger a key receives
    * rows, so the emitted counts are a monotone trace of the state —
    * `max` per key over the drained output IS the final count, which is
    * what st59 asserts against the batch aggregate. At 100 TB state is
    * one long per active key, and TTLConfig bounds key lifetime the way
    * the watermark bounds dropDuplicatesWithinWatermark.
    */
  def runningCounts(events: DataFrame, keyCol: String = "user_id")
      : Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TTLConfig, TimeMode, TimerValues, ValueState}
    events.select(col(keyCol).cast("long")).as[Long]
      .groupByKey(identity)
      .transformWithState(
        new StatefulProcessor[Long, Long, (Long, Long)] {
          @transient private var cnt: ValueState[Long] = _
          override def init(outputMode: OutputMode,
              timeMode: TimeMode): Unit =
            cnt = getHandle.getValueState[Long]("cnt",
              org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
          override def handleInputRows(key: Long, rows: Iterator[Long],
              timerValues: TimerValues): Iterator[(Long, Long)] = {
            val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
            cnt.update(n)
            Iterator.single((key, n))
          }
        },
        TimeMode.None(), OutputMode.Append())
  }
}
