package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.queries.StreamingQueries

/** The streaming entries that StreamingRecoverySpec does not run, one test
  * each at sf0.001. Every entry `require`s parity with its batch twin
  * before it returns, so a green test here means the drain matched the
  * one-shot recompute; `count() > 0` only guards against an empty drain.
  */
class StreamingParitySpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private val entries = Seq(
    "st47_stream_silver_drain",
    "st48_stream_dedup_replay",
    "st49_stream_hourly_health",
    "st50_stream_incremental_dedup",
    "st51_stream_semantic_screen",
    "st52_stream_sessions",
    "st53_stream_curation",
    "st54_stream_stream_join",
    "st55_stream_sliding_windows",
    "st57_stream_knn_graph",
    "st58_stream_watermark_dedup",
    "st59_transform_with_state",
    "st60_stream_rolling_anomaly",
    "st61_stream_model_maintenance",
    "st66_bm25_index_maintenance",
    "st68_index_compaction",
    "st70_recovery_vocab_coverage",
    "st71_recovery_cluster_maintenance",
    "st72_recovery_epoch_allocation")

  entries.foreach { name =>
    test(s"$name: drained output matches its batch twin") {
      assert(StreamingQueries.queries(name)(spark, dir).count() > 0)
    }
  }
}
