package graft.medbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The listener and the tracer against a real local session. */
class StageLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stages of each traced call land on its span") {
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val clock = Main.Clock.now()
    val (_, spans, wall) = Main.tracedRun(log, clock, "t1") { t =>
      t.span("agg") {
        spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect()
      }
      t.span("scan")(spark.range(0, 1000, 1, 3).filter(col("id") > 5).count())
    }
    val m = Main.layerMetrics(spans, log, "t1", clock, wall)
    assert(m("agg.tasks") >= 4 && m("agg.shuffle_bytes") > 0)
    assert(m("scan.tasks") >= 3)
    assert(m("agg.executor_cpu_s") > 0)
    assert(m("agg.driver_gap_s") <= m("agg.busy_s"))
    assert(Main.closes(m, wall).isEmpty)
    spark.sparkContext.removeSparkListener(log)
  }
}
