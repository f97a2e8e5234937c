package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. Low shuffle-partition count keeps
  * tiny-data tests fast; production sizing is the runner's concern.
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()

  /** Runs `body` and returns its value with every Dataset execution it
    * ran, as (action name, execution) in run order — the plans a lazy
    * checkpoint hides from the returned frame. The listener bus is async,
    * so a marker action after `body` is awaited: the bus delivers in
    * order, so once the marker arrives every earlier execution has too.
    */
  def executionsOf[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    import scala.jdk.CollectionConverters._
    val marker = "__executions_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    def isMarker(e: (String, QueryExecution)) =
      e._2.analyzed.output.map(_.name) == Seq(marker)
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(seen.asScala.exists(isMarker),
        "the listener bus did not deliver the marker execution in 30 s")
      (out, seen.asScala.toSeq.filterNot(isMarker))
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
