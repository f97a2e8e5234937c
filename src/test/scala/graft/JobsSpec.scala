package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The engine's one launcher for overlapped Spark work ([[Jobs.inParallel]]). */
class JobsSpec extends AnyFunSuite with SparkTestBase {

  test("results come back in input order") {
    val out = Jobs.inParallel(spark)((1 to 6).map { i => () =>
      Thread.sleep((7 - i) * 20L)
      spark.range(i * 10L).count()
    }: _*)
    assert(out == (1 to 6).map(_ * 10L))
  }

  test("a failing build: the call waits for every other build, then throws " +
      "the first failure") {
    val slowEnded = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Jobs.inParallel(spark)(
        () => { Thread.sleep(1500); slowEnded.set(true) },
        () => throw boom,
        () => throw new IllegalArgumentException("later"))
    }
    assert(thrown eq boom)
    assert(slowEnded.get, "the call returned while a build was still running")
  }

  test("every job a build starts carries the caller's job tag and group; " +
      "none started after the call returns does") {
    val sc = spark.sparkContext
    val tag = "graft-jobs-spec"
    def job(n: Int): Long = sc.parallelize(1 to n, 2).count() // one job each
    val seen = new ConcurrentLinkedQueue[(String, Set[String], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String): String = Option(e.properties).map(_.getProperty(k)).orNull
        val tags = Option(prop("spark.job.tags")).toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty).toSet
        seen.add((prop("spark.job.description"), tags, prop("spark.jobGroup.id")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      sc.setJobGroup("graft-jobs-group", "inside")
      try Jobs.inParallel(spark)((1 to 4).map(i => () => job(i)): _*)
      finally {
        sc.clearJobTags()
        sc.clearJobGroup()
      }
      sc.setJobDescription("after")
      job(10)
      // plain futures on another pool, and a second untagged launch
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence((1 to 4).map(i =>
        Future(job(i)))), 1.minute)
      Jobs.inParallel(spark)((1 to 4).map(i => () => job(i)): _*)
      // the bus delivers in order: once the marker job is seen, every
      // job above has been seen
      sc.setJobDescription("end")
      job(1)
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!seen.asScala.exists(_._1 == "end") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val jobs = seen.asScala.toSeq
    assert(jobs.exists(_._1 == "end"), "the listener saw the marker job")
    val (inside, after) = jobs.filter(_._1 != "end").partition(_._1 == "inside")
    assert(inside.size == 4, s"jobs started inside the launcher: $jobs")
    assert(inside.forall(j => j._2.contains(tag) && j._3 == "graft-jobs-group"), jobs)
    assert(after.size == 9, s"jobs started after the launcher: $jobs")
    assert(after.forall(j => !j._2.contains(tag) && j._3 != "graft-jobs-group"), jobs)
  }
}
