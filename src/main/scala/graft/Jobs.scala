package graft

import java.util.concurrent.{Callable, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** The engine's one launcher for overlapped Spark work: independent
  * builds that would otherwise serialize driver planning, codegen lookup,
  * commit and job round trips that share no dependency. Its callers: the
  * medallion's gold mart writes ([[graft.x12.X12Pipeline]]) and `Ann`'s
  * checkpointed corpus passes (under AQE a lazy localCheckpoint runs its
  * non-final stages at construction time).
  */
object Jobs {

  /** The per-thread job context (Spark local properties) the launcher
    * carries into each build's thread, besides the job tags.
    */
  private val ContextKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Daemon threads that inherit no thread-locals. Spark keeps a thread's
    * job tags, group and description in inheritable thread-locals, so a
    * pool thread spawned while its spawner held a caller's context would
    * carry it into every later job it ran. Unbounded and cached: a call
    * runs all its builds at once, and a build may itself call the launcher.
    */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger()
    Executors.newCachedThreadPool(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(null, r, s"graft-jobs-${n.incrementAndGet()}", 0L, false)
        t.setDaemon(true)
        t
      }
    })
  }

  /** Run `builds` overlapped and return their results in input order.
    *
    * Each build runs on its own thread, so the concurrency is the number of
    * builds. That thread carries the caller's active session, job tags,
    * job group and job description, so `cancelJobsWithTag` /
    * `cancelJobGroup` and listeners see an overlapped job as the caller's;
    * the thread drops that context when the build ends.
    *
    * The call returns only once every build has finished, also when one
    * fails: it then throws the first failure in input order. A caller that
    * catches the failure finds no build still running (no sink write still
    * in flight behind a failed run).
    */
  def inParallel[A](spark: SparkSession)(builds: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val tags = sc.getJobTags()
    val context = ContextKeys.map(k => k -> sc.getLocalProperty(k))
    // every build settles as a value, fatal errors included, so no
    // failure is lost on a pool thread
    val running = builds.map { b =>
      pool.submit(new Callable[Either[Throwable, A]] {
        def call(): Either[Throwable, A] =
          try Right(withContext(spark, tags, context)(b()))
          catch { case t: Throwable => Left(t) }
      })
    }
    val settled = running.map(_.get())
    settled.collectFirst { case Left(t) => throw t }
    settled.collect { case Right(a) => a }
  }

  private def withContext[A](spark: SparkSession, tags: Set[String],
      context: Seq[(String, String)])(body: => A): A = {
    val sc = spark.sparkContext
    SparkSession.setActiveSession(spark)
    sc.addJobTags(tags)
    context.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally {
      sc.clearJobTags()
      context.foreach { case (k, _) => sc.setLocalProperty(k, null) }
      SparkSession.clearActiveSession()
    }
  }
}
