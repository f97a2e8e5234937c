package graft.medbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced layer call. Times are nanoseconds on the tracer's clock. */
final case class Span(id: Int, name: String, parent: Option[Int],
    runId: String, start: Long, end: Long) {
  def duration: Long = end - start
}

/** Interval arithmetic behind self time and stage coverage. Intervals are
  * half-open `[start, end)` pairs on one clock.
  */
object Intervals {

  /** Merged, sorted, non-overlapping form of `iv` (empty ones dropped). */
  def merge(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def length(iv: Seq[(Long, Long)]): Long =
    merge(iv).map { case (a, b) => b - a }.sum

  /** Parts of `iv` inside `[lo, hi)`. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  /** Parts of `iv` not covered by `cut`. */
  def minus(iv: Seq[(Long, Long)], cut: Seq[(Long, Long)]): List[(Long, Long)] = {
    val holes = merge(cut)
    merge(iv).flatMap { case (a, b) =>
      val (pieces, last) = holes.foldLeft((List.empty[(Long, Long)], a)) {
        case ((acc, from), (ca, cb)) =>
          if (cb <= from || ca >= b) (acc, from)
          else ((from, math.max(from, ca)) :: acc, math.max(from, cb))
      }
      ((last, b) :: pieces).filter { case (x, y) => y > x }.reverse
    }
  }

  /** Self intervals of each span: its own interval minus its children's. */
  def selfIntervals(spans: Seq[Span]): Map[Int, List[(Long, Long)]] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cut = kids.getOrElse(Some(s.id), Nil).map(c => (c.start, c.end))
      s.id -> minus(Seq((s.start, s.end)), cut)
    }.toMap
  }

  /** Self time per span: duration minus the part its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] =
    selfIntervals(spans).map { case (id, iv) => id -> length(iv) }
}

/** Keeps spans in memory for one traced run; nothing is written until the
  * run ends. Each open span tags the jobs it submits with
  * `SparkContext.addJobTag`, so [[StageLog]] can attribute stages to it.
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, Long)]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    val tag = Tracer.tag(runId, id)
    sc.addJobTag(tag)
    open = (id, System.nanoTime()) :: open
    try body
    finally {
      val (_, start) = open.head
      open = open.tail
      sc.removeJobTag(tag)
      done += Span(id, name, parent, runId, start, System.nanoTime())
    }
  }
}

object Tracer {
  val TagPrefix = "medbench-span-"
  def tag(runId: String, id: Int): String = s"$TagPrefix$runId-$id"
}

/** One stage attempt as the listener saw it: wall interval (epoch ms),
  * the job tags of the job that ran it, and its task totals.
  */
final case class StageRec(stageId: Int, attempt: Int, tags: Set[String],
    submitMs: Long, endMs: Long, tasks: Int, cpuNs: Long,
    shuffleBytes: Long, failedTasks: Int, recordsOut: Long)

final case class JobRec(jobId: Int, startMs: Long, tags: Set[String])

/** Stage and task totals for every job the context runs, kept in memory.
  * Aggregation is a pure function of the recorded events ([[Attribution]]).
  */
final class StageLog extends SparkListener {
  private case class Acc(var tasks: Int = 0, var cpuNs: Long = 0L,
      var shuffle: Long = 0L, var failed: Int = 0, var out: Long = 0L)
  private val jobTags = mutable.Map.empty[Int, Set[String]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val accs = mutable.Map.empty[(Int, Int), Acc]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(StageLog.JobTagsProperty)))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    jobTags(e.jobId) = tags
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs += JobRec(e.jobId, e.time, tags)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accs.getOrElseUpdate((e.stageId, e.stageAttemptId), Acc())
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.out += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = accs.remove((i.stageId, i.attemptNumber())).getOrElse(Acc())
    val tags = stageJob.get(i.stageId).flatMap(jobTags.get).getOrElse(Set.empty)
    for (sub <- i.submissionTime; end <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), tags, sub, end,
        a.tasks, a.cpuNs, a.shuffle, a.failed, a.out)
  }

  def snapshot(): (Seq[JobRec], Seq[StageRec]) = synchronized((jobs.toSeq, stages.toSeq))

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); jobTags.clear(); stageJob.clear()
  }
}

object StageLog {
  /** The job property `SparkContext.addJobTag` fills (private to Spark). */
  val JobTagsProperty = "spark.job.tags"
}

/** Stage work summed over some part of a run. */
final case class StageTotals(jobs: Int, tasks: Int, coveredS: Double,
    cpuS: Double, shuffleBytes: Long, failedTasks: Int, recordsOut: Long)

object Attribution {

  /** The span a stage belongs to: the innermost traced span whose tag its
    * job carries. A stage whose job lost the tags (AQE materializes query
    * stages from other threads) goes to the innermost span open when it was
    * submitted; traced layers run one after another, so the window is
    * unambiguous.
    */
  def owner(st: StageRec, runId: String, spans: Seq[Span],
      toNs: Long => Long): Option[Int] = {
    val prefix = Tracer.TagPrefix + runId + "-"
    val tagged = st.tags.filter(_.startsWith(prefix))
      .flatMap(t => t.stripPrefix(prefix).toIntOption)
    if (tagged.nonEmpty) Some(tagged.max)
    else {
      val at = toNs(st.submitMs)
      val holding = spans.filter(s => s.start <= at && at < s.end)
      if (holding.isEmpty) None else Some(holding.maxBy(_.start).id)
    }
  }

  /** Per span: stage totals for the stages it owns, with `coveredS` the
    * part of the span's self time during which one of those stages ran.
    */
  def perSpan(spans: Seq[Span], stages: Seq[StageRec], runId: String,
      toNs: Long => Long): Map[Int, StageTotals] = {
    val selfIv = Intervals.selfIntervals(spans)
    val owned = stages.groupBy(st => owner(st, runId, spans, toNs))
    spans.map { s =>
      val mine = owned.getOrElse(Some(s.id), Nil)
      val iv = mine.map(st => (toNs(st.submitMs), toNs(st.endMs)))
      val covered = selfIv(s.id).map { case (a, b) =>
        Intervals.length(Intervals.clip(iv, a, b)) }.sum
      s.id -> StageTotals(0, mine.map(_.tasks).sum, covered / 1e9,
        mine.map(_.cpuNs).sum / 1e9, mine.map(_.shuffleBytes).sum,
        mine.map(_.failedTasks).sum, mine.map(_.recordsOut).sum)
    }.toMap
  }

  /** Totals over every job started in `[fromMs, toMs]`. */
  def window(jobs: Seq[JobRec], stages: Seq[StageRec], fromMs: Long,
      toMs: Long): StageTotals = {
    val in = stages.filter(st => st.submitMs >= fromMs && st.submitMs <= toMs)
    val covered = Intervals.length(Intervals.clip(
      in.map(st => (st.submitMs, st.endMs)), fromMs, toMs))
    StageTotals(jobs.count(j => j.startMs >= fromMs && j.startMs <= toMs),
      in.map(_.tasks).sum, covered / 1e3, in.map(_.cpuNs).sum / 1e9,
      in.map(_.shuffleBytes).sum, in.map(_.failedTasks).sum,
      in.map(_.recordsOut).sum)
  }
}
