package graft.medbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private val clock = Main.Clock(ms = 1000L, ns = 0L)
  private def ns(ms: Long) = clock.toNs(ms)
  private val spans = Seq(
    Span(0, "gold", None, "r", ns(1000), ns(2000)),
    Span(1, "gold.a", Some(0), "r", ns(1100), ns(1500)),
    Span(2, "ack997", None, "r", ns(2000), ns(2600)))

  private def stage(id: Int, tags: Set[String], sub: Long, end: Long,
      tasks: Int = 2, cpuMs: Long = 50, shuffle: Long = 10, out: Long = 0) =
    StageRec(id, 0, tags, sub, end, tasks, cpuMs * 1000000L, shuffle, 0, out)

  test("a tagged stage belongs to the innermost tagged span") {
    val st = stage(1, Set(Tracer.tag("r", 0), Tracer.tag("r", 1), "other"), 1200, 1300)
    assert(Attribution.owner(st, "r", spans, clock.toNs).contains(1))
    // tags of another traced run are ignored; the time window decides
    val foreign = stage(2, Set(Tracer.tag("q", 2)), 2100, 2200)
    assert(Attribution.owner(foreign, "r", spans, clock.toNs).contains(2))
  }

  test("an untagged stage goes to the innermost span open at submission") {
    assert(Attribution.owner(stage(1, Set.empty, 1200, 1250), "r", spans, clock.toNs)
      .contains(1))
    assert(Attribution.owner(stage(1, Set.empty, 1600, 1650), "r", spans, clock.toNs)
      .contains(0))
    assert(Attribution.owner(stage(1, Set.empty, 3000, 3100), "r", spans, clock.toNs)
      .isEmpty)
  }

  test("per-span totals sum owned stages; coverage counts only self time") {
    val stages = Seq(
      stage(1, Set(Tracer.tag("r", 1)), 1150, 1250, tasks = 3, out = 7),
      stage(2, Set(Tracer.tag("r", 1)), 1200, 1300, tasks = 1, out = 5),
      // runs past the child into the parent's self time: the parent's
      // own stage, counted for the parent only inside its self intervals
      stage(3, Set(Tracer.tag("r", 0)), 1400, 1700, tasks = 4),
      stage(4, Set.empty, 2100, 2300))
    val per = Attribution.perSpan(spans, stages, "r", clock.toNs)
    assert(per(1).tasks == 4 && per(1).recordsOut == 12 && per(1).shuffleBytes == 20)
    assert(math.abs(per(1).coveredS - 0.15) < 1e-9)
    assert(per(0).tasks == 4 && math.abs(per(0).coveredS - 0.2) < 1e-9)
    assert(per(2).tasks == 2 && math.abs(per(2).cpuS - 0.05) < 1e-9)
    assert(math.abs(per(2).coveredS - 0.2) < 1e-9)
  }

  test("window totals count jobs and stages submitted inside it") {
    val jobs = Seq(JobRec(0, 900, Set.empty), JobRec(1, 1100, Set.empty),
      JobRec(2, 1900, Set.empty))
    val stages = Seq(stage(1, Set.empty, 1100, 1400, tasks = 3),
      stage(2, Set.empty, 1300, 1500, tasks = 2),
      stage(3, Set.empty, 1900, 2500, tasks = 1),
      stage(4, Set.empty, 800, 1050, tasks = 9))
    val t = Attribution.window(jobs, stages, 1000, 2000)
    assert(t.jobs == 2 && t.tasks == 6)
    // [1100,1500) and [1900,2000) after clipping to the window
    assert(math.abs(t.coveredS - 0.5) < 1e-9)
  }
}
