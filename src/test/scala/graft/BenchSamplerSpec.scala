package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's sample-adjudication rules ARE the trust story of every
  * published number — pin the criteria boundaries so a threshold change is
  * a visible diff, not a silent re-grading of history. */
class BenchSamplerSpec extends AnyFunSuite {
  import BenchSampler.{Sample, dirtyReasons, coldDirtyReasons}

  private def s(wall: Double, ext: Double = 0.0, selfCpu: Double = -1.0,
      taskRun: Double = 0.0, taskCpu: Double = 0.0, gcMs: Long = 0L,
      jitMs: Long = 0L): Sample = {
    val self = if (selfCpu >= 0) selfCpu else wall * 8 // healthy default
    Sample(wall, ext, self, taskRun, taskCpu, gcMs, jitMs = jitMs)
  }

  test("clean sample stays clean under every adjudicator") {
    val ok = s(2.0, taskRun = 10.0, taskCpu = 9.5)
    assert(dirtyReasons(ok, 0.5, 0.2).isEmpty)
    assert(coldDirtyReasons(ok, 0.5, 0.2).isEmpty)
  }

  test("failed and sub-floor walls short-circuit") {
    assert(dirtyReasons(s(-1.0), 0.5, 0.2) == Seq("failed"))
    // below minWall: contention can't matter, nothing else is checked
    assert(dirtyReasons(s(0.1, ext = 9.0, gcMs = 90), 0.5, 0.2).isEmpty)
  }

  test("ext / starved / gc-storm criteria fire on their own signals") {
    assert(dirtyReasons(s(2.0, ext = 0.6), 0.5, 0.2) == Seq("ext"))
    assert(dirtyReasons(s(2.0, selfCpu = 1.0), 0.5, 0.2) == Seq("starved"))
    assert(dirtyReasons(s(2.0, gcMs = 1100), 0.5, 0.2).contains("gc"))
  }

  test("stalled: scheduled-but-off-CPU tasks with quiet GC, guarded by the 5x wall floor") {
    val stalled = s(2.0, taskRun = 5.0, taskCpu = 2.0) // tcpu 0.4
    assert(dirtyReasons(stalled, 0.5, 0.2) == Seq("stalled"))
    // same shape under the 5x wall floor: many tiny tasks, not contention
    assert(dirtyReasons(s(0.9, taskRun = 5.0, taskCpu = 2.0), 0.5, 0.2).isEmpty)
    // spill/shuffle waits leave room down to 0.5
    assert(dirtyReasons(s(2.0, taskRun = 5.0, taskCpu = 2.6), 0.5, 0.2).isEmpty)
  }

  test("gcfrac is cold-only, between 15% and the 50% storm bar, wall >= 1s") {
    val g = s(2.0, gcMs = 400, taskRun = 10.0, taskCpu = 9.5) // 20% of wall
    assert(dirtyReasons(g, 0.5, 0.2).isEmpty)
    assert(coldDirtyReasons(g, 0.5, 0.2) == Seq("gcfrac"))
    assert(coldDirtyReasons(s(0.9, gcMs = 400), 0.5, 0.2).isEmpty) // sub-1s
    // >=50% is the storm: reported as "gc" by the base rules, not gcfrac
    assert(coldDirtyReasons(s(2.0, gcMs = 1100), 0.5, 0.2) == Seq("gc"))
  }

  test("jitfrac: cold-only, fires above 50% jit/wall on non-trivial walls") {
    val j = s(2.0, jitMs = 1100, taskRun = 10.0, taskCpu = 9.5)
    assert(dirtyReasons(j, 0.5, 0.2).isEmpty) // warm adjudication ignores jit
    assert(coldDirtyReasons(j, 0.5, 0.2) == Seq("jitfrac"))
    assert(coldDirtyReasons(s(2.0, jitMs = 900), 0.5, 0.2).isEmpty) // 45%
    assert(coldDirtyReasons(s(0.9, jitMs = 800), 0.5, 0.2).isEmpty) // sub-1s
    // stacks with gcfrac rather than masking it
    assert(coldDirtyReasons(s(2.0, gcMs = 400, jitMs = 1100, taskRun = 10.0,
      taskCpu = 9.5), 0.5, 0.2) == Seq("gcfrac", "jitfrac"))
  }
}
