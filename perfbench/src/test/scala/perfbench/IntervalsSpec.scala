package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  test("union merges overlapping and touching intervals and drops empty ones") {
    assert(Intervals.union(Seq((5L, 8L), (0L, 2L), (1L, 3L), (8L, 9L), (4L, 4L))) ==
      List((0L, 3L), (5L, 9L)))
    assert(Intervals.length(Seq((0L, 10L), (2L, 4L), (20L, 25L))) == 15L)
  }

  test("idle time is job time not covered by any task") {
    // job 0..100; tasks cover 10..30 and 20..50 (overlapping) and 90..120
    // (past the job's end): covered 10..50 and 90..100 = 50, idle = 50
    assert(Intervals.idle(Seq((0L, 100L)), Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    // two overlapping jobs count once; a task between jobs covers nothing
    assert(Intervals.idle(Seq((0L, 10L), (5L, 20L), (30L, 40L)),
      Seq((22L, 28L), (30L, 40L))) == 20L)
    assert(Intervals.idle(Seq((0L, 10L)), Seq.empty) == 10L)
    assert(Intervals.idle(Seq.empty, Seq((0L, 10L))) == 0L)
  }
}
