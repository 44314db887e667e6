package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** GateProfile's busy time is the union of its job intervals, so
  * overlapping jobs never push the printed driver gap below zero. */
class GateProfileSpec extends AnyFunSuite {
  import GateProfile.busySeconds

  test("overlapping intervals count their shared stretch once") {
    assert(busySeconds(Seq((0L, 2000L), (1000L, 3000L))) == 3.0)
    assert(busySeconds(Seq((1000L, 3000L), (0L, 2000L))) == 3.0)
  }

  test("a nested interval adds nothing") {
    assert(busySeconds(Seq((0L, 4000L), (1000L, 2000L))) == 4.0)
    assert(busySeconds(Seq((0L, 4000L), (1000L, 2000L), (1500L, 3000L)))
      == 4.0)
  }

  test("disjoint intervals add up, and touching ones join") {
    assert(busySeconds(Seq((0L, 1000L), (2000L, 2500L))) == 1.5)
    assert(busySeconds(Seq((0L, 1000L), (1000L, 2000L))) == 2.0)
  }

  test("busy time never exceeds the span the jobs cover") {
    val jobs = Seq((0L, 3000L), (500L, 2500L), (1000L, 3500L), (4000L, 4200L))
    val sum = jobs.map { case (s, e) => e - s }.sum / 1e3
    assert(sum > 4.2)
    assert(busySeconds(jobs) == 3.7)
  }

  test("no jobs, or a job that never ended, cover nothing") {
    assert(busySeconds(Nil) == 0.0)
    assert(busySeconds(Seq((5000L, 0L))) == 0.0)
    assert(busySeconds(Seq((5000L, 0L), (0L, 1000L))) == 1.0)
  }
}
