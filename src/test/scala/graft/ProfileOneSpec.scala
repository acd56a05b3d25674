package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ProfileOne.unionNanos

/** ProfileOne's driver gap is wall − the UNION of job intervals: time
  * covered by two overlapped jobs counts once.
  */
class ProfileOneSpec extends AnyFunSuite {

  test("disjoint intervals sum") {
    assert(unionNanos(Seq((0L, 10L), (20L, 25L))) == 15L)
  }

  test("a nested interval adds nothing") {
    assert(unionNanos(Seq((0L, 100L), (10L, 20L), (30L, 100L))) == 100L)
  }

  test("overlapping intervals count their overlap once, in any order") {
    assert(unionNanos(Seq((5L, 15L), (0L, 10L), (12L, 20L))) == 20L)
    assert(unionNanos(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("no jobs, no coverage") {
    assert(unionNanos(Nil) == 0L)
  }
}
