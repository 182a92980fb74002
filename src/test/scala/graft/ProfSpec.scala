package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Prof

class ProfSpec extends AnyFunSuite {

  test("median: odd count takes the middle value") {
    assert(Prof.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("median: even count averages the two middle values") {
    assert(Prof.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("median: a single sample is its own median") {
    assert(Prof.median(Seq(7.5)) === 7.5)
  }

  test("unionLength merges overlapping and nested intervals") {
    assert(Prof.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L),
                                (20L, 25L))) === 20L)
    assert(Prof.unionLength(Seq.empty) === 0L)
  }
}
