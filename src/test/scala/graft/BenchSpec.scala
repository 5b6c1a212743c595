package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling pair and fork heap follow the host, and keep the 8/32
  * cores and 24 GB of a large host. */
class BenchSpec extends AnyFunSuite {

  test("scaling levels: largest 4N within the host's cores, 8/32 from 32 cores up") {
    assert(Bench.scalingLevels(64) == (8, 32))
    assert(Bench.scalingLevels(32) == (8, 32))
    assert(Bench.scalingLevels(16) == (4, 16))
    assert(Bench.scalingLevels(6) == (1, 4))
    assert(Bench.scalingLevels(4) == (1, 4))
    assert(Bench.scalingLevels(1) == (1, 4))
  }

  test("fork heap: half the host's memory within [2, 24] GB") {
    val gb = 1024L * 1024
    assert(Bench.forkHeapGb(256 * gb) == 24)
    assert(Bench.forkHeapGb(48 * gb) == 24)
    assert(Bench.forkHeapGb(15 * gb) == 7)
    assert(Bench.forkHeapGb(2 * gb) == 2)
  }
}
