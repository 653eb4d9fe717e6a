package graft

import org.scalatest.funsuite.AnyFunSuite

/** `fanOut`'s planned-split estimate: the per-relation split counts sum
  * without `Int` overflow, so many unknown-size relations still read as
  * one big (already parallel) scan. */
class TablesSpec extends AnyFunSuite {

  test("scan split counts sum as Long and clamp: five unknown-size sentinels stay big, never negative") {
    val sentinel = Int.MaxValue / 4
    assert(Tables.sumScanPartitions(Seq.fill(5)(sentinel)) === Int.MaxValue)
    assert(Tables.sumScanPartitions(Seq(sentinel, 3)) === sentinel + 3)
    assert(Tables.sumScanPartitions(Seq(1, 2, 3)) === 6)
    assert(Tables.sumScanPartitions(Nil) === 0)
  }
}
