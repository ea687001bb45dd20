package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The per-operator state-partition sizing rule: one partition per
  * ~64k expected state rows, clamped to [4, 32] (floor for tiny state,
  * ceiling for the local harness). */
class StreamPartsSpec extends AnyFunSuite {

  test("tiny state clamps to the floor") {
    assert(Streams.sizedParts(1L) == 4)
    assert(Streams.sizedParts(4 * 65536L) == 4)
  }

  test("session-scale state grows partitions linearly") {
    assert(Streams.sizedParts(1000000L) == 15)   // the sf1 drain shape
    assert(Streams.sizedParts(16 * 65536L) == 16)
  }

  test("huge state clamps to the harness ceiling") {
    assert(Streams.sizedParts(Long.MaxValue / 2) == 32)
  }
}
