package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** [[EventLogSplits.pack]], the pure split policy: Spark's small-file
  * packing with its default open cost (4 MiB) and split cap (128 MiB).
  */
class EventLogSplitsSpec extends AnyFunSuite {

  private val openCost = 4L << 20
  private val maxBytes = 128L << 20
  // four ~25 KB partition slices, the size of the sf0.001 test log
  private val small = (0 until 4).map(p => p -> 25000L)

  test("four small slices plan one split at parallelism 1 and four at parallelism 4") {
    assert(EventLogSplits.pack(small, openCost, maxBytes, minPartitions = 1).map(_.sorted) === Seq(0 until 4))
    assert(EventLogSplits.pack(small, openCost, maxBytes, minPartitions = 4).map(_.sorted) ===
      Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    assert(EventLogSplits.pack(small, openCost, maxBytes, minPartitions = 2).map(_.size) === Seq(2, 2))
  }

  test("a slice larger than the cap gets a split of its own") {
    val slices = Seq("a" -> 1000L, "big" -> (200L << 20), "b" -> 1000L)
    assert(EventLogSplits.pack(slices, openCost, maxBytes, minPartitions = 1) === Seq(Seq("big"), Seq("a", "b")))
  }

  test("no slices plan no splits") {
    assert(EventLogSplits.pack(Seq.empty[(Int, Long)], openCost, maxBytes, minPartitions = 4).isEmpty)
  }
}
