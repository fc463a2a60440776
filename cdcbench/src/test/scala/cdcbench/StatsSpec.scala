package cdcbench

import org.scalatest.funsuite.AnyFunSuite

import Stats._

class StatsSpec extends AnyFunSuite {

  private def batch(id: Long, end: Double, offsets: (Int, Long)*) =
    Committed(id, end, offsets.toMap)

  private val batches = IndexedSeq(
    batch(3, 1000, 0 -> 5L, 1 -> 2L),
    batch(4, 1500, 0 -> 5L, 1 -> 9L),
    batch(5, 2100, 0 -> 12L, 1 -> 9L))

  test("a change maps to the first batch whose end offset passes it") {
    assert(committingBatch(batches, 0, 0).map(_.batchId).contains(3L))
    assert(committingBatch(batches, 0, 4).map(_.batchId).contains(3L))
    // end offsets are exclusive: offset 5 is the first record batch 3 left
    assert(committingBatch(batches, 0, 5).map(_.batchId).contains(5L))
    assert(committingBatch(batches, 1, 2).map(_.batchId).contains(4L))
    assert(committingBatch(batches, 1, 8).map(_.batchId).contains(4L))
  }

  test("a change no committed batch covers maps to nothing") {
    assert(committingBatch(batches, 0, 12).isEmpty)
    assert(committingBatch(batches, 1, 9).isEmpty)
    assert(committingBatch(batches, 2, 0).isEmpty) // unknown partition
    assert(committingBatch(IndexedSeq.empty, 0, 0).isEmpty)
  }

  test("the offset map agrees with a linear scan on many batches") {
    val rnd = new java.util.Random(5)
    var e0 = 0L; var e1 = 0L
    val bs = (0 until 200).map { i =>
      e0 += rnd.nextInt(4); e1 += rnd.nextInt(3)
      batch(i, i * 10.0, 0 -> e0, 1 -> e1)
    }
    for (p <- 0 to 1; off <- 0L until 400L) {
      val linear = bs.find(_.end(p) > off)
      assert(committingBatch(bs, p, off) == linear, s"partition $p offset $off")
    }
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 50, 1).contains(50.0))
    assert(percentile(xs, 95, 5).contains(95.0))
    assert(percentile(xs, 99, 1).contains(99.0))
    assert(percentile(xs, 100, 0).contains(100.0))
    assert(percentile(Seq(3.0, 1.0, 2.0), 50, 1).contains(2.0)) // unsorted input
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)).contains(2.0))
  }

  test("a percentile needs the required count of samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    // rank 95 of 100 leaves exactly 5 samples above it
    assert(percentile(xs, 95, 5).isDefined)
    assert(percentile(xs, 95, 6).isEmpty)
    assert(percentile(xs.take(99), 95, 5).isEmpty) // rank 95 of 99: 4 above
    assert(percentile((1 to 120).map(_.toDouble), 95, 5).contains(114.0))
    assert(median(Seq(7.0)).isEmpty) // nothing above the only sample
    assert(percentile(Nil, 50, 0).isEmpty)
  }

  test("span self time subtracts the covered part of the children") {
    val spans = Seq(
      Span(0, -1, "batch", "engine", 0, 100),
      Span(1, 0, "getBatch", "sources", 0, 10),
      Span(2, 0, "addBatch", "streaming", 20, 90),
      // overlapping children of addBatch, one running past its parent
      Span(3, 2, "job", "cdc", 30, 60),
      Span(4, 2, "job", "streaming", 50, 95))
    val self = selfTimes(spans)
    assert(self(0) == 100 - 10 - 70)
    assert(self(1) == 10)
    assert(self(2) == 70 - (90 - 30)) // union [30, 90) clipped to the parent
    assert(self(3) == 30)
    assert(self(4) == 45)
    val byLayer = layerSelfTimes(spans)
    assert(byLayer("engine") == 20)
    assert(byLayer("streaming") == 10 + 45)
    assert(byLayer("cdc") == 30)
    // siblings' overlap counts once per sibling, and a child's overrun past
    // its parent stays in the child
    assert(byLayer.values.sum == 100 + 10 + 5)
  }

  test("covered length of overlapping and disjoint intervals") {
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25) == 12)
    assert(covered(Nil, 0, 10) == 0)
  }
}
