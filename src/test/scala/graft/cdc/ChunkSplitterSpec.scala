package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

class ChunkSplitterSpec extends AnyFunSuite {
  private val t = TableId("db", "t")
  private val cfg = ChunkSplitter.Config(chunkSize = 10)

  test("distribution factor math (reference ChunkSplitter.java:284-309)") {
    assert(ChunkSplitter.distributionFactor(0, 99, 100) === 1.0)
    assert(ChunkSplitter.distributionFactor(0, 999, 100) === 10.0)
    assert(ChunkSplitter.distributionFactor(5, 5, 1) === 1.0)
    assert(ChunkSplitter.distributionFactor(0, 9, 0) === Double.MaxValue)
  }

  test("dense keys → even chunks, first/last unbounded") {
    // factor = 1.0 within [0.05, 1000] → even stepping by chunkSize
    val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(0L), ChunkKey.of(99L), 100, cfg,
      (_, _) => fail("even path must not probe boundaries"))
    assert(splits.size === 10)
    assert(splits.head.start === None)
    assert(splits.head.end === Some(ChunkKey.of(10L)))
    assert(splits.last.start === Some(ChunkKey.of(90L)))
    assert(splits.last.end === None)
    // contiguous, non-overlapping
    splits.sliding(2).foreach { case Seq(a, b) => assert(a.end === b.start); case _ => }
  }

  test("every key belongs to exactly one chunk") {
    val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(0L), ChunkKey.of(99L), 100, cfg, (_, _) => None)
    for (k <- -5L to 105L) {
      assert(splits.count(_.contains(k)) === 1, s"key $k")
    }
  }

  test("sparse keys beyond factor bound → uneven query-driven chunks") {
    // keys 0, 10000, 20000, ... 90000: factor = 90001/10 >> 1000
    val keys = (0 until 10).map(_ * 10000L)
    def next(from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = {
      val c = keys.filter(k => ChunkKey.compare(ChunkKey.of(k), from) >= 0).take(n)
      if (c.size < n) None else Some(ChunkKey.of(c.last))
    }
    val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(keys.min), ChunkKey.of(keys.max),
      keys.size, ChunkSplitter.Config(chunkSize = 3), next)
    assert(splits.head.start === None)
    assert(splits.last.end === None)
    keys.foreach(k => assert(splits.count(_.contains(k)) === 1))
    // boundary = max of next 3 keys, chunk = [start, end) → 2 new keys per
    // chunk: ends at 20000, 40000, 60000, 80000, ∞
    assert(splits.size === 5)
  }

  test("dynamic chunk size scales with factor (reference :155)") {
    // factor 5.0 → dynamic chunk = 50 over range 0..499 with 100 rows
    val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(0L), ChunkKey.of(499L), 100, cfg, (_, _) => None)
    assert(splits.size === 10)
    assert(splits(1).start === Some(ChunkKey.of(50L)))
  }

  test("single-row and empty tables degrade to one unbounded chunk") {
    assert(ChunkSplitter.planWindow(t, ChunkKey.of(5L), ChunkKey.of(5L), 1, cfg,
      (_, _) => None)._1.size === 1)
    val s = ChunkSplitter.planWindow(t, ChunkKey.of(0L), ChunkKey.of(-1L), 0, cfg, (_, _) => None)
    assert(s === (Seq(SnapshotSplit(t, 0, None, None)), None))
  }
}
