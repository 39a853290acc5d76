package graft.cdc

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the chunk planner: for ANY key population, the planned
  * ranges must partition the key space — every key in exactly one chunk,
  * first chunk unbounded below, last unbounded above. This is the
  * correctness core of parallel snapshotting (a doubly-covered key would
  * duplicate rows; an uncovered one would lose them). */
class ChunkSplitterPropertySpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }
  private val t = TableId("db", "t")

  private val keysGen: Gen[Vector[Long]] = for {
    n <- Gen.choose(1, 400)
    // mix of dense runs and sparse outliers to hit both planner paths
    base <- Gen.choose(-1000000L, 1000000L)
    step <- Gen.oneOf(1L, 3L, 1000L, 50000L)
    jitter <- Gen.listOfN(n, Gen.choose(0L, step - 1))
  } yield jitter.zipWithIndex.map { case (j, i) => base + i * step + j }.toVector.distinct

  private type Range = (Option[ChunkKey.Key], Option[ChunkKey.Key])

  /** The full plan computed straight from the sorted key list, sharing no
    * code with the planner. Keys dense enough for the factor bounds step
    * arithmetically from the min by round(factor × chunkSize); otherwise a
    * boundary is every `chunkSize`-th key counting the previous end (which
    * opens the next chunk, so each later chunk adds chunkSize - 1 keys, and
    * chunkSize 1 steps one key). Boundaries stop before the max. */
  private def expectedPlan(sorted: Vector[Long], cfg: ChunkSplitter.Config): Vector[Range] = {
    val (mn, mx, n) = (sorted.head, sorted.last, sorted.size)
    val factor = (mx - mn + 1).toDouble / n
    val bounds: Vector[Long] =
      if (factor >= cfg.distributionFactorLower && factor <= cfg.distributionFactorUpper) {
        val step = math.max(math.round(factor * cfg.chunkSize), 1L)
        Iterator.iterate(mn + step)(_ + step).takeWhile(_ <= mx).toVector
      } else
        Iterator.iterate(cfg.chunkSize - 1)(_ + math.max(cfg.chunkSize - 1, 1))
          .takeWhile(_ < n - 1).map(sorted).toVector
    val keys = bounds.map(b => Option(ChunkKey.of(b)))
    (None +: keys).zip(keys :+ None)
  }

  test("windowed planning: concatenated windows == full plan (stable store)") {
    check(Prop.forAll(keysGen, Gen.choose(1, 50), Gen.choose(1, 7)) {
      (keys, chunkSize, window) =>
        val sorted = keys.sorted
        val cfg = ChunkSplitter.Config(chunkSize = chunkSize)
        def next(from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = {
          val c = sorted.filter(k => ChunkKey.compare(ChunkKey.of(k), from) >= 0).take(n)
          if (c.size < n) None else Some(ChunkKey.of(c.last))
        }
        val full = expectedPlan(sorted, cfg)
        // drive windows like the offset state machine: cursor → cursor
        var cursor: Option[ChunkKey.Key] = None
        var done = false
        val acc = Vector.newBuilder[Range]
        var guard = 0
        while (!done && guard < 2000) {
          val (chunks, nxt) = ChunkSplitter.planWindow(t, ChunkKey.of(sorted.head),
            ChunkKey.of(sorted.last), sorted.size, cfg, next, cursor, window)
          acc ++= chunks.map(s => (s.start, s.end))
          // clamped replay of the same window must reproduce the same chunks
          val (replay, _) = ChunkSplitter.planWindow(t, ChunkKey.of(sorted.head),
            ChunkKey.of(sorted.last), sorted.size, cfg, next, cursor, Int.MaxValue,
            clampEnd = Some(nxt))
          assert(replay.map(s => (s.start, s.end)) == chunks.map(s => (s.start, s.end)),
            s"clamped replay diverged: $replay vs $chunks")
          done = nxt.isEmpty
          cursor = nxt
          guard += 1
        }
        acc.result() == full && guard < 2000
    })
  }

  test("planned chunks partition the key space (every key in exactly one chunk)") {
    check(Prop.forAll(keysGen, Gen.choose(1, 50)) { (keys, chunkSize) =>
      val sorted = keys.sorted
      val cfg = ChunkSplitter.Config(chunkSize = chunkSize)
      def next(from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = {
        val c = sorted.filter(k => ChunkKey.compare(ChunkKey.of(k), from) >= 0).take(n)
        if (c.size < n) None else Some(ChunkKey.of(c.last))
      }
      val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(sorted.head),
        ChunkKey.of(sorted.last), sorted.size, cfg, next)
      val coverage = sorted.forall(k => splits.count(_.contains(k)) == 1)
      val unboundedEnds = splits.head.start.isEmpty && splits.last.end.isEmpty
      // chunks are contiguous: each end equals the next start
      val contiguous = splits.sliding(2).forall {
        case Seq(a, b) => a.end == b.start
        case _         => true
      }
      coverage && unboundedEnds && contiguous
    })
  }

  // The lock-free-snapshot invariant: normalizing each chunk independently
  // (base rows + catch-up events restricted to the chunk's range) and
  // unioning the chunks must equal applying the whole log to the whole
  // table — chunk boundaries must never change the merged result.
  test("per-chunk normalize ∘ union == global log apply") {
    val opGen: Gen[(Int, Long, Double)] = for {
      op <- Gen.choose(0, 2) // 0=c, 1=u, 2=d
      key <- Gen.choose(0L, 60L)
      v <- Gen.choose(0, 1000).map(_.toDouble)
    } yield (op, key, v)

    check(Prop.forAll(Gen.listOf(opGen), Gen.choose(1, 20)) { (ops, chunkSize) =>
      def row(k: Long, v: Double): Array[Any] = Array(k, v)
      def key(r: Array[Any]): Long = r(0).asInstanceOf[Long]
      val base = (0L to 30L by 3).map(k => row(k, k.toDouble))
      val state = scala.collection.mutable.LinkedHashMap[Long, Array[Any]](
        base.map(r => key(r) -> r): _*)
      // build a VALID log (updates/deletes only on live keys) + model state
      val log = ops.zipWithIndex.flatMap { case ((op, k, v), i) =>
        val off = i + 1L
        op match {
          case 0 if !state.contains(k) =>
            state.put(k, row(k, v)); Some(LogRecord(off, ChangeOp.Create, t, null, row(k, v), off))
          case 1 if state.contains(k) =>
            val before = state(k); state.put(k, row(k, v))
            Some(LogRecord(off, ChangeOp.Update, t, before, row(k, v), off))
          case 2 if state.contains(k) =>
            val before = state.remove(k).get
            Some(LogRecord(off, ChangeOp.Delete, t, before, null, off))
          case _ => None
        }
      }
      val (splits, _) = ChunkSplitter.planWindow(t, ChunkKey.of(0L), ChunkKey.of(60L), 21,
        ChunkSplitter.Config(chunkSize), (_, _) => None)
      val merged = splits.flatMap { sp =>
        Normalizer.normalize(
          base.iterator.filter(r => sp.contains(key(r))),
          log.iterator.filter(r =>
            sp.contains(key(if (r.op == ChangeOp.Delete) r.before else r.after))),
          key)
      }.map(r => key(r) -> r(1)).toMap
      val expected = state.map { case (k, r) => k -> r(1) }.toMap
      merged == expected
    })
  }
}
