package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** Generalized chunk keys: ordering, normalization, planning and offset
  * round-trips for string / binary / composite split keys (reference:
  * Object[] split keys in RecordUtils.splitKeyRangeContains; varbinary-PK
  * ITCase mysql/table/MySqlConnectorITCase.java:902). */
class ChunkKeySpec extends AnyFunSuite {
  private val t = TableId("db", "t")

  test("element normalization: integrals widen to Long, byte[] become value-equal") {
    assert(ChunkKey.of(42) === ChunkKey.of(42L))
    assert(ChunkKey.of(42.toShort) === ChunkKey.of(42L))
    assert(ChunkKey.of(Array[Byte](1, 2)) === ChunkKey.of(Array[Byte](1, 2)),
      "binary keys must have value equality (usable as hash keys)")
    assert(ChunkKey.of(Array[Byte](1, 2)).hashCode === ChunkKey.of(Array[Byte](1, 2)).hashCode)
  }

  test("total order per type: numeric, string, unsigned-lexicographic binary") {
    assert(ChunkKey.compare(ChunkKey.of(5L), ChunkKey.of(10L)) < 0)
    assert(ChunkKey.compare(ChunkKey.of("apple"), ChunkKey.of("banana")) < 0)
    // unsigned: 0x80 (= -128 signed) sorts AFTER 0x7f
    assert(ChunkKey.compare(
      ChunkKey.of(Array[Byte](0x7f)), ChunkKey.of(Array[Byte](0x80.toByte))) < 0)
    // prefix sorts before its extension
    assert(ChunkKey.compare(
      ChunkKey.of(Array[Byte](1)), ChunkKey.of(Array[Byte](1, 0))) < 0)
  }

  test("composite keys compare lexicographically element-wise (ORDER BY k1, k2)") {
    assert(ChunkKey.compare(ChunkKey.of("a", 9L), ChunkKey.of("b", 1L)) < 0)
    assert(ChunkKey.compare(ChunkKey.of("a", 1L), ChunkKey.of("a", 2L)) < 0)
    assert(ChunkKey.compare(ChunkKey.of("a", 2L), ChunkKey.of("a", 2L)) === 0)
    assertThrows[IllegalArgumentException](
      ChunkKey.compare(ChunkKey.of("a"), ChunkKey.of("a", 1L)))
    assertThrows[IllegalArgumentException](
      ChunkKey.compare(ChunkKey.of("a"), ChunkKey.of(1L)))
  }

  test("string keys plan through the query-driven path and partition the key space") {
    val keys = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
      .map(ChunkKey.of(_))
    def next(from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = {
      val c = keys.filter(ChunkKey.compare(_, from) >= 0).take(n)
      if (c.size < n) None else Some(c.last)
    }
    val (splits, _) = ChunkSplitter.planWindow(t, keys.head, keys.last, keys.size,
      ChunkSplitter.Config(chunkSize = 3), next)
    assert(splits.size > 1, "string PK must still chunk in parallel")
    assert(splits.head.start.isEmpty && splits.last.end.isEmpty)
    keys.foreach(k => assert(splits.count(_.contains(k)) === 1, s"key $k"))
  }

  test("composite keys plan and every key lands in exactly one chunk") {
    val keys = for (a <- Vector("x", "y"); i <- 0L until 6L) yield ChunkKey.of(a, i)
    val sorted = keys.sorted(ChunkKey.ordering)
    def next(from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = {
      val c = sorted.filter(ChunkKey.compare(_, from) >= 0).take(n)
      if (c.size < n) None else Some(c.last)
    }
    val (splits, _) = ChunkSplitter.planWindow(t, sorted.head, sorted.last, sorted.size,
      ChunkSplitter.Config(chunkSize = 4), next)
    assert(splits.size > 1)
    sorted.foreach(k => assert(splits.count(_.contains(k)) === 1, s"key $k"))
  }

  test("offset JSON round-trips string/binary/composite bounds, finished infos and known tables") {
    val o = graft.cdc.source.CdcOffset(
      snapshotDone = false, logPos = 7,
      cursors = Map(
        "db.s" -> Some(ChunkKey.of("m")),
        "db.b" -> Some(ChunkKey.of(Array[Byte](0, 0x80.toByte))),
        "db.c" -> Some(ChunkKey.of("x", 3L)),
        "db.0" -> None),
      finished = Map(
        "db.s" -> Seq(FinishedChunk(None, Some(ChunkKey.of("m")), 5L)),
        "db.n" -> Seq(FinishedChunk(Some(ChunkKey.of(10L)), None, 6L))),
      known = Seq("db.s", "db.b", "db.c", "db.n"))
    val back = graft.cdc.source.CdcOffset.parse(o.json())
    assert(back === o)
  }
}
