package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

class NormalizerSpec extends AnyFunSuite {
  private val t = TableId("db", "products")
  private def row(id: Long, name: String, w: Double): Array[Any] = Array(id, name, w)
  private def key(r: Array[Any]): Long = r(0).asInstanceOf[Long]
  private def rec(off: Long, op: String, before: Array[Any], after: Array[Any]): LogRecord =
    LogRecord(off, op, t, before, after, tsMs = off * 1000)

  // Scenario mirrors reference RecordUtilsTest / the upsertBinlog contract
  // (mysql/source/utils/RecordUtils.java:138-192).
  test("normalize folds c/u/d catch-up events over the snapshot chunk") {
    val snapshot = Seq(row(1, "a", 1.0), row(2, "b", 2.0), row(3, "c", 3.0))
    val catchUp = Seq(
      rec(10, ChangeOp.Update, row(2, "b", 2.0), row(2, "b2", 2.5)), // update in-range
      rec(11, ChangeOp.Delete, row(3, "c", 3.0), null),              // delete in-range
      rec(12, ChangeOp.Create, null, row(4, "d", 4.0)),              // insert in-range
      rec(13, ChangeOp.Update, row(4, "d", 4.0), row(4, "d2", 4.5))) // update the insert
    val out = Normalizer.normalize(snapshot.iterator, catchUp.iterator, key).toSeq
    assert(out.map(key).sorted === Seq(1L, 2L, 4L))
    assert(out.find(key(_) == 2).get(1) === "b2")
    assert(out.find(key(_) == 4).get(2) === 4.5)
  }

  test("delete of a row inserted in the same slice removes it") {
    val out = Normalizer.normalize(Iterator.empty, Iterator(
      rec(1, ChangeOp.Create, null, row(9, "x", 1.0)),
      rec(2, ChangeOp.Delete, row(9, "x", 1.0), null)), key).toSeq
    assert(out.isEmpty)
  }

  test("READ records in the log slice are rejected (RecordUtils.java:176-180)") {
    assertThrows[IllegalStateException] {
      Normalizer.normalize(Iterator.empty,
        Iterator(rec(1, ChangeOp.Read, null, row(1, "a", 1.0))), key).toSeq
    }
  }

  // EmitFilter mirrors BinlogSplitReader.shouldEmit (:194-240)
  test("emit filter: per-chunk high watermarks gate replayed events") {
    val f = new Normalizer.EmitFilter(Seq(
      FinishedChunk(None, Some(ChunkKey.of(100L)), hw = 50),
      FinishedChunk(Some(ChunkKey.of(100L)), None, hw = 70)))
    // key in chunk 0: emitted only past offset 50
    assert(!f.shouldEmit(key = 5, offset = 50))
    assert(f.shouldEmit(key = 5, offset = 51))
    // key in chunk 1: gate is 70
    assert(!f.shouldEmit(key = 150, offset = 60))
    assert(f.shouldEmit(key = 150, offset = 71))
    // past max HW → pure log phase, everything emitted
    assert(f.shouldEmit(key = 5, offset = 71))
    assert(f.shouldEmit(key = 999999, offset = 71))
  }

  test("timestamp seek drops events before the start (SeekBinlogToTimestampFilter)") {
    val recs = Seq(rec(1, ChangeOp.Create, null, row(1, "a", 1.0)),
      rec(5, ChangeOp.Create, null, row(5, "e", 5.0)))
    val out = Normalizer.timestampSeek(recs.iterator, startMs = 5000).toSeq
    assert(out.map(_.offset) === Seq(5L))
  }
}
