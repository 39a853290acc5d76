package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{ChangeLogProvider, InMemoryChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.types._

/** End-to-end (real Spark tasks) proof of executor-side HW discovery:
  * commits land between offset planning and the chunk read, the provider
  * cannot time-travel (serves the FRESH base), and the source must
  * (a) not fail, (b) not duplicate the raced events in the log phase —
  * the observed HW travels task → checkpoint sidecar → next offset → emit
  * filter. The streaming analogue of the reference's per-chunk LW/HW
  * bracket (MySqlSnapshotSplitReadTask.java:124-163) + HW report
  * (MySqlSourceReader.java:275-305). */
class CdcRacingBaseSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))
  private val tid = TableId("race", "t")
  private val meta = TableMeta(tid, schema, Seq("id"))
  private def row(id: Long, v: Long): Array[Any] = Array(id, v)

  /** Serves the CURRENT state from snapshotBase (no time travel); on the
    * FIRST chunk read it first applies `racing` — commits that land inside
    * the planning→read window. */
  private final class FreshBaseProvider(inner: InMemoryChangeLogProvider,
      racing: Seq[LogRecord]) extends ChangeLogProvider {
    private var raced = false
    override def tables: Seq[TableMeta] = inner.tables
    override def currentOffset: Long = inner.currentOffset
    def append(r: LogRecord*): Unit = inner.append(r: _*)
    override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = inner.keyBounds(t)
    override def nextChunkEnd(t: TableId, from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] =
      inner.nextChunkEnd(t, from, n)
    override def snapshotBase(t: TableId, r: SnapshotSplit): (Long, Iterator[Array[Any]]) =
      synchronized {
        if (!raced) { raced = true; racing.foreach(inner.append(_)) }
        val off = inner.currentOffset
        (off, inner.stateAt(off).iterator.filter(x => r.contains(ChunkKey.of(x(0)))))
      }
    override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] =
      inner.log(t, from, to)
  }

  test("base racing past the pinned HW: no failure, no duplicates, exact state") {
    val base = Seq(row(1L, 10L), row(2L, 20L))
    // the race: an update of k=1 and a create of k=3 commit between
    // planning (pins HW=0) and the chunk read
    val racing = Seq(
      LogRecord(1L, ChangeOp.Update, tid, row(1L, 10L), row(1L, 11L), 100L),
      LogRecord(2L, ChangeOp.Create, tid, null, row(3L, 30L), 200L))
    val p = new FreshBaseProvider(
      new InMemoryChangeLogProvider(meta, base, Seq.empty, staleOffset = 0), racing)
    ProviderRegistry.register("racing-base", p)

    val q = spark.readStream.format("cdc-log")
      .option("provider.name", "racing-base")
      .option("metadata.columns", "op_offset,row_kind")
      .load()
      .writeStream.format("memory").queryName("race_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val snap = spark.table("race_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      // the chunk adopted the newer base: 'r' rows reflect the raced state
      // (k=1 updated, k=3 present), each key exactly once...
      assert(snap.filter(_._3 == "r").map(r => (r._1, r._2)).sorted.toSeq ===
        Seq((1L, 11L), (2L, 20L), (3L, 30L)))
      // ...and the raced events (offsets 1-2) are NOT re-emitted as log
      // rows: the observed HW raised the chunk's finished-HW past them
      assert(!snap.exists(r => r._3 != "r" && r._4 <= 2L),
        s"raced events duplicated into the log phase: ${snap.mkString(", ")}")

      // post-snapshot events still flow exactly once
      p.append(LogRecord(3L, ChangeOp.Update, tid, row(2L, 20L), row(2L, 21L), 300L))
      q.processAllAvailable()
      val after = spark.table("race_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(4)))
      assert(after.count(_._3 == "u") === 2, "one -U/+U pair for the live update")
      assert(after.filter(r => r._3 == "u" && r._4 == "+U").map(_._2).toSeq === Seq(21L))
    } finally q.stop()
  }
}
