package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{ChangeLogProvider, InMemoryChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Trigger.AvailableNow: the bounded CDC catch-up run — processes exactly
  * what existed at query start, ignores events committed during the run,
  * and a later run picks them up from the same checkpoint. */
class CdcAvailableNowSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val meta = TableMeta(TableId("inv", "an"), schema, Seq("id"))

  /** Appends a late event on the SECOND currentOffset probe — i.e. after
    * prepareForTriggerAvailableNow has pinned the bound. */
  private final class LateWriteProvider(val inner: InMemoryChangeLogProvider,
      late: LogRecord) extends ChangeLogProvider {
    private var calls = 0
    override def tables: Seq[TableMeta] = inner.tables
    override def currentOffset: Long = synchronized {
      calls += 1
      if (calls == 2) inner.append(late)
      inner.currentOffset
    }
    override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = inner.keyBounds(t)
    override def nextChunkEnd(t: TableId, from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] =
      inner.nextChunkEnd(t, from, n)
    override def snapshotBase(t: TableId, r: SnapshotSplit): (Long, Iterator[Array[Any]]) =
      inner.snapshotBase(t, r)
    override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] =
      inner.log(t, from, to)
  }

  test("AvailableNow processes exactly the prepared bound; next run resumes") {
    val inner = new InMemoryChangeLogProvider(meta, Seq(Array[Any](1L, "a")), Seq(
      LogRecord(1, ChangeOp.Create, meta.id, null, Array[Any](2L, "b"), 100)))
    val p = new LateWriteProvider(inner,
      LogRecord(9, ChangeOp.Create, meta.id, null, Array[Any](9L, "late"), 900))
    ProviderRegistry.register("available-now", p)
    val ckpt = Files.createTempDirectory("cdc-an-ckpt").toString
    val out = Files.createTempDirectory("cdc-an-out").toString

    def runOnce(): Unit = {
      val q = spark.readStream.format("cdc-log").option("provider.name", "available-now")
        .load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runOnce()
    val first = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(2))).toSet
    // snapshot folds the pre-start log; the mid-run write (offset 9) is
    // excluded by the prepared bound
    assert(first === Set((1L, "r"), (2L, "r")), s"got $first")

    runOnce()
    val second = spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(second === Set((1L, "r"), (2L, "r"), (9L, "c")),
      s"next run must pick up the late write, got $second")
  }

  /** Batch ids of the checkpoint's commit log, and the cdc-log offset a
    * batch's offset-log entry recorded. */
  private def commits(ckpt: String): Seq[Long] =
    Option(new java.io.File(ckpt, "commits").list()).toSeq.flatten.flatMap(_.toLongOption).sorted
  private def offsetOf(ckpt: String, batch: Long): graft.cdc.source.CdcOffset = {
    val lines = Files.readAllLines(java.nio.file.Paths.get(ckpt, "offsets", batch.toString))
    graft.cdc.source.CdcOffset.parse(lines.get(lines.size - 1))
  }

  test("an initial AvailableNow load with no log event after the snapshot runs only its cohort batches; a later event is emitted once") {
    val m = TableMeta(TableId("inv", "cohorts_only"), schema, Seq("id"))
    // ids 1..12 in chunks of 2 (six chunks), two chunks a cohort: three
    // snapshot batches; the two log events before the start fold into them
    val p = new InMemoryChangeLogProvider(m, (1L to 12L).map(i => Array[Any](i, s"n$i")), Seq(
      LogRecord(1, ChangeOp.Update, m.id, Array[Any](4L, "n4"), Array[Any](4L, "u4"), 100),
      LogRecord(2, ChangeOp.Delete, m.id, Array[Any](7L, "n7"), null, 200)))
    ProviderRegistry.register("cohorts-only", p)
    val ckpt = Files.createTempDirectory("cdc-an-cohorts-ckpt").toString
    val out = Files.createTempDirectory("cdc-an-cohorts-out").toString
    def runOnce(): Unit =
      spark.readStream.format("cdc-log").option("provider.name", "cohorts-only")
        .option("scan.incremental.snapshot.chunk.size", "2")
        .option("scan.snapshot.max-chunks-per-batch", "2")
        .load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def rows(): Set[(Long, String, String)] = spark.read.parquet(out)
      .select("id", "name", "op").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    runOnce()
    assert(commits(ckpt) === Seq(0L, 1L, 2L), "only the three cohort batches run: no closing empty batch")
    assert(offsetOf(ckpt, 2).snapshotDone)
    // one finished range per cohort, kept: the next batch that reads the
    // log prunes them, not an empty batch of their own
    assert(offsetOf(ckpt, 2).finished.values.flatten.size === 3)
    val snapshot = (1L to 12L).filter(_ != 7L)
      .map(i => (i, if (i == 4L) "u4" else s"n$i", "r")).toSet
    assert(rows() === snapshot)

    p.append(
      LogRecord(3, ChangeOp.Update, m.id, Array[Any](4L, "u4"), Array[Any](4L, "v4"), 300),
      LogRecord(4, ChangeOp.Create, m.id, null, Array[Any](20L, "n20"), 400))
    runOnce()
    assert(commits(ckpt) === Seq(0L, 1L, 2L, 3L), "one log batch")
    assert(offsetOf(ckpt, 3).logPos === 4L && offsetOf(ckpt, 3).finished.isEmpty,
      "the log batch prunes the finished lists")
    // the update's before and after images, the insert; nothing of the
    // folded events 1 and 2
    assert(rows() -- snapshot === Set((4L, "u4", "u"), (4L, "v4", "u"), (20L, "n20", "c")))
    assert(spark.read.parquet(out).count() === snapshot.size + 3L, "each event emitted once")
  }
}
