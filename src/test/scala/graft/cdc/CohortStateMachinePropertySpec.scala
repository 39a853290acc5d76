package graft.cdc

import graft.cdc.provider.{ChangeLogProvider, InMemoryChangeLogProvider, ProviderRegistry}
import graft.cdc.source._
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property test of the assigner state machine + readers, driven directly
  * through the DSv2 offset API (no Spark jobs — fast enough for hundreds
  * of random schedules).
  *
  * For ANY base table, ANY valid mutation script, ANY chunk size, ANY
  * cohort admission cap, and ANY interleaving of commits with planning
  * steps (mutations land between latestOffset calls, so cohorts pin
  * genuinely different high watermarks):
  *
  *  1. exactly-once: no (op_offset, row_kind, key) log row is ever
  *     emitted twice, and no event is both folded into a chunk AND
  *     emitted in the log phase;
  *  2. completeness: a downstream materializer consuming the emitted
  *     changelog reconstructs EXACTLY the provider's final state.
  *
  * This is the Spark-shaped analogue of the reference's parallel-source
  * chaos ITCases (mysql/source/MySqlSourceITCase.java failover matrix).
  */
class CohortStateMachinePropertySpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), p)
    assert(res.passed, res.status.toString)
  }

  private val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
  private val tid = TableId("prop", "t")
  private val meta = TableMeta(tid, schema, Seq("id"))
  private def row(id: Long, v: Long): Array[Any] = Array(id, v)

  /** Applies `perStep` scripted mutations on every currentOffset probe. */
  private final class SteppingProvider(val inner: InMemoryChangeLogProvider,
      script: Iterator[Seq[LogRecord]]) extends ChangeLogProvider {
    override def tables: Seq[TableMeta] = inner.tables
    override def currentOffset: Long = synchronized {
      if (script.hasNext) script.next().foreach(inner.append(_))
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

  /** Race schedule: commits land INSIDE the planning→read window. The
    * first snapshotBase call for each distinct chunk range commits the next
    * script group and then serves the FRESH state at the new offset — so
    * the base arrives NEWER than the cohort's pinned HW (the exact scenario
    * the reference's executor-side LW/HW bracket exists for,
    * MySqlSnapshotSplitReadTask.java:124-163). currentOffset probes also
    * drain the script so the log phase advances. Repeat reads of a range
    * commit nothing — task-retry determinism holds between commits. */
  private final class RacingProvider(val inner: InMemoryChangeLogProvider,
      script: Iterator[Seq[LogRecord]]) extends ChangeLogProvider {
    private val seenRanges = scala.collection.mutable.Set.empty[(Option[ChunkKey.Key], Option[ChunkKey.Key])]
    override def tables: Seq[TableMeta] = inner.tables
    override def currentOffset: Long = synchronized {
      if (script.hasNext) script.next().foreach(inner.append(_))
      inner.currentOffset
    }
    override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = inner.keyBounds(t)
    override def nextChunkEnd(t: TableId, from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] =
      inner.nextChunkEnd(t, from, n)
    override def snapshotBase(t: TableId, r: SnapshotSplit): (Long, Iterator[Array[Any]]) =
      synchronized {
        if (seenRanges.add((r.start, r.end)) && script.hasNext)
          script.next().foreach(inner.append(_))
        val off = inner.currentOffset
        val keyIdx = inner.tables.head.schema.fieldIndex(inner.tables.head.primaryKey.head)
        (off, inner.stateAt(off).iterator.filter(row =>
          r.contains(ChunkKey.of(row(keyIdx)))))
      }
    override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] =
      inner.log(t, from, to)
  }

  private val scenarioGen = for {
    nBase <- Gen.choose(0, 30)
    nOps <- Gen.choose(0, 50)
    chunkSize <- Gen.choose(1, 8)
    maxChunks <- Gen.choose(1, 4)
    perStep <- Gen.choose(1, 3)
    opKinds <- Gen.listOfN(nOps, Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 50L), Gen.choose(0L, 999L)))
  } yield (nBase, opKinds, chunkSize, maxChunks, perStep)

  private val counter = new java.util.concurrent.atomic.AtomicInteger()

  test("cohort snapshots under concurrent commits: exactly-once + exact final state") {
    check(Prop.forAll(scenarioGen) { case (nBase, opKinds, chunkSize, maxChunks, perStep) =>
      // model state drives a VALID script (create absent / mutate present)
      val base = (0 until nBase).map(i => row(i * 2L, i.toLong))
      val model = scala.collection.mutable.LinkedHashMap[Long, Array[Any]](
        base.map(r => r(0).asInstanceOf[Long] -> r): _*)
      var off = 0L
      val recs = opKinds.flatMap { case (kind, key, v) =>
        off += 1
        kind match {
          case 0 if !model.contains(key) =>
            model.put(key, row(key, v)); Some(LogRecord(off, ChangeOp.Create, tid, null, row(key, v), off))
          case 1 if model.contains(key) =>
            val b = model(key); model.put(key, row(key, v))
            Some(LogRecord(off, ChangeOp.Update, tid, b, row(key, v), off))
          case 2 if model.contains(key) =>
            val b = model.remove(key).get
            Some(LogRecord(off, ChangeOp.Delete, tid, b, null, off))
          case _ => off -= 1; None
        }
      }
      val inner = new InMemoryChangeLogProvider(meta, base, Seq.empty, staleOffset = 0)
      val provider = new SteppingProvider(inner, recs.grouped(perStep).toList.iterator)
      drive(provider, inner, chunkSize, maxChunks,
        s"nBase=$nBase ops=${recs.size} chunk=$chunkSize cohort=$maxChunks perStep=$perStep")
    })
  }

  test("RACING schedule: base newer than pinned HW (commits inside planning→read window)") {
    check(Prop.forAll(scenarioGen) { case (nBase, opKinds, chunkSize, maxChunks, perStep) =>
      val base = (0 until nBase).map(i => row(i * 2L, i.toLong))
      val model = scala.collection.mutable.LinkedHashMap[Long, Array[Any]](
        base.map(r => r(0).asInstanceOf[Long] -> r): _*)
      var off = 0L
      val recs = opKinds.flatMap { case (kind, key, v) =>
        off += 1
        kind match {
          case 0 if !model.contains(key) =>
            model.put(key, row(key, v)); Some(LogRecord(off, ChangeOp.Create, tid, null, row(key, v), off))
          case 1 if model.contains(key) =>
            val b = model(key); model.put(key, row(key, v))
            Some(LogRecord(off, ChangeOp.Update, tid, b, row(key, v), off))
          case 2 if model.contains(key) =>
            val b = model.remove(key).get
            Some(LogRecord(off, ChangeOp.Delete, tid, b, null, off))
          case _ => off -= 1; None
        }
      }
      val inner = new InMemoryChangeLogProvider(meta, base, Seq.empty, staleOffset = 0)
      val provider = new RacingProvider(inner, recs.grouped(perStep).toList.iterator)
      drive(provider, inner, chunkSize, maxChunks,
        s"RACING nBase=$nBase ops=${recs.size} chunk=$chunkSize cohort=$maxChunks perStep=$perStep")
    })
  }

  /** Drives the stream through the DSv2 offset API and checks exactly-once
    * + exact final state. Returns the Prop result. */
  private def drive(provider: ChangeLogProvider, inner: InMemoryChangeLogProvider,
      chunkSize: Int, maxChunks: Int, label: String): Boolean = {
    {
      val name = s"prop-${counter.incrementAndGet()}"
      ProviderRegistry.register(name, provider)

      val metaCols = Seq(CdcOptions.MetaOffset, CdcOptions.MetaRowKind)
      val opts = CdcOptions("registry", name, ".*", ".*", chunkSize, "initial",
        0L, 0L, Long.MaxValue, 0L, 0L, maxChunks, metaCols, "full")
      val produced = CdcOptions.producedSchema(schema, metaCols)
      // a checkpoint location, as every streaming scan has: a racing
      // chunk's observed-HW raise travels through its sidecar
      val ckpt = java.nio.file.Files.createTempDirectory("graft_prop_ckpt_")
      graft.queries.Fixtures.deleteTreeOnExit(ckpt)
      val stream = new CdcMicroBatchStream(opts, schema, produced, Seq(meta),
        Some(ckpt.toString))
      val factory = stream.createReaderFactory()

      // drive the offset API exactly like MicroBatchExecution would; every
      // offset round-trips through its JSON form, which is what a driver
      // restart replays from — so this also proves the checkpoint codec
      // preserves the state machine at EVERY batch boundary (incl.
      // mid-snapshot, between cohorts)
      def roundTrip(o: CdcOffset): CdcOffset = CdcOffset.parse(o.json())
      var cur = roundTrip(stream.initialOffset().asInstanceOf[CdcOffset])
      val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long, String)]()
      var rounds = 0
      var stable = false
      while (!stable && rounds < 200) {
        val next = roundTrip(stream.latestOffset(cur, ReadLimit.allAvailable()).asInstanceOf[CdcOffset])
        val parts = stream.planInputPartitions(cur, next)
        parts.foreach { p =>
          def readAll(): Seq[(Long, Long, String, Long, String)] = {
            val r = factory.createReader(p)
            val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long, String)]()
            while (r.next()) {
              val ir = r.get()
              buf += ((ir.getLong(0), ir.getLong(1), ir.getUTF8String(2).toString,
                ir.getLong(3), ir.getUTF8String(4).toString))
            }
            buf.toSeq
          }
          // task retry / speculative execution: re-reading a partition must
          // be deterministic (same rows) — the W3 exactly-once contract
          val first = readAll()
          val second = readAll()
          assert(first == second, s"partition replay diverged for $p")
          emitted ++= first
        }
        // while the script has pending groups, every latestOffset probe
        // commits more events and the offset keeps moving — stability
        // implies the script is drained
        stable = next == cur
        cur = next
        rounds += 1
      }

      // 1. exactly-once: log rows (non-'r') unique per (offset, kind, key)
      val logRows = emitted.filter(_._3 != "r")
      val dup = logRows.groupBy(e => (e._4, e._5, e._1)).exists(_._2.size > 1)
      // ...and never both folded and emitted: an 'r' row for key k carries
      // its chunk's HW h as op_offset, and every event for k at offset <= h
      // was folded into it, so no log row for k may sit at or below h. The
      // final-state check below cannot see this (replaying a suffix of a
      // key's events ends in the same state); a missing observed-HW raise
      // shows up only here.
      val foldedHw = emitted.filter(_._3 == "r").map(e => e._1 -> e._4).toMap
      val refolded = logRows.exists(e => foldedHw.get(e._1).exists(e._4 <= _))
      // 2. completeness: downstream materialization == provider state
      val mat = scala.collection.mutable.LinkedHashMap[Long, Long]()
      emitted.foreach {
        case (id, v, "r", _, _)        => mat.put(id, v)
        case (id, v, "c", _, _)        => mat.put(id, v)
        case (id, v, "u", _, "+U")     => mat.put(id, v)
        case (_, _, "u", _, "-U")      => ()
        case (id, _, "d", _, _)        => mat.remove(id)
        case other => throw new IllegalStateException(s"unexpected row $other")
      }
      val expected = inner.stateAt(Long.MaxValue)
        .map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
      val ok = !dup && !refolded && mat.toMap == expected && rounds < 200
      if (!ok) println(s"FAIL $label dup=$dup refolded=$refolded rounds=$rounds\n  got=${mat.toMap}\n  exp=$expected")
      ok
    }
  }
}
