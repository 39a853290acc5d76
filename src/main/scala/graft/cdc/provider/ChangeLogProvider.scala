package graft.cdc.provider

import graft.cdc._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** SPI between the Spark DSv2 source and a concrete change-data store.
  *
  * This is the Spark-shaped analogue of the reference's pluggable dialect
  * (flink-cdc-log-base/.../relational/JdbcSourceChunkSplitter + dialect
  * interfaces): the source plans chunks and micro-batches; a provider
  * answers the small number of planning probes (min/max/count/current log
  * offset) and streams rows for one chunk or one log slice.
  *
  * Contract for scale: `snapshotBase` and `log` are ITERATORS consumed
  * inside one executor partition reader — a provider must stream (JDBC
  * fetchSize-style, reference StatementUtils.java:190-224), never
  * materialize a table. Planning probes run on the driver only.
  *
  * `snapshotBase(table, range)` may return ANY consistent-or-stale base
  * state of the range; the reader folds the log slice `(baseOffset,
  * upTo]` over it (Normalizer.normalize = reference RecordUtils.upsertBinlog)
  * to produce the exact state at `upTo`. A time-travel-capable provider
  * returns `baseOffset = 0` and lets the log do the work, or returns the
  * exact state with `baseOffset = upTo` (no catch-up needed).
  */
trait ChangeLogProvider extends Serializable {
  def tables: Seq[TableMeta]

  /** Current end of the log (total-ordered Long position). */
  def currentOffset: Long

  /** Min/max of the chunk key and approximate row count for a table —
    * driver-side planning probes (reference StatementUtils.java:40-76).
    * Keys are generalized [[ChunkKey.Key]]s: single numeric, string,
    * binary, or composite — mirroring the reference's Object[] split keys. */
  def keyBounds(table: TableId): (ChunkKey.Key, ChunkKey.Key, Long) // (min, max, approxCount)

  /** Boundary probe for uneven chunking (StatementUtils.java:99-130). */
  def nextChunkEnd(table: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key]

  /** Base rows of a key range plus the log offset that base is valid at. */
  def snapshotBase(table: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]])

  /** Log records for a table with offset in (fromExclusive, toInclusive],
    * in ASCENDING OFFSET order — the order contract [[logForRange]]
    * inherits; readers (per-chunk folds, sharded catch-up partitions)
    * rely on per-key event order, which offset order implies. */
  def log(table: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord]

  /** Log records of the slice whose CHUNK KEY ([[LogRecord.keyImage]])
    * falls in `range` — the read of a per-chunk catch-up fold and of a
    * catch-up shard. Default: the full slice (callers filter by key
    * themselves, which is correct but O(chunks × slice) when every chunk
    * of a table folds the same long slice). A provider with a key-capable
    * log index SHOULD override this to O(range's events) — the JSONL
    * providers key a secondary byte-offset index by chunk key for exactly
    * this (the analogue of a store answering the reference's bounded
    * per-split binlog backfill from its index). May return a superset of
    * the range (callers re-filter); must never miss an event. */
  def logForRange(table: TableId, fromExclusive: Long, toInclusive: Long,
      range: SnapshotSplit): Iterator[LogRecord] =
    log(table, fromExclusive, toInclusive)

  /** Approximate number of log events for `table` with offset in
    * (fromExclusive, toInclusive] — a cheap driver-side planning probe the
    * catch-up shard planner sizes PER-TABLE parallelism with: the global
    * offset window over-counts one table's backlog in a multi-table
    * stream (every other table's offsets inflate it), and sharding a
    * near-empty table buys only task overhead. -1 = unknown (the planner
    * sizes by the window). A key-indexed provider should answer from its
    * offset index in O(log n). */
  def logEventsApprox(table: TableId, fromExclusive: Long,
      toInclusive: Long): Long = -1L

  /** Interior boundary keys splitting this table's log window
    * `(fromExclusive, toInclusive]` into up to `n` key ranges of ~equal
    * EVENT COUNT — the catch-up shard planner's one boundary source
    * (`scan.log.catchup.shards`): a table's window shards if and only if
    * this returns a boundary. Weighting by events keeps a backlog that
    * concentrates in one key range split evenly, the exact skew case
    * sharding exists for. Contract: strictly-ascending distinct keys, at
    * most n-1 of them; a key's events must land entirely in one shard
    * (ranges are half-open on keys, so any key vector satisfies this);
    * empty = don't shard (the window drains through one serial reader).
    * Answer only when [[logForRange]] is backed by a KEY INDEX — i.e. a
    * range read costs O(the range's own events): over the default
    * full-slice [[logForRange]], N shards would read the slice N times. A
    * key-indexed provider answers from its (key, offset) index with
    * in-memory passes — no IO. */
  def logShardBoundaries(table: TableId, fromExclusive: Long,
      toInclusive: Long, n: Int): Seq[ChunkKey.Key] = Seq.empty

  /** Schema-change (DDL) events with offset in (fromExclusive, toInclusive]
    * — the reference records these into split state and optionally emits
    * them (MySqlRecordEmitter.java:85-97, FlinkJsonTableChangeSerializer).
    * Spark streams have a fixed row schema, so DDL events surface on a
    * SEPARATE control stream (see CdcSchemaHistory) rather than widening
    * data rows mid-stream. Default: none. */
  def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] =
    Iterator.empty

  /** Opaque RESUME TOKEN marking the upstream position at which every event
    * with offset <= `upTo` has been delivered — the MongoDB change-stream
    * resume contract (each event carries a resume token `_id`; a restarted
    * stream passes the last-processed token as `resumeAfter` and the server
    * resumes strictly AFTER it — reference
    * mongodb/internal/MongoDBConnectorSourceTask.java's resume flow). A
    * caller persists the token next to its checkpoint and hands it back to
    * the provider on restart (constructor/config): the upstream then skips
    * everything at or before the token — no replay over the wire, no loss —
    * instead of re-shipping history the checkpoint already committed.
    * `None` = this provider has no upstream subscription to resume
    * (file/JDBC providers re-read their store by offset instead, which is
    * already replay-free). */
  def resumeToken(upTo: Long): Option[String] = None

  /** Planning-time configuration check (reference MySqlValidator.java:65-138:
    * server version >= 5.6, binlog_format=ROW, row image FULL — all probed
    * BEFORE any split is planned). A provider verifies its prerequisites —
    * store reachable, declared tables/columns present, log tail readable —
    * and throws [[ValidationException]] with an actionable message.
    * Misconfiguration must fail loudly at planning, not surface as a
    * silently-wrong changelog mid-read. Default: nothing to check
    * (in-memory/test providers). */
  def validate(): Unit = ()
}

/** Loud planning-time failure from [[ChangeLogProvider.validate]] — the
  * analogue of the reference's org.apache.flink.table.api.ValidationException
  * thrown by MySqlValidator. */
final class ValidationException(msg: String, cause: Throwable = null)
  extends IllegalStateException(s"cdc-log validation failed: $msg", cause)

/** An iterator holding an OS resource (file handle, connection): readers
  * close it on early termination (Spark can drop a PartitionReader before
  * exhaustion — e.g. a pushed limit); exhaustion also releases it. */
final class CloseableIterator[T](under: Iterator[T], res: AutoCloseable)
  extends Iterator[T] with AutoCloseable {
  override def hasNext: Boolean = under.hasNext
  override def next(): T = under.next()
  override def close(): Unit = res.close()
}

/** Deterministic in-memory provider: a base table state + a scripted
  * mutation log. The workhorse for tests and the synthetic correctness
  * fixtures (SURVEY.md §7.2 `SyntheticProvider`).
  *
  * `baseAt` simulates a store whose snapshot reads race with writers: a
  * chunk read "sees" the state as of `staleOffset`, so the source's
  * normalize step must fold the remaining log — exercising the real
  * watermark-bracket path, not a shortcut.
  */
final class InMemoryChangeLogProvider(
    meta: TableMeta,
    base: Seq[Array[Any]],
    initialLog: Seq[LogRecord],
    staleOffset: Long = 0L)
  extends ChangeLogProvider {

  // growable so streaming tests/demos can append mutations mid-stream
  // (the moral equivalent of the ITCases' "mutate DB via JDBC" step,
  // mysql/table/MySqlConnectorITCase.java:195-207)
  private val logBuf = scala.collection.mutable.ArrayBuffer[LogRecord](initialLog: _*)
  def append(recs: LogRecord*): Unit = synchronized { logBuf ++= recs }
  private def logRecords: Seq[LogRecord] = synchronized { logBuf.toSeq }

  private val keyIdxs = meta.primaryKey.map(meta.schema.fieldIndex)
  private def keyOf(r: Array[Any]): ChunkKey.Key = ChunkKey.of(keyIdxs.map(r): _*)

  override def tables: Seq[TableMeta] = Seq(meta)
  override def currentOffset: Long =
    if (logRecords.isEmpty) 0L else logRecords.map(_.offset).max

  /** State of the table after applying log records with offset <= upTo. */
  def stateAt(upTo: Long): Seq[Array[Any]] = {
    val m = mutable.LinkedHashMap.empty[ChunkKey.Key, Array[Any]]
    base.foreach(r => m.put(keyOf(r), r))
    logRecords.filter(_.offset <= upTo).sortBy(_.offset).foreach { rec =>
      rec.op match {
        case ChangeOp.Create | ChangeOp.Update => m.put(keyOf(rec.after), rec.after)
        case ChangeOp.Delete                   => m.remove(keyOf(rec.before))
        case _                                 => ()
      }
    }
    m.values.toSeq
  }

  override def keyBounds(table: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = {
    import ChunkKey.ordering
    val keys = stateAt(staleOffset).map(keyOf)
    if (keys.isEmpty) (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
    else (keys.min, keys.max, keys.size.toLong)
  }

  override def nextChunkEnd(table: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] = {
    import ChunkKey.ordering
    val keys = stateAt(staleOffset).map(keyOf)
      .filter(ChunkKey.compare(_, from) >= 0).sorted.take(chunkSize)
    if (keys.size < chunkSize) None else Some(keys.last)
  }

  override def snapshotBase(table: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) =
    (staleOffset, stateAt(staleOffset).iterator.filter(r => range.contains(keyOf(r))))

  override def log(table: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord] =
    logRecords.iterator
      .filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
      .toSeq.sortBy(_.offset).iterator
}

/** Forwarding base for WRAPPER providers: every SPI member delegates to
  * [[delegate]] after [[beforeCall]] (a hook for async-failure
  * propagation, the Handover error contract). A wrapper extends this and
  * overrides ONLY what it changes, so a future SPI addition — whose
  * forwarding override is added here, next to the SPI — can never
  * silently downgrade a wrapper to the base trait's default. That
  * inherit-the-default class bit twice in round 17 (the JDBC hybrid's
  * range reads and the composite's schemaChanges/validate were
  * hand-delegation gaps, found by inspection); this makes the wrapper
  * shape structural instead of a per-method discipline. */
abstract class ForwardingChangeLogProvider extends ChangeLogProvider {
  protected def delegate: ChangeLogProvider
  /** Runs before EVERY forwarded call — e.g. rethrow a captured engine
    * failure so it surfaces on the next SPI contact. Default: nothing. */
  protected def beforeCall(): Unit = ()
  override def tables: Seq[TableMeta] = { beforeCall(); delegate.tables }
  override def currentOffset: Long = { beforeCall(); delegate.currentOffset }
  override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = {
    beforeCall(); delegate.keyBounds(t)
  }
  override def nextChunkEnd(t: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] = {
    beforeCall(); delegate.nextChunkEnd(t, from, chunkSize)
  }
  override def snapshotBase(t: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) = {
    beforeCall(); delegate.snapshotBase(t, range)
  }
  override def log(t: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord] = {
    beforeCall(); delegate.log(t, fromExclusive, toInclusive)
  }
  override def logForRange(t: TableId, fromExclusive: Long, toInclusive: Long,
      range: SnapshotSplit): Iterator[LogRecord] = {
    beforeCall(); delegate.logForRange(t, fromExclusive, toInclusive, range)
  }
  override def logEventsApprox(t: TableId, fromExclusive: Long, toInclusive: Long): Long = {
    beforeCall(); delegate.logEventsApprox(t, fromExclusive, toInclusive)
  }
  override def logShardBoundaries(t: TableId, fromExclusive: Long,
      toInclusive: Long, n: Int): Seq[ChunkKey.Key] = {
    beforeCall(); delegate.logShardBoundaries(t, fromExclusive, toInclusive, n)
  }
  override def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] = {
    beforeCall(); delegate.schemaChanges(fromExclusive, toInclusive)
  }
  override def resumeToken(upTo: Long): Option[String] = { beforeCall(); delegate.resumeToken(upTo) }
  override def validate(): Unit = { beforeCall(); delegate.validate() }
}

/** Routes per-table calls across several single-table providers — the
  * multi-table / sharding-union capture path (reference regex table
  * discovery, mysql/source/utils/TableDiscoveryUtils.java; ITCase
  * testShardingTablesWithInconsistentSchema,
  * mysql/table/MySqlConnectorITCase.java:1047). */
final class CompositeChangeLogProvider(parts: Seq[ChangeLogProvider]) extends ChangeLogProvider {
  private def owner(t: TableId): ChangeLogProvider =
    parts.find(_.tables.exists(_.id == t)).getOrElse(
      throw new IllegalArgumentException(s"no provider owns $t"))
  override def tables: Seq[TableMeta] = parts.flatMap(_.tables)
  override def currentOffset: Long = parts.map(_.currentOffset).foldLeft(0L)(math.max)
  override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = owner(t).keyBounds(t)
  override def nextChunkEnd(t: TableId, from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] =
    owner(t).nextChunkEnd(t, from, n)
  override def snapshotBase(t: TableId, r: SnapshotSplit): (Long, Iterator[Array[Any]]) =
    owner(t).snapshotBase(t, r)
  override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] =
    owner(t).log(t, from, to)
  // route the RANGE read to the owner too — inheriting the default would
  // silently downgrade a key-indexed part to full-slice scans
  override def logForRange(t: TableId, from: Long, to: Long,
      range: SnapshotSplit): Iterator[LogRecord] =
    owner(t).logForRange(t, from, to, range)
  override def logEventsApprox(t: TableId, from: Long, to: Long): Long =
    owner(t).logEventsApprox(t, from, to)
  override def logShardBoundaries(t: TableId, from: Long, to: Long, n: Int): Seq[ChunkKey.Key] =
    owner(t).logShardBoundaries(t, from, to, n)
  // union, not default-empty: a composite of file parts would otherwise
  // silently LOSE schema_log.jsonl DDL events (the same inherit-the-default
  // downgrade class as logForRange above)
  override def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] =
    parts.iterator.flatMap(_.schemaChanges(fromExclusive, toInclusive))
  // every part's planning-time prerequisites, not the no-op default — a
  // misconfigured shard must fail the union's planning loudly
  override def validate(): Unit = parts.foreach(_.validate())
}

/** Cross-JVM-safe registry so tests and demos can hand a live provider to
  * the DSv2 source through string options (local mode shares one JVM; on a
  * real cluster a FileChangeLogProvider or JDBC provider is used instead). */
object ProviderRegistry {
  private val providers = new java.util.concurrent.ConcurrentHashMap[String, ChangeLogProvider]()
  def register(name: String, p: ChangeLogProvider): Unit = providers.put(name, p)
  def get(name: String): ChangeLogProvider = {
    val p = providers.get(name)
    require(p != null, s"no ChangeLogProvider registered under '$name'")
    p
  }
}
