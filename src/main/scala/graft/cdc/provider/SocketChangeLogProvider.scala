package graft.cdc.provider

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cdc._
import org.apache.spark.sql.types._

import java.io.BufferedInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets

/** A ChangeLogProvider over a live TCP stream of JSONL change events — the
  * proof that the provider SPI carries a genuinely UNBOUNDED non-file
  * source end-to-end through snapshot cohorts and Trigger.AvailableNow.
  * This is the seam a real binlog/oplog client plugs into (What a live
  * MySQL client would be: the reference's embedded-engine thread,
  * DebeziumSourceFunction.java:109-368, feeding its Handover).
  *
  * Architecture = the reference's producer/consumer handover (W5,
  * debezium/internal/Handover.java:52-140) made Spark-shaped:
  *  - a daemon CLIENT THREAD tails the socket, parses one change event per
  *    line ({"offset","op","tsMs","before","after"} — FileChangeLogProvider
  *    conventions), and appends to an in-memory ordered spool;
  *  - SPI calls (currentOffset / log / snapshotBase) serve from the spool
  *    on the caller's thread — planning probes and partition readers never
  *    block on the network;
  *  - an error on the client thread is captured and re-thrown on the next
  *    SPI call (Handover's error-propagation contract, :107-140).
  *
  * RESUME TOKENS (the MongoDB change-stream contract, reference
  * mongodb/internal/MongoDBConnectorSourceTask.java resume flow): the
  * client counts the exact bytes of every delivered line, so
  * [[resumeToken]] returns the stream byte position after the last event
  * at or below a log offset. On (re)connect the client sends one
  * handshake line `RESUME <bytes>` and the server replays strictly after
  * that position — a stopped stream restarts with NO replay over the wire
  * and NO loss, without the provider ever having spooled the skipped
  * history. (Byte offset here plays the role of Mongo's opaque `_id`
  * token; the SPI carries it as an opaque string either way.)
  *
  * By default the source is LOG-ONLY (empty base; `startup.mode=initial`
  * folds the spooled log into its single unbounded chunk), which is
  * exactly what a wire protocol gives you. The spool is retained so
  * `log(from, to)` can replay any slice (micro-batch retries, multi-cohort
  * suppression); a production client would spool to disk/object storage
  * past a retention bound — the SPI surface is identical.
  *
  * ==The full MongoDB lifecycle== (reference
  * mongodb/internal/MongoDBConnectorSourceTask.java: copy-existing
  * snapshot phase → change-stream phase; invalidate → resume):
  *  - `copyExisting = true` asks the server for the collection's CURRENT
  *    documents before streaming (`COPY` handshake → `COPYBEGIN <pos>
  *    <asOfOffset>`, one JSON doc per line, `COPYEND`, then change events
  *    from `<pos>`). The copied docs become a REAL snapshot base
  *    ([[snapshotBase]] at `asOfOffset`, [[keyBounds]]/[[nextChunkEnd]]
  *    planned from them), so the source runs its ordinary chunked
  *    snapshot-then-log flow — Mongo's `copy.existing=true` where history
  *    before the copy is unobtainable from the oplog.
  *  - an `{"op":"invalidate"}` event (collection dropped/renamed — the
  *    server-side end of a Mongo change stream) CLOSES the subscription:
  *    the client records the token just past the invalidate and stops
  *    spooling (later wire bytes are never read — a real Mongo cursor is
  *    dead at this point). Everything already delivered stays servable so
  *    in-flight micro-batches complete; [[invalidated]] then hands the
  *    application the `startAfter` token and a NEW provider life with
  *    `resumeFrom = token` re-subscribes strictly after the invalidate —
  *    no loss, no replay (MongoLifecycleSpec drives all four phases
  *    end-to-end through a checkpointed stream).
  *
  * Lives behind ProviderRegistry (a live socket is not serializable): in
  * local mode readers share the JVM; on a cluster a live-client provider
  * registers per-executor via the `provider.class` path instead. */
final class SocketChangeLogProvider(host: String, port: Int, meta: TableMeta,
    resumeFrom: Option[String] = None, copyExisting: Boolean = false)
  extends ChangeLogProvider with AutoCloseable {

  @transient private val mapper = new ObjectMapper()
  /** (record, stream byte position AFTER its line) in append order. */
  @transient private val spool =
    scala.collection.mutable.ArrayBuffer.empty[(LogRecord, Long)]
  /** Key-sorted view of the spool — the live-wire analogue of the file
    * providers' (chunk key, offset) secondary index: O(log n) insert on
    * append, O(range) range reads, so this provider answers
    * [[logShardBoundaries]] and a hot backlog spooled off the wire can
    * drain through parallel key-range catch-up shards. Records key on
    * [[LogRecord.keyImage]] — the sharded LogReader's routing. Guarded by
    * the same lock as the spool. */
  @transient private val byKey =
    scala.collection.mutable.TreeMap.empty[(ChunkKey.Key, Long), LogRecord](
      Ordering.Tuple2(ChunkKey.ordering, implicitly[Ordering[Long]]))
  @transient @volatile private var failure: Throwable = null
  @transient @volatile private var closed = false

  // copy.existing snapshot phase results (set once by the client thread
  // before copyDone opens; immutable after)
  @transient @volatile private var baseDocs: Array[Array[Any]] = Array.empty
  @transient @volatile private var baseAsOf: Long = 0L
  @transient private val copyDone = new java.util.concurrent.CountDownLatch(1)
  /** `Some(startAfter token)` once the server invalidated the stream. */
  @transient @volatile private var invalidatedTok: Option[String] = None
  /** Stream byte position the change-stream phase started at (resumeBase,
    * or the position the COPY handshake pinned). */
  @transient @volatile private var streamStart: Long = 0L

  private val resumeBase: Long = resumeFrom.map(_.toLong).getOrElse(0L)

  @transient private val socket = new Socket(host, port)

  @transient private val client = new Thread(() => {
    try {
      val out = socket.getOutputStream
      val in = new BufferedInputStream(socket.getInputStream, 1 << 16)
      val buf = new java.io.ByteArrayOutputStream(256)
      // one raw line, NOT counted against the change-stream byte position
      // (copy-phase frames live outside the resumable event stream)
      def readRaw(): String = {
        buf.reset()
        var b = in.read()
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
        if (b == -1 && buf.size() == 0) null
        else new String(buf.toByteArray, StandardCharsets.UTF_8)
      }
      var pos = resumeBase
      if (copyExisting && resumeFrom.isEmpty) {
        // snapshot phase: existing docs first (reference poll() step 1),
        // then change-stream from the position the copy pinned
        out.write("COPY\n".getBytes(StandardCharsets.UTF_8)); out.flush()
        val hdr = readRaw()
        require(hdr != null && hdr.startsWith("COPYBEGIN "),
          s"copy.existing handshake failed, got: $hdr")
        val parts = hdr.trim.split(" ")
        pos = parts(1).toLong
        streamStart = pos
        baseAsOf = parts(2).toLong
        val docs = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        var l = readRaw()
        while (l != null && l.trim != "COPYEND") {
          if (l.trim.nonEmpty) docs += rowOf(mapper.readTree(l))
          l = readRaw()
        }
        require(l != null, "socket closed mid-copy (no COPYEND)")
        baseDocs = docs.toArray
      } else {
        // change-stream phase only: resume strictly after the token
        out.write(s"RESUME $resumeBase\n".getBytes(StandardCharsets.UTF_8))
        out.flush()
      }
      copyDone.countDown()
      var eof = false
      while (!eof && !closed) {
        buf.reset()
        var b = in.read()
        while (b != -1 && b != '\n') { buf.write(b); pos += 1; b = in.read() }
        if (b == '\n') pos += 1
        if (b == -1 && buf.size() == 0) eof = true
        else {
          val line = new String(buf.toByteArray, StandardCharsets.UTF_8)
          if (line.trim.nonEmpty) {
            val node = mapper.readTree(line)
            if (node.get("op").asText() == "invalidate") {
              // the subscription is DEAD (Mongo cursor semantics): record
              // the startAfter token and never read past the invalidate —
              // delivered events stay servable, new bytes do not exist
              // for this provider life
              invalidatedTok = Some(pos.toString)
              eof = true
            } else {
              val rec = parse(node)
              val after = pos
              synchronized {
                require(spool.isEmpty || rec.offset > spool.last._1.offset,
                  s"socket log must be append-ordered: got ${rec.offset} after ${spool.last._1.offset}")
                spool += ((rec, after))
                byKey.put((keyOf(rec.keyImage), rec.offset), rec)
              }
            }
          }
        }
      }
    } catch {
      case _: Throwable if closed => () // normal shutdown race
      case t: Throwable           => failure = t
    } finally copyDone.countDown() // never leave SPI waiters hanging
  }, s"cdc-socket-client-$host:$port")
  client.setDaemon(true)
  client.start()

  private def rowOf(node: JsonNode): Array[Any] =
    if (node == null || node.isNull) null
    else meta.schema.fields.map[Any] { f =>
      val v = node.get(f.name)
      if (v == null || v.isNull) null
      else f.dataType match {
        case LongType    => v.asLong()
        case IntegerType => v.asInt()
        case DoubleType  => v.asDouble()
        case BooleanType => v.asBoolean()
        case StringType  => v.asText()
        case other => throw new IllegalArgumentException(
          s"socket provider demo decodes scalar types only, got $other")
      }
    }

  private def parse(n: JsonNode): LogRecord =
    LogRecord(n.get("offset").asLong(), n.get("op").asText(), meta.id,
      rowOf(n.get("before")), rowOf(n.get("after")),
      if (n.has("tsMs")) n.get("tsMs").asLong() else 0L)

  /** Set once the server ended this change stream (collection drop/rename —
    * Mongo's invalidate event): the value is the `startAfter` resume token.
    * The application's rotation recipe is the reference's: stop the query,
    * build a NEW provider with `resumeFrom = invalidated.get`, re-register,
    * restart from the same checkpoint. */
  def invalidated: Option[String] = { checkFailure(); invalidatedTok }

  private def awaitCopy(): Unit = {
    // planning probes can land right after construction; the copy phase is
    // one in-memory collection scan away, so a bounded wait is safe
    if (!copyDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException(s"copy.existing phase for ${meta.id} timed out")
    checkFailure()
  }

  private def checkFailure(): Unit = {
    val f = failure
    if (f != null) throw new IllegalStateException(
      s"cdc socket client for ${meta.id} died: ${f.getMessage}", f)
  }

  override def tables: Seq[TableMeta] = Seq(meta)

  override def currentOffset: Long = {
    checkFailure()
    if (copyExisting) awaitCopy() // the copy pins the floor (baseAsOf)
    synchronized {
      val tail = if (spool.isEmpty) 0L else spool.last._1.offset
      math.max(tail, baseAsOf)
    }
  }

  /** Byte position after the last delivered event with offset <= upTo —
    * hand it to a new provider's `resumeFrom` to restart without replay.
    * Before anything at or below upTo arrived, the token is the position
    * this client itself resumed from (nothing to skip yet). */
  override def resumeToken(upTo: Long): Option[String] = {
    checkFailure()
    if (copyExisting) awaitCopy() // tokens start at the copy-pinned position
    synchronized {
      val last = spool.reverseIterator.find(_._1.offset <= upTo).map(_._2)
      Some(last.getOrElse(math.max(resumeBase, streamStart)).toString)
    }
  }

  // lazy: the client thread starts during construction and may append (and
  // key) an event before the constructor reaches this declaration
  private lazy val keyIdxs = meta.primaryKey.map(meta.schema.fieldIndex)
  private def keyOf(r: Array[Any]): ChunkKey.Key = ChunkKey.of(keyIdxs.map(r): _*)

  /** Log-only by default (empty base at offset 0; the chunk fold replays
    * the spool). With `copyExisting` the copied documents are the base —
    * real key bounds, real chunk planning. */
  override def keyBounds(table: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = {
    checkFailure()
    if (!copyExisting) (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
    else {
      awaitCopy()
      import ChunkKey.ordering
      val keys = baseDocs.map(keyOf)
      if (keys.isEmpty) (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
      else (keys.min, keys.max, keys.length.toLong)
    }
  }

  override def nextChunkEnd(table: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] =
    if (!copyExisting) None
    else {
      awaitCopy()
      import ChunkKey.ordering
      val keys = baseDocs.map(keyOf)
        .filter(ChunkKey.compare(_, from) >= 0).sorted.take(chunkSize)
      if (keys.length < chunkSize) None else Some(keys.last)
    }

  override def snapshotBase(table: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) = {
    checkFailure()
    // NOTE a resumed provider pairs with a CHECKPOINTED stream (its logPos
    // at or past the token) — the skipped history is never asked for. A
    // fresh query against a resumed provider would fold from empty base and
    // miss pre-token events, same as a fresh Mongo stream with resumeAfter.
    if (!copyExisting) (0L, Iterator.empty)
    else {
      awaitCopy()
      (baseAsOf, baseDocs.iterator.filter(r => range.contains(keyOf(r))))
    }
  }

  override def log(table: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord] =
    synchronized {
      checkFailure()
      // spool is append-ordered; slice eagerly so the iterator needs no lock
      spool.iterator.map(_._1)
        .filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
        .toSeq.iterator
    }

  /** [[byKey]] serves a range read in O(range + log n) — in local mode
    * readers share this JVM (ProviderRegistry), so a spooled hot backlog
    * shards exactly like the file providers'. */
  override def logForRange(table: TableId, fromExclusive: Long, toInclusive: Long,
      range: SnapshotSplit): Iterator[LogRecord] = synchronized {
    checkFailure()
    // TreeMap range is KEY-ordered; re-sort the (bounded) shard slice to
    // honor the ascending-OFFSET contract. Materialized under the lock.
    byKey.rangeImpl(range.start.map((_, Long.MinValue)), range.end.map((_, Long.MinValue)))
      .valuesIterator
      .filter(r => r.offset > fromExclusive && r.offset <= toInclusive)
      .toSeq.sortBy(_.offset).iterator
  }

  /** Exact count via two binary searches over the append-ordered spool. */
  override def logEventsApprox(table: TableId, fromExclusive: Long,
      toInclusive: Long): Long = synchronized {
    checkFailure()
    // first index with offset strictly greater than x (overflow-free)
    def ub(x: Long): Int = {
      var lo = 0
      var hi = spool.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (spool(mid)._1.offset <= x) lo = mid + 1 else hi = mid
      }
      lo
    }
    (ub(toInclusive) - ub(fromExclusive)).toLong
  }

  /** Event-count-weighted shard boundaries from [[byKey]] (see
    * JsonlIndex.shardBoundaries — the TreeMap's key iterator is the
    * (key, offset)-ascending entry source). Computed under the lock;
    * boundaries are immutable values once returned. */
  override def logShardBoundaries(table: TableId, fromExclusive: Long,
      toInclusive: Long, n: Int): Seq[ChunkKey.Key] = synchronized {
    checkFailure()
    JsonlIndex.shardBoundaries(() => byKey.keysIterator, fromExclusive, toInclusive, n)
  }

  override def validate(): Unit = {
    checkFailure()
    if (!client.isAlive && failure == null && !closed)
      throw new ValidationException(s"socket client thread for ${meta.id} is not running")
    val missing = meta.primaryKey.filterNot(meta.schema.fieldNames.contains)
    if (missing.nonEmpty)
      throw new ValidationException(
        s"table ${meta.id}: primaryKey columns ${missing.mkString(", ")} not in schema")
  }

  override def close(): Unit = {
    closed = true
    socket.close()
  }
}
