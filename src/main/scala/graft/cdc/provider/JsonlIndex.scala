package graft.cdc.provider

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cdc._

import java.io.{BufferedInputStream, FileInputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

/** Byte-offset indexing over append-only JSONL files, shared by the
  * file-layout providers ([[FileChangeLogProvider]],
  * [[DebeziumJsonChangeLogProvider]]) through [[IndexedJsonlProvider]].
  *
  * The first touch of a file builds, in one streaming pass, sorted
  * byte-offset indexes (key → [byteStart, byteStart+len)); every later probe
  * or range read binary-searches them and seeks straight to its rows, so a
  * plan of C chunks costs one scan + C range reads instead of C full
  * rescans — the same asymptotic shape as the reference's indexed range
  * scans (mysql/source/utils/StatementUtils.java:132-188, which never
  * rescan the table either). Index memory is O(rows) keys+longs — the
  * archived-topic analogue of a database's PK index; for a table too big
  * for that, use the JDBC provider against a real store instead.
  *
  * Every index lives in ONE JVM-wide cache ([[cachedAppendOnly]]), keyed
  * by file path and variant and validated by the file's length and mtime.
  * Files may grow between micro-batches (a live tail appending while a
  * stream runs): growth after a cleanly terminated scan extends the cached
  * indexes from the appended bytes only; any other change (shrink,
  * same-length rewrite, growth after a newline-less final line) rebuilds
  * from byte 0. Append-only is the file contract. */
private[cdc] object JsonlIndex {

  /** Parallel arrays: entry i spans file bytes [starts(i), starts(i)+lens(i))
    * and sorts by key (chunk key for snapshots, offset for logs). */
  final class FileIndex[K](val fileLen: Long, val fileMtime: Long,
      val keys: Array[AnyRef], val starts: Array[Long], val lens: Array[Int]) {
    def size: Int = starts.length
    def key(i: Int): K = keys(i).asInstanceOf[K]
  }

  /** A (len, mtime)-validated cached value derived from one file: one
    * index, or a COMPOSITE that several index variants build in ONE parse
    * pass (the Debezium spool's snapshot/log/(key,offset) indexes + schema
    * transitions) instead of one full scan per variant — at 100 TB the
    * difference between reading a spool once and reading it four times. */
  final class Blob(val fileLen: Long, val fileMtime: Long, val endPos: Long,
      val cleanEnd: Boolean, val value: AnyRef) {
    @volatile var lastUsed: Long = 0L
  }

  /** JVM-WIDE cache keyed by absolute file path + variant. Each partition
    * task deserializes its own provider instance, so a per-instance cache
    * would rebuild the index once per CHUNK — exactly the O(chunks × file)
    * this index exists to remove. Per-JVM means: one build on the driver
    * for planning, at most one per executor for reads. The cache is
    * bounded to stop long-lived JVMs (test suites over many tmp fixtures)
    * accumulating dead indexes; when full it evicts the least-recently-used
    * entry, not the whole cache (hot entries survive). A file-layout table
    * takes two entries (snapshot index, log index pair), a spool two
    * (indexes, schema blocks). */
  private val blobCache = TrieMap.empty[String, Blob]
  private val MaxCachedFiles = 128
  private val useStamp = new java.util.concurrent.atomic.AtomicLong()

  /** Bytes actually scanned by [[cachedAppendOnly]] builds — test
    * observability for the incremental contract (a tail append must scan
    * ~the appended suffix, not the whole file). */
  private[cdc] val scannedBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Build-or-extend a cached value over an APPEND-ONLY `path`.
    *
    * `build(prev, lines, fileLen, fileMtime)` receives the previous cached
    * value and a scan of ONLY the bytes it has not seen: on first touch
    * (or any non-append change — shrink, same-length mtime change,
    * growth after a newline-less final line) `prev` is None and `lines`
    * covers [0, len); on growth after a cleanly-terminated scan `prev` is
    * the cached value and `lines` covers just the appended suffix. This is
    * what keeps a LIVE tail's per-batch planning cost O(append): the
    * (len,mtime)-keyed full rebuild re-parsed the whole spool every
    * micro-batch — quadratic over the stream's life.
    *
    * The scan is BOUNDED at the length snapshot taken before it starts, so
    * lines appended mid-scan are left for the next probe instead of being
    * double-counted by a later extension. Append-only is the file
    * contract; a rewritten-in-place file that happens to keep growing is
    * detected only via mtime when the length did not grow — the contract
    * violation the scaladoc has always excluded. */
  def cachedAppendOnly[T <: AnyRef](path: String, variant: String)
      (build: (Option[T], Iterator[(String, Long, Int)], Long, Long) => T): T = {
    val abs = Paths.get(path).toAbsolutePath.toString + "#" + variant
    val p = Paths.get(path)
    val exists = Files.exists(p)
    val curLen = if (exists) Files.size(p) else 0L
    val curMtime = if (exists) Files.getLastModifiedTime(p).toMillis else 0L
    blobCache.get(abs) match {
      case Some(b) if b.fileLen == curLen && b.fileMtime == curMtime =>
        b.lastUsed = useStamp.incrementAndGet()
        b.value.asInstanceOf[T]
      case cached =>
        val (prev, from) = cached match {
          case Some(b) if curLen > b.fileLen && b.cleanEnd && b.endPos <= b.fileLen =>
            (Some(b.value.asInstanceOf[T]), b.endPos)
          case _ => (None, 0L)
        }
        val scan = new BoundedScan(path, from, curLen)
        val v = build(prev, scan.lines, curLen, curMtime)
        scannedBytes.addAndGet(scan.endPos - from)
        val b = new Blob(curLen, curMtime, scan.endPos, scan.cleanEnd, v)
        b.lastUsed = useStamp.incrementAndGet()
        if (!blobCache.contains(abs) && blobCache.size >= MaxCachedFiles)
          blobCache.toSeq.minByOption(_._2.lastUsed).foreach(e => blobCache.remove(e._1))
        blobCache.put(abs, b)
        v
    }
  }

  /** The line scanner: (line, byteStart, byteLen) per line of byte window
    * [from, until), byte-accurate (multi-byte UTF-8, optional trailing
    * newline). After drain, `endPos` is the byte after the last newline
    * consumed and `cleanEnd` says whether the window ended ON a newline
    * (the precondition for a later extension to resume at `endPos` — a
    * newline-less final line is still yielded but marks the scan
    * non-resumable). */
  private final class BoundedScan(path: String, from: Long, until: Long) {
    var endPos: Long = from
    var cleanEnd: Boolean = true
    def lines: Iterator[(String, Long, Int)] = {
      if (!Files.exists(Paths.get(path)) || from >= until) return Iterator.empty
      val fis = new FileInputStream(path)
      fis.getChannel.position(from)
      val in = new BufferedInputStream(fis, 1 << 16)
      val buf = new java.io.ByteArrayOutputStream(256)
      var pos = from
      new Iterator[(String, Long, Int)] {
        private var nextEntry: (String, Long, Int) = advance()
        private def advance(): (String, Long, Int) = {
          buf.reset()
          val start = pos
          var b = if (pos < until) in.read() else -1
          while (b != -1 && b != '\n') {
            buf.write(b); pos += 1
            b = if (pos < until) in.read() else -1
          }
          if (b == '\n') {
            pos += 1; endPos = pos; cleanEnd = true
            (new String(buf.toByteArray, StandardCharsets.UTF_8), start, buf.size())
          } else if (buf.size() == 0) { in.close(); null }
          else {
            endPos = pos; cleanEnd = false
            (new String(buf.toByteArray, StandardCharsets.UTF_8), start, buf.size())
          }
        }
        def hasNext: Boolean = nextEntry != null
        def next(): (String, Long, Int) = {
          val v = nextEntry
          nextEntry = if (v == null) null else advance()
          v
        }
      }
    }
  }

  /** Every line of `path`, uncached — for small control files. */
  def lines(path: String): Iterator[(String, Long, Int)] = {
    val p = Paths.get(path)
    new BoundedScan(path, 0L, if (Files.exists(p)) Files.size(p) else 0L).lines
  }

  /** Parse one line of a scan bounded at `fileLen`. The final line of a
    * live file may have no newline yet: a writer's append caught
    * mid-`write` (the file grows page by page). If such a line does not
    * parse it is skipped, not fatal — [[cachedAppendOnly]] marks a scan
    * ending without a newline non-resumable, so the next probe rebuilds and
    * reads the line whole. An unparseable line anywhere else still fails
    * loudly. */
  def parseLine(mapper: ObjectMapper, line: String, start: Long, blen: Int,
      fileLen: Long): Option[JsonNode] =
    try Some(mapper.readTree(line))
    catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException if start + blen == fileLen => None
    }

  /** Merge a sorted [[FileIndex]] (null on a first build) with a
    * (then-sorted) delta: O(n + m) with no re-sort of the old run. Stable
    * (old entries first on equal keys), so extending equals rebuilding. */
  def mergeIndex[K](old: FileIndex[K], delta: Array[(K, Long, Int)], fileLen: Long,
      fileMtime: Long)(implicit ord: Ordering[K]): FileIndex[K] = {
    if (old == null || old.size == 0) return packIndex(fileLen, fileMtime, delta)
    if (delta.isEmpty)
      return new FileIndex[K](fileLen, fileMtime, old.keys, old.starts, old.lens)
    java.util.Arrays.sort(delta,
      Ordering.by[(K, Long, Int), K](_._1): java.util.Comparator[(K, Long, Int)])
    val n = old.size
    val m = delta.length
    val keys = new Array[AnyRef](n + m)
    val starts = new Array[Long](n + m)
    val lens = new Array[Int](n + m)
    var i = 0; var j = 0; var o = 0
    while (i < n && j < m) {
      if (ord.compare(old.key(i), delta(j)._1) <= 0) {
        keys(o) = old.keys(i); starts(o) = old.starts(i); lens(o) = old.lens(i); i += 1
      } else {
        keys(o) = delta(j)._1.asInstanceOf[AnyRef]; starts(o) = delta(j)._2
        lens(o) = delta(j)._3; j += 1
      }
      o += 1
    }
    while (i < n) { keys(o) = old.keys(i); starts(o) = old.starts(i); lens(o) = old.lens(i); i += 1; o += 1 }
    while (j < m) { keys(o) = delta(j)._1.asInstanceOf[AnyRef]; starts(o) = delta(j)._2; lens(o) = delta(j)._3; j += 1; o += 1 }
    new FileIndex[K](fileLen, fileMtime, keys, starts, lens)
  }

  /** Sort-and-pack (key, byteStart, byteLen) entries into a [[FileIndex]]. */
  private def packIndex[K](fileLen: Long, fileMtime: Long,
      entries: Array[(K, Long, Int)])(implicit ord: Ordering[K]): FileIndex[K] = {
    java.util.Arrays.sort(entries,
      Ordering.by[(K, Long, Int), K](_._1): java.util.Comparator[(K, Long, Int)])
    new FileIndex[K](fileLen, fileMtime,
      entries.map(_._1.asInstanceOf[AnyRef]), entries.map(_._2), entries.map(_._3))
  }

  /** First index in [0, n) whose key is >= `key` under `cmp` (lower bound). */
  def lowerBound[K](idx: FileIndex[K], key: K, cmp: (K, K) => Int): Int = {
    var lo = 0
    var hi = idx.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(idx.key(mid), key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** First index in [0, n) whose key is STRICTLY > `key` — the overflow-free
    * way to bound a half-open offset window (count in (from, to] =
    * upperBound(to) - upperBound(from); no +1 that could wrap at
    * Long.MaxValue — the ADVICE_r16 #3 class). */
  def upperBound[K](idx: FileIndex[K], key: K, cmp: (K, K) => Int): Int = {
    var lo = 0
    var hi = idx.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(idx.key(mid), key) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Seek-read the given index entries (in file order) and decode each line
    * with its index key. Contiguous runs — the common case for key-sorted
    * snapshot files — read sequentially through one RandomAccessFile. */
  def readEntries[K, T](path: String, picks: Array[Int], idx: FileIndex[K])
      (f: (String, K) => T): CloseableIterator[T] = {
    if (picks.isEmpty) return new CloseableIterator[T](Iterator.empty, () => ())
    val byPos = picks.sortBy(idx.starts(_))
    val raf = new RandomAccessFile(path, "r")
    val inner = byPos.iterator
    val it = new Iterator[T] {
      // close on exhaustion too (RandomAccessFile#close is idempotent), so
      // non-reader callers that drain the iterator don't leak the fd
      def hasNext: Boolean = { val h = inner.hasNext; if (!h) raf.close(); h }
      def next(): T = {
        val i = inner.next()
        raf.seek(idx.starts(i))
        val bytes = new Array[Byte](idx.lens(i))
        raf.readFully(bytes)
        f(new String(bytes, StandardCharsets.UTF_8), idx.key(i))
      }
    }
    new CloseableIterator(it, () => raf.close())
  }

  /** Interior boundary keys splitting the offset window's events into up to
    * `n` key ranges of ~equal EVENT COUNT, computed from (chunk key,
    * offset)-ASCENDING entries — two in-memory passes, no IO. Shared by
    * every key-indexed provider's
    * [[ChangeLogProvider.logShardBoundaries]] (file/debezium byte indexes
    * pass their index arrays, the socket spool its TreeMap keys). Returns
    * strictly-ascending distinct keys (fewer than n-1 when heavy keys
    * collapse neighbours); empty when the window holds fewer than n
    * events. */
  def shardBoundaries(entries: () => Iterator[(graft.cdc.ChunkKey.Key, Long)],
      fromExclusive: Long, toInclusive: Long, n: Int): Seq[graft.cdc.ChunkKey.Key] = {
    if (n <= 1) return Seq.empty
    var total = 0L
    entries().foreach { case (_, off) =>
      if (off > fromExclusive && off <= toInclusive) total += 1
    }
    if (total < n) return Seq.empty
    // entries are ascending by (key, offset): the c-th windowed entry's key
    // is the c-th smallest event key — boundary k means "shard starts at k"
    val out = Vector.newBuilder[graft.cdc.ChunkKey.Key]
    var last: graft.cdc.ChunkKey.Key = null
    var c = 0L
    var nextTarget = 1
    val it = entries()
    while (it.hasNext && nextTarget < n) {
      val (k, off) = it.next()
      if (off > fromExclusive && off <= toInclusive) {
        if (c == 0L) last = k // boundary must exceed the window's first key
        if (c >= nextTarget * total / n) {
          if (graft.cdc.ChunkKey.compare(k, last) > 0) {
            out += k
            last = k
          }
          nextTarget += 1
        }
        c += 1
      }
    }
    out.result()
  }

  /** [[shardBoundaries]] over a (key, offset)-sorted byte index. */
  def shardBoundaries(idx: FileIndex[(graft.cdc.ChunkKey.Key, Long)],
      fromExclusive: Long, toInclusive: Long, n: Int): Seq[graft.cdc.ChunkKey.Key] =
    shardBoundaries(() => Iterator.tabulate(idx.size)(idx.key),
      fromExclusive, toInclusive, n)
}

/** One table of a byte-indexed JSONL layout. */
private[cdc] trait JsonlTable {
  def meta: TableMeta
  /** The file the snapshot index seeks into. */
  def snapshotFile: String
  /** The file the two log indexes seek into (may be [[snapshotFile]]). */
  def logFile: String
  /** The log offset the snapshot rows are valid at. */
  def baseOffset: Long
}

/** The index-backed half of the [[ChangeLogProvider]] SPI, written once
  * for every layout that answers it from [[JsonlIndex]] byte indexes
  * ([[FileChangeLogProvider]], [[DebeziumJsonChangeLogProvider]]). A
  * layout supplies table discovery, its three indexes per table, two line
  * decoders and its data-file check. The lookups are this one code, so
  * both layouts answer a re-asked offset range (a restarted stream
  * replaying its uncommitted batch) identically. */
private[cdc] abstract class IndexedJsonlProvider(root: String) extends ChangeLogProvider {
  import JsonlIndex.{FileIndex, lowerBound, readEntries, upperBound}

  /** The layout's table handle. */
  private[provider] type Table <: JsonlTable

  protected val mapper = new ObjectMapper()

  /** Every table under the root; may throw on unreadable metadata. */
  private[provider] def jsonlTables: Seq[Table]
  /** Snapshot rows sorted by chunk key. */
  private[provider] def snapIdx(t: Table): FileIndex[ChunkKey.Key]
  /** Log events sorted by offset. */
  private[provider] def logIdx(t: Table): FileIndex[Long]
  /** Log events sorted by (chunk key, offset): deletes key on the
    * before-image, everything else on the after-image — the sharded log
    * reader's routing. */
  private[provider] def logKeyIdx(t: Table): FileIndex[(ChunkKey.Key, Long)]
  /** One snapshot line → its row. */
  private[provider] def snapshotRow(t: Table, line: String): Array[Any]
  /** One log line → its record; `offset` is the line's index key. */
  private[provider] def logRecord(t: Table, line: String, offset: Long): LogRecord
  /** Throws [[ValidationException]] when the table's data files are missing. */
  private[provider] def checkDataFiles(t: Table): Unit
  /** How the missing-primary-key message names the table's schema. */
  private[provider] def schemaLabel: String = "schema"

  private[provider] implicit val keyOffOrd: Ordering[(ChunkKey.Key, Long)] =
    Ordering.Tuple2(ChunkKey.ordering, implicitly[Ordering[Long]])

  private[provider] def keyOf(t: Table, r: Array[Any]): ChunkKey.Key =
    ChunkKey.of(t.meta.primaryKey.map(t.meta.schema.fieldIndex).map(r): _*)

  private def table(id: TableId): Table =
    jsonlTables.find(_.meta.id == id).getOrElse(
      throw new IllegalArgumentException(s"unknown table $id under $root"))

  override def tables: Seq[TableMeta] = jsonlTables.map(_.meta)

  /** Planning-time prerequisites (ChangeLogProvider.validate): the root
    * must be a directory of table dirs with parseable metadata, every
    * primary-key column must exist in its table's schema, and the layout's
    * data files must exist — a typo'd path or a half-written fixture fails
    * here, loudly, instead of planning an empty source. */
  override def validate(): Unit = {
    if (!Files.isDirectory(Paths.get(root)))
      throw new ValidationException(s"provider root '$root' is not a directory")
    val ts =
      try jsonlTables
      catch { case e: Exception =>
        throw new ValidationException(s"unreadable table metadata under $root: ${e.getMessage}", e) }
    if (ts.isEmpty)
      throw new ValidationException(s"no table directories (with meta.json) under $root")
    ts.foreach { t =>
      val missing = t.meta.primaryKey.filterNot(t.meta.schema.fieldNames.contains)
      if (missing.nonEmpty)
        throw new ValidationException(
          s"table ${t.meta.id}: primaryKey columns ${missing.mkString(", ")} " +
            s"not in $schemaLabel ${t.meta.schema.fieldNames.mkString(", ")}")
      checkDataFiles(t)
    }
  }

  override def currentOffset: Long =
    jsonlTables.map { t =>
      val idx = logIdx(t)
      if (idx.size == 0) t.baseOffset else math.max(t.baseOffset, idx.key(idx.size - 1))
    }.foldLeft(0L)(math.max)

  override def keyBounds(id: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = {
    val idx = snapIdx(table(id))
    if (idx.size == 0) (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
    else (idx.key(0), idx.key(idx.size - 1), idx.size.toLong)
  }

  override def nextChunkEnd(id: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] = {
    val idx = snapIdx(table(id))
    val lo = lowerBound[ChunkKey.Key](idx, from, ChunkKey.compare)
    if (idx.size - lo < chunkSize) None
    else Some(idx.key(lo + chunkSize - 1))
  }

  override def snapshotBase(id: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) = {
    val t = table(id)
    val idx = snapIdx(t)
    val lo = range.start.map(lowerBound[ChunkKey.Key](idx, _, ChunkKey.compare)).getOrElse(0)
    val hi = range.end.map(lowerBound[ChunkKey.Key](idx, _, ChunkKey.compare)).getOrElse(idx.size)
    (t.baseOffset,
      readEntries(t.snapshotFile, (lo until hi).toArray, idx)((line, _) => snapshotRow(t, line)))
  }

  /** Offset-window read from the index: two binary searches + seek reads.
    * Ascending-offset order holds because events append in offset order
    * and picked entries read back in file order. (from, to] via strict
    * upper bounds — no +1 that could wrap at Long.MaxValue. */
  override def log(id: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord] = {
    val t = table(id)
    val idx = logIdx(t)
    val lo = upperBound[Long](idx, fromExclusive, java.lang.Long.compare(_, _))
    val hi = upperBound[Long](idx, toInclusive, java.lang.Long.compare(_, _))
    readEntries(t.logFile, (lo until hi).toArray, idx)((line, off) => logRecord(t, line, off))
  }

  /** Key-indexed slice read: binary-search the (key, offset) index to the
    * range, keep offsets in (from, to] — a catch-up shard or chunk fold
    * reads O(its own events), never the full slice its sibling chunks also
    * need. This is what makes the sharded catch-up planner willing to
    * shard these layouts (and the embedded live engine, whose spool
    * delegates here). */
  override def keyIndexedLog(id: TableId): Boolean = true

  /** Exact from the offset index: two binary searches, no IO. */
  override def logEventsApprox(id: TableId, fromExclusive: Long, toInclusive: Long): Long = {
    val idx = logIdx(table(id))
    val lo = upperBound[Long](idx, fromExclusive, java.lang.Long.compare(_, _))
    val hi = upperBound[Long](idx, toInclusive, java.lang.Long.compare(_, _))
    (hi - lo).toLong
  }

  override def logForRange(id: TableId, fromExclusive: Long, toInclusive: Long,
      range: SnapshotSplit): Iterator[LogRecord] = {
    val t = table(id)
    val idx = logKeyIdx(t)
    val cmp = (a: (ChunkKey.Key, Long), b: (ChunkKey.Key, Long)) => keyOffOrd.compare(a, b)
    // coarse bounds (range is [start, end)): entries below start excluded,
    // entries at/after end excluded; exact contains-check follows
    val lo = range.start.map(k =>
      lowerBound[(ChunkKey.Key, Long)](idx, (k, Long.MinValue), cmp)).getOrElse(0)
    val hi = range.end.map(k =>
      lowerBound[(ChunkKey.Key, Long)](idx, (k, Long.MinValue), cmp)).getOrElse(idx.size)
    val picks = (lo until hi).filter { i =>
      val (key, off) = idx.key(i)
      off > fromExclusive && off <= toInclusive && range.contains(key)
    }.toArray
    readEntries(t.logFile, picks, idx)((line, ko) => logRecord(t, line, ko._2))
  }

  /** Event-count-weighted shard boundaries from the (key, offset) index —
    * two in-memory passes, no IO (see JsonlIndex.shardBoundaries). Closes
    * the hot-RANGE skew case snapshot-equalized boundaries degrade on: the
    * planner splits the window by where the LOG's events actually are. */
  override def logShardBoundaries(id: TableId, fromExclusive: Long,
      toInclusive: Long, n: Int): Seq[ChunkKey.Key] =
    JsonlIndex.shardBoundaries(logKeyIdx(table(id)), fromExclusive, toInclusive, n)
}
