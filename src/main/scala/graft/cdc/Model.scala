package graft.cdc

import org.apache.spark.sql.types.StructType

/** Core changelog data model.
  *
  * Mirrors the reference's append-only op-column contract (the fork's one
  * deliberate semantic change vs upstream, see
  * flink-connector-debezium-log/src/main/java/cn/tenmg/cdc/log/debezium/table/RowDataDebeziumDeserializeSchema.java:117-146):
  * every change event carries an explicit op code (c/r/u/d) written as the
  * LAST column of each produced row, and deletes are emitted as plain append
  * rows built from the before-image. Spark Structured Streaming has no
  * retraction rows, so this append-only model maps onto it natively.
  */
object ChangeOp {
  val Create = "c"
  val Read   = "r" // snapshot
  val Update = "u"
  val Delete = "d"
  val all: Set[String] = Set(Create, Read, Update, Delete)
}

/** db.table identity (reference: io.debezium TableId used throughout, e.g.
  * flink-connector-mysql-cdc-log/.../source/utils/TableDiscoveryUtils.java). */
final case class TableId(db: String, table: String) {
  override def toString = s"$db.$table"
}
object TableId {
  def parse(s: String): TableId = s.split('.') match {
    case Array(d, t) => TableId(d, t)
    case _           => TableId("default", s)
  }
}

/** One raw change event in the log, before op-column flattening.
  *
  * `before`/`after` are positional field arrays matching the table schema.
  * `offset` is the total-ordered log position (reference BinlogOffset with
  * isAtOrAfter/isBefore, mysql/source/offset/BinlogOffset.java — our file/
  * synthetic logs use a single monotonically increasing Long).
  * `tsMs` is the source-side commit timestamp (source.ts_ms); snapshot reads
  * carry tsMs=0 (reference RecordUtils.java:197-225 forces ts_ms=0 on
  * snapshot rows so op_ts=0 marks snapshot reads).
  */
final case class LogRecord(
    offset: Long,
    op: String,
    tableId: TableId,
    before: Array[Any],
    after: Array[Any],
    tsMs: Long) {
  /** The image this event routes on by key: [[LogRecord.keyImageOf]]. */
  def keyImage: Array[Any] = LogRecord.keyImageOf(op, before, after)
}

object LogRecord {
  /** The key-routing rule (chunk ranges, catch-up shards, the emit filter,
    * the providers' (key, offset) indexes): a delete's before-image, else the
    * after-image. Generic so an index build can route on undecoded JSON. */
  def keyImageOf[T](op: String, before: T, after: T): T =
    if (op == ChangeOp.Delete) before else after
}

/** Table metadata a provider exposes (schema + primary key). */
final case class TableMeta(id: TableId, schema: StructType, primaryKey: Seq[String])

/** Generalized split-key values: a chunk key is a (possibly composite)
  * vector of orderable scalars — the analogue of the reference's Object[]
  * split keys (RecordUtils.splitKeyRangeContains compares arbitrary
  * Comparable split keys; the varbinary-PK ITCase
  * mysql/table/MySqlConnectorITCase.java:902 exercises binary keys).
  *
  * Elements are normalized at construction (all integrals → Long, byte[] →
  * immutable ArraySeq[Byte]) so keys have value equality/hashing (usable as
  * hash-map keys in [[Normalizer.normalize]]) and one total order per type:
  * signed numeric, lexicographic String, unsigned-lexicographic bytes.
  * Composite keys compare lexicographically element-wise — exactly SQL's
  * ORDER BY (k1, k2, ...) semantics, which is what chunk-range scans
  * generate. */
object ChunkKey {
  type Key = Vector[Any]

  def normalize(v: Any): Any = v match {
    case l: Long                 => l
    case i: Int                  => i.toLong
    case s: Short                => s.toLong
    case b: Byte                 => b.toLong
    case s: String               => s
    case a: Array[Byte]          => scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    case a: scala.collection.immutable.ArraySeq[_] => a
    case d: Double               => d
    case f: Float                => f.toDouble
    case d: java.math.BigDecimal => d
    case other => throw new IllegalArgumentException(
      s"unsupported chunk-key element ${other.getClass}: $other")
  }

  def of(vs: Any*): Key = vs.iterator.map(normalize).toVector

  /** The numeric fast path: Some(long) iff single-element integral key —
    * gates the reference's evenly-distributed arithmetic chunking
    * (ChunkSplitter.java isEvenlySplitColumn: numeric split columns only). */
  def asLong(k: Key): Option[Long] = k match {
    case Vector(l: Long) => Some(l)
    case _               => None
  }

  private def cmpElem(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: scala.collection.immutable.ArraySeq[_], y: scala.collection.immutable.ArraySeq[_]) =>
      // unsigned lexicographic — matches database VARBINARY ordering
      val xa = x.asInstanceOf[scala.collection.immutable.ArraySeq[Byte]]
      val ya = y.asInstanceOf[scala.collection.immutable.ArraySeq[Byte]]
      val n = math.min(xa.length, ya.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(xa(i) & 0xff, ya(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(xa.length, ya.length)
    case _ => throw new IllegalArgumentException(
      s"incomparable chunk-key elements: ${a.getClass} vs ${b.getClass}")
  }

  def compare(a: Key, b: Key): Int = {
    require(a.length == b.length, s"composite key arity mismatch: $a vs $b")
    var i = 0
    while (i < a.length) {
      val c = cmpElem(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  implicit val ordering: Ordering[Key] = (a: Key, b: Key) => compare(a, b)
}

/** A primary-key range [start, end); a None bound is unbounded. The one
  * containment predicate: reference RecordUtils.splitKeyRangeContains, used
  * by chunk reads, catch-up shards and the binlog emit filter at
  * mysql/debezium/reader/BinlogSplitReader.java:212-214. */
sealed trait KeyRange {
  def start: Option[ChunkKey.Key]
  def end: Option[ChunkKey.Key]
  def contains(key: ChunkKey.Key): Boolean =
    start.forall(ChunkKey.compare(key, _) >= 0) && end.forall(ChunkKey.compare(key, _) < 0)
  def contains(key: Long): Boolean = contains(ChunkKey.of(key))
}

/** A snapshot chunk split (reference MySqlSnapshotSplit,
  * mysql/source/split/MySqlSnapshotSplit.java). */
final case class SnapshotSplit(
    tableId: TableId,
    splitId: Int,
    start: Option[ChunkKey.Key],
    end: Option[ChunkKey.Key]) extends KeyRange

/** A finished chunk range plus the high watermark (log offset) it was
  * consistent at: what the streaming offset carries per cohort and what the
  * log-phase emit filter reads (reference FinishedSnapshotSplitInfo,
  * base/source/meta/split/). */
final case class FinishedChunk(start: Option[ChunkKey.Key], end: Option[ChunkKey.Key], hw: Long)
  extends KeyRange
