package graft.cdc.provider

import graft.cdc._
import org.apache.spark.sql.types._

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet}
import java.util.Properties

/** Hybrid JDBC snapshot + log-tail provider — the working realization of
  * the reference's JDBC scan path: planning probes and chunk range scans
  * are executed as pushed-down SQL over `java.sql.Connection` with
  * fetchSize streaming (reference StatementUtils.java:40-224, streamed
  * result sets :190-224), while change events come from a companion log
  * tail. This is the OceanBase hybrid shape (S9,
  * oceanbase/source/OceanBaseRichSourceFunction.java:213 JDBC snapshot +
  * :282-300 commit-log client): any store reachable by JDBC can be
  * snapshotted in parallel chunks, with the log supplied by whatever tail
  * mechanism exists (file log, message bus, change-stream client).
  *
  * Consistency contract: `snapshotBase` probes the log position (LW)
  * BEFORE executing the chunk scan and reports it as the base offset. Any
  * event committed before the probe is in the base; events racing the scan
  * are re-applied by the reader's catch-up fold, which is idempotent
  * (put/remove by PK — same reasoning as the reference's upsertBinlog
  * replay, RecordUtils.java:138-192). Scans stream through fetchSize-sized
  * batches; per-call memory is O(fetchSize), never O(table).
  *
  * Connections are opened per call and closed when the scan iterator is
  * exhausted (chunk readers always drain their scan). A production
  * deployment would put a connection pool behind `connect` (reference
  * mysql/source/connection/JdbcConnectionPools.java) — the SPI surface is
  * identical.
  */
final class JdbcChangeLogProvider(
    url: String,
    connProps: Properties,
    meta: TableMeta,
    logTail: ChangeLogProvider,
    dialect: JdbcSql.Dialect = JdbcSql.AnsiDialect,
    fetchSize: Int = JdbcSql.DefaultFetchSize) extends ChangeLogProvider {

  require(meta.primaryKey.size == 1,
    "JDBC chunking uses a single split column (reference splitKeyColumn); " +
      "composite-PK tables chunk on their first PK column via a custom provider")
  private val pk = meta.primaryKey.head

  private def connect(): Connection = DriverManager.getConnection(url, connProps)

  private def setKey(ps: PreparedStatement, idx: Int, elem: Any): Unit = elem match {
    case l: Long   => ps.setLong(idx, l)
    case s: String => ps.setString(idx, s)
    case b: scala.collection.immutable.ArraySeq[_] =>
      ps.setBytes(idx, b.asInstanceOf[scala.collection.immutable.ArraySeq[Byte]].toArray)
    case d: Double => ps.setDouble(idx, d)
    case n: java.math.BigDecimal => ps.setBigDecimal(idx, n)
    case other => throw new IllegalArgumentException(s"unsupported key element $other")
  }

  /** JDBC value → the JVM shapes CatalystConverters accepts. */
  private def fromJdbc(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (t: java.sql.Timestamp, TimestampNTZType) => t.toLocalDateTime
    case (b: java.sql.Blob, BinaryType) => b.getBytes(1, b.length().toInt)
    case (c: java.sql.Clob, StringType) => c.getSubString(1, c.length().toInt)
    case _ => v
  }

  override def tables: Seq[TableMeta] = Seq(meta)
  override def currentOffset: Long = logTail.currentOffset

  /** Planning-time prerequisites, mirroring the reference validator's shape
    * (MySqlValidator.java:65-138 probes version/binlog_format/row image
    * before any split exists). The JDBC analogues: the store must be
    * reachable, the declared table must exist with every declared column
    * (a column the scan SQL references but the store lacks would otherwise
    * fail deep inside a chunk task), and the companion log tail must be
    * readable (the binlog_format=ROW analogue: without it there is no
    * usable change stream, only a snapshot). */
  override def validate(): Unit = {
    val c =
      try connect()
      catch { case e: Exception =>
        throw new ValidationException(s"cannot connect to $url: ${e.getMessage}", e) }
    try {
      val rs = c.getMetaData.getColumns(null, meta.id.db, meta.id.table, null)
      val present = scala.collection.mutable.Set.empty[String]
      while (rs.next()) present += rs.getString("COLUMN_NAME").toLowerCase
      if (present.isEmpty)
        throw new ValidationException(
          s"table ${meta.id.db}.${meta.id.table} does not exist at $url " +
            "(or has no columns); create it or fix database-name/table-name")
      val missing = meta.schema.fieldNames.filterNot(f => present.contains(f.toLowerCase))
      if (missing.nonEmpty)
        throw new ValidationException(
          s"table ${meta.id.db}.${meta.id.table} lacks declared columns " +
            s"${missing.mkString(", ")} (present: ${present.toSeq.sorted.mkString(", ")})")
      val off =
        try logTail.currentOffset
        catch { case e: Exception =>
          throw new ValidationException(s"log tail unreachable: ${e.getMessage}", e) }
      if (off < 0)
        throw new ValidationException(s"log tail reports negative offset $off")
    } finally c.close()
  }

  override def keyBounds(table: TableId): (ChunkKey.Key, ChunkKey.Key, Long) = {
    val c = connect()
    try {
      val mm = c.createStatement().executeQuery(JdbcSql.minMaxQuery(table, pk, dialect))
      mm.next()
      val (mn, mx) = (mm.getObject(1), mm.getObject(2))
      val cr = c.createStatement().executeQuery(JdbcSql.countQuery(table, dialect))
      cr.next()
      val cnt = cr.getLong(1)
      if (cnt == 0 || mn == null) (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
      else (ChunkKey.of(mn), ChunkKey.of(mx), cnt)
    } finally c.close()
  }

  override def nextChunkEnd(table: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] = {
    val c = connect()
    try {
      val ps = c.prepareStatement(JdbcSql.chunkBoundaryQuery(table, pk, chunkSize, dialect))
      setKey(ps, 1, from.head)
      val rs = ps.executeQuery()
      rs.next()
      // MAX over the next `chunkSize` keys; when fewer remain the result is
      // the table max, which the planner's (< max) filter turns into the
      // final unbounded chunk — same termination as the reference's uneven
      // split (ChunkSplitter.java:197-245).
      Option(rs.getObject(1)).map(v => ChunkKey.of(v))
    } finally c.close()
  }

  override def snapshotBase(table: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) = {
    // LW probe before the scan (reference MySqlSnapshotSplitReadTask
    // .java:139-147): events <= lw are in the base; racing events are
    // re-applied idempotently by the catch-up fold.
    val lw = logTail.currentOffset
    val c = connect()
    val ps = c.prepareStatement(
      JdbcSql.rangeScanQuery(table, pk, range.start.isDefined, range.end.isDefined, dialect))
    var i = 1
    range.start.foreach { k => setKey(ps, i, k.head); i += 1 }
    range.end.foreach { k => setKey(ps, i, k.head); i += 1 }
    ps.setFetchSize(fetchSize)
    val rs = ps.executeQuery()
    val fields = meta.schema.fields
    val iter = new Iterator[Array[Any]] {
      private var advanced = false
      private var has = false
      private def advance(): Unit = if (!advanced) {
        has = rs.next()
        if (!has) c.close() // end of scan → release the connection
        advanced = true
      }
      override def hasNext: Boolean = { advance(); has }
      override def next(): Array[Any] = {
        advance()
        if (!has) throw new NoSuchElementException
        advanced = false
        fields.indices.map(j => fromJdbc(rs.getObject(j + 1), fields(j).dataType)).toArray
      }
    }
    (lw, iter)
  }

  override def log(table: TableId, fromExclusive: Long, toInclusive: Long): Iterator[LogRecord] =
    logTail.log(table, fromExclusive, toInclusive)

  // Route the RANGE-read probes to the tail too — inheriting the
  // defaults would silently downgrade a key-indexed tail (file log,
  // Debezium spool) to full-slice serial reads on the hybrid path: chunk
  // catch-up folds would rescan the slice per chunk and the catch-up
  // shard planner would get no boundaries, exactly the degradation the
  // CompositeChangeLogProvider comment names (the realistic hybrid
  // deployment IS a JDBC snapshot + a spooled change stream).
  override def logForRange(table: TableId, fromExclusive: Long, toInclusive: Long,
      range: SnapshotSplit): Iterator[LogRecord] =
    logTail.logForRange(table, fromExclusive, toInclusive, range)
  override def logEventsApprox(table: TableId, fromExclusive: Long,
      toInclusive: Long): Long = logTail.logEventsApprox(table, fromExclusive, toInclusive)
  override def logShardBoundaries(table: TableId, fromExclusive: Long,
      toInclusive: Long, n: Int): Seq[ChunkKey.Key] =
    logTail.logShardBoundaries(table, fromExclusive, toInclusive, n)

  override def resumeToken(upTo: Long): Option[String] = logTail.resumeToken(upTo)

  override def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] =
    logTail.schemaChanges(fromExclusive, toInclusive)
}
