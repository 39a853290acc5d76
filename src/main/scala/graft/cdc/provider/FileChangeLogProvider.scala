package graft.cdc.provider

import com.fasterxml.jackson.databind.JsonNode
import graft.cdc._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Append-only change-log-on-files provider (SURVEY.md §7.2
  * `FileLogProvider`): one directory per table
  *
  * {{{
  * <root>/<db>.<table>/meta.json       {"db","table","primaryKey":[..],
  *                                      "schema":"id BIGINT, name STRING",
  *                                      "baseOffset":N}
  * <root>/<db>.<table>/snapshot.jsonl  one JSON object per base row
  * <root>/<db>.<table>/log.jsonl       {"offset","op","tsMs","before","after"}
  * }}}
  *
  * Access is INDEXED ([[IndexedJsonlProvider]] over [[JsonlIndex]], shared
  * with the Debezium-envelope provider): the first touch of a table builds,
  * in one streaming pass per file, byte-offset indexes — snapshot entries
  * sorted by chunk key, log entries sorted by offset and by (chunk key,
  * offset). Every later probe or chunk read binary-searches an index and
  * seeks straight to its rows, so a plan of C chunks costs one scan + C
  * range reads instead of C full rescans. Indexes are cached per JVM: the
  * driver builds one for planning, each executor at most one for its reads.
  *
  * Files may grow between micro-batches (a live tail appending while a
  * stream runs): an append extends the cached indexes by parsing only the
  * appended bytes; any other change rebuilds them — append-only is the
  * file contract. A final log line still missing its newline (a writer
  * caught mid-append) is skipped until its newline lands. */
final class FileChangeLogProvider(root: String) extends IndexedJsonlProvider(root) {

  private[provider] case class TableFiles(meta: TableMeta, baseOffset: Long, dir: String)
      extends JsonlTable {
    def snapshotFile: String = s"$dir/snapshot.jsonl"
    def logFile: String = s"$dir/log.jsonl"
  }
  private[provider] type Table = TableFiles

  @transient private lazy val tableFiles: Seq[TableFiles] = {
    val dirs = Files.list(Paths.get(root)).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq.sortBy(_.getFileName.toString)
    dirs.map { d =>
      val m = mapper.readTree(Files.readString(d.resolve("meta.json")))
      val id = TableId(m.get("db").asText(), m.get("table").asText())
      val pk = m.get("primaryKey").elements().asScala.map(_.asText()).toSeq
      val schema = StructType.fromDDL(m.get("schema").asText())
      TableFiles(TableMeta(id, schema, pk),
        if (m.has("baseOffset")) m.get("baseOffset").asLong() else 0L,
        d.toString)
    }
  }

  private[provider] def jsonlTables: Seq[TableFiles] = tableFiles

  private[provider] override def schemaLabel: String = "declared schema"

  private[provider] def checkDataFiles(tf: TableFiles): Unit =
    if (!Files.exists(Paths.get(tf.snapshotFile)) && !Files.exists(Paths.get(tf.logFile)))
      throw new ValidationException(
        s"table ${tf.meta.id}: neither snapshot.jsonl nor log.jsonl exists in ${tf.dir}")

  // ---- byte-offset indexes (machinery in JsonlIndex) ----------------------

  import JsonlIndex.{FileIndex, cachedAppendOnly, mergeIndex, parseLine}

  /** Snapshot rows by chunk key, INCREMENTAL under append like the log. */
  private[provider] def snapIdx(tf: TableFiles): FileIndex[ChunkKey.Key] =
    cachedAppendOnly[FileIndex[ChunkKey.Key]](tf.snapshotFile, "key") { (prev, lines, len, mtime) =>
      val delta = lines.filter(_._1.nonEmpty).flatMap { case (line, start, blen) =>
        parseLine(mapper, line, start, blen, len)
          .map(n => (keyOf(tf, row(tf.meta.schema, n)), start, blen))
      }.toArray
      mergeIndex(prev.orNull, delta, len, mtime)(ChunkKey.ordering)
    }

  /** Both log indexes — by offset, and by (chunk key, offset) — from ONE
    * parse pass over log.jsonl (the Jackson parse dominates the build),
    * and INCREMENTAL under append: a growing log extends the sorted runs
    * by an O(n + m) merge of just the appended suffix instead of
    * re-parsing the file each probe. The (key, offset) secondary lets a
    * snapshot chunk's catch-up fold read ONLY its own key range's events
    * instead of scanning the full slice — the difference between
    * O(chunks × log) and O(log) total fold work when many chunks share one
    * long slice. */
  private final class LogIdxPair(val off: FileIndex[Long],
      val byKey: FileIndex[(ChunkKey.Key, Long)])

  private def logPair(tf: TableFiles): LogIdxPair =
    cachedAppendOnly[LogIdxPair](tf.logFile, "logpair") { (prev, lines, len, mtime) =>
      val offB = Array.newBuilder[(Long, Long, Int)]
      val keyB = Array.newBuilder[((ChunkKey.Key, Long), Long, Int)]
      lines.foreach { case (line, start, blen) =>
        if (line.nonEmpty) parseLine(mapper, line, start, blen, len).foreach { n =>
          val off = n.get("offset").asLong()
          offB += ((off, start, blen))
          val img = LogRecord.keyImageOf(n.get("op").asText(), n.get("before"), n.get("after"))
          keyB += (((keyOf(tf, row(tf.meta.schema, img)), off), start, blen))
        }
      }
      new LogIdxPair(mergeIndex(prev.map(_.off).orNull, offB.result(), len, mtime),
        mergeIndex(prev.map(_.byKey).orNull, keyB.result(), len, mtime))
    }

  private[provider] def logIdx(tf: TableFiles): FileIndex[Long] = logPair(tf).off

  private[provider] def logKeyIdx(tf: TableFiles): FileIndex[(ChunkKey.Key, Long)] =
    logPair(tf).byKey

  // ---- JSON decode --------------------------------------------------------

  private def decode(v: JsonNode, dt: DataType): Any =
    if (v == null || v.isNull) null
    else dt match {
      case LongType         => v.asLong()
      case IntegerType      => v.asInt()
      case ShortType        => v.asInt().toShort
      case ByteType         => v.asInt().toByte
      case DoubleType       => v.asDouble()
      case FloatType        => v.asDouble().toFloat
      case BooleanType      => v.asBoolean()
      case StringType       => v.asText()
      case TimestampType    => v.asLong() // micros since epoch
      case TimestampNTZType => v.asLong() // micros, unshifted frame
      case DateType         => v.asInt() // epoch days
      case _: DecimalType   => new java.math.BigDecimal(v.asText())
      case BinaryType       => java.util.Base64.getDecoder.decode(v.asText())
      case ArrayType(et, _) =>
        v.elements().asScala.map(decode(_, et)).toSeq
      case MapType(StringType, vt, _) =>
        v.properties().asScala.map(e => e.getKey -> decode(e.getValue, vt)).toMap
      case st: StructType =>
        st.fields.map(f => decode(v.get(f.name), f.dataType)): Array[Any]
      case other => throw new IllegalArgumentException(
        s"file provider cannot decode $other")
    }

  private def row(schema: StructType, node: JsonNode): Array[Any] =
    if (node == null || node.isNull) null
    else schema.fields.map(f => decode(node.get(f.name), f.dataType))

  private[provider] def snapshotRow(tf: TableFiles, line: String): Array[Any] =
    row(tf.meta.schema, mapper.readTree(line))

  /** Log lines carry their own offset, so the index key is not needed. */
  private[provider] def logRecord(tf: TableFiles, line: String, offset: Long): LogRecord = {
    val n = mapper.readTree(line)
    LogRecord(n.get("offset").asLong(), n.get("op").asText(), tf.meta.id,
      row(tf.meta.schema, n.get("before")), row(tf.meta.schema, n.get("after")),
      if (n.has("tsMs")) n.get("tsMs").asLong() else 0L)
  }

  /** Optional `<table dir>/schema_log.jsonl`:
    * {"offset":N,"ddl":"ALTER TABLE ..."} per line — small control files,
    * streamed directly (no index). */
  override def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] =
    tableFiles.iterator.flatMap { tf =>
      JsonlIndex.lines(s"${tf.dir}/schema_log.jsonl").map { case (line, _, _) =>
        val n = mapper.readTree(line)
        (n.get("offset").asLong(), tf.meta.id, n.get("ddl").asText())
      }.filter(e => e._1 > fromExclusive && e._1 <= toInclusive)
    }
}
