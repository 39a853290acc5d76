package graft.cdc.provider

import com.fasterxml.jackson.databind.JsonNode
import graft.cdc._
import org.apache.spark.sql.types._

import java.math.BigInteger
import java.nio.file.{Files, Paths}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Reads the standard Debezium change-event envelope (the wire format every
  * Debezium connector emits to Kafka) from append-ordered JSONL files — the
  * offline-testable equivalent of the reference's embedded-engine wire path
  * (flink-connector-debezium-log/.../DebeziumSourceFunction.java:109,368 and
  * RowDataDebeziumDeserializeSchema.java:264-623): a user who has Debezium
  * topics archived to files (or dumped via kafka-console-consumer) can point
  * the cdc-log source at them directly.
  *
  * Layout — one directory per table:
  * {{{
  * <root>/<db>.<table>/events.jsonl  Debezium envelopes, in capture order:
  *                                   {"schema":{...},"payload":{"before":…,
  *                                    "after":…,"source":{…},"op":"r|c|u|d",
  *                                    "ts_ms":N}}
  *                                   (schema block optional after line 1;
  *                                   bare payload objects also accepted;
  *                                   Kafka tombstones — null payload — skipped)
  * <root>/<db>.<table>/meta.json     {"primaryKey":["id"], optional "db",
  *                                    "table", "schema":"<DDL>" (fallback if
  *                                    no envelope schema block),
  *                                    "offsetField":"lsn" (read the log
  *                                    offset from payload.source.<field>
  *                                    instead of the line index)}
  * }}}
  *
  * The Kafka-Connect/Debezium logical-type battery is mapped to Spark types
  * exactly as the reference's deserializer maps it to Flink types
  * (RowDataDebeziumDeserializeSchema.java:264-623,
  * MySqlDeserializationConverterFactory.java:83-151): Date → DateType
  * (epoch days), Timestamp/MicroTimestamp/NanoTimestamp → TimestampNTZ
  * (micros), ZonedTimestamp → TimestampType, Time/MicroTime → millis/micros
  * of day, connect Decimal → DecimalType from the declared scale/precision
  * parameters (base64 unscaled big-endian bytes), EnumSet → ARRAY<STRING>,
  * geometry → a JSON string carrying wkb+srid, bytes → BinaryType, and
  * nested struct/array/map recursively.
  *
  * Scale contract: access is INDEXED exactly like [[FileChangeLogProvider]]
  * (one shared read path, [[IndexedJsonlProvider]]): the first touch
  * builds, in one streaming pass, byte-offset indexes over events.jsonl —
  * snapshot ('r') entries by chunk key, log entries by offset and by
  * (chunk key, offset) — and every later probe or range read
  * binary-searches and seeks, so a plan
  * of C chunks (or N catch-up shards) costs one scan + C range reads
  * instead of C full rescans. [[keyIndexedLog]] is therefore TRUE on this
  * provider — and, via delegation, on the embedded-engine LIVE-database
  * path — so one hot table's backlog drains through parallel key-range
  * catch-up shards (`scan.log.catchup.shards`) where the reference's
  * BinlogSplitReader.java:194-240 is serial by construction. When the
  * spool grows (a live tail appending mid-stream — append-ordered is the
  * topic contract) the indexes extend from the appended bytes only.
  * Events must be append-ordered (a Debezium topic partition is);
  * snapshot reads are the leading op='r' block with ts_ms forced to 0
  * (RecordUtils.java:197-225 does the same).
  */
final class DebeziumJsonChangeLogProvider(root: String,
    serverTimeZone: String = "UTC") extends IndexedJsonlProvider(root) {

  /** Zone for ZonedTimestamp strings that carry no offset (reference
    * `server-time-zone`, applied in RowDataDebeziumDeserializeSchema.java:
    * 490-512: a server-local rendering is interpreted in the configured
    * server zone before conversion to the engine's UTC timestamp). */
  private val serverZone = java.time.ZoneId.of(serverTimeZone)

  /** One field: declared Spark type + wire decoder for its payload node. */
  private[provider] case class Codec(name: String, dataType: DataType, dec: JsonNode => Any) {
    def decode(n: JsonNode): Any = if (n == null || n.isNull) null else dec(n)
  }

  private[provider] case class TableDir(meta: TableMeta, codecs: Seq[Codec], dir: String,
      offsetField: Option[String]) extends JsonlTable {
    def snapshotFile: String = s"$dir/events.jsonl"
    def logFile: String = snapshotFile
    def baseOffset: Long = 0L
  }
  private[provider] type Table = TableDir

  /** Connect field schema → (Spark type, wire decoder). Logical `name` wins
    * over physical `type`, mirroring the reference converter dispatch. */
  private def codecOf(fs: JsonNode): (DataType, JsonNode => Any) = {
    val typ = fs.get("type").asText()
    val name = if (fs.hasNonNull("name")) fs.get("name").asText() else ""
    def param(k: String): Option[String] =
      Option(fs.get("parameters")).flatMap(p => Option(p.get(k))).map(_.asText())
    name match {
      case "io.debezium.time.Date" => (DateType, _.asInt())
      case "io.debezium.time.Timestamp" => (TimestampNTZType, n => n.asLong() * 1000L)
      case "io.debezium.time.MicroTimestamp" => (TimestampNTZType, _.asLong())
      case "io.debezium.time.NanoTimestamp" =>
        (TimestampNTZType, n => Math.floorDiv(n.asLong(), 1000L))
      case "io.debezium.time.ZonedTimestamp" =>
        (TimestampType, n => {
          val txt = n.asText()
          // offset-carrying strings are absolute; offset-less strings are a
          // server-local rendering → interpret in server-time-zone
          val i =
            try java.time.OffsetDateTime.parse(txt).toInstant
            catch { case _: java.time.format.DateTimeParseException =>
              java.time.LocalDateTime.parse(txt).atZone(serverZone).toInstant }
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)
        })
      case "io.debezium.time.Time" => (IntegerType, _.asInt()) // millis of day
      case "io.debezium.time.MicroTime" => (LongType, _.asLong()) // micros of day
      case "org.apache.kafka.connect.data.Decimal" =>
        val scale = param("scale").map(_.toInt).getOrElse(0)
        val prec = param("connect.decimal.precision").map(_.toInt).getOrElse(38)
        (DecimalType(prec, scale),
          n => new java.math.BigDecimal(new BigInteger(Base64.getDecoder.decode(n.asText())), scale))
      case "io.debezium.data.VariableScaleDecimal" =>
        (DecimalType(38, 18), n => new java.math.BigDecimal(
          new BigInteger(Base64.getDecoder.decode(n.get("value").asText())), n.get("scale").asInt()))
      case "io.debezium.data.Json" | "io.debezium.data.Enum" | "io.debezium.data.Xml" |
           "io.debezium.data.Uuid" => (StringType, _.asText())
      case "io.debezium.data.EnumSet" =>
        (ArrayType(StringType),
          n => if (n.asText().isEmpty) Seq.empty[String] else n.asText().split(",").toSeq)
      case "io.debezium.data.geometry.Geometry" | "io.debezium.data.geometry.Point" =>
        (StringType, n => {
          val srid = if (n.hasNonNull("srid")) n.get("srid").asInt() else 0
          s"""{"wkb":"${n.get("wkb").asText()}","srid":$srid}"""
        })
      case _ => typ match {
        case "int8"    => (ByteType, n => n.asInt().toByte)
        case "int16"   => (ShortType, n => n.asInt().toShort)
        case "int32"   => (IntegerType, _.asInt())
        case "int64"   => (LongType, _.asLong())
        case "float32" => (FloatType, n => n.asDouble().toFloat)
        case "float64" => (DoubleType, _.asDouble())
        case "boolean" => (BooleanType, _.asBoolean())
        case "string"  => (StringType, _.asText())
        case "bytes"   => (BinaryType, n => Base64.getDecoder.decode(n.asText()))
        case "array" =>
          val (et, ed) = codecOf(fs.get("items"))
          (ArrayType(et),
            n => n.elements().asScala.map(e => if (e == null || e.isNull) null else ed(e)).toSeq)
        case "map" =>
          val (vt, vd) = codecOf(fs.get("values"))
          (MapType(StringType, vt), n => n.properties().asScala
            .map(e => e.getKey -> (if (e.getValue.isNull) null else vd(e.getValue))).toMap)
        case "struct" =>
          val sub = fs.get("fields").elements().asScala.toSeq.map { f =>
            val (dt, d) = codecOf(f); Codec(f.get("field").asText(), dt, d)
          }
          (StructType(sub.map(c => StructField(c.name, c.dataType))),
            n => sub.map(c => c.decode(n.get(c.name))).toArray[Any])
        case other => throw new IllegalArgumentException(s"unsupported connect type '$other'")
      }
    }
  }

  /** DDL-fallback decoder (no envelope schema block): plain-JSON physical
    * encodings, same conventions as FileChangeLogProvider. */
  private def plainDec(dt: DataType): JsonNode => Any = dt match {
    case LongType         => _.asLong()
    case IntegerType      => _.asInt()
    case ShortType        => n => n.asInt().toShort
    case ByteType         => n => n.asInt().toByte
    case DoubleType       => _.asDouble()
    case FloatType        => n => n.asDouble().toFloat
    case BooleanType      => _.asBoolean()
    case StringType       => _.asText()
    case TimestampType    => _.asLong()
    case TimestampNTZType => _.asLong()
    case DateType         => _.asInt()
    case _: DecimalType   => n => new java.math.BigDecimal(n.asText())
    case BinaryType       => n => Base64.getDecoder.decode(n.asText())
    case other => throw new IllegalArgumentException(s"no plain decoder for $other")
  }

  /** The `after` struct schemas of EVERY envelope schema block in capture
    * order — the archived-topic half of the reference's continuous schema
    * tracking (MySqlSchema evolving from DDL events, history via
    * debezium/history/FlinkJsonTableChangeSerializer.java): a topic whose
    * producer added a column mid-stream carries a fresh schema block on the
    * first envelope after the change. One streaming pass; the iterator is
    * exhausted, so the fd closes on exhaustion. */
  private def allAfterSchemas(dir: String): Seq[JsonNode] =
    // incremental like the byte indexes (a live tail re-resolves schemas
    // every planning probe — without resumption that is a full file read
    // per batch), with a cheap substring prefilter before the Jackson
    // parse: a line without the literal "schema" anywhere cannot carry a
    // top-level schema block, and a dumped topic's bare-payload lines
    // (the overwhelming majority) don't. False positives (a user column
    // named schema) just pay one parse and filter out below.
    JsonlIndex.cachedAppendOnly(s"$dir/events.jsonl", "schemas") {
      (prev: Option[Vector[JsonNode]], lines, len, _) =>
        prev.getOrElse(Vector.empty) ++ lines.iterator
          .filter(_._1.contains("\"schema\""))
          .flatMap { case (line, start, blen) =>
            JsonlIndex.parseLine(mapper, line, start, blen, len) }
          .flatMap { node =>
            Option(node.get("schema")).filter(!_.isNull).flatMap { sch =>
              sch.get("fields").elements().asScala.find(f => f.get("field").asText() == "after")
            }
          }
    }

  /** Union the after-struct fields across all schema blocks: fields keep
    * first-seen ORDER (old rows stay positionally stable), a field's codec
    * comes from the LAST block mentioning it. A column added mid-file thus
    * appears in the table's current schema; rows written before it decode
    * to null for it (payload lookup is by name), and
    * `schema.evolution.mode=extras` carries it downstream without restart.
    * A TYPE change mid-file takes the new codec — typed promotion of
    * already-read rows still requires restart (F7, README "Known gaps"). */
  private def unionCodecs(blocks: Seq[JsonNode]): Seq[Codec] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Codec]
    blocks.foreach { after =>
      after.get("fields").elements().asScala.foreach { f =>
        val (dt, dec) = codecOf(f)
        acc.put(f.get("field").asText(), Codec(f.get("field").asText(), dt, dec))
      }
    }
    acc.values.toSeq
  }

  /** Table metadata cache keyed by the events files' lengths: an archived
    * topic a tail is still appending to (possibly with new schema blocks)
    * re-resolves on growth, so mid-STREAM drift is picked up at the next
    * planning probe, not just at query start. */
  @transient private var dirCache: (Seq[(String, Long)], Seq[TableDir]) = null

  private def tableDirs: Seq[TableDir] = synchronized {
    val key = Files.list(Paths.get(root)).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq.sortBy(_.getFileName.toString)
      .map { d =>
        val ev = d.resolve("events.jsonl")
        d.toString -> (if (Files.exists(ev)) Files.size(ev) else 0L)
      }
    if (dirCache != null && dirCache._1 == key) dirCache._2
    else {
      val built = buildTableDirs()
      dirCache = (key, built)
      built
    }
  }

  private def buildTableDirs(): Seq[TableDir] = {
    val dirs = Files.list(Paths.get(root)).iterator().asScala
      .filter(Files.isDirectory(_)).toSeq.sortBy(_.getFileName.toString)
    dirs.map { d =>
      val dirName = d.getFileName.toString
      val metaPath = d.resolve("meta.json")
      require(Files.exists(metaPath), s"meta.json (with primaryKey) required for $dirName")
      val m = mapper.readTree(Files.readString(metaPath))
      val fallback = TableId.parse(dirName)
      val id = TableId(
        if (m.hasNonNull("db")) m.get("db").asText() else fallback.db,
        if (m.hasNonNull("table")) m.get("table").asText() else fallback.table)
      val pk = m.get("primaryKey").elements().asScala.map(_.asText()).toSeq
      val blocks = allAfterSchemas(d.toString)
      val codecs: Seq[Codec] =
        if (blocks.nonEmpty) unionCodecs(blocks)
        else {
          require(m.hasNonNull("schema"),
            s"$dirName: no envelope schema block and no meta.json schema DDL")
          StructType.fromDDL(m.get("schema").asText()).fields.toSeq
            .map(f => Codec(f.name, f.dataType, plainDec(f.dataType)))
        }
      TableDir(TableMeta(id, StructType(codecs.map(c => StructField(c.name, c.dataType))), pk),
        codecs, d.toString,
        if (m.hasNonNull("offsetField")) Some(m.get("offsetField").asText()) else None)
    }
  }

  private[provider] def jsonlTables: Seq[TableDir] = tableDirs

  private[provider] def checkDataFiles(t: TableDir): Unit =
    if (!Files.exists(Paths.get(t.logFile)))
      throw new ValidationException(s"table ${t.meta.id}: no events.jsonl in ${t.dir}")

  private case class Ev(offset: Long, op: String, before: Array[Any], after: Array[Any], tsMs: Long)

  /** Data-event op of a payload line: the Debezium 'op' verbatim, or the
    * mapped mongo operationType; null for tombstones and control events
    * (drop/rename/invalidate) — lines that carry no data event and
    * therefore consume no offset. */
  private def opOf(payload: JsonNode): String =
    if (payload == null || payload.isNull) null // Kafka tombstone
    else if (payload.hasNonNull("op")) payload.get("op").asText()
    else if (payload.hasNonNull("operationType"))
      payload.get("operationType").asText() match {
        case "insert"             => ChangeOp.Create
        case "update" | "replace" => ChangeOp.Update
        case "delete"             => ChangeOp.Delete
        case _                    => null // control events
      }
    else null

  /** Per-line offset numbering, shared by [[evOf]]-based passes
    * and [[schemaChanges]] so both streams number the SAME line identically
    * — including MongoDB change-stream lines (operationType, no 'op') and
    * the offsetField-missing error. One instance per pass (carries the
    * line-index counter). */
  private final class OffsetAssigner(t: TableDir, start: Long = 0L) {
    private var logIdx = start
    /** Events numbered so far — persisted by the incremental spool index
      * so an extension leg resumes the ordinal numbering exactly. */
    def count: Long = logIdx
    def opOf(payload: JsonNode): String = DebeziumJsonChangeLogProvider.this.opOf(payload)
    /** Offset of a data-event line (op != null): 0 for snapshot reads,
      * else `offsetField` (source block first, event root second, missing
      * → loud error) or the 1-based index among non-'r' data events. */
    def offsetOf(payload: JsonNode, op: String): Long =
      if (op == ChangeOp.Read) 0L
      else t.offsetField match {
        case Some(f) =>
          val src = payload.get("source")
          val node =
            if (src != null && src.hasNonNull(f)) src.get(f)
            else if (payload.hasNonNull(f)) payload.get(f)
            else throw new IllegalArgumentException(s"offsetField '$f' missing from event")
          node.asLong()
        case None => logIdx += 1; logIdx
      }
  }

  private def decodeRow(t: TableDir, n: JsonNode): Array[Any] =
    if (n == null || n.isNull) null
    else t.codecs.map(c => c.decode(n.get(c.name))).toArray[Any]

  /** Delete before-image in the MongoDB change-streams shape: only the
    * documentKey fields are known — pk columns populated, the rest null
    * (pairs with changelog.mode=upsert's key-only -D rows, reference
    * MongoDBConnectorDeserializationSchema.java:118-163). */
  private def keyOnlyRow(t: TableDir, docKey: JsonNode): Array[Any] =
    if (docKey == null || docKey.isNull) null
    else t.codecs.map(c => if (docKey.has(c.name)) c.decode(docKey.get(c.name)) else null)
      .toArray[Any]

  /** One events.jsonl line → its data event under `assigner`'s numbering;
    * None for tombstones and control lines. Two wire shapes are accepted
    * per line: the Debezium envelope (before/after/source/op) and the raw
    * MongoDB change-stream document (operationType/fullDocument/documentKey
    * — inherently upsert-shaped: updates carry no before-image). Log
    * offsets come from `offsetField` when configured (looked up in the
    * source block, then the event root), else the 1-based index among
    * non-'r' events; snapshot ('r') events sit at offset 0 (the base the
    * log folds over). MUST be called once per line IN FILE ORDER (the
    * line-index numbering is ordinal) — both the index builders and
    * [[schemaChanges]] honor that. */
  private def evOf(t: TableDir, assigner: OffsetAssigner, node: JsonNode): Option[Ev] = {
    val payload = if (node.has("payload")) node.get("payload") else node
    val op = assigner.opOf(payload)
    if (op == null) None // tombstone or mongo control event
    else {
      val offset = assigner.offsetOf(payload, op)
      if (payload.hasNonNull("op")) // Debezium envelope shape
        Some(Ev(offset, op,
          decodeRow(t, payload.get("before")), decodeRow(t, payload.get("after")),
          if (op == ChangeOp.Read) 0L else payload.path("ts_ms").asLong(0L)))
      else // raw MongoDB change-stream shape
        Some(Ev(offset, op,
          if (op == ChangeOp.Delete) keyOnlyRow(t, payload.get("documentKey")) else null,
          if (op == ChangeOp.Delete) null else decodeRow(t, payload.get("fullDocument")),
          payload.path("ts_ms").asLong(0L)))
    }
  }

  // ---- byte-offset indexes (machinery shared with FileChangeLogProvider) --
  //
  // This is what turns keyIndexedLog on for the LIVE-database path — the
  // embedded-engine provider delegates here, so a real tail's backlog can
  // catch up in key-range shards instead of one serial reader.

  import JsonlIndex.{FileIndex, mergeIndex}

  /** Everything one parse of events.jsonl can answer: the three byte
    * indexes (snapshot by chunk key, log by offset, log by (key, offset))
    * plus the schema-block TRANSITIONS (offset of the first data event at
    * or after each changed block, with the block's after-struct JSON).
    * Built in ONE streaming pass — each line is Jackson-parsed once —
    * where the round-17-open code paid one full parse pass PER VARIANT
    * plus another full pass per batch for schemaChanges: 4-5× the spool's
    * bytes where 1× suffices (q145 measured the difference at sf0.1).
    *
    * INCREMENTAL on a live tail: the build resumes from the bytes the
    * previous build consumed ([[JsonlIndex.cachedAppendOnly]]) — the
    * line-index offset counter, the schema state machine, and a pending
    * un-stamped transition all carry across legs, and the sorted index
    * runs extend by an O(n + m) merge. A growing spool therefore costs
    * each planning probe O(appended bytes), not O(file): the full-rebuild
    * cache was quadratic over a stream's life. */
  private final class SpoolIdx(
      val snap: FileIndex[ChunkKey.Key],
      val log: FileIndex[Long],
      val byKey: FileIndex[(ChunkKey.Key, Long)],
      val schemaEv: Array[(Long, String)],
      val logCount: Long,      // resumes the line-index OffsetAssigner
      val lastBlock: String,   // schema machine: last block seen
      val pending: String)     // schema machine: transition awaiting a data event

  private def spoolIdx(t: TableDir): SpoolIdx =
    JsonlIndex.cachedAppendOnly[SpoolIdx](t.logFile, "spool") { (prev, lines, len, mtime) =>
      val assigner = new OffsetAssigner(t, prev.map(_.logCount).getOrElse(0L))
      val snapB = Array.newBuilder[(ChunkKey.Key, Long, Int)]
      val logB = Array.newBuilder[(Long, Long, Int)]
      val keyB = Array.newBuilder[((ChunkKey.Key, Long), Long, Int)]
      val schemaB = Array.newBuilder[(Long, String)]
      // schema-transition state machine — the initial block is the table's
      // schema, not an event; a transition stays pending across tombstone/
      // control lines and stamps the next DATA event's offset
      var lastBlock: String = prev.map(_.lastBlock).orNull
      var pending: String = prev.map(_.pending).orNull
      lines.foreach { case (line, start, blen) =>
        if (line.trim.nonEmpty) JsonlIndex.parseLine(mapper, line, start, blen, len).foreach { node =>
          Option(node.get("schema")).filter(!_.isNull).flatMap { sch =>
            sch.get("fields").elements().asScala.find(_.get("field").asText() == "after")
          }.map(_.toString).foreach { b =>
            if (lastBlock == null) lastBlock = b
            else if (b != lastBlock) { lastBlock = b; pending = b }
          }
          evOf(t, assigner, node).foreach { e =>
            if (pending != null) { schemaB += ((e.offset, pending)); pending = null }
            if (e.op == ChangeOp.Read) snapB += ((keyOf(t, e.after), start, blen))
            else {
              logB += ((e.offset, start, blen))
              keyB += (((keyOf(t, if (e.op == ChangeOp.Delete) e.before else e.after),
                e.offset), start, blen))
            }
          }
        }
      }
      new SpoolIdx(mergeIndex(prev.map(_.snap).orNull, snapB.result(), len, mtime)(ChunkKey.ordering),
        mergeIndex(prev.map(_.log).orNull, logB.result(), len, mtime),
        mergeIndex(prev.map(_.byKey).orNull, keyB.result(), len, mtime),
        prev.map(_.schemaEv).getOrElse(Array.empty[(Long, String)]) ++ schemaB.result(),
        assigner.count, lastBlock, pending)
    }

  /** Snapshot phase: op='r' events sorted by chunk key. */
  private[provider] def snapIdx(t: TableDir): FileIndex[ChunkKey.Key] = spoolIdx(t).snap

  /** Log phase: non-'r' data events sorted by offset. */
  private[provider] def logIdx(t: TableDir): FileIndex[Long] = spoolIdx(t).log

  /** Secondary log index sorted by (chunk key, offset) — deletes keyed on
    * the before-image (the documentKey for the mongo shape). */
  private[provider] def logKeyIdx(t: TableDir): FileIndex[(ChunkKey.Key, Long)] = spoolIdx(t).byKey

  private[provider] def snapshotRow(t: TableDir, line: String): Array[Any] = {
    val node = mapper.readTree(line)
    val payload = if (node.has("payload")) node.get("payload") else node
    decodeRow(t, payload.get("after"))
  }

  /** Decode one PICKED line with its index-known offset (the numbering is
    * ordinal, so it cannot be recomputed from a single line; the fresh
    * assigner's offset is discarded). */
  private[provider] def logRecord(t: TableDir, line: String, offset: Long): LogRecord = {
    val e = evOf(t, new OffsetAssigner(t), mapper.readTree(line)).get // only data events are indexed
    LogRecord(offset, e.op, t.meta.id, e.before, e.after, e.tsMs)
  }

  /** Schema-block TRANSITIONS as control events — the archived-topic form
    * of the reference's schema-change routing (MySqlRecordEmitter.java:
    * 85-97 records DDL into split state; FlinkJsonTableChangeSerializer
    * persists it): an envelope whose after-struct schema differs from the
    * previous one emits (that event's offset, table, the new block as
    * JSON) on the control stream, so CdcSchemaHistory can track when an
    * archived topic drifted. The initial schema is not an event — it is
    * already the table's schema in [[tables]]. */
  override def schemaChanges(fromExclusive: Long, toInclusive: Long): Iterator[(Long, TableId, String)] =
    tableDirs.iterator.flatMap { t =>
      // transitions come from the SAME single parse pass that builds the
      // byte indexes (spoolIdx) — numbering identical to events() by
      // construction; the per-batch probe is an in-memory filter, not a
      // file rescan
      spoolIdx(t).schemaEv.iterator
        .filter(e => e._1 > fromExclusive && e._1 <= toInclusive)
        .map(e => (e._1, t.meta.id, e._2))
    }
}
