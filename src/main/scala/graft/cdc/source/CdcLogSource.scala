package graft.cdc.source

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.cdc._
import graft.cdc.ChunkKey.Key
import graft.cdc.provider.{ChangeLogProvider, FileChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReadMinRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** Resolved source options. Mirrors the reference's table-factory option
  * surface (mysql/source/config/MySqlSourceOptions.java:32-214,
  * mysql/table/StartupOptions.java:39-78) with the same keys where they
  * translate. Serializable — shipped inside every InputPartition. */
final case class CdcOptions(
    providerKind: String, // registry | file | class
    providerArg: String,
    databaseRegex: String,
    tableRegex: String,
    chunkSize: Int,
    startupMode: String, // initial | earliest | latest | timestamp | specific-offset
    startupTimestampMs: Long,
    startupSpecificOffset: Long,
    maxOffsetsPerBatch: Long,
    /** Admission floor: hold a log micro-batch until at least this many
      * offsets are available or `maxTriggerDelayMs` has elapsed since the
      * last non-held batch (the Kafka-source minOffsetsPerTrigger/
      * maxTriggerDelay contract, surfaced as ReadLimit.minRows). 0 = off. */
    minOffsetsPerBatch: Long,
    maxTriggerDelayMs: Long,
    /** Snapshot admission control: at most this many chunks per micro-batch.
      * The analogue of the reference's chunk-meta.group.size bounding
      * (MySqlSourceOptions.java:178-184) — at 100 TB a table plans millions
      * of chunks, and reading them all in ONE batch would make the first
      * batch unbounded. Cohorts read in successive batches each pin their
      * own high watermark; the log phase reconciles via the emit filter. */
    maxChunksPerBatch: Int,
    metadataCols: Seq[String],
    /** "full" = before+after update pairs (MySQL-family, §1.3); "upsert" =
      * no before-images: update → one +U row, delete → key-only -D row —
      * the MongoDB change-streams shape (MongoDBConnectorDeserializationSchema
      * .java:118-163, ChangelogMode without UPDATE_BEFORE). */
    changelogMode: String = "full",
    /** Column-level schema evolution (reference: schema-change events
      * adapt deserialization mid-flight, MySqlRecordEmitter.java:85-97;
      * inconsistent-schema sharding union ITCase MySqlConnectorITCase
      * .java:1047). Spark streams have a FIXED produced schema, so:
      * "strict" (default) = mid-stream schema drift is an error;
      * "extras" = readers re-resolve each table's CURRENT provider schema
      * at read time, map fields by NAME onto the declared schema (dropped
      * columns → null), and carry columns the declared schema lacks in a
      * `_extras MAP<STRING,STRING>` column — no restart, no data loss;
      * restarting the query promotes new columns to physical ones. */
    schemaEvolutionMode: String = "strict",
    /** Zone LOCAL-rendered timestamps from the upstream server are in
      * (reference MySqlSourceOptions.java:71-76, applied in
      * RowDataDebeziumDeserializeSchema.java:490-512): a Debezium
      * ZonedTimestamp string WITHOUT an offset is interpreted in this zone
      * before conversion to Spark's UTC-based TimestampType. */
    serverTimeZone: String = "UTC",
    /** Mid-stream newly-added-table admission (reference
      * scan.newly-added-table.enabled, MySqlSourceOptions.java:211-214).
      * Default TRUE here (deviation from the reference's false, documented:
      * the micro-batch model re-probes the table list for free, no
      * suspend/wakeup RPC needed); `false` pins the query-start table set. */
    newlyAddedTables: Boolean = true,
    /** Distribution-factor bounds for even-vs-uneven chunking (reference
      * split-key.even-distribution.factor.upper/lower-bound,
      * MySqlSourceOptions.java:187-210). */
    distributionFactorUpper: Double = 1000.0,
    distributionFactorLower: Double = 0.05,
    /** Tables the `provider=debezium-embedded` alias declares for capture
      * (parsed from `capture.tables`); empty for every other kind. */
    captureTables: Seq[TableMeta] = Seq.empty,
    /** `debezium.*` options stripped of the prefix (reference
      * DebeziumOptions) — the embedded alias's engine properties.
      * `jdbc.properties.*` is accepted and ignored like any unknown key:
      * no provider here takes a JDBC URL from the options. */
    debeziumProps: Map[String, String] = Map.empty,
    /** CATCH-UP SHARDING — max key-range shards one table's log slice may
      * split into per micro-batch (1 = off, the reference-parity single
      * binlog reader). The reference's BinlogSplitReader.java:194-240 is
      * inherently serial: one task drains a hot table's whole backlog.
      * When the provider answers
      * [[graft.cdc.provider.ChangeLogProvider.logShardBoundaries]] for the
      * window, a bounded catch-up window instead splits into up to this
      * many key-range `LogPartition`s — per-KEY order is preserved because
      * shard ranges partition the keyspace (every key lives in exactly one
      * shard) and each shard's read is offset-ordered; the F4 emit filter
      * is already key-range-aware. This is the 100-TB source-parallelism lever the
      * q92 scale probe names. */
    logCatchupShards: Int = 1,
    /** Floor on the per-shard window: a slice splits into at most
      * (offset span / this) shards — below 2× the floor it stays serial,
      * so planning probes and task overhead never dominate a small
      * steady-state batch, and a medium backlog still gets partial
      * parallelism instead of none. */
    logCatchupMinOffsetsPerShard: Long = 4096L) {

  def resolveProvider(): ChangeLogProvider = providerKind match {
    case "registry" => ProviderRegistry.get(providerArg)
    case "file"     => new FileChangeLogProvider(providerArg)
    case "debezium" =>
      new graft.cdc.provider.DebeziumJsonChangeLogProvider(providerArg, serverTimeZone)
    case "class" => Class.forName(providerArg).getDeclaredConstructor()
      .newInstance().asInstanceOf[ChangeLogProvider]
    case "debezium-embedded" =>
      // one engine per spool root per JVM — resolveProvider runs per
      // planning probe and the provider starts a live engine
      graft.cdc.provider.DebeziumEmbedded.sharedProvider(providerArg, () => {
        val props = new java.util.Properties()
        debeziumProps.foreach { case (k, v) => props.setProperty(k, v) }
        // the engine's instance name is infrastructure, not semantics —
        // default it from the spool root rather than demand debezium.name
        if (props.getProperty("name") == null)
          props.setProperty("name",
            "graft-" + java.lang.Integer.toHexString(providerArg.hashCode))
        new graft.cdc.provider.DebeziumEmbeddedChangeLogProvider(
          captureTables, props, providerArg,
          graft.cdc.provider.DebeziumEmbedded.ddlEngineFactory, serverTimeZone)
      })
    case other => throw new IllegalArgumentException(s"unknown provider kind '$other'")
  }

  def matchedTables(p: ChangeLogProvider): Seq[TableMeta] = {
    val ms = p.tables.filter(t =>
      t.id.db.matches(databaseRegex) && t.id.table.matches(tableRegex))
    require(ms.nonEmpty, s"no tables match database-name='$databaseRegex' table-name='$tableRegex'")
    // extras mode tolerates heterogeneous current schemas (fields map by
    // name onto the declared schema; unmatched ride in _extras) — the
    // inconsistent-schema sharding union
    if (schemaEvolutionMode != "extras")
      require(ms.map(_.schema).distinct.size == 1,
        s"matched tables must share one schema (sharding-union contract): ${ms.map(_.id)}")
    ms
  }
}

object CdcOptions {
  val OpCol = "op"
  val MetaDatabaseName = "database_name"
  val MetaTableName = "table_name"
  val MetaOpTs = "op_ts"
  /** Log position of the event (snapshot rows: the watermark offset the
    * chunk is consistent at). Spark has no RowKind channel, so exact
    * changelog materialization needs the total order as data. */
  val MetaOffset = "op_offset"
  /** Flink RowKind shortString the reference attaches internally
    * (RowDataDebeziumDeserializeSchema.java:121-145): '+I' for c/r and for
    * the fork's delete-as-insert rows, '-U'/'+U' for the update pair —
    * the only way to tell an update's before-image from its after-image. */
  val MetaRowKind = "row_kind"
  /** Carries mid-stream-added columns (name → stringified value) when
    * schema.evolution.mode=extras. */
  val ExtrasCol = "_extras"

  /** Reference keys that imply a live database connection this offline
    * build cannot make — REJECTED loudly (silently accepting them would let
    * a user believe they pointed the source at a server). */
  private val RejectedConnectionKeys = Seq(
    "hostname", "port", "username", "password", "server-id")

  // Unknown keys are accepted, so reference tuning keys with no offline
  // analogue run as no-ops and a ported reference DDL runs unchanged:
  // connect.timeout / connect.max-retries / connection.pool.size — the
  // built-in providers hold no connection pool (files / embedded JDBC);
  // heartbeat.interval — micro-batch heartbeats are free (empty batches
  // advance offsets, F6/W8); scan.snapshot.fetch.size — providers stream
  // with their own fetch sizing (JdbcSql uses the store's streaming mode);
  // scan.startup.specific-offset.file — provider offsets are one
  // total-ordered long, use scan.startup.specific-offset(.pos);
  // scan.incremental.close-idle-reader.enabled — Spark tasks end with
  // their partition, there is no long-lived idle reader to close.

  def from(o: CaseInsensitiveStringMap): CdcOptions = {
    RejectedConnectionKeys.foreach { k =>
      require(!o.containsKey(k),
        s"option '$k' implies a live database wire protocol, which this " +
          "build does not ship (offline). Point the source at a change-log " +
          "store instead: path=<dir> (JSONL or path.format=debezium-json), " +
          "provider.name=<registered>, or provider.class=<impl> (e.g. a " +
          "JDBC provider taking a full JDBC URL).")
    }
    if (o.containsKey("scan.incremental.snapshot.enabled"))
      require(o.getBoolean("scan.incremental.snapshot.enabled", true),
        "scan.incremental.snapshot.enabled=false (the legacy SourceFunction " +
          "path) is not carried over: the incremental snapshot source is the " +
          "only engine here; its single-parallelism mode is the S1 analogue.")
    // provider.name/.class take precedence: the session catalog injects a
    // `path` option (the table's warehouse location) into every
    // `CREATE TABLE ... USING cdc-log`, which must not shadow an explicit
    // provider choice
    val (kind, arg) =
      if (o.containsKey("provider.name")) ("registry", o.get("provider.name"))
      else if (o.containsKey("provider.class")) ("class", o.get("provider.class"))
      else if (o.getOrDefault("connector", "") == "debezium-embedded")
        // first-class live-database alias (S11 parity; `connector` is the
        // reference's own DDL key — other values, e.g. a ported
        // 'mysql-cdc-log', are no-ops since USING cdc-log already selects
        // this source). Spool root is an explicit option or the
        // catalog-injected table location.
        ("debezium-embedded", Option(o.get("spool.root"))
          .orElse(Option(o.get("path"))).getOrElse(throw new IllegalArgumentException(
            "connector=debezium-embedded requires spool.root " +
              "(or a catalog-injected path)")))
      else if (o.containsKey("path"))
        // path.format chooses the on-file wire format: our JSONL layout
        // (default) or archived Debezium envelopes
        (o.getOrDefault("path.format", "jsonl") match {
          case "jsonl"         => "file"
          case "debezium-json" => "debezium"
          case other => throw new IllegalArgumentException(s"unknown path.format '$other'")
        }, o.get("path"))
      else throw new IllegalArgumentException(
        "one of path / provider.name / provider.class is required")
    val meta = Option(o.get("metadata.columns")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val bad = meta.filterNot(Set(MetaDatabaseName, MetaTableName, MetaOpTs, MetaOffset, MetaRowKind))
    require(bad.isEmpty, s"unknown metadata.columns: $bad")
    val tz = o.getOrDefault("server-time-zone", "UTC")
    try java.time.ZoneId.of(tz)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"invalid server-time-zone '$tz': ${e.getMessage}") }
    val debeziumProps = o.asCaseSensitiveMap().asScala.collect {
      case (k, v) if k.startsWith("debezium.") => k.stripPrefix("debezium.") -> v
    }.toMap
    // capture.tables: `db.table|pk1[,pk2]|<schema DDL>` entries joined by
    // ';' — the embedded alias's declaration of what to capture (the same
    // TableMeta contract every provider reads from meta.json)
    val capture: Seq[TableMeta] = Option(o.get("capture.tables")).map { s =>
      s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
        val parts = spec.split("\\|")
        require(parts.length == 3,
          s"capture.tables entry '$spec' must be db.table|pk1[,pk2]|<schema DDL>")
        val dbTable = parts(0).trim.split("\\.", 2)
        require(dbTable.length == 2 && dbTable.forall(_.nonEmpty),
          s"capture.tables entry '$spec': '${parts(0).trim}' is not db.table")
        TableMeta(TableId(dbTable(0), dbTable(1)),
          StructType.fromDDL(parts(2).trim),
          parts(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      }
    }.getOrElse(Seq.empty)
    if (kind == "debezium-embedded")
      require(capture.nonEmpty,
        "connector=debezium-embedded requires capture.tables " +
          "(db.table|pk|<schema DDL>[; ...])")
    CdcOptions(kind, arg,
      o.getOrDefault("database-name", ".*"),
      o.getOrDefault("table-name", ".*"),
      o.getInt("scan.incremental.snapshot.chunk.size", 8096),
      o.getOrDefault("scan.startup.mode", "initial"),
      o.getLong("scan.startup.timestamp-millis", 0L),
      // `.pos` is the reference's two-part (file, pos) form; offsets here
      // are one total-ordered long, so `.pos` aliases the plain key
      o.getLong("scan.startup.specific-offset",
        o.getLong("scan.startup.specific-offset.pos", 0L)),
      o.getLong("scan.log.max-offsets-per-batch", Long.MaxValue),
      o.getLong("scan.log.min-offsets-per-batch", 0L),
      o.getLong("scan.log.max-trigger-delay-ms", 15 * 60 * 1000L),
      o.getInt("scan.snapshot.max-chunks-per-batch",
        o.getInt("chunk-meta.group.size", 1000)),
      meta,
      o.getOrDefault("changelog.mode", "full"),
      o.getOrDefault("schema.evolution.mode", "strict") match {
        case m @ ("strict" | "extras") => m
        case other => throw new IllegalArgumentException(
          s"unknown schema.evolution.mode '$other' (strict | extras)")
      },
      tz,
      o.getBoolean("scan.newly-added-table.enabled", true),
      o.getDouble("split-key.even-distribution.factor.upper-bound", 1000.0),
      o.getDouble("split-key.even-distribution.factor.lower-bound", 0.05),
      capture, debeziumProps,
      {
        val sh = o.getInt("scan.log.catchup.shards", 1)
        require(sh >= 1, s"scan.log.catchup.shards must be >= 1, got $sh")
        sh
      },
      {
        val mo = o.getLong("scan.log.catchup.min-offsets-per-shard", 4096L)
        require(mo >= 1, s"scan.log.catchup.min-offsets-per-shard must be >= 1, got $mo")
        mo
      })
  }

  /** physical ++ op STRING ++ requested metadata — the fork's contract of a
    * trailing op column (reference README.md:38-52,
    * RowDataDebeziumDeserializeSchema.java:125,131,137,143). */
  def producedSchema(physical: StructType, metadataCols: Seq[String],
      extras: Boolean = false): StructType = {
    val metaFields = metadataCols.map {
      case MetaDatabaseName => StructField(MetaDatabaseName, StringType)
      case MetaTableName    => StructField(MetaTableName, StringType)
      case MetaOpTs         => StructField(MetaOpTs, TimestampType)
      case MetaOffset       => StructField(MetaOffset, LongType)
      case MetaRowKind      => StructField(MetaRowKind, StringType)
    }
    val extraFields =
      if (extras) Seq(StructField(ExtrasCol, MapType(StringType, StringType))) else Seq.empty
    StructType((physical.fields.toSeq :+ StructField(OpCol, StringType)) ++ metaFields ++ extraFields)
  }
}

// ---------------------------------------------------------------------------
// Offsets
// ---------------------------------------------------------------------------

/** Streaming offset: snapshot-phase flag + global log position + per-table
  * SNAPSHOT CURSORS + finished COHORT ranges with their high watermarks +
  * the set of tables already incorporated (the Spark analogue of the
  * reference's PendingSplitsState checkpointing,
  * mysql/source/assigners/state/PendingSplitsStateSerializer.java, and its
  * FinishedSnapshotSplitInfo lists shipped to the binlog reader,
  * MySqlHybridSplitAssigner.java:192-220).
  *
  * Scale contract: the offset is O(#tables + #unpruned cohorts), NEVER
  * O(#chunks). A table's snapshot progress is one cursor (the next chunk
  * start; map presence = snapshot pending, None value = start of table);
  * chunks are planned lazily per admission, and a cohort's persisted
  * record is its OUTER range + pinned HW — any contiguous interior
  * re-chunking on replay reads the same union of rows. A 100 TB table at
  * 8k-row chunks is ~12M chunks; persisting ranges (the previous design)
  * put ~12M key pairs in EVERY offset JSON the checkpoint log writes.
  *
  * `finished` entries are dropped per table once logPos passes the table's
  * max high watermark (pure log phase) — the offset shrinks back to a flag
  * and a position, like the reference's binlog split after
  * chunk-meta pruning. */
final case class CdcOffset(
    snapshotDone: Boolean,
    logPos: Long,
    cursors: Map[String, Option[Key]],
    finished: Map[String, Seq[FinishedChunk]] = Map.empty,
    known: Seq[String] = Seq.empty) extends Offset {

  override def json(): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("snapshotDone", snapshotDone)
    root.put("logPos", logPos)
    val ts = root.putObject("cursors")
    cursors.toSeq.sortBy(_._1).foreach { case (t, c) =>
      val arr = ts.putArray(t)
      CdcOffset.writeBound(arr, c)
    }
    val fs = root.putObject("finished")
    finished.toSeq.sortBy(_._1).foreach { case (t, cs) =>
      val arr = fs.putArray(t)
      cs.foreach { c =>
        val e = arr.addArray()
        CdcOffset.writeBound(e, c.start)
        CdcOffset.writeBound(e, c.end)
        e.add(c.hw)
      }
    }
    val ks = root.putArray("known")
    known.sorted.foreach(ks.add)
    m.writeValueAsString(root)
  }
}

object CdcOffset {
  /** Key-element codec: {"l":long} | {"s":string} | {"b":base64} |
    * {"d":double} | {"n":"decimal-string"} — typed so string/binary/
    * composite chunk keys round-trip through the offset log. */
  private[source] def writeBound(arr: ArrayNode, bound: Option[Key]): Unit =
    bound match {
      case None => arr.addNull()
      case Some(k) =>
        val ka = arr.addArray()
        k.foreach {
          case l: Long   => ka.addObject().put("l", l)
          case s: String => ka.addObject().put("s", s)
          case b: scala.collection.immutable.ArraySeq[_] =>
            ka.addObject().put("b", java.util.Base64.getEncoder.encodeToString(
              b.asInstanceOf[scala.collection.immutable.ArraySeq[Byte]].toArray))
          case d: Double => ka.addObject().put("d", d)
          case n: java.math.BigDecimal => ka.addObject().put("n", n.toString)
          case other => throw new IllegalStateException(s"unencodable key elem $other")
        }
    }

  private[source] def readBound(node: JsonNode): Option[Key] =
    if (node.isNull) None
    else Some(node.elements().asScala.map { e =>
      if (e.has("l")) e.get("l").asLong()
      else if (e.has("s")) e.get("s").asText()
      else if (e.has("b")) ChunkKey.normalize(java.util.Base64.getDecoder.decode(e.get("b").asText()))
      else if (e.has("d")) e.get("d").asDouble()
      else if (e.has("n")) new java.math.BigDecimal(e.get("n").asText())
      else throw new IllegalArgumentException(s"bad key elem $e")
    }.toVector)

  /** Codec for executor→driver observed-HW reports (the return path of the
    * reference's FinishedSnapshotSplitsReportEvent carrying per-split high
    * watermarks, mysql/source/reader/MySqlSourceReader.java:275-305):
    * a chunk task that had to adopt a base newer than its cohort's pinned
    * HW ships (table, range, observedHw) back through [[ObservedHwStore]]. */
  def encodeObservedHw(tid: String, start: Option[Key], end: Option[Key], hw: Long): String = {
    val m = new ObjectMapper()
    val arr = m.createArrayNode()
    arr.add(tid)
    writeBound(arr, start)
    writeBound(arr, end)
    arr.add(hw)
    m.writeValueAsString(arr)
  }

  def parseObservedHw(s: String): (String, Option[Key], Option[Key], Long) = {
    val it = new ObjectMapper().readTree(s).elements().asScala.toSeq
    (it.head.asText(), readBound(it(1)), readBound(it(2)), it(3).asLong())
  }

  def parse(json: String): CdcOffset = {
    val root = new ObjectMapper().readTree(json).asInstanceOf[ObjectNode]
    val cursors = root.get("cursors").properties().asScala.map { e =>
      e.getKey -> readBound(e.getValue.elements().asScala.next())
    }.toMap
    val finished =
      if (!root.has("finished")) Map.empty[String, Seq[FinishedChunk]]
      else root.get("finished").properties().asScala.map { e =>
        val cs = e.getValue.elements().asScala.map { t =>
          val it = t.elements().asScala.toSeq
          FinishedChunk(readBound(it(0)), readBound(it(1)), it(2).asLong())
        }.toSeq
        e.getKey -> cs
      }.toMap
    val known =
      if (!root.has("known")) Seq.empty[String]
      else root.get("known").elements().asScala.map(_.asText()).toSeq
    CdcOffset(root.get("snapshotDone").asBoolean(), root.get("logPos").asLong(),
      cursors, finished, known)
  }
}

/** The executor→driver channel for observed-HW raises, kept in the
  * checkpoint like the reference keeps finished-split HWs in split state
  * (MySqlSourceReader.java:275-305): each racing chunk task persists its
  * raise as a tiny sidecar file under the stream's checkpoint location
  * BEFORE the task completes, and the driver reads the sidecar on every
  * `latestOffset`. So a raise survives a driver crash in the window after
  * the chunk batch lands in the commit log but before the next planned
  * offset persists the raised HW — the committed batch is not replayed,
  * and without the raise the log phase would re-emit (pinnedHW,
  * observedHW] as duplicates. Files are content-addressed (SHA-1 of the
  * encoded report), so replayed tasks re-persist idempotently; the driver
  * prunes a file once the log position passes its HW (its suppression
  * window is empty). */
private[cdc] object ObservedHwStore {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path

  def dirOf(checkpointLoc: String): String = s"$checkpointLoc/graft_observed_hws"

  /** Executor-side: durably record one encoded report. `conf` is the
    * DRIVER's hadoop conf shipped via SerializableConfiguration on the
    * reader factory (the same pattern Spark's file-sink committers use) —
    * it carries spark.hadoop.* settings a fresh executor-side
    * Configuration would miss, and guarantees persist resolves the same
    * FileSystem readAndPrune does. */
  def persist(dirStr: String, conf: Configuration, encoded: String): Unit = {
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(encoded.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fin = new Path(dir, s"hw-$sha")
    if (!fs.exists(fin)) {
      val tmp = new Path(dir, s".hw-$sha.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(encoded.getBytes("UTF-8")) finally out.close()
      // write-then-rename so the driver never reads a torn report; losing
      // the rename race to a concurrent attempt is fine (same content)
      if (!fs.rename(tmp, fin)) fs.delete(tmp, true)
    }
  }

  /** Driver-side: all persisted reports, pruning those whose HW the log
    * position has already passed (their suppression window (logPos, hw] is
    * empty — they can never raise anything again). */
  def readAndPrune(dirStr: String, conf: Configuration, logPos: Long): Seq[String] = {
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith("hw-")).flatMap { st =>
      val in = fs.open(st.getPath)
      val encoded = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      if (CdcOffset.parseObservedHw(encoded)._4 <= logPos) {
        fs.delete(st.getPath, false); None
      } else Some(encoded)
    }
  }
}

// ---------------------------------------------------------------------------
// Partitions + readers
// ---------------------------------------------------------------------------

/** One snapshot chunk: read base rows, fold the catch-up log slice up to
  * `upTo` (the cohort's pinned high watermark) — Normalizer.normalize is the
  * reference's RecordUtils.upsertBinlog running inside a Spark partition. */
final case class ChunkPartition(opts: CdcOptions, table: TableId, physical: StructType,
    pk: Seq[String], start: Option[Key], end: Option[Key], upTo: Long) extends InputPartition

/** One log slice (fromExclusive, toInclusive] for one table. Single
  * partition per table = the reference's single binlog reader; per-table
  * parallelism comes from multiplexing tables. `finished` carries the
  * table's finished-chunk infos (range + HW) so the reader can apply the
  * per-chunk emit filter (reference BinlogSplitReader.shouldEmit via
  * FinishedSnapshotSplitInfo) — empty once in pure log phase.
  *
  * `shard`: CATCH-UP SHARDING — when set, this partition reads ONLY the
  * slice's events whose chunk key falls in the range, through the
  * provider's key-indexed `logForRange`; its sibling partitions carry the
  * other ranges of a full disjoint keyspace partition (first start / last
  * end unbounded), so the union over shards is exactly the single-reader
  * slice. Per-KEY order is preserved: each key lives in exactly one shard
  * and a shard's read is offset-ordered — the same guarantee the single
  * reader gives (Spark micro-batch output has no cross-key order either
  * way). This is where the Spark engine beats the reference's design at
  * scale: BinlogSplitReader.java:194-240 drains a hot table's backlog
  * through ONE serial reader by construction. */
final case class LogPartition(opts: CdcOptions, table: TableId, physical: StructType,
    pk: Seq[String], fromExclusive: Long, toInclusive: Long,
    finished: Seq[FinishedChunk] = Seq.empty,
    shard: Option[SnapshotSplit] = None) extends InputPartition

/** `hwDir` (streaming only) is the [[ObservedHwStore]] sidecar a chunk
  * whose base turned out NEWER than the pinned HW reports through — see
  * ChunkReader; `hwConf` is the driver's hadoop conf it is written with. */
final case class CdcReaderFactory(produced: StructType,
    hwDir: Option[String] = None,
    hwConf: Option[org.apache.spark.util.SerializableConfiguration] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ChunkPartition => new ChunkReader(p, produced, hwDir, hwConf)
      case p: LogPartition   => new LogReader(p, produced)
    }
}

/** Converts provider field arrays to InternalRows of the produced schema,
  * appending op + metadata columns. Handles column pruning: `produced` is
  * the (possibly pruned) read schema.
  *
  * `runtime` is the layout of the field arrays actually arriving from the
  * provider — equal to the declared `physical` schema in strict mode, but
  * the table's CURRENT (possibly evolved) schema in
  * schema.evolution.mode=extras: produced columns resolve by NAME against
  * it (dropped columns → null), and runtime columns the declared schema
  * lacks are carried in the `_extras` map (stringified; bytes as base64). */
private[source] final class RowBuilder(physical: StructType, produced: StructType,
    table: TableId, runtime: StructType) {
  def this(physical: StructType, produced: StructType, table: TableId) =
    this(physical, produced, table, physical)
  // for each produced field: Left(runtimeIndex, -1 if dropped) or Right(special)
  private val slots: Array[Either[Int, String]] = produced.fields.map { f =>
    if (physical.fieldNames.contains(f.name)) Left(runtime.fieldNames.indexOf(f.name))
    else Right(f.name)
  }
  private val extraIdx: Array[Int] = runtime.fieldNames.zipWithIndex.collect {
    case (n, i) if !physical.fieldNames.contains(n) => i
  }.toArray
  private val extraNames: Array[UTF8String] =
    extraIdx.map(i => UTF8String.fromString(runtime.fieldNames(i)))
  private val types: Array[DataType] = produced.fields.map(_.dataType)
  private val dbU = UTF8String.fromString(table.db)
  private val tblU = UTF8String.fromString(table.table)

  // full §1.2 battery — see graft.cdc.types.CatalystConverters (the Spark
  // counterpart of RowDataDebeziumDeserializeSchema's converter switch)
  private def toCatalyst(v: Any, dt: DataType): Any =
    graft.cdc.types.CatalystConverters.toCatalyst(v, dt)

  /** Rows logged before an ALTER may be shorter than the current runtime
    * schema — missing tail fields read as null, like the reference's
    * null-padding of pre-DDL events. */
  private def at(fields: Array[Any], i: Int): Any =
    if (i >= 0 && i < fields.length) fields(i) else null

  private def extrasMap(fields: Array[Any]): ArrayBasedMapData = {
    val ks = scala.collection.mutable.ArrayBuffer.empty[Any]
    val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = 0
    while (j < extraIdx.length) {
      val v = at(fields, extraIdx(j))
      if (v != null) {
        ks += extraNames(j)
        vs += UTF8String.fromString(v match {
          case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
          case other          => other.toString
        })
      }
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks.toArray), new GenericArrayData(vs.toArray))
  }

  def build(fields: Array[Any], op: String, tsMs: Long, offset: Long,
      rowKind: String): InternalRow = {
    val out = new Array[Any](slots.length)
    var i = 0
    while (i < slots.length) {
      out(i) = slots(i) match {
        case Left(pi) => toCatalyst(at(fields, pi), types(i))
        case Right(CdcOptions.OpCol)            => UTF8String.fromString(op)
        case Right(CdcOptions.MetaDatabaseName) => dbU
        case Right(CdcOptions.MetaTableName)    => tblU
        case Right(CdcOptions.MetaOpTs)         => tsMs * 1000L // ms → micros
        case Right(CdcOptions.MetaOffset)       => offset
        case Right(CdcOptions.MetaRowKind)      => UTF8String.fromString(rowKind)
        case Right(CdcOptions.ExtrasCol)        => extrasMap(fields)
        case Right(other) => throw new IllegalStateException(s"unknown produced col $other")
      }
      i += 1
    }
    new GenericInternalRow(out)
  }
}

/** What both readers set up per partition: the provider, the row builder
  * over the table's runtime layout, the key of a record, and the release
  * of provider iterators that hold OS resources (file handles,
  * connections) on close() — even if Spark drops the reader before
  * exhaustion (pushed limit, task kill). */
private[source] abstract class TableReader(opts: CdcOptions, table: TableId,
    physical: StructType, pk: Seq[String], produced: StructType)
  extends PartitionReader[InternalRow] {
  protected val provider: ChangeLogProvider = opts.resolveProvider()
  // extras mode: rows arrive in the table's CURRENT layout — re-resolve it
  // here (read time), map by name in the builder
  private val runtime: StructType =
    if (opts.schemaEvolutionMode == "extras")
      provider.tables.find(_.id == table).map(_.schema).getOrElse(physical)
    else physical
  protected val builder = new RowBuilder(physical, produced, table, runtime)
  private val keyIdxs = pk.map(runtime.fieldIndex)
  protected def keyOf(r: Array[Any]): Key = ChunkKey.of(keyIdxs.map(r): _*)
  protected def keyOf(r: LogRecord): Key = keyOf(r.keyImage)

  private var resources: List[AutoCloseable] = Nil
  protected def tracked[T](it: Iterator[T]): Iterator[T] = {
    it match { case c: AutoCloseable => resources ::= c; case _ => () }
    it
  }
  protected def rows: Iterator[InternalRow]
  private var cur: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { cur = rows.next(); true } else false }
  override def get(): InternalRow = cur
  override def close(): Unit = resources.foreach(_.close())
}

final class ChunkReader(p: ChunkPartition, produced: StructType,
    hwDir: Option[String] = None,
    hwConf: Option[org.apache.spark.util.SerializableConfiguration] = None)
  extends TableReader(p.opts, p.table, p.physical, p.pk, produced) {
  protected val rows: Iterator[InternalRow] = {
    val range = SnapshotSplit(p.table, 0, p.start, p.end)
    val (baseOffset, base0) = provider.snapshotBase(p.table, range)
    val base = tracked(base0)
    // Executor-side HW discovery (the reference's per-chunk LW/HW bracket,
    // MySqlSnapshotSplitReadTask.java:124-163, discovered inside the read
    // task). Normally the cohort's planning-time pinned HW bounds the fold
    // and the chunk is byte-deterministic on replay. When commits raced the
    // planning→read window and the provider cannot time-travel, the base
    // arrives NEWER than the pin: the chunk is consistent at baseOffset, so
    // adopt it as this chunk's OBSERVED high watermark. A streaming read
    // persists the raise to the checkpoint sidecar BEFORE this task can
    // complete — the next offset raises this chunk's finished-HW, and the
    // log-phase emit filter then suppresses (pinned, observed] for this
    // range instead of duplicating it. The reference ships the same fact
    // via FinishedSnapshotSplitsReportEvent. A bounded batch read (no
    // hwDir) has no log phase to follow: the chunk simply reflects the
    // newer store state at read time.
    val hwChunk = math.max(baseOffset, p.upTo)
    if (baseOffset > p.upTo) hwDir.foreach { d =>
      // the hadoop conf is the DRIVER's, shipped in the factory: a fresh
      // executor-side Configuration would miss spark.hadoop.* settings
      // (S3A credentials, custom fs impls) and could resolve a different
      // FileSystem than the driver reads
      ObservedHwStore.persist(d,
        hwConf.map(_.value).getOrElse(new org.apache.hadoop.conf.Configuration()),
        CdcOffset.encodeObservedHw(p.table.toString, p.start, p.end, baseOffset))
    }
    // range-aware slice read: a key-indexed provider serves only this
    // chunk's events (O(chunk) instead of O(slice) — the contains filter
    // stays as the correctness backstop for superset-returning providers)
    val catchUp = tracked(provider.logForRange(p.table, baseOffset, hwChunk, range))
      .filter(r => range.contains(keyOf(r)))
    // snapshot rows: op='r', ts forced to 0 (reference RecordUtils.java:197-225)
    Normalizer.normalize(base, catchUp, keyOf(_: Array[Any]))
      .map(builder.build(_, ChangeOp.Read, 0L, hwChunk, "+I"))
  }
}

final class LogReader(p: LogPartition, produced: StructType)
  extends TableReader(p.opts, p.table, p.physical, p.pk, produced) {
  protected val rows: Iterator[InternalRow] = {
    // exactly-once across shards: logForRange may return a SUPERSET of the
    // range (its documented contract) — the contains filter is what makes
    // shard outputs disjoint. Records key on LogRecord.keyImage, like the
    // emit filter below.
    val raw = p.shard match {
      // sharded catch-up: the key-indexed range read serves only this
      // shard's events (O(shard) — the planner only shards when the
      // provider answers logShardBoundaries)
      case Some(r) => tracked(provider.logForRange(p.table, p.fromExclusive, p.toInclusive, r))
        .filter(rec => r.contains(keyOf(rec)))
      case None => tracked(provider.log(p.table, p.fromExclusive, p.toInclusive))
    }
    // F5 timestamp seek (reference SeekBinlogToTimestampFilter.java:62-79)
    val seeked =
      if (p.opts.startupMode == "timestamp") Normalizer.timestampSeek(raw, p.opts.startupTimestampMs)
      else raw
    // F4 per-chunk emit filter (reference BinlogSplitReader.shouldEmit
    // :194-240): drop events already folded into a finished chunk — i.e.
    // offset <= that chunk's high watermark. Cohorts read in later batches
    // have later HWs, so this is what makes multi-batch snapshots (and
    // mid-stream newly-added tables) exactly-once.
    val filtered =
      if (p.finished.isEmpty) seeked
      else {
        val emit = new Normalizer.EmitFilter(p.finished)
        seeked.filter(r => emit.shouldEmit(keyOf(r), r.offset))
      }
    filtered.flatMap { r =>
      r.op match {
        case ChangeOp.Create =>
          Iterator(builder.build(r.after, ChangeOp.Create, r.tsMs, r.offset, "+I"))
        // full mode: update → two rows (before then after), both op='u'
        // (reference RowDataDebeziumDeserializeSchema.java:133-145); RowKind
        // -U/+U rides in the row_kind metadata column when requested.
        // upsert mode (MongoDB change streams, no before-image): one +U row
        // (MongoDBConnectorDeserializationSchema.java:118-163)
        case ChangeOp.Update if p.opts.changelogMode == "upsert" =>
          Iterator(builder.build(r.after, ChangeOp.Update, r.tsMs, r.offset, "+U"))
        case ChangeOp.Update => Iterator(
          builder.build(r.before, ChangeOp.Update, r.tsMs, r.offset, "-U"),
          builder.build(r.after, ChangeOp.Update, r.tsMs, r.offset, "+U"))
        // full mode: delete → append row from the BEFORE image, op='d',
        // RowKind +I — the fork's delete-as-insert semantics
        // (RowDataDebeziumDeserializeSchema.java:127-132).
        // upsert mode: key-only -D row built from the documentKey
        case ChangeOp.Delete =>
          val kind = if (p.opts.changelogMode == "upsert") "-D" else "+I"
          Iterator(builder.build(r.before, ChangeOp.Delete, r.tsMs, r.offset, kind))
        case other => throw new IllegalStateException(s"unexpected op '$other' in log")
      }
    }
  }
}

// ---------------------------------------------------------------------------
// Scan / stream
// ---------------------------------------------------------------------------

final class CdcScan(opts: CdcOptions, physical: StructType, produced: StructType,
    matched: Seq[TableMeta]) extends Scan {
  override def readSchema(): StructType = produced
  override def toBatch: Batch = new CdcBatch(opts, physical, produced, matched)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(opts, physical, produced, matched, Some(checkpointLocation))
  override def description(): String =
    s"cdc-log tables=${matched.map(_.id).mkString(",")} mode=${opts.startupMode}"
}

/** Batch scan = parallel chunked snapshot at the current log position
  * (op='r' rows) — the snapshot phase as a standalone bounded read: one
  * unbounded window per table. Partitions carry the DECLARED scan schema
  * `physical` (not a table's own current schema) because the produced
  * schema derives from it; extras-mode readers re-resolve each table's
  * current layout themselves. */
final class CdcBatch(opts: CdcOptions, physical: StructType, produced: StructType,
    matched: Seq[TableMeta]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val provider = opts.resolveProvider()
    val upTo = provider.currentOffset
    matched.flatMap { tm =>
      CdcPlanner.planSplits(opts, provider, tm).map(sp =>
        ChunkPartition(opts, tm.id, physical, tm.primaryKey, sp.start, sp.end, upTo))
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = CdcReaderFactory(produced)
}

/** Driver-side chunk planning (reference enumerator + ChunkSplitter role):
  * the one place the planner meets the provider's probes. The batch read,
  * cohort admission and cohort replay all plan through [[planWindow]]. */
object CdcPlanner {
  /** [[ChunkSplitter.planWindow]] over `table`'s key bounds and boundary
    * probe, with the chunking options of `opts`. */
  def planWindow(opts: CdcOptions, provider: ChangeLogProvider, table: TableId,
      cursor: Option[Key] = None, maxChunks: Int = Int.MaxValue,
      clampEnd: Option[Option[Key]] = None): (Seq[SnapshotSplit], Option[Key]) = {
    val (mn, mx, cnt) = provider.keyBounds(table)
    ChunkSplitter.planWindow(table, mn, mx, cnt,
      ChunkSplitter.Config(chunkSize = opts.chunkSize,
        distributionFactorUpper = opts.distributionFactorUpper,
        distributionFactorLower = opts.distributionFactorLower),
      (from, sz) => provider.nextChunkEnd(table, from, sz), cursor, maxChunks, clampEnd)
  }

  /** The full plan of one table. */
  def planSplits(opts: CdcOptions, provider: ChangeLogProvider, tm: TableMeta): Seq[SnapshotSplit] =
    planWindow(opts, provider, tm.id)._1
}

/** The driver-side assigner state machine (reference enumerator +
  * MySqlHybridSplitAssigner), expressed as pure offset→offset transitions:
  *
  *  1. snapshot phase: each trigger admits a COHORT of at most
  *     `scan.snapshot.max-chunks-per-batch` pending chunks; the cohort's
  *     high watermark is pinned at admission time and recorded per chunk in
  *     the offset's `finished` list. Cohorts admitted later carry later
  *     HWs — exactly the reference's per-chunk LW/HW brackets, discovered
  *     at the only place Spark's micro-batch model can make deterministic:
  *     offset planning.
  *  2. log phase: the log advances from the initial pin; the per-chunk
  *     emit filter (LogReader) drops events a chunk already folded.
  *     Once logPos passes a table's max HW the table's finished list is
  *     dropped from the offset (pure log phase).
  *  3. newly-added tables (reference W7,
  *     MySqlSourceReader.java:227-271): during the log phase each trigger
  *     re-probes the provider's table list; a new regex-matched table gets
  *     chunks planned and snapshot cohorts admitted mid-stream — its log
  *     events before its HWs are suppressed by the same emit filter. No
  *     restart, no suspend/wakeup RPC: the driver owns both roles.
  */
final class CdcMicroBatchStream(opts: CdcOptions, physical: StructType,
    produced: StructType, matched: Seq[TableMeta],
    checkpointLoc: Option[String] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private lazy val provider = opts.resolveProvider()

  /** The [[ObservedHwStore]] sidecar: the one executor→driver channel for
    * chunk tasks whose base raced past their cohort's pinned HW (see
    * ChunkReader). Every streaming scan has a checkpoint location
    * (CdcScan.toMicroBatchStream); None only for direct offset-API
    * harnesses built without one, whose chunk reads then adopt a racing
    * base like a bounded batch read does. */
  private val hwDir: Option[String] = checkpointLoc.map(ObservedHwStore.dirOf)

  // Option-bound comparisons under range semantics: None = -inf as a
  // range START, +inf as a range END.
  private def startLe(a: Option[Key], b: Option[Key]): Boolean = (a, b) match {
    case (None, _)          => true
    case (_, None)          => false
    case (Some(x), Some(y)) => ChunkKey.compare(x, y) <= 0
  }
  private def endGe(a: Option[Key], b: Option[Key]): Boolean = (a, b) match {
    case (None, _)          => true
    case (_, None)          => false
    case (Some(x), Some(y)) => ChunkKey.compare(x, y) >= 0
  }

  /** Raise finished HWs to executor-observed values so the log phase
    * suppresses exactly what racing chunks already folded. Finished
    * entries are COHORT-granular; a report names one CHUNK inside a
    * cohort, so the raise SPLITS the cohort entry — raising the whole
    * cohort would suppress events its sibling chunks never folded (data
    * loss). Idempotent: a split fragment at the observed HW no longer
    * satisfies `hw < observed`. */
  private def applyObservedHws(s: CdcOffset): CdcOffset = {
    // several reports may name one chunk (a retried task that saw a later
    // base): the max raise wins, and re-applying it is idempotent
    val reports = hwDir.map(d => ObservedHwStore.readAndPrune(d,
      // direct offset-API harnesses (no session on this thread) read the
      // local fs with a fresh Configuration
      sessionHadoopConf().getOrElse(new org.apache.hadoop.conf.Configuration()),
      s.logPos)).getOrElse(Seq.empty)
    if (reports.isEmpty || s.finished.isEmpty) s
    else {
      val raises = reports.map(CdcOffset.parseObservedHw)
        .groupBy(r => (r._1, r._2, r._3))
        .map { case (k, rs) => (k._1, k._2, k._3, rs.map(_._4).max) }
      var fin = s.finished
      raises.foreach { case (tid, cs, ce, hw) =>
        fin.get(tid).foreach { entries =>
          val idx = entries.indexWhere(f =>
            startLe(f.start, cs) && endGe(f.end, ce) && f.hw < hw)
          if (idx >= 0) {
            val f = entries(idx)
            val frags = Seq(
              Option.when(f.start != cs)(FinishedChunk(f.start, cs, f.hw)),
              Some(FinishedChunk(cs, ce, hw)),
              Option.when(f.end != ce)(FinishedChunk(ce, f.end, f.hw))).flatten
            fin = fin.updated(tid, entries.patch(idx, frags, 1))
          }
        }
      }
      s.copy(finished = fin)
    }
  }

  /** The hadoop conf both ends of the [[ObservedHwStore]] sidecar resolve
    * its FileSystem with — the driver reading it, the executors writing it
    * — so they see the same one: the session's, spark.hadoop.* and SQL-conf
    * settings included. None for direct offset-API harnesses without a
    * session. */
  private def sessionHadoopConf(): Option[org.apache.hadoop.conf.Configuration] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())

  /** Trigger.AvailableNow: the bounded catch-up run processes everything
    * up to the log position observed at query start, then stops — the
    * standard CDC backfill pattern. Events committed after preparation are
    * left for the next run; new-table discovery is suspended for the
    * bounded run (it would make "available now" unbounded). */
  @volatile private var availableNowCap: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = provider.currentOffset

  /** Every offset observation — initial pin, cohort high watermarks, log
    * advance — respects the AvailableNow bound, so a write racing the
    * bounded run can neither extend the log phase NOR leak into a
    * snapshot cohort's fold. */
  private def observedOffset(): Long = {
    val o = provider.currentOffset
    if (availableNowCap >= 0) math.min(o, availableNowCap) else o
  }

  private def matchedNow(): Seq[TableMeta] = {
    val ms = opts.matchedTables(provider)
    if (opts.schemaEvolutionMode == "extras")
      // evolved schemas are fine — readers map by name; the pk must survive
      ms.foreach(tm => require(tm.primaryKey.forall(tm.schema.fieldNames.contains),
        s"table ${tm.id} current schema ${tm.schema} lost its primary key ${tm.primaryKey}"))
    else
      ms.foreach(tm => require(tm.schema == physical,
        s"table ${tm.id} schema ${tm.schema} does not match the stream schema $physical " +
          "(sharding-union contract: mid-stream tables must share the declared schema; " +
          "set schema.evolution.mode=extras to tolerate drift)"))
    ms
  }

  override def initialOffset(): Offset = {
    val cur = observedOffset()
    val known = matched.map(_.id.toString)
    opts.startupMode match {
      case "initial" =>
        // one O(1) cursor per table — chunks are planned lazily per cohort
        val cursors = matched.map(tm => tm.id.toString -> (None: Option[Key])).toMap
        CdcOffset(snapshotDone = false, logPos = cur, cursors = cursors, known = known)
      case "earliest"        => CdcOffset(snapshotDone = true, 0L, Map.empty, known = known)
      case "latest"          => CdcOffset(snapshotDone = true, cur, Map.empty, known = known)
      case "timestamp"       => CdcOffset(snapshotDone = true, 0L, Map.empty, known = known)
      case "specific-offset" =>
        CdcOffset(snapshotDone = true, opts.startupSpecificOffset, Map.empty, known = known)
      case other => throw new IllegalArgumentException(s"unknown scan.startup.mode '$other'")
    }
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      if (opts.minOffsetsPerBatch > 0)
        Some(ReadLimit.minRows(opts.minOffsetsPerBatch, opts.maxTriggerDelayMs)) else None,
      if (opts.maxOffsetsPerBatch != Long.MaxValue)
        Some(ReadLimit.maxRows(opts.maxOffsetsPerBatch)) else None).flatten
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Wall-clock of the last non-held log batch — the ReadMinRows
    * maxTriggerDelay reference point (same contract as the Kafka source). */
  @volatile private var lastTriggerMs: Long = System.currentTimeMillis()

  /** Legacy no-arg variant — only called when SupportsAdmissionControl is
    * not consulted; keep it working for direct API users. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = applyObservedHws(start.asInstanceOf[CdcOffset])
    if (!s.snapshotDone) {
      // snapshot phase: plan + admit the next cohort from each table's
      // cursor (lazily — the offset never carries chunk ranges), pin its
      // HW now. A cohort's persisted record is its OUTER range + HW; the
      // interior chunking is re-derived at planInputPartitions.
      val cur = observedOffset()
      var budget = opts.maxChunksPerBatch
      val newCursors = scala.collection.mutable.LinkedHashMap[String, Option[Key]]()
      val newlyFinished = scala.collection.mutable.LinkedHashMap[String, FinishedChunk]()
      s.cursors.toSeq.sortBy(_._1).foreach { case (tid, cursor) =>
        if (budget <= 0) newCursors(tid) = cursor
        else {
          val (chunks, next) =
            CdcPlanner.planWindow(opts, provider, TableId.parse(tid), cursor, budget)
          budget -= chunks.size
          newlyFinished(tid) = FinishedChunk(cursor, next, cur)
          next.foreach(k => newCursors(tid) = Some(k))
        }
      }
      val finished = (s.finished.keySet ++ newlyFinished.keySet).map { tid =>
        tid -> (s.finished.getOrElse(tid, Seq.empty) ++ newlyFinished.get(tid).toSeq)
      }.toMap
      CdcOffset(snapshotDone = newCursors.isEmpty, s.logPos, newCursors.toMap, finished, s.known)
    } else {
      // W7-lite: new regex-matched tables enter mid-stream — plan their
      // chunks; the log is held for one trigger while they snapshot.
      // Suspended under Trigger.AvailableNow (bounded run).
      val newTables =
        if (availableNowCap >= 0 || !opts.newlyAddedTables) Seq.empty
        else matchedNow().filterNot(tm => s.known.contains(tm.id.toString))
      if (newTables.nonEmpty && opts.startupMode == "initial") {
        val cursors = newTables.map(tm => tm.id.toString -> (None: Option[Key])).toMap
        CdcOffset(snapshotDone = false, s.logPos, cursors, s.finished,
          s.known ++ newTables.map(_.id.toString))
      } else {
        val cur = observedOffset()
        // admission cap relative to THIS batch's start offset — applies to
        // the first/catch-up batch too (where it matters most). Saturating
        // add: the default cap is Long.MaxValue. Spark's ReadLimit.maxRows
        // (one log event ≈ one row) composes with the option cap;
        // ReadMinRows holds the batch until enough offsets accumulate or
        // its max delay elapses (ignored under AvailableNow — a bounded
        // run must drain).
        val (minRowsOpt, maxRowsOpt) = limit match {
          case c: CompositeReadLimit =>
            (c.getReadLimits.collectFirst { case m: ReadMinRows => m },
              c.getReadLimits.collectFirst { case m: ReadMaxRows => m })
          case m: ReadMinRows => (Some(m), None)
          case m: ReadMaxRows => (None, Some(m))
          case _              => (None, None)
        }
        val available = math.max(0L, cur - s.logPos)
        val hold = availableNowCap < 0 && minRowsOpt.exists(m =>
          available < m.minRows() &&
            System.currentTimeMillis() - lastTriggerMs < m.maxTriggerDelayMs())
        // a held or unmoved log position runs no batch: the offset stays
        // the start, finished lists included, so their prune lands with
        // the next batch that reads the log
        if (hold || available == 0)
          CdcOffset(snapshotDone = true, s.logPos, Map.empty, s.finished, s.known)
        else {
          lastTriggerMs = System.currentTimeMillis()
          val perBatch = math.min(opts.maxOffsetsPerBatch,
            maxRowsOpt.map(_.maxRows()).getOrElse(Long.MaxValue))
          val cap =
            if (s.logPos > Long.MaxValue - perBatch) Long.MaxValue
            else s.logPos + perBatch
          val logPos = math.max(s.logPos, math.min(cur, cap))
          // prune finished lists once the batch START is past a table's max
          // HW (pure log phase). Pruning on the new logPos would be wrong:
          // THIS batch covers (s.logPos, logPos] and still needs the infos
          // to suppress events at offsets <= hw when s.logPos < hw.
          val finished = s.finished.filter { case (_, cs) => s.logPos < cs.map(_.hw).max }
          CdcOffset(snapshotDone = true, logPos, Map.empty, finished, s.known)
        }
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset]
    val e = end.asInstanceOf[CdcOffset]
    // query-start metas LAST so the DECLARED schema wins for pre-existing
    // tables (in extras mode the provider's current schema may have
    // evolved; readers re-resolve it themselves) — provider metas only
    // supply newly-added tables
    val byId = (opts.matchedTables(provider) ++ matched).map(t => t.id.toString -> t).toMap
    // cohort per table = cursor movement s→e; its outer range + pinned HW
    // are persisted in e, the interior chunking is re-derived here (clamped
    // to the persisted end — any contiguous interior is sound)
    val chunks: Seq[InputPartition] =
      if (!s.snapshotDone) s.cursors.toSeq.sortBy(_._1).flatMap { case (tid, cursor) =>
        val cohortEnd: Option[Option[Key]] = e.cursors.get(tid) match {
          case Some(c2) if c2 == cursor => None // budget exhausted: no cohort
          case Some(c2)                 => Some(c2)
          case None                     => Some(None) // final cohort, unbounded
        }
        cohortEnd match {
          case None => Seq.empty
          case Some(endBound) =>
            val tm = byId(tid)
            val hw = e.finished.getOrElse(tid, Seq.empty)
              .find(f => f.start == cursor && f.end == endBound)
              .map(_.hw).getOrElse(s.logPos)
            val (cohort, _) = CdcPlanner.planWindow(opts, provider, tm.id, cursor,
              clampEnd = Some(endBound))
            cohort.map(c =>
              ChunkPartition(opts, tm.id, physical, tm.primaryKey, c.start, c.end, hw))
        }
      } else Seq.empty
    val logs: Seq[InputPartition] =
      if (e.logPos > s.logPos)
        e.known.sorted.flatMap(tid => byId.get(tid)).flatMap { tm =>
          val fins = e.finished.getOrElse(tm.id.toString, Seq.empty)
          val shards = catchupShards(tm, s.logPos, e.logPos)
          if (shards.size <= 1)
            Seq(LogPartition(opts, tm.id, physical, tm.primaryKey,
              s.logPos, e.logPos, fins))
          else shards.map(r => LogPartition(opts, tm.id, physical,
            tm.primaryKey, s.logPos, e.logPos, fins, Some(r)))
        }
      else Seq.empty
    (chunks ++ logs).toArray
  }

  /** CATCH-UP SHARD PLANNING: split one table's log window into up to
    * `scan.log.catchup.shards` key-range partitions so a single hot
    * table's backlog drains in parallel instead of through the
    * reference's one serial binlog reader (BinlogSplitReader.java:194-240
    * — the design being improved on). Fewer than two ranges = don't
    * shard: the option is off, the table's backlog is below twice the
    * per-shard floor, or the provider returns no boundary for the window.
    *
    * Boundaries come from one source, the provider's EVENT-WEIGHTED
    * [[graft.cdc.provider.ChangeLogProvider.logShardBoundaries]]: it splits
    * the window by where the LOG's events actually are (a key-indexed
    * provider answers from its (key, offset) index in memory), so a
    * backlog concentrated in one key range still gets ~equal-sized shards.
    * A window whose events all sit on one key gets no boundary and drains
    * serially — a key lives in exactly one shard, so no split could help.
    * The first range starts unbounded and the last ends unbounded, so
    * keys outside anything the provider has indexed still land in exactly
    * one shard — coverage is by construction. The same argument makes a
    * RESTART sound: a replayed batch may re-derive different interior
    * boundaries, but any disjoint cover of the keyspace reads the same
    * union of the slice's events — the cohort-replay principle applied to
    * the log phase. The planned shard count never exceeds
    * `scan.log.catchup.shards` (the option's documented ceiling). */
  private def catchupShards(tm: TableMeta, fromExclusive: Long,
      toInclusive: Long): Seq[SnapshotSplit] = {
    val maxShards = opts.logCatchupShards
    if (maxShards <= 1) return Seq.empty
    // size parallelism by THIS TABLE's backlog when the provider can say
    // (two index probes), not the global offset window: in a multi-table
    // stream the window counts every table's offsets, and sharding a cold
    // table's near-empty slice buys only task overhead — the exact
    // hot-table-among-many scenario the feature targets would otherwise
    // pay N tasks per cold table per batch
    val backlog = provider.logEventsApprox(tm.id, fromExclusive, toInclusive)
    val basis = if (backlog >= 0) backlog else toInclusive - fromExclusive
    val n = math.min(maxShards.toLong,
      math.max(1L, basis / opts.logCatchupMinOffsetsPerShard)).toInt
    if (n <= 1) return Seq.empty
    // a malformed boundary sequence would leave keys covered by NO shard
    // (dropped events) — refuse loudly rather than plan a lossy cover
    val bs = provider.logShardBoundaries(tm.id, fromExclusive, toInclusive, n).take(n - 1)
    require(bs.sliding(2).forall(p => p.size < 2 || ChunkKey.compare(p(0), p(1)) < 0),
      s"logShardBoundaries for ${tm.id} must be strictly ascending, got $bs")
    val starts = None +: bs.map(Option(_))
    val ends = bs.map(Option(_)) :+ None
    starts.zip(ends).zipWithIndex.map {
      case ((s0, e0), i) => SnapshotSplit(tm.id, i, s0, e0)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CdcReaderFactory(produced, hwDir,
      // driver conf snapshot, serialized into the task binary — carries
      // spark.hadoop.* (object-store credentials etc.) to the executors;
      // direct offset-API harnesses (no session) fall back to executor-side
      // Configuration resolution in ChunkReader
      sessionHadoopConf().map(new org.apache.spark.util.SerializableConfiguration(_)))
  override def deserializeOffset(json: String): Offset = CdcOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// ---------------------------------------------------------------------------
// Table / provider registration
// ---------------------------------------------------------------------------

final class CdcScanBuilder(opts: CdcOptions, physical: StructType, full: StructType,
    matched: Seq[TableMeta]) extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var pruned: StructType = full
  // Catalyst prunes unused columns down to the reader (free column pruning;
  // the reference strips computed/meta columns similarly,
  // flink-connector-debezium-log/.../utils/ResolvedSchemaUtils.java:33-40).
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = StructType(full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new CdcScan(opts, physical, pruned, matched)
}

final class CdcLogTable(opts: CdcOptions, physical: StructType, full: StructType,
    matched: Seq[TableMeta]) extends Table with SupportsRead {
  override def name(): String = s"cdc-log(${matched.map(_.id).mkString(",")})"
  override def schema(): StructType = full
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(opts, physical, full, matched)
}

/** `spark.read/readStream.format("cdc-log")` entry point (registered via
  * META-INF/services, the Spark analogue of the reference's
  * DynamicTableSourceFactory SPI, mysql/table/MySqlTableSourceFactory.java). */
final class CdcLogTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-log"

  private def resolve(o: CaseInsensitiveStringMap): (CdcOptions, StructType, Seq[TableMeta]) = {
    val opts = CdcOptions.from(o)
    val provider = opts.resolveProvider()
    // fail misconfiguration at planning, before table discovery or any
    // split exists (reference MySqlValidator runs in createEnumerator,
    // mysql/source/MySqlSource.java:166-195)
    provider.validate()
    val matched = opts.matchedTables(provider)
    (opts, matched.head.schema, matched)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (opts, physical, _) = resolve(options)
    CdcOptions.producedSchema(physical, opts.metadataCols,
      opts.schemaEvolutionMode == "extras")
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    val (opts, physical, matched) = resolve(o)
    new CdcLogTable(opts, physical, schema, matched)
  }

  override def supportsExternalMetadata(): Boolean = false
}
