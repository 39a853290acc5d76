package graft.cdc.provider

import graft.cdc._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The LIVE-DATABASE adapter: Debezium's embedded engine — the same public
  * API the reference runs (`io.debezium.embedded` via
  * flink-connector-debezium-log/.../DebeziumSourceFunction.java:109-368) —
  * bridged into the [[ChangeLogProvider]] SPI.
  *
  * Architecture (the reference's Handover, W5, made durable):
  *
  * {{{
  *   DebeziumEngine (daemon thread, one per provider life)
  *     │  ChangeEvent<String,String>: destination topic + JSON envelope
  *     ▼
  *   JSONL spool  <spoolRoot>/<db>.<table>/events.jsonl   (append + flush)
  *     ▼
  *   DebeziumJsonChangeLogProvider (delegate)  — the proven envelope
  *   parser; its table cache is keyed on spool file LENGTHS, so every
  *   planning probe sees the latest appended events and mid-stream schema
  *   blocks without any cache plumbing here.
  * }}}
  *
  * Every SPI read serves from the spool on the CALLER's thread — planning
  * probes and partition readers never block on the database; an engine
  * failure is captured and re-thrown on the next SPI call (Handover's
  * error-propagation contract, reference internal/Handover.java:107-140).
  * The spool doubles as the replay store for micro-batch retries and
  * multi-cohort emit suppression; at 100 TB it lives on shared storage
  * with a retention bound, exactly like a Kafka-archived topic (which the
  * delegate already reads — the two deployment shapes share one format).
  *
  * Restart/resume: Debezium owns upstream resumption — point
  * `offset.storage.file.filename` (and for snapshot-capable connectors
  * `schema.history.internal.*`) at files NEXT TO the spool, and a
  * restarted provider life resumes the connector strictly after the last
  * delivered record while the spool retains everything already committed
  * to micro-batches. The SPI-side [[resumeToken]] is therefore delegated
  * (None — re-reads are served from the spool, already replay-free).
  *
  * The debezium jars are deliberately NOT bundled (this library has zero
  * runtime deps beyond Spark): the engine is loaded reflectively through
  * [[DebeziumEmbedded.reflectiveFactory]], so the library compiles and
  * runs without them, and constructing THIS provider without the jars
  * fails with an actionable message. The `engineFactory` seam is also the
  * test seam: DebeziumEmbeddedProviderSpec drives the full provider
  * lifecycle (routing, spooling, schema-block parsing, error propagation,
  * unknown-topic tolerance) through a fake engine, and pins the
  * missing-jar error path against the real reflective factory.
  *
  * `tables` declares what to capture (db/table/primary key — the same
  * contract every other provider reads from meta.json) and its schema DDL
  * is written as the meta fallback so chunk planning can run before the
  * first envelope arrives; once envelopes flow, their schema blocks take
  * over (the delegate's union rules, including mid-stream drift).
  */
final class DebeziumEmbeddedChangeLogProvider(
    declared: Seq[TableMeta],
    engineProps: java.util.Properties,
    spoolRoot: String,
    engineFactory: DebeziumEmbedded.EngineFactory = DebeziumEmbedded.reflectiveFactory,
    serverTimeZone: String = "UTC")
  extends ForwardingChangeLogProvider with AutoCloseable {

  require(declared.nonEmpty, "declare at least one table to capture")

  @transient @volatile private var failure: Throwable = null

  // spool layout + meta.json up front, so planning works pre-first-event
  private val dirOf: Map[String, java.nio.file.Path] = declared.map { t =>
    val d = Paths.get(spoolRoot, t.id.toString)
    Files.createDirectories(d)
    if (!Files.exists(d.resolve("meta.json"))) {
      def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val pk = t.primaryKey.map(jstr).mkString("[", ",", "]")
      Files.writeString(d.resolve("meta.json"),
        s"""{"db":${jstr(t.id.db)},"table":${jstr(t.id.table)},
           |"primaryKey":$pk,"schema":${jstr(t.schema.toDDL)}}""".stripMargin)
    }
    if (!Files.exists(d.resolve("events.jsonl")))
      Files.createFile(d.resolve("events.jsonl"))
    t.id.toString -> d
  }.toMap

  /** Topic `<server>.<db>.<table>` (or bare `<db>.<table>`) → spool dir of
    * a DECLARED table; undeclared topics (heartbeats, other tables) are
    * dropped, mirroring the reference's table include-list filter (F3). */
  private def route(destination: String): Option[java.nio.file.Path] = {
    val parts = destination.split('.')
    if (parts.length < 2) None
    else dirOf.get(parts.takeRight(2).mkString("."))
  }

  private def onRecord(r: DebeziumEmbedded.Record): Unit = synchronized {
    route(r.destination).foreach { d =>
      // one envelope per line, flushed before the consumer returns — the
      // engine's offset commit then never runs ahead of the spool
      Files.write(d.resolve("events.jsonl"),
        (r.valueJson.replace("\n", " ") + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
    }
  }

  private val engine: AutoCloseable =
    engineFactory(engineProps, onRecord, t => failure = t)

  // every SPI member forwards to the spool parser through
  // ForwardingChangeLogProvider, with the engine-failure check before each
  // call (Handover's error-propagation contract) — when the SPI grows, the
  // forwarding base grows with it and this wrapper needs no edit (the
  // round-17 logShardBoundaries addition required a hand edit here under
  // the old hand-written delegation)
  override protected val delegate: ChangeLogProvider =
    new DebeziumJsonChangeLogProvider(spoolRoot, serverTimeZone)

  override protected def beforeCall(): Unit = {
    val f = failure
    if (f != null)
      throw new IllegalStateException("debezium embedded engine failed", f)
  }

  /** Planning-time validation (the reference MySqlValidator shape): the
    * engine must have a connector and a name, and the delegate's spool
    * must be readable. Wire-level prerequisites (binlog_format=ROW etc.)
    * are the connector's own startup checks — they surface through the
    * failure channel on first SPI contact. */
  override def validate(): Unit = {
    beforeCall()
    require(engineProps.getProperty("connector.class", "").nonEmpty,
      "engineProps must set connector.class (e.g. io.debezium.connector.mysql.MySqlConnector)")
    require(engineProps.getProperty("name", "").nonEmpty,
      "engineProps must set a connector name")
    delegate.validate()
  }

  override def close(): Unit = engine.close()
}

object DebeziumEmbedded {
  /** One delivered change record: destination topic + JSON envelope value
    * (`ChangeEvent.destination()` / `.value()` of the Json format). */
  final case class Record(destination: String, valueJson: String)

  /** (engine properties, record sink, error sink) → running engine handle.
    * The fake a spec injects implements exactly this. */
  type EngineFactory =
    (java.util.Properties, Record => Unit, Throwable => Unit) => AutoCloseable

  /** The production factory: reflectively builds and starts
    * `io.debezium.engine.DebeziumEngine.create(Json.class)
    *   .using(props).notifying(consumer).build()` on a daemon thread —
    * the exact public-API recipe the reference wires in
    * DebeziumSourceFunction.run (:368). Reflection keeps debezium an
    * OPTIONAL runtime dependency; all method lookups go through the
    * public `DebeziumEngine`/`Builder`/`ChangeEvent` interfaces (an
    * implementation class may be package-private — invoking through the
    * interface Method is always legal). */
  val reflectiveFactory: EngineFactory = (props, onRecord, onError) => {
    val (engineCls, builderCls, jsonCls, changeEventCls) =
      try (Class.forName("io.debezium.engine.DebeziumEngine"),
        Class.forName("io.debezium.engine.DebeziumEngine$Builder"),
        Class.forName("io.debezium.engine.format.Json"),
        Class.forName("io.debezium.engine.ChangeEvent"))
      catch {
        case e: ClassNotFoundException => throw new IllegalStateException(
          "Debezium embedded engine is not on the classpath. Add " +
            "io.debezium:debezium-embedded plus the connector jar (e.g. " +
            "io.debezium:debezium-connector-mysql) to dial a live " +
            "database; offline, the debezium-json (archived topics), " +
            "jdbc, and socket providers cover the same SPI surface.", e)
      }
    val destM = changeEventCls.getMethod("destination")
    val valueM = changeEventCls.getMethod("value")
    val consumer = new java.util.function.Consumer[AnyRef] {
      override def accept(ev: AnyRef): Unit = {
        val value = valueM.invoke(ev).asInstanceOf[String]
        if (value != null) // Kafka tombstones carry a null value — skip
          onRecord(Record(destM.invoke(ev).asInstanceOf[String], value))
      }
    }
    var b = engineCls.getMethod("create", classOf[Class[_]]).invoke(null, jsonCls)
    b = builderCls.getMethod("using", classOf[java.util.Properties]).invoke(b, props)
    b = builderCls.getMethod("notifying", classOf[java.util.function.Consumer[_]])
      .invoke(b, consumer)
    val engine = builderCls.getMethod("build").invoke(b)
    val thread = new Thread(() => {
      try engine.asInstanceOf[Runnable].run()
      catch { case t: Throwable => onError(t) }
    }, "graft-debezium-embedded")
    thread.setDaemon(true)
    thread.start()
    () => engine.asInstanceOf[AutoCloseable].close()
  }

  /** Factory the SQL-DDL alias (`provider=debezium-embedded`) builds
    * engines with. Defaults to [[reflectiveFactory]]; a spec swaps in a
    * fake to drive the full DDL round-trip without the debezium jars —
    * the same seam the provider constructor exposes, surfaced for the
    * table-factory path where no constructor argument exists. */
  @volatile var ddlEngineFactory: EngineFactory = reflectiveFactory

  /** One engine per spool root per JVM: `resolveProvider()` runs on every
    * planning probe, and each [[DebeziumEmbeddedChangeLogProvider]]
    * STARTS an engine — constructing per probe would dial the database
    * once per micro-batch. The first resolve builds and starts; later
    * resolves (and parallel queries over the same DDL table) share it,
    * exactly the connector-instance lifecycle the reference's table
    * factory keeps per source. */
  def sharedProvider(spoolRoot: String,
      build: () => DebeziumEmbeddedChangeLogProvider): DebeziumEmbeddedChangeLogProvider =
    shared.computeIfAbsent(spoolRoot, _ => build())

  private val shared =
    new java.util.concurrent.ConcurrentHashMap[String, DebeziumEmbeddedChangeLogProvider]()
}
