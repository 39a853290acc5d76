package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{CompositeChangeLogProvider, InMemoryChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end DSv2 source tests. The scenario mirrors the reference's
  * flagship ITCase (mysql/table/MySqlConnectorITCase.java:137-244): a
  * `products` table is snapshotted, then mutated with inserts/updates/
  * deletes, and SQL over the resulting op-column changelog must see the
  * fork's append-only semantics. */
class CdcSourceSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("weight", DoubleType)))
  private val meta = TableMeta(TableId("inventory", "products"), schema, Seq("id"))
  private def row(id: Long, name: String, w: Double): Array[Any] = Array(id, name, w)
  private def ins(off: Long, id: Long, n: String, w: Double) =
    LogRecord(off, ChangeOp.Create, meta.id, null, row(id, n, w), off * 100)
  private def upd(off: Long, before: Array[Any], after: Array[Any]) =
    LogRecord(off, ChangeOp.Update, meta.id, before, after, off * 100)
  private def del(off: Long, before: Array[Any]) =
    LogRecord(off, ChangeOp.Delete, meta.id, before, null, off * 100)

  private val base = (1L to 9L).map(i => row(i, s"p$i", i.toDouble))

  test("batch read = chunked snapshot with stale base + catch-up fold (A1)") {
    // base is stale at offset 0; log carries mutations the chunks must fold
    val p = new InMemoryChangeLogProvider(meta, base, Seq(
      upd(1, row(2, "p2", 2.0), row(2, "p2b", 2.5)),
      del(2, row(3, "p3", 3.0)),
      ins(3, 12, "p12", 12.0)), staleOffset = 0)
    ProviderRegistry.register("batch-a1", p)
    val df = spark.read.format("cdc-log")
      .option("provider.name", "batch-a1")
      .option("scan.incremental.snapshot.chunk.size", "3") // force several chunks
      .load()
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.forall(_._4 == "r"), "batch snapshot rows must carry op='r'")
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId.keySet === Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L, 12L))
    assert(byId(2L)._2 === "p2b" && byId(2L)._3 === 2.5)
    assert(byId(12L)._3 === 12.0)
    // multiple chunks were actually planned
    assert(df.rdd.getNumPartitions >= 3)
  }

  test("streaming: snapshot batch then log batches with c/u/d op semantics") {
    val p = new InMemoryChangeLogProvider(meta, base.take(3), Seq.empty, staleOffset = 0)
    ProviderRegistry.register("stream-products", p)
    val df = spark.readStream.format("cdc-log")
      .option("provider.name", "stream-products")
      .option("metadata.columns", "database_name,table_name,op_ts")
      .load()
    val q = df.writeStream.format("memory").queryName("products_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val snap = spark.table("products_sink").collect()
      assert(snap.length === 3 && snap.forall(_.getString(3) == "r"))
      // snapshot rows: op_ts forced to epoch 0 (reference RecordUtils.java:197-225)
      assert(snap.forall(_.getTimestamp(6).getTime == 0L))

      // mutate "the database" mid-stream (ITCase step :195-207)
      p.append(
        ins(10, 10, "jacket", 0.2),
        upd(11, row(10, "jacket", 0.2), row(10, "jacket2", 0.25)),
        del(12, row(2, "p2", 2.0)))
      q.processAllAvailable()
      val all = spark.table("products_sink")
      val ops = all.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // update emits TWO rows (before+after) with op='u'
      // (RowDataDebeziumDeserializeSchema.java:133-145); delete emits ONE
      // append row from the before-image with op='d' (:127-132)
      assert(ops === Map("r" -> 3, "c" -> 1, "u" -> 2, "d" -> 1))
      val dRow = all.filter(col("op") === "d").collect().head
      assert(dRow.getLong(0) === 2L && dRow.getString(1) === "p2", "delete carries before-image")
      val uRows = all.filter(col("op") === "u").orderBy("name").collect()
      assert(uRows.map(_.getString(1)).toSeq === Seq("jacket", "jacket2"))
      // metadata columns (MySqlReadableMetadata.java:35-83)
      assert(all.select("database_name").distinct().collect().map(_.getString(0)).toSet === Set("inventory"))
      assert(all.select("table_name").distinct().collect().map(_.getString(0)).toSet === Set("products"))
      assert(all.filter(col("op") =!= "r").select("op_ts").collect().forall(_.getTimestamp(0).getTime > 0))
    } finally q.stop()
  }

  test("ITCase aggregation over the changelog: SELECT name, SUM(weight) GROUP BY name") {
    // MySqlConnectorITCase.java:186 — executed over the materialized state
    val p = new InMemoryChangeLogProvider(meta, base.take(4), Seq(
      ins(1, 20, "p1", 10.0), // second row with name p1
      upd(2, row(4, "p4", 4.0), row(4, "p1", 7.0)), // rename p4 → p1
      del(3, row(3, "p3", 3.0))), staleOffset = 0)
    ProviderRegistry.register("agg-products", p)
    // snapshot read already folds the log (batch read = state at current offset)
    val state = spark.read.format("cdc-log").option("provider.name", "agg-products").load()
    val sums = state.groupBy("name").agg(sum("weight").as("w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums === Map("p1" -> 18.0, "p2" -> 2.0))
  }

  test("startup modes: earliest / latest / specific-offset / timestamp (W6)") {
    val log = Seq(ins(1, 1, "a", 1.0), ins(2, 2, "b", 2.0), ins(3, 3, "c", 3.0))
    val p = new InMemoryChangeLogProvider(meta, Seq.empty, log, staleOffset = 0)
    ProviderRegistry.register("modes", p)
    def run(mode: String, extra: Map[String, String] = Map.empty): Seq[Long] = {
      val name = s"modes_${mode.replace('-', '_')}_sink"
      var r = spark.readStream.format("cdc-log").option("provider.name", "modes")
        .option("scan.startup.mode", mode)
      extra.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(run("earliest") === Seq(1L, 2L, 3L), "earliest replays the whole log as changes")
    assert(run("latest") === Seq.empty, "latest sees nothing until new mutations")
    assert(run("specific-offset", Map("scan.startup.specific-offset" -> "1")) === Seq(2L, 3L))
    // timestamp mode: tsMs = off*100 → start at 200ms skips offset 1 (F5)
    assert(run("timestamp", Map("scan.startup.timestamp-millis" -> "200")) === Seq(2L, 3L))
  }

  test("sharding tables: regex capture + table_name metadata (ITCase :1047)") {
    val m1 = TableMeta(TableId("shard", "user_1"), schema, Seq("id"))
    val m2 = TableMeta(TableId("shard", "user_2"), schema, Seq("id"))
    val p = new CompositeChangeLogProvider(Seq(
      new InMemoryChangeLogProvider(m1, Seq(row(1, "u1", 0.0)), Seq.empty),
      new InMemoryChangeLogProvider(m2, Seq(row(2, "u2", 0.0)), Seq.empty)))
    ProviderRegistry.register("shards", p)
    val df = spark.read.format("cdc-log")
      .option("provider.name", "shards")
      .option("table-name", "user_.*")
      .option("metadata.columns", "table_name")
      .load()
    val got = df.collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(got === Set((1L, "user_1"), (2L, "user_2")))
  }

  test("composite unions schemaChanges and validates every part (no inherit-the-default losses)") {
    val m1 = TableMeta(TableId("db", "user_1"), meta.schema, meta.primaryKey)
    val m2 = TableMeta(TableId("db", "user_2"), meta.schema, meta.primaryKey)
    // parts whose control streams both carry DDL — the union must surface
    // every part's events, not the base trait's empty default
    final class WithDdl(m: TableMeta, ddlOffset: Long) extends graft.cdc.provider.ChangeLogProvider {
      override def tables: Seq[TableMeta] = Seq(m)
      override def currentOffset: Long = 10L
      override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) =
        (ChunkKey.of(0L), ChunkKey.of(-1L), 0L)
      override def nextChunkEnd(t: TableId, from: ChunkKey.Key, n: Int): Option[ChunkKey.Key] = None
      override def snapshotBase(t: TableId, r: SnapshotSplit): (Long, Iterator[Array[Any]]) =
        (0L, Iterator.empty)
      override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] = Iterator.empty
      override def schemaChanges(from: Long, to: Long): Iterator[(Long, TableId, String)] =
        Iterator((ddlOffset, m.id, s"ALTER TABLE ${m.id} ADD COLUMN x INT"))
          .filter(e => e._1 > from && e._1 <= to)
      override def validate(): Unit =
        if (ddlOffset < 0) throw new graft.cdc.provider.ValidationException(s"bad part ${m.id}")
    }
    val good = new CompositeChangeLogProvider(Seq(new WithDdl(m1, 5L), new WithDdl(m2, 9L)))
    assert(good.schemaChanges(0L, 10L).map(_._2.table).toSet === Set("user_1", "user_2"))
    assert(good.schemaChanges(6L, 10L).map(_._2.table).toSeq === Seq("user_2"))
    good.validate()
    val broken = new CompositeChangeLogProvider(Seq(new WithDdl(m1, 5L), new WithDdl(m2, -1L)))
    intercept[graft.cdc.provider.ValidationException] { broken.validate() }
  }

  test("ForwardingChangeLogProvider overrides EVERY SPI member (a future SPI addition must forward)") {
    // the structural pin behind the round-17 hardening: hand-written
    // wrapper delegation silently inherited base-trait defaults twice
    // (the JDBC hybrid's range reads, the composite's schemaChanges /
    // validate). Any method added to the SPI without a forwarding
    // override here fails this cell, not a production read path.
    def members(c: Class[_]) = c.getDeclaredMethods.toSeq
      .filterNot(m => m.getName.contains("$") || m.isSynthetic)
      .map(m => (m.getName, m.getParameterCount)).toSet
    val spi = members(classOf[graft.cdc.provider.ChangeLogProvider])
    val fwd = members(classOf[graft.cdc.provider.ForwardingChangeLogProvider]) -
      (("beforeCall", 0)) - (("delegate", 0))
    val missing = spi -- fwd
    assert(missing.isEmpty, s"SPI members not forwarded by ForwardingChangeLogProvider: $missing")
  }

  test("column pruning reaches the reader (ReadSchema)") {
    val p = new InMemoryChangeLogProvider(meta, base, Seq.empty)
    ProviderRegistry.register("prune", p)
    val df = spark.read.format("cdc-log").option("provider.name", "prune").load()
      .select("name")
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("ReadSchema") || df.schema.fieldNames.sameElements(Array("name")))
    assert(df.collect().length === 9)
  }

  test("option parity: every MySqlSourceOptions key is mapped, accepted, or loudly rejected") {
    import graft.cdc.source.CdcOptions
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    def opts(kv: (String, String)*): CdcOptions =
      CdcOptions.from(new CaseInsensitiveStringMap(
        (Map("provider.name" -> "parity") ++ kv.toMap).asJava))

    // REJECTED: connection-identity keys imply a live wire protocol this
    // offline build does not ship — silent acceptance would mislead
    Seq("hostname" -> "db1", "port" -> "3306", "username" -> "u",
        "password" -> "p", "server-id" -> "5400-5404").foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](opts(k -> v))
      assert(e.getMessage.contains(k) && e.getMessage.contains("provider"),
        s"rejection for '$k' must name the key and the alternative")
    }
    // REJECTED: the legacy non-incremental SourceFunction path
    intercept[IllegalArgumentException](opts("scan.incremental.snapshot.enabled" -> "false"))
    opts("scan.incremental.snapshot.enabled" -> "true") // our only engine

    // MAPPED: full translation of the reference surface
    val m = opts(
      "database-name" -> "db", "table-name" -> "t.*",
      "scan.incremental.snapshot.chunk.size" -> "1024",
      "scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offset.pos" -> "42", // aliases our plain key
      "scan.startup.timestamp-millis" -> "1000",
      "server-time-zone" -> "Europe/Berlin",
      "scan.newly-added-table.enabled" -> "false",
      "split-key.even-distribution.factor.upper-bound" -> "500.0",
      "split-key.even-distribution.factor.lower-bound" -> "0.1",
      "chunk-meta.group.size" -> "77", // aliases max-chunks-per-batch
      "jdbc.properties.useSSL" -> "false", // accepted, ignored
      "debezium.snapshot.mode" -> "never")
    assert(m.chunkSize === 1024)
    assert(m.startupSpecificOffset === 42L)
    assert(m.serverTimeZone === "Europe/Berlin")
    assert(!m.newlyAddedTables)
    assert(m.distributionFactorUpper === 500.0 && m.distributionFactorLower === 0.1)
    assert(m.maxChunksPerBatch === 77)
    assert(m.debeziumProps === Map("snapshot.mode" -> "never"))

    // ACCEPTED no-ops (documented rationale in CdcOptions): tuning keys
    // with no offline analogue — a ported reference DDL runs unchanged
    val noop = opts("connect.timeout" -> "30s", "connect.max-retries" -> "3",
      "connection.pool.size" -> "20", "heartbeat.interval" -> "30s",
      "scan.snapshot.fetch.size" -> "1024",
      "scan.startup.specific-offset.file" -> "mysql-bin.000003",
      "scan.incremental.close-idle-reader.enabled" -> "true")
    assert(noop.startupSpecificOffset === 0L)

    // invalid zones fail at option parse, not mid-read
    intercept[IllegalArgumentException](opts("server-time-zone" -> "Mars/OlympusMons"))
  }

  test("offset JSON round-trips (checkpoint replay contract)") {
    val o = graft.cdc.source.CdcOffset(snapshotDone = false, logPos = 42,
      cursors = Map("db.t" -> Some(ChunkKey.of(10L)), "db.u" -> None))
    val back = graft.cdc.source.CdcOffset.parse(o.json())
    assert(back === o)
  }
}
