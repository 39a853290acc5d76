package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{InMemoryChangeLogProvider, ProviderRegistry}
import graft.cdc.source.{CdcMicroBatchStream, CdcOffset, CdcOptions, LogPartition}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** KEY-RANGE-SHARDED LOG CATCH-UP (round-15 verdict ask #2): one hot
  * table's log window drains through N parallel key-range partitions
  * instead of the reference's single serial binlog reader
  * (BinlogSplitReader.java:194-240). Pins:
  *
  *   1. PLANNING — `scan.log.catchup.shards=N` over a provider that answers
  *      `logShardBoundaries` plans N LogPartitions for ONE table's slice, ranges forming a
  *      disjoint cover of the whole keyspace (first start / last end
  *      unbounded).
  *   2. EQUIVALENCE — the union of shard reads is EXACTLY the
  *      single-reader slice (same multiset, no row lost, none duplicated),
  *      including events on keys OUTSIDE the probed snapshot bounds, and
  *      each shard preserves per-key offset order.
  *   3. GATES — no sharding when the option is off (default 1), when the
  *      window is below shards × min-offsets-per-shard, or when the
  *      provider returns no boundaries: a provider without a key index
  *      (the default full-slice logForRange would multiply read bandwidth
  *      by N), or a window whose events all sit on one key.
  *   4. BOUNDARIES (round 17) — the provider's EVENT-WEIGHTED boundaries
  *      (logShardBoundaries: split by where the log's events are) are the
  *      planner's one boundary source, so a hot-RANGE backlog drains in
  *      balanced shards.
  *
  * The end-to-end state equivalence (sharded catch-up through the real
  * streaming path + UpsertSink vs the closed-form oracle) is gated as
  * q141.
  */
class LogCatchupShardSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val meta = TableMeta(TableId("db", "t"), schema, Seq("id"))

  /** File-provider fixture (key-indexed log): snapshot = keys 1..80 (the
    * planner's stats source), log = 200 events at offsets 1..200 over keys
    * 1..100 — keys 81..100 are PAST the snapshot max, so their events must
    * land in the last (unbounded-above) shard. */
  private def writeFixture(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_shardfix_")
    root.toFile.deleteOnExit()
    val d = root.resolve("db.t")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, name STRING","baseOffset":0}""")
    val snap = (1L to 80L).map(k => s"""{"id":$k,"name":"base$k"}""").mkString("\n")
    java.nio.file.Files.writeString(d.resolve("snapshot.jsonl"), snap + "\n")
    // events: offset o in 1..200, key = (o*37) % 100 + 1 (scattered across
    // shards), op cycles c/u/d keyed on the offset
    val log = (1L to 200L).map { o =>
      val k = (o * 37) % 100 + 1
      o % 3 match {
        case 0 => s"""{"offset":$o,"op":"d","tsMs":$o,"before":{"id":$k,"name":"v$o"},"after":null}"""
        case 1 => s"""{"offset":$o,"op":"c","tsMs":$o,"before":null,"after":{"id":$k,"name":"v$o"}}"""
        case _ => s"""{"offset":$o,"op":"u","tsMs":$o,"before":{"id":$k,"name":"old$o"},"after":{"id":$k,"name":"v$o"}}"""
      }
    }.mkString("\n")
    java.nio.file.Files.writeString(d.resolve("log.jsonl"), log + "\n")
    root.toString
  }

  private def mkStream(root: String, extra: Map[String, String]): CdcMicroBatchStream = {
    val opts = CdcOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> root, "scan.startup.mode" -> "earliest",
        "metadata.columns" -> "op_offset") ++ extra).asJava))
    new CdcMicroBatchStream(opts, schema,
      CdcOptions.producedSchema(schema, Seq(CdcOptions.MetaOffset)), Seq(meta))
  }

  /** Drain one planned batch: (id, name, op, op_offset) rows per partition. */
  private def readParts(stream: CdcMicroBatchStream,
      parts: Seq[InputPartition]): Seq[Seq[(Long, String, String, Long)]] = {
    val factory = stream.createReaderFactory()
    parts.map { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      try {
        while (r.next()) {
          val ir = r.get()
          buf += ((ir.getLong(0), ir.getUTF8String(1).toString,
            ir.getUTF8String(2).toString, ir.getLong(3)))
        }
      } finally r.close()
      buf.toSeq
    }
  }

  private def planOneBatch(stream: CdcMicroBatchStream): Seq[InputPartition] = {
    val o0 = stream.initialOffset().asInstanceOf[CdcOffset]
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    assert(o1.logPos == 200L, s"precondition: one batch must cover the log, got $o1")
    stream.planInputPartitions(o0, o1).toSeq
  }

  test("planning: N key-range shards for one table, disjointly covering the whole keyspace") {
    val root = writeFixture()
    val parts = planOneBatch(mkStream(root, Map(
      "scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "25")))
    val logs = parts.collect { case p: LogPartition => p }
    assert(logs.size >= 2 && logs.size <= 6, s"expected ~4 shards, got ${logs.size}")
    assert(logs.forall(_.shard.isDefined))
    val ranges = logs.flatMap(_.shard).sortBy(_.splitId)
    assert(ranges.head.start.isEmpty, "first shard must be unbounded below")
    assert(ranges.last.end.isEmpty, "last shard must be unbounded above")
    // contiguous: each shard's end is the next shard's start
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(a.end == b.start, s"non-contiguous shards: $a -> $b")
    }
    // every key hits exactly one shard
    (1L to 120L).foreach { k =>
      assert(ranges.count(_.contains(ChunkKey.of(k))) == 1,
        s"key $k must land in exactly one shard")
    }
  }

  test("equivalence: union over shards == the single serial reader, per-key order kept") {
    val root = writeFixture()
    val serial = readParts(mkStream(root, Map.empty),
      planOneBatch(mkStream(root, Map.empty))).flatten
    val shardStream = mkStream(root, Map(
      "scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "25"))
    val perShard = readParts(shardStream, planOneBatch(shardStream))
    assert(perShard.size >= 2)
    val union = perShard.flatten
    // exact multiset: nothing lost (incl. keys 81..100 beyond the probed
    // snapshot max), nothing duplicated across shards
    assert(union.groupBy(identity).view.mapValues(_.size).toMap ==
      serial.groupBy(identity).view.mapValues(_.size).toMap,
      s"shard union (${union.size} rows) != serial read (${serial.size} rows)")
    // per-key offset order within each shard matches the serial order
    perShard.foreach { rows =>
      rows.groupBy(_._1).foreach { case (k, evs) =>
        val serialOrder = serial.filter(_._1 == k).map(_._4)
        assert(evs.map(_._4) == serialOrder.filter(evs.map(_._4).toSet),
          s"per-key order broken for key $k")
      }
    }
  }

  test("gates: default off; window below the per-shard floor; non-key-indexed provider") {
    val root = writeFixture()
    def logParts(extra: Map[String, String]): Seq[LogPartition] =
      planOneBatch(mkStream(root, extra)).collect { case p: LogPartition => p }
    // default (shards=1): the reference-parity single reader
    val off = logParts(Map.empty)
    assert(off.size == 1 && off.head.shard.isEmpty)
    // window 200 < 2 × 150: below twice the per-shard floor → serial
    val floor = logParts(Map("scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "150"))
    assert(floor.size == 1 && floor.head.shard.isEmpty)
    // window 200 = 2 × 100: the floor CAPS the count (partial parallelism)
    val capped = logParts(Map("scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "100"))
    assert(capped.size == 2 && capped.forall(_.shard.isDefined),
      s"a medium window must get window/floor shards, got ${capped.size}")
    // in-memory provider: no key index, so no logShardBoundaries (its
    // logForRange is the full-slice default) → must not shard even when
    // asked (N× read amplification)
    val p = new InMemoryChangeLogProvider(meta, Seq(Array[Any](1L, "a")),
      (1L to 50L).map(o => LogRecord(o, ChangeOp.Create, meta.id, null,
        Array[Any](o % 10 + 1, s"n$o"), o)))
    ProviderRegistry.register("shard-mem", p)
    val memStream = {
      val opts = CdcOptions.from(new CaseInsensitiveStringMap(Map(
        "provider.name" -> "shard-mem", "scan.startup.mode" -> "earliest",
        "metadata.columns" -> "op_offset",
        "scan.log.catchup.shards" -> "4",
        "scan.log.catchup.min-offsets-per-shard" -> "1").asJava))
      new CdcMicroBatchStream(opts, schema,
        CdcOptions.producedSchema(schema, Seq(CdcOptions.MetaOffset)), Seq(meta))
    }
    val o0 = memStream.initialOffset().asInstanceOf[CdcOffset]
    val o1 = memStream.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    val memParts = memStream.planInputPartitions(o0, o1).toSeq
      .collect { case lp: LogPartition => lp }
    assert(memParts.size == 1 && memParts.head.shard.isEmpty,
      "a provider without shard boundaries must keep the serial reader")
  }

  test("per-table backlog, not the global offset window, sizes each table's shards") {
    // hot table db.t: 200 events; cold table db.zcold: SAME snapshot size
    // (so key stats alone cannot explain a serial plan) but only 3 events
    // riding the same global offset window — sharding it would buy 4
    // near-empty tasks per batch, the exact hot-table-among-many overhead
    // the logEventsApprox probe exists to avoid
    val root = writeFixture()
    val cold = java.nio.file.Paths.get(root, "db.zcold")
    java.nio.file.Files.createDirectories(cold)
    java.nio.file.Files.writeString(cold.resolve("meta.json"),
      """{"db":"db","table":"zcold","primaryKey":["id"],"schema":"id BIGINT, name STRING","baseOffset":0}""")
    java.nio.file.Files.writeString(cold.resolve("snapshot.jsonl"),
      (1L to 80L).map(k => s"""{"id":$k,"name":"c$k"}""").mkString("\n") + "\n")
    java.nio.file.Files.writeString(cold.resolve("log.jsonl"),
      (198L to 200L).map(o =>
        s"""{"offset":$o,"op":"c","tsMs":$o,"before":null,"after":{"id":$o,"name":"z$o"}}""")
        .mkString("\n") + "\n")
    val coldMeta = TableMeta(TableId("db", "zcold"), schema, Seq("id"))
    val opts = CdcOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> root, "scan.startup.mode" -> "earliest",
      "metadata.columns" -> "op_offset",
      "scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "25").asJava))
    val stream = new CdcMicroBatchStream(opts, schema,
      CdcOptions.producedSchema(schema, Seq(CdcOptions.MetaOffset)),
      Seq(meta, coldMeta))
    val o0 = stream.initialOffset().asInstanceOf[CdcOffset]
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    val byTable = stream.planInputPartitions(o0, o1).toSeq
      .collect { case p: LogPartition => p }.groupBy(_.table.table)
    assert(byTable("t").size >= 2 && byTable("t").forall(_.shard.isDefined),
      s"hot table must shard: ${byTable("t")}")
    assert(byTable("zcold").size == 1 && byTable("zcold").head.shard.isEmpty,
      "a 3-event backlog must stay serial even inside a 200-offset window")
  }

  /** Parameterized fixture for the round-17 cells: custom snapshot keys and
    * log key placement, same file layout as [[writeFixture]]. */
  private def writeFixtureWith(snapKeys: Seq[Long], events: Int,
      keyAt: Long => Long): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_shardfix2_")
    root.toFile.deleteOnExit()
    val d = root.resolve("db.t")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, name STRING","baseOffset":0}""")
    java.nio.file.Files.writeString(d.resolve("snapshot.jsonl"),
      snapKeys.map(k => s"""{"id":$k,"name":"base$k"}""").mkString("", "\n", "\n"))
    val log = (1L to events.toLong).map { o =>
      val k = keyAt(o)
      o % 3 match {
        case 0 => s"""{"offset":$o,"op":"d","tsMs":$o,"before":{"id":$k,"name":"v$o"},"after":null}"""
        case 1 => s"""{"offset":$o,"op":"c","tsMs":$o,"before":null,"after":{"id":$k,"name":"v$o"}}"""
        case _ => s"""{"offset":$o,"op":"u","tsMs":$o,"before":{"id":$k,"name":"old$o"},"after":{"id":$k,"name":"v$o"}}"""
      }
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(d.resolve("log.jsonl"), log)
    root.toString
  }

  test("one-key window: a backlog whose events all hit one key plans exactly one serial LogPartition") {
    // every event lands on key 42: no boundary can split one key, so the
    // provider's weighted planner answers none and the window drains
    // through the single reader — even with shards requested and a backlog
    // (200) far above shards × the per-shard floor (4 × 25)
    val root = writeFixtureWith((1L to 100L), events = 200, keyAt = _ => 42L)
    val stream = mkStream(root, Map(
      "scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "25"))
    val parts = planOneBatch(stream)
    val logs = parts.collect { case p: LogPartition => p }
    assert(logs.size == 1 && logs.head.shard.isEmpty,
      s"a one-key window must plan one serial LogPartition, got ${logs.map(_.shard)}")
    val serial = readParts(mkStream(root, Map.empty),
      planOneBatch(mkStream(root, Map.empty))).flatten
    assert(readParts(stream, parts).flatten == serial)
  }

  test("event-weighted boundaries: a hot-RANGE backlog drains in balanced shards, not one") {
    // 90% of the log's events land on keys 90..99 — boundaries equalized
    // over the snapshot (uniform keys 1..100) would leave the last shard
    // ~180 of 200 events to drain serially; the provider's (key, offset)
    // index weights the boundaries by LOG density instead
    val root = writeFixtureWith((1L to 100L), events = 200,
      keyAt = o => if (o % 10 == 0) (o * 37) % 80 + 1 else 90 + o % 10)
    val stream = mkStream(root, Map(
      "scan.log.catchup.shards" -> "4",
      "scan.log.catchup.min-offsets-per-shard" -> "25"))
    val parts = planOneBatch(stream)
    val logs = parts.collect { case p: LogPartition => p }
    assert(logs.size >= 2 && logs.size <= 4,
      s"weighted plan must stay within the ceiling, got ${logs.size}")
    val perShard = readParts(stream, logs)
    val counts = perShard.map(_.size) // ROWS (updates emit -U/+U pairs)
    val serial = readParts(mkStream(root, Map.empty),
      planOneBatch(mkStream(root, Map.empty))).flatten
    assert(counts.sum == serial.size,
      s"shards must cover the whole backlog (${serial.size} rows), got $counts")
    assert(counts.max <= (serial.size * 45) / 100,
      s"the hot range must be SPLIT across shards (snapshot-equalized " +
        s"boundaries would give one shard ~90% of ${serial.size}), got $counts")
    // equivalence still holds under weighted boundaries
    assert(perShard.flatten.groupBy(identity).view.mapValues(_.size).toMap ==
      serial.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("composite provider routes logShardBoundaries and logForRange to the owning part") {
    val root = writeFixture()
    val filePart = new graft.cdc.provider.FileChangeLogProvider(root)
    val memMeta = TableMeta(TableId("db", "m"), schema, Seq("id"))
    val memPart = new InMemoryChangeLogProvider(memMeta, Seq(Array[Any](1L, "a")),
      Seq(LogRecord(1L, ChangeOp.Create, memMeta.id, null, Array[Any](2L, "b"), 1L)))
    val comp = new graft.cdc.provider.CompositeChangeLogProvider(Seq(filePart, memPart))
    // boundaries are PER TABLE: the file-backed table shards, the
    // in-memory one must not (inheriting the base-trait default would
    // silently leave the file table serial)
    assert(comp.logShardBoundaries(meta.id, 0L, 200L, 4).nonEmpty)
    assert(comp.logShardBoundaries(memMeta.id, 0L, 1L, 4).isEmpty)
    // the range read must hit the owner's key index, not the base-trait
    // full-slice fallback: a proper-subrange query over the file table
    // returns only that range's events
    val r = SnapshotSplit(meta.id, 0, Some(ChunkKey.of(10L)), Some(ChunkKey.of(20L)))
    val got = comp.logForRange(meta.id, 0L, 200L, r).toSeq
    assert(got.nonEmpty && got.forall { rec =>
      val k = rec.keyImage(0).asInstanceOf[Long]
      k >= 10L && k < 20L
    }, "composite must serve the owner's key-indexed range read")
  }

  test("file provider log indexes extend incrementally under append: new events visible, old bytes not re-parsed") {
    val root = writeFixture()
    val p = new graft.cdc.provider.FileChangeLogProvider(root)
    assert(p.logEventsApprox(meta.id, 0L, 200L) === 200L) // full build
    val logPath = java.nio.file.Paths.get(root, "db.t", "log.jsonl")
    val fileLen = java.nio.file.Files.size(logPath)
    val base = graft.cdc.provider.JsonlIndex.scannedBytes.get()
    val tail = (201L to 205L).map(o =>
      s"""{"offset":$o,"op":"c","tsMs":$o,"before":null,"after":{"id":${o % 100},"name":"v$o"}}""")
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(logPath, tail,
      java.nio.file.StandardOpenOption.APPEND)
    assert(p.logEventsApprox(meta.id, 0L, 205L) === 205L)
    val r = SnapshotSplit(meta.id, 0, Some(ChunkKey.of(1L)), Some(ChunkKey.of(6L)))
    val got = p.logForRange(meta.id, 200L, 205L, r).toSeq
    assert(got.map(_.offset) === Seq(201L, 202L, 203L, 204L, 205L).filter { o =>
      val k = o % 100; k >= 1 && k < 6
    }, "appended events must be served from the extended (key, offset) index")
    val scanned = graft.cdc.provider.JsonlIndex.scannedBytes.get() - base
    assert(scanned > 0 && scanned < fileLen / 4,
      s"extension scanned $scanned bytes for a ${tail.length}-byte append over $fileLen")
  }

  test("the q145 gate shape actually shards: Debezium-envelope spool + the gate's options plan parallel catch-up") {
    // guards the battery gate against silent de-activation: q145 would
    // still HASH-MATCH through the serial reader (disjoint-cover
    // equivalence is exactly the point), so only a planner pin can detect
    // the spool path quietly losing its key index (the r16 state). Uses
    // the REAL q145 fixture at sf0.001 and the gate's exact options.
    val root = graft.queries.CdcQueries.writeDebeziumSpoolTable(spark, "/root/testdata/sf0.001")
    val opts = CdcOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> root, "path.format" -> "debezium-json",
      "scan.startup.mode" -> "earliest",
      "scan.log.catchup.shards" -> "8",
      "scan.log.catchup.min-offsets-per-shard" -> "256").asJava))
    val p = opts.resolveProvider()
    val metas = opts.matchedTables(p)
    assert(metas.size == 1 &&
      p.logShardBoundaries(metas.head.id, 0L, p.currentOffset, 8).nonEmpty,
      "the spool provider must answer shard boundaries (round-17 live-path port)")
    val stream = new CdcMicroBatchStream(opts, metas.head.schema,
      CdcOptions.producedSchema(metas.head.schema, Seq.empty), metas)
    val o0 = stream.initialOffset().asInstanceOf[CdcOffset]
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    val sharded = stream.planInputPartitions(o0, o1).toSeq
      .collect { case lp: LogPartition if lp.shard.isDefined => lp }
    assert(sharded.size >= 2 && sharded.size <= 8,
      s"the q145 option set must plan 2..8 key-range shards over the spool, got ${sharded.size}")
  }
}
