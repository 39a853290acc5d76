package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{DebeziumJsonChangeLogProvider, FileChangeLogProvider, InMemoryChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** File-log provider round-trip + streaming checkpoint recovery
  * (the Spark analogue of the reference's kill-and-restore failover matrix,
  * mysql/source/MySqlSourceITCase.java:105-135: state lives in the offset
  * log under checkpointLocation and replays deterministically). */
class FileProviderAndRecoverySpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("weight", DoubleType)))
  private val meta = TableMeta(TableId("inventory", "products"), schema, Seq("id"))
  private def row(id: Long, name: String, w: Double): Array[Any] = Array(id, name, w)

  test("file provider: meta/snapshot/log JSONL round-trip through the source") {
    val root = Files.createTempDirectory("cdcfile").toString
    val dir = Paths.get(root, "inventory.products")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"inventory","table":"products","primaryKey":["id"],
        |"schema":"id BIGINT, name STRING, weight DOUBLE","baseOffset":0}""".stripMargin)
    Files.writeString(dir.resolve("snapshot.jsonl"),
      """{"id":1,"name":"scooter","weight":3.14}
        |{"id":2,"name":"car battery","weight":8.1}
        |""".stripMargin)
    Files.writeString(dir.resolve("log.jsonl"),
      """{"offset":1,"op":"u","tsMs":100,"before":{"id":1,"name":"scooter","weight":3.14},"after":{"id":1,"name":"scooter2","weight":5.18}}
        |{"offset":2,"op":"d","tsMs":200,"before":{"id":2,"name":"car battery","weight":8.1},"after":null}
        |{"offset":3,"op":"c","tsMs":300,"before":null,"after":{"id":3,"name":"hammer","weight":1.0}}
        |""".stripMargin)

    val p = new FileChangeLogProvider(root)
    assert(p.currentOffset === 3)
    assert(p.tables.head.id === TableId("inventory", "products"))

    // batch read folds snapshot + log → state at offset 3
    val df = spark.read.format("cdc-log").option("path", root).load()
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, "scooter2", 5.18), (3L, "hammer", 1.0)))
  }

  test("logForRange == log().filter(range) — key-indexed slice reads") {
    val root = Files.createTempDirectory("cdckeyidx").toString
    val dir = Paths.get(root, "db.t")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, v STRING","baseOffset":0}""")
    // interleaved keys so key order != offset order
    val events = Seq(
      ("c", "null", """{"id":5,"v":"a"}"""),
      ("c", "null", """{"id":1,"v":"b"}"""),
      ("u", """{"id":5,"v":"a"}""", """{"id":5,"v":"c"}"""),
      ("d", """{"id":1,"v":"b"}""", "null"),
      ("c", "null", """{"id":9,"v":"d"}"""))
    Files.writeString(dir.resolve("log.jsonl"), events.zipWithIndex.map { case ((op, b, a), i) =>
      s"""{"offset":${i + 1},"op":"$op","before":$b,"after":$a}"""
    }.mkString("", "\n", "\n"))
    // the same events as a Debezium-envelope spool: line-ordinal offsets 1-5
    val spoolRoot = Files.createTempDirectory("cdckeyidx_dbz").toString
    val spoolDir = Paths.get(spoolRoot, "db.t")
    Files.createDirectories(spoolDir)
    Files.writeString(spoolDir.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, v STRING"}""")
    Files.writeString(spoolDir.resolve("events.jsonl"), events.map { case (op, b, a) =>
      s"""{"before":$b,"after":$a,"op":"$op"}"""
    }.mkString("", "\n", "\n"))
    val providers = Seq(new FileChangeLogProvider(root), new DebeziumJsonChangeLogProvider(spoolRoot))
    val tid = TableId("db", "t")
    def rangeOf(s: Option[Long], e: Option[Long]) =
      SnapshotSplit(tid, 0, s.map(ChunkKey.of(_)), e.map(ChunkKey.of(_)))
    val cases = Seq(
      (rangeOf(Some(1L), Some(6L)), 0L, 5L),
      (rangeOf(None, Some(9L)), 0L, 5L),
      (rangeOf(Some(5L), None), 2L, 5L), // offset sub-slice too
      (rangeOf(None, None), 0L, 3L))
    cases.foreach { case (range, from, to) =>
      def keyOf(r: LogRecord) =
        ChunkKey.of((if (r.op == "d") r.before else r.after)(0))
      val gots = providers.map { p =>
        val expected = p.log(tid, from, to).filter(r => range.contains(keyOf(r)))
          .map(r => (r.offset, r.op)).toSeq
        val got = p.logForRange(tid, from, to, range)
          .filter(r => range.contains(keyOf(r))) // reader-side backstop
          .map(r => (r.offset, r.op)).toSeq
        assert(got === expected, s"${p.getClass.getSimpleName}: range $range ($from,$to]")
        assert(got == got.sorted, "events arrive in offset order")
        got
      }
      assert(gots(0) === gots(1), s"file layout and spool disagree: range $range ($from,$to]")
    }
  }

  test("index cache invalidates on a same-length in-place rewrite (mtime key)") {
    val root = Files.createTempDirectory("cdcmtime").toString
    val dir = Paths.get(root, "db.t")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, name STRING","baseOffset":0}""")
    Files.writeString(dir.resolve("log.jsonl"),
      """{"offset":1,"op":"c","before":null,"after":{"id":1,"name":"aaa"}}
        |""".stripMargin)
    Files.writeString(dir.resolve("snapshot.jsonl"), """{"id":1,"name":"aaa"}""" + "\n")
    val p = new FileChangeLogProvider(root)
    val tid = TableId("db", "t")
    def snapshotRows() = p.snapshotBase(tid, SnapshotSplit(tid, 0, None, None))._2
      .map(r => (r(0), r(1))).toSeq
    assert(p.log(tid, 0L, 10L).toSeq.head.after(1) === "aaa")
    assert(snapshotRows() === Seq((1L, "aaa")))
    // rewrite in place to the SAME byte length, different content + offset
    val orig = Files.readString(dir.resolve("log.jsonl"))
    val replaced = orig.replace(""""offset":1""", """"offset":2""").replace("aaa", "bbb")
    assert(replaced.getBytes("UTF-8").length === orig.getBytes("UTF-8").length)
    Files.writeString(dir.resolve("log.jsonl"), replaced)
    // mtime granularity can be coarse on some filesystems — force a tick
    Files.setLastModifiedTime(dir.resolve("log.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 1000))
    val rec = p.log(tid, 0L, 10L).toSeq.head
    assert(rec.offset === 2L && rec.after(1) === "bbb",
      "stale index served after a same-length in-place rewrite")
    // the snapshot index lives in the same append-only cache
    Files.writeString(dir.resolve("snapshot.jsonl"), """{"id":2,"name":"bbb"}""" + "\n")
    Files.setLastModifiedTime(dir.resolve("snapshot.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 1000))
    assert(snapshotRows() === Seq((2L, "bbb")),
      "stale snapshot index served after a same-length in-place rewrite")
  }

  test("a cut final log line (writer mid-append) is skipped, then read whole once its newline lands") {
    // a live log grows page by page within one write, so a probe can see
    // the last line cut; the index must not fail the query on it
    val root = Files.createTempDirectory("cdccut").toString
    val dir = Paths.get(root, "db.t")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT, name STRING","baseOffset":0}""")
    def line(o: Long) =
      s"""{"offset":$o,"op":"c","tsMs":$o,"before":null,"after":{"id":$o,"name":"v$o"}}"""
    val log = dir.resolve("log.jsonl")
    Files.writeString(log, (1L to 30L).map(line).mkString("", "\n", "\n"))
    val (head, rest) = line(31L).splitAt(line(31L).length / 2)
    Files.writeString(log, head, java.nio.file.StandardOpenOption.APPEND)
    val p = new FileChangeLogProvider(root)
    val tid = TableId("db", "t")
    assert(p.currentOffset === 30L, "the cut line is not an event yet")
    Files.writeString(log, rest + "\n", java.nio.file.StandardOpenOption.APPEND)
    assert(p.currentOffset === 31L)
    assert(p.log(tid, 30L, 31L).map(r => (r.offset, r.op)).toSeq === Seq((31L, "c")))
    // an unparseable line that is not the cut tail still fails loudly
    Files.writeString(log, head + "\n" + line(32L) + "\n", java.nio.file.StandardOpenOption.APPEND)
    intercept[com.fasterxml.jackson.core.JsonProcessingException](p.currentOffset)
  }

  test("validate(): bad file-provider config fails loudly at planning") {
    // empty root: no table dirs
    val empty = Files.createTempDirectory("cdcfile_empty").toString
    val e1 = intercept[Exception] {
      spark.read.format("cdc-log").option("path", empty).load()
    }
    assert(e1.getMessage.contains("cdc-log validation failed") &&
      e1.getMessage.contains("no table directories"))

    // primaryKey column not in declared schema
    val root = Files.createTempDirectory("cdcfile_badpk").toString
    val dir = Paths.get(root, "db.t")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["nope"],"schema":"id BIGINT","baseOffset":0}""")
    Files.writeString(dir.resolve("snapshot.jsonl"), """{"id":1}""" + "\n")
    val e2 = intercept[Exception] { new FileChangeLogProvider(root).validate() }
    assert(e2.getMessage.contains("primaryKey columns nope"))

    // table dir with meta.json but no data files at all
    val root2 = Files.createTempDirectory("cdcfile_nodata").toString
    val dir2 = Paths.get(root2, "db.t")
    Files.createDirectories(dir2)
    Files.writeString(dir2.resolve("meta.json"),
      """{"db":"db","table":"t","primaryKey":["id"],"schema":"id BIGINT","baseOffset":0}""")
    val e3 = intercept[Exception] { new FileChangeLogProvider(root2).validate() }
    assert(e3.getMessage.contains("neither snapshot.jsonl nor log.jsonl"))
  }

  test("schema history: DDL events surface as a control stream + point-in-time schema") {
    val root = Files.createTempDirectory("cdcschema").toString
    val dir = Paths.get(root, "inventory.products")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      """{"db":"inventory","table":"products","primaryKey":["id"],
        |"schema":"id BIGINT, name STRING","baseOffset":0}""".stripMargin)
    Files.writeString(dir.resolve("snapshot.jsonl"), "{\"id\":1,\"name\":\"a\"}\n")
    Files.writeString(dir.resolve("schema_log.jsonl"),
      """{"offset":5,"ddl":"ALTER TABLE products ADD COLUMN weight DOUBLE"}
        |{"offset":9,"ddl":"ALTER TABLE products DROP COLUMN weight"}
        |""".stripMargin)
    val p = new FileChangeLogProvider(root)
    val all = CdcSchemaHistory.changes(spark, p).collect()
    assert(all.map(_.getLong(0)).sorted.toSeq === Seq(5L, 9L))
    val at7 = CdcSchemaHistory.schemaAt(spark, p, 7).collect()
    assert(at7.length === 1 && at7.head.getAs[String]("ddl").contains("ADD COLUMN"))
  }

  test("checkpoint recovery: restart resumes from the committed offset, no duplicates") {
    val p = new InMemoryChangeLogProvider(meta, Seq(row(1, "a", 1.0)), Seq.empty)
    ProviderRegistry.register("recovery", p)
    val ckpt = Files.createTempDirectory("cdc-ckpt").toString
    val out = Files.createTempDirectory("cdc-out").toString

    def runOnce(): Unit = {
      val q = spark.readStream.format("cdc-log").option("provider.name", "recovery").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce() // snapshot: 1 row op='r'
    p.append(LogRecord(10, ChangeOp.Create, meta.id, null, row(2, "b", 2.0), 1000))
    runOnce() // restart from checkpoint → only the new insert
    p.append(LogRecord(11, ChangeOp.Delete, meta.id, row(1, "a", 1.0), null, 2000))
    runOnce() // second restart → only the delete

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
    assert(rows === Seq((1L, "d"), (1L, "r"), (2L, "c")),
      s"exactly-once replay violated: $rows")
  }
}
