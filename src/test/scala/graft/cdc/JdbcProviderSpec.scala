package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{InMemoryChangeLogProvider, JdbcChangeLogProvider, ProviderRegistry}
import org.apache.spark.sql.types._

import java.sql.DriverManager
import java.util.Properties

/** E2E for the JDBC snapshot provider against a REAL embedded database
  * (Apache Derby, on the Spark classpath): planning probes, chunked range
  * scans with fetchSize streaming, and the full DSv2 path — the working
  * realization of SURVEY §7.1's "thin JDBC provider" over the reference's
  * StatementUtils SQL. */
class JdbcProviderSpec extends SparkSpec {
  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val props = new Properties()

  private val schema = StructType(Seq(
    StructField("ID", LongType), StructField("NAME", StringType),
    StructField("WEIGHT", DoubleType)))
  private def meta(table: String) = TableMeta(TableId("APP", table), schema, Seq("ID"))

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url, props)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  private def mkTable(name: String, ids: Seq[Long]): Unit = {
    exec(s"""CREATE TABLE "APP"."$name" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(50), "WEIGHT" DOUBLE)""")
    ids.foreach(i => exec(s"""INSERT INTO "APP"."$name" VALUES ($i, 'p$i', $i.0)"""))
  }

  test("planning probes + streamed chunk scan over java.sql (StatementUtils SQL)") {
    mkTable("PROBES", 1L to 9L)
    val tail = new InMemoryChangeLogProvider(meta("PROBES"), Seq.empty, Seq.empty)
    val p = new JdbcChangeLogProvider(url, props, meta("PROBES"), tail, fetchSize = 4)
    val (mn, mx, cnt) = p.keyBounds(TableId("APP", "PROBES"))
    assert(mn === ChunkKey.of(1L) && mx === ChunkKey.of(9L) && cnt === 9L)
    assert(p.nextChunkEnd(TableId("APP", "PROBES"), ChunkKey.of(1L), 3) === Some(ChunkKey.of(3L)))
    val (lw, rows) = p.snapshotBase(TableId("APP", "PROBES"),
      SnapshotSplit(TableId("APP", "PROBES"), 0, Some(ChunkKey.of(3L)), Some(ChunkKey.of(7L))))
    assert(lw === 0L)
    val got = rows.toSeq
    assert(got.map(_(0).asInstanceOf[Long]).sorted === Seq(3L, 4L, 5L, 6L),
      "half-open [3,7) range scan")
    assert(got.head(1).isInstanceOf[String] && got.head(2).isInstanceOf[java.lang.Double])
  }

  test("DSv2 batch read: parallel chunked JDBC snapshot") {
    mkTable("CHUNKED", 1L to 9L)
    val tail = new InMemoryChangeLogProvider(meta("CHUNKED"), Seq.empty, Seq.empty)
    ProviderRegistry.register("jdbc-chunked",
      new JdbcChangeLogProvider(url, props, meta("CHUNKED"), tail))
    val df = spark.read.format("cdc-log")
      .option("provider.name", "jdbc-chunked")
      .option("scan.incremental.snapshot.chunk.size", "3")
      .load()
    assert(df.rdd.getNumPartitions >= 3, "JDBC snapshot must plan parallel chunks")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.length === 9)
    assert(rows.forall(_._4 == "r"))
    assert(rows.map(_._1).sorted.toSeq === (1L to 9L))
    assert(rows.find(_._1 == 5L).get._2 === "p5")
  }

  test("sparse keys chunk through Derby boundary queries (FETCH FIRST dialect)") {
    mkTable("SPARSE", (0 until 8).map(_ * 100000L))
    val tail = new InMemoryChangeLogProvider(meta("SPARSE"), Seq.empty, Seq.empty)
    ProviderRegistry.register("jdbc-sparse",
      new JdbcChangeLogProvider(url, props, meta("SPARSE"), tail))
    val df = spark.read.format("cdc-log")
      .option("provider.name", "jdbc-sparse")
      .option("scan.incremental.snapshot.chunk.size", "3")
      .load()
    // distribution factor >> upper bound → query-driven uneven chunks
    assert(df.rdd.getNumPartitions >= 2)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (0 until 8).map(_ * 100000L))
  }

  test("validate(): misconfiguration fails loudly at PLANNING (MySqlValidator analogue)") {
    // missing table: the planning-time validator must name it, not let a
    // chunk task fail deep inside a SELECT
    val ghost = meta("NO_SUCH_TABLE")
    val tail = new InMemoryChangeLogProvider(ghost, Seq.empty, Seq.empty)
    ProviderRegistry.register("jdbc-ghost",
      new JdbcChangeLogProvider(url, props, ghost, tail))
    val e1 = intercept[Exception] {
      spark.read.format("cdc-log").option("provider.name", "jdbc-ghost").load()
    }
    assert(e1.getMessage.contains("cdc-log validation failed") &&
      e1.getMessage.contains("NO_SUCH_TABLE"))

    // table exists but lacks a declared column: the scan SQL would
    // reference it — fail with the column named, at planning
    exec("""CREATE TABLE "APP"."NARROW" ("ID" BIGINT PRIMARY KEY)""")
    val wide = meta("NARROW") // declares NAME/WEIGHT the table lacks
    val e2 = intercept[Exception] {
      new JdbcChangeLogProvider(url, props, wide,
        new InMemoryChangeLogProvider(wide, Seq.empty, Seq.empty)).validate()
    }
    assert(e2.getMessage.contains("lacks declared columns") &&
      e2.getMessage.contains("NAME"))

    // unreachable store: connection failure surfaces as validation, with url
    val e3 = intercept[Exception] {
      new JdbcChangeLogProvider("jdbc:derby:memory:graft_absent", props, ghost,
        tail).validate()
    }
    assert(e3.getMessage.contains("cdc-log validation failed"))
  }

  test("streaming: JDBC snapshot then log-tail mutations with op semantics") {
    mkTable("STREAMED", 1L to 3L)
    val m = meta("STREAMED")
    val tail = new InMemoryChangeLogProvider(m, Seq.empty, Seq.empty)
    ProviderRegistry.register("jdbc-streamed",
      new JdbcChangeLogProvider(url, props, m, tail))
    val q = spark.readStream.format("cdc-log")
      .option("provider.name", "jdbc-streamed")
      .load().writeStream.format("memory").queryName("jdbc_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jdbc_sink").count() === 3)

      // mutate the database AND its log in lockstep (what a real binlog does)
      exec("""UPDATE "APP"."STREAMED" SET "NAME"='p2x' WHERE "ID"=2""")
      tail.append(LogRecord(1, ChangeOp.Update, m.id,
        Array[Any](2L, "p2", 2.0), Array[Any](2L, "p2x", 2.0), 100))
      exec("""DELETE FROM "APP"."STREAMED" WHERE "ID"=3""")
      tail.append(LogRecord(2, ChangeOp.Delete, m.id, Array[Any](3L, "p3", 3.0), null, 200))
      q.processAllAvailable()

      val all = spark.table("jdbc_sink").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
      assert(all.count(_._3 == "r") === 3)
      assert(all.filter(_._3 == "u").map(_._2).sorted.toSeq === Seq("p2", "p2x"),
        "update emits before+after pair")
      assert(all.filter(_._3 == "d").map(_._1).toSeq === Seq(3L), "delete carries before-image")
    } finally q.stop()
  }

  test("hybrid provider routes the tail's key-index capability (no silent serial downgrade)") {
    // the realistic hybrid deployment: JDBC snapshot + a key-indexed
    // SPOOLED change stream. Inheriting the SPI defaults would downgrade
    // chunk catch-up folds to full-slice rescans and leave the catch-up
    // shard planner without boundaries — the hybrid must route all three
    // range-read methods to its tail.
    val root = java.nio.file.Files.createTempDirectory("graft_jdbctail_")
    root.toFile.deleteOnExit()
    val d = root.resolve("APP.ROUTED")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("meta.json"),
      """{"db":"APP","table":"ROUTED","primaryKey":["ID"],"schema":"ID BIGINT, NAME STRING, WEIGHT DOUBLE","baseOffset":0}""")
    java.nio.file.Files.writeString(d.resolve("snapshot.jsonl"), "")
    java.nio.file.Files.writeString(d.resolve("log.jsonl"),
      (1L to 60L).map { o =>
        val k = (o * 13) % 30 + 1
        s"""{"offset":$o,"op":"u","tsMs":$o,"before":{"ID":$k,"NAME":"?","WEIGHT":0.0},"after":{"ID":$k,"NAME":"v$o","WEIGHT":1.0}}"""
      }.mkString("", "\n", "\n"))
    val fileTail = new graft.cdc.provider.FileChangeLogProvider(root.toString)
    mkTable("ROUTED", Seq(1L, 2L, 3L))
    val m = meta("ROUTED")
    val hybrid = new JdbcChangeLogProvider(url, props, m, fileTail)
    assert(hybrid.logEventsApprox(m.id, 10L, 40L) === 30L)
    val r = SnapshotSplit(m.id, 0, Some(ChunkKey.of(5L)), Some(ChunkKey.of(15L)))
    val got = hybrid.logForRange(m.id, 0L, 60L, r).toSeq
    assert(got.nonEmpty && got.forall { rec =>
      val k = rec.after(0).asInstanceOf[Long]; k >= 5L && k < 15L
    }, "range read must hit the tail's key index")
    val bs = hybrid.logShardBoundaries(m.id, 0L, 60L, 4)
    assert(bs.nonEmpty && bs.size <= 3, s"weighted boundaries must route, got $bs")
    // an in-memory tail (no key index) keeps the honest default
    val memTail = new InMemoryChangeLogProvider(m, Seq.empty, Seq.empty)
    assert(new JdbcChangeLogProvider(url, props, m, memTail)
      .logShardBoundaries(m.id, 0L, 60L, 4).isEmpty)
  }
}
