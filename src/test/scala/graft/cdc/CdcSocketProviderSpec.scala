package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{ProviderRegistry, SocketChangeLogProvider}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.io.PrintWriter
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

/** The provider SPI over a LIVE TCP stream: an in-test server feeds change
  * events over a socket while the cdc-log source runs bounded
  * (Trigger.AvailableNow) catch-up queries against it — the de-risking
  * proof for a real binlog/oplog client (SURVEY "What's missing" #1): an
  * unbounded non-file source flows through planning, cohorts, the
  * AvailableNow cap, and checkpointed restarts, with nothing file-shaped
  * anywhere in the path. */
class CdcSocketProviderSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))
  private val meta = TableMeta(TableId("net", "t"), schema, Seq("id"))

  private def ev(off: Long, op: String, id: Long, v: String): String = op match {
    case "c" => s"""{"offset":$off,"op":"c","tsMs":${off * 10},"before":null,"after":{"id":$id,"v":"$v"}}"""
    case "u" => s"""{"offset":$off,"op":"u","tsMs":${off * 10},"before":{"id":$id,"v":"?"},"after":{"id":$id,"v":"$v"}}"""
    case "d" => s"""{"offset":$off,"op":"d","tsMs":${off * 10},"before":{"id":$id,"v":"$v"},"after":null}"""
  }

  private def awaitOffset(p: SocketChangeLogProvider, target: Long): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (p.currentOffset < target && System.nanoTime() < deadline) Thread.sleep(10)
    assert(p.currentOffset >= target, s"socket spool never reached offset $target")
  }

  test("live socket feed through AvailableNow runs: bounded, exactly-once, resumable") {
    val server = new ServerSocket(0)
    val acceptor = new java.util.concurrent.CompletableFuture[PrintWriter]()
    new Thread(() => {
      val s = server.accept()
      acceptor.complete(new PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8), true))
    }).start()

    val provider = new SocketChangeLogProvider("localhost", server.getLocalPort, meta)
    try {
      ProviderRegistry.register("socket-live", provider)
      val out = acceptor.get(5, java.util.concurrent.TimeUnit.SECONDS)

      // wave 1 arrives over the wire before run 1 starts
      out.println(ev(1, "c", 1, "a"))
      out.println(ev(2, "c", 2, "b"))
      out.println(ev(3, "u", 1, "a2"))
      awaitOffset(provider, 3)

      val tmp = java.nio.file.Files.createTempDirectory("graft_socket_")
      val outDir = tmp.resolve("out").toString
      def runOnce(): Unit = {
        // parquet sink: supports checkpointed restart (memory sink does not)
        val q = spark.readStream.format("cdc-log")
          .option("provider.name", "socket-live")
          .option("metadata.columns", "op_offset,row_kind")
          .load()
          .writeStream.format("parquet")
          .option("path", outDir)
          .outputMode("append")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def sink(): Array[(Long, String, String, Long)] =
        spark.read.parquet(outDir).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      runOnce()
      val r1 = sink()
      // log-only source: empty base folds wave 1 into the single chunk's
      // 'r' state (last-wins), nothing duplicated into the log phase
      assert(r1.filter(_._3 == "r").map(x => (x._1, x._2)).sorted.toSeq ===
        Seq((1L, "a2"), (2L, "b")))
      assert(!r1.exists(x => x._3 != "r" && x._4 <= 3L), s"wave-1 duplicated: ${r1.toSeq}")

      // wave 2 arrives while no query runs; the next bounded run drains
      // exactly it, from the same checkpoint
      out.println(ev(4, "d", 2, "b"))
      out.println(ev(5, "c", 3, "c"))
      awaitOffset(provider, 5)
      runOnce()
      val r2 = sink()
      val wave2 = r2.filter(_._4 > 3L).map(x => (x._1, x._3)).sorted.toSeq
      assert(wave2 === Seq((2L, "d"), (3L, "c")), s"wave-2 rows wrong: ${r2.toSeq}")
      assert(r2.length === r1.length + 2, "exactly the two wave-2 events were appended")
    } finally {
      provider.close()
      server.close()
    }
  }

  /** Minimal resume-capable server: spools every published byte; a client
    * connects, sends `RESUME <n>`, and receives bytes from position n on
    * (plus everything published later) — the server-side half of the
    * MongoDB change-stream resume contract the provider exercises. */
  private final class ResumableServer {
    private val server = new ServerSocket(0)
    private val published = new java.io.ByteArrayOutputStream()
    private val clients = new java.util.concurrent.CopyOnWriteArrayList[(java.io.OutputStream, Array[Int])]()
    def port: Int = server.getLocalPort
    @volatile private var closed = false
    private val acceptor = new Thread(() => {
      try while (!closed) {
        val s = server.accept()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        val handshake = in.readLine() // "RESUME <n>"
        val from = handshake.trim.split(" ")(1).toInt
        val out = s.getOutputStream
        val pos = Array(from)
        synchronized { flushTo(out, pos) }
        clients.add((out, pos))
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    private def flushTo(out: java.io.OutputStream, pos: Array[Int]): Unit = {
      val bytes = published.toByteArray
      if (pos(0) < bytes.length) {
        out.write(bytes, pos(0), bytes.length - pos(0)); out.flush()
        pos(0) = bytes.length
      }
    }
    def publish(line: String): Unit = synchronized {
      published.write((line + "\n").getBytes(StandardCharsets.UTF_8))
      clients.forEach { case (out, pos) =>
        try flushTo(out, pos) catch { case _: Throwable => () }
      }
    }
    def close(): Unit = { closed = true; server.close() }
  }

  test("resume token: restart resumes strictly after the token — no replay, no loss") {
    val server = new ResumableServer()
    try {
      // life 1: fresh subscription, three events arrive
      val p1 = new SocketChangeLogProvider("localhost", server.port, meta)
      server.publish(ev(1, "c", 1, "a"))
      server.publish(ev(2, "c", 2, "b"))
      server.publish(ev(3, "u", 1, "a2"))
      awaitOffset(p1, 3)
      // the consumer commits through offset 3 and persists the token
      val token = p1.resumeToken(3).get
      p1.close() // driver dies / stream stops

      // events keep committing upstream while nothing is connected
      server.publish(ev(4, "d", 2, "b"))
      server.publish(ev(5, "c", 3, "c"))

      // life 2: resume from the token — the server never re-sends 1..3
      val p2 = new SocketChangeLogProvider("localhost", server.port, meta,
        resumeFrom = Some(token))
      awaitOffset(p2, 5)
      // no loss: the offline events arrive in order
      assert(p2.log(meta.id, 3, 5).map(r => (r.offset, r.op)).toSeq ===
        Seq((4L, "d"), (5L, "c")))
      // no replay: nothing at or below the token's offset was re-shipped
      assert(p2.log(meta.id, 0, 3).isEmpty,
        "resumed client must not have re-received pre-token events")
      // token algebra: a resumed client's token for its floor = the floor
      assert(p2.resumeToken(3).get === token)
      // and its token advances past newly delivered events
      assert(p2.resumeToken(5).get.toLong > token.toLong)
      p2.close()

      // a file/JDBC-style provider has no upstream subscription: None
      val inMem = new graft.cdc.provider.InMemoryChangeLogProvider(meta, Seq.empty, Seq.empty)
      assert(inMem.resumeToken(0).isEmpty)
    } finally server.close()
  }

  test("resume token + checkpointed stream: restart across provider lives, exactly-once") {
    val server = new ResumableServer()
    val tmp = java.nio.file.Files.createTempDirectory("graft_socket_resume_")
    val outDir = tmp.resolve("out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("cdc-log")
        .option("provider.name", "socket-resume")
        .option("metadata.columns", "op_offset,row_kind")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      val p1 = new SocketChangeLogProvider("localhost", server.port, meta)
      ProviderRegistry.register("socket-resume", p1)
      server.publish(ev(1, "c", 1, "a"))
      server.publish(ev(2, "c", 2, "b"))
      awaitOffset(p1, 2)
      runOnce()
      val committed = 2L // the AvailableNow run drained through offset 2
      val token = p1.resumeToken(committed).get
      p1.close() // stream stopped, provider torn down

      server.publish(ev(3, "c", 3, "c")) // arrives while offline
      val p2 = new SocketChangeLogProvider("localhost", server.port, meta,
        resumeFrom = Some(token))
      ProviderRegistry.register("socket-resume", p2)
      awaitOffset(p2, 3)
      runOnce() // same checkpoint, resumed provider
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      // run 1 snapshotted {1->a, 2->b}; run 2 appended exactly the create
      assert(rows.filter(_._3 == "r").map(x => (x._1, x._2)).sorted.toSeq ===
        Seq((1L, "a"), (2L, "b")))
      assert(rows.filter(_._4 > 2L).map(x => (x._1, x._2, x._3)).toSeq ===
        Seq((3L, "c", "c")), s"wave-2 wrong: ${rows.toSeq}")
      assert(rows.length === 3, "no duplicates across the resumed restart")
      p2.close()
    } finally server.close()
  }

  test("spooled tail is key-indexed: logForRange/logEventsApprox/logShardBoundaries from the live spool") {
    val server = new ResumableServer()
    // hot-range backlog: 90 of 100 events on keys 90..99, 10 scattered
    (1L to 100L).foreach { o =>
      val k = if (o % 10 == 0) o % 80 + 1 else 90 + o % 10
      server.publish(ev(o, if (o % 3 == 0) "u" else "c", k, s"v$o"))
    }
    val p = new SocketChangeLogProvider("localhost", server.port, meta)
    try {
      awaitOffset(p, 100L)
      val id = meta.id
      assert(p.logEventsApprox(id, 0L, 100L) === 100L)
      assert(p.logEventsApprox(id, 30L, 70L) === 40L)
      assert(p.logEventsApprox(id, Long.MaxValue, Long.MaxValue) === 0L)
      // range read: only the range's events, ascending offset
      val r = SnapshotSplit(id, 0, Some(ChunkKey.of(90L)), Some(ChunkKey.of(95L)))
      val got = p.logForRange(id, 0L, 100L, r).toSeq
      val expected = p.log(id, 0L, 100L).toSeq.filter { rec =>
        val k = (if (rec.op == ChangeOp.Delete) rec.before else rec.after)(0).asInstanceOf[Long]
        k >= 90L && k < 95L
      }
      assert(got.map(_.offset) === expected.map(_.offset),
        "range read must equal the filtered serial read in ascending offset order")
      assert(got.nonEmpty)
      // weighted boundaries split the hot range instead of draining it in
      // one shard (the log-only socket source has NO snapshot stats at all,
      // so weighted boundaries are the ONLY way its backlog can shard)
      val bs = p.logShardBoundaries(id, 0L, 100L, 4)
      assert(bs.nonEmpty && bs.size <= 3, s"expected interior boundaries, got $bs")
      val starts = None +: bs.map(Option(_))
      val ends = bs.map(Option(_)) :+ None
      val counts = starts.zip(ends).zipWithIndex.map { case ((s0, e0), i) =>
        val rr = SnapshotSplit(id, i, s0, e0)
        p.logForRange(id, 0L, 100L, rr).size
      }
      assert(counts.sum === 100, s"shards must cover the spool, got $counts")
      assert(counts.max <= 60, s"the hot range must split, got $counts")
    } finally { p.close(); server.close() }
  }

  test("log-only socket source shards its catch-up through the planner (weighted boundaries, no snapshot stats)") {
    // before round 17 a log-only source could NEVER shard: the planner's
    // only boundary source was snapshot key stats (keyBounds), and the
    // socket's log-only keyBounds is empty. Weighted boundaries come from
    // the spool's own (key, offset) index, so the wire path now shards.
    import graft.cdc.source.{CdcMicroBatchStream, CdcOffset, CdcOptions, LogPartition}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val server = new ResumableServer()
    (1L to 120L).foreach { o => server.publish(ev(o, "c", (o * 7) % 40 + 1, s"v$o")) }
    val p = new SocketChangeLogProvider("localhost", server.port, meta)
    try {
      awaitOffset(p, 120L)
      graft.cdc.provider.ProviderRegistry.register("sock-shard", p)
      def drain(extra: Map[String, String]): (Int, Seq[(Long, String, Long)]) = {
        val opts = CdcOptions.from(new CaseInsensitiveStringMap((Map(
          "provider.name" -> "sock-shard", "scan.startup.mode" -> "earliest",
          "metadata.columns" -> "op_offset") ++ extra).asJava))
        val stream = new CdcMicroBatchStream(opts, schema,
          CdcOptions.producedSchema(schema, Seq(CdcOptions.MetaOffset)), Seq(meta))
        val o0 = stream.initialOffset().asInstanceOf[CdcOffset]
        val o1 = stream.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
        val parts = stream.planInputPartitions(o0, o1).toSeq
        val factory = stream.createReaderFactory()
        val rows = parts.flatMap { part =>
          val r = factory.createReader(part)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
          try while (r.next()) {
            val ir = r.get()
            buf += ((ir.getLong(0), ir.getUTF8String(2).toString, ir.getLong(3)))
          } finally r.close()
          buf.toSeq
        }
        (parts.count { case lp: LogPartition => lp.shard.isDefined; case _ => false }, rows)
      }
      val (serialShards, serial) = drain(Map.empty)
      assert(serialShards == 0 && serial.size == 120)
      val (shards, union) = drain(Map(
        "scan.log.catchup.shards" -> "4",
        "scan.log.catchup.min-offsets-per-shard" -> "25"))
      assert(shards >= 2 && shards <= 4,
        s"the log-only spool must shard via weighted boundaries, got $shards")
      assert(union.groupBy(identity).view.mapValues(_.size).toMap ==
        serial.groupBy(identity).view.mapValues(_.size).toMap,
        "shard union must equal the serial wire read")
    } finally { p.close(); server.close() }
  }

  test("socket client failure propagates loudly on the next SPI call") {
    val server = new ServerSocket(0)
    new Thread(() => { server.accept() }).start()
    val p = new SocketChangeLogProvider("localhost", server.getLocalPort, meta)
    // killing the server socket under the client → client thread dies →
    // next planning probe must throw, not hang or return stale offsets
    server.close()
    // closing the server does not kill an accepted connection on all
    // platforms; close the provider's socket side to force the error path
    p.close()
    // after close() the provider is shut down; a NEW provider pointed at a
    // dead endpoint fails at construction or first probe
    intercept[Exception] {
      val dead = new SocketChangeLogProvider("localhost", server.getLocalPort, meta)
      dead.currentOffset
    }
  }
}
