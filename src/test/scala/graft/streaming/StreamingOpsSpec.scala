package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingOpsSpec extends SparkSpec {
  import java.sql.Timestamp
  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamingOps.windowedCounts(in.toDF(), "ts", "10 seconds", "1 minute")
      .writeStream.format("memory").queryName("win_sink").outputMode("update").start()
    try {
      in.addData(Event(1, ts(10), "click", 1.0), Event(2, ts(20), "click", 2.0),
        Event(1, ts(70), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_sink")
        .select(col("window.start").cast("long"), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((0L, "click", 2L), (60L, "view", 1L)))
    } finally q.stop()
  }

  test("stateful sessionization: gap closes sessions, watermark closes the tail") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamingOps.sessionize(in.toDS(), gapMs = 30000)
      .writeStream.format("memory").queryName("sess_sink").outputMode("append").start()
    try {
      // session 1: events at 10s,20s; then a gap > 30s; session 2 at 100s
      in.addData(Event(1, ts(10), "click", 1.0), Event(1, ts(20), "click", 2.0))
      q.processAllAvailable()
      in.addData(Event(1, ts(100), "click", 4.0)) // closes session 1 (gap)
      q.processAllAvailable()
      // advance watermark far enough to time out session 2
      in.addData(Event(2, ts(500), "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, ts(1000), "click", 1.0)) // push watermark further
      q.processAllAvailable()
      val sessions = spark.table("sess_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000, r.getLong(3)))
      assert(sessions.contains((1L, 10L, 20L, 2L)), s"got ${sessions.mkString(",")}")
      assert(sessions.contains((1L, 100L, 100L, 1L)), s"got ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("streaming dedup drops same-content docs within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val df = in.toDF().toDF("ts", "text")
    val q = StreamingOps.streamingDedup(df, "ts", "text", "1 minute")
      .writeStream.format("memory").queryName("dedup_sink").outputMode("append").start()
    try {
      in.addData((ts(1), "hello"), (ts(2), "hello"), (ts(3), "world"))
      q.processAllAvailable()
      in.addData((ts(4), "hello"), (ts(5), "fresh"))
      q.processAllAvailable()
      val texts = spark.table("dedup_sink").select("text").collect().map(_.getString(0))
      assert(texts.sorted.toSeq === Seq("fresh", "hello", "world"))
    } finally q.stop()
  }

  test("temporal join: each event gets the version in force at its ts, one stateful op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eIn = MemoryStream[(Long, Long, java.sql.Timestamp)]      // key, event_id, ets
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double)] // key, ver_id, vts, value
    val joined = StreamingOps.temporalJoin(
      eIn.toDF().toDF("e_key", "event_id", "ets"), "ets",
      vIn.toDF().toDF("v_key", "ver_id", "vts", "value"), "vts",
      "e_key", "v_key", horizonMs = 120000L, lateness = "10 seconds",
      eCols = Seq("e_key", "event_id"), payload = Seq("value"), tieCols = Seq("ver_id"))
    val q = joined.writeStream.format("memory").queryName("tj_sink")
      .outputMode("append").start()
    try {
      // versions for key 1: v10@t10 (7.0), v11@t40 (8.0); key 2: v20@t15 (9.0)
      vIn.addData((1L, 10L, ts(10), 7.0), (1L, 11L, ts(40), 8.0), (2L, 20L, ts(15), 9.0))
      // events: key1@t30 → v10; key1@t50 → v11 (latest ≤ 50); key2@t200 → dropped
      // (v20 is 185s stale, beyond the 120s horizon); key3@t30 → no version, dropped
      eIn.addData((1L, 100L, ts(30)), (1L, 101L, ts(50)), (2L, 102L, ts(200)), (3L, 103L, ts(30)))
      q.processAllAvailable()
      // push both watermarks past the last event so every event is emitted
      eIn.addData((9L, 900L, ts(1000)))
      vIn.addData((9L, 90L, ts(1000), 0.0))
      q.processAllAvailable()
      eIn.addData((9L, 901L, ts(2000)))
      vIn.addData((9L, 91L, ts(2000), 0.0))
      q.processAllAvailable()
      val rows = spark.table("tj_sink")
        .select("event_id", "ver_id", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // sentinel events 900/901 DO join their co-timed versions — filter them out
      val real = rows.filter(_._1 < 900L)
      assert(real === Set((100L, 10L, 7.0), (101L, 11L, 8.0)))
      // exactly once: no duplicate emission across the flush batches
      assert(spark.table("tj_sink").where(col("event_id") < 900).count() === 2)
      // one stateful operator: flatMapGroupsWithState over events ∪ versions
      val ops = q.lastProgress.stateOperators.map(_.operatorName)
      assert(ops.toSeq === Seq("flatMapGroupsWithState"), ops.mkString(","))
    } finally q.stop()
  }

  test("temporal OUTER join: unmatched events kept with NULL version columns") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val joined = StreamingOps.temporalJoin(
      eIn.toDF().toDF("e_key", "event_id", "ets"), "ets",
      vIn.toDF().toDF("v_key", "ver_id", "vts", "value"), "vts",
      "e_key", "v_key", horizonMs = 120000L, lateness = "10 seconds",
      eCols = Seq("e_key", "event_id"), payload = Seq("value"), tieCols = Seq("ver_id"),
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("tjo_sink")
      .outputMode("append").start()
    try {
      vIn.addData((1L, 10L, ts(10), 7.0), (2L, 20L, ts(15), 9.0))
      // 100 matches v10; 102's only version is 185s stale (beyond horizon);
      // 103 has no version at all — outer keeps BOTH with null versions
      eIn.addData((1L, 100L, ts(30)), (2L, 102L, ts(200)), (3L, 103L, ts(30)))
      q.processAllAvailable()
      // watermark pushes: the events are emitted once the watermark passes them
      eIn.addData((9L, 900L, ts(1000))); vIn.addData((9L, 90L, ts(1000), 0.0))
      q.processAllAvailable()
      eIn.addData((9L, 901L, ts(2000))); vIn.addData((9L, 91L, ts(2000), 0.0))
      q.processAllAvailable()
      eIn.addData((9L, 902L, ts(3000))); vIn.addData((9L, 92L, ts(3000), 0.0))
      q.processAllAvailable()
      val rows = spark.table("tjo_sink")
        .select("event_id", "ver_id", "value")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      val real = rows.filter(_._1 < 900L)
      assert(real === Set(
        (100L, Some(10L), Some(7.0)),
        (102L, None, None),
        (103L, None, None)))
      assert(spark.table("tjo_sink").where(col("event_id") < 900).count() === 3)
      val ops = q.lastProgress.stateOperators.map(_.operatorName)
      assert(ops.toSeq === Seq("flatMapGroupsWithState"), ops.mkString(","))
    } finally q.stop()
  }

  test("stream-stream interval join: exact pair set once, symmetric-hash plan, state evicted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val joined = StreamingOps.intervalJoin(
      lIn.toDF().toDF("c_user", "click_id", "cts"), "cts",
      rIn.toDF().toDF("p_user", "purchase_id", "pts", "value"), "pts",
      "c_user", "p_user", windowMs = 30000L, lateness = "10 seconds")
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode("append").start()
    try {
      lIn.addData((1L, 100L, ts(10)), (2L, 200L, ts(12)))
      rIn.addData((1L, 900L, ts(20), 5.0), (1L, 901L, ts(45), 6.0), (2L, 902L, ts(30), 7.0))
      q.processAllAvailable()
      // the right row can land in the batch before its left match — run a
      // second empty-ish cycle so both sides' rows have met
      lIn.addData((3L, 300L, ts(50)))
      q.processAllAvailable()
      val pairs = spark.table("ssj_sink").select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // (100,900): 20s in [10s,40s]; (200,902): 30s in [12s,42s];
      // NOT (100,901): 45s > 10s+30s. Each exactly once (Seq, not Set).
      assert(pairs.sorted === Seq((100L, 900L), (200L, 902L)))
      assert(q.lastProgress.stateOperators.exists(
        _.operatorName.toLowerCase.contains("symmetrichashjoin")),
        q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
      // advance both watermarks two batches (disjoint users: no new pairs)
      lIn.addData((8L, 800L, ts(10000)))
      rIn.addData((9L, 990L, ts(10000), 0.0))
      q.processAllAvailable()
      lIn.addData((8L, 801L, ts(10001)))
      rIn.addData((9L, 991L, ts(10001), 0.0))
      q.processAllAvailable()
      // all pre-jump rows are beyond watermark+window → evicted; only the
      // four watermark-advancing rows may remain
      val total = q.lastProgress.stateOperators
        .filter(_.operatorName.toLowerCase.contains("symmetrichashjoin"))
        .map(_.numRowsTotal).sum
      assert(total <= 4, s"join state not evicted: $total rows")
      assert(spark.table("ssj_sink").count() === 2) // still exactly the two pairs
    } finally q.stop()
  }
}
