package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** [[StreamingOps.temporalJoin]]'s version compaction and its streaming
  * contract:
  *
  *   - HOT KEY: a key updated 10³ times inside the horizon costs one kept
  *     version once the watermark passes them, and the event still gets
  *     the version in force at its timestamp (checked on the per-key
  *     [[TemporalStep]], where the kept state is visible).
  *   - EQUIVALENCE: the one operator produces the in-force versions
  *     across micro-batches, inner and outer, down to a 300 µs gap
  *     between an event and the next version.
  *   - INVARIANCE: the answer does not depend on how the input is cut
  *     into micro-batches, nor on a stop and a restart from the checkpoint.
  *   - ONE SENTINEL: under `Trigger.AvailableNow`, a file stream whose last
  *     file holds the only watermark sentinel is emitted in full by the
  *     no-data batch Spark runs after the sentinel's watermark advance —
  *     the layout the q89/q90/q92 gates stage.
  */
class TemporalCompactionSpec extends SparkSpec {
  import java.sql.Timestamp
  private def ts(sec: Long) = new Timestamp(sec * 1000)
  private def tsUs(us: Long) = { val t = new Timestamp(us / 1000); t.setNanos((us % 1000000 * 1000).toInt); t }

  private val horizonMs = 120000L // 2 min

  private type Out = (Long, Option[Long], Option[Double])
  private def outRows(df: DataFrame): Seq[Out] =
    df.select("event_id", "ver_id", "value").where(col("event_id") < 900)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq.sortBy(_._1)

  test("hot key with 1000 in-horizon versions: the event gets its in-force version, the key keeps one") {
    val horizonUs = 3600L * 1000000L // 1 h
    // key 1: 1000 versions (µs, ver_id, value) spread over the hour up to t=3600 s
    val versions = (0 until 1000).map(i =>
      Row(3600L * 1000000L - i * 3600000L, i.toLong, i.toDouble))
    // (eTs µs, e_key, event_id): at 3599 s the in-force version is ver 1 (3596.4 s)
    val event = Row(3599L * 1000000L, 1L, 100L)
    val step = TemporalStep(horizonUs, nTie = 1, vWidth = 3, outer = false)
    // below the event: it stays pending and every version is kept
    val (none, pending, all) = step(Seq(event), versions, wmUs = 3000L * 1000000L)
    assert(none.isEmpty && pending === Seq(event))
    assert(all.size === 167 + 1, "the versions above the watermark, plus one below it")
    // the watermark passes the event and every version: one emission, one kept version
    val (out, pending2, kept) = step(pending, all, wmUs = 3601L * 1000000L)
    assert(out === Seq(Row(3599L * 1000000L, 1L, 100L, 3596400000L, 1L, 1.0)))
    assert(pending2.isEmpty)
    assert(kept.map(_.getLong(1)) === Seq(0L), "only the latest version below the watermark")
    assert(step.timeoutMs(pending2, kept) === (3600L * 1000000L + horizonUs) / 1000)
    // once the kept version leaves the horizon, the key holds nothing
    val (_, _, gone) = step(Seq.empty, kept, wmUs = 3600L * 1000000L + horizonUs + 1)
    assert(gone.isEmpty)
  }

  private def singleOperator(q: StreamingQuery): Unit = {
    val ops = q.lastProgress.stateOperators.map(_.operatorName)
    assert(ops.toSeq === Seq("flatMapGroupsWithState"), ops.mkString(","))
  }

  /** Drives the operator over one MemoryStream feed; returns its rows. */
  private def drive(outer: Boolean): Seq[Out] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val eIn = MemoryStream[(Long, Long, Timestamp)]
    val vIn = MemoryStream[(Long, Long, Timestamp, Double)]
    val joined = StreamingOps.temporalJoin(
      eIn.toDF().toDF("e_key", "event_id", "ets"), "ets",
      vIn.toDF().toDF("v_key", "ver_id", "vts", "value"), "vts",
      "e_key", "v_key", horizonMs, lateness = "10 seconds",
      eCols = Seq("e_key", "event_id"), payload = Seq("value"),
      tieCols = Seq("ver_id"), joinType = if (outer) "leftOuter" else "inner")
    val name = s"tjc_${if (outer) "o" else "i"}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // key 1 versions: v10@t10, v11@t40, v12@t95; key 2's only version is
      // stale for its event; key 3 has none
      vIn.addData((1L, 10L, ts(10), 7.0), (1L, 11L, ts(40), 8.0),
        (1L, 12L, ts(95), 9.5), (2L, 20L, ts(15), 9.0),
        (4L, 40L, ts(60), 4.0), (4L, 41L, tsUs(60000800L), 4.1))
      // e100@t30→v10; e105@t47→v11; e101@t50→v11; e102@t100→v12;
      // e103@t130→v12 (35 s old, inside the horizon); e104@t200: v20 is
      // 185 s stale (> 2 min horizon) → inner drops, outer keeps null;
      // e106 key 3 → no version at all; e107 sits 300 µs before v41, so
      // v40 is in force (timestamps compare in µs, not ms)
      eIn.addData((1L, 100L, ts(30)), (1L, 105L, ts(47)), (1L, 101L, ts(50)),
        (1L, 102L, ts(100)), (1L, 103L, ts(130)), (2L, 104L, ts(200)),
        (3L, 106L, ts(30)), (4L, 107L, tsUs(60000500L)))
      q.processAllAvailable()
      // watermark pushes on both sides
      Seq(1000L, 2000L).foreach { t =>
        eIn.addData((9L, 900L + t, ts(t))); vIn.addData((9L, 90L, ts(t), 0.0))
        q.processAllAvailable()
      }
      singleOperator(q)
      outRows(spark.table(name))
    } finally q.stop()
  }

  test("streaming equivalence, inner: the single operator = in-force versions") {
    assert(drive(outer = false) === Seq[Out](
      (100L, Some(10L), Some(7.0)), (101L, Some(11L), Some(8.0)),
      (102L, Some(12L), Some(9.5)), (103L, Some(12L), Some(9.5)),
      (105L, Some(11L), Some(8.0)), (107L, Some(40L), Some(4.0))))
  }

  test("streaming equivalence, outer: unmatched events keep NULL version columns") {
    assert(drive(outer = true) === Seq[Out](
      (100L, Some(10L), Some(7.0)), (101L, Some(11L), Some(8.0)),
      (102L, Some(12L), Some(9.5)), (103L, Some(12L), Some(9.5)),
      (104L, None, None), (105L, Some(11L), Some(8.0)), (106L, None, None),
      (107L, Some(40L), Some(4.0))))
  }

  // The multi-batch fixture (times in ms): keys 1-3 update every 5 s (key 3
  // every 45 s, so some of its events fall outside the 20 s horizon); key 4
  // has no versions. Boundary cases: ver 117 ties ver 114 at 70.5 s (the
  // higher id wins), e5 sits exactly 20 s after ver 300 (inclusive) and e7
  // 1 ms past it, e6 sits exactly at ver 208.
  private def at(ms: Long) = new Timestamp(ms)
  private val horizon = 20000L
  private val versions = (for (k <- 1L to 3L; i <- 0L until 30L if k != 3 || i % 9 == 0)
      yield (k, k * 100 + i, i * 5000L + k * 500L, (k * 100 + i) / 10.0)) ++
    Seq((1L, 117L, 70500L, 99.0))
  private val events = (0L until 45L).map(j => (j % 4 + 1, 200L + j, j * 3300L + 250L)) ++
    Seq((3L, 5L, 21500L), (2L, 6L, 41000L), (3L, 7L, 21501L))
  /** The batch answer: per event, the greatest version in [t − horizon, t]. */
  private def expected(outer: Boolean): Seq[Out] = events.flatMap { case (k, id, t) =>
    val in = versions.filter(v => v._1 == k && v._3 <= t && v._3 >= t - horizon)
    if (in.isEmpty) { if (outer) Some((id, None, None)) else None }
    else { val v = in.maxBy(v => (v._3, v._2)); Some((id, Some(v._2), Some(v._4))) }
  }.sortBy(_._1)

  test("batching invariance and checkpoint survival: one batch = k batches = k batches across a restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the input cut into time-ordered chunks: nothing is ever late
    val cuts = Seq(0L, 50000L, 100000L, Long.MaxValue)
    def chunk(i: Int) = (events.filter(e => e._3 >= cuts(i) && e._3 < cuts(i + 1)),
      versions.filter(v => v._3 >= cuts(i) && v._3 < cuts(i + 1)))

    /** Feeds the input in `chunks` (restarting from the checkpoint after
      * `restartAfter` of them, if set) into a parquet file sink, then two
      * watermark pushes; returns (rows, micro-batches that read input). */
    def run(outer: Boolean, chunks: Seq[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long, Double)])],
        restartAfter: Option[Int]): (Seq[Out], Int) = {
      val eIn = MemoryStream[(Long, Long, Timestamp)]
      val vIn = MemoryStream[(Long, Long, Timestamp, Double)]
      val joined = StreamingOps.temporalJoin(
        eIn.toDF().toDF("e_key", "event_id", "ets"), "ets",
        vIn.toDF().toDF("v_key", "ver_id", "vts", "value"), "vts",
        "e_key", "v_key", horizon, lateness = "10 seconds",
        eCols = Seq("e_key", "event_id"), payload = Seq("value"),
        tieCols = Seq("ver_id"), joinType = if (outer) "leftOuter" else "inner")
      val dir = java.nio.file.Files.createTempDirectory("graft_tj_inv_")
      def start() = joined.writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .outputMode("append").start()
      var q = start()
      var batches = 0
      def feed(es: Seq[(Long, Long, Long)], vs: Seq[(Long, Long, Long, Double)]): Unit = {
        if (es.nonEmpty) eIn.addData(es.map(e => (e._1, e._2, at(e._3))))
        if (vs.nonEmpty) vIn.addData(vs.map(v => (v._1, v._2, at(v._3), v._4)))
        q.processAllAvailable()
      }
      try {
        chunks.zipWithIndex.foreach { case ((es, vs), i) =>
          feed(es, vs)
          if (restartAfter.contains(i + 1)) {
            batches += q.recentProgress.count(_.numInputRows > 0)
            q.stop()
            q = start()
          }
        }
        Seq(1000000L, 2000000L).foreach(t => feed(Seq((9L, 900L, t)), Seq((9L, 90L, t, 0.0))))
        singleOperator(q)
        batches += q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
      (outRows(spark.read.parquet(dir.resolve("out").toString)), batches)
    }

    val whole = (events, versions)
    val cut = cuts.indices.init.map(chunk)
    Seq(false, true).foreach { outer =>
      val want = expected(outer)
      assert(want.exists(_._2.isEmpty) === outer, "the fixture must exercise both join types")
      val (one, _) = run(outer, Seq(whole), None)
      val (many, nMany) = run(outer, cut, None)
      val (restarted, nRestarted) = run(outer, cut, Some(2))
      assert(one === want, s"outer=$outer, one batch")
      assert(many === want, s"outer=$outer, ${cut.size} batches")
      assert(restarted === want, s"outer=$outer, restarted")
      assert(nMany >= cut.size + 2 && nRestarted >= cut.size + 2, s"batches: $nMany, $nRestarted")
    }
  }

  test("one sentinel file under AvailableNow: the closing no-data batch emits every event") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tj_availnow_")
    val in = dir.resolve("in").toString
    val cols = Seq("k", "id", "t", "kind", "value")
    (events.map(e => (e._1, e._2, at(e._3), "e", 0.0)) ++
      versions.map(v => (v._1, v._2, at(v._3), "v", v._4)))
      .toDF(cols: _*).coalesce(1).write.parquet(in)
    // the last file: the only sentinel, an event and a version far past
    // lateness + horizon
    Seq((9L, 900L, at(1000000L), "e", 0.0), (9L, 90L, at(1000000L), "v", 0.0))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    val src = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
    def side(kind: String) = src.filter(col("kind") === kind)
    val joined = StreamingOps.temporalJoin(
      side("e").select(col("k").as("e_key"), col("id").as("event_id"), col("t").as("ets")), "ets",
      side("v").select(col("k").as("v_key"), col("id").as("ver_id"), col("t").as("vts"),
        col("value")), "vts",
      "e_key", "v_key", horizon, lateness = "10 seconds",
      eCols = Seq("e_key", "event_id"), payload = Seq("value"), tieCols = Seq("ver_id"))
    val q = joined.writeStream.format("memory").queryName("tjc_availnow")
      .outputMode("append").option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(outRows(spark.table("tjc_availnow")) === expected(outer = false))
    assert(q.lastProgress.numInputRows === 0L,
      "the emission must come from the no-data batch after the sentinel's watermark advance")
    assert(q.recentProgress.length === 2, "one data batch, then the no-data batch")
  }
}
