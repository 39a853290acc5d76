package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property test of the bucketed sink's merge algebra: for ANY event set
  * and ANY partition of it into batches — including batches that deliver a
  * key's events OUT of offset order across batches, and splits long enough
  * that the sink folds its generations — the final readState equals the
  * last-wins model (max offset per key, delete wins by tombstone), and
  * replaying any batch afterwards (after a fold, on the long splits)
  * changes nothing.
  * The streaming analogue of CohortStateMachinePropertySpec's rigor for
  * the source, applied to the sink. */
class UpsertSinkPropertySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSpec.session
  import spark.implicits._

  private def check(p: Prop): Unit = {
    // each case runs several real Spark merge jobs — keep the count modest
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")

  private val scenarioGen = for {
    // short splits, and splits that cross the fold cadence once; every
    // batch gets at least one event, so each merge commits a generation
    nBatches <- Gen.oneOf(Gen.choose(1, 4),
      Gen.choose(UpsertSink.FoldEvery + 1, UpsertSink.FoldEvery + 3))
    nEvents <- Gen.choose(nBatches, 30)
    events <- Gen.listOfN(nEvents,
      Gen.zip(Gen.choose(0L, 7L), Gen.oneOf("c", "u", "d"), Gen.choose(0.0, 99.0)))
    extra <- Gen.listOfN(nEvents - nBatches, Gen.choose(0, nBatches - 1))
    seed <- Gen.long
    assignment = new scala.util.Random(seed).shuffle((0 until nBatches).toList ++ extra)
    replayIdx <- Gen.choose(0, nBatches - 1)
    buckets <- Gen.oneOf(1, 4, 16, 32)
  } yield (events, nBatches, assignment, replayIdx, buckets)

  test("any batch split of any event set merges to the last-wins model; replay is a no-op") {
    // no shrinking: each step re-runs a scenario's Spark merges, and the
    // shrinker leaves the generator's domain (0 buckets, empty ops), so a
    // failure is reported as drawn
    check(Prop.forAllNoShrink(scenarioGen) { case (events, nBatches, assignment, replayIdx, buckets) =>
      // distinct offsets 1..n in event order; rows as the changelog shape
      val rows = events.zipWithIndex.map { case ((k, op, v), i) =>
        val kind = op match { case "u" => "+U"; case _ => "+I" }
        (k, v, op, i + 1L, kind)
      }
      // model: last event per key wins; delete removes
      val model = rows.groupBy(_._1).flatMap { case (k, es) =>
        val last = es.maxBy(_._4)
        if (last._3 == "d") None else Some(k -> last._2)
      }
      val out = java.nio.file.Files.createTempDirectory("graft_upsert_prop_")
        .resolve("state").toString
      val batches = (0 until nBatches).map { b =>
        rows.zip(assignment).collect { case (r, a) if a == b => r }
      }.filter(_.nonEmpty)
      batches.foreach(b => UpsertSink.mergeBatch(b.toDF(cols: _*), Seq("k"), out, buckets))
      def state(): Map[Long, Double] =
        if (batches.isEmpty) Map.empty
        else UpsertSink.readState(spark, out).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = state()
      // replaying an arbitrary earlier batch must change nothing
      val replayed =
        if (batches.isEmpty) got
        else {
          UpsertSink.mergeBatch(
            batches(replayIdx % batches.size).toDF(cols: _*), Seq("k"), out, buckets)
          state()
        }
      val ok = got == model && replayed == model
      if (!ok) println(s"FAIL events=$rows batches=$batches\n  got=$got\n  exp=$model\n  replayed=$replayed")
      ok
    })
  }

  private val aggScenarioGen = for {
    nDeltas <- Gen.choose(1, 24)
    deltas <- Gen.listOfN(nDeltas,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-50L, 50L)))
    nBatches <- Gen.choose(1, 4)
    assignment <- Gen.listOfN(nDeltas, Gen.choose(0, nBatches - 1))
    replayIdx <- Gen.choose(0, nBatches - 1)
  } yield (deltas, nBatches, assignment, replayIdx)

  test("upsertAggregate algebra: any batching of group deltas converges to the full aggregate") {
    // the q106 path's core claim: update mode emits each batch's changed
    // group PREFIX aggregates, and epoch-sequenced last-wins merges must
    // make the final state equal the whole-stream aggregate for ANY split
    // of the deltas into micro-batches — plus replaying an epoch's rows
    // (same epoch number, same prefix values) is a no-op, which is what
    // makes foreachBatch's at-least-once delivery exactly-once in effect
    check(Prop.forAll(aggScenarioGen) { case (deltas, nBatches, assignment, replayIdx) =>
      val out = java.nio.file.Files.createTempDirectory("graft_upsert_aggp_")
        .resolve("state").toString
      val batches = (0 until nBatches).map { b =>
        deltas.zip(assignment).collect { case (d, a) if a == b => d }
      }.filter(_.nonEmpty)
      // what the streaming aggregate emits at epoch e: the running prefix
      // total of every group touched in batch e (update-mode contract)
      val running = scala.collection.mutable.Map[String, Long]()
      val emitted = batches.zipWithIndex.map { case (b, e) =>
        b.foreach { case (g, x) => running(g) = running.getOrElse(g, 0L) + x }
        b.map(_._1).distinct.map(g => (g, running(g))) -> e.toLong
      }
      def mergeEpoch(rows: Seq[(String, Long)], epoch: Long): Unit =
        UpsertSink.mergeBatch(
          rows.toDF("g", "total")
            .withColumn("op", org.apache.spark.sql.functions.lit("u"))
            .withColumn("op_offset", org.apache.spark.sql.functions.lit(epoch))
            .withColumn("row_kind", org.apache.spark.sql.functions.lit("+U")),
          Seq("g"), out, numBuckets = 2)
      emitted.foreach { case (rows, e) => mergeEpoch(rows, e) }
      val model = deltas.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sum }
      def state(): Map[String, Long] =
        if (emitted.isEmpty) Map.empty
        else UpsertSink.readState(spark, out).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = state()
      val replayed = if (emitted.isEmpty) got else {
        val (rows, e) = emitted(replayIdx % emitted.size)
        mergeEpoch(rows, e)
        state()
      }
      val ok = got == model && replayed == model
      if (!ok) println(s"FAIL deltas=$deltas batches=$batches\n  got=$got\n  exp=$model\n  replayed=$replayed")
      ok
    })
  }
}
