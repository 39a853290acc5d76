package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, StructType}

final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
/** Session totals accumulate as exact decimals (each event value quantized
  * to 6 dp exactly like the `graft.Q.dsum` oracle pattern), so the emitted
  * sum is independent of arrival/merge order — a plain double += would make
  * multi-batch streaming results order-dependent and unverifiable. */
final case class SessionState(start: Long, lastTs: Long, nEvents: Long, totalValue: BigDecimal)
final case class Session(user_id: Long, start_ts: Long, end_ts: Long, n_events: Long,
    total_value: Double)

/** Structured Streaming operators over event/changelog streams.
  *
  * The reference delegates all stream processing to Flink SQL (SURVEY.md
  * §2.5/§2.7 W9); this is the Spark-side equivalent surface: event-time
  * watermarks + windowed aggregation, stateful sessionization
  * (flatMapGroupsWithState), and streaming dedup — each one a standard
  * building block of a streaming training-data ingest.
  *
  * Scale notes: all state is keyed (user/window/content-hash) and lives in
  * the state store, partitioned by the shuffle on the grouping key; late
  * data beyond the watermark is dropped, which bounds state size.
  */
object StreamingOps {

  /** Tumbling-window event counts with a watermark (late events beyond
    * `lateness` are dropped; state for closed windows is evicted). */
  def windowedCounts(events: DataFrame, tsCol: String, lateness: String,
      window_ : String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      // decimal-exact sum: incremental state merges in arrival order, and
      // only an associative exact sum makes the result independent of it
      // (and oracle-checkable)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(graft.Q.DEC)).cast("double").as("total_value"))

  /** Gap-based sessionization: a session closes when no event arrives for
    * `gapMs` (event time). Emits one row per closed session. State per
    * user is O(1) — the reference pattern for clickstream/training-log
    * sessionization via flatMapGroupsWithState. */
  def sessionize(events: Dataset[Event], gapMs: Long,
      lateness: String = "10 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    // mirror of the dsum oracle pattern: exact 6-dp quantization per event
    def dec(v: Double): BigDecimal = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    events.withWatermark("ts", lateness).as[Event].groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events → close
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.lastTs, s.nEvents, s.totalValue.toDouble))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + dec(e.value)))
                case Some(s) => // gap exceeded → close previous, open new
                  out ::= Session(userId, s.start, s.lastTs, s.nEvents, s.totalValue.toDouble)
                  cur = Some(SessionState(t, t, 1, dec(e.value)))
                case None =>
                  cur = Some(SessionState(t, t, 1, dec(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the session when the event-time watermark passes last+gap
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Streaming exact dedup by content hash within the watermark horizon —
    * the ingest-time guard of the dedup pipeline (state = one hash per
    * distinct doc inside the horizon). */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
      lateness: String): DataFrame =
    docs.withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicates("__h")
      .drop("__h")

  /** Keep the first event per key seen on the stream. The event-time
    * column is deliberately NOT in the dedup key, so state is one entry
    * per distinct key for the stream's lifetime (Spark only evicts dedup
    * state when the watermark column is part of the key) — the right
    * semantics for "first occurrence ever" with a bounded key domain.
    * For unbounded key domains use `dropDuplicatesWithinWatermark`
    * (bounded state, duplicates only suppressed inside the horizon).
    * With arrival order = event-time order, the kept row is exactly the
    * min-timestamp row per key. */
  def firstPerKey(events: DataFrame, tsCol: String, keys: Seq[String],
      lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicates(keys)

  /** Watermarked stream-stream interval join — the Flink-SQL interval-join
    * shape the reference's users run over changelogs (SURVEY.md §2.4: the
    * reference delegates joins to Flink SQL, where `l.ts BETWEEN r.ts AND
    * r.ts + INTERVAL` is the canonical stream enrichment). Spark plans it
    * as StreamingSymmetricHashJoinExec: both sides' state is keyed by the
    * equi-join key and BOUNDED by the watermark + the time-range condition
    * — a left row is evicted once the watermark passes `lTs + windowMs`,
    * a right row once it passes `rTs` — so joining two firehoses holds
    * O(rate × horizon) state per side, not O(stream). Inner join in
    * append mode emits each qualifying pair exactly once regardless of
    * micro-batch boundaries, which is what makes the result
    * oracle-checkable against the equivalent static interval join.
    *
    * `lateness` must cover the worst arrival skew between the two sides;
    * rows later than it can be dropped before their matches arrive. */
  def intervalJoin(left: DataFrame, lTs: String, right: DataFrame, rTs: String,
      lKey: String, rKey: String, windowMs: Long, lateness: String): DataFrame =
    left.withWatermark(lTs, lateness)
      .join(right.withWatermark(rTs, lateness),
        expr(s"$lKey = $rKey AND $rTs >= $lTs AND " +
          s"$rTs <= $lTs + interval ${windowMs / 1000} seconds"))

  /** Streaming event-time temporal join — Flink SQL's
    * `FOR SYSTEM_TIME AS OF probe.ts` (the canonical CDC enrichment: join
    * each probe-side event to the version of a changelog-fed dimension
    * that was current at the event's own timestamp; SURVEY.md §2.4 — the
    * reference delegates this to Flink SQL). Each event pairs with the
    * version of greatest `(vTs, tieCols...)` inside `[eTs - horizonMs, eTs]`
    * (the bounded-staleness window; ties at one version timestamp resolve
    * by `tieCols`, so the pick is deterministic).
    *
    * One arbitrary stateful operator does it: events and versions become a
    * tagged union `(__k, __t, event | null, null | version)`, each side
    * watermarked on `__t` (the global watermark is the minimum of the two,
    * Spark's default policy), grouped by key and run through
    * `flatMapGroupsWithState` with an event-time timeout. Per key the
    * state holds the events above the watermark, the versions above it,
    * and the single greatest version at or below it while it can still be
    * in force for a later event — O(1) versions below the watermark, the
    * shape of Flink's latest-version temporal state, so a key updated
    * thousands of times inside the horizon keeps one old version instead
    * of pairing every event with every version. An event is emitted once
    * the watermark passes its timestamp (any version still to arrive for
    * it would be late input); the timeout fires at the earlier of the
    * earliest pending event and the kept version leaving the horizon, and
    * a key whose state empties is removed. The per-key step is
    * [[TemporalStep]]; timestamps are compared in microseconds.
    *
    * `joinType = "inner"` (default) drops events with no version inside
    * the horizon; `"leftOuter"` emits them with NULL version columns —
    * Flink's temporal OUTER join. Output: `eTs`, `eCols...`, `version_ts`,
    * `tieCols...`, `payload...`; `eCols` come from the event side (include
    * `eKey` to keep it), `tieCols` and `payload` from the dimension side.
    * Rows with a NULL `vKey` are no version of any key. */
  def temporalJoin(events: DataFrame, eTs: String, dims: DataFrame, vTs: String,
      eKey: String, vKey: String, horizonMs: Long, lateness: String,
      eCols: Seq[String], payload: Seq[String], tieCols: Seq[String],
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "leftOuter", s"unsupported joinType $joinType")
    val ev = struct((unix_micros(col(eTs)).as("__ets") +: eCols.map(col)): _*)
    val ver = struct((unix_micros(col(vTs)).as("__vts") +: (tieCols ++ payload).map(col)): _*)
    val evType = events.select(ev).schema.head.dataType.asInstanceOf[StructType]
    val verType = dims.select(ver).schema.head.dataType.asInstanceOf[StructType]
    val tagged = events.select(col(eKey).as("__k"), col(eTs).as("__t"), ev.as("__e"),
        lit(null).cast(verType).as("__v")).withWatermark("__t", lateness)
      .unionByName(dims.where(col(vKey).isNotNull)
        .select(col(vKey).cast(events.schema(eKey).dataType).as("__k"), col(vTs).as("__t"),
          lit(null).cast(evType).as("__e"), ver.as("__v"))
        .withWatermark("__t", lateness))
    val stateType = new StructType().add("events", ArrayType(evType)).add("versions", ArrayType(verType))
    val outType = StructType(evType.fields ++ verType.fields.map(_.copy(nullable = true)))
    val step = TemporalStep(horizonMs * 1000, tieCols.size, verType.size, joinType == "leftOuter")
    tagged.groupBy(col("__k"))
      .as[Row, Row](Encoders.row(tagged.select("__k").schema), Encoders.row(tagged.schema))
      .flatMapGroupsWithState[Row, Row](OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val in = rows.toSeq
          val held = state.getOption.getOrElse(Row(Nil, Nil))
          val (out, pending, kept) = step(held.getSeq[Row](0) ++ in.flatMap(r => Option(r.getStruct(2))),
            held.getSeq[Row](1) ++ in.flatMap(r => Option(r.getStruct(3))),
            state.getCurrentWatermarkMs() * 1000)
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(Row(pending, kept))
            state.setTimeoutTimestamp(math.max(step.timeoutMs(pending, kept), 1L))
          }
          out.iterator
      }(Encoders.row(stateType), Encoders.row(outType))
      .select((timestamp_micros(col("__ets")).as(eTs) +: eCols.map(col)) ++
        (timestamp_micros(col("__vts")).as("version_ts") +: (tieCols ++ payload).map(col)): _*)
  }

  /** Incremental SCD Type-2 maintenance from a changelog stream: emits a
    * history row the moment a version is SUPERSEDED (by a newer version
    * or a delete) — the streaming complement of the batch
    * [[graft.operators.ChangelogOps.scd2History]], whose
    * `valid_to IS NOT NULL` subset this reproduces exactly (q99 gates
    * that equality through the DuckDB oracle; open versions stay in
    * state and are the materialized current table, which q74/q78 already
    * cover through the upsert path).
    *
    * Scale contract — why the streaming form is the 100 TB shape: the
    * batch derivation windows over the ENTIRE accumulated history every
    * run (shuffle grows with total versions ever), while this operator's
    * state is ONE open version per live key, O(live keys), and each
    * day's increment shuffles only that day's events. Events for a key
    * must arrive in ascending `offset` order ACROSS micro-batches (the
    * cdc-log source replays the log in offset order — its contract);
    * within one batch the group's rows arrive unordered, so each
    * invocation sorts its batch slice (bounded: one batch × one key).
    * Emission is append-only — an interval row is final the instant the
    * closing event is seen, so no retraction is ever needed (the same
    * design choice as the reference's delete-as-insert op column). */
  def scd2ClosedIntervals(events: Dataset[Scd2Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k, it, state: GroupState[Scd2Open]) =>
          val evs = it.toArray.sortBy(_.offset)
          val out = Seq.newBuilder[Scd2Closed]
          var open = state.getOption
          evs.foreach { e =>
            open.foreach(o =>
              out += Scd2Closed(k, o.price, o.st, o.offset, e.offset))
            open = if (e.isDelete) None
                   else Some(Scd2Open(e.price, e.st, e.offset))
          }
          open match {
            case Some(o) => state.update(o)
            case None    => if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  /** Streaming LSH bucket claims — the stateful heart of dedup-at-ingest:
    * the input is a stream of (doc, band, bhv) band rows (see
    * `Dedup.md5BandsPerRow`) arriving in doc order; each (band, bhv)
    * bucket is CLAIMED by the first document that presents it, and the
    * operator emits one (band, bhv, first_doc) row per bucket, exactly
    * once, in the micro-batch where the claim happens.
    *
    * Determinism the hash gate depends on: the per-batch winner is the
    * MIN doc id over the batch's group (order-free — groupByKey hands the
    * whole batch's rows for a key to one invocation), and cross-batch the
    * state blocks re-emission, so with doc-ordered arrival the winner is
    * the global min per bucket — a closed-form SQL fact, unlike
    * dropDuplicates' partition-arrival-order row pick.
    *
    * State is one boolean per distinct bucket (the claim), partitioned by
    * the shuffle on the bucket key — the same O(buckets) footprint a
    * Bloom-style ingest filter would hold, but exact. */
  def lshBucketClaims(bands: Dataset[BandRow]): Dataset[BucketClaim] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(r => (r.band, r.bhv))
      .flatMapGroupsWithState[Boolean, BucketClaim](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, bhv), it, state: GroupState[Boolean]) =>
          if (state.exists) { it.foreach(_ => ()); Iterator.empty } // already claimed
          else {
            state.update(true)
            Iterator(BucketClaim(band, bhv, it.map(_.doc_id).min))
          }
      }
  }
}

final case class BandRow(doc_id: Long, band: Int, bhv: Long)
final case class BucketClaim(band: Int, bhv: Long, first_doc: Long)

/** One state-bearing changelog event for [[StreamingOps.scd2ClosedIntervals]]
  * (`isDelete` events close the open version without opening one). */
final case class Scd2Event(k: Long, price: Double, st: String,
    offset: Long, isDelete: Boolean)
/** Per-key state: the currently-open version. */
final case class Scd2Open(price: Double, st: String, offset: Long)
/** A closed SCD2 interval — append-only, final on emission. */
final case class Scd2Closed(k: Long, price: Double, st: String,
    valid_from: Long, valid_to: Long)

/** One key's step of [[StreamingOps.temporalJoin]] at watermark `wmUs`.
  * Event rows are `(eTs µs, eCols...)`, version rows `(vTs µs, tieCols...,
  * payload...)`. Every event at or below the watermark is emitted joined
  * to the greatest `(vTs, tieCols...)` version in `[eTs - horizonUs, eTs]`,
  * or to `vWidth` NULLs when `outer` (inner drops it). Returns (emitted
  * rows, pending events, kept versions): the events and versions above
  * the watermark, plus the single greatest version at or below it while
  * it is inside the horizon — every event still to come lies above the
  * watermark, so no older version can be in force for it. */
private[graft] final case class TemporalStep(horizonUs: Long, nTie: Int, vWidth: Int,
    outer: Boolean) {
  // (vTs, tieCols...) ascending, NULL tie values first
  @transient private lazy val order: Ordering[Row] = (a: Row, b: Row) =>
    (0 to nTie).iterator.map(i => (a.get(i), b.get(i)) match {
      case (x, y) if x == null || y == null => (x != null).compare(y != null)
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }).find(_ != 0).getOrElse(0)

  def apply(events: Seq[Row], versions: Seq[Row], wmUs: Long): (Seq[Row], Seq[Row], Seq[Row]) = {
    val vs = versions.toVector.sorted(order)
    val (ready, pending) = events.partition(_.getLong(0) <= wmUs)
    var i = 0
    var cur: Row = null // greatest version at or before the current event
    val out = ready.sortBy(_.getLong(0)).flatMap { e =>
      val t = e.getLong(0)
      while (i < vs.length && vs(i).getLong(0) <= t) { cur = vs(i); i += 1 }
      if (cur != null && cur.getLong(0) >= t - horizonUs) Some(Row.fromSeq(e.toSeq ++ cur.toSeq))
      else if (outer) Some(Row.fromSeq(e.toSeq ++ Seq.fill(vWidth)(null)))
      else None
    }
    val below = vs.lastIndexWhere(_.getLong(0) <= wmUs)
    (out, pending, vs.drop(below).dropWhile(_.getLong(0) < wmUs - horizonUs))
  }

  /** Event-time timeout in ms (it fires once the watermark exceeds it):
    * the earliest moment a pending event turns ready or a kept version
    * leaves the horizon. */
  def timeoutMs(pending: Seq[Row], kept: Seq[Row]): Long =
    (pending.map(e => Math.floorDiv(e.getLong(0) - 1, 1000L)) ++
      kept.map(v => Math.floorDiv(v.getLong(0) + horizonUs, 1000L))).min
}
