package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.Q._
import graft.operators.ChangelogOps

import scala.jdk.CollectionConverters._

/** Changelog-semantics queries for the DuckDB-oracle gate.
  *
  * The DSv2 source itself is exercised by ScalaTest (CdcSourceSpec); these
  * queries put the op-column CONTRACT under the hash-checked gate by
  * deriving a deterministic changelog from the `orders` table in both
  * engines: every order is inserted; orders with k%5=2 are updated
  * (price × 1.1, emitted as the reference's two-row '-U'/'+U' pair,
  * RowDataDebeziumDeserializeSchema.java:133-145); orders with k%7=3 are
  * deleted (append of the before-image with op='d', :127-132). The oracle
  * derives the expected results independently (closed-form, no window
  * replay), so a bug in either flattening or materialization breaks the
  * hash match.
  */
object CdcQueries {

  /** Deterministic changelog over orders: (k, price, st, op, op_offset, row_kind). */
  private def changelog(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("st"))
    val isUpd = col("k") % 5 === 2
    val isDel = col("k") % 7 === 3
    val ins = o.select(col("k"), col("price"), col("st"),
      lit("c").as("op"), (col("k") * 3).as("op_offset"), lit("+I").as("row_kind"))
    val updB = o.filter(isUpd).select(col("k"), col("price"), col("st"),
      lit("u").as("op"), (col("k") * 3 + 1).as("op_offset"), lit("-U").as("row_kind"))
    val updA = o.filter(isUpd).select(col("k"), (col("price") * 1.1).as("price"), col("st"),
      lit("u").as("op"), (col("k") * 3 + 1).as("op_offset"), lit("+U").as("row_kind"))
    // delete carries the before-image = post-update price where applicable
    val delB = o.filter(isDel).select(col("k"),
      when(isUpd, col("price") * 1.1).otherwise(col("price")).as("price"), col("st"),
      lit("d").as("op"), (col("k") * 3 + 2).as("op_offset"), lit("+I").as("row_kind"))
    ins.unionAll(updB).unionAll(updA).unionAll(delB)
  }

  private val derivedChangelogSql =
    """SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st,
      |       'c' AS op, o_orderkey*3 AS op_offset, '+I' AS row_kind FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, o_orderstatus, 'u', o_orderkey*3+1, '-U'
      |FROM orders WHERE o_orderkey % 5 = 2
      |UNION ALL
      |SELECT o_orderkey, o_totalprice*1.1, o_orderstatus, 'u', o_orderkey*3+1, '+U'
      |FROM orders WHERE o_orderkey % 5 = 2
      |UNION ALL
      |SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END,
      |       o_orderstatus, 'd', o_orderkey*3+2, '+I'
      |FROM orders WHERE o_orderkey % 7 = 3""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the op-column flattening itself (update → 2 rows, delete → before-image)
    "q23_cdc_changelog" -> ((s, dir) =>
      changelog(s, dir).orderBy("op_offset", "row_kind")),
    // last-write-wins materialization honoring op + row_kind
    "q24_cdc_materialize" -> ((s, dir) =>
      ChangelogOps.materializeExact(changelog(s, dir), Seq("k"))
        .select("k", "price", "st").orderBy("k")),
    // the ITCase aggregation shape (MySqlConnectorITCase.java:186) over
    // materialized state: SELECT st, SUM(price) GROUP BY st
    "q25_cdc_agg_after_apply" -> ((s, dir) => {
      val m = ChangelogOps.materializeExact(changelog(s, dir), Seq("k"))
      m.groupBy("st").agg(dsum(col("price")).as("total"), cnt.as("n")).orderBy("st")
    }),
    // net row delta per key (+1 create / -1 delete), reconciliation operator
    "q26_cdc_net_delta" -> ((s, dir) =>
      ChangelogOps.netRowDelta(changelog(s, dir), Seq("k"))
        .select(col("k"), col("net_delta").cast("bigint").as("net_delta"),
          col("n_events")).orderBy("k")),

    // STREAMING materialization under the hash gate: the changelog is
    // written to files, re-read with readStream (maxFilesPerTrigger=2 →
    // several micro-batches), folded by the streaming keyed aggregation
    // (ChangelogOps.materializeStreaming — state = one max-(offset,
    // after-wins) row per key), and the final state is asserted equal to
    // the batch oracle. Complete mode + memory sink so the last trigger's
    // snapshot IS the result table; update mode + an upserting sink is the
    // production path (StreamingMaterializeSpec covers it).
    "q43_streaming_materialize" -> ((s, dir) => {
      // staged ONCE per (JVM, dir) like every other file-stream gate
      // (q52/q54/q61/q88-q90): deriving + writing the changelog input is
      // ingest scaffolding, pre-materialized untimed by Bench — q43 was
      // the one gate still paying the stage build inside its timed window.
      // The materialization is arrival-order-free (last-(offset, after)-
      // wins per key), so all files share one mtime group.
      val st = StreamFixtures.arm(q43Stage(s, dir))
      // a BOUNDED catch-up run wants few state partitions: per-batch cost is
      // dominated by state-store checkpoint files PER PARTITION, and the
      // state (15k keys at sf0.1) is far too small to need 32. The override
      // rides in the stream's own session (streamSession), never the shared
      // one.
      val ss = StreamFixtures.streamSession(s)
      // no maxFilesPerTrigger: the materialization is arrival-order-free
      // (last-(offset, after)-wins per key), so one catch-up batch lands
      // the identical complete-mode snapshot without the extra rounds of
      // per-batch planning + state checkpointing
      val stream = ss.readStream.schema(changelog(s, dir).schema)
        .parquet(st.in)
      StreamFixtures.drainToMemory(ChangelogOps.materializeStreaming(stream, Seq("k")),
          "q43_mat", mode = "complete")
        .filter(col("op") =!= "d")
        .select("k", "price", "st").orderBy("k")
    }),

    // the SINK under the hash gate: the changelog streams through
    // UpsertSink.upsertParquet (hash-bucketed parquet generations, one
    // rename per commit) across several micro-batches; the on-disk state
    // table must hash-match the same closed-form oracle as q24. Sink
    // mechanics (bucketing, recovery, idempotent replay) are spec-tested
    // in UpsertSinkSpec; this pins its end-to-end merge arithmetic.
    "q78_upsert_sink_state" -> ((s, dir) => {
      // the changelog copy is read only by the drain: deleted once it returns
      val in = java.nio.file.Files.createTempDirectory("graft_q78_in_")
      try {
        val cl = changelog(s, dir)
        cl.repartition(4).write.mode("overwrite").parquet(in.toString)
        upsertState(s, s.readStream.schema(cl.schema)
          .option("maxFilesPerTrigger", "2").parquet(in.toString), "q78", minBatches = 2)
      } finally Fixtures.deleteTree(in)
    }),

    // --- q92: the reference's canonical ENRICHMENT story, end to end under
    // the hash gate — a probe stream temporally joined (`FOR SYSTEM_TIME AS
    // OF probe.ts`) against a dimension fed by the cdc-log SOURCE itself,
    // not a parquet fixture (mysql-postgres-tutorial.md's enrichment join).
    // The dimension is the orders changelog as a pure event log (startup
    // mode `earliest`: inserts at offset 3k+1, update after-images at 3k+2 —
    // every event a version, version_ts = offset as event-time ms), read in
    // offset-span micro-batches; probes for every 11th key land 500 µs
    // before that key's next change, so each asks for a DIFFERENT version
    // than the one arriving just after it — the answer pins version
    // boundaries, not just final state. One sentinel no-op update at a
    // far-future offset pushes the watermark past every probe, and the
    // no-data batch AvailableNow runs after that advance emits them (the
    // q89 sentinel pattern, on the SOURCE side via the log itself).
    // Oracle: closed-form argmax over the same version set. ---
    "q92_cdc_temporal_enrich" -> ((s, dir) => {
      val root = writeTemporalProviderTable(s, dir)
      val st = StreamFixtures.arm(q92Stage(s, dir))
      val ss = StreamFixtures.streamSession(s)
      // probe side uncapped: the whole staged probe set (its sentinel
      // included) lands in batch 1 — probes just wait in the operator state
      // until the source-side versions arrive, and the GLOBAL watermark
      // stays governed by the dimension log's sentinel (min over sources),
      // so the micro-batch count is the dimension's offset spans plus the
      // closing no-data batch.
      val probes = ss.readStream.schema(q92Probes(s, dir).schema)
        .parquet(st.in)
      val dimRaw = ss.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest") // replay events, no snapshot fold
        .option("metadata.columns", "op_offset,row_kind")
        .option("scan.log.max-offsets-per-batch", q92WaveSpan(q92MaxOff(s, dir)).toString)
        // the source leg is q92's scaling component (SCALE_PROBE_sf1.md's
        // third-decade mechanism note) — drain each span-capped batch
        // through key-range shards instead of one serial reader
        .option("scan.log.catchup.shards", "8")
        .load()
      // every insert/update-after event is a dimension version at ts = its
      // offset (ms); -U before-images and deletes are not versions (the op
      // filter matters: delete rows also carry row_kind '+I' — they are
      // before-image carriers, not versions)
      val dim = dimRaw.filter(col("op") === "c" ||
          (col("op") === "u" && col("row_kind") === "+U"))
        .select(col("k").as("v_key"),
          timestamp_micros((col("op_offset") + lit(q92BaseMs)) * 1000).as("vts"),
          col("op_offset").as("ver_off"), col("price"))
      val joined = graft.streaming.StreamingOps.temporalJoin(
        probes, "pts", dim, "vts", "p_key", "v_key",
        horizonMs = q92HorizonMs, lateness = s"${q92LatenessMs / 1000} seconds",
        eCols = Seq("p_key", "probe_id"), payload = Seq("price"),
        tieCols = Seq("ver_off"))
      StreamFixtures.drainToMemory(joined, "q92_tj", minBatches = 2)
        .where(col("p_key") >= 0) // drop the probe-side watermark sentinels
        .select(col("probe_id"), col("p_key").as("k"),
          unix_micros(col("pts")).as("pts_us"),
          unix_micros(col("version_ts")).as("version_ts_us"),
          col("ver_off"), col("price"))
        .orderBy("probe_id")
    }),

    // SCD2 history: every state each key held with its validity interval
    // (the temporal-table view downstream warehouses build from CDC)
    "q69_scd2_history" -> ((s, dir) =>
      ChangelogOps.scd2History(changelog(s, dir), Seq("k"), "op_offset")
        .select(col("k"), col("price"), col("st"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("k", "valid_from")),

    // snapshot-comparison CDC: recover the change set from two STATES
    // (old = the orders snapshot; new = the post-changelog state plus a
    // batch of genuinely-new rows) — the no-log fallback mode, and the
    // dataset-versioning diff. One co-partitioned full-outer join; the
    // delta rows must hash-match the oracle's closed-form classification.
    "q97_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"), col("o_orderstatus").as("st"))
      val isUpd = col("k") % 5 === 2
      val isDel = col("k") % 7 === 3
      val maxId = o.agg(max(col("k")).as("id_off"))
      val newState = o.filter(!isDel)
        .select(col("k"),
          when(isUpd, col("price") * 1.1).otherwise(col("price")).as("price"),
          col("st"))
        .unionAll(o.filter(col("k") % 13 === 0).crossJoin(broadcast(maxId))
          .select((col("k") + col("id_off") + 1L).as("k"), col("price"),
            lit("N").as("st")))
      graft.operators.SnapshotDiff.diff(o, newState, Seq("k")).orderBy("k")
    }),

    // STREAMING SCD2: the cdc-log source replays the orders event log
    // (sentinel-free fixture — no event-time state, so no watermark
    // scaffolding) in offset-capped micro-batches; scd2ClosedIntervals
    // holds ONE open version per live key and emits each history row the
    // instant its closing event arrives. The closed intervals must
    // hash-match the closed-form derivation — the streaming complement of
    // batch q69, whose valid_to IS NOT NULL subset this reproduces.
    "q99_stream_scd2" -> ((s, dir) => {
      import s.implicits._
      val root = writeTemporalProviderTable(s, dir, sentinels = false)
      val maxOff = q92MaxOff(s, dir)
      val ss = StreamFixtures.streamSession(s)
      val raw = ss.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        // ~4 micro-batches at every SF: open versions still cross real
        // checkpointed state (the multi-batch property the gate pins),
        // at half the per-batch planning/checkpoint choreography the /8
        // span paid — the operator's algebra is batch-count-invariant
        // (per-key offset order holds across any offset-span batching)
        .option("scan.log.max-offsets-per-batch",
          math.max(1L, maxOff / 3).toString)
        .load()
      val ev = raw.filter(col("op") === "c" ||
          (col("op") === "u" && col("row_kind") === "+U") || col("op") === "d")
        .select(col("k"), col("price"), col("st"),
          col("op_offset").as("offset"), (col("op") === "d").as("isDelete"))
        .as[graft.streaming.Scd2Event]
      val closed = graft.streaming.StreamingOps.scd2ClosedIntervals(ev)
      StreamFixtures.drainToMemory(closed.toDF(), "q99_scd2", minBatches = 2)
        .select("k", "price", "st", "valid_from", "valid_to")
        .orderBy("k", "valid_from")
    }),

    // ZERO-EXCHANGE CHANGELOG COMPACTION: the changelog lands bucketed on
    // its key (the ingest layout), compaction's grouping key IS the bucket
    // key so the latest-state aggregate runs without a shuffle, and the
    // compacted state joins the same-key bucketed lineitem layout — the
    // WHOLE maintenance pipeline (compact → enrich → agg) plans zero
    // Exchange nodes (PlanAuditSpec pins it). Values must equal the plain
    // derivation — bucketing changes the plan, never the answer.
    "q101_bucketed_compaction" -> ((s, dir) => {
      val clT = graft.operators.BucketedOps.ensureBucketed(
        changelog(s, dir), s"$dir/changelog_q101", "k", 8)
      val compacted = graft.operators.BucketedOps
        .compactChangelog(s, clT, "k", Seq("price", "st"))
      val (_, lbT) = RelQueries.ensureBucketedTables(s, dir)
      val l = s.table(lbT).select("l_orderkey", "l_extendedprice", "l_discount")
      compacted.hint("merge").join(l, col("l_orderkey") === col("k"))
        .groupBy("k", "price", "st")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          cnt.as("n_items"))
        .orderBy("k")
    }),

    // RETENTION VACUUM of the changelog lake — the maintenance job between
    // "keep everything" and q101's latest-state collapse: events inside
    // the horizon survive verbatim, older history collapses to one
    // snapshot row per live key (op='r', original offset — replay order
    // preserved; pre-horizon-deleted keys vanish). Replay equivalence for
    // arbitrary scripts/horizons is property-pinned; here the whole
    // vacuumed changelog is hash-gated against the windowed closed form.
    // Same zero-exchange bucket-local shape as q101 (PlanAuditSpec).
    "q113_changelog_vacuum" -> ((s, dir) => {
      val clT = graft.operators.BucketedOps.ensureBucketed(
        changelog(s, dir), s"$dir/changelog_q101", "k", 8)
      val maxK = t(s, dir, "orders")
        .agg(max(col("o_orderkey")).cast("long")).head().getLong(0)
      graft.operators.BucketedOps.vacuumChangelog(
        s, clT, "k", Seq("price", "st"), horizonOffset = 3L * (maxK / 2L))
        .orderBy("k", "op_offset", "row_kind")
    }),

    // STREAMING RETRACT AGGREGATION: the aggregate consumed STRAIGHT off
    // the changelog with signed contributions (+after for c/+U, −before
    // for d/-U — Flink's retract-stream aggregate, which the reference's
    // op-column design transposes into append rows) — NO per-key
    // materialization in between: state is O(groups), not O(keys), the
    // way a 100 TB pipeline keeps a running corpus-level aggregate
    // current against a firehose of updates. Signed sums in
    // DECIMAL(38,6) are order-free exact, so update/delete pairs cancel
    // bit-exactly and the final snapshot equals q25's closed form.
    "q100_stream_retract_agg" -> ((s, dir) => {
      val root = writeTemporalProviderTable(s, dir, sentinels = false)
      val maxOff = q92MaxOff(s, dir)
      val ss = StreamFixtures.streamSession(s)
      val raw = ss.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        // /3 spans (~4 batches): the signed decimal sums are order- and
        // batch-count-invariant, so the /8 schedule's extra rounds only
        // paid planning/checkpoint choreography (still multi-batch — the
        // running aggregate crosses checkpointed state)
        .option("scan.log.max-offsets-per-batch",
          math.max(1L, maxOff / 3).toString)
        .load()
      val sign = when(col("op") === "d" || col("row_kind") === "-U", -1L)
        .otherwise(1L)
      val agg = raw
        .select(col("st"), (col("price").cast("decimal(38,6)") * sign).as("sp"),
          sign.as("sn"))
        .groupBy("st")
        .agg(sum(col("sp")).cast("double").as("total"),
          sum(col("sn")).as("n"))
      StreamFixtures.drainToMemory(agg, "q100", mode = "complete", minBatches = 2)
        .orderBy("st")
    }),

    // THE DURABLE RETRACT-AGGREGATE PATH — q100's semantics composed with
    // the q78 sink machinery into the production shape: changelog →
    // signed retract aggregate → UPDATE mode → UpsertSink durable state.
    // Each micro-batch upserts only its CHANGED group rows (O(groups)
    // emission, O(batch) sink writes — never a complete-mode rewrite);
    // the final state table must hash-match the same closed-form oracle
    // as q25/q100. Complete-mode memory-sink q100 stays as the semantics
    // gate; THIS is what a 100 TB pipeline actually deploys.
    "q106_retract_agg_durable" -> ((s, dir) => {
      // deliberately NOT sharded (scan.log.catchup.shards): measured A/B at
      // sf0.1 (isolated reps=3 min) read 8.37 s serial vs 8.41 s sharded —
      // q106's cost is the sink merges and per-batch choreography, not
      // source decode, so the shards only add planning/task overhead.
      // q92, whose windows are 4x larger and source-bound, IS sharded.
      val root = writeTemporalProviderTable(s, dir, sentinels = false)
      val maxOff = q92MaxOff(s, dir)
      val ss = StreamFixtures.streamSession(s)
      val raw = ss.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        // /3 spans (~4 batches), same rationale as q100: each group's
        // durable row is last-epoch-wins over a running total, so the
        // final state table is batch-count-invariant; fewer batches also
        // mean fewer sink merges for the same answer
        .option("scan.log.max-offsets-per-batch",
          math.max(1L, maxOff / 3).toString)
        .load()
      val sign = when(col("op") === "d" || col("row_kind") === "-U", -1L)
        .otherwise(1L)
      val agg = raw
        .select(col("st"), (col("price").cast("decimal(38,6)") * sign).as("sp"),
          sign.as("sn"))
        .groupBy("st")
        .agg(sum(col("sp")).cast("double").as("total"),
          sum(col("sn")).as("n"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_q106_")
      Fixtures.deleteTreeOnExit(tmp)
      val state = tmp.resolve("state").toString
      StreamFixtures.drain(graft.streaming.UpsertSink.upsertAggregate(agg, Seq("st"), state,
        numBuckets = 4), "q106", minBatches = 2)
      graft.streaming.UpsertSink.readState(s, state).orderBy("st")
    }),

    // THE SOURCE ITSELF under the hash gate: the derived changelog written
    // out as a file-provider table (snapshot.jsonl + log.jsonl), batch-read
    // through format("cdc-log") — ChunkSplitter plans real PK-range chunks,
    // ChunkReader folds the catch-up log per chunk, Normalizer applies
    // upsert semantics — and the resulting STATE must hash-match the
    // closed-form oracle. ScalaTest covers the source's mechanics; this
    // puts its end-to-end arithmetic under the same gate as every operator.
    "q73_source_state" -> ((s, dir) =>
      s.read.format("cdc-log").option("path", writeFileProviderTable(s, dir))
        .option("scan.incremental.snapshot.chunk.size", "12000")
        .load()
        .select("k", "price", "st").orderBy("k")),

    // the source's STREAMING path under the gate: cdc-log micro-batches
    // (snapshot cohorts, then log batches) feed the PRODUCTION
    // materialization shape — UpsertSink's hash-bucketed O(batch) merges
    // — and the final state table must hash-match the same closed-form
    // oracle. Source → stream → durable state, end to end. (Round 6: was a
    // complete-output memory sink, which rewrites ALL state every
    // micro-batch — measured super-linear at the sf1 scale probe; the
    // upsert sink path scales linearly, see SCALE_PROBE_sf1.md. The
    // complete-mode materialization operator itself stays gated via q43.)
    "q74_source_stream_state" -> ((s, dir) => {
      val (root, rows) = fileProviderTable(s, dir)
      // at most 12,000 rows a chunk and at least 12 chunks, so the 8-chunk
      // cohorts make at least two snapshot batches at every SF: a REAL
      // multi-batch run (deeper cohort schedules are property-tested in
      // CohortStateMachinePropertySpec)
      val chunk = math.min(12000L, math.max(1L, rows / 12))
      val stream = s.readStream.format("cdc-log").option("path", root)
        .option("metadata.columns", "op_offset,row_kind")
        .option("scan.incremental.snapshot.chunk.size", chunk.toString)
        .option("scan.snapshot.max-chunks-per-batch", "8")
        .load()
      upsertState(s, stream, "q74", minBatches = 2)
    }),

    // KEY-RANGE-SHARDED LOG CATCH-UP under the hash gate (round-15 verdict
    // ask #2): a single hot table's whole event log drains as ONE catch-up
    // micro-batch split into 8 key-range LogPartitions — the provider's
    // key-indexed logForRange serves each shard O(its own events), per-key
    // order holds because shard ranges partition the keyspace, and the
    // materialized state must hash-match the same closed form as the
    // serial-reader path (q74). This is the source-parallelism lever the
    // q92 scale probe named: the reference's BinlogSplitReader
    // (BinlogSplitReader.java:194-240) drains the same backlog through one
    // serial reader by construction. Shard-vs-serial plan/union embedding
    // is spec-pinned in LogCatchupShardSpec; this gates the end-to-end
    // arithmetic.
    "q141_sharded_log_catchup" -> ((s, dir) => {
      val root = writeTemporalProviderTable(s, dir, sentinels = false)
      val stream = s.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        .option("scan.log.catchup.shards", "8")
        // low floor so the catch-up shards at every battery SF (window =
        // 3·maxKey offsets; sf0.001's ~4.5k window must still split 8 ways)
        .option("scan.log.catchup.min-offsets-per-shard", "256")
        .load() // no per-batch offset cap: the whole log IS the catch-up
      upsertState(s, stream, "q141")
    }),

    // SKEWED catch-up under the hash gate (round-17: event-weighted shard
    // boundaries): the backlog concentrates ~62% of its events in the top
    // 10% of the keyspace (every hot key carries 19 updates), the exact
    // shape that snapshot-equalized boundaries drain through one shard
    // (SCALE_PROBE_sf1.md measured that plan WORSE than serial). The
    // planner's boundaries (logShardBoundaries over the provider's
    // (key, offset) index) split it evenly; the materialized state must
    // hash-match the closed form whatever the shard shapes were —
    // disjoint-cover equivalence under skew, end-to-end through the
    // stream + upsert sink.
    "q144_skewed_catchup_shards" -> ((s, dir) => {
      val root = writeSkewedProviderTable(s, dir)
      val stream = s.readStream.format("cdc-log").option("path", root)
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        .option("scan.log.catchup.shards", "8")
        .option("scan.log.catchup.min-offsets-per-shard", "256")
        .load()
      upsertState(s, stream, "q144")
    }),

    // SHARDED CATCH-UP ON THE LIVE-DATABASE WIRE FORMAT (round-17): the
    // same q141 closed form, but the table is a spool of standard Debezium
    // change-event envelopes (`path.format=debezium-json` — the exact
    // format the embedded live engine spools and a Kafka topic dump
    // carries), so the gate proves the 3× catch-up lever is DELIVERABLE on
    // a real tail, not only on the engine's own file layout: the spool's
    // (key, offset) index plans event-weighted key-range shards, 8
    // parallel LogPartitions drain the backlog, and the materialized state
    // must hash-match the closed form. The r16 gap this closes: the spool
    // provider had no key index and stayed serial forever.
    "q145_spool_catchup_shards" -> ((s, dir) => {
      val root = writeDebeziumSpoolTable(s, dir)
      val stream = s.readStream.format("cdc-log").option("path", root)
        .option("path.format", "debezium-json")
        .option("scan.startup.mode", "earliest")
        .option("metadata.columns", "op_offset,row_kind")
        .option("scan.log.catchup.shards", "8")
        .option("scan.log.catchup.min-offsets-per-shard", "256")
        .load()
      upsertState(s, stream, "q145")
    })
  )

  /** The sink gates' shared tail (q74/q78/q141/q144/q145): drains
    * `stream` through `UpsertSink.upsertParquet` (keyed on k, 16 buckets)
    * into a state directory that lives until JVM exit — the returned frame
    * reads it lazily — and returns the state's (k, price, st) by k. */
  private def upsertState(s: SparkSession, stream: DataFrame, tag: String,
      minBatches: Int = 1): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    Fixtures.deleteTreeOnExit(tmp)
    val state = tmp.resolve("state").toString
    StreamFixtures.drain(graft.streaming.UpsertSink
      .upsertParquet(stream, Seq("k"), state, numBuckets = 16), tag, minBatches)
    graft.streaming.UpsertSink.readState(s, state)
      .select("k", "price", "st").orderBy("k")
  }

  /** Writes the derived orders changelog (same formula as q23) as a
    * file-provider table: snapshot.jsonl = original rows, log.jsonl =
    * update pairs and before-image deletes in offset order.
    *
    * Fixture-generation scaffolding, not an engine operator — but built
    * DISTRIBUTED: lines are rendered inside `mapPartitions` over the
    * key-sorted dataset and written with `write.text`; the global sort
    * lands as range-ordered part files which a driver-side STREAMING byte
    * concat stitches into one JSONL file (O(1) driver memory — no
    * `.collect()`, so the fixture path works at any SF the orders table
    * does). Event order: offsets are k·3+1 / k·3+2, monotone in k with the
    * update before the delete per key, so key order IS offset order.
    * Runs ONCE per (JVM, sf dir); q73 and q74 share the written table. */
  private val fixtureCache = new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private[graft] def writeFileProviderTable(s: SparkSession, dir: String): String =
    fileProviderTable(s, dir)._1

  /** [[writeFileProviderTable]]'s root and its snapshot's row count. */
  private def fileProviderTable(s: SparkSession, dir: String): (String, Long) =
    fixtureCache.computeIfAbsent(dir, _ => {
      import java.nio.file.{Files, Paths}
      import s.implicits._
      val root = Files.createTempDirectory("graft_cdcfile_").toString
      val d = Paths.get(root, "db.orders")
      Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        """{"db":"db","table":"orders","primaryKey":["k"],
          |"schema":"k BIGINT, price DOUBLE, st STRING","baseOffset":0}""".stripMargin)
      def js(k: Long, price: Double, st: String): String =
        s"""{"k":$k,"price":${java.lang.Double.toString(price)},"st":"$st"}"""
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
        .orderBy("k").as[(Long, Double, String)]
      val snapLines = rows.mapPartitions(_.map { case (k, p0, st) => js(k, p0, st) })
      val logLines = rows.mapPartitions(_.flatMap { case (k, p0, st) =>
        val upd = k % 5 == 2
        val p2 = if (upd) p0 * 1.1 else p0
        val u = if (upd) Iterator(
          s"""{"offset":${k * 3 + 1},"op":"u","tsMs":100,"before":${js(k, p0, st)},"after":${js(k, p2, st)}}""")
        else Iterator.empty
        val dl = if (k % 7 == 3) Iterator(
          s"""{"offset":${k * 3 + 2},"op":"d","tsMs":200,"before":${js(k, p2, st)},"after":null}""")
        else Iterator.empty
        u ++ dl
      })
      concatText(snapLines, Paths.get(root, "_snap_parts"), d.resolve("snapshot.jsonl"))
      concatText(logLines, Paths.get(root, "_log_parts"), d.resolve("log.jsonl"))
      (root, rows.count())
    })

  /** q92 knobs. The staleness horizon is deliberately tight (probes sit
    * 500 µs after their version) — q89 covers long-horizon semantics; what
    * q92 gates is the source-fed enrichment loop. `q92WaveSpan` — the
    * offset gap between the last business event and the watermark-sentinel
    * log record AND the `scan.log.max-offsets-per-batch` span — exceeds
    * lateness + horizon with a 2 min margin, so the sentinel's watermark
    * advance passes every probe (the q89 rule). */
  /** Event-time base shift: offset 0 (key 0's insert) must not sit AT the
    * epoch — Spark's initial watermark is 0, and a version at exactly the
    * watermark is dropped as late before the join ever sees it. */
  private val q92BaseMs = 3600000L
  private val q92HorizonMs = 60000L
  private val q92LatenessMs = 60000L
  private def q92WaveSpan(maxOffMs: Long): Long =
    math.max(q92HorizonMs + q92LatenessMs + 120000L, maxOffMs / 8)

  /** Max log offset of the q92 event log for `dir` (insert/update/delete
    * offsets are 3k+1..3k+3): one cheap agg, shared by the fixture
    * writer, the probe stage, and the query's batch-span option. */
  private def q92MaxOff(s: SparkSession, dir: String): Long =
    t(s, dir, "orders").agg(max(col("o_orderkey"))).head().getLong(0) * 3 + 3

  /** Writes the orders changelog as a PURE EVENT LOG (no snapshot): insert
    * at offset 3k+1, the k%5=2 update pair at 3k+2, the k%7=3 delete at
    * 3k+3 (1-based because log reads are resume-AFTER `(logPos, end]` —
    * offset 0 = baseOffset would be unreadable from `earliest`) — the
    * same derivation as q23's relational changelog, here as
    * provider events the SOURCE replays in `earliest` mode, so every event
    * flows as a change row with its real offset (nothing folds into a
    * snapshot image). One no-op sentinel update on the max key at the
    * far-future offset maxOff + span exists only to push the dimension-side
    * event-time watermark after the real log drains.
    * Distributed build, same O(1)-driver concat as
    * [[writeFileProviderTable]]. Once per (JVM, sf dir). */
  private val temporalFixtureCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** `sentinels = false` writes the same business log WITHOUT the
    * far-future watermark sentinel — for consumers with no event-time state
    * (q99's SCD2 run), where the sentinel would stretch the offset span and
    * turn offset-capped micro-batching into hundreds of empty batches.
    * Both variants write the base rows to snapshot.jsonl — NOT as data
    * (the earliest-mode replays these gates run never read the snapshot)
    * but as the provider's KEY-STATISTICS source, which is what the
    * catch-up shard planner probes (q92/q141; a pure event log has no key
    * stats and correctly stays serial). One snapshot per root instead of
    * a third fixture root keyed on a stats flag: the multi-million-row
    * log build is the expensive half and must not run twice. */
  private[graft] def writeTemporalProviderTable(s: SparkSession, dir: String,
      sentinels: Boolean = true): String =
    temporalFixtureCache.computeIfAbsent(s"$dir|$sentinels", _ => {
      import java.nio.file.{Files, Paths}
      import s.implicits._
      val root = Files.createTempDirectory("graft_cdctemporal_").toString
      val d = Paths.get(root, "db.orders")
      Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        """{"db":"db","table":"orders","primaryKey":["k"],
          |"schema":"k BIGINT, price DOUBLE, st STRING","baseOffset":0}""".stripMargin)
      def js(k: Long, price: Double, st: String): String =
        s"""{"k":$k,"price":${java.lang.Double.toString(price)},"st":"$st"}"""
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
        .orderBy("k").as[(Long, Double, String)]
      val snapLines = rows.mapPartitions(_.map { case (k, p0, st) => js(k, p0, st) })
      concatText(snapLines, Paths.get(root, "_snap_parts"), d.resolve("snapshot.jsonl"))
      // offsets are 1-based (3k+1/3k+2/3k+3): log reads are resume-AFTER
      // (logPos, end], so an event at offset 0 = baseOffset would be
      // unreadable from `earliest`
      val logLines = rows.mapPartitions(_.flatMap { case (k, p0, st) =>
        val upd = k % 5 == 2
        val p2 = if (upd) p0 * 1.1 else p0
        val ins = Iterator(
          s"""{"offset":${k * 3 + 1},"op":"c","tsMs":0,"before":null,"after":${js(k, p0, st)}}""")
        val u = if (upd) Iterator(
          s"""{"offset":${k * 3 + 2},"op":"u","tsMs":100,"before":${js(k, p0, st)},"after":${js(k, p2, st)}}""")
        else Iterator.empty
        val dl = if (k % 7 == 3) Iterator(
          s"""{"offset":${k * 3 + 3},"op":"d","tsMs":200,"before":${js(k, p2, st)},"after":null}""")
        else Iterator.empty
        ins ++ u ++ dl
      })
      concatText(logLines, Paths.get(root, "_log_parts"), d.resolve("log.jsonl"))
      if (sentinels) {
        val (maxK, mp0, mst) = rows.orderBy(col("k").desc).head()
        val mpCur = if (maxK % 5 == 2) mp0 * 1.1 else mp0
        val maxOff = maxK * 3 + 3
        Files.writeString(d.resolve("log.jsonl"),
          s"""{"offset":${maxOff + q92WaveSpan(maxOff)},"op":"u","tsMs":300,"before":${js(maxK, mpCur, mst)},"after":${js(maxK, mpCur, mst)}}\n""",
          java.nio.file.StandardOpenOption.APPEND)
      }
      root
    })

  /** q144's SKEWED changelog (the hot-range shape the weighted shard
    * boundaries exist for): snapshot = all orders rows; log per key k —
    * insert at offset k·24+1, then for HOT keys (k ≥ maxK − maxK/10, the
    * top decile of the keyspace) NINETEEN updates at k·24+1+j with price
    * p0·(100+j)/100 (final p0·1.19), for cold keys the q141 rule (k%5==2 →
    * one ×1.1 update at k·24+2), and k%7==3 → delete at k·24+23 keyed on
    * the final image. ~62% of all events land in 10% of the keyspace.
    * Key order IS offset order (offsets k·24+j, monotone in k), so the
    * distributed render + streaming concat applies unchanged. The closed
    * form stays SQL-expressible: hot keys end at price·1.19 (both engines
    * compute the same correctly-rounded double: 119/100.0 here, the 1.19
    * literal in DuckDB), everything else exactly as q141/q78. */
  private[graft] def writeSkewedProviderTable(s: SparkSession, dir: String): String =
    temporalFixtureCache.computeIfAbsent(s"$dir|skewed", _ => {
      import java.nio.file.{Files, Paths}
      import s.implicits._
      val root = Files.createTempDirectory("graft_cdcskewed_").toString
      val d = Paths.get(root, "db.orders")
      Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        """{"db":"db","table":"orders","primaryKey":["k"],
          |"schema":"k BIGINT, price DOUBLE, st STRING","baseOffset":0}""".stripMargin)
      def js(k: Long, price: Double, st: String): String =
        s"""{"k":$k,"price":${java.lang.Double.toString(price)},"st":"$st"}"""
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
        .orderBy("k").as[(Long, Double, String)]
      val snapLines = rows.mapPartitions(_.map { case (k, p0, st) => js(k, p0, st) })
      concatText(snapLines, Paths.get(root, "_snap_parts"), d.resolve("snapshot.jsonl"))
      val maxK = t(s, dir, "orders").agg(max(col("o_orderkey"))).head().getLong(0)
      val hotStart = maxK - maxK / 10
      val logLines = rows.mapPartitions(_.flatMap { case (k, p0, st) =>
        val hot = k >= hotStart
        val ins = Iterator(
          s"""{"offset":${k * 24 + 1},"op":"c","tsMs":0,"before":null,"after":${js(k, p0, st)}}""")
        val us =
          if (hot) (1 to 19).iterator.map { j =>
            // factor-first, SINGLE multiply: p0 * (119/100.0) is the same
            // IEEE op as DuckDB's o_totalprice * 1.19 — the two-op
            // p0*119/100.0 can differ by 1 ulp and break the hash gate
            val pb = if (j == 1) p0 else p0 * ((100 + j - 1) / 100.0)
            val pa = p0 * ((100 + j) / 100.0)
            s"""{"offset":${k * 24 + 1 + j},"op":"u","tsMs":$j,"before":${js(k, pb, st)},"after":${js(k, pa, st)}}"""
          }
          else if (k % 5 == 2) Iterator(
            s"""{"offset":${k * 24 + 2},"op":"u","tsMs":100,"before":${js(k, p0, st)},"after":${js(k, p0 * 1.1, st)}}""")
          else Iterator.empty
        val pFinal =
          if (hot) p0 * (119 / 100.0)
          else if (k % 5 == 2) p0 * 1.1
          else p0
        val dl = if (k % 7 == 3) Iterator(
          s"""{"offset":${k * 24 + 23},"op":"d","tsMs":200,"before":${js(k, pFinal, st)},"after":null}""")
        else Iterator.empty
        ins ++ us ++ dl
      })
      concatText(logLines, Paths.get(root, "_log_parts"), d.resolve("log.jsonl"))
      root
    })

  /** q145's table as a spool of STANDARD Debezium change-event envelopes
    * (events.jsonl — the wire format every Debezium connector emits to
    * Kafka and the embedded live engine archives;
    * DebeziumJsonChangeLogProvider decodes it, the reference's analogue
    * being RowDataDebeziumDeserializeSchema.java:264-623): a leading
    * op='r' snapshot block, then the q141 business log (insert per key;
    * ×1.1 update for k%5==2; k%7==3 deleted, before-image = the current
    * version) as bare-payload envelopes in key order. Offsets are LINE
    * INDICES (no offsetField in meta.json — the dumped-topic default), so
    * append order IS offset order whatever the key order; the render still
    * sorts by key for deterministic file bytes. Same closed form as
    * q141/q73. */
  private[graft] def writeDebeziumSpoolTable(s: SparkSession, dir: String): String =
    temporalFixtureCache.computeIfAbsent(s"$dir|dbzspool", _ => {
      import java.nio.file.{Files, Paths, StandardOpenOption}
      import s.implicits._
      val root = Files.createTempDirectory("graft_cdcdbzspool_").toString
      val d = Paths.get(root, "db.orders")
      Files.createDirectories(d)
      Files.writeString(d.resolve("meta.json"),
        """{"db":"db","table":"orders","primaryKey":["k"],
          |"schema":"k BIGINT, price DOUBLE, st STRING"}""".stripMargin)
      def js(k: Long, price: Double, st: String): String =
        s"""{"k":$k,"price":${java.lang.Double.toString(price)},"st":"$st"}"""
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
        .orderBy("k").as[(Long, Double, String)]
      val snapLines = rows.mapPartitions(_.map { case (k, p0, st) =>
        s"""{"before":null,"after":${js(k, p0, st)},"op":"r","ts_ms":0}"""
      })
      val logLines = rows.mapPartitions(_.flatMap { case (k, p0, st) =>
        val upd = k % 5 == 2
        val p2 = if (upd) p0 * 1.1 else p0
        val ins = Iterator(
          s"""{"before":null,"after":${js(k, p0, st)},"op":"c","ts_ms":1}""")
        val u = if (upd) Iterator(
          s"""{"before":${js(k, p0, st)},"after":${js(k, p2, st)},"op":"u","ts_ms":2}""")
        else Iterator.empty
        val dl = if (k % 7 == 3) Iterator(
          s"""{"before":${js(k, p2, st)},"after":null,"op":"d","ts_ms":3}""")
        else Iterator.empty
        ins ++ u ++ dl
      })
      // one events.jsonl: r block first, log appended at the byte level
      // (both halves rendered distributed, same as the file-layout tables)
      concatText(snapLines, Paths.get(root, "_snap_parts"), d.resolve("events.jsonl"))
      val logTmp = Paths.get(root, "_log_concat.jsonl")
      concatText(logLines, Paths.get(root, "_log_parts"), logTmp)
      val out = Files.newOutputStream(d.resolve("events.jsonl"),
        StandardOpenOption.APPEND)
      try Files.copy(logTmp, out) finally out.close()
      Files.delete(logTmp)
      root
    })

  /** Probes for every 11th order key: one 500 µs before the key's update
    * offset-instant, one 500 µs before its delete offset-instant — each
    * must bind to the version in force at ITS OWN timestamp (insert image
    * for the first, post-update image for the second where one exists). */
  private def q92Probes(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("p_key"))
    o.select(col("p_key"), (col("p_key") * 2).as("probe_id"),
        timestamp_micros((col("p_key") * 3 + 2 + lit(q92BaseMs)) * 1000 - 500).as("pts"))
      .unionAll(o.select(col("p_key"), (col("p_key") * 2 + 1).as("probe_id"),
        timestamp_micros((col("p_key") * 3 + 3 + lit(q92BaseMs)) * 1000 - 500).as("pts")))
  }

  /** Staged probe file stream (the q89 layout: ts-ordered part files in
    * mtime arrival order, then one sentinel file). The probe stream is read
    * uncapped, so the whole stage lands in batch 1; the dimension log's
    * span cap paces the watermark. The probe sentinel carries p_key = -1
    * (filtered from output) at the SAME instant as the dimension-side
    * sentinel offset — the global watermark is the min over sources, so
    * both sides must advance. */
  private def q92Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q92", dir) { in =>
      val probes = q92Probes(s, dir)
      probes.orderBy("pts").write.mode("overwrite").parquet(in)
      val maxOffMs = q92MaxOff(s, dir)
      val us = (maxOffMs + q92BaseMs + q92WaveSpan(maxOffMs)) * 1000
      StreamFixtures.stageWithSentinel(in, s.range(1).select(lit(-1L).as("p_key"),
        lit(-us).as("probe_id"), timestamp_micros(lit(us)).as("pts")))
    }

  /** q43's staged stream input (ingest scaffolding, once per JVM+dir):
    * the changelog landed as 4 part files, all in one arrival group —
    * the materialization is arrival-order-free. */
  private[graft] def q43Stage(s: SparkSession, dir: String): StreamFixtures.Stage =
    StreamFixtures.ensure("q43", dir) { in =>
      changelog(s, dir).repartition(4).write.mode("overwrite").parquet(in)
      Seq((StreamFixtures.parts(in), 0L))
    }

  /** Pre-builds q92's fixture + probe stage (untimed in the bench — the
    * same ingest-scaffolding rule as the other staged streams). */
  private[graft] def ensureTemporalFixtures(s: SparkSession, dir: String): Unit = {
    writeTemporalProviderTable(s, dir) // q92
    writeTemporalProviderTable(s, dir, sentinels = false) // q99/q100/q106/q141
    q92Stage(s, dir)
    q43Stage(s, dir) // q43's staged changelog stream input
    // q101's ingest layout (the bucketed changelog) — an index build paid
    // once at ingest, same rule as q87's bucketed tables
    graft.operators.BucketedOps.ensureBucketed(
      changelog(s, dir), s"$dir/changelog_q101", "k", 8)
    ()
  }

  /** write.text the (already range-sorted) lines, then stream the part
    * files in name order into one JSONL file. Part names follow partition
    * ids, which follow the range sort, so byte order == global key order. */
  private def concatText(lines: org.apache.spark.sql.Dataset[String],
      partsDir: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    lines.write.mode("overwrite").text(partsDir.toString)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(target), 1 << 20)
    try {
      // Files.list returns a Stream holding a directory handle — close it
      // before the cleanup below, or the open handle can make the delete
      // fail on some filesystems
      val listing = java.nio.file.Files.list(partsDir)
      val parts =
        try listing.iterator().asScala.toSeq finally listing.close()
      parts.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .foreach(p => java.nio.file.Files.copy(p, out))
      out.flush()
    } finally out.close()
    // best-effort cleanup of the staging dir (temp space either way)
    Fixtures.deleteTree(partsDir)
  }

  private val D = "DECIMAL(38,6)"
  private def oSum(e: String) = s"CAST(SUM(CAST($e AS $D)) AS DOUBLE)"

  def oracle: Map[String, String] = Map(
    "q23_cdc_changelog" ->
      s"""SELECT * FROM ($derivedChangelogSql) ORDER BY op_offset, row_kind""",
    // independent closed-form derivation of the final state
    "q24_cdc_materialize" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,
    "q25_cdc_agg_after_apply" ->
      s"""SELECT o_orderstatus AS st,
         |  ${oSum("CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END")} AS total,
         |  COUNT(*) AS n
         |FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 1 ORDER BY st""".stripMargin,
    // same closed-form final state as q24 — reached through the streaming path
    "q43_streaming_materialize" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,
    // same closed-form state as q24 — reached through the source's
    // streaming micro-batches and a real state store
    "q74_source_stream_state" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // same closed-form state as q24 — reached through the actual DSv2
    // source (chunked snapshot + per-chunk log fold) instead of relational
    // flattening
    "q73_source_state" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // same closed-form state as q24 — reached through 8 PARALLEL key-range
    // log shards instead of the serial reader; a lost or duplicated shard
    // row breaks the hash
    "q141_sharded_log_catchup" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // q145: the q141 closed form reached through the Debezium-envelope
    // spool (the live-database wire format) + 8 weighted catch-up shards
    "q145_spool_catchup_shards" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // q144: hot keys (top decile of the keyspace) end at price×1.19 (their
    // 19th update's after-image — both engines do the single multiply by
    // the correctly-rounded 1.19); cold keys follow the q141 rules
    "q144_skewed_catchup_shards" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey >= (SELECT max(o_orderkey) - max(o_orderkey)//10 FROM orders)
        |       THEN o_totalprice*1.19
        |       WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1
        |       ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // same closed-form final state as q24 — reached through the bucketed
    // upsert SINK's on-disk parquet state
    "q78_upsert_sink_state" ->
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
        |  o_orderstatus AS st
        |FROM orders WHERE o_orderkey % 7 <> 3 ORDER BY k""".stripMargin,

    // independent interval derivation over the SAME derived changelog:
    // window lead() in DuckDB vs the operator's lead() — both must agree
    // on which events bear state and which merely close intervals
    "q69_scd2_history" ->
      s"""WITH cl AS ($derivedChangelogSql),
         |ev AS (SELECT * FROM cl
         |       WHERE op = 'c' OR (op = 'u' AND row_kind = '+U') OR op = 'd'),
         |iv AS (SELECT k, price, st, op, op_offset AS valid_from,
         |         LEAD(op_offset) OVER (PARTITION BY k ORDER BY op_offset) AS valid_to
         |       FROM ev)
         |SELECT k, price, st, valid_from, valid_to, valid_to IS NULL AS is_current
         |FROM iv WHERE op <> 'd' ORDER BY k, valid_from""".stripMargin,
    // the bucketed compaction must never change the answer: the oracle is
    // the plain latest-state derivation joined to lineitem
    "q101_bucketed_compaction" ->
      s"""WITH state AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END AS price,
         |    o_orderstatus AS st
         |  FROM orders WHERE o_orderkey % 7 <> 3)
         |SELECT k, price, st,
         |  ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM state JOIN lineitem ON l_orderkey = k
         |GROUP BY k, price, st ORDER BY k""".stripMargin,

    "q113_changelog_vacuum" ->
      s"""WITH cl AS ($derivedChangelogSql),
         |h AS (SELECT 3*(MAX(o_orderkey)//2) AS h FROM orders),
         |pre AS (SELECT cl.* FROM cl, h WHERE op_offset < h.h),
         |last AS (SELECT k, price, st, op, op_offset FROM (
         |  SELECT *, row_number() OVER (PARTITION BY k
         |    ORDER BY op_offset DESC,
         |             CASE WHEN row_kind = '-U' THEN 0 ELSE 1 END DESC) AS rn
         |  FROM pre) WHERE rn = 1),
         |snap AS (SELECT k, price, st, 'r' AS op, op_offset, '+I' AS row_kind
         |         FROM last WHERE op <> 'd'),
         |recent AS (SELECT cl.* FROM cl, h WHERE op_offset >= h.h)
         |SELECT k, price, st, op, op_offset, row_kind
         |FROM (SELECT * FROM snap UNION ALL SELECT * FROM recent)
         |ORDER BY k, op_offset, row_kind""".stripMargin,

    // the same closed form as q25 — reached by signed event contributions
    // (decimal cancellation) instead of materialize-then-aggregate
    "q100_stream_retract_agg" ->
      s"""SELECT o_orderstatus AS st,
         |  ${oSum("CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END")} AS total,
         |  COUNT(*) AS n
         |FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 1 ORDER BY st""".stripMargin,

    // same closed form as q100 — the durable path changes where the state
    // lives (UpsertSink bucket files vs a memory sink), never the algebra
    "q106_retract_agg_durable" ->
      s"""SELECT o_orderstatus AS st,
         |  ${oSum("CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END")} AS total,
         |  COUNT(*) AS n
         |FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 1 ORDER BY st""".stripMargin,

    // closed-form classification of the same old/new state pair: removed =
    // deleted keys, changed = updated-not-deleted keys (price only), added
    // = the offset rows; unchanged rows never leave the engine
    "q97_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey k, o_totalprice price, o_orderstatus st
        |             FROM orders),
        |nw AS (
        |  SELECT o_orderkey k,
        |    CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice*1.1 ELSE o_totalprice END price,
        |    o_orderstatus st
        |  FROM orders WHERE o_orderkey % 7 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |         o_totalprice, 'N'
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |j AS (
        |  SELECT COALESCE(n.k, o.k) AS k,
        |    o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new,
        |    CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
        |           AND o.price IS DISTINCT FROM n.price THEN 1 ELSE 0 END
        |    + CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
        |           AND o.st IS DISTINCT FROM n.st THEN 1 ELSE 0 END AS nc,
        |    CASE WHEN o.k IS NULL OR n.k IS NULL THEN ''
        |      ELSE array_to_string(list_filter([
        |        CASE WHEN o.price IS DISTINCT FROM n.price THEN 'price' END,
        |        CASE WHEN o.st IS DISTINCT FROM n.st THEN 'st' END],
        |        x -> x IS NOT NULL), ',') END AS changed_cols
        |  FROM old o FULL OUTER JOIN nw n ON o.k = n.k)
        |SELECT k,
        |  CASE WHEN NOT in_old THEN 'added' WHEN NOT in_new THEN 'removed'
        |       WHEN nc > 0 THEN 'changed' ELSE 'unchanged' END AS change_type,
        |  changed_cols, CAST(nc AS BIGINT) AS n_changed_cols
        |FROM j
        |WHERE NOT (in_old AND in_new AND nc = 0)
        |ORDER BY k""".stripMargin,

    // closed-form interval derivation over the same event log the source
    // replays: the insert version is closed by the update (k%5=2) else by
    // the delete (k%7=3); the update version is closed only by a delete;
    // everything else stays open and is NOT emitted (streaming SCD2
    // outputs only closed history rows — current state is q74/q78's job)
    "q99_stream_scd2" ->
      """WITH iv AS (
        |  SELECT o_orderkey k, o_totalprice price, o_orderstatus st,
        |         o_orderkey*3+1 valid_from,
        |         CASE WHEN o_orderkey % 5 = 2 THEN o_orderkey*3+2
        |              WHEN o_orderkey % 7 = 3 THEN o_orderkey*3+3 END valid_to
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice*1.1, o_orderstatus,
        |         o_orderkey*3+2, o_orderkey*3+3
        |  FROM orders WHERE o_orderkey % 5 = 2 AND o_orderkey % 7 = 3)
        |SELECT k, price, st, CAST(valid_from AS BIGINT) AS valid_from,
        |       CAST(valid_to AS BIGINT) AS valid_to
        |FROM iv WHERE valid_to IS NOT NULL ORDER BY k, valid_from""".stripMargin,

    // closed-form argmax over the SAME version set the source replays:
    // insert version at offset-instant 3k+1 ms, update after-image at 3k+2 ms
    // (deletes and -U before-images are not versions); each probe binds to
    // the greatest version_ts at or before its own timestamp within 60 s
    "q92_cdc_temporal_enrich" ->
      """WITH probes AS (
        |  SELECT o_orderkey AS k, o_orderkey*2 AS probe_id,
        |         (o_orderkey*3+2+3600000)*1000 - 500 AS pts_us
        |  FROM orders WHERE o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey*2+1, (o_orderkey*3+3+3600000)*1000 - 500
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |versions AS (
        |  SELECT o_orderkey AS k, (o_orderkey*3+1+3600000)*1000 AS vts_us,
        |         o_orderkey*3+1 AS ver_off, o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, (o_orderkey*3+2+3600000)*1000, o_orderkey*3+2, o_totalprice*1.1
        |  FROM orders WHERE o_orderkey % 5 = 2),
        |cand AS (
        |  SELECT p.probe_id, p.k, p.pts_us, v.vts_us, v.ver_off, v.price
        |  FROM probes p JOIN versions v ON p.k = v.k
        |  WHERE v.vts_us <= p.pts_us AND v.vts_us >= p.pts_us - 60000000),
        |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
        |           ORDER BY vts_us DESC, ver_off DESC) AS rn FROM cand)
        |SELECT probe_id, k, pts_us, vts_us AS version_ts_us, ver_off, price
        |FROM pick WHERE rn = 1 ORDER BY probe_id""".stripMargin,

    "q26_cdc_net_delta" ->
      """SELECT o_orderkey AS k,
        |  CAST(CASE WHEN o_orderkey % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS net_delta,
        |  CAST(1 + 2*(CASE WHEN o_orderkey % 5 = 2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_events
        |FROM orders ORDER BY k""".stripMargin
  )
}
