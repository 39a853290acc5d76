package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guards: the scale-critical physical-plan properties the
  * gate queries rely on, asserted so they cannot silently regress.
  * (A correct-but-differently-planned query can be 30× slower — round 1's
  * q30 regression was exactly a plan-shape change.) */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()

  test("filters are pushed into the parquet scan (q02 selective filter)") {
    val p = plan("q02_selective_filter_agg")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p)
  }

  test("dimension joins broadcast (q03 join top-k, q05 multiway)") {
    assert(plan("q03_join_topk").contains("BroadcastHashJoin"))
    assert(plan("q05_multiway_join").contains("BroadcastHashJoin"))
  }

  test("q30 pair counting is a hash aggregation fed by a distributed join") {
    val p = plan("q30_ngram_jaccard_pairs")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("similarity operators plan no SortAggregate and no cartesian product") {
    Seq("q35_embedding_ivf_topk", "q39_cosine_near_dup", "q50_pq_topk",
        "q82_simhash_md5", "q104_incremental_ann").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortAggregate"), s"$q planned a SortAggregate:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a CartesianProduct:\n$p")
    }
  }

  test("similarity hot paths score through the native dot expressions") {
    // regression guard for the element_at-chain slowdown (DRIFT_NOTE_r06):
    // the scoring stages must plan long_array_dot, not dim-term element_at
    // chains
    assert(plan("q32_embedding_topk").contains("long_array_dot"))
    assert(plan("q35_embedding_ivf_topk").contains("long_array_dot"))
    assert(plan("q39_cosine_near_dup").contains("long_array_dot"))
  }

  test("shingle hashing runs as the native expression inside codegen (q30)") {
    val p = plan("q30_ngram_jaccard_pairs")
    assert(p.contains("word_shingle_hashes"), p)
  }

  test("column pruning: q31 fingerprint scan reads only doc_id and text") {
    val p = plan("q31_doc_fingerprint")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"), read)
  }

  test("q42 portable minhash: integer mins hash-aggregate (never SortAggregate)") {
    // round-3 regression guard: min() over md5 STRINGS forced SortAggregate
    // and 174 s at sf0.1; the packed-long family must keep HashAggregate
    val p = plan("q42_minhash_lsh_md5")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), s"q42 regressed to SortAggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q50 IVF-PQ: centroid/codebook sides broadcast, no cartesian blowup") {
    val p = plan("q50_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q59 decontamination: benchmark shingles broadcast, corpus never shuffles pre-join") {
    val p = plan("q59_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("word_shingle_hashes"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q57 dedup clusters: pair generation joins distributed, no cartesian") {
    // default path at this SF: components size-dispatches to the driver
    // union-find, so the FINAL plan is a LocalTableScan over the labels —
    // still no cartesian anywhere
    val p = plan("q57_dedup_clusters")
    assert(!p.contains("CartesianProduct"), p)
    // the 100 TB shape (distributed star loop) stays pinned: build q57's
    // pair frame and audit its components at dispatch threshold 0
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
      Tables.t(spark, dir, "documents"), "doc_id", "text",
      n = 3, minJaccard = 0.3)
    val pd = graft.operators.ConnectedComponents.componentsWithThreshold(
      pairs, "id_a", "id_b", maxRounds = 25, localEdgeThreshold = 0L)
      .queryExecution.executedPlan.toString()
    assert(!pd.contains("CartesianProduct"), pd)
    assert(pd.contains("HashAggregate"), pd)
  }

  test("q60 packing: no window operator at all (distributed prefix sum)") {
    val p = plan("q60_sequential_packs")
    assert(!p.contains("Window"), s"prefix sum regressed to a window:\n$p")
  }

  test("q64 quota: rank prunes map-side via WindowGroupLimit") {
    val p = plan("q64_source_quota")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q68 centroids / q70 funnel / q71 retention: hash aggs, frontier broadcasts") {
    assert(!plan("q68_label_centroids").contains("SortAggregate"))
    assert(plan("q70_funnel").contains("BroadcastHashJoin"))
    assert(plan("q71_retention").contains("BroadcastHashJoin"))
  }

  test("q79 token rarity: hash aggs, no cartesian (token join stays keyed)") {
    val p = plan("q79_token_rarity")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q80 cross-doc spans: window explode feeds one keyed hash agg") {
    val p = plan("q80_cross_doc_spans")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // generation is per-row (Generate over the scan), not a join
    assert(p.contains("Generate"), p)
  }

  test("q51 salted agg: two hash-aggregation phases, both map-side partial") {
    val p = plan("q51_salted_agg")
    assert(!p.contains("SortAggregate"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, // 2 phases × partial+final
      s"expected two hash-agg phases:\n$p")
  }

  test("q87 bucketed join: co-located scan-to-agg with ZERO exchanges") {
    // the whole point of the bucketed layout — the sort-merge join and the
    // per-order aggregate both run on the scan's HashPartitioning(key, 8);
    // any Exchange (shuffle OR broadcast) in this plan is a regression
    // a SortMergeJoin with no Exchange is only possible when both scans
    // report the bucketed HashPartitioning — the two asserts jointly pin
    // bucket-aware scans without depending on renderer metadata strings
    val p = plan("q87_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), s"q87 planned an exchange:\n$p")
  }

  test("q93 chunking: one generate projection — no shuffle, no window, no join") {
    // the whole operator is a codegen-fused split→sequence→explode→slice
    // projection; any Window, join, or data shuffle means chunking stopped
    // being embarrassingly parallel. The single allowed Exchange is the
    // presentation orderBy's rangepartitioning.
    val p = plan("q93_doc_chunks")
    assert(!p.contains("Window"), s"q93 planned a window:\n$p")
    assert(!p.contains("Join"), s"q93 planned a join:\n$p")
    assert(p.contains("Generate"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"q93 planned a data exchange beyond the presentation sort:\n$p")
  }

  test("q94 source mixture: rate table folds to expressions — no join, no shuffle") {
    // the rates ride as a literal-folded CASE/map lookup and copies explode
    // per-row; a join against a materialized rate table (or any hash
    // exchange) would re-introduce the shuffle the design exists to avoid
    val p = plan("q94_source_mixture")
    assert(!p.contains("Join"), s"q94 planned a join:\n$p")
    assert(p.contains("Generate"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"q94 planned a data exchange beyond the presentation sort:\n$p")
  }

  test("q95 incremental dedup: native might_contain pre-screen + anti-join lane") {
    // the Bloom pre-screen must plan as Spark's codegen'd
    // BloomFilterMightContain (renders `might_contain`) — a UDF here would
    // break whole-stage codegen on the widest scan of the pipeline; the
    // exact lane must stay a broadcast/hash LeftAnti (never cartesian)
    val p = plan("q95_incremental_dedup")
    assert(p.contains("might_contain"), s"q95 lost the native Bloom expression:\n$p")
    assert(p.contains("LeftAnti"), s"q95 lost the exact anti-join lane:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q102 incremental curation: native Bloom pre-screen survives the composition") {
    // the daily-pipeline composition must keep q95's pre-screen shape: the
    // prior-manifest stage plans Spark's codegen'd might_contain (both the
    // bypass-lane filter and its negation), today's corpus reaches it
    // without a preceding join, and nothing in the funnel goes cartesian
    val p = plan("q102_incremental_curation")
    assert(p.contains("might_contain"), s"q102 lost the native Bloom expression:\n$p")
    assert(p.contains("LeftAnti"), s"q102 lost the exact anti-join lane:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q105 maintained manifest: verify joins never shuffle the manifest side") {
    // the kept-hash manifest is stored bucketed on `h` (q105's lake
    // layout); the Bloom lane split's semi/anti verify joins must consume
    // the scan's HashPartitioning directly. At the gate SF the manifest
    // would broadcast, so force the large-manifest plan (broadcast off):
    // every ShuffleExchange must sit on the probe side — an exchange whose
    // subtree contains the manifest scan means the layout stopped paying.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (htbl, _, _) = graft.queries.DataQueries.ensureCurationManifests(s, dir)
    val probe = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val oldBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      for (joinType <- Seq("left_semi", "left_anti")) {
        val j = probe.join(
          s.table(htbl).withColumnRenamed("h", "__ph"),
          col("h") === col("__ph"), joinType)
        val p = j.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        def manifestScans(q: org.apache.spark.sql.execution.SparkPlan) =
          q.collect { case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == htbl) => f }
        val scans = manifestScans(p)
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$joinType: manifest not read as a bucketed scan:\n$p")
        val offending = p.collect {
          case e: ShuffleExchangeExec if manifestScans(e.child).nonEmpty => e }
        assert(offending.isEmpty,
          s"$joinType: manifest side shuffled despite bucketing:\n$p")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      s.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("q115/q116 stored-state joins never shuffle the stored side") {
    // the incremental operators' whole value is that the prior corpus's
    // stored state (shingle inverted index bucketed on h; df manifest
    // bucketed on term) is consumed at its on-disk distribution — an
    // exchange whose subtree contains the stored-table scan means the
    // bucketed layout stopped paying. Broadcast off forces the
    // large-corpus plan; AQE off keeps the executed plan inspectable.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (_, itbl) = graft.queries.DataQueries.ensureClusterState(s, dir)
    val (dtbl, n1) = graft.queries.DataQueries.ensureDfManifest(s, dir)
    val today = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 2).select("doc_id", "text")
    val oldBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val targets = Seq(
        ("q115 shingle index", itbl,
          graft.operators.Dedup.ngramJaccardPairsVsIndex(
            today, "doc_id", "text", s.table(itbl))),
        ("q116 df manifest", dtbl,
          graft.operators.TfIdf.incrementalTopTerms(
            today, "doc_id", "text", s.table(dtbl), n1, 5)))
      for ((label, tbl, df) <- targets) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        def storedScans(q: org.apache.spark.sql.execution.SparkPlan) =
          q.collect { case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == tbl) => f }
        val scans = storedScans(p)
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$label: stored table not read as a bucketed scan:\n$p")
        // an exchange BETWEEN the stored scan and its consuming join (its
        // subtree holds the scan but no join yet) means the bucketed
        // distribution was thrown away; exchanges above the join are the
        // probe pipeline's own and fine
        val offending = p.collect {
          case e: ShuffleExchangeExec if storedScans(e.child).nonEmpty &&
            e.child.collect {
              case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
            }.isEmpty => e }
        assert(offending.isEmpty,
          s"$label: stored side shuffled despite bucketing:\n$p")
      }
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      s.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("q119/q120 append-maintained state: min/sum resolution is bucket-local") {
    // the day-2 job APPENDS into the stored buckets (assignment delta
    // rows; per-term df rows), and the day-3 reader resolves the current
    // state with min(cluster_id) per doc / sum(df) per term — aggregates
    // ON THE BUCKET KEY, which must execute inside the bucketed scan's
    // distribution: a hash exchange under either resolve means the append
    // maintenance re-shuffles the whole stored state every day
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (atbl2, _) = graft.queries.DataQueries.ensureDay2ClusterState(s, dir)
    val (dtbl2, _) = graft.queries.DataQueries.ensureDay2DfManifest(s, dir)
    val btbl = graft.queries.DataQueries.ensureBigramManifest(s, dir)
    val stbl = graft.queries.DataQueries.ensureSpanManifest(s, dir)
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val targets = Seq(
        ("q119 assignment resolve", atbl2,
          s.table(atbl2).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))),
        ("q120 df resolve", dtbl2,
          s.table(dtbl2).groupBy("term").agg(sum("df").as("df"))),
        ("q124 bigram resolve", btbl,
          s.table(btbl).groupBy("bg").agg(sum("n").as("n"))),
        ("q135 span-manifest resolve", stbl,
          s.table(stbl).groupBy("s").agg(sum("n").as("n"))))
      for ((label, tbl, df) <- targets) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        val scans = p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == tbl) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$label: appended table not read as a bucketed scan:\n$p")
        assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$label: resolve aggregate shuffled the stored state:\n$p")
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("q129-q132 fold/composed-maintained tables: resolution stays bucket-local") {
    // the round-13 write paths (day-close spool folds, the composed job's
    // staged appends) land rows through idempotentAppend — the promoted
    // files must keep bucket placement so every read-side resolve
    // (min per doc / sum per term / sum per bg) still executes inside the
    // scan's distribution with ZERO shuffle of the stored state (the
    // round-12 per-side-min lesson, made explicit per ask #8)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (a129, i129) = graft.queries.DataQueries.ensureStreamFoldedClusterState(s, dir)
    val (d130, _) = graft.queries.DataQueries.ensureStreamFoldedDfManifest(s, dir)
    val b131 = graft.queries.DataQueries.ensureStreamFoldedBigramManifest(s, dir)
    val (_, _, a132, _, _) = graft.queries.DataQueries.ensureComposedDay2State(s, dir)
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val targets = Seq(
        ("q129 folded assignment resolve", a129,
          s.table(a129).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))),
        ("q129 folded shingle-index scan", i129,
          s.table(i129).groupBy("h").agg(count(lit(1)).as("n"))),
        ("q130 folded df resolve", d130,
          s.table(d130).groupBy("term").agg(sum("df").as("df"))),
        ("q131 folded bigram resolve", b131,
          s.table(b131).groupBy("bg").agg(sum("n").as("n"))),
        ("q132 composed assignment resolve", a132,
          s.table(a132).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))))
      for ((label, tbl, df) <- targets) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        val scans = p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == tbl) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$label: fold-maintained table not read as a bucketed scan:\n$p")
        assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$label: resolve aggregate shuffled the stored state:\n$p")
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("q133 compacted tables: the rewritten generation's resolution stays bucket-local") {
    // the round-14 write path: compactManifest rewrites the table as ONE
    // resolved generation via a staged bucketed write + file renames —
    // the renamed `graft-compact_*` files must keep bucket placement so
    // the day-3 read still resolves inside the scan's distribution with
    // ZERO shuffle of stored state (the same pin as the appended and
    // folded generations; if the swap lost placement, q133 would still be
    // CORRECT but every read would silently pay a corpus-sized exchange)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (a133, i133) = graft.queries.DataQueries.ensureCompactedClusterState(s, dir)
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val targets = Seq(
        ("q133 compacted assignment resolve", a133,
          s.table(a133).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))),
        ("q133 compacted shingle-index scan", i133,
          s.table(i133).groupBy("h").agg(count(lit(1)).as("n"))))
      for ((label, tbl, df) <- targets) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        val scans = p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == tbl) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$label: compacted table not read as a bucketed scan:\n$p")
        assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$label: resolve aggregate shuffled the stored state:\n$p")
        // and the compaction actually collapsed the generations: every
        // data file belongs to the LAST compact jobId (gen2)
        assert(s.table(tbl).inputFiles.forall(_.contains("graft-compact_gen2_")),
          s"$label: old generations survive in the table root")
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("q136/q137/q139 maintained tables: policy-compacted, purged, and migrated generations all resolve bucket-local") {
    // round-15's three new write paths land generations through the same
    // staged-bucketed-write + rename swap; each would stay CORRECT with a
    // lost bucket placement — the reads would just silently pay a
    // corpus-sized exchange per day — so the zero-shuffle resolve is
    // pinned for all three (the q133 pin, extended to the cadence, the
    // tombstone purge, and the schema migration)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val s = spark
    val (a136, i136) = graft.queries.DataQueries.ensureCadencedClusterState(s, dir)
    val (a137, i137) = graft.queries.DataQueries.ensureDocPurgedClusterState(s, dir)
    val m139 = graft.queries.DataQueries.ensureMigratedDfManifest(s, dir)
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val targets = Seq(
        ("q136 cadence-compacted assignment resolve", a136,
          s.table(a136).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))),
        ("q136 cadence-compacted shingle-index scan", i136,
          s.table(i136).groupBy("h").agg(count(lit(1)).as("n"))),
        ("q137 purged assignment resolve", a137,
          s.table(a137).groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))),
        ("q137 purged shingle-index scan", i137,
          s.table(i137).groupBy("h").agg(count(lit(1)).as("n"))),
        ("q139 migrated manifest resolve", m139,
          s.table(m139).groupBy("term").agg(sum("df").as("df"),
            min("first_seen_day").as("first_seen_day"))))
      for ((label, tbl, df) <- targets) {
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        val scans = p.collect { case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == tbl) => f }
        assert(scans.nonEmpty && scans.forall(_.bucketedScan),
          s"$label: maintained table not read as a bucketed scan:\n$p")
        assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$label: resolve aggregate shuffled the stored state:\n$p")
      }
      // the swaps actually happened: the cadence left ONE compact
      // generation per table, and the migrated manifest reads typed
      // (its root legitimately holds migrate + day-2 append generations)
      Seq(a136, i136).foreach { t =>
        assert(s.table(t).inputFiles.forall(_.contains("graft-compact_day2.c")),
          s"$t: cadence policy did not land a single compacted generation")
      }
      assert(s.table(m139).schema.fieldNames.contains("first_seen_day"))
    } finally s.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("q122 composition: no cartesian blowup, stored tables stay bucketed scans") {
    // the composed daily job unions five individually-pinned legs; the
    // composition must not degrade them — the only nested-loop joins
    // allowed are the documented x-broadcast-scalar crossJoins (1-row
    // aggregates riding as literals), and every stored table the legs
    // read must still arrive as a bucketed scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = SparkEntry.queries("q122_daily_audit")(spark, dir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "q122 planned a cartesian product")
    // every BNLJ must be one of the two documented classes: a broadcast
    // 1-row/scalar aggregate (the offset/count-literal pattern), or the
    // pre-repartitioned ×ncells probe blowup (streamed side carries a
    // REPARTITION_BY_NUM exchange BEFORE the cross — the
    // exchange-before-blowup rule). Anything else would be the
    // composition destroying a leg's keyed join.
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
    val badBnlj = p.collect { case j: BroadcastNestedLoopJoinExec =>
      val (build, streamed) = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => (j.left, j.right)
        case _ => (j.right, j.left)
      }
      (j, build, streamed)
    }.filter { case (_, b, st) =>
      b.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty &&
      st.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.isEmpty
    }
    assert(badBnlj.isEmpty,
      "q122 has a nested-loop join that is neither x-scalar-aggregate nor " +
        s"pre-repartitioned x-ncells:\n${badBnlj.map(_._1)}")
    // stored tables must be consumed at their on-disk distribution: a
    // hash exchange BETWEEN a stored-table scan and its consuming join
    // means the composition threw a leg's bucketed layout away (a scan
    // with bucketing planner-disabled is fine when its consumer is a
    // broadcast join — no distribution needed at all)
    def storedScans(q: org.apache.spark.sql.execution.SparkPlan) =
      q.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("graft_bkt_")) => f }
    assert(storedScans(p).nonEmpty, "q122 lost its stored-table scans")
    val offending = p.collect {
      case e: ShuffleExchangeExec if storedScans(e.child).nonEmpty &&
        e.child.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty => e }
    assert(offending.isEmpty,
      s"q122 shuffled a stored table before its join:\n$offending")
  }

  test("q132 composed-write audit: no cartesian, appended tables consumed at their distribution") {
    // q132 = the composed job run THROUGH the production writers; day 3's
    // audit must read the four mutated tables like q122 reads its
    // read-only ones — no cartesian blowup, no undocumented nested-loop
    // join, no hash exchange between a stored-table scan and its
    // consuming join (the appended files keep bucket placement, so the
    // composition has no excuse to shuffle them)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
    val df = SparkEntry.queries("q132_composed_maintenance")(spark, dir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "q132 planned a cartesian product")
    val badBnlj = p.collect { case j: BroadcastNestedLoopJoinExec =>
      val (build, streamed) = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => (j.left, j.right)
        case _ => (j.right, j.left)
      }
      (j, build, streamed)
    }.filter { case (_, b, st) =>
      b.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty &&
      st.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.isEmpty
    }
    assert(badBnlj.isEmpty,
      "q132 has a nested-loop join that is neither x-scalar-aggregate nor " +
        s"pre-repartitioned x-ncells:\n${badBnlj.map(_._1)}")
    def storedScans(q: org.apache.spark.sql.execution.SparkPlan) =
      q.collect { case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("graft_bkt_")) => f }
    assert(storedScans(p).nonEmpty, "q132 lost its stored-table scans")
    val offending = p.collect {
      case e: ShuffleExchangeExec if storedScans(e.child).nonEmpty &&
        e.child.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty => e }
    assert(offending.isEmpty,
      s"q132 shuffled a stored table before its join:\n$offending")
  }

  test("q107 partitioned lake: the date filter prunes partitions at planning") {
    // the point of a date-partitioned event lake is that a date-bounded
    // query opens 3 of 30 day directories instead of filtering rows after
    // a full scan — the filter must land in the scan's PartitionFilters
    // (planning-time directory pruning), and the pruned file set must be a
    // strict, small subset
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q107_partition_pruned")(spark, dir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scans = p.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f }
    assert(scans.nonEmpty, "q107 lost its partitioned scan")
    assert(scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "event_day"))),
      s"q107's day filter did not reach PartitionFilters:\n${df.queryExecution}")
    // 30 day dirs exist; the 3-day window must read exactly 3
    assert(scans.forall(_.selectedPartitions.partitionCount == 3),
      s"expected 3 pruned partitions, got ${scans.map(_.selectedPartitions.partitionCount).toSeq}")
  }

  test("q101 changelog compaction: compact → join → agg with no hash exchange") {
    // the compaction agg groups on the bucket key, the join's other side
    // is bucketed on the same key with the same count, and the final agg
    // groups on a superset of the key — one bucketed scan partitioning
    // carries the ENTIRE maintenance pipeline. The single allowed Exchange
    // is the battery's presentation orderBy (rangepartitioning at the very
    // top); any hashpartitioning Exchange means compaction or the join
    // started shuffling — a regression.
    val p = plan("q101_bucketed_compaction")
    assert(p.contains("SortMergeJoin"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"q101 planned a data exchange beyond the presentation sort:\n$p")
  }

  test("q113 retention vacuum: snapshot agg is bucket-local — no hash exchange") {
    // the pre-horizon snapshot agg groups on the bucket key of the
    // bucketed changelog scan, and the recent leg is a pure filter of the
    // same scan, so the ENTIRE vacuum (agg + union) plans without a single
    // hashpartitioning Exchange — each bucket rewrites independently, the
    // property that makes this the 100 TB retention job. The one allowed
    // Exchange is the battery's presentation orderBy.
    val p = plan("q113_changelog_vacuum")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"q113 planned a data exchange beyond the presentation sort:\n$p")
    assert(p.contains("Union"), p)
  }
}
