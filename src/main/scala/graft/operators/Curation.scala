package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composed pipeline a data team
  * actually runs before tokenization, as ONE auditable operator —
  *
  *   quality filter → language filter → exact dedup → near-dup cluster
  *   dedup → token-budget sequence packing
  *
  * The output is a per-document LEDGER, not just the survivors: every input
  * row appears exactly once with the verdict that removed it (first failing
  * stage wins) or its pack assignment if it survived the whole funnel.
  * Curation decisions are the provenance record auditors and ablation
  * studies need — "why is doc X not in the training set" must be answerable
  * without re-running the pipeline.
  *
  * Every stage is a previously-gated primitive (q28 quality, q29 lang-id,
  * q27 exact groups, q30/q57 Jaccard clusters, q60 packing), so the whole
  * composite is cross-engine-deterministic and sits under the DuckDB hash
  * gate as q91 (full-corpus form) and q102 (daily incremental form) —
  * both through ONE shared funnel ([[ledger]]), mirroring the oracle
  * side's shared funnelHeadSql/funnelTailSql generators, so the two
  * queries cannot drift apart.
  *
  * Scale design (the 100 TB read):
  *   - Stages 1–2 are stateless codegen'd expressions on the scan — no
  *     shuffle, pushed into the same stage as the parquet read.
  *   - Exact dedup shuffles once on md5(text) (uniform keys, no skew).
  *   - Near-dup pair-gen runs ONLY on exact-dedup survivors (strictly
  *     smaller input), via the single-shuffle hashed-shingle self-join of
  *     [[Dedup.ngramJaccardPairs]]; clustering is O(log n) star-contraction.
  *   - Drop sets (exact-dup losers, near-dup losers) are tiny relative to
  *     the corpus — AQE broadcasts them back onto the ledger joins.
  *   - Packing is the distributed prefix-sum of [[Packing.sequentialPacks]]
  *     (range shuffle + O(partitions) offset table, no global window).
  */
object Curation {

  /** Per-document curation ledger: (doc_id, verdict, n_tokens, pack_id).
    *
    * verdict ∈ kept | drop_quality | drop_lang | drop_exact_dup |
    * drop_near_dup, evaluated in that order (a document failing several
    * stages reports the FIRST). pack_id is non-null iff verdict = kept:
    * sequential token-budget packs over the surviving set in id order.
    * Exact-dup groups keep the minimum id; near-dup clusters (connected
    * components of the Jaccard-pair graph over survivors) keep the
    * component's minimum id.
    *
    * Lifecycle: the funnel executes eagerly inside this call (its internal
    * fan-out barriers are released before returning — repeated invocations
    * hold no hidden cache residue), and the RETURNED ledger is persisted;
    * the caller owns that handle and should `unpersist()` it when done.
    */
  def curationLedger(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.2, keepLang: String = "en",
      shingleN: Int = 3, minJaccard: Double = 0.3,
      packBudget: Long = 256): DataFrame =
    ledger(docs, idCol, textCol, minQuality, keepLang, shingleN, minJaccard,
      packBudget, prior = None, packIdStart = 0L)

  /** The DAILY-INGEST form of [[curationLedger]]: curate TODAY's crawl
    * against a corpus that already exists, touching yesterday's data only
    * through its kept-document content-hash manifest — the actual shape a
    * 100 TB pipeline runs every day (re-curating the full corpus daily is
    * the thing this operator exists to avoid).
    *
    *   quality filter → language filter → PRIOR-corpus exact dedup
    *   (Bloom pre-screened) → within-today exact dedup → within-today
    *   near-dup cluster dedup → token-budget packing of the NEW survivors
    *
    * `priorKeptHashes` is a one-column (`h` = md5 hex) manifest of the
    * documents the corpus already retains — O(|corpus|) hashes, not texts.
    * The prior-dup stage is [[Dedup.bloomLaneSplit]]: a Bloom over the
    * manifest rides to the executors, today's definite-misses (most of a
    * fresh crawl) bypass the manifest join entirely, and only
    * possible-members verify against the exact hash set — a false
    * positive only demotes a row into the exact lane, so the ledger is
    * provably identical for every (fpp, budget), which is what lets q102
    * put the whole incremental composition under the DuckDB hash gate.
    * `sketchBudgetBytes` caps the sketch via [[Dedup.budgetedFpp]] (fpp
    * auto-raises under starvation — slower, never wrong).
    *
    * `packIdStart` continues the corpus's pack sequence: today's packs are
    * new shards appended after yesterday's highest (a day boundary starts
    * a fresh pack — daily shards, the layout training dataloaders expect).
    *
    * Verdicts: drop_quality | drop_lang | drop_prior_dup | drop_exact_dup
    * | drop_near_dup | kept, first failing stage wins. Near-dup clustering
    * runs WITHIN today only — a near-duplicate (not byte-identical) of a
    * prior kept doc is admitted by THIS operator; the cross-day screen is
    * [[Dedup.nearDupVsPrior]] over the corpus's [[Dedup.bandManifest]]
    * (q103) — a deliberate second index this exact-manifest operator does
    * not require, composed upstream or downstream as policy dictates.
    *
    * Scale shape: stages fuse into the scan as in [[curationLedger]]; the
    * prior manifest never shuffles today's corpus (Bloom lane split + a
    * semi/anti join on the shrunken possible-member side); everything
    * downstream runs on strictly shrinking survivor sets. Same lifecycle
    * contract as [[curationLedger]]: eager, returned ledger persisted,
    * caller releases it. */
  def incrementalCurationLedger(todayDocs: DataFrame, priorKeptHashes: DataFrame,
      idCol: String, textCol: String,
      minQuality: Double = 0.2, keepLang: String = "en",
      shingleN: Int = 3, minJaccard: Double = 0.3,
      packBudget: Long = 256, packIdStart: Long = 0L,
      fpp: Double = 0.03, sketchBudgetBytes: Long = 64L << 20): DataFrame =
    ledger(todayDocs, idCol, textCol, minQuality, keepLang, shingleN,
      minJaccard, packBudget,
      prior = Some((priorKeptHashes, fpp, sketchBudgetBytes)), packIdStart)

  /** The ONE funnel both public forms run; `prior` switches the
    * incremental prior-corpus stage in between the quality/lang head and
    * the dedup/pack tail (exactly where the oracle splices its tpd/ts2b
    * CTEs). */
  private def ledger(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, keepLang: String, shingleN: Int, minJaccard: Double,
      packBudget: Long, prior: Option[(DataFrame, Double, Long)],
      packIdStart: Long): DataFrame = {
    // materialization barrier at the first fan-out: `base` feeds the final
    // ledger join AND the whole survivor funnel, and Spark does not
    // common-subexpression identical subplans across join legs — without
    // the barrier the scan + quality/lang/md5 expressions execute once PER
    // LEG (measured 3-4x at sf0.1). The content hash is computed HERE so
    // it is one digest per row, total, inside the barrier. persist (not
    // localCheckpoint) is deliberate: lineage is RETAINED, so on a real
    // cluster an executor loss recomputes the missing partitions instead
    // of failing the job on a vanished checkpoint block — the
    // fault-tolerance a 1000-executor run needs from a barrier that holds
    // the whole corpus. (A/B at sf0.1: within noise of localCheckpoint.)
    // widen a narrow scan first (Par.widen): the quality/lang/token/md5
    // expressions below fuse into their input stage, and a single-split
    // file would run ALL of them in one task regardless of cores
    val base = Par.widen(docs.select(col(idCol), col(textCol)), col(idCol)).select(
      col(idCol).cast("bigint").as("doc_id"),
      col(textCol).as("text"),
      qualityScore(col(textCol)).as("quality"),
      langId(col(textCol)).as("lang_pred"),
      tokenCount(col(textCol)).as("n_tokens"),
      contentHash(col(textCol)).as("h")).persist()
    // Both barriers (and the ledger's cache) are released when the call
    // throws — from the Bloom probe, the components loop or the final
    // count — so a failing daily job leaves no cached corpus behind either.
    try {
      // stages 1+2: stateless filters fused into the scan stage
      val s2 = base.filter(col("quality") >= minQuality &&
          col("lang_pred") === keepLang)
        .select("doc_id", "text", "n_tokens", "h")

      // optional prior-corpus stage: Bloom lane split + exact verify on the
      // kept-hash manifest (the q95 construction, shared via Dedup)
      val (priorDrops, s2b) = prior match {
        case None => (None, s2)
        case Some((hashes, fpp, budget)) =>
          val (members, nonMembers) =
            Dedup.bloomLaneSplit(s2, "h", hashes, fpp, budget)
          (Some(members.select(col("doc_id"), lit(true).as("is_prior_dup"))),
            nonMembers)
      }

      // exact dedup — one shuffle keyed on the barrier's content hash
      val ex = s2b.withColumn("keeper",
        min("doc_id").over(Window.partitionBy(col("h"))))
      val exDrops = ex.filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"), lit(true).as("is_exact_dup"))
      // second fan-out barrier: s3 seeds pair-gen, the components loop, the
      // kept set, and packing — four consumers of one window shuffle
      val s3 = ex.filter(col("doc_id") === col("keeper"))
        .select("doc_id", "text", "n_tokens").persist()
      try {
        // near-dup clusters over the (smaller) survivor set only
        val pairs = Dedup.ngramJaccardPairs(s3, "doc_id", "text",
          n = shingleN, minJaccard = minJaccard)
        val comp = ConnectedComponents.components(pairs, "id_a", "id_b")
        val ndDrops = comp.filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"), lit(true).as("is_near_dup"))

        // pack the survivors on a token budget, continuing at packIdStart
        val kept = s3.join(ndDrops.select("doc_id"), Seq("doc_id"), "left_anti")
        val packs = Packing.sequentialPacks(kept, "doc_id", "text", packBudget)
          .select(col("doc_id"), (col("pack_id") + lit(packIdStart)).as("pack_id"))

        val withPrior = priorDrops.fold(
          base.withColumn("is_prior_dup", lit(null).cast("boolean")))(pd =>
          base.join(pd, Seq("doc_id"), "left"))
        val out = withPrior
          .join(exDrops, Seq("doc_id"), "left")
          .join(ndDrops, Seq("doc_id"), "left")
          .join(packs, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("quality") < minQuality, lit("drop_quality"))
              .when(col("lang_pred") =!= keepLang, lit("drop_lang"))
              .when(col("is_prior_dup"), lit("drop_prior_dup"))
              .when(col("is_exact_dup"), lit("drop_exact_dup"))
              .when(col("is_near_dup"), lit("drop_near_dup"))
              .otherwise(lit("kept")).as("verdict"),
            col("n_tokens"), col("pack_id"))
        // The funnel is forced HERE so both fan-out barriers can be released
        // before returning — a daily job calling this repeatedly must not
        // accumulate cached corpora for the life of the application. The
        // LEDGER itself (one narrow row per input doc, the smallest frame in
        // the funnel) is handed back persisted: the caller owns that one
        // handle (`ledger.unpersist()` when done); if its blocks are ever
        // evicted, recomputation replays the whole funnel unbarriered —
        // correct, just slower, the safe failure direction.
        val ledger = out.persist()
        try ledger.count()
        catch { case e: Throwable => ledger.unpersist(); throw e }
        ledger
      } finally s3.unpersist()
    } finally base.unpersist()
  }
}
