package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // a hand-built corpus hitting every verdict class:
  //   1  good english doc (kept)
  //   2  byte-identical copy of 1 (drop_exact_dup — higher id loses)
  //   3  near-duplicate of 1, one token changed (drop_near_dup)
  //   4  german doc (drop_lang)
  //   5  degenerate punctuation blob (drop_quality)
  //   6  second good english doc, disjoint text (kept)
  private val en1 =
    "the quick brown fox jumps over a lazy dog and runs to the green hill " +
    "where the sun is warm and the grass is tall for every summer day"
  private val en1Near = en1.replace("quick", "swift")
  private val en2 =
    "trade ships crossed the ocean carrying spice silk and grain to distant " +
    "ports while merchants counted profit in the harbor light of early morning"
  private val de1 =
    "der alte mann und das kleine kind gehen zu dem markt und die sonne ist " +
    "nicht zu sehen weil ein starker regen kommt"
  private val junk = ".... !!!! ???? ,,,, .... !!!! ????"

  private lazy val ledger = Curation.curationLedger(
    Seq(1L -> en1, 2L -> en1, 3L -> en1Near, 4L -> de1, 5L -> junk, 6L -> en2)
      .toDF("doc_id", "text"),
    "doc_id", "text", minQuality = 0.1, packBudget = 30)
    .orderBy("doc_id").collect()

  test("every input doc gets exactly one verdict, first failing stage wins") {
    assert(ledger.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val verdicts = ledger.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(1L) == "kept")
    assert(verdicts(2L) == "drop_exact_dup") // keeper = min id per hash
    assert(verdicts(3L) == "drop_near_dup")  // component keeper = min id
    assert(verdicts(4L) == "drop_lang")
    assert(verdicts(5L) == "drop_quality")
    assert(verdicts(6L) == "kept")
  }

  test("pack_id is non-null iff kept, and packs follow the token prefix sum") {
    val byId = ledger.map(r => r.getLong(0) -> r).toMap
    assert(ledger.forall(r => (r.getString(1) == "kept") == !r.isNullAt(3)))
    // kept docs are 1 and 6 in id order: doc 1 starts at cum 0 → pack 0,
    // doc 6 starts at cum = doc 1's token count
    assert(byId(1L).getLong(3) == 0L)
    assert(byId(6L).getLong(3) == byId(1L).getLong(2) / 30)
  }

  test("near-dup stage only sees exact-dedup survivors (copy never re-drops)") {
    // doc 2 is byte-identical to 1 AND near-identical to 3, but its verdict
    // is the exact-dup drop — the earlier stage claims it
    assert(ledger.find(_.getLong(0) == 2L).get.getString(1) == "drop_exact_dup")
  }

  // ---- incremental (daily-ingest) form ----
  // yesterday's corpus: docs 1 (kept) and 6 (kept); today's crawl:
  //   10 re-crawl of 1    → drop_prior_dup (hash in the manifest)
  //   11 fresh english    → kept
  //   12 copy of 11       → drop_exact_dup (within-today)
  //   13 near-dup of 11   → drop_near_dup (within-today)
  //   14 german           → drop_lang
  //   15 junk             → drop_quality
  private val en3 =
    "seven small boats sailed up the wide river past the old stone bridge " +
    "while children waved from the bank and a cold wind played in the reeds"
  private lazy val priorHashes = Seq(1L -> en1, 6L -> en2).toDF("doc_id", "text")
    .select(md5(col("text")).as("h"))
  private def todayDocs = Seq(10L -> en1, 11L -> en3,
    12L -> en3, 13L -> en3.replace("seven", "nine"), 14L -> de1, 15L -> junk)
    .toDF("doc_id", "text")

  private def incLedger(fpp: Double, budget: Long = 64L << 20) =
    Curation.incrementalCurationLedger(todayDocs, priorHashes, "doc_id", "text",
      minQuality = 0.1, packBudget = 30, packIdStart = 7L,
      fpp = fpp, sketchBudgetBytes = budget)
      .orderBy("doc_id").collect()

  test("incremental ledger: prior dups drop first, today's funnel unchanged") {
    val verdicts = incLedger(0.03).map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts == Map(10L -> "drop_prior_dup", 11L -> "kept",
      12L -> "drop_exact_dup", 13L -> "drop_near_dup",
      14L -> "drop_lang", 15L -> "drop_quality"))
  }

  test("incremental ledger: pack ids continue the corpus sequence") {
    val byId = incLedger(0.03).map(r => r.getLong(0) -> r).toMap
    assert(byId(11L).getLong(3) == 7L) // first new pack = packIdStart
    assert(incLedger(0.03).forall(r => (r.getString(1) == "kept") == !r.isNullAt(3)))
  }

  test("incremental ledger is fpp-invariant: FPs only demote to the exact lane") {
    val a = incLedger(0.5).map(_.toSeq).toSeq
    val b = incLedger(0.01).map(_.toSeq).toSeq
    // starved sketch budget (64 bytes) forces fpp toward 1: the pre-screen
    // degrades to routing ~everything into the exact lane — same answer
    val c = incLedger(0.03, budget = 64L).map(_.toSeq).toSeq
    assert(a == b && b == c)
  }

  test("maintained manifest tables equal the fresh union derivation (q105 fixture)") {
    // regression pin for the cascade-invalidation trap: appending day-1's
    // kept hashes to the hash table invalidates every cached plan that
    // references it — including the day-1 ledger itself — and a recompute
    // re-screens day-1 against a manifest containing its own hashes, so
    // Bloom-FP docs self-match and their bands silently vanish. The
    // fixture snapshots the kept set before appending; this asserts the
    // stored tables match an independent from-scratch derivation.
    import org.apache.spark.sql.functions.{coalesce, lit, max, md5}
    val dir = "/root/testdata/sf0.001"
    val (htbl, btbl, _) = graft.queries.DataQueries.ensureCurationManifests(spark, dir)
    val base = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val off = base.agg(max("doc_id")).head().getLong(0) + 1L
    val d0 = base.filter(col("doc_id") % 3 === 0)
    val d1 = base.filter(col("doc_id") % 3 === 1).unionAll(
      d0.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + off).as("doc_id"), col("text")))
    val l0 = Curation.curationLedger(d0, "doc_id", "text")
    val k0 = l0.filter(col("verdict") === "kept").select("doc_id").join(d0, "doc_id")
    val p1 = l0.agg((coalesce(max("pack_id"), lit(-1L)) + lit(1L)).as("p")).head().getLong(0)
    val l1 = Curation.incrementalCurationLedger(
      d1, k0.select(md5(col("text")).as("h")), "doc_id", "text", packIdStart = p1)
    val k1 = l1.filter(col("verdict") === "kept").select("doc_id").join(d1, "doc_id")
    val freshH = k0.unionAll(k1).select(md5(col("text")).as("h")).distinct()
    val freshB = Dedup.bandManifest(k0.unionAll(k1), "doc_id", "text")
    val tblH = spark.table(htbl).select("h").distinct()
    val tblB = spark.table(btbl).select("band", "bhv").distinct()
    assert(freshH.exceptAll(tblH).isEmpty && tblH.exceptAll(freshH).isEmpty)
    assert(freshB.exceptAll(tblB).isEmpty && tblB.exceptAll(freshB).isEmpty)
    l0.unpersist(); l1.unpersist()
  }

  test("a funnel that fails at its first action releases every cache it created") {
    // the text column throws when evaluated. A range, not a local Seq: the
    // optimizer folds a projection over local rows at planning time, which
    // would throw before the call persists anything
    val text = en1 // a local, so the closure does not capture the spec
    val boom = udf((id: Long) =>
      if (id == 3L) throw new IllegalStateException("unreadable doc") else text)
    val docs = spark.range(1L, 5L).select(col("id").as("doc_id"))
      .withColumn("text", boom(col("doc_id")))
    // CacheManager.numCachedEntries is private[sql] in Scala but public in
    // bytecode
    val cache = spark.sharedState.cacheManager
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val before = entries
    val e = intercept[Exception](Curation.curationLedger(docs, "doc_id", "text"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unreadable doc")),
      "the call must fail on the throwing input, not elsewhere")
    assert(entries === before, "a failed call left cached frames behind")
  }
}
