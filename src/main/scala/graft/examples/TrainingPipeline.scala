package graft.examples

import graft.functions.TextFunctions._
import graft.multimodal.MultimodalOps
import graft.operators.{ConnectedComponents, Dedup, Packing, Sampling, Similarity, TextStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline over the synthetic corpus: the flow a
  * 100 TB ingest would run, at demo scale.
  *
  *   documents → exact dedup → near-dup CLUSTERING (LSH candidates,
  *   exact-Jaccard verify, connected components, keep one per cluster) →
  *   quality/lang/repetition gate → eval-set decontamination →
  *   source quota → fingerprints → multimodal pack + feature kernels →
  *   token-budget packing → train/val/test split → ANN neighbours.
  *
  * {{{ sbt "runMain graft.examples.TrainingPipeline [sfDir]" }}}
  */
object TrainingPipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").appName("training-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"ingest: ${docs.count()} docs")

    // 1. exact dedup (content hash). Persisted: three downstream consumers
    // (LSH candidates, Jaccard verify, the anti-join) would otherwise each
    // re-run the dedup lineage — the same persist a production pipeline
    // would place at every fan-out point.
    val exact = Dedup.dropExactDuplicates(docs, "doc_id", "text").persist()
    println(s"after exact dedup: ${exact.count()}")

    // 2. near-dup CLUSTERING: LSH candidates, verified by exact Jaccard
    //    ≥ 0.5, grouped into components, keep one canonical doc per cluster
    //    (pair-wise "drop the higher id" under-deletes on chains A~B~C)
    val candidates = Dedup.md5MinHashLshCandidates(exact, "doc_id", "text", n = 3, k = 64, bands = 32)
    val verified = Dedup.ngramJaccardPairs(exact, "doc_id", "text", n = 3, minJaccard = 0.5)
      .join(candidates, Seq("id_a", "id_b"), "left_semi")
    val losers = ConnectedComponents.dedupClusters(verified, "id_a", "id_b")
      .filter(!col("keep")).select(col("id").as("doc_id")).persist()
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")
    println(s"after near-dup clustering: ${nearDeduped.count()} (dropped ${losers.count()})")

    // 3. quality + language + repetition gate
    val rep = TextStats.repetitionStats(nearDeduped, "doc_id", "text")
      .select("doc_id", "dup_token_frac", "top_bigram_frac")
    // unigram-LM rarity (cheap perplexity proxy): drop the extreme
    // boilerplate tail (every token ultra-frequent)
    val rarity = TextStats.tokenRarity(nearDeduped)
      .select(col("doc_id"), col("mean_tok_freq"))
    val gated = nearDeduped
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("lang_pred", langId(col("text")))
      .filter(col("quality") > 0.3 && col("lang_pred") =!= "unknown")
      .join(rep, "doc_id")
      .filter(col("dup_token_frac") < 0.95 && col("top_bigram_frac") < 0.9)
      .join(rarity, "doc_id")
      .persist()
    println(s"after quality/lang/repetition gate: ${gated.count()}")

    // 3b. decontaminate against a held-out "benchmark" slice, then cap any
    //     one source's share of the corpus
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val contaminated = Dedup.contaminationCheck(gated, bench, "doc_id", "text", n = 5)
      .filter(col("match_frac") >= 0.5).select("doc_id")
    val curated = gated.join(contaminated, Seq("doc_id"), "left_anti")
    val quotaed = Sampling.quotaPerGroup(curated, "doc_id", "source", quota = 200)
    println(s"after decontamination + source quota: ${quotaed.count()}")

    // 4. fingerprints for downstream exact lookup
    val finger = quotaed.select(col("doc_id"), contentHash(col("text")).as("content_hash"),
      minTokenHash(col("text")).as("vocab_fp"))
    println(s"fingerprints: ${finger.count()}")

    // 5. multimodal pack + per-partition kernels
    val media = MultimodalOps.toMediaDataset(MultimodalOps.packDocuments(
      quotaed.select("doc_id", "text", "lang", "source", "n_chars")))
    val features = MultimodalOps.extractFeatures(media, dim = 16)
    println(s"media features: ${features.count()} (image metas: " +
      s"${MultimodalOps.decodeImageMeta(media).count()})")

    // 5b. context-window chunking of long docs, then token-budget packing
    //     of the CHUNKS (not the raw docs — a book-length doc must never
    //     land whole in one pack) + deterministic split for the trainer
    val chunks = graft.operators.Chunking.chunkDocs(quotaed, "doc_id", "text",
        maxTokens = 512, overlap = 64)
      .select(
        // chunk-unique id keeps packing's id-ordered prefix sum grouping a
        // doc's chunks adjacently; the 1e6 span bounds docs at ~450M tokens
        // (1e6 chunks x stride 448) before ids could collide — far past any
        // real document, and doc ids stay < 2^43 so the product can't wrap
        (col("doc_id") * 1000000L + col("chunk_idx")).as("chunk_uid"),
        col("chunk_text"))
    val packed = Packing.sequentialPacks(chunks, "chunk_uid", "chunk_text", budget = 2048)
    val split = Sampling.split(quotaed, "doc_id")
      .groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"packs: ${packed.agg(max("pack_id")).head().getLong(0) + 1} ($split)")

    // 6. ANN neighbours over the embeddings table (IVF)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ann = Similarity.ivfTopKPortable(emb, emb.limit(10), "vec_id", "embedding",
      k = 3, ncells = 8, nprobe = 2, iters = 1)
    println("sample ANN neighbours:")
    ann.show(9, false)

    // 6b. SemDeDup pass over the embedding space: one representative per
    // semantic near-dup cluster
    val sem = Similarity.semanticDedupPortable(emb, "vec_id", "embedding",
      minSim = 0.35, ncells = 8)
    println(s"semantic dedup: kept ${sem.filter(col("kept")).count()} " +
      s"of ${sem.count()} vectors")

    // 7. DAY 2, incrementally: tomorrow's crawl (fresh docs + re-crawls)
    //    is curated against TODAY's corpus through its kept-hash manifest
    //    only — the daily job never re-curates the corpus. The Bloom
    //    pre-screen lets definite-misses (most of a fresh crawl) bypass
    //    the manifest join. Persisted: the manifest feeds four actions
    //    inside the operator (cardinality probe, Bloom build, semi lane,
    //    anti lane) — without the cache each would replay the whole
    //    decontamination+quota lineage. Day-2 packs start a fresh
    //    doc-level sequence here (this demo's corpus packs are
    //    CHUNK-level, a different unit and budget — continuing that
    //    sequence would mix incompatible shard layouts; q102 shows true
    //    same-unit pack continuation).
    val manifest = quotaed.select(contentHash(col("text")).as("h")).persist()
    val day2 = docs.filter(col("doc_id") % 2 === 0) // stand-in crawl
    val ledger2 = graft.operators.Curation.incrementalCurationLedger(
      day2, manifest, "doc_id", "text")
    println("day-2 incremental curation verdicts:")
    ledger2.groupBy("verdict").count().orderBy("verdict").show(false)

    // 8. DAY 2's near-dup GRAPH maintenance: yesterday's clusters are a
    //    stored assignment, yesterday's shingles a stored inverted index
    //    — today's crawl (fresh ids) finds its edges INTO the corpus via
    //    the index probe, prior clusters contract to supernodes, star
    //    contraction runs on the delta graph only; the split then
    //    re-lands any cross-fence merge on one side (q115/q118's flow).
    val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val crawl = day2.select((col("doc_id") + off).as("doc_id"), col("text"))
    val priorAssign = ConnectedComponents.components(verified, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    val delta = ConnectedComponents.incrementalClusters(
      crawl.select("doc_id"), "doc_id",
      Dedup.ngramJaccardPairs(crawl, "doc_id", "text", n = 3, minJaccard = 0.5),
      "id_a", "id_b",
      Dedup.ngramJaccardPairsVsIndex(crawl, "doc_id", "text",
        Dedup.shingleIndex(docs, "doc_id", "text"), n = 3, minJaccard = 0.5),
      "today_id", "prior_id", priorAssign)
    val resplit = Sampling.incrementalLeakageSafeSplit(delta)
    println("day-2 cluster delta by scope / split:")
    resplit.groupBy("scope", "split").count().orderBy("scope", "split").show(false)

    // 9. DAY 3: the APPEND loop (q119's gated shape). The day-2 job
    //    appends its delta to the assignment table and day-2's shingles
    //    to the inverted index — no read-modify-write: labels only ever
    //    DECREASE under merges, so the current assignment of the
    //    grow-only table is min(cluster_id) per doc (bucket-local when
    //    the table is bucketed on doc_id, as the gated fixture is).
    val assign2 = priorAssign.unionByName(delta.select("doc_id", "cluster_id"))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    val index2 = Dedup.shingleIndex(docs, "doc_id", "text")
      .unionByName(Dedup.shingleIndex(crawl, "doc_id", "text"))
    val day3 = crawl.select((col("doc_id") + off).as("doc_id"),
      concat(lit("upd "), col("text")).as("text"))
    val delta3 = ConnectedComponents.incrementalClusters(
      day3.select("doc_id"), "doc_id",
      Dedup.ngramJaccardPairs(day3, "doc_id", "text", n = 3, minJaccard = 0.5),
      "id_a", "id_b",
      Dedup.ngramJaccardPairsVsIndex(day3, "doc_id", "text", index2,
        n = 3, minJaccard = 0.5),
      "today_id", "prior_id", assign2)
    println("day-3 delta against the APPEND-maintained state:")
    delta3.groupBy("scope").count().orderBy("scope").show(false)
    spark.stop()
  }
}
