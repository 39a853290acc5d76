package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality assertions for the probabilistic operators (MinHash-LSH,
  * SimHash, IVF-ANN) against their exact counterparts on the sf0.001
  * documents/embeddings tables. The oracle checks that each operator
  * computes its closed form; these bounds check that the closed form is a
  * good approximation (recall, estimate error, separation). */
class DedupSimilaritySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash-LSH finds the high-jaccard pairs the exact operator finds") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dup pairs")
    val lsh = Dedup.md5MinHashLshCandidates(docs, "doc_id", "text", n = 3, k = 64, bands = 32)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("minhash estimated jaccard tracks exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val est = Dedup.md5MinHashLshCandidates(docs, "doc_id", "text", 3, 64, 32)
    val joined = exact.join(est, Seq("id_a", "id_b"))
      .select(abs(col("jaccard") - col("est_jaccard")).as("err")).collect()
    assert(joined.nonEmpty)
    val meanErr = joined.map(_.getDouble(0)).sum / joined.length
    assert(meanErr <= 0.15, s"mean |jaccard - est| = $meanErr")
  }

  test("simhash: near-dup docs have small hamming distance, random pairs large") {
    val sigs = Dedup.md5SimHashSignatures(docs, "doc_id", "text")
    val near = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).select("id_a", "id_b")
    val withSig = near
      .join(sigs.withColumnRenamed("id", "id_a").withColumnRenamed("simhash", "sa"), "id_a")
      .join(sigs.withColumnRenamed("id", "id_b").withColumnRenamed("simhash", "sb"), "id_b")
      .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("d")).collect().map(_.getInt(0))
    assert(withSig.nonEmpty)
    val avgNear = withSig.sum.toDouble / withSig.length
    val all = sigs.select("simhash").collect().map(_.getLong(0))
    val rndPairs = all.take(30).flatMap(a => all.takeRight(30).map(b =>
      java.lang.Long.bitCount(a ^ b))).filter(_ > 0)
    val avgRnd = rndPairs.sum.toDouble / rndPairs.length
    // the corpus shares one small vocabulary, so even unrelated docs
    // correlate (well under the 28 of independent 56-bit signatures) — the
    // operator's value is the SEPARATION between near-dup and random pairs
    assert(avgNear < avgRnd * 0.75,
      s"no separation: near-dup avg hamming $avgNear vs random $avgRnd")
  }

  test("pqEncode: one code per subspace, all within the codebook") {
    // pqEncodePortable reads the 2^12-quantized vector, the training grid
    val vq = emb.withColumn("vq", Similarity.quantize(col("embedding"), 4096.0))
    def train() = Similarity.pqTrainPortable(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val books = train()
    assert(books.length === 8 && books.forall(b => b.nonEmpty && b.length <= 16 &&
      b.forall { case (s, n) => s.length === 8 && n > 0 }))
    def encode(bs: Array[Array[(Array[Long], Long)]]) =
      Similarity.pqEncodePortable(vq, "vq", bs)
        .select("vec_id", "vq", "pq_code").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Int](2)))).toMap
    val enc = encode(books)
    assert(enc.size.toLong === emb.count())
    // each code is the driver-side argmin of the training objective
    // g(c) = (‖s_c‖² − 2·dot(v, s_c)·n_c) / n_c², ties → lowest codeword
    enc.values.foreach { case (v, code) =>
      assert(code.length === 8)
      books.zipWithIndex.foreach { case (book, mi) =>
        val sub = v.slice(mi * 8, mi * 8 + 8)
        val g = book.map { case (s, n) =>
          val d = sub.zip(s).map { case (x, y) => x * y }.sum
          (s.map(x => x * x).sum - 2L * d * n).toDouble / (n * n).toDouble
        }
        assert(code(mi) === g.indexOf(g.min), s"subspace $mi of $v")
      }
    }
    // deterministic: re-train + re-encode gives identical codes
    assert(encode(train()).map { case (id, (_, c)) => id -> c } ===
      enc.map { case (id, (_, c)) => id -> c })
  }

  test("semanticDedup: one min-id representative per component, singletons kept") {
    val res = Similarity.semanticDedupPortable(emb, "vec_id", "embedding",
      minSim = 0.3, ncells = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(res.length.toLong === emb.count(), "one row per input id")
    // exactly one kept per cluster, and it is the min member id
    val byCluster = res.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._3) === 1, s"cluster $cid keeps exactly one")
      assert(members.filter(_._3).head._1 === members.map(_._1).min &&
        cid === members.map(_._1).min, s"representative of $cid is the min id")
    }
    // every DROPPED id really has a >= minSim neighbor (from the same pair
    // generation the composition used)
    val paired = Similarity.cosineNearDupPairsPortable(emb, "vec_id", "embedding",
      minSim = 0.3, ncells = 4).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    res.filterNot(_._3).foreach { case (id, _, _) =>
      assert(paired.contains(id), s"dropped $id has no near-dup pair")
    }
    assert(res.count(!_._3) > 0, "fixture must contain at least one near-dup")
  }

  test("portable IVF: recall vs brute force, deterministic integer-sum cells") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKPortable(emb, queries, "vec_id", "embedding",
      k = 5, ncells = 4, nprobe = 2)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.3, s"portable IVF recall@5 = $recall")
    // centroid training is a pure function of the data: identical on re-run
    val c1 = Similarity.ivfCentroidsPortable(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val c2 = Similarity.ivfCentroidsPortable(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(c1 === c2)
  }

  test("portable IVF-PQ: recall vs brute force, deterministic codebooks") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopKPortable(emb, queries, "vec_id", "embedding",
      k = 5, ncells = 4, nprobe = 2, m = 8, pqK = 16, rescoreFactor = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.3, s"portable IVF-PQ recall@5 = $recall")
    // codebooks are a pure function of the data
    def train() = Similarity.pqTrainPortable(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2).map(_.map { case (s, n) => (s.toSeq, n) }.toSeq).toSeq
    assert(train() === train())
  }

  test("portable cosine pairs: threshold, canonical order, blocks invariance") {
    def pairSet(blocks: Int) =
      Similarity.cosineNearDupPairsPortable(emb, "vec_id", "embedding",
        minSim = 0.3, ncells = 4, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Similarity.cosineNearDupPairsPortable(emb, "vec_id", "embedding",
      minSim = 0.3, ncells = 4).collect()
    assert(rows.forall(r => r.getDouble(2) >= 0.3))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val plain = pairSet(1)
    assert(plain.nonEmpty)
    assert(pairSet(4) === plain, "hot-cell sharding must not change the pairs")
  }

  test("exact dedup: drop keeps one row per distinct text") {
    val withDups = docs.limit(50).unionAll(docs.limit(10)) // plant exact dups
    val deduped = Dedup.dropExactDuplicates(withDups, "doc_id", "text")
    assert(deduped.count() === 50)
    assert(Dedup.exactGroups(withDups, "doc_id", "text")
      .filter(col("n_copies") > 1).count() === 10)
  }

  test("incrementalNewDocs: answer independent of Bloom fpp; definite-miss lane bypasses the join") {
    val base = docs.select("doc_id", "text")
    val yesterday = base.filter(col("doc_id") % 3 === 0)
    val today = base.filter(col("doc_id") % 3 =!= 0)
      .unionAll(yesterday.limit(20).select((col("doc_id") + 100000L).as("doc_id"),
        col("text"))) // re-crawled copies: same text, new ids → NOT new
    val expect = today
      .join(yesterday.select(md5(col("text")).as("__yh")),
        md5(col("text")) === col("__yh"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a sloppy filter (50% fpp) and a tight one must both give EXACTLY the
    // plain anti-join — FPs only reroute rows into the exact lane
    Seq(0.5, 0.01).foreach { fpp =>
      val got = Dedup.incrementalNewDocs(today, yesterday, "doc_id", "text", fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expect, s"fpp=$fpp diverged from the plain anti-join")
    }
    // every re-crawled copy was recognized as yesterday's content
    assert(!expect.exists(_ >= 100000L))
    assert(expect.nonEmpty)
  }

  test("nearDupVsPrior: band manifest flags exact AND near re-crawls, not fresh or short docs") {
    import spark.implicits._
    val a = "the quick brown fox jumps over a lazy dog and runs to the green " +
      "hill where the sun is warm and the grass is tall for every summer day"
    val b = "trade ships crossed the ocean carrying spice silk and grain to " +
      "distant ports while merchants counted profit in the harbor morning"
    val fresh = "seven small boats sailed up the wide river past the old stone " +
      "bridge while children waved from the bank and a cold wind played there"
    val prior = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val manifest = Dedup.bandManifest(prior, "doc_id", "text")
    val today = Seq(
      10L -> a,                       // exact re-crawl → every band hits
      11L -> ("upd " + a),            // near-dup (one prepended token) → hits
      12L -> fresh,                   // disjoint text → no hits
      13L -> "too short").toDF("doc_id", "text") // < n tokens → no bands
    val got = Dedup.nearDupVsPrior(today, manifest, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(10L)._1 == 8 && got(10L)._2 == 8 && got(10L)._3) // all 8 bands
    assert(got(11L)._3 && got(11L)._2 > 0, s"near re-crawl missed: ${got(11L)}")
    assert(!got(12L)._3, s"fresh doc flagged: ${got(12L)}")
    assert(got(13L) == ((0L, 0L, false))) // no bands → vacuously new
  }

  test("bandManifest append-maintenance: union of daily manifests == manifest of the union") {
    // the scaladoc's maintenance contract — each day's kept docs' bands
    // APPEND to the manifest — is sound only if manifests compose by set
    // union; a per-corpus dependence (e.g. anything min'd across docs)
    // would silently break daily appends
    val base = docs.select("doc_id", "text")
    val day1 = base.filter(col("doc_id") % 2 === 0)
    val day2 = base.filter(col("doc_id") % 2 =!= 0)
    val appended = Dedup.bandManifest(day1, "doc_id", "text")
      .unionAll(Dedup.bandManifest(day2, "doc_id", "text")).distinct()
    val whole = Dedup.bandManifest(base, "doc_id", "text")
    assert(appended.exceptAll(whole).isEmpty && whole.exceptAll(appended).isEmpty)
    // and the screen over the appended manifest flags exactly what the
    // whole-corpus manifest flags
    val probe = base.limit(30)
    val a = Dedup.nearDupVsPrior(probe, appended, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val b = Dedup.nearDupVsPrior(probe, whole, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("stored-index incremental ANN ≡ the from-documents form (parquet round-trip)") {
    // the daily path reads the persisted (centroids, assignments) tables;
    // assignment is a pure function of (vector, centroids), and float
    // vectors round-trip parquet exactly, so the stored form must be
    // bit-identical to deriving the index from the prior documents in-line
    val prior = emb.filter(col("vec_id") % 3 === 0)
    val today = emb.filter(col("vec_id") % 3 =!= 0)
    val qs = emb.filter(col("vec_id") < 50)
    val direct = Similarity.ivfAppendTopKPortable(prior, today, qs,
      "vec_id", "embedding", k = 3, ncells = 8, nprobe = 2, iters = 1)
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_annidx_")
    tmp.toFile.deleteOnExit()
    val centroids = Similarity.ivfCentroidsPortable(prior, "vec_id", "embedding",
      ncells = 8, iters = 1)
    centroids.write.parquet(s"$tmp/centroids")
    Similarity.assignCellsPortable(prior, "vec_id", "embedding", centroids)
      .write.parquet(s"$tmp/index")
    val stored = Similarity.ivfAppendTopKPortableStored(
      spark.read.parquet(s"$tmp/centroids"), spark.read.parquet(s"$tmp/index"),
      today, qs, "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(stored === direct)
  }

  test("semanticScreenVsPriorStored: flags re-embedded re-crawls; ncells=1 equals brute-force max-cosine") {
    val prior = emb.filter(col("vec_id") % 3 === 0)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val recrawls = prior.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + lit(maxId + 1)).as("vec_id"), col("embedding"))
    val today = emb.filter(col("vec_id") % 3 =!= 0)
      .select("vec_id", "embedding").unionAll(recrawls)
    val centroids = Similarity.ivfCentroidsPortable(prior, "vec_id", "embedding",
      ncells = 8, iters = 1)
    val idx = Similarity.assignCellsPortable(prior, "vec_id", "embedding", centroids)
    val out = Similarity.semanticScreenVsPriorStored(centroids, idx, today,
      "vec_id", "embedding", minSim = 0.9, nprobe = 2)
    assert(out.count() === today.count(), "one verdict row per today doc")
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    val recrawlIds = recrawls.select("vec_id").collect().map(_.getLong(0))
    assert(recrawlIds.nonEmpty)
    recrawlIds.foreach { id =>
      val r = rows(id)
      // an identical vector lands in its source's cell and scores sim ≈ 1
      assert(r.getBoolean(4), s"recrawl $id not flagged")
      assert(r.getLong(2) === id - (maxId + 1), s"recrawl $id nn_prior ${r.getLong(2)}")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, s"recrawl $id sim ${r.getDouble(3)}")
    }
    val freshFlagged = rows.filterNot { case (id, _) => recrawlIds.contains(id) }
      .count { case (_, r) => r.getBoolean(4) }
    assert(freshFlagged === 0, s"$freshFlagged fresh docs flagged (background sim ~0.5)")

    // ncells = 1 → every prior vector is a candidate: the screen's neighbor
    // must equal a driver-side brute-force argmax over the same quantized
    // arithmetic (exact doubles, ties → lowest id)
    val c1 = Similarity.ivfCentroidsPortable(prior, "vec_id", "embedding",
      ncells = 1, iters = 1)
    val i1 = Similarity.assignCellsPortable(prior, "vec_id", "embedding", c1)
    val s1 = Similarity.semanticScreenVsPriorStored(c1, i1, today,
      "vec_id", "embedding", minSim = 0.9, nprobe = 1)
    def q24(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 16777216.0).toLong).toArray
    def dotL(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val pv = prior.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> q24(r.getSeq[Float](1))).sortBy(_._1)
    val tv = today.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> q24(r.getSeq[Float](1)))
    val expected = tv.map { case (id, a) =>
      val na = math.sqrt(dotL(a, a).toDouble)
      val best = pv.map { case (cid, b) =>
        (cid, dotL(a, b).toDouble / (na * math.sqrt(dotL(b, b).toDouble)))
      }.minBy { case (cid, s) => (-s, cid) }
      id -> best
    }.toMap
    s1.collect().foreach { r =>
      val (ecid, esim) = expected(r.getLong(0))
      assert(r.getLong(2) === ecid, s"qid ${r.getLong(0)} nn")
      assert(r.getDouble(3) === esim, s"qid ${r.getLong(0)} sim")
    }
  }

  test("bloomLaneSplit: NULL-hash rows land in exactly one lane (nonMembers)") {
    // might_contain(NULL) is NULL — without the coalesce guard a NULL-text
    // doc would fail BOTH lane filters and vanish from the partition; the
    // plain anti-join (the q95 oracle) keeps NULL-keyed rows, so the exact
    // partition must route them to nonMembers
    import spark.implicits._
    val today = Seq((1L, Some("alpha")), (2L, None), (3L, Some("beta")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val manifest = Seq("alpha").toDF("t").select(md5(col("t")).as("h"))
    val (members, nonMembers) = Dedup.bloomLaneSplit(today, "h", manifest)
    assert(members.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    assert(nonMembers.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("budgetedFpp: sketch stays within the byte budget, answer unchanged") {
    // the sketch is O(n·log(1/fpp)) bits — at 10^9 items a 3%-fpp filter
    // would be ~900 MB; a 1 MB budget must auto-raise fpp instead
    val oneMB = 1L << 20
    val fpp = Dedup.budgetedFpp(0.03, 1_000_000_000L, oneMB)
    assert(fpp > 0.03 && fpp < 1.0)
    // Spark's own sizing for (n, fpp) must fit the budget: optimal bits
    // m = −n·ln(p)/ln²2, the formula budgetedFpp inverts
    val bits = -1e9 * math.log(fpp) / (math.log(2) * math.log(2))
    assert(bits <= oneMB * 8.0 * 1.001, s"bits=$bits over budget")
    // small n: the requested fpp is kept (budget headroom never shrinks it)
    assert(Dedup.budgetedFpp(0.03, 1000L, oneMB) === 0.03)
    // end-to-end: a starved budget still yields the exact answer
    val base = docs.select("doc_id", "text")
    val yesterday = base.filter(col("doc_id") % 3 === 0)
    val today = base.filter(col("doc_id") % 3 =!= 0)
    val expect = today
      .join(yesterday.select(md5(col("text")).as("__yh")),
        md5(col("text")) === col("__yh"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.incrementalNewDocs(today, yesterday, "doc_id", "text",
        fpp = 0.0001, sketchBudgetBytes = 64) // 64 bytes for hundreds of hashes
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("incrementalNewDocsBucketed: identical to the plain anti-join across bucket counts and fpp") {
    val base = docs.select("doc_id", "text")
    val yesterday = base.filter(col("doc_id") % 4 === 0)
    val today = base.filter(col("doc_id") % 4 =!= 0)
      .unionAll(yesterday.limit(15).select((col("doc_id") + 200000L).as("doc_id"),
        col("text"))) // re-crawled copies → NOT new
    val expect = today
      .join(yesterday.select(md5(col("text")).as("__yh")),
        md5(col("text")) === col("__yh"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty && !expect.exists(_ >= 200000L))
    // nBuckets=1 (degenerate single sketch), a prime count, and more
    // buckets than some have keys (empty-bucket lane); sloppy and tight
    // fpp; a starved per-bucket budget — all must be EXACTLY the anti-join
    for (nb <- Seq(1, 7, 64); fpp <- Seq(0.5, 0.01)) {
      val got = Dedup.incrementalNewDocsBucketed(today, yesterday, "doc_id", "text",
          nBuckets = nb, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === expect, s"nBuckets=$nb fpp=$fpp diverged from the plain anti-join")
    }
    val starved = Dedup.incrementalNewDocsBucketed(today, yesterday, "doc_id", "text",
        nBuckets = 8, fpp = 0.0001, sketchBudgetBytes = 128)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(starved === expect)
    // empty yesterday: every today doc is definitively new, no bloom rows
    val none = Dedup.incrementalNewDocsBucketed(today, yesterday.limit(0),
        "doc_id", "text", nBuckets = 8)
      .count()
    assert(none === today.count())
  }

  test("sign projection: deterministic ±1 matrix; projected space preserves neighborhoods") {
    val signs = Similarity.signMatrix(8, 64)
    assert(signs.length === 8 && signs.forall(_.length === 64))
    assert(signs.flatten.forall(s => s == 1L || s == -1L))
    // both signs occur (a constant matrix would be a hash bug)
    assert(signs.flatten.toSet === Set(1L, -1L))
    // derivation is stable call-to-call (drives the q98 oracle)
    assert(Similarity.signMatrix(8, 64).map(_.toSeq).toSeq === signs.map(_.toSeq).toSeq)
    // JL: top-10 in the 16-dim projected space recovers a solid fraction
    // of the original-space top-10 (the shortlist-then-rescore contract)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val proj = Similarity.signProjectTopK(emb, queries, "vec_id", "embedding",
        outDim = 16, k = 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(proj.contains).toDouble / exact.size
    info(s"projected-space recall@10 = $recall")
    // the fixture's embeddings are near-random (worst case for JL: all
    // true dots are tiny, so distortion noise dominates) — still must
    // beat chance (10/500 = 0.02) decisively; measured 0.11 at 16 dims
    assert(recall >= 0.05, s"recall@10 $recall not above chance")
  }

  test("h56OfMd5Hex matches the h56FromMd5Hex column derivation") {
    val rows = docs.select(md5(col("text")).as("h"))
      .withColumn("k", graft.operators.Dedup.h56FromMd5Hex(col("h")))
      .limit(100).collect()
    rows.foreach { r =>
      assert(Dedup.h56OfMd5Hex(r.getString(0)) === r.getLong(1),
        s"JVM/Catalyst 56-bit key drift for md5 ${r.getString(0)}")
    }
  }

  test("assignCellsPortable builds its plan without running a Spark job") {
    val sp = spark
    import sp.implicits._
    // a distributed input: a local one would answer a probe without a job
    val vecs = spark.range(1, 3).select(col("id").as("vec_id"), when(col("id") === 1,
      array(lit(0.5), lit(-0.25))).otherwise(array(lit(-0.5), lit(0.75))).as("embedding"))
    val cents = Seq((0, Seq(4096L, 0L)), (1, Seq(0L, 4096L))).toDF("cell", "csum")
    var cells: DataFrame = null
    val jobs = graft.SparkJobs.jobsOf(spark) {
      cells = Similarity.assignCellsPortable(vecs, "vec_id", "embedding", cents)
    }
    assert(jobs.isEmpty, s"jobs run while building the plan: $jobs")
    assert(cells.select("vec_id", "cell").as[(Long, Int)].collect().toMap === Map(1L -> 0, 2L -> 1))
  }
}
