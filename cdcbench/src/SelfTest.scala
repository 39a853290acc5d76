package cdcbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.streaming.UpsertSink
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: generators are deterministic, their
  * closed-form expectations equal a brute-force replay of the files they
  * wrote, and every output check rejects a wrong answer.
  *
  * Usage: SelfTest <scratch dir>   (or `python3 cdcbench/run.py --selftest`) */
object SelfTest {
  private val mapper = new ObjectMapper()
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable => failures += 1; println(s"FAIL $name: $t"); t.printStackTrace() }

  private def assertTrue(c: Boolean, msg: => String): Unit = if (!c) throw new AssertionError(msg)

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)

  private def rowOf(n: JsonNode): (Long, Long, String) =
    (n.get("k").asLong, n.get("v").asLong, n.get("s").asText)

  private def expectedOf(state: collection.Map[Long, (Long, String)]): Expected =
    Expected(state.size.toLong, state.map { case (k, (v, s)) => Digest.cdcRow(k, v, s) }.sum)

  /** Applies snapshot rows, then log events in file order. */
  private def replayFileTable(root: Path): mutable.Map[Long, (Long, String)] = {
    val d = root.resolve(CdcGen.Table)
    val st = mutable.HashMap.empty[Long, (Long, String)]
    lines(d.resolve("snapshot.jsonl")).foreach { l => val (k, v, s) = rowOf(mapper.readTree(l)); st(k) = (v, s) }
    var lastOff = 0L
    lines(d.resolve("log.jsonl")).foreach { l =>
      val n = mapper.readTree(l)
      assertTrue(n.get("offset").asLong == lastOff + 1, s"offsets not dense at $l")
      lastOff += 1
      applyEvent(st, n.get("op").asText, n.get("before"), n.get("after"))
    }
    st
  }

  private def applyEvent(st: mutable.Map[Long, (Long, String)], op: String, before: JsonNode, after: JsonNode): Unit =
    op match {
      case "c" | "u" =>
        val (k, v, s) = rowOf(after)
        if (op == "c") assertTrue(!st.contains(k), s"insert of live key $k")
        else assertTrue(st.get(k).contains((rowOf(before)._2, rowOf(before)._3)), s"stale before-image for $k")
        st(k) = (v, s)
      case "d" =>
        val (k, v, s) = rowOf(before)
        assertTrue(st.get(k).contains((v, s)), s"delete of $k with a stale before-image")
        st.remove(k)
    }

  private def replaySpool(events: Path): mutable.Map[Long, (Long, String)] = {
    val st = mutable.HashMap.empty[Long, (Long, String)]
    lines(events).foreach { l =>
      val n = mapper.readTree(l)
      applyEvent(st, n.get("op").asText, n.get("before"), n.get("after"))
    }
    st
  }

  /** The curation funnel recomputed by brute force from the documents'
    * texts: quality and language from the library's formulas, exact
    * groups by text, near-duplicate components from all pairs sharing a
    * word 3-shingle with Jaccard >= 0.3, packs over the kept set. */
  private def bruteForceLedger(c: CorpusGen.Corpus): Map[Long, (String, Long)] = {
    val en = Set("the", "a", "of", "and", "to", "in", "is", "for")
    val de = Set("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
    val fr = Set("le", "la", "et", "les", "des", "est", "un", "une")
    val prior = c.yesterday.toSet
    val verdict = mutable.HashMap.empty[Long, String]
    val docs = c.today.sortBy(_.id)
    val s2 = docs.filter { d =>
      val t = d.text.split(" ")
      val punct = d.text.count(".,!?".contains(_)).toDouble / math.max(d.text.length, 1)
      val q = math.min(t.length, 100) / 100.0 * (1 - punct) * (1 - t.count(en).toDouble / math.max(t.length, 1))
      val (ne, nd, nf) = (t.count(en), t.count(de), t.count(fr))
      val lang = if (ne + nd + nf == 0) "unknown"
        else if (ne >= nd && ne >= nf) "en" else if (nd >= nf) "de" else "fr"
      if (q < 0.2) { verdict(d.id) = "drop_quality"; false }
      else if (lang != "en") { verdict(d.id) = "drop_lang"; false }
      else if (prior(d.text)) { verdict(d.id) = "drop_prior_dup"; false }
      else true
    }
    val s3 = s2.groupBy(_.text).values.flatMap { g =>
      val keep = g.minBy(_.id); g.filter(_ ne keep).foreach(d => verdict(d.id) = "drop_exact_dup"); Seq(keep)
    }.toSeq.sortBy(_.id)
    def shingles(t: String): Set[String] = {
      val w = t.split(" "); (0 to math.max(w.length - 3, 0)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sh = s3.map(d => d.id -> shingles(d.text)).toMap
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    s3.foreach(d => sh(d.id).foreach(s => byShingle.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.id))
    val candidates = byShingle.values.flatMap(ids => for (x <- ids; y <- ids if x < y) yield (x, y)).toSet
    candidates.foreach { case (x, y) =>
      val inter = (sh(x) intersect sh(y)).size
      if (inter.toDouble / (sh(x).size + sh(y).size - inter) >= 0.3) {
        val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
    }
    s3.foreach(d => if (find(d.id) != d.id) verdict(d.id) = "drop_near_dup")
    var acc = 0L
    docs.map { d =>
      val v = verdict.getOrElse(d.id, "kept")
      val pack = if (v == "kept") { val p = acc / CorpusGen.PackBudget; acc += d.text.split(" ").length; p } else -1L
      d.id -> (v, pack)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)

    test("snapshot_load input: same seed gives the same bytes, another seed differs") {
      CdcGen.snapshotLoad(11, 2000, 3000, work.resolve("s11a"))
      CdcGen.snapshotLoad(11, 2000, 3000, work.resolve("s11b"))
      CdcGen.snapshotLoad(12, 2000, 3000, work.resolve("s12"))
      Seq("meta.json", "snapshot.jsonl", "log.jsonl").foreach { f =>
        def b(d: String) = Files.readAllBytes(work.resolve(d).resolve(CdcGen.Table).resolve(f)).toSeq
        assertTrue(b("s11a") == b("s11b"), s"$f differs for one seed")
        if (f != "meta.json") assertTrue(b("s11a") != b("s12"), s"$f equal across seeds")
      }
    }

    test("snapshot_load expected state equals a brute-force replay") {
      val exp = CdcGen.snapshotLoad(13, 3000, 6000, work.resolve("s13"))
      val st = replayFileTable(work.resolve("s13"))
      assertTrue(expectedOf(st) == exp, s"replay ${expectedOf(st)} != closed form $exp")
    }

    test("restart_tail spool: replay equals the closed form, and the writer's lines continue it") {
      val backlog = 4000; val tail = 2500
      val full = CdcGen.tailSpool(21, 700, backlog + tail, work.resolve("t-full"))
      val part = CdcGen.tailSpool(21, 700, backlog, work.resolve("t-part"))
      val gen = new CdcGen.Tail(21, 700); gen.skip(backlog)
      val appended = lines(part) ++ Seq.fill(tail)(gen.next())
      assertTrue(appended == lines(full), "backlog + writer continuation differs from the full stream")
      val exp = CdcGen.tailExpected(21, 700, backlog + tail)
      assertTrue(expectedOf(replaySpool(full)) == exp, "spool replay differs from the closed form")
      assertTrue(expectedOf(replaySpool(part)) == CdcGen.tailExpected(21, 700, backlog), "backlog replay differs")
    }

    test("curation planted verdicts equal a brute-force curation") {
      val c = CorpusGen.generate(31, 3000, 600)
      assertTrue(c.today.map(_.id).sorted.sameElements(c.today.indices.map(_.toLong)), "ids are not 0..n-1")
      val c2 = CorpusGen.generate(31, 3000, 600)
      assertTrue(c.today.sameElements(c2.today), "corpus not deterministic")
      val bf = bruteForceLedger(c)
      val wrong = c.today.filter(d => bf(d.id) != ((d.verdict, d.packId)))
      assertTrue(wrong.isEmpty, s"${wrong.length} docs differ, e.g. ${wrong.headOption.map(d => (d.id, d.verdict, bf(d.id)))}")
      val counts = c.today.groupBy(_.verdict).map { case (k, v) => k -> v.length }
      assertTrue(CorpusGen.Verdicts.forall(counts.getOrElse(_, 0) > 0), s"a class is missing: $counts")
    }

    test("tail check: one lost event changes the expected state") {
      val n = 3000
      assertTrue(CdcGen.tailExpected(41, 500, n) != CdcGen.tailExpected(41, 500, n - 1),
        "dropping the last event went unnoticed")
    }

    val spark = Main.session("local[2]", work)
    try {
      val a = Main.Args("selftest", 0, 1, trace = false, work.resolve("wl"))
      val wl = new CurationWl(spark, a)

      test("CDC state check accepts the right state and rejects a dropped delete") {
        val root = work.resolve("s51")
        val exp = CdcGen.snapshotLoad(51, 2000, 4000, root)
        val state = work.resolve("s51-state").toString
        val cur = spark.read.format("cdc-log").option("path", root.toString)
          .option("metadata.columns", "op_offset,row_kind").load()
        UpsertSink.mergeBatch(cur, Seq("k"), state, 8)
        assertTrue(wl.stateDigest(state) == exp, "correct state rejected")
        // a deleted snapshot key, resurrected as if its delete was dropped
        val gone = replayFileTable(root).keySet
        val k = (0L until 4000L by 2).find(!gone.contains(_)).get
        val row = lines(root.resolve(CdcGen.Table).resolve("snapshot.jsonl")).map(l => mapper.readTree(l))
          .find(_.get("k").asLong == k).get
        import spark.implicits._
        val back = Seq((k, row.get("v").asLong, row.get("s").asText, "c", Long.MaxValue, "+I"))
          .toDF("k", "v", "s", "op", "op_offset", "row_kind")
        UpsertSink.mergeBatch(back, Seq("k"), state, 8)
        assertTrue(wl.stateDigest(state) != exp, "state with a dropped delete accepted")
      }

      test("ledger check accepts the planted ledger and rejects one wrong verdict") {
        val c = CorpusGen.generate(61, 2000, 400)
        import spark.implicits._
        val led = c.today.toSeq.map(d => (d.id, d.verdict, d.nTokens.toLong,
          if (d.packId < 0) None else Some(d.packId))).toDF("doc_id", "verdict", "n_tokens", "pack_id")
        assertTrue(wl.check(led, c.today) == 0, "correct ledger rejected")
        val victim = c.today.find(_.verdict == "drop_near_dup").get.id
        val bad = led.withColumn("verdict",
          when(col("doc_id") === victim, lit("kept")).otherwise(col("verdict")))
        assertTrue(wl.check(bad, c.today) >= 1, "ledger with a wrong verdict accepted")
        assertTrue(wl.check(led.filter(col("doc_id") =!= victim), c.today) >= 1, "ledger missing a document accepted")
      }
    } finally spark.stop()
    Main.deleteTree(work)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
