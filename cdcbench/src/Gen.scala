package cdcbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Order-independent fingerprint of a table: row count plus the wrapping
  * sum of a 64-bit mix of each row. The generators compute it from their
  * closed-form final state, the checks from what the program wrote. */
final case class Expected(rows: Long, digest: Long)

object Digest {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def cdcRow(k: Long, v: Long, s: String): Long = mix(mix(k) ^ v) ^ mix(s.hashCode.toLong)
  def ledgerRow(id: Long, verdict: String, nTokens: Long, packId: Long): Long =
    mix(mix(mix(id) ^ verdict.hashCode.toLong) ^ nTokens) ^ mix(packId)
}

/** Per-key state of one generated CDC table (`k BIGINT, v BIGINT,
  * s STRING`, s derived from v), with O(1) pick of a random live key. */
final class KeyState(maxKey: Int) {
  private val value = new Array[Long](maxKey)
  private val pos = Array.fill(maxKey)(-1)
  private val keys = new Array[Int](maxKey)
  private var n = 0
  def isLive(k: Int): Boolean = pos(k) >= 0
  def valueOf(k: Int): Long = value(k)
  def randomLive(rnd: SplittableRandom): Int = keys(rnd.nextInt(n))
  def put(k: Int, v: Long): Unit = {
    if (pos(k) < 0) { pos(k) = n; keys(n) = k; n += 1 }
    value(k) = v
  }
  def remove(k: Int): Unit = {
    val p = pos(k); val last = keys(n - 1)
    keys(p) = last; pos(last) = p; pos(k) = -1; n -= 1
  }
  def expected: Expected = {
    var d = 0L; var i = 0
    while (i < n) { val k = keys(i); d += Digest.cdcRow(k, value(k), CdcGen.tag(value(k))); i += 1 }
    Expected(n.toLong, d)
  }
}

object CdcGen {
  val Schema = "k BIGINT, v BIGINT, s STRING"
  val Table = "db.t"
  private val TsBase = 1700000000000L

  def tag(v: Long): String = "t" + java.lang.Long.toString(v % 1679616L, 36)
  def rowJson(k: Int, v: Long): String = s"""{"k":$k,"v":$v,"s":"${tag(v)}"}"""
  private def value(rnd: SplittableRandom): Long = rnd.nextLong(1L << 40)

  def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 20)

  /** snapshot_load input: `<root>/db.t/{meta.json,snapshot.jsonl,log.jsonl}`
    * in the file-provider layout. The snapshot holds `snapshotRows` rows on
    * the even keys of [0, 2·snapshotRows); the backlog is `logEvents`
    * events at offsets 1..logEvents: 30% inserts of a random dead key, 50%
    * updates and 20% deletes of a random live key. Returns the final state
    * after the whole backlog. */
  def snapshotLoad(seed: Long, snapshotRows: Int, logEvents: Int, root: Path): Expected = {
    val rnd = new SplittableRandom(seed)
    val maxKey = 2 * snapshotRows
    val st = new KeyState(maxKey)
    val dir = root.resolve(Table)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      s"""{"db":"db","table":"t","primaryKey":["k"],"schema":"$Schema","baseOffset":0}""")
    val snap = writer(dir.resolve("snapshot.jsonl"))
    try {
      var i = 0
      while (i < snapshotRows) {
        val v = value(rnd)
        st.put(2 * i, v)
        snap.write(rowJson(2 * i, v)); snap.write('\n')
        i += 1
      }
    } finally snap.close()
    val log = writer(dir.resolve("log.jsonl"))
    try {
      var off = 1
      while (off <= logEvents) {
        val r = rnd.nextInt(10)
        val line =
          if (r < 3) {
            var k = rnd.nextInt(maxKey)
            while (st.isLive(k)) k = rnd.nextInt(maxKey)
            val v = value(rnd)
            st.put(k, v)
            s"""{"offset":$off,"op":"c","tsMs":${TsBase + off},"before":null,"after":${rowJson(k, v)}}"""
          } else {
            val k = st.randomLive(rnd)
            val before = rowJson(k, st.valueOf(k))
            if (r < 8) {
              val v = value(rnd)
              st.put(k, v)
              s"""{"offset":$off,"op":"u","tsMs":${TsBase + off},"before":$before,"after":${rowJson(k, v)}}"""
            } else {
              st.remove(k)
              s"""{"offset":$off,"op":"d","tsMs":${TsBase + off},"before":$before,"after":null}"""
            }
          }
        log.write(line); log.write('\n')
        off += 1
      }
    } finally log.close()
    st.expected
  }

  /** restart_tail event stream: Debezium envelopes (bare payload) over a
    * keyspace of `keys` keys drawn Zipf(0.99) by rank (key = rank, so the
    * hot keys sit at the low end of the keyspace). A dead key gets an
    * insert; a live key an update (85%) or a delete (15%). Event j (1-based)
    * is spool offset j. */
  final class Tail(seed: Long, keys: Int) {
    private val rnd = new SplittableRandom(seed)
    private val st = new KeyState(keys)
    private val cdf: Array[Double] = {
      val a = new Array[Double](keys)
      var acc = 0.0; var i = 0
      while (i < keys) { acc += 1.0 / math.pow(i + 1, 0.99); a(i) = acc; i += 1 }
      a
    }
    private var j = 0L
    private def zipf(): Int = {
      val u = rnd.nextDouble() * cdf(keys - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, keys - 1)
    }
    def next(): String = {
      j += 1
      val k = zipf()
      val ts = TsBase + j
      if (!st.isLive(k)) {
        val v = value(rnd); st.put(k, v)
        s"""{"before":null,"after":${rowJson(k, v)},"op":"c","ts_ms":$ts}"""
      } else {
        val before = rowJson(k, st.valueOf(k))
        if (rnd.nextInt(100) < 85) {
          val v = value(rnd); st.put(k, v)
          s"""{"before":$before,"after":${rowJson(k, v)},"op":"u","ts_ms":$ts}"""
        } else {
          st.remove(k)
          s"""{"before":$before,"after":null,"op":"d","ts_ms":$ts}"""
        }
      }
    }
    def skip(n: Long): Unit = { var i = 0L; while (i < n) { next(); i += 1 } }
    def expected: Expected = st.expected
  }

  /** Writes the spool directory with its first `backlog` events; returns
    * the path of events.jsonl. */
  def tailSpool(seed: Long, keys: Int, backlog: Int, root: Path): Path = {
    val dir = root.resolve(Table)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      s"""{"db":"db","table":"t","primaryKey":["k"],"schema":"$Schema"}""")
    val gen = new Tail(seed, keys)
    val out = dir.resolve("events.jsonl")
    val w = writer(out)
    try { var i = 0; while (i < backlog) { w.write(gen.next()); w.write('\n'); i += 1 } }
    finally w.close()
    out
  }

  /** Closed-form state after the first `events` events of the stream. */
  def tailExpected(seed: Long, keys: Int, events: Long): Expected = {
    val gen = new Tail(seed, keys); gen.skip(events); gen.expected
  }
}

/** curation input: a daily crawl in JSON lines (`{"doc_id","text"}`), and
  * yesterday's crawl whose kept documents form the prior manifest.
  *
  * Words come from a seeded vocabulary of `q<base36>` tokens, large enough
  * that unrelated documents share no word 3-shingle in practice, so the
  * only near-duplicate pairs are the planted ones. Classes planted today
  * (shares of `docs`): low quality (short), non-English (German stopwords),
  * re-crawls of yesterday's kept documents, exact-duplicate groups,
  * near-duplicate clusters (a few substituted words per variant), and the
  * unique rest. Ids are a seeded permutation, so keepers (minimum id of a
  * group or cluster) fall anywhere. */
object CorpusGen {
  final case class Doc(id: Long, text: String, verdict: String, nTokens: Int, packId: Long)
  final case class Corpus(today: Array[Doc], yesterday: Array[String])

  val Vocab = 500000
  val PackBudget = 256L
  val Verdicts: Seq[String] =
    Seq("kept", "drop_quality", "drop_lang", "drop_prior_dup", "drop_exact_dup", "drop_near_dup")

  private def word(rnd: SplittableRandom): String = "q" + Integer.toString(rnd.nextInt(Vocab), 36)

  private def words(rnd: SplittableRandom, n: Int, stop: String): Array[String] =
    Array.tabulate(n)(i => if (i % 7 == 3) stop else word(rnd))

  private def clean(rnd: SplittableRandom): Array[String] = words(rnd, 40 + rnd.nextInt(41), "the")

  private def variant(rnd: SplittableRandom, base: Array[String]): Array[String] = {
    val w = base.clone()
    val subs = 2 + rnd.nextInt(3)
    var i = 0
    while (i < subs) {
      var p = rnd.nextInt(w.length)
      while (p % 7 == 3) p = rnd.nextInt(w.length)
      var r = word(rnd)
      while (r == w(p)) r = word(rnd)
      w(p) = r
      i += 1
    }
    w
  }

  def generate(seed: Long, docs: Int, yesterdayDocs: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val yesterday = Array.fill(yesterdayDocs)(clean(rnd).mkString(" "))
    // (text, class, group id); group ids tie exact copies / cluster members
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    var group = 0
    def room(n: Int) = out.size + n <= docs
    val nLow = docs / 20; val nLang = docs / 20; val nPrior = docs * 8 / 100
    for (_ <- 0 until nLow) out += ((words(rnd, 5 + rnd.nextInt(8), "the").mkString(" "), "low", -1))
    for (_ <- 0 until nLang) out += ((words(rnd, 40 + rnd.nextInt(41), "der").mkString(" "), "lang", -1))
    val recrawl = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5EEDL))
      .shuffle(yesterday.indices.toVector).take(nPrior)
    recrawl.foreach(i => out += ((yesterday(i), "prior", -1)))
    val exactTarget = out.size + docs * 12 / 100
    while (out.size < exactTarget && room(4)) {
      val t = clean(rnd).mkString(" ")
      for (_ <- 0 until 2 + rnd.nextInt(3)) out += ((t, "exact", group))
      group += 1
    }
    val nearTarget = out.size + docs * 15 / 100
    while (out.size < nearTarget && room(5)) {
      val base = clean(rnd)
      val texts = scala.collection.mutable.LinkedHashSet(base.mkString(" "))
      val want = 2 + rnd.nextInt(4)
      while (texts.size < want) texts += variant(rnd, base).mkString(" ")
      texts.foreach(t => out += ((t, "near", group)))
      group += 1
    }
    while (out.size < docs) out += ((clean(rnd).mkString(" "), "unique", -1))

    // seeded id permutation, then expected verdicts
    val perm = Array.range(0, docs)
    var i = docs - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val ids = perm.map(_.toLong)
    val minIdOfGroup = scala.collection.mutable.HashMap.empty[Int, Long]
    out.indices.foreach { x =>
      val g = out(x)._3
      if (g >= 0) minIdOfGroup(g) = math.min(minIdOfGroup.getOrElse(g, Long.MaxValue), ids(x))
    }
    val verdicts = out.indices.map { x =>
      val (_, cls, g) = out(x)
      cls match {
        case "low"   => "drop_quality"
        case "lang"  => "drop_lang"
        case "prior" => "drop_prior_dup"
        case "exact" => if (ids(x) == minIdOfGroup(g)) "kept" else "drop_exact_dup"
        case "near"  => if (ids(x) == minIdOfGroup(g)) "kept" else "drop_near_dup"
        case _       => "kept"
      }
    }
    val byId = new Array[Doc](docs)
    out.indices.foreach { x =>
      val t = out(x)._1
      byId(ids(x).toInt) = Doc(ids(x), t, verdicts(x), t.count(_ == ' ') + 1, -1L)
    }
    // sequential token-budget packs over the kept documents in id order
    var acc = 0L
    val today = byId.map { d =>
      if (d.verdict != "kept") d
      else { val p = acc / PackBudget; acc += d.nTokens; d.copy(packId = p) }
    }
    Corpus(today, yesterday)
  }

  def expected(docs: Array[Doc]): Expected =
    Expected(docs.length.toLong,
      docs.foldLeft(0L)((s, d) => s + Digest.ledgerRow(d.id, d.verdict, d.nTokens, d.packId)))

  def writeDocs(texts: Iterator[(Long, String)], p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val w = CdcGen.writer(p)
    try texts.foreach { case (id, t) => w.write(s"""{"doc_id":$id,"text":"$t"}"""); w.write('\n') }
    finally w.close()
  }
}
