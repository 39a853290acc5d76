package graft.queries

/** Per-JVM cache of staged stream-input directories for the streaming gate
  * queries (q52/q54/q61/q88/q89/q90).
  *
  * Staging a file stream means sorting the source table, writing it as
  * part files, and appending sentinel waves — ingest-side test scaffolding,
  * not query cost (in production the stream's input already exists; the
  * engine cost is the stateful processing). The same rule the bench already
  * applies to the CDC fixture and q87's bucketed layout. The staged layout
  * for a given (kind, source dir) is deterministic, so it is built ONCE per
  * JVM and each run only re-arms arrival order: fresh mtimes from "now", in
  * the staged group order, so the file source (which admits files by mtime)
  * replays the same arrival sequence for every run.
  */
private[graft] object StreamFixtures {

  /** STREAM-SCOPED session with `spark.sql.shuffle.partitions` pinned
    * low for a bounded catch-up run (per-batch cost is state-checkpoint
    * files PER PARTITION; the gates' state is far too small to need the
    * session's 32).
    *
    * WHY A CLONE (round-13 verdict, what's-wrong #3): mutating the
    * SHARED session's conf in a try/finally around `start()` is
    * concurrency-unsafe — any query planned on another thread during
    * the window inherits the low setting. `newSession()` shares the
    * SparkContext, persistent catalog, and cached data but isolates
    * runtime conf and temp views; a stream BUILT from the clone bakes
    * `parts` into its own execution (StreamExecution clones the
    * stream DF's session, and a foreachBatch body's
    * `batch.sparkSession` is that clone), while the shared session's
    * conf is never touched. The memory sink's table registers in the
    * clone too — read it back via THIS session, not the parent.
    *
    * Modifiable runtime confs are copied from the parent first:
    * newSession only inherits builder-time options, and e.g.
    * [[graft.Tables]]'s parquet read flags are set at runtime and
    * load-bearing for the testdata schemas. */
  def streamSession(s: org.apache.spark.sql.SparkSession,
      parts: Int = 4): org.apache.spark.sql.SparkSession = {
    val ss = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      if (ss.conf.isModifiable(k) && !ss.conf.getOption(k).contains(v))
        try ss.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss
  }

  /** A staged input dir plus its arrival groups: (files, mtime offset ms).
    * Files within a group share an offset (they may arrive together);
    * groups are ordered by offset. */
  final case class Stage(in: String, groups: Seq[(Seq[java.io.File], Long)])

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Stage]()

  /** Build-once per (kind, source dir): `build` writes the part files into
    * the passed directory and returns the arrival groups. */
  def ensure(kind: String, dir: String)(
      build: String => Seq[(Seq[java.io.File], Long)]): Stage =
    cache.computeIfAbsent(s"$kind|$dir", { _ =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_${kind}_")
      Fixtures.deleteTreeOnExit(tmp)
      val in = tmp.resolve("in").toString
      Stage(in, build(in))
    })

  /** Re-arm arrival order for a fresh run (cheap: one utime per file).
    *
    * CONTRACT: queries sharing a stage (q89/q90 share "q89") must run
    * SEQUENTIALLY — arm() mutates the staged files' mtimes, so re-arming
    * while another query over the same stage is mid-run would silently
    * reorder its mtime-ordered arrival sequence. The gate queries hold
    * this: Verify and Bench run the battery one query at a time, and each
    * query drains its stream to completion before returning. The per-Stage
    * lock below makes the arm itself atomic (no interleaved half-armed
    * mtimes if two sessions race), but it cannot protect a RUNNING query —
    * that is the caller's sequencing obligation. */
  def arm(st: Stage): Stage = st.synchronized {
    val base = System.currentTimeMillis()
    st.groups.foreach { case (files, off) =>
      files.foreach(_.setLastModified(base + off))
    }
    st
  }

  /** Parquet part files of a directory in name order. */
  def parts(in: String): Seq[java.io.File] =
    new java.io.File(in).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  /** The shared sentinel-wave stage layout (q89/q90/q92): main part files
    * arrive one per second; a pad file keeps the pre-wave file count odd;
    * then each wave lands as its own single file, 1800 s of mtime apart.
    * Callers pace the waves by their trigger caps: q89/q90 admit all but
    * one file per trigger (totalFiles − 1), so the last wave alone opens
    * the batch that runs after the first wave's watermark advance; q92's
    * probes are uncapped and its dimension log's span cap paces the
    * watermark. `sentinel(us)` builds the watermark-pushing rows for
    * instant `us` (filtered from query output by the caller's
    * sentinel-key convention). */
  def stageWithWaves(in: String, sentinel: Long => org.apache.spark.sql.DataFrame,
      padUs: Long, waveUs: Seq[Long]): Seq[(Seq[java.io.File], Long)] = {
    val mainParts = parts(in)
    if (mainParts.length % 2 == 0)
      sentinel(padUs).coalesce(1).write.mode("append").parquet(in)
    val padParts = parts(in).filterNot(mainParts.contains)
    var seen = mainParts ++ padParts
    val waveParts = waveUs.map { us =>
      sentinel(us).coalesce(1).write.mode("append").parquet(in)
      val p = parts(in).filterNot(seen.contains)
      seen = seen ++ p
      p
    }
    mainParts.zipWithIndex.map { case (f, i) => (Seq(f), i * 1000L) } ++
      ((padParts +: waveParts).zipWithIndex.map { case (p, i) =>
        (p, (1800L + 1800L * i) * 1000L)
      })
  }

  /** The shared gate-query drain (q88/q89/q90/q92/q99): append-mode
    * memory sink under Trigger.AvailableNow. CONTRACT: build `df` from
    * [[streamSession]] — the low shuffle-partition count a bounded
    * catch-up wants rides in the stream's own session, never the shared
    * one, and the memory sink registers its table in that session (read
    * back here via `df.sparkSession`). Returns the drained sink table. */
  def drainAppend(df: org.apache.spark.sql.DataFrame,
      prefix: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory(prefix + "_ckpt_")
    Fixtures.deleteTreeOnExit(tmp)
    val qname = prefix + "_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = df.writeStream.outputMode("append").format("memory").queryName(qname)
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.table(qname)
  }
}
