package cdcbench

import graft.cdc.{ChunkKey, SnapshotSplit, TableId}
import graft.cdc.provider.{ChangeLogProvider, DebeziumJsonChangeLogProvider, FileChangeLogProvider}
import graft.cdc.source.{CdcOptions, CdcPlanner, ChunkPartition, ChunkReader, LogPartition, LogReader}
import graft.operators.{ConnectedComponents, Curation, Dedup, Packing}
import graft.functions.TextFunctions._
import graft.streaming.UpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one run.
  *
  * Usage: Main --workload <snapshot_load|restart_tail|curation> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints `# env {...}` (machine context) and, as the last stdout line, the
  * result object. Exit code 1 when any output check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, total) CPU jiffies from /proc/stat: on a virtual machine the
    * steal share is the time the host gave to other guests. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcasts
    * and shuffle state only once their driver references are collected,
    * so collect, give it time, and collect again. */
  def heapUsedAfterGcMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(master: String, work: Path): SparkSession = {
    val s = SparkSession.builder().master(master).appName("cdcbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  /** Everything a workload hands back about one timed pass: records
    * attempted, the timed seconds behind `recordsPerS`, the end-to-end
    * figures, and records failed. */
  final case class Pass(attempted: Long, seconds: Double, recordsPerS: Double,
      freshP50: Double, freshP99: Double, onTime: Double, failed: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = load1()
    val cpuStart = cpuJiffies()
    Files.createDirectories(a.work)
    val spark = session(s"local[$nproc]", a.work)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val sparkReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = a.workload match {
      case "snapshot_load" => new SnapshotLoad(spark, a, progress)
      case "restart_tail"  => new RestartTail(spark, a, progress)
      case "curation"      => new CurationWl(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    var ok = true
    var attempted = 0L; var failed = 0L
    val passes = mutable.ArrayBuffer.empty[Pass]
    var out = Seq.empty[(String, (Double, String))]
    try {
      w.setup()
      // full passes of the timed pipeline, checked but not timed, so the
      // timed passes start past the steep part of the JIT warm-up curve
      (1 to w.warmPasses).foreach { i =>
        require(w.pass(-i).failed == 0, s"warm-up pass $i failed its output check")
      }
      // set-up as a user meets it: JVM and Spark start, inputs, warm-up
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(f"setup: $setupS%.2f s (spark ready at $sparkReadyS%.2f s)")
      if (!a.trace) {
        // a fixed pass count per run length, so every run measures the
        // same passes of the same warm-up curve
        val n = if (w.passSeconds > 0) math.max(1, math.round(a.seconds / w.passSeconds).toInt) else 1
        (0 until n).foreach { i =>
          val p = w.pass(i)
          passes += p
          System.err.println(f"pass ${i + 1}: ${p.attempted} records, ${p.recordsPerS}%.0f records/s, freshness p50 ${p.freshP50}%.0f p99 ${p.freshP99}%.0f ms")
        }
        attempted = passes.map(_.attempted).sum
        failed = passes.map(_.failed).sum
        val ps = passes.toSeq
        out = Seq(
          "records_per_s" -> (Stats.median(ps.map(_.recordsPerS)), "records/s"),
          "freshness_p50_ms" -> (Stats.median(ps.map(_.freshP50)), "ms"),
          "freshness_p99_ms" -> (Stats.median(ps.map(_.freshP99)), "ms"),
          "on_time_ratio" -> (ps.map(_.onTime).sum / ps.size, "ratio"),
          "heap_peak_mb" -> (w.heapPeakMb, "MB"),
          "setup_s" -> (setupS, "s"))
      } else {
        val (att, fl, layers) = w.traced()
        attempted = att; failed = fl
        out = Layers.All.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
        Trace.write(a.work.getParent.getParent.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl"))
      }
      ok = failed == 0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ok = false
        failed = math.max(failed + 1, attempted); attempted = math.max(attempted, failed)
    } finally w.close()
    val cpuEnd = cpuJiffies()
    val stealPct = 100.0 * (cpuEnd._1 - cpuStart._1) / math.max(1L, cpuEnd._2 - cpuStart._2)
    val env = s"""{"workload":"${a.workload}","seed":${a.seed},"trace":${a.trace},"nproc":$nproc,""" +
      f""""steal_pct":$stealPct%.2f,""" +
      s""""load1_start":$loadStart,"load1_end":${load1()},"heap_max_mb":""" +
      s"""${Runtime.getRuntime.maxMemory / 1048576},"spark_master":"local[$nproc]",""" +
      s""""pass_s":[${passes.map(p => f"${p.seconds}%.3f").mkString(",")}]}"""
    println(s"# env $env")
    val metrics = out.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": {$metrics}}""")
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(if (ok) 0 else 1)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Names and units of every per-layer metric the traced run reports; a
  * layer that does not run on a workload reports 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "cdc.provider.index_build_ms" -> "ms", "cdc.provider.index_mb" -> "MB",
    "cdc.provider.snapshot_rows_per_s" -> "rows/s", "cdc.provider.log_rows_per_s" -> "rows/s",
    "cdc.plan_ms" -> "ms", "cdc.chunks" -> "count", "cdc.fold_rows_per_s" -> "rows/s",
    "cdc.source.chunk_rows_per_s" -> "rows/s", "cdc.source.chunk_skew" -> "ratio",
    "cdc.source.log_rows_per_s" -> "rows/s", "cdc.source.shards" -> "count",
    "cdc.source.shard_skew" -> "ratio",
    "cdc.source.latest_offset_ms.p50" -> "ms", "cdc.source.latest_offset_ms.p99" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch.p50" -> "rows",
    "stream.query_planning_ms.p50" -> "ms", "stream.query_planning_ms.p99" -> "ms",
    "stream.add_batch_ms.p50" -> "ms", "stream.add_batch_ms.p99" -> "ms",
    "stream.wal_commit_ms.p50" -> "ms", "stream.commit_offsets_ms.p50" -> "ms",
    "stream.trigger_ms.p50" -> "ms", "stream.trigger_ms.p99" -> "ms",
    "stream.batch_coverage" -> "ratio",
    "streaming.sink.merge_ms.p50" -> "ms", "streaming.sink.merge_ms.p99" -> "ms",
    "streaming.sink.touched_buckets.p50" -> "count",
    "streaming.sink.write_amplification" -> "ratio", "streaming.sink.state_rows" -> "rows",
    "operators.filter_ms" -> "ms", "operators.exact_dedup_ms" -> "ms",
    "operators.jaccard_pairs_ms" -> "ms", "operators.pairs" -> "count",
    "operators.components_ms" -> "ms", "operators.cc_edges" -> "count",
    "operators.cc_local_path" -> "count", "operators.packing_ms" -> "ms",
    "operators.stage_sum_ms" -> "ms", "operators.ledger_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "generator.late_p99_ms" -> "ms", "trace.overhead_pct" -> "%",
    "scaling.speedup_vs_1core" -> "x")

  /** spark.* over one region: reset before, read after. */
  def engine(spark: SparkSession, c: EngineCounters)(body: => Unit): Map[String, Double] = {
    c.settle(); c.reset()
    body
    c.settle()
    Map("spark.jobs" -> c.jobs.get.toDouble, "spark.stages" -> c.stages.get.toDouble,
      "spark.tasks" -> c.tasks.get.toDouble, "spark.shuffle_mb" -> c.shuffleBytes.get / 1048576.0,
      "spark.spill_mb" -> c.spillBytes.get / 1048576.0,
      "spark.task_skew" -> c.taskSkew(spark.sparkContext.defaultParallelism),
      "spark.executor_cpu_s" -> c.cpuNs.get / 1e9, "spark.gc_s" -> c.gcMs.get / 1000.0)
  }

  /** stream.* and the latestOffset phase from a query's batches, plus the
    * batch spans (with their durationMs phases as children). */
  def stream(batches: Seq[Batch], regionMs: Double): Map[String, Double] = {
    def phase(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    batches.foreach { b =>
      val id = Trace.record("stream.batch", 0, b.startMs.toDouble, b.endMs.toDouble)
      var t = b.startMs.toDouble
      Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
        .foreach { k => b.durations.get(k).foreach { d =>
          Trace.record(s"stream.batch.$k", id, t, t + d); t += d } }
    }
    val trig = phase("triggerExecution")
    Map("cdc.source.latest_offset_ms.p50" -> Stats.pct(phase("latestOffset"), 0.5),
      "cdc.source.latest_offset_ms.p99" -> Stats.pct(phase("latestOffset"), 0.99),
      "stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch.p50" -> Stats.median(batches.map(_.rows.toDouble)),
      "stream.query_planning_ms.p50" -> Stats.pct(phase("queryPlanning"), 0.5),
      "stream.query_planning_ms.p99" -> Stats.pct(phase("queryPlanning"), 0.99),
      "stream.add_batch_ms.p50" -> Stats.pct(phase("addBatch"), 0.5),
      "stream.add_batch_ms.p99" -> Stats.pct(phase("addBatch"), 0.99),
      "stream.wal_commit_ms.p50" -> Stats.pct(phase("walCommit"), 0.5),
      "stream.commit_offsets_ms.p50" -> Stats.pct(phase("commitOffsets"), 0.5),
      "stream.trigger_ms.p50" -> Stats.pct(trig, 0.5),
      "stream.trigger_ms.p99" -> Stats.pct(trig, 0.99),
      "stream.batch_coverage" -> trig.sum / regionMs)
  }
}

/** One workload. `pass` runs one timed unit of work and checks its output
  * outside the timing; `traced` runs the traced variant and the layer
  * probes and returns (attempted, failed, per-layer metrics). */
abstract class Workload(val spark: SparkSession, val a: Main.Args) {
  /** Nominal length of one timed pass: a run of `--seconds` makes
    * round(seconds / passSeconds) passes. 0 = one pass lasting `--seconds`. */
  def passSeconds: Double
  /** Untimed full passes run after `setup`, before the timed region. */
  def warmPasses: Int = 0
  /** Writes the inputs; provider caches for the timed input stay cold. */
  def setup(): Unit
  def pass(i: Int): Pass
  def traced(): (Long, Long, Map[String, Double])
  var heapPeakMb = 0.0
  def close(): Unit = Main.deleteTree(a.work)

  type Pass = Main.Pass
  val Pass = Main.Pass
  def timed[T](body: => T): (T, Double) = { val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9) }
  lazy val engine: EngineCounters = { val c = new EngineCounters; spark.sparkContext.addSparkListener(c); c }

  /** Digest of a CDC state table as UpsertSink.readState returns it. */
  def stateDigest(state: String): Expected = {
    val (n, d) = UpsertSink.readState(spark, state).select("k", "v", "s").rdd
      .mapPartitions { it =>
        var n = 0L; var d = 0L
        it.foreach { r => n += 1; d += Digest.cdcRow(r.getLong(0), r.getLong(1), r.getString(2)) }
        Iterator((n, d))
      }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    Expected(n, d)
  }

  def opts(m: Map[String, String]): CdcOptions =
    CdcOptions.from(new CaseInsensitiveStringMap(m.asJava))

  /** Hard-links a generated table directory under a fresh path, so the
    * provider's path-keyed index cache starts cold for it. */
  def linkTable(from: Path, to: Path): Path = {
    val d = to.resolve(CdcGen.Table); Files.createDirectories(d)
    Files.list(from.resolve(CdcGen.Table)).iterator().asScala.foreach(f => Files.createLink(d.resolve(f.getFileName), f))
    to
  }

  /** Part files per bucket directory of the sink's state table. */
  def bucketFiles(state: String): Map[String, Set[String]] = {
    val p = Paths.get(state)
    if (!Files.isDirectory(p)) Map.empty
    else Files.list(p).iterator().asScala.filter(_.getFileName.toString.startsWith("__gb="))
      .map(b => b.getFileName.toString -> Files.list(b).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet).toMap
  }
  def parquetRows(files: Iterable[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The traced run's sink: UpsertSink.mergeBatch behind the benchmark's
    * own foreachBatch (what upsertParquet does with compaction off), with
    * a merge span and the touched-bucket / rewritten-row counts. */
  final class TracedSink(state: String, buckets: Int) {
    val merges = mutable.ArrayBuffer.empty[(Long, Double, Int, Long)] // batch, ms, touched, rows rewritten
    def start(df: DataFrame, ckpt: String, trigger: Trigger): StreamingQuery =
      df.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        val before = bucketFiles(state)
        val t0 = Clock.nowMs
        Trace.span("streaming.sink.merge")(UpsertSink.mergeBatch(b, Seq("k"), state, buckets))
        val ms = Clock.nowMs - t0
        val after = bucketFiles(state)
        val touched = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
        val rewritten = parquetRows(touched.toSeq.flatMap(k =>
          after.getOrElse(k, Set.empty).map(f => Paths.get(state, k, f))))
        merges.synchronized { merges += ((id, ms, touched.size, rewritten)) }
        ()
      }.option("checkpointLocation", ckpt).trigger(trigger).start()
    def metrics(batches: Seq[Batch]): Map[String, Double] = {
      val ms = merges.toSeq
      val rowsIn = batches.map(_.rows).sum
      val all = bucketFiles(state).toSeq.flatMap { case (k, fs) => fs.map(f => Paths.get(state, k, f)) }
      Map("streaming.sink.merge_ms.p50" -> Stats.pct(ms.map(_._2), 0.5),
        "streaming.sink.merge_ms.p99" -> Stats.pct(ms.map(_._2), 0.99),
        "streaming.sink.touched_buckets.p50" -> Stats.median(ms.map(_._3.toDouble)),
        "streaming.sink.write_amplification" -> ms.map(_._4).sum.toDouble / math.max(1L, rowsIn),
        "streaming.sink.state_rows" -> parquetRows(all).toDouble)
    }
  }

  /** cdc.provider metrics: a fresh provider on a cold path; index build =
    * the first keyBounds + currentOffset; memory = post-GC heap delta while
    * the provider is held; rows/s = draining snapshotBase / log. */
  def providerProbe(p: ChangeLogProvider, t: TableId, hasSnapshot: Boolean): Map[String, Double] = {
    val h0 = Main.heapUsedAfterGcMb()
    val (maxOff, buildS) = timed(Trace.span("cdc.provider.index_build") {
      if (hasSnapshot) p.keyBounds(t)
      p.currentOffset
    })
    val mb = Main.heapUsedAfterGcMb() - h0
    val (snapRows, snapS) =
      if (!hasSnapshot) (0L, 1.0)
      else timed(Trace.span("cdc.provider.snapshot")(p.snapshotBase(t, SnapshotSplit(t, 0, None, None))._2.size.toLong))
    val (logRows, logS) = timed(Trace.span("cdc.provider.log")(p.log(t, 0L, maxOff).size.toLong))
    Map("cdc.provider.index_build_ms" -> buildS * 1000, "cdc.provider.index_mb" -> mb,
      "cdc.provider.snapshot_rows_per_s" -> snapRows / snapS,
      "cdc.provider.log_rows_per_s" -> logRows / logS)
  }

  def drain(r: org.apache.spark.sql.connector.read.PartitionReader[_]): Long = {
    var n = 0L
    try while (r.next()) n += 1 finally r.close()
    n
  }
}

// ---------------------------------------------------------------------------

/** snapshot_load: the first replica of a JSONL file-layout table. */
final class SnapshotLoad(spark0: SparkSession, a0: Main.Args, progress: ProgressLog)
    extends Workload(spark0, a0) {
  // fixed workload definition: a later change may not move these
  val SnapshotRows = 40000
  val LogEvents = 20000
  val ChunkSize = 4000
  val ChunksPerCohort = 8
  val Buckets = 32
  override def passSeconds = 4.0
  override def warmPasses = 3
  private val input = a.work.resolve("input")
  private var expected: Expected = _

  def sourceOptions(root: Path): Map[String, String] = Map(
    "path" -> root.toString, "metadata.columns" -> "op_offset,row_kind",
    "scan.startup.mode" -> "initial",
    "scan.incremental.snapshot.chunk.size" -> ChunkSize.toString,
    "scan.snapshot.max-chunks-per-batch" -> ChunksPerCohort.toString)

  def setup(): Unit =
    expected = CdcGen.snapshotLoad(a.seed, SnapshotRows, LogEvents, input)

  /** One AvailableNow load of `from` (hard-linked to a cold path). */
  def load(from: Path, tag: String, traced: Option[TracedSink] = None): (String, Seq[Batch], Double, Double) = {
    val root = linkTable(from, a.work.resolve(s"$tag-src"))
    val state = a.work.resolve(s"$tag-state").toString
    val ckpt = a.work.resolve(s"$tag-ckpt").toString
    val df = spark.readStream.format("cdc-log").options(sourceOptions(root)).load()
    val t0 = Clock.nowMs
    val q = traced match {
      case None => UpsertSink.upsertParquet(df, Seq("k"), state, numBuckets = Buckets)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      case Some(s) => s.start(df, ckpt, Trigger.AvailableNow())
    }
    q.awaitTermination()
    val t1 = Clock.nowMs
    q.exception.foreach(e => throw e)
    progress.awaitTerminated(q.id)
    (state, progress.of(q.id), t0, t1)
  }

  private def check(state: String): Boolean = {
    val got = stateDigest(state)
    if (got != expected) System.err.println(s"snapshot_load: state $got != expected $expected")
    got == expected
  }

  def pass(i: Int): Pass = {
    val records = (SnapshotRows + LogEvents).toLong
    val (state, batches, t0, t1) = load(input, s"pass$i")
    val fresh = batches.map(b => (b.endMs - t0, b.rows))
    val ok = check(state)
    if (i == 0) heapPeakMb = Main.heapUsedAfterGcMb()
    Seq("src", "state", "ckpt").foreach(s => Main.deleteTree(a.work.resolve(s"pass$i-$s")))
    val total = fresh.map(_._2).sum.toDouble
    val secs = (t1 - t0) / 1000
    Pass(records, secs, records / secs, Stats.weightedPct(fresh, 0.5), Stats.weightedPct(fresh, 0.99),
      fresh.filter(_._1 <= 60000).map(_._2).sum / math.max(1.0, total), if (ok) 0 else records)
  }

  def traced(): (Long, Long, Map[String, Double]) = {
    val m = mutable.Map.empty[String, Double]
    val plain = pass(0)
    Trace.on = true; Trace.traceId = s"snapshot_load-${a.seed}"
    val sink = new TracedSink(a.work.resolve("traced-state").toString, Buckets)
    var res: (String, Seq[Batch], Double, Double) = null
    m ++= Layers.engine(spark, engine) {
      res = Trace.span("workload.snapshot_load")(load(input, "traced", Some(sink)))
    }
    val (state, batches, t0, t1) = res
    val ok = check(state)
    m ++= Layers.stream(batches, t1 - t0)
    m ++= sink.metrics(batches)
    m("trace.overhead_pct") = ((t1 - t0) / 1000 / plain.seconds - 1) * 100

    // layer probes: direct calls into the provider, planner, fold and readers
    val probeRoot = linkTable(input, a.work.resolve("probe-src"))
    val o = opts(sourceOptions(probeRoot))
    val p = new FileChangeLogProvider(probeRoot.toString)
    val t = TableId("db", "t")
    m ++= providerProbe(p, t, hasSnapshot = true)
    val tm = p.tables.head
    val maxOff = p.currentOffset
    val (splits, planS) = timed(Trace.span("cdc.plan")(CdcPlanner.planSplits(o, p, tm)))
    m("cdc.plan_ms") = planS * 1000; m("cdc.chunks") = splits.size.toDouble
    val keyIdx = tm.schema.fieldIndex("k")
    val (folded, foldS) = timed(Trace.span("cdc.fold")(splits.map { sp =>
      graft.cdc.Normalizer.normalize(p.snapshotBase(t, sp)._2,
        p.logForRange(t, 0L, maxOff, sp).filter(r => sp.contains(ChunkKey.of(
          (if (r.op == graft.cdc.ChangeOp.Delete) r.before else r.after)(keyIdx)))),
        (r: Array[Any]) => r(keyIdx)).size.toLong
    }.sum))
    m("cdc.fold_rows_per_s") = folded / foldS
    val produced = CdcOptions.producedSchema(tm.schema, o.metadataCols)
    val chunkMs = splits.map { sp =>
      val part = ChunkPartition(o, t, tm.schema, tm.primaryKey, sp.start, sp.end, maxOff)
      val (n, s) = timed(Trace.span("cdc.source.chunk")(drain(new ChunkReader(part, produced))))
      (n, s * 1000)
    }
    m("cdc.source.chunk_rows_per_s") = chunkMs.map(_._1).sum / (chunkMs.map(_._2).sum / 1000)
    m("cdc.source.chunk_skew") = chunkMs.map(_._2).max / Stats.median(chunkMs.map(_._2))
    val (logRows, logS) = timed(Trace.span("cdc.source.log")(drain(new LogReader(
      LogPartition(o, t, tm.schema, tm.primaryKey, 0L, maxOff), produced))))
    m("cdc.source.log_rows_per_s") = logRows / logS
    m("cdc.source.shards") = 1

    // scaling: the same load on a quarter-size input at local[nproc] and local[1]
    val small = a.work.resolve("scale-in")
    val smallExp = CdcGen.snapshotLoad(a.seed + 104729, SnapshotRows / 4, LogEvents / 4, small)
    val (rN, sN) = timed(load(small, "scaleN"))
    val okN = stateDigest(rN._1) == smallExp
    spark.stop()
    val one = Main.session("local[1]", a.work)
    one.streams.addListener(progress)
    val w1 = new SnapshotLoad(one, a, progress)
    val (r1, s1) = timed(w1.load(small, "scale1"))
    val ok1 = w1.stateDigest(r1._1) == smallExp
    m("scaling.speedup_vs_1core") = s1 / sN
    one.stop()
    val records = (SnapshotRows + LogEvents).toLong
    (2 * records, plain.failed + (if (ok) 0 else records) + (if (okN && ok1) 0 else 1), m.toMap)
  }
}

// ---------------------------------------------------------------------------

/** restart_tail: a consumer restarting on a Debezium-JSON spool with a
  * backlog while a separate writer process keeps appending at a fixed
  * open-loop rate. */
final class RestartTail(spark0: SparkSession, a0: Main.Args, progress: ProgressLog)
    extends Workload(spark0, a0) {
  val Keys = 200000
  val Backlog = 30000
  /** Tail rate, events/s: fixed from a seed measurement with headroom. */
  val Rate = 1000
  val Buckets = 8
  val SettleMs = 1000.0
  val LimitMs = 10000.0
  val DrainTimeoutMs = 60000L
  override def passSeconds = 0.0
  private val input = a.work.resolve("input")
  private val tailEvents = Rate * a.seconds

  def sourceOptions(root: Path): Map[String, String] = Map(
    "path" -> root.toString, "path.format" -> "debezium-json",
    "metadata.columns" -> "op_offset,row_kind", "scan.startup.mode" -> "earliest",
    "scan.log.catchup.shards" -> Main.nproc.toString)

  private var writer: Process = _
  private val writers = mutable.ArrayBuffer.empty[Process]

  def setup(): Unit = {
    CdcGen.tailSpool(a.seed, Keys, Backlog, input)
    // the writer process starts (and renders its lines) during the warm-up
    writer = startWriter(a.work.resolve("pass0-src"))
    // warm-up: drain a copy of the backlog alone, and check it
    val q = start(freshSpool(input, a.work.resolve("warm-src")), "warm", None)
    require(awaitPos(q, Backlog, Clock.nowMs + 120000), "warm-up did not catch up")
    stop(q)
    require(stateDigest(a.work.resolve("warm-state").toString) == CdcGen.tailExpected(a.seed, Keys, Backlog),
      "warm-up state mismatch")
  }

  /** Copies the pristine backlog spool to a fresh path the writer appends to. */
  private def freshSpool(from: Path, to: Path): Path = {
    val d = to.resolve(CdcGen.Table); Files.createDirectories(d)
    Files.list(from.resolve(CdcGen.Table)).iterator().asScala.foreach(f =>
      Files.copy(f, d.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    to
  }

  private def startWriter(root: Path): Process = {
    freshSpool(input, root)
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(javaBin, "-Xmx512m", "-cp", System.getProperty("java.class.path"),
      "cdcbench.TailWriter", a.seed.toString, Keys.toString, Backlog.toString, tailEvents.toString,
      Rate.toString, root.resolve(CdcGen.Table).resolve("events.jsonl").toString,
      root.resolve("writer-report.json").toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    writers += p
    val ready = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream)).readLine()
    require(ready == "ready", s"tail writer did not start: $ready")
    p
  }

  private def start(root: Path, tag: String, traced: Option[TracedSink]): StreamingQuery = {
    val df = spark.readStream.format("cdc-log").options(sourceOptions(root)).load()
    val state = a.work.resolve(s"$tag-state").toString
    val ckpt = a.work.resolve(s"$tag-ckpt").toString
    traced match {
      case None => UpsertSink.upsertParquet(df, Seq("k"), state, numBuckets = Buckets)
        .option("checkpointLocation", ckpt).start()
      case Some(s) => s.start(df, ckpt, Trigger.ProcessingTime(0L))
    }
  }

  /** Waits until the query has committed through `logPos`; false on timeout. */
  private def awaitPos(q: StreamingQuery, logPos: Long, deadlineMs: Double): Boolean = {
    while (Clock.nowMs < deadlineMs && q.isActive && !progress.of(q.id).exists(_.endLogPos >= logPos))
      Thread.sleep(20)
    q.exception.foreach(e => throw e)
    progress.of(q.id).exists(_.endLogPos >= logPos)
  }

  private def stop(q: StreamingQuery): Seq[Batch] = { q.stop(); progress.awaitTerminated(q.id); progress.of(q.id) }

  private var lateP99 = 0.0

  /** The timed pass: catch up on the backlog while the writer appends for
    * `seconds`, then drain (untimed) and check the state. */
  def run(tag: String, root: Path, w: Process, traced: Option[TracedSink]): (Pass, Seq[Batch], Double, Double) = {
    val q = start(root, tag, traced)
    val t0 = Clock.nowMs
    val t0Ms = math.round(t0)
    w.getOutputStream.write(s"go $t0Ms\n".getBytes); w.getOutputStream.flush()
    val caughtUp = awaitPos(q, Backlog, t0 + DrainTimeoutMs + a.seconds * 1000)
    w.waitFor()
    val tEnd = Clock.nowMs
    val report = Files.readString(root.resolve("writer-report.json"))
    lateP99 = "\"late_p99_ms\":([0-9.Ee-]+)".r.findFirstMatchIn(report).map(_.group(1).toDouble).getOrElse(0.0)
    val last = Backlog.toLong + tailEvents
    awaitPos(q, last, Clock.nowMs + DrainTimeoutMs)
    val batches = stop(q)
    // the provider indexes stay cached after the stop; in-flight batches do not
    if (tag.startsWith("pass")) heapPeakMb = Main.heapUsedAfterGcMb()
    val sorted = batches.sortBy(_.endLogPos)
    val ends = sorted.map(_.endLogPos).toArray
    def durableAt(off: Long): Double = {
      val i = java.util.Arrays.binarySearch(ends, off)
      val j = if (i >= 0) { var x = i; while (x > 0 && ends(x - 1) == off) x -= 1; x } else -i - 1
      if (j < ends.length) sorted(j).endMs.toDouble else Double.NaN
    }
    val catchupEnd = if (caughtUp) durableAt(Backlog) else Double.NaN
    val period = 1000.0 / Rate
    val lat = (0 until tailEvents).map(i => durableAt(Backlog + 1L + i) - (t0Ms + i * period))
    val counted = (0 until tailEvents).filter(i => t0Ms + i * period >= catchupEnd + SettleMs).map(lat)
    val lost = lat.count(_.isNaN).toLong
    val expected = CdcGen.tailExpected(a.seed, Keys, last)
    val got = stateDigest(a.work.resolve(s"$tag-state").toString)
    if (got != expected) System.err.println(s"restart_tail: state $got != expected $expected")
    if (lost > 0) System.err.println(s"restart_tail: $lost tail events not durable")
    if (counted.isEmpty) System.err.println("restart_tail: no event due after catch-up + settle")
    val failed = (if (got != expected) last else lost) + (if (counted.isEmpty) 1 else 0)
    val catchupS = (catchupEnd - t0) / 1000
    (Pass(last, catchupS, Backlog / catchupS, Stats.pct(counted, 0.5), Stats.pct(counted, 0.99),
      lat.count(l => !l.isNaN && l <= LimitMs).toDouble / tailEvents, failed),
      batches, t0, tEnd)
  }

  def pass(i: Int): Pass = run("pass0", a.work.resolve("pass0-src"), writer, None)._1

  def traced(): (Long, Long, Map[String, Double]) = {
    val m = mutable.Map.empty[String, Double]
    val plain = pass(0)
    val root = a.work.resolve("traced-src")
    val w2 = startWriter(root)
    Trace.on = true; Trace.traceId = s"restart_tail-${a.seed}"
    val sink = new TracedSink(a.work.resolve("traced-state").toString, Buckets)
    var res: (Pass, Seq[Batch], Double, Double) = null
    m ++= Layers.engine(spark, engine) {
      res = Trace.span("workload.restart_tail")(run("traced", root, w2, Some(sink)))
    }
    val (tp, batches, t0, tEnd) = res
    val inRegion = batches.filter(_.startMs <= tEnd)
    m ++= Layers.stream(inRegion, tEnd - t0)
    m ++= sink.metrics(batches)
    m("generator.late_p99_ms") = lateP99
    // overhead on the catch-up rate, traced vs untraced pass of this run
    m("trace.overhead_pct") = (tp.seconds / plain.seconds - 1) * 100

    val probeRoot = freshSpool(input, a.work.resolve("probe-src"))
    val o = opts(sourceOptions(probeRoot))
    val p = new DebeziumJsonChangeLogProvider(probeRoot.toString)
    val t = TableId("db", "t")
    m ++= providerProbe(p, t, hasSnapshot = false)
    val tm = p.tables.head
    val produced = CdcOptions.producedSchema(tm.schema, o.metadataCols)
    val bounds = p.logShardBoundaries(t, 0L, Backlog, Main.nproc)
    val edges = None +: bounds.map(Some(_)) :+ None
    val shardMs = edges.sliding(2).zipWithIndex.map { case (Seq(s, e), i) =>
      val sp = SnapshotSplit(t, i, s, e)
      val part = LogPartition(o, t, tm.schema, tm.primaryKey, 0L, Backlog, shard = Some(sp))
      val (n, secs) = timed(Trace.span("cdc.source.shard")(drain(new LogReader(part, produced))))
      (n, secs * 1000)
    }.toSeq
    m("cdc.source.shards") = shardMs.size.toDouble
    m("cdc.source.log_rows_per_s") = shardMs.map(_._1).sum / (shardMs.map(_._2).sum / 1000)
    m("cdc.source.shard_skew") = shardMs.map(_._2).max / Stats.median(shardMs.map(_._2))
    (2L * (Backlog + tailEvents), plain.failed + tp.failed, m.toMap)
  }

  override def close(): Unit = {
    writers.foreach(p => if (p.isAlive) { p.destroy(); p.waitFor() })
    super.close()
  }
}

// ---------------------------------------------------------------------------

/** curation: today's crawl through Curation.incrementalCurationLedger
  * against yesterday's kept-hash manifest. */
final class CurationWl(spark0: SparkSession, a0: Main.Args) extends Workload(spark0, a0) {
  val Docs = 10000
  val YesterdayDocs = 1000
  override def passSeconds = 3.0
  override def warmPasses = 4
  private var corpus: CorpusGen.Corpus = _
  private val DocSchema = "doc_id BIGINT, text STRING"

  private val todayPath = a.work.resolve("input").resolve("today.jsonl").toString
  private val yesterdayPath = a.work.resolve("input").resolve("yesterday.jsonl").toString
  private val manifestPath = a.work.resolve("input").resolve("manifest").toString

  /** Curates yesterday and writes its kept-hash manifest; false if any of
    * yesterday's documents (all clean and unique) was not kept. */
  private def manifest(): Boolean = {
    val ydocs = spark.read.schema(DocSchema).json(yesterdayPath)
    val led = Curation.curationLedger(ydocs, "doc_id", "text")
    val kept = led.filter(col("verdict") === "kept").select("doc_id")
    ydocs.join(kept, "doc_id").select(contentHash(col("text")).as("h"))
      .write.mode("overwrite").parquet(manifestPath)
    val ok = kept.count() == YesterdayDocs
    led.unpersist()
    ok
  }

  def setup(): Unit = {
    corpus = CorpusGen.generate(a.seed, Docs, YesterdayDocs)
    CorpusGen.writeDocs(corpus.today.iterator.map(d => (d.id, d.text)), Paths.get(todayPath))
    CorpusGen.writeDocs(corpus.yesterday.iterator.zipWithIndex.map { case (s, i) => (i.toLong, s) },
      Paths.get(yesterdayPath))
    require(manifest(), "yesterday's curation did not keep every document")
  }

  private def ledger(): DataFrame =
    Curation.incrementalCurationLedger(spark.read.schema(DocSchema).json(todayPath),
      spark.read.parquet(manifestPath), "doc_id", "text")

  /** Wrong documents: per-document verdict, token count and pack id
    * against the generator's expectation, plus the per-verdict counts. */
  def check(led: DataFrame, exp: Array[CorpusGen.Doc]): Long = {
    val rows = led.select("doc_id", "verdict", "n_tokens", "pack_id").collect()
    val byId = exp.map(d => d.id -> d).toMap
    val wrong = rows.count { r =>
      val d = byId.get(r.getLong(0))
      val pack = if (r.isNullAt(3)) -1L else r.getLong(3)
      !d.exists(d => d.verdict == r.getString(1) && d.nTokens == r.getLong(2) && d.packId == pack)
    } + math.abs(exp.length - rows.length)
    val gotCounts = rows.groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
    val expCounts = exp.groupBy(_.verdict).map { case (k, v) => k -> v.length }
    if (wrong > 0 || gotCounts != expCounts)
      System.err.println(s"curation: $wrong wrong documents; verdicts $gotCounts vs planted $expCounts")
    if (gotCounts != expCounts) math.max(wrong, 1L) else wrong.toLong
  }


  def pass(i: Int): Pass = {
    val (led, s) = timed(ledger())
    val bad = check(led, corpus.today)
    led.unpersist(true)
    if (i == 0) heapPeakMb = Main.heapUsedAfterGcMb()
    Pass(Docs, s, Docs / s, s * 1000, s * 1000, if (s <= 60) 1.0 else 0.0, bad)
  }

  def traced(): (Long, Long, Map[String, Double]) = {
    val m = mutable.Map.empty[String, Double]
    val plain = pass(0)
    Trace.on = true; Trace.traceId = s"curation-${a.seed}"
    var led: DataFrame = null
    val (_, ledS) = timed(m ++= Layers.engine(spark, engine) {
      led = Trace.span("workload.curation")(ledger())
    })
    val bad = check(led, corpus.today)
    led.unpersist()
    m("operators.ledger_ms") = ledS * 1000
    m("trace.overhead_pct") = (ledS / plain.seconds - 1) * 100

    // stage by stage, each forced by a count, in funnel order
    def stage[T](name: String)(body: => T): (T, Double) = timed(Trace.span(name)(body))
    val docs = spark.read.schema(DocSchema).json(todayPath)
    val (s2, fS) = stage("operators.filter") {
      val b = docs.select(col("doc_id"), col("text"), qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"), contentHash(col("text")).as("h"))
        .filter(col("quality") >= 0.2 && col("lang_pred") === "en")
        .join(spark.read.parquet(manifestPath), Seq("h"), "left_anti").persist()
      b.count(); b
    }
    val (s3, eS) = stage("operators.exact_dedup") {
      val keepers = Dedup.exactGroups(s2, "doc_id", "text").select(col("keeper").as("doc_id"))
      val s = s2.join(keepers, "doc_id").select("doc_id", "text").persist()
      s.count(); s
    }
    val (pairs, jS) = stage("operators.jaccard_pairs") {
      val p = Dedup.ngramJaccardPairs(s3, "doc_id", "text", n = 3, minJaccard = 0.3).persist()
      p.count(); p
    }
    val nPairs = pairs.count()
    val (comp, cS) = stage("operators.components") {
      val c = ConnectedComponents.components(pairs, "id_a", "id_b").persist()
      c.count(); c
    }
    val (_, pS) = stage("operators.packing") {
      val kept = s3.join(comp.filter(col("node") =!= col("component")).select(col("node").as("doc_id")),
        Seq("doc_id"), "left_anti")
      Packing.sequentialPacks(kept, "doc_id", "text", CorpusGen.PackBudget).count()
    }
    Seq(s2, s3, pairs, comp).foreach(_.unpersist())
    m("operators.filter_ms") = fS * 1000; m("operators.exact_dedup_ms") = eS * 1000
    m("operators.jaccard_pairs_ms") = jS * 1000; m("operators.components_ms") = cS * 1000
    m("operators.packing_ms") = pS * 1000
    m("operators.pairs") = nPairs.toDouble; m("operators.cc_edges") = nPairs.toDouble
    m("operators.cc_local_path") = if (nPairs <= 200000) 1.0 else 0.0
    m("operators.stage_sum_ms") = (fS + eS + jS + cS + pS) * 1000
    (2L * Docs, plain.failed + bad, m.toMap)
  }
}
