package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Stats {
  /** Nearest-rank percentile of `xs` (q in [0,1]); 0 for an empty input. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1))) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  /** Percentile of values weighted by counts. */
  def weightedPct(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) 0.0
    else {
      val target = math.ceil(q * total).toLong
      var acc = 0L
      s.find { case (_, n) => acc += n; acc >= target }.map(_._1).getOrElse(s.last._1)
    }
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * from the benchmark's code line up with Spark's progress timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder, written out when the run ends. Off in the
  * untraced run, where `span` only runs its body. */
object Trace {
  final case class Span(id: Int, parent: Int, trace: String, name: String, start: Double, end: Double) {
    def ms: Double = end - start
  }
  @volatile var on = false
  @volatile var traceId = ""
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet(); val parent = current.get
      current.set(id)
      val start = Clock.nowMs
      try body
      finally { spans.add(Span(id, parent, traceId, name, start, Clock.nowMs)); current.set(parent) }
    }

  /** A span whose interval is known after the fact (micro-batch phases). */
  def record(name: String, parent: Int, start: Double, end: Double): Int =
    if (!on) 0
    else { val id = ids.incrementAndGet(); spans.add(Span(id, parent, traceId, name, start, end)); id }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    s.ms - covered
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = CdcGen.writer(path)
    try all.foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f}""")
      w.write('\n')
    } finally w.close()
  }
}

/** One completed micro-batch as Spark's progress reports it. `endMs` is
  * progress.timestamp + durationMs.triggerExecution; `endLogPos` is the
  * committed end offset's log position. */
final case class Batch(id: Long, startMs: Long, endMs: Long, rows: Long, endLogPos: Long,
    durations: Map[String, Long])

/** Collects progress per query; registered on every run (freshness needs
  * batch-end times). Only batches that ran (have an addBatch phase) count. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = new ConcurrentHashMap[java.util.UUID, ArrayBuffer[Batch]]()
  private val done = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()
  private def latch(id: java.util.UUID) = done.computeIfAbsent(id, _ => new CountDownLatch(1))

  override def onQueryStarted(e: QueryStartedEvent): Unit = { latch(e.id); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = latch(e.id).countDown()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = Option(p.sources.headOption.map(_.endOffset).orNull)
        .map(j => graft.cdc.source.CdcOffset.parse(j).logPos).getOrElse(-1L)
      val b = Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, end, d)
      val buf = batches.computeIfAbsent(p.id, _ => ArrayBuffer.empty[Batch])
      buf.synchronized { buf += b }
    }
  }
  def of(id: java.util.UUID): Seq[Batch] =
    Option(batches.get(id)).map(b => b.synchronized(b.toList)).getOrElse(Nil).sortBy(_.id)
  /** Blocks until the terminated event arrives: every progress event of
    * the query has then been delivered. */
  def awaitTerminated(id: java.util.UUID): Unit = { latch(id).await(60, TimeUnit.SECONDS); () }
}

/** Spark-engine counters over one traced region. */
final class EngineCounters extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
  val cpuNs = new AtomicLong; val gcMs = new AtomicLong
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  @volatile private var lastEvent = System.nanoTime()

  def reset(): Unit = {
    Seq(jobs, stages, tasks, shuffleBytes, spillBytes, cpuNs, gcMs).foreach(_.set(0)); taskMs.clear()
  }
  /** Waits until no listener event arrived for 300 ms (the bus is async). */
  def settle(): Unit = while ((System.nanoTime() - lastEvent) < 300000000L) Thread.sleep(50)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); lastEvent = System.nanoTime() }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); lastEvent = System.nanoTime() }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime); gcMs.addAndGet(m.jvmGCTime)
    }
    taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  }
  /** Worst max/median task time over stages with at least `minTasks` tasks
    * and a slowest task of at least 50 ms (tiny stages are all noise). */
  def taskSkew(minTasks: Int): Double = {
    val r = taskMs.values.asScala.map(_.asScala.map(_.toDouble).toSeq)
      .filter(ts => ts.size >= minTasks && ts.max >= 50)
      .map(ts => ts.max / math.max(1.0, Stats.median(ts)))
    if (r.isEmpty) 1.0 else r.max
  }
}
