package graft.tools

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The profiling tool: where does a query's wall-clock go? For each named
  * query, runs it once untimed (codegen/JIT warm-up), then once
  * instrumented, and writes `<outDir>/<name>_<suffix>.txt` holding
  *   - the run's job/driver-gap/task aggregates ([[PlanDump.JobAgg]]) and
  *     its 12 most expensive stages by Σ task time,
  *   - per-micro-batch durations + state-operator sums for streaming
  *     gates (BatchProfListener — register it via
  *     `-Dspark.sql.streaming.streamingQueryListeners=graft.tools.BatchProfListener`
  *     so cloned stream sessions report too),
  *   - the formatted physical plan of the query's returned frame (for
  *     batch queries this IS the query; for stream gates the engine work
  *     happens inside the drained stream, so the choreography numbers
  *     above are the load-bearing evidence and the plan shows the
  *     post-drain projection).
  *
  * Usage: runMain graft.tools.PlanDump q89_stream_temporal_join ...
  * Env: SPARK_GRAFT_PLANDUMP_DIR (default plans/r18),
  *      SPARK_GRAFT_PLANDUMP_SUFFIX (default after), SPARK_GRAFT_SF_DIR,
  *      SPARK_GRAFT_CPUS. */
object PlanDump {

  /** Aggregates one run's jobs, stages and tasks. The job-covered time is
    * the union of the job intervals; wall time minus it is driver-only time
    * (planning, analysis, commit, listing), invisible to stage metrics. */
  final class JobAgg extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]() // id -> (start, end)
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskTime = new LongAdder // ms
    val shufReadB = new LongAdder
    val shufWriteB = new LongAdder
    val stageTime = new ConcurrentHashMap[String, AtomicLong]() // name -> Σ task ms
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.put(j.jobId, (j.time, -1L))
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = Option(jobs.get(j.jobId)).map(_._1).getOrElse(j.time)
      jobs.put(j.jobId, (s, j.time))
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = sc.stageInfo
      stageTime.computeIfAbsent(i.name.take(60), _ => new AtomicLong)
        .addAndGet(i.taskMetrics.executorRunTime)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTime.add(m.executorRunTime)
        shufReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    /** Union length of [start,end] job intervals, ms. */
    def jobCoveredMs: Long = {
      import scala.jdk.CollectionConverters._
      val iv = jobs.values.asScala.toSeq.filter(_._2 > 0).sortBy(_._1)
      var cov = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (curE < 0) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { cov += curE - curS; curS = s; curE = e }
      }
      if (curE >= 0) cov += curE - curS
      cov
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_DIR", "plans/r18")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_SUFFIX", "after")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case t: Throwable =>
        println(s"WARMUP FAILED $name: $t") }
      spark.catalog.clearCache(); System.gc()
      // drain any warm-up stream stats
      BatchProfListener.reset()
      val agg = new JobAgg
      spark.sparkContext.addSparkListener(agg)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val wallMs = (System.nanoTime() - t0) / 1000000
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(agg)
      val pw = new PrintWriter(new File(outDir, s"${name}_$suffix.txt"))
      try {
        pw.println(s"== $name ($suffix) sf=$sfDir cpus=$cpus rows=$n ==")
        pw.println(f"wall=${wallMs / 1000.0}%.2fs jobs=${agg.jobs.size} " +
          f"stages=${agg.stages.get} tasks=${agg.tasks.get} " +
          f"jobCovered=${agg.jobCoveredMs / 1000.0}%.2fs " +
          f"driverGap=${(wallMs - agg.jobCoveredMs) / 1000.0}%.2fs " +
          f"taskTime=${agg.taskTime.sum / 1000.0}%.2fs " +
          f"shufR=${agg.shufReadB.sum / 1048576.0}%.1fMB " +
          f"shufW=${agg.shufWriteB.sum / 1048576.0}%.1fMB")
        import scala.jdk.CollectionConverters._
        agg.stageTime.asScala.toSeq.sortBy(-_._2.get).take(12).foreach { case (n, t) =>
          pw.println(f"  STAGE ${t.get / 1000.0}%8.2fs  $n")
        }
        if (BatchProfListener.batches.get > 0) {
          val parts = BatchProfListener.sums.asScala.toSeq.sortBy(-_._2.get)
            .map { case (k, v) => f"$k=${v.get / 1000.0}%.2fs" }.mkString(" ")
          pw.println(s"STREAM batches=${BatchProfListener.batches.get} $parts " +
            f"stateOpMs=${BatchProfListener.stateMs.get / 1000.0}%.2fs " +
            s"stateRows=${BatchProfListener.stateRows.get}")
          pw.println(s"STATE per batch ${BatchProfListener.stateOps.asScala.mkString(" ")}")
        }
        pw.println()
        pw.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } finally pw.close()
      spark.catalog.clearCache(); System.gc()
      println(s"DUMPED $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
