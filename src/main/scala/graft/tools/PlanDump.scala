package graft.tools

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** Evidence dumper for the optimization rounds: for each named query,
  * runs it once untimed (codegen/JIT warm-up), then once instrumented,
  * and writes `<outDir>/<name>_<suffix>.txt` holding
  *   - the run's job/driver-gap/task aggregates (ProfileJobs listener),
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
      BatchProfListener.sums.clear(); BatchProfListener.batches.set(0)
      BatchProfListener.stateMs.set(0); BatchProfListener.stateRows.set(0)
      BatchProfListener.stateOps.clear()
      val agg = new ProfileJobs.Agg
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
        if (BatchProfListener.batches.get > 0) {
          import scala.jdk.CollectionConverters._
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
