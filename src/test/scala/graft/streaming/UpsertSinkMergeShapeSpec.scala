package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Pins the Spark-side shape of a [[UpsertSink.mergeBatch]] on the shared
  * `local[4]` session (shuffle partitions 4): buckets are merged and
  * written in parallel, one task per group of buckets, one file per
  * bucket, and a merge into an empty target skips the touched-bucket probe. */
class UpsertSinkMergeShapeSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")
  private val Buckets = 16
  private val JobGroupKey = "spark.jobGroup.id"

  private def batchOf(keys: Seq[Long], offset: Long) =
    keys.map(k => (k, k.toDouble, "c", offset + k, "+I")).toDF(cols: _*)

  /** Three keys from each of the buckets `bs`, so a batch of them touches
    * exactly those buckets. */
  private def keysIn(bs: Set[Int]): Seq[Long] =
    spark.range(1, 10000).select($"id", pmod(hash($"id"), lit(Buckets)).as("b"))
      .as[(Long, Int)].collect().toSeq.filter(r => bs(r._2))
      .groupBy(_._2).values.flatMap(_.map(_._1).sorted.take(3)).toSeq.sorted

  /** Runs `body` and returns, per Spark job it ran (in order), the job's
    * call site (its final stage's name) and the task count of that stage. Jobs are matched by
    * job group, and a marker job flushes the asynchronous listener bus
    * before reading. */
  private def jobsOf(body: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val group = s"merge-shape-${java.util.UUID.randomUUID}"
    val finalStage = new ConcurrentHashMap[Int, (String, Int)]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach {
          case `group` =>
            val last = j.stageInfos.maxBy(_.stageId)
            finalStage.put(j.jobId, (last.name, last.stageId))
          case g if g == s"$group-marker" => markerJob.set(j.jobId)
          case _ => ()
        }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageTasks.put(s.stageInfo.stageId, s.stageInfo.numTasks)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerJob.get) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "merge under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
    } finally sc.removeSparkListener(listener)
    finalStage.asScala.toSeq.sortBy(_._1).map { case (_, (site, stage)) => (site, stageTasks.get(stage)) }
  }

  private def parquetFiles(out: String): Map[Int, Int] = {
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(out)).map(_.getPath).filter(_.getName.startsWith("__gb="))
      .map(d => d.getName.stripPrefix("__gb=").toInt ->
        fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet"))).toMap
  }

  test("a merge writes one file per touched bucket, from min(touched, cores) write tasks") {
    val out = java.nio.file.Files.createTempDirectory("graft_shape_").resolve("state").toString
    // empty target: no probe, every bucket may be written — 4 write tasks
    val first = jobsOf(UpsertSink.mergeBatch(batchOf(1L to 400L, 0L), Seq("k"), out, Buckets))
    assert(first.last._2 === 4)
    assert(parquetFiles(out) === (0 until Buckets).map(_ -> 1).toMap)
    // existing state: the write runs one task per touched bucket up to 4
    val touchedSets = Seq(Set(3, 11), Set(0, 5, 7, 9, 12, 15))
    touchedSets.zipWithIndex.foreach { case (touched, i) =>
      val before = parquetFiles(out)
      val tasks = jobsOf(UpsertSink.mergeBatch(
        batchOf(keysIn(touched), 1000L * (i + 1)), Seq("k"), out, Buckets))
      assert(tasks.last._2 === math.min(touched.size, 4), s"touched $touched")
      assert(parquetFiles(out) === before, s"touched $touched: every bucket still holds one file")
    }
    val added = touchedSets.flatMap(keysIn).distinct.count(_ > 400L)
    assert(UpsertSink.readState(spark, out).count() === 400L + added)
  }

  test("a merge into an empty target runs no probe; into existing state the probe is one job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shape_jobs_")
    val batch = batchOf(1L to 100L, 0L)
    val empty = jobsOf(UpsertSink.mergeBatch(batch, Seq("k"), tmp.resolve("a").toString, Buckets))
    val existing = tmp.resolve("b").toString
    UpsertSink.mergeBatch(batchOf(50L to 150L, 500L), Seq("k"), existing, Buckets)
    val warm = jobsOf(UpsertSink.mergeBatch(batch, Seq("k"), existing, Buckets))
    // the probe is the sink's only collect
    def probes(jobs: Seq[(String, Int)]) = jobs.count(_._1.startsWith("collect at UpsertSink.scala"))
    assert(probes(empty) === 0 && probes(warm) === 1, s"empty target: $empty; existing state: $warm")
    assert(empty.size < warm.size, s"empty target: $empty; existing state: $warm")
    // the earlier offsets of 50..100 lose to the state's later ones
    assert(UpsertSink.readState(spark, existing).count() === 150L)
  }
}
