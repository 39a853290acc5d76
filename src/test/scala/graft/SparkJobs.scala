package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block of code runs. */
object SparkJobs {
  private val JobGroupKey = "spark.jobGroup.id"

  /** Runs `body` and returns, per Spark job it ran (in order), the job's
    * call site (its final stage's name) and the task count of that stage. Jobs are matched by
    * job group, and a marker job flushes the asynchronous listener bus
    * before reading. */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
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
      sc.setJobGroup(group, "block under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
    } finally sc.removeSparkListener(listener)
    finalStage.asScala.toSeq.sortBy(_._1).map { case (_, (site, stage)) => (site, stageTasks.get(stage)) }
  }
}
