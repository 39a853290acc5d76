package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Pins the Spark-side shape of a [[UpsertSink.mergeBatch]] on the shared
  * `local[4]` session (shuffle partitions 4): buckets are resolved and
  * written in parallel, min(buckets, cores) write tasks, one file per
  * bucket the batch touches, in a new generation; and the merge runs the
  * same jobs whether or not the target already holds state. */
class UpsertSinkMergeShapeSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")
  private val Buckets = 16

  private def batchOf(keys: Seq[Long], offset: Long) =
    keys.map(k => (k, k.toDouble, "c", offset + k, "+I")).toDF(cols: _*)

  /** Three keys from each of the buckets `bs`, so a batch of them touches
    * exactly those buckets. */
  private def keysIn(bs: Set[Int]): Seq[Long] =
    spark.range(1, 10000).select($"id", pmod(hash($"id"), lit(Buckets)).as("b"))
      .as[(Long, Int)].collect().toSeq.filter(r => bs(r._2))
      .groupBy(_._2).values.flatMap(_.map(_._1).sorted.take(3)).toSeq.sorted

  private def jobsOf(body: => Unit): Seq[(String, Int)] = graft.SparkJobs.jobsOf(spark)(body)

  /** Parquet files per bucket of each generation: gen -> bucket -> files. */
  private def parquetFiles(out: String): Map[Int, Map[Int, Int]] = {
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(p: Path, prefix: String) =
      fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith(prefix))
        .map(d => d.getName.stripPrefix(prefix).toInt -> d).toMap
    dirs(new Path(out), "__gen=").map { case (g, gd) =>
      g -> dirs(gd, "__gb=").map { case (b, bd) =>
        b -> fs.listStatus(bd).count(_.getPath.getName.endsWith(".parquet")) }
    }
  }

  test("a merge writes one file per touched bucket into a new generation, from min(buckets, cores) write tasks") {
    val out = java.nio.file.Files.createTempDirectory("graft_shape_").resolve("state").toString
    val first = jobsOf(UpsertSink.mergeBatch(batchOf(1L to 400L, 0L), Seq("k"), out, Buckets))
    assert(first.last._2 === 4)
    assert(parquetFiles(out) === Map(1 -> (0 until Buckets).map(_ -> 1).toMap))
    // existing state: the same 4 write tasks, whatever the batch touches
    val touchedSets = Seq(Set(3, 11), Set(0, 5, 7, 9, 12, 15))
    touchedSets.zipWithIndex.foreach { case (touched, i) =>
      val before = parquetFiles(out)
      val tasks = jobsOf(UpsertSink.mergeBatch(
        batchOf(keysIn(touched), 1000L * (i + 1)), Seq("k"), out, Buckets))
      assert(tasks.last._2 === 4, s"touched $touched")
      assert(parquetFiles(out) === before + ((i + 2) -> touched.map(_ -> 1).toMap),
        s"touched $touched: one new generation holding one file per touched bucket")
    }
    val added = touchedSets.flatMap(keysIn).distinct.count(_ > 400L)
    assert(UpsertSink.readState(spark, out).count() === 400L + added)
  }

  test("a merge runs the same jobs into an empty target as into existing state") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shape_jobs_")
    val batch = batchOf(1L to 100L, 0L)
    val empty = jobsOf(UpsertSink.mergeBatch(batch, Seq("k"), tmp.resolve("a").toString, Buckets))
    val existing = tmp.resolve("b").toString
    UpsertSink.mergeBatch(batchOf(50L to 150L, 500L), Seq("k"), existing, Buckets)
    val warm = jobsOf(UpsertSink.mergeBatch(batch, Seq("k"), existing, Buckets))
    // the existing state is never read: same call sites, same task counts
    assert(empty === warm && empty.size === 2, s"empty target: $empty; existing state: $warm")
    // the earlier offsets of 50..100 lose to the state's later ones
    assert(UpsertSink.readState(spark, existing).count() === 150L)
  }
}
