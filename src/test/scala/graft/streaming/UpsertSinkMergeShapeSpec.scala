package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Pins the Spark-side shape of a [[UpsertSink.mergeBatch]] on the shared
  * `local[4]` session (shuffle partitions 4): buckets are resolved and
  * written in parallel by min(buckets, cores) write tasks, each task that
  * received rows writes one file into a new generation, each bucket lands
  * whole in one file and no file is empty; the merge runs the same jobs
  * whether or not the target already holds state; a generation holds only
  * its part files (and a fold's marker); and a generation of the earlier
  * `__gen=<n>/__gb=<i>/` layout reads and folds like a new one. */
class UpsertSinkMergeShapeSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")
  private val Buckets = 16
  private val Width = 4

  private def batchOf(keys: Seq[Long], offset: Long) =
    keys.map(k => (k, k.toDouble, "c", offset + k, "+I")).toDF(cols: _*)

  private def bucketOf(c: org.apache.spark.sql.Column) = pmod(hash(c), lit(Buckets))

  /** Three keys from each of the buckets `bs`, so a batch of them touches
    * exactly those buckets. */
  private def keysIn(bs: Set[Int]): Seq[Long] =
    spark.range(1, 10000).select($"id", bucketOf($"id").as("b"))
      .as[(Long, Int)].collect().toSeq.filter(r => bs(r._2))
      .groupBy(_._2).values.flatMap(_.map(_._1).sorted.take(3)).toSeq.sorted

  private def jobsOf(body: => Unit): Seq[(String, Int)] = graft.SparkJobs.jobsOf(spark)(body)

  /** The parquet files of each generation: gen -> file -> the buckets of
    * the keys it holds (an empty set for a zero-row file). */
  private def layout(out: String): Map[Int, Map[String, Set[Int]]] = {
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(out)).map(_.getPath).filter(_.getName.startsWith("__gen="))
      .map { gd =>
        gd.getName.stripPrefix("__gen=").toInt ->
          fs.listStatus(gd).map(_.getPath).filter(_.getName.endsWith(".parquet")).map { f =>
            f.getName -> spark.read.parquet(f.toString).select(bucketOf($"k"))
              .as[Int].collect().toSet
          }.toMap
      }.toMap
  }

  /** A generation's shape: at most `Width` files, none empty, and each
    * bucket in exactly one of them. */
  private def assertShape(gen: Map[String, Set[Int]], buckets: Set[Int], clue: String): Unit = {
    assert(gen.nonEmpty && gen.size <= math.min(Width, buckets.size), s"$clue: ${gen.keySet}")
    assert(gen.values.forall(_.nonEmpty), s"$clue: a zero-row file was kept: $gen")
    assert(gen.values.toSeq.flatten.sorted === buckets.toSeq.sorted,
      s"$clue: each bucket must sit whole in one file: $gen")
  }

  test("a merge writes at most min(buckets, cores) files into a new generation, each bucket whole in one file, none empty") {
    val out = java.nio.file.Files.createTempDirectory("graft_shape_").resolve("state").toString
    val first = jobsOf(UpsertSink.mergeBatch(batchOf(1L to 400L, 0L), Seq("k"), out, Buckets))
    assert(first.last._2 === Width)
    assertShape(layout(out)(1), (0 until Buckets).toSet, "first merge")
    // existing state: the same write tasks, whatever the batch touches; a
    // batch touching fewer buckets than tasks leaves some tasks empty
    val touchedSets = Seq(Set(3, 11), Set(0, 5, 7, 9, 12, 15))
    touchedSets.zipWithIndex.foreach { case (touched, i) =>
      val before = layout(out)
      val tasks = jobsOf(UpsertSink.mergeBatch(
        batchOf(keysIn(touched), 1000L * (i + 1)), Seq("k"), out, Buckets))
      assert(tasks.last._2 === Width, s"touched $touched")
      val after = layout(out)
      assert(after - (i + 2) === before, s"touched $touched: an older generation changed")
      assertShape(after(i + 2), touched, s"touched $touched")
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

  test("a committed generation lists only its part files, plus the fold marker on a fold") {
    val out = java.nio.file.Files.createTempDirectory("graft_shape_files_").resolve("state").toString
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def merge(i: Int): Unit = UpsertSink.mergeBatch(
      batchOf((i * 10L) to (i * 10L + 15L), 1000L * i), Seq("k"), out, Buckets)
    /** The generation's files as readers list them, after checking that
      * no commit marker (nor its checksum) sits beside them on disk. */
    def files(gen: Int): Seq[String] = {
      val dir = s"$out/__gen=$gen"
      assert(!new java.io.File(dir).list().exists(_.contains("_SUCCESS")),
        s"generation $gen holds a _SUCCESS marker")
      fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq
    }
    merge(1)
    val first = files(1)
    assert(first.nonEmpty && first.forall(_.startsWith("part-")), first)
    (2 to UpsertSink.FoldEvery + 1).foreach(merge)
    val folded = files(UpsertSink.FoldEvery + 1)
    assert(folded.count(_ == "_graft_fold") === 1, folded)
    assert(folded.filterNot(_ == "_graft_fold").forall(_.startsWith("part-")), folded)
  }

  test("a generation in the __gb= subdirectory layout reads and folds like the one-file-per-task layout") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shape_old_")
    def build(name: String): String = {
      val out = tmp.resolve(name).toString
      UpsertSink.mergeBatch(batchOf(1L to 60L, 0L), Seq("k"), out, Buckets)
      out
    }
    val old = build("old")
    val fresh = build("new")
    // rewrite old's one generation by hand in the earlier layout: one
    // __gb=<i> subdirectory per bucket, the bucket column not in the files
    val fs = new Path(old).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen1 = new Path(old, "__gen=1")
    spark.read.parquet(gen1.toString)
      .withColumn("__gb", bucketOf($"k")).repartition(Width, $"__gb")
      .write.partitionBy("__gb").parquet(new Path(old, "_hand").toString)
    assert(fs.delete(gen1, true) && fs.rename(new Path(old, "_hand"), gen1))
    assert(fs.listStatus(gen1).count(_.getPath.getName.startsWith("__gb=")) === Buckets)

    def state(out: String) = UpsertSink.readState(spark, out).orderBy("k")
      .as[(Long, Double)].collect().toSeq
    assert(state(old) === state(fresh) && state(old).size === 60)
    // later merges on both, up to and past the fold, give the same state
    (1 to UpsertSink.FoldEvery).foreach { i =>
      val b = batchOf((i * 10L) to (i * 10L + 15L), 1000L * i)
        .withColumn("v", $"v" + lit(i.toDouble))
      Seq(old, fresh).foreach(UpsertSink.mergeBatch(b, Seq("k"), _, Buckets))
      assert(state(old) === state(fresh), s"after merge $i")
    }
    val gens = fs.listStatus(new Path(old)).map(_.getPath.getName).filter(_.startsWith("__gen="))
    assert(gens.toSeq === Seq(s"__gen=${UpsertSink.FoldEvery + 1}"), "the last merge must have folded")
    assert(!fs.exists(gen1), "the fold retires the old-layout generation")
    UpsertSink.compact(spark, old)
    UpsertSink.compact(spark, fresh)
    assert(state(old) === state(fresh))
  }
}
