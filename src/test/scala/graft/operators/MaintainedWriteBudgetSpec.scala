package graft.operators

import graft.SparkSpec
import graft.streaming.UpsertSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job and cache budget of the lake writers on the shared `local[4]`
  * session: one row per call pins the exact number of Spark jobs the call
  * runs and that it leaves no entry in the session's cache manager. A
  * refactor of a commit protocol that adds a re-read of the table, a
  * second write or a forgotten `persist` shows up here as a changed row.
  * The last cell pins the promote markers' on-disk payloads. */
class MaintainedWriteBudgetSpec extends SparkSpec {
  import spark.implicits._

  // CacheManager.numCachedEntries is private[sql] in Scala but public in
  // bytecode
  private def cacheEntries: Any = {
    val cache = spark.sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache)
  }

  /** Runs `body`, asserts it ran exactly `jobs` Spark jobs and left no
    * cached frame behind. */
  private def budget(jobs: Int)(body: => Unit): Unit = {
    val before = cacheEntries
    val ran = graft.SparkJobs.jobsOf(spark)(body)
    assert(ran.size === jobs, s"jobs run: ${ran.map(_._1).mkString("; ")}")
    assert(cacheEntries === before, "the call left a cached frame behind")
  }

  private def fsOf(tbl: String) = {
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
    (loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc)
  }

  /** A (term, df) manifest: a base generation plus one appended day. */
  private def manifest(tag: String): String = {
    val tbl = BucketedOps.ensureBucketed(
      Seq(("a", 10L), ("b", 20L), ("d", 4L)).toDF("term", "df"),
      s"budget_$tag|${System.nanoTime()}", "term", buckets = 4)
    BucketedOps.idempotentAppend(
      Seq(("a", 1L), ("c", 3L)).toDF("term", "df").repartition(1),
      tbl, "term", buckets = 4, jobId = "day2")
    tbl
  }

  private val sumDf: DataFrame => DataFrame = _.groupBy("term").agg(sum("df").as("df"))
  private val addFirstSeen: DataFrame => DataFrame =
    sumDf.andThen(_.withColumn("first_seen_day", lit(1L)))

  // Job counts on this session: a bucketed write of a shuffled frame is two
  // jobs (the adaptive shuffle's map stage, then the write); reading parquet
  // through `spark.read` without a schema would add one schema-inference
  // job, which no writer here pays.
  test("idempotentAppend: a fresh day runs one write; its replay runs none") {
    val tbl = BucketedOps.ensureBucketed(
      Seq(("a", 10L), ("b", 20L)).toDF("term", "df"),
      s"budget_append|${System.nanoTime()}", "term", buckets = 4)
    val day = Seq(("a", 1L), ("c", 3L)).toDF("term", "df").repartition(1)
    budget(2)(BucketedOps.idempotentAppend(day, tbl, "term", buckets = 4, jobId = "d1"))
    budget(0)(BucketedOps.idempotentAppend(day, tbl, "term", buckets = 4, jobId = "d1"))
  }

  test("compactManifest: one staged write; a deleteSet adds its broadcast") {
    val plain = manifest("compact")
    budget(1)(BucketedOps.compactManifest(spark, plain, "term", buckets = 4,
      jobId = "c1", resolve = sumDf))
    val purged = manifest("purge")
    budget(2)(BucketedOps.compactManifest(spark, purged, "term", buckets = 4,
      jobId = "c1", resolve = sumDf, deleteSet = Some(Seq("b").toDF("term"))))
    assert(spark.table(purged).as[(String, Long)].collect().toMap ===
      Map("a" -> 11L, "c" -> 3L, "d" -> 4L))
  }

  test("migrateManifest: one staged write") {
    val tbl = manifest("migrate")
    budget(1)(BucketedOps.migrateManifest(spark, tbl, "term", buckets = 4,
      jobId = "m1", resolve = addFirstSeen))
    assert(spark.table(tbl).schema.fieldNames.toSeq === Seq("term", "df", "first_seen_day"))
  }

  test("foldSpool: one append write, the spool read with the table's schema") {
    val tbl = manifest("fold")
    val spool = java.nio.file.Files.createTempDirectory("graft_budget_spool_").toString
    Seq(("a", 2L)).toDF("term", "df").write.parquet(s"$spool/batch=0")
    Seq(("e", 5L)).toDF("term", "df").write.parquet(s"$spool/batch=1")
    budget(2)(assert(BucketedOps.foldSpool(spark, spool, tbl, "term", buckets = 4,
      jobId = "fold1", resolve = sumDf)))
    assert(spark.table(tbl).groupBy("term").agg(sum("df")).as[(String, Long)].collect().toMap ===
      Map("a" -> 13L, "b" -> 20L, "c" -> 3L, "d" -> 4L, "e" -> 5L))
  }

  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")
  private def batchOf(keys: Seq[Long], offset: Long, op: String = "c") =
    keys.map(k => (k, k.toDouble, op, offset + k, "+I")).toDF(cols: _*)

  // A merge commits its batch as a new generation without reading the
  // state: the shuffle by bucket and the write, into an empty target and
  // into state alike. The merge that folds reads the live generations with
  // the batch's schema, so it runs no schema-inference job and stays at
  // two. Compact has no batch to take the schema from; it reads the one a
  // part file's footer stores (no job), then resolves the generations per
  // key (shuffle and write).
  test("UpsertSink.mergeBatch: a shuffle and a write, into an empty target, into state and when it folds") {
    val out = java.nio.file.Files.createTempDirectory("graft_budget_sink_").resolve("s").toString
    budget(2)(UpsertSink.mergeBatch(batchOf(1L to 40L, 0L), Seq("k"), out, 8))
    budget(2)(UpsertSink.mergeBatch(batchOf(30L to 50L, 100L), Seq("k"), out, 8))
    (3 to UpsertSink.FoldEvery).foreach(i =>
      UpsertSink.mergeBatch(batchOf(Seq(100L + i), 100L * i), Seq("k"), out, 8))
    budget(2)(UpsertSink.mergeBatch(batchOf(45L to 60L, 10000L), Seq("k"), out, 8))
    val gens = new java.io.File(out).list().filter(_.startsWith("__gen="))
    assert(gens.toSeq === Seq(s"__gen=${UpsertSink.FoldEvery + 1}"), "the last merge must have folded")
    assert(UpsertSink.readState(spark, out).count() === 60L + UpsertSink.FoldEvery - 2)
  }

  // A commit resolves its rows per key, so a target with one live
  // generation is read as it is; a second live generation adds the
  // resolve's shuffle. The schema comes from a footer, so the count's own
  // jobs are all there is.
  test("UpsertSink.readState: one live generation is read as it is, two pay the resolve") {
    val out = java.nio.file.Files.createTempDirectory("graft_budget_sinkr_").resolve("s").toString
    UpsertSink.mergeBatch(batchOf(1L to 40L, 0L), Seq("k"), out, 8)
    budget(2)(assert(UpsertSink.readState(spark, out).count() === 40L))
    UpsertSink.mergeBatch(batchOf(30L to 50L, 100L), Seq("k"), out, 8)
    budget(3)(assert(UpsertSink.readState(spark, out).count() === 50L))
  }

  test("UpsertSink.compact: one rewrite, the schema from a footer") {
    val out = java.nio.file.Files.createTempDirectory("graft_budget_sinkc_").resolve("s").toString
    UpsertSink.mergeBatch(batchOf(1L to 40L, 0L), Seq("k"), out, 8)
    UpsertSink.mergeBatch(batchOf(1L to 10L, 100L, op = "d"), Seq("k"), out, 8)
    budget(2)(UpsertSink.compact(spark, out))
    assert(spark.read.parquet(out).count() === 30L, "tombstones must be purged")
  }

  test("promote marker payloads: compaction's is empty, migration's carries the DDL") {
    def killAtPromoted(step: String): Unit =
      if (step == "promoted") throw new IllegalStateException("killed at promoted")
    val c = manifest("cmarker")
    intercept[IllegalStateException](BucketedOps.compactManifest(spark, c, "term",
      buckets = 4, jobId = "c1", resolve = sumDf, onStep = killAtPromoted))
    val (cfs, cloc) = fsOf(c)
    assert(cfs.getFileStatus(new Path(cloc, "_graft_compact_c1.promote")).getLen === 0L)
    BucketedOps.compactManifest(spark, c, "term", buckets = 4, jobId = "c1", resolve = sumDf)

    val m = manifest("mmarker")
    intercept[IllegalStateException](BucketedOps.migrateManifest(spark, m, "term",
      buckets = 4, jobId = "m1", resolve = addFirstSeen, onStep = killAtPromoted))
    val (mfs, mloc) = fsOf(m)
    val in = mfs.open(new Path(mloc, "_graft_migrate_m1.promote"))
    val payload = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(payload.endsWith("#graft-ddl-end"), payload)
    assert(payload.startsWith("term STRING"), payload)
    BucketedOps.migrateManifest(spark, m, "term", buckets = 4, jobId = "m1",
      resolve = addFirstSeen)
  }
}
