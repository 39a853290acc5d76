package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def row(k: Long, v: Double, op: String, off: Long, rk: String) =
    (k, v, op, off, rk)
  private val cols = Seq("k", "v", "op", "op_offset", "row_kind")

  test("streamed upsert materializes across micro-batches and restarts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_")
    val in = tmp.resolve("in").toString
    val out = tmp.resolve("state").toString
    val ckpt = tmp.resolve("ckpt").toString

    // run 1: insert k=1,2; update k=1
    Seq(row(1L, 10.0, "c", 1, "+I"), row(2L, 20.0, "c", 2, "+I"),
      row(1L, 10.0, "u", 3, "-U"), row(1L, 11.0, "u", 3, "+U"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      UpsertSink.recover(spark, out)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = UpsertSink.upsertParquet(stream, Seq("k"), out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val s1 = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(s1.toSeq == Seq((1L, 11.0), (2L, 20.0)))

    // run 2 (restart, same checkpoint): delete k=2, insert k=3
    Seq(row(2L, 20.0, "d", 4, "+I"), row(3L, 30.0, "c", 5, "+I"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val s2 = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(s2.toSeq == Seq((1L, 11.0), (3L, 30.0)))
  }

  test("upsertAggregate: update-mode aggregate lands durably, later epochs supersede") {
    // the durable retract-aggregate path (q106): a signed streaming
    // aggregate in update mode emits only changed groups per batch; the
    // epoch-sequenced upsert must converge to the full-stream aggregate
    // and a group untouched in later batches must keep its last value
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_agg_")
    val in = tmp.resolve("in").toString
    val out = tmp.resolve("state").toString
    // batch 1: groups a (10+5) and b (7); batch 2: only a changes (−5)
    Seq(("a", 10L), ("a", 5L), ("b", 7L))
      .toDF("g", "x").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val agg = stream.groupBy("g").agg(sum("x").as("total"))
      val q = UpsertSink.upsertAggregate(agg, Seq("g"), out, numBuckets = 2)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(UpsertSink.readState(spark, out).orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 15L), ("b", 7L)))
    Seq(("a", -5L)).toDF("g", "x").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(UpsertSink.readState(spark, out).orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 10L), ("b", 7L)))
  }

  test("replaying a batch is a no-op (idempotent merge algebra)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert2_")
    val out = tmp.resolve("state").toString
    val b1 = Seq(row(1L, 1.0, "c", 1, "+I"), row(2L, 2.0, "c", 2, "+I")).toDF(cols: _*)
    val b2 = Seq(row(1L, 1.5, "u", 3, "+U"), row(2L, 2.0, "d", 4, "+I")).toDF(cols: _*)
    UpsertSink.mergeBatch(b1, Seq("k"), out)
    UpsertSink.mergeBatch(b2, Seq("k"), out)
    val once = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    UpsertSink.mergeBatch(b2, Seq("k"), out) // failure replay
    val twice = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(once == Seq((1L, 1.5)) && twice == once)
  }

  test("tombstones defeat lower-offset stragglers across batches; compact purges them") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert5_")
    val out = tmp.resolve("state").toString
    // out-of-order across batches: the delete (offset 10) lands in batch 1,
    // the create it deletes (offset 5) straggles into batch 2
    UpsertSink.mergeBatch(
      Seq(row(9L, 9.0, "d", 10, "+I"), row(1L, 1.0, "c", 1, "+I")).toDF(cols: _*),
      Seq("k"), out)
    UpsertSink.mergeBatch(
      Seq(row(9L, 8.0, "c", 5, "+I"), row(2L, 2.0, "c", 2, "+I")).toDF(cols: _*),
      Seq("k"), out)
    val live = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(live == Seq((1L, 1.0), (2L, 2.0)),
      "the straggling create must lose to the higher-offset tombstone")
    // the tombstone is IN the state files, just not in readState
    assert(spark.read.parquet(out).filter($"op" === "d").count() == 1)
    UpsertSink.compact(spark, out)
    assert(spark.read.parquet(out).filter($"op" === "d").count() == 0)
    val after = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == live, "compaction only removes tombstones")
  }

  test("compactEveryBatches: tombstones purged periodically during a stream") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert6_")
    val in = tmp.resolve("in").toString
    val out = tmp.resolve("state").toString
    // two files → two micro-batches with maxFilesPerTrigger=1; the delete
    // lands in batch 1, compaction fires after batch 2 (every 2)
    Seq(row(1L, 1.0, "c", 1, "+I"), row(2L, 2.0, "d", 2, "+I"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    Seq(row(3L, 3.0, "c", 3, "+I"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val q = UpsertSink.upsertParquet(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
      Seq("k"), out, compactEveryBatches = 2)
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).filter($"op" === "d").count() === 0,
      "compaction after the 2nd batch must have purged the tombstone")
    assert(UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("recover restores a bucket caught between its two swap renames") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert3_")
    val out = tmp.resolve("state").toString
    UpsertSink.mergeBatch(
      Seq(row(7L, 7.0, "c", 1, "+I")).toDF(cols: _*), Seq("k"), out)
    // simulate a crash between the two renames: the key's live bucket dir
    // moved aside to _old/ but the staged replacement never landed
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucket = fs.listStatus(new Path(out))
      .map(_.getPath).filter(_.getName.startsWith("__gb=")).head
    fs.mkdirs(new Path(out, "_old"))
    assert(fs.rename(bucket, new Path(new Path(out, "_old"), bucket.getName)))
    UpsertSink.recover(spark, out)
    assert(UpsertSink.readState(spark, out).count() == 1)
  }

  test("a merge leaves untouched buckets byte-identical (O(touched) I/O)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert4_")
    val out = tmp.resolve("state").toString
    // spread keys across many buckets, then touch exactly one key
    val b1 = (1L to 200L).map(k => row(k, k.toDouble, "c", k, "+I")).toDF(cols: _*)
    UpsertSink.mergeBatch(b1, Seq("k"), out)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshot(): Map[String, (Long, Long)] =
      fs.listStatus(new Path(out)).filter(_.getPath.getName.startsWith("__gb="))
        .flatMap(d => fs.listStatus(d.getPath)).filter(_.isFile)
        .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    val before = snapshot()
    val touchedBucket = spark.range(1).select(
      pmod(hash(lit(42L)), lit(UpsertSink.DefaultBuckets))).head().getInt(0)
    UpsertSink.mergeBatch(
      Seq(row(42L, 99.0, "u", 1000, "+U")).toDF(cols: _*), Seq("k"), out)
    val after = snapshot()
    val untouchedBefore = before.filter(!_._1.contains(s"__gb=$touchedBucket/"))
    val untouchedAfter = after.filter(!_._1.contains(s"__gb=$touchedBucket/"))
    assert(untouchedBefore.nonEmpty, "fixture must span several buckets")
    // identical file paths, lengths, AND modification times: the files were
    // never rewritten, not merely rewritten equal
    assert(untouchedAfter == untouchedBefore)
    assert(before.keys.exists(_.contains(s"__gb=$touchedBucket/")))
    assert(after != before, "the touched bucket must have been rewritten")
    val s = UpsertSink.readState(spark, out)
    assert(s.count() == 200)
    assert(s.filter($"k" === 42L).head().getDouble(1) == 99.0)
  }

  test("single-writer lease: a fresh foreign lease fails fast, a stale one self-heals") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert5_")
    val out = tmp.resolve("state").toString
    val b = Seq(row(1L, 1.0, "c", 1, "+I")).toDF(cols: _*)
    UpsertSink.mergeBatch(b, Seq("k"), out) // creates state, releases lease
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(out, "_graft_writer.lock")
    assert(!fs.exists(lock), "lease must be released after a merge")

    // another writer holds a FRESH lease → this writer must fail fast,
    // not interleave (its recover() would delete the other's _tmp staging)
    val o = fs.create(lock, false); o.write("other".getBytes); o.close()
    val ex = intercept[java.util.ConcurrentModificationException] {
      UpsertSink.mergeBatch(
        Seq(row(2L, 2.0, "c", 2, "+I")).toDF(cols: _*), Seq("k"), out)
    }
    assert(ex.getMessage.contains("SINGLE WRITER PER PATH"))
    assert(UpsertSink.readState(spark, out).count() == 1, "failed merge must not touch state")
    // compact() honors the same lease
    intercept[java.util.ConcurrentModificationException] {
      UpsertSink.compact(spark, out)
    }

    // the same lease aged past the TTL = crash debris → broken and
    // re-acquired; the merge proceeds and releases
    fs.setTimes(lock, System.currentTimeMillis() - UpsertSink.LeaseTtlMs - 1000, -1)
    UpsertSink.mergeBatch(
      Seq(row(2L, 2.0, "c", 2, "+I")).toDF(cols: _*), Seq("k"), out)
    assert(!fs.exists(lock))
    assert(UpsertSink.readState(spark, out).count() == 2)
  }

  test("conditional batch barrier: persist only when the plan warrants it") {
    // plain source-decode shape (q78/q141/q144/q145's upstream): a narrow
    // scan re-executes cheaper than it caches → no barrier
    val narrow = Seq(row(1L, 1.0, "c", 1, "+I")).toDF(cols: _*)
      .filter(col("op_offset") >= 0L).select(cols.map(col): _*)
    assert(!UpsertSink.shouldPersistBatch(narrow))

    // aggregate upstream (q106's retract-agg shape): re-execution repeats
    // a shuffle (and under foreachBatch a state-store read) → barrier
    val agg = Seq(row(1L, 1.0, "c", 1, "+I")).toDF(cols: _*)
      .groupBy("k").agg(sum("v").as("v"))
    assert(UpsertSink.shouldPersistBatch(agg))

    // join upstream → barrier
    val joined = narrow.join(agg.select(col("k").as("k2")), col("k") === col("k2"))
    assert(UpsertSink.shouldPersistBatch(joined))

    // a nondeterministic expression may re-execute to different rows →
    // barrier, however narrow the plan
    assert(UpsertSink.shouldPersistBatch(narrow.withColumn("v", rand())))

    // explicit override wins in both directions
    spark.conf.set("spark.graft.upsert.persistBatch", "always")
    try assert(UpsertSink.shouldPersistBatch(narrow))
    finally spark.conf.set("spark.graft.upsert.persistBatch", "never")
    try assert(!UpsertSink.shouldPersistBatch(agg))
    finally spark.conf.unset("spark.graft.upsert.persistBatch")
  }

  /** `n` changelog rows whose key a NONDETERMINISTIC expression draws. */
  private def randomKeyed(n: Int, key: org.apache.spark.sql.Column) =
    spark.range(0, n, 1, 4).select(key.as("k"), lit(1.0).as("v"), lit("c").as("op"),
      (col("id") + 1000L).as("op_offset"), lit("+I").as("row_kind"))

  /** A key Spark cannot replay: a fresh random long on every execution. */
  private val freshKey = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextLong())
    .asNondeterministic()

  /** State of 200 keys over 64 buckets, so a merge has live buckets to re-read. */
  private def seeded(prefix: String): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix).resolve("state").toString
    UpsertSink.mergeBatch((1L to 200L).map(k => row(k, k.toDouble, "c", k, "+I")).toDF(cols: _*),
      Seq("k"), out, numBuckets = 64)
    out
  }

  test("nondeterministic batch keys: a merge into existing state loses no row") {
    // rand()/uuid() seed at analysis; a nondeterministic UDF does not —
    // each execution draws new keys, so without the barrier the probe and
    // the write would see different rows
    Seq(
      "rand" -> (rand() * 1e15).cast("long"),
      "uuid" -> xxhash64(expr("uuid()")),
      "udf" -> freshKey()
    ).foreach { case (name, key) =>
      val out = seeded(s"graft_upsert_nd_${name}_")
      val batch = randomKeyed(40, key)
      assert(UpsertSink.shouldPersistBatch(batch), name)
      UpsertSink.mergeBatch(batch, Seq("k"), out, numBuckets = 64)
      val state = UpsertSink.readState(spark, out)
      assert(state.count() === 240L, s"$name: rows lost or duplicated")
      assert(state.filter(!$"k".between(1L, 200L)).count() === 40L, name)
    }
  }

  test("nondeterministic batch with the barrier forced off fails loudly; state is untouched") {
    val out = seeded("graft_upsert_nd_never_")
    val before = UpsertSink.readState(spark, out).orderBy("k").collect().toSeq
    spark.conf.set("spark.graft.upsert.persistBatch", "never")
    val ex =
      try intercept[IllegalStateException] {
        // 5 fresh keys over 64 buckets: the write's buckets fall outside
        // the probe's with near certainty (all inside: ~(5/64)^5)
        UpsertSink.mergeBatch(randomKeyed(5, freshKey()), Seq("k"), out, numBuckets = 64)
      } finally spark.conf.unset("spark.graft.upsert.persistBatch")
    assert(ex.getMessage.contains("probe did not see"))
    assert(UpsertSink.readState(spark, out).orderBy("k").collect().toSeq === before)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(out, "_tmp")) && !fs.exists(new Path(out, "_graft_writer.lock")))
  }
}
