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
    // compacting away every key leaves a state that still reads, as empty
    UpsertSink.mergeBatch(
      Seq(row(1L, 1.0, "d", 20, "+I"), row(2L, 2.0, "d", 21, "+I")).toDF(cols: _*),
      Seq("k"), out)
    UpsertSink.compact(spark, out)
    assert(UpsertSink.readState(spark, out).count() == 0)
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

  test("a fold killed after its commit rename: readState is unchanged, and the next merge retires the inputs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert3_")
    val out = tmp.resolve("state").toString
    UpsertSink.mergeBatch(
      Seq(row(1L, 1.0, "c", 1, "+I"), row(5L, 5.0, "c", 2, "+I")).toDF(cols: _*), Seq("k"), out)
    UpsertSink.mergeBatch(Seq(row(5L, 5.0, "d", 3, "+I")).toDF(cols: _*), Seq("k"), out)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens(): Seq[String] =
      fs.listStatus(new Path(out)).map(_.getPath.getName).filter(_.startsWith("__gen=")).sorted.toSeq
    def live() = UpsertSink.readState(spark, out).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = live()
    // the fold (here compact's) commits gen=3 and retires gen=1 and gen=2;
    // putting copies of its inputs back is exactly what a fold killed
    // between its commit rename and the retirement leaves on disk
    val inputs = gens()
    val aside = new Path(tmp.resolve("aside").toString)
    inputs.foreach(g => org.apache.hadoop.fs.FileUtil.copy(fs, new Path(out, g),
      fs, new Path(aside, g), false, spark.sparkContext.hadoopConfiguration))
    UpsertSink.compact(spark, out)
    inputs.foreach(g => assert(fs.rename(new Path(aside, g), new Path(out, g))))
    assert(gens() === Seq("__gen=1", "__gen=2", "__gen=3"))
    // the superseded inputs are on disk (their tombstone too), not in the state
    assert(spark.read.parquet(out).filter($"op" === "d").count() === 1L)
    assert(live() === before && before === Seq((1L, 1.0)))
    UpsertSink.mergeBatch(Seq(row(2L, 2.0, "c", 4, "+I")).toDF(cols: _*), Seq("k"), out)
    assert(gens() === Seq("__gen=3", "__gen=4"))
    assert(live() === Seq((1L, 1.0), (2L, 2.0)))
  }

  test("a merge rewrites no existing file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert4_")
    val out = tmp.resolve("state").toString
    val b1 = (1L to 200L).map(k => row(k, k.toDouble, "c", k, "+I")).toDF(cols: _*)
    UpsertSink.mergeBatch(b1, Seq("k"), out)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshot(): Map[String, (Long, Long)] = {
      val it = fs.listFiles(new Path(out), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    }
    val before = snapshot()
    UpsertSink.mergeBatch(
      Seq(row(42L, 99.0, "u", 1000, "+U")).toDF(cols: _*), Seq("k"), out)
    val after = snapshot()
    // identical file paths, lengths AND modification times: no file was
    // rewritten, not merely rewritten equal; the batch went to a new
    // generation, one file from the one write task that got its row (the
    // zero-row file Spark opens for write task 0 is not kept)
    assert(before.toSet.subsetOf(after.toSet))
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.contains("/__gen=2/")), added)
    assert(added.count(_.endsWith(".parquet")) === 1, added)
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

  /** `n` changelog rows whose key a NONDETERMINISTIC expression draws. */
  private def randomKeyed(n: Int, key: org.apache.spark.sql.Column) =
    spark.range(0, n, 1, 4).select(key.as("k"), lit(1.0).as("v"), lit("c").as("op"),
      (col("id") + 1000L).as("op_offset"), lit("+I").as("row_kind"))

  /** A key Spark cannot replay: a fresh random long on every execution. */
  private val freshKey = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextLong())
    .asNondeterministic()

  /** State of 200 keys over 64 buckets, so the merge lands on existing state. */
  private def seeded(prefix: String): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix).resolve("state").toString
    UpsertSink.mergeBatch((1L to 200L).map(k => row(k, k.toDouble, "c", k, "+I")).toDF(cols: _*),
      Seq("k"), out, numBuckets = 64)
    out
  }

  test("nondeterministic batch keys: a merge into existing state loses no row") {
    // rand()/uuid() seed at analysis; a nondeterministic UDF does not —
    // each execution draws new keys, so a merge that consumed the batch
    // with more than one action could see different rows in each
    Seq(
      "rand" -> (rand() * 1e15).cast("long"),
      "uuid" -> xxhash64(expr("uuid()")),
      "udf" -> freshKey()
    ).foreach { case (name, key) =>
      val out = seeded(s"graft_upsert_nd_${name}_")
      val batch = randomKeyed(40, key)
      UpsertSink.mergeBatch(batch, Seq("k"), out, numBuckets = 64)
      val state = UpsertSink.readState(spark, out)
      assert(state.count() === 240L, s"$name: rows lost or duplicated")
      assert(state.filter(!$"k".between(1L, 200L)).count() === 40L, name)
    }
  }
}
