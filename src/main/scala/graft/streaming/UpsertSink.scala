package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** SPI: an exclusive writer lease over a maintained table directory —
  * the seam that makes the lake's single-writer contract pluggable
  * (round-13 verdict, what's-missing #3). The default
  * [[UpsertSink.FsAtomicWriterLease]] builds on the filesystem's atomic
  * create/rename and is correct on HDFS and local/POSIX stores; object
  * stores without those primitives (S3, GCS, …) must register an
  * implementation backed by a real lock service
  * ([[UpsertSink.registerWriterLease]]) — [[UpsertSink.withWriterLease]]
  * REFUSES to run the filesystem lease there rather than corrupt state.
  *
  * Contract: run `body` while holding an exclusive lease on `target`;
  * throw `java.util.ConcurrentModificationException` (fail fast, no
  * blocking) if another writer holds it; release on every exit path. A
  * crashed holder's lease must eventually become acquirable (TTL, session
  * expiry — implementation's choice). */
trait WriterLease {
  def withLease[T](fs: FileSystem, target: Path)(body: => T): T
}

/** Idempotent materialized-view sink for op-column changelog streams —
  * the missing half of "any Spark sink works": plain appends are fine for
  * the changelog itself, but consumers usually want the CURRENT STATE
  * table, updated in place, surviving failures without duplicates.
  *
  * State is HASH-BUCKETED by primary key: the target directory holds
  * `__gb=<i>` Hive-style partition subdirectories (i = murmur3(pk) mod B).
  * Each micro-batch merges by primary key with last-writer-wins on
  * (op_offset, after-image-wins); deletes persist as TOMBSTONE rows
  * (filtered by [[readState]], purged by [[compact]]) so a delete keeps
  * winning against lower-offset events arriving in later batches. Only
  * buckets that contain a touched key are read and rewritten, which helps
  * only SKEWED batches: a batch touching keys in 3 of 1024 buckets reads
  * and rewrites ~0.3% of the snapshot. With uniform keys every batch of
  * more than a few keys touches every bucket (`cdcbench` `snapshot_load`:
  * 32 of 32 per batch), so each merge reads and rewrites the whole state.
  *
  * The merge is a pure function of (previous bucket state ∪ batch), so
  * REPLAYING a batch after a failure re-derives the identical snapshot —
  * idempotence comes from the merge algebra, not from sink-side dedup
  * bookkeeping. New bucket contents are written to a `_tmp` staging dir
  * (one write job, `partitionBy` on the bucket id, buckets spread over
  * parallel tasks, one file per bucket) and swapped in with two renames
  * per touched bucket; a crash mid-swap leaves either the old or
  * the new bucket (or its `_old/` save-aside), never a torn mix, and
  * [[recover]] restores any bucket caught between its two renames.
  *
  * Underscore-prefixed siblings (`_tmp/`, `_old/`, `_graft_buckets`) are
  * invisible to Spark's file listing, so `spark.read.parquet(path)` on the
  * target sees only committed bucket data (plus the `__gb` partition
  * column — [[readState]] drops it).
  *
  * For petabyte state, swap the parquet rewrite for a MERGE INTO on a
  * table format with deletion vectors; the streaming contract here
  * (foreachBatch + deterministic bucketed merge) stays identical.
  *
  * ==Concurrency contract: SINGLE WRITER PER PATH==
  * [[mergeBatch]] and [[compact]] assume they are the only writer of the
  * target directory. Two concurrent writers (e.g. a compaction job racing
  * the streaming merge, or two streams pointed at one path) would
  * interleave bucket swaps and `_tmp`/`_old` cleanup and tear the
  * snapshot — each writer's [[recover]] deletes the OTHER's staging.
  * The contract is enforced by an advisory writer LEASE
  * (`_graft_writer.lock`, created atomically, held across each merge or
  * compaction, released at the end): a second writer arriving while the
  * lease is fresh fails fast with `ConcurrentModificationException`
  * instead of corrupting state. A writer that crashed mid-merge leaves a
  * stale lease; it self-heals after [[LeaseTtlMs]] (a merge holds the
  * lease for seconds, so a fresh-looking lease really is a live writer).
  * Run compaction from the stream's own foreachBatch
  * (`compactEveryBatches`) — never as a side job against a live stream.
  * Readers ([[readState]]) never take the lease: they see only committed
  * bucket directories. */
object UpsertSink {

  private val BucketCol = "__gb"
  /** Default bucket count. Sized so a 100 GB state yields ~100 MB buckets;
    * for larger states pass a bigger `numBuckets` on first merge — the
    * count is persisted in `_graft_buckets` and reused thereafter (a
    * mismatched count would hash keys into the wrong buckets). */
  val DefaultBuckets = 64

  /** Wire a changelog stream (read with
    * `metadata.columns = "op_offset,row_kind"`) to a parquet current-state
    * table at `path`. Returns the writer; caller sets checkpoint/trigger.
    *
    * `compactEveryBatches` > 0 runs [[compact]] after every Nth merge,
    * bounding tombstone buildup on a long-running stream. Only enable it
    * when the upstream delivers each key's events in offset order across
    * batches (true of the cdc-log source's log phase) — compaction forgets
    * a delete's victory, so an out-of-order lower-offset straggler arriving
    * AFTER a compaction would resurrect the row. */
  def upsertParquet(changelog: DataFrame, pkCols: Seq[String], path: String,
      numBuckets: Int = DefaultBuckets,
      compactEveryBatches: Int = 0): DataStreamWriter[Row] = {
    val counter = new java.util.concurrent.atomic.AtomicLong()
    changelog.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      mergeBatch(batch, pkCols, path, numBuckets)
      if (compactEveryBatches > 0 &&
          counter.incrementAndGet() % compactEveryBatches == 0)
        compact(batch.sparkSession, path)
    }
  }

  /** Wire an UPDATE-mode streaming AGGREGATE (not a changelog) to the same
    * durable state table — the production shape of a retract aggregate:
    * changelog → signed groupBy → durable state, with per-batch I/O
    * O(touched groups). Update mode emits at most one row per CHANGED
    * group per micro-batch, so sequencing by the batch epoch makes the
    * changelog merge algebra directly reusable: op columns are synthesized
    * (`op=u`, `op_offset=epoch`, `row_kind=+U`) and a later epoch's row
    * for a group supersedes any earlier one — last-writer-wins, idempotent
    * under batch replay exactly like the changelog path. Aggregates never
    * delete groups (a count reaching zero is still the group's current
    * value), so no tombstones arise and [[readState]] returns one row per
    * group ever touched. */
  def upsertAggregate(updates: DataFrame, pkCols: Seq[String], path: String,
      numBuckets: Int = DefaultBuckets): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, epoch: Long) =>
        mergeBatch(batch
          .withColumn("op", lit("u"))
          .withColumn("op_offset", lit(epoch))
          .withColumn("row_kind", lit("+U")), pkCols, path, numBuckets)
    }

  /** Read the current-state table: tombstones filtered, sink-internal and
    * changelog columns dropped. Runs [[recover]] first so a bucket caught
    * between its two swap renames (rows only in `_old/`) is restored before
    * the read — cheap no-op in the common case. */
  def readState(spark: SparkSession, path: String): DataFrame = {
    // restore buckets only — unlike full recover(), leave _tmp alone so a
    // concurrent in-flight merge's staging write is never yanked from under it
    restoreSaveAsides(spark, path)
    spark.read.parquet(path).filter(col("op") =!= "d")
      .drop("op", "op_offset", "row_kind", BucketCol)
  }

  /** One merge step: previous snapshot ∪ batch → last-wins state. Exposed
    * for tests and for batch backfills (same algebra, no stream).
    *
    * State rows keep their winning event's (op, op_offset, row_kind) —
    * including DELETES as tombstone rows. Tombstones are what make the
    * merge correct when events for a key arrive across batches out of
    * offset order (a delete at offset 9 in batch N must defeat a create at
    * offset 5 arriving in batch N+1): without them the delete's victory is
    * forgotten the moment the row leaves the state file. [[readState]]
    * filters them; [[compact]] purges them once the caller knows no
    * lower-offset stragglers remain.
    *
    * Jobs per merge: into an EMPTY target, one (the write) — there is no
    * previous state to read, so no touched-bucket probe runs. Into
    * existing state, a one-job probe finds the touched buckets, then the
    * write re-reads only those buckets' files. The write shuffles
    * `prev ∪ batch` once, by bucket, to one task per group of buckets
    * (width min(touched, cores, shuffle partitions)), so the buckets are
    * merged and written in parallel and each merge writes one file per
    * touched bucket. */
  def mergeBatch(batch0: DataFrame, pkCols: Seq[String], path: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = batch0.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, target) {
    // A previous merge may have died mid-swap (bucket gone, _old/ holding
    // its last complete copy). Restore BEFORE reading prev state, or the
    // merge below would silently drop that bucket's rows.
    recover(spark, path)

    val buckets = bucketCount(fs, target, numBuckets)
    val bucketOf = pmod(hash(pkCols.map(col): _*), lit(buckets)).cast("int")
    val live = bucketIds(fs, target)
    // With state present, two actions consume the batch (the probe and the
    // write). Inside foreachBatch each action RE-EXECUTES the whole
    // micro-batch plan — source decode plus any upstream stateful
    // aggregate ran twice per batch (measured: q106's addBatch dropped
    // ~25% with the barrier). But the barrier is CONDITIONAL: for a plain
    // source-decode upstream the persist's materialization costs more
    // than the re-execution it saves (r17 driver run: q78 −13%, q141
    // −12% under an unconditional persist, while q106 — whose upstream
    // carries a stateful aggregate re-reading the state store — gained
    // 26%). Persist only when the plan warrants it, for the merge's
    // duration only; an empty target runs the write alone, so needs none.
    val doPersist = live.nonEmpty && shouldPersistBatch(batch0)
    val batch = if (doPersist) batch0.persist() else batch0
    try {
    // Which buckets does this batch touch? Only asked when there is state
    // to re-read: into an empty target every staged bucket is new.
    val probed = if (live.isEmpty) None else Some(touchedBuckets(batch, bucketOf, buckets))
    if (!probed.exists(_.isEmpty)) {

    // previous state re-enters the merge carrying its winning events'
    // offsets, so replay is idempotent and stragglers lose to what already
    // won. Reading bucket leaf dirs directly skips partition discovery, so
    // no __gb column rides along; only touched buckets are ever opened.
    val reread = probed.getOrElse(Set.empty).filter(live).toSeq.sorted
    val input =
      if (reread.isEmpty) batch
      else spark.read.parquet(reread.map(i => new Path(target, s"$BucketCol=$i").toString): _*)
        .unionByName(batch)

    // One exchange, by bucket, to an explicit width AQE leaves alone (the
    // same cap as Par.widen): each bucket lands whole in one task, which
    // merges it and writes its one file under _tmp/__gb=<i>. __gb is a
    // function of the key, so partitioning the window by (__gb, key) keeps
    // the key groups, and its sort (__gb first) is the order the
    // partitioned write needs. Spark's hash deals the bucket ids unevenly
    // (32 over 4 tasks: 5/10/7/10); an even round-robin deal measured no
    // end-to-end gain on snapshot_load, so the plain hash stays. Last
    // event per key wins — (op_offset, after-image-beats-before-image),
    // tombstones retained.
    val width = math.min(probed.fold(buckets)(_.size),
      math.min(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions", "200").toInt))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((col(BucketCol) +: pkCols.map(col)): _*)
      .orderBy(graft.operators.ChangelogOps.EventOrder.desc)
    val merged = input
      .withColumn(BucketCol, bucketOf)
      .repartition(width, col(BucketCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val tmp = new Path(target, "_tmp")
    merged.write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)

    // Tombstones are kept, so every key the write saw stages a row and the
    // staged set is exactly the set of buckets the write touched. A staged
    // bucket outside the probed set means the probe and the write saw
    // different rows (a nondeterministic plan re-executed without a
    // barrier): its live rows were never re-read, and swapping it in would
    // lose them. Fail before the first rename, state untouched.
    val staged = bucketIds(fs, tmp)
    probed.foreach { p =>
      val unread = staged -- p
      if (unread.nonEmpty) {
        fs.delete(tmp, true)
        throw new IllegalStateException(
          s"UpsertSink merge into $target staged buckets ${unread.toSeq.sorted.mkString(",")} " +
            "that the touched-bucket probe did not see: the batch re-executed to different " +
            "rows (nondeterministic plan). Aborted before the swap; state is unchanged. " +
            "Mark the UDF asNondeterministic(), or persist the batch.")
      }
    }

    swapBuckets(fs, target, tmp, staged)
    }
    } finally { if (doPersist) batch0.unpersist(); () }
    }
  }

  private val BucketDir = s"$BucketCol=(\\d+)".r

  /** Bucket ids of the `__gb=<i>` directories directly under `dir`. */
  private def bucketIds(fs: FileSystem, dir: Path): Set[Int] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case BucketDir(i) => i.toInt }.toSet

  /** The buckets `batch` touches, in ONE map-only job: each partition sets
    * its rows' bucket ids in a bitset, the driver ORs the bitsets. Bounded
    * driver collect: one `buckets`-bit set per partition. */
  private def touchedBuckets(batch: DataFrame, bucketOf: Column, buckets: Int): Set[Int] = {
    import batch.sparkSession.implicits._
    val seen = new java.util.BitSet(buckets)
    batch.select(bucketOf).as[Int].mapPartitions { ids =>
      val bits = new java.util.BitSet(buckets)
      ids.foreach(i => bits.set(i))
      Iterator.single(bits.toLongArray)
    }.collect().foreach(words => seen.or(java.util.BitSet.valueOf(words)))
    seen.stream().toArray.toSet
  }

  /** Whether a micro-batch plan is worth a persist barrier across the
    * sink's two actions: barrier iff the upstream contains an
    * aggregation / join / window / dedup / arbitrary-state operator —
    * those re-execute a shuffle (and, under foreachBatch, a state-store
    * read) per action, which always costs more than one cache
    * materialization; a narrow source-decode plan re-executes cheaper
    * than it caches — or any NONDETERMINISTIC expression, whose second
    * execution may produce different rows than the probe saw. */
  private[graft] def shouldPersistBatch(batch: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    batch.queryExecution.analyzed.exists {
      case _: Aggregate | _: Join | _: Window | _: Deduplicate => true
      case _: FlatMapGroupsWithState                           => true
      case p => p.expressions.exists(!_.deterministic)
    }
  }

  /** Purge tombstone rows from every bucket — run when the caller knows no
    * event with a lower offset than any tombstone can still arrive (e.g.
    * the stream is caught up, or the upstream log is offset-ordered per
    * key, which a real binlog is). Same per-bucket crash-safe swap as the
    * merge; a bucket left fully empty is removed. */
  def compact(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, target) {
    recover(spark, path)
    val live = bucketIds(fs, target)
    if (live.nonEmpty) {
    val tmp = new Path(target, "_tmp")
    // partition discovery supplies __gb; live rows rewrite, tombstones drop
    spark.read.parquet(path).filter(col("op") =!= "d")
      .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)
    swapBuckets(fs, target, tmp, live)
    }
    }
  }

  /** How long a writer lease stays authoritative after its holder stops
    * refreshing it (i.e. crashed mid-merge, since a lease is created at
    * merge start and deleted at merge end). A merge holds the lease for
    * seconds, so 15 minutes cleanly separates "live writer" from "crash
    * debris" without an operator in the loop. */
  val LeaseTtlMs: Long = 15L * 60 * 1000

  /** Single-writer lease entry point — every maintained-table writer
    * (the sink's merges/compactions, [[graft.operators.BucketedOps
    * .idempotentAppend]]/`compactManifest`/`foldSpool`/marker vacuum)
    * routes here. Dispatch (round-13 verdict, what's-missing #3):
    *
    *   1. a [[WriterLease]] registered for the target's URI scheme wins —
    *      the SPI seam for object stores (DynamoDB/ZooKeeper/etcd lock
    *      services, a table format's transaction log);
    *   2. no registration + a scheme DOCUMENTED non-atomic (s3/s3a/s3n,
    *      gs, wasb/wasbs, oss, swift — rename is copy+delete and/or
    *      create is last-writer-wins there) → refuse LOUDLY with an
    *      actionable exception instead of silently running a lease whose
    *      primitives don't hold (two writers would both "win" and tear
    *      the snapshot);
    *   3. otherwise [[FsAtomicWriterLease]], correct wherever
    *      create-no-overwrite and rename are single-winner atomic (HDFS,
    *      local/POSIX; abfss with a hierarchical namespace also qualifies
    *      and is deliberately NOT refused). */
  private[graft] def withWriterLease[T](fs: FileSystem, target: Path)(body: => T): T =
    dispatchLease(fs, target).withLease(fs, target)(body)

  /** The dispatch decision alone — which [[WriterLease]] a target gets, or
    * the refusal — factored out of [[withWriterLease]] so the scheme rules
    * (registry wins, documented-non-atomic refused, everything else
    * default) are testable without running lock I/O against a scheme the
    * test filesystem cannot serve (WriterLeaseSpiSpec pins the abfss
    * exemption and the case normalization through this seam). */
  private[graft] def dispatchLease(fs: FileSystem, target: Path): WriterLease = {
    // URI schemes are case-insensitive (RFC 3986 §3.1): normalize before
    // the registry lookup AND the refusal check, or 'S3A://…' would bypass
    // both and silently run the filesystem lease on S3 — the exact torn-
    // snapshot hazard this dispatch exists to prevent
    val scheme = Option(target.toUri.getScheme)
      .orElse(Option(fs.getUri).flatMap(u => Option(u.getScheme)))
      .getOrElse("file").toLowerCase(java.util.Locale.ROOT)
    Option(leaseRegistry.get(scheme)) match {
      case Some(custom) => custom
      case None if NonAtomicSchemes(scheme) =>
        throw new IllegalStateException(
          s"$target is on '$scheme', where the filesystem lease's primitives " +
            "(atomic create-no-overwrite, single-winner rename) do NOT hold — " +
            "running it there admits concurrent writers that tear the snapshot. " +
            "Plug a real lock service via UpsertSink.registerWriterLease(" +
            s""""$scheme", lease), or write through a table format's """ +
            "transaction log.")
      case None => FsAtomicWriterLease
    }
  }

  /** Schemes whose public documentation rules out the lease's primitives.
    * abfs/abfss are absent on purpose: with a hierarchical namespace both
    * primitives are atomic there. */
  private val NonAtomicSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "swift")

  private val leaseRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, WriterLease]()

  /** Register a [[WriterLease]] for a URI scheme (e.g. "s3a" backed by a
    * DynamoDB lock). Replaces any previous registration for the scheme. */
  def registerWriterLease(scheme: String, lease: WriterLease): Unit =
    { leaseRegistry.put(scheme.toLowerCase(java.util.Locale.ROOT), lease); () }

  /** Remove a scheme's registration (falls back to the default dispatch). */
  def unregisterWriterLease(scheme: String): Unit =
    { leaseRegistry.remove(scheme.toLowerCase(java.util.Locale.ROOT)); () }

  /** Advisory single-writer lease on the filesystem's own atomic
    * primitives (see [[UpsertSink]]'s concurrency contract):
    * `_graft_writer.lock` is created atomically
    * (`create(overwrite = false)` — one winner per filesystem semantics),
    * held for the duration of `body`, deleted at the end. A fresh foreign
    * lease fails fast. A stale one (older than [[UpsertSink.LeaseTtlMs]])
    * is broken by RENAMING it aside — rename is the single-winner
    * primitive, so two breakers can never each believe they cleared the
    * way (a delete here could remove ANOTHER breaker's freshly re-created
    * lock and seat two writers). While `body` runs, a daemon thread
    * refreshes the lease every TTL/3 by REWRITING the lock file
    * (create-overwrite bumps the mtime everywhere — `FileSystem.setTimes`
    * is a silent no-op on stores that don't implement it, which would let
    * a >TTL merge's live lease be broken mid-body); a transient refresh
    * IOException is retried at the next tick, never fatal to the
    * refresher.
    *
    * FILESYSTEM REQUIREMENT: both the acquire (`create(overwrite=false)`)
    * and the stale break (rename) rely on SINGLE-WINNER atomic semantics —
    * true on HDFS and local/POSIX filesystems, NOT on S3 (S3A rename is
    * copy+delete and create is last-writer-wins). [[UpsertSink
    * .withWriterLease]]'s dispatch refuses those schemes unless a custom
    * [[WriterLease]] is registered. */
  object FsAtomicWriterLease extends WriterLease {
    def withLease[T](fs: FileSystem, target: Path)(body: => T): T = {
    fs.mkdirs(target)
    val lock = new Path(target, "_graft_writer.lock")
    def writeLock(overwrite: Boolean): Unit = {
      val out = fs.create(lock, overwrite)
      try out.write(java.util.UUID.randomUUID.toString.getBytes("UTF-8"))
      finally out.close()
    }
    def tryAcquire(): Boolean =
      try { writeLock(overwrite = false); true }
      catch { case _: java.io.IOException => false }
    val acquired = tryAcquire() || {
      val status =
        try Some(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      // no status = the other writer just finished: race the re-create
      // directly. A status older than the TTL is crash debris — break it
      // via atomic rename; ONLY the winning renamer proceeds to re-create,
      // every loser sees rename=false and fails the acquire.
      val stale = status.forall(s =>
        System.currentTimeMillis() - s.getModificationTime > LeaseTtlMs)
      val broken = stale && status.forall { _ =>
        val aside = new Path(target,
          s"_graft_writer.lock.broken.${java.util.UUID.randomUUID}")
        try { val won = fs.rename(lock, aside); if (won) fs.delete(aside, false); won }
        catch { case _: java.io.IOException => false }
      }
      broken && tryAcquire()
    }
    if (!acquired)
      throw new java.util.ConcurrentModificationException(
        s"$target is being written by another UpsertSink writer " +
          "(_graft_writer.lock is fresh). The sink's on-disk contract is " +
          "SINGLE WRITER PER PATH: a compaction racing a streaming merge " +
          "would interleave bucket swaps and tear the snapshot. Run " +
          "compact() from the stream's own foreachBatch " +
          "(compactEveryBatches), or wait for the lease to expire.")
    val refresher = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(LeaseTtlMs / 3)
          // heartbeat = rewrite, not setTimes: overwrite bumps the mtime on
          // every FileSystem; a store-specific setTimes no-op would leave
          // the lease looking stale mid-merge. A transient IOException must
          // not kill the refresher — retry at the next tick (the lease
          // stays fresh for a full TTL, so one missed beat is harmless).
          try writeLock(overwrite = true)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-refresh-$target")
    refresher.setDaemon(true); refresher.start()
    // Release order matters: JOIN the refresher before deleting the lock.
    // interrupt() alone races an in-flight heartbeat — if it lands between
    // the sleep returning and fs.create(lock, true) completing, the lock is
    // recreated AFTER the delete and orphaned with a fresh mtime, blocking
    // every subsequent writer for up to LeaseTtlMs. interrupt() during
    // sleep exits immediately; join() only waits out an in-flight create.
    try body finally {
      refresher.interrupt(); refresher.join(); fs.delete(lock, false)
    }
    }
  }

  /** Crash recovery: restore any bucket a previous merge left mid-swap
    * (live dir gone, `_old/` copy present) and clear staging. Call before
    * starting the query (cheap no-op in the common case). */
  def recover(spark: SparkSession, path: String): Unit = {
    restoreSaveAsides(spark, path)
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(target, "_tmp"), true)
  }

  private def restoreSaveAsides(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(target, "_old")
    if (fs.exists(old)) fs.listStatus(old).foreach { st =>
      val live = new Path(target, st.getPath.getName)
      if (!fs.exists(live)) renameOrDie(fs, st.getPath, live)
      else fs.delete(st.getPath, true) // swap completed; stale save-aside
    }
  }

  /** The per-bucket swap both writers commit through: for each bucket, drop
    * a stale save-aside, move the live bucket aside to `_old/` if it
    * exists, move the staged bucket in from `tmp` if it exists (a bucket
    * [[compact]] left fully empty stages nothing and is removed), then drop
    * the save-aside; finally clear `tmp`. A crash leaves each bucket either
    * live or in `_old/`, which [[recover]] restores. Hadoop
    * FileSystem#rename reports failure by returning false; treating that as
    * success and proceeding to the deletes would destroy the only complete
    * copy of a bucket, so every rename is [[renameOrDie]]. */
  private def swapBuckets(fs: FileSystem, target: Path, tmp: Path, ids: Set[Int]): Unit = {
    val old = new Path(target, "_old")
    fs.mkdirs(old)
    ids.toSeq.sorted.foreach { i =>
      val name = s"$BucketCol=$i"
      val liveDir = new Path(target, name)
      val aside = new Path(old, name)
      val staged = new Path(tmp, name)
      if (fs.exists(aside)) fs.delete(aside, true)
      if (fs.exists(liveDir)) renameOrDie(fs, liveDir, aside)
      if (fs.exists(staged)) renameOrDie(fs, staged, liveDir)
      fs.delete(aside, true)
    }
    fs.delete(tmp, true)
  }

  private def renameOrDie(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed; " +
        "aborting (snapshot left intact for recover())")

  /** The bucket count is part of the on-disk format: read it back if the
    * state exists, persist it on first merge. */
  private def bucketCount(fs: FileSystem, target: Path, requested: Int): Int = {
    require(requested > 0, s"numBuckets must be positive, got $requested")
    val meta = new Path(target, "_graft_buckets")
    if (fs.exists(meta)) {
      val in = fs.open(meta)
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt
      finally in.close()
    } else {
      fs.mkdirs(target)
      val out = fs.create(meta, true)
      try out.write(requested.toString.getBytes("UTF-8")) finally out.close()
      requested
    }
  }
}
