package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism repair for CPU-heavy per-row operators (optimization
  * guide §2.5, "input skew: one huge unsplittable file").
  *
  * The expensive text/hash expressions of the dedup/curation family fuse
  * into the parquet SCAN stage, so their parallelism is the scan's split
  * count — and a single-row-group file (or any input with fewer splits
  * than cores) serializes the whole per-row pipeline no matter how many
  * cores are idle. [[widen]] repartitions UP to the session's default
  * parallelism only when the input has fewer partitions, shuffling just
  * the raw (id, text) rows; when the scan is already wide (the 100 TB
  * case: thousands of row groups) it is a no-op, so this never ADDS a
  * shuffle at scale. Keyed repartition (hash on the id) avoids the local
  * sort a round-robin repartition pays and is deterministic under task
  * retry. Streaming inputs are returned untouched (partitioning is the
  * source's contract, and `.rdd` is not available on them). */
object Par {
  private val BytesPerPartition = 8192L

  /** The widest an explicit repartition should go: the session's cores,
    * capped at its shuffle width. Respects the session's own partitioning
    * policy — a stream-scoped session pins shuffle.partitions low (4-8)
    * because its per-batch frames are small, and going past that would
    * undo the tuning and multiply task overhead. */
  def maxWidth(spark: SparkSession): Int =
    math.min(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  def widen(df: DataFrame, keys: Column*): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val cap = maxWidth(spark)
    // Volume-derived target under the cap (r17 verdict #5): a flat
    // core-count target over-parallelizes tiny inputs — the 8-core run
    // beat the 32-core run on the maintenance family because 32-way task
    // overhead exceeded the work per task. The per-partition byte budget
    // is deliberately tiny (8 KiB compressed): these operators
    // run hundreds of ns of CPU per input byte (128-perm MinHash,
    // shingling), so 8 KiB is tens of ms of work — enough to amortize a
    // task, small enough that any real corpus still widens to every core.
    val plan = df.queryExecution.optimizedPlan
    val size = plan.stats.sizeInBytes
    val target =
      if (!size.isValidLong || size <= 0) cap
      else math.min(cap.toLong,
        math.max(1L, (size.toLong + BytesPerPartition - 1) / BytesPerPartition)).toInt
    // The no-op check needs the input's partition count. df.rdd answers
    // exactly — but resolving the RDD of an AQE plan MATERIALIZES its
    // shuffle/broadcast stages early, running real jobs the actual query
    // then re-runs (measured on q102: the widen probe executed the
    // max-id aggregate + broadcast subtree a second time, ~5.5 s of task
    // time per call steady-state). So: ask the RDD only when the plan is
    // narrow (leaves/caches under projections/filters/unions — nothing
    // for AQE to execute); otherwise fall back to estimating the scan
    // width from bytes / split size, which at scale (thousands of row
    // groups) exceeds any core count so widen stays a no-op for free.
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: Union | _: SubqueryAlias =>
        p.children.forall(narrow)
      case _ => false
    }
    val parts: Long =
      if (narrow(plan)) df.rdd.getNumPartitions.toLong
      else {
        val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        if (!size.isValidLong || size <= 0) Int.MaxValue.toLong
        else (size.toLong + maxSplit - 1) / math.max(1L, maxSplit)
      }
    if (parts >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
