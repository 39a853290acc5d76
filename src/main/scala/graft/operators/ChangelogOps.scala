package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators over op-column changelogs — the query-side half of
  * the reference's append-only contract (SURVEY.md §1.3): a changelog
  * DataFrame has physical columns ++ `op` ('c'/'r'/'u'/'d'), deletes carry
  * the before-image, updates appear as two rows with the same op.
  *
  * These are plain Catalyst plans (window/agg/filter), so they scale the way
  * Spark scales: materialize is one hash-partition-by-PK shuffle + in-
  * partition max_by, no driver state. At 100 TB the shuffle is keyed on the
  * PK, which is exactly the partitioning the downstream consumer of the
  * materialized table wants — Catalyst reuses it for subsequent joins/aggs
  * on the same key.
  */
object ChangelogOps {

  /** The total event order of a cdc-log changelog read with
    * `metadata.columns = "op_offset,row_kind"`: (op_offset,
    * after-image-wins) — an update's '+U' row supersedes its '-U' row at
    * the same offset. Every last-writer-wins fold orders by this. */
  private[graft] val EventOrder: Column =
    struct(col("op_offset"), when(col("row_kind") === "-U", 0).otherwise(1))

  /** Current-state materialization: last event per key wins (ordered by
    * `seq`), delete removes the row, and for updates the after-image row is
    * the later of the two 'u' rows (callers pass a `seq` that orders
    * before < after, e.g. a (offset, emit_idx) pair or a monotone row id).
    *
    * Equivalent SQL (DuckDB): QUALIFY ROW_NUMBER() OVER (PARTITION BY pk
    * ORDER BY seq DESC) = 1 ... WHERE op <> 'd'.
    */
  def materialize(changelog: DataFrame, pkCols: Seq[String], seqCol: Column): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(seqCol.desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "d")
      .drop("__rn")
  }

  /** Exact materialization of a cdc-log changelog read with
    * `metadata.columns = "op_offset,row_kind"`, ordered by [[EventOrder]].
    * Output drops the op/metadata columns. */
  def materializeExact(changelog: DataFrame, pkCols: Seq[String]): DataFrame =
    materialize(changelog, pkCols, EventOrder)
      .drop("op", "op_offset", "row_kind")

  /** Streaming variant of [[materializeExact]]: a continuously-updated
    * current-state view over an unbounded cdc-log stream (read with
    * `metadata.columns = "op_offset,row_kind"`). One streaming aggregation
    * keyed by PK whose state is the max-(offset, after-wins) row — the
    * Spark-native equivalent of the Flink SQL upsert materialization the
    * reference's ITCase aggregation relies on
    * (MySqlConnectorITCase.java:137-244).
    *
    * ==DO NOT USE WITH `outputMode("complete")` AT SCALE==
    * Complete mode re-emits EVERY live key every micro-batch: output work
    * is O(total state), not O(batch) — measured 5.2× super-linear at the
    * 10× scale probe (SCALE_PROBE_sf1.md, q43). It is fine for bounded
    * catch-up reads and tests, which is the only way the battery uses it.
    * For an unbounded production stream, either
    *  - keep this operator with `outputMode("update")` and an upserting
    *    sink that handles tombstones (`op === "d"`), or
    *  - skip the in-flight aggregation entirely and stream the raw
    *    changelog into [[graft.streaming.UpsertSink.upsertParquet]] +
    *    `readState` — O(batch) per merge, durable, idempotent
    *    on replay. That is the gated production path (q74/q78).
    */
  def materializeStreaming(changelog: DataFrame, pkCols: Seq[String]): DataFrame = {
    val payload = changelog.columns.filterNot(pkCols.contains).map(col)
    changelog.groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(payload: _*), EventOrder).as("__m"))
      .select(pkCols.map(col) ++
        changelog.columns.filterNot(pkCols.contains).map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Net effect of a changelog per key: +1 for create, -1 for delete, 0 for
    * read/update pairs — useful for row-count reconciliation. */
  def netRowDelta(changelog: DataFrame, pkCols: Seq[String]): DataFrame =
    changelog.groupBy(pkCols.map(col): _*).agg(
      sum(when(col("op") === "c", 1).when(col("op") === "d", -1).otherwise(0))
        .as("net_delta"),
      count(lit(1)).as("n_events"))

  /** SCD2 history materialization: every state a key ever held, with its
    * validity interval. State-bearing events (insert, update after-image)
    * open an interval at their offset; the NEXT event on the same key —
    * state-bearing or delete — closes it (half-open [from, to)). The
    * current state has valid_to NULL / is_current true; a deleted key has
    * no current row. One keyed shuffle + one lead() window per key —
    * history length per key bounds the window, not the corpus. */
  def scd2History(changelog: DataFrame, pkCols: Seq[String],
      offsetCol: String): DataFrame = {
    val stateBearing = col("op") === "c" ||
      (col("op") === "u" && col("row_kind") === "+U")
    val events = changelog.filter(stateBearing || col("op") === "d")
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(col(offsetCol))
    events
      .withColumn("valid_to", lead(col(offsetCol), 1).over(w))
      .filter(col("op") =!= "d")
      .withColumn("valid_from", col(offsetCol))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
