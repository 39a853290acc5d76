package graft.cdc

import scala.collection.mutable.ArrayBuffer

/** Snapshot chunk planning — a Scala re-derivation of the reference's
  * distribution-factor chunking (mysql/source/assigners/ChunkSplitter.java:
  * 76-118 generateSplits, :144-161 factor decision, :171-194 even split,
  * :197-245 uneven split, :284-309 factor math).
  *
  * Planning is driver-side and cheap: two MIN/MAX probes plus an approximate
  * row count decide between arithmetic even stepping (no further queries)
  * and query-driven uneven chunking (one boundary probe per chunk). At 100 TB
  * this is exactly the part that must NOT scan data — it only issues
  * aggregate probes the upstream store answers from its index/stats, then
  * hands each resulting range to a parallel executor-side reader.
  */
object ChunkSplitter {

  /** Config mirroring MySqlSourceOptions defaults
    * (mysql/source/config/MySqlSourceOptions.java:103-108,186-208). */
  final case class Config(
      chunkSize: Int = 8096,
      distributionFactorUpper: Double = 1000.0,
      distributionFactorLower: Double = 0.05)

  /** Boundary oracle for uneven chunking: the max key of the next chunk,
    * i.e. SELECT MAX(pk) FROM (SELECT pk FROM t WHERE pk >= from ORDER BY pk
    * LIMIT chunkSize) (reference StatementUtils.java:99-130). Returns None
    * when fewer than chunkSize keys remain past `from`. Works for ANY
    * orderable key (string / binary / composite) — the store answers the
    * boundary query from its PK index regardless of key type. */
  type NextChunkEnd = (ChunkKey.Key, Int) => Option[ChunkKey.Key]

  /** (max - min + 1) / rowCount (reference ChunkSplitter.java:284-309). */
  def distributionFactor(min: Long, max: Long, rowCount: Long): Double =
    if (rowCount == 0) Double.MaxValue
    else (max - min + 1).toDouble / rowCount.toDouble

  def isEvenlyDistributed(factor: Double, cfg: Config): Boolean =
    factor >= cfg.distributionFactorLower && factor <= cfg.distributionFactorUpper

  /** The one chunk planner (reference ChunkSplitter.generateSplits:76-118
    * + splitTableIntoChunks:144-161): up to `maxChunks` chunks of the
    * keyspace from `cursor` (None = start of table), optionally clamped so
    * the window ends exactly at `clampEnd` (replaying a cohort whose outer
    * range a persisted offset already fixed). With the defaults it is the
    * full plan: first chunk unbounded below, last unbounded above. Returns
    * (chunks, nextCursor); nextCursor None = table fully planned (last
    * chunk unbounded above, or clamped).
    *
    * A single-column numeric key takes the probe-free arithmetic path when
    * evenly distributed: steps of dynamicChunkSize = factor × chunkSize
    * (min 1), no further queries (reference :155,171-194). Every other key
    * shape (string / binary / composite), and a numeric key outside the
    * factor bounds, is chunked by boundary probes (reference :197-245) —
    * the same behavior as the reference's isEvenlySplitColumn gate. A table
    * of zero rows is one unbounded chunk.
    *
    * Why windows: persisting EVERY pending chunk range in the offset is
    * O(table/chunkSize) JSON per micro-batch — at 100 TB that is a
    * checkpoint-killer. A cursor is O(1); each admission plans only its
    * cohort. Under concurrent mutation the interior boundaries of a window
    * may differ between admission and replay — that is sound, because
    * correctness comes from the (outer range, high watermark) bracket, not
    * from a specific interior chunking: any contiguous partition of the
    * persisted cohort range reads the same union of rows. */
  def planWindow(tableId: TableId, min: ChunkKey.Key, max: ChunkKey.Key,
      approxRowCount: Long, cfg: Config, nextChunkEnd: NextChunkEnd,
      cursor: Option[ChunkKey.Key] = None, maxChunks: Int = Int.MaxValue,
      clampEnd: Option[Option[ChunkKey.Key]] = None)
      : (Seq[SnapshotSplit], Option[ChunkKey.Key]) = {
    require(maxChunks >= 1, s"maxChunks must be >= 1, got $maxChunks")
    val terminalEnd: Option[ChunkKey.Key] = clampEnd.getOrElse(None)
    def pastClamp(k: ChunkKey.Key): Boolean = clampEnd match {
      case Some(Some(ce)) => ChunkKey.compare(k, ce) >= 0
      case _              => false
    }
    val out = ArrayBuffer.empty[SnapshotSplit]
    var chunkStart: Option[ChunkKey.Key] = cursor
    def terminal(): (Seq[SnapshotSplit], Option[ChunkKey.Key]) = {
      out += SnapshotSplit(tableId, out.size, chunkStart, terminalEnd)
      (out.toSeq, None)
    }
    if (approxRowCount == 0) return terminal()
    val evenParams: Option[(Long, Long)] =
      (ChunkKey.asLong(min), ChunkKey.asLong(max)) match {
        case (Some(mn), Some(mx)) =>
          val factor = distributionFactor(mn, mx, approxRowCount)
          if (isEvenlyDistributed(factor, cfg))
            Some((mx, math.max(math.round(factor * cfg.chunkSize), 1L)))
          else None
        case _ => None
      }
    evenParams match {
      case Some((mx, dynamic)) =>
        var start = chunkStart.flatMap(ChunkKey.asLong)
          .getOrElse(ChunkKey.asLong(min).get)
        while (true) {
          val end = start + dynamic
          if (end > mx || pastClamp(ChunkKey.of(end))) return terminal()
          out += SnapshotSplit(tableId, out.size, chunkStart, Some(ChunkKey.of(end)))
          chunkStart = Some(ChunkKey.of(end))
          start = end
          if (out.size == maxChunks) return (out.toSeq, Some(ChunkKey.of(end)))
        }
        throw new IllegalStateException("unreachable")
      case None =>
        var from = chunkStart.getOrElse(min)
        while (true) {
          nextChunkEnd(from, cfg.chunkSize)
            .filter(k => ChunkKey.compare(k, max) < 0 && !pastClamp(k)) match {
            case Some(end) if chunkStart.contains(end) =>
              // boundary did not advance (heavy duplicate keys): ask for
              // the boundary strictly past `end` (nextChunkEnd's `from` is
              // inclusive) — step a numeric key, re-probe one key on for
              // any other shape
              from = ChunkKey.asLong(end) match {
                case Some(l) => ChunkKey.of(l + 1)
                case None    => nextChunkEnd(end, 2).getOrElse(max)
              }
            case Some(end) =>
              out += SnapshotSplit(tableId, out.size, chunkStart, Some(end))
              chunkStart = Some(end)
              from = end
              if (out.size == maxChunks) return (out.toSeq, Some(end))
            case None => return terminal()
          }
        }
        throw new IllegalStateException("unreachable")
    }
  }
}
