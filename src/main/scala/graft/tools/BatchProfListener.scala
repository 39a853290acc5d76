package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch duration profiler, registered via
  * `-Dspark.sql.streaming.streamingQueryListeners=graft.tools.BatchProfListener`
  * so EVERY session (the battery's cloned stream sessions included) reports
  * into the shared static sums. durationMs keys: triggerExecution,
  * queryPlanning, addBatch, getBatch, latestOffset, walCommit,
  * commitOffsets. Profiling-only — never set in Bench/Verify. */
final class BatchProfListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    BatchProfListener.batches.incrementAndGet()
    e.progress.durationMs.forEach { (k, v) =>
      BatchProfListener.sums.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
    }
    e.progress.stateOperators.foreach { so =>
      BatchProfListener.stateMs.addAndGet(
        so.allUpdatesTimeMs + so.allRemovalsTimeMs + so.commitTimeMs)
      BatchProfListener.stateRows.addAndGet(so.numRowsTotal)
    }
    BatchProfListener.stateOps.add(e.progress.stateOperators
      .map(so => s"${so.operatorName}:${so.numRowsTotal}").mkString("[", ",", "]"))
  }
}

object BatchProfListener {
  val sums = new ConcurrentHashMap[String, AtomicLong]()
  val batches = new AtomicLong
  val stateMs = new AtomicLong
  val stateRows = new AtomicLong
  /** Per micro-batch: each state operator's name and total state rows. */
  val stateOps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Clears the sums, e.g. after a warm-up run. */
  def reset(): Unit = {
    sums.clear(); batches.set(0); stateMs.set(0); stateRows.set(0); stateOps.clear()
  }
}
