package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The memoize-and-prematerialize discipline every stored-state fixture
  * builder shares (round-10 verdict #8): a gated query that READS
  * maintained lake tables gets those tables from a builder that runs the
  * PAST days' jobs once per (SparkSession, sf dir) — the amortized-ingest
  * rule. Bench calls [[DataQueries.ensureStoredState]] (which fans out to
  * every builder) outside the timed window, so the gate queries time the
  * steady-state daily job, never the one-off generation build.
  *
  * Centralizing the pattern here exists to make the cache-invalidation
  * choreography impossible to get wrong per-builder: the round-10 q105 bug
  * (`792b08f`) was exactly a builder APPENDING to a table while a cached
  * plan still referenced it — Spark cascade-invalidates every plan
  * touching the table, the recompute re-screened day-1 against a manifest
  * that now contained day-1's own hashes, and 46 docs' bands silently
  * vanished at sf0.1. The rule, enforced by shape here: derive everything
  * you will append FROM A [[snapshot]] taken BEFORE the first append.
  */
private[graft] object Fixtures {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Memo]()

  /** Lazy holder so a build runs OUTSIDE the map's bin lock: builders
    * nest (every ensureDay2* calls its day-1 builder), and running the
    * inner build inside computeIfAbsent's mapping function throws
    * IllegalStateException("Recursive update") on JDK 9+ whenever the two
    * keys collide into one hash bin — nondeterministic per JVM because
    * keys embed identityHashCode(session). putIfAbsent publishes the
    * holder first; the lazy val's own monitor serializes duplicate
    * callers of the SAME key while nested DIFFERENT keys proceed freely. */
  private final class Memo(build: () => AnyRef) { lazy val value: AnyRef = build() }

  /** Run `build` once per (SparkSession, key) and memoize its result —
    * the once-per-(session, dir) contract of an ingest fixture. The WHOLE
    * build is inside the memo (not just the table write): builders that
    * sample/probe eagerly must not re-pay that scan on a repeated call. */
  def oncePerSession[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    val k = System.identityHashCode(s).toString + "|" + key
    val memo = new Memo(() => build)
    val prior = cache.putIfAbsent(k, memo)
    (if (prior == null) memo else prior).value.asInstanceOf[T]
  }

  /** Materialize a derivation to a temp parquet dir and hand back a frame
    * that reads the FILES — immune to the cascade invalidation an append
    * to any catalog table triggers (the q105 lesson; in production a
    * day's outputs are persisted files anyway, never live plans). Call
    * this on anything derived from a table you are ABOUT to append to,
    * before the append. */
  def snapshot(s: SparkSession, df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_snap_${tag}_")
    deleteTreeOnExit(dir)
    val p = dir.resolve("d").toString
    df.write.parquet(p)
    s.read.parquet(p)
  }

  /** Deletes `root` and everything under it, if it exists. A path that
    * cannot be deleted is skipped: cleanup of temp scaffolding must never
    * mask the caller's own result or exception. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p =>
          try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally all.close()
    }
  }

  /** deleteOnExit for a TREE: `File.deleteOnExit` removes only EMPTY
    * directories, so a fixture dir that later grows parquet state never
    * actually deletes — each battery run leaked those trees in /tmp
    * (ADVICE_r16 #4). One JVM-wide shutdown hook runs [[deleteTree]] on
    * every registered root; registration (not eager deletion) is required
    * because query fixtures return LAZY frames over the tree. */
  private val exitTrees = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      exitTrees.forEach(root => try deleteTree(root) catch { case _: Throwable => () })
    }, "graft-fixture-tree-cleanup"))
  def deleteTreeOnExit(p: java.nio.file.Path): Unit = {
    exitHookInstalled
    exitTrees.add(p)
  }
}
