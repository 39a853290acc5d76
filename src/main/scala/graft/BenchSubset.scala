package graft
import org.apache.spark.sql.SparkSession

/** Isolated-subset bench: runs ONLY the named queries (args), each
  * `SPARK_GRAFT_REPS` times (default 3) in a fresh JVM, with the same
  * settle gate, warm-up, fixture pre-materialization and inter-query GC
  * hygiene as [[Bench]]. Prints
  * one JSON line with per-query raw times + minimum.
  *
  * Purpose: separating engine cost from battery-context cost. A query that
  * is fast here but slow in the full [[Bench]] battery is suffering from
  * in-context pressure (heap history, code-cache pollution, accumulated
  * broadcast blocks), not a plan regression — exactly the q39/q32 drift
  * question round 5 left open. Also the harness for scale probes at
  * larger-than-default SF dirs (set SPARK_GRAFT_SF_DIR).
  *
  * Usage: runMain graft.BenchSubset q32_embedding_topk q39_cosine_near_dup */
object BenchSubset {
  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names, e.g. q32_embedding_topk")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val loadInitial = load1()
    val settleDeadline = System.nanoTime() + 15L * 60 * 1_000_000_000L
    var waited = 0
    val noSettle = sys.env.contains("SPARK_GRAFT_NO_SETTLE")
    while (!noSettle && load1() > 0.5 && System.nanoTime() < settleDeadline) {
      Thread.sleep(15000); waited += 15
    }
    val loadStart = load1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // MUST match Bench's static conf: with the default 100-entry codegen
      // cache a single large query (q102's funnel compiles dozens of
      // whole-stage/aggregate classes) thrashes the cache ACROSS ITS OWN
      // REPS, and the "isolated floor" measures Janino recompiles instead
      // of engine cost (measured: q102 16.7s min-of-4 without this conf
      // vs its 7.15s in-battery artifact time — the subset harness was
      // stricter-looking but actually noisier than the battery).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warm-up of the SAME queries on the smallest SF (untimed)
    val warmDir = {
      val tiny = new java.io.File("/root/testdata/sf0.001")
      if (tiny.isDirectory) tiny.getPath else sfDir
    }
    args.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    // the timed SF dir's fixtures, as Bench builds them — otherwise the
    // first rep of a staged query times its fixture build
    Bench.prepareFixtures(spark, sfDir)

    val results = args.toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); System.gc()
        (elapsed, err)
      }
      (name, times)
    }
    val qs = results.map { case (k, ts) =>
      val ok = ts.filter(_._2.isEmpty).map(_._1)
      val v = if (ok.isEmpty) -1.0 else ok.min
      s"\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val raws = results.map { case (k, ts) =>
      s"\"" + k + "\":[" + ts.map(t => if (t._2.isDefined) "-1" else t._1.toString).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val loadEnd = load1()
    println(s"""{"metric":"subset","unit":"sec","queries":$qs,"raw":$raws,"reps":$reps,"sf":"$sfDir","load1_initial":$loadInitial,"load1_start":$loadStart,"load1_end":$loadEnd,"settle_wait_sec":$waited}""")
    spark.stop()
  }
}
