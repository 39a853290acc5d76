package graft.cdc

import graft.cdc.provider.{InMemoryChangeLogProvider, ProviderRegistry}
import graft.cdc.source.{CdcBatch, CdcMicroBatchStream, CdcOffset, CdcOptions, ChunkPartition}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bounded batch read and an `initial`-mode stream plan their chunks
  * through one planner: a first cohort that spans the table reads exactly
  * the (start, end) ranges of the batch read, on both planner paths and
  * for every key shape. Driven through the DSv2 offset API, no session. */
class BatchStreamPlanSpec extends AnyFunSuite {
  private type Range = (Option[ChunkKey.Key], Option[ChunkKey.Key])

  private def ranges(parts: Seq[InputPartition]): Seq[Range] =
    parts.map { case c: ChunkPartition => (c.start, c.end) }

  /** Plans `base` both ways and returns the common ranges. */
  private def planBothWays(name: String, meta: TableMeta, base: Seq[Array[Any]],
      chunkSize: Int): Seq[Range] = {
    ProviderRegistry.register(name, new InMemoryChangeLogProvider(meta, base, Seq.empty))
    val opts = CdcOptions.from(new CaseInsensitiveStringMap(Map(
      "provider.name" -> name,
      "scan.incremental.snapshot.chunk.size" -> chunkSize.toString).asJava))
    val produced = CdcOptions.producedSchema(meta.schema, Seq.empty)
    val batch = ranges(
      new CdcBatch(opts, meta.schema, produced, Seq(meta)).planInputPartitions().toSeq)
    val stream = new CdcMicroBatchStream(opts, meta.schema, produced, Seq(meta))
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    assert(end.snapshotDone, s"$name: the first cohort must span the table")
    assert(ranges(stream.planInputPartitions(start, end).toSeq) === batch, name)
    assert(batch.head._1.isEmpty && batch.last._2.isEmpty, name)
    batch
  }

  private def longTable(name: String, keys: Seq[Long], chunkSize: Int): Seq[Range] = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    planBothWays(name, TableMeta(TableId("plan", name), schema, Seq("id")),
      keys.map(k => Array[Any](k, k)), chunkSize)
  }

  private def bounds(rs: Seq[Range]): Seq[ChunkKey.Key] = rs.flatMap(_._2)

  test("batch read and first stream cohort plan the same ranges: numeric keys, even path") {
    val rs = longTable("plan-even", 0L until 100L, 10)
    assert(bounds(rs) === (10L to 90L by 10L).map(ChunkKey.of(_)))
  }

  test("batch read and first stream cohort plan the same ranges: numeric keys, uneven path") {
    val rs = longTable("plan-uneven", (0 until 10).map(_ * 10000L), 3)
    assert(bounds(rs) === Seq(20000L, 40000L, 60000L, 80000L).map(ChunkKey.of(_)))
  }

  test("batch read and first stream cohort plan the same ranges: string keys") {
    val schema = StructType(Seq(StructField("sku", StringType), StructField("qty", LongType)))
    val keys = Seq("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
    val rs = planBothWays("plan-string", TableMeta(TableId("plan", "string"), schema, Seq("sku")),
      keys.zipWithIndex.map { case (k, i) => Array[Any](k, i.toLong) }, 3)
    assert(bounds(rs) === Seq("cat", "eel", "gnu").map(ChunkKey.of(_)))
  }

  test("batch read and first stream cohort plan the same ranges: composite keys") {
    val schema = StructType(Seq(StructField("region", StringType),
      StructField("id", LongType), StructField("v", DoubleType)))
    val base = for (r <- Seq("x", "y"); i <- 0L until 6L) yield Array[Any](r, i, i.toDouble)
    val rs = planBothWays("plan-composite",
      TableMeta(TableId("plan", "composite"), schema, Seq("region", "id")), base, 4)
    assert(bounds(rs) === Seq(ChunkKey.of("x", 3L), ChunkKey.of("y", 0L), ChunkKey.of("y", 3L)))
  }
}
