package graft.cdc

import graft.SparkSpec
import graft.cdc.provider.{InMemoryChangeLogProvider, ProviderRegistry}
import graft.cdc.source.{CdcMicroBatchStream, CdcOffset, CdcOptions, ObservedHwStore}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Crash-window durability of executor-observed chunk HWs: a raise
  * reported by a racing chunk lives in the checkpoint sidecar
  * (ObservedHwStore), so a restart in the window after the chunk batch
  * commits but before the next offset persists the raise still applies it
  * — otherwise the log phase would re-emit (pinnedHW, observedHW]
  * (duplicates on a path advertised as exactly-once). Mirrors the
  * reference's FinishedSnapshotSplitsReport landing in a Flink checkpoint
  * (mysql/source/reader/MySqlSourceReader.java:275-305). */
class ObservedHwDurabilitySpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val meta = TableMeta(TableId("db", "t"), schema, Seq("id"))
  private val produced = CdcOptions.producedSchema(schema, Seq.empty)

  private def mkStream(name: String, ckpt: String): CdcMicroBatchStream = {
    val opts = CdcOptions.from(new CaseInsensitiveStringMap(
      Map("provider.name" -> name).asJava))
    new CdcMicroBatchStream(opts, schema, produced, Seq(meta), Some(ckpt))
  }

  test("observed-HW raise survives a driver restart via the checkpoint sidecar") {
    val p = new InMemoryChangeLogProvider(meta,
      Seq(Array[Any](1L, "a"), Array[Any](2L, "b")), Seq.empty)
    ProviderRegistry.register("hw-durable", p)
    val ckpt = java.nio.file.Files.createTempDirectory("hwck").toString
    val tid = meta.id.toString

    // stream #1 plans the snapshot cohort, pinning its HW
    val s1 = mkStream("hw-durable", ckpt)
    val o0 = s1.initialOffset().asInstanceOf[CdcOffset]
    val o1 = s1.latestOffset(o0, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    val cohort = o1.finished(tid).head
    val raisedHw = cohort.hw + 5

    // a racing chunk task persists its raise (as ChunkReader does) — then
    // the driver dies
    val encoded = CdcOffset.encodeObservedHw(tid, cohort.start, cohort.end, raisedHw)
    val conf = spark.sessionState.newHadoopConf()
    ObservedHwStore.persist(ObservedHwStore.dirOf(ckpt), conf, encoded)
    ObservedHwStore.persist(ObservedHwStore.dirOf(ckpt), conf, encoded) // task replay: idempotent

    // stream #2 = the restarted driver. The next planned offset must still
    // carry the raised HW, read from the sidecar.
    val s2 = mkStream("hw-durable", ckpt)
    val o2 = s2.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    assert(o2.finished(tid).exists(_.hw == raisedHw),
      s"sidecar raise not applied after restart: ${o2.finished(tid)}")

    // once the log position passes the raise, its file is pruned
    p.append(LogRecord(raisedHw + 1, ChangeOp.Create, meta.id, null,
      Array[Any](3L, "c"), 1L))
    val o3 = s2.latestOffset(o2, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
    assert(o3.logPos === raisedHw + 1)
    s2.latestOffset(o3, ReadLimit.allAvailable())
    val left = new java.io.File(ObservedHwStore.dirOf(ckpt))
      .listFiles().filter(_.getName.startsWith("hw-"))
    assert(left.isEmpty, s"obsolete sidecar reports not pruned: ${left.mkString(", ")}")
  }
}
