package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.NatsScanSource
import graft.streaming.SeqOffset

/** Offset contract of the message-store stream, driven through the public
  * DSv2 surface: the AvailableNow head is pinned at prepare time, and the
  * admission cap saturates instead of wrapping. */
class StoreStreamOffsetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def storeStream(opts: Map[String, String])
      : MicroBatchStream with SupportsTriggerAvailableNow = {
    val table = new NatsScanSource().getTable(NatsScanSource.envelopeSchema,
      Array.empty, opts.asJava).asInstanceOf[SupportsRead]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_offsets").toString
    table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream(ckpt)
      .asInstanceOf[MicroBatchStream with SupportsTriggerAvailableNow]
  }

  test("AvailableNow pins the native store's head at prepare time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pinned").toString
    val src = spark.read.format("nats_scan").option("dir", dir).load()
    src.filter(col("seq") <= 500L).write.format("nats_scan")
      .option("dir", tmp).mode("overwrite").save()
    val s = storeStream(Map("dir" -> tmp, "max_msgs_per_batch" -> "100"))
    s.prepareForTriggerAvailableNow()
    // a writer appends while the drain is running
    src.filter(col("seq") > 500L).write.format("nats_scan")
      .option("dir", tmp).mode("append").save()
    assert(spark.read.format("nats_scan").option("dir", tmp).load()
      .count() == 1000L)
    val limit = ReadLimit.allAvailable()
    assert(s.latestOffset(SeqOffset(450L), limit) == SeqOffset(500L))
    assert(s.latestOffset(SeqOffset(500L), limit) == SeqOffset(500L))
    assert(s.reportLatestOffset() == SeqOffset(500L))
    // a stream that never prepared tracks the live head
    val live = storeStream(Map("dir" -> tmp, "max_msgs_per_batch" -> "100"))
    assert(live.latestOffset(SeqOffset(450L), limit) == SeqOffset(550L))
  }

  test("max_msgs_per_batch = Long.MaxValue saturates instead of wrapping") {
    val s = storeStream(Map("dir" -> dir,
      "max_msgs_per_batch" -> Long.MaxValue.toString))
    val end = s.latestOffset(SeqOffset(5L), ReadLimit.allAvailable())
      .asInstanceOf[SeqOffset].seq
    assert(end >= 5L, s"offset moved backwards to $end")
    assert(end == 1000L)
  }
}
