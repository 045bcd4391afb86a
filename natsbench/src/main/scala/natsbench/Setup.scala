package natsbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.transport.{FakeJetStreamServer, JetStreamTransport, MiniNatsServer, PublishEntry}

/** One set-up round's products: the native store, the loopback server
  * holding the same stream plus the gate streams, and the generator's
  * own wire connection. */
final class Fixture(val storeDir: String,
                    val server: MiniNatsServer, val publisher: JetStreamTransport) {
  def url: String = server.url
  def store: Source = Source("dir", storeDir)
  def wire: Source = Source("url", url)
  /** seq the server assigned to each gate doc, by stream */
  val gateSeqs = scala.collection.mutable.HashMap[String, Array[Long]]()
  def close(): Unit = {
    try publisher.close() catch { case _: Exception => () }
    server.stop()
  }
}

object Setup {
  val EventStream = "events"
  val GateStream = "gate"
  val WarmStream = "gatewarm"

  private val envelope = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("subject", StringType),
    StructField("seq", LongType),
    StructField("ts_nats", TimestampType),
    StructField("payload", BinaryType)))

  /** the native store, written through the program's `nats_scan` sink */
  def writeStore(spark: SparkSession, gen: Gen, dir: String): Unit = {
    val rows = gen.events.toSeq.map(e => Row(EventStream, e.subject, e.seq,
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(e.tsUs,
        java.time.temporal.ChronoUnit.MICROS)), e.payload))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), envelope)
      .write.format("nats_scan").option("dir", dir).option("stream", EventStream)
      .mode("overwrite").save()
  }

  /** pipelined publishes of 500 entries each; returns the assigned seqs */
  def publish(t: JetStreamTransport, stream: String,
              entries: Seq[PublishEntry]): Array[Long] =
    entries.grouped(500).flatMap(g => t.publishBatch(stream, g.toArray)).toArray

  def eventEntries(gen: Gen, round: Int): Seq[PublishEntry] =
    gen.events.toSeq.map(e =>
      PublishEntry(e.subject, e.tsUs * 1000L, e.payload, s"r$round-e${e.seq}"))

  def gateEntries(docs: Seq[GateDoc], round: Int, tsNs: Long): Seq[PublishEntry] =
    docs.map(d => PublishEntry(s"gate.d${d.id}", tsNs, d.payload,
      s"r$round-g${d.id}"))

  def startServer(): MiniNatsServer = {
    val s = new MiniNatsServer(new FakeJetStreamServer)
    s.start()
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
    else if (f.isFile) 1 else 0
}
