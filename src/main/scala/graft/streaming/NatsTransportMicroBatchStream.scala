package graft.streaming

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset

import graft.sources.{NatsTransportPartition, NatsTransportReaderFactory, NatsScanSource}
import graft.transport.Transport

/** LIVE TAIL over the transport seam — the capability the reference only
  * roadmaps (/root/reference/docs/GUIDE.md:479-482): a micro-batch stream
  * whose offset axis is the JetStream sequence, polling the server's
  * LastSeq each trigger. New messages published between triggers appear in
  * the next batch; checkpointed offsets are plain seqs, so recovery is
  * "resume after seq N" — exactly a durable consumer's contract.
  *
  * Admission control (`max_msgs_per_batch`) bounds each batch the same way
  * the parquet-backed stream does; each batch's seq range splits into slice
  * partitions served by the batched-fetch readers (gap seqs simply never
  * arrive — a batch spanning deleted messages yields fewer rows, offsets
  * still advance past them).
  */
final class NatsTransportMicroBatchStream(url: String, stream: String,
                                          protected val maxPerBatch: Long,
                                          sliceWidth: Long,
                                          connectTimeoutMs: Long,
                                          auth: graft.transport.TransportAuth =
                                            graft.transport.TransportAuth.anonymous,
                                          fetchMode: String = "fetch",
                                          durable: Option[String] = None,
                                          subjectFilter: Option[String] = None)
    extends SeqOffsetStream {

  /** LastSeq polled from the server — one streamInfo RPC per trigger, on
    * the POOLED driver connection (a live tail triggering every 300 ms must
    * not pay a dial per trigger). */
  protected def lastSeq: Long =
    graft.transport.TransportPool.get(url, connectTimeoutMs, auth)
      .streamInfo(stream).lastSeq

  /** DURABLE mode (`option("durable", name)` — the GUIDE.md "consumer
    * groups / ack-based distribution" roadmap): the server's cumulative
    * ack floor seeds the FIRST offset when the Spark checkpoint has none,
    * and every committed batch acks its end seq back (AckAll). Within one
    * query lineage the checkpoint stays the source of truth (Spark only
    * calls initialOffset on an empty checkpoint), so recovery semantics
    * are unchanged; ACROSS jobs — a fresh checkpoint, the same durable —
    * the new job resumes after the last seq any predecessor committed.
    * That handoff is AT-LEAST-ONCE (a batch committed just before a lost
    * ack replays in the successor), exactly JetStream's AckAll contract;
    * pair it with an idempotent sink (Msg-Id publish dedup) when the
    * handoff must be exactly-once. */
  override def initialOffset(): Offset = durable match {
    case Some(d) => SeqOffset(
      graft.transport.TransportPool.get(url, connectTimeoutMs, auth)
        .ackFloor(stream, d))
    case None => SeqOffset(0L)
  }

  override def commit(end: Offset): Unit =
    durable.foreach { d =>
      graft.transport.TransportPool.get(url, connectTimeoutMs, auth)
        .ackAll(stream, d, end.asInstanceOf[SeqOffset].seq)
    }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].seq + 1
    val hi = end.asInstanceOf[SeqOffset].seq
    if (hi < lo) Array.empty
    else Iterator.iterate(lo)(_ + sliceWidth).takeWhile(_ <= hi).map { s =>
      NatsTransportPartition(url, stream, s,
        math.min(hi, s + sliceWidth - 1)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NatsTransportReaderFactory(NatsScanSource.envelopeSchema,
      Long.MinValue, Long.MaxValue, Nil, Nil, connectTimeoutMs,
      fetchMode = fetchMode, auth = auth, subjectFilter = subjectFilter)
}
