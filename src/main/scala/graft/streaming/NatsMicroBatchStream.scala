package graft.streaming

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import graft.sources.NatsScanScan

/** Seq-based micro-batch stream over the message store — the superset the
  * reference only roadmaps ("live tail", /root/reference/docs/GUIDE.md:479-482;
  * durable consumers :461-464). Offsets are JetStream sequence positions, so
  * checkpoint/recovery semantics are exactly "resume after seq N" — what a
  * durable consumer would give a live NATS deployment.
  *
  * Each micro-batch (lastOffset, thisOffset] is a replay of the batch scan
  * over that seq window ([[NatsScanScan.seqWindow]]): the same committed
  * files, row-group pruning and partition readers as the batch source;
  * `max_msgs_per_batch` caps batch size (backpressure knob, like
  * JetStream pull-consumer batch sizes).
  */
final class NatsMicroBatchStream(scan: NatsScanScan,
                                 protected val maxPerBatch: Long)
    extends SeqOffsetStream {

  protected def lastSeq: Long = scan.lastSeq

  override def initialOffset(): Offset = SeqOffset(0L)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** Spark plans one batch several times while it prepares the physical
    * plan, and each plan reads footers: keep the last window's plan. */
  private var lastPlan: (Long, Long, Array[InputPartition]) =
    (1L, 0L, Array.empty)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].seq + 1
    val hi = end.asInstanceOf[SeqOffset].seq
    if (hi < lo) Array.empty
    else {
      if (lastPlan._1 != lo || lastPlan._2 != hi) {
        val window = scan.seqWindow(lo, hi)
        val rows = window.createReaderFactory()
        lastPlan = (lo, hi, window.planInputPartitions()
          .map(p => StreamBatch(p, rows): InputPartition))
      }
      lastPlan._3
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = StreamReaderFactory
}

/** one row group of one micro-batch, with the reader factory of its window */
final case class StreamBatch(part: InputPartition, window: PartitionReaderFactory)
    extends InputPartition

object StreamReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition) = {
    val b = p.asInstanceOf[StreamBatch]
    b.window.createReader(b.part)
  }
}
