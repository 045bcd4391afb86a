package graft.streaming

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}

/** The offset half of every seq-axis micro-batch stream (the message
  * store, the transport tail and the bucket watches): offsets are stream
  * sequences, a batch serves (start, end], and
  *
  *   - admission control caps a batch at `maxPerBatch` seqs with a
  *     saturating add, so a huge cap cannot wrap below the committed
  *     offset (an AvailableNow query would then spin forever);
  *   - Trigger.AvailableNow drains up to the head AVAILABLE NOW: it is
  *     pinned at prepare time, so writes racing the drain land in the next
  *     run instead of extending this one on a hot stream. Other triggers
  *     (prepare never called) track the live head.
  *
  * A stream supplies its `lastSeq` and cap; everything else is here. */
trait SeqOffsetStream extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** the stream's newest available seq */
  protected def lastSeq: Long

  protected def maxPerBatch: Long

  @volatile private var availableNowCap: Long = -1L
  private def head: Long =
    if (availableNowCap >= 0L) availableNowCap else lastSeq

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = lastSeq

  override def latestOffset(): Offset = SeqOffset(head)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    val capped = if (maxPerBatch > Long.MaxValue - s) Long.MaxValue
                 else s + maxPerBatch
    SeqOffset(math.min(head, capped))
  }

  override def reportLatestOffset(): Offset = SeqOffset(head)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    SeqOffset(json.trim.toLong)
}

final case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}
