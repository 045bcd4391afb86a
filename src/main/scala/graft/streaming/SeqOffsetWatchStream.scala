package graft.streaming

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset

import graft.transport.{NatsStreamNotFoundException, TransportAuth, TransportPool}

/** The shared chassis of the bucket WATCH streams (object store + KV):
  * seq-offset micro-batches over one JetStream stream, with
  *
  *   - a not-yet-created stream reading as an EMPTY watch (the bucket may
  *     be created by its first write, mid-query);
  *   - `durable` ack-floor seeding/committing (cross-job handoff, the
  *     message stream's contract);
  *   - `watch_updates_only` starting at the current head;
  *   - [[SeqOffsetStream]]'s admission control (`max_msgs_per_batch` in
  *     stream-seq units) and pinned Trigger.AvailableNow head;
  *   - ceil-split of each batch's seq range into ≤ `shards` slice
  *     partitions (replay parallelism; wire volume is set by the
  *     subclasses' server-side subject filters, not by slicing).
  *
  * Subclasses contribute only what differs: the partition shape and the
  * reader factory. */
abstract class SeqOffsetWatchStream(url: String, protected val stream: String,
                                    shards: Int, updatesOnly: Boolean,
                                    protected val maxPerBatch: Long,
                                    connectTimeoutMs: Long,
                                    auth: TransportAuth,
                                    durable: Option[String])
    extends SeqOffsetStream {

  /** one slice of one batch */
  protected def mkPartition(lo: Long, hi: Long): InputPartition

  protected def lastSeq: Long =
    try TransportPool.get(url, connectTimeoutMs, auth).streamInfo(stream).lastSeq
    catch { case _: NatsStreamNotFoundException => 0L }

  override def initialOffset(): Offset = durable match {
    case Some(d) => SeqOffset(
      TransportPool.get(url, connectTimeoutMs, auth).ackFloor(stream, d))
    case None => SeqOffset(if (updatesOnly) lastSeq else 0L)
  }

  override def commit(end: Offset): Unit =
    durable.foreach { d =>
      TransportPool.get(url, connectTimeoutMs, auth)
        .ackAll(stream, d, end.asInstanceOf[SeqOffset].seq)
    }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].seq + 1
    val hi = end.asInstanceOf[SeqOffset].seq
    if (hi < lo) Array.empty
    else {
      val width = math.max(1L, (hi - lo) / shards + 1L)
      Iterator.iterate(lo)(_ + width).takeWhile(_ <= hi)
        .map(s => mkPartition(s, math.min(hi, s + width - 1)))
        .toArray
    }
  }
}
