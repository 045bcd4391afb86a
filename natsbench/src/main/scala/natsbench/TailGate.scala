package natsbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamingDedup

/** The `tail_gate` workload: a NATS stream tailed through
  * `readStream.format("nats_scan").option("url")` into a `foreachBatch`
  * that calls only the public gate API (`StreamingDedup.ingest`, bucketed
  * index, inline auto-compaction), as a deployment would. Nothing drains
  * the program's caches between batches. */
object TailGate {
  /** inline auto-compaction once a bucket holds more band files than this */
  val CompactThreshold = 4

  /** one pipeline: its stream, checkpoint, index and output */
  final class Pipeline(val name: String, root: File) {
    val indexDir: String = new File(root, s"$name-index").getAbsolutePath
    val outDir: String = new File(root, s"$name-out").getAbsolutePath
    val checkpoint: String = new File(root, s"$name-ckpt").getAbsolutePath
    def cfg: StreamingDedup.Config = StreamingDedup.Config(indexDir, outDir,
      bucketed = true, compactThreshold = CompactThreshold)
    /** (batch id, epoch ns at which foreachBatch returned) */
    val returns = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    /** (batch id, live index generation after the batch), traced only */
    val generations = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
  }

  def docsFrame(spark: SparkSession, url: String, stream: String,
                maxPerBatch: Int): DataFrame =
    spark.readStream.format("nats_scan")
      .option("url", url).option("stream", stream)
      .option("max_msgs_per_batch", maxPerBatch.toString)
      .load()
      .select(
        get_json_object(col("payload").cast("string"), "$.doc_id")
          .cast("long").as("doc_id"),
        get_json_object(col("payload").cast("string"), "$.text").as("text"))

  def start(spark: SparkSession, ctx: Ctx, p: Pipeline, url: String,
            stream: String, traced: Boolean,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val tr = if (traced) ctx.tracer else Ctx.off
    val handler: (DataFrame, Long) => Unit = { (df, id) =>
        val req = s"${p.name}-b$id"
        if (traced) df.sparkSession.sparkContext.setLocalProperty(Trace.ReqProperty, req)
        tr.span("streaming.batch", req) {
          tr.span("operators.ingest")(StreamingDedup.ingest(p.cfg)(df, id))
        }
        p.returns.add((id, Ctx.epochNs()))
        if (traced) {
          p.generations.add((id,
            graft.operators.DedupIndex.liveGeneration(df.sparkSession, p.indexDir)))
          df.sparkSession.sparkContext.setLocalProperty(Trace.ReqProperty, null)
        }
    }
    docsFrame(spark, url, stream, ctx.gen.sizes.maxMsgsPerBatch)
      .writeStream
      .option("checkpointLocation", p.checkpoint)
      .trigger(trigger)
      .foreachBatch(handler)
      .start()
  }

  /** committed end offset (a seq) per batch id, from the query's progress */
  def endOffsets(q: StreamingQuery): Map[Long, Long] =
    q.recentProgress.toSeq.filter(_.sources.nonEmpty).map(pr =>
      pr.batchId -> pr.sources.head.endOffset.trim.toLong).toMap

  /** block until a batch has committed `seq`; returns that batch's id */
  def awaitCommitted(q: StreamingQuery, seq: Long, timeoutS: Int): Long = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      endOffsets(q).filter(_._2 >= seq).keys.minOption match {
        case Some(b) => return b
        case None => Thread.sleep(10)
      }
    }
    throw new IllegalStateException(s"seq $seq not committed within ${timeoutS}s")
  }

  def survivors(spark: SparkSession, p: Pipeline): Seq[Long] =
    spark.read.parquet(p.outDir).select("doc_id").collect().map(_.getLong(0)).toSeq

  /** Warm-up during set-up: drain the warm stream with AvailableNow. */
  def warmUp(spark: SparkSession, ctx: Ctx, p: Pipeline, url: String): Option[String] = {
    val q = start(spark, ctx, p, url, Setup.WarmStream, traced = false,
      Trigger.AvailableNow())
    q.awaitTermination()
    compare(survivors(spark, p), ctx.gen.expectedSurvivors(ctx.gen.warmDocs.toSeq))
  }

  def compare(got: Seq[Long], want: Set[Long]): Option[String] =
    if (got.size == want.size && got.toSet == want) None
    else Some(s"${got.size} survivors (${got.toSet.size} distinct), expected " +
      s"${want.size}; missing ${(want -- got).take(5)}, extra ${(got.toSet -- want).take(5)}")

  final class Result(val catchupS: Double, val tailLatS: Seq[Double],
                     val lateMsMax: Double, val publishNs: Long,
                     val published: Long, val wrong: Option[String],
                     val backlogMax: Long)

  /** The catch-up phase (closed loop: the backlog published during set-up)
    * and the tail phase (open loop: the generator publishes at a fixed rate
    * and stamps each message with its due time). */
  def run(spark: SparkSession, ctx: Ctx, p: Pipeline, fx: Fixture,
          traced: Boolean, afterCatchup: () => Unit): (Result, StreamingQuery) = {
    val gen = ctx.gen
    val backlogLast = fx.gateSeqs(Setup.GateStream).last
    val t0 = Ctx.epochNs()
    val q = start(spark, ctx, p, fx.url, Setup.GateStream, traced)
    val drainBatch = awaitCommitted(q, backlogLast, 150)
    val drainedAt = p.returns.asScala.find(_._1 == drainBatch).get._2
    val catchupS = (drainedAt - t0) / 1e9
    afterCatchup()

    // open loop: message i is due at tailStart + i / rate
    val rate = gen.sizes.tailRatePerS
    val tailStart = Ctx.epochNs()
    val due = Array.tabulate(gen.tail.length)(i => tailStart + i * 1000000000L / rate)
    val seqs = new Array[Long](gen.tail.length)
    val pubAt = mutable.ArrayBuffer[(Long, Long)]() // (epoch ns after publish, last seq)
    var lateNs = 0L
    var publishNs = 0L
    var i = 0
    val tr = if (traced) ctx.tracer else Ctx.off
    while (i < due.length) {
      val wait = due(i) - Ctx.epochNs()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val now = Ctx.epochNs()
      lateNs = math.max(lateNs, now - due(i))
      var j = i
      while (j < due.length && due(j) <= now) j += 1
      val entries = (i until j).map(k => graft.transport.PublishEntry(
        s"gate.d${gen.tail(k).id}", due(k), gen.tail(k).payload, s"tail-${gen.tail(k).id}"))
      val p0 = System.nanoTime()
      val got = tr.span("transport.publish", "tail")(
        fx.publisher.publishBatch(Setup.GateStream, entries.toArray))
      publishNs += System.nanoTime() - p0
      Array.copy(got, 0, seqs, i, got.length)
      pubAt += ((Ctx.epochNs(), got.last))
      i = j
    }
    awaitCommitted(q, seqs.last, 150)
    q.stop()

    // per tail message: due stamp -> return of the batch that committed it
    val ends = endOffsets(q).toSeq.sortBy(_._1)
    val returned = p.returns.asScala.toMap
    val lat = seqs.indices.map { k =>
      val b = ends.find(_._2 >= seqs(k)).get._1
      (returned(b) - due(k)) / 1e9
    }
    // backlog seen at each batch return: last published seq minus committed
    val backlogMax = ends.filter(_._1 > drainBatch).map { case (b, end) =>
      val at = returned(b)
      val last = pubAt.filter(_._1 <= at).lastOption.map(_._2).getOrElse(backlogLast)
      math.max(0L, last - end)
    }.maxOption.getOrElse(0L)
    val all = gen.backlog.toSeq ++ gen.tail.toSeq
    val wrong = compare(survivors(spark, p), gen.expectedSurvivors(all))
    (new Result(catchupS, lat, lateNs / 1e6, publishNs, seqs.length.toLong,
      wrong, backlogMax), q)
  }

  /** untraced catch-up of the same backlog in a fresh pipeline, for the
    * traced run's overhead ratio */
  def catchupOnly(spark: SparkSession, ctx: Ctx, p: Pipeline, fx: Fixture): Double = {
    val t0 = Ctx.epochNs()
    val q = start(spark, ctx, p, fx.url, Setup.GateStream, traced = false)
    val b = awaitCommitted(q, fx.gateSeqs(Setup.GateStream).last, 150)
    val s = (p.returns.asScala.find(_._1 == b).get._2 - t0) / 1e9
    q.stop()
    s
  }

  def indexFiles(p: Pipeline): Int = Setup.countFiles(new File(p.indexDir))
}
