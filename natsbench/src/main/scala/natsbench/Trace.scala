package natsbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's own trace. Spans are recorded around each call the
  * benchmark makes into a layer's public function; the program itself is
  * not instrumented. Spans stay in memory and are written out when the run
  * ends. A disabled tracer records nothing and adds one branch per call.
  *
  * Span names follow the layer names the metrics use (`driver.plan`,
  * `nats.store_write`, `transport.publish`, `operators.ingest`, ...), so a
  * later trace inside the program can reuse them. */
final case class Span(id: Int, name: String, parent: Int, req: String,
                      startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  /** per thread: (span id, request id) of the open spans, innermost first */
  private val open = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }

  /** run `f` inside a span; `req` defaults to the enclosing span's request */
  def span[T](name: String, req: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val r = Option(req).orElse(stack.headOption.map(_._2)).getOrElse("run")
      val id = nextId.getAndIncrement()
      open.set((id, r) :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        done.synchronized { done += Span(id, name, parent, r, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** duration minus the part of it covered by child spans, per span */
  def selfNs: Map[Int, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Trace.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** per span name: count, total and self time in ms */
  def summary: Seq[(String, Int, Double, Double)] = {
    val self = selfNs
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(s => s.endNs - s.startNs).sum / 1e6,
        ss.map(s => self(s.id)).sum / 1e6)
    }
  }

  def writeJson(file: java.io.File): Unit = {
    val self = selfNs
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      w.println("[")
      val all = spans.sortBy(_.startNs)
      all.zipWithIndex.foreach { case (s, i) =>
        w.print(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
          s""""req":"${s.req}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""self_ns":${self(s.id)}}""")
        w.println(if (i < all.size - 1) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}

object Trace {
  /** length of the union of [start, end) intervals */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** the local property that tags the jobs a request submits */
  val ReqProperty = "natsbench.req"
}

/** Spark driver and task work, per job, as the listener bus reports it. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val req: Option[String],
                  val description: String) {
    @volatile var endMs: Long = -1L
    var tasks = 0
    var failedTasks = 0
    var inputTasks = 0
    var recordsRead = 0L
    var bytesRead = 0L
    var cpuNs = 0L
    /** the transport scans' DSv2 custom metrics, by `ScanMetrics` name */
    val scan = mutable.HashMap[String, Long]().withDefaultValue(0L)
  }

  /** DSv2 custom metrics reach the listener as task accumulables named by
    * their description */
  private val scanMetricNames: Map[String, String] = {
    import graft.sources.ScanMetrics._
    Seq(new FetchRpcsMetric, new MsgsEmittedMetric, new MsgsFilteredMetric)
      .map(m => m.description() -> m.name()).toMap
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val j = new Job(e.jobId, e.time,
      props.flatMap(p => Option(p.getProperty(Trace.ReqProperty))),
      props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.recordsRead += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) j.inputTasks += 1
        j.bytesRead += m.inputMetrics.bytesRead
        j.cpuNs += m.executorCpuTime
      }
      e.taskInfo.accumulables.foreach { acc =>
        for (d <- acc.name; n <- scanMetricNames.get(d); v <- acc.update)
          v match {
            case l: java.lang.Long => j.scan(n) += l.longValue
            case _ => ()
          }
      }
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toList)

  /** wait until every started job has ended and its events have arrived
    * (the listener bus is asynchronous) */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((jobs.size, jobs.values.count(_.endMs < 0)))
      if (n != last || open > 0) { last = n; stableSince = System.currentTimeMillis() }
      else if (System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(50)
    }
  }
}

/** Micro-batch progress records, as Structured Streaming reports them. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
