package natsbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ScanMetrics
import graft.transport.Transport

/** The per-layer metrics of a traced run. Each is computed from what the
  * benchmark observed at its own call sites, the listeners, and the
  * program's public counters; BENCHMARK.json names the end-to-end metric
  * each one should move. A layer the workload does not exercise reports 0. */
object Layers {
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b

  private def unionMs(js: Seq[JobListener#Job]): Double =
    Trace.unionLength(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))).toDouble

  /** driver, sources and transport-scan metrics over a set of requests
    * (queries, or gate batches) given their wall times; returns each
    * request's jobs */
  private def perRequest(out: Metrics, jobs: JobListener,
                         wallMs: Map[String, Double]): Map[String, Seq[JobListener#Job]] = {
    jobs.settle()
    val byReq = jobs.snapshot.filter(_.req.exists(wallMs.contains)).groupBy(_.req.get)
    val reqs = wallMs.keys.toSeq
    def per(f: Seq[JobListener#Job] => Double): Double =
      mean(reqs.map(r => f(byReq.getOrElse(r, Nil))))
    def total(f: JobListener#Job => Long): Double = byReq.values.flatten.map(f).sum.toDouble
    out.layer("driver.jobs_per_query", per(_.size.toDouble), "count")
    out.layer("driver.tasks_per_query", per(_.map(_.tasks).sum.toDouble), "count")
    out.layer("driver.gap_ms", mean(reqs.map(r =>
      math.max(0.0, wallMs(r) - unionMs(byReq.getOrElse(r, Nil))))), "ms")
    out.layer("driver.task_failures", jobs.snapshot.map(_.failedTasks).sum.toDouble, "count")
    out.layer("sources.rows_read", per(_.map(_.recordsRead).sum.toDouble), "rows")
    out.layer("sources.bytes_read", per(_.map(_.bytesRead).sum.toDouble), "bytes")
    out.layer("sources.task_cpu_ms", per(_.map(_.cpuNs).sum / 1e6), "ms")
    out.layer("transport.fetch_rpcs", per(_.map(_.scan(ScanMetrics.FetchRpcs)).sum.toDouble), "count")
    out.layer("transport.msgs_emitted", per(_.map(_.scan(ScanMetrics.MsgsEmitted)).sum.toDouble), "msgs")
    out.layer("transport.msgs_filtered", per(_.map(_.scan(ScanMetrics.MsgsFiltered)).sum.toDouble), "msgs")
    val emitted = total(_.scan(ScanMetrics.MsgsEmitted))
    out.layer("transport.useful_ratio",
      ratio(emitted, emitted + total(_.scan(ScanMetrics.MsgsFiltered))), "ratio")
    byReq
  }

  def queries(out: Metrics, jobs: JobListener,
              traced: Seq[QueryWorkload.Timed], plain: Seq[QueryWorkload.Timed]): Unit = {
    val byReq = perRequest(out, jobs, traced.map(t => t.req -> t.wallNs / 1e6).toMap)
    out.layer("driver.plan_ms", mean(traced.map(_.planNs / 1e6)), "ms")
    out.layer("sources.partitions", mean(traced.map(_.partitions.toDouble)), "count")
    val sel = traced.filter(_.q.selective)
    out.layer("sources.prune_ratio", ratio(sel.map(_.q.matched.toDouble).sum,
      sel.map(t => byReq.getOrElse(t.req, Nil).map(_.recordsRead).sum.toDouble).sum), "ratio")
    out.layer("transport.conversations", mean(traced.map(_.convs.toDouble)), "count")
    out.layer("transport.plan_conversations", mean(traced.map(_.planConvs.toDouble)), "count")
    Seq("streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
      "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.backlog_max_msgs" -> "msgs", "operators.ingest_ms_p50" -> "ms",
      "operators.ingest_ms_max" -> "ms", "operators.jobs_per_batch" -> "count",
      "operators.compactions" -> "count", "operators.compact_ms" -> "ms",
      "operators.index_files" -> "count", "generator.late_ms_max" -> "ms")
      .foreach { case (n, u) => out.layer(n, 0.0, u) }
    // traced and untraced queries differ in their parameters, so compare
    // per-kind medians
    def kindMedians(ts: Seq[QueryWorkload.Timed]): Map[String, Double] =
      ts.groupBy(_.q.kind).map { case (k, v) => k -> Main.median(v.map(_.wallNs.toDouble)) }
    val (tm, pm) = (kindMedians(traced), kindMedians(plain))
    val kinds = tm.keySet.intersect(pm.keySet).toSeq
    out.layer("trace.overhead_ratio", ratio(kinds.map(tm).sum, kinds.map(pm).sum), "ratio")
  }

  /** `untracedCatchupS`: the same catch-up run untraced, before and after */
  def gate(out: Metrics, ctx: Ctx, jobs: JobListener, progress: ProgressListener,
           q: StreamingQuery, p: TailGate.Pipeline, res: TailGate.Result,
           untracedCatchupS: Seq[Double], convs: Long): Unit = {
    val batches = ctx.tracer.spans.filter(s => s.name == "streaming.batch" &&
      s.req.startsWith(p.name + "-b"))
    val wall = batches.map(s => s.req -> (s.endNs - s.startNs) / 1e6).toMap
    val byReq = perRequest(out, jobs, wall)
    val prog = progress.progress.asScala.toSeq.filter(pr => pr.id == q.id && pr.numInputRows > 0)
    def dur(k: String): Double =
      mean(prog.map(pr => Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    out.layer("driver.plan_ms", dur("queryPlanning"), "ms")
    out.layer("sources.partitions", mean(wall.keys.toSeq.map(r =>
      byReq.getOrElse(r, Nil).map(_.inputTasks).sum.toDouble)), "count")
    out.layer("sources.prune_ratio", 0.0, "ratio")
    out.layer("transport.conversations", convs / math.max(1, wall.size).toDouble, "count")
    out.layer("transport.plan_conversations", 0.0, "count")
    out.layer("streaming.batches", prog.size.toDouble, "count")
    out.layer("streaming.rows_per_batch", mean(prog.map(_.numInputRows.toDouble)), "rows")
    out.layer("streaming.latest_offset_ms", dur("latestOffset"), "ms")
    out.layer("streaming.query_planning_ms", dur("queryPlanning"), "ms")
    out.layer("streaming.add_batch_ms", dur("addBatch"), "ms")
    out.layer("streaming.wal_commit_ms", dur("walCommit"), "ms")
    out.layer("streaming.backlog_max_msgs", res.backlogMax.toDouble, "msgs")
    val ingest = ctx.tracer.spans.filter(s => s.name == "operators.ingest" &&
      s.req.startsWith(p.name + "-b")).map(s => (s.endNs - s.startNs) / 1e6)
    out.layer("operators.ingest_ms_p50", Main.median(ingest), "ms")
    out.layer("operators.ingest_ms_max", if (ingest.isEmpty) 0.0 else ingest.max, "ms")
    out.layer("operators.jobs_per_batch", mean(wall.keys.toSeq.map(r =>
      byReq.getOrElse(r, Nil).size.toDouble)), "count")
    val gens = p.generations.asScala.toSeq.sortBy(_._1).map(_._2)
    val compactions = (0 +: gens).sliding(2).count(w => w.size == 2 && w(1) != w(0))
    out.layer("operators.compactions", compactions.toDouble, "count")
    val compactJobs = byReq.values.flatten.filter(_.description.contains("auto-compact")).toSeq
    out.layer("operators.compact_ms", ratio(unionMs(compactJobs), compactions), "ms")
    out.layer("operators.index_files", TailGate.indexFiles(p).toDouble, "count")
    out.layer("generator.late_ms_max", res.lateMsMax, "ms")
    out.layer("trace.overhead_ratio", ratio(res.catchupS, mean(untracedCatchupS)), "ratio")
  }

  /** The layer-isolation loops, run in every traced run on the data the
    * workloads read: the public `JetStreamTransport.fetch` over the whole
    * stream, `ProtoWire.decodeMessage` over every pb payload, and the same
    * decode inside Catalyst (a proto_extract scan minus an envelope scan). */
  def isolation(out: Metrics, ctx: Ctx, fx: Fixture): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val n = ctx.gen.events.length
    def passes(minPasses: Int, minNs: Long)(pass: => Unit): Seq[Long] = {
      val t = Seq.newBuilder[Long]
      var total = 0L
      var k = 0
      while (k < minPasses || total < minNs) {
        val t0 = System.nanoTime(); pass; val d = System.nanoTime() - t0
        t += d; total += d; k += 1
      }
      t.result()
    }

    // transport: a tight fetch loop on its own connection
    val conn = Transport.connect(fx.url)
    try {
      var got = 0
      val ts = passes(3, 300000000L) {
        got = 0
        var from = 1L
        var more = true
        while (more) {
          val b = ctx.tracer.span("transport.fetch", "isolation")(
            conn.fetch(Setup.EventStream, from, n.toLong, 2048))
          got += b.length
          if (b.isEmpty) more = false else from = b.last.seq + 1
          if (from > n) more = false
        }
      }
      if (got != n) errs += s"fetch loop read $got of $n messages"
      out.layer("transport.fetch_msgs_per_s", n / (Main.median(ts.map(_.toDouble)) / 1e9), "msgs/s")
    } finally conn.close()

    // proto: the decoder alone
    val md = graft.proto.ProtoSchema.parseFile(ctx.protoFile, "DeviceEvent")
    val pb = ctx.gen.events.filterNot(_.json)
    pb.find(e => graft.proto.ProtoWire.decodeMessage(e.payload, md).getUTF8String(0)
        .toString != Gen.deviceName(e.device))
      .foreach(e => errs += s"decodeMessage disagrees on seq ${e.seq}")
    var fields = 0L
    val dts = passes(5, 300000000L) {
      ctx.tracer.span("proto.decode", "isolation") {
        var i = 0
        while (i < pb.length) {
          fields += graft.proto.ProtoWire.decodeMessage(pb(i).payload, md).numFields
          i += 1
        }
      }
    }
    if (fields != dts.size.toLong * pb.length * md.fields.length)
      errs += s"decodeMessage returned $fields fields over ${dts.size} passes"
    val decodeNs = Main.median(dts.map(_.toDouble)) / math.max(1, pb.length)
    out.layer("proto.decode_ns_per_msg", decodeNs, "ns")

    // proto: the same decode inside Spark, as a full-scan difference
    val spark = ctx.spark
    val d = fx.storeDir
    val env = s"SELECT count(*), sum(length(payload)) FROM " +
      s"nats_scan('events', 'dir', '$d', 'subject', 'pb.')"
    val pro = s"SELECT count(*), sum(reading_kw), count(position_zone) FROM " +
      s"nats_scan('events', 'dir', '$d', 'subject', 'pb.', 'proto_file', " +
      s"'${ctx.protoFile}', 'proto_message', 'DeviceEvent', " +
      "'proto_extract', 'position.zone,reading.kw,online')"
    def timed(sql: String): Long = {
      val t0 = System.nanoTime()
      ctx.tracer.span("driver.execute", "isolation")(spark.sql(sql).collect())
      System.nanoTime() - t0
    }
    val envT = Seq.newBuilder[Double]
    val proT = Seq.newBuilder[Double]
    (0 until 6).foreach { _ => envT += timed(env).toDouble; proT += timed(pro).toDouble }
    val inSpark = (Main.median(proT.result()) - Main.median(envT.result())) / math.max(1, pb.length)
    out.layer("proto.catalyst_decode_ratio", ratio(inSpark, decodeNs), "ratio")
    errs.result()
  }
}
