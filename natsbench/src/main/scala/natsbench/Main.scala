package natsbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every part of a run shares. */
final class Ctx(val spark: SparkSession, val gen: Gen, val protoFile: String,
                val tracer: Tracer)

object Ctx {
  val off = new Tracer(false)
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** wall-clock ns on the monotonic clock: due stamps and batch returns
    * are compared on it */
  def epochNs(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** The benchmark's entry point:
  * `--workload store_query|wire_query|tail_gate --seed N --seconds S
  *  --trace 0|1 --work DIR --proto FILE [--size full|tiny] [--spans FILE]`.
  * Prints one `metric <name> <value> <unit>` line per metric, then, as the
  * last line, the JSON result. Exits non-zero if any check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: File, proto: String,
                        sizes: Sizes, spans: Option[File])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.mkString(", ")})")
    val seconds = need("seconds").toInt
    val sizes = if (m.get("size").contains("tiny")) Sizes.tiny else Sizes.full
    Args(w, need("seed").toLong, seconds, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, new File(need("proto")).getAbsolutePath,
      sizes.copy(tail = sizes.tailRatePerS * seconds), m.get("spans").map(new File(_)))
  }

  val Workloads = Seq("store_query", "wire_query", "tail_gate")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile (the same rule as numpy's default) */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val heap = new HeapWatch
    val t0 = System.nanoTime()
    // the session graft.Bench builds: local[nproc], shuffle partitions =
    // nproc, the deployment profile and the graft extensions
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.DeploymentProfile.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(a.trace)
    val jobs = new JobListener
    val progress = new ProgressListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    val out = new Metrics
    var failed = 0L
    var attempted = 0L
    def fail(what: String): Unit = {
      System.err.println(s"[natsbench] FAILED: $what")
      failed += 1
    }

    // ---- set-up rounds: generation, store write, publish, warm-up ----
    val rounds = mutable.ArrayBuffer[Double]()
    val storeWriteS = mutable.ArrayBuffer[Double]()
    var publishNs = 0L
    var published = 0L
    var fx: Fixture = null
    var ctx: Ctx = null
    for (r <- 1 to a.sizes.setupRounds) {
      if (fx != null) {
        fx.close()
        Setup.deleteTree(new File(fx.storeDir))
      }
      val r0 = System.nanoTime()
      val gen = tracer.span("generator.build", "setup")(new Gen(a.seed, a.sizes))
      ctx = new Ctx(spark, gen, a.proto, tracer)
      val storeDir = new File(a.work, s"store-$r").getAbsolutePath
      val w0 = System.nanoTime()
      tracer.span("nats.store_write", "setup")(Setup.writeStore(spark, gen, storeDir))
      storeWriteS += (System.nanoTime() - w0) / 1e9
      val server = Setup.startServer()
      val pub = graft.transport.Transport.connect(server.url)
      fx = new Fixture(storeDir, server, pub)
      val p0 = System.nanoTime()
      tracer.span("transport.publish", "setup") {
        Setup.publish(pub, Setup.EventStream, Setup.eventEntries(gen, r))
        fx.gateSeqs(Setup.GateStream) = Setup.publish(pub, Setup.GateStream,
          Setup.gateEntries(gen.backlog.toSeq, r, Ctx.epochNs()))
        fx.gateSeqs(Setup.WarmStream) = Setup.publish(pub, Setup.WarmStream,
          Setup.gateEntries(gen.warmDocs.toSeq, r, Ctx.epochNs()))
      }
      if (r == a.sizes.setupRounds) {
        publishNs = System.nanoTime() - p0
        published = gen.events.length.toLong + gen.backlog.length + gen.warmDocs.length
      }
      rounds += (System.nanoTime() - r0) / 1e9
    }
    // warm-up once, on the last round's data
    val wu0 = System.nanoTime()
    tracer.span("warmup", "setup") {
      a.workload match {
        case "tail_gate" =>
          val wp = new TailGate.Pipeline("warm", a.work)
          attempted += ctx.gen.warmDocs.length
          TailGate.warmUp(spark, ctx, wp, fx.url).foreach(e => fail(s"warm-up gate: $e"))
        case w =>
          val qw = new QueryWorkload(spark, ctx, if (w == "store_query") fx.store else fx.wire)
          val res = qw.warmUp(new java.util.Random(a.seed * 31L))
          attempted += res.size
          res.filterNot(_.ok).foreach(t => fail(s"warm-up ${t.q.kind}"))
      }
    }
    val warmS = (System.nanoTime() - wu0) / 1e9
    heap.sample()
    val setupS = sessionS + median(rounds.toSeq) + warmS
    System.err.println(f"[natsbench] session ${sessionS}%.2fs, data rounds " +
      rounds.map(x => f"$x%.2f").mkString(", ") + f" s, warm-up $warmS%.2fs")

    // ---- the workload ----
    a.workload match {
      case "tail_gate" =>
        val p = new TailGate.Pipeline("gate", a.work)
        // traced runs bracket the traced pipeline with two untraced
        // catch-ups of the same backlog, for trace.overhead_ratio
        def plainCatchup(name: String): Double =
          TailGate.catchupOnly(spark, ctx, new TailGate.Pipeline(name, a.work), fx)
        val before = if (a.trace) Seq(plainCatchup("gate-plain1")) else Nil
        val pooled = () => graft.transport.TransportPool.get(fx.url,
          graft.transport.Transport.DefaultTimeoutMs) match {
          case w: graft.transport.NatsWireClient => w.conversationCount
          case _ => 0L
        }
        val c0 = pooled()
        // the heap is sampled after the catch-up, a fixed number of
        // batches; the tail's batch count depends on timing
        val (res, q) = TailGate.run(spark, ctx, p, fx, a.trace, () => heap.sample())
        val convs = pooled() - c0
        attempted += a.sizes.backlog + a.sizes.tail
        res.wrong.foreach(e => fail(s"gate survivors: $e"))
        out.e2e("latency_p50_s", median(res.tailLatS), "s")
        out.e2e("latency_p90_s", quantile(res.tailLatS, 0.9), "s")
        out.e2e("throughput_msgs_per_s", a.sizes.backlog / res.catchupS, "msgs/s")
        out.info("tail_messages", res.tailLatS.size.toDouble, "count")
        out.info("catchup_s", res.catchupS, "s")
        out.info("generator_late_ms_max", res.lateMsMax, "ms")
        if (a.trace) {
          out.layer("operators.persistent_rdds_end",
            spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
          val after = plainCatchup("gate-plain2")
          Layers.gate(out, ctx, jobs, progress, q, p, res, before :+ after, convs)
          publishNs += res.publishNs
          published += res.published
        }
      case w =>
        val src = if (w == "store_query") fx.store else fx.wire
        val qw = new QueryWorkload(spark, ctx, src)
        val (plain, traced) = qw.measure(a.seconds, a.sizes.minQueries, a.trace,
          new java.util.Random(a.seed))
        heap.sample()
        attempted += plain.size + traced.size
        (plain ++ traced).filterNot(_.ok).foreach(t => fail(s"${t.q.kind} ${t.req}"))
        val lat = plain.map(_.wallNs / 1e9)
        out.e2e("latency_p50_s", median(lat), "s")
        out.e2e("latency_p90_s", quantile(lat, 0.9), "s")
        val full = plain.filterNot(_.q.selective)
        out.e2e("throughput_msgs_per_s",
          ctx.gen.events.length.toDouble * full.size / full.map(_.wallNs / 1e9).sum, "msgs/s")
        out.info("queries", plain.size.toDouble, "count")
        plain.groupBy(_.q.kind).toSeq.sortBy(_._1).foreach { case (k, ts) =>
          out.info(s"p50_s.$k", median(ts.map(_.wallNs / 1e9)), "s")
        }
        if (a.trace) {
          out.layer("operators.persistent_rdds_end",
            spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
          Layers.queries(out, jobs, traced, plain)
        }
    }
    out.e2e("setup_s", setupS, "s")
    if (a.trace) {
      Layers.isolation(out, ctx, fx).foreach(fail)
      out.layer("nats.store_write_s", median(storeWriteS.toSeq), "s")
      out.layer("transport.publish_ms_per_kmsg", publishNs / 1e6 / (published / 1000.0), "ms/kmsg")
      tracer.summary.foreach { case (n, c, tot, self) =>
        System.err.println(f"[natsbench] span $n%-28s n=$c%5d total=$tot%10.1fms self=$self%10.1fms")
      }
      a.spans.foreach(tracer.writeJson)
    }
    out.e2e("heap_live_peak_mb", heap.peakMb, "MB")

    fx.close()
    spark.stop()
    val correct = failed == 0
    out.print(a.trace, correct, attempted, failed)
    sys.exit(if (correct) 0 else 1)
  }
}

/** Metric values by name, printed as report lines and as the result. */
final class Metrics {
  private val e2eM = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerM = mutable.LinkedHashMap[String, (Double, String)]()
  private val infoM = mutable.LinkedHashMap[String, (Double, String)]()
  def e2e(n: String, v: Double, u: String): Unit = e2eM(n) = (v, u)
  def layer(n: String, v: Double, u: String): Unit = layerM(n) = (v, u)
  def info(n: String, v: Double, u: String): Unit = infoM(n) = (v, u)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def print(traced: Boolean, correct: Boolean, attempted: Long, failed: Long): Unit = {
    (e2eM ++ infoM ++ layerM).foreach { case (n, (v, u)) =>
      println(s"metric $n ${num(v)} $u")
    }
    val shown = if (traced) layerM else e2eM
    val body = shown.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
  }
}

/** Peak old-generation occupancy right after a full collection
  * (`MemoryPoolMXBean.getCollectionUsage`), taken at the end of set-up and
  * after the workload's fixed amount of work (the query loop; the gate's
  * catch-up), outside every timed section: what the run keeps alive, not
  * when the collector happened to run. */
final class HeapWatch {
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(p => p.isCollectionUsageThresholdSupported &&
      p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, pools.map(p => Option(p.getCollectionUsage).map(_.getUsed)
      .getOrElse(0L)).sum)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
