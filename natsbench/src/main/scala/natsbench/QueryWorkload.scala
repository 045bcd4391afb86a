package natsbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.transport.{NatsWireClient, Transport, TransportPool}

/** The closed-loop query workloads (`store_query`, `wire_query`): one
  * client runs the seed-ordered mix back to back, whole cycles at a time,
  * until the run time is spent and at least `minQueries` have run. */
final class QueryWorkload(spark: SparkSession, ctx: Ctx, src: Source) {
  import QueryWorkload._

  private val helper = new AdaptiveSparkPlanHelper {}

  /** the pooled client the scans use (wire mode only) */
  private def wireClient: Option[NatsWireClient] =
    if (src.option != "url") None
    else TransportPool.get(src.value, Transport.DefaultTimeoutMs) match {
      case w: NatsWireClient => Some(w)
      case _ => None
    }

  /** Run one query, check its answer, and (traced) take its layer counts. */
  def run(q: Query, req: String, traced: Boolean): Timed = {
    val tr = if (traced) ctx.tracer else Ctx.off
    val wc = if (traced) wireClient else None
    def convs: Long = wc.map(_.conversationCount).getOrElse(0L)
    if (traced) spark.sparkContext.setLocalProperty(Trace.ReqProperty, req)
    val c0 = convs
    val t0 = System.nanoTime()
    var planNs = 0L
    var planConvs = 0L
    val (rows, df) = tr.span("query." + q.kind, req) {
      val df = tr.span("driver.bind")(q.frame(spark, src))
      if (traced) {
        val p0 = System.nanoTime()
        val pc0 = convs
        tr.span("driver.plan")(df.queryExecution.executedPlan)
        planNs = System.nanoTime() - p0
        planConvs = convs - pc0
      }
      (tr.span("driver.execute")(df.collect()), df)
    }
    val wallNs = System.nanoTime() - t0
    val t = new Timed(q, req, wallNs, q.check(rows))
    t.err.foreach(e => System.err.println(s"[natsbench] WRONG ${q.kind} $req: $e"))
    if (traced) {
      spark.sparkContext.setLocalProperty(Trace.ReqProperty, null)
      t.planNs = planNs
      t.planConvs = planConvs
      t.convs = convs - c0
      t.partitions = helper.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size.toLong
      }.sum
    }
    t
  }

  /** One query of each kind, checked like the timed ones. */
  def warmUp(rnd: java.util.Random): Seq[Timed] =
    Query.cycle(ctx.gen, ctx.protoFile, rnd).groupBy(_.kind).toSeq.sortBy(_._1)
      .map(_._2.head).zipWithIndex.map { case (q, i) => run(q, s"warm-$i", traced = false) }

  /** The timed loop: whole cycles until `seconds` have passed and at least
    * `minQueries` have run. A traced run traces every other query (which
    * ones alternates by cycle), so `trace.overhead_ratio` compares traced
    * and untraced queries of the same kinds in the same run. */
  def measure(seconds: Int, minQueries: Int, traced: Boolean,
              rnd: java.util.Random): (Seq[Timed], Seq[Timed]) = {
    val plain = mutable.ArrayBuffer[Timed]()
    val withTrace = mutable.ArrayBuffer[Timed]()
    val t0 = System.nanoTime()
    var c = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds ||
        plain.size + withTrace.size < minQueries) {
      Query.cycle(ctx.gen, ctx.protoFile, rnd).zipWithIndex.foreach { case (q, i) =>
        val req = s"c$c-q$i"
        if (traced && (c + i) % 2 == 0) withTrace += run(q, req, traced = true)
        else plain += run(q, req, traced = false)
      }
      c += 1
    }
    (plain.toSeq, withTrace.toSeq)
  }
}

object QueryWorkload {
  final class Timed(val q: Query, val req: String, val wallNs: Long,
                    val err: Option[String]) {
    def ok: Boolean = err.isEmpty
    var planNs = 0L
    var planConvs = 0L
    var convs = 0L
    var partitions = 0L
  }
}
