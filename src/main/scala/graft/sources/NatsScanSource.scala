package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `nats_scan` source (SURVEY.md §7 step 5): the planner-time
  * replacement for the reference's bind-time range parameters
  * (/root/reference/src/nats_scan.cpp:207-423).
  *
  * Where the reference is a single-threaded cursor doing one RPC per message
  * (`MaxThreads()=1`, :197-199; Direct Get loop :713-723), this source:
  *   - partitions the scan by parquet row group — at production scale
  *     (128 MB row groups, many files) that is thousands of independent
  *     tasks; the fixture file has few groups, but the topology is the one
  *     that holds at 100 TB;
  *   - accepts seq / ts_nats / subject predicates via
  *     `SupportsPushDownFilters` and turns seq+ts bounds into parquet
  *     row-group statistics pruning — the columnar analog of the reference's
  *     timestamp→sequence binary search (:548-595), same O(log n) effect:
  *     scan work is proportional to the selected range, not the stream;
  *   - prunes columns via `SupportsPushDownRequiredColumns`: an envelope
  *     column that isn't referenced never reads its backing parquet pages
  *     (the reference materializes every declared column, :752-862).
  *
  * Usage: `spark.read.format("nats_scan").option("dir", sfDir).load()`.
  */
class NatsScanSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "nats_scan"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NatsScanSource.envelopeSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NatsScanTable(properties.asScala.toMap)
}

object NatsScanSource {
  /** message envelope (= reference output schema rows 0-4,
    * /root/reference/src/nats_scan.cpp:366-385) */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("subject", StringType, nullable = true),
    StructField("seq", LongType, nullable = true),
    StructField("ts_nats", TimestampType, nullable = true),
    StructField("payload", BinaryType, nullable = true)))
}

final class NatsScanTable(rawProps: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  /** `profile` option resolves against the named-connection registry at
    * bind time (defaults under explicit options); everything downstream
    * sees only the merged map */
  private val props: Map[String, String] =
    graft.transport.ConnectionProfiles.resolve(rawProps)

  /** `url` set → transport mode (live/fake JetStream through the
    * [[graft.transport.JetStreamTransport]] seam); otherwise the
    * parquet-backed store under `dir`. Same envelope, same pushdown. */
  private val url = props.get("url")
  private val dir = props.get("dir").orElse(props.get("path")).getOrElse {
    if (url.isDefined) ""
    else sys.error("nats_scan: 'dir' option required")
  }
  private val stream = props.getOrElse("stream", "events")

  // bind-time parameter validation — the reference's mutual-exclusion rules
  // fire at bind, before any connection is attempted (nats_scan.cpp:267-285)
  locally {
    graft.nats.NatsScanOptions(
      subjectContains = props.get("subject"),
      url = url,
      startSeq = props.get("start_seq").map(_.toLong),
      endSeq = props.get("end_seq").map(_.toLong),
      startTime = props.get("start_time").map(java.time.Instant.parse),
      endTime = props.get("end_time").map(java.time.Instant.parse)).validate()
  }

  override def name(): String =
    s"nats_scan($stream @ ${url.getOrElse(dir)})"
  override def schema(): StructType = NatsScanSource.envelopeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.CONTINUOUS_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  private val maxPerBatch =
    props.getOrElse("max_msgs_per_batch", "1000").toLong
  locally {
    // 0 would never advance a stream, a negative cap would move it back
    if (maxPerBatch < 1) sys.error(
      s"nats_scan: max_msgs_per_batch must be >= 1, got $maxPerBatch")
  }

  /** credential options (user_creds / nkey_seed / tls): parsed and validated
    * at bind; only meaningful for the transport mode */
  private val auth: graft.transport.TransportAuth = {
    val anyAuth = props.contains("user_creds") || props.contains("nkey_seed") ||
      props.contains("tls") || props.contains("tls_ca") ||
      props.contains("tls_insecure")
    if (anyAuth && url.isEmpty)
      sys.error("nats_scan: user_creds/nkey_seed/tls/tls_ca/tls_insecure " +
        "require 'url' (transport mode); the parquet store takes no " +
        "credentials")
    graft.transport.TransportAuth.fromOptions(
      credsFile = props.get("user_creds"),
      nkeySeed = props.get("nkey_seed"),
      tls = props.get("tls"),
      tlsCaFile = props.get("tls_ca"),
      tlsInsecure = props.get("tls_insecure"))
  }

  private def nsOf(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000000L), i.getNano.toLong)
  }

  /** NATS wildcard `subject_filter` (consumer filter_subject grammar —
    * `events.*.7`, `events.purchase.>`): validated at bind, matched
    * server-side in consumer mode and message-level otherwise. Transport
    * mode only — on the columnar store the same predicate is a Catalyst
    * `startswith` + `rlike` (see NatsScan.subjectWildcard), which pushes
    * and prunes without a bespoke option. */
  private val subjectFilter: Option[String] = props.get("subject_filter")
  locally {
    subjectFilter.foreach { p =>
      if (url.isEmpty)
        sys.error("nats_scan: subject_filter requires 'url' (transport " +
          "mode); on the parquet store use the wildcard filter expression " +
          "(NatsScan.subjectWildcard) — it pushes down as prefix + rlike")
      graft.transport.SubjectFilter.validate(p)
    }
  }

  /** `last_by_subject=true`: the KV/current-state read — one row per
    * distinct subject, the stream's LAST message for it, served from the
    * server's per-subject index (O(keys) wire volume, never O(messages)). */
  private val lastBySubject: Boolean =
    props.get("last_by_subject").map {
      case "true" => true
      case "false" => false
      case other => sys.error(
        s"nats_scan: last_by_subject must be 'true' or 'false', got '$other'")
    }.getOrElse(false)
  locally {
    // kv_buckets is the partition fan-out of last_by_subject / subject-stats
    // reads; 0 (or negative) would silently plan ZERO partitions and return
    // an empty result — fail at bind like continuous_shards does
    props.get("kv_buckets").map(_.toInt).foreach { kb =>
      if (kb < 1) sys.error(s"nats_scan: kv_buckets must be >= 1, got $kb")
    }
    // deliver_group: queue-group (server-balanced) consumption
    props.get("deliver_group").foreach { g =>
      if (g.isEmpty) sys.error("nats_scan: deliver_group must not be empty")
      if (url.isEmpty)
        sys.error("nats_scan: deliver_group requires 'url' (transport mode)")
      val rangey = Seq("start_seq", "end_seq", "start_time", "end_time")
        .filter(props.contains)
      if (rangey.nonEmpty)
        sys.error("nats_scan: deliver_group consumes from the GROUP's own " +
          s"cursor and is incompatible with ${rangey.mkString("/")} (bound " +
          "the result with ordinary filters instead)")
      if (lastBySubject)
        sys.error("nats_scan: deliver_group and last_by_subject are " +
          "mutually exclusive")
      if (props.get("continuous_shards").exists(_.toInt > 1))
        sys.error("nats_scan: deliver_group (server-balanced delivery) and " +
          "continuous_shards (deterministic seq%n sharding) are competing " +
          "distribution strategies — set exactly one")
      if (props.contains("durable"))
        sys.error("nats_scan: deliver_group and durable are competing " +
          "progress mechanisms (the GROUP's explicit acks vs a cumulative " +
          "seq floor) — the group consumer IS durable server-side; drop " +
          "the durable option")
    }
    props.get("group_members").map(_.toInt).foreach { n =>
      if (n < 1) sys.error(s"nats_scan: group_members must be >= 1, got $n")
      if (!props.contains("deliver_group"))
        sys.error("nats_scan: group_members requires deliver_group")
    }
    props.get("group_ack_wait_ms").map(_.toLong).foreach { w =>
      if (w < 1L)
        sys.error(s"nats_scan: group_ack_wait_ms must be >= 1, got $w")
    }
    if (lastBySubject) {
      if (url.isEmpty)
        sys.error("nats_scan: last_by_subject requires 'url' (transport mode)")
      val rangey = Seq("start_seq", "end_seq", "start_time", "end_time")
        .filter(props.contains)
      if (rangey.nonEmpty)
        sys.error("nats_scan: last_by_subject reads the CURRENT per-subject " +
          s"state and is incompatible with ${rangey.mkString("/")} (range " +
          "predicates on the result still apply as ordinary filters)")
    }
  }

  /** `as_of_epoch=N`: time-travel read of a streaming-ingested native
    * store — only part files committed at epoch ≤ N are planned (the
    * epoch-in-filename ledger). Store mode only: a live server has no
    * epoch ledger (its replay axis is `start_seq`/`end_seq`). */
  private val asOfEpoch: Option[Long] = props.get("as_of_epoch").map { v =>
    val n = try v.toLong catch {
      case _: NumberFormatException =>
        sys.error(s"nats_scan: as_of_epoch must be a non-negative epoch " +
          s"number, got '$v'")
    }
    if (n < 0) sys.error("nats_scan: as_of_epoch must be >= 0")
    if (url.isDefined)
      sys.error("nats_scan: as_of_epoch reads a store's epoch ledger and " +
        "requires 'dir' mode; on a live stream use start_seq/end_seq " +
        "(sequences are the server's replay axis)")
    n
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val transport = url.map { u =>
      TransportBind(u,
        startSeq = props.get("start_seq").map(_.toLong),
        endSeq = props.get("end_seq").map(_.toLong),
        startTimeNs = props.get("start_time").map(nsOf),
        endTimeNs = props.get("end_time").map(nsOf),
        subject = props.get("subject"),
        maxPerBatch = maxPerBatch,
        sliceWidth = props.getOrElse("slice_width", "65536").toLong,
        connectTimeoutMs = props.getOrElse("connect_timeout_ms",
          graft.transport.Transport.DefaultTimeoutMs.toString).toLong,
        fetchMode = props.getOrElse("fetch_mode", "fetch") match {
          case m @ ("fetch" | "consumer") => m
          case other => sys.error(
            s"nats_scan: fetch_mode must be 'fetch' or 'consumer', got '$other'")
        },
        auth = auth,
        durable = props.get("durable"),
        continuousShards = props.getOrElse("continuous_shards", "1").toInt,
        subjectFilter = subjectFilter,
        lastBySubject = lastBySubject,
        kvBuckets = props.getOrElse("kv_buckets", "16").toInt,
        deliverGroup = props.get("deliver_group"),
        groupMembers = props.getOrElse("group_members", "8").toInt,
        groupAckWaitMs = props.getOrElse("group_ack_wait_ms", "30000").toLong)
    }
    new NatsScanBuilder(s"$dir/$stream.parquet", dir, stream, maxPerBatch,
      transport, asOfEpoch)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new NatsScanWriteBuilder(dir, stream, info, url,
      props.getOrElse("connect_timeout_ms",
        graft.transport.Transport.DefaultTimeoutMs.toString).toLong, auth)
}

/** bind-time transport parameters (reference named params, nats_scan.cpp:207-423) */
final case class TransportBind(url: String,
                               startSeq: Option[Long], endSeq: Option[Long],
                               startTimeNs: Option[Long], endTimeNs: Option[Long],
                               subject: Option[String], maxPerBatch: Long,
                               sliceWidth: Long, connectTimeoutMs: Long,
                               fetchMode: String = "fetch",
                               auth: graft.transport.TransportAuth =
                                 graft.transport.TransportAuth.anonymous,
                               durable: Option[String] = None,
                               continuousShards: Int = 1,
                               subjectFilter: Option[String] = None,
                               lastBySubject: Boolean = false,
                               kvBuckets: Int = 16,
                               deliverGroup: Option[String] = None,
                               groupMembers: Int = 8,
                               groupAckWaitMs: Long = 30000L)

/** Accepts seq/ts/subject predicates; everything else stays residual.
  * Bounds are accumulated as [seqLo, seqHi] (1-based inclusive) and
  * [tsLoNs, tsHiNs] (parquet nanos, inclusive), translated so that the
  * µs-truncated `ts_nats` semantics stay exact:
  *   ts_nats >= T  ⟺  ts_ns >= T_µs * 1000
  *   ts_nats <= T  ⟺  ts_ns <= T_µs * 1000 + 999.
  */
final class NatsScanBuilder(file: String, dir: String, stream: String,
                            maxPerBatch: Long,
                            transport: Option[TransportBind] = None,
                            asOfEpoch: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = NatsScanSource.envelopeSchema
  private var seqLo = 1L
  private var seqHi = Long.MaxValue
  private var tsLoNs = Long.MinValue
  private var tsHiNs = Long.MaxValue
  private var subjectContains: List[String] = Nil
  private var subjectPrefixes: List[String] = Nil

  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case l: java.lang.Long => l.longValue()
    case other => sys.error(s"unsupported timestamp literal $other")
  }

  private def longOf(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case other => sys.error(s"unsupported long literal $other")
  }

  /** Accepted filters are reported via [[pushedFilters]] (they drive
    * row-group pruning, parquet page skipping, and the transport cursor's
    * remote bounds) but are ALSO returned as residual — Spark re-evaluates
    * the exact predicate over the scan output, the same contract as Spark's
    * own `FileScanBuilder`. That is what lets the vectorized readers emit
    * columnar batches with no per-record residue check: correctness lives
    * in one place (the codegen'd Filter), the pushdown is purely a
    * skipping optimization. Only the constant-stream equality, which the
    * reader satisfies by construction, is consumed outright. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = Array.newBuilder[Filter]
    val residual = Array.newBuilder[Filter]
    filters.foreach {
      case f @ EqualTo("seq", v) =>
        seqLo = math.max(seqLo, longOf(v)); seqHi = math.min(seqHi, longOf(v))
        accepted += f; residual += f
      case f @ GreaterThan("seq", v) =>
        seqLo = math.max(seqLo, longOf(v) + 1); accepted += f; residual += f
      case f @ GreaterThanOrEqual("seq", v) =>
        seqLo = math.max(seqLo, longOf(v)); accepted += f; residual += f
      case f @ LessThan("seq", v) =>
        seqHi = math.min(seqHi, longOf(v) - 1); accepted += f; residual += f
      case f @ LessThanOrEqual("seq", v) =>
        seqHi = math.min(seqHi, longOf(v)); accepted += f; residual += f
      case f @ GreaterThan("ts_nats", v) =>
        tsLoNs = math.max(tsLoNs, (tsMicros(v) + 1) * 1000L); accepted += f; residual += f
      case f @ GreaterThanOrEqual("ts_nats", v) =>
        tsLoNs = math.max(tsLoNs, tsMicros(v) * 1000L); accepted += f; residual += f
      case f @ LessThan("ts_nats", v) =>
        tsHiNs = math.min(tsHiNs, tsMicros(v) * 1000L - 1L); accepted += f; residual += f
      case f @ LessThanOrEqual("ts_nats", v) =>
        tsHiNs = math.min(tsHiNs, tsMicros(v) * 1000L + 999L); accepted += f; residual += f
      case f @ StringContains("subject", s) =>
        subjectContains ::= s; accepted += f; residual += f
      // prefix predicates (subject LIKE 'events.click%') CAN use columnar
      // min/max stats, unlike bare substrings — see docs/SUBJECT_PRUNING.md
      case f @ StringStartsWith("subject", p) =>
        subjectPrefixes ::= p; accepted += f; residual += f
      case f @ EqualTo("stream", s) if s == stream =>
        accepted += f // constant echo column, trivially true
      case other => residual += other
    }
    pushed = accepted.result()
    residual.result()
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // --- LIMIT pushdown: a `LIMIT n` preview over a 100 TB stream must touch
  // kilobytes, not decode every planned row group. PARTIAL push (Spark
  // keeps its own Local/GlobalLimit above the scan), so the readers treat
  // the limit as a per-partition early-stop hint — correctness never
  // depends on it. Local layouts only: the transport path's fetch loop has
  // its own batched cursor and stays governed by its seq slices.
  private var pushedLimit: Option[Int] = None

  override def pushLimit(limit: Int): Boolean =
    if (transport.isDefined) false
    else { pushedLimit = Some(limit); true }

  /** `ORDER BY seq [ASC] LIMIT n` — the "stream head" query. Both layouts
    * store messages in ascending seq order (fixture event_id order; native
    * part files sorted at write by RequiresDistributionAndOrdering), so each
    * partition's FIRST n rows are its seq-ascending top-n: the limit hint
    * doubles as the top-n hint and the final TakeOrdered above the scan
    * sorts n·partitions rows instead of the stream. Descending (tail) would
    * need a backward cursor — declined, Spark runs the full sort.
    *
    * The sortedness invariant is TRUSTED only where it is vouched for:
    * native stores must carry the [[StoreLayout]] marker their sorted write
    * path commits — a store from a pre-marker build or external tooling gets
    * no top-n early stop (full sort stands, correct either way). The
    * accepted paths additionally run a per-partition seq-monotonicity
    * assertion in the readers, so a violated invariant fails loudly instead
    * of silently dropping low seqs. */
  private var limitIsTopN = false

  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val seqAscending = orders.length == 1 && (orders(0).expression() match {
      case n: NamedReference =>
        n.fieldNames().sameElements(Array("seq")) &&
          orders(0).direction() == SortDirection.ASCENDING
      case _ => false
    })
    if (transport.isEmpty && seqAscending) {
      val nativeDir = new java.io.File(s"$dir/$stream.msgs")
      if (nativeDir.isDirectory && !StoreLayout.seqSorted(nativeDir)) false
      else { pushedLimit = Some(limit); limitIsTopN = true; true }
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  // --- COMPLETE aggregate pushdown (COUNT(*) / MIN / MAX on seq, ts_nats)
  // answered from parquet footers or one streamInfo RPC — see NatsStatsScan
  private var statsResult: Option[(Seq[NatsStatsScan.StatAgg], Seq[Any])] = None

  private def translateAggs(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[Seq[NatsStatsScan.StatAgg]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions().nonEmpty) return None
    def col(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames().length == 1 =>
        Some(n.fieldNames()(0))
      case _ => None
    }
    val out = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(NatsStatsScan.CountStarAgg)
      case m: Min => col(m.column) match {
        case Some("seq") => Some(NatsStatsScan.MinSeq(max = false))
        case Some("ts_nats") if transport.isEmpty =>
          Some(NatsStatsScan.MinTs(max = false))
        case _ => None
      }
      case m: Max => col(m.column) match {
        case Some("seq") => Some(NatsStatsScan.MinSeq(max = true))
        case Some("ts_nats") if transport.isEmpty =>
          Some(NatsStatsScan.MinTs(max = true))
        case _ => None
      }
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** bare scan only: any restriction means the residual Filter prunes
    * rows AFTER the scan, and footer/server totals would overcount. A
    * wildcard subject_filter restricts rows the same way, and a
    * last_by_subject scan yields one row per SUBJECT — stream-wide totals
    * would be wrong for both, so they decline the stats path outright. */
  private def unrestricted: Boolean =
    seqLo == 1L && seqHi == Long.MaxValue &&
      tsLoNs == Long.MinValue && tsHiNs == Long.MaxValue &&
      subjectContains.isEmpty && subjectPrefixes.isEmpty &&
      transport.forall(tb => tb.startSeq.isEmpty && tb.endSeq.isEmpty &&
        tb.startTimeNs.isEmpty && tb.endTimeNs.isEmpty && tb.subject.isEmpty &&
        tb.subjectFilter.isEmpty && !tb.lastBySubject &&
        tb.deliverGroup.isEmpty)

  // --- GROUP BY subject pushdown (transport only): count(*) / max(seq)
  // per subject answered from the server's per-subject index — zero
  // message fetches. Eligible on an otherwise-bare scan; a wildcard
  // subject_filter IS honored (the index walk applies it server-side),
  // which is exactly why it must not ride the stream-wide stats path.
  private var groupedStats: Option[Seq[NatsSubjectStatsScan.GroupAgg]] = None

  private def groupStatsEligible: Boolean =
    seqLo == 1L && seqHi == Long.MaxValue &&
      tsLoNs == Long.MinValue && tsHiNs == Long.MaxValue &&
      subjectContains.isEmpty && subjectPrefixes.isEmpty &&
      transport.exists(tb => tb.startSeq.isEmpty && tb.endSeq.isEmpty &&
        tb.startTimeNs.isEmpty && tb.endTimeNs.isEmpty && tb.subject.isEmpty &&
        !tb.lastBySubject && tb.deliverGroup.isEmpty)

  private def translateGroupAggs(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation)
      : Option[Seq[NatsSubjectStatsScan.GroupAgg]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    val groupedBySubject = agg.groupByExpressions() match {
      case Array(n: NamedReference) => n.fieldNames().sameElements(Array("subject"))
      case _ => false
    }
    if (!groupedBySubject) return None
    val out = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(NatsSubjectStatsScan.GroupCount)
      case m: Max => m.column match {
        case n: NamedReference if n.fieldNames().sameElements(Array("seq")) =>
          Some(NatsSubjectStatsScan.GroupLastSeq)
        case _ => None
      }
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  override def supportCompletePushDown(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean =
    if (agg.groupByExpressions().nonEmpty)
      groupStatsEligible && translateGroupAggs(agg).isDefined
    else unrestricted && translateAggs(agg).isDefined

  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    if (agg.groupByExpressions().nonEmpty) {
      if (!groupStatsEligible) return false
      translateGroupAggs(agg) match {
        case Some(gs) => groupedStats = Some(gs); return true
        case None => return false
      }
    }
    if (!unrestricted) return false
    translateAggs(agg) match {
      case None => false
      case Some(aggs) =>
        val computed: Option[Seq[Any]] = transport match {
          case Some(tb) =>
            try NatsStatsScan.fromStreamInfo(tb.url, stream,
              tb.connectTimeoutMs, aggs, tb.auth)
            catch { case _: Exception => None } // connect errors → real scan
          case None =>
            val nativeDir = new java.io.File(s"$dir/$stream.msgs")
            val (files, native) =
              if (nativeDir.isDirectory)
                // ONE definition of the committed snapshot, shared with the
                // row-scan planner — stats must describe the SAME file set
                (StoreEpochs.committedFiles(nativeDir, asOfEpoch).toSeq, true)
              else if (asOfEpoch.isDefined)
                return false // fixture file has no ledger; row scan errors
              else (Seq(new java.io.File(file)).filter(_.isFile), false)
            // missing fixture file: decline, so the ROW scan surfaces its
            // proper error instead of a silent zero-count answer (an empty
            // native store directory, by contrast, is a real empty stream)
            if (!native && files.isEmpty) None
            else
              try NatsStatsScan.fromFooters(files, native, aggs)
              catch { case _: Exception => None }
        }
        computed match {
          case Some(values) => statsResult = Some((aggs, values)); true
          case None => false
        }
    }
  }

  override def build(): Scan = groupedStats match {
    case Some(gs) =>
      val tb = transport.get // groupStatsEligible requires transport mode
      new NatsSubjectStatsScan(tb.url, stream, tb.kvBuckets, tb.subjectFilter,
        gs, tb.connectTimeoutMs, tb.auth)
    case None => statsResult match {
      case Some((aggs, values)) =>
        new NatsStatsScan(aggs, values,
          transport.map(tb => s"url=${tb.url}").getOrElse(s"dir=$dir") +
            s" stream=$stream")
      case None => buildRowScan()
    }
  }

  private def buildRowScan(): Scan = transport match {
    case Some(tb) =>
      new NatsTransportScan(tb.url, stream, required,
        seqLo = math.max(seqLo, tb.startSeq.getOrElse(1L)),
        seqHi = math.min(seqHi, tb.endSeq.getOrElse(Long.MaxValue)),
        tsLoNs = tsLoNs, tsHiNs = tsHiNs,
        startTimeNs = tb.startTimeNs, endTimeNs = tb.endTimeNs,
        subjectContains = tb.subject.toList ::: subjectContains,
        subjectPrefixes = subjectPrefixes,
        maxPerBatch = tb.maxPerBatch,
        sliceWidth = tb.sliceWidth, connectTimeoutMs = tb.connectTimeoutMs,
        fetchMode = tb.fetchMode, auth = tb.auth, durable = tb.durable,
        continuousShards = tb.continuousShards,
        subjectFilter = tb.subjectFilter, lastBySubject = tb.lastBySubject,
        kvBuckets = tb.kvBuckets, deliverGroup = tb.deliverGroup,
        groupMembers = tb.groupMembers, groupAckWaitMs = tb.groupAckWaitMs)
    case None =>
      new NatsScanScan(file, dir, stream, required, seqLo, seqHi, tsLoNs,
        tsHiNs, subjectContains, subjectPrefixes, maxPerBatch, pushedLimit,
        assertSeqOrder = limitIsTopN, asOfEpoch = asOfEpoch)
  }
}
