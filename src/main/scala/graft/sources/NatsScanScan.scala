package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Physical scan: one InputPartition per parquet row group, each reader a
  * bounded pull over its byte range (the distributed analog of the
  * reference's bounded Direct Get cursor, /root/reference/src/nats_scan.cpp:713-723).
  *
  * Plan-time pruning: row groups whose event_id / ts statistics fall outside
  * the pushed seq/ts bounds are never planned at all; record-level residue is
  * the residual Filter's job in a batch query and the row view's in a stream
  * micro-batch (gap-skip analog :725-729 is a no-op on columnar storage).
  * A stream micro-batch is this scan narrowed by [[seqWindow]].
  */
final class NatsScanScan(file: String, dir: String, stream: String,
                         required: StructType,
                         seqLo: Long, seqHi: Long, tsLoNs: Long, tsHiNs: Long,
                         subjectContains: List[String],
                         subjectPrefixes: List[String], maxPerBatch: Long,
                         pushedLimit: Option[Int] = None,
                         assertSeqOrder: Boolean = false,
                         asOfEpoch: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    asOfEpoch.foreach(_ => throw new UnsupportedOperationException(
      "nats_scan: as_of_epoch is a point-in-time snapshot read; a stream " +
        "tails the LIVE store (bound the replay with seq predicates instead)"))
    new graft.streaming.NatsMicroBatchStream(this, maxPerBatch)
  }

  /** This scan narrowed to the seq window [lo, hi]: a stream micro-batch
    * (start, end] is the batch scan of [start+1, end]. */
  def seqWindow(lo: Long, hi: Long): NatsScanScan =
    new NatsScanScan(file, dir, stream, required, math.max(seqLo, lo),
      math.min(seqHi, hi), tsLoNs, tsHiNs, subjectContains, subjectPrefixes,
      maxPerBatch)

  private val nativeDir = new java.io.File(s"$dir/$stream.msgs")

  /** Newest committed seq (0 for an empty store), from footer statistics
    * over the same committed snapshot the planner reads: the stream's
    * LastSeq. A native store grows as writers commit, so every call
    * re-lists it. */
  def lastSeq: Long = {
    val (files, native) =
      if (nativeDir.isDirectory)
        (StoreEpochs.committedFiles(nativeDir, None).toSeq, true)
      else (Seq(new java.io.File(file)), false)
    NatsStatsScan.fromFooters(files, native, Seq(NatsStatsScan.MinSeq(max = true)))
      .flatMap(_.headOption).collect { case s: Long => s }.getOrElse(0L)
  }

  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    throw new UnsupportedOperationException(
      "nats_scan: continuous (push-based) mode requires transport mode — " +
        "set option(\"url\", ...); the parquet-backed store serves " +
        "micro-batch streaming")

  override def description(): String =
    s"nats_scan stream=$stream seq=[$seqLo,$seqHi] tsNs=[$tsLoNs,$tsHiNs] " +
      s"subjectContains=$subjectContains subjectPrefixes=$subjectPrefixes " +
      s"cols=${required.fieldNames.mkString(",")}" +
      pushedLimit.map(l => s" PushedLimit=$l").getOrElse("")

  private def tsLoUs: Long = TsBounds.loUs(tsLoNs)
  private def tsHiUs: Long = TsBounds.hiUs(tsHiNs)

  /** planned once, shared by partition planning and [[estimateStatistics]]
    * (both run on the driver; footer reads are metadata-only) */
  private lazy val planned: Array[NatsScanPartition] = {
    if (nativeDir.isDirectory) {
      // native message store written by NatsScanBatchWrite: prune row groups
      // across part files directly on seq / ts_nats statistics. Only
      // committed files count — '_'/'.'-prefixed names are staged epochs,
      // checksum siblings, or aborted attempts and may be partial.
      StoreEpochs.committedFiles(nativeDir, asOfEpoch)
        .flatMap(f => planFile(f.getPath, native = true))
    } else {
      asOfEpoch.foreach(_ => sys.error(
        "nats_scan: as_of_epoch requires a native message store (the " +
          "fixture file has no epoch ledger)"))
      planFile(file, native = false)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.map(p => p: InputPartition)

  /** Post-pruning size/row estimate from the SAME row-group metadata the
    * partition planner kept — so Catalyst's join planning sees the pruned
    * scan's real footprint (a bounded slice of a huge stream can be the
    * BROADCAST side automatically; without stats a V2 relation defaults to
    * "infinitely large" and always shuffles). Rows are exact per kept row
    * group; residual predicates can only shrink them, which is the safe
    * direction for a broadcast decision. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = planned.map(p => p.rangeEnd - p.rangeStart).sum
    private val rows = planned.map(_.rows).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  private def planFile(path: String, native: Boolean): Array[NatsScanPartition] = {
    val (seqCol, tsCol) = if (native) ("seq", "ts_nats") else ("event_id", "ts")
    val seqAdj = if (native) 0L else 1L          // fixture: seq = event_id + 1
    // both layouts now store µs int64 (native ts_nats TIMESTAMP(MICROS),
    // fixture ts TIMESTAMP(MICROS)) — compare stats in µs
    val (tsLo, tsHi) = (tsLoUs, tsHiUs)
    val conf = new Configuration()
    val in = HadoopInputFile.fromPath(new Path(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      reader.getRowGroups.asScala.flatMap { rg =>
        val idCol = rg.getColumns.asScala.find(_.getPath.toDotString == seqCol)
        val tCol = rg.getColumns.asScala.find(_.getPath.toDotString == tsCol)
        // subject-PREFIX pruning off string min/max stats (native layout
        // stores subject verbatim): a row group whose [min, max] subject
        // range misses [p, p+∞-of-last-char) can't contain a match. A bare
        // substring can't do this — docs/SUBJECT_PRUNING.md. Only effective
        // when the store is subject-clustered; always correct.
        val keepByPrefix = !native || subjectPrefixes.isEmpty || {
          rg.getColumns.asScala.find(_.getPath.toDotString == "subject")
            .forall { c =>
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) true
              else {
                val mn = new String(st.getMinBytes, "UTF-8")
                val mx = new String(st.getMaxBytes, "UTF-8")
                // matches of prefix p sort in [p, next(p)): the group can
                // be skipped iff max < p (all rows before the range) or min
                // sorts after every p-prefixed string (min ≥ p yet doesn't
                // start with p)
                subjectPrefixes.forall(p =>
                  mx >= p && !(mn > p && !mn.startsWith(p)))
              }
            }
        }
        val keepBySeq = idCol.forall { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) true
          else {
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long] + seqAdj
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long] + seqAdj
            mx >= seqLo && mn <= seqHi
          }
        }
        val keepByTs = tCol.forall { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) true
          else {
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            mx >= tsLo && mn <= tsHi
          }
        }
        if (keepBySeq && keepByTs && keepByPrefix)
          Some(NatsScanPartition(path, rg.getStartingPos,
            rg.getStartingPos + rg.getTotalByteSize, native, rg.getRowCount))
        else None
      }.toArray
    } finally reader.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NatsScanReaderFactory(required, seqLo, seqHi, tsLoNs, tsHiNs,
      subjectContains, subjectPrefixes, stream, pushedLimit,
      assertSeqOrder = assertSeqOrder)
}

final case class NatsScanPartition(file: String, rangeStart: Long,
                                   rangeEnd: Long, native: Boolean = false,
                                   rows: Long = 0L)
    extends InputPartition

/** TIME TRAVEL over the streaming-ingested store: every committed epoch's
  * part files carry their epoch in the (deterministic) file name
  * (`epoch-NNNNNN-part-*.parquet` — NatsScanStreamingWrite), which makes
  * the directory listing itself the commit ledger. `as_of_epoch = N` reads
  * the store exactly as it stood after epoch N committed — the dataset-
  * reproducibility read a training run pins its corpus with ("train on the
  * stream as of ingest epoch N", re-runnable forever). Selection is
  * pure name arithmetic — zero extra I/O at any store size. Batch-append
  * part files (`part-*-<jobToken>`) carry no epoch: a store containing any
  * is not epoch-ledgered and time travel on it is REFUSED rather than
  * answered approximately. */
private[sources] object StoreEpochs {
  // %06d is a MINIMUM width: epochs past 999,999 print wider, so the
  // ledger pattern accepts 6-or-more digits
  private val EpochName = "^epoch-(\\d{6,})-part-.*\\.parquet$".r

  def epochOf(name: String): Option[Long] = name match {
    case EpochName(e) => Some(e.toLong)
    case _ => None
  }

  /** THE definition of "the committed snapshot": one shared listing +
    * selection used by the row-scan planner, the stats pushdown and the
    * micro-batch stream (its LastSeq and, through the planner, its
    * batches), so none of them can describe a different file set. */
  def committedFiles(nativeDir: java.io.File,
                     asOf: Option[Long]): Array[java.io.File] = {
    val committed = Option(nativeDir.listFiles(
        (f: java.io.File) => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .getOrElse(sys.error(s"nats_scan: cannot list message store $nativeDir"))
      .sortBy(_.getName)
    select(committed, asOf)
  }

  def select(committed: Array[java.io.File],
             asOf: Option[Long]): Array[java.io.File] = asOf match {
    case None => committed
    case Some(n) =>
      committed.foreach { f =>
        if (epochOf(f.getName).isEmpty)
          sys.error(s"nats_scan: as_of_epoch requires an epoch-ledgered " +
            s"store (every part file named epoch-NNNNNN-…), but " +
            s"'${f.getName}' carries no epoch (batch append or compaction " +
            "rewrote it); re-ingest through the streaming sink to rebuild " +
            "the ledger")
      }
      // a snapshot "as of" an epoch that has not COMMITTED yet is not a
      // snapshot — it would silently change as ingest catches up, breaking
      // the re-runnable-forever contract (Delta's versionAsOf refuses the
      // same way)
      val maxCommitted = committed.iterator
        .flatMap(f => epochOf(f.getName)).foldLeft(-1L)(math.max)
      if (n > maxCommitted)
        sys.error(s"nats_scan: as_of_epoch=$n exceeds the newest committed " +
          s"epoch ($maxCommitted); a not-yet-committed snapshot would " +
          "silently change as ingest advances")
      committed.filter(f => epochOf(f.getName).exists(_ <= n))
  }
}

/** The ONE ns→µs bound translation (file values are whole µs; pushed
  * bounds arrive in ns): ts_ns = µs·1000 ∈ [lo, hi] ⟺
  * µs ∈ [⌈lo/1000⌉, ⌊hi/1000⌋]. Exact for the `T*1000` / `T*1000+999` /
  * `T*1000-1` forms the filter builder produces; sentinels pass through. */
private[sources] object TsBounds {
  def loUs(tsLoNs: Long): Long =
    if (tsLoNs == Long.MinValue) Long.MinValue
    else Math.floorDiv(tsLoNs + 999L, 1000L)
  def hiUs(tsHiNs: Long): Long =
    if (tsHiNs == Long.MaxValue) Long.MaxValue
    else Math.floorDiv(tsHiNs, 1000L)
}

final class NatsScanReaderFactory(required: StructType, seqLo: Long,
                                  seqHi: Long, tsLoNs: Long, tsHiNs: Long,
                                  subjectContains: List[String],
                                  subjectPrefixes: List[String], stream: String,
                                  pushedLimit: Option[Int] = None,
                                  assertSeqOrder: Boolean = false)
    extends PartitionReaderFactory {

  /** seq ordinal in the output when the top-n monotonicity assertion is on
    * (-1 = off). A top-n on seq always projects seq, but stay defensive. */
  private val seqCheckIdx: Int =
    if (assertSeqOrder) required.fieldNames.indexOf("seq") else -1

  /** Row view for the micro-batch stream, the only row-mode caller (batch
    * scans read columnar, below). Spark puts no residual Filter above a
    * stream source, so the view itself drops the rows outside this
    * factory's seq/ts bounds, which the columnar decoders only prune by. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new BoundedRowView(createColumnarReader(p), required, seqLo, seqHi,
      TsBounds.loUs(tsLoNs), TsBounds.hiUs(tsHiNs))

  /** Batch scans decode vectorized (see [[NatsVectorized]]); subject/seq/ts
    * residue is Spark's job (the builder keeps every pushed predicate
    * residual). */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[NatsScanPartition]
    val inner =
      if (part.native)
        new NatsNativeColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
      else
        new NatsFixtureColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
    pushedLimit.fold(inner: PartitionReader[ColumnarBatch])(
      new LimitedColumnarReader(inner, _, seqCheckIdx))
  }
}

/** The rows of a columnar reader that fall inside [seqLo, seqHi] and
  * [tsLoUs, tsHiUs]. A bounded axis must be projected; a null on a bounded
  * axis is outside it. */
private final class BoundedRowView(batches: PartitionReader[ColumnarBatch],
                                   required: StructType, seqLo: Long,
                                   seqHi: Long, tsLoUs: Long, tsHiUs: Long)
    extends PartitionReader[InternalRow] {
  private val seqIdx = if (seqLo > 1L || seqHi < Long.MaxValue)
    required.fieldNames.indexOf("seq") else -1
  private val tsIdx = if (tsLoUs > Long.MinValue || tsHiUs < Long.MaxValue)
    required.fieldNames.indexOf("ts_nats") else -1
  require((seqIdx >= 0 || seqLo <= 1L && seqHi == Long.MaxValue) &&
    (tsIdx >= 0 || tsLoUs == Long.MinValue && tsHiUs == Long.MaxValue),
    "nats_scan: a bounded row read must project its bounded columns")

  private var rows: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var current: InternalRow = _

  private def within(r: InternalRow, idx: Int, lo: Long, hi: Long): Boolean =
    idx < 0 || !r.isNullAt(idx) && { val v = r.getLong(idx); v >= lo && v <= hi }

  override def next(): Boolean = {
    while (true) {
      while (rows.hasNext) {
        val r = rows.next()
        if (within(r, seqIdx, seqLo, seqHi) && within(r, tsIdx, tsLoUs, tsHiUs)) {
          current = r
          return true
        }
      }
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = batches.close()
}

/** Early-stop decorator for a PARTIALLY pushed LIMIT: the source may emit
  * at most ~limit rows per partition and Spark's own Local/GlobalLimit
  * above the scan enforces the exact count — so stopping is purely an I/O
  * and decode saving, never a correctness lever. It stops at the first
  * batch boundary at-or-after the limit (truncating mid-batch would buy
  * nothing: the batch is already decoded).
  *
  * `seqIdx >= 0` arms the TOP-N monotonicity assertion: when the limit hint
  * came from pushTopN, "first rows = lowest seqs" is a correctness
  * precondition (the early stop drops later rows for good), so each emitted
  * partition must ascend by seq — a violation (store layout contract broken
  * out-of-band) fails the task loudly instead of returning a wrong head. */
private final class LimitedColumnarReader(
    inner: PartitionReader[ColumnarBatch],
    limit: Int, seqIdx: Int = -1)
    extends PartitionReader[ColumnarBatch] {
  private var emitted = 0L
  private var prevSeq = Long.MinValue
  override def next(): Boolean =
    emitted < limit && inner.next() && {
      val b = inner.get()
      if (seqIdx >= 0) {
        val col = b.column(seqIdx)
        var i = 0
        while (i < b.numRows()) {
          if (!col.isNullAt(i)) {
            val s = col.getLong(i)
            if (s < prevSeq) throw new IllegalStateException(
              s"nats_scan top-n: part file violates the seq-ascending store " +
                s"layout (seq $s after $prevSeq); the store was modified " +
                s"outside the sorted write path — drop its " +
                s"${StoreLayout.MarkerName} marker or recompact")
            prevSeq = s
          }
          i += 1
        }
      }
      emitted += b.numRows(); true
    }
  override def get(): ColumnarBatch = inner.get()
  override def close(): Unit = inner.close()
}
