package natsbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Where a query reads the stream from: the native store (`dir`) or the
  * loopback server (`url`). Everything else about a query is identical. */
final case class Source(option: String, value: String) {
  def tvf(extra: String = ""): String =
    s"nats_scan('events', '$option', '$value'$extra)"
}

/** One query of the mix: how to run it over a source, what it must
  * return, and how many stream messages satisfy its predicate. */
sealed trait Query {
  def kind: String
  /** false for the queries that read the whole stream */
  def selective: Boolean
  def frame(spark: SparkSession, src: Source): DataFrame
  /** messages that satisfy the predicate (the useful rows of a scan) */
  def matched: Long
  /** None when `rows` is the right answer, else what differs */
  def check(rows: Array[Row]): Option[String]
}

object Query {
  private val rowCols = "seq, subject, unix_micros(ts_nats) AS ts_us, payload"

  /** window and top-n queries return their rows; compare them field by
    * field */
  private def checkRows(rows: Array[Row], want: Seq[Event]): Option[String] = {
    val got = rows.sortBy(_.getLong(0))
    if (got.length != want.length)
      Some(s"${got.length} rows, expected ${want.length}")
    else got.zip(want).collectFirst {
      case (r, e) if r.getLong(0) != e.seq || r.getString(1) != e.subject ||
          r.getLong(2) != e.tsUs ||
          !java.util.Arrays.equals(r.getAs[Array[Byte]](3), e.payload) =>
        s"row seq=${r.getLong(0)} differs from event seq=${e.seq}"
    }
  }

  private def checkGroups(rows: Array[Row], want: Map[String, Seq[Any]]): Option[String] = {
    val got = rows.map(r => r.getString(0) -> r.toSeq.tail.map {
      case d: java.lang.Double => d.doubleValue: Any
      case n: java.lang.Number => n.longValue: Any
      case other => other
    }).toMap
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
      Some(s"group ${bad.getOrElse("?")}: got ${bad.flatMap(got.get)}, " +
        s"expected ${bad.flatMap(want.get)}")
    }
  }

  final case class SeqWindow(gen: Gen, lo: Long, hi: Long) extends Query {
    def kind = "seq_window"; def selective = true
    private def want = gen.events.slice((lo - 1).toInt, hi.toInt).toSeq
    def matched: Long = hi - lo + 1
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT $rowCols FROM ${src.tvf()} WHERE seq BETWEEN $lo AND $hi")
    def check(rows: Array[Row]): Option[String] = checkRows(rows, want)
  }

  /** [from, until) of event indexes, as a publish-time window */
  final case class TsWindow(gen: Gen, from: Int, until: Int) extends Query {
    def kind = "ts_window"; def selective = true
    private def lit(us: Long): String = {
      val i = java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)
      "TIMESTAMP '" + java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC).format(i) + "'"
    }
    def matched: Long = (until - from).toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT $rowCols FROM ${src.tvf()} WHERE ts_nats >= " +
        s"${lit(gen.events(from).tsUs)} AND ts_nats < ${lit(gen.events(until).tsUs)}")
    def check(rows: Array[Row]): Option[String] =
      checkRows(rows, gen.events.slice(from, until).toSeq)
  }

  /** subject-selected aggregates: what a prefix or wildcard query asks
    * about the messages it selects */
  private val aggCols =
    "count(*) AS n, min(seq) AS first_seq, max(seq) AS last_seq, " +
      "sum(length(payload)) AS bytes"
  private def checkAgg(rows: Array[Row], want: Seq[Event]): Option[String] = {
    val exp = if (want.isEmpty) Seq[Any](0L, null, null, null)
      else Seq[Any](want.size.toLong, want.head.seq, want.last.seq,
        want.map(_.payload.length.toLong).sum)
    val got = rows.headOption.map(_.toSeq).getOrElse(Nil)
    if (rows.length == 1 && got == exp) None else Some(s"got $got, expected $exp")
  }

  final case class SubjectPrefix(gen: Gen, prefix: String) extends Query {
    def kind = "subject_prefix"; def selective = true
    private def want = gen.events.filter(_.subject.startsWith(prefix)).toSeq
    def matched: Long = want.size.toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT $aggCols FROM ${src.tvf()} WHERE subject LIKE '$prefix%'")
    def check(rows: Array[Row]): Option[String] = checkAgg(rows, want)
  }

  /** NATS wildcard subject, through the nats module's pushable predicate */
  final case class Wildcard(gen: Gen, fmt: String, device: Int) extends Query {
    def kind = "subject_wildcard"; def selective = true
    private val pattern = s"$fmt.*.${Gen.deviceName(device)}"
    private def want =
      gen.events.filter(e => (e.json == (fmt == "json")) && e.device == device).toSeq
    def matched: Long = want.size.toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT * FROM ${src.tvf()}")
        .filter(graft.nats.NatsScan.subjectWildcard(col("subject"), pattern))
        .selectExpr(aggCols.split(", ").toIndexedSeq: _*)
    def check(rows: Array[Row]): Option[String] = checkAgg(rows, want)
  }

  final case class TopLatest(gen: Gen, n: Int) extends Query {
    def kind = "top_latest"; def selective = true
    def matched: Long = n.toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT $rowCols FROM ${src.tvf()} ORDER BY seq DESC LIMIT $n")
    def check(rows: Array[Row]): Option[String] =
      checkRows(rows, gen.events.takeRight(n).toSeq)
  }

  /** full stream, envelope only: messages and last seq per format.zone */
  final case class EnvelopeCount(gen: Gen) extends Query {
    def kind = "envelope_count"; def selective = false
    def matched: Long = gen.events.length.toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT substring_index(subject, '.', 2) AS grp, count(*) AS n, " +
        s"max(seq) AS last_seq FROM ${src.tvf()} GROUP BY 1")
    def check(rows: Array[Row]): Option[String] =
      checkGroups(rows, gen.events.groupBy(e => e.subject.split('.').take(2)
        .mkString(".")).map { case (k, es) =>
          k -> Seq[Any](es.length.toLong, es.map(_.seq).max) })
  }

  /** full stream, json_extract then group-by zone */
  final case class JsonGroup(gen: Gen) extends Query {
    def kind = "json_group"; def selective = false
    def matched: Long = gen.events.count(_.json).toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT zone, count(*) AS n, " +
        s"sum(CAST(reading_kw_q AS BIGINT)) AS kw_q FROM " +
        src.tvf(", 'subject', 'json.', 'json_extract', 'zone,reading.kw_q'") +
        " GROUP BY zone")
    def check(rows: Array[Row]): Option[String] =
      checkGroups(rows, gen.events.filter(_.json).groupBy(e => Gen.zoneName(e.zone))
        .map { case (k, es) => k -> Seq[Any](es.length.toLong, es.map(_.kwQ).sum) })
  }

  /** full stream, proto_extract then group-by zone */
  final case class ProtoGroup(gen: Gen, protoFile: String) extends Query {
    def kind = "proto_group"; def selective = false
    def matched: Long = gen.events.count(!_.json).toLong
    def frame(spark: SparkSession, src: Source): DataFrame =
      spark.sql(s"SELECT position_zone AS zone, count(*) AS n, " +
        "sum(reading_kw) AS kw, sum(CAST(online AS INT)) AS online FROM " +
        src.tvf(s", 'subject', 'pb.', 'proto_file', '$protoFile', " +
          "'proto_message', 'DeviceEvent', " +
          "'proto_extract', 'position.zone,reading.kw,online'") +
        " GROUP BY position_zone")
    def check(rows: Array[Row]): Option[String] =
      checkGroups(rows, gen.events.filter(!_.json).groupBy(e => Gen.zoneName(e.zone))
        .map { case (k, es) => k -> Seq[Any](es.length.toLong,
          es.map(_.kwQ / 4.0).sum, es.count(_.online).toLong) })
  }

  /** One cycle of the mix: 16 selective queries (80%) and 4 that read the
    * whole stream (20%), in a seed-determined order. The counts put the
    * median and the 90th percentile inside a block of one query kind on
    * both sources (prefix/top-n and proto on this commit), not on the edge
    * between two kinds, where they would jump between the two. */
  def cycle(gen: Gen, protoFile: String, rnd: java.util.Random): Seq[Query] = {
    val n = gen.events.length
    def fmt(): String = if (rnd.nextBoolean()) "json" else "pb"
    def window(): (Int, Int) = {
      val w = math.min(n - 1, 200)
      val lo = rnd.nextInt(n - w)
      (lo, lo + w)
    }
    val qs = Seq.fill(4) { val (a, b) = window(); SeqWindow(gen, a + 1L, b.toLong) } ++
      Seq.fill(3) { val (a, b) = window(); TsWindow(gen, a, b) } ++
      Seq.fill(6)(SubjectPrefix(gen,
        s"${fmt()}.${Gen.zoneName(rnd.nextInt(gen.sizes.zones))}.")) ++
      Seq.fill(1)(Wildcard(gen, fmt(), rnd.nextInt(gen.sizes.devices))) ++
      Seq.fill(2)(TopLatest(gen, 25)) ++
      Seq(EnvelopeCount(gen), JsonGroup(gen), ProtoGroup(gen, protoFile),
        ProtoGroup(gen, protoFile))
    val a = qs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}
