package graft

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.nats.{NatsScan, NatsScanOptions}
import ScanPathPropertySpec._

/** Cross-path differential property: every way of reading the message store
  * returns the same `(seq, subject, ts_nats, payload)` rows for the same
  * predicates — the facade, the DSv2 fixture read, the DSv2 native store
  * under each compaction layout, and an AvailableNow stream replay (fixture
  * and native) filtered afterwards. Timestamp bounds land on real message
  * times, shifted by -1 / 0 / +999 ns, so each comparison operator hits the
  * µs-truncation edges of the pushed ns bounds. */
class ScanPathPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val layouts = Seq("seq", "subject", "zorder")

  override def afterAll(): Unit = spark.stop()

  private def forAll[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  /** one native store per compaction layout, built from the fixture */
  private lazy val nativeStores: Map[String, String] = layouts.map { layout =>
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_paths_$layout")
      .toString
    spark.read.format("nats_scan").option("dir", dir).load()
      .write.format("nats_scan").option("dir", tmp).mode("overwrite").save()
    graft.sources.NatsStoreMaintenance
      .compact(spark, tmp, "events", numFiles = 4, layout = layout)
    layout -> tmp
  }.toMap

  private def dsv2(d: String): DataFrame =
    spark.read.format("nats_scan").option("dir", d).load()

  private var replays = 0

  private def rows(df: DataFrame): Seq[(Long, String, Long, String)] =
    df.select(col("seq"), col("subject"), unix_micros(col("ts_nats")),
        hex(col("payload")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)

  private lazy val allRows = rows(NatsScan.scanDir(spark, dir))

  /** AvailableNow replay of the store into a memory table; before any
    * predicate, it must hold every message exactly once */
  private def replay(d: String, maxPerBatch: Long): DataFrame = {
    replays += 1
    val name = s"paths_replay_$replays"
    val q = spark.readStream.format("nats_scan").option("dir", d)
      .option("max_msgs_per_batch", maxPerBatch.toString).load()
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), s"replay of $d did not finish")
    q.exception.foreach(e => throw e)
    val got = rows(spark.table(name))
    if (got != allRows) fail(s"replay of $d at max_msgs_per_batch=" +
      s"$maxPerBatch is not the stream: ${got.length} rows, missing seqs " +
      allRows.map(_._1).diff(got.map(_._1)).take(10).mkString(","))
    spark.table(name)
  }

  test("every scan path returns the same rows for random seq/ts/subject " +
    "predicates and ORDER BY seq LIMIT n") {
    val tsMicros = dsv2(dir).select(unix_micros(col("ts_nats")))
      .collect().map(_.getLong(0)).sorted
    val n = tsMicros.length.toLong
    def tsBound(ops: Seq[String]): Gen[TsBound] = for {
      op <- Gen.oneOf(ops)
      i <- Gen.choose(0, tsMicros.length - 1)
      off <- Gen.oneOf(-1L, 0L, 999L)
    } yield TsBound(op, tsMicros(i), off)
    // each predicate is absent half the time, so many cases keep most rows
    def maybe[A](g: Gen[A]): Gen[Option[A]] =
      Gen.oneOf(Gen.const(None), g.map(Some(_)))
    val gen = for {
      seqLo <- maybe(Gen.choose(0L, n + 10L))
      span <- Gen.choose(0L, n)
      seqHi <- maybe(Gen.const(seqLo.getOrElse(1L) + span))
      tsLo <- maybe(tsBound(Seq(">", ">=")))
      tsHi <- maybe(tsBound(Seq("<", "<=")))
      contains <- maybe(Gen.oneOf("click", "purchase", ".1", "view.4"))
      prefix <- maybe(Gen.oneOf("events.", "events.e", "events.signup.1",
        "events.view"))
      topN <- maybe(Gen.choose(1, 40))
      maxPerBatch <- Gen.choose(120L, 1200L)
      streamLayout <- Gen.oneOf(layouts)
    } yield Query(seqLo, seqHi, tsLo, tsHi, contains, prefix, topN,
      maxPerBatch, streamLayout)

    var nonEmpty = 0
    forAll(gen) { q =>
      val want = rows(q(NatsScan.scanDir(spark, dir, "events", q.facadeOpts)))
      if (want.nonEmpty) nonEmpty += 1
      val paths: Seq[(String, () => DataFrame)] =
        Seq("dsv2 fixture" -> (() => dsv2(dir))) ++
          layouts.map(l => s"dsv2 native $l" -> (() => dsv2(nativeStores(l)))) ++
          Seq(
            "stream fixture" -> (() => replay(dir, q.maxPerBatch)),
            s"stream native ${q.streamLayout}" ->
              (() => replay(nativeStores(q.streamLayout), q.maxPerBatch)))
      paths.foreach { case (name, df) =>
        val got = rows(q(df()))
        if (got != want) fail(s"$name diverged from the facade for $q: " +
          s"${got.length} vs ${want.length} rows")
      }
    }
    assert(nonEmpty >= 3, s"only $nonEmpty of 12 cases selected any row")
  }
}

object ScanPathPropertySpec {
  final case class TsBound(op: String, micros: Long, nsOffset: Long) {
    def instant: Instant =
      Instant.EPOCH.plusNanos(Math.addExact(Math.multiplyExact(micros, 1000L),
        nsOffset))
    def column: Column = {
      val t = lit(instant)
      op match {
        case ">" => col("ts_nats") > t
        case ">=" => col("ts_nats") >= t
        case "<" => col("ts_nats") < t
        case "<=" => col("ts_nats") <= t
      }
    }
  }

  final case class Query(seqLo: Option[Long], seqHi: Option[Long],
                         tsLo: Option[TsBound], tsHi: Option[TsBound],
                         contains: Option[String], prefix: Option[String],
                         topN: Option[Int], maxPerBatch: Long,
                         streamLayout: String) {
    def preds: Seq[Column] =
      seqLo.map(col("seq") >= _).toSeq ++ seqHi.map(col("seq") <= _) ++
        tsLo.map(_.column) ++ tsHi.map(_.column) ++
        contains.map(col("subject").contains(_)) ++
        prefix.map(col("subject").startsWith(_))
    def apply(df: DataFrame): DataFrame = {
      val filtered = preds.foldLeft(df)(_.filter(_))
      topN.fold(filtered)(filtered.orderBy("seq").limit(_))
    }
    /** the facade's own options, where they can express the predicate
      * (its seq and time ranges are mutually exclusive) */
    def facadeOpts: NatsScanOptions =
      if (seqLo.isDefined || seqHi.isDefined)
        NatsScanOptions(subjectContains = contains, startSeq = seqLo,
          endSeq = seqHi)
      else NatsScanOptions(subjectContains = contains,
        startTime = tsLo.filter(_.op == ">=").map(_.instant),
        endTime = tsHi.filter(_.op == "<=").map(_.instant))
  }
}
