package natsbench

import java.nio.charset.StandardCharsets.UTF_8

/** Everything the benchmark feeds the program, built from the seed alone.
  *
  * Event stream: subjects `json.<zone>.<device>` and `pb.<zone>.<device>`;
  * device keys are Zipf-skewed and each device lives in one zone; publish
  * times are strictly increasing whole microseconds (so the native store's
  * µs `ts_nats` and the wire's ns stamps describe the same instants).
  * `json.*` payloads are JSON, `pb.*` payloads are wire-format
  * `proto/device_event.proto` `DeviceEvent` messages encoded here by hand,
  * independently of the program's codec. `kw` readings are multiples of
  * 0.25, so every double sum the checks compare is exact in any order.
  *
  * Gate corpus: JSON `{doc_id, text}` documents. Documents of one family
  * share their text exactly; families use disjoint vocabularies, so two
  * families never share a shingle. Doc ids grow with publish order, so the
  * gate's survivor of a family is always its first-published member no
  * matter how batches split the stream. Short documents (under three
  * tokens) repeat on purpose: the gate must keep every one of them.
  */
final case class Event(seq: Long, subject: String, tsUs: Long,
                       payload: Array[Byte], json: Boolean, zone: Int,
                       device: Int, kwQ: Long, online: Boolean)

final case class GateDoc(id: Long, text: String) {
  def short: Boolean = text.split(' ').length < 3
  def payload: Array[Byte] =
    s"""{"doc_id":$id,"text":"$text"}""".getBytes(UTF_8)
}

/** Input sizes. The tail is `--seconds` long: `tailRatePerS` × seconds
  * messages. */
final case class Sizes(events: Int, devices: Int, zones: Int,
                       backlog: Int, tailRatePerS: Int, maxMsgsPerBatch: Int,
                       warmDocs: Int, setupRounds: Int, minQueries: Int,
                       tail: Int = 0)

object Sizes {
  /** the measured size: 6000 stream messages; an 800-doc gate backlog
    * (four batches of 200) and a tail published at a fixed 40 msgs/s,
    * about half the gate's catch-up rate on a 4-core machine, so the tail
    * measures latency, not a growing queue */
  val full: Sizes = Sizes(events = 6000, devices = 300, zones = 16,
    backlog = 800, tailRatePerS = 40, maxMsgsPerBatch = 200,
    warmDocs = 100, setupRounds = 3, minQueries = 100)
  /** the smoke size: every code path, a few seconds of work */
  val tiny: Sizes = Sizes(events = 600, devices = 40, zones = 4,
    backlog = 120, tailRatePerS = 40, maxMsgsPerBatch = 60,
    warmDocs = 40, setupRounds = 2, minQueries = 20)
}

final class Gen(seed: Long, val sizes: Sizes) {
  import Gen._

  /** 2026-01-01T00:00:00Z in µs */
  val baseUs: Long = 1767225600000000L

  val events: Array[Event] = {
    val rnd = new java.util.Random(seed * 7919L + 11L)
    val zipf = zipfCdf(sizes.devices, 1.05)
    var ts = baseUs
    Array.tabulate(sizes.events) { i =>
      ts += 1 + rnd.nextInt(2000)
      val device = sample(zipf, rnd.nextDouble())
      val zone = device % sizes.zones
      val json = rnd.nextBoolean()
      val kwQ = rnd.nextInt(40000).toLong
      val online = rnd.nextInt(10) != 0
      val fw = s"1.${device % 7}.${rnd.nextInt(3)}"
      val subject = s"${if (json) "json" else "pb"}.${zoneName(zone)}.${deviceName(device)}"
      val payload =
        if (json)
          (s"""{"device":"${deviceName(device)}","zone":"${zoneName(zone)}",""" +
            s""""reading":{"kw_q":$kwQ,"pf":0.9},"online":$online,"fw":"$fw"}""")
            .getBytes(UTF_8)
        else deviceEvent(deviceName(device), ts, zoneName(zone),
          s"r${device % 11}", kwQ / 4.0, online, fw)
      Event(i + 1L, subject, ts, payload, json, zone, device, kwQ, online)
    }
  }

  /** gate documents: the backlog, then the tail, then (separately) the
    * warm-up stream, whose families never reappear */
  private val gateAll: Array[GateDoc] = {
    val rnd = new java.util.Random(seed * 104729L + 3L)
    val n = sizes.backlog + sizes.tail
    val out = new Array[GateDoc](n)
    var fam = 0
    val famText = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < n) {
      val r = rnd.nextInt(100)
      val text =
        if (r < 4) shortTexts(rnd.nextInt(shortTexts.length))
        else if (r < 34 && famText.nonEmpty) {
          // a copy of an earlier family, usually a recent one, sometimes
          // one from far back (a duplicate of an indexed document)
          val back = if (rnd.nextInt(4) == 0) famText.length
                     else math.min(famText.length, 40)
          famText(famText.length - 1 - rnd.nextInt(back))
        } else {
          val len = 10 + rnd.nextInt(14)
          val t = (0 until len).map(w => s"f${fam}w$w").mkString(" ")
          fam += 1
          famText += t
          t
        }
      out(i) = GateDoc(1000L + i * 3L + rnd.nextInt(3), text)
      i += 1
    }
    out
  }
  val backlog: Array[GateDoc] = gateAll.take(sizes.backlog)
  val tail: Array[GateDoc] = gateAll.drop(sizes.backlog)

  /** warm-up docs: their own id range and vocabulary */
  val warmDocs: Array[GateDoc] = Array.tabulate(sizes.warmDocs) { i =>
    val f = i % math.max(1, sizes.warmDocs * 3 / 4)
    GateDoc(1L + i, (0 until 12).map(w => s"warm${f}w$w").mkString(" "))
  }

  /** survivors the gate must keep, given it saw `docs` in this order */
  def expectedSurvivors(docs: Seq[GateDoc]): Set[Long] = {
    val seen = scala.collection.mutable.HashSet[String]()
    docs.filter(d => d.short || seen.add(d.text)).map(_.id).toSet
  }
}

object Gen {
  def zoneName(z: Int): String = f"z$z%02d"
  def deviceName(d: Int): String = f"d$d%04d"

  private val shortTexts = Array("ok", "ok thanks", "see above", "+1")

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  // ---- proto3 wire encoding of graft.test.DeviceEvent ----

  private final class Buf {
    val out = new java.io.ByteArrayOutputStream(96)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3 | wire).toLong)
    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes(UTF_8))
    def fixed64(field: Int, bits: Long): Unit = {
      tag(field, 1)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    def double(field: Int, d: Double): Unit =
      fixed64(field, java.lang.Double.doubleToLongBits(d))
    def result: Array[Byte] = out.toByteArray
  }

  def deviceEvent(deviceId: String, ts: Long, zone: String, rack: String,
                  kw: Double, online: Boolean, firmware: String): Array[Byte] = {
    val pos = new Buf
    pos.str(1, zone); pos.str(2, rack); pos.str(3, "b1")
    val reading = new Buf
    reading.double(1, kw); reading.double(2, 0.9); reading.double(3, 230.0)
    val m = new Buf
    m.str(1, deviceId)
    m.tag(2, 0); m.varint(ts)
    m.bytes(3, pos.result)
    m.bytes(4, reading.result)
    if (online) { m.tag(5, 0); m.varint(1L) }
    m.str(6, firmware)
    m.result
  }
}
