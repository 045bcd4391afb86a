package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.nats.NatsScanOptions

/** Parameter-validation parity with the reference
  * (/root/reference/src/nats_scan.cpp:267-285 and
  * test/sql/test_connection_errors.sql negative cases). */
class NatsScanOptionsSpec extends AnyFunSuite {

  test("seq range and time range are mutually exclusive") {
    val e = intercept[IllegalArgumentException] {
      NatsScanOptions(startSeq = Some(1L),
        startTime = NatsScanOptions.ts("2024-01-01T00:00:00Z")).validate()
    }
    assert(e.getMessage.contains("sequence range"))
    assert(e.getMessage.contains("time range"))
  }

  test("json_extract and proto_extract are mutually exclusive") {
    val e = intercept[IllegalArgumentException] {
      NatsScanOptions(jsonExtract = Seq("a"), protoExtract = Seq("b"),
        protoFile = Some("f.proto"), protoMessage = Some("M")).validate()
    }
    assert(e.getMessage.contains("json_extract"))
    assert(e.getMessage.contains("proto_extract"))
  }

  test("E6 json_extract + proto_file/proto_message (no proto_extract) is a " +
    "parameter conflict — the exact reference shape") {
    // /root/reference/test/sql/test_connection_errors.sql:194-199: the
    // commented-out E6 passes json_extract := ['field1'] together with
    // proto_file/proto_message only; the conflict must outrank the
    // proto-co-requirement error
    val e = intercept[IllegalArgumentException] {
      NatsScanOptions(jsonExtract = Seq("field1"),
        protoFile = Some("telemetry.proto"),
        protoMessage = Some("Telemetry")).validate()
    }
    assert(e.getMessage.contains("json_extract"))
    assert(e.getMessage.contains("proto_extract"))
  }

  test("proto params are co-required") {
    val e = intercept[IllegalArgumentException] {
      NatsScanOptions(protoExtract = Seq("a")).validate()
    }
    assert(e.getMessage.contains("together"))
    intercept[IllegalArgumentException] {
      NatsScanOptions(protoFile = Some("f.proto")).validate()
    }
  }

  test("inverted seq range rejected") {
    val e = intercept[IllegalArgumentException] {
      NatsScanOptions(startSeq = Some(10L), endSeq = Some(5L)).validate()
    }
    assert(e.getMessage.contains("start_seq"))
  }

  test("valid combinations pass") {
    NatsScanOptions().validate()
    NatsScanOptions(startSeq = Some(1L), endSeq = Some(100L),
      subjectContains = Some("x"), jsonExtract = Seq("k")).validate()
    NatsScanOptions(
      startTime = NatsScanOptions.ts("2024-01-01T00:00:00Z"),
      endTime = NatsScanOptions.ts("2024-01-02T00:00:00Z"),
      protoFile = Some("f.proto"), protoMessage = Some("M"),
      protoExtract = Seq("a.b")).validate()
  }

  test("nats_scan rejects max_msgs_per_batch below 1 at bind") {
    Seq("0", "-5").foreach { v =>
      val e = intercept[RuntimeException] {
        new graft.sources.NatsScanTable(Map("dir" -> "/tmp",
          "max_msgs_per_batch" -> v))
      }
      assert(e.getMessage ==
        s"nats_scan: max_msgs_per_batch must be >= 1, got $v")
    }
  }

  test("payload polymorphism: string only under json_extract") {
    assert(NatsScanOptions(jsonExtract = Seq("k")).payloadIsString)
    assert(!NatsScanOptions().payloadIsString)
    assert(!NatsScanOptions(protoFile = Some("f"), protoMessage = Some("M"),
      protoExtract = Seq("a")).payloadIsString)
  }
}
