package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.enrich.{GeoTable, IpRange, IpRangeLookup, Ipv4ToLong}

/** Unit coverage of the qqwry-style lookup primitives:
  * dotted-quad→uint32 (qqwry.go:64-72), rightmost-start binary search
  * (qqwry.go:117-149), and SearchIP loc/isp splitting incl. 未知 defaults
  * and LAN normalization (kafka_sarama.go:11570-11640).
  */
class IpEnrichSpec extends AnyFunSuite {

  private def aton(s: String): Any =
    Ipv4ToLong(Literal(UTF8String.fromString(s), StringType))
      .eval(InternalRow.empty)

  test("Ipv4ToLong strict dotted-quad") {
    assert(aton("0.0.0.0") === 0L)
    assert(aton("255.255.255.255") === 4294967295L)
    assert(aton("1.2.3.4") === (1L << 24) + (2L << 16) + (3L << 8) + 4)
    assert(aton("192.168.1.1") === (192L << 24) + (168L << 16) + (1L << 8) + 1)
    assert(aton("256.0.0.1") === null)
    assert(aton("1.2.3") === null)
    assert(aton("1.2.3.4.5") === null)
    assert(aton("a.b.c.d") === null)
    assert(aton("1.2.3.") === null)
    assert(aton("") === null)
    assert(aton("::1") === null) // IPv6 is not IPv4
  }

  private val ranges = Seq(
    IpRange(0L, 99L, "局域网段", "对方和您在同一内部网"),
    IpRange(100L, 199L, "中国", "电信"),
    IpRange(200L, 299L, "美国", ""),
    // gap [300, 399]
    IpRange(400L, 499L, "England", "British Telecom"))

  private def lookup(ip: String): (String, String) = {
    val e = IpRangeLookup(
      Ipv4ToLong(Literal(UTF8String.fromString(ip), StringType)),
      new LocalBroadcast(GeoTable.build(ranges)))
    val r = e.eval(InternalRow.empty).asInstanceOf[InternalRow]
    (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
  }

  test("binary search hit / gap / beyond-last / invalid") {
    assert(lookup("0.0.0.150") === (("中国", "电信")))
    assert(lookup("0.0.0.100") === (("中国", "电信"))) // range start boundary
    assert(lookup("0.0.0.199") === (("中国", "电信"))) // range end boundary
    assert(lookup("0.0.1.44") === (("未知", "未知"))) // 300: in the gap
    assert(lookup("200.0.0.1") === (("未知", "未知"))) // beyond last range
    assert(lookup("not an ip") === (("未知", "未知"))) // invalid ≡ miss
  }

  test("SearchIP string semantics (kafka_sarama.go:11580-11620)") {
    // LAN normalization
    assert(lookup("0.0.0.5") === (("局域网", "局域网")))
    // empty area → isp 未知
    assert(lookup("0.0.0.250") === (("美国", "未知")))
    // multi-token area joins without spaces (foreign ISP names)
    assert(lookup("0.0.1.200") === (("England", "BritishTelecom")))
  }

  test("splitLocIsp corner cases") {
    assert(IpRangeLookup.splitLocIsp("", "") === (("未知", "未知")))
    assert(IpRangeLookup.splitLocIsp("广东省深圳市", "腾讯云") ===
      (("广东省深圳市", "腾讯云")))
    assert(IpRangeLookup.splitLocIsp("美国 加州", "") === (("美国", "加州")))
    assert(IpRangeLookup.splitLocIsp("x", "同一内部网") === (("局域网", "局域网")))
  }
}
