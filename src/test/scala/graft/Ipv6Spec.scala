package graft

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.enrich.{GeoTable, Ipv6ToLongHi, IpRange, IpRangeLookup, Zxipv6Converter}

/** IPv6 geo DB: top-64-bit keying, unsigned-order mapping, binary format
  * (ipHandle/pkg/zxipv6wry/zxipv6wry.go:59-133). */
class Ipv6Spec extends AnyFunSuite {

  private def hi(ip: String): Any =
    Ipv6ToLongHi(Literal(UTF8String.fromString(ip), StringType))
      .eval(InternalRow.empty)

  test("Ipv6ToLongHi: top 64 bits, order-mapped") {
    assert(hi("::") === Zxipv6Converter.mapKey(0L))
    assert(hi("2001:db8::1") === Zxipv6Converter.mapKey(0x20010db8L << 32))
    assert(hi("fe80::1") === Zxipv6Converter.mapKey(0xfe80L << 48))
    assert(hi("1.2.3.4") === null) // IPv4 literal is not IPv6
    assert(hi("example.com") === null) // never resolves hostnames
    assert(hi("nonsense::::") === null)
  }

  test("unsigned order is preserved through the mapping") {
    // fe80::... (high bit set) must sort AFTER 2001:... in the mapped domain
    val a = hi("2001:db8::1").asInstanceOf[Long]
    val b = hi("fe80::1").asInstanceOf[Long]
    assert(a < b)
  }

  test("converter reads the 11-byte-index format; lookup resolves") {
    val gbk = java.nio.charset.Charset.forName("GBK")
    def u64le(v: Long): Array[Byte] =
      (0 until 8).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def u32le(v: Long): Array[Byte] =
      (0 until 4).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def u24le(v: Int): Array[Byte] =
      (0 until 3).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray

    val records = new ByteArrayOutputStream()
    val recBase = 24
    val recA = recBase
    records.write("中国".getBytes(gbk)); records.write(0)
    records.write("联通 CZ88.NET".getBytes(gbk)); records.write(0)
    val recBOff = recBase + records.size()
    records.write("美国".getBytes(gbk)); records.write(0)
    records.write("ISP X".getBytes(gbk)); records.write(0)

    val idxStart = recBase + records.size()
    val key1 = 0x20010db8L << 32 // 2001:db8::/64 region
    val key2 = 0xfe80L << 48
    val index = new ByteArrayOutputStream()
    index.write(u64le(key1)); index.write(u24le(recA))
    index.write(u64le(key2)); index.write(u24le(recBOff))

    val buf = new ByteArrayOutputStream()
    buf.write(new Array[Byte](8)) // unused preamble
    buf.write(u64le(2)) // counts at offset 8
    buf.write(u32le(idxStart)) // index start at offset 16
    buf.write(new Array[Byte](4)) // pad to recBase = 24
    buf.write(records.toByteArray)
    buf.write(index.toByteArray)

    val ranges = Zxipv6Converter.readAll(buf.toByteArray)
    assert(ranges.size === 2)
    assert(ranges.head.country === "中国")
    assert(ranges.head.area === "联通") // CZ88 scrubbed
    assert(ranges(1).country === "美国")

    def lookup(ip: String): (String, String) = {
      val e = IpRangeLookup(
        Ipv6ToLongHi(Literal(UTF8String.fromString(ip), StringType)),
        new LocalBroadcast(GeoTable.build(ranges)))
      val r = e.eval(InternalRow.empty).asInstanceOf[InternalRow]
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }
    assert(lookup("2001:db8::42") === (("中国", "联通")))
    assert(lookup("fe80::9") === (("美国", "ISPX"))) // area spaces joined
    assert(lookup("::1") === (("未知", "未知"))) // below first key
  }
}
