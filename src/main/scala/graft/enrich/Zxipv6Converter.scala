package graft.enrich

import java.nio.charset.Charset

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ColumnBridge

/** Offline converter for the zxipv6wry IPv6 geo database
  * (ipHandle/pkg/zxipv6wry/zxipv6wry.go:59-133): 11-byte index rows keyed
  * by the TOP 64 BITS of the IPv6 address (little-endian u64 + u24 record
  * offset); ranges are implicit — entry i covers [key_i, key_{i+1}).
  *
  * Because range keys are unsigned 64-bit and the engine's binsearch
  * compares signed longs, keys are mapped through `^ Long.MinValue`
  * (order-preserving unsigned→signed bijection); [[Ipv6ToLongHi]] applies
  * the same mapping to probe values.
  */
object Zxipv6Converter {

  private val RedirectMode1 = 0x01
  private val RedirectMode2 = 0x02
  private val Gbk: Charset = Charset.forName("GBK")

  /** Unsigned-order-preserving map into signed longs. */
  def mapKey(u: Long): Long = u ^ Long.MinValue

  def readAll(data: Array[Byte]): Seq[IpRange] = {
    def u8(off: Int): Int = data(off) & 0xff
    def u24(off: Int): Int = u8(off) | (u8(off + 1) << 8) | (u8(off + 2) << 16)
    def u32(off: Int): Long =
      (u8(off) | (u8(off + 1) << 8) | (u8(off + 2) << 16) | (u8(off + 3).toLong << 24)) & 0xffffffffL
    def u64(off: Int): Long = {
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | u8(off + i); i -= 1 }
      v
    }

    def cstringRaw(off: Int): (String, Int) = {
      var end = off
      while (end < data.length && data(end) != 0) end += 1
      (new String(data, off, end - off, Gbk), end - off)
    }

    def readArea(off: Int): String = u8(off) match {
      case RedirectMode1 | RedirectMode2 =>
        val areaOffset = u24(off + 1)
        if (areaOffset == 0) "" else cstringRaw(areaOffset)._1
      case _ => cstringRaw(off)._1
    }

    /** zxipv6wry.go:88-103 getAddr. */
    def getAddr(off: Int): (String, String) = u8(off) match {
      case RedirectMode1 => getAddr(u24(off + 1))
      case mode =>
        val c1 = readArea(off)
        val next =
          if (mode == RedirectMode2) off + 4
          else off + cstringRaw(off)._2 + 1
        (c1, readArea(next))
    }

    def scrub(s: String): String = s.replace(" CZ88.NET", "")

    // header (zxipv6wry.go:105-109): counts u64 LE at 8, index start u32 at 16
    val counts = u64(8)
    val idxStart = u32(16).toInt
    val entries = ArrayBuffer.empty[(Long, String, String)]
    var i = 0L
    var off = idxStart
    while (i < counts) {
      val key = u64(off)
      val rec = u24(off + 8)
      val (country, area) = getAddr(rec)
      entries += ((mapKey(key), scrub(country), scrub(area)))
      i += 1
      off += 11
    }
    val sorted = entries.sortBy(_._1)
    sorted.zipWithIndex.map { case ((start, c, a), idx) =>
      val end = if (idx + 1 < sorted.length) sorted(idx + 1)._1 - 1 else Long.MaxValue
      IpRange(start, end, c, a)
    }.toSeq
  }

  def readFile(path: String): Seq[IpRange] =
    readAll(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
}

/** IPv6 literal → top-64-bits key in the unsigned-order-mapped signed
  * domain (zxipv6wry.go:69-80). Null for anything that isn't an IPv6
  * literal (no DNS resolution — only textual forms are accepted). */
case class Ipv6ToLongHi(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (!s.contains(':')) return null // never a hostname → never resolves
    try {
      val addr = java.net.InetAddress.getByName(s)
      val bytes = addr.getAddress
      if (bytes.length != 16) return null
      var hi = 0L
      var i = 0
      while (i < 8) { hi = (hi << 8) | (bytes(i) & 0xffL); i += 1 }
      java.lang.Long.valueOf(Zxipv6Converter.mapKey(hi))
    } catch { case _: Exception => null }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Ipv6Enrich {
  /** `SearchIP` over IPv6 columns: same broadcast-binsearch lookup, keyed
    * on mapped top-64-bit prefixes. */
  def lookup(spark: SparkSession, ranges: Seq[IpRange])(ip: Column): Column =
    ColumnBridge.col(IpRangeLookup(
      Ipv6ToLongHi(ColumnBridge.expr(ip)), GeoTable.broadcast(spark, ranges)))
}
