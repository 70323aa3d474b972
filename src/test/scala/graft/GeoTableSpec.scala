package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.enrich.{GeoTable, IpEnrich, IpRange, IpRangeLookup, Ipv4ToLong,
  Ipv6ToLongHi, Zxipv6Converter}

/** The broadcast geo table against a plain linear scan over the source
  * ranges, on seeded tables with gaps, first/last boundaries, empty
  * areas, LAN entries, multi-token areas and no ranges at all, for IPv4
  * keys and the mapped top-64-bit IPv6 keys; plus the size of what a
  * task ships and the table sharing within one `searchIp`. */
class GeoTableSpec extends SparkSuite {

  private val Unknown = ("未知", "未知")

  /** The model: first range holding `key`, SearchIP-split; miss → 未知. */
  private def linear(ranges: Seq[IpRange], key: Option[Long]): (String, String) =
    key.flatMap(k => ranges.find(r => r.start <= k && k <= r.end))
      .fold(Unknown)(r => IpRangeLookup.splitLocIsp(r.country, r.area))

  private val countries = Seq("中国", "美国 加州", "England", "", "局域网段")
  private val areas = Seq("", "电信", "AT&T Chicago", "British  Telecom Ltd",
    "对方和您在同一内部网", " 联通 ")

  private def draw(rnd: Random, from: BigInt, until: BigInt): Long =
    (from + BigInt(rnd.nextLong()).mod(until - from)).toLong

  /** `n` disjoint ranges in [lo, hi]: random widths, gaps and
    * single-address ranges; a third end right before the next start (no
    * gap, the last one then ends at `hi`); half the tables start at `lo`. */
  private def table(rnd: Random, n: Int, lo: Long, hi: Long): Seq[IpRange] = {
    if (n == 0) return Nil
    val starts = ((if (rnd.nextBoolean()) Seq(lo) else Nil) ++
      Seq.fill(n)(draw(rnd, lo, BigInt(hi) + 1))).distinct.sorted
    starts.indices.map { i =>
      val next = if (i + 1 < starts.length) BigInt(starts(i + 1)) else BigInt(hi) + 1
      val end = if (rnd.nextInt(3) == 0) (next - 1).toLong else draw(rnd, starts(i), next)
      IpRange(starts(i), end, countries(rnd.nextInt(countries.size)),
        areas(rnd.nextInt(areas.size)))
    }
  }

  /** Keys on and around every boundary, the domain ends and random ones. */
  private def probes(rnd: Random, ranges: Seq[IpRange], lo: Long, hi: Long): Seq[Long] =
    (ranges.flatMap(r => Seq(r.start - 1, r.start, r.end, r.end + 1)) ++
      Seq(lo, hi) ++ Seq.fill(200)(draw(rnd, lo, BigInt(hi) + 1)))
      .filter(k => k >= lo && k <= hi)

  private def eval(e: Expression): (String, String) = {
    val r = e.eval(InternalRow.empty).asInstanceOf[InternalRow]
    (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
  }

  private def str(s: String) = Literal(UTF8String.fromString(s), StringType)

  private def dottedQuad(k: Long): String =
    Seq(24, 16, 8, 0).map(s => (k >>> s) & 0xff).mkString(".")

  /** The IPv6 literal whose top 64 bits map to the signed key `k`. */
  private def ipv6Of(k: Long): String = {
    val u = k ^ Long.MinValue
    Seq(48, 32, 16, 0).map(s => ((u >>> s) & 0xffff).toHexString).mkString(":") + "::"
  }

  test("IPv4 lookup equals a linear scan on seeded tables") {
    for (seed <- 1 to 24) {
      val rnd = new Random(seed)
      val n = if (seed == 1) 0 else rnd.nextInt(60) + 1
      val ranges = rnd.shuffle(table(rnd, n, 0L, 0xffffffffL))
      val handle = new LocalBroadcast(GeoTable.build(ranges))
      for (k <- probes(rnd, ranges, 0L, 0xffffffffL)) {
        val ip = dottedQuad(k)
        assert(eval(IpRangeLookup(Ipv4ToLong(str(ip)), handle)) ===
          linear(ranges, Some(k)), s"seed $seed ip $ip")
      }
      for (bad <- Seq("", "1.2.3", "256.1.1.1", "::1", "a.b.c.d"))
        assert(eval(IpRangeLookup(Ipv4ToLong(str(bad)), handle)) === Unknown)
    }
  }

  test("IPv6 mapped-key lookup equals a linear scan on seeded tables") {
    for (seed <- 1 to 24) {
      val rnd = new Random(seed * 7919L)
      val n = if (seed == 1) 0 else rnd.nextInt(60) + 1
      val ranges = table(rnd, n, Long.MinValue, Long.MaxValue)
      val handle = new LocalBroadcast(GeoTable.build(ranges))
      for (k <- probes(rnd, ranges, Long.MinValue, Long.MaxValue)) {
        val ip = ipv6Of(k)
        assert(eval(IpRangeLookup(Ipv6ToLongHi(str(ip)), handle)) ===
          linear(ranges, Some(k)), s"seed $seed ip $ip")
      }
      assert(eval(IpRangeLookup(Ipv6ToLongHi(str("1.2.3.4")), handle)) === Unknown)
    }
    // the converter's mapping and the probe's agree at the unsigned ends
    assert(Zxipv6Converter.mapKey(0L) === Long.MinValue)
    assert(ipv6Of(Long.MaxValue) === "ffff:ffff:ffff:ffff::")
  }

  test("searchIp over a real broadcast equals a linear scan") {
    import spark.implicits._
    val rnd = new Random(4242)
    val ranges = table(rnd, 300, 0L, 0xffffffffL)
    val keys = probes(rnd, ranges, 0L, 0xffffffffL)
    val ips = keys.map(dottedQuad) ++ Seq("bogus", "1.2.3")
    val df = ips.zip(ips.reverse).toDF("ip_src", "ip_dst").repartition(4)
    val keyOf = keys.map(k => dottedQuad(k) -> Option(k)).toMap ++
      Map("bogus" -> None, "1.2.3" -> None)
    val got = IpEnrich.searchIp(df, ranges).collect()
    assert(got.length === ips.length)
    for (r <- got) {
      val (src, dst) = (r.getAs[String]("ip_src"), r.getAs[String]("ip_dst"))
      assert((r.getAs[String]("loc_src"), r.getAs[String]("isp_src")) ===
        linear(ranges, keyOf(src)), s"src $src")
      assert((r.getAs[String]("loc_dst"), r.getAs[String]("isp_dst")) ===
        linear(ranges, keyOf(dst)), s"dst $dst")
    }
  }

  test("a lookup over 2^17 ranges serializes under 64 KiB") {
    val ranges = (0 until (1 << 17)).map { k =>
      IpRange(k.toLong << 15, ((k.toLong + 1) << 15) - 1, s"国家${k % 4096}",
        if (k % 3 == 0) "" else s"ISP-${k % 97}")
    }
    val e = IpRangeLookup(Ipv4ToLong(str("1.2.3.4")),
      GeoTable.broadcast(spark, ranges))
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(e)
    out.close()
    assert(bytes.size() < 64 * 1024, s"${bytes.size()} bytes")
    assert(eval(e) === linear(ranges, Some((1L << 24) + (2L << 16) + (3L << 8) + 4)))
  }

  test("src and dst lookups of one searchIp share one broadcast") {
    import spark.implicits._
    val ranges = Seq(IpRange(0L, 0xffffffffL, "中国", "电信"))
    val out = IpEnrich.searchIp(Seq(("1.1.1.1", "2.2.2.2")).toDF("ip_src", "ip_dst"), ranges)
    val ids = out.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case l: IpRangeLookup => l.table.id
    }))
    assert(ids.size === 2)
    assert(ids.distinct.size === 1)
  }
}
