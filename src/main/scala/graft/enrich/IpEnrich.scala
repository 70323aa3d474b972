package graft.enrich

import java.lang.ref.WeakReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ColumnBridge

/** One IPv4 range of the geo database, already decoded/normalized the way
  * the offline converter would emit it from qqwry.dat (GBK-decoded,
  * `" CZ88.NET"` scrubbed — ipHandle/pkg/qqwry/qqwry.go:105-112). Ranges
  * are sorted by `start` and non-overlapping.
  */
final case class IpRange(start: Long, end: Long, country: String, area: String)

/** Strict dotted-quad IPv4 → uint32-as-long; null on anything else
  * (net.ParseIP + To4, qqwry.go:64-72). Scans the UTF-8 bytes in place:
  * every byte of a multi-byte character is ≥ 0x80, so a non-ASCII input
  * is rejected exactly as a non-digit character would be.
  */
case class Ipv4ToLong(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var acc = 0L
    var octet = -1L
    var nOctets = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i)
      if (c == '.') {
        if (octet < 0 || octet > 255 || nOctets >= 3) return null
        acc = (acc << 8) | octet
        octet = -1
        nOctets += 1
      } else if (c >= '0' && c <= '9') {
        octet = (if (octet < 0) 0L else octet) * 10 + (c - '0')
        if (octet > 255) return null
      } else return null
      i += 1
    }
    if (octet < 0 || nOctets != 3) return null
    java.lang.Long.valueOf((acc << 8) | octet)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The geo range table in the compact form the lookup probes: sorted,
  * non-overlapping `[starts(i), ends(i)]` ranges whose SearchIP
  * `(loc, isp)` pair is `(pool(locIx(i)), pool(ispIx(i)))`.
  * [[IpRangeLookup.splitLocIsp]] runs once per range when the table is
  * built, and the pool holds each distinct loc/isp string once, so a
  * table of n ranges is four primitive arrays plus a pool far smaller
  * than n.
  */
final class GeoTable private (
    starts: Array[Long],
    ends: Array[Long],
    locIx: Array[Int],
    ispIx: Array[Int],
    pool: Array[UTF8String]) extends Serializable {

  def loc(idx: Int): UTF8String = pool(locIx(idx))
  def isp(idx: Int): UTF8String = pool(ispIx(idx))

  /** Index of the range holding `ip`, or -1 on a miss: the rightmost
    * start <= ip (searchIndex, qqwry.go:117-149), then its end. */
  def find(ip: Long): Int = {
    var lo = 0
    var hi = starts.length - 1
    var idx = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= ip) { idx = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (idx < 0 || ip > ends(idx)) -1 else idx
  }
}

object GeoTable {
  def build(ranges: Seq[IpRange]): GeoTable = {
    val sorted = ranges.sortBy(_.start).toArray
    val n = sorted.length
    val locIx = new Array[Int](n)
    val ispIx = new Array[Int](n)
    val ids = new java.util.HashMap[String, Integer]()
    val pool = ArrayBuffer.empty[UTF8String]
    def intern(s: String): Int = ids.computeIfAbsent(s, _ => {
      pool += UTF8String.fromString(s)
      pool.length - 1
    })
    var i = 0
    while (i < n) {
      val (loc, isp) = IpRangeLookup.splitLocIsp(sorted(i).country, sorted(i).area)
      locIx(i) = intern(loc)
      ispIx(i) = intern(isp)
      i += 1
    }
    new GeoTable(sorted.map(_.start), sorted.map(_.end), locIx, ispIx, pool.toArray)
  }

  /** The table of the last `broadcast` call, reused while the same
    * `ranges` instance is enriched on the same live context. Context and
    * ranges are held weakly, so a stopped context is not retained, and
    * its broadcast is never handed to the context that follows it. */
  private final class Shipped(sc: SparkContext, ranges: Seq[IpRange],
      val table: Broadcast[GeoTable]) {
    private val scRef = new WeakReference(sc)
    private val rangesRef = new WeakReference(ranges)
    def serves(sc: SparkContext, ranges: Seq[IpRange]): Boolean =
      (scRef.get eq sc) && !sc.isStopped && (rangesRef.get eq ranges)
  }
  private var last: Shipped = _

  /** Build `ranges` into a table and broadcast it: one copy per
    * executor, fetched once and shared by every task and every lookup
    * that holds the handle. */
  def broadcast(spark: SparkSession, ranges: Seq[IpRange]): Broadcast[GeoTable] =
    synchronized {
      val sc = spark.sparkContext
      if (last == null || !last.serves(sc, ranges))
        last = new Shipped(sc, ranges, sc.broadcast(build(ranges)))
      last.table
    }
}

/** The `SearchIP` lookup core (input/kafka_sarama.go:11570-11640 over the
  * qqwry binary search, qqwry.go:117-149): O(log n) probe into a sorted
  * range table, then the reference's textual post-processing
  * re-expressed structurally:
  *
  *  - miss (no range, or invalid IP) → loc = isp = 未知;
  *  - hit → the qqwry "country area" text is whitespace-tokenized: loc is
  *    the first token; isp joins the remaining tokens with "" (foreign
  *    names/ISPs may contain spaces), or 未知 when the area is empty;
  *  - LAN entries (text contains 同一内部网) normalize to loc = isp =
  *    局域网 (kafka_sarama.go:11616-11620).
  *
  * The expression carries only the [[GeoTable]] broadcast handle, so the
  * task binary stays small whatever the table size; each executor
  * fetches the table once, matching the reference's process-wide
  * in-memory DB, and the probe stays O(log n) per row vs the O(n)
  * per-row scans a BroadcastNestedLoopJoin over a BETWEEN predicate
  * would do. The handle compares by reference: one `searchIp` call
  * shares one handle across its lookups.
  */
case class IpRangeLookup(child: Expression, table: Broadcast[GeoTable])
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val geo: GeoTable = table.value

  override def dataType: DataType = IpRangeLookup.outputType
  override def nullable: Boolean = false

  private val unknown = UTF8String.fromString("未知")

  /** Invalid/missing IP behaves like a lookup miss, not a null row. */
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val idx = if (v == null) -1 else geo.find(v.asInstanceOf[Long])
    if (idx < 0) InternalRow(unknown, unknown)
    else InternalRow(geo.loc(idx), geo.isp(idx))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IpRangeLookup {
  val outputType: StructType = StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("isp", StringType, nullable = false)))

  /** kafka_sarama.go:11580-11620 textual parse, structural form. */
  def splitLocIsp(country: String, area: String): (String, String) = {
    val combined = (country + " " + area).trim
    if (combined.contains("同一内部网")) return ("局域网", "局域网")
    val fields = combined.split("\\s+").filter(_.nonEmpty)
    if (fields.isEmpty) ("未知", "未知")
    else if (fields.length == 1) (fields(0), "未知")
    else (fields(0), fields.drop(1).mkString(""))
  }
}

/** The E1 `HandleMsg` composition (input/kafka_sarama.go:11670-11674):
  * `SearchIP` then `ReplaceUnknown`, as one structured pipeline stage for
  * TaskRunner's `enrich` hook; the caller decides whether to pass it. */
object Enrich {
  def handleMsg(spark: SparkSession, ranges: Seq[IpRange])
      (df: DataFrame): DataFrame =
    ClassNormalize.replaceUnknown(spark)(IpEnrich.searchIp(df, ranges))
}

object IpEnrich {
  import org.apache.spark.sql.functions.{col => fcol}

  def ipv4ToLong(ip: Column): Column =
    ColumnBridge.col(Ipv4ToLong(ColumnBridge.expr(ip)))

  /** `SearchIP` for each object (src/dst): adds `loc_<obj>`/`isp_<obj>`
    * from `ip_<obj>`. One broadcast table shared by every object; one
    * binsearch per row per object; the struct is materialized once and
    * field-projected. */
  def searchIp(df: DataFrame, ranges: Seq[IpRange],
      objs: Seq[String] = Seq("src", "dst")): DataFrame = {
    val table = GeoTable.broadcast(df.sparkSession, ranges)
    objs.foldLeft(df) { (d, obj) =>
      val looked = ColumnBridge.col(IpRangeLookup(
        Ipv4ToLong(ColumnBridge.expr(d.col(s"ip_$obj"))), table))
      d.withColumn(s"__lk_$obj", looked)
        .withColumn(s"loc_$obj", fcol(s"__lk_$obj.loc"))
        .withColumn(s"isp_$obj", fcol(s"__lk_$obj.isp"))
        .drop(s"__lk_$obj")
    }
  }
}
