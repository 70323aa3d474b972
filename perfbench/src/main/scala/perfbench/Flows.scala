package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.enrich.{ClassNormalize, IpEnrich, IpRange}
import graft.schema.ColumnSpec
import graft.sources.ParserConfig
import graft.streaming.TaskConfig

/** Seeded pmacct-flow JSON messages, shaped like
  * `graft.sources.Generators.flowJson` (timestamp, src/dst IP, proto,
  * ports, bytes, a `class` that is mostly `Unknown/Unknown`), plus the
  * sinker task they feed. Every field is a pure function of
  * (seed, message id), so the same seed gives the same messages whether
  * they are made on an executor (ingest_bulk) or by the file generator
  * thread (stream_open). */
object Flows {

  /** About 1 % of messages are planted malformed: truncated JSON, which
    * the parser must count as a parse error and drop. */
  val MalformedPerMille = 10

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, m) for field `k` of message `id`. */
  def draw(seed: Long, id: Long, k: Int, m: Long): Long =
    java.lang.Long.remainderUnsigned(
      mix(mix(seed * 0x9e3779b97f4a7c15L + id) + k * 0x632be59bd9b4e019L), m)

  def malformed(seed: Long, id: Long): Boolean =
    draw(seed, id, 0, 1000) < MalformedPerMille

  private val tsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  private def ip(seed: Long, id: Long, k: Int): String =
    s"${draw(seed, id, k, 223) + 1}.${draw(seed, id, k + 1, 256)}." +
      s"${draw(seed, id, k + 2, 256)}.${draw(seed, id, k + 3, 256)}"

  /** The message body; `extra` is appended as more JSON fields. */
  def message(seed: Long, id: Long, extra: String = ""): String = {
    val ts = tsFormat.format(Instant.ofEpochSecond(1643414400L + draw(seed, id, 1, 86400)))
    val proto = if (draw(seed, id, 2, 2) == 0) "tcp" else "udp"
    val cls = draw(seed, id, 3, 10) match {
      case 0 => "HTTP/HTTP"
      case 1 => "Unknown/TLS"
      case _ => "Unknown/Unknown"
    }
    val json = s"""{"@timestamp": "$ts", "ip_src": "${ip(seed, id, 10)}", """ +
      s""""ip_dst": "${ip(seed, id, 20)}", "ip_proto": "$proto", """ +
      s""""port_src": ${20000 + draw(seed, id, 4, 40000)}, """ +
      s""""port_dst": ${draw(seed, id, 5, 1024)}, "bytes": ${draw(seed, id, 6, 100000)}, """ +
      s""""class": "$cls"$extra}"""
    if (malformed(seed, id)) json.substring(0, json.length / 2) else json
  }

  /** `n` messages in the Kafka source's (value, topic, partition, offset)
    * shape, made on the executors. */
  def kafkaFrame(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).as[Long]
      .map(id => (message(seed, id), "flows", (id % 4).toInt, id))
      .toDF("value", "topic", "partition", "offset")
  }

  def columns(extra: Seq[ColumnSpec] = Nil): Seq[ColumnSpec] = extra ++ Seq(
    ColumnSpec("@timestamp", "DateTime"),
    ColumnSpec("ip_src", "String"),
    ColumnSpec("ip_dst", "String"),
    ColumnSpec("ip_proto", "String"),
    ColumnSpec("port_src", "Int32"),
    ColumnSpec("port_dst", "Int32"),
    ColumnSpec("bytes", "Int64"),
    ColumnSpec("class", "String"),
    ColumnSpec("__kafka_topic", "String"),
    ColumnSpec("__kafka_partition", "Int32"),
    ColumnSpec("__kafka_offset", "Int64"))

  /** The sinker task: JSON parse, hash sharding on the source IP. */
  def task(name: String, columns: Seq[ColumnSpec], bufferSize: Int, flushS: Int): TaskConfig =
    TaskConfig(name = name, topic = "flows", parser = ParserConfig(format = "json"),
      tableName = name, columns = columns, shardingKey = Some("ip_src"),
      bufferSize = bufferSize, flushInterval = flushS)

  val Shards = 3

  /** Synthetic geo DB of `n` ranges tiling the IPv4 space, the LAN and
    * empty-area cases included (the shape of the engine's own Bench
    * ingest rows). `searchIp` carries the table inside its expression, so
    * every job ships it in its task binary. */
  private def geoDb(n: Int): Seq[IpRange] = {
    val width = (1L << 32) / n
    (0 until n).map { k =>
      val area =
        if (k % 1024 == 0) "对方和您在同一内部网"
        else if (k % 3 == 0) ""
        else s"ISP-${k % 97}"
      IpRange(k * width, (k + 1) * width - 1, s"国家${k % 4096}", area)
    }
  }

  /** qqwry scale: 2^17 ranges (real qqwry.dat has about 500 K). */
  lazy val qqwryScale: Seq[IpRange] = geoDb(1 << 17)
  /** City scale: 2^12 ranges. */
  lazy val cityScale: Seq[IpRange] = geoDb(1 << 12)

  def enrichGeo(ranges: Seq[IpRange])(df: DataFrame): DataFrame =
    IpEnrich.searchIp(df, ranges, objs = Seq("src", "dst"))

  def enrichAll(spark: SparkSession, ranges: Seq[IpRange])(df: DataFrame): DataFrame =
    ClassNormalize.replaceUnknown(spark)(enrichGeo(ranges)(df))
}
