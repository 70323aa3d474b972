package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.enrich.{ClassNormalize, IpEnrich, IpRange}
import graft.operators.Sharding
import graft.schema.{CType, ColumnSpec}
import graft.sources.{MessageParser, ParserConfig}

/** Oracle-checked exercises of the sinker's ingest stages: typed message
  * parsing, IP / class enrichment and row sharding — the parse → enrich
  * → shard path [[graft.streaming.TaskRunner]] assembles. */
object Ingest extends QueryModule {

  /* Oracle-checked exercises of the typed message-parsing stack (SURVEY §2.2):
    * JSON / CSV messages are rendered from the `events` parquet table, pushed
    * through [[MessageParser.project]] with a ColumnSpec schema covering the
    * coercion matrix (ints, floats, strings, datetimes, elastic datetimes,
    * bools→1/0, u64 overflow→0, missing→default/null, arrays, `__kafka_*`
    * virtual columns), and the DuckDB oracle recomputes the same values
    * straight from the table.
    *
    * The parse expression is a single-pass CodegenFallback over each message
    * (same plan position as `from_json`); at 100 TB the stage is
    * embarrassingly parallel with no shuffle — the only shuffle here is the
    * final presentation ORDER BY, which real pipelines don't have.
    */

  private def cfg = ParserConfig(format = "json", timeUnit = 1.0, timeZone = "UTC")

  /** q13: JSON typed parse. Messages carry per-row values plus adversarial
    * literals (non-integral float in an Int column, u64 overflow, a missing
    * key) so the defaults/overflow semantics are oracle-visible. */
  def q13JsonParse(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val msg = concat(
      lit("""{"event_id":"""), col("event_id"),
      lit(""","etype":""""), col("event_type"), lit("\""),
      lit(""","val":"""), col("value"),
      lit(""","ts":""""), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"), lit("\""),
      lit(""","is_click":"""),
      when(col("event_type") === "click", lit("true")).otherwise(lit("false")),
      lit(""","frac":123.321,"big":18446744073709551615,"props":"""),
      col("props"), lit("}"))
    val messages = events.select(
      msg.as("value"),
      lit("events").as("topic"),
      pmod(col("event_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"))
    val specs = Seq(
      ColumnSpec("event_id", CType.CInt, nullable = false, "event_id"),
      ColumnSpec("etype", CType.CString, nullable = false, "etype"),
      ColumnSpec("val", CType.CFloat, nullable = false, "val"),
      ColumnSpec("ts_parsed", CType.CDateTime, nullable = false, "ts"),
      ColumnSpec("ets", CType.CElasticDateTime, nullable = false, "ts"),
      ColumnSpec("is_click", CType.CInt, nullable = false, "is_click"),
      // non-integral number in an Int column → default 0
      ColumnSpec("frac_int", CType.CInt, nullable = false, "frac"),
      // u64 overflow → default 0
      ColumnSpec("big", CType.CInt, nullable = false, "big"),
      // nested object through a String column → compact JSON text
      ColumnSpec("props_str", CType.CString, nullable = false, "props"),
      // absent keys: nullable → NULL, non-nullable → typed default
      ColumnSpec("miss_str", CType.CString, nullable = true, "missing_key"),
      ColumnSpec("miss_int", CType.CInt, nullable = false, "missing_key"),
      ColumnSpec("__kafka_topic", CType.CString, nullable = false, "__kafka_topic"),
      ColumnSpec("__kafka_partition", CType.CInt, nullable = false, "__kafka_partition"),
      ColumnSpec("__kafka_offset", CType.CInt, nullable = false, "__kafka_offset"))
    messages
      .transform(MessageParser.project(specs, cfg))
  }

  /** q14: CSV typed parse with quoted cells, the `"null"` missing literal,
    * and an embedded-JSON int-array cell (presented via array_join since
    * the oracle harness compares scalars). */
  def q14CsvParse(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val line = concat(
      col("event_id"), lit(","),
      col("event_type"), lit(","),
      col("value"), lit(","),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"), lit(","),
      lit("null"), lit(","),
      lit("\"["), col("event_id"), lit(","), col("user_id"), lit("]\""))
    val messages = events.select(
      line.as("value"),
      lit("events").as("topic"),
      lit(0).as("partition"),
      col("event_id").as("offset"))
    val csvCfg = ParserConfig(format = "csv",
      csvFormat = Seq("id", "etype", "val", "ts", "maybe", "arr"),
      delimiter = ",", timeUnit = 1.0, timeZone = "UTC")
    val specs = Seq(
      ColumnSpec("id", CType.CInt, nullable = false, "id"),
      ColumnSpec("etype", CType.CString, nullable = false, "etype"),
      ColumnSpec("val", CType.CFloat, nullable = false, "val"),
      ColumnSpec("ts_parsed", CType.CDateTime, nullable = false, "ts"),
      ColumnSpec("maybe", CType.CString, nullable = true, "maybe"),
      ColumnSpec("arr", CType.CIntArray, nullable = false, "arr"))
    messages
      .transform(MessageParser.project(specs, csvCfg))
      .withColumn("arr_joined", array_join(col("arr"), "|"))
      .drop("arr")
  }

  /* Oracle-checked exercises of the nali enrichment stack (SURVEY §2.3):
    * the qqwry-style broadcast-binsearch IP lookup with `SearchIP` output
    * semantics (E2/E4) and the serviceMap class normalization (E9). Synthetic
    * IPs/ports are derived arithmetically from `events.user_id` so the DuckDB
    * oracle can recompute them and verify via a plain range join — the Spark
    * side goes through the real string→aton→binsearch path.
    */

  /** Deterministic range table from `nation` (25 ranges × 40M addresses):
    * nation 0 is a LAN entry (同一内部网 → 局域网), every third nation has
    * an empty area (isp → 未知), the rest get a `-ISP` suffixed area.
    * IPs above the last range miss entirely (loc = isp = 未知). */
  private def rangesOf(s: SparkSession, dir: String): Seq[IpRange] = {
    Tables(s, dir, "nation")
      .select("n_nationkey", "n_name")
      .collect()
      .toSeq
      .map { r =>
        val k = r.get(0).asInstanceOf[Number].longValue
        val name = r.getString(1)
        val area =
          if (k == 0) "对方和您在同一内部网"
          else if (k % 3 == 0) ""
          else name + "-ISP"
        IpRange(k * 40000000L, k * 40000000L + 39999999L, name, area)
      }
  }

  /** q15: geoip enrich — ip string render → aton → O(log n) broadcast
    * binsearch → SearchIP loc/isp semantics. Shuffle-free map
    * (no final sort: its sampling pass would re-run the enrichment). */
  def q15IpEnrich(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val o1 = pmod(col("user_id"), lit(80))
    val o2 = pmod(col("user_id") * 7, lit(256))
    val o3 = pmod(col("user_id") * 13, lit(256))
    val o4 = pmod(col("user_id"), lit(256))
    val withIp = events.select(
      col("event_id"),
      concat(o1, lit("."), o2, lit("."), o3, lit("."), o4).as("ip_src"))
    IpEnrich.searchIp(withIp, rangesOf(s, dir), objs = Seq("src"))
      .select("event_id", "ip_src", "loc_src", "isp_src")
  }

  /** q16: service-class normalization — two broadcast hash joins against
    * the bundled ~11.5k-entry proto:port dim + the `/`-split rules. */
  def q16ClassNormalize(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val flows = events.select(
      col("event_id"),
      when(col("event_type") === "view", lit("HTTP/HTTP"))
        .when(col("event_type") === "error", lit("Unknown/TLS"))
        .when(col("event_type") === "signup", lit("SMTP/POP3"))
        .otherwise(lit("Unknown/Unknown")).as("class"),
      when(pmod(col("user_id"), lit(2)) === 0, lit("tcp"))
        .otherwise(lit("udp")).as("ip_proto"),
      (col("user_id") + 20000).as("port_src"),
      pmod(col("user_id"), lit(1024)).as("port_dst"))
    flows
      .transform(ClassNormalize.replaceUnknown(s))
      .select("event_id", "class")
      .orderBy("event_id")
  }

  /** q27: entity extraction (E3) — IPv4/domain entities pulled from a
    * rendered log line with the reference's exact regexes; the IPv4 match
    * wins its overlap with the domain pattern. Pure map (no final
    * sort: its sampling pass would re-run the regex extraction). */
  def q27EntityExtract(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val o1 = pmod(col("user_id"), lit(80))
    val o2 = pmod(col("user_id") * 7, lit(256))
    val o3 = pmod(col("user_id") * 13, lit(256))
    val o4 = pmod(col("user_id"), lit(256))
    val line = concat(
      lit("conn from "), o1, lit("."), o2, lit("."), o3, lit("."), o4,
      lit(" to "), col("event_type"), lit(".example.com port 443"))
    val ofType = (t: String) =>
      filter(col("__ents"), e => e.getField("etype") === t)
    events
      // materialize the extraction once; the downstream projection refers
      // to it three times and CollapseProject keeps non-cheap multi-
      // referenced aliases in their own project
      .select(col("event_id"),
        graft.enrich.EntityExtract.entities(line).as("__ents"))
      .select(
        col("event_id"),
        element_at(ofType("ipv4"), 1).getField("text").as("ipv4"),
        element_at(ofType("domain"), 1).getField("text").as("domain"),
        size(col("__ents")).as("n_entities"))
  }

  /** q34: CDN domain lookup (E7) — base-domain reduction (`a.b.c → b.c`),
    * exact match against a broadcast map, the `kunlun` substring
    * fallback, and miss → null, all on one deterministic domain mix. */
  def q34CdnLookup(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val bases = Seq(
      "cdn.cloudfront.net", "img.akamai.com",
      "edge.mykunlun.net", "static.example.com")
    val cdnMap = Map(
      "cloudfront.net" -> "Amazon CloudFront",
      "akamai.com" -> "Akamai")
    val domain = element_at(
      array(bases.map(lit): _*), pmod(col("user_id"), lit(4)).cast("int") + 1)
    events.select(
      col("event_id"),
      domain.as("domain"),
      graft.enrich.Cdn.lookup(cdnMap)(domain).as("cdn"))
  }

  /* Oracle-checked exercise of the row sharder (SURVEY §2.4 B4): stripe
    * policy over an integer key and over a time key (epoch-second stripes),
    * aggregated to a per-shard distribution the DuckDB oracle recomputes
    * arithmetically. The hash policy has no SQL equivalent (xxhash64 seed 0)
    * and is pinned by ShardingSpec unit vectors instead.
    */

  def q17ShardDistribution(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events")
    val sharded = events.select(
      Sharding.stripeShard(col("user_id"), 16L, 5).as("shard_uid"),
      Sharding.stripeShard(col("ts"), 3600L, 5).as("shard_hour"))
    Sharding.repartitionByShard(sharded, col("shard_uid"), 5)
      .groupBy("shard_uid", "shard_hour")
      .agg(count(lit(1)).as("n"))
      .orderBy("shard_uid", "shard_hour")
  }

  val entries: Seq[Query] = Seq(
    Query("q13_json_parse", q13JsonParse,
      """SELECT event_id,
        | event_type AS etype,
        | value AS val,
        | date_trunc('milliseconds', ts) AS ts_parsed,
        | CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ets,
        | CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
        |   AS BIGINT) AS is_click,
        | CAST(0 AS BIGINT) AS frac_int,
        | CAST(0 AS BIGINT) AS big,
        | replace(props, '": ', '":') AS props_str,
        | CAST(NULL AS VARCHAR) AS miss_str,
        | CAST(0 AS BIGINT) AS miss_int,
        | 'events' AS __kafka_topic,
        | event_id % 4 AS __kafka_partition,
        | event_id AS __kafka_offset
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q14_csv_parse", q14CsvParse,
      """SELECT event_id AS id,
        | event_type AS etype,
        | value AS val,
        | date_trunc('milliseconds', ts) AS ts_parsed,
        | CAST(NULL AS VARCHAR) AS maybe,
        | concat(CAST(event_id AS VARCHAR), '|', CAST(user_id AS VARCHAR)) AS arr_joined
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q15_ip_enrich", q15IpEnrich,
      """WITH ips AS (
        |  SELECT event_id,
        |    CAST(user_id % 80 AS VARCHAR) || '.' ||
        |    CAST((user_id * 7) % 256 AS VARCHAR) || '.' ||
        |    CAST((user_id * 13) % 256 AS VARCHAR) || '.' ||
        |    CAST(user_id % 256 AS VARCHAR) AS ip_src,
        |    (user_id % 80) * 16777216 + ((user_id * 7) % 256) * 65536 +
        |    ((user_id * 13) % 256) * 256 + (user_id % 256) AS ipl
        |  FROM events),
        |ranges AS (
        |  SELECT n_nationkey AS k, n_name,
        |    CAST(n_nationkey * 40000000 AS BIGINT) AS lo,
        |    CAST(n_nationkey * 40000000 + 39999999 AS BIGINT) AS hi
        |  FROM nation)
        |SELECT event_id, ip_src,
        |  CASE WHEN k IS NULL THEN '未知' WHEN k = 0 THEN '局域网'
        |       ELSE n_name END AS loc_src,
        |  CASE WHEN k IS NULL THEN '未知' WHEN k = 0 THEN '局域网'
        |       WHEN k % 3 = 0 THEN '未知'
        |       ELSE n_name || '-ISP' END AS isp_src
        |FROM ips LEFT JOIN ranges ON ipl BETWEEN lo AND hi
        |ORDER BY event_id""".stripMargin),
    Query("q16_class_normalize", q16ClassNormalize,
      """WITH svc AS (
        |  SELECT key, service FROM read_csv(
        |    '/root/repo/src/main/resources/graft/service_map.tsv',
        |    delim='\t', header=true,
        |    columns={'key': 'VARCHAR', 'service': 'VARCHAR'})),
        |f AS (
        |  SELECT event_id,
        |    CASE event_type WHEN 'view' THEN 'HTTP/HTTP'
        |      WHEN 'error' THEN 'Unknown/TLS'
        |      WHEN 'signup' THEN 'SMTP/POP3'
        |      ELSE 'Unknown/Unknown' END AS class,
        |    CASE WHEN user_id % 2 = 0 THEN 'tcp' ELSE 'udp' END AS proto,
        |    user_id + 20000 AS psrc,
        |    user_id % 1024 AS pdst
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN f.class = 'Unknown/Unknown'
        |         THEN coalesce(d.service, s.service, 'Unknown')
        |       WHEN f.class = 'Unknown/TLS' THEN 'TLS'
        |       WHEN f.class = 'SMTP/POP3' THEN 'POP3'
        |       ELSE f.class END AS class
        |FROM f
        |LEFT JOIN svc s ON s.key = f.proto || ':' || CAST(f.psrc AS VARCHAR)
        |LEFT JOIN svc d ON d.key = f.proto || ':' || CAST(f.pdst AS VARCHAR)
        |ORDER BY event_id""".stripMargin),
    Query("q34_cdn_lookup", q34CdnLookup,
      """SELECT event_id,
        |  CASE user_id % 4
        |    WHEN 0 THEN 'cdn.cloudfront.net'
        |    WHEN 1 THEN 'img.akamai.com'
        |    WHEN 2 THEN 'edge.mykunlun.net'
        |    ELSE 'static.example.com' END AS domain,
        |  CASE user_id % 4
        |    WHEN 0 THEN 'Amazon CloudFront'
        |    WHEN 1 THEN 'Akamai'
        |    WHEN 2 THEN '阿里云 CDN'
        |    ELSE NULL END AS cdn
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q27_entity_extract", q27EntityExtract,
      """SELECT event_id,
        |  CAST(user_id % 80 AS VARCHAR) || '.' ||
        |  CAST((user_id * 7) % 256 AS VARCHAR) || '.' ||
        |  CAST((user_id * 13) % 256 AS VARCHAR) || '.' ||
        |  CAST(user_id % 256 AS VARCHAR) AS ipv4,
        |  event_type || '.example.com' AS domain,
        |  2 AS n_entities
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q17_shard_distribution", q17ShardDistribution,
      """SELECT CAST((user_id // 16) % 5 AS INTEGER) AS shard_uid,
        | CAST(((CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 5)
        |   AS INTEGER) AS shard_hour,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
