package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ColumnBridge, Hashes}
import graft.schema.{ColumnSpec, CType}

/** Parser configuration (config/config.go:116-123): one of `json` (the
  * fastjson/gjson pair — one Spark implementation suffices, semantics are
  * the cross-parser-consistent ones) or `csv` with an ordered column list
  * and single-char delimiter. `timeUnit` scales numeric datetimes;
  * `timeZone` interprets zone-less datetime strings.
  */
final case class ParserConfig(
    format: String = "json",
    csvFormat: Seq[String] = Nil,
    delimiter: String = ",",
    timeUnit: Double = 1.0,
    timeZone: String = "UTC")

/** The `MetricToRow` stage (model/message.go:171-212): raw message bytes →
  * typed columns per the target schema, plus `__kafka_*` virtual columns
  * and optional Prometheus series-id/labels.
  *
  * Shape: `df.transform(MessageParser.project(specs, cfg))` where `df` has
  * (value: String, topic: String, partition: Int, offset: Long) — exactly
  * the Kafka source columns, so the same stage serves batch parquet tests
  * and `readStream.format("kafka")` unchanged.
  */
object MessageParser {

  /** Typed-row column over a raw message column. Null ⇔ parse error. */
  def parsed(raw: Column, specs: Seq[ColumnSpec], cfg: ParserConfig): Column = {
    val dataSpecs = specs.filterNot(s => isVirtual(s.name))
    val e = cfg.format match {
      case "csv" => CsvTypedRow(ColumnBridge.expr(raw), dataSpecs,
        cfg.csvFormat, cfg.delimiter, cfg.timeUnit, cfg.timeZone)
      case _ => JsonTypedRow(ColumnBridge.expr(raw), dataSpecs,
        cfg.timeUnit, cfg.timeZone)
    }
    ColumnBridge.col(e)
  }

  def isVirtual(name: String): Boolean = name.startsWith("__kafka")

  /** Full projection: parse, drop malformed rows (task/task.go:280-287 —
    * counted then skipped), flatten typed fields, add virtual columns.
    */
  def project(specs: Seq[ColumnSpec], cfg: ParserConfig)(df: DataFrame): DataFrame = {
    val withParsed = df
      .withColumn("__parsed", parsed(col("value"), specs, cfg))
      .filter(col("__parsed").isNotNull)
    withParsed.select(columns(specs): _*)
  }

  /** The typed output columns over a frame holding `__parsed` and the
    * Kafka source columns: one field per data spec, one cast source
    * column per virtual spec. */
  def columns(specs: Seq[ColumnSpec]): Seq[Column] = specs.map { s =>
    if (isVirtual(s.name)) virtualColumn(s.name).cast(s.ctype.sparkType).as(s.name)
    else col("__parsed").getField(s.name).as(s.name)
  }

  /** `__kafka_topic` / `__kafka_partition` / `__kafka_offset`
    * (model/message.go:183-190, suffix-matched like the reference). */
  private def virtualColumn(name: String): Column =
    if (name.endsWith("_topic")) col("topic")
    else if (name.endsWith("_partition")) col("partition")
    else col("offset")

  /** Prometheus-mode series id + labels (model/message.go:176-211):
    * `__series_id = xxhash64_seed0(concat per non-empty string dim of
    * "###" + name + "###" + value)`; `labels` renders the same dims as a
    * JSON object, excluding the metric-name key and `le`. Label values
    * are deliberately NOT JSON-escaped: the reference renders with a raw
    * `fmt.Sprintf("\"%s\": \"%s\"")` (model/message.go:201), so a value
    * containing a quote produces the same not-quite-JSON string there —
    * byte parity with the reference's series table wins over strictness.
    */
  def withSeriesColumns(
      df: DataFrame,
      stringDims: Seq[String],
      nameKey: String): DataFrame = {
    val hashInput = concat(stringDims.map { d =>
      when(col(d).isNotNull && col(d) =!= "",
        concat(lit("###"), lit(d), lit("###"), col(d))).otherwise(lit(""))
    }: _*)
    val labelPairs = stringDims.filterNot(d => d == nameKey || d == "le").map { d =>
      when(col(d).isNotNull && col(d) =!= "",
        concat(lit("\"" + d + "\": \""), col(d), lit("\""))).otherwise(lit(null))
    }
    df.withColumn("__series_id", Hashes.xxhash64Seed0(hashInput))
      .withColumn("labels",
        concat(lit("{"), concat_ws(", ", labelPairs: _*), lit("}")))
  }
}

/** Dynamic-schema type inference (`fjDetectType`,
  * parser/fastjson.go:302-340): bool→Int; number→Int if it fits int64
  * else Float; string→DateTime if any layout matches else String;
  * array→element type of the first element; object→String.
  * Null / empty array / array of nulls → None (Unknown).
  */
object DetectType {
  import JValue._
  import graft.functions.GoTimeLayouts

  def detect(v: JValue, tz: java.time.ZoneId): Option[CType] = v match {
    case null | JNull => None
    case JBool(_) => Some(CType.CInt)
    case n: JNum =>
      if (n.int64.isDefined) Some(CType.CInt) else Some(CType.CFloat)
    case JStr(s) =>
      if (GoTimeLayouts.detect(s, tz).isDefined) Some(CType.CDateTime)
      else Some(CType.CString)
    case JArr(items) =>
      if (items.isEmpty) None
      else detect(items(0), tz).flatMap {
        case CType.CInt => Some(CType.CIntArray)
        case CType.CFloat => Some(CType.CFloatArray)
        case CType.CString => Some(CType.CStringArray)
        case CType.CDateTime => Some(CType.CDateTimeArray)
        case _ => None
      }
    case _ => Some(CType.CString) // objects stringify
  }

  /** ClickHouse ADD COLUMN type for a detected type
    * (output/clickhouse.go:388-430). */
  def chAlterType(t: CType): String = t match {
    case CType.CInt => "Nullable(Int64)"
    case CType.CFloat => "Nullable(Float64)"
    case CType.CString => "Nullable(String)"
    case CType.CDateTime => "Nullable(DateTime64(3))"
    case CType.CIntArray => "Array(Int64)"
    case CType.CFloatArray => "Array(Float64)"
    case CType.CStringArray => "Array(String)"
    case CType.CDateTimeArray => "Array(DateTime64(3))"
    case other => throw new IllegalArgumentException(s"no DDL for $other")
  }
}
