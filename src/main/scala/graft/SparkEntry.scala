package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 exposed as a
  * `(SparkSession, sfDir) => DataFrame`; [[oracleSql]] carries the DuckDB
  * equivalent the driver hash-compares against. Column names/types are kept
  * identical on both sides and every query is totally ordered.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q01AggPushdown(spark, "/root/testdata/sf0.001")

  /** Every query module, one per domain. */
  val modules: Seq[QueryModule] = Seq(Relational, Ingest, Events, Stats,
    Corpus, Retrieval, Media)

  /** Every module's entries by name; a name declared twice is an error. */
  private lazy val entries: Map[String, Query] =
    union(modules.flatMap(_.entries))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (k, q) => k -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    entries.map { case (k, q) => k -> q.oracle }

  /** Queries whose oracle reads their own result back (see
    * [[Query.readBack]]). */
  lazy val oracleInputCopies: Set[String] =
    entries.collect { case (k, q) if q.readBack => k }.toSet

  /** Keys entries by name; a name registered twice is an error, not a
    * silent overwrite. */
  private[graft] def union(qs: Seq[Query]): Map[String, Query] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names registered twice: ${dup.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
