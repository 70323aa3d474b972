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

  /** Every query module; each query name is registered by exactly one. */
  val modules: Seq[QueryModule] = Seq(Relational, Parsing, Enrichment,
    Sharded, LlmPipeline, EventQueries, CorpusExtras, PipelineExtras,
    Round8, Round9, Round11, Round12, Round13, Round15, Round16, Round17,
    Round18)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = union(modules.map(_.oracles))

  /** Queries whose oracle reads their own result back (see
    * [[QueryModule.oracleInputCopies]]). */
  lazy val oracleInputCopies: Set[String] =
    modules.flatMap(_.oracleInputCopies).toSet

  /** Merges per-module maps; a name registered twice is an error, not a
    * silent overwrite. */
  private[graft] def union[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = acc.keySet.intersect(m.keySet)
      require(dup.isEmpty, s"query names registered twice: ${dup.mkString(", ")}")
      acc ++ m
    }
}
