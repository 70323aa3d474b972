package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One group of registered queries; [[graft.SparkEntry.modules]] lists
  * every module. */
trait QueryModule {
  /** `(SparkSession, sfDir) => DataFrame` per query name. */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB SQL per query name, over the same parquet tables. */
  def oracles: Map[String, String]

  /** Queries of this module whose oracle reads the query's own output
    * back and re-derives the SQL-expressible part from the raw tables;
    * [[graft.Verify]] copies their results to
    * [[LlmPipeline.oracleInputDir]]. */
  def oracleInputCopies: Seq[String] = Seq.empty
}
