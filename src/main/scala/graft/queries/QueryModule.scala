package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark side as `(SparkSession, sfDir) =>
  * DataFrame`, the DuckDB oracle over the same parquet tables, and
  * whether that oracle reads the query's own result back and
  * re-derives the SQL-expressible part from the raw tables
  * ([[graft.Verify]] copies such results to [[Query.oracleInputDir]]). */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String,
    readBack: Boolean = false)

object Query {

  /** Fixed directory the DuckDB side reads read-back results from. */
  val oracleInputDir = "/root/repo/target/oracle_inputs"

  /** DuckDB scan of query `name`'s copied result. */
  def readBack(name: String): String =
    s"read_parquet('$oracleInputDir/$name.parquet/*.parquet')"
}

/** One domain's registered queries; [[graft.SparkEntry.modules]] lists
  * every module. */
trait QueryModule {
  def entries: Seq[Query]
}
