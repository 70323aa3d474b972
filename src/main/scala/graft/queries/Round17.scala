package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{ContainmentJoin, JaccardJoin, StopGrams}

/** Round-17 gates: the stop-gram BUDGET-BIND path (r16 judge directive
  * #2) exercised through the driver's DuckDB oracle, not only through
  * specs. Both gram joins run with a deliberately tiny
  * `stopGramBudgetBytes` so the Auto path's df≥2 table outgrows the
  * budget on every scale factor and the operator takes
  * [[graft.operators.StopGrams.joinPrefix]] — the distributed exact
  * frequency order — end to end. The oracles are EXACTLY q43's and
  * q59's exhaustive all-pairs ground truths: the bind path must
  * reproduce the broadcast path's answers bit-for-bit (both are
  * lossless consistent total orders ahead of a string-exact verify),
  * so these gates pin the fallback's correctness in
  * CORRECTNESS_r{N}.json at whatever scale the driver runs.
  */
object Round17 extends QueryModule {

  /** 1 KiB = 64 stop-gram entries: bound by construction on every sf
    * (the sf0.01 corpus alone has thousands of df≥2 trigrams), so the
    * gate can never silently fall back to the broadcast fast path. */
  val BindBudgetBytes: Long = 1024L

  /** q118: q43's exact Jaccard self-join, forced through the bind. */
  def q118JaccardBind(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(LlmPipeline.augmentedDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)

  /** q119: q59's asymmetric containment join, forced through the bind. */
  def q119ContainmentBind(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(CorpusExtras.snippetCorpus(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)
      .orderBy("id_a", "id_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_jaccard_bind" -> q118JaccardBind _,
    "q119_containment_bind" -> q119ContainmentBind _)

  /** The same ground truths as the broadcast-path gates — shared by
    * reference so the two paths can never be graded against different
    * SQL. */
  val oracles: Map[String, String] = Map(
    "q118_jaccard_bind" -> LlmPipeline.oracles("q43_jaccard_neardup"),
    "q119_containment_bind" -> CorpusExtras.oracles("q59_containment_dedup"))
}
