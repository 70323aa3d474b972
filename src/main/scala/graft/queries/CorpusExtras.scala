package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ColumnBridge

/** Round-6 corpus operators: text canonicalization, sketched heavy
  * hitters, and asymmetric containment dedup. Kept out of
  * [[LlmPipeline]] only for file size; same conventions (shared
  * literals between Spark and oracle SQL, read-back oracles where a
  * sketch's content is run-dependent). */
object CorpusExtras extends QueryModule {

  /** q57's unicode plant, keyed by doc_id % 4: decomposed accents (NFC
    * composes), compatibility-composed U+212B (NFC maps to U+00C5),
    * C0 controls (stripped), and whitespace runs (collapsed). The
    * Scala literals and the oracle's chr() concatenations must stay
    * character-for-character identical. */
  private def plantedText = concat(col("text"),
    when(pmod(col("doc_id"), lit(4)) === 0,
        lit("  Cafe\u0301 \u0007du\u000B monde "))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        lit("\t\u212B Angstro\u0308m"))
      .when(pmod(col("doc_id"), lit(4)) === 2, lit(" already clean "))
      .otherwise(lit("A\u030A\u0001end")))

  // NOTE: no line may START with "||" — this fragment is re-embedded in
  // a stripMargin template, which would eat the first pipe
  private val plantedSql =
    """text || CASE
      |    WHEN doc_id % 4 = 0 THEN '  Cafe' || chr(769) || ' ' || chr(7) ||
      |      'du' || chr(11) || ' monde '
      |    WHEN doc_id % 4 = 1 THEN chr(9) || chr(8491) || ' Angstro' ||
      |      chr(776) || 'm'
      |    WHEN doc_id % 4 = 2 THEN ' already clean '
      |    ELSE 'A' || chr(778) || chr(1) || 'end' END""".stripMargin

  /** q57: corpus text canonicalization
    * ([[graft.functions.NormalizeText]]): control strip → NFC →
    * whitespace collapse → trim, one native codegen pass. Pure map —
    * no shuffle; the plant makes every branch observable on an
    * otherwise-ASCII corpus. */
  def q57TextNormalize(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        ColumnBridge.col(graft.functions.NormalizeText(
          ColumnBridge.expr(plantedText))).as("norm_text"))
      .orderBy("doc_id")
  }

  /** q58: sketched heavy hitters over word bigrams — ClickHouse `topK`
    * (SpaceSaving) as a [[graft.functions.SpaceSavingTopK]] typed
    * imperative aggregate: per-partition summaries of `capacity`
    * counters, one tiny merge at the driver-side reduce — the shape
    * that holds when the corpus has 10^12 grams but the answer is 20
    * rows. capacity=128 < the ~916-bigram vocabulary, so evictions and
    * truncating merges are genuinely exercised at every SF. The sketch
    * content is merge-order dependent, so the oracle reads the result
    * back and re-checks the SpaceSaving invariant (est − err ≤ exact ≤
    * est, term must exist) against exact DuckDB counts — any violated
    * row is filtered out and fails the hash compare. */
  def q58TopkSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val grams = docs
      .select(split(col("text"), " ").as("__w"))
      .select(explode(when(size(col("__w")) >= 2,
        expr("transform(sequence(0, size(__w) - 2), " +
          "i -> concat_ws(' ', __w[i], __w[i + 1]))"))).as("gram"))
    val sk = grams.agg(ColumnBridge.col(
      graft.functions.SpaceSavingTopK(
        ColumnBridge.expr(col("gram")), capacity = 128)
        .toAggregateExpression()).as("__sk"))
    sk.select(posexplode(slice(col("__sk"), 1, 20)).as(Seq("__i", "__c")))
      .select((col("__i") + 1).cast("long").as("rank"),
        col("__c.term").as("term"), col("__c.est").as("est"),
        col("__c.err").as("err"))
      .orderBy("rank")
  }

  /** q59's corpus: documents ∪ a 35% head snippet of every long doc
    * (+4M ids) — planted doc-in-doc inclusions that Jaccard dedup
    * (q18/q43, scoring ~0.35 here) can never flag. Word arithmetic is
    * integer-exact and mirrored by the oracle. */
  private[graft] def snippetCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val nTake = greatest(lit(5L), floor(size(w) * 35 / 100)).cast("int")
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("n_chars") >= 100)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), nTake)).as("text")))
  }

  /** q59: asymmetric containment self-join
    * ([[graft.operators.ContainmentJoin]]) — directed doc-in-doc pairs
    * at trigram containment ≥ 0.9. Exhaustive all-pairs DuckDB ground
    * truth (the q43 pattern): the lossless probe-prefix blocking must
    * reproduce it exactly. */
  def q59ContainmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairs(
        snippetCorpus(s, dir), "doc_id", "text", k = 3, minContainment = 0.9)
      .orderBy("id_a", "id_b")

  override val oracleInputCopies: Seq[String] = Seq("q58_topk_sketch")

  private def readBack(name: String): String =
    s"read_parquet('${LlmPipeline.oracleInputDir}/$name.parquet/*.parquet')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_text_normalize" -> q57TextNormalize _,
    "q58_topk_sketch" -> q58TopkSketch _,
    "q59_containment_dedup" -> q59ContainmentDedup _)

  val oracles: Map[String, String] = Map(
    "q57_text_normalize" ->
      s"""SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(regexp_replace(
        |    $plantedSql,
        |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
        |    '[ \\t\\n\\r]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q58_topk_sketch" ->
      s"""WITH r AS (SELECT * FROM ${readBack("q58_topk_sketch")}),
        |w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] || ' ' || w[i + 1] AS term
        |      FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1)
        |SELECT r.rank, r.term, r.est, r.err
        |FROM r JOIN ex USING (term)
        |WHERE r.est >= ex.c AND r.est - r.err <= ex.c
        |ORDER BY r.rank""".stripMargin,
    "q59_containment_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000,
        |    array_to_string(string_split(text, ' ')[1:CAST(greatest(5,
        |      floor(len(string_split(text, ' ')) * 35 / 100)) AS INT)], ' ')
        |  FROM documents WHERE n_chars >= 100),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
        |    AS containment
        |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)
}
