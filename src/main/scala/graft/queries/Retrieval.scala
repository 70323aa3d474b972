package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Bm25, Pq}

/** Similarity search over `embeddings` / `documents`: exact and IVF /
  * PQ approximate nearest neighbours, BM25, hybrid rank fusion and hard
  * negative mining. Approximate results are oracle-checked by reading
  * them back and re-deriving their exact part in DuckDB. */
object Retrieval extends QueryModule {

  /** q19: exact brute-force cosine top-k for 10 query vectors —
    * broadcast queries, one corpus pass, per-query top-k. The ANN/LSH
    * variant is [[graft.operators.Ann.lshTopK]] (AnnSpec pins its recall
    * against this baseline). */
  def q19AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10)
  }

  /** q28: IVF approximate cosine top-k — coarse-quantizer training on a
    * deterministic sample, map-only cell assignment, probe-join search.
    *
    * Oracle: read-back. Which neighbors IVF returns depends on the
    * trained centroids (not SQL-expressible; recall vs the exact q19
    * baseline is pinned by AnnSpec), but the returned rows themselves
    * are fully checkable: DuckDB reads the result back from a fixed
    * path, recomputes every pair's cosine from the raw `embeddings`
    * table, and re-derives `rank` from the recomputed scores — a wrong
    * score, a fabricated id (join drops it), or a non-monotonic ranking
    * all break the hash compare. */
  def q28IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 8)
  }

  /** q67: product-quantization ANN ([[graft.operators.Pq]]) — the
    * memory-compressed corpus path: vectors encoded to m=16 codes once,
    * the ADC scan shortlists 64 candidates per query over CODES only
    * (the float corpus is never scanned at query time; PqSpec measures
    * shortlist-64 recall of the exact top-10 at 0.94), and the exact
    * cosine rerank joins raw vectors for the shortlist alone — the
    * standard IVF-PQ deployment shape at 100 TB.
    *
    * Oracle: read-back, exactly q28's contract — which candidates the
    * codes shortlist depends on the trained codebooks (not
    * SQL-expressible; recall is pinned by PqSpec), but every returned
    * row is checkable: DuckDB recomputes each pair's cosine from the
    * raw table and re-derives `rank`, so a wrong score, fabricated id,
    * or ADC-ordered (instead of rerank-ordered) output breaks the
    * compare. */
  def q67PqAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Pq.train(emb, "vec_id", "embedding", m = 16, ksub = 16)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val shortlist = Pq.adcTopK(codes, queries, "vec_id", "embedding", cb, k = 64)
    val vecs = emb.select(col("vec_id"),
      Ann.toDoubleArray(col("embedding")).as("__v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    shortlist
      .join(vecs.withColumnRenamed("vec_id", "nn_id")
        .withColumnRenamed("__v", "__vc"), "nn_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        Ann.toDoubleArray(col("embedding")).as("__vq"))), "q_id")
      .withColumn("cos", round(Ann.cosine(col("__vq"), col("__vc")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "rank", "nn_id", "cos")
  }

  /** The q48 query set — shared literal fixture for the Spark side and
    * the oracle's VALUES list. Terms span the corpus idf range ('dup'
    * is the rarest corpus term; the rest are mid/high-df). */
  val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "hash join batch",
    1 -> "slow query scan",
    2 -> "dup vector window")

  /** q48: BM25 ranked retrieval over the documents table
    * ([[graft.operators.Bm25]]) — top-10 docs for each of three fixed
    * queries. Fully SQL-expressible oracle: DuckDB re-derives tf, df,
    * dl, the corpus stats, the Okapi formula (identical `+1` idf form),
    * the DECIMAL-accumulated per-doc sum, and the rounded-score ranking
    * from the raw table. */
  def q48Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    Bm25.search(docs, "doc_id", "text",
        bm25Queries.toDF("q_id", "q_text"), "q_id", "q_text", k = 10)
      .orderBy("q_id", "rank")
  }

  /** q85's fixture: seed docs for more-like-this, spanning the id
    * range; pool 50 candidates per ranker, fuse to top 10. */
  val rrfSeeds = Seq(0L, 7L, 42L)

  val rrfPoolK = 50

  val rrfK = 10

  /** q85: hybrid retrieval ([[graft.operators.HybridRetrieval]]) —
    * dense exact-cosine ranking over `embeddings` fused with sparse
    * word-set-Jaccard ranking over `documents` by Reciprocal Rank
    * Fusion (k₀=60). Rank-only fusion: the fused score is a sum of
    * exact small-integer rationals, so determinism needs no float
    * discipline beyond the rankers' own µ-rounding. */
  def q85HybridRrf(s: SparkSession, dir: String): DataFrame =
    graft.operators.HybridRetrieval.moreLikeThis(
        Tables.parallel(s, dir, "documents"), "doc_id", "text",
        Tables.parallel(s, dir, "embeddings"), "vec_id", "embedding",
        rrfSeeds, k = rrfK, poolK = rrfPoolK)
      .orderBy("q_id", "rank")

  /** q97's band: exclude µ-rounded cosine ≥ 0.98 (the planted near-dup
    * pairs sit ≥ 0.999; a margin below keeps the cut decisive), top-5
    * negatives for the 10 q19 anchor vectors. */
  val negMaxCos = 0.98

  val negK = 5

  /** q97: hard-negative mining ([[graft.operators.Ann.hardNegatives]])
    * — per anchor, the most-similar vectors BELOW the near-duplicate
    * band: the contrastive-training sampler (semi-hard upper cut).
    * Exhaustive q19-style oracle with the same strict-< filter. */
  def q97HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    graft.operators.Ann.hardNegatives(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = negK, maxCos = negMaxCos)
      .orderBy("q_id", "rank")
  }

  val entries: Seq[Query] = Seq(
    Query("q19_ann_topk", q19AnnTopK,
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, nn_id, round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q CROSS JOIN c WHERE nn_id != q_id),
        |ranked AS (
        |  SELECT q_id, nn_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT q_id, rank, nn_id, cos FROM ranked
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Query("q67_pq_ann", q67PqAnn,
      s"""WITH pairs AS (
        |  SELECT q_id, nn_id FROM ${Query.readBack("q67_pq_ann")}),
        |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rescored AS (
        |  SELECT p.q_id, p.nn_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
        |  FROM pairs p
        |  JOIN emb q ON q.vec_id = p.q_id
        |  JOIN emb c ON c.vec_id = p.nn_id)
        |SELECT q_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank,
        |  nn_id, cos
        |FROM rescored ORDER BY q_id, rank""".stripMargin, readBack = true),
    Query("q28_ivf_ann", q28IvfAnn,
      s"""WITH pairs AS (
        |  SELECT q_id, nn_id FROM ${Query.readBack("q28_ivf_ann")}),
        |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rescored AS (
        |  SELECT p.q_id, p.nn_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
        |  FROM pairs p
        |  JOIN emb q ON q.vec_id = p.q_id
        |  JOIN emb c ON c.vec_id = p.nn_id)
        |SELECT q_id,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, nn_id ASC) AS INTEGER) AS rank,
        |  nn_id, cos
        |FROM rescored ORDER BY q_id, rank""".stripMargin, readBack = true),
    Query("q48_bm25_topk", q48Bm25TopK, {
      val values = bm25Queries
        .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH q(q_id, q_text) AS (VALUES $values),
        |qt AS (SELECT q_id, unnest(list_distinct(string_split(q_text, ' '))) AS term
        |       FROM q),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM d),
        |tf AS (SELECT qt.q_id, qt.term, tok.doc_id, count(*) AS tf
        |       FROM tok JOIN qt USING (term) GROUP BY 1, 2, 3),
        |df AS (SELECT q_id, term, count(*) AS df FROM tf GROUP BY 1, 2),
        |sc AS (SELECT tf.q_id, tf.doc_id,
        |  CAST(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1) *
        |    (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
        |    AS DECIMAL(28,12)) AS s
        |  FROM tf JOIN df USING (q_id, term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats),
        |agg AS (SELECT q_id, doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
        |        FROM sc GROUP BY 1, 2),
        |r AS (SELECT q_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM agg)
        |SELECT q_id, rank, doc_id, score FROM r
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
    }),
    Query("q97_hard_negatives", q97HardNegatives,
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neg_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |scored AS (
        |  SELECT q_id, neg_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos
        |  FROM q CROSS JOIN c WHERE neg_id != q_id),
        |banded AS (SELECT * FROM scored WHERE cos < $negMaxCos),
        |ranked AS (
        |  SELECT q_id, neg_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, neg_id ASC) AS INTEGER) AS rank
        |  FROM banded)
        |SELECT q_id, rank, neg_id, cos FROM ranked
        |WHERE rank <= $negK ORDER BY q_id, rank""".stripMargin),
    Query("q85_hybrid_rrf", q85HybridRrf, {
      val seedList = rrfSeeds.mkString(", ")
      s"""WITH qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |            FROM embeddings WHERE vec_id IN ($seedList)),
        |c AS (SELECT vec_id AS nn_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |dsc AS (SELECT q_id, nn_id AS doc_id,
        |          round(list_cosine_similarity(qv, cv), 6) AS cos
        |        FROM qv CROSS JOIN c WHERE nn_id != q_id),
        |dpool AS (SELECT q_id, doc_id, r FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, doc_id) AS r FROM dsc)
        |  WHERE r <= $rrfPoolK),
        |tok AS (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) AS w
        |        FROM documents),
        |tn AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
        |inter AS (SELECT s.doc_id AS q_id, t.doc_id, count(*) AS i
        |          FROM tok s JOIN tok t USING (w)
        |          WHERE s.doc_id IN ($seedList) AND t.doc_id != s.doc_id
        |          GROUP BY 1, 2),
        |jsc AS (SELECT qn.doc_id AS q_id, d.doc_id,
        |          round(CAST(coalesce(i.i, 0) AS DOUBLE) /
        |            CAST(qn.n + d.n - coalesce(i.i, 0) AS DOUBLE), 6) AS jac
        |        FROM tn qn CROSS JOIN tn d
        |        LEFT JOIN inter i ON i.q_id = qn.doc_id
        |          AND i.doc_id = d.doc_id
        |        WHERE qn.doc_id IN ($seedList) AND d.doc_id != qn.doc_id),
        |jpool AS (SELECT q_id, doc_id, r FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY jac DESC, doc_id) AS r FROM jsc)
        |  WHERE r <= $rrfPoolK),
        |fused AS (SELECT coalesce(d.q_id, j.q_id) AS q_id,
        |    coalesce(d.doc_id, j.doc_id) AS doc_id,
        |    round(coalesce(1.0 / (60.0 + CAST(d.r AS DOUBLE)), 0.0) +
        |          coalesce(1.0 / (60.0 + CAST(j.r AS DOUBLE)), 0.0), 9)
        |      AS rrf_score
        |  FROM dpool d FULL OUTER JOIN jpool j
        |    ON d.q_id = j.q_id AND d.doc_id = j.doc_id)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, doc_id, rrf_score
        |FROM (SELECT q_id, doc_id, rrf_score,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY rrf_score DESC, doc_id) AS rank
        |      FROM fused)
        |WHERE rank <= $rrfK ORDER BY q_id, rank""".stripMargin
    }))
}
