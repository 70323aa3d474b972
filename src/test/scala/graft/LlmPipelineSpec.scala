package graft

import org.apache.spark.sql.functions._

import graft.queries.{Corpus, Retrieval}

/** Non-vacuity / completeness pins for the read-back-oracle queries
  * (q24/q28/q31). The read-back oracle proves every RETURNED row honest
  * (ids exist, similarity recomputed, thresholds re-applied) but cannot
  * catch under-generation — a query returning zero rows would pass
  * trivially. These pins close that hole: the corpus construction plants
  * known near-dup pairs (doc_id ↔ doc_id + 1,000,000, first word
  * dropped), and each blocking scheme must recover (most of) them.
  */
class LlmPipelineSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Constructed perturbed-copy pairs: the known-true near-dups. */
  private def plantedPairs = {
    Tables(spark, dir, "documents")
      .filter(col("n_chars") >= 100)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1000000L).as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("q24 simhash recovers the planted near-dup pairs within its hamming cut") {
    val planted = plantedPairs
    assert(planted.nonEmpty)
    val got = Corpus.q24SimhashNearDup(spark, dir)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got.nonEmpty, "q24 returned zero pairs — vacuous oracle")
    // every returned pair respects the hamming contract
    assert(got.values.forall(_ <= 12))
    // blocking is approximate, but must recover the large majority of
    // planted pairs at this scale (misses = hamming above the cut)
    val recovered = planted.count(got.contains)
    assert(recovered.toDouble / planted.size >= 0.8,
      s"q24 recovered $recovered/${planted.size} planted pairs")
  }

  test("q31 winnowing recovers planted pairs (long shared substrings guarantee fps)") {
    val planted = plantedPairs
    val got = Corpus.q31WinnowNearDup(spark, dir)
      .select("id_a", "id_b", "shared_fps", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty, "q31 returned zero pairs — vacuous oracle")
    // a first-word-dropped copy shares its entire >=99-char tail: far
    // beyond the window+k-1 guarantee, so every planted pair must appear
    val missing = planted.filterNot(got.contains)
    assert(missing.isEmpty, s"q31 missed planted pairs: $missing")
    // and with high recomputed similarity
    planted.foreach { p =>
      assert(got(p)._2 >= 0.8, s"planted pair $p jaccard ${got(p)._2}")
    }
  }

  test("q28 IVF returns exactly k ranked neighbors per query") {
    val rows = Retrieval.q28IvfAnn(spark, dir)
      .select("q_id", "rank", "nn_id", "cos").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty, "q28 returned zero rows — vacuous oracle")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to 10), s"q=$q ranks")
      // ranks strictly follow descending cosine (ties by nn_id)
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi.getDouble(3) > lo.getDouble(3) ||
          (hi.getDouble(3) == lo.getDouble(3) && hi.getLong(2) < lo.getLong(2)),
          s"q=$q rank order broken")
      }
    }
  }

  test("contamination: planted gram overlap flagged, disjoint doc clean") {
    import spark.implicits._
    val train = Seq(
      (1L, "x y the quick brown fox jumps z"), // contains bench 4-grams
      (2L, "totally unrelated words here now"), // clean
      (3L, "a b")                               // < k words → 0 grams
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over it")).toDF("doc_id", "text")
    val out = graft.operators.Contamination
      .ngramOverlap(train, bench, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // doc 1: grams "the quick brown fox" + "quick brown fox jumps" hit
    assert(out(1L) === ((5L, 2L, true)))
    assert(out(2L) === ((2L, 0L, false)))
    assert(out(3L) === ((0L, 0L, false)))
  }

  test("dedup pipeline: exact dups drop first, near-dups collapse to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),  // verbatim copy → exact_dup
      (3L, "b c d e f g h i j"),    // J = 7/8 vs doc 1 → near_dup
      (4L, "z y x w v u t s r q")   // unrelated → kept
    ).toDF("doc_id", "text")
    val out = graft.operators.DedupPipeline
      .corpusVerdict(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    assert(out === Map(
      1L -> (("kept", true)), 2L -> (("exact_dup", false)),
      3L -> (("near_dup", false)), 4L -> (("kept", true))))
  }

  test("corpus mix: floor(w) copies + fractional bucket cut, w=0 drops") {
    import spark.implicits._
    val docs = Seq.tabulate(8)(i => (i.toLong, if (i < 4) "a" else "b"))
      .toDF("doc_id", "src")
    val weights = Seq(("a", 2.5), ("b", 0.0)).toDF("src", "weight")
    val out = graft.operators.CorpusMix
      .mix(docs, weights, "src", pmod(col("doc_id"), lit(4)), buckets = 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy").as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // w=2.5, buckets=4: frac cut = 2 → buckets 0,1 get 3 copies; 2,3 get 2
    assert(out === Map(
      0L -> ((3L, 3L)), 1L -> ((3L, 3L)), 2L -> ((2L, 2L)), 3L -> ((2L, 2L))))
    // stratum b (w=0) emits nothing — not even copy 0
  }

  test("temperatureWeights: alpha=1 is identity, alpha<1 rebalances to ~N") {
    import spark.implicits._
    // sources sized 60 / 30 / 10
    val docs = (Seq.fill(60)("big") ++ Seq.fill(30)("mid") ++
      Seq.fill(10)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "src")
    def w(alpha: Double): Map[String, Double] =
      graft.operators.CorpusMix.temperatureWeights(docs, "src", alpha)
        .as[(String, Double)].collect().toMap
    // alpha = 1: p_i = q_i → w_i = 1 for every stratum
    w(1.0).values.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
    // alpha = 0.5: small sources upweighted, big downweighted,
    // expected total Σ w_i n_i stays N
    val w5 = w(0.5)
    assert(w5("small") > 1.0 && w5("big") < 1.0)
    assert(w5("small") > w5("mid") && w5("mid") > w5("big"))
    val total = w5("big") * 60 + w5("mid") * 30 + w5("small") * 10
    assert(math.abs(total - 100.0) < 1e-9)
    // alpha = 0: exactly uniform shares → w_i = N / (k · n_i)
    val w0 = w(0.0)
    assert(math.abs(w0("small") - 100.0 / (3 * 10)) < 1e-12)
    assert(math.abs(w0("big") - 100.0 / (3 * 60)) < 1e-12)
  }
}
