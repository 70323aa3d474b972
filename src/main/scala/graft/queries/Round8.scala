package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 operators: edit-distance similarity join, map-valued
  * aggregate combinators, adaptive histograms and the moment-statistics
  * battery. Same conventions as the other families: shared literals
  * between the Spark side and the oracle SQL, every query totally
  * ordered, int outputs cast BIGINT on both sides. */
object Round8 extends QueryModule {

  /** q75's threshold: planted near-dup doc pairs sit at head edit
    * distance <= 4 while unrelated word-salad pairs start at ~37
    * (measured at sf0.01) — 8 keeps a wide margin on both sides. */
  val editDistMax = 8
  val editHeadChars = 80

  /** q75: exact edit-distance self-join over fixed-length document
    * heads ([[graft.operators.EditDistanceJoin]], Pass-Join pigeonhole
    * blocking) — the character-level near-dup detector that catches
    * small in-place edits Jaccard shingles over-penalize. Candidates
    * come from a complete segment/window hash join; only candidate
    * pairs run the banded Levenshtein. The oracle is the brute-force
    * all-pairs scan (fine at sf0.01; the operator exists precisely so
    * the corpus never pays that quadratic cost). */
  def q75EditDistJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
      .filter(col("n_chars") >= editHeadChars)
      .select(col("doc_id"),
        substring(col("text"), 1, editHeadChars).as("head"))
    graft.operators.EditDistanceJoin
      .selfJoin(docs, "doc_id", "head", editDistMax)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** q76: ClickHouse `sumMap`/`maxMap` ([[graft.functions.MapCombine]])
    * as a TWO-LEVEL map plan — the `-State`/`-Merge` combinator shape:
    * per-(user, week) revenue maps built once from rows, then merged
    * per user by feeding level-1 maps back in via
    * (`map_keys`, `map_values`) — the second exchange carries one
    * bounded map per (user, week), never re-touching event rows.
    * `sumMap` gives lifetime totals per event type, `maxMap` over the
    * same weekly maps gives each type's best week. DECIMAL(18,4)
    * accumulation keeps both sides order-independent (`dsum`
    * discipline). */
  def q76SumMap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MapCombine
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.parallel(s, dir, "events")
    val wk = e
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .agg(MapCombine.sumMap(
        array(col("event_type")),
        array(col("value").cast(DecimalType(18, 4)))).as("m"))
    wk.groupBy(col("user_id"))
      .agg(
        MapCombine.sumMap(map_keys(col("m")), map_values(col("m"))).as("tm"),
        MapCombine.maxMap(map_keys(col("m")), map_values(col("m"))).as("xm"))
      .select(col("user_id"), explode(col("tm")).as(Seq("event_type", "t")),
        col("xm"))
      .select(col("user_id"), col("event_type"),
        col("t").cast("double").as("total"),
        element_at(col("xm"), col("event_type")).cast("double")
          .as("weekly_max"))
      .orderBy("user_id", "event_type")
  }

  /** q77: ClickHouse `histogram(bins)(x)`
    * ([[graft.functions.AdaptiveHistogram]], Ben-Haim/Tom-Toub) per
    * return flag over l_quantity. The oracle leans on the algorithm's
    * exactness property — distinct values (50) under the bin budget
    * (64) make the adaptive histogram collapse to the exact frequency
    * table at ANY partitioning — so a plain GROUP-BY-value count pins
    * it. The over-budget approximate regime is spec-pinned
    * (AdaptiveHistogramSpec) by its order-invariant envelope. */
  def q77Histogram(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AdaptiveHistogram
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(AdaptiveHistogram.histogram(
        col("l_quantity").cast("double"), 64).as("h"))
      .select(col("l_returnflag"), explode(col("h")).as("e"))
      .select(col("l_returnflag"), col("e.x").as("q"), col("e.w").as("cnt"))
      .orderBy("l_returnflag", "q")
  }

  /** q78: ClickHouse moment/regression battery — `simpleLinearRegression
    * (hour, value)`, `corr`, `stddevSamp`, `skewPop`, `kurtPop` (CH parity: m4/sigma^4, NOT
    * excess kurtosis — no −3) and the
    * `-If` combinators (`countIf`/`avgIf`) per event type. All
    * statistics are rational functions of the power sums (n, Σx, Σx²,
    * Σxy, Σy, Σy², Σy³, Σy⁴); the sums are accumulated EXACTLY (value
    * has 2 decimals, so its DECIMAL powers up to y³ are exact; y⁴ is
    * one deterministic IEEE product) and the double-precision formula
    * trees are written token-identically on both sides — so the oracle
    * comparison is bit-tight, with no dependence on either engine's
    * internal streaming-moment order. The sums are plain map-side
    * combinable aggregates: the shuffle carries 8 numbers per group,
    * the ClickHouse-aggregate scale shape. */
  def q78StatsBattery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables(s, dir, "events")
    val h = hour(col("ts")).cast(DecimalType(18, 4))
    val v = col("value").cast(DecimalType(18, 4))
    val sums = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(h).cast("double").as("sx"),
      sum(h * h).cast("double").as("sxx"),
      sum(h * v).cast("double").as("sxy"),
      sum(v).cast("double").as("sy"),
      sum(v * v).cast("double").as("syy"),
      sum((col("value") * col("value") * col("value"))
        .cast(DecimalType(38, 6))).cast("double").as("sy3"),
      sum(((col("value") * col("value")) * (col("value") * col("value")))
        .cast(DecimalType(38, 8))).cast("double").as("sy4"),
      count(when(col("value") > 100.0d, 1)).cast("double").as("nhi"),
      sum(when(col("value") > 100.0d, v)).cast("double").as("shi"))
    val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
    val sxy = col("sxy"); val sy = col("sy"); val syy = col("syy")
    val sy3 = col("sy3"); val sy4 = col("sy4")
    // named intermediates mirror the oracle's `derived` CTE so both
    // engines evaluate token-identical double expression trees
    val derived = sums
      .withColumn("mu", sy / n)
      .withColumn("varp", syy / n - col("mu") * col("mu"))
      .withColumn("slope_raw",
        (n * sxy - sx * sy) / (n * sxx - sx * sx))
    val mu = col("mu"); val varp = col("varp"); val slope = col("slope_raw")
    derived.select(col("event_type"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / n, 6).as("intercept"),
      round((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr"),
      round(sqrt((syy - sy * sy / n) / (n - lit(1.0d))), 6).as("stddev_samp"),
      round((sy3 / n - lit(3.0d) * mu * (syy / n) + lit(2.0d) * mu * mu * mu) /
        (sqrt(varp) * sqrt(varp) * sqrt(varp)), 6).as("skew_pop"),
      round((sy4 / n - lit(4.0d) * mu * (sy3 / n) +
        lit(6.0d) * mu * mu * (syy / n) - lit(3.0d) * mu * mu * mu * mu) /
        (varp * varp), 6).as("kurt_pop"),
      col("nhi").cast("long").as("cnt_hi"),
      round(col("shi") / col("nhi"), 6).as("avg_hi"))
      .orderBy("event_type")
  }

  /** q79/q80's interval fixture: each event opens an interval of
    * `value` seconds starting at its timestamp — the "session /
    * request-in-flight" reading of a (ts, duration) event log. The
    * round() lands exactly on the integer the 2-decimal value encodes
    * (fp error never reaches ±0.5), so both engines cast identically. */
  private def intervals(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    e.select(col("user_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          round(col("value") * lit(1000000.0d), 0).cast("long")).as("e"))
      .filter(col("e") > col("s"))
  }

  /** q79: ClickHouse `intervalLengthSum` per user
    * ([[graft.operators.IntervalAnalytics.intervalLengthSum]]) — total
    * busy time with overlaps merged. One key-hash shuffle. */
  def q79IntervalUnion(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalAnalytics
      .intervalLengthSum(intervals(s, dir), "user_id", "s", "e")
      .orderBy("user_id")

  /** q80: ClickHouse `maxIntersections`/`maxIntersectionsPosition` per
    * user over the same intervals — peak concurrency and where it
    * first occurs. Explode + one key-hash sweep window. */
  def q80MaxOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalAnalytics
      .maxIntersections(intervals(s, dir), "user_id", "s", "e")
      .orderBy("user_id")

  /** q81's halflife: 7 days in µs — the monitoring-decay scale for a
    * ~90-day event table (weights span ~2⁻¹³..1, all well inside
    * DECIMAL(28,12)). */
  val emaHalflifeUs = 604800000000L

  /** q81: ClickHouse `exponentialTimeDecayedAvg` at each user's last
    * event ([[graft.operators.EventAnalytics.timeDecayedAvg]]) — the
    * closed-form, order-free reading; one key-hash exchange shared by
    * the window max and the two decimal-exact sums. */
  def q81TimeDecayedAvg(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.timeDecayedAvg(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "value",
        emaHalflifeUs)
      .orderBy("user_id")

  /** q82: ClickHouse `entropy` — per-source Shannon entropy (bits) of
    * the language mix ([[graft.operators.CategoricalStats.entropy]]).
    * The raw table is touched once by a combinable count; everything
    * downstream is contingency-sized. */
  def q82Entropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats
      .entropy(Tables.parallel(s, dir, "documents"), "source", "lang")
      .orderBy("source")

  /** q83: ClickHouse `cramersV`/`theilsU` between lang and source
    * ([[graft.operators.CategoricalStats.association]]) — one
    * contingency pass, broadcast margins, single-row output. */
  def q83Association(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats
      .association(Tables.parallel(s, dir, "documents"), "lang", "source")

  /** q84: two-sample test battery click-vs-view over `value`
    * ([[graft.operators.StatTests.battery]]): Welch t, Mann–Whitney U
    * (tie-averaged ranks, exact integer halves), Kolmogorov–Smirnov D
    * (integer-cleared ECDF gap). */
  def q84StatTests(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
    graft.operators.StatTests
      .battery(e, "value", col("event_type") === "click")
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

  /** q86: ClickHouse `sequenceNextNode('forward','first_match')` — the
    * event type immediately after each user's first consecutive
    * signup→view chain
    * ([[graft.operators.EventAnalytics.sequenceNextNode]]). */
  def q86NextNode(s: SparkSession, dir: String): DataFrame =
    graft.operators.EventAnalytics.sequenceNextNode(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", Seq("signup", "view"))
      .orderBy("user_id")

  /** q87's bucket: 7-day pixels over the ~90-day table → ~13 buckets
    * per series. */
  val m4BucketUs = 604800000000L

  /** q87: M4 downsampling per event-type series
    * ([[graft.operators.Downsample.m4]]) — the error-free
    * min/max/first/last-per-bucket aggregation; a plain combinable
    * aggregate, the 100 TB-safe face of chart downsampling (its
    * sequential sibling LTTB is [[graft.operators.Downsample.lttb]],
    * spec-pinned). */
  def q87M4Downsample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Downsample.m4(
        Tables.parallel(s, dir, "events"), "event_type", "ts", "event_id",
        "value", m4BucketUs)
      .orderBy("event_type", "bucket")

  /** q88: ClickHouse array-function battery
    * ([[graft.operators.ArrayAnalytics.seriesProfile]]) — per-user
    * `arrayDifference`/`arrayCompact`/`arraySum`/`boundingRatio` over
    * the collected (groupArray) event series, computed with Spark's
    * native higher-order functions. */
  def q88ArrayProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.ArrayAnalytics.seriesProfile(
        Tables.parallel(s, dir, "events"), "user_id", "ts", "event_id",
        "value", "event_type")
      .orderBy("user_id")

  /** q89: ClickHouse `rankCorr` — Spearman correlation of hour-of-day
    * vs value per event type ([[graft.operators.StatTests.rankCorr]]),
    * tie-averaged ranks in exact integer halves. */
  def q89RankCorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatTests.rankCorr(
        Tables.parallel(s, dir, "events")
          .withColumn("__hr", hour(col("ts"))),
        "event_type", "__hr", "value")
      .orderBy("event_type")

  /** q90: ClickHouse `quantileExactWeighted` — quarter quantiles of
    * l_extendedprice weighted by quantity per return flag
    * ([[graft.operators.Quantiles.exactWeighted]]); all-integer rank
    * arithmetic, value-grouped before the window so the sort sees the
    * (flag × price)-distinct table, not the rows. */
  def q90WeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.exactWeighted(
        Tables(s, dir, "lineitem")
          .withColumn("__wt", round(col("l_quantity"), 0).cast("long")),
        "l_returnflag", "l_extendedprice", "__wt",
        Seq("w_p25" -> 1, "w_median" -> 2, "w_p75" -> 3))
      .orderBy("l_returnflag")

  /** q91: the SQL surface end-to-end ([[graft.GraftExtensions]]) — the
    * same spec-pinned custom aggregates the DataFrame queries use,
    * reached through `spark.sql` names injected via
    * `SparkSessionExtensions` (`graft_uniq_upto`,
    * `graft_bitmap_distinct`, `graft_topk`): per user, capped and
    * exact distinct active days plus the modal event type. The 26-day
    * cap sits inside the observed 21–30 distinct-day range at both
    * SFs, so BOTH uniqUpTo branches are populated. topK's capacity (8)
    * exceeds the 5-type vocabulary, so counts are exact and the modal
    * pick (est desc, term asc) is fully deterministic. */
  def q91SqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "events").createOrReplaceTempView("graft_events")
    s.sql("""
      SELECT user_id,
        graft_uniq_upto(unix_micros(ts) DIV 86400000000, 26) AS days_capped,
        graft_bitmap_distinct(unix_micros(ts) DIV 86400000000) AS days_exact,
        graft_topk(event_type, 8)[0].term AS top_type
      FROM graft_events GROUP BY user_id ORDER BY user_id""")
  }

  /** q92's fixture: epoch base (2024-01-01, below the data's Jan-2024
    * range) and the pixel budget. Subtracting the base keeps every
    * per-bucket time SUM below 2⁵³ — with value×100 likewise
    * integer-valued, every sum/average/area both engines compute is
    * EXACT (or one correctly-rounded division of exact integers), so
    * the greedy picks match bit-for-bit with no decimal plumbing. */
  val lttbBaseUs = 1704067200000000L
  val lttbThreshold = 20

  /** q92: ClickHouse `largestTriangleThreeBuckets(n)(t, v)` per user
    * ([[graft.operators.Downsample.lttb]]) — the sequential greedy
    * downsampler, oracle-gated: the DuckDB oracle replays the greedy
    * selection itself with a recursive CTE (state = the previously
    * selected point; the argmax-by-area step is a NOT-EXISTS
    * anti-join, ties to the earliest (t, v)), over the same
    * floor-division bucket boundaries and the same area expression
    * token-for-token. */
  def q92Lttb(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .select(col("user_id"),
        timestamp_micros(unix_micros(col("ts")) - lit(lttbBaseUs)).as("ts"),
        round(col("value") * 100, 0).as("v100"))
    graft.operators.Downsample.lttb(e, "user_id", "ts", "v100", lttbThreshold)
      .select(col("user_id"), col("t"), col("v").cast("long").as("v100"))
      .orderBy("user_id", "t", "v100")
  }

  /** q93: ClickHouse `categoricalInformationValue` — hour-of-day WoE
    * against the purchase outcome
    * ([[graft.operators.CategoricalStats.informationValue]]); the IV
    * decomposition stays per-category, so the query output has zero
    * cross-row float reductions. */
  def q93InformationValue(s: SparkSession, dir: String): DataFrame =
    graft.operators.CategoricalStats.informationValue(
        Tables.parallel(s, dir, "events").withColumn("hr", hour(col("ts"))),
        "hr", col("event_type") === "purchase")
      .orderBy("hr")

  /** q94's funnel fixture — q55's steps and 24 h window, so the two
    * queries' shared semantics are pinned by the same literals. */
  val funnelSteps = Seq("signup", "view", "click", "purchase")
  val funnelWindowUs = 24L * 3600L * 1000000L

  /** q94: ClickHouse `windowFunnel` MODE flags
    * ([[graft.operators.EventAnalytics.funnelLevelsModes]], the
    * array-scan recurrence): per user, the level under default,
    * `strict_dedup`, `strict_order` and `strict_increase`. Oracle
    * shape: the events table is tie-free at µs precision (verified
    * both SFs), where default and strict_increase both equal the
    * chained-window DP — the oracle re-derives BOTH exactly via q55's
    * window SQL, and re-derives the two strict columns INDEPENDENTLY
    * with a recursive-CTE fold of the ClickHouse getEventLevel
    * recurrence (no read-back: every column is oracle-pinned; the
    * engine-side semantics are additionally spec-pinned against a
    * second transcription of the CH loop on randomized streams). */
  def q94FunnelModes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    def variant(name: String, dd: Boolean = false, oo: Boolean = false,
        ii: Boolean = false): DataFrame =
      graft.operators.EventAnalytics.funnelLevelsModes(
          e, "user_id", "ts", "event_type", funnelSteps, funnelWindowUs,
          strictDedup = dd, strictOrder = oo, strictIncrease = ii)
        .withColumnRenamed("funnel_level", name)
    variant("lvl_default")
      .join(variant("lvl_dedup", dd = true), Seq("user_id"), "full_outer")
      .join(variant("lvl_order", oo = true), Seq("user_id"), "full_outer")
      .join(variant("lvl_increase", ii = true), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("lvl_default"), lit(0)).as("lvl_default"),
        coalesce(col("lvl_dedup"), lit(0)).as("lvl_dedup"),
        coalesce(col("lvl_order"), lit(0)).as("lvl_order"),
        coalesce(col("lvl_increase"), lit(0)).as("lvl_increase"))
      .orderBy("user_id")
  }

  /** q95: the full `sequenceNextNode` direction/base surface over the
    * signup→view chain ([[graft.operators.EventAnalytics
    * .sequenceNextNode]]): first/last forward matches, the head-gated
    * form, and the backward scan (node immediately BEFORE the latest
    * chain). One row per user appearing in any variant; every column
    * re-derived exactly by window SQL. */
  def q95NextNodeModes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
    def v(name: String, direction: String, base: String,
        steps: Seq[String]): DataFrame =
      graft.operators.EventAnalytics.sequenceNextNode(
          e, "user_id", "ts", "event_id", "event_type", steps,
          direction, base)
        .withColumnRenamed("next_node", name)
    v("nn_first", "forward", "first_match", Seq("signup", "view"))
      .join(v("nn_last", "forward", "last_match", Seq("signup", "view")),
        Seq("user_id"), "full_outer")
      .join(v("nn_head", "forward", "head", Seq("signup", "view")),
        Seq("user_id"), "full_outer")
      .join(v("prev_of_last", "backward", "first_match",
          Seq("view", "signup")),
        Seq("user_id"), "full_outer")
      .orderBy("user_id")
  }

  /** q96's temperature: α=0.5 — strong rebalancing toward uniform
    * while keeping the natural ordering of source sizes. */
  val mixAlpha = 0.5

  /** q96: temperature-balanced corpus mixing
    * ([[graft.operators.CorpusMix.temperatureWeights]] → `mix`) — the
    * multilingual/source-balancing flow: α-sampling weights derived
    * from the corpus's own source counts, fanned out by q39's
    * deterministic bucket rule. Output: per source, the original and
    * realized doc counts plus the derived weight. */
  def q96TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusMix
    val docs = Tables.parallel(s, dir, "documents")
    val weights = CorpusMix.temperatureWeights(docs, "source", mixAlpha)
    val mixed = CorpusMix.mix(docs, weights, "source",
      bucket = col("doc_id") % 1000, buckets = 1000)
    val orig = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    mixed.groupBy(col("source")).agg(count(lit(1)).as("n_mixed"))
      .join(orig, "source")
      .join(weights.select(col("source"),
        round(col("weight"), 6).as("weight")), "source")
      .select("source", "n_orig", "n_mixed", "weight")
      .orderBy("source")
  }

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

  /** q98: Tukey-fence outlier census per event type over `value`
    * ([[graft.operators.Quantiles.tukeyOutliers]]) — the grouped form
    * of ClickHouse `seriesOutliersDetectTukey`; quartiles ride q29's
    * proven percentile_cont parity surface. */
  def q98TukeyOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.tukeyOutliers(
        Tables.parallel(s, dir, "events"), "event_type", "value")
      .orderBy("event_type")

  /** q99: exact two-feature OLS `value ~ hour + dow` per event type
    * ([[graft.operators.StatTests.ols2]]) — the closed-form
    * deterministic counterpart of ClickHouse
    * `stochasticLinearRegression`, from nine decimal-exact power sums.
    * `dow` is Spark `dayofweek − 1` ≡ DuckDB `dow` (Sunday = 0). */
  def q99Ols(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatTests.ols2(
        Tables.parallel(s, dir, "events"), "event_type",
        hour(col("ts")), dayofweek(col("ts")) - 1, "value")
      .orderBy("event_type")

  /** q100: the [[graft.plans.RewriteExactDistinct]] optimizer rule
    * driven through the GATE, not just the spec — a plain
    * `count(DISTINCT user_id)` SQL query executed with the rewrite
    * flag on, so the rows the driver hash-compares are produced by the
    * bitmap plan (the plan flip itself is asserted in
    * GraftExtensionsSpec; here the rewritten plan must reproduce the
    * oracle's exact distinct counts). The flag is restored around the
    * query so the rest of the suite keeps Spark's stock plans. */
  def q100RewrittenDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "events").createOrReplaceTempView("graft_ev100")
    val flag = graft.plans.RewriteExactDistinct.FlagKey
    val prior = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    try
      // EAGER localCheckpoint: the frame a caller later writes would
      // re-optimize lazily AFTER the finally restores the flag — the
      // checkpoint forces execution (hence the bitmap plan) inside the
      // flagged scope, and the returned frame reads the materialized
      // blocks
      s.sql("""
        SELECT event_type, date_trunc('week', ts) AS wk,
          count(DISTINCT user_id) AS u
        FROM graft_ev100 GROUP BY 1, 2 ORDER BY 1, 2""")
        .localCheckpoint(eager = true)
    finally prior match {
      case Some(v) => s.conf.set(flag, v)
      case None => s.conf.unset(flag)
    }
  }

  /** q101's calendar anchors: the table's four January-2024 weeks
    * (Monday-start, matching date_trunc('week')). Shared literals. */
  val retWeeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")

  /** q101's value floor: bare weekly activity saturates every slot on
    * this dense table (141/141/…); a big-purchase condition spreads the
    * counts (measured 141/22/…/18 at sf0.01) so each slot genuinely
    * discriminates. */
  val retValueFloor = 150.0

  /** q101: ClickHouse `retention(cond1..condN)` in its literal
    * aggregate form ([[graft.operators.EventAnalytics
    * .retentionConditions]]): anchor = signed up in week 1, conditions
    * = made a big purchase in each calendar week; the output row is
    * the summed per-slot counts CH users divide to get retention
    * curves. */
  def q101RetentionConditions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.parallel(s, dir, "events")
      .withColumn("__wk", date_trunc("week", col("ts")))
    val conds = (col("event_type") === "signup" &&
        col("__wk") === to_timestamp(lit(retWeeks.head))) +:
      retWeeks.map(w => col("event_type") === "purchase" &&
        col("value") > retValueFloor &&
        col("__wk") === to_timestamp(lit(w)))
    graft.operators.EventAnalytics
      .retentionConditions(e, "user_id", conds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_retention_conditions" -> q101RetentionConditions _,
    "q100_rewritten_distinct" -> q100RewrittenDistinct _,
    "q98_tukey_outliers" -> q98TukeyOutliers _,
    "q99_ols" -> q99Ols _,
    "q97_hard_negatives" -> q97HardNegatives _,
    "q96_temperature_mix" -> q96TemperatureMix _,
    "q95_next_node_modes" -> q95NextNodeModes _,
    "q94_funnel_modes" -> q94FunnelModes _,
    "q93_information_value" -> q93InformationValue _,
    "q92_lttb" -> q92Lttb _,
    "q91_sql_surface" -> q91SqlSurface _,
    "q88_array_profile" -> q88ArrayProfile _,
    "q89_rank_corr" -> q89RankCorr _,
    "q90_weighted_quantiles" -> q90WeightedQuantiles _,
    "q75_edit_dist_join" -> q75EditDistJoin _,
    "q76_sum_map" -> q76SumMap _,
    "q77_histogram" -> q77Histogram _,
    "q78_stats_battery" -> q78StatsBattery _,
    "q79_interval_union" -> q79IntervalUnion _,
    "q80_max_overlap" -> q80MaxOverlap _,
    "q81_time_decayed_avg" -> q81TimeDecayedAvg _,
    "q82_entropy" -> q82Entropy _,
    "q83_association" -> q83Association _,
    "q84_stat_tests" -> q84StatTests _,
    "q85_hybrid_rrf" -> q85HybridRrf _,
    "q86_next_node" -> q86NextNode _,
    "q87_m4_downsample" -> q87M4Downsample _)

  /** Shared interval CTE for the q79/q80 oracles — mirrors
    * [[intervals]] literally. */
  private val intervalCte =
    """iv AS (SELECT user_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT) AS e
      |       FROM events
      |       WHERE epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT)
      |             > epoch_us(ts))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q101_retention_conditions" -> {
      val wks = retWeeks.map(w => s"TIMESTAMP '$w 00:00:00'")
      s"""WITH e AS (SELECT user_id, event_type, value,
        |             date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' AND wk = ${wks.head}
        |        THEN 1 ELSE 0 END) AS c0,
        |${retWeeks.indices.map(i =>
            s"    max(CASE WHEN event_type = 'purchase' AND value > " +
              s"$retValueFloor AND wk = ${wks(i)} THEN 1 ELSE 0 END) " +
              s"AS c${i + 1}").mkString(",\n")}
        |  FROM e GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN c0 = 1 AND c0 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS r_0,
        |${retWeeks.indices.map(i =>
            s"  CAST(sum(CASE WHEN c0 = 1 AND c${i + 1} = 1 THEN 1 ELSE 0 END)" +
              s" AS BIGINT) AS r_${i + 1}").mkString(",\n")}
        |FROM f""".stripMargin
    },
    "q100_rewritten_distinct" ->
      """SELECT event_type, date_trunc('week', ts) AS wk,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS u
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q98_tukey_outliers" ->
      """WITH q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25), 4) AS q1,
        |    round(quantile_cont(value, 0.75), 4) AS q3
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(f.q1) AS q1, max(f.q3) AS q3,
        |  max(f.lo) AS lo_fence, max(f.hi) AS hi_fence,
        |  CAST(count(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 END)
        |    AS BIGINT) AS n_outliers,
        |  min(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
        |    AS min_outlier,
        |  max(CASE WHEN e.value < f.lo OR e.value > f.hi THEN e.value END)
        |    AS max_outlier
        |FROM events e JOIN f ON f.event_type = e.event_type
        |WHERE e.value IS NOT NULL
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q99_ols" ->
      """WITH s AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(dayofweek(ts) AS DECIMAL(18,4)) *
        |      CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(dayofweek(ts) AS DECIMAL(18,4))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(hour(ts) AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(CAST(dayofweek(ts) AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS s2y,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS syy
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
        |      s2 * (s1 * s12 - s11 * s2) AS det
        |  FROM s),
        |b AS (SELECT *,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
        |       s2 * (s1y * s12 - s11 * s2y)) / det END AS b0r,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
        |       s2 * (s1 * s2y - s1y * s2)) / det END AS b1r,
        |    CASE WHEN abs(det) > 1e-6 THEN
        |      (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
        |       sy * (s1 * s12 - s11 * s2)) / det END AS b2r
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(b0r, 6) AS b0, round(b1r, 6) AS b1, round(b2r, 6) AS b2,
        |  round(1.0 - (syy - b0r * sy - b1r * s1y - b2r * s2y) /
        |    (syy - sy * sy / n), 6) AS r2
        |FROM b ORDER BY event_type""".stripMargin,
    "q97_hard_negatives" ->
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
        |WHERE rank <= $negK ORDER BY q_id, rank""".stripMargin,
    "q96_temperature_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS bign FROM c),
        |sp AS (SELECT CAST(sum(CAST(
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha)
        |    AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM c CROSS JOIN tot),
        |w AS (SELECT source, n,
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha) / s
        |      * CAST(bign AS DOUBLE) / CAST(n AS DOUBLE) AS w
        |  FROM c CROSS JOIN tot CROSS JOIN sp),
        |m AS (SELECT d.source,
        |    CAST(floor(w.w) AS BIGINT) +
        |      CASE WHEN d.doc_id % 1000 < (w.w - floor(w.w)) * 1000
        |        THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN w ON w.source = d.source)
        |SELECT w.source, CAST(w.n AS BIGINT) AS n_orig,
        |  CAST(mm.n_mixed AS BIGINT) AS n_mixed,
        |  round(w.w, 6) AS weight
        |FROM w JOIN (SELECT source, sum(nc) AS n_mixed FROM m GROUP BY 1) mm
        |  ON mm.source = w.source
        |WHERE mm.n_mixed > 0
        |ORDER BY w.source""".stripMargin,
    "q95_next_node_modes" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |           FROM events),
        |f AS (SELECT user_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2,
        |        row_number() OVER w AS rn
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |fm AS (SELECT user_id, n2, rn FROM f
        |       WHERE event_type = 'signup' AND n1 = 'view'),
        |bw AS (SELECT user_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2,
        |        row_number() OVER w AS rn
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id
        |        ORDER BY t DESC, event_id DESC)),
        |bm AS (SELECT user_id, n2, rn FROM bw
        |       WHERE event_type = 'view' AND n1 = 'signup'),
        |firstm AS (SELECT user_id, n2 AS nn_first FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn) AS r2 FROM fm) WHERE r2 = 1),
        |lastm AS (SELECT user_id, n2 AS nn_last FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn DESC) AS r2 FROM fm) WHERE r2 = 1),
        |headm AS (SELECT user_id, n2 AS nn_head FROM fm WHERE rn = 1),
        |backm AS (SELECT user_id, n2 AS prev_of_last FROM (
        |    SELECT user_id, n2, row_number() OVER (PARTITION BY user_id
        |      ORDER BY rn) AS r2 FROM bm) WHERE r2 = 1),
        |u AS (SELECT DISTINCT user_id FROM fm
        |      UNION SELECT DISTINCT user_id FROM bm)
        |SELECT u.user_id, firstm.nn_first, lastm.nn_last, headm.nn_head,
        |  backm.prev_of_last
        |FROM u
        |LEFT JOIN firstm ON firstm.user_id = u.user_id
        |LEFT JOIN lastm ON lastm.user_id = u.user_id
        |LEFT JOIN headm ON headm.user_id = u.user_id
        |LEFT JOIN backm ON backm.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q94_funnel_modes" ->
      s"""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |s1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS b1 FROM e
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN b1 END)
        |         OVER w2 AS b2 FROM s1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN b2 END)
        |         OVER w3 AS b3 FROM s2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |dp AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND b3 IS NOT NULL
        |      AND t - b3 <= $funnelWindowUs THEN 4
        |    WHEN event_type = 'click' AND b2 IS NOT NULL
        |      AND t - b2 <= $funnelWindowUs THEN 3
        |    WHEN event_type = 'view' AND b1 IS NOT NULL
        |      AND t - b1 <= $funnelWindowUs THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl FROM s3 GROUP BY user_id),
        |ev AS (SELECT user_id, t,
        |    CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |      WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END AS c,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t,
        |      CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |        WHEN 'click' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END) AS rn
        |  FROM e),
        |nev AS (SELECT user_id, count(*) AS n_ev FROM ev GROUP BY 1),
        |-- one pass of the ClickHouse getEventLevel recurrence per user,
        |-- folding BOTH strict-variant states (d* = strict_dedup,
        |-- o* = strict_order); dK/oK hold slot K's chain-start time,
        |-- df/oof the forced (interrupt) level once processing stops
        |fold AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
        |    CAST(NULL AS BIGINT) AS d1, CAST(NULL AS BIGINT) AS d2,
        |    CAST(NULL AS BIGINT) AS d3, CAST(NULL AS BIGINT) AS d4,
        |    CAST(NULL AS INTEGER) AS df,
        |    CAST(NULL AS BIGINT) AS o1, CAST(NULL AS BIGINT) AS o2,
        |    CAST(NULL AS BIGINT) AS o3, CAST(NULL AS BIGINT) AS o4,
        |    FALSE AS fe, CAST(NULL AS INTEGER) AS oof
        |  FROM nev
        |  UNION ALL
        |  SELECT f.user_id, v.rn,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 1 THEN f.d1
        |         ELSE v.t END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 2 OR f.d2 IS NOT NULL
        |           OR f.d1 IS NULL OR v.t - f.d1 > $funnelWindowUs
        |         THEN f.d2 ELSE f.d1 END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 3 OR f.d3 IS NOT NULL
        |           OR f.d2 IS NULL OR v.t - f.d2 > $funnelWindowUs
        |         THEN f.d3 ELSE f.d2 END,
        |    CASE WHEN f.df IS NOT NULL OR v.c <> 4 OR f.d4 IS NOT NULL
        |           OR f.d3 IS NULL OR v.t - f.d3 > $funnelWindowUs
        |         THEN f.d4 ELSE f.d3 END,
        |    CASE WHEN f.df IS NOT NULL THEN f.df
        |         WHEN v.c = 2 AND f.d2 IS NOT NULL THEN 2
        |         WHEN v.c = 3 AND f.d3 IS NOT NULL THEN 3
        |         WHEN v.c = 4 AND f.d4 IS NOT NULL THEN 4
        |         WHEN v.c = 4 AND f.d3 IS NOT NULL
        |           AND v.t - f.d3 <= $funnelWindowUs THEN 4
        |         ELSE NULL END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 1 THEN f.o1
        |         ELSE v.t END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 2
        |           OR f.o1 IS NULL OR v.t - f.o1 > $funnelWindowUs
        |         THEN f.o2 ELSE f.o1 END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 3
        |           OR f.o2 IS NULL OR v.t - f.o2 > $funnelWindowUs
        |         THEN f.o3 ELSE f.o2 END,
        |    CASE WHEN f.oof IS NOT NULL OR v.c <> 4
        |           OR f.o3 IS NULL OR v.t - f.o3 > $funnelWindowUs
        |         THEN f.o4 ELSE f.o3 END,
        |    CASE WHEN f.oof IS NULL AND v.c = 1 THEN TRUE ELSE f.fe END,
        |    CASE WHEN f.oof IS NOT NULL THEN f.oof
        |         WHEN (v.c = 0 AND f.fe)
        |           OR (v.c >= 2 AND f.fe AND (CASE v.c WHEN 2 THEN f.o1
        |               WHEN 3 THEN f.o2 ELSE f.o3 END) IS NULL) THEN
        |           CASE WHEN f.o4 IS NOT NULL THEN 4
        |                WHEN f.o3 IS NOT NULL THEN 3
        |                WHEN f.o2 IS NOT NULL THEN 2
        |                WHEN f.o1 IS NOT NULL THEN 1 ELSE 0 END
        |         WHEN v.c = 4 AND f.o3 IS NOT NULL
        |           AND v.t - f.o3 <= $funnelWindowUs THEN 4
        |         ELSE NULL END
        |  FROM fold f JOIN ev v
        |    ON v.user_id = f.user_id AND v.rn = f.rn + 1),
        |fin AS (
        |  SELECT fo.user_id,
        |    CAST(coalesce(fo.df, CASE WHEN fo.d4 IS NOT NULL THEN 4
        |      WHEN fo.d3 IS NOT NULL THEN 3 WHEN fo.d2 IS NOT NULL THEN 2
        |      WHEN fo.d1 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |      AS lvl_dedup,
        |    CAST(coalesce(fo.oof, CASE WHEN fo.o4 IS NOT NULL THEN 4
        |      WHEN fo.o3 IS NOT NULL THEN 3 WHEN fo.o2 IS NOT NULL THEN 2
        |      WHEN fo.o1 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |      AS lvl_order
        |  FROM fold fo JOIN nev ON nev.user_id = fo.user_id
        |    AND fo.rn = nev.n_ev)
        |SELECT dp.user_id, dp.lvl AS lvl_default, fin.lvl_dedup,
        |  fin.lvl_order, dp.lvl AS lvl_increase
        |FROM dp JOIN fin ON fin.user_id = dp.user_id
        |ORDER BY dp.user_id""".stripMargin,
    "q93_information_value" ->
      """WITH c AS (SELECT hour(ts) AS hr,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_good,
        |    count(CASE WHEN event_type != 'purchase' THEN 1 END) AS n_bad
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(n_good) AS g, sum(n_bad) AS b FROM c)
        |SELECT hr, CAST(n_good AS BIGINT) AS n_good,
        |  CAST(n_bad AS BIGINT) AS n_bad,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    round(ln((CAST(n_good AS DOUBLE) * CAST(b AS DOUBLE)) /
        |             (CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))), 6)
        |  END AS woe,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    round((CAST(n_good AS DOUBLE) / CAST(g AS DOUBLE) -
        |           CAST(n_bad AS DOUBLE) / CAST(b AS DOUBLE)) *
        |          ln((CAST(n_good AS DOUBLE) * CAST(b AS DOUBLE)) /
        |             (CAST(n_bad AS DOUBLE) * CAST(g AS DOUBLE))), 6)
        |  END AS iv_term
        |FROM c CROSS JOIN tot ORDER BY hr""".stripMargin,
    "q92_lttb" -> {
      val nB = lttbThreshold - 2
      // area×2 of triangle (prev s, candidate X, anchor a) — operand
      // order mirrors Downsample.select verbatim
      def area(x: String) =
        s"abs((s.t - a.ax) * ($x.v - s.v) - (s.t - $x.t) * (a.ay - s.v))"
      s"""WITH RECURSIVE pts AS (
        |  SELECT user_id AS k, epoch_us(ts) - $lttbBaseUs AS t,
        |    round(value * 100) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) - $lttbBaseUs, round(value * 100)) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |small AS (SELECT k, t, v FROM pts WHERE n <= $lttbThreshold),
        |big AS (SELECT * FROM pts WHERE n > $lttbThreshold),
        |meta AS (SELECT k, max(n) AS n FROM big GROUP BY 1),
        |buckets AS (
        |  SELECT m.k, bb.b,
        |    1 + ((m.n - 2) * bb.b) // $nB AS lo,
        |    1 + ((m.n - 2) * (bb.b + 1)) // $nB AS hi
        |  FROM meta m, (SELECT unnest(range($nB)) AS b) bb),
        |bpts AS (
        |  SELECT p.k, bu.b, p.t, p.v
        |  FROM big p JOIN buckets bu ON bu.k = p.k
        |    AND p.rn - 1 >= bu.lo AND p.rn - 1 < bu.hi),
        |ends AS (SELECT k,
        |    max(CASE WHEN rn = 1 THEN t END) AS t1,
        |    max(CASE WHEN rn = 1 THEN v END) AS v1,
        |    max(CASE WHEN rn = n THEN t END) AS tn,
        |    max(CASE WHEN rn = n THEN v END) AS vn
        |  FROM big GROUP BY k),
        |bavg AS (SELECT k, b - 1 AS b, sum(t) / count(*) AS ax,
        |           sum(v) / count(*) AS ay
        |         FROM bpts GROUP BY k, b),
        |anch AS (
        |  SELECT bu.k, bu.b,
        |    CASE WHEN bu.b = ${nB - 1} THEN e.tn * 1.0 ELSE av.ax END AS ax,
        |    CASE WHEN bu.b = ${nB - 1} THEN e.vn * 1.0 ELSE av.ay END AS ay
        |  FROM buckets bu JOIN ends e USING (k)
        |  LEFT JOIN bavg av ON av.k = bu.k AND av.b = bu.b),
        |r AS (
        |  SELECT k, -1 AS b, t1 AS t, v1 AS v FROM ends
        |  UNION ALL
        |  SELECT DISTINCT c.k, s.b + 1 AS b, c.t, c.v
        |  FROM r s
        |  JOIN bpts c ON c.k = s.k AND c.b = s.b + 1
        |  JOIN anch a ON a.k = s.k AND a.b = s.b + 1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM bpts c2
        |    WHERE c2.k = c.k AND c2.b = c.b AND
        |      (${area("c2")} > ${area("c")}
        |       OR (${area("c2")} = ${area("c")}
        |           AND (c2.t, c2.v) < (c.t, c.v))))),
        |allpts AS (
        |  SELECT k, t, v FROM small
        |  UNION ALL SELECT k, t, v FROM r
        |  UNION ALL SELECT k, tn, vn FROM ends)
        |SELECT k AS user_id, t, CAST(v AS BIGINT) AS v100
        |FROM allpts ORDER BY user_id, t, v100""".stripMargin
    },
    "q91_sql_surface" ->
      """WITH d AS (SELECT user_id,
        |             count(DISTINCT epoch_us(ts) // 86400000000) AS days
        |           FROM events GROUP BY 1),
        |m AS (SELECT user_id, event_type, count(*) AS c
        |      FROM events GROUP BY 1, 2),
        |top AS (SELECT user_id, event_type AS top_type,
        |          row_number() OVER (PARTITION BY user_id
        |            ORDER BY c DESC, event_type) AS rn
        |        FROM m)
        |SELECT d.user_id,
        |  CAST(CASE WHEN d.days <= 26 THEN d.days ELSE 27 END AS BIGINT)
        |    AS days_capped,
        |  CAST(d.days AS BIGINT) AS days_exact,
        |  top.top_type
        |FROM d JOIN top ON top.user_id = d.user_id AND top.rn = 1
        |ORDER BY d.user_id""".stripMargin,
    "q88_array_profile" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |             CAST(value AS DECIMAL(18,4)) AS v, event_type
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT user_id, t, v, event_type,
        |        lag(v) OVER w AS pv, lag(event_type) OVER w AS pn,
        |        row_number() OVER w AS rf,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY t DESC, event_id DESC) AS rl
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(v - pv) AS DOUBLE) AS max_jump,
        |  CAST(count(CASE WHEN v - pv < 0 THEN 1 END) AS BIGINT) AS n_drops,
        |  CAST(1 + count(CASE WHEN pn IS NOT NULL AND event_type != pn
        |       THEN 1 END) AS BIGINT) AS n_runs,
        |  CAST(CAST(sum(v) AS DECIMAL(28,4)) AS DOUBLE) AS total,
        |  CASE WHEN max(t) > min(t) THEN
        |    round(CAST(max(CASE WHEN rl = 1 THEN v END) -
        |               max(CASE WHEN rf = 1 THEN v END) AS DOUBLE) /
        |          (CAST(max(t) - min(t) AS DOUBLE) / 1000000.0), 9)
        |  END AS bounding_ratio
        |FROM o GROUP BY user_id HAVING count(*) >= 2
        |ORDER BY user_id""".stripMargin,
    "q89_rank_corr" ->
      """WITH e AS (SELECT event_type, hour(ts) AS x, value AS y
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type,
        |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x) +
        |          count(*) OVER (PARTITION BY event_type, x) - 1
        |          AS DECIMAL(38,0)) AS rx,
        |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y) +
        |          count(*) OVER (PARTITION BY event_type, y) - 1
        |          AS DECIMAL(38,0)) AS ry
        |      FROM e),
        |sums AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(rx) AS DOUBLE) AS sx,
        |    CAST(sum(rx * rx) AS DOUBLE) AS sxx,
        |    CAST(sum(rx * ry) AS DOUBLE) AS sxy,
        |    CAST(sum(ry) AS DOUBLE) AS sy,
        |    CAST(sum(ry * ry) AS DOUBLE) AS syy
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rank_corr
        |FROM sums ORDER BY event_type""".stripMargin,
    "q90_weighted_quantiles" ->
      """WITH b AS (SELECT l_returnflag, l_extendedprice AS v,
        |             sum(CAST(round(l_quantity) AS BIGINT)) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, v, w,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |        sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |      FROM b)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 4 >= tot * 1 THEN v END) AS w_p25,
        |  min(CASE WHEN cumw * 4 >= tot * 2 THEN v END) AS w_median,
        |  min(CASE WHEN cumw * 4 >= tot * 3 THEN v END) AS w_p75,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM r GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q79_interval_union" ->
      s"""WITH $intervalCte,
        |m AS (SELECT user_id, s, e,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |isl AS (SELECT user_id, s, e,
        |          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |        FROM m),
        |sp AS (SELECT user_id, g, min(s) AS s0, max(e) AS e0
        |       FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(e0 - s0) AS BIGINT) AS interval_length_sum
        |FROM sp GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q80_max_overlap" ->
      s"""WITH $intervalCte,
        |d AS (SELECT user_id, s AS p, 1 AS dl FROM iv
        |      UNION ALL SELECT user_id, e AS p, -1 AS dl FROM iv),
        |r AS (SELECT user_id, p, dl,
        |        sum(dl) OVER (PARTITION BY user_id ORDER BY p, dl
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |      FROM d),
        |r2 AS (SELECT user_id, p, open,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY open DESC, p, dl) AS rn
        |       FROM r)
        |SELECT user_id, CAST(max(open) AS BIGINT) AS max_intersections,
        |  CAST(max(CASE WHEN rn = 1 THEN p END) AS BIGINT) AS position
        |FROM r2 GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q81_time_decayed_avg" ->
      s"""WITH m AS (SELECT user_id, epoch_us(ts) AS t, value,
        |             max(epoch_us(ts)) OVER (PARTITION BY user_id) AS tmax
        |           FROM events WHERE value IS NOT NULL),
        |w AS (SELECT user_id,
        |        CAST(pow(0.5, CAST(tmax - t AS DOUBLE) / $emaHalflifeUs.0)
        |          AS DECIMAL(28,12)) AS w,
        |        CAST(pow(0.5, CAST(tmax - t AS DOUBLE) / $emaHalflifeUs.0)
        |          * value AS DECIMAL(28,12)) AS wv
        |      FROM m)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(wv) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS ema
        |FROM w GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q82_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, c,
        |        CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |          AS DECIMAL(28,12)) AS clnc
        |      FROM c)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  round((ln(CAST(sum(c) AS DOUBLE)) -
        |    CAST(sum(clnc) AS DOUBLE) / CAST(sum(c) AS DOUBLE))
        |    / 0.6931471805599453, 6) AS entropy
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin,
    "q83_association" ->
      """WITH cells AS (SELECT lang AS x, source AS y, count(*) AS o
        |               FROM documents GROUP BY 1, 2),
        |rows_ AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
        |cols_ AS (SELECT y, sum(o) AS cj FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT x) AS nx,
        |          count(DISTINCT y) AS ny FROM cells),
        |terms AS (SELECT o,
        |    CAST(CAST(o AS DOUBLE) * CAST(o AS DOUBLE) /
        |      (CAST(r AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,12)) AS chi,
        |    CAST(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE))
        |      AS DECIMAL(28,12)) AS olno
        |  FROM cells JOIN rows_ USING (x) JOIN cols_ USING (y)
        |  CROSS JOIN tot),
        |rsum AS (SELECT CAST(sum(CAST(CAST(r AS DOUBLE) *
        |    ln(CAST(r AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS rlnr
        |  FROM rows_),
        |csum AS (SELECT CAST(sum(CAST(CAST(cj AS DOUBLE) *
        |    ln(CAST(cj AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS clnc
        |  FROM cols_),
        |agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |          CAST(max(nx) AS BIGINT) AS n_x,
        |          CAST(max(ny) AS BIGINT) AS n_y,
        |          greatest(CAST(sum(chi) AS DOUBLE) -
        |            CAST(max(n) AS DOUBLE), 0.0) AS chi2,
        |          CAST(sum(olno) AS DOUBLE) AS so
        |        FROM terms CROSS JOIN tot)
        |SELECT n, n_x, n_y, round(chi2, 6) AS chi2,
        |  round(sqrt(chi2 / (CAST(n AS DOUBLE) *
        |    CAST(least(n_x - 1, n_y - 1) AS DOUBLE))), 6) AS cramers_v,
        |  round((ln(CAST(n AS DOUBLE)) - rlnr / CAST(n AS DOUBLE) -
        |         (clnc - so) / CAST(n AS DOUBLE)) /
        |        (ln(CAST(n AS DOUBLE)) - rlnr / CAST(n AS DOUBLE)), 6)
        |    AS theils_u
        |FROM agg CROSS JOIN rsum CROSS JOIN csum""".stripMargin,
    "q84_stat_tests" ->
      """WITH src AS (SELECT value, event_type = 'click' AS a FROM events
        |             WHERE event_type IN ('click', 'view')
        |               AND value IS NOT NULL),
        |sums AS (SELECT
        |    count(CASE WHEN a THEN 1 END) AS na,
        |    count(CASE WHEN NOT a THEN 1 END) AS nb,
        |    CAST(sum(CASE WHEN a THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS DOUBLE) AS sa,
        |    CAST(sum(CASE WHEN NOT a THEN CAST(value AS DECIMAL(18,4)) END)
        |      AS DOUBLE) AS sb,
        |    CAST(sum(CASE WHEN a THEN CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS qa,
        |    CAST(sum(CASE WHEN NOT a THEN CAST(value AS DECIMAL(18,4)) *
        |      CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS qb
        |  FROM src),
        |byval AS (SELECT value AS v,
        |    count(CASE WHEN a THEN 1 END) AS ca,
        |    count(CASE WHEN NOT a THEN 1 END) AS cb
        |  FROM src GROUP BY 1),
        |ranked AS (SELECT v, ca, cb,
        |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |    (sum(ca) OVER w + sum(cb) OVER w - ca - cb) * 2 + ca + cb + 1
        |      AS r2
        |  FROM byval
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |rk AS (SELECT sum(r2 * ca) AS r1x2,
        |         max(abs(cuma * (SELECT nb FROM sums) -
        |                 cumb * (SELECT na FROM sums))) AS ksnum,
        |         (SELECT na FROM sums) * (SELECT nb FROM sums) AS ksden
        |       FROM ranked)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(sa / na, 6) AS mean_a,
        |  round(sb / nb, 6) AS mean_b,
        |  round((sa / na - sb / nb) /
        |    sqrt(((qa - sa * sa / na) / (na - 1)) / na +
        |         ((qb - sb * sb / nb) / (nb - 1)) / nb), 6) AS t_stat,
        |  round(pow(((qa - sa * sa / na) / (na - 1)) / na +
        |            ((qb - sb * sb / nb) / (nb - 1)) / nb, 2.0) /
        |    (pow(((qa - sa * sa / na) / (na - 1)) / na, 2.0) / (na - 1) +
        |     pow(((qb - sb * sb / nb) / (nb - 1)) / nb, 2.0) / (nb - 1)), 6)
        |    AS welch_df,
        |  round(CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0, 6) AS mw_u,
        |  round(CAST(ksnum AS DOUBLE) / CAST(ksden AS DOUBLE), 6) AS ks_d
        |FROM sums CROSS JOIN rk""".stripMargin,
    "q85_hybrid_rrf" -> {
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
    },
    "q86_next_node" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT user_id, t, event_id, event_type,
        |        lead(event_type, 1) OVER w AS n1,
        |        lead(event_type, 2) OVER w AS n2
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT user_id, t, event_id, n2 AS nxt,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY t, event_id) AS rn
        |      FROM l WHERE event_type = 'signup' AND n1 = 'view')
        |SELECT user_id, nxt AS next_node FROM m
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q87_m4_downsample" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS t, event_id, value,
        |             epoch_us(ts) // $m4BucketUs AS bucket
        |           FROM events),
        |r AS (SELECT event_type, bucket, value,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY t, event_id) AS rf,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY t DESC, event_id DESC) AS rl
        |      FROM e)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN rf = 1 THEN value END) AS v_first,
        |  min(value) AS v_min, max(value) AS v_max,
        |  max(CASE WHEN rl = 1 THEN value END) AS v_last
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "q75_edit_dist_join" ->
      s"""WITH d AS (SELECT doc_id, substr(text, 1, $editHeadChars) AS head
        |           FROM documents WHERE n_chars >= $editHeadChars)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= $editDistMax
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q76_sum_map" ->
      """WITH wk AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk, event_type,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, event_type,
        |  CAST(CAST(sum(s) AS DECIMAL(18,4)) AS DOUBLE) AS total,
        |  CAST(max(s) AS DOUBLE) AS weekly_max
        |FROM wk GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin,
    "q77_histogram" ->
      """SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag, q""".stripMargin,
    "q78_stats_battery" ->
      """WITH sums AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |             CAST(hour(ts) AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(hour(ts) AS DECIMAL(18,4)) *
        |             CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(value AS DECIMAL(18,4)) *
        |             CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(value * value * value AS DECIMAL(38,6)))
        |      AS DOUBLE) AS sy3,
        |    CAST(sum(CAST((value * value) * (value * value) AS DECIMAL(38,8)))
        |      AS DOUBLE) AS sy4,
        |    CAST(count(CASE WHEN value > 100.0 THEN 1 END) AS DOUBLE) AS nhi,
        |    CAST(sum(CASE WHEN value > 100.0
        |             THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS shi
        |  FROM events GROUP BY event_type),
        |derived AS (
        |  SELECT *, sy / n AS mu,
        |    syy / n - (sy / n) * (sy / n) AS varp,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw
        |  FROM sums)
        |SELECT event_type,
        |  round(slope_raw, 6) AS slope,
        |  round((sy - slope_raw * sx) / n, 6) AS intercept,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr,
        |  round(sqrt((syy - sy * sy / n) / (n - 1.0)), 6) AS stddev_samp,
        |  round((sy3 / n - 3.0 * mu * (syy / n) + 2.0 * mu * mu * mu) /
        |    (sqrt(varp) * sqrt(varp) * sqrt(varp)), 6) AS skew_pop,
        |  round((sy4 / n - 4.0 * mu * (sy3 / n) + 6.0 * mu * mu * (syy / n)
        |    - 3.0 * mu * mu * mu * mu) / (varp * varp), 6) AS kurt_pop,
        |  CAST(nhi AS BIGINT) AS cnt_hi,
        |  round(shi / nhi, 6) AS avg_hi
        |FROM derived ORDER BY event_type""".stripMargin)
}
