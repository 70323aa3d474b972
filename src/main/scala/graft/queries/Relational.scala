package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator suite (SURVEY.md §2.6): aggregation, broadcast /
  * range / semi / anti joins, windows, top-k, set ops, rollup, dedup,
  * plus the SQL-surface gates (q91, q100, q103), interval analytics
  * (q79, q80), gap fill (q62), the incrementally-maintained aggregate
  * (q63) and hash sampling (q69).
  *
  * The reference (forever765/clickhouse_sinker_nali) has no SQL frontend —
  * its nearest analogs are the serviceMap broadcast lookup
  * (input/kafka_sarama.go:11643-11668), the qqwry IP range binary search
  * (ipHandle/pkg/qqwry/qqwry.go:117-149) and the first-seen series dedup
  * bitmap (output/clickhouse.go:110-130). Here each is exposed as a proper
  * distributed Spark operator so the engine covers the full relational
  * surface at 100 TB scale.
  *
  * Determinism notes (driver hashes values against a DuckDB oracle):
  *  - double sums go through DECIMAL(18,4) so the result is independent of
  *    partitioning / accumulation order, then cast back to double;
  *  - every query has a total ORDER BY;
  *  - count()s stay BIGINT on both sides (DuckDB sum(BIGINT) would be
  *    HUGEINT, so sums of ints are cast explicitly).
  */
object Relational extends QueryModule {

  /** Order-insensitive exact sum of a double column: accumulate as decimal. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** q01: scan → filter (parquet pushdown) → partial/final hash aggregate.
    * At scale: map-side combine makes the shuffle carry only
    * (#groups × #partitions) rows; AQE coalesces post-shuffle partitions. */
  def q01AggPushdown(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q02: star join — fact (orders⋈customer) with broadcast dims.
    * customer is orders-of-magnitude smaller than orders at any SF, and
    * nation/region are constant-size: all three are explicitly broadcast so
    * the only shuffle at 100 TB is none (fact side streams map-side). */
  def q02StarJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val customer = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    val region = Tables(s, dir, "region")
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name")
  }

  /** q03: range (interval) join — the Spark form of the reference's qqwry
    * IP range lookup (broadcast the range table; Catalyst turns the
    * between-predicate join into BroadcastNestedLoopJoin, which is correct
    * because the broadcast side is tiny and the probe side streams). */
  def q03RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events")
    val ranges = Tables(s, dir, "nation")
      .select(
        col("n_name").as("bucket_name"),
        (col("n_nationkey") * 6).cast("long").as("lo"),
        (col("n_nationkey") * 6 + 5).cast("long").as("hi"))
    events
      .join(broadcast(ranges), col("user_id") >= col("lo") && col("user_id") <= col("hi"))
      .groupBy(col("bucket_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("bucket_name")
  }

  /** q04: left-semi join (EXISTS). */
  def q04SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val bigItems = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") >= 45.0)
      .select(col("l_orderkey"))
    orders
      .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** q05: left-anti join (NOT EXISTS) — customers with no pending order. */
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val pending = Tables(s, dir, "orders")
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey"))
    customer
      .join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** q06: window function — top-3 orders per customer by totalprice.
    * Single shuffle on o_custkey; ties broken by orderkey so the result is
    * total-ordered and stable under any partitioning. */
  def q06WindowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  /** q07: event-time tumbling window aggregation (batch form of the
    * streaming flush-interval batching, SURVEY §2.4 B2). */
  def q07TimeBucket(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** q08: exact deduplication via hash aggregate (reference analog:
    * first-seen series bitmap, output/clickhouse.go:110-130). The
    * distinct key is the 16-byte 128-bit fingerprint of the text, not
    * the text itself, so at 100 TB the shuffle carries fingerprints
    * instead of document bodies; AQE handles skew. (Oracle counts
    * distinct texts — a 64-bit key would drift from it at the birthday
    * bound, ~2.7 expected merges at 10¹⁰ docs; the 128-bit key's
    * ~1.5e-19 never will — [[graft.functions.Hashes.fingerprint128]].
    * The null-guard mirrors the oracle: count(DISTINCT text) ignores
    * NULLs, and an unguarded struct key would count one.) */
  def q08DedupExact(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        countDistinct(when(col("text").isNotNull,
          graft.functions.Hashes.fingerprint128(col("text")))).as("n_unique"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** q09: global top-k — Spark's TakeOrderedAndProject: per-partition
    * top-k then a single-reduce merge; no full sort at scale. */
  def q09TopK(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** q10: set operation — custkeys having both an open and a filled order. */
  def q10Intersect(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val open = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val filled = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    open.intersect(filled).orderBy("o_custkey")
  }

  /** q11: hierarchical rollup over region → nation of customer balances. */
  def q11Rollup(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    val region = Tables(s, dir, "region")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("c_acctbal")).as("sum_bal"), count(lit(1)).as("n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** q12: first-seen dedup (argmin) — the reference's series-dedup
    * semantics (first row wins per key) as a distributed aggregate. */
  def q12FirstSeen(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"))
      .orderBy("user_id", "event_type")
  }

  /** q30: as-of join — each click event picks up the same user's most
    * recent prior (or simultaneous) purchase, point-in-time correct.
    * Executed as [[graft.operators.AsOfJoin]]'s union + single key
    * shuffle + running-window carry-forward, NOT a range join (which
    * would row-amplify per key before filtering). */
  def q30AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts"), col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("prev_purchase_id"),
        col("value").as("prev_value"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(clicks, purchases,
        keyCol = "user_id", timeCol = "ts",
        leftCols = Seq("click_id", "user_id", "click_ts"),
        rightCols = Seq("prev_purchase_id", "prev_value"))
      .orderBy("click_id")
  }

  /** q62: dense hourly grid per event type ([[graft.operators.GapFill]])
    * — ClickHouse `ORDER BY … WITH FILL` semantics: every hour between
    * each type's first and last event, gaps zero-filled and flagged. */
  def q62WithFill(s: SparkSession, dir: String): DataFrame =
    graft.operators.GapFill.fillTimeBuckets(
        Tables(s, dir, "events"), "event_type", "ts", "1 hour",
        Seq("cnt" -> count(lit(1)),
          "sum_val" -> round(dsum(col("value")), 4),
          "locf_val" -> round(dsum(col("value")), 4)),
        interpolate = Seq("locf_val"))
      .select(col("series").as("event_type"), col("bucket"),
        col("cnt"), col("sum_val"), col("locf_val"), col("filled"))
      .orderBy("event_type", "bucket")

  /** q63: incrementally-maintained aggregate table
    * ([[graft.operators.IncrementalAgg]], the AggregatingMergeTree
    * analog). History (doc_id%10 < 8) is aggregated ONCE per JVM+sfDir
    * into a persisted state parquet — the deployment shape — and the
    * timed query merges the delta's partials into it. The oracle
    * aggregates the union directly: merge(state, delta) must equal the
    * from-scratch aggregate exactly. */
  def q63IncrAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val docs = Tables.parallel(s, dir, "documents")
    val keys = Seq("source", "lang")
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val state = IncrementalAgg.readState(s, aggStateFor(s, dir, docs))
    IncrementalAgg.finalize(
        IncrementalAgg.merge(keys, state,
          IncrementalAgg.partials(delta, keys, "n_chars")))
      .orderBy("source", "lang")
  }

  /** q69: deterministic stratified sampling — the reproducible-subset
    * primitive every corpus experiment needs ("the same 10% sample,
    * every run, on any cluster"). Selection is a pure function of
    * (doc_id, literal): Knuth-hash priority < threshold, so the sample
    * is stable under partitioning, retries, and data layout — none of
    * which is true of `rand()`-based sampling (`TABLESAMPLE` draws a
    * different subset per run and per partitioning). The per-source
    * acceptance counts ride the same scan; no second pass. */
  def q69HashSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    // ~10%: priority ∈ [0, 1e9+7) uniform-ish; threshold = floor(p/10).
    // Same Knuth-hash priority as q61's quota (pmod keeps the invariant
    // even for negative ids, where sign-preserving % would silently
    // admit every row).
    val pri = graft.operators.SourceQuota.hashPriority(col("doc_id"))
    docs
      .filter(pri < lit(100000000L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("source")
  }

  /** One history-state build per (JVM, sfDir): q63's timed region is
    * the daily merge, not the one-time backfill it amortizes (the q51
    * index pattern). */
  private val aggStates =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def aggStateFor(
      s: SparkSession, dir: String, docs: DataFrame): String =
    aggStates.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_incagg").toString
      graft.operators.IncrementalAgg.writeState(
        graft.operators.IncrementalAgg.partials(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8),
          Seq("source", "lang"), "n_chars"), p)
      p
    })

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

  /** q100: the [[graft.plans.RewriteExactDistinct]] optimizer rule
    * driven through the GATE, not just the spec — a plain
    * `count(DISTINCT user_id)` SQL query executed with the rewrite
    * flag on, so the rows the oracle compare hashes are produced by the
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

  /** Shared interval CTE for the q79/q80 oracles — mirrors
    * [[intervals]] literally. */
  private val intervalCte =
    """iv AS (SELECT user_id, epoch_us(ts) AS s,
      |         epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT) AS e
      |       FROM events
      |       WHERE epoch_us(ts) + CAST(round(value * 1000000.0) AS BIGINT)
      |             > epoch_us(ts))""".stripMargin

  /** q103: the second SQL-surface widening —
    * every remaining aggregate family reached through its injected SQL
    * name in ONE statement over the events view: `graft_delta_sum`
    * (explicit (ts, tie) fold order), `graft_retention` (flag slots
    * flattened to columns), `graft_window_funnel` in BOTH default and
    * 'strict_increase' modes (equal to the chained-window DP on the
    * tie-free events table — the q94 oracle argument), `graft_sum_map`
    * (the purchase slot of the per-type value map), and
    * `graft_histogram` under capacity (hours-of-day ≤ 24 < 32 bins, so
    * centroids are exactly the distinct values and both the bin count
    * and the peak weight are oracle-exact).
    *
    * Ties: the events table is
    * tie-free per user, so default and strict_increase funnels used to
    * coincide and the oracle leaned on `dp.lvl AS lvl_si`. The view now
    * UNIONs a planted TIE-FUL slice — for every user with
    * user_id % 7 = 3, a shadow user (+10M) whose four funnel events
    * carry colliding timestamps: cohort A (even base id) has all four
    * at one instant (default chains in step order → lvl 4;
    * strict_increase stops at the anchor → lvl_si 1), cohort B (odd)
    * has view+click tied one hour after signup, purchase one hour
    * later (lvl 4 vs lvl_si 2). The oracle now derives lvl and lvl_si
    * from two INDEPENDENT window-DP chains (CURRENT ROW vs 1 PRECEDING
    * frames), so the two modes are proven to disagree exactly where
    * ties demand it. */
  def q103SqlSurface2(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "events")
      .createOrReplaceTempView("graft_events_base_r11")
    s.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_events_r9 AS
      SELECT user_id, ts, event_id, event_type, value
      FROM graft_events_base_r11
      UNION ALL
      SELECT u.user_id + 10000000 AS user_id,
        TIMESTAMP'2001-06-01 09:00:00' + make_interval(0, 0, 0, 0,
          CASE WHEN u.user_id % 2 = 0 THEN 0
            ELSE CASE s.s WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1
              ELSE 2 END END, 0, 0) AS ts,
        CAST(s.s AS BIGINT) AS event_id,
        CASE s.s WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
          WHEN 3 THEN 'click' ELSE 'purchase' END AS event_type,
        CAST(s.s AS DOUBLE) AS value
      FROM (SELECT DISTINCT user_id FROM graft_events_base_r11
            WHERE user_id % 7 = 3) u
      CROSS JOIN (SELECT explode(array(1, 2, 3, 4)) AS s) s""")
    s.sql("""
      SELECT user_id,
        graft_delta_sum(unix_micros(ts), event_id, value) AS dsum,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[0] AS r1,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[1] AS r2,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[2] AS r3,
        graft_window_funnel(86400000000L, unix_micros(ts),
          event_type = 'signup', event_type = 'view',
          event_type = 'click', event_type = 'purchase') AS lvl,
        graft_window_funnel(86400000000L, 'strict_increase',
          unix_micros(ts),
          event_type = 'signup', event_type = 'view',
          event_type = 'click', event_type = 'purchase') AS lvl_si,
        CAST(element_at(
          graft_sum_map(array(event_type),
            array(CAST(value AS DECIMAL(18,4)))), 'purchase')
          AS DOUBLE) AS purchase_total,
        size(graft_histogram(CAST(hour(ts) AS DOUBLE), 32)) AS hist_bins,
        CAST(array_max(transform(
          graft_histogram(CAST(hour(ts) AS DOUBLE), 32), x -> x.w))
          AS BIGINT) AS hist_peak
      FROM graft_events_r9 GROUP BY user_id ORDER BY user_id""")
  }

  val entries: Seq[Query] = Seq(
    Query("q30_asof_join", q30AsofJoin,
      """SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
        | p.event_id AS prev_purchase_id, p.value AS prev_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY click_id""".stripMargin),
    Query("q01_agg_pushdown", q01AggPushdown,
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q02_star_join", q02StarJoin,
      """SELECT r_name,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q03_range_join", q03RangeJoin,
      """SELECT bucket_name, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |JOIN (SELECT n_name AS bucket_name,
        |             CAST(n_nationkey * 6 AS BIGINT) AS lo,
        |             CAST(n_nationkey * 6 + 5 AS BIGINT) AS hi
        |      FROM nation) r
        |  ON user_id >= lo AND user_id <= hi
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q04_semi_join", q04SemiJoin,
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q05_anti_join", q05AntiJoin,
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q06_window_topn", q06WindowTopN,
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Query("q07_time_bucket", q07TimeBucket,
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q08_dedup_exact", q08DedupExact,
      """SELECT lang, count(DISTINCT text) AS n_unique, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q09_topk", q09TopK,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("q10_intersect", q10Intersect,
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),
    Query("q11_rollup", q11Rollup,
      """SELECT r_name, n_name,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
        | count(*) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),
    Query("q12_first_seen", q12FirstSeen,
      """SELECT user_id, event_type, min(event_id) AS first_event_id
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q69_hash_sample", q69HashSample,
      """SELECT source, count(*) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |WHERE ((doc_id * 2654435761) % 1000000007 + 1000000007)
        |  % 1000000007 < 100000000
        |GROUP BY source
        |ORDER BY source""".stripMargin),
    Query("q62_with_fill", q62WithFill,
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
        |      AS sum_val
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
        |      FROM c GROUP BY 1),
        |g AS (SELECT event_type,
        |        unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        |      FROM s)
        |SELECT g.event_type, g.bucket,
        |  coalesce(c.cnt, 0) AS cnt,
        |  coalesce(c.sum_val, 0.0) AS sum_val,
        |  last_value(c.sum_val IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_val,
        |  CAST(CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END AS INT) AS filled
        |FROM g LEFT JOIN c
        |  ON g.event_type = c.event_type AND g.bucket = c.bucket
        |ORDER BY 1, 2""".stripMargin),
    Query("q63_incr_agg", q63IncrAgg,
      """SELECT source, lang,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_v
        |FROM documents GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    Query("q100_rewritten_distinct", q100RewrittenDistinct,
      """SELECT event_type, date_trunc('week', ts) AS wk,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS u
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q91_sql_surface", q91SqlSurface,
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
        |ORDER BY d.user_id""".stripMargin),
    Query("q79_interval_union", q79IntervalUnion,
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
        |FROM sp GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q80_max_overlap", q80MaxOverlap,
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
        |FROM r2 GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q103_sql_surface2", q103SqlSurface2,
      """WITH tie AS (
        |  SELECT u.user_id + 10000000 AS user_id,
        |    TIMESTAMP '2001-06-01 09:00:00'
        |      + (CASE WHEN u.user_id % 2 = 0 THEN 0
        |         ELSE CASE s.s WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1
        |           ELSE 2 END END) * INTERVAL 1 HOUR AS ts,
        |    CAST(s.s AS BIGINT) AS event_id,
        |    CASE s.s WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
        |      WHEN 3 THEN 'click' ELSE 'purchase' END AS event_type,
        |    CAST(s.s AS DOUBLE) AS value
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE user_id % 7 = 3) u
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS s) s),
        |ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
        |         value, hour(ts) AS hr FROM events
        |       UNION ALL
        |       SELECT user_id, epoch_us(ts), event_id, event_type,
        |         value, hour(ts) FROM tie),
        |dd AS (SELECT user_id,
        |         CAST(value AS DECIMAL(18,4))
        |           - lag(CAST(value AS DECIMAL(18,4)))
        |             OVER (PARTITION BY user_id ORDER BY t, event_id)
        |           AS dv
        |       FROM ev WHERE value IS NOT NULL),
        |ds AS (SELECT user_id,
        |         CAST(coalesce(sum(CASE WHEN dv > 0 THEN dv END),
        |           0) AS DOUBLE) AS dsum
        |       FROM dd GROUP BY user_id),
        |ret AS (SELECT user_id,
        |         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |           AS a1,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           AS a2,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS a3
        |       FROM ev GROUP BY user_id),
        |s1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS b1 FROM ev
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN b1 END)
        |         OVER w2 AS b2 FROM s1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN b2 END)
        |         OVER w3 AS b3 FROM s2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dp AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND b3 IS NOT NULL
        |      AND t - b3 <= 86400000000 THEN 4
        |    WHEN event_type = 'click' AND b2 IS NOT NULL
        |      AND t - b2 <= 86400000000 THEN 3
        |    WHEN event_type = 'view' AND b1 IS NOT NULL
        |      AND t - b1 <= 86400000000 THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl FROM s3 GROUP BY user_id),
        |u1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS c1 FROM ev
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN c1 END)
        |         OVER w2 AS c2 FROM u1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN c2 END)
        |         OVER w3 AS c3 FROM u2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |dq AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND c3 IS NOT NULL
        |      AND t - c3 <= 86400000000 THEN 4
        |    WHEN event_type = 'click' AND c2 IS NOT NULL
        |      AND t - c2 <= 86400000000 THEN 3
        |    WHEN event_type = 'view' AND c1 IS NOT NULL
        |      AND t - c1 <= 86400000000 THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl_si FROM u3 GROUP BY user_id),
        |pt AS (SELECT user_id,
        |         CAST(CAST(sum(CASE WHEN event_type = 'purchase'
        |           THEN CAST(value AS DECIMAL(18,4)) END)
        |           AS DECIMAL(38,4)) AS DOUBLE) AS purchase_total
        |       FROM ev GROUP BY user_id),
        |hh AS (SELECT user_id, hr, count(*) AS c FROM ev GROUP BY 1, 2),
        |hs AS (SELECT user_id, CAST(count(*) AS INTEGER) AS hist_bins,
        |         CAST(max(c) AS BIGINT) AS hist_peak
        |       FROM hh GROUP BY user_id)
        |SELECT ret.user_id,
        |  CAST(coalesce(ds.dsum, 0) AS DOUBLE) AS dsum,
        |  CAST(ret.a1 AS INTEGER) AS r1,
        |  CAST(least(ret.a1, ret.a2) AS INTEGER) AS r2,
        |  CAST(least(ret.a1, ret.a3) AS INTEGER) AS r3,
        |  dp.lvl, dq.lvl_si, pt.purchase_total,
        |  hs.hist_bins, hs.hist_peak
        |FROM ret
        |LEFT JOIN ds ON ds.user_id = ret.user_id
        |JOIN dp ON dp.user_id = ret.user_id
        |JOIN dq ON dq.user_id = ret.user_id
        |JOIN pt ON pt.user_id = ret.user_id
        |JOIN hs ON hs.user_id = ret.user_id
        |ORDER BY ret.user_id""".stripMargin))
}
