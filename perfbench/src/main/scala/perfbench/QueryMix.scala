package perfbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** query_mix: a closed loop with one caller running registered
  * `SparkEntry` queries back to back into the `noop` sink, in an order
  * the seed permutes. The tables are generated by [[QueryData]] from a
  * fixed seed, so every query's canonical result hash can be checked
  * against the hash recorded in `query_hashes.json`. */
object QueryMix {

  val Slots = 4

  /** (short id, registered name). */
  val queries: Seq[(String, String)] = Seq(
    "q28" -> "q28_ivf_ann",
    "q59" -> "q59_containment_dedup",
    "q88" -> "q88_array_profile")

  private final class State(val spark: SparkSession, val dataDir: String, val resultRows: Long)

  def run(o: Opts): Outcome = {
    val order = new scala.util.Random(o.seed).shuffle(queries)
    val hashFile = new File(sys.props.getOrElse("perfbench.hashes", "query_hashes.json"))
    val size = if (o.tiny) "tiny" else "full"
    val recorded = Hashes.read(hashFile)
    val fresh = mutable.Map.empty[String, String]
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var executed = 0L

    def query(s: State, id: String, name: String): DataFrame = {
      val df = SparkEntry.queries(name)(s.spark, s.dataDir)
      if (o.fault.contains("wrong_result") && id == order.head._1) df.union(df.limit(1)) else df
    }

    /** Warm-up pass: collect every result and compare its hash. */
    def checkedPass(s: State): Long = order.map { case (id, name) =>
      try {
        val rows = query(s, id, name).collect()
        val h = Hashes.canonical(rows)
        fresh(s"$size/$name") = h
        recorded.get(s"$size/$name") match {
          case Some(r) if r == h || o.recordHashes =>
          case Some(r) =>
            failed += 1
            problems += s"query $name: result hash $h differs from the recorded $r"
          case None if o.recordHashes =>
          case None =>
            failed += 1
            problems += s"query $name: no recorded result hash for the $size tables"
        }
        rows.length.toLong
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"query $name failed: ${e.getMessage}"
          0L
      } finally release(s.spark)
    }.sum

    /** Session start and table generation. The checked warm-up pass over
      * every query runs once, after the last set-up: three of them would
      * not fit the run-time budget. */
    def setup(rep: Int): State = {
      val spark = Harness.session(o.work, Slots)
      new State(spark, QueryData.write(spark, new File(o.work, "tables"), o.tiny), 0L)
    }

    /** One timed pass: per query (id, wall s, process CPU s). */
    def pass(s: State, tracer: Tracer, rep: Int): Seq[(String, Double, Double)] = {
      val root = tracer.nextId()
      val t0 = Clock.nowNs()
      val out = order.map { case (id, name) =>
        // untimed, as in the engine's Bench: without it a query pays for
        // the garbage and uncleaned blocks of the one before, and the
        // seed's query order changes the pass time
        release(s.spark)
        System.gc()
        val sc = s.spark.sparkContext
        val cpu0 = Metrics.processCpuS()
        val q0 = Clock.nowNs()
        try TaskStats.withTag(sc, id)(query(s, id, name).write.format("noop").mode("overwrite").save())
        catch {
          case e: Exception =>
            failed += 1
            problems += s"query $name failed: ${e.getMessage}"
        }
        val q1 = Clock.nowNs()
        val cpu = Metrics.processCpuS() - cpu0
        executed += 1
        tracer.record(Span(tracer.nextId(), root, s"pass$rep", s"queries.$id", q0, q1))
        (id, (q1 - q0) / 1e9, cpu)
      }
      tracer.record(Span(root, 0L, s"pass$rep", "query_mix.pass", t0, Clock.nowNs()))
      out
    }

    val tracer = new Tracer(o.trace)
    val (s0, setupTimes) =
      if (o.trace) (setup(0), Seq.empty[Double])
      else Harness.repeatSetup(3)(setup)(st => Harness.stop(st.spark))
    val s = new State(s0.spark, s0.dataDir, checkedPass(s0))
    if (o.recordHashes) Hashes.write(hashFile, recorded ++ fresh)
    pass(s, new Tracer(false), -1) // warm-up of the measured (noop) plans

    val metrics = if (!o.trace) {
      Metrics.resetHeapPeak()
      val passes = mutable.ArrayBuffer.empty[Seq[(String, Double, Double)]]
      while (passes.size < 3 || passes.map(_.map(_._2).sum).sum < o.seconds)
        passes += pass(s, tracer, passes.size)
      val heap = Metrics.heapPeakMb()
      val walls = passes.map(_.map(_._2).sum).toSeq
      walls.foreach(w => System.err.println(f"[perfbench] query mix pass $w%.3f s"))
      // a query's latency is its median over the passes
      val lat = queries.map { case (id, _) =>
        Metrics.median(passes.flatten.filter(_._1 == id).map(_._2 * 1000).toSeq) }
      queries.zip(lat).foreach { case ((id, _), ms) =>
        System.err.println(f"[perfbench] $id median $ms%.0f ms") }
      Map(
        "setup_s" -> Metrics.median(setupTimes),
        "rows_per_s" -> s.resultRows / Metrics.median(walls),
        "wall_s" -> Metrics.median(walls),
        "latency_p50_ms" -> Metrics.median(lat),
        "latency_p99_ms" -> Metrics.percentile(lat, 0.99),
        "cpu_s" -> Metrics.median(passes.map(_.map(_._3).sum).toSeq),
        "heap_peak_mb" -> heap)
    } else {
      val reps = 2
      val untraced = (0 until reps).map(r => pass(s, new Tracer(false), r).map(_._2).sum)
      val stats = new TaskStats
      val sc = s.spark.sparkContext
      sc.addSparkListener(stats)
      val runs = (0 until reps).map(r => pass(s, tracer, r))
      stats.flush(sc)
      val traced = runs.map(_.map(_._2).sum)
      val buckets = queries.map { case (id, _) => id -> stats.bucket(id) }
      queries.flatMap { case (id, _) =>
        val b = stats.bucket(id)
        Seq(
          s"queries.${id}_s" -> Metrics.median(runs.map(_.find(_._1 == id).get._2)),
          s"queries.${id}_cpu_s" -> b.cpuNs / 1e9 / reps,
          s"queries.${id}_tasks" -> b.tasks.toDouble / reps,
          s"queries.${id}_shuffle_mb" -> b.shuffleWriteBytes / 1e6 / reps)
      }.toMap ++ Map(
        "spark.executor_cpu_s" -> buckets.map(_._2.cpuNs).sum / 1e9 / reps,
        "spark.gc_s" -> buckets.map(_._2.gcMs).sum / 1e3 / reps,
        "spark.cpu_over_wall" -> buckets.map(_._2.cpuNs).sum / 1e9 / reps / Metrics.median(traced),
        "spark.tasks" -> buckets.map(_._2.tasks).sum.toDouble / reps,
        "trace.overhead_s" -> (Metrics.median(traced) - Metrics.median(untraced)))
    }
    tracer.write(new File(o.work, "spans.jsonl"))
    Harness.stop(s.spark)
    Outcome(executed, failed, problems.toSeq, metrics)
  }

  /** Free what a query left cached, so it is not billed to the next one
    * (the engine's own Bench does the same between queries). */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.sharedState.cacheManager.clearCache()
  }
}

/** Canonical result hashes: columns ordered by name, doubles rounded to
  * 9 significant digits, rows sorted, SHA-256 over the rendering. */
object Hashes {

  private val digits = new MathContext(9)

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new JBigDecimal(d).round(digits).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => s"$n=${render(r.get(i))}" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${render(k)}:${render(x)}" }
      .sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  def canonical(rows: Array[Row]): String = {
    val text = rows.map(render).sorted.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** `size/name -> hash` lines, sorted, one per line. */
  def read(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap

  def write(f: File, hashes: Map[String, String]): Unit =
    Files.write(f.toPath, ("# size/query  canonical result hash (perfbench/run.py --record-hashes)\n" +
      hashes.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n"))
      .getBytes(StandardCharsets.UTF_8))
}

/** The tables the query_mix queries read, generated from a fixed seed in
  * the shapes of the engine's test tables (TESTDATA.md) at about sf0.01:
  * events, documents (a 30-word vocabulary with planted near-duplicate
  * copies) and embeddings (64-d vectors around 10 label centres). One
  * file per table, like the test tables. */
object QueryData {

  private val Seed = 20260917L

  private def u(k: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(Seed), lit(k)), lit(m))

  private def pick(k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(k, values.size) + 1).cast("int"))

  private val vocab = Seq("a", "the", "join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line", "data",
    "table", "agg", "value", "key", "stream", "window", "spark", "group", "part", "big",
    "sort", "query", "fast")

  def write(spark: SparkSession, dir: File, tiny: Boolean): String = {
    val scale = if (tiny) 10 else 1
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)

    val nEvents = 10000 / scale
    save("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * (2592000000000L / nEvents) +
        u(1, 1000000)).as("ts"),
      u(2, 150).as("user_id"),
      pick(3, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(u(4, 49000) / 100.0 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), u(5, 100), lit("}")).as("props")))

    val nDocs = 500 / scale
    val words = array(vocab.map(lit): _*)
    val base = spark.range(nDocs).select(
      col("id"),
      concat_ws(" ", transform(sequence(lit(1), (u(1, 86) + 5).cast("int")), j =>
        element_at(words, (pmod(xxhash64(col("id"), j, lit(Seed)), lit(vocab.size)) + 1)
          .cast("int")))).as("body"),
      // one doc in ten is a near-duplicate of one of the five before it
      when(col("id") >= 10 && u(2, 10) === 0, col("id") - 1 - u(3, 5)).as("copy_of"))
    val src = base.select(col("id").as("src_id"), col("body").as("src_body"))
    save("documents", base.join(src, col("copy_of") === col("src_id"), "left")
      .select(
        col("id").as("doc_id"),
        when(col("src_body").isNotNull, concat(col("src_body"), lit(" dup")))
          .otherwise(col("body")).as("text"),
        pick(4, Seq("en", "en", "en", "en", "zh", "de", "fr", "es", "en")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id"))

    val label = u(1, 10)
    save("embeddings", spark.range(500 / scale).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(label, j, lit(Seed)), lit(2001)) - 1000) / 4000.0 +
          (pmod(xxhash64(col("id"), j, lit(Seed + 1)), lit(2001)) - 1000) / 20000.0)
          .cast("float")).as("embedding"),
      label.cast("int").as("label")))
    dir.getPath
  }
}
