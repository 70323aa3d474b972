package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.streaming.{BatchSink, IdempotentParquetSink, TaskRunner}

/** ingest_bulk: a closed loop with one caller. Each pass sends the same
  * pre-materialized seeded flow messages through `TaskRunner.build`
  * (parse → geo enrich src+dst → class normalize → hash shard to 3) into
  * `IdempotentParquetSink`, one sink batch per pass. */
object IngestBulk {

  val Slots = 4

  private val cfg = Flows.task("ingest_bulk", Flows.columns(), 1 << 18, 5)

  /** Prefixes of the pipeline, each one layer longer than the one
    * before; the full pipeline writes to the sink, the others to `noop`. */
  private val prefixes: Seq[(String, SparkSession => DataFrame => DataFrame)] = Seq(
    "sources.parse" -> (_ => TaskRunner.build(cfg)),
    "enrich.geo" -> (_ => TaskRunner.build(cfg, Flows.enrichGeo(Flows.qqwryScale))),
    "enrich.class" -> (s => TaskRunner.build(cfg, Flows.enrichAll(s, Flows.qqwryScale))),
    "operators.shard" ->
      (s => TaskRunner.build(cfg, Flows.enrichAll(s, Flows.qqwryScale), Flows.Shards)),
    "streaming.sink_write" ->
      (s => TaskRunner.build(cfg, Flows.enrichAll(s, Flows.qqwryScale), Flows.Shards)))

  private final class State(
      val spark: SparkSession,
      val input: DataFrame,
      val offered: Long,
      val planted: Long,
      val observed: ObservedMetrics)

  /** Drops the first well-formed message before it reaches the sink: the
    * planted fault the self-test expects the delivery check to catch. */
  private final class DropOneRow(inner: BatchSink) extends BatchSink {
    override def write(batch: DataFrame, batchId: Long): Unit =
      inner.write(batch.filter(col("__kafka_offset") =!= batch.agg(min("__kafka_offset"))
        .head().getLong(0)), batchId)
  }

  def run(o: Opts): Outcome = {
    val n = if (o.tiny) 20000L else 200000L
    val lake = Harness.freshDir(o.work, "lake")
    val sink: BatchSink = o.fault match {
      case Some("drop_row") => new DropOneRow(new IdempotentParquetSink(lake.getPath))
      case Some(f) => throw new IllegalArgumentException(s"unknown fault $f")
      case None => new IdempotentParquetSink(lake.getPath)
    }
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var batchId = 0L

    def setup(slots: Int, messages: Long): State = {
      val spark = Harness.session(o.work, slots)
      val observed = new ObservedMetrics(s"graft_${cfg.name}")
      spark.listenerManager.register(observed)
      val input = Flows.kafkaFrame(spark, o.seed, messages, slots * 2)
        .persist(StorageLevel.MEMORY_ONLY)
      val offered = input.count()
      val planted = (0L until messages).count(id => Flows.malformed(o.seed, id)).toLong
      new State(spark, input, offered, planted, observed)
    }

    def teardown(s: State): Unit = {
      s.input.unpersist()
      Harness.stop(s.spark)
    }

    /** One pass into the sink: (batch id, wall seconds, process CPU
      * seconds). The output check runs after the clock stops. */
    def write(s: State): (Long, Double, Double) = {
      batchId += 1
      val cpu0 = Metrics.processCpuS()
      val (_, wall) = Harness.seconds(
        sink.write(prefixes.last._2(s.spark)(s.input), batchId))
      (batchId, wall, Metrics.processCpuS() - cpu0)
    }

    def pass(s: State): (Double, Double) = {
      System.gc() // untimed: no pass inherits the garbage of the one before
      val (id, wall, cpu) = write(s)
      check(s, id)
      (wall, cpu)
    }

    /** Output checks of one pass, against the planted input. */
    def check(s: State, id: Long): Unit = {
      val parseErrors = s.observed.next().getOrElse("ParseMsgsErrorTotal", -1L)
      val dir = new File(lake, s"batch_id=$id")
      val out = s.spark.read.parquet(dir.getPath)
      val r = out.agg(
        count(lit(1)),
        countDistinct(col("__kafka_offset")),
        sum(when(col("__shard").isNull || col("__shard") < 0 ||
          col("__shard") >= Flows.Shards, 1).otherwise(0)),
        sum(when(Seq("loc_src", "isp_src", "loc_dst", "isp_dst", "class")
          .map(c => col(c).isNull).reduce(_ || _) ||
          col("class") === "Unknown/Unknown", 1).otherwise(0))).head()
      val (rows, distinct) = (r.getLong(0), r.getLong(1))
      val (badShard, unfilled) = (r.getLong(2), r.getLong(3))
      val expected = s.offered - s.planted
      val wrong = math.abs(expected - distinct) + (rows - distinct) +
        math.abs(parseErrors - s.planted) + badShard + unfilled
      if (wrong > 0) problems +=
        s"ingest batch $id: delivered $rows rows ($distinct distinct), expected " +
          s"$expected; ParseMsgsErrorTotal $parseErrors vs ${s.planted} planted; " +
          s"$badShard rows with a shard id outside [0, ${Flows.Shards}); " +
          s"$unfilled rows with geo/class columns unfilled"
      failed += wrong
      Harness.deleteTree(dir)
    }

    if (!o.trace) {
      val (s, setupTimes) = Harness.repeatSetup(3)(_ => setup(Slots, n))(teardown)
      pass(s); pass(s) // warm-up: compiles the pipeline's code, checked like every pass
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      Metrics.resetHeapPeak()
      while (passes.size < 3 || passes.map(_._1).sum < o.seconds) passes += pass(s)
      val heap = Metrics.heapPeakMb()
      val walls = passes.map(_._1).toSeq
      walls.foreach(w => System.err.println(f"[perfbench] ingest pass $w%.3f s"))
      teardown(s)
      Outcome(s.offered * passes.size, failed, problems.toSeq, Map(
        "setup_s" -> Metrics.median(setupTimes),
        "rows_per_s" -> s.offered / Metrics.median(walls),
        "wall_s" -> Metrics.median(walls),
        "latency_p50_ms" -> Metrics.median(walls) * 1000,
        "latency_p99_ms" -> Metrics.percentile(walls, 0.99) * 1000,
        "cpu_s" -> Metrics.median(passes.map(_._2).toSeq),
        "heap_peak_mb" -> heap))
    } else traced(o, n, setup, teardown, pass(_)._1, write, check, problems, () => failed)
  }

  /** The traced run: untraced full passes, then every prefix with spans
    * and scheduler counters, interleaved so drift hits all prefixes
    * alike, then a one-slot pass as the single-thread baseline. */
  private def traced(o: Opts, n: Long, setup: (Int, Long) => State,
      teardown: State => Unit, pass: State => Double, write: State => (Long, Double, Double),
      check: (State, Long) => Unit, problems: scala.collection.mutable.ArrayBuffer[String],
      failed: () => Long): Outcome = {
    val reps = 2
    val s = setup(Slots, n)
    pass(s); pass(s) // warm-up
    val untraced = (1 to reps).map(_ => pass(s))
    val tracer = new Tracer(true)
    val stats = new TaskStats
    val sc = s.spark.sparkContext
    sc.addSparkListener(stats)
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var parseErrors = 0L
    for (rep <- 1 to reps; (layer, build) <- prefixes) {
      System.gc()
      val t0 = Clock.nowNs()
      val (id, wall) = TaskStats.withTag(sc, layer) {
        if (layer == prefixes.last._1) {
          val (id, wall, _) = write(s)
          (Some(id), wall)
        } else {
          s.observed.clear()
          (None, Harness.seconds(
            build(s.spark)(s.input).write.format("noop").mode("overwrite").save())._2)
        }
      }
      id match {
        case Some(b) => check(s, b)
        case None => parseErrors = s.observed.next().getOrElse("ParseMsgsErrorTotal", -1L)
      }
      tracer.record(Span(tracer.nextId(), 0L, s"pass$rep", s"prefix.$layer", t0,
        t0 + (wall * 1e9).toLong, Map("messages" -> s.offered.toDouble)))
      times(layer) = times(layer) :+ wall
    }
    stats.flush(sc)
    val med = prefixes.map { case (l, _) => l -> Metrics.median(times(l)) }
    val self = med.zip((None +: med.map(m => Some(m._2))).init).map {
      case ((l, t), prev) => s"${l}_s" -> (t - prev.getOrElse(0.0))
    }
    val full = stats.bucket(prefixes.last._1)
    val fullWall = med.last._2
    teardown(s)

    // single-slot baseline over a quarter of the input
    val one = setup(1, n / 4)
    pass(one) // warm-up
    val oneSlotWall = pass(one)
    teardown(one)
    tracer.write(new File(o.work, "spans.jsonl"))
    Outcome(s.offered, failed(), problems.toSeq, self.toMap ++ Map(
      "operators.shard_shuffle_bytes" -> stats.bucket("operators.shard").shuffleWriteBytes / reps.toDouble,
      "sources.parse_errors" -> parseErrors.toDouble,
      "spark.executor_cpu_s" -> full.cpuNs / 1e9 / reps,
      "spark.gc_s" -> full.gcMs / 1e3 / reps,
      "spark.cpu_over_wall" -> full.cpuNs / 1e9 / reps / fullWall,
      "spark.tasks" -> full.tasks / reps.toDouble,
      "trace.overhead_s" -> (fullWall - Metrics.median(untraced)),
      "ingest.rows_per_s_1slot" -> one.offered / oneSlotWall))
  }
}
