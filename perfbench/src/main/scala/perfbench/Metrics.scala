package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Metric names and units (the same lists as BENCHMARK.json, which
  * run.py cross-checks), the result line, and the process-level probes
  * every workload shares. */
object Metrics {

  /** Reported with tracing off, by every workload (README.md defines each
    * one per workload). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "1/s",
    "wall_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_p99_ms" -> "ms",
    "cpu_s" -> "s",
    "heap_peak_mb" -> "MB")

  /** Reported by the traced run. A layer a workload leaves idle reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.parse_s" -> "s",
    "sources.parse_errors" -> "count",
    "enrich.geo_s" -> "s",
    "enrich.class_s" -> "s",
    "operators.shard_s" -> "s",
    "operators.shard_shuffle_bytes" -> "bytes",
    "streaming.sink_write_s" -> "s",
    "ingest.rows_per_s_1slot" -> "1/s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.cpu_over_wall" -> "ratio",
    "spark.tasks" -> "count",
    "trace.overhead_s" -> "s") ++
    StreamOpen.phases.map(p => s"streaming.trigger.${p}_ms" -> "ms") ++ Seq(
    "streaming.state.commit_ms" -> "ms",
    "streaming.state.rows_total" -> "count",
    "streaming.state.memory_bytes" -> "bytes",
    "streaming.sink_write_ms" -> "ms",
    "streaming.sink_retries" -> "count",
    "streaming.quarantined_rows" -> "count",
    "streaming.batch_rows" -> "count",
    "streaming.wait_ms" -> "ms",
    "streaming.backlog_rows_max" -> "count",
    "gen.late_ms_max" -> "ms") ++
    QueryMix.queries.flatMap { case (id, _) => Seq(
      s"queries.${id}_s" -> "s",
      s"queries.${id}_cpu_s" -> "s",
      s"queries.${id}_tasks" -> "count",
      s"queries.${id}_shuffle_mb" -> "MB") }

  /** The contract's last stdout line, and whether every check passed.
    * End-to-end metrics must all be measured; a per-layer metric the
    * workload did not exercise is reported as 0. */
  def resultJson(o: Outcome, trace: Boolean): (String, Boolean) = {
    val wanted = if (trace) perLayer else endToEnd
    val problems = scala.collection.mutable.ArrayBuffer(o.problems: _*)
    val fields = wanted.map { case (name, unit) =>
      val v = o.metrics.get(name) match {
        case Some(x) if x.isNaN || x.isInfinite =>
          problems += s"metric $name is not a number"; 0.0
        case Some(x) => x
        case None if trace => 0.0
        case None =>
          if (o.problems.isEmpty) problems += s"metric $name was not measured"
          0.0
      }
      s""""$name": {"value": ${fmt(v)}, "unit": "$unit"}"""
    }
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val correct = problems.isEmpty && o.failed == 0
    (s"""{"correct": $correct, "attempted": ${math.max(1L, o.attempted)}, """ +
      s""""failed": ${o.failed}, "metrics": {${fields.mkString(", ")}}}""", correct)
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Process CPU time (all threads, JIT and GC included), in seconds. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private lazy val heapPoolNames: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  @volatile private var liveHeapPeak = 0L

  /** Heap still in use after each collection, i.e. the live set plus what
    * the collector left for later, as the JVM reports it per GC. */
  private lazy val gcWatch: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
            synchronized { liveHeapPeak = math.max(liveHeapPeak, after) }
          }, null, null)
      case _ =>
    }

  /** Start a heap-peak window. */
  def resetHeapPeak(): Unit = { gcWatch; synchronized { liveHeapPeak = 0L } }

  /** Largest heap in use after a collection since [[resetHeapPeak]], a
    * collection forced now included (so a window without one still has a
    * sample), in MiB. */
  def heapPeakMb(): Double = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(synchronized(liveHeapPeak), now) / (1024.0 * 1024.0)
  }
}
