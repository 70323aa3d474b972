package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.schema.ColumnSpec
import graft.streaming.{BatchSink, ConnectionPool, JdbcExactlyOnceSink, SinkStats, TaskRunner}

/** stream_open: an open loop at a fixed rate. [[FileGenerator]] drops a
  * file of messages every 100 ms into a directory read as the Kafka
  * topic; `TaskRunner.run` consumes it on a 1 s processing-time trigger
  * with the message-id dedup gate (TTL'd, so state reaches a steady size
  * during warm-up) and writes through `JdbcExactlyOnceSink` into
  * in-memory Derby. A message's latency runs from its creation stamp (its
  * due time on the generator's schedule) to the return of the sink write
  * of the batch that delivered it. */
object StreamOpen {

  val Slots = 3
  val RatePerS = 2000
  val FileEveryMs = 100L
  val TtlMs = 3000L
  /** Sink writes to wait for before a set-up counts as warmed up. */
  val WarmBatches = 2

  /** `StreamingQueryProgress.durationMs` phases reported per trigger. */
  val phases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  private val cfg = Flows.task("stream_open",
    Flows.columns(Seq(ColumnSpec("msg_id", "Int64"), ColumnSpec("created_ms", "Int64"))),
    bufferSize = 2048, flushS = 1)

  private val sinkColumns = Seq("msg_id", "created_ms", "ip_src", "loc_src", "isp_src",
    "ip_dst", "loc_dst", "isp_dst", "class", "bytes")

  private val envelope = StructType(Seq(
    StructField("value", StringType), StructField("topic", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType)))

  /** Times each sink write. With the `dup_id` fault it also re-inserts
    * one already written row once, which the delivery check must catch. */
  private final class TimedSink(inner: BatchSink, url: String, dupFault: Boolean)
      extends BatchSink {
    val writes = new ConcurrentHashMap[Long, (Long, Long, Long)]()
    @volatile var count = 0

    override def write(batch: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.nowNs()
      inner.write(batch, batchId)
      if (dupFault && count == WarmBatches) duplicateOneRow()
      val t1 = Clock.nowNs()
      writes.put(batchId, (t0, t1, System.currentTimeMillis()))
      count += 1
    }

    private def duplicateOneRow(): Unit =
      ConnectionPool.withConnection(url, new java.util.Properties) { c =>
        val cols = sinkColumns.mkString(", ")
        val st = c.createStatement()
        try st.executeUpdate(s"INSERT INTO FLOWS ($cols, batch_id, part_id) " +
          s"SELECT $cols, -1, -1 FROM FLOWS WHERE msg_id = (SELECT MIN(msg_id) FROM FLOWS)")
        finally st.close()
      }
  }

  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
  }

  private final class State(
      val spark: SparkSession,
      val url: String,
      val gen: FileGenerator,
      val query: StreamingQuery,
      val sink: TimedSink)

  /** A timed window: generator files [first, last] and the process CPU
    * time over their schedule. */
  private final case class Window(first: Int, last: Int, cpuS: Double)

  private final case class Delivered(id: Long, createdMs: Long, batchId: Long)

  def run(o: Opts): Outcome = {
    val seconds = if (o.tiny) math.min(o.seconds, 3) else o.seconds
    val perFile = (RatePerS * FileEveryMs / 1000).toInt
    System.setProperty("derby.system.home", new File(o.work, "derby").getPath)
    ConnectionPool.maxOpenPerTarget = Slots

    def setup(rep: Int): State = {
      val spark = Harness.session(o.work, Slots)
      val url = s"jdbc:derby:memory:perfbench_stream_$rep;create=true"
      ConnectionPool.withConnection(url, new java.util.Properties) { c =>
        val st = c.createStatement()
        try {
          st.execute("CREATE TABLE FLOWS (msg_id BIGINT, created_ms BIGINT, " +
            "ip_src VARCHAR(48), loc_src VARCHAR(128), isp_src VARCHAR(128), " +
            "ip_dst VARCHAR(48), loc_dst VARCHAR(128), isp_dst VARCHAR(128), " +
            "class VARCHAR(64), bytes BIGINT)")
          JdbcExactlyOnceSink.ddlSuffix("FLOWS").foreach(st.execute)
        } finally st.close()
      }
      val base = Harness.freshDir(o.work, s"stream$rep")
      val gen = new FileGenerator(new File(base, "in"), new File(base, "staging"),
        o.seed, perFile, FileEveryMs, System.currentTimeMillis() + 100).start()
      val sink = new TimedSink(new JdbcExactlyOnceSink(url, "FLOWS", sinkColumns), url,
        o.fault.contains("dup_id"))
      o.fault.filterNot(_ == "dup_id").foreach(f =>
        throw new IllegalArgumentException(s"unknown fault $f"))
      val source = spark.readStream.schema(envelope).json(new File(base, "in").getPath)
      val query = TaskRunner.run(cfg, source, sink, new File(base, "checkpoint").getPath,
        enrich = Flows.enrichAll(spark, Flows.cityScale), numShards = Flows.Shards,
        dedupKey = Some("msg_id"), dedupTtlMs = TtlMs)
      val deadline = System.currentTimeMillis() + 120000L
      while (sink.count < WarmBatches) {
        query.exception.foreach(e => throw e)
        require(System.currentTimeMillis() < deadline, "stream did not warm up")
        Thread.sleep(10)
      }
      new State(spark, url, gen, query, sink)
    }

    def teardown(s: State): Unit = {
      s.query.stop()
      s.gen.stop()
      Harness.stop(s.spark)
      ConnectionPool.drain()
      // drop the in-memory database; Derby reports a drop as SQLState 08006
      try ConnectionPool.withConnection(
        s.url.replace(";create=true", ";drop=true"), new java.util.Properties)(_ => ())
      catch { case _: java.sql.SQLException => () }
    }

    /** Sleep through the schedule of `seconds` worth of files, starting a
      * second after a forced collection, so the window begins with a clean
      * heap and no message of it waits on that pause. */
    def window(s: State): Window = {
      System.gc()
      val first = s.gen.files + 1 + (1000 / FileEveryMs).toInt
      val last = first + (seconds * 1000 / FileEveryMs).toInt - 1
      sleepUntil(s.gen.dueMs(first))
      val cpu0 = Metrics.processCpuS()
      Metrics.resetHeapPeak()
      while (s.gen.files <= last) {
        s.query.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      Window(first, last, Metrics.processCpuS() - cpu0)
    }

    val problems = mutable.ArrayBuffer.empty[String]
    val tracer = new Tracer(o.trace)
    val (s, setupTimes) =
      if (o.trace) (setup(0), Seq.empty[Double])
      else Harness.repeatSetup(3)(setup)(teardown)
    val plain = window(s)
    val progress = new Progress
    val stats = new TaskStats
    val traced = if (!o.trace) None else {
      s.spark.streams.addListener(progress)
      s.spark.sparkContext.addSparkListener(stats)
      val retries0 = SinkStats.get("ClickHouseReconnectTotal")
      val quarantined0 = SinkStats.get("FlushMsgsErrorTotal")
      val w = window(s)
      stats.flush(s.spark.sparkContext)
      Some((w, SinkStats.get("ClickHouseReconnectTotal") - retries0,
        SinkStats.get("FlushMsgsErrorTotal") - quarantined0))
    }
    val files = s.gen.stop()
    val expected: Set[Long] = (0 until files).iterator.flatMap(f => s.gen.idsOf(f))
      .filterNot(id => Flows.malformed(o.seed, id)).toSet
    // drain: `processAllAvailable` never returns here, because the dedup
    // gate's TTL timeouts keep scheduling no-data batches
    val deadline = System.currentTimeMillis() + 30000L
    while (distinctDelivered(s.url) < expected.size && System.currentTimeMillis() < deadline) {
      s.query.exception.foreach(e => throw e)
      Thread.sleep(100)
    }

    // read after the drain: the collection it forces must not stall the window
    val heapMb = Metrics.heapPeakMb()
    val delivered = readBack(s.url)
    val counts = delivered.groupBy(_.id).view.mapValues(_.size).toMap
    val lost = expected.count(id => !counts.contains(id))
    val duplicated = counts.count(_._2 > 1)
    val unexpected = counts.keys.count(id => !expected.contains(id))
    if (lost + duplicated + unexpected > 0) problems +=
      s"stream: ${expected.size} well-formed message ids offered; $lost missing " +
        s"from the sink table, $duplicated present more than once, $unexpected not offered"

    val returned = s.sink.writes.asScala.map { case (b, (_, _, ms)) => b -> ms }.toMap
    def inWindow(w: Window) = {
      val (lo, hi) = (s.gen.dueMs(w.first), s.gen.dueMs(w.last))
      delivered.filter(d => d.createdMs >= lo && d.createdMs <= hi && counts(d.id) == 1)
    }
    def latencies(w: Window) = inWindow(w).map(d => (returned(d.batchId) - d.createdMs).toDouble)
    /** Per batch: creation of its oldest window message to its write's return. */
    def batchWalls(w: Window) = inWindow(w).groupBy(_.batchId).map { case (b, ds) =>
      (returned(b) - ds.map(_.createdMs).min) / 1e3
    }.toSeq

    val offeredInPlain = (plain.first to plain.last).iterator
      .flatMap(f => s.gen.idsOf(f)).toSeq
    val attempted = offeredInPlain.size.toLong
    val failed = offeredInPlain.count { id =>
      if (Flows.malformed(o.seed, id)) counts.contains(id) else counts.getOrElse(id, 0) != 1
    }.toLong
    val lateMax = (w: Window) => (w.first to w.last).map(s.gen.lateness).max.toDouble

    val metrics = traced match {
      case None =>
        val lat = latencies(plain)
        val lastReturn = inWindow(plain).map(d => returned(d.batchId)).max
        Map(
          "setup_s" -> Metrics.median(setupTimes),
          "rows_per_s" -> lat.size / ((lastReturn - s.gen.dueMs(plain.first)) / 1e3),
          "wall_s" -> Metrics.median(batchWalls(plain)),
          "latency_p50_ms" -> Metrics.median(lat),
          "latency_p99_ms" -> Metrics.percentile(lat, 0.99),
          "cpu_s" -> plain.cpuS,
          "heap_peak_mb" -> heapMb)
      case Some((w, retries, quarantined)) =>
        Thread.sleep(500) // let the last progress events arrive
        val ps = progress.events.asScala.toSeq.filter(p => returned.contains(p.batchId))
        val startMs = ps.map(p => p.batchId ->
          java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
        val wIds = inWindow(w)
        val wBatches = wIds.map(_.batchId).distinct
        val wProgress = ps.filter(p => wBatches.contains(p.batchId))
        def phase(name: String) =
          Metrics.median(wProgress.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)))
        val state = wProgress.flatMap(_.stateOperators.headOption)
        val backlog = wBatches.map { b =>
          wIds.count(d => d.createdMs <= startMs(b) && d.batchId >= b).toDouble
        }
        val bucket = stats.bucket("untagged")
        val windowS = seconds.toDouble
        for (p <- wProgress) {
          val id = tracer.nextId()
          val t0 = startMs(p.batchId) * 1000000L
          tracer.record(Span(id, 0L, s"batch${p.batchId}", "streaming.trigger", t0,
            t0 + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L,
            phases.map(ph => ph -> Option(p.durationMs.get(ph)).map(_.toDouble).getOrElse(0.0)).toMap +
              ("numInputRows" -> p.numInputRows.toDouble)))
          val (ws, we, _) = s.sink.writes.get(p.batchId)
          tracer.record(Span(tracer.nextId(), id, s"batch${p.batchId}", "streaming.sink_write", ws, we))
        }
        phases.map(ph => s"streaming.trigger.${ph}_ms" -> phase(ph)).toMap ++ Map(
          "streaming.state.commit_ms" -> Metrics.median(state.map(_.commitTimeMs.toDouble)),
          "streaming.state.rows_total" -> state.last.numRowsTotal.toDouble,
          "streaming.state.memory_bytes" -> state.last.memoryUsedBytes.toDouble,
          "streaming.sink_write_ms" -> Metrics.median(wBatches.map { b =>
            val (ws, we, _) = s.sink.writes.get(b); (we - ws) / 1e6 }),
          "streaming.sink_retries" -> retries.toDouble,
          "streaming.quarantined_rows" -> quarantined.toDouble,
          "streaming.batch_rows" -> Metrics.median(wProgress.map(_.numInputRows.toDouble)),
          "streaming.wait_ms" -> Metrics.median(wIds.map(d => (startMs(d.batchId) - d.createdMs).toDouble)),
          "streaming.backlog_rows_max" -> backlog.max,
          "gen.late_ms_max" -> lateMax(w),
          "spark.executor_cpu_s" -> bucket.cpuNs / 1e9,
          "spark.gc_s" -> bucket.gcMs / 1e3,
          "spark.cpu_over_wall" -> bucket.cpuNs / 1e9 / windowS,
          "spark.tasks" -> bucket.tasks.toDouble,
          "trace.overhead_s" -> (Metrics.median(batchWalls(w)) - Metrics.median(batchWalls(plain))))
    }
    System.err.println(f"[perfbench] stream: $files files, ${expected.size} ids, " +
      f"generator late max ${lateMax(plain)}%.0f ms in the timed window")
    tracer.write(new File(o.work, "spans.jsonl"))
    teardown(s)
    Outcome(attempted, failed, problems.toSeq, metrics)
  }

  private def sleepUntil(ms: Long): Unit = {
    val wait = ms - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
  }

  private def distinctDelivered(url: String): Long =
    ConnectionPool.withConnection(url, new java.util.Properties) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery("SELECT COUNT(DISTINCT msg_id) FROM FLOWS")
        rs.next()
        rs.getLong(1)
      } finally st.close()
    }

  private def readBack(url: String): Seq[Delivered] =
    ConnectionPool.withConnection(url, new java.util.Properties) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery("SELECT msg_id, created_ms, batch_id FROM FLOWS")
        val out = mutable.ArrayBuffer.empty[Delivered]
        while (rs.next()) out += Delivered(rs.getLong(1), rs.getLong(2), rs.getLong(3))
        out.toSeq
      } finally st.close()
    }
}
