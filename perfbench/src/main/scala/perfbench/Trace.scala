package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall-clock nanoseconds since the epoch, monotonic within a run, so
  * spans line up with the engine's own millisecond timestamps. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowNs(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
}

/** One timed call into a layer. Spans of one unit of work (a pass, a
  * micro-batch, a query) share `trace`; `parent` is the enclosing span,
  * 0 for a root. */
final case class Span(
    id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

/** Spans kept in memory and written as JSON lines when the run ends.
  * Disabled, it keeps and writes nothing. */
final class Tracer(enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)

  def record(s: Span): Unit = if (enabled) synchronized { spans += s; () }

  def nextId(): Long = ids.incrementAndGet()

  def write(file: File): Unit = if (enabled) {
    val w = new PrintWriter(file, "UTF-8")
    try synchronized {
      spans.foreach { s =>
        val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
        w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "trace": "${s.trace}", """ +
          s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
          s""""attrs": {$attrs}}""")
      }
    } finally w.close()
    System.err.println(s"[perfbench] wrote ${spans.size} spans to $file")
  }
}

/** Scheduler-side counters per tag: the benchmark sets the local property
  * [[TaskStats.TagKey]] before it calls into a layer, and every stage a
  * job of that thread submits is charged to that tag. */
final class TaskStats extends SparkListener {
  import TaskStats._

  final class Bucket {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
  }

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markersSeen = ConcurrentHashMap.newKeySet[String]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")

  def bucket(tag: String): Bucket = buckets.computeIfAbsent(tag, _ => new Bucket)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    if (tag.startsWith(MarkerPrefix)) markerJobs.put(e.jobId, tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.get(e.jobId)).foreach(markersSeen.add)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = bucket(stageTag.getOrDefault(e.stageId, "untagged"))
    val m = e.taskMetrics
    b.synchronized {
      b.tasks += 1
      if (m != null) {
        b.cpuNs += m.executorCpuTime
        b.gcMs += m.jvmGCTime
        b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * the listener bus delivers in order, so once a marker job's end is
    * seen, all earlier task ends have been counted. */
  def flush(sc: SparkContext): Unit = {
    val marker = MarkerPrefix + markerSeq.incrementAndGet()
    withTag(sc, marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markersSeen.contains(marker) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(markersSeen.contains(marker), "listener bus did not drain")
  }
}

object TaskStats {
  val TagKey = "perfbench.tag"
  private val MarkerPrefix = "__marker_"
  private val markerSeq = new AtomicLong(0L)

  def withTag[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }
}
