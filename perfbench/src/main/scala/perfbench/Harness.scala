package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session lifecycle and timing helpers shared by the workloads. */
object Harness {

  /** A session with the engine's own posture ([[graft.Sessions]]); only
    * the scratch locations are pointed into the benchmark's work dir. */
  def session(work: File, slots: Int): SparkSession = {
    val spark = graft.Sessions.builder(slots.toString)
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set the workload up `reps` times and keep the last set-up: the
    * median of the returned durations is the run's `setup_s`. Every
    * set-up but the last is torn down, session included, so each one
    * pays session start, input generation and warm-up. */
  def repeatSetup[S](reps: Int)(setup: Int => S)(teardown: S => Unit): (S, Seq[Double]) = {
    var last: Option[S] = None
    val times = (0 until reps).map { r =>
      last.foreach(teardown)
      val (s, dt) = seconds(setup(r))
      System.err.println(f"[perfbench] setup $r: $dt%.3f s")
      last = Some(s)
      dt
    }
    (last.get, times)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def freshDir(parent: File, name: String): File = {
    val d = new File(parent, name)
    deleteTree(d)
    d.mkdirs()
    d
  }
}

/** Collects the `observe()` metrics of finished batch queries (the
  * engine's ConsumeMsgsTotal / ParseMsgsErrorTotal counters), which the
  * ingest check compares with the planted input. */
final class ObservedMetrics(name: String) extends QueryExecutionListener {
  private val seen = new java.util.concurrent.LinkedBlockingQueue[Map[String, Long]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.get(name).foreach { row =>
      seen.put(row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The next query's counters, waiting for the listener bus. */
  def next(): Map[String, Long] =
    Option(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException(s"no observed metrics '$name'"))

  def clear(): Unit = seen.clear()
}
