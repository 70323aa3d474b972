package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

/** The open-loop load generator of stream_open: one thread that drops a
  * file of Kafka-shaped records into `dir` every `everyMs`, on a fixed
  * schedule that does not wait for the system under test. File k is due
  * at `startMs + k * everyMs` and carries `perFile` new messages, each
  * stamped with that due time as `created_ms`, plus producer-retry
  * copies of earlier messages (same body, new offset). The directory
  * stands in for the Kafka topic: records are written as
  * `{"value", "topic", "partition", "offset"}` JSON lines, the schema of
  * `TaskRunner.kafkaSource`. */
final class FileGenerator(
    dir: File,
    staging: File,
    seed: Long,
    perFile: Int,
    everyMs: Long,
    val startMs: Long) {

  /** Share of well-formed messages re-sent as a producer retry, in %. */
  val RetryPercent = 10
  /** A retry follows its original by 1 to this many files. */
  val MaxRetryDelayFiles = 5

  @volatile private var stopping = false
  @volatile private var filesWritten = 0
  /** Per written file: how late the rename into `dir` was, in ms. */
  private val lateMs = mutable.ArrayBuffer.empty[Long]
  private val retries = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var offset = 0L

  def dueMs(file: Int): Long = startMs + file * everyMs
  def idsOf(file: Int): Seq[Long] = (file.toLong * perFile) until ((file + 1L) * perFile)
  def files: Int = filesWritten
  def lateness(file: Int): Long = synchronized(lateMs(file))

  def body(id: Long, file: Int): String =
    Flows.message(seed, id, s""", "msg_id": $id, "created_ms": ${dueMs(file)}""")

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def record(value: String): String = {
    offset += 1
    s"""{"value": "${escape(value)}", "topic": "flows", "partition": 0, "offset": $offset}"""
  }

  private def writeFile(k: Int): Unit = {
    val sb = new StringBuilder
    idsOf(k).foreach { id =>
      sb.append(record(body(id, k))).append('\n')
      if (!Flows.malformed(seed, id) && Flows.draw(seed, id, 7, 100) < RetryPercent) {
        val later = k + 1 + Flows.draw(seed, id, 8, MaxRetryDelayFiles).toInt
        retries.getOrElseUpdate(later, mutable.ArrayBuffer.empty) += id
      }
    }
    retries.remove(k).foreach(_.foreach { id =>
      sb.append(record(body(id, (id / perFile).toInt))).append('\n')
    })
    val tmp = new File(staging, f"part-$k%08d.json")
    Files.write(tmp.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, tmp.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private val thread = new Thread("perfbench-file-generator") {
    override def run(): Unit = {
      var k = 0
      while (!stopping) {
        val wait = dueMs(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopping) {
          writeFile(k)
          val late = System.currentTimeMillis() - dueMs(k)
          FileGenerator.this.synchronized { lateMs += late }
          k += 1
          filesWritten = k
        }
      }
    }
  }
  thread.setDaemon(true)

  def start(): this.type = { dir.mkdirs(); staging.mkdirs(); thread.start(); this }

  /** Stop after the file in progress (never interrupted half-way, so
    * every file counted was fully delivered into `dir`); returns the
    * number of files written. */
  def stop(): Int = {
    stopping = true
    thread.join(30000)
    filesWritten
  }
}
