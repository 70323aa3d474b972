package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, ReusedSubqueryExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The query profiler: per-stage decomposition of any SparkEntry query via
  * a SparkListener — stage wall time, task count, input / shuffle-read /
  * shuffle-write bytes — plus the per-node SQL metrics of every executed
  * plan, so "where does the time go" is answered by the scheduler's own
  * numbers instead of black-box wall clocks. Times by Bench's protocol
  * (leftover release, untimed warm-up, then the min of two timed passes
  * into the noop sink with System.gc() and a leftover release before
  * each), so numbers are comparable with Bench rows; stage rows and plan
  * lines come from the last pass.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ProfileStages q41_corpus_build"
  */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      val p = profile(spark, dir, n)
      p.plan.foreach(l => println("[plan] " + l))
      println(f"[stages] ===== $n: ${p.seconds}%.2f s total, " +
        f"${p.stages.size} stages =====")
      println(f"[stages] ${"id"}%4s ${"ms"}%7s ${"tasks"}%5s " +
        f"${"runMs"}%7s ${"deser"}%5s ${"gc"}%5s ${"rser"}%4s " +
        f"${"in MB"}%8s ${"sr MB"}%8s ${"sw MB"}%8s  name")
      p.stages.foreach { s =>
        println(f"[stages] ${s.id}%4d ${s.ms}%7d ${s.tasks}%5d " +
          f"${s.runMs}%7d ${s.deserMs}%5d ${s.gcMs}%5d ${s.resMs}%4d " +
          f"${s.inputMB}%8.1f ${s.srMB}%8.1f ${s.swMB}%8.1f  ${s.name}")
      }
      val accounted = p.stages.map(_.ms).filter(_ > 0).sum / 1e3
      println(f"[stages] stage-accounted $accounted%.2f s of " +
        f"${p.seconds}%.2f s wall " +
        "(gap = driver/planning/scheduling between stages)")
    }
    spark.stop()
  }

  case class StageRow(id: Int, name: String, ms: Long, tasks: Int,
      runMs: Long, deserMs: Long, gcMs: Long, resMs: Long,
      inputMB: Double, srMB: Double, swMB: Double)

  /** `seconds`: min of the timed passes; `plan`: one line per executed
    * plan node of the last pass, indented by tree depth. */
  case class Profile(seconds: Double, stages: Seq[StageRow], plan: Seq[String])

  def profile(spark: SparkSession, dir: String, name: String): Profile = {
    val sc = spark.sparkContext
    val stages = ArrayBuffer.empty[StageRow]
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(si.stageId,
            si.name.linesIterator.next().take(90), ms, si.numTasks,
            m.executorRunTime, m.executorDeserializeTime, m.jvmGCTime,
            m.resultSerializationTime,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    }
    // per-node SQL metrics of every root query executed in a pass (the
    // noop write + any eager child jobs) — attributes the anonymous AQE
    // stages above to actual operators
    val plan = ArrayBuffer.empty[String]
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val lines = ArrayBuffer(f"---- $funcName ${durationNs / 1e9}%.2f s ----")
        def walk(p: SparkPlan, depth: Int): Unit = {
          val ms = p.metrics.collect { case (k, m) if (k.contains("Time") ||
              k.contains("time") || k == "numOutputRows" ||
              k.contains("bytes") || k.contains("duration")) && m.value > 0 =>
            s"$k=${m.value}"
          }.mkString(", ")
          lines += ("  " * depth) + p.nodeName +
            (if (ms.nonEmpty) s"  [$ms]" else "")
          val kids = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: QueryStageExec => Seq(q.plan)
            case r: ReusedSubqueryExec => Seq(r.child)
            case _ => p.children
          }
          kids.foreach(walk(_, depth + 1))
        }
        walk(qe.executedPlan, 0)
        plan.synchronized { plan ++= lines; () }
      }
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }

    def release(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.sharedState.cacheManager.clearCache()
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    release()
    once() // warm-up (codegen, footers)
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
    try {
      val t = (1 to 2).map { _ =>
        release()
        System.gc()
        stages.synchronized(stages.clear())
        plan.synchronized(plan.clear())
        val s = once()
        drainListenerBus(spark)
        s
      }.min
      Profile(t, stages.synchronized(stages.sortBy(_.id).toList),
        plan.synchronized(plan.toList))
    } finally {
      sc.removeSparkListener(stageListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  private val DrainKey = "graft.profile.drain"

  /** Returns once the shared listener queue has delivered every event
    * posted before the call: a zero-partition job posts its start event
    * straight onto the bus, behind the finished pass's stage and SQL
    * events, without running a stage of its own. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(DrainKey) == token) seen.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setLocalProperty(DrainKey, token)
      try sc.emptyRDD[Int].collect() finally sc.setLocalProperty(DrainKey, null)
      seen.await(30, TimeUnit.SECONDS)
    } finally sc.removeSparkListener(marker)
  }
}
