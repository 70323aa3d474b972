package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tools.ProfileStages

/** The profiler on a real registered query: a positive min-of-passes
  * time, the stages of the last pass, executed-plan lines down to the
  * scan, and no listener left behind. */
class ProfileStagesSpec extends SparkSuite {

  /** A small `lineitem` with the columns q01 reads. */
  private lazy val dir = {
    val d = Files.createTempDirectory("profile-stages").toFile
    d.deleteOnExit()
    spark.range(2000).select(
        element_at(array(lit("A"), lit("N"), lit("R")),
          (col("id") % 3 + 1).cast("int")).as("l_returnflag"),
        when(col("id") % 2 === 0, "F").otherwise("O").as("l_linestatus"),
        (col("id") % 50 + 1).cast("double").as("l_quantity"),
        (col("id") * 1.25).as("l_extendedprice"),
        (col("id") % 10 / 100.0).as("l_discount"),
        date_add(lit("1998-06-01").cast("date"), (col("id") % 200).cast("int"))
          .as("l_shipdate"))
      .write.parquet(s"${d.getAbsolutePath}/lineitem.parquet")
    d.getAbsolutePath
  }

  /** Listeners on the context's bus; the count is not public API. */
  private def busListeners(): Int = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("times q01, records its stages and plan, and removes its listeners") {
    val p = ProfileStages.profile(spark, dir, "q01_agg_pushdown")
    assert(p.seconds > 0)
    assert(p.stages.nonEmpty)
    assert(p.stages.exists(_.tasks > 0))
    assert(p.plan.exists(_.trim.startsWith("Scan parquet")), p.plan.mkString("\n"))

    // measured after a first call: the session registers its own bus
    // listeners lazily, on first use
    val before = busListeners()
    val again = ProfileStages.profile(spark, dir, "q01_agg_pushdown")
    assert(again.stages.size === p.stages.size)
    assert(again.stages.map(_.id).distinct.size === again.stages.size)
    assert(again.stages.map(_.id).min > p.stages.map(_.id).max)
    assert(busListeners() === before)
  }
}
