package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.enrich.{GeoTable, IpEnrich, IpRange, IpRangeLookup}
import graft.streaming.{ParquetSink, TaskConfig, TaskRunner}

/** The geo table's broadcast over the life of a query and of a session:
  * a running stream keeps its table through triggers even after the
  * table is no longer the latest one built and the JVM has collected
  * garbage, and a session started after another was stopped gets a live
  * table of its own for the very same ranges instance. */
class GeoLifecycleSpec extends SparkSuite {

  // every valid IPv4 address hits: the top bit picks the range
  private def ranges(): Seq[IpRange] = Seq(
    IpRange(0L, 0x7fffffffL, "中国", "电信"),
    IpRange(0x80000000L, 0xffffffffL, "美国", "AT&T Chicago"))

  private def expected(ip: String): (String, String) =
    if (ip.takeWhile(_ != '.').toInt < 128) ("中国", "电信") else ("美国", "AT&TChicago")

  private def ipOf(i: Int): String = s"${(i * 37) % 256}.${i % 256}.1.${i % 7}"

  private def assertEnriched(out: DataFrame, n: Long): Unit = {
    val rows = out.select("ip_src", "loc_src", "isp_src", "ip_dst", "loc_dst", "isp_dst")
      .collect()
    assert(rows.length === n)
    for (r <- rows) {
      assert((r.getString(1), r.getString(2)) === expected(r.getString(0)), r)
      assert((r.getString(4), r.getString(5)) === expected(r.getString(3)), r)
    }
  }

  /** A broadcast no plan holds any more is cleaned up by the context
    * cleaner shortly after a collection; give it that chance. */
  private def collectGarbage(): Unit = {
    System.gc()
    Thread.sleep(300)
  }

  test("a stream enriches every row of every trigger with its broadcast table") {
    val dir = Files.createTempDirectory("geo_stream").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    Files.createDirectories(Paths.get(srcDir))
    val cfg = TaskConfig.fromJson(
      """{"name": "geo", "topic": "t", "parser": "json", "tableName": "t",
        |"flushInterval": 1, "dims": [
        |  {"name": "id", "type": "Int64"},
        |  {"name": "ip_src", "type": "String"},
        |  {"name": "ip_dst", "type": "String"}]}""".stripMargin)
    val table = ranges()
    val source = spark.readStream.format("text").load(srcDir)
      .select(col("value"), lit("t").as("topic"), lit(0).as("partition"),
        lit(0L).as("offset"))
    val q = TaskRunner.run(cfg, source, new ParquetSink(outDir), ckDir,
      enrich = IpEnrich.searchIp(_, table))
    val perFile = 50
    val files = 3
    try {
      for (f <- 0 until files) {
        val lines = (f * perFile until (f + 1) * perFile).map(i =>
          s"""{"id": $i, "ip_src": "${ipOf(i)}", "ip_dst": "${ipOf(i + 101)}"}""")
        Files.write(Paths.get(srcDir, s"f$f.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
        q.processAllAvailable()
        // a newer table replaces this one as the latest built; only the
        // running query still holds it
        GeoTable.broadcast(spark, ranges())
        collectGarbage()
      }
      assert(q.recentProgress.count(_.numInputRows > 0) >= files)
    } finally q.stop()
    assert(q.exception.isEmpty)
    assertEnriched(spark.read.parquet(outDir), files.toLong * perFile)
  }

  test("a session started after a stop gets a live table for the same ranges") {
    val table = ranges()
    def enrichOn(s: SparkSession): DataFrame = {
      import s.implicits._
      val df = (0 until 200).map(i => (ipOf(i), ipOf(i + 7))).toDF("ip_src", "ip_dst")
        .repartition(3)
      IpEnrich.searchIp(df, table)
    }
    def handle(df: DataFrame) = df.queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case l: IpRangeLookup => l.table }))
      .head

    val before = enrichOn(spark)
    assertEnriched(before, 200)
    spark.stop()
    val next = Sessions.builder("4").getOrCreate()
    next.sparkContext.setLogLevel("WARN")
    val after = enrichOn(next)
    assert(handle(after) ne handle(before))
    assertEnriched(after, 200)
  }
}
