package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** Pins the query registry: [[SparkEntry.queries]], [[SparkEntry.oracleSql]]
  * and [[SparkEntry.oracleInputCopies]] derive from the modules' entries,
  * no name is shared between modules, and every name, oracle string and
  * read-back flag matches `query_registry.txt`. Runs no Spark job. */
class QueryRegistrySpec extends AnyFunSuite {
  private val modules = SparkEntry.modules

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("120 query names, unique across modules") {
    val names = modules.flatMap(_.entries.map(_.name))
    assert(names.size === 120)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.size === 120)
  }

  test("registry matches the pinned names, oracle hashes and read-back flags") {
    val src = scala.io.Source.fromResource("query_registry.txt")
    val pinned = try src.getLines().filterNot(_.startsWith("#")).toList
      finally src.close()
    val got = SparkEntry.queries.keys.toList.sorted.map { n =>
      s"$n ${sha256(SparkEntry.oracleSql(n))} ${SparkEntry.oracleInputCopies(n)}"
    }
    assert(got === pinned)
  }

  test("merged maps hold exactly the per-module entries") {
    modules.flatMap(_.entries).foreach { q =>
      assert(SparkEntry.queries(q.name) eq q.build)
      assert(SparkEntry.oracleSql(q.name) == q.oracle)
      assert(SparkEntry.oracleInputCopies(q.name) == q.readBack)
    }
    assert(SparkEntry.oracleSql.size === modules.map(_.entries.size).sum)
  }

  test("a name registered by two modules is rejected") {
    def q(name: String) = Query(name, (_, _) => null, "")
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(q("q_a"), q("q_b"), q("q_b"))))
    assert(e.getMessage.contains("q_b"))
  }
}
