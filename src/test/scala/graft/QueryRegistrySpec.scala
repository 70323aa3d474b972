package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] are the union of the per-module maps, with
  * no name shared between modules and no entry dropped. Runs no Spark
  * job. */
class QueryRegistrySpec extends AnyFunSuite {
  private val modules = SparkEntry.modules

  test("120 query names, unique across modules") {
    val names = modules.flatMap(_.queries.keys)
    assert(names.size === 120)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.size === 120)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    modules.foreach(m => assert(m.queries.keySet === m.oracles.keySet))
  }

  test("read-back copies name queries of their own module") {
    assert(SparkEntry.oracleInputCopies.nonEmpty)
    modules.foreach { m =>
      assert(m.oracleInputCopies.toSet.subsetOf(m.queries.keySet))
    }
    assert(SparkEntry.oracleInputCopies.subsetOf(SparkEntry.queries.keySet))
  }

  test("merged maps hold exactly the per-module entries") {
    modules.foreach { m =>
      m.queries.foreach { case (k, f) => assert(SparkEntry.queries(k) eq f) }
      m.oracles.foreach { case (k, sql) => assert(SparkEntry.oracleSql(k) == sql) }
    }
    assert(SparkEntry.oracleSql.size === modules.map(_.oracles.size).sum)
  }

  test("a name registered by two modules is rejected") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(Map("q_a" -> 1, "q_b" -> 2), Map("q_b" -> 3))))
    assert(e.getMessage.contains("q_b"))
  }
}
