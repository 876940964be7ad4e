package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one [[Query]] record per name, and the driver's
  * `queries` / `oracleSql` maps derived from the records. */
class RegistrySpec extends AnyFunSuite {

  private def record(name: String): Query =
    Query(name, corpusGrain = false, None)((_, _) => ???)

  test("a name registered twice fails the view build and names the duplicate") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(record("q_a"), record("q_dup"), record("q_dup")))
    }
    assert(e.getMessage.contains("'q_dup'"), e.getMessage)
  }

  test("driver views are the records: every name once, oracles where declared") {
    val names = SparkEntry.registry.map(_.name)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql ==
      SparkEntry.registry.flatMap(q => q.oracleSql.map(q.name -> _)).toMap)
  }
}
