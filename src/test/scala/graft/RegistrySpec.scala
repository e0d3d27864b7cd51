package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: each query is one [[Query]] declaration, so an
  * oracle without a query cannot be written, and a name declared twice
  * fails [[SparkEntry]]'s initialisation instead of silently shadowing. */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String): Query =
    Query(name, (_: SparkSession, _: String) => null.asInstanceOf[DataFrame], None)

  test("a name declared in two families fails the concatenation, naming it") {
    val e = intercept[IllegalArgumentException] {
      Query.concat(Seq(q("q_a"), q("q_dup")), Seq(q("q_b")), Seq(q("q_dup")))
    }
    assert(e.getMessage.contains("q_dup"))
    assert(!e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("the live registry: 211 queries, 207 oracles, 18 verify-only") {
    assert(SparkEntry.registry.size == 211)
    assert(SparkEntry.queries.size == 211)
    assert(SparkEntry.oracleSql.size == 207)
    assert(SparkEntry.verifyOnly.size == 18)
    assert(SparkEntry.verifyOnly.subsetOf(SparkEntry.queries.keySet))
  }

  test("exactly the sketch estimates ship without an oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q_sketches", "q_sketch_rollup", "q_topk_sketch", "q_stream_topk"))
  }
}
