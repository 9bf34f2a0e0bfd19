package graft.queries

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The registry contract the oracle gate relies on: each query is one
  * registration holding its body and its DuckDB twin, and the registry
  * refuses a name registered twice or a twin left empty, naming the key. */
class RegistryPairingSpec extends AnyFunSuite {

  private val body: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a duplicate name or an empty oracle fails the registry, naming the key") {
    val dup = intercept[IllegalArgumentException](Q.index(Seq(
      Q("q_a", body, "SELECT 1"), Q("q_b", body, "SELECT 2"),
      Q("q_a", body, "SELECT 3"))))
    assert(dup.getMessage.contains("q_a"), dup.getMessage)
    for (blank <- Seq("", " \n ", null)) {
      val empty = intercept[IllegalArgumentException](Q.index(Seq(
        Q("q_a", body, "SELECT 1"), Q("q_b", body, blank))))
      assert(empty.getMessage.contains("q_b"), empty.getMessage)
    }
  }

  test("per-file query and oracle maps are pairwise disjoint") {
    val dup = SparkEntry.registries.flatMap(_.map(_.name)).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    assert(dup.isEmpty, s"names registered twice: ${dup.toSeq.sorted}")
  }

  test("queries and oracleSql hold exactly one entry per registration") {
    val n = SparkEntry.registrations.size
    assert(SparkEntry.queries.size == n, s"${SparkEntry.queries.size} bodies, $n registrations")
    assert(SparkEntry.oracleSql.size == n, s"${SparkEntry.oracleSql.size} oracles, $n registrations")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
