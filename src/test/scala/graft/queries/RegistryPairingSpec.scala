package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry contract the oracle gate relies on: every query has a
  * DuckDB twin, and no query file shadows another's name — SparkEntry
  * merges the per-file maps with `++`, which silently keeps the last of
  * two equal keys. */
class RegistryPairingSpec extends AnyFunSuite {

  test("every registered query has an oracle twin and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${(q -- o).toSeq.sorted}; " +
      s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("per-file query and oracle maps are pairwise disjoint") {
    for (keys <- Seq(SparkEntry.registries.map(_._1.keySet),
                     SparkEntry.registries.map(_._2.keySet))) {
      val dup = keys.flatten.groupBy(identity).collect {
        case (k, ks) if ks.size > 1 => k
      }
      assert(dup.isEmpty, s"names registered by two files: ${dup.toSeq.sorted}")
    }
  }
}
