package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's invariants, read through its public members
 *  (`SparkEntry.queries` and `SparkEntry.oracleSql`): well-formed
 *  names with one gate per q-number, no oracle without a gate, and a
 *  static oracle for every gate except the rows-only q135 and the five
 *  whose oracle inlines values their own run computes. Those five
 *  appear in `oracleSql` once their gate has run; another suite in the
 *  same JVM may already have run them, so only the after-run state is
 *  asserted. */
class GateRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val rowsOnly = "q135_compression_ratio"
  private val afterRun = Set("q39_ivf", "q68_semantic_neardup",
    "q85_temperature_mix", "q123_token_mixture", "q140_prototype_prune")

  test("gate names are q<N>_<snake_case>, one gate per q-number") {
    val names = SparkEntry.queries.keys.toSeq
    val malformed = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"malformed gate names: $malformed")
    val shared = names.groupBy(_.takeWhile(_ != '_'))
      .collect { case (q, ns) if ns.size > 1 => s"$q: ${ns.sorted.mkString(", ")}" }
    assert(shared.isEmpty, s"q-numbers used twice: $shared")
  }

  test("every oracle belongs to a gate") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a gate: $orphans")
  }

  test("every gate has a static oracle except q135 (rows-only) and the " +
    "five after-run oracles, which appear once their gate has run") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.contains(rowsOnly))
    assert((noOracle - rowsOnly).subsetOf(afterRun),
      s"gates without an oracle: ${(noOracle - rowsOnly -- afterRun).toSeq.sorted}")
    afterRun.toSeq.sorted.foreach(n => SparkEntry.queries(n)(spark, dir))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set(rowsOnly))
  }
}
