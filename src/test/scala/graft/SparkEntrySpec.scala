package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query inventory's shape: each query is one `Query` entry in
  * the object that defines it, `SparkEntry` concatenates the registries,
  * and an entry's oracle text is built only when it is read.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("the family registries hold exactly one entry per query name") {
    // A name registered by two families would collapse into one map key,
    // so the counts would differ even if the aggregation let it through.
    val entries = SparkEntry.families.map(_.size).sum
    assert(entries == SparkEntry.queries.keySet.size,
      s"$entries registry entries for ${SparkEntry.queries.size} query names")
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a query's oracle is built on first read only, then kept") {
    var builds = 0
    val q = Query("q_probe", (s, d) => s.read.parquet(d), { builds += 1; "SELECT 1" })
    assert(builds == 0, "declaring a query must not build its oracle")
    assert(q.oracleSql == "SELECT 1" && q.oracleSql == "SELECT 1")
    assert(builds == 1)
  }
}
