package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its entry function and the DuckDB
  * SQL the correctness gate compares it against (same column aliases,
  * same rounding, same deterministic ORDER BY). Each entry sits in the
  * object that defines its entry function, in that object's `queries`;
  * `SparkEntry` concatenates them.
  *
  * The oracle is by-name and built on first read only: declaring or
  * running a query never builds oracle text (some of it is generated,
  * e.g. `KMeansOracle`, `HllOracle`), only `Verify`'s
  * `oracle_sql.json` does.
  */
final class Query(val name: String, val run: (SparkSession, String) => DataFrame, oracle: => String) {
  lazy val oracleSql: String = oracle
}

object Query {
  def apply(name: String, run: (SparkSession, String) => DataFrame, oracle: => String): Query =
    new Query(name, run, oracle)
}
