package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric helpers shared by operators and their oracle SQL: each is a
  * formula the DuckDB oracle spells out the same way.
  *
  * `round4` exists because Spark's `round(x, 4)` on DOUBLE converts to
  * BigDecimal and rounds HALF_UP on the exact decimal expansion, while
  * DuckDB rounds via float-scaled arithmetic — the two disagree on
  * half-way doubles. `floor(x * 1e4 + 0.5) / 1e4` performs the identical
  * IEEE-754 op sequence in both engines, so a DuckDB oracle using the
  * same formula hash-matches bit-for-bit.
  */
object Num {
  def round4(c: Column): Column = floor(c * lit(10000d) + lit(0.5)) / lit(10000d)

  /** The same formula as DuckDB SQL, for oracle strings. */
  def round4Sql(expr: String): String = s"floor(($expr) * 10000 + 0.5) / 10000"

  /** Engine-portable hash bucket of an integer id in [0, m):
    * `((id % 1000003) * 1315423911 + salt) % 1000000007 % m`. Explicit
    * integer arithmetic, not a builtin hash, so the oracle evaluates the
    * identical function; the pre-mod keeps every intermediate well
    * inside int64 in both engines. Each sampler passes its own salt so
    * samplers and splits stay decorrelated.
    */
  def hashBucket(id: Column, salt: Long, m: Long): Column =
    (((id % 1000003L) * 1315423911L + salt) % 1000000007L % m).cast("long")

  /** `hashBucket` as DuckDB SQL over the id expression `id`, for oracle strings. */
  def hashBucketSql(id: String, salt: Long, m: Long): String =
    s"(($id % 1000003) * 1315423911 + $salt) % 1000000007 % $m"

  /** Linearized idf ×10⁴ as an exact long, floor((N − df + ½)/(df + ½)·10⁴ + ½):
    * the rational form of BM25's idf, because ln differs across libms
    * (see `TextFunctions.tfidfSearch`).
    */
  def idf4(nDocs: Column, df: Column): Column =
    floor((nDocs - df + 0.5) / (df + 0.5) * 10000 + 0.5).cast("long")

  /** One term's BM25 score ×10⁴ as an exact long (k1 = 6/5, b = 3/4,
    * avgdl = T/N kept rational): idf4·22·tf·T / (10·tf·T + 3·T + 9·dl·N),
    * both operands exact as doubles, the quotient rounded half-up
    * (derivation: `TextFunctions.bm25Search`).
    */
  def bm25Score4(idf4: Column, tf: Column, dl: Column, nDocs: Column, tTok: Column): Column =
    floor(
      (idf4 * 22L * tf * tTok).cast("double")
        / (lit(10L) * tf * tTok + lit(3L) * tTok + lit(9L) * dl * nDocs).cast("double")
        + 0.5).cast("long")
}
