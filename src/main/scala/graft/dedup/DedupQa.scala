package graft.dedup

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** QA / observability queries over the dedup index family — the tables
  * a production dedup pipeline publishes NEXT TO its outputs so that
  * recall regressions and skew blowups are caught by a query, not an
  * incident. (Same discipline as `similarity.AnnRecall` on the vector
  * side: recall and bucket shape are MEASURED properties of index +
  * corpus, never assumed from banding theory. The reference never
  * trusts a stored derivation blindly either — ref
  * `periodical_static_data_gathering.py:74-78` diffs its known version
  * set against the freshly-fetched one before acting; these tables
  * apply that discipline to the LSH index.)
  */
object DedupQa {

  /** q_dedup_recall: pair-level recall audit of MinHash-LSH against the
    * exact Jaccard ground truth at the SAME threshold over the SAME
    * shingle space — every exact near-dup pair, with `found` = whether
    * the banded index surfaced it. Misses are ROWS (found = 0), not
    * absences: the whole point of the gate is making them visible.
    *
    * Scale shape: both parents are the repo's designed scale paths
    * (`Dedup.ngramJaccard` = lossless AllPairs prefix filtering — the
    * exact side a pipeline runs on a SAMPLE at 100 TB, which is what
    * the gate's corpus models; `Dedup.minhashLsh` banded candidates +
    * bounded verify). Their outputs are near-dup-pair-bounded, so the
    * membership join is output-sized, not corpus-sized. The verified
    * LSH pair set is a SUBSET of the exact set by construction (banding
    * only loses candidates; the verify applies the identical Jaccard),
    * so recall = found-fraction and false positives are impossible —
    * the spec pins both facts.
    *
    * Oracle-exact: both parents replay in DuckDB already; the oracle
    * shares `MinHashOracle.sql`'s CTE chain so the two cannot drift.
    */
  def dedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = Dedup.ngramJaccard(spark, dir) // a, b, jac (>= tau)
    // Membership against the LSH CANDIDATE set, not the verified LSH
    // output (r20): the exact side already established jac >= τ for
    // every audited pair, and the LSH verify applies the IDENTICAL
    // Jaccard over the IDENTICAL shingle space — so a true pair is in
    // minhashLsh's output iff it is in the banded candidate set, and
    // re-running the verify (two corpus-array joins + per-pair
    // intersections) computed nothing this join can't. Same rows,
    // same oracle; the spec pins lsh ⊆ exact either way.
    val lsh = Dedup
      .minhashCandidates(Dedup.shingleArrays(spark, dir))
      .select(col("a"), col("b"), lit(1L).as("found"))
    exact
      .join(lsh, Seq("a", "b"), "left")
      .select(
        col("a"),
        col("b"),
        col("jac"),
        coalesce(col("found"), lit(0L)).as("found"))
      .orderBy("a", "b")
  }

  /** q_index_stats: per-band health report of the MinHash-LSH bucket
    * index — docs, buckets, max bucket size, implied candidate pairs
    * (Σ c·(c−1)/2, the EXACT row count the band equi-join will
    * produce), and the singleton fraction. This is the table you read
    * BEFORE launching the candidate join at 100 TB: a viral bucket
    * shows up here as max_bucket/cand_pairs, at the cost of one
    * bounded aggregation, instead of as a hot reducer task an hour
    * into the join. (StreamLshDedup's 64-entry bucket cap and the AQE
    * skew split are the mitigations; this is their monitoring input.)
    *
    * Scale shape: groupBy (band, key) with map-side partial counts —
    * the count aggregate is safe on ANY skew since partials are O(1)
    * per key — then an 8-row reduce by band. No join, one corpus-index
    * pass over the staged shingle frame.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    val bands = Dedup.minhashBandsOf(Dedup.shingleArrays(spark, dir))
    bands
      .groupBy("band", "key")
      .agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("cand_pairs"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("singletons"))
      .select(
        col("band").cast("long").as("band"),
        col("n_docs"),
        col("n_buckets"),
        col("max_bucket"),
        col("cand_pairs"),
        Num.round4(col("singletons").cast("double") / col("n_buckets").cast("double"))
          .as("singleton_frac"))
      .orderBy("band")
  }

  val queries: Seq[Query] = Seq(
    // Recall gate and index health report share the SAME replay chain
    // (pairCtes) as the LSH oracle, so the three cannot drift.
    Query("q_dedup_recall", (s, d) => dedupRecall(s, d), MinHashOracle.recallSql),
    Query("q_index_stats", (s, d) => indexStats(s, d), MinHashOracle.indexStatsSql)
  )
}
