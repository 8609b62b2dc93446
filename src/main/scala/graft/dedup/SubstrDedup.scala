package graft.dedup

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-document exact-substring dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr): remove every token span that appears verbatim in
  * multiple documents — the unaligned, token-granular member of the
  * dedup family. Distinct from `LineDedup` (fixed chunk grid, df >= 3
  * boilerplate) and from doc-level near-dup: two docs sharing one
  * copied paragraph are NOT near-dups and share no aligned line, but
  * the paragraph still memorizes — this pass is what catches it.
  *
  * The paper's suffix-array machinery finds maximal repeats >= 50
  * tokens; the lake-native equivalent marks every sliding
  * `WindowTokens`-gram occurring in >= `MinDocs` distinct docs and
  * removes the union of covered spans — the same fixed-width-window
  * reduction the MinHash/shingle family already applies to its own
  * problem (a repeat of length L >= W is exactly a run of L-W+1
  * flagged windows, so removal coverage is identical to the
  * maximal-repeat formulation for repeats >= W; W stands in for the
  * paper's 50 at toy document lengths).
  *
  * Scale shape, per the repo's shuffle-hygiene principle: the window
  * frame is (doc_id, start, xxhash64(gram)) 24-byte rows — gram TEXT
  * never crosses the wire; repeated-window detection is a count of
  * DISTINCT docs per hash (partial-agg friendly); coverage returns to
  * each doc as a tiny (doc_id, starts) row; and removal is SCAN-LOCAL —
  * the covered-index set expands per row from the starts array and the
  * clean text is an in-row indexed filter, never a token explode. Same
  * 1e-10 hash-collision trade as the shingle indexes (a collision can
  * only over-remove a span, never corrupt text).
  */
object SubstrDedup {

  /** Sliding window width in tokens (stands in for the paper's
    * 50-token minimal-repeat threshold at synthetic doc lengths).
    */
  val WindowTokens = 8

  /** A window seen in >= this many DISTINCT docs is a repeat. */
  val MinDocs = 2

  /** Hot-window guard (r14, a DOCUMENTED bound — the substr twin of
    * `Dedup.ContainmentDfCap`): a window hash whose total occurrence
    * count exceeds this cap is classified BOILERPLATE and excluded from
    * substring removal. The per-hash occurrence list was the engine's
    * one remaining unbounded per-key aggregate: a corpus-wide viral
    * 8-gram (a legal disclaimer, a BOM artifact) would concentrate
    * every occurrence on a single reducer at 100 TB. The cap is
    * enforced INSIDE the single-shuffle aggregate (`graft_collect_capped`
    * holds O(cap) state per key and O(1) once overflowed — see
    * CollectCappedAgg), so the one-pass plan r13 fused is preserved.
    *
    * Why exclusion is semantically safe: occurrences >= distinct docs,
    * so an over-cap window sits in up to `cap` docs — at that df the
    * span is boilerplate, not quotation, and boilerplate removal is
    * LineDedup's job (its df >= 3 chunk pass runs first in the curation
    * order and is a bounded count aggregate, not a list). On the test
    * corpora the hottest window has far fewer occurrences than the cap,
    * so capped == uncapped exactly (spec-pinned, alongside a planted
    * viral-window test proving the cap prunes); the DuckDB oracle
    * stays the uncapped formulation for that reason.
    */
  val SubstrOccCap = 1000

  def substrDedup(spark: SparkSession, dir: String): DataFrame =
    substrDedupOf(graft.Staging.spread(Tables.documents(spark, dir)))

  /** Frame-level substrDedup: any (doc_id, text) frame. */
  def substrDedupOf(docs: DataFrame, occCap: Int = SubstrOccCap): DataFrame = {
    val w = WindowTokens
    // Window key = xxhash64 of the window's 8 TOKEN-HASHES, not of a
    // rebuilt window string: windows overlap W-fold, so string keys
    // would materialize ~W× the corpus bytes before hashing them; each
    // token is hashed once and every window key then touches 8 longs.
    // (Hashing the hash array is as collision-bounded as hashing the
    // text: distinct windows get distinct hash arrays up to the same
    // 64-bit collision trade already accepted.)
    // Computed by the fused `graft_window_hashes` codegen Expression
    // (r14): the transform→transform(slice) HOF composition it replaces
    // ran as two interpreted lambdas with a per-window slice allocation
    // — bit-identical by construction, spec-pinned (WindowHashExprSpec).
    // columnarCache: this staging is the textbook build-dominated scan
    // — the rolling-hash expression is the query's whole CPU budget and
    // the frame is read once by the explode below. Registered under the
    // session default (AQE/row cache) it builds at 14× the CPU / 7× the
    // query wall, measured at the 500k-doc decade point (r17).
    val toks = graft.Staging.staged(
      docs
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("ghs", expr(s"graft_window_hashes(w, $w)")),
      "substr_windows", columnarCache = true)
    // ONE full-volume shuffle (r13): repeat detection and coverage
    // collection share a single groupBy(gh) — the occurrence list is
    // gathered alongside the repeat test, and the distinct-doc floor is
    // evaluated scan-locally on the gathered list. The previous shape
    // exploded the window frame twice and shuffled it twice — once
    // through countDistinct's two-phase agg and once through the
    // join-back — for the same answer. The list aggregate is CAPPED
    // (r14): `graft_collect_capped` yields NULL for a window hash with
    // more than `occCap` occurrences, so the hottest key holds bounded
    // reducer state and a viral boilerplate window drops out of
    // substring removal by contract (see SubstrOccCap).
    val covered = toks
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("s", "gh")))
      .groupBy("gh")
      .agg(expr(s"graft_collect_capped(struct(doc_id, s), $occCap)").as("occ"))
      .filter(col("occ").isNotNull)
      .filter(expr(s"size(array_distinct(transform(occ, o -> o.doc_id))) >= $MinDocs"))
      .select(explode(col("occ")).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("o.s").as("s"))
      .groupBy("doc_id")
      .agg(collect_list(col("s")).as("starts"))
    // Removal is a single fused pass (r14, `graft_remove_covered`): the
    // expand-then-probe composition it replaces (covered-index array +
    // per-token array_contains) is O(n·|cov|) per doc — quadratic on
    // the heavily-duplicated corpora this operator exists for; the
    // Expression paints a coverage bitmap once and copies survivors in
    // one scan (bit-identical, spec-pinned).
    toks
      .join(covered, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), expr("cast(array() as array<int>)")))
      .withColumn("clean", expr(s"graft_remove_covered(w, starts, $w)"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("clean"))).cast("long").as("n_removed"),
        expr("array_join(clean, ' ')").as("clean_text"))
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    // ExactSubstr-style: the oracle keys on gram STRINGS where the plan
    // keys on xxhash64 longs — identical output modulo the documented
    // 1e-10 collision trade. The engine's SubstrOccCap boilerplate
    // exclusion (a window hash with > cap total occurrences drops out
    // of removal — see SubstrDedup.SubstrOccCap) is replicated here as
    // the count(*) <= cap HAVING term, so the oracle/engine contract
    // holds UNCONDITIONALLY, not only on corpora where the cap is inert.
    Query("q_substr_dedup", (s, d) => substrDedup(s, d),
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, s, array_to_string(w[s + 1 : s + 8], ' ') AS gram
        |  FROM (SELECT doc_id, w, unnest(range(0, greatest(len(w) - 7, 0))) AS s FROM t)
        |), rep AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2
        |     AND count(*) <= $SubstrOccCap
        |), cov AS (
        |  SELECT doc_id, list_distinct(flatten(list(range(s, s + 8)))) AS covered
        |  FROM g JOIN rep USING (gram) GROUP BY doc_id
        |), fin AS (
        |  SELECT t.doc_id, w, coalesce(cov.covered, CAST([] AS BIGINT[])) AS covered
        |  FROM t LEFT JOIN cov USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - len(clean) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(clean, ' '), '') AS clean_text
        |FROM (
        |  SELECT doc_id, w,
        |    list_where(w, list_transform(range(0, len(w)), i -> NOT list_contains(covered, i))) AS clean
        |  FROM fin
        |) ORDER BY doc_id""".stripMargin)
  )
}
