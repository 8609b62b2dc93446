package graft.functions

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style domain-targeted data selection (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling"): score
  * every candidate document by how much its token distribution looks
  * like a small curated TARGET domain rather than the raw crawl, then
  * keep the target-like slice. This is the selection step that sits
  * between hygiene gates (Gopher/C4, which ask "is it clean?") and
  * mixing (which asks "how much of each source?") — DSIR asks "is it
  * the DISTRIBUTION we want to train on?".
  *
  * Exact-integer realization (the repo-wide oracle-exactness
  * convention — see §8): the paper scores log p_tgt(x) − log p_raw(x)
  * under bag-of-ngram models; logs are libm territory and never
  * cross-engine exact. But the decision only needs a MONOTONE function
  * of the probability ratio, and the sigmoid
  *   σ = p_tgt / (p_tgt + p_raw)
  * is exactly that, bounded, and computable in pure int64 arithmetic:
  * probabilities become per-billion integer rates
  *   p = (1e9 · (cnt + 1)) div total        (add-one smoothing)
  * and a token's importance points are
  *   pts = (1000 · p_tgt) div (p_tgt + p_raw) − 500   ∈ [−500, 500].
  * Equal RATE in both corpora ⇒ p_tgt ≈ p_raw ⇒ pts ≈ 0 (the
  * per-billion floor keeps it within ±1); target-only tokens push
  * toward +500, raw-only tokens toward −500; a token absent from BOTH
  * tables carries no evidence and scores exactly 0 via the CASE arm.
  * Note ranks would NOT work here: a dense-rank position is relative
  * to its own table's count distribution, and the small target table's
  * compressed rank scale systematically mis-prices tokens that are
  * mid-frequency everywhere (they sit near the floor of the small
  * table but mid-scale in the big one), inverting the signal. Rates
  * are the comparable quantity; ranks are not.
  *
  * The paper's hashed-feature table (10k buckets) exists to BOUND the
  * model; here the bound comes from the heavy-hitter floor instead
  * (`FeatureMinCount`, the `BpeTrain.lexicon`/`BigramMinCount`
  * contract): features below the floor collapse into the no-evidence
  * arm on each side, exactly a hashed model's "everything else"
  * bucket but without cross-engine hash agreement problems.
  *
  * Target domain stand-in: the synthetic corpus has no Wikipedia, so
  * the oracle query targets a fixed slice of one language (`lang =
  * 'en' AND doc_id % 4 == 1`). NOTE the synthetic generator labels
  * langs but draws every doc's tokens from the SAME 31-word pool at
  * uniform rates — the slice carries no real distributional signal, so
  * on this data all scores sit near 0 and the query's value is the
  * cross-engine exactness contract. The selection SEMANTICS are pinned
  * by `DsirSpec`-planted corpora with genuinely divergent token
  * distributions, through the same `dsirSelectOf` core. Production
  * swaps in the real curated corpus; nothing below depends on the
  * stand-in's shape.
  *
  * Scale shape: ONE staged token frame feeds both count tables, the
  * totals, and the scoring join; every corpus-scale exchange keys on
  * xxhash64(token) longs (strings die at the scan); both count tables
  * are vocabulary-scale and floor-bounded so the scoring joins' build
  * sides broadcast (AQE); the totals are a 1-row broadcast. The
  * candidate scan never shuffles except on (tokh) for the model joins
  * and (doc_id) for the final per-doc sum — both map-side-combined.
  * Int64 headroom: 1e9 · cnt stays in-range up to ~9e9 occurrences of
  * one token; beyond that (full 100 TB corpora) drop the rate scale to
  * per-million or compute p in DECIMAL(38,0) — the sigmoid shape and
  * the oracle contract are unchanged.
  */
object Dsir {

  /** Heavy-hitter floor for the feature tables (see BigramMinCount). */
  val FeatureMinCount = 3L

  /** Keep floor for the mean importance points: 0 = "at least as
    * target-like as raw-like on average". Production re-calibrates per
    * corpus, or feeds the score to `calibratedQuality`'s per-source
    * quantile machinery instead of a constant.
    */
  val KeepMin = 0.0

  private def isTarget = col("lang") === "en" && pmod(col("doc_id"), lit(4)) === 1

  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOf(Tables.documents(spark, dir), isTarget)

  /** Core selector over any (doc_id, text) frame and target predicate —
    * the spec plants corpora with real distributional divergence and
    * drives this directly.
    */
  private[graft] def dsirSelectOf(docs: DataFrame, target: org.apache.spark.sql.Column): DataFrame = {
    // One staged (doc_id, is_target, tokh) frame: the target model, the
    // raw model, the totals, and the scoring pass all consume it — the
    // corpus is tokenized exactly once.
    val toks = graft.Staging.staged(
      docs
        .select(col("doc_id"), target.as("is_tgt"),
          explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), col("is_tgt"), xxhash64(col("tok")).as("tokh")),
      "dsir_tokens")

    def countTable(side: DataFrame, as: String): DataFrame =
      side.groupBy("tokh").agg(count(lit(1)).as(as))
        .filter(col(as) >= FeatureMinCount)

    val tgtCnts = countTable(toks.filter(col("is_tgt")), "cnt_tgt")
    val rawCnts = countTable(toks.filter(!col("is_tgt")), "cnt_raw")
    val totals = toks.agg(
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("total_tgt"),
      sum(when(col("is_tgt"), 0L).otherwise(1L)).as("total_raw"))

    toks
      .filter(!col("is_tgt"))
      .join(tgtCnts, Seq("tokh"), "left")
      .join(rawCnts, Seq("tokh"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        expr(
          """CASE WHEN cnt_tgt IS NULL AND cnt_raw IS NULL THEN CAST(0 AS BIGINT)
            |ELSE (1000 * ((1000000000 * (coalesce(cnt_tgt, 0) + 1)) div total_tgt))
            |  div (((1000000000 * (coalesce(cnt_tgt, 0) + 1)) div total_tgt)
            |     + ((1000000000 * (coalesce(cnt_raw, 0) + 1)) div total_raw)) - 500
            |END""".stripMargin).as("pts"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("pts").as("pts_sum"))
      .withColumn("dsir_score", Num.round4(col("pts_sum") / col("n_toks")))
      .withColumn("keep", col("dsir_score") >= KeepMin)
      .select("doc_id", "n_toks", "dsir_score", "keep")
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    // DSIR as an exact-integer probability-ratio sigmoid: per-billion
    // smoothed token rates p = (1e9*(cnt+1)) // total on each side,
    // importance points = (1000*p_tgt) // (p_tgt + p_raw) - 500, tokens
    // absent from BOTH floor-bounded tables carry no evidence (0). All
    // int64 floor-divisions on positive operands — identical in both
    // engines; per-doc exact BIGINT sum, one round4 division at the end
    // (see Dsir.scala for why rank positions canNOT stand in here).
    Query("q_dsir_select", (s, d) => dsirSelect(s, d),
      s"""WITH tk AS (
         |  SELECT doc_id, (lang = 'en' AND doc_id % 4 = 1) AS is_tgt,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), ft AS (
         |  SELECT tok, count(*) AS cnt_tgt FROM tk WHERE is_tgt GROUP BY tok
         |  HAVING count(*) >= $FeatureMinCount
         |), fr AS (
         |  SELECT tok, count(*) AS cnt_raw FROM tk WHERE NOT is_tgt GROUP BY tok
         |  HAVING count(*) >= $FeatureMinCount
         |), tot AS (
         |  SELECT sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS total_tgt,
         |    sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS total_raw
         |  FROM tk
         |), s AS (
         |  SELECT doc_id, count(*) AS n_toks,
         |    sum(CASE WHEN cnt_tgt IS NULL AND cnt_raw IS NULL THEN 0
         |      ELSE (1000 * ((1000000000 * (coalesce(cnt_tgt, 0) + 1)) // total_tgt))
         |        // (((1000000000 * (coalesce(cnt_tgt, 0) + 1)) // total_tgt)
         |           + ((1000000000 * (coalesce(cnt_raw, 0) + 1)) // total_raw)) - 500
         |      END) AS pts_sum
         |  FROM tk LEFT JOIN ft USING (tok) LEFT JOIN fr USING (tok) CROSS JOIN tot
         |  WHERE NOT is_tgt GROUP BY doc_id
         |)
         |SELECT doc_id, n_toks,
         |  floor(pts_sum * 1.0 / n_toks * 10000 + 0.5) / 10000 AS dsir_score,
         |  (floor(pts_sum * 1.0 / n_toks * 10000 + 0.5) / 10000
         |    >= $KeepMin) AS keep
         |FROM s ORDER BY doc_id""".stripMargin)
  )
}
