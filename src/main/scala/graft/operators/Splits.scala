package graft.operators

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic train/valid/test assignment.
  *
  * Reference: match_modeling.py / proto_data_analysis.py shuffle rows and
  * slice 80/10/10 before training. A random shuffle is neither
  * reproducible nor joinable at scale; the lake-native equivalent is a
  * pure hash of the stable id — same row, same split, on every run and
  * every engine, no state to persist.
  *
  * The hash is `Num.hashBucket`: explicit integer arithmetic the DuckDB
  * oracle evaluates identically.
  */
object Splits {

  /** Additive `Num.hashBucket` salts, one per sampler so the samplers
    * and the splits stay decorrelated. Each operator and its oracle read
    * the same name. `stratifiedSample` shares the split salt.
    */
  val SplitSalt = 12345L
  val MixSalt = 2038074743L
  val TemperatureSalt = 1442695040L
  val UpsampleSalt = 824633720L

  /** The 80/10/10 train/valid/test cut of a [0, 100) hash bucket. */
  def splitOf(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")

  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(
      Tables.documents(spark, dir).select(col("doc_id")), "split_assign_out", "doc_id")(
      _.withColumn("bucket", Num.hashBucket(col("doc_id"), SplitSalt, 100L))
        .withColumn("split", splitOf(col("bucket"))))

  /** Leakage-safe split: hash the near-dup CLUSTER id, not the doc id,
    * so every member of a near-dup cluster lands in the same split — a
    * doc-keyed split leaks eval answers into training through
    * near-duplicates, which is exactly what dedup clustering detects.
    * Same engine-portable multiplicative hash as splitAssign; cluster
    * ids come from graft.dedup.Clusters (Jaccard >= 0.8 components,
    * singletons = their own cluster) — via the publish/consume contract,
    * so a deployment that has materialized the cluster table pays a
    * parquet read here instead of recomputing the whole near-dup
    * pipeline (inline fallback when no artifacts root is configured
    * keeps the query self-contained for the correctness gate).
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Clusters
      .publishedClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("bucket", Num.hashBucket(col("cluster_id"), SplitSalt, 100L))
      .withColumn("split", splitOf(col("bucket")))
      .orderBy("doc_id")

  /** Source-balanced mixture sampling: downsample every `source` to
    * (approximately) the SMALLEST source's row count — the data-mixing
    * move that stops one over-crawled source from dominating a training
    * corpus. Unlike stratifiedSample's fixed rates, the per-source keep
    * rate is DERIVED from the corpus (floor(min_n·1000/n_s) per-mille,
    * integer arithmetic so both engines agree exactly, clamped to a
    * floor of 1‰ so no source is ever fully eliminated — a source
    * 10000× the smallest still contributes a trace, it is downweighted,
    * not silently dropped). Shape: tiny per-source counts → scalar min
    * via the 1-row keyless-aggregate join → rates broadcast back to the
    * scan; the corpus pays one read + codegen'd filter.
    */
  def sourceMix(spark: SparkSession, dir: String): DataFrame =
    sourceMixOf(Tables.documents(spark, dir).select(col("doc_id"), col("source")))

  /** Frame-level sourceMix: any (doc_id, source) frame. */
  def sourceMixOf(docs: DataFrame): DataFrame = {
    // Staged: the crossJoin against its own min would otherwise plan
    // the per-source count subtree TWICE — two corpus scans for one
    // tiny aggregate (the frame itself is source-cardinality rows).
    val counts = graft.Staging.staged(
      docs.groupBy("source").agg(count(lit(1)).as("n_s")), "mix_counts")
    val rates = counts
      .crossJoin(counts.agg(min(col("n_s")).as("min_n")))
      .withColumn("rate_pm", greatest(expr("min_n * 1000 div n_s"), lit(1L)))
      .select("source", "rate_pm")
    docs
      .join(broadcast(rates), "source")
      // Distinct additive salt (vs splitAssign's SplitSalt): the samplers
      // and the splitter must decorrelate — with a shared hash, a doc
      // kept at rate r also satisfies bucket%100 < r, so thinned
      // sources would land exclusively in the train split.
      .withColumn("bucket", Num.hashBucket(col("doc_id"), MixSalt, 1000L))
      .filter(col("bucket") < col("rate_pm"))
      .select("doc_id", "source", "bucket")
      .orderBy("doc_id")
  }

  /** Temperature-flattened source mixing (α = 1/2): keep rate
    * (min_n/n_s)^α per source — the multilingual-training sampler
    * (XLM-R-style p^(1/T)) sitting between `sourceMix`'s hard flatten
    * (α = 1: every source cut to the smallest) and no mixing (α = 0).
    * Over-represented sources are damped by the square root of their
    * excess: a source 100× the smallest keeps 10% instead of 1%.
    *
    * α is REALIZED AS sqrt, not pow: IEEE-754 sqrt is correctly rounded
    * in both engines, so floor(sqrt(exact integer)) is bit-deterministic
    * cross-engine and the rate is oracle-exact — a libm pow(x, 0.5)
    * carries no such guarantee and would make the oracle flaky at rate
    * boundaries. rate_pm = max(1, floor(sqrt(min_n·10⁶ div n_s))): the
    * div keeps the radicand an exact integer (< 2⁵³, exact as double),
    * the per-mille floor of 1 keeps every source represented. Same
    * shape as sourceMix: tiny per-source counts → scalar min via the
    * 1-row keyless-aggregate join → rates broadcast to the scan; and a
    * THIRD independent salt so the sampler stays decorrelated from both
    * the splitter and the mix sampler.
    */
  def sourceTemperature(spark: SparkSession, dir: String): DataFrame =
    sourceTemperatureOf(Tables.documents(spark, dir).select(col("doc_id"), col("source")))

  /** Frame-level sourceTemperature: any (doc_id, source) frame. */
  def sourceTemperatureOf(docs: DataFrame): DataFrame = {
    // Staged for the same reason as sourceMixOf: one corpus scan for
    // the counts, not one per subtree of the rate derivation.
    val counts = graft.Staging.staged(
      docs.groupBy("source").agg(count(lit(1)).as("n_s")), "temp_counts")
    val rates = counts
      .crossJoin(counts.agg(min(col("n_s")).as("min_n")))
      .withColumn("rate_pm",
        greatest(floor(sqrt(expr("min_n * 1000000 div n_s").cast("double"))).cast("long"), lit(1L)))
      .select("source", "rate_pm")
    docs
      .join(broadcast(rates), "source")
      .withColumn("bucket", Num.hashBucket(col("doc_id"), TemperatureSalt, 1000L))
      .filter(col("bucket") < col("rate_pm"))
      .select("doc_id", "source", "bucket")
      .orderBy("doc_id")
  }

  /** Epoch cap for upsampling: repeating a small source more than this
    * many times degrades models faster than the extra share helps
    * (the standard multi-epoch repetition bound).
    */
  val UpsampleMaxEpochs = 4L

  /** Epoch UPsampling — the other half of temperature mixing: where
    * `sourceTemperature` thins over-represented sources,
    * `sourceUpsample` REPEATS under-represented ones toward the same
    * √-damped share, materializing copy rows (doc_id, copy_id) a
    * packing/export stage consumes — "epochs per source" made explicit,
    * the way multilingual and code corpora are actually balanced.
    * Epochs per source = min(cap, sqrt(max_n/n_s)) as a per-mille rate:
    * every doc gets the integer part; the fractional part selects docs
    * by the engine-portable hash (its own salt, decorrelated from the
    * splitter and both samplers). The largest source keeps exactly one
    * copy; no source exceeds `UpsampleMaxEpochs` copies.
    *
    * Oracle-exact by the floor-sqrt trick (see sourceTemperature) and
    * pure integer copy logic; scale shape identical to the samplers:
    * source-cardinality counts, 1-row max via keyless aggregate,
    * broadcast rates, scan-local explode of at most cap copies.
    */
  def sourceUpsample(spark: SparkSession, dir: String): DataFrame =
    sourceUpsampleOf(Tables.documents(spark, dir).select(col("doc_id"), col("source")))

  /** Frame-level sourceUpsample: any (doc_id, source) frame. */
  def sourceUpsampleOf(docs: DataFrame): DataFrame = {
    val counts = graft.Staging.staged(
      docs.groupBy("source").agg(count(lit(1)).as("n_s")), "upsample_counts")
    val rates = counts
      .crossJoin(counts.agg(max(col("n_s")).as("max_n")))
      .withColumn("epochs_pm",
        least(
          floor(sqrt(expr("max_n * 1000000 div n_s").cast("double"))).cast("long"),
          lit(UpsampleMaxEpochs * 1000L)))
      .select("source", "epochs_pm")
    docs
      .join(broadcast(rates), "source")
      .withColumn("frac_bucket", Num.hashBucket(col("doc_id"), UpsampleSalt, 1000L))
      .withColumn("n_copies",
        expr("epochs_pm div 1000") +
          when(col("frac_bucket") < col("epochs_pm") % 1000L, 1L).otherwise(0L))
      .select(
        col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1L)).as("copy_id"))
      .orderBy("doc_id", "copy_id")
  }

  /** Deterministic stratified downsampling: keep a per-stratum rate of
    * rows, selected by the same engine-portable multiplicative hash —
    * same row kept on every run, no RNG state, joinable against any
    * other derivation of the same table. The curation move behind
    * "downweight the over-represented class": here the busiest event
    * types keep 20%, the rest 80%. Pure scan + filter — the predicate
    * is codegen'd and the only full-table cost is the read.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    // The selective filter preserves per-partition order, so the
    // range-sort-first branch keeps the global event_id order.
    graft.Staging.sorted(
      Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("event_type")),
      "stratified_sample_out", "event_id")(
      _.withColumn("bucket", Num.hashBucket(col("event_id"), SplitSalt, 100L))
        .withColumn("rate", when(col("event_type").isin("view", "click"), 20L).otherwise(80L))
        .filter(col("bucket") < col("rate"))
        .select("event_id", "user_id", "event_type", "bucket"))

  /** Salt for the token-budget sampler's within-source selection order —
    * a `SeqPack.shuffleKey` multiplier salt (squared multiplicative
    * hash), structurally independent of the additive salts the other
    * samplers use.
    */
  val TokenBudgetSalt = 40692L

  /** Token-budget mixture sampling (the unit that actually matters):
    * every sampler above balances sources by DOCUMENT counts, but a
    * training run buys compute in TOKENS — a source of long documents
    * is over-represented at equal doc counts. Here each source gets a
    * sqrt-damped TOKEN budget (same α=1/2 derivation as
    * `sourceTemperature`, applied to per-source token totals:
    * budget_s = T_s·rate_pm/1000 ≈ √(T_min·T_s)) and keeps documents in
    * its deterministic shuffle order until the budget is exhausted —
    * keep ⇔ the tokens strictly BEFORE the doc fit the budget, so the
    * straddling doc is kept (budgets are targets, not hard ceilings;
    * the min-1 floor keeps every source's first doc).
    *
    * Scale shape: per-source token totals are a source-cardinality
    * aggregate; rates broadcast back; the within-source cumulative sum
    * NEVER runs a corpus-scale window — the shuffle-key range splits
    * into `SeqPack.ShuffleBuckets` slices (bucket monotone in key),
    * per-(source, bucket) running sums cover bounded partitions, and
    * the only cross-bucket window runs on the sources×1024 bucket-total
    * frame (seqPack's two-level prefix sum, keyed by source).
    */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetMixOf(
      Tables.documents(spark, dir).select(
        col("doc_id"), col("source"),
        // Single-space split, NOT \s+: the DuckDB oracle tokenizes with
        // string_split(text, ' ') and both engines must share one
        // convention (consecutive/leading whitespace must count the
        // same number of tokens on both sides).
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** Frame-level tokenBudgetMix: any (doc_id, source, n_tokens) frame. */
  def tokenBudgetMixOf(docs: DataFrame): DataFrame = {
    import graft.operators.SeqPack.{shuffleBlk, shuffleKey}
    val blocked = graft.Staging.staged(
      docs
        .withColumn("k", shuffleKey(col("doc_id"), TokenBudgetSalt))
        .withColumn("blk", shuffleBlk(col("k"))),
      "token_budget_blocks")
    val totals = graft.Staging.staged(
      blocked.groupBy("source").agg(sum("n_tokens").as("t_s")), "token_budget_totals")
    val budgets = totals
      .crossJoin(totals.agg(min(col("t_s")).as("min_t")))
      .withColumn("rate_pm",
        greatest(floor(sqrt(expr("min_t * 1000000 div t_s").cast("double"))).cast("long"), lit(1L)))
      .withColumn("budget", greatest(expr("t_s * rate_pm div 1000"), lit(1L)))
      .select("source", "budget")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "blk").orderBy("k", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = blocked.withColumn("local_cum", coalesce(sum("n_tokens").over(wIn), lit(0L)))
    val wBlk = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("blk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val blkOff = blocked
      .groupBy("source", "blk")
      .agg(sum("n_tokens").as("blk_total"))
      .withColumn("blk_off", coalesce(sum("blk_total").over(wBlk), lit(0L)))
      .select("source", "blk", "blk_off")
    local
      .join(blkOff, Seq("source", "blk"))
      .withColumn("cum_before", col("blk_off") + col("local_cum"))
      .join(broadcast(budgets), "source")
      .filter(col("cum_before") < col("budget"))
      .select("doc_id", "source", "n_tokens", "cum_before")
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_split_assign", splitAssign _,
      s"""SELECT doc_id,
        |  ${Num.hashBucketSql("doc_id", SplitSalt, 100)} AS bucket,
        |  CASE WHEN ${Num.hashBucketSql("doc_id", SplitSalt, 100)} < 80 THEN 'train'
        |       WHEN ${Num.hashBucketSql("doc_id", SplitSalt, 100)} < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Same closure, split assigned by hashing the CLUSTER id so near-dup
    // members can never straddle train/test.
    Query("q_split_leakage_safe", leakageSafeSplit _,
      s"""WITH RECURSIVE ${graft.dedup.Clusters.ClusterWalkCtes}, cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
        |)
        |SELECT doc_id, cluster_id,
        |  CAST(${Num.hashBucketSql("cluster_id", SplitSalt, 100)} AS BIGINT) AS bucket,
        |  CASE WHEN ${Num.hashBucketSql("cluster_id", SplitSalt, 100)} < 80 THEN 'train'
        |       WHEN ${Num.hashBucketSql("cluster_id", SplitSalt, 100)} < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin),
    Query("q_source_mix", sourceMix _,
      s"""WITH c AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_s) AS min_n FROM c
        |), r AS (
        |  SELECT source, greatest((min_n * 1000) // n_s, 1) AS rate_pm FROM c, m
        |)
        |SELECT d.doc_id, d.source,
        |  CAST(${Num.hashBucketSql("d.doc_id", MixSalt, 1000)} AS BIGINT) AS bucket
        |FROM documents d JOIN r USING (source)
        |WHERE ${Num.hashBucketSql("d.doc_id", MixSalt, 1000)} < r.rate_pm
        |ORDER BY d.doc_id""".stripMargin),
    // Temperature (α = 1/2) mixing: floor(sqrt(exact integer)) is
    // cross-engine deterministic because IEEE sqrt is correctly rounded
    // (a fractional pow would not be).
    Query("q_source_temperature", sourceTemperature _,
      s"""WITH c AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_s) AS min_n FROM c
        |), r AS (
        |  SELECT source,
        |    greatest(CAST(floor(sqrt(CAST((min_n * 1000000) // n_s AS DOUBLE))) AS BIGINT), 1) AS rate_pm
        |  FROM c, m
        |)
        |SELECT d.doc_id, d.source,
        |  CAST(${Num.hashBucketSql("d.doc_id", TemperatureSalt, 1000)} AS BIGINT) AS bucket
        |FROM documents d JOIN r USING (source)
        |WHERE ${Num.hashBucketSql("d.doc_id", TemperatureSalt, 1000)} < r.rate_pm
        |ORDER BY d.doc_id""".stripMargin),
    // upsampling mirrors temperature's floor-sqrt rate as EPOCHS: the
    // integer part repeats every doc, the fractional per-mille selects
    // docs by hash, the cap bounds the explode — all exact integers
    Query("q_source_upsample", sourceUpsample _,
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
         |), m AS (
         |  SELECT max(n_s) AS max_n FROM c
         |), r AS (
         |  SELECT source,
         |    least(CAST(floor(sqrt(CAST((max_n * 1000000) // n_s AS DOUBLE))) AS BIGINT), ${UpsampleMaxEpochs * 1000}) AS epochs_pm
         |  FROM c, m
         |), e AS (
         |  SELECT d.doc_id, d.source,
         |    epochs_pm // 1000 +
         |      CASE WHEN ${Num.hashBucketSql("d.doc_id", UpsampleSalt, 1000)} < epochs_pm % 1000
         |           THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN r USING (source)
         |)
         |SELECT doc_id, source, CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id
         |FROM e ORDER BY doc_id, copy_id""".stripMargin),
    Query("q_stratified_sample", stratifiedSample _,
      s"""SELECT event_id, user_id, event_type,
        |  ${Num.hashBucketSql("event_id", SplitSalt, 100)} AS bucket
        |FROM events
        |WHERE ${Num.hashBucketSql("event_id", SplitSalt, 100)}
        |      < (CASE WHEN event_type IN ('view', 'click') THEN 20 ELSE 80 END)
        |ORDER BY event_id""".stripMargin),
    // token-budget mixing: sqrt-damped budgets over per-source TOKEN
    // totals (floor-sqrt exactness trick), keep ⇔ strictly-before
    // cumulative tokens fit the budget, within-source order = the
    // squared-multiplier shuffle key (its own salt)
    Query("q_token_budget_mix", tokenBudgetMix _,
      s"""WITH d AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         |    ((doc_id % 1000003) * ${(1315423911L + 2 * TokenBudgetSalt) % 1000000007L}) % 1000000007 AS k1
         |  FROM documents
         |), dk AS (
         |  SELECT doc_id, source, n_tokens, (k1 * k1) % 1000000007 AS k FROM d
         |), t AS (
         |  SELECT source, sum(n_tokens) AS t_s FROM dk GROUP BY source
         |), m AS (
         |  SELECT min(t_s) AS min_t FROM t
         |), b AS (
         |  SELECT source,
         |    greatest(t_s * greatest(CAST(floor(sqrt(CAST((min_t * 1000000) // t_s AS DOUBLE))) AS BIGINT), 1) // 1000, 1) AS budget
         |  FROM t, m
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM dk
         |)
         |SELECT c.doc_id, c.source, CAST(c.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(c.cum_before AS BIGINT) AS cum_before
         |FROM c JOIN b USING (source)
         |WHERE c.cum_before < b.budget
         |ORDER BY c.doc_id""".stripMargin)
  )
}
