package graft.operators

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sequence packing layout: assign every document its (pack, offset)
  * position in the concatenated token stream chunked at `PackBudget`
  * tokens — the concat-and-chunk layout pre-training dataloaders
  * consume (docs may straddle pack boundaries, exactly like the
  * tokenized stream they feed).
  *
  * The interesting part at 100 TB is the GLOBAL exclusive prefix sum of
  * token counts in doc_id order: a single `Window.orderBy` with no
  * partition key would pull the whole corpus through one task. This is
  * the classic two-level distributed prefix sum instead:
  *   1. order-preserving blocks (doc_id / BlockSize) — each block's
  *      internal running sum is a window partitioned by block id, a
  *      high-cardinality key with bounded (~BlockSize-row) partitions;
  *   2. block TOTALS form a metadata-scale frame (n / BlockSize rows);
  *      the running sum over that tiny frame is the only global window
  *      and never touches corpus-scale data (recurse the same trick if
  *      even that frame grows too large);
  *   3. a keyed join adds each block's prefix back to its rows —
  *      AQE broadcasts the block-prefix side.
  */
object SeqPack {

  /** Tokens per pack (a typical pre-training context length). */
  val PackBudget = 2048L

  /** Docs per prefix block: bounds the per-partition window at step 1
    * and shrinks the global frame at step 2 by this factor.
    */
  val BlockSize = 256L

  /** Per-group packing: the same two-level prefix sum, computed
    * independently WITHIN each value of `groupCol` (offsets and pack
    * ids restart per group). This is what a split-partitioned training
    * export needs — packing the whole corpus and then partitioning by
    * split would tear packs across split directories. The group key
    * joins every window/aggregate key, so the global-window stage stays
    * metadata-scale per group.
    *
    * `orderCols`/`blkOf` generalize the PACK ORDER: by default docs
    * concatenate in doc_id order with doc_id-range blocks; the shard
    * export passes hash-shuffle order (see `docShuffle`) with key-range
    * blocks instead, so context windows hold decorrelated neighbors.
    * The only requirement is that `blkOf` is monotone in `orderCols`
    * order (block-major order == total order) with bounded-fan blocks.
    */
  def seqPackWithin(
      docs: DataFrame,
      groupCol: String,
      orderCols: Seq[String] = Seq("doc_id"),
      blkOf: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val blocked = docs.withColumn(
      "blk", blkOf.getOrElse(floor(col("doc_id") / BlockSize).cast("long")))
    val wIn = Window.partitionBy(groupCol, "blk").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = blocked.withColumn("local_off", coalesce(sum("n_tokens").over(wIn), lit(0L)))
    val wBlk = Window.partitionBy(groupCol).orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockPrefix = blocked
      .groupBy(col(groupCol), col("blk"))
      .agg(sum("n_tokens").as("blk_total"))
      .withColumn("blk_off", coalesce(sum("blk_total").over(wBlk), lit(0L)))
      .select(col(groupCol), col("blk"), col("blk_off"))
    // passthrough columns (e.g. the token-id payload a shard export
    // carries) ride along untouched — the packing layout only needs
    // (doc_id, groupCol, n_tokens); auxiliary order keys are layout
    // machinery and are dropped with blk
    val extras = docs.columns
      .filterNot(Set("doc_id", groupCol, "n_tokens") ++ orderCols.filterNot(_ == "doc_id"))
      .map(col)
    local
      .join(blockPrefix, Seq(groupCol, "blk"))
      .withColumn("start_offset", col("blk_off") + col("local_off"))
      .select(
        Seq(
          col("doc_id"),
          col(groupCol),
          col("n_tokens"),
          col("start_offset"),
          floor(col("start_offset") / PackBudget).cast("long").as("pack_id"),
          pmod(col("start_offset"), lit(PackBudget)).cast("long").as("pack_offset")
        ) ++ extras: _*)
  }

  /** Shuffle-key buckets for docShuffle: the hash range [0, 1e9+7)
    * splits into 1024 equal slices, so bucket index is monotone in the
    * key and per-bucket windows stay ~n/1024 rows.
    */
  val ShuffleBuckets = 1024L
  private val ShuffleBucketWidth = 1000000007L / ShuffleBuckets + 1

  /** The declared query's epoch salt; an epoch reshuffle passes a
    * different salt to `docShuffle`/`packedWithSplits`.
    */
  val ShuffleSalt = 69069L

  /** The engine-portable shuffle hash: deterministic, joinable, and a
    * GENUINELY different permutation per `salt`. The salt must perturb
    * the MULTIPLIER, not add a constant: any affine salt (…*A + salt)
    * only rotates the order mod p — two "epochs" would rank-correlate
    * at ~1.0 and feed the model the same context neighborhoods again
    * (the salt-decorrelation spec pins this). Distinct salts give
    * distinct multipliers mod the prime, i.e. independent multiplicative
    * hashes; 2*salt keeps the multiplier odd.
    */
  def shuffleKey(docId: org.apache.spark.sql.Column, salt: Long): org.apache.spark.sql.Column = {
    // One multiply is NOT enough for small doc_ids: keys under two
    // salts differ by doc_id*(2Δsalt) mod p, which stays sub-p over a
    // small id range — partially preserving order (measured rho 0.45).
    // Squaring mod p adds the cross-term 2·k·Δ·doc_id, which wraps
    // pseudo-randomly — the salt-decorrelation spec pins rho < 0.1.
    // Squares can collide (±k share one); (key, doc_id) ordering keeps
    // every consumer deterministic. All intermediates < 2^60.
    val k = ((docId % 1000003L) * ((1315423911L + 2L * salt) % 1000000007L)) % 1000000007L
    (k * k) % 1000000007L
  }

  /** Key-range bucket of a shuffle key: monotone in the key, ≤
    * `ShuffleBuckets` values — the block column for packing or ranking
    * in shuffle order. floor of the double division is exact here:
    * keys < 2^30 divide with a fractional part either 0 or ≥ ~1e-6,
    * both far outside double rounding error.
    */
  def shuffleBlk(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(key / lit(ShuffleBucketWidth)).cast("long")

  /** Deterministic global SHUFFLE order: each doc's position in a
    * hash-shuffled total order — the "shuffle before packing" step a
    * training pipeline runs between curation and `seqPack`. Packing in
    * doc_id order puts correlated neighbors (crawl order, near-dup
    * clusters, same-source runs) into the same context windows;
    * training wants a decorrelated order that is still reproducible
    * run-to-run and joinable (same engine-portable multiplicative hash
    * as the splitters, its own salt). An epoch reshuffle is the same
    * query with a different salt.
    *
    * Scale shape: position = rank in (shuffle_key, doc_id) order,
    * computed WITHOUT a corpus-scale global window — the key range
    * splits into `ShuffleBuckets` equal slices (bucket index monotone
    * in key, so bucket-major order IS key order), per-bucket
    * row_numbers run over bounded partitions, and the only global
    * window is the cum-sum over the ≤1024-row bucket-count frame —
    * seqPack's two-level prefix-sum trick applied to ranking.
    */
  def docShuffle(spark: SparkSession, dir: String, salt: Long = ShuffleSalt): DataFrame = {
    val blocked = Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("shuffle_key", shuffleKey(col("doc_id"), salt))
      .withColumn("blk", shuffleBlk(col("shuffle_key")))
    val wIn = Window.partitionBy("blk").orderBy("shuffle_key", "doc_id")
    val local = blocked.withColumn("rn", row_number().over(wIn).cast("long"))
    val wBlk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val blkOff = blocked
      .groupBy("blk")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(wBlk), lit(0L)))
      .select("blk", "off")
    local
      .join(blkOff, "blk")
      .select(col("doc_id"), col("shuffle_key"), (col("off") + col("rn") - 1L).as("pos"))
      .orderBy("doc_id")
  }

  /** Per-pack document boundaries: for each pack, the offset-sorted
    * lists of where documents BEGIN and which doc begins there — the
    * attention-reset metadata a dataloader needs to mask cross-document
    * attention inside a packed context window (packing concatenates
    * unrelated docs; boundary-aware training resets attention at every
    * document start). A doc that straddles packs begins in exactly one
    * pack — the loader carries its continuation into the next pack,
    * which is why start boundaries are the complete signal. One
    * pack_id-keyed aggregate over the seqPack layout; output is
    * pack-cardinality (corpus_tokens / 2048), the aligned offset/doc
    * lists serialized to space-joined strings — the driver's compare
    * cannot sort rows holding nested cells, so oracle-backed outputs
    * stay on primitive columns.
    */
  def packBoundaries(spark: SparkSession, dir: String): DataFrame =
    seqPack(spark, dir)
      .groupBy("pack_id")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sort_array(collect_list(struct(col("pack_offset"), col("doc_id")))).as("bounds"))
      .select(
        col("pack_id"),
        col("n_docs"),
        array_join(expr("transform(bounds, b -> b.pack_offset)"), " ").as("boundary_offsets"),
        array_join(expr("transform(bounds, b -> b.doc_id)"), " ").as("boundary_docs"))
      .orderBy("pack_id")

  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    // Staged: the per-block running sum and the block-totals aggregate
    // both consume this frame — unstaged, each replays the corpus scan
    // and tokenize-count (the r8 scan audit flagged the double read).
    val blocked = graft.Staging.staged(
      docs.withColumn("blk", floor(col("doc_id") / BlockSize).cast("long")),
      "seqpack_blocks")
    val wIn = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = blocked.withColumn("local_off", coalesce(sum("n_tokens").over(wIn), lit(0L)))
    val wBlk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val blockPrefix = blocked
      .groupBy("blk")
      .agg(sum("n_tokens").as("blk_total"))
      .withColumn("blk_off", coalesce(sum("blk_total").over(wBlk), lit(0L)))
      .select("blk", "blk_off")
    local
      .join(blockPrefix, "blk")
      .withColumn("start_offset", col("blk_off") + col("local_off"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("start_offset"),
        floor(col("start_offset") / PackBudget).cast("long").as("pack_id"),
        pmod(col("start_offset"), lit(PackBudget)).cast("long").as("pack_offset"))
      .orderBy("doc_id")
  }

  /** #48d per-split packing efficiency report: the numbers a training
    * run reads before launching — how many context windows each split
    * yields, how densely documents pack into them, and how often a
    * context window's attention mask will carry a document across its
    * boundary. Concat-and-chunk packing wastes no tokens to padding
    * (every pack but the tail is exactly full), so the interesting
    * rates are document grain: docs per pack, the straddler share
    * (docs that extend past the pack they start in — each one is a
    * split-attention context the loader must mask or truncate), and
    * the tail pack's fill (the only partial pack).
    *
    * Scale shape: rides `seqPackWithin` (two-level prefix sum, bounded
    * window partitions) and aggregates to split grain — a 3-row
    * result; one corpus scan, one split-keyed aggregate. Rates are
    * int64-exact ratios round4'd identically in both engines.
    */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("bucket", Num.hashBucket(col("doc_id"), Splits.SplitSalt, 100L))
      .withColumn("split", Splits.splitOf(col("bucket")))
      .drop("bucket")
    seqPackWithin(docs, "split")
      .groupBy("split")
      .agg(
        max("pack_id").as("max_start_pack"),
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("pack_offset") + col("n_tokens") > PackBudget, 1L).otherwise(0L))
          .as("n_straddlers"))
      // n_packs counts the TRUE context-window count: max(start pack)+1
      // undercounts whenever the last doc straddles past the pack it
      // starts in (one 5000-token doc is 3 chunks, not 1), which would
      // leave docs_per_pack inconsistent with tail_fill (derived from
      // the true final chunk). ceil(total/budget) is the chunk count of
      // concat-and-chunk; greatest() keeps the start-pack bound as a
      // floor for robustness.
      .withColumn("n_packs",
        greatest(
          col("max_start_pack") + 1L,
          expr(s"(total_tokens + ${PackBudget - 1}) div $PackBudget")))
      .select(
        col("split"),
        col("n_packs"),
        col("n_docs"),
        col("total_tokens"),
        graft.Num.round4(col("n_docs").cast("double") / col("n_packs").cast("double"))
          .as("docs_per_pack"),
        col("n_straddlers"),
        graft.Num.round4(col("n_straddlers").cast("double") / col("n_docs").cast("double"))
          .as("straddle_rate"),
        graft.Num.round4(
          pmod(col("total_tokens"), lit(PackBudget)).cast("double") / lit(PackBudget.toDouble))
          .as("tail_fill"))
      .orderBy("split")
  }

  private lazy val SeqPackSql =
    raw"""WITH t AS (
         |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(off AS BIGINT) AS start_offset,
         |  CAST(off // 2048 AS BIGINT) AS pack_id,
         |  CAST(off % 2048 AS BIGINT) AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin

  val queries: Seq[Query] = Seq(
    // salt enters via the MULTIPLIER (1315423911 + 2*69069) and the
    // product is SQUARED mod p: an additive salt would only rotate the
    // order, and one multiply under-mixes small doc_id ranges (epochs
    // would rank-correlate)
    Query("q_doc_shuffle", (s, d) => docShuffle(s, d),
      """WITH h0 AS (
        |  SELECT doc_id, ((doc_id % 1000003) * 1315562049) % 1000000007 AS k1
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, (k1 * k1) % 1000000007 AS shuffle_key FROM h0
        |)
        |SELECT doc_id, shuffle_key,
        |  ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos
        |FROM h ORDER BY doc_id""".stripMargin),
    // boundaries ride the same layout: embed the seq-pack derivation as
    // a subquery and aggregate per pack (aligned primitive lists, both
    // engines ordering by (pack_offset, doc_id)).
    Query("q_pack_boundaries", packBoundaries _,
      s"""WITH sp AS ($SeqPackSql)
         |SELECT pack_id, count(*) AS n_docs,
         |  coalesce(array_to_string(list(pack_offset ORDER BY pack_offset, doc_id), ' '), '') AS boundary_offsets,
         |  coalesce(array_to_string(list(doc_id ORDER BY pack_offset, doc_id), ' '), '') AS boundary_docs
         |FROM sp GROUP BY pack_id ORDER BY pack_id""".stripMargin),
    Query("q_seq_pack", seqPack _, SeqPackSql),
    // per-split packing efficiency: the same concat-and-chunk layout
    // computed per split (offsets restart), aggregated to split grain;
    // ratios are int64-exact divisions round4'd identically both sides
    Query("q_pack_efficiency", packEfficiency _,
      raw"""WITH t AS (
           |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens,
           |    ${Num.hashBucketSql("doc_id", Splits.SplitSalt, 100)} AS bucket
           |  FROM documents
           |), s AS (
           |  SELECT doc_id, n_tokens,
           |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM t
           |), c AS (
           |  SELECT split, n_tokens,
           |    coalesce(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM s
           |), a AS (
           |  SELECT split,
           |    greatest(max(off // 2048) + 1, (sum(n_tokens) + 2047) // 2048) AS n_packs,
           |    count(*) AS n_docs,
           |    sum(n_tokens) AS total_tokens,
           |    sum(CASE WHEN off % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END) AS n_straddlers
           |  FROM c GROUP BY split
           |)
           |SELECT split,
           |  CAST(n_packs AS BIGINT) AS n_packs,
           |  CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(total_tokens AS BIGINT) AS total_tokens,
           |  floor((CAST(n_docs AS DOUBLE) / CAST(n_packs AS DOUBLE)) * 10000 + 0.5) / 10000 AS docs_per_pack,
           |  CAST(n_straddlers AS BIGINT) AS n_straddlers,
           |  floor((CAST(n_straddlers AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 10000 + 0.5) / 10000 AS straddle_rate,
           |  floor((CAST(total_tokens % 2048 AS DOUBLE) / 2048.0) * 10000 + 0.5) / 10000 AS tail_fill
           |FROM a ORDER BY split""".stripMargin)
  )
}
