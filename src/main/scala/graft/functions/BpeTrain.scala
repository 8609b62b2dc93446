package graft.functions

import graft.Query
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge-table training (Sennrich et al. 2016): the PRODUCER of the
  * frozen table `Bpe` applies — closing the tokenizer loop (train here,
  * publish, apply everywhere via `graft_bpe`).
  *
  * Scale shape — the part that matters at 100 TB: the corpus-touching
  * half is ONE distributed aggregation producing the weighted pre-token
  * lexicon, whose size is VOCABULARY-scale (Zipf-bounded), not
  * corpus-scale, and is capped to the top `maxLexicon` heavy hitters
  * (count desc, pre-token asc — deterministic under ties). The
  * iterative merge loop then runs driver-side over that bounded
  * lexicon: corpus-size-independent, exactly how production tokenizer
  * trainers operate (they train on an aggregated/sampled word
  * distribution, never streaming the raw corpus once per merge —
  * a distributed per-merge pass would cost numMerges corpus scans).
  * The tail mass dropped by the cap only perturbs pair counts already
  * dominated by the head; the cap is the same bounded-driver-fetch
  * contract as IvfAnn's training sample.
  */
object BpeTrain {

  /** Default heavy-hitter cap: bounds the driver collect by
    * construction (~a few MB of strings), far above the distinct
    * pre-token count of any natural-language vocabulary head.
    */
  val DefaultMaxLexicon: Int = 1 << 17

  /** Distributed half: (pre, cnt) weighted lexicon over the same
    * pre-tokenization `Bpe.encode` applies — split on single spaces,
    * leading space attached to every non-initial word (pos 0 is the
    * document head).
    */
  def lexicon(docs: DataFrame, maxLexicon: Int = DefaultMaxLexicon): DataFrame =
    docs
      .select(posexplode(split(col("text"), " ", -1)).as(Seq("pos", "w")))
      .select(when(col("pos") === 0, col("w")).otherwise(concat(lit(" "), col("w"))).as("pre"))
      .groupBy("pre")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pre").asc)
      .limit(maxLexicon)

  /** Driver half: classic weighted-lexicon BPE. Deterministic by the
    * published rule `Bpe` documents: most frequent adjacent pair first,
    * ties to the lexicographically smallest (left, then right).
    */
  def trainFromLexicon(lex: Seq[(String, Long)], numMerges: Int): Vector[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      lex.map { case (p, c) => (Bpe.toSymbols(p), c) }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.keysIterator.reduce { (x, y) =>
          val cx = counts(x); val cy = counts(y)
          if (cx > cy) x
          else if (cy > cx) y
          else if (Ordering[(String, String)].lt(x, y)) x
          else y
        }
        merges += best
        val (l, r) = best
        words = words.map { case (syms, c) => (Bpe.mergePair(syms, l, r), c) }
        m += 1
      }
    }
    merges.result()
  }

  /** End-to-end: one corpus aggregation, then the bounded driver loop. */
  def train(docs: DataFrame, numMerges: Int, maxLexicon: Int = DefaultMaxLexicon): Vector[(String, String)] =
    trainFromLexicon(
      lexicon(docs, maxLexicon).collect().toSeq.map(r => (r.getString(0), r.getLong(1))),
      numMerges)

  /** Declared query: the trained merge table as rows, ready to publish
    * (the `Bpe.Merges` provenance spec pins that this EXACT computation
    * produced the frozen table the `graft_bpe` Expression applies).
    * Rows-only at the driver gate — iterative global-argmax training is
    * not expressible as a DuckDB query; BpeSpec carries the weight.
    */
  def trainTable(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    train(graft.Tables.documents(spark, dir), Bpe.Merges.length)
      .zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left_sym", "right_sym")
  }

  val queries: Seq[Query] = Seq(
    // r15: the training LOOP graduates from rows-only — the lexicon is
    // bounded by contract, so the whole merge iteration replays as one
    // recursive CTE carrying the lexicon as a single state row (exact
    // argmax + tie-break + greedy merge semantics; see BpeTrainOracle).
    Query("q_bpe_train", (s, d) => trainTable(s, d), BpeTrainOracle.oracleSql)
  )
}
