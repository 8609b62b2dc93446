package graft.functions

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table — pure column
  * expressions end to end (zero UDFs: everything stays inside
  * whole-stage codegen), matching the shapes an LLM-corpus pipeline
  * runs at ingest: token counting, quality scoring, language ID,
  * content fingerprinting.
  */
object TextFunctions {

  /** Whitespace tokenization; regex split so runs of whitespace count
    * as one separator (BPE-style pre-tokenizers split the same way).
    */
  private def toks(c: Column): Column = split(c, "\\s+")

  /** #29 token count. Reference analog: champion/lane list flattening
    * counts (utils.py:990 get_stats_availability counts predicates).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "token_count_out", "doc_id")(
      _.select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens")))

  /** BPE-style pre-tokenizer pattern (GPT-2-family shape, simplified to
    * constructs Java regex and RE2 treat identically — disjoint
    * first-char alternatives, no lookarounds): letter runs, digit runs,
    * and punctuation runs, each absorbing one leading space. Token
    * COUNTS under this pre-tokenizer are the standard corpus budget
    * estimate before an actual BPE merge table is applied.
    */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** #29b BPE-ish token count (pre-tokenizer granularity) alongside the
    * whitespace count — both pure codegen'd expressions.
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "token_count_bpe_out", "doc_id")(
      _.select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens_ws"),
        size(expr(s"regexp_extract_all(text, '$BpePattern', 0)")).cast("long").as("n_tokens_bpe")))

  /** #30b intra-document repetition score: total vs distinct 3-gram
    * counts and their duplicate ratio — the Gopher/MassiveText-family
    * quality filter (Rae et al. 2021 §A1.1 flag docs whose duplicate
    * n-gram fraction is high; boilerplate and degenerate generations
    * repeat). Pure per-row column expressions (transform over the token
    * array — no explode, no shuffle, whole-stage codegen): the cheapest
    * possible shape at corpus scale. Docs shorter than 3 tokens have no
    * 3-gram and are excluded, like Dedup.shingles.
    */
  def docRepetition(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "doc_repetition_out", "doc_id")(
      docRepetitionOf(_, n))

  private[graft] def docRepetitionOf(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .withColumn(
        "grams",
        expr(s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))"))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("dup_ratio", Num.round4(lit(1.0) - col("n_distinct").cast("double") / col("n_grams")))

  /** #32e TF-IDF keyword retrieval (sparse search over the corpus):
    * score(doc) = Σ_q tf(doc,q) · idf(q) for the query tokens, top-k
    * docs. The inverted-index shape — tf/df as partial-aggregated
    * groupBys, the query side broadcast — is the same shuffle-hygiene
    * family as the dedup operators and runs at corpus scale.
    *
    * idf is the BM25-style RATIONAL (N - df + 0.5)/(df + 0.5), not a
    * log: +,-,*,/ are IEEE-exact in every engine while ln differs in
    * the last ulp across libms (an oracle-parity killer). The idf is
    * quantized to a 4-dp integer so each doc score is an exact long
    * sum — stable across engines AND partition orders. The query here
    * is the corpus's 3 most-frequent tokens (deterministic, data-
    * derived); production passes arbitrary token sets the same way.
    */
  def tfidfSearch(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    // Staged once (graft.Staging — persist or scratch parquet): the
    // df/query-selection subtree and the scoring join would otherwise
    // each re-tokenize the corpus (same pattern as the dedup shingle
    // index).
    val tf = graft.Staging.staged(
      tokens.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")), "tf")
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val queryToks = dfreq.orderBy(col("df").desc, col("tok").asc).limit(3)
    val idf = queryToks
      .join(broadcast(total))
      .withColumn("idf4", Num.idf4(col("n_docs"), col("df")))
      .select("tok", "idf4")
    tf.join(broadcast(idf), "tok")
      .groupBy("doc_id")
      .agg((sum(col("tf") * col("idf4")).cast("double") / lit(10000.0)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** BM25 ranking (#32q): tf-idf's exact-integer machinery upgraded
    * with the BM25 tf-saturation term — the scoring function retrieval
    * stacks actually run (a 10×-repeated term is not 10× as relevant,
    * and long documents stop winning on raw term count). k1 = 1.2,
    * b = 0.75 (the standard constants), idf = the repo's linearized
    * rational (see tfidfSearch — ln differs across libms).
    *
    * Oracle-exact: with k1 = 6/5, b = 3/4 and avgdl = T/N kept as the
    * exact rational, the per-term score reduces to ONE division of two
    * int64 products —
    *   score = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl·N/T))
    *         = idf4 · 22·tf·T / (10·tf·T + 3·T + 9·dl·N) / 10⁴
    * — both operands exact as doubles (< 2^53 through sf0.1; the
    * ×10⁴-integer formulation is the gate-scale oracle form — at true
    * corpus scale scoring is float like every BM25 engine), the IEEE
    * quotient is correctly rounded identically in both engines, and
    * floor(q + 0.5) quantizes each term to a long so per-doc totals are
    * exact integer sums regardless of partition order. Same staged-tf /
    * broadcast shape as tfidfSearch: the corpus pays one tokenize; dl
    * and df both derive from the staged tf frame.
    */
  def bm25Search(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val tf = graft.Staging.staged(
      tokens.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")), "bm25_tf")
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val totals = tf.agg(count_distinct(col("doc_id")).as("n_docs"), sum("tf").as("t_tok"))
    val queryToks = dfreq.orderBy(col("df").desc, col("tok").asc).limit(3)
    val idf = queryToks
      .join(broadcast(totals))
      .withColumn("idf4", Num.idf4(col("n_docs"), col("df")))
      .select("tok", "idf4")
    tf.join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .join(broadcast(totals))
      .withColumn("score4",
        Num.bm25Score4(col("idf4"), col("tf"), col("dl"), col("n_docs"), col("t_tok")))
      .groupBy("doc_id")
      .agg((sum(col("score4")).cast("double") / lit(10000.0)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** #29c real tokenization: apply the published BPE merge table and
    * emit token-ID arrays (graft_bpe, a scan-local codegen Expression)
    * — the computation q_token_count/q_token_count_bpe only estimate.
    * n_tokens here is the REAL sequence length the packing/export
    * operators budget on. The id array is serialized to a space-joined
    * string for the cross-engine gate (nested columns crash the
    * driver's pandas sort); consumers wanting the array apply
    * graft_bpe directly (ShardExport does).
    */
  def tokenizeBpe(spark: SparkSession, dir: String): DataFrame =
    // token_ids is corpus-scale: every token id as text.
    graft.Staging.sorted(Tables.documents(spark, dir), graft.Staging.CorpusScale, "doc_id")(
      _.select(col("doc_id"), expr("graft_bpe(text)").as("ids"))
        .select(
          col("doc_id"),
          array_join(col("ids"), " ").as("token_ids"),
          size(col("ids")).cast("long").as("n_tokens")))

  /** Stopword list for quality/language heuristics. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** #30 quality score: token count, stopword ratio, average token
    * length, folded into a bounded [0,1] score. All arithmetic is the
    * identical IEEE op sequence as the oracle SQL.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "text_quality_out", "doc_id")(
      _.withColumn("tk", toks(col("text")))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("stop_hits", expr(s"size(filter(tk, t -> t IN (${inList(Stopwords)})))"))
      .withColumn("stop_ratio", Num.round4(col("stop_hits") / col("n_tokens")))
      .withColumn("avg_token_chars", Num.round4((length(col("text")) - col("n_tokens") + 1) / col("n_tokens")))
      .withColumn(
        "quality",
        Num.round4(
          lit(0.4) * least(col("n_tokens") / lit(50.0), lit(1.0)) +
            lit(0.4) * (lit(1.0) - col("stop_hits") / col("n_tokens")) +
            lit(0.2) * least((length(col("text")) - col("n_tokens") + 1) / col("n_tokens") / lit(5.0), lit(1.0))
        )
      )
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("stop_hits").cast("long").as("stop_hits"),
        col("stop_ratio"),
        col("avg_token_chars"),
        col("quality")
      ))

  /** Language marker profiles: common function words per language.
    * The classifier is a deterministic marker-hit argmax — exactly the
    * n-gram/stopword-profile heuristic ("marker words") at its simplest,
    * which is what's computable without a model artifact.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3", "you3")
  )

  /** #31 language ID: per-language marker-hit counts → argmax, ties
    * broken by language code ascending (the chained CASE evaluates
    * languages in sorted order with >=).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "lang_id_out", "doc_id") { docs =>
      val base = docs.withColumn("tk", toks(col("text")))
      val withHits = LangMarkers.foldLeft(base) { case (df, (lang, markers)) =>
        df.withColumn(s"h_$lang", expr(s"size(filter(tk, t -> t IN (${inList(markers)})))"))
      }
      val langs = LangMarkers.map(_._1)
      val pred = langs
        .foldLeft(when(lit(false), lit(""))) { (acc, l) =>
          val isMax = langs.filter(_ != l).map(o => col(s"h_$l") >= col(s"h_$o")).reduce(_ && _)
          acc.when(isMax, lit(l))
        }
      withHits
        .withColumn("pred_lang", pred)
        .withColumn("n_hits", greatest(langs.map(l => col(s"h_$l")): _*).cast("long"))
        .select("doc_id", "pred_lang", "n_hits")
    }

  /** #32 document fingerprint via the custom codegen Expression
    * (registered as SQL function graft_fingerprint by GraftSession).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "doc_fingerprint_out", "doc_id")(
      _.select(col("doc_id"), expr("graft_fingerprint(text)").as("fp")))

  /** Chunk geometry: 32-token windows, stride 24 (8-token overlap) —
    * the standard pre-training prep shape.
    */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** Document chunking: explode each doc into overlapping token windows.
    * Pure column expressions (sequence → explode → slice → concat_ws);
    * output scales corpus-linearly and chunk boundaries are a pure
    * function of the token index, so re-chunking is reproducible across
    * runs/engines — required when chunks become training-set rows.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame =
    // chunk_text is ~1.3× the corpus. Sorting by doc_id BEFORE the
    // chunk explode keeps the (doc_id, chunk_idx) output order: explode
    // emits a doc's windows in ascending start order, and per-partition
    // projections/generators preserve row order.
    graft.Staging.sorted(Tables.documents(spark, dir), graft.Staging.CorpusScale, "doc_id")(
      _.withColumn("tk", toks(col("text")))
        .withColumn("start", explode(sequence(lit(0), size(col("tk")) - 1, lit(ChunkStride))))
        .withColumn("chunk_idx", (col("start") / ChunkStride).cast("long"))
        .withColumn("chunk", slice(col("tk"), col("start") + 1, lit(ChunkTokens)))
        .select(
          col("doc_id"),
          col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          concat_ws(" ", col("chunk")).as("chunk_text")))

  /** Corpus vocabulary: global token counts, top 50. Explode + groupBy —
    * map-side partial aggregation absorbs the token-frequency skew before
    * the shuffle, and TakeOrdered handles the limit (no global sort).
    */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  /** CMS error width (relative to total token count) and confidence.
    * width = ceil(2/eps) counters × depth = ceil(ln(1/(1-conf))) rows —
    * 4000×5 ints ≈ 80 KB here. At 100 TB the knob that matters is
    * eps·N vs the count GAP around rank `RescoreDepth` (not around rank
    * k — the rescore absorbs everything above it): a 1e-5 eps sketch is
    * still only ~4 MB, far under the bloom clamp precedent.
    */
  val CmsEps = 5e-4
  val CmsConfidence = 0.99
  val CmsSeed = 42

  /** Candidate universe sample: 1-in-SampleMod docs by hashed doc_id.
    * Any global top-k token appears in a constant FRACTION of documents
    * (top-50 of a corpus vocabulary is stopword-scale), so a fixed-rate
    * doc sample contains it with probability ~1 independent of corpus
    * size.
    */
  val CmsSampleMod = 10

  /** Shortlist depth that pays the exact rescore (the RerankDepth
    * pattern from IVF-PQ: the sketch SELECTS, exact counts RE-ORDER).
    */
  val CmsRescoreDepth = 200

  /** #32t approximate-but-exact heavy hitters: the scale path for
    * vocabulary top-k when the vocabulary itself is too large to
    * shuffle (n-gram vocabularies at 100 TB run to billions of keys —
    * `vocabTopK`'s full groupBy moves all of them; this moves ≤
    * RescoreDepth rows per task).
    *
    * Three bounded passes:
    *   1. ONE count-min sketch over the hashed token stream — a single
    *      partial-aggregated row, no shuffle of token keys at all;
    *   2. candidate universe = distinct tokens of a 1-in-SampleMod doc
    *      sample, point-estimated against the sketch
    *      (`graft_cms_estimate`, deserialized once per task), shortlist
    *      = top RescoreDepth by estimate;
    *   3. exact rescore: corpus re-scan joined (broadcast) to the
    *      shortlist, exact counts for ≤ RescoreDepth keys — map-side
    *      combine shrinks the shuffle to ≤ RescoreDepth rows per task.
    *
    * The output is EXACTLY the true top-k (same oracle as
    * `q_vocab_topk`): CMS never undercounts, so a true heavy hitter
    * can only miss the shortlist if > RescoreDepth−k other tokens
    * overcount past it — absorbed by the 4× depth margin (and pinned
    * by the equality spec). Keys are xxhash64 longs end-to-end with
    * the exemplar string carried on the bounded frames only.
    */
  def vocabTopKCms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def tokens(df: DataFrame): DataFrame =
      df.select(explode(toks(col("text"))).as("token"))
        .select(col("token"), xxhash64(col("token")).as("tokh"))
    val sketch = tokens(docs)
      .agg(call_function("count_min_sketch",
        col("tokh"), lit(CmsEps), lit(CmsConfidence), lit(CmsSeed)).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    val shortlist = tokens(docs.filter(pmod(xxhash64(col("doc_id")), lit(CmsSampleMod)) === 0))
      .distinct()
      .withColumn("est", call_function("graft_cms_estimate", lit(sketch), col("tokh")))
      .orderBy(col("est").desc, col("token").asc)
      .limit(CmsRescoreDepth)
    tokens(docs)
      .drop("token")
      .join(broadcast(shortlist.select("tokh", "token")), "tokh")
      .groupBy("tokh", "token")
      .agg(count(lit(1)).as("n"))
      .select(col("token"), col("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)
  }

  /** Search phrase for `q_substr_search` — 3 tokens, the standing
    * shingle index width, so the published-index probe path applies.
    * Token-boundary-safe in this vocabulary (no vocab word is a prefix
    * or suffix of another across a space), so substring counting and
    * token-trigram counting agree — verified against the oracle at
    * every SF.
    */
  val SearchPhrase = "query filter part"

  /** #32u exact phrase search: which documents contain a given phrase,
    * and how often — contamination forensics, takedown compliance, and
    * eval-overlap spot checks all reduce to this. The naive engine
    * answer is a LIKE scan of every text byte; the lake answer is an
    * INDEX PROBE: the standing shingle index (already published for
    * dedup) maps xxhash64(3-gram) → doc_id, so the phrase hash prunes
    * to candidate docs WITHOUT a corpus scan, and only candidates pay
    * the exact position count (the index stores per-doc distinct
    * shingles — membership, not positions). Without an artifacts root
    * `publishedShingleIndex` computes and stages the index frame (built
    * once for the count and the collect below) and the same probe runs
    * over it, keeping Verify self-contained.
    *
    * Exactness: the hash prune can only over-admit (collision), never
    * miss; the per-candidate exact trigram count filters n_hits > 0, so
    * collisions cannot forge a hit. Output == the oracle's LIKE scan.
    *
    * The candidate id set (bounded by the phrase's document frequency
    * — a point-lookup result, not corpus-scale) is fetched to the
    * driver and pushed into the documents scan as an `In` filter, so
    * BOTH sides of the confirm are pruned reads: the index probe dies
    * at row-group stats on sg, the corpus read dies at row-group stats
    * on doc_id. A pathological phrase with more than
    * `ProbeIdPushdownCap` candidate docs falls back to the distributed
    * join (same rows, corpus scan pays).
    */
  val ProbeIdPushdownCap = 10000

  def substrSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Driver-evaluated phrase hash via the same Catalyst expression the
    // index keys were written with (xxhash64, seed 42) — bit-identical
    // by construction and zero Spark jobs (the old spark.range(1)
    // evaluation charged a whole job to computing one literal).
    val phraseHash = org.apache.spark.sql.catalyst.expressions
      .XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
          SearchPhrase, org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    // Direct probe of the published (sg-sorted) index — NOT
    // `standingIndex`, whose staging would materialize the whole
    // index into cache before the filter could prune. The equality
    // predicate pushes into the parquet scan and the sorted layout's
    // row-group stats skip everything else. No distinct: the index
    // stores per-doc DISTINCT shingles, so each candidate doc
    // appears exactly once — the probe-collect is one shuffle-free
    // stage (bounded-by-contract driver fetch: df(phrase), capped).
    val probe = graft.dedup.Dedup.publishedShingleIndex(spark, dir)
      .filter(col("sg") === phraseHash)
      .select("doc_id")
    // Count-gate BEFORE the collect: df(phrase) is usually tiny (a
    // point lookup), but a boilerplate phrase ("all rights reserved")
    // in a web corpus can have an unbounded posting list, and
    // collecting it first would be a multi-hundred-MB driver fetch
    // with the cap only consulted afterwards. The count is the same
    // pruned one-stage scan (deliberately NOT limit(cap+1):
    // CollectLimit on a selective filter schedules incremental
    // partition rounds — 1→4→16→all, sequential — to prove the limit
    // can't be met; count runs one parallel wave). Only a ≤cap id set
    // (8 bytes × df) ever reaches the driver; above the cap the
    // confirm goes straight to the distributed join.
    val df = probe.count()
    val confirmSide =
      if (df <= ProbeIdPushdownCap) {
        val ids = probe.collect().map(_.getLong(0)).distinct
        docs.filter(col("doc_id").isInCollection(ids.toSeq))
      } else docs.join(probe.distinct(), "doc_id")
    confirmCount(confirmSide)
  }

  /** Exact per-candidate phrase count over the pruned confirm side. */
  private def confirmCount(confirmSide: DataFrame): DataFrame =
    confirmSide
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .withColumn("n_hits",
        expr(s"""size(filter(transform(sequence(0, size(tk) - 3),
               |  i -> concat_ws(' ', slice(tk, i + 1, 3))),
               |  x -> x = '$SearchPhrase'))""".stripMargin).cast("long"))
      .filter(col("n_hits") > 0)
      .select("doc_id", "n_hits", "source")
      .orderBy("doc_id")

  /** Phrase-mining floor, discount, and report size (word2phrase's
    * min_count / discount knobs; Mikolov et al. 2013, "Distributed
    * Representations of Words and Phrases").
    */
  val PhraseMinCount = 5L
  val PhraseDiscount = 3L
  val PhraseTopK = 20

  /** #32v collocation mining: rank adjacent word pairs by a PMI-shaped
    * score — the word2phrase pass that builds a tokenizer's phrase
    * vocabulary ("new york" as one unit) before BPE training. Score in
    * exact integer space:
    *   score = (1000 · (cnt_ab − discount) · N) div (cnt_a · cnt_b)
    * — the word2phrase statistic scaled per-mille instead of through
    * floats (int64 headroom: 1000·N² must fit, good to N ≈ 3e6 tokens
    * per shard-scope; at corpus scale run per partition-of-vocabulary
    * or lift to DECIMAL(38) — the ranking is unchanged).
    *
    * Scale shape: one corpus-scale bigram count and one unigram count
    * (both map-side combined, keyed on the pair/word), the floor bounds
    * the bigram table to heavy pairs, both score joins are
    * vocabulary-scale broadcasts, the total is a 1-row broadcast, and
    * top-K runs on the bounded scored frame.
    */
  def phraseMine(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tk = docs.select(split(col("text"), " ").as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = tk
      .select(explode(zip_with(
        slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
        slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("s"))
      .select(col("s.w1").as("w1"), col("s.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= PhraseMinCount)
    val total = uni.agg(sum("cw").as("nt"))
    bi
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("ca"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("cb"))), "w2")
      .crossJoin(broadcast(total))
      .select(
        concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        col("n_pair"),
        expr(s"(1000 * (n_pair - $PhraseDiscount) * nt) div (ca * cb)").as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(PhraseTopK)
      .orderBy("phrase")
  }

  /** Oracle-side SQL fragments (kept next to the marker tables so the
    * two engines can never drift).
    */
  def stopListSql: String = inList(Stopwords)
  def markerListSql(lang: String): String =
    inList(LangMarkers.toMap.apply(lang))

  val queries: Seq[Query] = Seq(
    Query("q_token_count", (s, d) => tokenCount(s, d),
      raw"""SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens
           |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_token_count_bpe", (s, d) => tokenCountBpe(s, d),
      raw"""SELECT doc_id,
           |  len(string_split_regex(text, '\s+')) AS n_tokens_ws,
           |  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_tokens_bpe
           |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q_doc_repetition", (s, d) => docRepetition(s, d),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i : i + 2], ' ')) AS grams
        |  FROM t WHERE len(tk) >= 3
        |)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  floor((1.0 - len(list_distinct(grams)) * 1.0 / len(grams)) * 10000 + 0.5) / 10000 AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin),
    Query("q_tfidf_search", (s, d) => tfidfSearch(s, d),
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dfreq AS (
           |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
           |), total AS (
           |  SELECT count(*) AS n_docs FROM documents
           |), q AS (
           |  SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 3
           |), idf AS (
           |  SELECT tok, CAST(floor((n_docs - df + 0.5) / (df + 0.5) * 10000 + 0.5) AS BIGINT) AS idf4
           |  FROM q, total
           |)
           |SELECT tf.doc_id, CAST(sum(tf.tf * idf.idf4) AS DOUBLE) / 10000.0 AS score
           |FROM tf JOIN idf USING (tok)
           |GROUP BY tf.doc_id
           |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin),
    // BM25 with k1=6/5, b=3/4 and exact-rational avgdl=T/N: per-term
    // score collapses to ONE int64/int64 division (IEEE-identical both
    // engines), floor(q+0.5)-quantized to 4dp so doc totals are exact
    // integer sums in any partition order
    Query("q_bm25_search", (s, d) => bm25Search(s, d),
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dl AS (
           |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
           |), totals AS (
           |  SELECT count(*) AS n_docs, sum(dl) AS t_tok FROM dl
           |), dfreq AS (
           |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
           |), q AS (
           |  SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 3
           |), idf AS (
           |  SELECT tok, CAST(floor((n_docs - df + 0.5) / (df + 0.5) * 10000 + 0.5) AS BIGINT) AS idf4
           |  FROM q, totals
           |), s AS (
           |  SELECT tf.doc_id,
           |    CAST(floor(CAST(idf.idf4 * 22 * tf.tf * t.t_tok AS DOUBLE)
           |      / CAST(10 * tf.tf * t.t_tok + 3 * t.t_tok + 9 * dl.dl * t.n_docs AS DOUBLE)
           |      + 0.5) AS BIGINT) AS score4
           |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), totals t
           |)
           |SELECT doc_id, CAST(sum(score4) AS DOUBLE) / 10000.0 AS score
           |FROM s GROUP BY doc_id
           |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin),
    Query("q_tokenize_bpe", (s, d) => tokenizeBpe(s, d), Bpe.oracleSql),
    Query("q_text_quality", (s, d) => textQuality(s, d),
      raw"""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM documents
           |), b AS (
           |  SELECT doc_id,
           |    len(tk) AS n_tokens,
           |    len(list_filter(tk, x -> x IN ($stopListSql))) AS stop_hits,
           |    length(text) AS n_chars
           |  FROM t
           |)
           |SELECT doc_id, n_tokens, stop_hits,
           |  floor(stop_hits / n_tokens * 10000 + 0.5) / 10000 AS stop_ratio,
           |  floor((n_chars - n_tokens + 1) / n_tokens * 10000 + 0.5) / 10000 AS avg_token_chars,
           |  floor((0.4 * least(n_tokens / 50.0, 1.0)
           |       + 0.4 * (1.0 - stop_hits / n_tokens)
           |       + 0.2 * least((n_chars - n_tokens + 1) / n_tokens / 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
           |FROM b ORDER BY doc_id""".stripMargin),
    Query("q_lang_id", (s, d) => langId(s, d),
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
           |), h AS (
           |  SELECT doc_id,
           |    len(list_filter(tk, x -> x IN (${markerListSql("de")}))) AS h_de,
           |    len(list_filter(tk, x -> x IN (${markerListSql("en")}))) AS h_en,
           |    len(list_filter(tk, x -> x IN (${markerListSql("es")}))) AS h_es,
           |    len(list_filter(tk, x -> x IN (${markerListSql("fr")}))) AS h_fr,
           |    len(list_filter(tk, x -> x IN (${markerListSql("zh")}))) AS h_zh
           |  FROM t
           |)
           |SELECT doc_id,
           |  CASE
           |    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
           |    WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
           |    WHEN h_es >= h_de AND h_es >= h_en AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
           |    WHEN h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
           |    ELSE 'zh'
           |  END AS pred_lang,
           |  greatest(h_de, h_en, h_es, h_fr, h_zh) AS n_hits
           |FROM h ORDER BY doc_id""".stripMargin),
    // graft_fingerprint replayed byte-by-byte: h = h*31 + byte over the
    // UTF-8 bytes, 64-bit wrap. DuckDB BIGINT overflow errors rather
    // than wraps, so the accumulator runs in HUGEINT mod 2^64 and maps
    // to signed at the end. ord(char) = the UTF-8 byte only for ASCII —
    // exactly what the generator emits; a future non-ASCII regeneration
    // fails this compare loudly (multi-byte chars advance one char but
    // several bytes), never silently.
    Query("q_doc_fingerprint", (s, d) => docFingerprint(s, d),
      """WITH RECURSIVE fp AS (
        |  SELECT doc_id, text, 0 AS i, length(text) AS n, 0::HUGEINT AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, i + 1, n,
        |         (h * 31 + ord(substr(text, i + 1, 1))) % 18446744073709551616::HUGEINT
        |  FROM fp WHERE i < n
        |)
        |SELECT doc_id,
        |       (CASE WHEN h >= 9223372036854775808::HUGEINT
        |             THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fp
        |FROM fp WHERE i = n
        |ORDER BY doc_id""".stripMargin),
    Query("q_doc_chunk", (s, d) => docChunk(s, d),
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
           |), s AS (
           |  SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start FROM t
           |)
           |SELECT doc_id, start // 24 AS chunk_idx,
           |  len(tk[start + 1 : start + 32]) AS n_chunk_tokens,
           |  array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("q_vocab_topk", (s, d) => vocabTopK(s, d),
      raw"""SELECT token, count(*) AS n FROM (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
           |) GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),
    // the CMS shortlist + exact-rescore path must emit EXACTLY the true
    // top-k (sketch selects, exact counts re-order — the oracle is the
    // same exact query as q_vocab_topk)
    Query("q_vocab_topk_cms", (s, d) => vocabTopKCms(s, d),
      raw"""SELECT token, count(*) AS n FROM (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
           |) GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),
    // the index-probe search must equal a LIKE scan: the phrase is
    // token-boundary-safe in this vocabulary (verified at every SF), so
    // substring counting == token-trigram counting
    Query("q_substr_search", (s, d) => substrSearch(s, d),
      s"""SELECT doc_id,
         |  (length(text) - length(replace(text, '$SearchPhrase', '')))
         |    // length('$SearchPhrase') AS n_hits,
         |  source
         |FROM documents
         |WHERE contains(text, '$SearchPhrase')
         |ORDER BY doc_id""".stripMargin),
    // word2phrase statistic in exact per-mille integer space; top-20
    // with phrase tie-break, final total order by phrase
    Query("q_phrase_mine", (s, d) => phraseMine(s, d),
      s"""WITH tk AS (
         |  SELECT string_split(text, ' ') AS tk FROM documents
         |), uni AS (
         |  SELECT w, count(*) AS cw FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w
         |), bi AS (
         |  SELECT w1, w2, count(*) AS n_pair FROM (
         |    SELECT tk[i] AS w1, tk[i + 1] AS w2
         |    FROM tk, unnest(range(1, len(tk))) AS t(i)
         |  ) GROUP BY w1, w2 HAVING count(*) >= $PhraseMinCount
         |), n AS (SELECT sum(cw) AS nt FROM uni
         |), s AS (
         |  SELECT w1 || ' ' || w2 AS phrase, n_pair,
         |    CAST((1000 * (n_pair - $PhraseDiscount) * nt) // (a.cw * b.cw) AS BIGINT) AS score
         |  FROM bi JOIN uni a ON w1 = a.w JOIN uni b ON w2 = b.w CROSS JOIN n
         |), top AS (
         |  SELECT phrase, n_pair, score FROM s
         |  ORDER BY score DESC, phrase LIMIT $PhraseTopK
         |)
         |SELECT phrase, n_pair, score FROM top ORDER BY phrase""".stripMargin)
  )
}
