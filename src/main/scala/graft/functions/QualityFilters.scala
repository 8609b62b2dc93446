package graft.functions

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators a training-data pipeline runs before any
  * model sees the text: PII redaction and rule-based quality gating
  * (the Gopher/C4 filter family, Rae et al. 2021 §A1.1; C4 heuristics,
  * Raffel et al. 2020 §2.2). All are pure column expressions — zero
  * UDFs, one corpus scan each, no joins or shuffles (the modal-word
  * rule included, via topWordRun) — so at 100 TB they run at
  * parquet-read speed.
  */
object QualityFilters {

  /** PII patterns, written in the common subset of Java regex (Spark)
    * and RE2 (DuckDB oracle): character classes, bounded repeats, \b
    * word boundaries — no backrefs, no lookaround (RE2 has neither).
    */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhonePattern = """\b\d{3}-\d{3}-\d{4}\b"""
  val Ipv4Pattern  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** Count + redact the three PII classes over any text column.
    * Order matters: emails first (their local part may contain digit
    * runs), then phones, then bare IPv4s — each later pattern runs on
    * the already-redacted text so it cannot re-match inside an earlier
    * replacement.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Declared query: the synthetic corpus is PII-free (word salad), so
    * the frame under redaction deterministically plants one email, one
    * phone, and one IPv4 derived from doc_id — identical arithmetic in
    * the oracle SQL — and the operator must find and scrub exactly
    * those. Counts are taken BEFORE redaction.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    // clean_text is corpus-scale.
    graft.Staging.sorted(Tables.documents(spark, dir), graft.Staging.CorpusScale, "doc_id")(
      _.withColumn("pii_text",
        concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or call 555-"),
          lpad(col("doc_id") % 1000, 3, "0"), lit("-"), lpad(col("doc_id") % 10000, 4, "0"),
          lit(" from 10."), col("doc_id") % 256, lit(".0.1")))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("pii_text"), lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
          size(regexp_extract_all(col("pii_text"), lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"),
          redact(col("pii_text")).as("clean_text")))

  /** Modal-word count of a token array, SCAN-LOCALLY: sort the array,
    * then the longest equal-run length is the top word's count — the
    * same value the explode + (doc,word) + (doc) double-aggregate
    * computes, with zero shuffles and zero extra corpus scans. The
    * per-row sort of a ~10²-token array is trivia next to the two
    * doc_id-keyed corpus shuffles it replaces; at 100 TB the rule runs
    * at parquet-read speed like every other Gopher rule.
    */
  private def topWordRun(tk: String): Column = expr(
    s"""aggregate(
       |  array_sort($tk),
       |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
       |  (a, t) -> named_struct(
       |    'prev', t,
       |    'run',  if(a.prev is not null and t = a.prev, a.run + 1L, 1L),
       |    'best', greatest(a.best, if(a.prev is not null and t = a.prev, a.run + 1L, 1L))),
       |  a -> a.best)""".stripMargin)

  /** Gopher-style rule gate: per-document booleans for each published
    * rule that is non-vacuous on this corpus, plus the conjunction.
    * Word-count bounds, mean-word-length band, minimum stopword hits,
    * and a top-word repetition cap (the intra-doc half of repetition;
    * cross-doc repetition is LineDedup / docRepetition). EVERY rule —
    * including the modal-word repetition rule, via topWordRun — is a
    * scan-local expression: the whole gate is ONE pass over the
    * documents scan with no joins and no shuffles (plan-asserted in
    * ScaleShapeSpec), and composes into corpusReport / qualitySample
    * without multiplying corpus reads.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "quality_gopher_out", "doc_id")(
      gopherFrame(_)
        .select("doc_id", "n_words", "mean_word_len", "stop_hits", "top_word_n",
          "top_word_ratio", "pass_wc", "pass_mwl", "pass_stop", "pass_rep", "keep"))

  /** The full single-scan gate frame, keeping every documents column
    * (lang/source for the report card) alongside the rule booleans.
    */
  private[graft] def gopherFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), "\\s+"))
      .withColumn("n_words", size(col("tk")).cast("long"))
      .withColumn("stop_hits",
        expr(s"size(filter(tk, t -> t IN (${TextFunctions.stopListSql})))").cast("long"))
      // word chars = text minus ALL whitespace (multi-char runs would
      // inflate a length-minus-(n-1) separator estimate and shift docs
      // across the mwl band edges)
      .withColumn("mean_word_len",
        Num.round4(length(regexp_replace(col("text"), "\\s", "")) / size(col("tk"))))
      .withColumn("top_word_n", topWordRun("tk"))
      .withColumn("top_word_ratio", Num.round4(col("top_word_n") / col("n_words")))
      .withColumn("pass_wc", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("pass_mwl", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("pass_stop", col("stop_hits") >= 2)
      .withColumn("pass_rep", col("top_word_ratio") <= 0.2)
      .withColumn("keep", col("pass_wc") && col("pass_mwl") && col("pass_stop") && col("pass_rep"))

  /** C4 curation-filter blocklists (Raffel et al. 2020 §2.2): the
    * published pipeline drops pages from blocklisted URLs, pages whose
    * text contains a curly brace (code, not prose), placeholder "lorem
    * ipsum" text, and pages containing a blocklisted word. Neutral
    * placeholder tokens stand in for the published word list.
    */
  val BadDomains: Seq[String] = Seq("ads.tracker.example", "spam.mirror.example")
  val BadWords: Seq[String]   = Seq("xxbadword", "xxspamtoken")

  /** Per-document C4 rule booleans, all SCAN-LOCAL expressions (string
    * containment, domain extraction, word-list membership over the
    * token array — no joins, no shuffles, same one-pass shape as
    * gopherFrame).
    *
    * The synthetic corpus is clean word salad with no URL column, so —
    * exactly like piiRedact — the declared query deterministically
    * plants the url and the violations from doc_id (identical
    * arithmetic in the oracle SQL) and the gate must catch exactly
    * those: every 13th doc a blocklisted domain, every 11th a code
    * brace, every 7th a lorem-ipsum run, every 17th a blocklisted word.
    */
  def c4Quality(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "quality_c4_out", "doc_id")(
      c4FrameOf(_)
        .select("doc_id", "url", "domain", "pass_url", "pass_brace", "pass_lorem",
          "pass_badword", "keep"))

  /** The C4 gate over any (doc_id, text, ...) frame, ADDING the planted
    * url/ptext and the rule booleans as columns (existing columns kept)
    * — the composition point curationRun shares one documents scan
    * through (r20: the composed funnel previously paid each standalone
    * query's own spread exchange and staged sort).
    */
  private[graft] def c4FrameOf(docs: DataFrame): DataFrame = {
    val planted = docs
      .withColumn("url",
        concat(
          lit("http://"),
          when(col("doc_id") % 13 === 0, lit(BadDomains.head))
            .otherwise(concat(lit("site"), (col("doc_id") % 97).cast("string"), lit(".example.com"))),
          lit("/page/"), col("doc_id").cast("string")))
      .withColumn("ptext",
        concat(
          col("text"),
          when(col("doc_id") % 11 === 0, lit(" function() { return 0 }")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" lorem ipsum dolor sit")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0, concat(lit(" "), lit(BadWords.head))).otherwise(lit(""))))
    val badDomainList = BadDomains.map(d => s"'$d'").mkString(", ")
    val badWordList   = BadWords.map(w => s"'$w'").mkString(", ")
    planted
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)", 1))
      .withColumn("pass_url", !expr(s"domain IN ($badDomainList)"))
      .withColumn("pass_brace", !col("ptext").contains("{"))
      .withColumn("pass_lorem", !col("ptext").contains("lorem ipsum"))
      .withColumn("pass_badword",
        expr(s"size(filter(split(ptext, '\\\\s+'), t -> t IN ($badWordList)))") === 0)
      .withColumn("keep",
        col("pass_url") && col("pass_brace") && col("pass_lorem") && col("pass_badword"))
  }

  /** `qualitySample`'s additive `Num.hashBucket` salt, read by the
    * operator and its oracle.
    */
  val SampleSalt = 32452843L

  /** Quality-weighted sampling: keep probability scales with how many
    * Gopher rules a doc passes — clean docs survive whole, marginal
    * docs are downweighted, junk keeps a trace for auditability (the
    * curation move between a hard gate and no gate at all). Same
    * engine-portable multiplicative hash as every sampler here: a doc's
    * fate is a pure function of (doc_id, its own text), reproducible
    * and joinable on every run — no RNG state to ship.
    */
  def qualitySample(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.documents(spark, dir), "quality_sample_out", "doc_id")(
      gopherFrame(_)
        .withColumn("n_pass",
          col("pass_wc").cast("int") + col("pass_mwl").cast("int") +
            col("pass_stop").cast("int") + col("pass_rep").cast("int"))
        .withColumn("rate_pm",
          when(col("n_pass") === 4, 1000L)
            .when(col("n_pass") === 3, 500L)
            .when(col("n_pass") === 2, 200L)
            .otherwise(50L))
        // Salted differently from splitAssign/sourceMix: a shared hash
        // would make every downweighted doc satisfy bucket%100 < rate,
        // i.e. land in 'train' — samplers must thin independently of the
        // split and of each other.
        .withColumn("bucket", Num.hashBucket(col("doc_id"), SampleSalt, 1000L))
        .filter(col("bucket") < col("rate_pm"))
        .select(col("doc_id"), col("n_pass").cast("long").as("n_pass"), col("rate_pm"), col("bucket")))

  /** Corpus report card: docs / words / quality-gate keep rate per
    * (lang, source) with rollup subtotals — the one-pass summary a
    * curation run publishes before anyone trains on the corpus. Rides
    * gopherFrame, so the whole report is literally one documents scan
    * feeding one rollup aggregate (lang/source travel with the gate —
    * no doc_id self-join); the rollup only expands the tiny aggregated
    * frame. rollup gets untagged functions.col refs (the String
    * overload's dataset-tagged refs trip DetectAmbiguousSelfJoin after
    * Expand, see rollupAgg).
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    corpusReportOver(graft.Staging.spread(Tables.documents(spark, dir)))

  /** The report over any (doc_id, text, lang, source) frame — the
    * composition point HtmlExtract.htmlCorpusReport feeds with
    * extracted text.
    */
  def corpusReportOver(docs: DataFrame): DataFrame =
    gopherFrame(docs)
      .select(col("lang"), col("source"), col("n_words"), col("keep").cast("long").as("k"))
      .rollup(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        Num.round4(avg(col("k"))).as("keep_rate"))
      .na.fill("ALL", Seq("lang", "source"))
      .orderBy("lang", "source")

  /** Frequency-profile quality scoring — the CCNet-family LM filter
    * (Wenzek et al. 2020 filter by KenLM perplexity; docs made of
    * improbable tokens are gibberish) with a corpus-derived UNIGRAM
    * stand-in: score every doc by the mean corpus-frequency RANK of its
    * tokens. Rank, not probability, keeps the oracle exact — dense_rank
    * over counts is pure integer ordering (ties share a rank, so the
    * result is a function of the counts alone, engine-independent),
    * the per-doc sum is an exact BIGINT, and the single division at the
    * end rounds identically in both engines. A real KenLM slot-in
    * changes only the vocab frame (token → logprob instead of rank).
    *
    * Scale shape: the vocab build is the same explode + groupBy(token)
    * aggregate q_vocab_topk pays (vocabulary-scale output). The rank
    * assignment NEVER windows over the vocab: dense_rank by count
    * equals (# distinct counts greater) + 1, so the only global window
    * runs over the DISTINCT-count frame (Zipf: ~O(√corpus-tokens)
    * rows), joined back to vocab on the count value. Scoring joins the
    * token stream against the vocab frame (AQE broadcasts
    * vocabulary-scale sides) and shuffles only (doc_id, rank) longs to
    * the per-doc aggregate.
    *
    * The keep band is a fixed constant sitting mid-distribution for the
    * synthetic corpus (word salad clusters mean ranks at ~10-18, so the
    * gate actually discriminates); a production deployment calibrates
    * it per corpus from the score distribution, exactly as CCNet picks
    * per-language perplexity buckets.
    */
  val FreqRankKeepMax = 13.0

  /** Bigram heavy-hitter floor: bigrams seen at least this often enter
    * the LM table. Zipf-bounds the table at corpus_bigrams/floor rows —
    * the same bounded-table contract as BpeTrain.lexicon, which is what
    * makes the scoring side broadcastable at any corpus size (a real
    * KenLM ships a fixed-size table for the same reason).
    */
  val BigramMinCount = 3L

  /** Keep band for the bigram score (see FreqRankKeepMax — fixed
    * mid-distribution constant for the synthetic corpus, measured
    * 13.1-21.5 with median ~17.5 at the test SFs; production
    * calibrates per corpus).
    */
  val BigramKeepMax = 17.5

  /** Second freq-family gate (r8 verdict item 9): score docs by their
    * adjacent-token BIGRAM ranks — the n-gram LM upgrade over
    * freqRankQuality's unigram profile (CCNet shape: fluent text is
    * made of common token TRANSITIONS, not merely common tokens;
    * shuffled common words score well on unigrams and badly here).
    * Stays oracle-exact the same way: integer dense-ranks instead of
    * log-probabilities, one exact BIGINT sum per doc, one final
    * division. Out-of-table bigrams score the penalty rank
    * (max rank + 1) — the OOV backoff of a bounded-table LM.
    *
    * Scale shape: bigram construction is scan-local (zip_with over the
    * token array); every corpus-scale exchange keys on xxhash64(bigram)
    * longs; the count-threshold table is Zipf-bounded so the scoring
    * join's build side broadcasts; the only global window runs over the
    * DISTINCT-count frame; the OOV rank is a 1-row broadcast.
    *
    * Disclosed √N frame (WindowBoundSpec): the distinct-count
    * dense_rank's single-task frame is Θ(min(table size, √(2N)))
    * because k distinct count values need k(k+1)/2 ≤ N total
    * occurrences — NOT a constant, but at 10¹³ tokens that is ~4.5M
    * short rows ≈ tens of MB on one task: a serialization point, not a
    * blow-up (measured 35 → 108 → 237 rows across 500 → 5k → 50k
    * docs ≈ the predicted √ growth).
    */
  def bigramLmQuality(spark: SparkSession, dir: String): DataFrame = {
    val split_docs = graft.Staging.staged(
      graft.Staging.spread(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("tk")),
      "bigramlm_tokens")
    val bgs = split_docs
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("tk"), lit(1), greatest(size(col("tk")) - 1, lit(0))),
          slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      .select(col("doc_id"), xxhash64(col("bg")).as("bgh"))
    val table = bgs.groupBy("bgh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= BigramMinCount)
    val cntRanks = table
      .select("cnt").distinct()
      .withColumn("rnk",
        dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc)))
    val ranked = table.join(cntRanks, "cnt").select("bgh", "rnk")
    val oov = cntRanks.agg((count(lit(1)) + 1L).as("oov_rnk"))
    bgs
      .join(ranked, Seq("bgh"), "left")
      .crossJoin(broadcast(oov))
      .select(col("doc_id"), coalesce(col("rnk"), col("oov_rnk")).as("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("r").as("rank_sum"))
      .withColumn("mean_rank", Num.round4(col("rank_sum") / col("n_bigrams")))
      .withColumn("keep", col("mean_rank") <= BigramKeepMax)
      .select("doc_id", "n_bigrams", "mean_rank", "keep")
      .orderBy("doc_id")
  }

  def freqRankQuality(spark: SparkSession, dir: String): DataFrame =
    freqRankOf(
      graft.Staging.spread(Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
      .orderBy("doc_id")

  /** The freq-rank score over any (doc_id, text, ...) frame, UNSORTED —
    * the composition point calibratedFrameOf/curationRun share a
    * documents scan through (r20). The standalone query adds the
    * declared orderBy; join-side consumers skip it (Catalyst's
    * EliminateSorts drops a sort below a join anyway).
    */
  private[graft] def freqRankOf(docs: DataFrame): DataFrame = {
    // Distinct-count dense_rank: same disclosed Θ(√(2N)) single-task
    // frame as bigramLmQuality above (k(k+1)/2 ≤ N), measured within
    // WindowBoundSpec's bound at every tested scale.
    // Staged token-array frame: the vocab build and the scoring join
    // would otherwise each re-scan and re-split the corpus (explode is
    // narrow, so both subtrees explode from the one staged frame).
    val split_docs = graft.Staging.staged(
      docs.select(col("doc_id"), split(col("text"), " ").as("tk")),
      "freqrank_tokens")
    // Shuffle hygiene (the repo-wide principle from Dedup/LineDedup):
    // every corpus-scale exchange keys on xxhash64(token) longs — the
    // raw strings never leave their scan stage. The vocab groupBy and
    // the scoring join both run on 8-byte keys; outputs equal the
    // string-keyed oracle modulo the documented ~1e-10 collision trade.
    val toks = split_docs
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("tokh"))
    val vocab = toks.groupBy("tokh").agg(count(lit(1)).as("cnt"))
    val cntRanks = vocab
      .select("cnt").distinct()
      .withColumn("rnk",
        dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy(col("cnt").desc)))
    val ranked = vocab.join(cntRanks, "cnt").select("tokh", "rnk")
    toks
      .join(ranked, "tokh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("rnk").as("rank_sum"))
      .withColumn("mean_rank", Num.round4(col("rank_sum") / col("n_toks")))
      .withColumn("keep", col("mean_rank") <= FreqRankKeepMax)
      .select("doc_id", "n_toks", "mean_rank", "keep")
  }

  /** Keep the best `CalibrateKeepPermille`/1000 of each source by
    * quality score — the CALIBRATION step the fixed-constant gates
    * (FreqRankKeepMax, BigramKeepMax) document as "production
    * calibrates per corpus": CCNet picks per-language perplexity
    * buckets from the score distribution, not a universal constant, so
    * a clean source keeps most of itself while a noisy source is cut
    * hard AT THE SAME quantile.
    */
  val CalibrateKeepPermille = 600L

  /** #32o per-source quantile calibration of the freq-rank score.
    * Engine-exact by integer construction — no percentile function of
    * either engine is trusted across engines (continuous quantiles
    * interpolate in floats; discrete ones round boundaries
    * differently). keep(doc) ⇔ 1000 · (#docs in the source with
    * score4 ≤ mine) ≤ permille · n_source, where score4 is the round4
    * score scaled to an exact integer (×10000): a whole tie-group is
    * in or out together, and both sides of the inequality are exact
    * BIGINTs.
    *
    * Scale shape: NO corpus-scale window. Per-(source, score4) counts
    * form a BOUNDED frame (round4 quantizes the score range to ≤ ~10^6
    * cells per source); the cumulative count runs over that frame
    * partitioned by source; docs join back on (source, score4) — an
    * AQE-broadcast of the calibration table, the same shape as the
    * freq-rank vocab join. Adding a source never moves another
    * source's threshold.
    */
  def calibratedQuality(spark: SparkSession, dir: String): DataFrame =
    calibratedFrame(spark, dir)
      .select(
        col("doc_id"), col("source"), col("mean_rank"),
        (col("cum") * 1000L <= col("n_source") * CalibrateKeepPermille).as("keep"))
      .orderBy("doc_id")

  /** #32p CCNet-style score TIERS: partition every source into
    * head/middle/tail thirds by the same per-source quantile machinery
    * calibratedQuality gates with — the artifact CCNet actually
    * publishes (downstream training picks head+middle, or weights
    * tiers). Same integer band logic: tier boundaries at 1/3 and 2/3
    * of the source, tie groups land in one tier together.
    */
  def scoreTiers(spark: SparkSession, dir: String): DataFrame =
    calibratedFrame(spark, dir)
      .select(
        col("doc_id"), col("source"), col("mean_rank"),
        when(col("cum") * 3L <= col("n_source"), lit("head"))
          .when(col("cum") * 3L <= col("n_source") * 2L, lit("middle"))
          .otherwise(lit("tail")).as("tier"))
      .orderBy("doc_id")

  /** Salt for the within-tier shuffle of `curriculumOrder` — its own
    * multiplier salt, independent of the packing shuffle's.
    */
  val CurriculumSalt = 52361L

  /** #32r curriculum ordering: ONE global training order that anneals
    * from clean to noisy — all head-tier docs first, then middle, then
    * tail, each tier internally decorrelated by the salted shuffle key
    * (within-tier doc_id order would reintroduce exactly the crawl-
    * order correlation `SeqPack.docShuffle` exists to break). The
    * explicit schedule form of what 32p's tiers imply: a dataloader
    * walking `pos` ascending consumes head+middle early and meets the
    * tail last (or truncates it), with every tier still internally
    * shuffled for SGD.
    *
    * Scale shape: pos = rank in (tier, shuffle_key, doc_id) order,
    * computed with the two-level prefix sum — per-(tier, bucket)
    * row_numbers over bounded partitions, cross-bucket offsets on the
    * 3×1024-row (tier, bucket) count frame; the only global window runs
    * there. The tier frame rides the same staged calibration machinery
    * as 32o/32p.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SeqPack.{shuffleBlk, shuffleKey}
    val tiers = graft.Staging.staged(
      calibratedFrame(spark, dir)
        .select(
          col("doc_id"),
          when(col("cum") * 3L <= col("n_source"), lit(0L))
            .when(col("cum") * 3L <= col("n_source") * 2L, lit(1L))
            .otherwise(lit(2L)).as("tier_rank"))
        .withColumn("k", shuffleKey(col("doc_id"), CurriculumSalt))
        .withColumn("blk", shuffleBlk(col("k"))),
      "curriculum_tiers")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("tier_rank", "blk").orderBy("k", "doc_id")
    val local = tiers.withColumn("rn", row_number().over(wIn).cast("long"))
    val wBlk = org.apache.spark.sql.expressions.Window
      .orderBy("tier_rank", "blk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val blkOff = tiers
      .groupBy("tier_rank", "blk")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(wBlk), lit(0L)))
      .select("tier_rank", "blk", "off")
    local
      .join(blkOff, Seq("tier_rank", "blk"))
      .select(
        col("doc_id"),
        when(col("tier_rank") === 0L, lit("head"))
          .when(col("tier_rank") === 1L, lit("middle"))
          .otherwise(lit("tail")).as("tier"),
        (col("off") + col("rn") - 1L).as("pos"))
      .orderBy("doc_id")
  }

  /** Shared calibration machinery: every doc with its source, score,
    * cumulative count through its score tie-group, and source total —
    * the per-source empirical CDF in exact integers.
    */
  private def calibratedFrame(spark: SparkSession, dir: String): DataFrame =
    calibratedFrameOf(
      graft.Staging.spread(Tables.documents(spark, dir).select(col("doc_id"), col("text"))),
      Tables.documents(spark, dir).select("doc_id", "source"))

  /** Frame-level calibration (r20): `docsForScore` feeds the freq-rank
    * scorer (CPU-dense — pass a spread frame), `docsIdSource` is the
    * narrow (doc_id, source) attach side (a pruned scan — no spread
    * needed, the join is not CPU-dense).
    */
  private[graft] def calibratedFrameOf(docsForScore: DataFrame, docsIdSource: DataFrame): DataFrame = {
    val scored = graft.Staging.staged(
      freqRankOf(docsForScore)
        .join(docsIdSource, "doc_id")
        // floor(x*10000+0.5) — NOT a bare double→long cast: v*10000 of a
        // round4 value lands ε away from the integer, and Spark's cast
        // truncates where DuckDB's rounds; the +0.5-floor is exact in
        // both engines for any ε < 0.5
        .withColumn("score4", floor(col("mean_rank") * 10000 + 0.5).cast("long")),
      "calibrate_scored")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("score4")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val calib = scored
      .groupBy("source", "score4").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
    val totals = scored.groupBy("source").agg(count(lit(1)).as("n_source"))
    scored
      .join(broadcast(calib.select("source", "score4", "cum")), Seq("source", "score4"))
      .join(broadcast(totals), "source")
  }

  private[graft] lazy val FreqRankSql =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), f AS (
       |  SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
       |), r AS (
       |  SELECT tok, dense_rank() OVER (ORDER BY cnt DESC) AS rnk FROM f
       |), s AS (
       |  SELECT doc_id, count(*) AS n_toks, sum(rnk) AS rank_sum
       |  FROM tk JOIN r USING (tok) GROUP BY doc_id
       |)
       |SELECT doc_id, n_toks,
       |  floor(rank_sum * 1.0 / n_toks * 10000 + 0.5) / 10000 AS mean_rank,
       |  (floor(rank_sum * 1.0 / n_toks * 10000 + 0.5) / 10000
       |    <= $FreqRankKeepMax) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** Shared calibration CTEs: freq-rank scores joined to source, the
    * exact ×10000 integer score, per-(source, score4) cumulative counts
    * (the empirical CDF), and source totals.
    */
  private[graft] lazy val CalibrateCtes =
    s"""fr AS (
       |$FreqRankSql
       |), s AS (
       |  SELECT f.doc_id, d.source, f.mean_rank,
       |    CAST(floor(f.mean_rank * 10000 + 0.5) AS BIGINT) AS score4
       |  FROM fr f JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT source, score4, count(*) AS cnt FROM s GROUP BY source, score4
       |), cc AS (
       |  SELECT source, score4, sum(cnt) OVER (PARTITION BY source ORDER BY score4
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c
       |), t AS (
       |  SELECT source, count(*) AS n_source FROM s GROUP BY source
       |)""".stripMargin

  private[graft] lazy val QualityC4Sql =
    raw"""WITH p AS (
         |  SELECT doc_id,
         |    'http://' ||
         |      CASE WHEN doc_id % 13 = 0 THEN '${BadDomains.head}'
         |           ELSE 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example.com' END ||
         |      '/page/' || CAST(doc_id AS VARCHAR) AS url,
         |    text ||
         |      CASE WHEN doc_id % 11 = 0 THEN ' function() { return 0 }' ELSE '' END ||
         |      CASE WHEN doc_id % 7 = 0 THEN ' lorem ipsum dolor sit' ELSE '' END ||
         |      CASE WHEN doc_id % 17 = 0 THEN ' ${BadWords.head}' ELSE '' END AS ptext
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, url, ptext,
         |    regexp_extract(url, '^https?://([^/]+)', 1) AS domain
         |  FROM p
         |)
         |SELECT doc_id, url, domain,
         |  NOT (domain IN (${BadDomains.map(d => s"'$d'").mkString(", ")})) AS pass_url,
         |  NOT contains(ptext, '{') AS pass_brace,
         |  NOT contains(ptext, 'lorem ipsum') AS pass_lorem,
         |  len(list_filter(string_split_regex(ptext, '\s+'),
         |      t -> t IN (${BadWords.map(w => s"'$w'").mkString(", ")}))) = 0 AS pass_badword,
         |  NOT (domain IN (${BadDomains.map(d => s"'$d'").mkString(", ")}))
         |    AND NOT contains(ptext, '{')
         |    AND NOT contains(ptext, 'lorem ipsum')
         |    AND len(list_filter(string_split_regex(ptext, '\s+'),
         |        t -> t IN (${BadWords.map(w => s"'$w'").mkString(", ")}))) = 0 AS keep
         |FROM r ORDER BY doc_id""".stripMargin

  private[graft] lazy val QualityGopherSql = qualityGopherSqlOver("documents")

  /** The Gopher-gate oracle over any (doc_id, text) relation `src` —
    * "documents" for the declared query, the html-extraction CTE for
    * the composed report variant.
    */
  private[graft] def qualityGopherSqlOver(src: String) =
      raw"""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM $src
           |), b AS (
           |  SELECT doc_id,
           |    len(tk) AS n_words,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.stopListSql}))) AS stop_hits,
           |    floor(length(regexp_replace(text, '\s', '', 'g')) / len(tk) * 10000 + 0.5) / 10000 AS mean_word_len
           |  FROM t
           |), w AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM $src
           |), tw AS (
           |  SELECT doc_id, max(c) AS top_word_n FROM (
           |    SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w
           |  ) GROUP BY doc_id
           |)
           |SELECT b.doc_id, b.n_words, b.mean_word_len, b.stop_hits, tw.top_word_n,
           |  floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 AS top_word_ratio,
           |  b.n_words >= 50 AND b.n_words <= 100000 AS pass_wc,
           |  b.mean_word_len >= 3.0 AND b.mean_word_len <= 10.0 AS pass_mwl,
           |  b.stop_hits >= 2 AS pass_stop,
           |  floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 <= 0.2 AS pass_rep,
           |  (b.n_words >= 50 AND b.n_words <= 100000)
           |    AND (b.mean_word_len >= 3.0 AND b.mean_word_len <= 10.0)
           |    AND b.stop_hits >= 2
           |    AND floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 <= 0.2 AS keep
           |FROM b JOIN tw USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin

  private lazy val QualitySampleSql =
    s"""WITH g AS (
       |$QualityGopherSql
       |), p AS (
       |  SELECT doc_id,
       |    CAST(pass_wc AS INT) + CAST(pass_mwl AS INT) + CAST(pass_stop AS INT) + CAST(pass_rep AS INT) AS n_pass
       |  FROM g
       |), r AS (
       |  SELECT doc_id, CAST(n_pass AS BIGINT) AS n_pass,
       |    CAST(CASE n_pass WHEN 4 THEN 1000 WHEN 3 THEN 500 WHEN 2 THEN 200 ELSE 50 END AS BIGINT) AS rate_pm,
       |    CAST(${Num.hashBucketSql("doc_id", SampleSalt, 1000)} AS BIGINT) AS bucket
       |  FROM p
       |)
       |SELECT doc_id, n_pass, rate_pm, bucket FROM r
       |WHERE bucket < rate_pm
       |ORDER BY doc_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_pii_redact", (s, d) => piiRedact(s, d),
      raw"""WITH p AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or call 555-' ||
           |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           |      ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS pii_text
           |  FROM documents
           |), r AS (
           |  SELECT doc_id, pii_text,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
           |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
           |  FROM p
           |)
           |SELECT doc_id,
           |  len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           |  len(regexp_extract_all(pii_text, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           |  len(regexp_extract_all(pii_text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           |  clean_text
           |FROM r ORDER BY doc_id""".stripMargin),
    Query("q_quality_gopher", (s, d) => gopherQuality(s, d), QualityGopherSql),
    Query("q_quality_c4", (s, d) => c4Quality(s, d), QualityC4Sql),
    Query("q_quality_sample", (s, d) => qualitySample(s, d), QualitySampleSql),
    Query("q_corpus_report", (s, d) => corpusReport(s, d),
      s"""WITH g AS (
         |$QualityGopherSql
         |)
         |SELECT coalesce(d.lang, 'ALL') AS lang, coalesce(d.source, 'ALL') AS source,
         |  count(*) AS n_docs,
         |  CAST(sum(g.n_words) AS BIGINT) AS total_words,
         |  floor(avg(CAST(g.keep AS INT)) * 10000 + 0.5) / 10000 AS keep_rate
         |FROM g JOIN documents d ON g.doc_id = d.doc_id
         |GROUP BY ROLLUP(d.lang, d.source)
         |ORDER BY lang, source""".stripMargin),
    // same exactness scheme as q_quality_freqrank: integer dense-ranks,
    // exact BIGINT sums, one final round4 division; the bounded table is
    // a count-threshold (no top-K tie-break needed), OOV rank is
    // (#distinct kept counts)+1 in both engines
    Query("q_quality_bigramlm", (s, d) => bigramLmQuality(s, d),
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
         |  FROM tk
         |), f AS (
         |  SELECT bg, count(*) AS cnt FROM bg GROUP BY bg
         |  HAVING count(*) >= $BigramMinCount
         |), r AS (
         |  SELECT bg, dense_rank() OVER (ORDER BY cnt DESC) AS rnk FROM f
         |), m AS (
         |  SELECT count(DISTINCT cnt) + 1 AS oov_rnk FROM f
         |), s AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(coalesce(r.rnk, m.oov_rnk)) AS rank_sum
         |  FROM bg LEFT JOIN r USING (bg) CROSS JOIN m GROUP BY doc_id
         |)
         |SELECT doc_id, n_bigrams,
         |  floor(rank_sum * 1.0 / n_bigrams * 10000 + 0.5) / 10000 AS mean_rank,
         |  (floor(rank_sum * 1.0 / n_bigrams * 10000 + 0.5) / 10000
         |    <= $BigramKeepMax) AS keep
         |FROM s ORDER BY doc_id""".stripMargin),
    // dense_rank over counts is a pure integer ordering (ties share a
    // rank), the per-doc sum is an exact BIGINT, and both engines
    // divide the same exact integers — fully hash-comparable.
    Query("q_quality_freqrank", (s, d) => freqRankQuality(s, d), FreqRankSql),
    // calibration: per-source keep of the best 60.0% by freq-rank
    // score, tie groups in-or-out together — pure integer band logic
    // over the exact ×10000 score (floor(x*10000+0.5) is exact where a
    // bare double→int cast rounds DIFFERENTLY across engines)
    Query("q_quality_calibrate", (s, d) => calibratedQuality(s, d),
      s"""WITH $CalibrateCtes
         |SELECT s.doc_id, s.source, s.mean_rank,
         |  (cc.cum * 1000 <= t.n_source * $CalibrateKeepPermille) AS keep
         |FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |ORDER BY s.doc_id""".stripMargin),
    // same per-source empirical CDF, banded into thirds instead of gated
    Query("q_quality_tiers", (s, d) => scoreTiers(s, d),
      s"""WITH $CalibrateCtes
         |SELECT s.doc_id, s.source, s.mean_rank,
         |  CASE WHEN cc.cum * 3 <= t.n_source THEN 'head'
         |       WHEN cc.cum * 3 <= t.n_source * 2 THEN 'middle'
         |       ELSE 'tail' END AS tier
         |FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |ORDER BY s.doc_id""".stripMargin),
    // curriculum: global rank in (tier, salted shuffle key, doc_id)
    // order — head first, tail last, tiers internally shuffled; the
    // shuffle key is the same squared-multiplier construction as
    // q_doc_shuffle with its own salt
    Query("q_curriculum_order", (s, d) => curriculumOrder(s, d),
      s"""WITH $CalibrateCtes, ti AS (
         |  SELECT s.doc_id,
         |    CASE WHEN cc.cum * 3 <= t.n_source THEN 0
         |         WHEN cc.cum * 3 <= t.n_source * 2 THEN 1
         |         ELSE 2 END AS tier_rank
         |  FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |), kk AS (
         |  SELECT doc_id, tier_rank,
         |    ((doc_id % 1000003) * ${(1315423911L + 2 * CurriculumSalt) % 1000000007L}) % 1000000007 AS k1
         |  FROM ti
         |)
         |SELECT doc_id,
         |  CASE tier_rank WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier,
         |  CAST(row_number() OVER (ORDER BY tier_rank, (k1 * k1) % 1000000007, doc_id) - 1 AS BIGINT) AS pos
         |FROM kk ORDER BY doc_id""".stripMargin)
  )
}
