package graft.dedup

import graft.{Num, Query, Tables}
import graft.Staging.staged
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators for the LLM-data-pipeline surface.
  *
  * The reference system dedups at ingest by primary key
  * (match_id / match_region, models.py:61-66 unique constraints); an
  * LLM-scale corpus needs content dedup instead. All operators here are
  * linear-ish inverted-index / bucket-join shapes: there is NO crossJoin
  * or broadcast-nested-loop anywhere — candidate pairs only ever form
  * inside an equi-join on a content-derived key, which is the only shape
  * that survives 100 TB.
  */
object Dedup {

  /** 3-word shingles, distinct per doc. Tokenization is a plain
    * single-space split (the corpus is pre-normalized text); the shingle
    * string is the join key of every near-dup inverted index below.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    // spread (r19): shingling+hashing is the scan's CPU-dense work and
    // a small input plans as ONE task (row-group granularity); the
    // conditional exchange puts it on every core. See Staging.spread.
    graft.Staging.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(
        col("doc_id"),
        explode(
          array_distinct(
            expr(s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))")
          )
        ).as("sg")
      )

  /** `shingles` with each shingle string replaced by its xxhash64: the
    * (doc_id, sg: long) posting frame every hashed index here joins on.
    */
  private[graft] def hashedShingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n).select(col("doc_id"), xxhash64(col("sg")).as("sg"))

  /** Exact dedup: group by sha2(text). Hashing first means the shuffle
    * carries a 32-byte digest instead of document bodies — at 100 TB the
    * groupBy key must never be the payload itself. Output: the surviving
    * doc per content group and its multiplicity.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** Near-dup pairs with 3-gram Jaccard >= 0.8. Candidate generation
    * delegates to the prefix-filtered index (LOSSLESS — identical rows
    * to the full inverted index, same DuckDB oracle): the full-index
    * self-join's Σ df² hot-shingle term is the one shape here that does
    * not survive corpus scale.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefix(spark, dir)

  /** Df-ordered prefix index (AllPairs/PPJoin candidate pruning): with
    * shingles globally ordered by document frequency (rarest first), any
    * pair with jac >= τ must share a shingle inside both docs' first
    * (n - ceil(τ·n) + 1) shingles — so only ~(1-τ) of each posting list
    * feeds pair generation, cutting the quadratic hot-shingle term by
    * ~(1-τ)². The theorem needs only SOME consistent total order, so the
    * tiebreak works on hashed shingles too. Exposed for the spec
    * asserting the pruning actually bounds what feeds the pair join.
    */
  private[graft] def prefixIndex(sh: DataFrame, threshold: Double): DataFrame =
    // prefix length n - ceil(τ n) + 1 (overlap >= ceil(τ n) required
    // against ANY partner when jac >= τ, since |B| >= |A∩B|)
    // df is selected away: the published prefix-artifact layout
    // (IndexArtifactVersion) predates it and prefix consumers prune by
    // pos, not df.
    dfOrderedIndex(sh)
      .filter(col("pos") <= col("n") - ceil(col("n") * threshold) + 1)
      .select("doc_id", "sg", "pos", "n")

  /** Full df-ordered posting index: every (doc_id, sg) with the
    * shingle's rank `pos` inside its doc under the global
    * (df asc, sg asc) order and the doc's set size `n`. The prefix
    * index is the pos-filtered head of this frame; the containment join
    * probes it UNFILTERED on the outer side (a superset doc has no
    * usable prefix bound of its own).
    */
  private[graft] def dfOrderedIndex(sh: DataFrame): DataFrame = {
    val df = sh.groupBy("sg").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wRank = wDoc.orderBy(col("df").asc, col("sg").asc)
    val parts = sh.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    sh.join(df, "sg")
      // Explicit doc_id repartition at session parallelism (r19): the
      // ranking window below is the index build's CPU-densest stage
      // but its shuffle is BYTE-light (hashed-shingle longs), so AQE's
      // parallelism-first coalescing (1 MB minPartitionSize floor)
      // merged it to 3-4 tasks on 32 cores — a measured ~10× parallel-
      // ism loss exactly where the mine's work is
      // (q_dedup_jaccard_prefix 2.42 → 1.54 s isolated when the stage
      // keeps session parallelism; a session-wide floor change was
      // measured and REJECTED, see GraftSession). A user-specified
      // repartition on the window's own key adds NO exchange — it IS
      // the hashpartitioning(doc_id) the window requires — and AQE
      // never coalesces user-specified shuffles.
      .repartition(parts, col("doc_id"))
      // pos + n from the ONE doc_id window (count over the same
      // partition replaces a separate sizes groupBy+join); both ride
      // along in the published index so every consumer can run the
      // PPJoin+ filters (r11). df rides too (r12) so the containment
      // probe can apply its hot-shingle guard without a second
      // aggregation over the index.
      .withColumn("pos", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wDoc))
      .select("doc_id", "sg", "pos", "n", "df")
  }

  /** PPJoin+ candidate pruning (Xiao et al. 2008) over a
    * prefix-collision frame carrying (a, ia, na, b, ib, nb) — one row
    * per colliding prefix shingle. Both filters are CONSERVATIVE (they
    * only remove pairs provably below τ, so downstream exact verifies
    * lose nothing):
    * - length: jac >= τ forces min(na,nb) >= τ·max(na,nb);
    * - positional: a collision at df-order ranks (ia, ib) bounds the
    *   overlap by min(ia,ib) + min(na-ia, nb-ib) (the order is global,
    *   so common shingles before/after the collision are bounded by the
    *   shorter side each way); the pair survives only if its best bound
    *   reaches the required overlap ceil(τ/(1+τ)·(na+nb)).
    * Output: one row per surviving (a, b) with sizes attached.
    */
  private[graft] def ppjoinCandidates(pairs: DataFrame, threshold: Double): DataFrame = {
    val eps = 1e-9
    pairs
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(threshold) * greatest(col("na"), col("nb")).cast("double") - lit(eps))
      .withColumn("bound",
        least(col("ia"), col("ib")) + least(col("na") - col("ia"), col("nb") - col("ib")))
      .groupBy("a", "b", "na", "nb")
      .agg(max("bound").as("bound"))
      .filter(col("bound").cast("double") * (lit(1.0) + lit(threshold)) >=
        lit(threshold) * (col("na") + col("nb")).cast("double") - lit(eps))
      .select("a", "b", "na", "nb")
  }

  /** Prefix self-collision pairs with positions mapped to (a < b)
    * orientation, ready for `ppjoinCandidates`. `left` may be a subset
    * of `right` (the delta shape); `antiReflexive` keeps x != y and
    * orients, deduping the double-count through the downstream groupBy.
    */
  private[graft] def prefixCollisions(left: DataFrame, right: DataFrame): DataFrame =
    left.select(col("doc_id").as("x"), col("sg"), col("pos").as("ix"), col("n").as("nx"))
      .join(
        right.select(col("doc_id").as("y"), col("sg"), col("pos").as("iy"), col("n").as("ny")),
        Seq("sg"))
      .filter(col("x") =!= col("y"))
      .select(
        least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"),
        when(col("x") < col("y"), col("ix")).otherwise(col("iy")).as("ia"),
        when(col("x") < col("y"), col("nx")).otherwise(col("ny")).as("na"),
        when(col("x") < col("y"), col("iy")).otherwise(col("ix")).as("ib"),
        when(col("x") < col("y"), col("ny")).otherwise(col("nx")).as("nb"))

  /** Exact Jaccard verify against an EXPLODED (doc_id, sg) index,
    * bounded to candidate-incident docs (r12): gathers the per-doc
    * shingle arrays for exactly the docs named by some candidate pair
    * (semi-join + collect_list — shuffle volume is candidate-incident
    * postings, never the corpus index), then intersects scan-locally
    * via `verifyJaccardArrays`. Replaces the old exploded verify for
    * the incremental/published-index consumers: that shape joined the
    * FULL index twice and ran a pair-keyed groupBy count — two
    * corpus-index shuffles per verify that this one avoids. Only the
    * (a, b) pair columns are consumed; set sizes are derived from the
    * gathered arrays inside `verifyJaccardArrays`.
    */
  private[graft] def verifyJaccardIndexed(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    // Staged: the candidate frame is pair-count-scale but its mine
    // (collision join + PPJoin groupBy) is the expensive subtree, and
    // this verify consumes it twice (id gathering + the verify join) —
    // unstaged, both consumers re-ran the mine.
    val cand = staged(candidates.select("a", "b"), "verify_cand")
    val ids = cand.select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val arr = sh.join(ids, "doc_id")
      .groupBy("doc_id")
      .agg(collect_list(col("sg")).as("sh"))
    verifyJaccardArrays(cand, arr, threshold)
  }

  /** The pair mine over a positional prefix index: prefix collisions of
    * `left` against `right` (`left` may be a slice of `right`), the
    * PPJoin+ filters, then the exact verify against the exploded
    * shingle index `sh`. Output (a, b, jac), a < b.
    */
  private[graft] def minePairs(
      left: DataFrame, right: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyJaccardIndexed(
      ppjoinCandidates(prefixCollisions(left, right), threshold), sh, threshold)

  /** Prefix-filtered exact Jaccard (AllPairs/PPJoin-style): identical
    * output to the full inverted index, but candidates come from the
    * df-ordered prefix and the exact verify keeps the result lossless.
    * The shingle index and the prefix are staged once — the verify and
    * size subtrees reuse them instead of re-scanning the corpus.
    *
    * Every stage joins/shuffles on xxhash64 of the shingle, never the
    * ~30-byte shingle string (Spark's MinHashLSH does the same): ~4x
    * less shuffle volume on the hot path. Set-size and intersection
    * counts are preserved unless two DISTINCT shingles of the same doc
    * pair collide in 64 bits (P ~ m²/2⁶⁴ per doc — ~1e-10 at 10⁴
    * shingles/doc; the scale-appropriate trade).
    */
  def jaccardPrefix(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    jaccardPrefixOf(Tables.documents(spark, dir), threshold)

  /** Frame-level jaccardPrefix over any (doc_id, text) frame — the
    * incremental cluster maintainer runs it on the settled slice.
    *
    * r11 shape: prefix collisions → PPJoin+ filters
    * (`ppjoinCandidates` — conservative, output identical to the full
    * inverted index) → exact verify joining the staged per-doc shingle
    * ARRAYS and intersecting scan-locally (`array_intersect`) — no
    * second explosion of the index through a pair-keyed groupBy, and
    * the corpus is tokenized once into `arr` with the exploded index
    * derived from it.
    */
  private[graft] def jaccardPrefixOf(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val arr = shingleArraysOf(docs, "shingle_arr_pp")
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("sg"))
    val prefix = staged(prefixIndex(sh, threshold), "prefix_pp")
    val candidates = ppjoinCandidates(
      prefix
        .select(col("doc_id").as("a"), col("sg"), col("pos").as("ia"), col("n").as("na"))
        .join(
          prefix.select(col("doc_id").as("b"), col("sg"), col("pos").as("ib"), col("n").as("nb")),
          Seq("sg"))
        .filter(col("a") < col("b")),
      threshold)
    verifyJaccardArrays(candidates, arr, threshold)
  }

  /** Exact Jaccard verify over per-doc shingle ARRAY frames: candidate
    * pairs join the array frame twice and intersect scan-locally — the
    * pair-keyed groupBy count of the exploded-index verify disappears.
    * Set sizes come from the arrays themselves (identical to any
    * index-carried n by construction: both are the per-doc DISTINCT
    * shingle count), so candidates only need (a, b).
    */
  private[graft] def verifyJaccardArrays(
      candidates: DataFrame, arr: DataFrame, threshold: Double): DataFrame =
    // Not a bare orderBy: the range-boundary sampling of an unstaged
    // global sort re-executed this verify join — the two most expensive
    // stages of the whole query — a second time (measured 2× at the
    // 500k-doc decade point, r16).
    graft.Staging.sorted(
      candidates
        .select("a", "b")
        .join(arr.toDF("a", "sha"), "a")
        .join(arr.toDF("b", "shb"), "b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .withColumn("jac",
          col("inter") / (size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("a"), col("b"), Num.round4(col("jac")).as("jac")),
      "jac_pairs", "a", "b")()

  /** One-sided set-containment join (r11): ordered pairs (a, b) with
    * C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| >= τ — doc a's 3-gram set lies
    * (mostly) inside doc b's. This is the subset/quote shape Jaccard is
    * BLIND to: a paragraph wholly copied into a 10× longer page has
    * containment 1.0 but Jaccard ≈ |A|/|B| ≈ 0.1, so symmetric near-dup
    * never surfaces it (the reference's per-key ingest dedup,
    * models.py:68, likewise only catches whole-record copies).
    *
    * Pruning is ONE-sided by necessity: τ bounds the required overlap
    * ceil(τ·|A|) in terms of the CONTAINED side only, so a's df-ordered
    * prefix (same n−ceil(τn)+1 head as the Jaccard prefix) probes the
    * FULL index — a containing doc can be arbitrarily large, so no
    * prefix bound exists for b. Two conservative filters cut the
    * candidate volume before the exact verify:
    * - size: overlap <= min(|A|,|B|), so |B| >= ceil(τ·|A|);
    * - positional: a collision at global ranks (ia, ib) bounds the
    *   overlap by min(ia,ib) + min(na−ia, nb−ib) (same argument as
    *   `ppjoinCandidates`; the bound must reach ceil(τ·na)).
    * Both only drop pairs provably below τ; the array-intersect verify
    * makes the output exactly the full-index answer (spec-pinned vs
    * the test-side `DedupWitnesses.containmentNaive`).
    */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    containmentOf(Tables.documents(spark, dir), threshold)

  /** Hot-shingle guard for the containment probe (r12, a DOCUMENTED
    * bound): candidate generation skips shingles shared by more than
    * this many documents. The b-side posting list of a boilerplate
    * shingle ("all rights reserved …") is corpus-scale — unguarded, the
    * candidate volume Σ prefix_df(sg)·df(sg) has no cap and the probe
    * join degenerates at 100 TB. Containment evidence routed through a
    * shingle present in >K docs is boilerplate, not quotation: a true
    * contained doc (cont >= τ) shares ceil(τ·n) shingles with its
    * container, so it is only lost if EVERY ONE of its prefix (rarest-
    * first!) shingles is df-hot — a doc made entirely of boilerplate.
    * On the test corpora max df is 25 (sf0.1), so the guard provably
    * changes nothing there (spec-pinned vs the uncapped witness); at
    * scale it bounds per-shingle join volume to prefix_df·K.
    */
  val ContainmentDfCap = 1000L

  /** Count-filter requirement (r19): a candidate pair must share at
    * least min(this, ceil(τ·na)) collisions inside a's EXTENDED probe
    * prefix. Why it exists — the positional filter alone is
    * structurally WEAK for one-sided containment: with na ≪ nb the
    * bound min(ia,ib) + min(na−ia, nb−ib) reaches ceil(τ·na) whenever
    * nb−ib ≥ na−ia, which a random collision satisfies ~(nb−na)/nb of
    * the time (~half at the decade corpus shape) — so candidates
    * stayed collision-scale and the array verify materialized
    * pairs × two ~1 KB shingle arrays: the sort that exhausted the
    * sandbox disk at the 500k point in BOTH the r18 attempts and the
    * first r19 one (ENOSPC at ~70 GB inside the verify SMJ). The
    * count filter is the standard AllPairs/PPJoin extension
    * (Xiao et al. 2008, the c-collision variant): extend a's probe
    * prefix from p = na−t+1 to p+c−1 (t = ceil(τ·na), c = min(2, t));
    * since |A\B| ≤ na−t = p−1, any p−1+c prefix shingles of a true
    * pair contain ≥ c members of B, and (prefix principle) EVERY
    * collision of a true pair passes the positional bound — so
    * requiring c PASSING collisions is conservative and composes with
    * both existing filters. Cost: ~(c−1)/p more collision rows
    * (~8% at c=2); effect: a random pair must now collide on TWO
    * independent rare-ish shingles, cutting candidate volume by the
    * per-slot collision probability (~two orders of magnitude at the
    * decade shape) before any array is touched. With the df-cap guard
    * the loss condition becomes "all but c−1 of the first p+c−1
    * (rarest-first) prefix shingles of a contained doc are df-hot" —
    * the same boilerplate-saturation disclosure as the cap itself,
    * one collision stronger.
    */
  val ContainmentMinCollisions = 2L

  private[graft] def containmentOf(
      docs: DataFrame, threshold: Double = 0.8, dfCap: Long = ContainmentDfCap): DataFrame = {
    val eps = 1e-9
    val arr = shingleArraysOf(docs, "shingle_arr_cont")
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("sg"))
    val indexed = staged(dfOrderedIndex(sh), "cont_index")
    // Required overlap t = ceil(τ·na) and the count-filter demand
    // c = min(ContainmentMinCollisions, t); a's probe prefix extends
    // to p + c − 1 = na − t + c positions (see ContainmentMinCollisions).
    val tReq = ceil(col("na") * threshold - lit(eps))
    val cReq = least(lit(ContainmentMinCollisions), tReq)
    val candidates = indexed
      .withColumnRenamed("doc_id", "a").withColumnRenamed("pos", "ia")
      .withColumnRenamed("n", "na")
      .filter(col("ia") <=
        col("na") - ceil(col("na") * threshold - lit(eps)) +
          least(lit(ContainmentMinCollisions), ceil(col("na") * threshold - lit(eps))))
      .filter(col("df") <= dfCap)
      .select(col("a"), col("sg"), col("ia"), col("na"))
      .join(
        indexed
          .filter(col("df") <= dfCap)
          .select(col("doc_id").as("b"), col("sg"), col("pos").as("ib"), col("n").as("nb")),
        Seq("sg"))
      .filter(col("a") =!= col("b"))
      .filter(col("nb").cast("double") >= lit(threshold) * col("na").cast("double") - lit(eps))
      .withColumn("bound",
        least(col("ia"), col("ib")) + least(col("na") - col("ia"), col("nb") - col("ib")))
      // Positional filter BEFORE the pair exchange (r18): a collision
      // of a TRUE pair always satisfies the bound (overlap ≤
      // min(ia,ib) + min(na−ia, nb−ib) at any shared shingle), so
      // failing collisions die in the scan stage — only passing ones
      // are exchanged, and (r19) the exchange now feeds the
      // count-filter groupBy instead of a DISTINCT: same exchange
      // volume (partial aggregation dedups per map partition either
      // way), but the reducer requires ≥ c passing collisions per
      // pair, which is what keeps the verify's pair count sub-
      // collision-scale (see ContainmentMinCollisions — the r18
      // distinct-only shape still fed collision-scale pair counts to
      // the array verify, the 500k ENOSPC).
      .filter(col("bound").cast("double") >= lit(threshold) * col("na").cast("double") - lit(eps))
      .groupBy("a", "b", "na")
      .agg(count(lit(1)).as("cc"))
      .filter(col("cc") >= cReq)
      .select("a", "b", "na")
    // Not a bare orderBy: same sampling-pass double-execution hazard as
    // verifyJaccardArrays — the containment verify is the same two
    // array joins.
    graft.Staging.sorted(
      candidates
        .join(arr.toDF("a", "sha"), "a")
        .join(arr.toDF("b", "shb"), "b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .withColumn("cont", col("inter") / col("na"))
        .filter(col("cont") >= threshold)
        .select(col("a"), col("b"), Num.round4(col("cont")).as("cont")),
      "cont_pairs", "a", "b")()
  }

  /** Version tag for the PUBLISHED near-dup pair table: keyed by the
    * full mining recipe (shingle/hash/prefix layout via
    * IndexArtifactVersion, plus the Jaccard threshold), so a re-tuned τ
    * or re-shaped index can never be served yesterday's pairs.
    */
  val PairsArtifactVersion = s"$IndexArtifactVersion-jaccard-pairs-v1"

  /** The near-dup PAIR frame (a, b, jac) as a lake artifact (r14).
    * Production lakes hold ONE pair table — the pair mine is the
    * second-most-expensive derived computation after clustering, and
    * every diagnostic that consumes pairs (source overlap today; any
    * future link-grain report) re-ran it per invocation even when the
    * standing INDEX was published, because the index only amortizes the
    * corpus scan, not the collision join + PPJoin + verify. With an
    * artifacts root configured the mine runs once (fingerprint-keyed on
    * the corpus snapshot + recipe version) and consumers read the
    * committed parquet; without a root it computes inline via the same
    * standing-index path, so the pair SET is identical either way and
    * equals the `jaccardPrefixOf` authority (both are spec-pinned).
    * `q_dedup_jaccard_prefix` and the cluster build deliberately stay
    * inline: they are the timed authorities that keep the mine and
    * cluster costs visible in the bench.
    */
  def publishedPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    graft.sources.Artifacts.publishedOrCompute(
      spark, "neardup_pairs", s"$PairsArtifactVersion-tau$threshold",
      Seq(s"$dir/documents.parquet")) {
      val (sh, prefix) = standingIndex(spark, dir, threshold)
      minePairs(prefix, prefix, sh, threshold)
    }

  /** Source-overlap matrix (r11): per unordered source pair, how many
    * near-dup links (3-gram Jaccard >= τ, `jaccardPrefixOf`) cross the
    * two feeds — the curation diagnostic that catches one crawl
    * mirroring another (or re-ingesting itself, the diagonal). At scale
    * the near-dup pair frame is cluster-sparse relative to the corpus,
    * so both doc_id→source lookups AQE-broadcast the PAIR side while
    * the documents scan streams; the rollup output is |sources|²-bounded.
    *
    * r14: pairs come from the PUBLISHED pair artifact when a root is
    * configured — the diagnostic no longer re-mines what the lake
    * already settled; inline mode mines through the same standing-index
    * path as before (pair-set parity spec-pinned against
    * q_dedup_jaccard_prefix in both modes).
    */
  def sourceOverlap(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    publishedPairs(spark, dir, threshold)
      .select("a", "b")
      .join(src.toDF("a", "src_x"), "a")
      .join(src.toDF("b", "src_y"), "b")
      .select(
        least(col("src_x"), col("src_y")).as("src_a"),
        greatest(col("src_x"), col("src_y")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_links"))
      .orderBy("src_a", "src_b")
  }

  /** MinHash signature width and LSH banding: 32 hashes, 8 bands of 4.
    * P(candidate | jac=0.8) = 1-(1-0.8^4)^8 ≈ 0.98; false-positive
    * candidates are removed by the exact-verify stage.
    */
  val MinHashK = 32
  val BandRows = 4
  val NumBands: Int = MinHashK / BandRows

  /** Hashed 3-gram shingle ARRAY per doc (expects a `toks` array
    * column) — the ONE definition both the batch and streaming MinHash
    * paths derive signatures from; their spec-pinned parity depends on
    * this staying single-sourced.
    */
  /** n parameterized; callers must pre-filter (or guard) size(toks) >= n
    * — Spark's `sequence` DESCENDS when stop < start, so an unguarded
    * short doc would produce negative-index garbage, not an empty array.
    */
  private[graft] def shingleArraySql(n: Int): String =
    s"array_distinct(transform(sequence(0, size(toks) - $n), i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $n)))))"

  private[graft] val ShingleArraySql: String = shingleArraySql(3)

  /** LSH band-key struct columns over a `sig` array column — shared by
    * the batch and streaming paths for the same reason.
    */
  private[graft] def bandKeyCols: Seq[Column] = (0 until NumBands).map { j =>
    val rows = (j * BandRows until (j + 1) * BandRows).map(i => s"sig[$i]").mkString(", ")
    struct(lit(j).as("band"), expr(s"xxhash64($rows, $j)").as("key"))
  }

  /** The staged per-doc shingle-hash ARRAY frame (doc_id, sh) — staged
    * as the array, not the exploded index: signatures then come from
    * graft_minhash per row — one codegen pass, ZERO shuffle (the 32-way
    * min groupBy this replaces re-shuffled the whole exploded index) —
    * and the verify subtrees explode the same persisted frame without
    * re-scanning the corpus. Hashing before array_distinct dedups the
    * same set (xxhash64 collisions aside, the documented 1e-10 trade
    * every hashed index here makes).
    */
  private[graft] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    shingleArraysOf(Tables.documents(spark, dir), "shingle_arr")

  /** The staged (doc_id, sh) shingle-hash array frame of any (doc_id,
    * text) frame; docs under 3 tokens have no shingle. NOT
    * columnarCache: the consumers REREAD the array frame (the
    * containment verify gathers it twice) and the read side dominates
    * — flagging it measured 2× the containment query wall at 50k docs
    * (7.0 → 14.9 s, r17), the knn-family direction, not the substr one.
    */
  private def shingleArraysOf(docs: DataFrame, name: String): DataFrame =
    staged(
      graft.Staging.spread(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(ShingleArraySql).as("sh")),
      name)

  /** The exploded LSH band-key frame (doc_id, band, key) the bucket
    * equi-join runs on — also the frame `DedupQa.indexStats` audits.
    */
  private[graft] def minhashBandsOf(arr: DataFrame): DataFrame =
    arr
      .select(col("doc_id"), expr(s"graft_minhash(sh, $MinHashK)").as("sig"))
      .select(col("doc_id"), explode(array(bandKeyCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** MinHash+LSH near-dup: k seeded xxhash64 minhashes per doc → b band
    * keys → bucket equi-join for candidates → exact Jaccard verify on the
    * candidate set ONLY. All-pairs work never happens; the quadratic term
    * is confined to docs that actually collide in a band.
    */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val arr = shingleArrays(spark, dir)
    // Scan-local array verify against the staged per-doc arrays (r12) —
    // the exploded verify joined the full index twice and re-counted
    // pair overlaps through a groupBy for a frame we already hold as
    // arrays.
    verifyJaccardArrays(minhashCandidates(arr), arr, threshold)
  }

  /** The banded LSH candidate pair set (a < b, distinct) — the frame
    * the verify filters. Exposed (r20) so `DedupQa.dedupRecall` can
    * test membership against it directly: for a pair already known to
    * have jac >= τ, "surfaced by LSH" ≡ "present in the candidate set"
    * (the verify applies the identical Jaccard over the identical
    * shingle space, so it cannot reject a true pair), which lets the
    * recall audit skip re-verifying the LSH side entirely.
    */
  private[graft] def minhashCandidates(arr: DataFrame): DataFrame = {
    val bands = minhashBandsOf(arr)
    bandCandidates(bands, "a", bands, "b")(_ < _)
  }

  /** The banded candidate join every LSH-style index here runs: two
    * (id, band, key) frames, renamed to (`l`, band, key) and (`r`,
    * band2, key2), equi-joined on (band, key) under `ids(l, r)`, then
    * the distinct (`l`, `r`) id pairs. Pairs that share several bands
    * come out once.
    */
  private[graft] def bandCandidates(left: DataFrame, l: String, right: DataFrame, r: String)(
      ids: (Column, Column) => Column): DataFrame =
    left
      .toDF(l, "band", "key")
      .join(right.toDF(r, "band2", "key2"),
        col("band") === col("band2") && col("key") === col("key2") && ids(col(l), col(r)))
      .select(l, r)
      .distinct()

  /** 64-bit SimHash fingerprints: token-frequency-weighted bit vote,
    * computed SCAN-LOCALLY per row by the `graft_simhash` codegen
    * Expression (r13). The r3-r12 shape exploded the token frame and
    * ran a 64-column ±1 vote aggregate — a full corpus-token shuffle
    * (every token row leaves the scan just to rejoin its own doc) for
    * what is a per-row function of the doc's own tokens. Bit-identical
    * by construction (SimHashExprSpec pins the identity against the
    * explode+aggregate composition); docs with null text drop out via
    * the filter exactly as explode dropped them.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("graft_simhash(split(text, ' '))").as("fp"))

  /** SimHash block layout. Pigeonhole: any pair at hamming <= maxHamming
    * shares at least one intact block as long as blocks > maxHamming, so
    * SimHashBlocks = 4 covers the default maxHamming = 3. Block WIDTH is
    * the scale dial: candidates per block ~ n^2 / 2^SimHashBlockBits
    * (expected, under uniform fingerprints), so 16-bit blocks give 65 536
    * buckets per block — adequate to ~10^7-10^8 docs. For a larger corpus
    * RAISE the width and split the hamming budget across passes
    * (Manku et al., WWW'07 table design): e.g. 64-bit fp, hamming <= 3
    * → 4 blocks is forced, so grow the FINGERPRINT (128-bit, 8 x 16) to
    * widen blocks instead; block count must stay > maxHamming.
    */
  val SimHashBlocks = 4
  val SimHashBlockBits = 16

  /** SimHash near-dup: pairs within hamming distance <= 3 of the 64-bit
    * fingerprint. Banded exact-match join (SimHashBlocks blocks of
    * SimHashBlockBits): any pair at hamming <= 3 shares at least one
    * intact block, so candidates come from an equi-join on (block index,
    * block value) — the classic rotate/band trick, no all-pairs scan.
    */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(SimHashBlocks > maxHamming, "need more blocks than the hamming budget")
    // Staged: the fingerprint frame feeds FOUR subtrees (both band
    // sides + both verify joins). Since r13 the fingerprint is a
    // scan-local graft_simhash pass (no explode/aggregate), but staging
    // still collapses four full-text scans into one.
    val fps = staged(
      simhashFingerprints(graft.Staging.spread(Tables.documents(spark, dir))), "simhash_fp")
    val blockMask = (1L << SimHashBlockBits) - 1
    val blockCols = (0 until SimHashBlocks).map { j =>
      struct(lit(j).as("band"), shiftright(col("fp"), j * SimHashBlockBits).bitwiseAND(lit(blockMask)).as("key"))
    }
    val bands = fps
      .select(col("doc_id"), explode(array(blockCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val candidates = bandCandidates(bands, "a", bands, "b")(_ < _)
    // Not a bare orderBy: its sampling pass would re-run the two
    // fingerprint joins (cached inputs, but the join itself re-executes
    // below the sort).
    graft.Staging.sorted(
      candidates
        .join(fps.toDF("a2", "fpa"), col("a") === col("a2"))
        .join(fps.toDF("b2", "fpb"), col("b") === col("b2"))
        .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
        .filter(col("hamming") <= maxHamming)
        .select("a", "b", "hamming"),
      "simhash_pairs", "a", "b")()
  }

  /** Shingle width for benchmark decontamination: 8-gram overlap is the
    * published convention (GPT-3 appendix C / PaLM-family eval
    * decontamination use 8-13-gram collision).
    */
  val DecontamN = 8

  /** Benchmark decontamination: flag every training doc sharing at
    * least one 8-gram with the held-out eval split — run before any
    * training job so eval answers don't leak into the corpus. The eval
    * side here is the deterministic doc_id % 20 == 0 slice (production
    * passes the real benchmark set); its distinct shingles are tiny
    * relative to the corpus, so the overlap join is an equi-join on the
    * hashed shingle that AQE broadcasts — the corpus side streams, only
    * matches shuffle to the per-doc count. Output covers every
    * non-eval doc (n_overlap = 0 when clean).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(Tables.documents(spark, dir))

  private[graft] def decontaminateOf(docs: DataFrame): DataFrame = {
    val sh = hashedShingles(docs, DecontamN)
    overlapVerdicts(docs, sh.filter(!isEval), sh.filter(isEval).select("sg").distinct())
  }

  /** The held-out eval slice: doc_id % 20 == 0. */
  private def isEval: Column = pmod(col("doc_id"), lit(20)) === 0

  /** Verdict tail shared by both decontaminations: the non-eval corpus
    * shingles `corpusSh` (doc_id, sg) that equal an eval shingle in
    * `evalSh` (sg) are counted per doc, and every non-eval doc of
    * `docs` gets its count and verdict (n_overlap = 0 when clean).
    */
  private def overlapVerdicts(docs: DataFrame, corpusSh: DataFrame, evalSh: DataFrame): DataFrame = {
    val hits = corpusSh
      .join(evalSh, "sg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    docs
      .filter(!isEval)
      .select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Bloom sizing for decontaminateBloom: capacity in SHINGLES. Eval
    * suites are fixed benchmark sets, bounded by construction (they do
    * not grow with the corpus); 2^20 shingles at the default 3% fpp is
    * ~7.3M bits ≈ 0.9 MB, far under the engine's 8 MB bloom clamp. An
    * overfull bloom only raises fpp — the exact confirm join keeps the
    * OUTPUT exact regardless, so sizing is a performance knob, never a
    * correctness one.
    */
  val BloomCapacity = 1L << 20

  /** Decontamination with a bloom pre-filter: same output as
    * `decontaminate` (the oracle is literally shared), but the corpus
    * side never shuffles unless it MIGHT overlap the eval set.
    *
    * The plain decontaminate shuffles every corpus shingle into the
    * semi-join against eval shingles — at 100 TB that is a full-corpus
    * shuffle to discover that ~99% of documents were never contaminated.
    * Here the eval shingle set aggregates into one bounded bloom sketch
    * (Spark's own BloomFilterAggregate, ≤ 8 MB by engine clamp), which
    * probes scan-side inside whole-stage codegen: clean shingles die AT
    * THE SCAN, and only the might-contain survivors (true overlaps +
    * ~3% false positives) pay the exact-confirm shuffle join. No false
    * negatives, so restricting the join input loses nothing; the
    * confirm join removes false positives, so the result is exact.
    *
    * The sketch crosses the plan as a one-row driver value embedded as
    * a literal — bounded at 8 MB by the engine's own numBits clamp, the
    * same capped-driver-fetch contract as BpeTrain's lexicon and
    * ParquetSink's partition list.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    // Deployment shape: the eval index is lake-resident (published once
    // from the static benchmark set, or computed in place without a
    // root); only the corpus side is shingled here.
    bloomDecontam(Tables.documents(spark, dir), evalDecontamIndexPublished(spark, dir))

  /** The same over an arbitrary documents frame, its eval slice indexed
    * in place by `evalDecontamIndex`.
    */
  private[graft] def decontaminateBloomOf(docs: DataFrame): DataFrame =
    bloomDecontam(docs, evalDecontamIndex(docs.filter(isEval)))

  /** The eval index of distinct eval shingles `evalSh`: its bloom
    * sketch, one bounded aggregate fetched to the driver, beside the
    * frame itself. An empty eval set aggregates to a NULL sketch (see
    * `bloomDecontam`).
    */
  private def withBloom(evalSh: DataFrame): (Array[Byte], DataFrame) =
    (evalSh
      .agg(call_function("graft_bloom_agg", col("sg"), lit(BloomCapacity)).as("bloom"))
      .head()
      .getAs[Array[Byte]]("bloom"), evalSh)

  /** Shared bloom-prune + exact-confirm over the non-eval docs, given
    * the eval index (bloom, distinct eval shingles): scan-side
    * might-contain prunes the corpus shingles, the equi-join against
    * the eval shingles removes false positives, and every non-eval doc
    * gets a verdict.
    */
  private def bloomDecontam(docs: DataFrame, evalIndex: (Array[Byte], DataFrame)): DataFrame = {
    val (bloom, evalSh) = evalIndex
    val corpusSh = hashedShingles(docs.filter(!isEval), DecontamN)
    // An empty eval set aggregates to a NULL sketch: nothing can be
    // contaminated, so the candidate set is empty by definition.
    val candidates =
      if (bloom == null) corpusSh.limit(0)
      else corpusSh.filter(call_function("graft_might_contain", lit(bloom), col("sg")))
    overlapVerdicts(docs, candidates, evalSh)
  }

  /** Eval-side decontamination index: the distinct hashed eval shingles
    * and their bloom sketch — built ONCE from the static benchmark set
    * (eval suites don't grow with the corpus) and shipped to every
    * consumer: `decontaminateBloomOf` derives the same pair inline;
    * the streaming ingest gate takes them as parameters because a
    * stream must not rebuild an index per micro-batch.
    */
  private[graft] def evalDecontamIndex(evalDocs: DataFrame): (Array[Byte], DataFrame) =
    withBloom(evalShingles(evalDocs))

  /** The distinct hashed shingles (sg) of the eval docs. */
  private def evalShingles(evalDocs: DataFrame): DataFrame =
    hashedShingles(evalDocs, DecontamN).select("sg").distinct()

  /** Version tag for the published eval index (bump on any change to
    * the shingle width, hashing, or eval-slice definition).
    */
  val EvalIndexArtifactVersion = s"decontam-${DecontamN}gram-xxhash64-evalmod20-v1"

  /** The eval decontamination index via the Artifacts contract: the
    * distinct hashed eval shingles are published ONCE from the static
    * benchmark set and every consumer — batch decontamination runs, the
    * streaming ingest gate's boot — reads the committed parquet instead
    * of re-shingling the eval set (an eval suite is static; its index
    * should be lake-resident, exactly like the standing shingle index).
    * The bloom sketch is re-aggregated from the published shingles at
    * boot: it is eval-scale work (one bounded aggregate), and storing
    * the sketch would freeze `BloomCapacity` into the artifact without
    * a schema to version it. No artifacts root → inline derivation,
    * keeping Verify self-contained.
    */
  private[graft] def evalDecontamIndexPublished(
      spark: SparkSession, dir: String): (Array[Byte], DataFrame) =
    withBloom(graft.sources.Artifacts.publishedOrCompute(
      spark, "decontam_eval_index", EvalIndexArtifactVersion, Seq(s"$dir/documents.parquet"))(
      evalShingles(Tables.documents(spark, dir).filter(isEval))))

  /** Ingest-time decontamination gate: drop documents sharing an 8-gram
    * with the eval set, exactly — the micro-batch transform a streaming
    * ingest runs inside `foreachBatch` BEFORE dedup state (the cheapest
    * place to stop eval contamination is the front door; see
    * `StreamLshDedup`). Same bloom-prune + exact-confirm shape as
    * `decontaminateBloomOf`, restructured for a batch that arrives
    * already small: a per-row short-circuit `exists` probe marks
    * suspects scan-side (no shingle explode for the ~99% clean), and
    * only suspects pay the explode + broadcast confirm join against the
    * static eval shingles. No false negatives from the sketch + exact
    * confirm ⇒ output equals filtering on `decontaminateOf` verdicts.
    */
  private[graft] def ingestDecontamGate(
      batch: DataFrame, bloom: Array[Byte], evalSh: DataFrame): DataFrame = {
    if (bloom == null) return batch
    val n = DecontamN
    val probed = batch
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh",
        when(size(col("toks")) >= n, expr(shingleArraySql(n)))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .withColumn("suspect",
        exists(col("sh"), s => call_function("graft_might_contain", lit(bloom), s)))
    val clean = probed.filter(!col("suspect"))
    val suspects = probed.filter(col("suspect"))
    val contaminated = suspects
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(evalSh.withColumnRenamed("sg", "s")), "s")
      .select("doc_id").distinct()
    clean
      .unionByName(suspects.join(contaminated, Seq("doc_id"), "left_anti"))
      .drop("toks", "sh", "suspect")
  }

  /** The incremental batch slice: doc_id % 10 == 7 stands in for
    * "today's ingest" (production passes the real new-arrivals frame).
    */
  val DeltaBatchMod = 10
  val DeltaBatchRem = 7

  /** Version tag for the published standing index (bump on any change
    * to shingling width, hashing, the prefix rule, or the published
    * LAYOUT — v2 sorts the shingle table by sg so hash probes prune).
    * A constant (`final val` of a literal), so `PairsArtifactVersion`,
    * defined earlier in this object, reads it already set.
    */
  final val IndexArtifactVersion = "3gram-xxhash64-prefix-tau0.8-v2"

  /** The published shingle table alone, not staged again: for
    * single-probe consumers (`substrSearch`) that want one pruned
    * parquet read, not a cache build — staging materializes the whole
    * index into executor storage before the first filter can prune,
    * turning a point lookup into a corpus-index scan. (Without a root
    * the switch computes and stages it; there is no parquet to prune.)
    * Published SORTED by sg: range-partitioned sorted files give every
    * file and row group a narrow sg min/max, so an equality probe on
    * the hash key dies at the footer for all but ~one split (the lake
    * answer to "is this phrase anywhere?" must not read the index, only
    * its statistics).
    */
  private[graft] def publishedShingleIndex(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.publishedOrCompute(
      spark, "shingle_index_sh", IndexArtifactVersion, Seq(s"$dir/documents.parquet"))(
      hashedShingles(Tables.documents(spark, dir)).sort("sg"))

  /** The STANDING shingle + prefix index of the corpus, via the
    * Artifacts contract: the lake-resident index every incremental
    * operator (dedupDelta, Clusters.clusterDelta) is defined AGAINST.
    * With an artifacts root configured it is published once and every
    * consumer reads the committed parquet (rebuilding it inline per
    * consumer is the same fan-out waste the cluster-table publication
    * kills — and at 100 TB the index build is the dominant cost of a
    * delta run that should only pay Σ p·p_batch); without a root each
    * query stays self-contained (Verify). `q_dedup_jaccard_prefix`
    * deliberately does NOT consume it: that query is the index-build
    * authority whose timing keeps the build cost visible.
    */
  private[graft] def standingIndex(
      spark: SparkSession, dir: String, threshold: Double = 0.8): (DataFrame, DataFrame) = {
    // The shingle table is used as the switch returns it: a published
    // parquet read is scanned once by every consumer (inside
    // `verifyJaccardIndexed`'s candidate-incident gather), so staging it
    // would materialize the corpus-scale index ahead of a single scan
    // (r13); a computed one comes back staged for its two reads (the
    // prefix build and the exact verify). The prefix stays staged in
    // both modes: its consumers self-join or filter it twice per query.
    // A computed prefix comes back staged already, and `staged` hands
    // it back as is.
    val sh = publishedShingleIndex(spark, dir)
    val prefix = staged(
      graft.sources.Artifacts.publishedOrCompute(
        spark, "shingle_index_prefix", IndexArtifactVersion, Seq(s"$dir/documents.parquet"))(
        prefixIndex(sh, threshold)),
      // NOT columnarCache: the prefix staging is reread (self-joined /
      // filtered twice) by every consumer — flagging it saved
      // q_dedup_jaccard_prefix ~2.5 s but cost q_dedup_clusters ~16 s
      // at the 500k decade point (r17); read-dominated frames keep the
      // default registration.
      "prefix_standing")
    (sh, prefix)
  }

  /** Incremental near-dup: pairs with jac >= τ that TOUCH the new
    * batch — (new, corpus) and (new, new) — without recomputing the
    * corpus×corpus pairs a standing index already settled. This is the
    * daily-ingest shape of corpus dedup: at 100 TB the full pair set is
    * recomputed never, only the delta joins against the lake-resident
    * shingle + prefix indexes — consumed from the PUBLISHED standing
    * index when an artifacts root is configured (r8, `standingIndex`),
    * rebuilt inline otherwise; incrementally appended in production —
    * the prefix theorem needs only a CONSISTENT total shingle order, so
    * frozen df ranks stay valid as the corpus grows, at worst
    * lengthening prefixes until a periodic re-rank.
    *
    * Lossless for batch-incident pairs: a qualifying pair shares a
    * prefix shingle in BOTH prefixes, so restricting one join side to
    * batch postings loses nothing — the candidate volume drops from
    * Σ p² to Σ p·p_batch per shingle. Same exact verify as
    * jaccardPrefix; the full-recompute parity is spec-pinned.
    */
  def dedupDelta(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val (sh, prefix) = standingIndex(spark, dir, threshold)
    val batchPrefix = prefix.filter(pmod(col("doc_id"), lit(DeltaBatchMod)) === DeltaBatchRem)
    // PPJoin+ filters ride the published positional prefix (r11): the
    // batch-incident collision set passes the same conservative length
    // + positional pruning as the full-corpus authority before the
    // exact verify pays for it.
    minePairs(batchPrefix, prefix, sh, threshold)
  }

  /** Block count for the exact all-pairs embedding compare. */
  val EmbedBlocks = 8

  /** Embedding near-dup: exact cosine >= 0.4 over all pairs, executed as
    * a block-matrix equi-join: vectors land in EmbedBlocks buckets by id,
    * the left side is replicated once per partner block, and the join is
    * an equi-join on the block id — partition-bounded work units instead
    * of a CartesianProduct node. The build side is the whole (small, by
    * this query's nature) vector set, explicitly `broadcast()` so the
    * replicated left never shuffles — the explode happens map-side and
    * parallelism comes from the left repartition, not from the block-key
    * cardinality (a shuffled join on 8 distinct keys caps the quadratic
    * phase at 8 cores). Exact all-pairs is inherently quadratic compute
    * and only feasible when the vector set fits one machine anyway —
    * broadcastability is implied; the scale path that trades recall for
    * linearity is similarity.LshAnn.
    */
  def embedNeardup(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val v = Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("norm", sqrt(expr("graft_dot(e, e)")))
      .withColumn("blk", pmod(col("vec_id"), lit(EmbedBlocks)).cast("int"))
    val left = v
      .toDF("a", "ea", "na", "ba")
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .withColumn("bj", explode(array((0 until EmbedBlocks).map(lit): _*)))
    val pairs = left
      .join(broadcast(v.toDF("b", "eb", "nb", "bb")),
        col("bb") === col("bj") && col("a") < col("b"))
      .withColumn("dot", expr("graft_dot(ea, eb)"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
    // Not a bare orderBy: an unstaged sort would re-run the block
    // join's full dot-product sweep for the range-boundary sample.
    graft.Staging.sorted(
      pairs
        .filter(col("cos") >= threshold)
        .select(col("a"), col("b"), Num.round4(col("cos")).as("cos")),
      "embed_pairs", "a", "b")()
  }

  /** #26l contamination report: per-source contamination rates over the
    * decontamination verdicts — the audit table a curation run publishes
    * alongside the clean corpus (which ingest feeds leak eval content,
    * and how hard). A source with a high contamination rate is usually a
    * crawl that ingested the benchmark's distribution site; the report
    * is what makes that visible before training, at source grain rather
    * than per-doc verdicts nobody reads.
    *
    * Scale shape: rides `decontaminateOf` (eval side AQE-broadcast,
    * corpus streams — the bloom-gated variant slots in unchanged since
    * its output is identical), joins source at doc grain, aggregates to
    * source cardinality. Rates are int64-exact ratios round4'd
    * identically in both engines.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontaminateOf(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum("n_overlap").as("total_overlaps"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_contaminated"),
        col("total_overlaps"),
        Num.round4(col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contamination_rate"))
      .orderBy("source")
  }

  private lazy val NgramJaccardSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
      |  FROM tok t1
      |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
      |), pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |)
      |SELECT p.a, p.b, floor(p.inter * 1.0 / (sa.n + sb.n - p.inter) * 10000 + 0.5) / 10000 AS jac
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8
      |ORDER BY a, b""".stripMargin

  /** Shared by q_decontaminate and q_decontaminate_bloom: the bloom
    * pre-filter has no false negatives and exact-confirms candidates, so
    * both queries have the SAME exact output.
    */
  private lazy val DecontamSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), s AS (
      |  SELECT doc_id, unnest(range(1, len(tk) - 6)) AS i, tk FROM t WHERE len(tk) >= 8
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i : i + 7], ' ') AS sg FROM s
      |), ev AS (
      |  SELECT DISTINCT sg FROM sh WHERE doc_id % 20 = 0
      |), hits AS (
      |  SELECT sh.doc_id, count(*) AS n_overlap
      |  FROM sh JOIN ev USING (sg)
      |  WHERE sh.doc_id % 20 != 0
      |  GROUP BY sh.doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  coalesce(h.n_overlap, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 20 != 0
      |ORDER BY d.doc_id""".stripMargin

  val queries: Seq[Query] = Seq(
    // The exact dedup family is SQL-matched; the MinHash/SimHash
    // variants below replay Spark's seeded XXH64 (MinHashOracle).
    Query("q_dedup_exact", (s, d) => exact(s, d),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
    Query("q_dedup_ngram_jaccard", (s, d) => ngramJaccard(s, d), NgramJaccardSql),
    // prefix-filtered variant is LOSSLESS — identical oracle.
    Query("q_dedup_jaccard_prefix", (s, d) => jaccardPrefix(s, d), NgramJaccardSql),
    // One-sided containment: same shingle CTEs, ORDERED pairs (<>), the
    // divisor is the contained side's set size only. The one-sided
    // prefix + positional pruning is lossless, so the oracle is the
    // full-index derivation.
    Query("q_dedup_containment", (s, d) => containment(s, d),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
        |  FROM tok t1
        |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
        |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
        |), pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |)
        |SELECT p.a, p.b, floor(p.inter * 1.0 / sa.n * 10000 + 0.5) / 10000 AS cont
        |FROM pairs p
        |JOIN sizes sa ON p.a = sa.doc_id
        |WHERE p.inter * 1.0 / sa.n >= 0.8
        |ORDER BY a, b""".stripMargin),
    // Near-dup links rolled up to unordered source pairs: the jaccard
    // CTEs feed a two-way doc→source join and a least/greatest fold.
    Query("q_source_overlap", (s, d) => sourceOverlap(s, d),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
        |  FROM tok t1
        |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
        |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
        |), pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), nd AS (
        |  SELECT p.a, p.b FROM pairs p
        |  JOIN sizes sa ON p.a = sa.doc_id
        |  JOIN sizes sb ON p.b = sb.doc_id
        |  WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8
        |)
        |SELECT least(da.source, db.source) AS src_a,
        |       greatest(da.source, db.source) AS src_b,
        |       count(*) AS n_links
        |FROM nd
        |JOIN documents da ON nd.a = da.doc_id
        |JOIN documents db ON nd.b = db.doc_id
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin),
    // MinHash-LSH (r14): full cross-engine replay of the seeded XXH64
    // chain — band keys reproduced bit-for-bit in DuckDB HUGEINT mod
    // 2^64 arithmetic, candidates from the replayed buckets, then the
    // same exact >= tau verify. See MinHashOracle for the generator and
    // its two loud-failure domain assumptions (ASCII, shingles < 32 B).
    Query("q_dedup_minhash_lsh", (s, d) => minhashLsh(s, d), MinHashOracle.sql),
    // SimHash (r14): same XXH64 string replay — every token occurrence
    // votes, fingerprint bits from strictly-positive vote sums, block
    // keys off the unsigned fingerprint, bit_count(xor) hamming verify.
    Query("q_dedup_simhash", (s, d) => simhash(s, d), MinHashOracle.simhashSql),
    Query("q_decontaminate", (s, d) => decontaminate(s, d), DecontamSql),
    // the bloom pre-filter has no false negatives and candidates are
    // exact-confirmed, so the OUTPUT is identical to plain decontaminate
    // — the oracle is literally shared
    Query("q_decontaminate_bloom", (s, d) => decontaminateBloom(s, d), DecontamSql),
    Query("q_dedup_delta", (s, d) => dedupDelta(s, d), {
      val where = "WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8"
      val m = DeltaBatchMod
      val r = DeltaBatchRem
      val sql = NgramJaccardSql.replace(where, s"$where AND (p.a % $m = $r OR p.b % $m = $r)")
      require(sql != NgramJaccardSql, "delta oracle WHERE anchor drifted out of NgramJaccardSql")
      sql
    }),
    Query("q_embed_neardup", (s, d) => embedNeardup(s, d),
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
        |)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  floor(list_dot_product(x.v, y.v) / (x.nrm * y.nrm) * 10000 + 0.5) / 10000 AS cos
        |FROM n x JOIN n y ON x.vec_id < y.vec_id
        |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4
        |ORDER BY a, b""".stripMargin),
    // source-grain rollup of the decontamination verdicts; rides the
    // same CTE, so the report stays exactly consistent with the per-doc
    // gate output
    Query("q_contamination_report", (s, d) => contaminationReport(s, d),
      s"""WITH v AS ($DecontamSql)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN v.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(v.n_overlap) AS BIGINT) AS total_overlaps,
         |  floor((CAST(sum(CASE WHEN v.contaminated THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS contamination_rate
         |FROM v JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin)
  )
}
