package graft.similarity

import graft.{Num, Query}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate nearest neighbors via random-hyperplane (SimHash-style)
  * LSH: each vector gets a NumBits-bit signature (sign of the dot product
  * against fixed pseudo-random hyperplanes), signatures are cut into
  * bands, and candidate pairs form ONLY inside an equi-join on
  * (band index, band value). Exact cosine is computed on candidates and
  * ranked — the quadratic all-pairs term never materializes, which is
  * the property that survives a 100 TB corpus.
  *
  * Scale dials:
  * - BandBits governs corpus-side selectivity: each band has 2^BandBits
  *   buckets, so expected candidate volume per band is ~ q·n/2^BandBits
  *   for q queries over n vectors. 8-bit bands = 256 buckets; widen
  *   BandBits as the corpus grows (the constants are the single place to
  *   change) — 16-bit bands carry ~10^9 corpora.
  * - Recall is recovered on the QUERY side via multi-probe (Lv et al.,
  *   VLDB'07): each query probes a band's exact bucket plus every
  *   single-bit-flip bucket (BandBits+1 probes). Probing multiplies only
  *   the tiny query side (q·bands·(BandBits+1) keys); the corpus index
  *   stays ONE key per band per vector, so the index build and the join
  *   remain linear in n.
  *
  * Per-bit collision probability p = 1 - θ/π. Per band, a true neighbor
  * is found with prob p^8 + 8·p^7·(1-p) (exact bucket or one flipped
  * bit). On this synthetic corpus true neighbors sit at cosine
  * 0.26-0.49 → predicted recall ~0.5-0.8 across 8 bands; the spec
  * asserts the measured floor. Clustered real-world corpora (neighbors
  * at cosine 0.8+) land near 1.0 with the same settings.
  */
object LshAnn {

  val Dim = 64
  val NumBits = 64
  val NumBands = 8
  val BandBits: Int = NumBits / NumBands
  private val BandMask: Long = (1L << BandBits) - 1

  /** Fixed hyperplanes from a seeded PRNG: deterministic across runs
    * and executors — the exact table used since r3, now owned by
    * LshSigExpr (the fused signature Expression) and aliased here for
    * the specs that replay the per-plane composition.
    */
  private[similarity] val hyperplanes: Array[Array[Double]] =
    graft.functions.LshSigExpr.planes

  /** signature bit i = (v · plane_i) > 0, packed into a long, via the
    * fused `graft_lsh_sig` codegen Expression (r13). The r3-r12 form —
    * 64 `graft_dot(e, <64 literal doubles>)` columns OR-folded —
    * shipped ~80 KB of plane literals into every LSH plan (0.6 s of
    * driver parse/analyze per query build, measured) and re-read the
    * vector through ArrayData accessors once per plane; the fused
    * Expression carries the planes as one reference object and is
    * bit-identical by construction for non-null vectors (LshSigExprSpec
    * pins the identity against the per-plane composition). Null
    * embeddings now yield a NULL signature (the composition produced
    * 0L): null band keys never collide, so embedding-less rows drop out
    * of candidate generation — the intended contract, spec-pinned.
    */
  private[similarity] def signature(vecCol: String): Column =
    expr(s"graft_lsh_sig($vecCol)")

  private def bandKey(sig: Column, j: Int): Column =
    shiftright(sig, j * BandBits).bitwiseAND(lit(BandMask))

  /** Corpus-side band index over a (vec_id, e, norm, sig) frame:
    * exactly ONE (band, key) row per band per vector — the linear-in-n
    * structure.
    */
  private def bandsOf(v: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { j =>
      struct(lit(j).as("band"), bandKey(col("sig"), j).as("key"))
    }
    v.select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Standalone corpus band index, exposed for the bucket-bound spec
    * (band-key cardinality must scale with the corpus).
    */
  private[graft] def corpusBands(spark: SparkSession, dir: String): DataFrame =
    bandsOf(Knn.vectors(spark, dir).withColumn("sig", signature("e")))

  /** 1-bit multi-probe band keys of a signed frame: each band's exact
    * key plus every single-bit flip — the ONE probing scheme both the
    * query path and the pair path use (BandBits+1 keys per band).
    */
  private def probesOf(v: DataFrame, idCol: String): DataFrame = {
    val probeCols = for {
      j <- 0 until NumBands
      probe <- {
        val key = bandKey(col("sig"), j)
        key +: (0 until BandBits).map(b => key.bitwiseXOR(lit(1L << b)))
      }
    } yield struct(lit(j).as("band"), probe.as("key"))
    v.select(col("vec_id").as(idCol), explode(array(probeCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Corpus-wide near-dup PAIRS (the scale path for embedding dedup,
    * vs Dedup.embedNeardup's exact-all-pairs oracle): candidates form in
    * a band self-join, with 1-bit multi-probe applied to ONE side only —
    * bounded ×(BandBits+1) fanout on that side, never a squared probe
    * space — then exact cosine verifies every candidate, so false
    * positives are impossible and the miss rate is the banding theory's
    * (measured against the exact oracle in the spec).
    */
  def neardupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val v = graft.Staging.staged(
      Knn.vectors(spark, dir).withColumn("sig", signature("e")), "lsh_neardup")
    val bands = bandsOf(v)
    val candidates = probesOf(v, "a")
      .join(bands.toDF("b", "band2", "key2"),
        col("band") === col("band2") && col("key") === col("key2") && col("a") < col("b"))
      .select("a", "b")
      .distinct()
    // Not a bare orderBy: an unstaged sort's sampling pass would re-run
    // the candidate verify joins and their dot products.
    graft.Staging.sorted(
      candidates
        .join(v.select(col("vec_id").as("a2"), col("e").as("ea"), col("norm").as("na")), col("a") === col("a2"))
        .join(v.select(col("vec_id").as("b2"), col("e").as("eb"), col("norm").as("nb")), col("b") === col("b2"))
        .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("a"), col("b"), Num.round4(col("cos")).as("cos")),
      "lsh_pairs", "a", "b")()
  }

  /** Top-k approximate neighbors for each query vector (same query set
    * as Knn.bruteTopK so recall is directly measurable).
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    // Staged once (graft.Staging — persist or scratch parquet): the
    // banding, the query probes, and both sides of the candidate-scoring
    // join otherwise EACH re-scan the corpus and re-evaluate the
    // 64-hyperplane signature projection.
    val v = graft.Staging.staged(
      Knn.vectors(spark, dir).withColumn("sig", signature("e")), "lsh_ann")
    val bands = bandsOf(v)
    // Query side: multi-probe — exact band key plus every 1-bit flip.
    val queryBands = probesOf(v.filter(col("vec_id") < Knn.NumQueries), "q_id")
    val candidates = queryBands
      .join(bands.toDF("nbr_id", "band2", "key2"), col("band") === col("band2") && col("key") === col("key2") && col("nbr_id") =!= col("q_id"))
      .select("q_id", "nbr_id")
      .distinct()
    val scored = candidates
      .join(v.select(col("vec_id").as("q_id2"), col("e").as("qe"), col("norm").as("qn")), col("q_id") === col("q_id2"))
      .join(v.select(col("vec_id").as("n_id2"), col("e").as("ce"), col("norm").as("cn")), col("nbr_id") === col("n_id2"))
      .withColumn("dot", expr("graft_dot(qe, ce)"))
      .withColumn("cos", col("dot") / (col("qn") * col("cn")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    // Rank filter before the long cast → native WindowGroupLimit (r15).
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Knn.TopK)
      .select(col("q_id"), col("nbr_id"), Num.round4(col("cos")).as("cos"),
        col("rn").cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  val queries: Seq[Query] = Seq(
    // LSH embedding queries (r14): fully oracle-backed after all — the
    // hyperplane table inlines as round-trip double literals and
    // DuckDB's list_dot_product matches graft_dot's accumulation order
    // bit-for-bit (the identity q_knn_cosine's oracle has relied on
    // since r3), so signatures, band keys, multi-probe, and the exact
    // cosine verify all replay. See LshOracle.
    Query("q_embed_neardup_lsh", (s, d) => neardupPairs(s, d), LshOracle.neardupSql),
    Query("q_ann_lsh", (s, d) => annTopK(s, d), LshOracle.annSql)
  )
}
