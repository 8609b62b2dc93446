package graft.similarity

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF-PQ approximate nearest neighbors: the coarse IVF quantizer from
  * `IvfAnn` plus per-subspace product-quantization codebooks (Jégou
  * et al., "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011) — the index family that makes a 100 TB vector corpus
  * SEARCHABLE IN MEMORY. IVF-Flat prunes which vectors are scored but
  * still reads full float vectors for every probed candidate; at scale
  * the scan of probed cells is bandwidth-bound on d·4 bytes per row. PQ
  * replaces the stored vector with m one-byte codes (64-dim float32 →
  * 8 bytes, 32×), and asymmetric-distance scoring (ADC) replaces the
  * d-multiply dot product with m table lookups per candidate.
  *
  * Index build: unit vectors are split into m contiguous subspaces of
  * dim d/m; each subspace gets its own k-means codebook (k_pq derived
  * from corpus size like IVF's cell count, clamped to 256 so a code
  * always fits ONE BYTE — the storage contract that gives PQ its
  * compression). Codebooks train on the same hash-ordered capped sample
  * contract as the coarse quantizer (cost grows with √n, not n), and
  * encoding is m chained per-row model predictions — scan-local, no
  * shuffle beyond the one assignment pass IVF already pays.
  *
  * Query (ADC + exact rerank): per query, ONE lookup table of
  * m·k_pq partial dot products is computed scan-side from the flat
  * codebook (a single bounded literal — m·256·(d/m) doubles ≤ 128 KB,
  * one Literal node like decontaminateBloom's sketch, NOT k expression
  * nodes). Candidates in probed cells score as Σ_j lut[j·k_pq +
  * code_j] — m array lookups, never touching candidate floats. The ADC
  * top `RerankDepth` per query then pay an exact cosine rerank (the
  * standard PQ + rerank pipeline: PQ selects, floats re-order), so the
  * emitted `cos` is exact for whatever the index surfaced and recall
  * is directly measurable against `Knn.bruteTopK`.
  *
  * PQ here encodes unit vectors directly rather than cell residuals —
  * one codebook set shared across cells (residual PQ needs per-query
  * per-cell tables: nprobe× the LUT work). The recall trade is absorbed
  * by the exact rerank stage; the spec pins the floor.
  */
object IvfPq {

  /** Subspace count: 8 one-byte codes per vector. Chosen to divide the
    * corpus dim (64 → 8-dim subspaces); `subspacesFor` degrades to the
    * largest divisor ≤ 8 for other dims rather than failing.
    */
  val NumSubspaces = 8

  /** One byte per code — exceeding 256 would silently double storage. */
  val MaxCodes = 256
  val MinCodes = 4

  /** ADC candidates per query that pay the exact float rerank. */
  val RerankDepth: Int = 4 * Knn.TopK

  private[graft] def subspacesFor(d: Int): Int =
    (NumSubspaces to 1 by -1).find(m => d % m == 0).getOrElse(1)

  /** k_pq ≈ √n like the IVF cell derivation (quantizer-training
    * feasibility at the top, k ≤ points at the bottom).
    */
  private[graft] def numCodesFor(n: Long): Int = {
    val root = math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt
    math.min(math.max(root, MinCodes), MaxCodes).min(math.max(n, 1L).min(Int.MaxValue).toInt)
  }

  /** Fixed Lloyd rounds per codebook fit (replay-unrolled, like the
    * coarse quantizer's `IvfAnn.LloydIters`).
    */
  val PqLloydIters = 10

  /** Train the m per-subspace codebooks on a hash-ordered capped sample
    * of any frame carrying a unit-vector column `u` — ONE driver
    * collect shared by all m fits (each fit slices its subspace out of
    * the same sample rows), then m deterministic `KMeansFit` runs.
    * Replayable end-to-end: same sample-order contract as the coarse
    * quantizer, no RNG anywhere (the pre-r15 Spark-ML version used seeded
    * random init; the hash-prefix init IS random init without a seed,
    * and PQ codebook quality differences are absorbed by the exact
    * rerank stage — the recall-floor spec pins that this stays true).
    */
  private[graft] def fitCodebooks(
      v: DataFrame, kPq: Int, m: Int, dsub: Int): Array[Array[Array[Double]]] = {
    val pts = IvfAnn.collectSample(v, math.max(4096, 8 * kPq))
    Array.tabulate(m) { j =>
      val sub = pts.map(u => java.util.Arrays.copyOfRange(u, j * dsub, (j + 1) * dsub))
      KMeansFit.fit(sub, kPq, PqLloydIters)
    }
  }

  /** Corpus PQ codes: (vec_id, codes) with codes an m-length array of
    * ints in [0, k_pq) — the 8-byte searchable representation. Each
    * code is one scan-local `graft_argmin_cell` over the sliced unit
    * vector (the codebook rides along as a bounded flat literal object
    * — m·kPq·dsub doubles ≤ 128 KB total by the one-byte-code
    * contract); no coarse assignment involved, no shuffle.
    */
  private[graft] def encodeCodes(
      v: DataFrame, codebooks: Array[Array[Array[Double]]], dsub: Int): DataFrame =
    v.select(col("vec_id"), array(codebooks.zipWithIndex.map { case (cb, j) =>
      call_function("graft_argmin_cell",
        expr(s"slice(u, ${j * dsub + 1}, $dsub)"), typedLit(cb.flatten), lit(cb.length))
    }.toIndexedSeq: _*).as("codes"))

  /** Version tag for the published PQ artifacts (codebook + codes). */
  val PqArtifactVersion = "ivfpq-msub-kpq-sqrtn-hashinit-v3"

  /** The PQ index through the Artifacts contract: the coarse
    * centroids + assignments from `IvfAnn.coarseFor`, and the PQ
    * codebook + corpus codes (`pq_codebook` rows (subspace, code,
    * centroid); `pq_codes` rows (vec_id, codes)). With an artifacts
    * root the ENTIRE index is lake-resident: a later query session fits
    * NOTHING and encodes NOTHING — it reads four small-to-slim parquet
    * tables and goes straight to probing, which is precisely how a
    * production vector index deploys. Without a root the same frames
    * are computed and staged.
    *
    * Returns (assigned, coarse index, codebook, codes, m, dsub).
    */
  private def pqIndexFor(spark: SparkSession, dir: String)
      : (DataFrame, IvfAnn.CoarseIndex, DataFrame, DataFrame, Int, Int) = {
    import spark.implicits._
    val (assigned, idx) = IvfAnn.coarseFor(spark, dir)
    val d = assigned.select(size(col("u"))).head().getInt(0)
    val m = subspacesFor(d)
    val dsub = d / m
    val deps = Seq(s"$dir/embeddings.parquet")
    // Codebooks train only when a frame is computed; the lazy is shared
    // by both closures, so a cold publish pays ONE training round.
    lazy val codebooks = fitCodebooks(assigned, numCodesFor(assigned.count()), m, dsub)
    val codebook = graft.sources.Artifacts.publishedOrCompute(
      spark, "pq_codebook", PqArtifactVersion, deps)(
      codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, code) => (j, code, c) }
      }.toSeq.toDF("subspace", "code", "centroid"))
    val codes = graft.sources.Artifacts.publishedOrCompute(
      spark, "pq_codes", PqArtifactVersion, deps)(
      encodeCodes(assigned, codebooks, dsub))
    (assigned, idx, codebook, codes, m, dsub)
  }

  /** Top-k approximate neighbors, ADC-selected and exactly reranked —
    * same query set and output shape as `Knn.bruteTopK` / `IvfAnn
    * .ivfTopK`, so recall is directly comparable across the family.
    * The index comes from `pqIndexFor`.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, idx, codebook, codes, m, dsub) = pqIndexFor(spark, dir)
    val kPq = codebook.agg(max("code")).head().getInt(0) + 1
    val flatCb: Array[Double] = codebook.orderBy("subspace", "code")
      .select("centroid").collect().flatMap(_.getSeq[Double](0))
    val encoded = assigned
      .join(codes, "vec_id")
      .select(col("vec_id"), col("e"), col("norm"), col("cell"), col("codes"))
    adcQuery(spark, assigned, encoded, idx, flatCb, m, kPq, dsub)
  }

  /** The shared ADC + exact-rerank query tail. `v` supplies the query
    * rows (vec_id, e, norm, u); `encoded` the candidate side.
    */
  private def adcQuery(
      spark: SparkSession,
      v: DataFrame,
      encoded: DataFrame,
      idx: IvfAnn.CoarseIndex,
      flatCb: Array[Double],
      m: Int,
      kPq: Int,
      dsub: Int): DataFrame = {
    // Flat codebook literal: cb[(j·k_pq + c)·dsub + t] = element t of
    // centroid c of subspace j. ONE bounded array literal (≤ 128 KB).
    // Per-query LUT: lut[j·k_pq + c] = u_sub_j · cb_j[c]. Computed once
    // per QUERY row (before the cell fanout), scan-local.
    val lutExpr =
      s"""transform(sequence(0, ${m * kPq - 1}), i ->
         |  aggregate(sequence(0, ${dsub - 1}), cast(0.0 as double),
         |    (acc, t) -> acc + u[(i div $kPq) * $dsub + t] * cb[i * $dsub + t]))""".stripMargin
    val queries = v
      .filter(col("vec_id") < Knn.NumQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("norm").as("qn"), col("u"))
      .withColumn("cb", typedLit(flatCb))
      .withColumn("lut", expr(lutExpr))
      .drop("cb")
    val probes = IvfAnn.probeCells(spark, queries, idx)
      .select("q_id", "qe", "qn", "lut", "cell")
    // ADC: m lookups per candidate — candidate floats never read here.
    val adc = probes
      .join(
        encoded.toDF("nbr_id", "ce", "cn", "cell2", "codes"),
        col("cell2") === col("cell") && col("nbr_id") =!= col("q_id"))
      .withColumn(
        "adc",
        expr(s"aggregate(sequence(0, ${m - 1}), cast(0.0 as double), (acc, j) -> acc + lut[j * $kPq + codes[j]])"))
    val wAdc = Window.partitionBy("q_id").orderBy(col("adc").desc, col("nbr_id").asc)
    Knn.topKPerQuery(adc
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= RerankDepth))
  }

  /** Codes frame alone (vec_id, codes), exposed for the storage-contract
    * and determinism specs — the frame ivfPqTopK joins, from the same
    * `pqIndexFor` build.
    */
  private[graft] def codes(spark: SparkSession, dir: String): DataFrame =
    pqIndexFor(spark, dir)._4

  val queries: Seq[Query] = Seq(
    Query("q_ann_ivfpq", (s, d) => ivfPqTopK(s, d), KMeansOracle.annIvfPqSql)
  )
}
