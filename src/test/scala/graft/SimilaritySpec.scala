package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("int8 quantization stays in range with error bounded by half a step") {
    val q = graft.similarity.Quantize.quantized(spark, sfDir).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val scale = r.getDouble(2)
      val codes = r.getSeq[Int](3)
      assert(codes.forall(c => c >= -127 && c <= 127), "codes exceed int8 symmetric range")
      assert(scale >= 0)
    }
    val stats = SparkEntry.queries("q_embed_quantize")(spark, sfDir).collect()
    stats.foreach { r =>
      val (scale, err) = (r.getDouble(2), r.getDouble(3))
      // round-half-up quantization error is at most scale/2 (+ round4 slack)
      assert(err <= scale / 2 + 1e-4, s"vec ${r.getLong(0)}: err $err > scale/2 ${scale / 2}")
    }
  }

  test("brute kNN returns exactly top-5 per query with valid ranks and cosine range") {
    val knn = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
    val counts = knn.groupBy("q_id").count().collect()
    assert(counts.length == graft.similarity.Knn.NumQueries)
    counts.foreach(r => assert(r.getLong(1) == 5))
    assert(knn.filter(col("cos") < -1.0001 || col("cos") > 1.0001).count() == 0)
    assert(knn.filter(col("nbr_id") === col("q_id")).count() == 0, "self-match excluded")
  }

  test("LSH ANN recall vs brute force clears the theory floor for this corpus") {
    val brute = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("q_ann_lsh")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    // Neighbors on this synthetic corpus sit at cosine 0.26-0.49 where
    // 8x8-bit banding with 1-bit multi-probe predicts ~0.5-0.8 recall;
    // 0.35 is the regression floor, not the target (clustered corpora
    // reach ~1.0 with the same settings).
    assert(recall >= 0.35, s"ANN recall collapsed: $recall")
  }

  test("q_ann_recall matches the set-computed recall of ANN vs brute force, per query") {
    val brute = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ann = SparkEntry.queries("q_ann_lsh")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bByQ = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val aByQ = ann.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = SparkEntry.queries("q_ann_recall")(spark, sfDir).collect()
    assert(rows.length == graft.similarity.Knn.NumQueries, "one row per query, misses included")
    rows.foreach { r =>
      val (q, nExact, nAnn, nHit, recall) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nExact == bByQ(q).size.toLong)
      assert(nAnn == aByQ.getOrElse(q, Set.empty[Long]).size.toLong)
      assert(nHit == bByQ(q).intersect(aByQ.getOrElse(q, Set.empty[Long])).size.toLong)
      val expected = math.floor(nHit.toDouble / nExact.toDouble * 10000 + 0.5) / 10000
      assert(recall == expected, s"q $q: recall $recall != $expected")
      assert(nHit <= math.min(nExact, nAnn))
    }
    // n_exact is k for every query, so the table's micro recall equals
    // the overall set recall the floor test above measures.
    val micro = rows.map(_.getLong(3)).sum.toDouble / rows.map(_.getLong(1)).sum
    assert(micro >= 0.35, s"aggregate recall collapsed: $micro")
  }

  test("q_ann_recall_ivf matches the set-computed recall of the IVF probe vs brute force") {
    // r17: the QA gate for the family's OTHER index — five queries ride
    // the IVF coarse probe but only LSH had a recall row.
    val brute = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bByQ = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val aByQ = ivf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = SparkEntry.queries("q_ann_recall_ivf")(spark, sfDir).collect()
    assert(rows.length == graft.similarity.Knn.NumQueries, "one row per query, misses included")
    rows.foreach { r =>
      val (q, nExact, nAnn, nHit, recall) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nExact == bByQ(q).size.toLong)
      assert(nAnn == aByQ.getOrElse(q, Set.empty[Long]).size.toLong)
      assert(nHit == bByQ(q).intersect(aByQ.getOrElse(q, Set.empty[Long])).size.toLong)
      val expected = math.floor(nHit.toDouble / nExact.toDouble * 10000 + 0.5) / 10000
      assert(recall == expected, s"q $q: recall $recall != $expected")
      assert(nHit <= math.min(nExact, nAnn))
    }
    val micro = rows.map(_.getLong(3)).sum.toDouble / rows.map(_.getLong(1)).sum
    info(f"IVF micro recall@${graft.similarity.Knn.TopK}: $micro%.3f")
    // r18 floor: the constant-nprobe policy (IvfAnn.MaxProbes = 32, set
    // from the recall curve in its scaladoc) measures 0.91–1.00 everywhere
    // (2k/20k/200k-vector corpora and both 500-vector fixtures); 0.8 is
    // the gate with margin — matching the LSH leg's bar.
    assert(micro >= 0.8, s"IVF recall below the r18 floor: $micro")
  }

  test("q_hybrid_search RRF fusion: query doc excluded, ranks dense, scores recompute") {
    import graft.similarity.Hybrid
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val vecIds = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val qDoc = docs.filter(d => vecIds.contains(d._1)).maxBy(d => (d._2, -d._1))._1
    val rows = SparkEntry.queries("q_hybrid_search")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 2 * Hybrid.TopN)
    assert(!rows.exists(_.getLong(0) == qDoc), "query doc must not retrieve itself")
    val lexRanks = rows.map(_.getLong(1)).filter(_ != -1L).sorted
    val semRanks = rows.map(_.getLong(2)).filter(_ != -1L).sorted
    assert(lexRanks.sameElements(1L to lexRanks.length), "lex ranks must be dense 1..n")
    assert(semRanks.sameElements(1L to semRanks.length), "sem ranks must be dense 1..n")
    assert(semRanks.length == math.min(Hybrid.TopN, vecIds.size - 1))
    rows.foreach { r =>
      val (lex, sem, rrf) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val raw = (if (lex != -1L) 1.0 / (Hybrid.RrfK + lex) else 0.0) +
        (if (sem != -1L) 1.0 / (Hybrid.RrfK + sem) else 0.0)
      val expected = math.floor(raw * 10000 + 0.5) / 10000
      assert(rrf == expected, s"doc ${r.getLong(0)}: rrf $rrf != $expected")
    }
    // Fused order is by rrf desc (doc_id tiebreak): verify the sort key.
    val sortKeys = rows.map(r => (-r.getDouble(3), r.getLong(0)))
    assert(sortKeys.sameElements(sortKeys.sorted), "output must be ordered by (rrf desc, doc_id)")
  }

  test("LSH band keys stay fine-grained: buckets bounded, cardinality scales") {
    val bands = graft.similarity.LshAnn.corpusBands(spark, sfDir)
    val n = bands.filter(col("band") === 0).count()
    val buckets = bands.groupBy("band", "key").count()
    val maxBucket = buckets.agg(max("count")).collect()(0).getLong(0)
    // A 4-bit key space (16 buckets) would force maxBucket >= n/16; the
    // 8-bit bands must do much better — no bucket may hold more than 10%
    // of the corpus, so the candidate join stays ~linear, not n^2/16.
    assert(maxBucket <= n / 10, s"hot LSH bucket: $maxBucket of $n corpus vectors")
    val perBand = buckets.groupBy("band").count().collect()
    assert(perBand.length == graft.similarity.LshAnn.NumBands)
    // Each band should spread the corpus over many distinct keys.
    perBand.foreach(r => assert(r.getLong(1) >= 32, s"band ${r.get(0)} has only ${r.getLong(1)} distinct keys"))
  }

  test("IVF ANN recall vs brute force clears the floor and cells stay balanced") {
    val brute = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sfDir)
      .select("q_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // 0.8 = the r18 recall floor (see the q_ann_recall_ivf gate above).
    assert(recall >= 0.8, s"IVF recall below the r18 floor: $recall")
    // Cell balance: probing nprobe of k cells only pays off if no cell
    // hoards the corpus; bound the largest cell.
    val cells = graft.similarity.IvfAnn.assignments(spark, sfDir).groupBy("cell").count()
    val n = cells.agg(sum("count")).collect()(0).getLong(0)
    val maxCell = cells.agg(max("count")).collect()(0).getLong(0)
    assert(maxCell <= n / 5, s"hot IVF cell: $maxCell of $n vectors")
  }

  test("IVF-PQ recall vs brute force clears the floor; rerank emits exact cosines") {
    val brute = SparkEntry.queries("q_knn_cosine")(spark, sfDir)
      .select("q_id", "nbr_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = SparkEntry.queries("q_ann_ivfpq")(spark, sfDir)
      .select("q_id", "nbr_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recall = pq.keySet.intersect(brute.keySet).size.toDouble / brute.size
    // PQ only SELECTS candidates (ADC top-RerankDepth within probed
    // cells); the float rerank re-orders them exactly, so recall loss
    // comes from probe misses + ADC cutting true neighbors below the
    // rerank depth. Same floor as IVF-Flat: the rerank depth (4×k)
    // absorbs the quantization noise at this corpus size.
    assert(recall >= 0.35, s"IVF-PQ recall collapsed: $recall")
    // The rerank stage must emit EXACT cosines: wherever PQ and brute
    // agree on a neighbor, the rounded score must match bit-for-bit.
    for ((pair, cos) <- pq if brute.contains(pair))
      assert(cos == brute(pair), s"reranked cos for $pair is not exact: $cos vs ${brute(pair)}")
  }

  test("PQ codes honor the one-byte storage contract and rebuild deterministically") {
    val c1 = graft.similarity.IvfPq.codes(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val m = graft.similarity.IvfPq.subspacesFor(64)
    assert(c1.values.forall(_.length == m), s"every vector must carry $m codes")
    // One byte per code is the compression contract: 64 float32 dims →
    // m bytes (32×). A code outside [0, 256) breaks it silently.
    assert(c1.values.forall(_.forall(c => c >= 0 && c < graft.similarity.IvfPq.MaxCodes)),
      "code outside the one-byte range")
    // Seeded build: encoding twice must produce identical codes.
    val c2 = graft.similarity.IvfPq.codes(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 == c2, "PQ encoding is not deterministic across rebuilds")
  }

  test("kNN graph covers every vector, ranks densely, and agrees with ivfTopK on its query subset") {
    val g = SparkEntry.queries("q_knn_graph")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(g.map(_._1).distinct.length == n, "every corpus vector must have a neighbor list")
    g.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to byRank.length).toSeq, s"q=$q ranks not dense")
      assert(byRank.length <= graft.similarity.Knn.TopK, s"q=$q too many neighbors")
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sortBy(-_).toSeq, s"q=$q cos not sorted")
      assert(rows.forall(_._2 != q), s"q=$q self-pair leaked")
    }
    // Same index construction (deterministic sample + seeded k-means) as
    // ivfTopK: on the shared query subset the two must agree exactly.
    val sub = g.filter(_._1 < graft.similarity.Knn.NumQueries).toSet
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(sub == ivf, "knnGraph diverges from ivfTopK on the shared query subset")
  }

  test("ANN produces ranked top-k per query from bucketed candidates only") {
    val ann = SparkEntry.queries("q_ann_lsh")(spark, sfDir)
    assert(ann.groupBy("q_id").count().filter(col("count") > 5).count() == 0)
    assert(ann.filter(col("rn") < 1 || col("rn") > 5).count() == 0)
  }
}
