package graft

import graft.dedup.{Dedup, DedupWitnesses}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exact dedup keeps every doc when all texts are distinct") {
    val docs = Tables.documents(spark, sfDir)
    val deduped = SparkEntry.queries("q_dedup_exact")(spark, sfDir)
    // sf0.001 has no exact dups: result must be the identity grouping.
    assert(deduped.count() == docs.count())
    assert(deduped.filter(col("n_copies") =!= 1).count() == 0)
  }

  test("minhash-LSH matches exact ngram-Jaccard pairs with high recall and no false positives") {
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data must contain near-dup pairs")
    // Verified candidates can never be false positives (exact Jaccard
    // filter runs after LSH), so LSH ⊆ exact...
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // ...and banding theory at jac>=0.8 with 8 bands of 4 gives ~0.98
    // per-pair recall.
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall too low")
  }

  test("q_dedup_recall is the exact pair table with found = LSH membership") {
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SparkEntry.queries("q_dedup_recall")(spark, sfDir).collect()
    // One row per exact pair — misses included as found = 0, never dropped.
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val (pair, jac, found) = ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getLong(3))
      assert(exact(pair) == jac, s"$pair: jac $jac != exact ${exact(pair)}")
      assert(found == (if (lsh(pair)) 1L else 0L), s"$pair: found flag wrong")
    }
    // LSH ⊆ exact (verify runs the identical Jaccard), so the table's
    // found-fraction IS the recall the set-based test above measures.
    val recall = rows.map(_.getLong(3)).sum.toDouble / rows.length
    assert(recall >= 0.85, s"recall $recall too low")
  }

  test("q_index_stats recomputes from the band frame and is skew-faithful") {
    val bands = Dedup.minhashBandsOf(Dedup.shingleArrays(spark, sfDir))
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    val byBand = bands.groupBy(_._1).view.mapValues { ks =>
      val sizes = ks.groupBy(_._2).map(_._2.length.toLong).toSeq
      (sizes.sum, sizes.length.toLong, sizes.max,
        sizes.map(c => c * (c - 1) / 2).sum, sizes.count(_ == 1L).toLong)
    }.toMap
    val rows = SparkEntry.queries("q_index_stats")(spark, sfDir).collect()
    assert(rows.length == Dedup.NumBands, "one row per band")
    rows.foreach { r =>
      val band = r.getLong(0).toInt
      val (nDocs, nBuckets, maxB, pairs, singles) = byBand(band)
      assert(r.getLong(1) == nDocs, s"band $band n_docs")
      assert(r.getLong(2) == nBuckets, s"band $band n_buckets")
      assert(r.getLong(3) == maxB, s"band $band max_bucket")
      assert(r.getLong(4) == pairs, s"band $band cand_pairs")
      val frac = math.floor(singles.toDouble / nBuckets * 10000 + 0.5) / 10000
      assert(r.getDouble(5) == frac, s"band $band singleton_frac")
    }
    // cand_pairs is the EXACT pre-distinct row count of the band
    // equi-join — the number the report exists to bound.
    val candRows = rows.map(_.getLong(4)).sum
    val joined = bands.groupBy(identity).map(_._2.length.toLong)
      .map(c => c * (c - 1) / 2).sum
    assert(candRows == joined)
  }

  test("prefix-filtered jaccard is lossless vs the full inverted index") {
    // q_dedup_ngram_jaccard now delegates to the prefix filter, so the
    // losslessness witness is the retained naive full-index variant.
    val full = DedupWitnesses.ngramJaccardNaive(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = SparkEntry.queries("q_dedup_jaccard_prefix")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == full, s"prefix filter must be lossless: missing=${full.diff(pref).take(5)} extra=${pref.diff(full).take(5)}")
  }

  test("prefix index bounds what feeds the pair join") {
    val sh = Dedup.shingles(Tables.documents(spark, sfDir))
    val fullRows = sh.count()
    val nDocs = sh.select("doc_id").distinct().count()
    val prefixRows = Dedup.prefixIndex(sh, 0.8).count()
    // τ=0.8 keeps n - ceil(0.8n) + 1 <= 0.2n + 1 shingles per doc: the
    // pair join must see at most ~a fifth of the inverted index, which
    // is what cuts the Σ df² hot-shingle term by (1-τ)².
    assert(prefixRows <= (fullRows * 0.2).toLong + nDocs,
      s"prefix index too large: $prefixRows of $fullRows rows over $nDocs docs")
  }

  test("PPJoin+ filters cut the candidate set and lose no qualifying pair") {
    import org.apache.spark.sql.functions._
    // sf0.1, not the suite default: the filters bite where length
    // spread and hot shingles exist (at sf0.001/sf0.01 every prefix
    // collision is already a near-dup, so there is nothing to cut —
    // raw == filtered == 25-28 there, vs 118k -> 39k at sf0.1).
    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    val arr = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(Dedup.ShingleArraySql).as("sh"))
    val sh = arr.select(col("doc_id"), explode(col("sh")).as("sg"))
    val prefix = Dedup.prefixIndex(sh, 0.8)
    // raw prefix-collision candidates (what the pre-r11 verify paid for)
    val raw = prefix.select(col("doc_id").as("a"), col("sg"))
      .join(prefix.select(col("doc_id").as("b"), col("sg")), Seq("sg"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    // candidates surviving the length + positional filters = what the
    // exact verify actually pays now (re-derived with the same algebra)
    val eps = 1e-9
    val filtered = prefix
      .select(col("doc_id").as("a"), col("sg"), col("pos").as("ia"), col("n").as("na"))
      .join(prefix.select(col("doc_id").as("b"), col("sg"), col("pos").as("ib"), col("n").as("nb")), Seq("sg"))
      .filter(col("a") < col("b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(0.8) * greatest(col("na"), col("nb")).cast("double") - lit(eps))
      .withColumn("bound",
        least(col("ia"), col("ib")) + least(col("na") - col("ia"), col("nb") - col("ib")))
      .groupBy("a", "b", "na", "nb").agg(max("bound").as("bound"))
      .filter(col("bound").cast("double") * lit(1.8) >=
        lit(0.8) * (col("na") + col("nb")).cast("double") - lit(eps))
      .select("a", "b").count()
    val truePairs = SparkEntry.queries("q_dedup_jaccard_prefix")(spark, "/root/testdata/sf0.1").count()
    assert(filtered < raw,
      s"PPJoin+ filters must strictly cut candidates: raw=$raw filtered=$filtered")
    assert(filtered >= truePairs, "filters must keep every qualifying pair")
    // losslessness itself is pinned by the naive-parity test above
    spark.catalog.clearCache()
  }

  test("simhash pairs are ordered, within hamming bound, and include the strongest near-dups") {
    val sh = SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
    assert(sh.filter(col("a") >= col("b")).count() == 0, "pairs must be a<b")
    assert(sh.filter(col("hamming") > 3).count() == 0)
    assert(sh.count() > 0, "near-dup corpus must produce simhash pairs")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val nd = SparkEntry.queries("q_embed_neardup")(spark, sfDir)
    assert(nd.count() > 0)
    assert(nd.filter(col("a") >= col("b")).count() == 0)
    assert(nd.filter(col("cos") < 0.4).count() == 0)
  }

  test("LSH embed near-dup is a verified subset of the exact pairs with usable recall") {
    val exact = SparkEntry.queries("q_embed_neardup")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_embed_neardup_lsh")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), s"exact verify forbids false positives: ${lsh.diff(exact).take(5)}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    // This corpus's qualifying pairs sit barely above τ=0.4 (cosine
    // 0.4-0.5), the worst case for hyperplane banding — theory predicts
    // ~0.7 with 1-bit multi-probe; real near-dup corpora (cos 0.9+)
    // approach 1.0. Floor is the regression guard.
    assert(recall >= 0.4, s"LSH near-dup recall collapsed: $recall")
  }

  test("decontamination flags exactly the non-eval docs sharing an 8-gram with the eval split") {
    import spark.implicits._
    // doc 0 is eval (id % 20 == 0); doc 21 copies 8 of its consecutive
    // tokens, doc 22 shares only a 7-gram (one token changed), doc 23 is
    // clean, doc 24 is too short to carry an 8-gram.
    val evalText = "a b c d e f g h i j"
    val docs = Seq(
      (0L, evalText),
      (21L, "x y a b c d e f g h"),
      (22L, "a b c d e f g X i j"),
      (23L, "entirely different words with no overlap at all here ok"),
      (24L, "a b c")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(21L, 22L, 23L, 24L), "eval docs excluded, all others covered")
    assert(out(21L) == (1L, true), s"doc 21 shares one 8-gram: ${out(21L)}")
    assert(out(22L) == (0L, false), "a 7-gram overlap must NOT flag")
    assert(out(23L) == (0L, false))
    assert(out(24L) == (0L, false), "short docs carry no 8-gram")
  }

  test("bloom decontamination output is IDENTICAL to exact decontamination") {
    import spark.implicits._
    // Same fixture as the exact test: the bloom path must reproduce it
    // bit-for-bit (no false negatives from the sketch, false positives
    // removed by the confirm join).
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (21L, "x y a b c d e f g h"),
      (22L, "a b c d e f g X i j"),
      (23L, "entirely different words with no overlap at all here ok"),
      (24L, "a b c")
    ).toDF("doc_id", "text")
    val exact = Dedup.decontaminateOf(docs).collect().toSeq
    val bloom = Dedup.decontaminateBloomOf(docs).collect().toSeq
    assert(bloom == exact, s"bloom path diverged: $bloom vs $exact")
    // ...and on the real corpus, where near-dups stress the sketch.
    val exactC = SparkEntry.queries("q_decontaminate")(spark, sfDir).collect().toSeq
    val bloomC = SparkEntry.queries("q_decontaminate_bloom")(spark, sfDir).collect().toSeq
    assert(bloomC == exactC, "bloom path diverged on the sf corpus")
  }

  test("contamination report is the exact source-grain rollup of the decontamination verdicts") {
    val rep = SparkEntry.queries("q_contamination_report")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val verdicts = SparkEntry.queries("q_decontaminate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = verdicts.groupBy(v => srcOf(v._1))
    assert(rep.keySet == bySrc.keySet, "report must cover every source with non-eval docs")
    for ((src, vs) <- bySrc) {
      val (nDocs, nContam, totOverlap, rate) = rep(src)
      assert(nDocs == vs.length, s"$src n_docs")
      assert(nContam == vs.count(_._3), s"$src n_contaminated")
      assert(totOverlap == vs.map(_._2).sum, s"$src total_overlaps")
      assert(rate == math.floor(nContam.toDouble / nDocs * 10000 + 0.5) / 10000, s"$src rate")
    }
  }

  test("bloom pre-filter probes at the scan and prunes the confirm-join input") {
    val docs = Tables.documents(spark, sfDir)
    val q = Dedup.decontaminateBloomOf(docs)
    // The membership probe must sit in the plan (scan-side filter)…
    assert(q.queryExecution.executedPlan.toString.contains("might_contain"),
      "bloom probe missing from the physical plan")
    // …and an empty eval set must yield an all-clean result, not a crash
    // (NULL sketch edge: BloomFilterAggregate over zero rows).
    import spark.implicits._
    val noEval = Seq((1L, "a b c d e f g h i j"), (3L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateBloomOf(noEval).collect()
    assert(out.length == 2 && out.forall(r => !r.getBoolean(2)),
      "empty eval set must mark every doc clean")
  }

  test("substrDedup removes exactly cross-doc repeated spans; unique and intra-doc-only text survives") {
    import spark.implicits._
    // 10 shared tokens > W=8: the repeated-window union must cover the
    // shared phrase EXACTLY (its 3 interior windows), nothing else.
    val shared = (1 to 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta eta theta"),
      (2L, s"one two three four five six seven eight $shared"),
      (3L, "unique words only here nothing repeats across documents at all"),
      (4L, "intra intra intra intra intra intra intra intra intra intra")
    ).toDF("doc_id", "text")
    val out = graft.dedup.SubstrDedup.substrDedupOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      s"doc 1 must lose exactly the shared phrase: ${out(1L)}")
    assert(out(2L) == (10L, "one two three four five six seven eight"),
      s"doc 2 must lose exactly the shared phrase: ${out(2L)}")
    assert(out(3L)._1 == 0L && out(3L)._2.startsWith("unique"), "unique text must survive whole")
    assert(out(4L)._1 == 0L, "a repeat WITHIN one doc is not cross-doc — MinDocs counts distinct docs")
  }

  test("substrDedup's hot-window cap is inert on the corpus and prunes a planted viral window") {
    import spark.implicits._
    // Inert on real data: the documented SubstrOccCap must change
    // nothing at sf level — capped and effectively-uncapped runs agree
    // row for row (the same witness pattern as ContainmentDfCap's).
    val docs = Tables.documents(spark, sfDir)
    val capped = graft.dedup.SubstrDedup.substrDedupOf(docs)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    val uncapped = graft.dedup.SubstrDedup.substrDedupOf(docs, occCap = Int.MaxValue)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(capped == uncapped, "SubstrOccCap must be inert on the test corpus")

    // Planted viral window: a disclaimer 8-gram pasted into MANY docs
    // overflows a small cap — the viral span is classified boilerplate
    // and NOT removed, while an ordinary 2-doc repeat in the same corpus
    // is still removed. This is the 100 TB contract: the hot key's
    // occurrence list never materializes past the cap.
    val viral = (1 to 8).map(i => s"viral$i").mkString(" ")
    val pair = (1 to 8).map(i => s"pair$i").mkString(" ")
    val planted = ((1 to 40).map(i => (i.toLong, s"u${i}a u${i}b $viral u${i}c u${i}d")) ++
      Seq((100L, s"x1 x2 x3 $pair x4 x5"), (101L, s"y1 y2 y3 $pair y4 y5")))
      .toDF("doc_id", "text")
    val out = graft.dedup.SubstrDedup.substrDedupOf(planted, occCap = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 == 0L && out(1L)._2.contains("viral1"),
      s"over-cap viral window must be skipped as boilerplate: ${out(1L)}")
    assert((1 to 40).forall(i => out(i.toLong)._1 == 0L), "no viral doc loses tokens")
    assert(out(100L) == (8L, "x1 x2 x3 x4 x5") && out(101L) == (8L, "y1 y2 y3 y4 y5"),
      s"an under-cap 2-doc repeat must still be removed: ${out(100L)}, ${out(101L)}")
    // and with the default cap the viral window IS removed (40 < 1000):
    val defaultOut = graft.dedup.SubstrDedup.substrDedupOf(planted)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(defaultOut(1L) == 8L, "under the default cap the shared phrase is a plain repeat")
  }

  test("containment surfaces the subset doc Jaccard is blind to") {
    import spark.implicits._
    // sub is a contiguous 12-token slice of big: every 3-gram of sub is
    // a 3-gram of big (containment 1.0), but Jaccard is 10/58 ≈ 0.17.
    val big = (1 to 60).map(i => s"t$i").mkString(" ")
    val sub = (21 to 32).map(i => s"t$i").mkString(" ")
    val noise1 = (1 to 30).map(i => s"n$i").mkString(" ")
    val noise2 = (1 to 25).map(i => s"m$i").mkString(" ")
    val docs = Seq((1L, big), (2L, sub), (3L, noise1), (4L, noise2)).toDF("doc_id", "text")
    val cont = Dedup.containmentOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    spark.catalog.clearCache()
    assert(cont == Seq((2L, 1L, 1.0)), s"got $cont")
    assert(Dedup.jaccardPrefixOf(docs).count() == 0,
      "symmetric near-dup must NOT see the subset pair")
    spark.catalog.clearCache()
  }

  test("containment hot-shingle guard: inert below the cap, prunes boilerplate above it") {
    import spark.implicits._
    // The documented bound (ContainmentDfCap) must change NOTHING on the
    // test corpora: max 3-gram df there is far below the cap, so capped
    // and uncapped are row-identical.
    val corpus = Tables.documents(spark, sfDir)
    val maxDf = Dedup.shingles(corpus)
      .groupBy("sg").agg(count(lit(1)).as("df"))
      .agg(max("df")).collect()(0).getLong(0)
    assert(maxDf < Dedup.ContainmentDfCap,
      s"test corpus max df $maxDf must sit below the cap for the inertness claim")
    val capped = Dedup.containmentOf(corpus).collect().toSeq
    spark.catalog.clearCache()
    val uncapped = Dedup.containmentOf(corpus, dfCap = Long.MaxValue).collect().toSeq
    spark.catalog.clearCache()
    assert(capped == uncapped, "guard must be inert when every df < cap")

    // Above the cap the guard drops pairs whose ONLY shared shingles
    // are hot (pure boilerplate: 12 identical "c1 c2 c3 c4" docs, every
    // shingle df=12 > cap=10), while a true quotation pair sharing RARE
    // shingles (doc 2 a contiguous slice of doc 1) keeps its
    // exact-verified containment.
    val big = (1 to 40).map(i => s"t$i").mkString(" ")
    val sub = (11 to 22).map(i => s"t$i").mkString(" ")
    val hotDocs = (10 to 21).map(i => (i.toLong, "c1 c2 c3 c4"))
    val docs = (Seq((1L, big), (2L, sub)) ++ hotDocs).toDF("doc_id", "text")
    val unprunedCraft = Dedup.containmentOf(docs, dfCap = Long.MaxValue).count()
    spark.catalog.clearCache()
    assert(unprunedCraft == 12L * 11L + 1L,
      s"uncapped witness must see all boilerplate pairs: $unprunedCraft")
    val pruned = Dedup.containmentOf(docs, dfCap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    spark.catalog.clearCache()
    assert(pruned == Seq((2L, 1L)),
      s"rare-shingle quotation survives, boilerplate-only pairs pruned: $pruned")
  }

  test("source overlap equals the per-source-pair rollup of the near-dup links") {
    val matrix = SparkEntry.queries("q_source_overlap")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val srcOf = Tables.documents(spark, sfDir)
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = SparkEntry.queries("q_dedup_jaccard_prefix")(spark, sfDir)
      .select("a", "b")
      .collect().map { r =>
        val (sa, sb) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        (Seq(sa, sb).min, Seq(sa, sb).max)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    spark.catalog.clearCache()
    assert(expected.nonEmpty, "test data must contain near-dup links")
    assert(matrix == expected, s"matrix=$matrix expected=$expected")
  }

  test("published pair artifact equals the inline mine; source overlap consumes it without re-mining") {
    // Inline authority: publishedPairs with no root configured is the
    // standing-index mine, and it must equal the jaccardPrefix pair set
    // exactly (same PPJoin+ pruning + exact verify, different staging).
    val authority = SparkEntry.queries("q_dedup_jaccard_prefix")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    val inline = Dedup.publishedPairs(spark, sfDir).collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(inline == authority, "inline publishedPairs must equal the jaccardPrefix authority")
    val inlineOverlap = Dedup.sourceOverlap(spark, sfDir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()

    val root = java.nio.file.Files.createTempDirectory("graft_artifacts_pairs").toString
    spark.conf.set("spark.graft.artifacts", root)
    try {
      // First call mines once and publishes the pair table...
      val pubOverlap = Dedup.sourceOverlap(spark, sfDir).collect().map(_.toSeq).toSeq
      assert(new java.io.File(s"$root/neardup_pairs").exists(), "pair artifact was not published")
      assert(pubOverlap == inlineOverlap, "published-mode overlap must equal inline mode")
      spark.catalog.clearCache()
      // ...subsequent consumers read the committed parquet and the pair
      // SET is byte-identical to the inline mine.
      val pub = Dedup.publishedPairs(spark, sfDir).collect().map(_.toSeq).toSet
      assert(pub == inline, "published pair table must equal the inline mine")
    } finally {
      spark.conf.unset("spark.graft.artifacts")
      spark.catalog.clearCache()
    }
  }

  test("minhash oracle domain assumptions hold on the corpus (ASCII, shingles < 32 bytes)") {
    // MinHashOracle replays XXH64 in DuckDB under two documented
    // assumptions: shingle strings are ASCII (ord(char) = utf8 byte)
    // and under 32 bytes (the 4-accumulator stripe path is not
    // replayed). Violations fail the driver compare loudly; this spec
    // catches them earlier, at the corpus itself.
    val bad = Dedup.shingles(Tables.documents(spark, sfDir))
      .filter(length(col("sg")) >= 32 || col("sg").rlike("[^\\x00-\\x7F]"))
      .count()
    assert(bad == 0, s"$bad shingles violate the minhash-oracle replay domain")
    // raw tokens too: the simhash replay hashes every token occurrence,
    // including those of docs too short to shingle
    val badTok = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 32 || col("w").rlike("[^\\x00-\\x7F]"))
      .count()
    assert(badTok == 0, s"$badTok tokens violate the simhash-oracle replay domain")
    // and the generated SQL itself stays structurally sane
    val sql = graft.dedup.MinHashOracle.sql
    assert(sql.startsWith("WITH RECURSIVE") && sql.contains("bandfold") &&
      sql.contains(s"range(0, ${Dedup.MinHashK})") && sql.length < 60000)
    val ssql = graft.dedup.MinHashOracle.simhashSql
    assert(ssql.startsWith("WITH RECURSIVE") && ssql.contains("bit_count") &&
      ssql.contains("p2(b, v)") && ssql.length < 60000)
  }

  test("shingling produces distinct 3-gram shingles per doc") {
    val sh = Dedup.shingles(Tables.documents(spark, sfDir))
    val dup = sh.groupBy("doc_id", "sg").count().filter(col("count") > 1).count()
    assert(dup == 0, "shingles must be distinct per doc")
    val tokens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).filter(col("n") >= 3)
    val maxCheck = sh.groupBy("doc_id").count()
      .join(tokens, "doc_id")
      .filter(col("count") > col("n") - 2)
      .count()
    assert(maxCheck == 0, "at most n-2 shingles for n tokens")
  }
}
