package graft

import graft.dedup.{Dedup, DedupWitnesses}
import graft.sources.ScdHistory
import org.apache.spark.sql.functions._

/** Randomized-input invariants (seeded, deterministic): the algebraic
  * properties the oracle can't exercise beyond the fixed testdata.
  */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260812)

  /** Corpus engineered for hot shingles and near-dups: documents are
    * token sequences drawn from a SMALL vocab, half of them mutated
    * copies of earlier docs (deletions/substitutions).
    */
  private def randomCorpus(nDocs: Int): Seq[(Long, String)] = {
    val vocab = Vector.tabulate(40)(i => s"w$i")
    def freshDoc() = Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until nDocs).foreach { i =>
      if (i > 0 && rnd.nextBoolean()) {
        val base = docs(rnd.nextInt(docs.size))
        docs += base.flatMap { t =>
          val r = rnd.nextDouble()
          if (r < 0.05) Nil // deletion
          else if (r < 0.10) Seq(vocab(rnd.nextInt(vocab.size))) // substitution
          else Seq(t)
        }
      } else docs += freshDoc()
    }
    docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toSeq
  }

  test("prefix filter is lossless on adversarial random corpora (hot shingles, mutated dups)") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val docs = randomCorpus(60).toDF("doc_id", "text")
      val naive = DedupWitnesses.jaccardPairs(Dedup.shingles(docs))
        .filter(col("jac") >= 0.8)
        .select(col("a"), col("b"), Num.round4(col("jac")).as("jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // drive the REAL code path (positional prefix + PPJoin+ filters
      // + array verify) rather than re-deriving candidates by hand
      val pruned = Dedup.jaccardPrefixOf(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      assert(pruned == naive,
        s"trial $trial: missing=${naive.diff(pruned).take(5)} extra=${pruned.diff(naive).take(5)}")
    }
  }

  test("index-backed pair mine equals inline jaccardPrefix on random corpora") {
    // The standing-index consumers (dedupDelta, sourceOverlap,
    // clusterDelta) mine pairs as prefixCollisions over a prefix index
    // + candidate-incident verifyJaccardIndexed, while the build
    // authority (jaccardPrefixOf) stages per-doc arrays and verifies
    // against those. The architecture's incremental = full-recompute
    // claim rests on these two paths emitting the SAME pair set; pin it
    // on adversarial corpora, not just the fixed testdata.
    import spark.implicits._
    for (trial <- 1 to 3) {
      val docs = randomCorpus(60).toDF("doc_id", "text")
      val inline = Dedup.jaccardPrefixOf(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sh = Dedup.hashedShingles(docs)
      val prefix = Dedup.prefixIndex(sh, 0.8)
      val indexed = Dedup.minePairs(prefix, prefix, sh, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      assert(indexed == inline,
        s"trial $trial: missing=${inline.diff(indexed).take(5)} extra=${indexed.diff(inline).take(5)}")
    }
  }

  test("containment pruning is lossless on adversarial random corpora") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val docs = randomCorpus(60).toDF("doc_id", "text")
      val naive = DedupWitnesses.containmentNaive(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pruned = Dedup.containmentOf(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      assert(pruned == naive,
        s"trial $trial: missing=${naive.diff(pruned).take(5)} extra=${pruned.diff(naive).take(5)}")
    }
  }

  test("SCD intervals partition the timeline for random event streams with ties") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      // Few keys, few values, coarse timestamps: maximizes ties and
      // same-value runs.
      val events = Seq.fill(300)((
        rnd.nextInt(6).toLong,
        s"v${rnd.nextInt(4)}",
        (rnd.nextInt(40) * 1000).toLong,
        rnd.nextLong()
      )).toDF("k", "v", "ts_ms", "tie")
        .dropDuplicates("k", "ts_ms") // one change per (key, instant)
      val hist = ScdHistory.fromEvents(events, Seq("k"), "v", "ts_ms", Seq("tie"))
      assert(hist.filter(col("valid_from_ms") >= col("valid_to_ms")).count() == 0)
      val open = hist.filter(col("valid_to_ms") === ScdHistory.OpenEnd).groupBy("k").count()
      assert(open.filter(col("count") =!= 1).count() == 0, s"trial $trial: open-version violation")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("version")
      val seq = hist
        .withColumn("next_from", lead("valid_from_ms", 1).over(w))
        .withColumn("next_v", lead("v", 1).over(w))
        .filter(col("next_from").isNotNull)
      assert(seq.filter(col("valid_to_ms") =!= col("next_from")).count() == 0, "gap/overlap")
      assert(seq.filter(col("v") === col("next_v")).count() == 0, "uncollapsed run")
      // versions are a dense 1..k permutation
      val vr = hist.groupBy("k").agg(count(lit(1)).as("n"), max("version").as("mx"))
      assert(vr.filter(col("mx") =!= col("n")).count() == 0)
    }
  }

  test("graft_dot equals a driver-side dot and rejects dimension mismatches") {
    import spark.implicits._
    val vecs = Seq.fill(50)((Array.fill(16)(rnd.nextDouble() * 2 - 1), Array.fill(16)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.toDF("x", "y").withColumn("dot", expr("graft_dot(x, y)"))
    val rows = df.collect()
    vecs.zip(rows).foreach { case ((x, y), r) =>
      val expected = x.zip(y).map { case (a, b) => a * b }.foldLeft(0d)(_ + _)
      assert(r.getAs[Double]("dot") == expected, "must match ascending-index fold exactly")
    }
    val bad = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("x", "y")
    val e = intercept[Exception] {
      bad.select(expr("graft_dot(x, y)")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("length mismatch")), s"unexpected error: $e")
  }

  test("connected components equals union-find on random graphs (sparse, dense, star, cycles)") {
    import spark.implicits._
    val shapes = Seq(
      // (nVertices, edges)
      (40, (0 until 20).map(_ => (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))),   // sparse random
      (25, (0 until 80).map(_ => (rnd.nextInt(25).toLong + 1, rnd.nextInt(25).toLong + 1))),   // dense random
      (30, (2 to 30).map(i => (1L, i.toLong))),                                                // star
      (24, (1 to 24).map(i => (i.toLong, (i % 24).toLong + 1)))                                 // one big cycle
    )
    for ((n, rawEdges) <- shapes) {
      val edges = rawEdges.filter { case (a, b) => a != b }
      val labels = graft.dedup.Clusters
        .connectedComponents((1L to n.toLong).toDF("id"), edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val roots = (1L to n.toLong).groupBy(find).map { case (_, vs) => vs.toSet -> vs.min }
      roots.foreach { case (members, minId) =>
        members.foreach { v =>
          assert(labels(v) == minId, s"vertex $v labeled ${labels(v)}, union-find says $minId (n=$n)")
        }
      }
    }
  }

  test("media byte parsers never throw on fuzzed inputs (100 TB of untrusted bytes)") {
    import graft.multimodal.BinaryPipeline
    // random bytes, truncations of VALID headers at every length, and
    // magic-byte prefixes followed by garbage — decodeBatch must always
    // produce a row (format raw at worst), never an exception.
    def hexBytes(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val validPng = hexBytes("89504E470D0A1A0A0000000D4948445200000280000001E00802000000")
    val validWav = hexBytes("524946462400000057415645666D7420100000000100020044AC00008858010004001000")
    val validMp4 = hexBytes("000000106674797069736F6D00000000000000D86D6F6F76")
    val magics = Seq("FFD8FF", "89504E47", "52494646", "00000010667479")
    val cases: Seq[Array[Byte]] =
      (0 until 200).map(_ => Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)) ++
        (validPng ++ validWav ++ validMp4).indices.map { i => (validPng ++ validWav ++ validMp4).take(i) } ++
        (0 until 60).map { _ =>
          hexBytes(magics(rnd.nextInt(magics.size))) ++ Array.fill(rnd.nextInt(48))(rnd.nextInt(256).toByte)
        } ++
        // adversarial box/chunk sizes: huge unsigned, zero, and 1-7 (sub-header)
        Seq("00000000", "00000001", "00000007", "FFFFFFFF", "7FFFFFFF").map { sz =>
          hexBytes("000000106674797069736F6D00000000" + sz + "6D6F6F76AABBCCDD")
        }
    val out = BinaryPipeline.decodeBatch(cases.zipWithIndex.map { case (b, i) => (i.toLong, "fuzz", b) })
    assert(out.size == cases.size, "every fuzzed payload must yield a feature row")
    assert(out.forall(f => f.n_bytes >= 0), "sane output for every input")
  }

  test("incremental cluster merge equals full reclustering on random near-dup corpora") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val docs = randomCorpus(60).toDF("doc_id", "text")
      spark.catalog.clearCache()
      val full = graft.dedup.Clusters.dedupClustersOf(docs)
        .collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      // One staged shingle + prefix index serves both halves, as the
      // standing index does for the declared query.
      val sh = graft.Staging.staged(Dedup.hashedShingles(docs), "shingle_cd")
      val index = (sh, graft.Staging.staged(Dedup.prefixIndex(sh, 0.8), "prefix_cd"))
      val inc = graft.dedup.Clusters.clusterDeltaOf(docs, index)
        .collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      assert(inc == full, s"trial $trial: incremental merge diverged from full recompute")
    }
  }

  test("substring dedup matches a plain-Scala model on random near-dup corpora") {
    import spark.implicits._
    val W = graft.dedup.SubstrDedup.WindowTokens
    for (trial <- 1 to 3) {
      val corpus = randomCorpus(40)
      // reference model: string grams, distinct-doc counts, covered union
      val grams = corpus.flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        (0 to w.length - W).map(s => (w.slice(s, s + W).mkString(" "), id, s))
      }
      val repeated = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = corpus.map { case (id, text) =>
        val w = text.split(" ", -1)
        val covered = (0 to w.length - W)
          .filter(s => repeated.contains(w.slice(s, s + W).mkString(" ")))
          .flatMap(s => s until s + W).toSet
        val clean = w.indices.filterNot(covered).map(w)
        (id, w.length.toLong, (w.length - clean.length).toLong, clean.mkString(" "))
      }.toSet
      val got = graft.dedup.SubstrDedup.substrDedupOf(corpus.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      spark.catalog.clearCache()
      assert(got == expected, s"trial $trial: diff=${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
    }
  }

  test("DSIR scores match a plain-Scala model on random corpora") {
    import spark.implicits._
    val floor = graft.functions.Dsir.FeatureMinCount
    for (trial <- 1 to 3) {
      val corpus = randomCorpus(40)
      val isTgt = (id: Long) => id % 3 == 0
      val tokensOf = (s: String) => s.split(" ", -1).toSeq
      val tgtToks = corpus.filter(c => isTgt(c._1)).flatMap(c => tokensOf(c._2))
      val rawToks = corpus.filterNot(c => isTgt(c._1)).flatMap(c => tokensOf(c._2))
      val cntT = tgtToks.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= floor).toMap
      val cntR = rawToks.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= floor).toMap
      val (totT, totR) = (tgtToks.size.toLong, rawToks.size.toLong)
      def pts(tok: String): Long =
        if (!cntT.contains(tok) && !cntR.contains(tok)) 0L
        else {
          val pT = (1000000000L * (cntT.getOrElse(tok, 0L) + 1)) / totT
          val pR = (1000000000L * (cntR.getOrElse(tok, 0L) + 1)) / totR
          (1000L * pT) / (pT + pR) - 500L
        }
      val expected = corpus.filterNot(c => isTgt(c._1)).map { case (id, text) =>
        val tk = tokensOf(text)
        val sum = tk.map(pts).sum
        val score = math.floor(sum.toDouble / tk.size * 10000 + 0.5) / 10000
        (id, tk.size.toLong, score, score >= graft.functions.Dsir.KeepMin)
      }.toSet
      val got = graft.functions.Dsir
        .dsirSelectOf(corpus.toDF("doc_id", "text"), pmod(col("doc_id"), lit(3)) === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
      spark.catalog.clearCache()
      assert(got == expected,
        s"trial $trial: diff=${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
    }
  }

  test("shuffle-key formula: random salt pairs give decorrelated orders over small id ranges") {
    // The epoch-reshuffle contract, checked on the FORMULA across many
    // salt pairs (the Spark-level spec covers one pair): for any two
    // distinct salts, the induced permutations of a small doc_id range
    // — the adversarial case, where an affine salt preserves order —
    // must be near-independent. Pure arithmetic, mirrors
    // SeqPack.shuffleKey exactly.
    def key(d: Long, salt: Long): Long = {
      val k = ((d % 1000003L) * ((1315423911L + 2L * salt) % 1000000007L)) % 1000000007L
      (k * k) % 1000000007L
    }
    val n = 1000
    def positions(salt: Long): Map[Long, Int] =
      (0L until n).sortBy(d => (key(d, salt), d)).zipWithIndex.toMap
    for (trial <- 1 to 20) {
      val s1 = rnd.nextLong(1L << 40)
      val s2 = s1 + 1 + rnd.nextLong(1L << 20) // include adjacent-salt cases
      val (p1, p2) = (positions(s1), positions(s2))
      val mean = (n - 1) / 2.0
      var cov = 0.0; var v1 = 0.0; var v2 = 0.0
      for (d <- 0L until n) {
        val (a, b) = (p1(d) - mean, p2(d) - mean)
        cov += a * b; v1 += a * a; v2 += b * b
      }
      val rho = cov / math.sqrt(v1 * v2)
      assert(math.abs(rho) < 0.15,
        s"trial $trial: salts $s1/$s2 correlate, spearman rho = $rho")
    }
  }
}
