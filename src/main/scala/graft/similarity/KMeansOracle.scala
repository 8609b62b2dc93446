package graft.similarity

/** DuckDB oracles for the k-means query family (r15): `q_ann_ivf`,
  * `q_knn_graph`, `q_semdedup`, and `q_diversity_sample` graduate from
  * rows-only to full rows+schema+hash — a COMPLETE cross-engine replay
  * of the deterministic quantizer build (`KMeansFit` +
  * `IvfAnn.balancedQuantizerOf`), the way `BpeTrainOracle` replays the
  * BPE merge loop and `LshOracle` replays the hyperplane family.
  *
  * Why this is replayable at all: r15 removed every RNG from the index
  * build (see KMeansFit — the fit is a pure function of the
  * hash-ordered bounded sample) and pinned every float accumulation to
  * a defined order. The replay then rides three already-proven
  * identities:
  * - `list_dot_product` accumulates ascending-index like `graft_dot`
  *   (bit-identical — the LshOracle/knn-cosine contract since r3);
  * - Spark's `xxhash64(bigint)` replays in HUGEINT mod-2^64 arithmetic
  *   (`MinHashOracle.xxhash64LongCtes`) — the sample ORDER is exact;
  * - int→double conversion, one multiply, correctly-rounded sqrt/floor
  *   and IEEE division round identically in both engines.
  *
  * Structure of the replay, CTE by CTE (mirroring the Scala in
  * lockstep — any change to KMeansFit / balancedQuantizerOf /
  * twoMeans must change this generator too; the compare fails LOUDLY
  * on any drift):
  * - kparams: n, k = clamp(⌈√n⌉, 64, 4096) ∧ n, cap = max(4096, 32k).
  * - unit vectors, the xxhash64-ordered sample, P = the sample as ONE
  *   list-of-vectors row (sample index = list position).
  * - `fitr`: one recursive CTE — anchor = the first k sample points
  *   (hash-prefix random init), then one level per Lloyd round (argmin
  *   assignment via list_position-of-min = lowest-index ties; ordered
  *   member sums via list_reduce; emptied cells keep their centroid).
  * - balance rounds ×`MaxSplitRounds`, UNROLLED (the driver loop is
  *   idempotent once converged/dead, so a fixed unroll is exact): per
  *   over-threshold cell, the 10 twoMeans iterations run as chained
  *   CTEs (farthest-pair seeding, side reassignment, dead-flag on
  *   empty sides), then the median-mass plane cut with the exact
  *   tie-run arithmetic, split numbering by parent order, and child
  *   centroids as ordered member means.
  * - leaf assembly: unsplit base cells ∪ unsplit children, compacted
  *   ascending — then corpus assignment (argmin over base centroids +
  *   per-round sign-test routing + remap), EXACTLY the plan
  *   `Quantizer.assign` executes with `graft_argmin_cell`.
  *
  * Each query SQL is self-contained (carries the whole chain); DuckDB
  * binds CTEs lazily so unused prefixes cost nothing.
  */
object KMeansOracle {

  private val LI = IvfAnn.LloydIters
  private val Rounds = IvfAnn.MaxSplitRounds
  private val TwoMeansIters = 10

  /** Full squared distance via dots in the KMeansFit op order. */
  private def d2(a: String, b: String): String =
    s"((list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b)) + list_dot_product($b, $b))"

  private val ElemAdd = "(aa, bb) -> list_transform(aa, (x, xi) -> x + bb[xi])"

  /** Ordered member mean: left-fold element-wise sum / count. */
  private def meanOf(vecs: String, cnt: String): String =
    s"list_transform(list_reduce($vecs, $ElemAdd), x -> x / ($cnt))"

  private def round4(x: String): String = s"floor(($x) * 10000 + 0.5) / 10000"

  /** CTEs that MUST be materialized: DuckDB inlines CTEs by default,
    * and this chain references several of them more than once (`rcc_r`
    * reads `splits_r` three times, `acorp` self-joins in semdedup, every
    * round reads the previous round's state) — inlined, the whole fit
    * re-evaluates once per reference, compounding per round (~27× at 3
    * rounds; measured: the un-materialized semdedup SQL ran minutes vs
    * seconds). Materialization changes evaluation COUNT, never values.
    */
  private val Materialized: Set[String] =
    Set("vec", "norms", "unitv", "samph", "sample", "spts", "thr", "kparams",
      "basec", "sampasg", "rcc0", "allsplits", "leaves", "remap", "nleaf",
      "leafcents", "acorp") ++
      (1 to IvfAnn.MaxSplitRounds).flatMap(r =>
        Seq(s"splits$r", s"rcc$r", s"tmplane$r", s"tm${r}_s0", s"acorp$r")) ++
      Seq("acorp0")

  private def materialize(ctes: Seq[String]): Seq[String] =
    ctes.map { cte =>
      val name = cte.takeWhile(c => c != ' ' && c != '(')
      if (Materialized.contains(name))
        cte.replaceFirst(java.util.regex.Pattern.quote(s"$name AS ("), s"$name AS MATERIALIZED (")
      else cte
    }

  /** The shared quantizer replay chain, ending in:
    * `leafcents(cell, cent, cnorm2)`, `acorp(vec_id, u, cell)`,
    * `nleaf(lk, nprobe)`, plus `vec`/`norms` for exact scoring.
    */
  private[graft] lazy val quantCtes: Seq[String] = materialize(rawQuantCtes("TRUE"))

  /** The same replay chain with the TRAINING corpus scoped by a row
    * predicate while assignment (`acorp`) still covers every vector —
    * the `q_ivf_delta` shape: centroids frozen at the settled-slice
    * snapshot, the whole corpus (settled ∪ batch) assigned against
    * them. `trainWhere` scopes exactly what the Spark side scopes:
    * the fit's n (hence k), the hash-ordered training sample, and
    * therefore every centroid and split plane.
    */
  private[graft] def quantCtesTrained(trainWhere: String): Seq[String] =
    materialize(rawQuantCtes(trainWhere))

  private def rawQuantCtes(trainWhere: String): Seq[String] = {
    val head = Seq(
      s"""kparams AS (
         |  SELECT n, k, GREATEST(4096, 32 * k) AS cap
         |  FROM (SELECT n, LEAST(GREATEST(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), ${IvfAnn.MinCells}), ${IvfAnn.MaxCells}, GREATEST(n, 1)) AS k
         |        FROM (SELECT count(*) AS n FROM embeddings WHERE $trainWhere))
         |)""".stripMargin,
      """vec AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |)""".stripMargin,
      "norms AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS norm FROM vec)",
      """unitv AS (
        |  SELECT v.vec_id, list_transform(v.e, x -> x / n.norm) AS u
        |  FROM vec v JOIN norms n USING (vec_id)
        |)""".stripMargin)

    val hashed = graft.dedup.MinHashOracle.xxhash64LongCtes(
      s"(SELECT vec_id, u, vec_id::HUGEINT AS hx0 FROM unitv WHERE $trainWhere)",
      "samph", "hx0")

    val sample = Seq(
      """sample AS (
        |  SELECT vec_id, u, row_number() OVER (ORDER BY hs, vec_id) AS sidx
        |  FROM samph
        |  QUALIFY row_number() OVER (ORDER BY hs, vec_id) <= (SELECT cap FROM kparams)
        |)""".stripMargin,
      "spts AS (SELECT list(u ORDER BY sidx) AS P, count(*)::BIGINT AS m FROM sample)",
      s"""thr AS (
         |  SELECT GREATEST(4.0::DOUBLE, (${IvfAnn.CellBalance} * CAST(s.m AS DOUBLE)) / CAST(p.k AS DOUBLE)) AS threshold
         |  FROM spts s, kparams p
         |)""".stripMargin)

    // --- base fit: init levels then Lloyd levels in one recursion ---
    val lloydAsg =
      s"""list_transform(
         |  list_transform(P, pp -> list_transform(range(1, len(cents) + 1),
         |    cc -> cnc[cc] - 2.0 * list_dot_product(pp, cents[cc]))),
         |  sc -> list_position(sc, list_min(sc)))""".stripMargin
    val lloydNew =
      s"""list_transform(
         |  list_transform(range(1, len(cents) + 1), cc -> list_filter(range(1, m + 1), i -> asg[i] = cc)),
         |  (mem, cc) -> CASE WHEN len(mem) = 0 THEN cents[cc]
         |               ELSE ${meanOf("list_transform(mem, i -> P[i])", "len(mem)")} END)""".stripMargin
    val fitr = Seq(
      s"""fitr AS (
         |  SELECT 0 AS step,
         |         (SELECT P[1:(SELECT CAST(k AS INT) FROM kparams)] FROM spts) AS cents
         |  UNION ALL
         |  SELECT step + 1, $lloydNew AS cents
         |  FROM (
         |    SELECT step, cents, P, m, $lloydAsg AS asg
         |    FROM (
         |      SELECT f.step, f.cents, s.P, s.m,
         |             list_transform(f.cents, c -> list_dot_product(c, c)) AS cnc
         |      FROM fitr f, spts s
         |      WHERE f.step < $LI
         |    )
         |  )
         |)""".stripMargin,
      s"basec AS (SELECT cents FROM fitr WHERE step = $LI)",
      s"""sampasg AS (
         |  SELECT list_transform(
         |           list_transform(P, pp -> list_transform(range(1, k + 1),
         |             cc -> cnc[cc] - 2.0 * list_dot_product(pp, C[cc]))),
         |           sc -> list_position(sc, list_min(sc))) AS asg
         |  FROM (SELECT b.cents AS C, list_transform(b.cents, c -> list_dot_product(c, c)) AS cnc, s.P, p.k
         |        FROM basec b, spts s, kparams p)
         |)""".stripMargin,
      """rcc0 AS (
        |  SELECT r.cell, r.ix, r.cnt, b.cents[r.cell + 1] AS cent
        |  FROM (
        |    SELECT CAST(a - 1 AS BIGINT) AS cell, list(i ORDER BY i) AS ix, count(*)::BIGINT AS cnt
        |    FROM (SELECT unnest(asg) AS a, generate_subscripts(asg, 1) AS i FROM sampasg)
        |    GROUP BY a
        |  ) r, basec b
        |)""".stripMargin)

    // --- balance rounds, unrolled ---
    val roundCtes: Seq[String] = (1 to Rounds).flatMap { r =>
      val prev = if (r == 1) "rcc0" else s"rcc${r - 1}"
      val seed = Seq(
        // over-threshold cells with member vectors and the farthest-pair
        // seeding (c0 = member mean; c1 = farthest from c0; c2 =
        // farthest from c1; dead if the pair coincides).
        s"""tm${r}_s0 AS (
           |  SELECT cell, ix, cnt, mu, ${meanOf("mu", "cnt")} AS c0
           |  FROM (
           |    SELECT rc.cell, rc.ix, rc.cnt, list_transform(rc.ix, i -> s.P[i]) AS mu
           |    FROM $prev rc, spts s, thr t
           |    WHERE CAST(rc.cnt AS DOUBLE) > t.threshold
           |  )
           |)""".stripMargin,
        s"""tm${r}_s1 AS (
           |  SELECT cell, ix, cnt, mu, mu[list_position(ds, list_max(ds))] AS c1
           |  FROM (SELECT *, list_transform(mu, pp -> ${d2("pp", "c0")}) AS ds FROM tm${r}_s0)
           |)""".stripMargin,
        s"""tm${r}_it0 AS (
           |  SELECT cell, ix, cnt, mu, c1, c2, ${d2("c1", "c2")} = 0.0 AS dead
           |  FROM (
           |    SELECT cell, ix, cnt, mu, c1, mu[list_position(ds, list_max(ds))] AS c2
           |    FROM (SELECT *, list_transform(mu, pp -> ${d2("pp", "c1")}) AS ds FROM tm${r}_s1)
           |  )
           |)""".stripMargin)
      val iters = (1 to TwoMeansIters).map { t =>
        s"""tm${r}_it$t AS (
           |  SELECT cell, ix, cnt, mu,
           |         CASE WHEN dead2 THEN c1 ELSE ${meanOf("list_transform(lix, j -> mu[j])", "len(lix)")} END AS c1,
           |         CASE WHEN dead2 THEN c2 ELSE ${meanOf("list_transform(rix, j -> mu[j])", "len(rix)")} END AS c2,
           |         dead2 AS dead
           |  FROM (
           |    SELECT *, dead OR len(lix) = 0 OR len(rix) = 0 AS dead2
           |    FROM (
           |      SELECT *, list_filter(range(1, cnt + 1), j -> side[j]) AS lix,
           |             list_filter(range(1, cnt + 1), j -> NOT side[j]) AS rix
           |      FROM (
           |        SELECT *, CASE WHEN dead THEN NULL
           |                       ELSE list_transform(mu, pp -> ${d2("pp", "c1")} <= ${d2("pp", "c2")}) END AS side
           |        FROM tm${r}_it${t - 1}
           |      )
           |    )
           |  )
           |)""".stripMargin
      }
      val plane = Seq(
        // Median-mass plane: w along the 2-means axis, offset b at the
        // sample-mass median with the central-tie-run arithmetic
        // (lastIndexWhere/indexWhere as sorted counts). A NULL b (the
        // Scala NaN) or an empty side kills the split.
        s"""tmplane$r AS (
           |  SELECT cell, ix, cnt, mu, w,
           |         b, lix, rix,
           |         (NOT dead) AND b IS NOT NULL AND len(lix) > 0 AND len(rix) > 0 AS ok
           |  FROM (
           |    SELECT *,
           |      list_filter(range(1, cnt + 1), j -> prj[j] > b) AS lix,
           |      list_filter(range(1, cnt + 1), j -> NOT (prj[j] > b)) AS rix
           |    FROM (
           |      SELECT *,
           |        CASE WHEN dead THEN NULL
           |             WHEN psl[cnt // 2 + 1] > psl[cnt // 2] THEN (psl[cnt // 2 + 1] + psl[cnt // 2]) / 2.0
           |             WHEN lo0 < 0 AND hi0 < 0 THEN NULL
           |             WHEN lo0 < 0 THEN (psl[cnt // 2 + 1] + psl[hi0 + 1]) / 2.0
           |             WHEN hi0 < 0 THEN (psl[lo0 + 1] + psl[cnt // 2 + 1]) / 2.0
           |             WHEN abs(lo0 + 1 - cnt // 2) <= abs(hi0 - cnt // 2) THEN (psl[lo0 + 1] + psl[cnt // 2 + 1]) / 2.0
           |             ELSE (psl[cnt // 2 + 1] + psl[hi0 + 1]) / 2.0 END AS b
           |      FROM (
           |        SELECT *,
           |          len(list_filter(psl, x -> x < psl[cnt // 2 + 1])) - 1 AS lo0,
           |          CASE WHEN len(list_filter(psl, x -> x <= psl[cnt // 2 + 1])) >= cnt THEN -1
           |               ELSE len(list_filter(psl, x -> x <= psl[cnt // 2 + 1])) END AS hi0
           |        FROM (
           |          SELECT *, list_sort(prj) AS psl
           |          FROM (
           |            SELECT *, list_transform(mu, pp -> list_dot_product(pp, w)) AS prj
           |            FROM (
           |              SELECT *, list_transform(c1, (x, j) -> x - c2[j]) AS w
           |              FROM tm${r}_it$TwoMeansIters
           |            )
           |          )
           |        )
           |      )
           |    )
           |  )
           |)""".stripMargin,
        s"""splits$r AS (
           |  SELECT cell, w, b,
           |         $nextBasePlaceholder + 2 * (row_number() OVER (ORDER BY cell) - 1) AS li,
           |         list_transform(lix, j -> ix[j]) AS lixg,
           |         list_transform(rix, j -> ix[j]) AS rixg,
           |         ${meanOf("list_transform(lix, j -> mu[j])", "len(lix)")} AS lcent,
           |         ${meanOf("list_transform(rix, j -> mu[j])", "len(rix)")} AS rcent
           |  FROM tmplane$r WHERE ok
           |)""".stripMargin
          .replace(nextBasePlaceholder, nextBaseSql(r)),
        s"""rcc$r AS (
           |  SELECT cell, ix, cnt, cent FROM $prev WHERE cell NOT IN (SELECT cell FROM splits$r)
           |  UNION ALL
           |  SELECT li, lixg, len(lixg)::BIGINT, lcent FROM splits$r
           |  UNION ALL
           |  SELECT li + 1, rixg, len(rixg)::BIGINT, rcent FROM splits$r
           |)""".stripMargin)
      seed ++ iters ++ plane
    }

    val assembly = Seq(
      s"""allsplits AS (
         |  ${(1 to Rounds).map(r => s"SELECT cell FROM splits$r").mkString(" UNION ALL ")}
         |)""".stripMargin,
      s"""leaves AS (
         |  SELECT g AS cell FROM (SELECT unnest(range(0, (SELECT k FROM kparams))) AS g)
         |  WHERE g NOT IN (SELECT cell FROM allsplits)
         |  UNION ALL
         |  SELECT ch FROM (
         |    SELECT unnest([li, li + 1]) AS ch
         |    FROM (${(1 to Rounds).map(r => s"SELECT li FROM splits$r").mkString(" UNION ALL ")})
         |  )
         |  WHERE ch NOT IN (SELECT cell FROM allsplits)
         |)""".stripMargin,
      "remap AS (SELECT cell, row_number() OVER (ORDER BY cell) - 1 AS leaf FROM leaves)",
      s"""nleaf AS (
         |  SELECT count(*)::BIGINT AS lk,
         |         LEAST(${IvfAnn.MaxProbes}, count(*)) AS nprobe
         |  FROM leaves
         |)""".stripMargin,
      s"""leafcents AS (
         |  SELECT cell, cent, list_dot_product(cent, cent) AS cnorm2
         |  FROM (
         |    SELECT r.leaf AS cell, coalesce(rc.cent, b.cents[r.cell + 1]) AS cent
         |    FROM remap r LEFT JOIN rcc$Rounds rc ON rc.cell = r.cell, basec b
         |  )
         |)""".stripMargin)

    // --- corpus assignment: argmin over base cents, plane routing, remap ---
    val routing = (1 to Rounds).map { r =>
      s"""acorp$r AS (
         |  SELECT a.vec_id, a.u,
         |         CASE WHEN s.cell IS NULL THEN a.cell
         |              WHEN list_dot_product(a.u, s.w) > s.b THEN s.li
         |              ELSE s.li + 1 END AS cell
         |  FROM acorp${r - 1} a LEFT JOIN splits$r s ON s.cell = a.cell
         |)""".stripMargin
    }
    val assign = Seq(
      s"""acorp0 AS (
         |  SELECT vec_id, u, CAST(list_position(sc, list_min(sc)) - 1 AS BIGINT) AS cell
         |  FROM (
         |    SELECT v.vec_id, v.u,
         |           list_transform(range(1, p.k + 1), cc -> x.cnc[cc] - 2.0 * list_dot_product(v.u, x.C[cc])) AS sc
         |    FROM unitv v,
         |         (SELECT cents AS C, list_transform(cents, c -> list_dot_product(c, c)) AS cnc FROM basec) x,
         |         kparams p
         |  )
         |)""".stripMargin) ++ routing ++ Seq(
      s"acorp AS (SELECT a.vec_id, a.u, r.leaf AS cell FROM acorp$Rounds a JOIN remap r ON r.cell = a.cell)")

    head ++ hashed ++ sample ++ fitr ++ roundCtes ++ assembly ++ assign
  }

  private val nextBasePlaceholder = "__NEXTBASE__"

  /** Child-id numbering base for round r: k plus two per prior split
    * (the Scala nextId counter, advanced in sorted-parent order).
    */
  private def nextBaseSql(r: Int): String =
    (Seq("(SELECT k FROM kparams)") ++
      (1 until r).map(q => s"2 * (SELECT count(*) FROM splits$q)")).mkString(" + ")

  /** The probe → exact-cosine CTE pair shared by the ranked-list
    * queries and the recall gate (so the probe replay can never drift
    * between them).
    */
  private def probeScoredCtes(queryFilter: String): String =
    s"""probes AS (
       |  SELECT q.vec_id AS q_id, l.cell
       |  FROM (SELECT vec_id, u FROM acorp $queryFilter) q, leafcents l
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY l.cnorm2 - 2.0 * list_dot_product(q.u, l.cent) ASC, l.cell ASC)
       |    <= (SELECT nprobe FROM nleaf)
       |),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS nbr_id,
       |         list_dot_product(qe.e, ce.e) / (qn.norm * cn.norm) AS cos
       |  FROM probes p
       |  JOIN acorp c ON c.cell = p.cell AND c.vec_id <> p.q_id
       |  JOIN vec qe ON qe.vec_id = p.q_id
       |  JOIN vec ce ON ce.vec_id = c.vec_id
       |  JOIN norms qn ON qn.vec_id = p.q_id
       |  JOIN norms cn ON cn.vec_id = c.vec_id
       |)""".stripMargin

  /** The probe → exact-cosine → top-k tail shared by `annIvfSql`
    * (bounded query set) and `knnGraphSql` (every vector queries).
    */
  private def topKTail(queryFilter: String): String =
    s"""${probeScoredCtes(queryFilter)}
       |SELECT q_id, nbr_id, ${round4("cos")} AS cos, rn::BIGINT AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id ASC) AS rn FROM scored)
       |WHERE rn <= ${Knn.TopK}
       |ORDER BY q_id, rn""".stripMargin

  /** `q_ann_recall_ivf`: the IVF probe's ranked list joined against the
    * exact brute-force list — `AnnRecall.annRecallIvf` replayed. Same
    * recall algebra as `LshOracle.recallSql` (integer hit counts, one
    * IEEE int64/int64 division, round4).
    */
  lazy val ivfRecallSql: String = {
    val numQueries = Knn.NumQueries
    val topK = Knn.TopK
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |${probeScoredCtes(s"WHERE vec_id < $numQueries")},
       |ann AS (
       |  SELECT q_id, nbr_id FROM (
       |    SELECT q_id, nbr_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id ASC) AS rn
       |    FROM scored
       |  ) WHERE rn <= $topK
       |),
       |bscored AS (
       |  SELECT va.vec_id AS q_id, vb.vec_id AS nbr_id,
       |         list_dot_product(va.e, vb.e) / (na.norm * nb.norm) AS cos
       |  FROM vec va JOIN vec vb ON vb.vec_id <> va.vec_id
       |  JOIN norms na ON na.vec_id = va.vec_id
       |  JOIN norms nb ON nb.vec_id = vb.vec_id
       |  WHERE va.vec_id < $numQueries
       |),
       |brute AS (
       |  SELECT q_id, nbr_id FROM (
       |    SELECT q_id, nbr_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id ASC) AS rn
       |    FROM bscored
       |  ) WHERE rn <= $topK
       |),
       |ex AS (SELECT q_id, count(*) AS n_exact FROM brute GROUP BY q_id),
       |an AS (SELECT q_id, count(*) AS n_ann FROM ann GROUP BY q_id),
       |hit AS (
       |  SELECT b.q_id, count(*) AS n_hit
       |  FROM brute b JOIN ann a ON a.q_id = b.q_id AND a.nbr_id = b.nbr_id
       |  GROUP BY b.q_id
       |)
       |SELECT ex.q_id, ex.n_exact,
       |  coalesce(an.n_ann, 0) AS n_ann,
       |  coalesce(hit.n_hit, 0) AS n_hit,
       |  ${round4("CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE)")} AS recall
       |FROM ex
       |LEFT JOIN an ON an.q_id = ex.q_id
       |LEFT JOIN hit ON hit.q_id = ex.q_id
       |ORDER BY ex.q_id""".stripMargin
  }

  /** `q_ann_ivf`: probe the nprobe nearest leaf cells per query, exact
    * cosine within probed cells, top-k — `IvfAnn.ivfTopK` replayed.
    */
  lazy val annIvfSql: String =
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |${topKTail(s"WHERE vec_id < ${Knn.NumQueries}")}""".stripMargin

  /** `q_hybrid_search`'s semantic list — `Hybrid.semTopN` replayed: the
    * probe for the one query doc of a `qdoc(q_doc)` CTE, exact cosine
    * within its probed cells, top `Hybrid.TopN` as `sem(doc_id,
    * sem_rank)`. Goes after `quantCtes` and `qdoc` in one WITH.
    */
  private[graft] lazy val hybridSemCtes: String =
    s"""${probeScoredCtes("WHERE vec_id = (SELECT q_doc FROM qdoc)")},
       |sem AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
       |  FROM (SELECT nbr_id AS doc_id, cos FROM scored ORDER BY cos DESC, nbr_id LIMIT ${Hybrid.TopN})
       |)""".stripMargin

  /** `q_knn_graph`: the all-vectors variant — `IvfAnn.knnGraph`. */
  lazy val knnGraphSql: String =
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |${topKTail("")}""".stripMargin

  /** `q_ivf_delta`: the incremental-maintenance contract replayed. The
    * oracle IS the full re-assignment — settled-slice fit (scoped
    * training chain), every vector (settled ∪ batch) assigned against
    * the frozen centroids — so the gate re-proves merged == rebuilt
    * every round, the `q_lex_delta` convention. Counts via FILTER
    * (BIGINT, matching Spark's count) — never sum (HUGEINT).
    */
  lazy val ivfDeltaSql: String = {
    val mod = graft.dedup.Dedup.DeltaBatchMod
    val rem = graft.dedup.Dedup.DeltaBatchRem
    s"""WITH RECURSIVE
       |${quantCtesTrained(s"vec_id % $mod <> $rem").mkString(",\n")}
       |SELECT cell,
       |  count(*) FILTER (WHERE vec_id % $mod <> $rem) AS n_settled,
       |  count(*) FILTER (WHERE vec_id % $mod = $rem) AS n_batch,
       |  count(*) AS n_total,
       |  CASE WHEN count(*) FILTER (WHERE vec_id % $mod <> $rem) > 0
       |       THEN (count(*) FILTER (WHERE vec_id % $mod = $rem) * 10000)
       |            // count(*) FILTER (WHERE vec_id % $mod <> $rem)
       |       ELSE NULL END AS growth_bp
       |FROM acorp
       |GROUP BY cell
       |ORDER BY cell""".stripMargin
  }

  /** `q_ivf_refit`: the refit DECISION replayed — `IvfAnn.ivfRefit`'s
    * aggregate over the same per-cell report `ivfDeltaSql` replays
    * (settled-slice fit, frozen-centroid full assignment), thresholds
    * inlined from the policy constants. Counts/sums cast to BIGINT
    * (DuckDB sum is HUGEINT). The refit side effect is mode-local and
    * deliberately absent from the result (see the engine scaladoc).
    */
  lazy val ivfRefitSql: String = {
    val mod = graft.dedup.Dedup.DeltaBatchMod
    val rem = graft.dedup.Dedup.DeltaBatchRem
    s"""WITH RECURSIVE
       |${quantCtesTrained(s"vec_id % $mod <> $rem").mkString(",\n")},
       |report AS (
       |  SELECT cell,
       |    count(*) FILTER (WHERE vec_id % $mod <> $rem) AS n_settled,
       |    count(*) FILTER (WHERE vec_id % $mod = $rem) AS n_batch,
       |    CASE WHEN count(*) FILTER (WHERE vec_id % $mod <> $rem) > 0
       |         THEN (count(*) FILTER (WHERE vec_id % $mod = $rem) * 10000)
       |              // count(*) FILTER (WHERE vec_id % $mod <> $rem)
       |         ELSE NULL END AS growth_bp
       |  FROM acorp
       |  GROUP BY cell
       |)
       |SELECT
       |  CAST(sum(n_settled) AS BIGINT) AS total_settled,
       |  CAST(sum(n_batch) AS BIGINT) AS total_batch,
       |  (CAST(sum(n_batch) AS BIGINT) * 10000) // CAST(sum(n_settled) AS BIGINT) AS growth_bp,
       |  max(growth_bp) AS max_cell_growth_bp,
       |  count(*) FILTER (WHERE growth_bp >= ${IvfAnn.RefitHotCellBp}) AS hot_cells,
       |  count(*) FILTER (WHERE n_settled = 0) AS new_cells,
       |  ((CAST(sum(n_batch) AS BIGINT) * 10000) // CAST(sum(n_settled) AS BIGINT)
       |     >= ${IvfAnn.RefitGrowthBp})
       |    OR count(*) FILTER (WHERE growth_bp >= ${IvfAnn.RefitHotCellBp}) > 0 AS refit_due
       |FROM report""".stripMargin
  }

  /** `q_semdedup`: exact cosine pairs WITHIN leaf cells at the SemDeDup
    * threshold — `SemDedup.semDedupPairs` replayed.
    */
  lazy val semdedupSql: String = {
    val threshold = 0.4
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |pairs AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |         list_dot_product(ea.e, eb.e) / (na.norm * nb.norm) AS cos
       |  FROM acorp x
       |  JOIN acorp y ON y.cell = x.cell AND x.vec_id < y.vec_id
       |  JOIN vec ea ON ea.vec_id = x.vec_id
       |  JOIN vec eb ON eb.vec_id = y.vec_id
       |  JOIN norms na ON na.vec_id = x.vec_id
       |  JOIN norms nb ON nb.vec_id = y.vec_id
       |)
       |SELECT a, b, ${round4("cos")} AS cos
       |FROM pairs WHERE cos >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------------------------
  // IVF-PQ replay (q_ann_ivfpq): the coarse chain above plus the m
  // per-subspace codebook fits, corpus codes, per-query LUTs, ADC
  // scoring, and the exact rerank. DOMAIN ASSUMPTION (the LshOracle
  // plane-table convention): the corpus embedding dim is 64, so m = 8
  // subspaces of dsub = 8 are generated statically — a different dim
  // fails the compare LOUDLY (the engine derives m from the data).
  // ------------------------------------------------------------------

  private val PqM = IvfPq.NumSubspaces // 8, statically assumed (d = 64)
  private val PqDsub = 8
  private val PqLI = IvfPq.PqLloydIters

  /** Per-subspace sliced sample + one fit recursion per subspace (the
    * engine's m independent `KMeansFit` runs), then codes/LUT/ADC.
    */
  private lazy val pqCtes: Seq[String] = {
    val params = Seq(
      s"""pqparams AS MATERIALIZED (
         |  SELECT LEAST(GREATEST(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), ${IvfPq.MinCodes}), ${IvfPq.MaxCodes}, GREATEST(n, 1)) AS kpq,
         |         GREATEST(4096, 8 * LEAST(GREATEST(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), ${IvfPq.MinCodes}), ${IvfPq.MaxCodes}, GREATEST(n, 1))) AS pcap
         |  FROM kparams
         |)""".stripMargin,
      """pqsample AS MATERIALIZED (
        |  SELECT vec_id, u, row_number() OVER (ORDER BY hs, vec_id) AS sidx
        |  FROM samph
        |  QUALIFY row_number() OVER (ORDER BY hs, vec_id) <= (SELECT pcap FROM pqparams)
        |)""".stripMargin)
    val subFits = (0 until PqM).flatMap { j =>
      val lo = j * PqDsub + 1
      val hi = (j + 1) * PqDsub
      val asg =
        s"""list_transform(
           |  list_transform(SP, pp -> list_transform(range(1, len(cbs) + 1),
           |    cc -> list_dot_product(cbs[cc], cbs[cc]) - 2.0 * list_dot_product(pp, cbs[cc]))),
           |  sc -> list_position(sc, list_min(sc)))""".stripMargin
      Seq(
        s"""pqsub$j AS MATERIALIZED (
           |  SELECT list(u[$lo:$hi] ORDER BY sidx) AS SP, count(*)::BIGINT AS pm FROM pqsample
           |)""".stripMargin,
        s"""pqfit$j AS (
           |  SELECT 0 AS step,
           |         (SELECT SP[1:(SELECT CAST(kpq AS INT) FROM pqparams)] FROM pqsub$j) AS cbs
           |  UNION ALL
           |  SELECT step + 1,
           |         list_transform(
           |           list_transform(range(1, len(cbs) + 1), cc -> list_filter(range(1, pm + 1), i -> asg[i] = cc)),
           |           (mem, cc) -> CASE WHEN len(mem) = 0 THEN cbs[cc]
           |                        ELSE ${meanOf("list_transform(mem, i -> SP[i])", "len(mem)")} END) AS cbs
           |  FROM (
           |    SELECT step, cbs, SP, pm, $asg AS asg
           |    FROM (
           |      SELECT f.step, f.cbs, s.SP, s.pm
           |      FROM pqfit$j f, pqsub$j s
           |      WHERE f.step < $PqLI
           |    )
           |  )
           |)""".stripMargin,
        s"pqcb$j AS MATERIALIZED (SELECT cbs FROM pqfit$j WHERE step = $PqLI)")
    }
    val codeCols = (0 until PqM).map { j =>
      val lo = j * PqDsub + 1
      val hi = (j + 1) * PqDsub
      s"""CAST(list_position(sc$j, list_min(sc$j)) - 1 AS INT)"""
        .replace(s"sc$j", s"list_transform(b$j.cbs, cb -> list_dot_product(cb, cb) - 2.0 * list_dot_product(a.u[$lo:$hi], cb))")
    }
    val lutParts = (0 until PqM).map { j =>
      val lo = j * PqDsub + 1
      val hi = (j + 1) * PqDsub
      s"list_transform(b$j.cbs, cb -> list_dot_product(q.u[$lo:$hi], cb))"
    }
    val cbJoins = (0 until PqM).map(j => s"pqcb$j b$j").mkString(", ")
    val tail = Seq(
      s"""pqcodes AS MATERIALIZED (
         |  SELECT a.vec_id, a.cell, [${codeCols.mkString(",\n    ")}] AS codes
         |  FROM acorp a, $cbJoins
         |)""".stripMargin,
      s"""pqlut AS MATERIALIZED (
         |  SELECT q.vec_id AS q_id, flatten([${lutParts.mkString(",\n    ")}]) AS lut
         |  FROM (SELECT vec_id, u FROM acorp WHERE vec_id < ${Knn.NumQueries}) q, $cbJoins
         |)""".stripMargin,
      s"""pqprobes AS MATERIALIZED (
         |  SELECT q.vec_id AS q_id, l.cell
         |  FROM (SELECT vec_id, u FROM acorp WHERE vec_id < ${Knn.NumQueries}) q, leafcents l
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY l.cnorm2 - 2.0 * list_dot_product(q.u, l.cent) ASC, l.cell ASC)
         |    <= (SELECT nprobe FROM nleaf)
         |)""".stripMargin,
      s"""adcsc AS (
         |  SELECT p.q_id, c.vec_id AS nbr_id,
         |         list_reduce(
         |           list_prepend(0.0::DOUBLE,
         |             list_transform(range(0, $PqM),
         |               j -> l.lut[j * pp.kpq + c.codes[j + 1] + 1])),
         |           (aa, bb) -> aa + bb) AS adc
         |  FROM pqprobes p
         |  JOIN pqcodes c ON c.cell = p.cell AND c.vec_id <> p.q_id
         |  JOIN pqlut l ON l.q_id = p.q_id, pqparams pp
         |)""".stripMargin)
    params ++ subFits ++ tail
  }

  /** `q_ann_ivfpq`: ADC-selected candidates from the probed coarse
    * cells, exact cosine rerank of the ADC top-`RerankDepth` —
    * `IvfPq.ivfPqTopK` replayed end-to-end (coarse quantizer AND the m
    * codebook fits).
    */
  lazy val annIvfPqSql: String =
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |${pqCtes.mkString(",\n")},
       |rer AS (
       |  SELECT a.q_id, a.nbr_id,
       |         list_dot_product(qe.e, ce.e) / (qn.norm * cn.norm) AS cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, nbr_id ASC) AS arn FROM adcsc) a
       |  JOIN vec qe ON qe.vec_id = a.q_id
       |  JOIN vec ce ON ce.vec_id = a.nbr_id
       |  JOIN norms qn ON qn.vec_id = a.q_id
       |  JOIN norms cn ON cn.vec_id = a.nbr_id
       |  WHERE a.arn <= ${IvfPq.RerankDepth}
       |)
       |SELECT q_id, nbr_id, ${round4("cos")} AS cos, rn::BIGINT AS rn
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id ASC) AS rn FROM rer)
       |WHERE rn <= ${Knn.TopK}
       |ORDER BY q_id, rn""".stripMargin

  /** `q_diversity_sample`: √-flattened exact-int quotas, then the
    * most-representative-first within-cell rank — `Diversity
    * .diversitySample` replayed (the r15 integer quota arithmetic is
    * what made wsum order-independent and hence replayable).
    */
  lazy val diversitySql: String = {
    val b2 = 2 * Diversity.Budget
    s"""WITH RECURSIVE
       |${quantCtes.mkString(",\n")},
       |csz AS (
       |  SELECT cell, CAST(floor(sqrt(CAST(count(*) AS DOUBLE) * 100000000)) AS BIGINT) AS w
       |  FROM acorp GROUP BY cell
       |),
       |quot AS (
       |  SELECT cell, GREATEST(1, ($b2 * w + wsum) // (2 * wsum)) AS quota
       |  FROM csz, (SELECT sum(w) AS wsum FROM csz)
       |),
       |ranked AS (
       |  SELECT a.vec_id, a.cell, l.cnorm2,
       |         l.cnorm2 - 2.0 * list_dot_product(a.u, l.cent) AS dscore,
       |         row_number() OVER (PARTITION BY a.cell
       |           ORDER BY l.cnorm2 - 2.0 * list_dot_product(a.u, l.cent) ASC, a.vec_id ASC) AS rnk
       |  FROM acorp a JOIN leafcents l ON l.cell = a.cell
       |)
       |SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cell, r.rnk::BIGINT AS rnk,
       |       ${round4("(r.cnorm2 - r.dscore) / 2.0")} AS centroid_dot
       |FROM ranked r JOIN quot q ON q.cell = r.cell
       |WHERE r.rnk <= q.quota
       |ORDER BY r.vec_id""".stripMargin
  }
}
