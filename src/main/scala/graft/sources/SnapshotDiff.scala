package graft.sources

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the data-versioning audit a 100 TB lake runs
  * after every ingest: which documents appeared, vanished, or changed
  * between snapshot v1 and snapshot v2. Production table formats get
  * this from a transaction log; a parquet lake (this repo's stand-in,
  * like `Artifacts`' structural fingerprints) derives it by keyed
  * comparison — and the diff is what incremental consumers
  * (`q_dedup_delta`, `q_cluster_delta`) would feed on as their "today's
  * batch" instead of the doc_id%10 stand-in.
  *
  * The testdata ships one snapshot, so the two versions are planted
  * slices of it (the `q_pii_redact` convention — identical arithmetic
  * in the oracle):
  *   v1 = docs with doc_id % 23 != 3          (the rest arrive later)
  *   v2 = docs with doc_id % 29 != 5          (those got deleted),
  *        with text || ' rev2' when doc_id % 17 = 2   (those changed)
  * The diff must recover exactly added / removed / changed; unchanged
  * docs are NOT emitted — a diff table must be delta-sized, never
  * corpus-sized, or publishing it costs a corpus rewrite per ingest.
  *
  * Scale shape: each side projects to (doc_id, sha2(text), source)
  * BEFORE the full-outer join, so the doc_id-keyed exchange carries
  * ~72-byte rows, never document text; the status decode is scan-local
  * on the joined frame. At 1000 executors this is one sort-merge join
  * on the natural snapshot key — bucketing both snapshots by doc_id
  * (operators.Bucketing) would eliminate even that exchange.
  */
object SnapshotDiff {

  /** The planted v1 snapshot: (doc_id, text, source). */
  private def v1Docs(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(23)) =!= 3)
      .select("doc_id", "text", "source")

  /** The planted v2 snapshot: (doc_id, text, source) with the revision
    * applied.
    */
  private def v2Docs(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(29)) =!= 5)
      .select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(17)) === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"),
        col("source"))

  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs
      .filter(pmod(col("doc_id"), lit(23)) =!= 3)
      .select(col("doc_id"), sha2(col("text"), 256).as("h1"),
        col("source").as("src1"))
    val v2 = docs
      .filter(pmod(col("doc_id"), lit(29)) =!= 5)
      .withColumn("text2",
        when(pmod(col("doc_id"), lit(17)) === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .select(col("doc_id"), sha2(col("text2"), 256).as("h2"),
        col("source").as("src2"))
    v1
      .join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), coalesce(col("src2"), col("src1")).as("source"))
      .orderBy("doc_id")
  }

  /** MERGE-apply: reconstruct snapshot v2 from v1 plus a DELTA-SIZED
    * change batch — the write path every incremental lake update takes
    * (a table format's MERGE INTO): upserts replace or insert, deletes
    * drop, everything else passes through untouched. The oracle derives
    * v2 directly from the base table, so the hash compare proves the
    * merge mechanics reproduce the target snapshot EXACTLY — a
    * different plan arriving at the same bytes.
    *
    * Scale shape: the only corpus-scale operation is ONE left-anti join
    * of v1 against the delta's key set — delta keys are ingest-sized,
    * so AQE broadcasts them and v1 streams through scan-local; the
    * upsert union appends delta-sized rows. No corpus shuffle at all:
    * this is why lakes apply diffs instead of rewriting snapshots.
    */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = v1Docs(docs)
    val v2 = v2Docs(docs)
    // The delta batch a real ingest would hand over: full payload rows
    // for added/changed, bare keys for removed (derived here from the
    // planted slices; production feeds corpusDiff output joined back to
    // the v2 payload).
    val v1Keyed = v1.select(col("doc_id"), sha2(col("text"), 256).as("h1"))
    val delta = v2
      .select(col("doc_id"), col("text"), col("source"), sha2(col("text"), 256).as("h2"))
      .join(v1Keyed, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status", "text", "source")
    val upserts = delta.filter(col("status") =!= "removed").select("doc_id", "text", "source")
    v1
      .join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upserts)
      .orderBy("doc_id")
  }

  /** Heavy-hitter floor for the drift report's token tables (the
    * Dsir/BigramMinCount bound contract).
    */
  val DriftMinCount = 3L

  /** Movers emitted by the drift report (per-mille ties broken by token
    * text, so the cut is total-order deterministic).
    */
  val DriftTopK = 20

  /** Corpus drift report: the top token-rate movers between snapshot v1
    * and v2 — the monitoring artifact a crawl pipeline checks after
    * every ingest ("did the language mix shift? did boilerplate
    * explode?"). Rates are exact per-billion integers (1e9·cnt div
    * total per snapshot — the Dsir convention), drift is their signed
    * difference, and the report keeps the DriftTopK largest absolute
    * movers over the floor-bounded union vocabulary.
    *
    * Scale shape: two corpus-scale token counts (map-side combined,
    * keyed on the token), a vocabulary-scale full-outer join of the two
    * floor-bounded count tables, 1-row total broadcasts, and a top-K
    * over the vocabulary frame — no corpus-scale sort anywhere. At
    * 100 TB the token key would be xxhash64(tok) with one exemplar
    * string carried per group (the q_vocab_topk pattern); kept as raw
    * strings here because the report IS the human-facing artifact.
    */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def tokens(side: DataFrame): DataFrame =
      side.select(explode(split(col("text"), " ")).as("tok"))
    def counts(side: DataFrame, as: String): DataFrame =
      tokens(side).groupBy("tok").agg(count(lit(1)).as(as))
        .filter(col(as) >= DriftMinCount)
    val t1 = tokens(v1Docs(docs)).agg(count(lit(1)).as("total1"))
    val t2 = tokens(v2Docs(docs)).agg(count(lit(1)).as("total2"))
    val joined = counts(v1Docs(docs), "cnt1")
      .join(counts(v2Docs(docs), "cnt2"), Seq("tok"), "full_outer")
      .crossJoin(broadcast(t1))
      .crossJoin(broadcast(t2))
      .select(col("tok"),
        expr("(1000000000 * coalesce(cnt1, 0)) div total1").as("rate1_pb"),
        expr("(1000000000 * coalesce(cnt2, 0)) div total2").as("rate2_pb"))
      .withColumn("drift_pb", col("rate2_pb") - col("rate1_pb"))
    joined
      .orderBy(abs(col("drift_pb")).desc, col("tok").asc)
      .limit(DriftTopK)
      .orderBy("tok")
  }

  val queries: Seq[Query] = Seq(
    // snapshot diff over planted v1/v2 slices; status decode is pure
    // CASE logic over a keyed full-outer join, text equality stands in
    // for the sha2 compare (identical verdicts — the hash is a Spark
    // shuffle-width optimization, not a semantic)
    Query("q_corpus_diff", (s, d) => corpusDiff(s, d),
      """WITH v1 AS (
        |  SELECT doc_id, text AS t1, source AS src1 FROM documents WHERE doc_id % 23 != 3
        |), v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS t2,
        |    source AS src2
        |  FROM documents WHERE doc_id % 29 != 5
        |), j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN t1 != t2 THEN 'changed' END AS status,
        |    coalesce(src2, src1) AS source
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |)
        |SELECT doc_id, status, source FROM j
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin),
    // MERGE-apply correctness: the Spark side reconstructs v2 as
    // v1 anti-join delta-keys ∪ upsert payloads; the oracle derives v2
    // DIRECTLY from the base table — hash equality proves the merge
    // mechanics reproduce the target snapshot byte-for-byte
    Query("q_snapshot_merge", (s, d) => snapshotMerge(s, d),
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS text,
        |  source
        |FROM documents WHERE doc_id % 29 != 5 ORDER BY doc_id""".stripMargin),
    // exact per-billion integer rates per snapshot (the Dsir scheme),
    // signed drift, top-20 absolute movers with token-text tie-break —
    // every step integer-exact in both engines
    Query("q_corpus_drift", (s, d) => corpusDrift(s, d),
      s"""WITH v1 AS (
         |  SELECT text FROM documents WHERE doc_id % 23 != 3
         |), v2 AS (
         |  SELECT CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 29 != 5
         |), tk1 AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM v1
         |), tk2 AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM v2
         |), c1 AS (
         |  SELECT tok, count(*) AS cnt1 FROM tk1 GROUP BY tok
         |  HAVING count(*) >= $DriftMinCount
         |), c2 AS (
         |  SELECT tok, count(*) AS cnt2 FROM tk2 GROUP BY tok
         |  HAVING count(*) >= $DriftMinCount
         |), t1 AS (SELECT count(*) AS total1 FROM tk1
         |), t2 AS (SELECT count(*) AS total2 FROM tk2
         |), j AS (
         |  SELECT coalesce(c1.tok, c2.tok) AS tok,
         |    (1000000000 * coalesce(cnt1, 0)) // total1 AS rate1_pb,
         |    (1000000000 * coalesce(cnt2, 0)) // total2 AS rate2_pb
         |  FROM c1 FULL OUTER JOIN c2 ON c1.tok = c2.tok
         |    CROSS JOIN t1 CROSS JOIN t2
         |), top AS (
         |  SELECT tok, rate1_pb, rate2_pb, rate2_pb - rate1_pb AS drift_pb
         |  FROM j ORDER BY abs(rate2_pb - rate1_pb) DESC, tok
         |  LIMIT $DriftTopK
         |)
         |SELECT tok, rate1_pb, rate2_pb, drift_pb FROM top ORDER BY tok""".stripMargin)
  )
}
