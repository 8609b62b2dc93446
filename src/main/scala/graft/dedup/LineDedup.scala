package graft.dedup

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal: drop from every document the "lines"
  * that recur across many documents — the CCNet/RefinedWeb curation
  * step that strips navigation bars, cookie banners, and licence
  * footers a page-level near-dup pass never sees (the page bodies
  * differ; the boilerplate lines repeat corpus-wide).
  *
  * The reference has no analog (its rows arrive structured); for raw
  * text corpora this is a first-class 100 TB operator. The synthetic
  * documents carry no newlines, so a "line" here is a deterministic
  * 10-word span — the algorithm is identical under any liner, and the
  * fixed-width liner keeps the DuckDB oracle bit-exact.
  *
  * Scale shape: one corpus scan → per-doc chunk ARRAY via pure array
  * expressions (no per-word explode — a 10x smaller intermediate than
  * the token frame), staged once (graft.Staging) because both the
  * frequency subtree and the reassembly subtree consume it. Document
  * frequency needs distinct lines PER DOC, and a doc's lines are
  * co-located by construction — `array_distinct` inside the row does
  * it for free, where a (doc,line).distinct() would shuffle the whole
  * chunk frame first (the avoided exchange IS the corpus).
  *
  * NO corpus shuffle ever carries a line STRING (the repo's
  * shuffle-hygiene principle, see Dedup jaccardPrefix): frequency
  * aggregates over xxhash64(line) longs, the boilerplate join keys
  * occurrences as (doc_id, line_no, lh) 24-byte rows against the
  * hash-only boilerplate set (corpus-scale, never hint-broadcast; AQE
  * may at toy SF), and the surviving text never leaves its document
  * row: removal reassembles SCAN-LOCALLY by filtering the in-row
  * chunks array against the doc's removed line_no set — the one
  * string-bearing exchange left is the doc_id equi-join of the tiny
  * (doc_id, removed-line-nos) frame back to the staged chunk frame,
  * and the in-order chunks array makes the old collect_list struct
  * sort unnecessary. Same 1e-10/line-pair xxhash64 collision trade
  * the shingle indexes accept (a collision can only merge two lines'
  * document frequencies, over-removing, never corrupting text).
  */
object LineDedup {

  /** Words per synthetic line. */
  val LineWords = 10

  /** A line present in >= this many distinct docs is boilerplate. */
  val BoilerplateDf = 3

  /** Per-doc chunk array. */
  private def chunked(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        expr(
          s"transform(sequence(0, (size(w)-1) div $LineWords), i -> array_join(slice(w, i*$LineWords+1, $LineWords), ' '))")
          .as("chunks"))

  /** Per-doc (line_no, line) frame — the spec's reassembly witness. */
  private[graft] def lines(docs: DataFrame): DataFrame =
    chunked(docs).select(col("doc_id"), posexplode(col("chunks")).as(Seq("line_no", "line")))

  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOf(graft.Staging.spread(Tables.documents(spark, dir)))

  /** Frame-level lineDedup: any (doc_id, text) frame. */
  def lineDedupOf(docs: DataFrame): DataFrame = {
    val chunks = graft.Staging.staged(
      chunked(docs).withColumn("lhs", expr("transform(chunks, c -> xxhash64(c))")),
      "line_chunks")
    // document frequency over line HASHES — the shuffle carries longs
    val boiler = chunks
      .select(explode(array_distinct(col("lhs"))).as("lh"))
      .groupBy("lh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerplateDf)
      .select("lh")
    // which of a doc's line slots are boilerplate: 24-byte occurrence
    // rows against the hash-only set, grouped back to one small row/doc
    val removed = chunks
      .select(col("doc_id"), posexplode(col("lhs")).as(Seq("line_no", "lh")))
      .join(boiler, "lh")
      .groupBy("doc_id")
      .agg(collect_list("line_no").as("rm"))
    // reassembly is scan-local: the in-row chunks array is already in
    // line order, so dropping the removed slot indexes IS the clean
    // text. Removal reuses `graft_remove_covered` with width 1 (r14): a
    // removed line slot is a covered span of one — the lambda+
    // array_contains probe it replaces was O(lines·|rm|) per doc, which
    // a boilerplate-heavy long document turns quadratic (the same tail
    // that dominated substrDedup; here the lists are line-grain so the
    // sf-level cost was small, but the shape fix is free).
    chunks
      .join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), array()))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_lines"),
        size(col("rm")).cast("long").as("n_removed"),
        expr("array_join(graft_remove_covered(chunks, rm, 1), ' ')").as("clean_text"))
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_line_dedup", (s, d) => lineDedup(s, d),
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, (i - 1) // 10 AS line_no, string_agg(w, ' ' ORDER BY i) AS line
        |  FROM w GROUP BY doc_id, (i - 1) // 10
        |), f AS (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line
        |)
        |SELECT l.doc_id, count(*) AS n_lines,
        |  count(CASE WHEN f.df >= 3 THEN 1 END) AS n_removed,
        |  coalesce(string_agg(CASE WHEN f.df < 3 THEN l.line END, ' ' ORDER BY l.line_no), '') AS clean_text
        |FROM l JOIN f USING (line)
        |GROUP BY l.doc_id
        |ORDER BY l.doc_id""".stripMargin)
  )
}
