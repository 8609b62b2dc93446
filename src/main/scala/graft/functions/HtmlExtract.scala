package graft.functions

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTML text extraction — the FRONT of a crawl-curation pipeline
  * (trafilatura / jusText shape, rule-based core): strip non-content
  * blocks (head, script, nav, footer) WITH their contents, drop the
  * remaining markup, and normalize whitespace, leaving the running text
  * every downstream gate (Gopher/C4/freq-rank) actually scores. The
  * reference corpus is pre-extracted, so — exactly like piiRedact
  * (QualityFilters.scala) — the query deterministically PLANTS a full
  * page skeleton from doc_id arithmetic around each document and the
  * operator must recover the content: headline + body paragraphs
  * survive, chrome (nav links, script payload, footer, title) does not.
  *
  * Everything is a scan-local column expression in the Java∩RE2 regex
  * subset (no backrefs/lookaround — one replace per stripped tag
  * class), zero UDFs, zero joins: at 100 TB extraction runs at
  * parquet-read speed, the same plan shape as the other planted gates.
  */
object HtmlExtract {

  /** Deterministic page skeleton around a text column: head (title +
    * style), nav chrome, h1 headline, two content paragraphs, script,
    * footer. All variable parts derive from doc_id so the oracle plants
    * the identical page.
    */
  def plantHtml(docId: Column, text: Column): Column =
    concat(
      lit("<html><head><title>Doc "), docId,
      lit("</title><style>body{font-size:12px;}</style></head><body>"),
      lit("<nav>home | about | section"), docId % 7, lit("</nav>"),
      lit("<h1>Doc "), docId, lit("</h1>"),
      lit("<p>"), text, lit("</p>"),
      lit("<p>More about item "), docId % 13, lit(".</p>"),
      lit("<script>var x="), docId % 97, lit(";</script>"),
      lit("<footer>(c) 2026 example.com</footer></body></html>"))

  /** Tag classes whose CONTENT is boilerplate, removed block-wise.
    * head goes first (it contains title and style whole).
    */
  val BlockTags: Seq[String] = Seq("head", "script", "nav", "footer")

  /** The extraction pipeline over a raw-html column: block strips,
    * then tag strip, then whitespace normalization.
    */
  def extractText(html: Column): Column = {
    val noBlocks = BlockTags.foldLeft(html)((c, t) =>
      regexp_replace(c, s"(?s)<$t[^>]*>.*?</$t>", " "))
    trim(regexp_replace(regexp_replace(noBlocks, "<[^>]+>", " "), "\\s+", " "))
  }

  /** #2-missing (r8 verdict): the declared query. title is read from
    * the RAW page (metadata a curation pipeline keeps even though the
    * text drops it), n_tags counts planted markup, clean_text is the
    * extracted running text.
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    // clean_text is corpus-scale: staging it would persist a frame
    // bigger than the input just to sort it.
    graft.Staging.sorted(Tables.documents(spark, dir), graft.Staging.CorpusScale, "doc_id")(
      _.withColumn("html", plantHtml(col("doc_id"), col("text")))
        .select(
          col("doc_id"),
          regexp_extract(col("html"), "<title>(.*?)</title>", 1).as("title"),
          size(regexp_extract_all(col("html"), lit("<[^>]+>"), lit(0))).cast("long").as("n_tags"),
          extractText(col("html")).as("clean_text")))

  /** The composed pipeline-front variant: the corpus report card
    * (rollup over the Gopher gate) computed over EXTRACTED text instead
    * of the pre-cleaned corpus — plant page, extract, gate, report, in
    * ONE documents scan (extraction and gate rules are all scan-local
    * expressions feeding the same rollup aggregate corpusReport uses).
    */
  def htmlCorpusReport(spark: SparkSession, dir: String): DataFrame =
    QualityFilters.corpusReportOver(
      graft.Staging.spread(Tables.documents(spark, dir))
        .withColumn("text",
          extractText(plantHtml(col("doc_id"), col("text")))))

  /** The planted page + extraction pipeline, DuckDB side — the same
    * doc_id arithmetic as plantHtml / extractText, in the shared
    * Java∩RE2 regex subset (no backrefs: one replace per block tag).
    */
  private lazy val HtmlPlantSql =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title><style>body{font-size:12px;}</style></head><body>' ||
      |'<nav>home | about | section' || CAST(doc_id % 7 AS VARCHAR) || '</nav>' ||
      |'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
      |'<p>' || text || '</p>' ||
      |'<p>More about item ' || CAST(doc_id % 13 AS VARCHAR) || '.</p>' ||
      |'<script>var x=' || CAST(doc_id % 97 AS VARCHAR) || ';</script>' ||
      |'<footer>(c) 2026 example.com</footer></body></html>'""".stripMargin

  private def htmlStripSql(c: String) =
    raw"""trim(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace($c,
         |    '<head[^>]*>.*?</head>', ' ', 'gs'),
         |    '<script[^>]*>.*?</script>', ' ', 'gs'),
         |    '<nav[^>]*>.*?</nav>', ' ', 'gs'),
         |    '<footer[^>]*>.*?</footer>', ' ', 'gs'),
         |  '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g'))""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_html_extract", (s, d) => htmlExtract(s, d),
      s"""WITH h AS (
         |  SELECT doc_id, $HtmlPlantSql AS html FROM documents
         |)
         |SELECT doc_id,
         |  regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
         |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
         |  ${htmlStripSql("html")} AS clean_text
         |FROM h ORDER BY doc_id""".stripMargin),
    // the composed pipeline front: plant -> extract -> Gopher gate ->
    // rollup report, the same report query over extracted text
    Query("q_html_corpus_report", (s, d) => htmlCorpusReport(s, d),
      s"""WITH hdocs AS (
         |  SELECT doc_id, lang, source,
         |    ${htmlStripSql(HtmlPlantSql)} AS text
         |  FROM documents
         |), g AS (
         |${QualityFilters.qualityGopherSqlOver("hdocs")}
         |)
         |SELECT coalesce(d.lang, 'ALL') AS lang, coalesce(d.source, 'ALL') AS source,
         |  count(*) AS n_docs,
         |  CAST(sum(g.n_words) AS BIGINT) AS total_words,
         |  floor(avg(CAST(g.keep AS INT)) * 10000 + 0.5) / 10000 AS keep_rate
         |FROM g JOIN hdocs d ON g.doc_id = d.doc_id
         |GROUP BY ROLLUP(d.lang, d.source)
         |ORDER BY lang, source""".stripMargin)
  )
}
