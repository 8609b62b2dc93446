package graft.operators

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Feature-prep operators for the modeling pipeline (the reference
  * feeds per-match one-hot/normalized frames into Keras —
  * match_modeling.py, proto_data_analysis.py:39-77; these are the
  * engine-side transforms that stage feeds on).
  */
object Features {

  /** Decile binning of a value column: exact interpolated decile
    * boundaries (one tiny aggregate) broadcast back to the fact scan —
    * never a global ntile window, whose single ORDER BY partition is a
    * 100 TB non-starter. Boundaries are rounded to 4 dp on BOTH engine
    * sides so boundary comparisons are bit-identical in the oracle.
    * The scale variant swaps percentile -> approx_percentile with the
    * same call shape (see percentilesApprox).
    */
  def featureBins(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "value")
    val qs = (1 to 9).map(_ / 10.0)
    val bounds = ev.agg(
      expr(s"percentile(value, array(${qs.mkString(", ")}))").as("bs"))
    val bin = (0 until 9)
      .map(i => when(col("value") >= Num.round4(col("bs")(i)), 1).otherwise(0))
      .reduce(_ + _)
    // The 1-row broadcast join streams the sorted side, preserving its
    // per-partition order.
    graft.Staging.sorted(ev, "feature_bins_out", "event_id")(
      _.join(broadcast(bounds))
        .select(col("event_id"), col("value"), bin.cast("long").as("bin")))
  }

  /** Pairwise Pearson correlations of the lineitem numeric columns in
    * ONE aggregate pass. The co-moments are accumulated as EXACT sums
    * of scaled integers (decimal(38,0) — overflow-safe and
    * order-independent), then the correlation is assembled in double
    * from the exact totals: the result is bit-identical across engines
    * AND across partitionings, unlike a float corr() whose merge order
    * shifts the last ulp. Mergeable partial aggregation — the shape
    * that scales.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(spark, dir)
      .select(
        floor(col("l_quantity") * 100 + 0.5).cast(d38).as("x"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(d38).as("y"),
        floor(col("l_discount") * 100 + 0.5).cast(d38).as("z"))
    val agg = li.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def corrOf(sab: String, sa: String, sb: String, saa: String, sbb: String) = {
      val n = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      Num.round4(
        (n * d(sab) - d(sa) * d(sb)) /
          sqrt((n * d(saa) - d(sa) * d(sa)) * (n * d(sbb) - d(sb) * d(sb))))
    }
    agg.select(
      col("n"),
      corrOf("sxy", "sx", "sy", "sxx", "syy").as("corr_qty_price"),
      corrOf("sxz", "sx", "sz", "sxx", "szz").as("corr_qty_disc"),
      corrOf("syz", "sy", "sz", "syy", "szz").as("corr_price_disc"))
  }

  /** #43b mergeable per-source statistics: corpus stats maintained by
    * MERGING partial aggregate states instead of re-scanning — the
    * algebraic-aggregate pattern behind every incremental stats job
    * (count/sum/min/max/sum-of-squares are commutative monoids, so
    * stats(base ∪ delta) = merge(stats(base), stats(delta)) exactly).
    * At 100 TB the base's partial state is a lake-resident few-KB table
    * and a daily refresh costs one DELTA scan; the oracle computes the
    * stats DIRECTLY over the full corpus, so the hash compare proves
    * the merge path bit-identical to the single-pass answer — including
    * the derived mean/variance doubles, whose operation order is
    * mirrored exactly on both engine sides.
    *
    * Scale shape: two slice scans each map-side combine to a
    * sources-scale partial frame; the merge is a union + re-aggregate
    * of those tiny frames — no corpus-scale shuffle anywhere (the
    * groupBy keys carry ~5 distinct values; AQE coalesces to trivial
    * tasks).
    */
  def statsMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"))
    val isBase = pmod(col("doc_id"), lit(23)) =!= 3
    def partial(side: DataFrame): DataFrame =
      side.groupBy("source").agg(
        count(lit(1)).as("n"), sum("len").as("s"),
        min("len").as("mn"), max("len").as("mx"),
        sum(col("len") * col("len")).as("ss"))
    val merged = partial(docs.filter(isBase))
      .unionByName(partial(docs.filter(!isBase)))
      .groupBy("source").agg(
        sum("n").as("n"), sum("s").as("total_len"),
        min("mn").as("min_len"), max("mx").as("max_len"),
        sum("ss").as("ss"))
    def d(c: String) = col(c).cast("double")
    merged.select(
      col("source"), col("n"), col("total_len"), col("min_len"), col("max_len"),
      Num.round4(d("total_len") / d("n")).as("mean_len"),
      Num.round4((d("ss") - d("total_len") * d("total_len") / d("n")) / d("n")).as("var_len"))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("q_feature_bins", featureBins _,
      """WITH b AS (
        |  SELECT list_transform(quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |                        q -> floor(q * 10000 + 0.5) / 10000) AS bs
        |  FROM events
        |)
        |SELECT event_id, value,
        |  CAST((CASE WHEN value >= bs[1] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[3] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[4] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[5] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[6] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[7] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[8] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[9] THEN 1 ELSE 0 END) AS BIGINT) AS bin
        |FROM events, b ORDER BY event_id""".stripMargin),
    Query("q_corr_matrix", corrMatrix _,
      """WITH s AS (
        |  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
        |  FROM lineitem
        |), a AS (
        |  SELECT count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
        |    sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
        |  FROM s
        |)
        |SELECT n,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_qty_price,
        |  floor((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_qty_disc,
        |  floor((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_price_disc
        |FROM a""".stripMargin),
    // the merge path (partial states unioned and re-aggregated) must
    // equal the single-pass direct stats bit-for-bit — double operation
    // order mirrored exactly (see Features.statsMerge)
    Query("q_stats_merge", statsMerge _,
      """WITH s AS (
        |  SELECT source, len(string_split(text, ' ')) AS len FROM documents
        |), a AS (
        |  SELECT source, count(*) AS n, sum(len) AS total_len,
        |    min(len) AS min_len, max(len) AS max_len, sum(len * len) AS ss
        |  FROM s GROUP BY source
        |)
        |SELECT source, n, CAST(total_len AS BIGINT) AS total_len, min_len, max_len,
        |  floor(CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_len,
        |  floor((CAST(ss AS DOUBLE) - CAST(total_len AS DOUBLE) * CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS var_len
        |FROM a ORDER BY source""".stripMargin)
  )
}
