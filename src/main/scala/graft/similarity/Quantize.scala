package graft.similarity

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding quantization: symmetric per-vector int8 — the standard
  * 4x storage/bandwidth reduction for a 100 TB vector corpus (a float32
  * embedding column dominates document bytes; ANN recall is driven by
  * direction, which int8 preserves to ~1/254 relative error).
  *
  * scale = max|x| / 127; q_i = round(x_i / scale) ∈ [-127, 127]. Pure
  * elementwise column expressions — no UDF, no shuffle, and (unlike
  * dot products) no accumulation order anywhere, so the reconstruction
  * stats are bit-identical across engines and partitionings.
  *
  * The declared query emits per-vector quantization DIAGNOSTICS (scale,
  * max abs reconstruction error) rather than the int8 payload: the
  * stats are what a pipeline monitors, and they oracle-check exactly;
  * `quantized` returns the actual int8 arrays for storage.
  */
object Quantize {

  private val Levels = 127

  /** (vec_id, q: array<int> in [-127, 127], scale: double). Zero vectors
    * quantize to zeros with scale 0 (guarded — no division by zero).
    */
  def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables.embeddings(spark, dir))

  private def quantizedOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("scale", expr(s"array_max(transform(e, x -> abs(x))) / $Levels"))
      .withColumn(
        "q",
        when(col("scale") === 0d, expr("transform(e, x -> 0)"))
          .otherwise(expr(s"transform(e, x -> cast(floor(x / scale + 0.5d) as int))")))

  /** Declared query: per-vector quantization diagnostics. */
  def quantizeStats(spark: SparkSession, dir: String): DataFrame =
    graft.Staging.sorted(Tables.embeddings(spark, dir), "embed_quantize_out", "vec_id")(
      quantizedOf(_)
        .withColumn(
          "max_abs_err",
          when(col("scale") === 0d, lit(0d))
            .otherwise(expr("array_max(zip_with(e, q, (x, qi) -> abs(qi * scale - x)))")))
        .select(
          col("vec_id"),
          size(col("e")).cast("long").as("n_dims"),
          Num.round4(col("scale")).as("scale"),
          Num.round4(col("max_abs_err")).as("max_abs_err")))

  val queries: Seq[Query] = Seq(
    // Quantization is elementwise (no accumulation order), so the stats
    // oracle-check exactly; indexing instead of list_zip keeps DuckDB
    // struct field naming out of the comparison.
    Query("q_embed_quantize", (s, d) => quantizeStats(s, d),
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS sc FROM e
        |), q AS (
        |  SELECT vec_id, v, sc,
        |    CASE WHEN sc = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(floor(x / sc + 0.5) AS INT)) END AS qv
        |  FROM s
        |)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS n_dims,
        |  floor(sc * 10000 + 0.5) / 10000 AS scale,
        |  CASE WHEN sc = 0 THEN 0.0
        |       ELSE floor(list_max(list_transform(range(1, len(v) + 1), i -> abs(qv[i] * sc - v[i]))) * 10000 + 0.5) / 10000
        |  END AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin)
  )
}
