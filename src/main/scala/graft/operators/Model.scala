package graft.operators

import graft.Query
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed train/predict stand-in for the reference's modeling tail
  * (match_modeling.py:197 / proto_data_analysis.py:697: a Keras
  * fit/predict over the flattened per-match frames). The engine builds
  * every input frame the reference feeds its model (one-hot counts,
  * normalized stats, splits, bins, correlations); this closes the last
  * stage with a logistic-family GLM over the same features.
  *
  * Task shape mirrors the reference's "predict outcome from engagement
  * profile": label = user converted (>=1 purchase event), features =
  * the OTHER event-type counts from `q_pivot_onehot`'s frame (the
  * purchase column is excluded from features — it IS the label).
  *
  * THE FIT IS DETERMINISTIC AND CROSS-ENGINE REPLAYABLE (r15 — the
  * same move as `KMeansFit`): Spark-ML's LBFGS-LR was irreproducible
  * outside this Spark build (treeAggregate gradient sums in partition
  * order, libm `exp` in the link — neither bit-portable), which kept
  * `q_model_lr`/`q_model_eval` rows-only. This trainer replaces both
  * non-portable pieces:
  * - the LINK is the rational sigmoid σ̃(t) = 0.5 + 0.5·t/(1+|t|) —
  *   only +,−,×,÷,|·| (all correctly rounded in IEEE), so every margin
  *   and probability is bit-identical in any engine; same shape,
  *   bounded (0,1), monotone, σ̃(0)=0.5 (so `p > 0.5 ⇔ margin > 0`
  *   still holds);
  * - GRADIENT SUMS are exact int64: each row's contribution quantizes
  *   to the fixed binary grid floor(c·2^24 + 0.5) (the ×2^24 is a
  *   power-of-two multiply — exact) and sums as integers, making the
  *   aggregation ORDER-FREE — the property LBFGS's float treeAggregate
  *   could never have;
  * - TRAINING runs over the hash-ordered bounded sample (≤ 2^17 rows,
  *   the `KMeansFit` contract: driver-side training legal at any
  *   corpus size; at gate scale the sample is the whole frame), with
  *   feature scaling s_j = √(var) derived from exact integer
  *   Σx/Σx² sums, fixed `Iters` plain-GD rounds (no line search), L2
  *   `RegLambda`, and coefficients mapped back to raw feature space.
  * `ModelOracle` replays all of it in DuckDB — train → score → eval is
  * oracle-closed end-to-end, like BPE train → apply.
  *
  * PUBLISHED MODEL (r13): the fitted coefficients are an Artifacts
  * table — (feature, weight) rows plus an `__intercept` row, tiny and
  * version-fingerprinted exactly like the BPE merge table. With an
  * artifacts root configured, the pipeline fits ONCE and every
  * consumer (`trainPredict` scoring, `evalTable`) reads the committed
  * coefficients; inline mode refits per query so the correctness gate
  * stays self-contained. Scoring is ONE expression path either way —
  * σ̃(w·x + b) with the dot accumulated in declared feature order — so
  * published and inline modes produce identical predictions (the
  * provenance spec pins it).
  */
object Model {
  private[graft] val FeatureCols = Array("click", "error", "signup", "view")

  /** Marker row name for the intercept in the coefficient artifact. */
  private val InterceptRow = "__intercept"

  /** Version tag folded into the artifact fingerprint: bump whenever
    * the feature set or hyperparameters change meaning.
    */
  val ArtifactVersion = "glm-rational-sigmoid-gd-v2"

  /** Bounded-training contract: the fit sees the TrainCap rows with the
    * smallest (xxhash64(user_id), user_id) — membership-only determinism
    * (the integer gradient sums are order-free).
    */
  val TrainCap = 131072
  val Iters = 80
  val Eta = 1.0
  val RegLambda = 0.01
  /** Gradient quantization grid: 2^24 (exact power-of-two multiply). */
  val Quant = 16777216.0

  /** Rational sigmoid — the replayable link (see scaladoc). */
  private[graft] def sigt(t: Double): Double = {
    val d = 1.0 + math.abs(t)
    val r = t / d
    0.5 + 0.5 * r
  }

  private def featureFrame(spark: SparkSession, dir: String): DataFrame =
    Relational.pivotOnehot(spark, dir)
      .withColumn("label", (col("purchase") > 0).cast("double"))

  /** The fitted model's per-feature RAW-SPACE coefficients + intercept
    * (driver side, dim+1 doubles) — exposed for the determinism spec.
    * Always fits; the artifact-aware accessor is `publishedCoefficients`.
    */
  private[graft] def fitCoefficients(spark: SparkSession, dir: String): Array[Double] = {
    val dim = FeatureCols.length
    val rows: Array[(Array[Long], Double)] = featureFrame(spark, dir)
      .select(
        (Seq(xxhash64(col("user_id")).as("h"), col("user_id")) ++
          FeatureCols.map(col) :+ col("label")): _*)
      .orderBy(col("h"), col("user_id"))
      .limit(TrainCap)
      .collect()
      .map(r => (Array.tabulate(dim)(j => r.getLong(2 + j)), r.getDouble(2 + dim)))
    val n = rows.length
    require(n >= 2, "model fit needs at least two rows")

    // Feature scale from EXACT integer sums (population shape matches
    // the oracle bit-for-bit; a constant feature gets s=0 -> dropped).
    val sx = new Array[Long](dim)
    val sxx = new Array[Long](dim)
    rows.foreach { case (x, _) =>
      var j = 0
      while (j < dim) { sx(j) += x(j); sxx(j) += x(j) * x(j); j += 1 }
    }
    val s = Array.tabulate(dim) { j =>
      val vnum = n.toLong * sxx(j) - sx(j) * sx(j)
      if (vnum <= 0) 0.0
      else math.sqrt(vnum.toDouble / (n.toDouble * (n - 1).toDouble))
    }
    val z: Array[Array[Double]] =
      rows.map { case (x, _) =>
        Array.tabulate(dim)(j => if (s(j) == 0.0) 0.0 else x(j).toDouble / s(j))
      }
    val y = rows.map(_._2)

    val w = new Array[Double](dim)
    var b = 0.0
    var it = 0
    while (it < Iters) {
      val sq = new Array[Long](dim)
      var sqb = 0L
      var i = 0
      while (i < n) {
        val m = graft.similarity.KMeansFit.dot(z(i), w) + b
        val res = sigt(m) - y(i)
        var j = 0
        while (j < dim) {
          sq(j) += math.floor((res * z(i)(j)) * Quant + 0.5).toLong
          j += 1
        }
        sqb += math.floor(res * Quant + 0.5).toLong
        i += 1
      }
      var j = 0
      while (j < dim) {
        val g = ((sq(j).toDouble / Quant) / n.toDouble) + RegLambda * w(j)
        w(j) = w(j) - Eta * g
        j += 1
      }
      b = b - Eta * ((sqb.toDouble / Quant) / n.toDouble)
      it += 1
    }
    Array.tabulate(dim)(j => if (s(j) == 0.0) 0.0 else w(j) / s(j)) :+ b
  }

  /** The model artifact frame: one row per feature plus the intercept. */
  private def coefFrame(spark: SparkSession, dir: String): DataFrame = {
    val coefs = fitCoefficients(spark, dir)
    spark.createDataFrame(
      FeatureCols.toSeq.zip(coefs.init) :+ (InterceptRow, coefs.last))
      .toDF("feature", "weight")
  }

  /** Artifact-aware coefficient accessor: the PUBLISHED model when an
    * artifacts root is configured (first consumer fits and publishes;
    * every later consumer reads the committed table), an inline fit
    * otherwise. The collect is bounded by contract: the artifact has
    * exactly FeatureCols.length + 1 rows.
    */
  private[graft] def publishedCoefficients(spark: SparkSession, dir: String): Array[Double] = {
    val frame = graft.sources.Artifacts.publishedOrCompute(
      spark, "model_lr", ArtifactVersion, Seq(s"$dir/events.parquet"))(
      coefFrame(spark, dir))
    val m = frame.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(m.size == FeatureCols.length + 1 && m.contains(InterceptRow),
      s"model_lr artifact malformed: ${m.keySet}")
    FeatureCols.map(m) :+ m(InterceptRow)
  }

  /** σ̃(w·x + b) over the declared feature columns, accumulated in
    * feature order — the rational link replays with +,−,×,÷,abs only
    * (libm `exp` is not correctly rounded and would break the oracle).
    */
  private def pOf(coefs: Array[Double]): Column = {
    val margin = FeatureCols.toSeq.zipWithIndex
      .map { case (c, i) => col(c).cast("double") * lit(coefs(i)) }
      .reduce(_ + _) + lit(coefs.last)
    lit(0.5) + lit(0.5) * (margin / (lit(1.0) + abs(margin)))
  }

  /** q_model_lr: per-user conversion prediction — label, predicted
    * class, and round4'd P(converted). Scoring is scan-local: the
    * coefficient vector rides the plan as literals; no per-row model
    * object, no UDF.
    */
  def trainPredict(spark: SparkSession, dir: String): DataFrame = {
    val coefs = publishedCoefficients(spark, dir)
    featureFrame(spark, dir)
      .withColumn("p", pOf(coefs))
      .select(
        col("user_id"),
        col("label").cast("long").as("actual"),
        // margin > 0 <=> p > 0.5: the default binary-LR decision rule
        (col("p") > 0.5).cast("long").as("predicted"),
        graft.Num.round4(col("p")).as("p_converted"))
      .orderBy("user_id")
  }

  /** q_model_eval: the evaluation table a training run publishes next
    * to its model — per probability decile: volume, confusion counts,
    * and calibration (predicted-vs-observed positive rate). The
    * reference evaluates in-notebook after fit/predict
    * (proto_data_analysis.py:697 onward); a pipeline publishes this as
    * a table. One aggregate over the user-grain prediction frame (the
    * decile is a scan-local floor, never an ntile window); output is
    * ≤10 rows. Oracle-backed since the r15 fit replay (`ModelOracle`);
    * the spec still recomputes every cell driver-side. With an
    * artifacts root configured this consumes the SAME published fit
    * as q_model_lr — one training run per pipeline, not per consumer.
    *
    * mean_p is computed from EXACT integer tenths-of-bp: p_converted
    * is round4'd, so round(p·10⁴) recovers the integer exactly, the
    * int64 sum is order-free, and the mean is two IEEE divisions —
    * a float avg over doubles would depend on Spark's aggregation
    * order and break the oracle (obs_rate's 0/1 doubles sum exactly at
    * any order, so plain avg is already order-free there).
    */
  def evalTable(spark: SparkSession, dir: String): DataFrame =
    trainPredict(spark, dir)
      .withColumn("decile", least(floor(col("p_converted") * 10).cast("long"), lit(9L)))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("actual") === 1L && col("predicted") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("actual") === 0L && col("predicted") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("actual") === 1L && col("predicted") === 0L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("actual") === 0L && col("predicted") === 0L, 1L).otherwise(0L)).as("tn"),
        sum(round(col("p_converted") * 10000).cast("long")).as("p4sum"),
        count(lit(1)).cast("double").as("nd"),
        graft.Num.round4(avg(col("actual").cast("double"))).as("obs_rate"))
      .select(
        col("decile"), col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        graft.Num.round4((col("p4sum").cast("double") / lit(10000.0)) / col("nd")).as("mean_p"),
        col("obs_rate"))
      .orderBy("decile")

  val queries: Seq[Query] = Seq(
    // The model family (r15): the rational-sigmoid GD trainer replays
    // in DuckDB (ModelOracle) — train → score → eval oracle-closed.
    Query("q_model_lr", trainPredict _, ModelOracle.trainPredictSql),
    Query("q_model_eval", evalTable _, ModelOracle.evalSql)
  )
}
