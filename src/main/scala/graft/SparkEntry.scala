package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dedup._
import graft.functions._
import graft.multimodal._
import graft.operators._
import graft.similarity._
import graft.sources._

/** Driver contract — see SURVEY.md §2 for the inventory. Each query and
  * its DuckDB oracle are one `Query` entry in the object that defines
  * the query; this object only concatenates those registries. Column
  * names of each query are aliased identically in the Spark plan and
  * the oracle; doubles in compared output are rounded on both sides
  * (float sum order is engine/partitioning dependent).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.multiJoinAgg(spark, "/root/testdata/sf0.001")

  /** The per-object registries, one per object that owns queries. */
  private[graft] def families: Seq[Seq[Query]] = Seq(
    Relational.queries, Windows.queries, Sessionize.queries, RangeJoin.queries,
    RoleAssign.queries, Fights.queries, Splits.queries, SeqPack.queries,
    StatsHistory.queries, Features.queries, CurationRun.queries, Model.queries,
    Dedup.queries, DedupQa.queries, Clusters.queries, SubstrDedup.queries,
    LineDedup.queries, TextFunctions.queries, QualityFilters.queries,
    Dsir.queries, BpeTrain.queries, HtmlExtract.queries, LshAnn.queries,
    Knn.queries, Quantize.queries, AnnRecall.queries, Hybrid.queries,
    LexIndex.queries, IvfAnn.queries, IvfPq.queries, SemDedup.queries,
    Diversity.queries, BinaryPipeline.queries, PixelPipeline.queries,
    PullIngest.queries, ScdHistory.queries, SnapshotDiff.queries)

  private lazy val registry: Map[String, Query] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names registered twice: ${twice.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  /** Every declared query by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** Each query's DuckDB oracle SQL by name (built on first read). */
  def oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracleSql }
}
