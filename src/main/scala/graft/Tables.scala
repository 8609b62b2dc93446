package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the test schema. Callers `select()` the
  * columns they need at the use-site so Catalyst prunes the scan
  * (`ReadSchema` in explain shows only referenced columns).
  *
  * Reference data model (see /root/reference/dj_lol_dcs/lolapi/models.py):
  * HistoricalMatch (fact) ~ lineitem/orders; Region/GameVersion (dims) ~
  * region/nation/part/supplier; timeline event stream ~ events.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The files a read lists (path, length, mtime) and the session's
    * parquet schema confs: what a recorded schema is valid for.
    */
  private type Snapshot = (Seq[(String, Long, Long)], String)

  /** Schemas already inferred, per path. One entry per path, replaced
    * when its snapshot changes; the LRU cap bounds the paths a
    * long-lived JVM remembers (published artifacts get a new `fp=` path
    * per input snapshot).
    */
  private val MemoPaths = 256
  private val schemaMemo =
    new java.util.LinkedHashMap[String, (Snapshot, StructType)](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Snapshot, StructType)]): Boolean =
        size > MemoPaths
    }

  /** `spark.read.parquet(path)`, inferring the schema once per file
    * snapshot. Spark's parquet schema inference runs a Spark job on
    * every read (a `parallelize(...).collect()` over the footers, even
    * for one file), and graft declares each table and artifact read
    * anew on every query. The first read of a path infers exactly as
    * before and records the schema; a later read passes it
    * (`spark.read.schema(s)`), which lists files on the driver and
    * launches no job.
    *
    * The recorded schema is used only if the files that read listed
    * (every file's path, length and mtime) and the session's parquet
    * schema confs are those it was inferred from; otherwise the read is
    * redone with inference. So a rewrite (Spark names part files anew
    * on every overwrite) or a conf flip such as
    * `spark.sql.parquet.binaryAsString` re-infers. The snapshot comes
    * from the read's own listing, so a rewrite can never pair the
    * recorded schema with files it was not inferred from.
    *
    * A memo hit never hides a vanished directory: Spark checks that the
    * path exists even when it is given a schema, so the read still
    * throws, and callers that react to that (`Artifacts.readCommitted`'s
    * loud recompute after a racing prune) see the same failure as
    * before.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = schemaConfs(spark)
    val hit = schemaMemo.synchronized(Option(schemaMemo.get(path))).flatMap { case (snap, schema) =>
      Some(spark.read.schema(schema).parquet(path)).filter(snapshot(_, confs) == snap)
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      schemaMemo.synchronized(schemaMemo.put(path, (snapshot(df, confs), df.schema)))
      df
    }
  }

  private def snapshot(df: DataFrame, confs: String): Snapshot = {
    val files = df.queryExecution.analyzed.collect {
      case LogicalRelation(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }
    (files.flatten.sorted, confs)
  }

  /** The session confs parquet schema inference reads, as one string. */
  private def schemaConfs(spark: SparkSession): String =
    spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
      }
      .sorted
      .mkString(";")

  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  /** events.ts has shipped in two physical schemas across testdata
    * generations: parquet TIMESTAMP(NANOS) (no native Spark type; with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a
    * nanos-since-epoch long) and plain TIMESTAMP(MICROS)
    * (isAdjustedToUTC=false, which Spark loads as TIMESTAMP_NTZ). Branch
    * on the loaded dtype so either generation normalizes to the same
    * session-TZ microsecond timestamp the rest of the engine (and the
    * DuckDB oracle, via epoch_us) expects. The session TZ is pinned to
    * UTC in [[GraftSession]], so the NTZ→TZ cast is value-preserving.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(t(spark, dir, "events"))

  /** The generation-adaptive `ts` normalization, factored out so the
    * contract spec can exercise BOTH branches on synthetic frames (the
    * legacy int64-nanos branch is dead against current testdata but
    * must keep working — the driver has shipped both schemas).
    */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
