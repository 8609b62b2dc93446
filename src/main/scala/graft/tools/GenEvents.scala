package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic events-scale generator for the WINDOW-family decade
  * measurements (r20): GenScale covers documents/embeddings, but the
  * Windows/Sessionize/StatsHistory operators run over `events`, so the
  * persist-vs-double-run question for their event-grain staged-sort
  * sites needs an events table a decade above sf0.1. This unions N
  * id-shifted copies of the sf0.1 events table — scaling USERS (each
  * copy is a disjoint user population), which keeps per-user event
  * density constant, exactly the axis a larger deployment grows on.
  * Seedless and deterministic: same input, same output.
  *
  * Usage: sbt "runMain graft.tools.GenEvents /root/testdata/sf0.1 target/testdata/ev10 10"
  */
object GenEvents {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/testdata/ev10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local()
    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val maxId = ev.agg(max("event_id")).head().getLong(0) + 1
    (0 until copies)
      .map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * maxId))
          .withColumn("user_id", col("user_id") + lit(i * maxUser))
      }
      .reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // The zscore site sorts lineitem, not events — copy it the same way
    // so the one lineitem-based sort site can A/B on the same dir.
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).head().getLong(0) + 1
    (0 until copies)
      .map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk)))
      .reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    spark.stop()
  }
}
