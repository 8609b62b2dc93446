package graft.sources

import graft.Query
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Rate-limited pull-ingestion front door — the stand-in for the
  * reference's API collectors, the last reference behavior without an
  * analog here: a token-bucket/multi-window request scheduler
  * (riot_api.py:1-110 `__validate_app_rate_limits` + the
  * request-history `permit_request` gate, api_key_container.py budgets),
  * retrying ingestion rounds (active_data_gathering.py:1-327), and the
  * NULL-column repair rescan (periodical_data_repair.py:31
  * `get_incomplete_records`).
  *
  * Semantics:
  * - Limits are the reference's own shape: a SET of (maxRequests,
  *   windowTicks) pairs per API key ("10:1,100:10,6000:600" means all
  *   of: ≤10/1s, ≤100/10s, ≤6000/600s). A request is issued at the
  *   earliest tick satisfying EVERY window — the greedy schedule obeys
  *   the max-plus recurrence t(i) = max_j(t(i - n_j) + w_j) over the
  *   per-key request sequence (the i-th request waits w_j after the
  *   (i-n_j)-th for each limit j).
  * - Fetches can fail transiently; failed requests land with a NULL
  *   payload (exactly how the reference stores rows whose result/
  *   timeline JSON is missing), the repair scan selects NULL-payload
  *   rows, and the next round re-schedules them AFTER every
  *   already-issued request of that key (retries join the tail of the
  *   queue — the reference's retry-after-backoff).
  *
  * Scale shape: the per-key schedule recurrence is SEQUENTIAL BY
  * CONTRACT — an API key's budget is a single global counter the
  * reference holds in process memory — so it runs as one
  * `mapPartitions` pass per key partition (the brief's "genuine
  * per-partition imperative logic" case): keys are the parallelism
  * unit, state per key is a bounded ring buffer of the last max(n_j)
  * issue ticks, and a 1000-key deployment schedules 1000 partitions
  * concurrently. Everything around the recurrence stays declarative:
  * fetch simulation, landing, the repair anti-scan, and the
  * RateMonitor-composed accounting are plain DataFrame plans.
  */
object PullIngest {

  /** One sliding-window limit: at most `maxRequests` issues inside any
    * `windowTicks`-tick window (the reference's "n:w" pair).
    */
  final case class Limit(maxRequests: Int, windowTicks: Long) {
    require(maxRequests > 0 && windowTicks > 0)
  }

  /** Greedy earliest-feasible issue schedule. Input: one row per
    * request with (api_key, req_id); requests are ordered per key by
    * (attempt, req_id) — retries carry attempt > 0 and therefore join
    * the tail. Output adds `req_seq` (per-key dense sequence) and
    * `issue_tick`.
    */
  def schedule(requests: DataFrame, limits: Seq[Limit]): DataFrame = {
    require(limits.nonEmpty, "at least one rate limit")
    val spark = requests.sparkSession
    val maxN = limits.map(_.maxRequests).max
    val lims = limits.map(l => (l.maxRequests, l.windowTicks)).toArray
    val outSchema = StructType(Seq(
      StructField("api_key", StringType),
      StructField("req_id", LongType),
      StructField("attempt", LongType),
      StructField("req_seq", LongType),
      StructField("issue_tick", LongType)))
    val prepared = requests
      .select(col("api_key"), col("req_id"), col("attempt"))
      .repartition(col("api_key"))
      .sortWithinPartitions("api_key", "attempt", "req_id")
    val rdd = prepared.queryExecution.toRdd.mapPartitions { it =>
      // Per-key ring buffer of the last maxN issue ticks: t(i) =
      // max_j(t(i - n_j) + w_j) needs exactly the n_j-back issue
      // ticks, so memory is O(max n_j) per key regardless of volume.
      var curKey: String = null
      var seq = 0L
      var ring: Array[Long] = null
      it.map { internal =>
        val key = internal.getUTF8String(0).toString
        val reqId = internal.getLong(1)
        val attempt = internal.getLong(2)
        if (key != curKey) { curKey = key; seq = 0L; ring = new Array[Long](maxN) }
        var t = 0L
        lims.foreach { case (n, w) =>
          if (seq >= n) {
            val tBack = ring(((seq - n) % maxN).toInt)
            if (tBack + w > t) t = tBack + w
          }
        }
        ring((seq % maxN).toInt) = t
        val out = Row(key, reqId, attempt, seq, t)
        seq += 1L
        out
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic fake remote (the container has no network): the
    * payload is a pure function of req_id, and an attempt-0 fetch of
    * every 5th-hash request fails transiently (succeeds on retry) —
    * enough structure for the repair loop to be observable.
    */
  private[graft] def fetchedPayload: org.apache.spark.sql.Column =
    when(
      pmod(xxhash64(col("req_id")), lit(5)) === 0 && col("attempt") === 0,
      lit(null).cast(StringType))
      .otherwise(concat(lit("payload for request "), col("req_id")))

  /** The repair scan: NULL-payload rows of the landed table
    * (periodical_data_repair.py:31 `get_incomplete_records` — column
    * pushdown means the rescan reads (api_key, req_id), never payloads).
    */
  def incompleteRecords(landed: DataFrame): DataFrame =
    landed.filter(col("payload").isNull).select("api_key", "req_id")

  /** Run `maxRounds` ingestion rounds: schedule pending requests under
    * `limits`, fetch, land, rescan for incompletes, re-queue them with
    * attempt+1 (joining the tail of the schedule). Returns the final
    * landed table and the full request LEDGER (every attempt with its
    * issue tick, offset so each round's schedule starts after the
    * previous round's last issue — rounds are sequential in time).
    *
    * (landed, ledger) both carry api_key/req_id; landed keeps exactly
    * one row per request (latest attempt wins).
    */
  def ingest(
      spark: SparkSession,
      requests: DataFrame,
      limits: Seq[Limit],
      maxRounds: Int = 3): (DataFrame, DataFrame) = {
    var pending = requests.select(col("api_key"), col("req_id"), lit(0L).as("attempt"))
    var landed: DataFrame = null
    var ledger: DataFrame = null
    var tickOffset = 0L
    var round = 0
    while (round < maxRounds && pending.head(1).nonEmpty) {
      val sched = schedule(pending, limits)
        .withColumn("issue_tick", col("issue_tick") + lit(tickOffset))
        .persist()
      val fetched = sched.withColumn("payload", fetchedPayload)
      ledger = if (ledger == null) fetched else ledger.unionByName(fetched)
      val fresh = fetched.select("api_key", "req_id", "payload")
      landed =
        if (landed == null) fresh
        // retried rows replace their NULL predecessors (latest attempt
        // wins); rows not retried this round pass through
        else landed.join(fresh.select(col("req_id").as("rid")), col("req_id") === col("rid"), "left_anti")
          .unionByName(fresh)
      landed = landed.persist()
      ledger = ledger.persist()
      val maxTick = sched.agg(max("issue_tick")).head().getLong(0)
      tickOffset = maxTick + limits.map(_.windowTicks).max // full-window backoff between rounds
      pending = incompleteRecords(landed)
        .withColumn("attempt", lit((round + 1).toLong))
      round += 1
    }
    (landed, ledger)
  }

  /** Gate limits for `q_pull_schedule` (the reference's n:w list
    * shape, scaled to testdata: ≤3 per 2 ticks, ≤10 per 20 ticks).
    */
  val GateLimits: Seq[Limit] = Seq(Limit(3, 2), Limit(10, 20))

  /** `q_pull_schedule`: the driver-gated face of the scheduler — one
    * request per customer, api_key = the customer's region name (the
    * reference pulls per-region with a per-region key), greedy
    * multi-window issue ticks. The DuckDB oracle replays the max-plus
    * recurrence as a recursive CTE whose working row carries a
    * ring-buffer list of the last max(n_j) ticks — the same O(max n_j)
    * state the distributed pass keeps per key.
    */
  def pullSchedule(spark: SparkSession, dir: String): DataFrame = {
    val reqs = graft.Tables.customer(spark, dir)
      .join(broadcast(graft.Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(graft.Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("api_key"), col("c_custkey").as("req_id"),
        lit(0L).as("attempt"))
    schedule(reqs, GateLimits)
      .select(col("api_key"), col("req_id"), col("req_seq"), col("issue_tick"))
      // The range-sampling pass re-ran the whole schedule recurrence
      // (map-side after its window exchange).
      .transform(df => graft.Staging.sorted(df, "pull_schedule_out", "api_key", "req_seq")())
  }

  /** RateMonitor composition: the ledger's issue ticks become event
    * timestamps and the existing sliding-window accountant
    * (monitor_gathering.py's analog) reports per-key request rates —
    * the same frame a deployment alerts on.
    */
  def monitorRates(ledger: DataFrame, windowTicks: Long): DataFrame =
    graft.streaming.RateMonitor.rates(
      ledger.select(
        timestamp_seconds(col("issue_tick")).as("ts"),
        col("api_key").as("event_type")),
      windowLen = s"$windowTicks seconds",
      slide = s"$windowTicks seconds",
      watermark = s"${windowTicks * 2} seconds")

  val queries: Seq[Query] = Seq(
    // pull-ingestion schedule: greedy multi-window rate limiting
    // t(i) = max_j(t(i-n_j) + w_j), replayed as a recursive CTE whose
    // working row carries a ring-buffer list of the last max(n_j)
    // ticks (exactly the per-key state the distributed pass keeps);
    // limits pinned to PullIngest.GateLimits = (3 per 2, 10 per 20)
    Query("q_pull_schedule", pullSchedule _,
      """WITH RECURSIVE base AS (
        |  SELECT r.r_name AS api_key, c.c_custkey AS req_id,
        |    row_number() OVER (PARTITION BY r.r_name ORDER BY c.c_custkey) - 1 AS seq
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |), cnt AS (
        |  SELECT api_key, count(*) AS n FROM base GROUP BY api_key
        |), sched AS (
        |  SELECT api_key, CAST(0 AS BIGINT) AS seq, CAST(0 AS BIGINT) AS t, [CAST(0 AS BIGINT)] AS ring
        |  FROM base WHERE seq = 0
        |  UNION ALL
        |  SELECT u.api_key, u.seq, u.t0 AS t,
        |    CASE WHEN len(list_append(u.ring, u.t0)) > 10
        |         THEN list_append(u.ring, u.t0)[-10:]
        |         ELSE list_append(u.ring, u.t0) END AS ring
        |  FROM (
        |    SELECT s.api_key AS api_key, s.seq + 1 AS seq,
        |      greatest(
        |        CASE WHEN s.seq + 1 >= 3 THEN s.ring[-3] + 2 ELSE CAST(0 AS BIGINT) END,
        |        CASE WHEN s.seq + 1 >= 10 THEN s.ring[-10] + 20 ELSE CAST(0 AS BIGINT) END) AS t0,
        |      s.ring AS ring
        |    FROM sched s JOIN cnt ON s.api_key = cnt.api_key
        |    WHERE s.seq + 1 < cnt.n
        |  ) u
        |)
        |SELECT b.api_key, b.req_id, CAST(b.seq AS BIGINT) AS req_seq, s.t AS issue_tick
        |FROM base b JOIN sched s ON b.api_key = s.api_key AND b.seq = s.seq
        |ORDER BY 1, 3""".stripMargin)
  )
}
