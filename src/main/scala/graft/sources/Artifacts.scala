package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Publish/consume contract for derived artifacts — the cross-QUERY
  * reuse layer that the intra-query `graft.Staging` cache cannot
  * provide.
  *
  * A curation deployment materializes expensive derived tables (near-dup
  * clusters, tokenized corpora) ONCE, and every downstream consumer
  * reads the published table; recomputing them inline per consumer
  * multiplies the most expensive stage of the pipeline by its fan-out
  * (the near-dup cluster table alone feeds leakage-safe splits, shard
  * export, and corpus dedup). The reference gets this for free from its
  * database — every script reads the same stored rows
  * (dj_lol_dcs/lolapi/models.py persists matches once, analysis scripts
  * query them); a lake engine needs an explicit contract:
  *
  * - GATED by the `spark.graft.artifacts` conf (per-session; the spec
  *   path) or `SPARK_GRAFT_ARTIFACTS` env (the deployment switch)
  *   naming the artifacts root. Unset → every consumer computes inline
  *   and queries stay self-contained (Verify's correctness gate runs
  *   this way, so correctness never depends on published state).
  * - ONE SWITCH: `publishedOrCompute` is the only place that chooses
  *   between reading a stored artifact and computing it, and the only
  *   difference between the two modes. A computed artifact is staged
  *   (`Staging.staged`), so it is built once per query just as a
  *   published one is read once, and a consumer that reads it twice
  *   does not compute it twice. A consumer builds the same plan over
  *   whichever frame it gets, so the no-root oracle run checks the code
  *   the benches time with a root. Two call sites outside this file
  *   still read `rootDir`, neither to pick a read or a compute:
  *   `IvfAnn.ivfRefit` and `LexIndex.lexRerank` republish their index
  *   when a refresh is due, and without a root there is no published
  *   index to refresh.
  * - FRESHNESS is structural, not temporal: an artifact directory is
  *   keyed by a fingerprint of its input snapshot (every input file's
  *   path, length, mtime — the lake-less stand-in for a table-format
  *   snapshot id) plus the producing algorithm's version tag. Changed
  *   input or changed algorithm → different key → recompute. A
  *   time-based refresh policy can silently serve stale results or
  *   silently burn compute; a content key can do neither.
  * - IDEMPOTENCE / crash-safety: consumers only trust a directory whose
  *   `_SUCCESS` marker exists (parquet's commit protocol writes it
  *   last), so a crashed publish is invisible and the next consumer
  *   recomputes. A publish writes to a session-private staging directory
  *   and RENAMEs it into `fp=<hash>` — a committed artifact directory is
  *   therefore never deleted or partially overwritten in place, so a
  *   concurrent reader can never observe a mixed directory. If two
  *   producers race, the loser's rename fails against the existing
  *   committed directory and its staging output is discarded — content
  *   under the same key is identical by construction (deterministic
  *   plans), so which writer wins is immaterial.
  * - KNOWN LIMIT: the fingerprint keys on (path, length, mtime). A
  *   same-length rewrite of an input within the filesystem's mtime
  *   granularity is indistinguishable from the original — the lake-less
  *   stand-in accepts this; a real table format's snapshot id does not
  *   have the gap. Input tables here are immutable test fixtures.
  */
object Artifacts {

  /** The configured artifacts root, if any. Conf takes precedence over
    * env, mirroring `Staging.scratchDir`.
    */
  def rootDir(spark: SparkSession): Option[String] =
    spark.conf
      .getOption("spark.graft.artifacts")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACTS"))
      .filter(_.nonEmpty)

  /** Snapshot fingerprint of the input paths + producer version: hex
    * digest over the sorted (path, length, mtime) file listing.
    * Metadata-only and O(files) on the driver — the same listing cost
    * every scan's planning already pays. On a real table format this is
    * the snapshot/commit id instead.
    */
  def fingerprint(spark: SparkSession, version: String, inputPaths: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(version.getBytes("UTF-8"))
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    inputPaths.foreach { raw =>
      val p = new org.apache.hadoop.fs.Path(raw)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
        }
      }
    }
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private[graft] def artifactPath(root: String, name: String, fp: String): String =
    s"$root/$name/fp=$fp"

  private def committed(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Test-only injection point: invoked after a committed-marker check
    * succeeds and before the schema read, i.e. inside the exact window
    * where a concurrent prune could retire the directory. Specs swap in
    * a deleter to drive the loud-recompute fallback; production leaves
    * the no-op.
    */
  private[graft] var onBeforeConsume: (String, String) => Unit = (_, _) => ()

  /** Read the committed artifact if it is (still) there. The window
    * between the marker check and the schema read is where a racing
    * prune can retire the directory — that race resolves to None (the
    * caller recomputes LOUDLY) instead of an opaque reader failure. A
    * read error against a directory whose marker is still present is
    * real corruption and propagates. The read goes through
    * `Tables.parquet`, which infers the artifact's schema once per file
    * snapshot; a memo hit on a pruned directory still throws (Spark
    * checks the path exists even when handed a schema), so the race
    * still lands in the fallback below.
    */
  private def readCommitted(spark: SparkSession, name: String, fp: String, path: String): Option[DataFrame] =
    if (!committed(spark, path)) None
    else {
      onBeforeConsume(name, path)
      try Some(graft.Tables.parquet(spark, path))
      catch {
        case scala.util.control.NonFatal(e) if !committed(spark, path) =>
          System.err.println(
            s"[artifacts] $name fp=$fp vanished between commit-check and read " +
              s"(concurrent prune?): ${e.getClass.getSimpleName}; recomputing")
          None
      }
    }

  /** The contract call: read the published artifact when fresh; else
    * compute it, publish, and read back (read-back rather than returning
    * the computed plan, so consumer scan parallelism is governed by file
    * splits either way and the artifact is what was actually committed).
    * No artifacts root configured → compute inline and stage the
    * result under `name`, so the artifact is built once per query. A
    * consumer racing a prune of its directory falls back to
    * recompute-and-republish with a stderr warning; if even the fresh
    * publish is pruned out from under the read-back (retention
    * misconfigured to 0, or a prune keyed on a different input
    * snapshot), the computed plan itself is served so correctness never
    * depends on retention policy.
    */
  def publishedOrCompute(
      spark: SparkSession,
      name: String,
      version: String,
      inputPaths: Seq[String])(compute: => DataFrame): DataFrame =
    rootDir(spark) match {
      case None => graft.Staging.staged(compute, name)
      case Some(root) =>
        val fp = fingerprint(spark, version, inputPaths)
        val path = artifactPath(root, name, fp)
        readCommitted(spark, name, fp, path).getOrElse {
          // Stage under a session-private name, then atomically rename
          // into place: a committed fp= directory is never mutated, so
          // concurrent readers can't see a mixed directory and a lost
          // race just discards the loser's identical bytes.
          val df = compute
          val staging = s"$root/$name/.staging-$fp-${java.util.UUID.randomUUID().toString.take(8)}"
          // REBALANCE before the write (r19, guide §6 file sizing): a
          // publish inherits its plan's partitioning, so a
          // dictionary-sized artifact computed at session parallelism
          // landed as 32 near-empty files — and EVERY consumer scan then
          // paid one open-cost-dominated task per file, every timed run
          // (measured: 32-task scan stages with ~0 CPU under
          // q_hybrid_search/q_bm25_search; openCostInBytes packs one
          // tiny file per split). The AQE rebalance sizes output files
          // by bytes (advisoryPartitionSizeInBytes), so small artifacts
          // commit as one file while corpus-scale ones keep size-
          // governed parallelism — the publish is once-per-corpus, the
          // read amplification was per-consumer-per-run.
          df.hint("rebalance").write.mode("overwrite").parquet(staging)
          val conf = spark.sparkContext.hadoopConfiguration
          val dst = new org.apache.hadoop.fs.Path(path)
          val src = new org.apache.hadoop.fs.Path(staging)
          val fs = dst.getFileSystem(conf)
          // A marker-less destination is a CRASHED publish: clear it so
          // the repaired artifact can land (left in place it would block
          // the rename forever — every consumer recomputing and
          // discarding while reading uncommitted data). A committed
          // destination only appears if a concurrent producer won the
          // race; its bytes are identical, so the loser discards.
          if (fs.exists(dst) && !committed(spark, path)) fs.delete(dst, true): Unit
          // exists-check first: Hadoop local-FS rename into an existing
          // directory would NEST src inside it rather than fail.
          if (fs.exists(dst) || !fs.rename(src, dst)) fs.delete(src, true): Unit
          readCommitted(spark, name, fp, path).getOrElse {
            System.err.println(
              s"[artifacts] $name fp=$fp retired immediately after publish " +
                "(retention racing the producer); serving the computed plan inline")
            df
          }
        }
    }

  /** Maintenance half of the contract: retire stale fingerprints of
    * `name`, keeping `keepFp` — content keys accumulate as inputs
    * change, and a deployment prunes once consumers have drained.
    * In-flight `.staging-*` directories are NEVER touched (a concurrent
    * producer owns them; deleting one fails its parquet job mid-write);
    * they are session-private, self-discarding on a lost race, and a
    * crashed one is invisible to every consumer anyway.
    *
    * @return number of stale artifact directories removed
    */
  def prune(spark: SparkSession, name: String, keepFp: String): Int =
    pruneWhere(spark, name, _.getPath.getName != s"fp=$keepFp")

  /** Retention-count prune: keep the `keepLatest` most recently
    * COMMITTED fingerprints of `name`, retire the rest. Recency is the
    * commit instant (the `_SUCCESS` marker's mtime — written last by
    * the publish protocol), not the fingerprint value, which is an
    * opaque content hash with no order. Marker-less `fp=` directories
    * (crashed publishes) are always eligible — no consumer can trust
    * them and the next producer rebuilds over them; in-flight staging
    * dirs are never touched.
    *
    * @return number of stale artifact directories removed
    */
  def pruneKeepLatest(spark: SparkSession, name: String, keepLatest: Int): Int =
    rootDir(spark) match {
      case None => 0
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$name")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) 0
        else {
          val committedFps = fs
            .listStatus(p)
            .filter(_.getPath.getName.startsWith("fp="))
            .flatMap { st =>
              val marker = new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")
              if (fs.exists(marker))
                Some(st.getPath.getName -> fs.getFileStatus(marker).getModificationTime)
              else None
            }
          val keep = committedFps.sortBy(-_._2).take(math.max(keepLatest, 0)).map(_._1).toSet
          pruneWhere(spark, name, st => !keep.contains(st.getPath.getName))
        }
    }

  /** Sweep every artifact name under the root with the same retention
    * count. Returns (name → removed) for the names that lost anything.
    */
  def pruneAll(spark: SparkSession, keepLatest: Int): Map[String, Int] =
    rootDir(spark) match {
      case None => Map.empty
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Map.empty
        else
          fs.listStatus(p)
            .filter(_.isDirectory)
            .map(st => st.getPath.getName -> pruneKeepLatest(spark, st.getPath.getName, keepLatest))
            .filter(_._2 > 0)
            .toMap
    }

  /** Shared sweep: delete the `fp=` children of `name` matching `stale`.
    * The in-flight guard lives here so every prune flavor inherits it.
    */
  private def pruneWhere(
      spark: SparkSession,
      name: String,
      stale: org.apache.hadoop.fs.FileStatus => Boolean): Int =
    rootDir(spark) match {
      case None => 0
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$name")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) 0
        else {
          val victims = fs
            .listStatus(p)
            .filter(_.getPath.getName.startsWith("fp=")) // never .staging-* (in flight)
            .filter(stale)
          victims.foreach(st => fs.delete(st.getPath, true))
          victims.length
        }
    }
}
