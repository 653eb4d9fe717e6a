package graft.streaming

import graft.QueryDef
import graft.operators.PartitionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader-side change data feed over a [[graft.operators.PartitionedTable]]
  * — the front door that lets a consumer SUBSCRIBE to a table it does
  * not own (the Delta CDF read path), instead of the table's committer
  * pushing through a sink callback ([[MergeStreams]]'s `feedSink`,
  * which only the merging stream can register; it pushes the same
  * [[diff]] over its batch's pre-merge and committed manifests).
  *
  *  - [[batch]]: every change event between two table versions, one
  *    slice PER COMMIT (tagged [[VersionCol]]) — not one endpoint diff:
  *    a key updated in two commits emits both updates, in order, which
  *    is what a replica or audit consumer needs;
  *  - [[maintain]]: the AvailableNow-relay flavor (the engine's
  *    standard front door for in-engine streaming sources): drains all
  *    not-yet-processed commits into `sink(feed, version)` in commit
  *    order, recording its offset in `checkpointDir` AFTER each sink
  *    call — at-least-once delivery with the usual contract: the sink
  *    is idempotent per version (a crash between sink and offset
  *    replays that version's byte-identical feed).
  *
  * One code path serves both, and any consumer that wants the NET
  * change of a whole drain instead of one call per commit (the IVF
  * index's [[IndexFeed.maintainIvf]]): a commit's slice is the range
  * diff [[diff]] over (prior version, commit], and the checkpoint
  * offset is read and written only through [[readOffset]] /
  * [[writeOffset]].
  *
  * Each range diff scans only the partitions whose manifest pointers
  * differ between its endpoints ([[PartitionedTable.changes]] —
  * untouched partitions are never scanned), so draining N commits
  * costs the sum of their touched partitions, never N table scans. The
  * consumer's read horizon is the table's vacuum horizon: keep
  * `vacuum(keep = …)` at least as deep as the oldest unprocessed
  * offset, exactly like any other time-travel reader.
  */
object ChangeFeed {

  /** Column tagging every event with the manifest version that
    * committed it. */
  val VersionCol = "_commit_version"

  /** All change events in table-version range (`fromVersion`,
    * `toVersion`] — per-commit slices in commit order. A version with
    * no prior (the initial load) emits its rows as inserts; pass
    * `fromVersion = -1` to include it, or the default 0 to subscribe
    * to post-load changes only.
    *
    * VACUUM-HORIZON GUARD: version v's slice needs version v−1's data
    * to diff against, so the oldest reconstructable slice starts AT the
    * oldest retained version's successor — `fromVersion` below the
    * retention horizon fails LOUD instead of silently degrading the
    * first pending slice to a full-table insert snapshot (which would
    * lose every delete between the offset and the horizon and diverge a
    * replica). `fromVersion = -1` stays valid on a vacuumed table: it
    * bootstraps with a snapshot of the OLDEST RETAINED version (which
    * already excludes everything pruned) followed by the retained
    * deltas — the correct replica state at every subsequent version. */
  def batch(
      spark: SparkSession,
      dir: String,
      keyCol: String,
      partCol: String,
      fromVersion: Long = 0L,
      toVersion: Option[Long] = None,
      preImages: Boolean = false): DataFrame = {
    val vs = PartitionedTable.versions(spark, dir).sorted
    require(vs.nonEmpty, s"ChangeFeed: no committed versions under $dir")
    requireHorizon(vs, fromVersion, dir)
    val to = toVersion.getOrElse(vs.max)
    val slices = vs.filter(v => v > fromVersion && v <= to)
      .map(v => slice(spark, dir, keyCol, partCol, v, preImages,
        allowSnapshot = fromVersion == -1L && v == vs.min))
    slices.reduceOption(_ unionByName _).getOrElse {
      // empty range: an empty feed with the feed's schema (snapshot
      // shape allowed — the frame is truncated to zero rows anyway)
      slice(spark, dir, keyCol, partCol, vs.max, preImages,
        allowSnapshot = true).limit(0)
    }
  }

  /** Fail loud when `fromVersion` predates the retention horizon (see
    * [[batch]]). `-1` = bootstrap; `>= min retained` = every pending
    * slice still has its diff base. Anything between lost its base to
    * [[graft.operators.PartitionedTable.vacuum]]. */
  private[streaming] def requireHorizon(
      retained: Seq[Long], fromVersion: Long, dir: String): Unit = {
    val oldest = retained.min
    require(fromVersion == -1L || fromVersion >= oldest,
      s"ChangeFeed: offset $fromVersion predates the retention horizon of " +
        s"$dir (oldest retained version: $oldest) — version ${oldest}'s " +
        "diff base was vacuumed, so the pending changes cannot be " +
        "reconstructed. Re-bootstrap the consumer with fromVersion = -1 " +
        s"(snapshot of v=$oldest + retained deltas).")
  }

  /** Net change events over table-version range (`from`, `to`]: the
    * endpoint diff of the two manifests, so a key touched by several
    * commits in the range emits one event pair for its net change.
    * `from = -1` is the bootstrap: `to`'s rows as inserts. The caller
    * owns the horizon check ([[requireHorizon]]). */
  private[streaming] def diff(
      spark: SparkSession, dir: String, keyCol: String, partCol: String,
      from: Long, to: Long, preImages: Boolean): DataFrame =
    if (from != -1L)
      PartitionedTable.changes(spark, dir, from, to, keyCol, partCol, preImages)
    else {
      val committed = PartitionedTable.read(spark, dir, Some(to))
      val payload = committed.columns.toSeq
        .filterNot(c => c == keyCol || c == partCol)
      committed.select(Seq(col(partCol), col(keyCol),
        lit("insert").as("op")) ++ payload.map(col): _*)
    }

  /** One commit's change events — the [[diff]] over (prior, `v`],
    * tagged with its version. A version with no retained prior only
    * emits the insert-shaped snapshot when the caller is explicitly
    * bootstrapping (`allowSnapshot`) — any other no-prior read is a
    * horizon violation and fails loud. */
  private def slice(
      spark: SparkSession, dir: String, keyCol: String, partCol: String,
      v: Long, preImages: Boolean, allowSnapshot: Boolean = false): DataFrame = {
    val prior = PartitionedTable.versions(spark, dir).filter(_ < v).maxOption
    require(prior.isDefined || allowSnapshot,
      s"ChangeFeed: version $v of $dir has no retained prior to diff " +
        "against — refusing to degrade a change slice to a snapshot " +
        "(bootstrap explicitly with fromVersion = -1)")
    diff(spark, dir, keyCol, partCol, prior.getOrElse(-1L), v, preImages)
      .withColumn(VersionCol, lit(v))
  }

  /** The consumer offset recorded in `checkpointDir` (the last source
    * version it processed), or `startVersion` for a fresh checkpoint. */
  private[streaming] def readOffset(
      spark: SparkSession, checkpointDir: String, startVersion: Long): Long = {
    val hfs = VersionedStore.fs(spark, checkpointDir)
    val offsetPath = new Path(checkpointDir, "offset")
    if (!hfs.exists(offsetPath)) startVersion
    else {
      val in = hfs.open(offsetPath)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Record `v` as the consumer offset in `checkpointDir` (written to a
    * temp file, then renamed into place). */
  private[streaming] def writeOffset(
      spark: SparkSession, checkpointDir: String, v: Long): Unit = {
    val hfs = VersionedStore.fs(spark, checkpointDir)
    val offsetPath = new Path(checkpointDir, "offset")
    hfs.mkdirs(new Path(checkpointDir))
    val tmp = new Path(checkpointDir,
      s".tmp-offset-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    hfs.delete(offsetPath, false)
    if (!hfs.rename(tmp, offsetPath))
      throw new java.io.IOException(
        s"ChangeFeed: offset rename to $offsetPath failed")
  }

  /** Relay every not-yet-processed commit into `sink`, one call per
    * version in commit order, recording the offset in `checkpointDir`
    * after each call. Returns the versions processed this drain (empty
    * = caught up). `startVersion` seeds a FRESH checkpoint (exclusive;
    * default 0 = post-initial-load changes, -1 = include the load). */
  def maintain(
      spark: SparkSession,
      dir: String,
      checkpointDir: String,
      keyCol: String,
      partCol: String,
      sink: (DataFrame, Long) => Unit,
      preImages: Boolean = false,
      startVersion: Long = 0L): Seq[Long] = {
    val from = readOffset(spark, checkpointDir, startVersion)
    val vs = PartitionedTable.versions(spark, dir).sorted
    require(vs.nonEmpty, s"ChangeFeed: no committed versions under $dir")
    requireHorizon(vs, from, dir)
    val pending = vs.filter(_ > from)
    pending.foreach { v =>
      sink(slice(spark, dir, keyCol, partCol, v, preImages,
        allowSnapshot = from == -1L && v == vs.min)
        .localCheckpoint(true), v)
      // offset AFTER the sink: at-least-once, idempotent-per-version
      writeOffset(spark, checkpointDir, v)
    }
    pending
  }

  /** Per-JVM scratch root (the [[graft.operators.VersionedTable]]
    * pattern: one temp dir per process, removed at exit; state reset
    * per invocation inside the query for bench determinism). */
  private lazy val workDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-change-feed")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(d.toFile)
    }
    d
  }

  val defs: Seq[QueryDef] = Seq(
    // Reader-side CDF, hash-gated: commit orders partitioned by status,
    // apply a mixed merge to 'F' (≡3 update +100, ≡7 delete, ≡1 insert
    // as key+10^8 — the q81 shape) and a delete-only merge to 'O'
    // (≡2 delete → the DV route), then read the WHOLE feed back through
    // ChangeFeed.batch and aggregate (version, op) event counts and
    // post/pre-image totals. The oracle recomputes every event slice
    // closed-form from the source, so a feed that loses an event,
    // emits a wrong image, leaks across partitions, or mis-attributes
    // a commit version breaks the hash.
    QueryDef.sql("q87_change_feed",
      """WITH ev AS (
        |  SELECT 1 AS commit_version, 'update' AS op,
        |         o_totalprice + 100 AS price
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 1, 'delete', o_totalprice
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT 1, 'insert', o_totalprice
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT 2, 'delete', o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 10 = 2)
        |SELECT commit_version, op, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(price), 2) AS total
        |FROM ev GROUP BY commit_version, op""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q87_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = graft.Tables.orders(s, dir)
      PartitionedTable.commit(s, store, orders, "o_orderstatus")
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val m1 = orders.filter(inF && touched.isin(1, 3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
        .withColumn("o_orderkey",
          when(touched === 1, col("o_orderkey") + 100000000L)
            .otherwise(col("o_orderkey")))
      PartitionedTable.merge(s, store, m1, "o_orderkey", "o_orderstatus")
      val m2 = orders
        .filter(col("o_orderstatus") === "O" && touched === 2)
        .withColumn("op", lit("delete"))
      PartitionedTable.merge(s, store, m2, "o_orderkey", "o_orderstatus")
      batch(s, store, "o_orderkey", "o_orderstatus", fromVersion = 0L)
        .groupBy(col(VersionCol).cast("int").as("commit_version"), col("op"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("o_totalprice"), 2).as("total"))
    }
  )
}
