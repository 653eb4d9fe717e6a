package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** batchId-versioned parquet state store for `foreachBatch` folds — the
  * durability seam shared by the Bloom screen ([[CorpusStreams]]), the
  * packing stream ([[PackStreams]]) and the streaming MERGE's quarantine
  * ([[MergeStreams]], whose table itself is a
  * [[graft.operators.PartitionedTable]]). foreachBatch is at-least-once and a
  * plain `mode("overwrite")` is non-atomic, so state is written as
  * immutable per-batch version directories instead:
  *
  *  - [[commit]] writes to a temp path and RENAMES into `batch=<id>`
  *    (atomic on HDFS-like filesystems — HDFS, local, anything where
  *    directory rename is a metadata op) — a crash mid-write leaves only
  *    an invisible temp dir, never a half-written committed version.
  *    Object stores (s3a://) implement directory rename as a non-atomic
  *    copy+delete, so a crash mid-rename CAN surface a partial version
  *    directory there; for such stores [[enableMarkerCommits]] switches
  *    the store to a marker-file protocol: [[commit]] creates
  *    `batch=<id>/_COMMITTED` as its LAST step (a single-object PUT —
  *    atomic on every store) and [[versions]] counts only marked
  *    directories, so a half-copied rename is invisible and the
  *    directory is garbage a retried commit clears. Marker mode assumes
  *    ONE committer per store dir (the streaming contract already holds
  *    it: one query owns one checkpoint/store pair);
  *  - a retried batch sees its own version already committed and skips
  *    the write, so re-deliveries can recompute their emitted output
  *    from the PRE-batch state (`versions(...).filter(_ < id)`) and get
  *    byte-identical results;
  *  - all paths go through the Hadoop FileSystem API, so `hdfs://` /
  *    `s3a://` store dirs behave the same as local ones.
  *
  * Whether a version is a FULL state snapshot (Bloom: each version is
  * the merged bit set; superseded versions are pruned) or a DELTA
  * (packing: each version is one batch's assignment; the state is the
  * union of all versions) is the caller's contract.
  *
  * The batch side reuses the same seam: [[graft.operators.VersionedTable]]
  * commits layout rewrites (compaction, Z-order) as full-snapshot
  * versions, giving readers snapshot isolation and exact time travel.
  */
private[graft] object VersionedStore {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(dir: String, id: Long): Path = new Path(dir, s"batch=$id")

  /** Store-root flag file that switches the store to the marker-commit
    * protocol; per-version marker written last by [[commit]]. Both are
    * `_`-prefixed, so Spark's parquet reader never sees them as data. */
  private val MarkerFlag = "_marker_commits"
  private val Marker = "_COMMITTED"

  /** Per-version commit-metadata sidecar ([[graft.operators.VersionedTable.history]]).
    * Written into the TEMP dir before the rename, so it commits
    * atomically with the version's data — a version either has its
    * history row or doesn't exist. `_`-prefixed: invisible to reads. */
  private[graft] val MetaFile = "_graft_commit.json"

  /** Exact row count of a just-written parquet dir from file FOOTERS —
    * a driver-side metadata read (#files footer opens), never a Spark
    * job, so recording commit metadata costs no executor time. */
  private[graft] def footerRowCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = dir.getFileSystem(conf)
    hfs.listStatus(dir).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map { s =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Driver-side read of a committed version's metadata sidecar. */
  private[graft] def readMeta(spark: SparkSession, dir: String, id: Long): Option[String] = {
    val hfs = fs(spark, dir)
    val p = new Path(path(dir, id), MetaFile)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Opt this store into marker commits (object-store mode). Call once
    * at store creation, BEFORE the first commit — flipping a store that
    * already has rename-committed (marker-less) versions would make
    * them invisible, so that is refused. Idempotent. */
  def enableMarkerCommits(spark: SparkSession, dir: String): Unit = {
    val hfs = fs(spark, dir)
    if (!hfs.exists(new Path(dir, MarkerFlag))) {
      require(versions(spark, dir).isEmpty,
        s"enableMarkerCommits: $dir already has rename-committed versions " +
          "— enabling markers would hide them; create a fresh store instead")
      hfs.mkdirs(new Path(dir))
      hfs.create(new Path(dir, MarkerFlag), false).close()
    }
  }

  private def usesMarkers(hfs: FileSystem, dir: String): Boolean =
    hfs.exists(new Path(dir, MarkerFlag))

  /** Committed version ids under `dir`: fully renamed directories, and
    * in marker mode only those whose `_COMMITTED` marker landed — a
    * half-copied object-store rename has no marker and stays invisible. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val hfs = fs(spark, dir)
    val root = new Path(dir)
    if (!hfs.exists(root)) Seq.empty
    else {
      val dirs = hfs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(_.getName.startsWith("batch="))
      val committed =
        if (usesMarkers(hfs, dir)) dirs.filter(p => hfs.exists(new Path(p, Marker)))
        else dirs
      committed.map(_.getName.stripPrefix("batch=").toLong)
    }
  }

  /** Atomically commit `df` as version `id` unless that version already
    * exists (the retry case). Returns true iff this call wrote it.
    *
    * The rename's boolean result is checked: if the destination appeared
    * between the [[versions]] probe and the rename (a concurrent retry
    * won the slot) this returns false like any other lost race — the
    * caller must NOT prune prior versions or otherwise assume its
    * snapshot landed. Any other rename failure (filesystem error) throws
    * so the streaming query fails loudly instead of silently folding
    * from stale state. */
  def commit(spark: SparkSession, dir: String, id: Long, df: DataFrame): Boolean =
    commit(spark, dir, id, df, None)

  /** As [[commit]], with an optional metadata sidecar: `metaOf` receives
    * the written version's exact row count (a footer-driven count of the
    * temp write — the plan is never executed twice) and returns the JSON
    * to stage as [[MetaFile]] INSIDE the temp dir, so metadata and data
    * land in the same atomic rename/marker commit. */
  def commit(
      spark: SparkSession,
      dir: String,
      id: Long,
      df: DataFrame,
      metaOf: Option[Long => String],
      stage: Option[Path => Unit] = None): Boolean = {
    if (versions(spark, dir).contains(id)) return false
    val hfs = fs(spark, dir)
    val tmp = new Path(dir, s".tmp-$id")
    val dest = path(dir, id)
    def stageMeta(): Unit = {
      // caller-staged sidecars (e.g. the per-file stats manifest) land
      // in the temp dir too, inside the same atomic commit
      stage.foreach(f => f(tmp))
      metaOf.foreach { f =>
        val out = hfs.create(new Path(tmp, MetaFile), true)
        try out.write(f(footerRowCount(spark, tmp))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    if (usesMarkers(hfs, dir)) {
      // marker protocol (object-store mode, single committer): an
      // UNMARKED dest dir is garbage from a crashed non-atomic rename —
      // clear it, redo the copy, and only then PUT the marker (the
      // atomic commit point). A crash anywhere before the marker leaves
      // the version invisible and this path re-runs on retry.
      df.write.mode("overwrite").parquet(tmp.toString)
      stageMeta()
      if (hfs.exists(dest)) hfs.delete(dest, true)
      if (!hfs.rename(tmp, dest)) {
        hfs.delete(tmp, true)
        throw new java.io.IOException(
          s"VersionedStore: marker-mode rename $tmp -> $dest failed; " +
            "refusing to continue from unknown state")
      }
      hfs.create(new Path(dest, Marker), false).close()
      true
    } else {
      df.write.mode("overwrite").parquet(tmp.toString)
      stageMeta()
      if (hfs.rename(tmp, dest)) true
      else {
        hfs.delete(tmp, true)
        if (versions(spark, dir).contains(id)) false // concurrent/retry winner
        else throw new java.io.IOException(
          s"VersionedStore: rename $tmp -> $dest failed and the " +
            "version does not exist; refusing to continue from unknown state")
      }
    }
  }

  /** Delete committed versions, e.g. ones superseded by a snapshot. */
  def prune(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    val hfs = fs(spark, dir)
    ids.foreach(id => hfs.delete(path(dir, id), true))
  }
}
