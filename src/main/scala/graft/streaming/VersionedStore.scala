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
  * The batch side builds on the same seam: every partition of a
  * [[graft.operators.PartitionedTable]] (and so the one partition of a
  * [[graft.operators.VersionedTable]]) is a store of immutable
  * `batch=<n>` versions, which that table's manifest pins and commits.
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

  /** Exact row count of a parquet dir from file FOOTERS — a
    * driver-side metadata read (#files footer opens), never a Spark
    * job. */
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
  def commit(spark: SparkSession, dir: String, id: Long, df: DataFrame): Boolean = {
    if (versions(spark, dir).contains(id)) return false
    val hfs = fs(spark, dir)
    val tmp = new Path(dir, s".tmp-$id")
    val dest = path(dir, id)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (usesMarkers(hfs, dir)) {
      // marker protocol (object-store mode, single committer): an
      // UNMARKED dest dir is garbage from a crashed non-atomic rename —
      // clear it, redo the copy, and only then PUT the marker (the
      // atomic commit point). A crash anywhere before the marker leaves
      // the version invisible and this path re-runs on retry.
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
