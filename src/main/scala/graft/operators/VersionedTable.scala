package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.VersionedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated batch tables: layout maintenance without the swap.
  *
  * [[Compaction.compact]] rewrites a directory in place behind a
  * rename-pair swap — crash-recoverable, but a reader that listed the old
  * directory mid-swap races the delete, and there is no committed history
  * to fall back to or time-travel into. This generalizes the streaming
  * durability seam ([[graft.streaming.VersionedStore]]) to batch layout
  * maintenance:
  *
  *  - every rewrite COMMITS a new immutable full-snapshot version
  *    directory (`batch=<n>`, temp-write + atomic rename — the store's
  *    crash contract applies verbatim: a crashed rewrite leaves only an
  *    invisible temp dir and the prior version stays the newest
  *    committed one);
  *  - readers resolve the NEWEST COMMITTED version at plan time and scan
  *    only that directory — a concurrent rewrite can never mutate or
  *    delete files under a running scan (versions are immutable until
  *    [[vacuum]], which a deployment runs only past its read horizon);
  *  - time travel is exact: version N−1 is the byte-identical directory
  *    that was committed as N−1, not a reconstruction.
  *
  * 100 TB posture: a version here is ONE table (or one partition
  * directory of a partitioned table — point the store at the partition
  * dir and compact partition-by-partition, exactly the
  * [[Compaction]] contract). Snapshots are cheap because layout
  * maintenance rewrites the partitions it touches, not the table: the
  * rewrite cost is the same files the swap-based path rewrites, plus one
  * directory rename. Version listing is a metadata op on the store root
  * (O(#versions), pruned by vacuum), never a data scan.
  */
object VersionedTable {

  /** Commit-history metadata recorded with a version — the
    * `DESCRIBE HISTORY` surface an operator reads first during an
    * incident: what committed, how many rows went in and out, how many
    * a gate quarantined. `rowsIn = None` means "same as the written
    * row count" (a plain snapshot commit). `at` is a caller-pinned tag
    * (a change-batch id, a pipeline run id — never wall-clock, so
    * reruns are deterministic). Tags must not contain `"`. */
  final case class CommitInfo(
      operation: String,
      rowsIn: Option[Long] = None,
      quarantined: Long = 0L,
      at: String = "") {
    // reject everything that would corrupt the JSON sidecar: quotes,
    // backslashes, and control chars (incl. newlines) — a malformed tag
    // must fail AT COMMIT, not surface later as history()'s from_json
    // silently yielding an all-null row for the version
    require(Seq(operation, at).forall(t =>
      !t.exists(c => c == '"' || c == '\\' || c < ' ')),
      s"CommitInfo tags must not contain quotes/backslashes/control chars: " +
        s"$operation / $at")
    // `ts` stamps the wall-clock commit instant for [[versionAt]]
    // resolution ONLY — [[history]]'s fixed from_json schema ignores
    // it, so the queryable history surface stays deterministic
    private[VersionedTable] def json(rowsOut: Long): String =
      s"""{"operation":"$operation","rows_in":${rowsIn.getOrElse(rowsOut)},""" +
        s""""rows_out":$rowsOut,"quarantined":$quarantined,"at":"$at",""" +
        s""""ts":${System.currentTimeMillis}}"""
  }

  /** Newest committed version id, if any version exists. */
  def latest(spark: SparkSession, dir: String): Option[Long] = {
    val vs = VersionedStore.versions(spark, dir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Commit `df` as the next version, recording `info` in the version's
    * atomic metadata sidecar. Returns the committed id. A lost race
    * against a concurrent committer retries on the next id — both
    * snapshots land, in commit order (last committer is the newest), and
    * neither can clobber the other.
    *
    * `statsCols` additionally stages a per-file min/max stats manifest
    * (the data-skipping half of the Z-order story): one footer-cheap
    * pass over the just-written files, stored as a `_stats` parquet
    * sidecar INSIDE the version (atomic with it, invisible to data
    * reads), consumed by [[readWhere]] to prune files before the scan. */
  def commit(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      info: CommitInfo = CommitInfo("commit"),
      statsCols: Seq[String] = Nil): Long = {
    val stage: Option[org.apache.hadoop.fs.Path => Unit] =
      if (statsCols.isEmpty) None
      else Some { tmp =>
        val aggs = statsCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
        // the just-written files carry df's schema — pass it explicitly
        // so the stats pass skips the per-commit footer inference
        spark.read.schema(PartitionedTable.allNullable(df.schema)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .parquet(tmp.toString)
          .groupBy(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
          .agg(aggs.head, aggs.tail: _*)
          .coalesce(1)
          .write.parquet(new org.apache.hadoop.fs.Path(tmp, StatsDir).toString)
      }
    var id = latest(spark, dir).map(_ + 1).getOrElse(0L)
    var attempts = 0
    while (!VersionedStore.commit(spark, dir, id, df, Some(info.json(_)), stage)) {
      attempts += 1
      require(attempts < 64, s"VersionedTable: lost $attempts commit races under $dir")
      id = latest(spark, dir).map(_ + 1).getOrElse(0L)
    }
    id
  }

  /** Per-file stats sidecar dir inside a version ("_"-prefixed: never
    * listed as data by the parquet reader). */
  private val StatsDir = "_stats"

  /** The per-file min/max stats manifest a version committed with
    * `statsCols`, if any: (file, min_<c>, max_<c>, ...). */
  def fileStats(spark: SparkSession, dir: String, version: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(VersionedStore.path(dir, version), StatsDir)
    if (VersionedStore.fs(spark, dir).exists(p)) Some(spark.read.parquet(p.toString))
    else None
  }

  /** Selective read of `[lo, hi]` on `c` with manifest-driven file
    * skipping: files whose committed min/max can't overlap the range
    * are never opened (the reading half of what the Z-order/cluster
    * machinery writes — commit with `statsCols` or
    * [[compact]]`(cluster=…, statsCols=…)` first). The residual
    * filter stays on the scan, so the result is EXACT regardless of
    * how coarse the pruning is; a stats-less version falls back to a
    * full scan + filter. Rows with a NULL `c` are outside any range,
    * matching SQL BETWEEN. */
  def readWhere(
      spark: SparkSession,
      dir: String,
      c: String,
      lo: Column,
      hi: Column,
      asOf: Option[Long] = None): DataFrame = {
    val vs = VersionedStore.versions(spark, dir)
    require(vs.nonEmpty, s"VersionedTable: no committed versions under $dir")
    val v = asOf.getOrElse(vs.max)
    val pred = col(c) >= lo && col(c) <= hi
    fileStats(spark, dir, v) match {
      case Some(stats) if stats.columns.contains(s"min_$c") =>
        val kept = stats
          .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
          .select("file").collect().map(_.getString(0)) // file-count-sized
        if (kept.isEmpty) read(spark, dir, Some(v)).filter(lit(false)).filter(pred)
        else {
          val base = VersionedStore.path(dir, v)
          spark.read.parquet(kept.toSeq.sorted.map(f =>
            new org.apache.hadoop.fs.Path(base, f).toString): _*).filter(pred)
        }
      case _ => read(spark, dir, Some(v)).filter(pred)
    }
  }

  /** The table's commit history as a queryable frame:
    * (version, operation, rows_in, rows_out, quarantined, at), one row
    * per committed version that carries a metadata sidecar (versions
    * written by raw [[graft.streaming.VersionedStore]] folds predate /
    * bypass history and are skipped). Reading it is a metadata op —
    * #versions tiny driver-side file reads, never a data scan. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("operation", StringType), StructField("rows_in", LongType),
      StructField("rows_out", LongType), StructField("quarantined", LongType),
      StructField("at", StringType)))
    val rows = VersionedStore.versions(spark, dir).sorted.flatMap(v =>
      VersionedStore.readMeta(spark, dir, v).map(v -> _))
    import spark.implicits._
    rows.toDF("version", "js")
      .select(col("version"), from_json(col("js"), schema).as("m"))
      .select(col("version"), col("m.operation").as("operation"),
        col("m.rows_in").as("rows_in"), col("m.rows_out").as("rows_out"),
        col("m.quarantined").as("quarantined"), col("m.at").as("at"))
  }

  /** Epoch-millis commit time of version `v`: the metadata sidecar's
    * own stamp when present (every [[commit]] since AS-OF support
    * landed), else the sidecar file's — or for raw
    * [[graft.streaming.VersionedStore]] folds, the version dir's —
    * filesystem mtime. */
  private def commitTimeOf(spark: SparkSession, dir: String, v: Long): Long =
    VersionedStore.readMeta(spark, dir, v)
      .flatMap("\"ts\":(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong))
      .getOrElse {
        val hfs = VersionedStore.fs(spark, dir)
        val meta = new org.apache.hadoop.fs.Path(
          VersionedStore.path(dir, v), VersionedStore.MetaFile)
        val p = if (hfs.exists(meta)) meta else VersionedStore.path(dir, v)
        hfs.getFileStatus(p).getModificationTime
      }

  /** TIMESTAMP AS OF: the newest version committed at or before
    * epoch-millisecond `tsMillis` — time travel by wall clock for the
    * reader who knows WHEN, not which version (the
    * [[graft.operators.PartitionedTable.versionAt]] twin). Resolution
    * is #versions tiny driver-side sidecar reads, never a data scan;
    * asks before the earliest retained commit fail loud rather than
    * silently answering with a later state. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val vs = VersionedStore.versions(spark, dir).sorted
    require(vs.nonEmpty, s"VersionedTable: no committed versions under $dir")
    val eligible = vs.filter(v => commitTimeOf(spark, dir, v) <= tsMillis)
    require(eligible.nonEmpty,
      s"VersionedTable: no version committed at or before ts=$tsMillis " +
        s"under $dir — the earliest retained commit is at " +
        s"${commitTimeOf(spark, dir, vs.min)}")
    eligible.max
  }

  /** [[read]] at the version [[versionAt]] resolves for `tsMillis`. */
  def readAt(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(spark, dir, tsMillis)))

  /** Read a committed snapshot: the newest one, or `asOf` for time
    * travel. Fails loudly on an empty store or an uncommitted id rather
    * than returning an empty frame that looks like data. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val vs = VersionedStore.versions(spark, dir)
    require(vs.nonEmpty, s"VersionedTable: no committed versions under $dir")
    val id = asOf.getOrElse(vs.max)
    require(vs.contains(id),
      s"VersionedTable: version $id not committed under $dir (have ${vs.sorted.mkString(",")})")
    spark.read.parquet(VersionedStore.path(dir, id).toString)
  }

  /** Compaction as a versioned rewrite: bin-pack the newest snapshot to
    * `targetBytes` (preserving `cluster` order when given, the
    * [[Compaction.compact]] rule) and commit the packed layout as a new
    * version. Returns (newVersionId, filesBefore, filesAfter). The prior
    * version stays readable throughout and afterwards. */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      cluster: Option[Column] = None,
      statsCols: Seq[String] = Nil): (Long, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"VersionedTable: nothing to compact under $dir"))
    val curPath = VersionedStore.path(dir, cur).toString
    val (before, totalBytes) = Compaction.layoutStats(spark, curPath)
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(curPath)
    val packed = cluster match {
      case Some(c) => df.repartitionByRange(n, c).sortWithinPartitions(c)
      case None => df.repartition(n)
    }
    val id = commit(spark, dir, packed, CommitInfo("compact"), statsCols)
    val (after, _) = Compaction.layoutStats(spark, VersionedStore.path(dir, id).toString)
    (id, before, after)
  }

  /** MERGE a CDC batch into the newest snapshot and commit the result
    * as a new version — the lakehouse MERGE INTO shape over the
    * immutable-version store. `changes` carries the base table's
    * columns plus `opCol` ∈ {"upsert", "delete"}; matched base rows are
    * replaced (upsert) or dropped (delete), unmatched upserts insert.
    * `changes` must hold ONE row per key — pre-collapse a changelog
    * with q48's ranked last-wins pattern first.
    *
    * Shape: one distinct on the (batch-sized) change keys, one
    * broadcast anti join against the base — a CDC batch is orders of
    * magnitude smaller than the table, so the base never shuffles —
    * then a union with the upserts. This is copy-on-write at the
    * store's version granularity: point the store at a partition
    * directory (the [[Compaction]] rule) and a merge rewrites one
    * partition, not the table. Returns the committed version id. */
  def merge(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      at: String = "",
      allowSchemaEvolution: Boolean = false): Long = {
    val base = read(spark, dir)
    val batch = changes.localCheckpoint(true) // reused: keys, upserts, history count
    val keys = batch.select(keyCol).distinct()
    val kept = base.join(broadcast(keys), Seq(keyCol), "left_anti")
    // fail-loud op validation: this filter evaluates the checked
    // expression for EVERY change row, so a typo'd op raises instead
    // of silently dropping the key through the anti join
    val checkedOp = when(col(opCol).isin("upsert", "delete"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"merge: $opCol must be upsert|delete, got "), col(opCol))))
    val upserts = batch.filter(checkedOp === "upsert").drop(opCol)
    // schema evolution (opt-in, the Delta mergeSchema semantic): change
    // columns the base lacks are added null-filled to untouched rows;
    // base columns the changes lack stay null on inserted rows. The
    // snapshot rewrite makes the new version's files homogeneous, so
    // readers never need mergeSchema. Off = strict unionByName error.
    commit(spark, dir, kept.unionByName(upserts, allowSchemaEvolution),
      CommitInfo("merge", rowsIn = Some(batch.count()), at = at))
  }

  /** Change data feed between two committed versions — the inverse of
    * [[merge]]: recover the row-level delta a consumer (a downstream
    * sync, an incremental materialized view, an audit) must apply to
    * get from version `from` to version `to`. Emits the TO-side image
    * (FROM-side for deletes) plus an `op` column:
    * "insert" (key only in `to`), "delete" (key only in `from`),
    * "update" (key in both, any non-key column differs); identical
    * rows emit nothing.
    *
    * Shape: one full outer join on the key between two committed
    * snapshots plus a codegen'd struct comparison — no driver
    * traffic, and the diff never materializes unchanged rows. */
  def changes(
      spark: SparkSession,
      dir: String,
      from: Long,
      to: Long,
      keyCol: String,
      preImages: Boolean = false): DataFrame =
    diffFrames(read(spark, dir, asOf = Some(from)),
      read(spark, dir, asOf = Some(to)), Seq(keyCol), preImages)

  /** The row-level diff two snapshots imply, keyed by `keyCols` —
    * shared by [[changes]] and the partition-aware feed
    * ([[PartitionedTable.changes]], which calls it per CHANGED
    * partition only). One full outer join + a codegen'd struct
    * comparison; unchanged rows never materialize. */
  private[operators] def diffFrames(
      a: DataFrame, b: DataFrame,
      keyCols: Seq[String], preImages: Boolean): DataFrame = {
    // schema evolution across the diffed versions: widen each side
    // with null columns for the other's additions (key columns must
    // exist on both). A pre-evolution row then compares null-vs-null
    // on the new column and emits nothing unless something real
    // changed — the evolution itself is not an event, matching a
    // reader's null-filled view of old files.
    require(keyCols.forall(k => a.columns.contains(k) && b.columns.contains(k)),
      s"diff key columns $keyCols must exist on both sides " +
        s"(${a.columns.toSeq} vs ${b.columns.toSeq})")
    val aOnly = a.columns.filterNot(b.columns.contains)
    val bOnly = b.columns.filterNot(a.columns.contains)
    val aw = bOnly.foldLeft(a)((df, c) => df.withColumn(c, lit(null).cast(
      b.schema(c).dataType)))
    val bw = aOnly.foldLeft(b)((df, c) => df.withColumn(c, lit(null).cast(
      a.schema(c).dataType)))
    val cols = aw.columns.toSeq
    val bAligned = if (bw.columns.toSeq == cols) bw else bw.select(cols.map(col): _*)
    val payload = cols.filterNot(keyCols.contains)
    val av = aw.select(keyCols.map(col) :+ struct(payload.map(col): _*).as("__a"): _*)
    val bv = bAligned.select(keyCols.map(col) :+ struct(payload.map(col): _*).as("__b"): _*)
    def ev(op: String, img: Column) =
      struct(lit(op).as("op"), img.as("img"))
    val updateEvents =
      if (preImages) array(ev("update_pre", col("__a")), ev("update_post", col("__b")))
      else array(ev("update", col("__b")))
    // one pass: each key yields 0..2 typed (op, image) events; the
    // empty case is a 0-length slice so the array stays typed without
    // a hand-written DDL cast
    val events =
      when(col("__a").isNull, array(ev("insert", col("__b"))))
        .when(col("__b").isNull, array(ev("delete", col("__a"))))
        .when(col("__a") =!= col("__b"), updateEvents)
        .otherwise(slice(array(ev("none", col("__a"))), 1, 0))
    av.join(bv, keyCols, "full_outer")
      .select(keyCols.map(col) :+ explode(events).as("__e"): _*)
      .select(keyCols.map(col) ++ Seq(col("__e.op").as("op")) ++
        payload.map(c => col(s"__e.img.$c").as(c)): _*)
  }

  /** Incremental maintenance of a sum/count view from a [[changes]]
    * feed emitted with `preImages = true` — the consumer the change
    * feed exists for: refresh a grouped aggregate by applying the
    * delta, never rescanning the table. View contract:
    * (groupCol, sum_v, n) with `sum_v = sum(valueCol)`,
    * `n = count(*)`. Post-images add, pre-images and deletes
    * subtract (an update's pre/post pair nets the count to zero);
    * groups whose count reaches zero drop out, matching a recompute.
    * Shape: one aggregation over the (delta-sized) feed + one outer
    * join against the (groups-sized) view. */
  def maintainSumCount(
      view: DataFrame, feed: DataFrame,
      groupCol: String, valueCol: String): DataFrame = {
    val sign = when(col("op").isin("insert", "update_post"), 1L)
      .when(col("op").isin("delete", "update_pre"), -1L)
      .otherwise(raise_error(concat(lit("maintainSumCount: feed needs " +
        "preImages=true ops, got "), col("op"))))
    val delta = feed.groupBy(groupCol).agg(
      sum(col(valueCol) * sign).as("__dv"), sum(sign).as("__dn"))
    view.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("sum_v"), lit(0L)) + coalesce(col("__dv"), lit(0L))).as("sum_v"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
  }

  /** The flag-then-rewrite lifecycle (the ANN index's s19→s34 pattern)
    * applied to the table store itself: when version count or the
    * newest snapshot's small-file ratio crosses its bound, fold to one
    * freshly bin-packed version and vacuum to the read horizon —
    * otherwise do nothing (the flag probe is two FS metadata calls,
    * safe to run after every commit). Returns the fold's
    * (newVersionId, filesBefore, filesAfter) when it ran.
    *
    * The fold is a content-identical [[compact]] commit, so snapshot
    * isolation holds throughout: readers of the pre-fold version keep
    * their immutable directory until vacuum passes the horizon. */
  def autoCompact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      maxVersions: Int = 8,
      smallFileRatio: Double = 2.0,
      keep: Int = 2,
      cluster: Option[Column] = None,
      statsCols: Seq[String] = Nil): Option[(Long, Int, Int)] = {
    require(maxVersions >= 1 && smallFileRatio >= 1.0 && keep >= 1,
      s"bad autoCompact policy: maxVersions=$maxVersions ratio=$smallFileRatio keep=$keep")
    val vs = VersionedStore.versions(spark, dir)
    if (vs.isEmpty) None
    else {
      val newest = VersionedStore.path(dir, vs.max).toString
      val (files, bytes) = Compaction.layoutStats(spark, newest)
      val ideal = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val flagged = vs.size > maxVersions || (bytes > 0 && files > smallFileRatio * ideal)
      if (!flagged) None
      else {
        val r = compact(spark, dir, targetBytes, cluster, statsCols)
        vacuum(spark, dir, keep)
        Some(r)
      }
    }
  }

  /** Drop all but the newest `keep` versions (the read horizon: only run
    * past the oldest reader a deployment still serves). Returns the
    * pruned ids. */
  def vacuum(spark: SparkSession, dir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"vacuum must keep >= 1 version, got $keep")
    val vs = VersionedStore.versions(spark, dir).sorted
    val drop = vs.dropRight(keep)
    VersionedStore.prune(spark, dir, drop)
    drop
  }

  /** Per-JVM scratch root for the q77 probe (the SourceProbes pattern:
    * one temp dir per process, removed at exit; per-invocation state is
    * reset inside the query so repeated bench passes stay deterministic). */
  private lazy val workDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-versioned-table")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(d.toFile)
    }
    d
  }

  val defs: Seq[QueryDef] = Seq(
    // Snapshot isolation + exact time travel, hash-gated: commit the
    // lineitem fixture as version 0, commit a clustered compaction
    // rewrite as version 1, then aggregate BOTH versions. The rewrite
    // changes layout, never content, so the two versions must agree with
    // each other and with the oracle reading the source table directly —
    // a half-written or content-mutating rewrite breaks the hash.
    QueryDef.sql("q77_time_travel",
      """SELECT v.version, l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       sum(l_quantity) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM (VALUES (0), (1)) v(version) CROSS JOIN lineitem
        |GROUP BY v.version, l_returnflag""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q77_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      // snapshot only the columns the probe reads — the same pruning a
      // scan would do, applied at the rewrite: the layout story
      // (commit, compact, time travel) is identical, at 1/3 the bytes
      commit(s, store, Tables.lineitem(s, dir).select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate"))
      compact(s, store, targetBytes = 64L * 1024 * 1024,
        cluster = Some(col("l_shipdate")))
      val byVersion = Seq(0L, 1L).map { v =>
        read(s, store, asOf = Some(v)).withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    },

    // Versioned MERGE (CDC apply), hash-gated: commit orders as version
    // 0, apply a deterministic change batch — keys ≡ 3 (mod 10) upsert
    // with +100 on o_totalprice, keys ≡ 7 (mod 10) delete — through
    // [[merge]], then aggregate BOTH versions. The oracle recomputes
    // each version's content from the source table with the same
    // closed-form edit, so a merge that loses, duplicates, or
    // half-applies a row breaks the hash; version 0's row proves the
    // pre-merge snapshot stayed exact (time travel across a mutation).
    QueryDef.sql("q78_versioned_merge",
      """WITH v0 AS (SELECT o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT o_orderstatus,
        |              CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 100
        |                   ELSE o_totalprice END AS o_totalprice
        |       FROM orders WHERE o_orderkey % 10 <> 7)
        |SELECT 0 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v0 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q78_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders)
      val touched = col("o_orderkey") % 10
      val changes = orders.filter(touched.isin(3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 3, "upsert").otherwise("delete"))
      merge(s, store, changes, "o_orderkey")
      val byVersion = Seq(0L, 1L).map { v =>
        read(s, store, asOf = Some(v)).withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Change data feed, hash-gated: build two versions with a known
    // closed-form delta — v0 = orders minus keys ≡1 (mod 10), v1 =
    // merge(insert ≡1, update ≡3 with +100, delete ≡7) — then recover
    // the delta with [[changes]] and aggregate per op. The oracle
    // derives the same three row sets straight from the source table,
    // so a diff that misses a row, invents one, or misclassifies an op
    // breaks the hash.
    QueryDef.sql("q79_version_diff",
      """SELECT op, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT 'update' AS op, o_orderkey FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 'insert' AS op, o_orderkey FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT 'delete' AS op, o_orderkey FROM orders WHERE o_orderkey % 10 = 7)
        |GROUP BY op""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q79_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      val orders = Tables.orders(s, dir)
      val touched = col("o_orderkey") % 10
      commit(s, store, orders.filter(touched =!= 1))
      val delta = orders.filter(touched.isin(1, 3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
      merge(s, store, delta, "o_orderkey")
      changes(s, store, from = 0L, to = 1L, "o_orderkey")
        .groupBy("op")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("key_sum"))
    },

    // Stats-manifest file skipping, hash-gated: commit a scattered
    // lineitem snapshot, compact it CLUSTERED on l_shipdate with a
    // per-file min/max stats manifest, then answer a one-year (1996) range
    // query through readWhere — the manifest prunes non-overlapping
    // files before the scan and the residual filter keeps the result
    // exact, so the hash must equal DuckDB filtering the source table
    // directly. The pruning itself (files touched ≤ the clustered
    // bound, < the scattered full count) is asserted in
    // VersionedTableSpec; here the gate is exactness under skipping.
    QueryDef.sql("q82_stats_skipping",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |       sum(l_quantity) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q82_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      // ONE clustered commit (range partition + in-file sort on the
      // probe column) with the stats manifest — the commit+compact
      // lifecycle is q77's story; here only the skipping read is under
      // test, so a single write keeps the probe's cost the operation
      // being proved
      commit(s, store, Tables.lineitem(s, dir).select(
          "l_returnflag", "l_quantity", "l_extendedprice", "l_discount",
          "l_shipdate")
        .repartitionByRange(12, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate"),
        statsCols = Seq("l_shipdate"))
      readWhere(s, store, "l_shipdate",
        to_date(lit("1996-01-01")), to_date(lit("1996-12-31")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    },

    // Commit history, hash-gated: script a deterministic three-commit
    // sequence (snapshot commit, CDC merge, compaction) and read the
    // history table back. Every figure — per-operation rows_in /
    // rows_out — is recomputed closed-form by the oracle from the
    // source table, so a history row that under- or over-counts what
    // its commit actually wrote breaks the hash. Tags are pinned
    // params, never wall-clock, so reruns are byte-stable.
    QueryDef.sql("q83_commit_history",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) c FROM orders),
        |c37 AS (SELECT CAST(count(*) AS BIGINT) c FROM orders
        |        WHERE o_orderkey % 10 IN (3, 7)),
        |c7 AS (SELECT CAST(count(*) AS BIGINT) c FROM orders
        |       WHERE o_orderkey % 10 = 7)
        |SELECT CAST(0 AS BIGINT) AS version, 'commit' AS operation,
        |       n.c AS rows_in, n.c AS rows_out,
        |       CAST(0 AS BIGINT) AS quarantined, 't0' AS "at" FROM n
        |UNION ALL
        |SELECT 1, 'merge', c37.c, n.c - c7.c, 0, 't1' FROM n, c37, c7
        |UNION ALL
        |SELECT 2, 'compact', n.c - c7.c, n.c - c7.c, 0, '' FROM n, c7""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q83_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, CommitInfo("commit", at = "t0"))
      val touched = col("o_orderkey") % 10
      val batch = orders.filter(touched.isin(3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 3, "upsert").otherwise("delete"))
      merge(s, store, batch, "o_orderkey", at = "t1")
      compact(s, store, targetBytes = 64L * 1024 * 1024)
      history(s, store)
    },

    // Expectations-gated commit, hash-gated: split lineitem by two
    // named rules (one with real violations in the fixture, one
    // all-pass — its zero row must still appear), commit the CLEAN
    // side as a version, quarantine the rest, and report per-rule
    // violation counts plus the committed/quarantined totals. The
    // __kept row is counted from the COMMITTED version read back, so
    // a gate that commits a dirty row (or drops a clean one) breaks
    // the hash, not just the report.
    QueryDef.sql("q80_expectations",
      """SELECT 'low_discount' AS rule, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE NOT coalesce(l_discount <= 0.05, false)
        |UNION ALL
        |SELECT 'qty_positive' AS rule, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE NOT coalesce(l_quantity > 0, false)
        |UNION ALL
        |SELECT '__kept' AS rule, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE coalesce(l_discount <= 0.05, false)
        |                AND coalesce(l_quantity > 0, false)
        |UNION ALL
        |SELECT '__quarantined' AS rule, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE NOT (coalesce(l_discount <= 0.05, false)
        |                     AND coalesce(l_quantity > 0, false))""".stripMargin) { (s, dir) =>
      import s.implicits._
      val store = workDir.resolve(
        "q80_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new org.apache.hadoop.fs.Path(store), true)
      val rules = Seq(
        "low_discount" -> (col("l_discount") <= 0.05),
        "qty_positive" -> (col("l_quantity") > 0))
      val (clean, dirty) = Expectations.split(
        Tables.lineitem(s, dir).select("l_discount", "l_quantity"), rules)
      commit(s, store, clean)
      // quarantine side reduced to its rule tags before the checkpoint
      // — three consumers, none needs the payload
      val quarantine = dirty.select("violated").localCheckpoint(true)
      val perRule = rules.map(_._1).toDF("rule")
        .join(Expectations.violationCounts(quarantine), Seq("rule"), "left")
        .na.fill(0L, Seq("n"))
      val kept = read(s, store)
        .agg(count(lit(1)).as("n")).select(lit("__kept").as("rule"), col("n"))
      val quar = quarantine
        .agg(count(lit(1)).as("n")).select(lit("__quarantined").as("rule"), col("n"))
      perRule.unionByName(kept).unionByName(quar)
    }
  )
}
