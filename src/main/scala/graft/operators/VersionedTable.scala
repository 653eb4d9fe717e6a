package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated unpartitioned tables: the one-partition case of
  * [[PartitionedTable]], behind a flat API.
  *
  * Every commit, merge and compaction lands a new immutable store
  * version of the table's single partition, then commits it by
  * PartitionedTable's manifest rename:
  *
  *  - a crashed rewrite leaves only files no manifest names, and the
  *    prior version stays the newest committed one;
  *  - readers resolve a manifest at plan time and scan only the version
  *    dir it pins, so a later rewrite never mutates or deletes files
  *    under a running scan (versions are immutable until [[vacuum]],
  *    which a deployment runs only past its read horizon);
  *  - time travel is exact: version N−1 is the directory committed as
  *    N−1, not a reconstruction.
  *
  * The partition column ([[PartCol]]) is fixed and private: writes add
  * it, reads drop it. Commit history ([[CommitInfo]]) rides the
  * manifest's header line; stats skipping, merge-on-read deltas, the
  * slice-metadata cache and vacuum are PartitionedTable's own. Commits
  * are single-committer, as [[PartitionedTable.commit]]'s are.
  */
object VersionedTable {

  /** The fixed partition column, and its one value, every version lands
    * under. */
  private val PartCol = "__vt"
  private val PartValue = "all"

  /** Commit-history metadata recorded with a version — the
    * `DESCRIBE HISTORY` surface an operator reads first during an
    * incident: what committed, how many rows went in and out, how many
    * a gate quarantined. `rowsIn = None` means "same as the written
    * row count" (a plain snapshot commit). `at` is a caller-pinned tag
    * (a change-batch id, a pipeline run id — never wall-clock, so
    * reruns are deterministic). Tags must not contain `"`, and a purely
    * numeric `at` is refused at commit ([[PartitionedTable.metaLine]]). */
  final case class CommitInfo(
      operation: String,
      rowsIn: Option[Long] = None,
      quarantined: Long = 0L,
      at: String = "") {
    // reject everything that would corrupt the JSON header: quotes,
    // backslashes, and control chars (incl. newlines) — a malformed tag
    // must fail AT CONSTRUCTION, not surface later as history()'s
    // from_json silently yielding an all-null row for the version
    require(Seq(operation, at).forall(t =>
      !t.exists(c => c == '"' || c == '\\' || c < ' ')),
      s"CommitInfo tags must not contain quotes/backslashes/control chars: " +
        s"$operation / $at")

    /** The manifest header line that records this commit: `rows_in`
      * and `quarantined` only when set ([[history]] defaults them). */
    private[VersionedTable] def header(touched: Int, partitions: Int): String =
      PartitionedTable.metaLine(operation, touched, partitions, at,
        rowsIn.map("rows_in" -> _).toSeq ++
          Some(quarantined).filter(_ != 0L).map("quarantined" -> _))
  }

  private def withPart(df: DataFrame): DataFrame = {
    require(!df.columns.contains(PartCol),
      s"VersionedTable: column $PartCol is reserved for the table's partition")
    df.withColumn(PartCol, lit(PartValue))
  }

  /** Newest committed version id, if any version exists. */
  def latest(spark: SparkSession, dir: String): Option[Long] =
    PartitionedTable.latest(spark, dir)

  /** Commit `df` as the next version, recording `info` in the version's
    * manifest header. Returns the committed id. `df` lands verbatim: its
    * own partitioning is the version's file layout.
    *
    * `statsCols` additionally lands a per-file min/max stats sidecar
    * (the data-skipping half of the Z-order story) atomic with the
    * version, which [[readWhere]] prunes files by before the scan. */
  def commit(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      info: CommitInfo = CommitInfo("commit"),
      statsCols: Seq[String] = Nil): Long = {
    val parted = withPart(df)
    val landed = PartitionedTable.landPartitions(spark, dir, parted,
      PartCol, statsCols, preShaped = true)
    // an empty snapshot lands no slice: a first one declares the
    // table's shape, so the empty version still reads with its schema
    if (landed.isEmpty && latest(spark, dir).isEmpty)
      PartitionedTable.createEmpty(spark, dir, parted.schema, PartCol)
    PartitionedTable.commitManifest(spark, dir, landed,
      Some(info.header(landed.size, landed.size)))
  }

  /** The per-file min/max stats sidecar a version committed with
    * `statsCols`, if any: (file, min_<c>, max_<c>, ...). */
  def fileStats(spark: SparkSession, dir: String, version: Long): Option[DataFrame] =
    PartitionedTable.manifest(spark, dir, version).headOption
      .map { case (name, sv) => VersionedStore.path(new Path(dir, name).toString, sv) }
      .filter(v => VersionedStore.fs(spark, dir)
        .exists(new Path(v, PartitionedTable.StatsDir)))
      .map(v => PartitionedTable.statsOf(spark, Seq(v)).drop("part"))

  /** Selective read of `[lo, hi]` on `c` with stats-driven file
    * skipping: files whose committed min/max can't overlap the range
    * are never opened (commit with `statsCols` or
    * [[compact]]`(cluster=…, statsCols=…)` first). The residual filter
    * stays on the scan, so the result is EXACT regardless of how coarse
    * the pruning is; a stats-less version falls back to a full scan +
    * filter. Rows with a NULL `c` are outside any range, matching SQL
    * BETWEEN. */
  def readWhere(
      spark: SparkSession,
      dir: String,
      c: String,
      lo: Column,
      hi: Column,
      asOf: Option[Long] = None): DataFrame =
    PartitionedTable.readWhere(spark, dir, c, lo, hi, asOf = asOf).drop(PartCol)

  /** The table's commit history as a queryable frame:
    * (version, operation, rows_in, rows_out, quarantined, at), one row
    * per committed version. `rows_out` is the version's row count from
    * file footers ([[PartitionedTable.estimateRows]]), so reading it is
    * #versions tiny driver-side reads, never a data scan. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("operation", StringType), StructField("rows_in", LongType),
      StructField("quarantined", LongType), StructField("at", StringType)))
    val rows = PartitionedTable.versions(spark, dir).sorted.map { v =>
      (v, PartitionedTable.headerLineOf(spark, dir, v).map(_.stripPrefix("#"))
        .getOrElse("{}"), PartitionedTable.estimateRows(spark, dir, Some(v)).get)
    }
    import spark.implicits._
    rows.toDF("version", "js", "rows_out")
      .select(col("version"), from_json(col("js"), schema).as("m"), col("rows_out"))
      .select(col("version"), col("m.operation").as("operation"),
        coalesce(col("m.rows_in"), col("rows_out")).as("rows_in"), col("rows_out"),
        coalesce(col("m.quarantined"), lit(0L)).as("quarantined"),
        col("m.at").as("at"))
  }

  /** TIMESTAMP AS OF: the newest version committed at or before
    * epoch-millisecond `tsMillis` ([[PartitionedTable.versionAt]]);
    * asks before the earliest retained commit fail loud. */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long =
    PartitionedTable.versionAt(spark, dir, tsMillis)

  /** [[read]] at the version [[versionAt]] resolves for `tsMillis`. */
  def readAt(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(spark, dir, tsMillis)))

  /** Read a committed snapshot: the newest one, or `asOf` for time
    * travel. Fails loudly on an empty store or an uncommitted id rather
    * than returning an empty frame that looks like data. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame =
    PartitionedTable.read(spark, dir, asOf).drop(PartCol)

  /** (data files, bytes) of version `v`'s slice — a merge-on-read
    * delta's base files. */
  private def layoutAt(spark: SparkSession, dir: String, v: Long): (Int, Long) =
    PartitionedTable.manifest(spark, dir, v).headOption.fold((0, 0L)) {
      case (name, sv) =>
        val d = PartitionedTable.detailRowOf(
          spark.sparkContext.hadoopConfiguration, dir, None, name, sv)
        (d._4.toInt, d._5)
    }

  /** Compaction as a versioned rewrite: pack the newest snapshot into
    * ~`targetBytes` files (range-clustered and sorted on `cluster` when
    * given, else spread by a hash of every column) and commit the
    * packed layout as a new version — always, also when the layout is
    * already packed. Stats sidecars are inherited unless `statsCols`
    * restates them. Returns (newVersionId, filesBefore, filesAfter). The
    * prior version stays readable throughout and afterwards. */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      cluster: Option[Column] = None,
      statsCols: Seq[String] = Nil): (Long, Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"VersionedTable: nothing to compact under $dir"))
    val m = PartitionedTable.manifest(spark, dir, cur)
    val key = cluster.getOrElse(
      xxhash64(PartitionedTable.read(spark, dir, Some(cur)).columns.map(col): _*))
    val id = PartitionedTable.rewritePartitions(spark, dir, m, m.toSeq, None,
      targetBytes, PartCol, Seq(key), statsCols, Nil,
      PartitionedTable.DefaultBloomBits, "compact")
    (id, layoutAt(spark, dir, cur)._1, layoutAt(spark, dir, id)._1)
  }

  /** MERGE a CDC batch into the newest snapshot and commit the result
    * as a new version — the lakehouse MERGE INTO shape over the
    * immutable-version store, through [[PartitionedTable]]'s merge
    * (merge-on-read deltas within its growth bounds, a rewrite
    * otherwise). `changes` carries the base table's columns plus
    * `opCol` ∈ {"upsert", "delete"} (anything else raises); matched
    * base rows are replaced (upsert) or dropped (delete), unmatched
    * upserts insert. `changes` must hold ONE row per key — pre-collapse
    * a changelog with q48's ranked last-wins pattern first.
    *
    * Schema evolution (opt-in, the Delta mergeSchema semantic): change
    * columns the base lacks are added null-filled to untouched rows;
    * base columns the changes lack stay null on inserted rows. Off =
    * strict unionByName error. History records the batch's row count
    * as `rows_in`. Returns the committed version id. */
  def merge(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      at: String = "",
      allowSchemaEvolution: Boolean = false): Long = {
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"VersionedTable: nothing to merge into under $dir"))
    val batch = changes.localCheckpoint(true) // reused: the merge and its history count
    val info = CommitInfo("merge", rowsIn = Some(batch.count()), at = at)
    val base = PartitionedTable.manifest(spark, dir, cur)
    val (landed, touched) = PartitionedTable.applyMergeParts(spark, dir, base,
      withPart(batch), keyCol, PartCol, opCol,
      allowSchemaEvolution = allowSchemaEvolution, preShaped = true)
    val mapping = (base -- touched) ++ landed
    PartitionedTable.commitManifest(spark, dir, mapping,
      Some(info.header(touched.size, mapping.size)))
  }

  /** Change data feed between two committed versions — the inverse of
    * [[merge]] ([[PartitionedTable.changes]]): the TO-side image
    * (FROM-side for deletes) plus an `op` column — "insert", "delete",
    * "update" (or an "update_pre"/"update_post" pair with `preImages`);
    * identical rows emit nothing. */
  def changes(
      spark: SparkSession,
      dir: String,
      from: Long,
      to: Long,
      keyCol: String,
      preImages: Boolean = false): DataFrame =
    PartitionedTable.changes(spark, dir, from, to, keyCol, PartCol, preImages)
      .drop(PartCol)

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
    * freshly packed version and vacuum to the read horizon —
    * otherwise do nothing (the flag probe is metadata reads only, safe
    * to run after every commit). Returns the fold's
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
    val vs = PartitionedTable.versions(spark, dir)
    if (vs.isEmpty) None
    else {
      val (files, bytes) = layoutAt(spark, dir, vs.max)
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
    * past the oldest reader a deployment still serves), then collect the
    * files no kept version names. Returns the pruned ids. */
  def vacuum(spark: SparkSession, dir: String, keep: Int): Seq[Long] =
    PartitionedTable.vacuum(spark, dir, keep)._1

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

  /** The q-def's own store under [[workDir]], emptied first. */
  private def freshStore(spark: SparkSession, q: String, dir: String): String = {
    val store = workDir.resolve(q + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
    VersionedStore.fs(spark, store).delete(new Path(store), true)
    store
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
      val store = freshStore(s, "q77", dir)
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
      val store = freshStore(s, "q78", dir)
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
      val store = freshStore(s, "q79", dir)
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
      val store = freshStore(s, "q82", dir)
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
      val store = freshStore(s, "q83", dir)
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
      val store = freshStore(s, "q80", dir)
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
