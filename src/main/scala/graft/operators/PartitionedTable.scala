package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType, StructField, StructType}

/** Partition-scoped versioned tables: N per-partition
  * [[graft.streaming.VersionedStore]]s behind ONE table-level manifest
  * — the layer that makes the lakehouse MERGE scale-true. The flat
  * [[VersionedTable]] rewrites the whole snapshot per commit (the
  * right shape for one partition directory, per its own scaladoc);
  * here a CDC batch rewrites ONLY the partitions it touches:
  *
  *  - layout: `part=<hive-escaped value>/batch=<m>` per-partition
  *    immutable version dirs, plus `_table_manifest/v=<n>.manifest`
  *    mapping each live partition to its pinned store version;
  *  - the MANIFEST RENAME is the table's single commit point: a merge
  *    first lands every touched partition's new store version, then
  *    renames the new manifest into place. A crash anywhere before
  *    that rename leaves orphan store versions no manifest references
  *    — readers still resolve the old manifest, so the table NEVER
  *    observes a torn multi-partition merge; a retried merge skips
  *    over orphan ids (next id = store listing max + 1) and commits a
  *    fresh consistent manifest;
  *  - readers resolve a manifest (newest or `asOf`) and scan exactly
  *    the pinned version dirs; untouched partitions keep pointing at
  *    the same immutable directory across table versions, so their
  *    files are byte-identical by construction (spec'd at file level);
  *  - [[changes]] is partition-aware: partitions whose manifest
  *    pointers match between the two versions are provably identical
  *    (immutable dirs) and are never read — the diff's full outer join
  *    runs over changed partitions only, not snapshot × snapshot.
  *
  * 100 TB posture: a merge costs one scan of (touched partitions +
  * change batch), one `partitionBy` write of the same, and
  * O(#touched) driver-side metadata renames — the table itself never
  * shuffles (change keys broadcast into the anti join) and never
  * rewrites beyond the touched partitions. Manifest reads are
  * O(#partitions) text lines, never a data scan. Partition values
  * must be non-null strings (cast upstream — the Hive convention) and
  * key identity is (partition, key): a change row applies WITHIN the
  * partition it names, the standard static-partition MERGE semantic.
  *
  * Concurrency: batch [[merge]]s are OPTIMISTIC multi-writer — losing
  * the manifest slot to a writer whose commit touched none of my
  * partitions rebases and retakes the next slot; an overlapping
  * winner forces a recompute from its snapshot (serializable outcome
  * either way, the Delta conflict protocol). The streaming [[mergeAt]]
  * path and maintenance ops ([[vacuum]], [[compactPartitions]]) stay
  * single-committer: their correctness leans on ids and GC scopes only
  * one committer can own.
  */
object PartitionedTable {

  /** Duplicated write column so `partitionBy` keeps the real partition
    * column inside the data files (partitionBy drops the column it
    * splits on; readers here resolve explicit dirs, not globs, so the
    * dir name would otherwise be lost). */
  private val PartDir = "__part"
  private val ManifestDir = "_table_manifest"

  /** A snapshot-pinned write lost to a concurrent commit that moved one
    * of its touched partitions (see [[merge]]'s `sinceVersion`) — the
    * Delta `ConcurrentAppendException` contract: the caller re-derives
    * its changes from the new snapshot and retries, or surfaces the
    * conflict; silently re-applying rows computed against the stale
    * snapshot would be a lost update. */
  final class ConcurrentWriteException(msg: String)
      extends RuntimeException(msg)

  private def escape(value: String): String =
    s"$PartDir=${ExternalCatalogUtils.escapePathName(value)}"

  /** DELTA-LOG MANIFESTS (the Delta-Lake-shaped commit log, adopted
    * once O(#partitions)-per-commit stopped scaling): a commit writes
    * either a full CHECKPOINT (`v=<n>.manifest`: every live partition's
    * pinned store version — the original format, so pre-delta-log
    * tables read unchanged) or a DELTA (`v=<n>.delta`: only the entries
    * this commit repointed, plus `-1\t<name>` tombstones for partitions
    * it dropped). Deltas are the steady state — a 1-of-100k-partition
    * merge commits O(1) manifest bytes — and every [[CheckpointEvery]]
    * versions a checkpoint bounds reconstruction: [[manifest]] reads
    * the newest checkpoint at or below the requested version and folds
    * the (at most CheckpointEvery − 1) deltas above it. [[vacuum]]
    * materializes a checkpoint at the oldest kept version before
    * dropping older files, so every kept version stays reconstructable
    * and the manifest dir's size tracks the retention horizon, not the
    * table's full history. */
  private val CheckpointEvery = 10L

  private def manifestPath(dir: String, v: Long): Path =
    new Path(new Path(dir, ManifestDir), s"v=$v.manifest")

  private def deltaPath(dir: String, v: Long): Path =
    new Path(new Path(dir, ManifestDir), s"v=$v.delta")

  /** Committed table-manifest versions under `dir` (checkpoint or
    * delta form; a version materialized by vacuum briefly has both). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val hfs = VersionedStore.fs(spark, dir)
    val root = new Path(dir, ManifestDir)
    if (!hfs.exists(root)) Seq.empty
    else hfs.listStatus(root).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .collect {
        case s if s.startsWith("v=") && s.endsWith(".manifest") =>
          s.stripPrefix("v=").stripSuffix(".manifest").toLong
        case s if s.startsWith("v=") && s.endsWith(".delta") =>
          s.stripPrefix("v=").stripSuffix(".delta").toLong
      }.distinct
  }

  def latest(spark: SparkSession, dir: String): Option[Long] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The (partitionDirName -> pinned store version) mapping of table
    * version `v`: the newest checkpoint at or below `v`, with the
    * deltas above it folded in commit order. Lines are
    * `<storeVersion>\t<dirName>` (storeVersion −1 = drop); dir names
    * are Hive-escaped, so the format is unambiguous. A leading `#`-line
    * carries the commit's history metadata ([[history]]). */
  def manifest(spark: SparkSession, dir: String, v: Long): Map[String, Long] = {
    val hfs = VersionedStore.fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.contains(v),
      s"PartitionedTable: manifest v=$v missing under $dir")
    val cps = vs.filter(x => x <= v && hfs.exists(manifestPath(dir, x)))
    require(cps.nonEmpty,
      s"PartitionedTable: manifest v=$v is not reconstructable under $dir " +
        "— no checkpoint at or below it (pruned past the horizon?)")
    val cp = cps.max
    var m = parseLines(readManifestFile(hfs, manifestPath(dir, cp)))._1
    vs.filter(x => x > cp && x <= v).sorted.foreach { x =>
      val (sets, drops) = parseLines(readManifestFile(hfs, deltaPath(dir, x)))
      m = (m -- drops) ++ sets
    }
    m
  }

  /** (sets, drops) of one manifest file's body lines. */
  private def parseLines(text: String): (Map[String, Long], Set[String]) = {
    val entries = text.split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(sv, name) = line.split("\t", 2)
        name -> sv.toLong
      }
    (entries.collect { case (n, sv) if sv >= 0 => n -> sv }.toMap,
      entries.collect { case (n, sv) if sv < 0 => n }.toSet)
  }

  private def readManifestFile(
      hfs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Version `v`'s history header, when present — read as a BOUNDED
    * stream of the commit file's first line (the header is always
    * line 1, staged by [[commitManifestAt]] and preserved verbatim by
    * [[vacuum]]'s checkpoint materialization). [[history]] and
    * [[versionAt]] therefore pay O(#versions × header bytes), never
    * O(total log bytes) — at 10^5 commits with checkpoint-sized
    * manifests, reading whole files just for their headers would be
    * a driver-side full-log scan. */
  private def headerLineOf(
      spark: SparkSession, dir: String, v: Long): Option[String] = {
    val hfs = VersionedStore.fs(spark, dir)
    val cp = manifestPath(dir, v)
    val p = if (hfs.exists(cp)) cp else deltaPath(dir, v)
    require(hfs.exists(p), s"PartitionedTable: manifest v=$v missing under $dir")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      hfs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Option(in.readLine()).filter(_.startsWith("#"))
    finally in.close()
  }

  /** The table's commit history — one row per manifest version:
    * (version, operation, touched, partitions, at). `touched` counts
    * the partitions the commit rewrote; `partitions` the table's live
    * total after it; `at` is the caller's pinned tag. Reading it is
    * #versions tiny driver-side header reads, never a data scan. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("operation", StringType), StructField("touched", LongType),
      StructField("partitions", LongType), StructField("at", StringType),
      StructField("ts", LongType)))
    val rows = versions(spark, dir).sorted.map { v =>
      val header = headerLineOf(spark, dir, v)
        .map(_.stripPrefix("#")).getOrElse("{}")
      (v, header)
    }
    import spark.implicits._
    rows.toDF("version", "js")
      .select(col("version"), from_json(col("js"), schema).as("m"))
      .select(col("version"), col("m.operation").as("operation"),
        col("m.touched").as("touched"), col("m.partitions").as("partitions"),
        col("m.at").as("at"),
        col("m.ts").as("commit_ts")) // epoch millis; null pre-AS-OF
  }

  /** History header staged with the mapping — committed by the same
    * rename, so a manifest either has its history row or doesn't
    * exist. Tags must not contain quotes or newlines. */
  private def metaLine(operation: String, touched: Int, partitions: Int, at: String): String = {
    require(Seq(operation, at).forall(t =>
      !t.exists(c => c == '"' || c == '\\' || c < ' ')),
      s"history tags must not contain quotes/backslashes/control chars: " +
        s"$operation / $at")
    // purely-numeric tags are UNREACHABLE through SQL time travel:
    // `VERSION AS OF '5'` resolves quoted numerics as manifest version
    // numbers first (the loadTable contract), so a commit tagged '5'
    // would quietly never be the snapshot that name reads
    require(at.isEmpty || at.toLongOption.isEmpty,
      s"history tag '$at' is purely numeric — quoted numerics in " +
        "VERSION AS OF always mean manifest versions, so a numeric tag " +
        "could never be read back by name; pick a non-numeric tag")
    s"""#{"operation":"$operation","touched":$touched,"partitions":$partitions,"at":"$at","ts":${System.currentTimeMillis}}"""
  }

  /** Epoch-millis commit time of table version `v`: the commit's own
    * header stamp when present (written by every commit since AS-OF
    * support landed; it survives [[vacuum]]'s checkpoint
    * materialization verbatim, because the header is copied), else the
    * commit file's filesystem timestamp (pre-stamp tables; the MIN
    * across both forms, so a later-materialized checkpoint never
    * shifts an original delta's time). */
  private def commitTimeOf(spark: SparkSession, dir: String, v: Long): Long = {
    val header = headerLineOf(spark, dir, v)
    header.flatMap(h =>
      "\"ts\":(\\d+)".r.findFirstMatchIn(h).map(_.group(1).toLong))
      .getOrElse {
        val hfs = VersionedStore.fs(spark, dir)
        Seq(manifestPath(dir, v), deltaPath(dir, v)).filter(hfs.exists)
          .map(p => hfs.getFileStatus(p).getModificationTime).min
      }
  }

  /** TIMESTAMP AS OF: the newest table version committed at or before
    * epoch-millisecond `tsMillis` — time travel by wall clock, for the
    * reader who knows WHEN ("the table as the 02:00 job saw it"), not
    * which version. Resolution is #versions tiny driver-side header
    * reads, never a data scan. Requests before the earliest retained
    * commit fail loud rather than silently answering with a later
    * state ([[vacuum]] prunes the time-travel range together with
    * readability). */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val vs = versions(spark, dir).sorted
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val eligible = vs.filter(v => commitTimeOf(spark, dir, v) <= tsMillis)
    require(eligible.nonEmpty,
      s"PartitionedTable: no version committed at or before ts=$tsMillis " +
        s"under $dir — the earliest retained commit is at " +
        s"${commitTimeOf(spark, dir, vs.min)}")
    eligible.max
  }

  /** [[read]] at the version [[versionAt]] resolves for `tsMillis`. */
  def readAt(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(spark, dir, tsMillis)))

  /** TAG time travel: the NEWEST table version whose history header
    * carries `tag` as its `at` mark — how operators actually pin
    * releases ("the table as tagged pre_migration"), without anyone
    * remembering version numbers. Backs SQL `VERSION AS OF '<tag>'`.
    * Resolution is #versions tiny driver-side header reads (the
    * [[versionAt]] cost), never a data scan; None = no retained commit
    * carries the tag. Tags are free-form minus quotes/control chars
    * (the [[metaLine]] contract), so the header match is exact. Also
    * the replay probe of the streaming tag protocol ([[mergeStream]]):
    * a `stream=<id>;batch=<n>` tag is unique, so newest = only. */
  def versionByTag(spark: SparkSession, dir: String, tag: String): Option[Long] = {
    require(tag.nonEmpty, "versionByTag: empty tag")
    val needle = s""""at":"$tag""""
    versions(spark, dir).sorted.reverse.find(v =>
      headerLineOf(spark, dir, v).exists(_.contains(needle)))
  }

  /** Atomically commit `mapping` (with its history header) as manifest
    * version `v` — as a DELTA against the newest committed version when
    * off the checkpoint cadence, as a full checkpoint otherwise (the
    * form is a pure function of `v` and parent existence, so two racers
    * for the same slot always target the same file name and exactly one
    * rename wins). Returns false iff `v` already exists (the
    * streaming-retry / lost-slot case); any other rename failure
    * throws. The file rename is the table's commit point. Backfilling
    * below the newest committed version is refused — a delta log is
    * append-only. */
  private[operators] def commitManifestAt(
      spark: SparkSession, dir: String, v: Long, mapping: Map[String, Long],
      meta: Option[String] = None): Boolean = {
    val committed = versions(spark, dir)
    if (committed.contains(v)) return false
    require(committed.forall(_ < v),
      s"PartitionedTable: cannot commit manifest v=$v below committed " +
        s"v=${committed.max} under $dir — the manifest log is append-only")
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val parent = committed.maxOption
    val (target, lines) = parent match {
      case Some(p) if v % CheckpointEvery != 0 =>
        val pm = manifest(spark, dir, p)
        val sets = mapping.toSeq.sortBy(_._1)
          .filter { case (n, sv) => !pm.get(n).contains(sv) }
        val drops = (pm.keySet -- mapping.keySet).toSeq.sorted
        (deltaPath(dir, v),
          sets.map { case (n, sv) => s"$sv\t$n" } ++ drops.map(n => s"-1\t$n"))
      case _ =>
        (manifestPath(dir, v),
          mapping.toSeq.sortBy(_._1).map { case (n, sv) => s"$sv\t$n" })
    }
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-$v-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write((meta.toSeq ++ lines).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (hfs.rename(tmp, target)) true
    else {
      hfs.delete(tmp, true)
      if (versions(spark, dir).contains(v)) false
      else throw new java.io.IOException(
        s"PartitionedTable: manifest rename to v=$v failed under $dir " +
          "(concurrent committer?); table is single-committer")
    }
  }

  /** Atomically commit `mapping` as the next manifest version. */
  private def commitManifest(
      spark: SparkSession, dir: String, mapping: Map[String, Long],
      meta: Option[String] = None): Long = {
    val v = latest(spark, dir).map(_ + 1).getOrElse(0L)
    require(commitManifestAt(spark, dir, v, mapping, meta),
      s"PartitionedTable: lost the manifest slot v=$v under $dir; " +
        "table is single-committer")
    v
  }

  /** Per-version stats sidecar dir (underscore-prefixed: invisible to
    * data reads of the version dir). */
  private val StatsDir = "_stats"

  /** Per-version bloom sidecar dir — the POINT-LOOKUP skip level.
    * Min/max stats prune range predicates on clustered columns but are
    * useless for equality on a high-cardinality unclustered column
    * (every file's [min,max] spans the whole keyspace); a per-file
    * Bloom filter prunes exactly that shape. Layout: one row per
    * (part, file, col, occupied 64-bit word) holding the word's OR'd
    * bit mask plus the filter's total bit count — sparse files pay
    * only for words they set, a saturated filter caps at bits/64 rows
    * (8 KB of longs per file-column at the default 2^20 bits). Probing
    * k fixed xxhash64 seeds answers "definitely absent" with zero
    * false negatives, so pruning is sound at any fpp; ~10 bits per
    * distinct value keeps fpp ≈ 1-2% (size `bloomBits` to the expected
    * per-file distinct count at the target scale). */
  private val BloomDir = "_bloom"

  /** Hash count k: xxhash64 seeded 0..k-1. Fixed so sidecars written by
    * any path probe identically. */
  val BloomHashes = 3

  /** Default filter width (1M bits = 16 K words ≤ 128 KB per
    * file-column, saturated): ~1% fpp at 100 K distinct values per
    * file. Raise for bigger files — sizing is per-call. */
  val DefaultBloomBits: Long = 1L << 20

  /** The k (col, bit position) probes of every `bloomCols` value — the
    * single hash geometry shared by the write paths and [[readEq]]. */
  private def bloomProbes(bloomCols: Seq[String], bloomBits: Long): Column =
    array(bloomCols.flatMap(c => (0 until BloomHashes).map(j =>
      struct(lit(c).as("col"),
        pmod(xxhash64(col(c), lit(j)), lit(bloomBits)).as("p")))): _*)

  /** Land `df` (already carrying `partCol`) as new store versions of
    * exactly the partitions present in it: ONE partitionBy write job
    * (plus one stats job when `statsCols` is set), then O(#touched)
    * metadata renames. Stats sidecars are staged INSIDE each temp
    * partition dir before the landing rename, so they are atomic with
    * their version. Returns dirName -> committed store version. Crash
    * anywhere here = orphan store versions only; no manifest
    * references them. */
  private def landPartitions(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits, preShaped: Boolean = false): Map[String, Long] = {
    val hfs = VersionedStore.fs(spark, dir)
    val tmp = new Path(dir, s".tmp-land-${java.util.UUID.randomUUID}")
    // cluster by partition value before the dynamic-partition write
    // (guide §6, Iceberg write.distribution-mode=hash): without it the
    // writer runs at the INPUT's parallelism — a single task over a
    // one-split scan (q104's 1.6 s write job was scan+encode+write on
    // one core) — and at scale every input task opens a file in every
    // partition it sees (T×P small files). Explicit N because AQE's
    // byte-based coalescing would fold the exchange back to one task
    // exactly when parquet ENCODE cpu, not bytes, dominates. Callers
    // that DELIBERATELY shaped their batch (optimize/compact's
    // range+sort clustering, the pre-ranged fixtures, a merge batch
    // repartitioned before the checkpoint truncated its plan —
    // `preShaped`) are detected and land verbatim: a blanket reshuffle
    // here would destroy the layout they just paid for.
    val shaped = preShaped || graft.Tables.hasUserShaping(df.queryExecution.analyzed)
    val toLand = df.withColumn(PartDir, col(partCol))
    (if (shaped) toLand
     else toLand.repartition(
       spark.sparkContext.defaultParallelism, col(PartDir)))
      .write.partitionBy(PartDir).parquet(tmp.toString)
    // the landed files' schema is KNOWN (df's columns + the PartDir
    // partition dir): pass it to the sidecar re-reads below so neither
    // pays a footer-inference pass (~77 ms driver wall per resolution)
    val dataSchema = allNullable(df.schema).asInstanceOf[StructType]
    val landedSchema = StructType(
      dataSchema.fields.toSeq :+ StructField(PartDir, StringType))
    var statsSchema: Option[StructType] = None
    if (statsCols.nonEmpty) {
      // one job over the landed files: per-(partition, file) min/max,
      // written partitionBy so each partition's slice renames into its
      // own temp dir as the _stats sidecar. The partition value comes
      // from the DATA's own partCol (string by contract, duplicated
      // inside the files) — never from directory inference, which would
      // re-type numeric/date-like values ("01" -> 1, "1996-01-01" ->
      // date), normalize the rewritten dir name away from the data's,
      // and break both the sidecar rename and readWhere's getString.
      val aggs = statsCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val statsTmp = new Path(dir, s".tmp-stats-${java.util.UUID.randomUUID}")
      val stats = spark.read.schema(landedSchema).option("basePath", tmp.toString)
        .parquet(tmp.toString)
        .groupBy(col(partCol).as("part"),
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
        .agg(aggs.head, aggs.tail: _*)
      statsSchema = Some(stats.schema)
      stats.withColumn(PartDir, col("part"))
        .write.partitionBy(PartDir).parquet(statsTmp.toString)
      hfs.listStatus(statsTmp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartDir="))
        .foreach { s =>
          val dest = new Path(new Path(tmp, s.getPath.getName), StatsDir)
          if (!hfs.rename(s.getPath, dest))
            throw new java.io.IOException(
              s"PartitionedTable: stats rename ${s.getPath} -> $dest failed")
        }
      hfs.delete(statsTmp, true)
    }
    if (bloomCols.nonEmpty) {
      require(bloomBits >= 64 && bloomBits % 64 == 0,
        s"bloomBits must be a positive multiple of 64, got $bloomBits")
      // one job over the landed files: per (partition, file, column,
      // occupied word) OR'd bit masks — same partitionBy-then-rename
      // staging as the stats sidecar, so each version's bloom commits
      // atomically with its files
      val bloomTmp = new Path(dir, s".tmp-bloom-${java.util.UUID.randomUUID}")
      spark.read.schema(landedSchema).option("basePath", tmp.toString)
        .parquet(tmp.toString)
        .select(col(partCol).as("part"),
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
          explode(bloomProbes(bloomCols, bloomBits)).as("pr"))
        .select(col("part"), col("file"), col("pr.col").as("col"),
          expr("pr.p div 64").as("word"),
          expr("shiftleft(1L, cast(pr.p % 64 as int))").as("m1"))
        .groupBy("part", "file", "col", "word")
        .agg(expr("bit_or(m1)").as("mask"))
        .withColumn("bits", lit(bloomBits))
        .withColumn(PartDir, col("part"))
        .write.partitionBy(PartDir).parquet(bloomTmp.toString)
      hfs.listStatus(bloomTmp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartDir="))
        .foreach { s =>
          val dest = new Path(new Path(tmp, s.getPath.getName), BloomDir)
          if (!hfs.rename(s.getPath, dest))
            throw new java.io.IOException(
              s"PartitionedTable: bloom rename ${s.getPath} -> $dest failed")
        }
      hfs.delete(bloomTmp, true)
    }
    val landed = hfs.listStatus(tmp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartDir="))
    val committed = landed.map { s =>
      val name = s.getPath.getName
      val landedStats = statsSchema.filter(_ =>
        hfs.exists(new Path(s.getPath, StatsDir))).map(StatsDir -> _)
      val storeDir = new Path(dir, name).toString
      val sv = landStoreVersion(spark, storeDir, s.getPath)
      // write-through: the landed files carry exactly these schemas, so
      // no read of this slice infers them
      updateSliceMeta(VersionedStore.path(storeDir, sv).toString)(_ =>
        SliceMeta(schemas = Map("" -> dataSchema) ++ landedStats))
      name -> sv
    }.toMap
    hfs.delete(tmp, true)
    committed
  }

  /** Race-safe landing of a staged version dir into the next free store
    * slot. Two concurrent merges touching the SAME partition both
    * compute next = listing max + 1; the loser must not throw mid-land
    * (and on HDFS rename semantics — dest exists → src moves INSIDE
    * dest — must not silently nest its temp dir into the winner's
    * committed version). Loop: take a fresh listing, refuse an existing
    * dest, rename, then verify the rename did not nest (the staged dir
    * reappearing as a CHILD of dest means the dest sprang into existence
    * between the check and the rename); on any collision re-list and
    * retry with the next id. Returns the committed store version. */
  private def landStoreVersion(
      spark: SparkSession, storeDir: String, staged: Path): Long = {
    val hfs = VersionedStore.fs(spark, storeDir)
    hfs.mkdirs(new Path(storeDir))
    // copy-on-write landing into a CLONE: local numbering must clear
    // every version number the clone's manifests can reference from the
    // source (the source only appends, so its current max bounds them)
    // — otherwise a local v0 would shadow the referenced source v0 and
    // silently corrupt the clone's time travel.
    val sp = new Path(storeDir)
    val floor = cloneSrcOf(spark, sp.getParent.toString).map { src =>
      VersionedStore.versions(spark, new Path(src, sp.getName).toString)
        .maxOption.map(_ + 1).getOrElse(0L)
    }.getOrElse(0L)
    var src = staged
    var attempts = 0
    while (attempts < 32) {
      attempts += 1
      val next = math.max(floor, VersionedStore.versions(spark, storeDir)
        .maxOption.map(_ + 1).getOrElse(0L))
      val dest = VersionedStore.path(storeDir, next)
      if (!hfs.exists(dest) && hfs.rename(src, dest)) {
        val nested = new Path(dest, src.getName)
        if (!hfs.exists(nested)) {
          // a (re-)minted path: whatever this JVM cached under it
          // described an earlier, deleted incarnation
          updateSliceMeta(dest.toString)(_ => SliceMeta())
          return next
        }
        src = nested // HDFS nesting: pull our dir back out and retry
      }
    }
    throw new java.io.IOException(
      s"PartitionedTable: lost $attempts landing races under $storeDir")
  }

  /** Commit `df` as a full table snapshot partitioned by `partCol`
    * (the initial load / full-refresh path; incremental mutation goes
    * through [[merge]]). Returns the manifest version. */
  def commit(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil, at: String = "",
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long = {
    require(df.schema(partCol).dataType == StringType,
      s"PartitionedTable: partition column $partCol must be a string " +
        "(cast upstream — the Hive partition-value convention)")
    refuseRetiredNames(spark, dir, df)
    enforceDeclaredTypes(spark, dir, df)
    enforceConstraints(spark, dir, df.filter(col(partCol).isNotNull))
    val committed = landPartitions(spark, dir,
      df.filter(col(partCol).isNotNull), partCol, statsCols, bloomCols,
      bloomBits)
    commitManifest(spark, dir, committed,
      Some(metaLine("commit", committed.size, committed.size, at)))
  }

  /** Dynamic partition overwrite (the Delta `replaceWhere` / Spark
    * `partitionOverwriteMode=dynamic` semantic, expressed on the
    * manifest commit point): land exactly the partitions PRESENT in
    * `df` as fresh store versions, then commit a manifest where those
    * pointers move and every other partition carries over untouched —
    * the idempotent "refresh this slice" primitive a backfill job
    * wants, where [[merge]]'s key-matching read-modify-write is both
    * wasted work and the wrong semantic (an overwrite must also drop
    * base rows whose keys the refresh no longer produces).
    *
    * 100 TB posture: refreshing one partition of a 10^5-partition
    * table costs one write of that partition plus an O(1) manifest
    * delta — untouched partitions' immutable version dirs are never
    * read, listed, or rewritten. Unlike [[merge]] this is a BLIND
    * write (it never reads the base content of the partitions it
    * replaces), so losing the manifest slot to ANY concurrent writer
    * rebases onto the winner's mapping — last overwrite wins on the
    * touched set, serializable as if it ran after the winner.
    *
    * Schema is strict by default: the batch must carry exactly the
    * table's (footer-merged) columns, else fail loud before anything
    * lands; `allowSchemaEvolution` widens on touched partitions and
    * the footer-merging read null-fills the rest, exactly like
    * [[merge]]. CHECK constraints gate the rows as [[commit]] does.
    * An EMPTY batch fails loud — "replace nothing" is a no-op the
    * caller should skip, and silently committing an unchanged
    * manifest would forge a table version with no operation behind
    * it. Returns the committed manifest version. */
  def overwritePartitions(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil, at: String = "",
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long =
    overwriteCommit(spark, dir,
      overwriteLand(spark, dir, df, partCol, statsCols, allowSchemaEvolution,
        bloomCols, bloomBits), at)

  /** Validate + land the overwrite batch's partition versions; commit
    * point NOT included. `private[operators]` so the concurrency spec
    * can interleave the land and commit steps deterministically. */
  private[operators] def overwriteLand(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil, allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Map[String, Long] = {
    require(df.schema(partCol).dataType == StringType,
      s"PartitionedTable: partition column $partCol must be a string " +
        "(cast upstream — the Hive partition-value convention)")
    if (latest(spark, dir).isEmpty) throw new IllegalArgumentException(
      s"PartitionedTable: nothing to overwrite under $dir (use commit " +
        "for the initial load)")
    if (!allowSchemaEvolution) {
      val tableCols = read(spark, dir).columns.toSet // footer-merged, no scan
      require(df.columns.toSet == tableCols,
        s"PartitionedTable: overwrite schema mismatch under $dir — batch " +
          s"[${df.columns.sorted.mkString(",")}] vs table " +
          s"[${tableCols.toSeq.sorted.mkString(",")}] " +
          "(pass allowSchemaEvolution = true to widen)")
    }
    refuseRetiredNames(spark, dir, df)
    enforceDeclaredTypes(spark, dir, df)
    val batch = df.filter(col(partCol).isNotNull)
    enforceConstraints(spark, dir, batch)
    val committed = landPartitions(spark, dir, batch, partCol, statsCols,
      bloomCols, bloomBits)
    require(committed.nonEmpty,
      s"PartitionedTable: overwrite batch landed no partitions under $dir " +
        "(an empty refresh is a caller-side no-op, not a table version)")
    committed
  }

  /** `INSERT OVERWRITE t PARTITION (...)` — Delta's `replaceWhere` on
    * the manifest commit point: land the batch's partitions, then
    * commit a mapping where EVERY partition in `partValues` is
    * replaced — batch partitions get the fresh versions, filtered-but-
    * absent partitions DROP (a refresh that no longer produces a slice
    * must not resurrect the old one; an entirely empty batch is a
    * partition-scoped delete). Batch rows OUTSIDE `partValues` fail
    * loud inside the landing job (the Delta replaceWhere validation,
    * as a codegen'd guard — no extra validation pass). Blind-write OCC
    * (the [[overwritePartitions]] contract): a lost slot rebases onto
    * any winner — last overwrite wins on the replaced set. */
  def replacePartitions(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      partValues: Seq[String], statsCols: Seq[String] = Nil, at: String = "",
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long = {
    require(partValues.nonEmpty,
      "replacePartitions: need at least one partition value to replace")
    require(df.schema(partCol).dataType == StringType,
      s"PartitionedTable: partition column $partCol must be a string")
    if (latest(spark, dir).isEmpty) throw new IllegalArgumentException(
      s"PartitionedTable: nothing to replace under $dir (use commit " +
        "for the initial load)")
    if (!allowSchemaEvolution) {
      val tableCols = read(spark, dir).columns.toSet
      require(df.columns.toSet == tableCols,
        s"PartitionedTable: replace schema mismatch under $dir — batch " +
          s"[${df.columns.sorted.mkString(",")}] vs table " +
          s"[${tableCols.toSeq.sorted.mkString(",")}]")
    }
    refuseRetiredNames(spark, dir, df)
    enforceDeclaredTypes(spark, dir, df)
    val guarded = df.withColumn(partCol,
      when(col(partCol).isNull || col(partCol).isin(partValues: _*),
        col(partCol))
        .otherwise(raise_error(concat(
          lit("PartitionedTable: replacePartitions batch row lands in "),
          col(partCol),
          lit(s", outside the replaced set ${partValues.sorted.mkString("{", ",", "}")}")))))
    val batch = guarded.filter(col(partCol).isNotNull)
    enforceConstraints(spark, dir, batch)
    val committed =
      if (batch.isEmpty) Map.empty[String, Long]
      else landPartitions(spark, dir, batch, partCol, statsCols, bloomCols,
        bloomBits)
    val replaced = partValues.map(escape).toSet
    var v = latest(spark, dir).get + 1
    var mapping = (manifest(spark, dir, v - 1) -- replaced) ++ committed
    while (!commitManifestAt(spark, dir, v, mapping,
        Some(metaLine("replace_where", replaced.size, mapping.size, at)))) {
      mapping = (manifest(spark, dir, v) -- replaced) ++ committed
      v += 1
    }
    v
  }

  /** DROP the named partitions: a METADATA-ONLY commit removing their
    * manifest pointers — no file is read, rewritten, or deleted
    * (dropped slices stay time-travel-readable until [[vacuum]]), so
    * the cost at 100 TB is delta-log bytes. SQL `ALTER TABLE ... DROP
    * PARTITION` lands here. Absent values fail loud unless `ifExists`
    * (Hive's IF EXISTS contract); dropping every live partition leaves
    * a legitimately EMPTY table version — reads resolve the prior
    * version's shape (see [[read]]). OCC: a blind drop never read
    * table content, so a lost manifest slot rebases onto ANY winner
    * and re-drops (last writer wins on the dropped set, the
    * [[overwriteCommit]] argument). A drop whose named set intersects
    * NOTHING live (reachable only with `ifExists`) is a no-op returning
    * the current version — like [[truncate]] on an empty table, it
    * refuses to forge a history entry with no change behind it; the
    * history line records the ACTUALLY dropped count, not the request's.
    * Returns the committed (or, for the no-op, current) version. */
  def dropPartitions(
      spark: SparkSession, dir: String, values: Seq[String],
      at: String = "", ifExists: Boolean = false): Long = {
    require(values.nonEmpty, "dropPartitions: need at least one value")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val dropped = values.map(escape).toSet
    var v = vs.max + 1
    var base = manifest(spark, dir, v - 1)
    if (!ifExists) {
      val missing = dropped -- base.keySet
      require(missing.isEmpty,
        "PartitionedTable: cannot drop absent partition(s) " +
          missing.toSeq.sorted.map(n => ExternalCatalogUtils
            .unescapePathName(n.stripPrefix(s"$PartDir=")))
            .mkString("[", ",", "]") + s" under $dir (IF EXISTS to skip)")
    }
    var actual = dropped intersect base.keySet
    if (actual.isEmpty) return v - 1 // nothing named is live: no-op
    var mapping = base -- dropped
    while (!commitManifestAt(spark, dir, v, mapping,
        Some(metaLine("drop_partitions", actual.size, mapping.size, at)))) {
      base = manifest(spark, dir, v)
      actual = dropped intersect base.keySet
      if (actual.isEmpty) return v // the slot's winner already dropped them
      mapping = base -- dropped
      v += 1
    }
    v
  }

  /** TRUNCATE: one metadata-only commit to an EMPTY table version (SQL
    * `TRUNCATE TABLE`). Blind-write semantics like [[dropPartitions]]:
    * a concurrent writer's partitions are dropped too — the truncate
    * wins on everything, which is what TRUNCATE means. Rows stay
    * time-travel-readable until [[vacuum]]. No-op on an already-empty
    * table (no forged version). */
  def truncate(spark: SparkSession, dir: String, at: String = ""): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val live = manifest(spark, dir, vs.max)
    if (live.isEmpty) return vs.max
    var v = vs.max + 1
    while (!commitManifestAt(spark, dir, v, Map.empty,
        Some(metaLine("truncate", live.size, 0, at))))
      v += 1
    v
  }

  /** The overwrite's commit loop over already-landed versions: take the
    * next manifest slot; on losing it, rebase onto the winner's mapping
    * (a blind write never read the base, so ANY winner rebases — last
    * overwrite wins on the touched set). */
  private[operators] def overwriteCommit(
      spark: SparkSession, dir: String, committed: Map[String, Long],
      at: String): Long = {
    val touched = committed.keySet
    var v = latest(spark, dir).getOrElse(-1L) + 1
    var mapping = (manifest(spark, dir, v - 1) -- touched) ++ committed
    while (!commitManifestAt(spark, dir, v, mapping,
        Some(metaLine("overwrite", touched.size, mapping.size, at)))) {
      mapping = (manifest(spark, dir, v) -- touched) ++ committed
      v += 1
    }
    v
  }

  /** APPEND `df`'s rows — SQL `INSERT INTO` semantics: no key identity,
    * no dedup, every non-null-partition batch row lands. On an empty
    * table this IS the initial [[commit]]. Existing partitions take the
    * merge-on-read fast path when the growth bounds allow — the batch
    * slice lands as a tiny `_append` delta next to the UNREWRITTEN base
    * (an INSERT must never rewrite a 100 TB partition; the existing
    * delta reader, compaction fold-back, and growth guard all apply
    * unchanged) — and fold to a rewrite otherwise; new partitions land
    * fresh. CHECK constraints gate the batch as [[commit]]'s do.
    *
    * OCC: the batch does not derive from target content, so a lost
    * manifest slot rebases past disjoint winners and RECOMPUTES against
    * touched conflicts (re-reading the winner's base) — the [[merge]]
    * protocol, serializable either way. An empty batch returns the
    * current version unchanged (no forged table version). */
  def append(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      statsCols: Seq[String] = Nil, at: String = "",
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits,
      dvMaxRows: Long = DvMaxRows,
      dvMaxFraction: Double = DvMaxFraction,
      dvMinBase: Long = DvMinBaseRows): Long = {
    require(df.schema(partCol).dataType == StringType,
      s"PartitionedTable: partition column $partCol must be a string " +
        "(cast upstream — the Hive partition-value convention)")
    if (latest(spark, dir).isEmpty)
      return commit(spark, dir, df, partCol, statsCols, at, bloomCols, bloomBits)
    if (!allowSchemaEvolution) {
      val tableCols = read(spark, dir).columns.toSet // footer-merged, no scan
      require(df.columns.toSet == tableCols,
        s"PartitionedTable: append schema mismatch under $dir — batch " +
          s"[${df.columns.sorted.mkString(",")}] vs table " +
          s"[${tableCols.toSeq.sorted.mkString(",")}] " +
          "(pass allowSchemaEvolution = true to widen)")
    }
    refuseRetiredNames(spark, dir, df)
    enforceDeclaredTypes(spark, dir, df)
    val batch = df.filter(col(partCol).isNotNull).localCheckpoint(true)
    enforceConstraints(spark, dir, batch)
    val census = batch.groupBy(partCol).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    if (census.isEmpty) return latest(spark, dir).get
    val payloadCols = batch.columns.toSet
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 16,
        s"PartitionedTable: append lost $attempts optimistic rounds under $dir")
      val cur = latest(spark, dir).get
      val base = manifest(spark, dir, cur)
      val touchedNames = census.map { case (v, _) => escape(v) }
      // MoR routing (the applyMergeParts policy, appends only): live
      // partition, growth bounds hold (appends accrete like tombstones),
      // schema matches the base exactly, and not a clone (a local delta
      // would name a source-side base)
      val edges = colMapOf(spark, dir)
      def morCompatible(v: String): Boolean = {
        val name = escape(v)
        val storeDir = storeDirOf(spark, dir, name, base(name))
        val b = dvBaseOf(spark, storeDir, base(name)).getOrElse(base(name))
        readParquet(spark, Seq(VersionedStore.path(storeDir, b).toString))
          .columns.flatMap(c => resolveName(edges, c)).toSet == payloadCols
      }
      val morVals =
        if (cloneSrcOf(spark, dir).isDefined) Nil
        else census.collect {
          case (v, n) if base.contains(escape(v)) &&
              dvWithinBounds(spark, dir, base, v, n, ups = n, dvMaxRows,
                dvMaxFraction, dvMinBase) && morCompatible(v) => v
        }
      val morCommitted = landAppendDeltas(spark, dir, base, batch, morVals, partCol)
      val rwVals = census.map(_._1).filterNot(morVals.contains)
      val rwCommitted = if (rwVals.isEmpty) Map.empty[String, Long] else {
        val rwBatch = batch.filter(col(partCol).isin(rwVals: _*))
        val liveRw = rwVals.map(escape).filter(base.contains)
        val merged = if (liveRw.isEmpty) rwBatch else {
          readMapped(spark, dir, base.filter(kv => liveRw.contains(kv._1)))
            .unionByName(rwBatch, allowSchemaEvolution)
        }
        landPartitions(spark, dir, merged, partCol, statsCols, bloomCols,
          bloomBits)
      }
      val committed = morCommitted ++ rwCommitted
      var v = cur + 1
      var mapping = base ++ committed
      var conflicted = false
      var done = false
      while (!done && !conflicted) {
        if (commitManifestAt(spark, dir, v, mapping,
            Some(metaLine("append", committed.size, mapping.size, at)))) done = true
        else {
          val winner = manifest(spark, dir, v)
          if (touchedNames.exists(n => winner.get(n) != base.get(n))) conflicted = true
          else { mapping = winner ++ committed; v += 1 }
        }
      }
      if (done) return v
      // conflicted: loop re-reads the new snapshot and re-lands
    }
    -1L // unreachable
  }

  /** Land append-only merge-on-read deltas: each routed partition's new
    * store version is `batch=<next>/{_dv, _base.txt, _append}` where the
    * DV carries over VERBATIM (nothing is deleted), `_append` holds the
    * old appended rows plus this batch's slice (folded forward, so one
    * delta resolves against the base — the [[landMorDeltas]] chain
    * invariant), and the base is never read beyond its footer. */
  private def landAppendDeltas(
      spark: SparkSession, dir: String, m: Map[String, Long],
      batch: DataFrame, vals: Seq[String], partCol: String): Map[String, Long] = {
    if (vals.isEmpty) return Map.empty
    val hfs = VersionedStore.fs(spark, dir)
    val resolved = vals.map { v =>
      val name = escape(v)
      val sv = m(name)
      val storeDir = storeDirOf(spark, dir, name, sv)
      (v, name, storeDir, sv, dvBaseOf(spark, storeDir, sv).getOrElse(sv))
    }
    val slice = batch.filter(col(partCol).isin(vals: _*))
    val oldAppendDirs = resolved.collect {
      case (_, _, storeDir, sv, base) if sv != base &&
          hfs.exists(new Path(VersionedStore.path(storeDir, sv), AppendDir)) =>
        new Path(VersionedStore.path(storeDir, sv), AppendDir).toString
    }
    val appendRows =
      if (oldAppendDirs.isEmpty) slice
      else logicalize(spark, dir, readParquet(spark, oldAppendDirs))
        .unionByName(slice, true)
    val appTmp = new Path(dir, s".tmp-append-${java.util.UUID.randomUUID}")
    appendRows.withColumn(PartDir, col(partCol))
      .write.partitionBy(PartDir).parquet(appTmp.toString)
    val emptyDv = spark.range(0).select(
      lit("").as("part"), lit("").as("file"), lit(0L).as("row_index"))
    val committed = resolved.map { case (v, name, storeDir, sv, base) =>
      val stage = new Path(storeDir, s".tmp-app-${java.util.UUID.randomUUID}")
      hfs.mkdirs(stage)
      val appSlice = new Path(appTmp, escape(v))
      if (hfs.exists(appSlice) &&
          !hfs.rename(appSlice, new Path(stage, AppendDir)))
        throw new java.io.IOException(
          s"PartitionedTable: append rename $appSlice failed")
      // the DV carries over byte-for-byte (append deletes nothing); a
      // solid base gets the canonical empty DV the delta reader expects
      val oldDv = new Path(VersionedStore.path(storeDir, sv), DvDir)
      if (sv != base && hfs.exists(oldDv)) {
        if (!org.apache.hadoop.fs.FileUtil.copy(hfs, oldDv, hfs,
            new Path(stage, DvDir), false,
            spark.sparkContext.hadoopConfiguration))
          throw new java.io.IOException(
            s"PartitionedTable: DV carry-over copy from $oldDv failed")
      } else emptyDv.limit(0).write.parquet(new Path(stage, DvDir).toString)
      val out = hfs.create(new Path(stage, BaseFile), true)
      try out.write(base.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      name -> landStoreVersion(spark, storeDir, stage)
    }.toMap
    hfs.delete(appTmp, true)
    committed
  }

  /** Read a committed table version: the newest manifest, or `asOf`.
    * Scans exactly the pinned per-partition version dirs. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    require(vs.contains(v),
      s"PartitionedTable: manifest v=$v not committed under $dir (have ${vs.sorted.mkString(",")})")
    val m = manifest(spark, dir, v)
    if (m.nonEmpty) readMapped(spark, dir, m) else emptyAt(spark, dir, v)
  }

  /** An EMPTY table version's frame (post-[[truncate]] / every
    * partition dropped): the shape of the newest non-empty RETAINED
    * version at or below `v` — so reads after a truncate keep
    * answering with the table's schema — else the declared CREATE
    * schema, else fail loud (a table that never had a shape has no
    * readable form, e.g. a truncate whose entire pre-history was
    * vacuumed on a library-created table). */
  private def emptyAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    versions(spark, dir).filter(_ < v).sorted.reverse
      .find(p => manifest(spark, dir, p).nonEmpty) match {
      case Some(p) =>
        readMapped(spark, dir, manifest(spark, dir, p)).filter(lit(false))
      case None if declaredSchemaOf(spark, dir).isDefined =>
        emptyDeclared(spark, dir)
      case None => throw new IllegalArgumentException(
        s"PartitionedTable: table version $v is empty under $dir and no " +
          "prior version or declared schema provides its shape")
    }

  private def partPaths(
      spark: SparkSession, dir: String, m: Map[String, Long]): Seq[String] = {
    val cloneSrc = cloneSrcOf(spark, dir) // one probe for the whole set
    m.toSeq.sortBy(_._1).map { case (name, sv) =>
      VersionedStore.path(storeDirOf(spark, dir, cloneSrc, name, sv), sv)
        .toString
    }
  }

  /** PER-SLICE METADATA CACHE — the one place plan-time metadata lives.
    * A slice is an immutable store-version dir (`…/__part=x/batch=N`);
    * its entry holds what planning needs from it:
    *   - the footer schema of its data files and of each sidecar dir
    *     read as data (`_stats`, `_append`, …) — a read of several
    *     slices merges these in sorted path order, exactly the fold
    *     `mergeSchema=true` inference runs over the files;
    *   - its live row count and on-disk bytes ([[estimateRows]],
    *     [[estimateBytes]]);
    *   - its `_stats` rows, so [[readWhereAll]] prunes files on the
    *     driver without a job.
    * [[landPartitions]] writes each landed slice's schema through, so a
    * read of slices this JVM landed infers nothing; only slices it has
    * never seen pay one footer-merge job ([[footerSchemasOf]]), and
    * their entries fill in.
    *
    * KEYING: (version dir, the table dir's epoch). A `batch=N` path is
    * reusable — restore→vacuum drops the max ids and a later write
    * re-mints the same path, and tests delete and recreate dirs — so
    * [[landStoreVersion]] resets the entry of every path it mints, and
    * the epoch ([[bumpSliceEpoch]]) invalidates a whole table when
    * files change under paths that stay live: vacuum (deletes dirs a
    * later write can re-mint) and in-place compaction (rewrites a
    * version dir's files and `_stats`). A manifest commit changes no
    * slice's content, so untouched slices stay cached across merges.
    * BOUNDING: LRU by approximate bytes. */
  private final case class SliceMeta(
      schemas: Map[String, StructType] = Map.empty,
      rows: Option[Long] = None,
      bytes: Option[Long] = None,
      stats: Option[Seq[Row]] = None) {
    def weight(key: String): Long =
      96L + key.length * 2L +
        schemas.map { case (s, t) => (s.length + t.catalogString.length) * 2L }.sum +
        stats.map(_.map(rowWeight).sum).getOrElse(0L)
  }

  /** Approximate heap bytes of one cached `_stats` row. */
  private def rowWeight(r: Row): Long =
    48L + r.toSeq.map {
      case s: String => 40L + 2L * s.length
      case _ => 16L
    }.sum

  private val sliceMeta =
    new java.util.LinkedHashMap[(String, Long), (SliceMeta, Long)](
      256, 0.75f, /*accessOrder=*/ true)
  private var sliceMetaBytes = 0L
  private[operators] var sliceMetaMaxBytes: Long = 32L << 20
  /** Footer-merge jobs run for slices the cache did not know. */
  private[operators] var sliceMetaMisses = 0L
  private[operators] def sliceMetaEntries: Int =
    sliceMeta.synchronized(sliceMeta.size)
  private[operators] def clearSliceMeta(): Unit = sliceMeta.synchronized {
    sliceMeta.clear()
    sliceMetaBytes = 0L
  }

  /** Per-table-dir invalidation epoch of the slice cache. */
  private val sliceEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[operators] def bumpSliceEpoch(dir: String): Unit =
    sliceEpochs.merge(
      new Path(dir).toString, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue)): Unit
  private def sliceKey(vdir: String): (String, Long) =
    (vdir, Option(sliceEpochs.get(tableDirOf(vdir))).map(_.longValue)
      .getOrElse(0L))

  private def sliceMetaOf(vdir: String): Option[SliceMeta] =
    sliceMeta.synchronized(Option(sliceMeta.get(sliceKey(vdir))).map(_._1))

  /** Replace `vdir`'s entry with `f` of it (empty when absent), then
    * evict least-recently-used entries past the byte bound. */
  private def updateSliceMeta(vdir: String)(f: SliceMeta => SliceMeta): Unit = {
    val key = sliceKey(vdir)
    sliceMeta.synchronized {
      val old = Option(sliceMeta.remove(key))
      old.foreach(o => sliceMetaBytes -= o._2)
      val m = f(old.map(_._1).getOrElse(SliceMeta()))
      val w = m.weight(vdir)
      sliceMeta.put(key, (m, w))
      sliceMetaBytes += w
      val it = sliceMeta.entrySet().iterator()
      while (sliceMetaBytes > sliceMetaMaxBytes && it.hasNext) {
        sliceMetaBytes -= it.next().getValue._2
        it.remove()
      }
    }
  }

  /** The table dir a slice path belongs to, for epoch lookup: the
    * prefix before the partition (`/__part=`) or version (`/batch=`)
    * marker, else the parent dir. A coarser-than-exact attribution
    * only ever invalidates MORE, never less. */
  private def tableDirOf(p: String): String = {
    val part = p.indexOf("/__part=")
    if (part >= 0) p.substring(0, part)
    else {
      val batch = p.indexOf("/batch=")
      if (batch >= 0) p.substring(0, batch)
      else {
        val slash = p.lastIndexOf('/')
        if (slash > 0) p.substring(0, slash) else p
      }
    }
  }

  /** The (version dir, sub dir) a read path's files belong to: "" for
    * the version's own data files (the dir itself, or a file in it),
    * the sidecar dir name for a `_`-prefixed dir inside it. None = not
    * a store path; such reads infer their schema the plain way. */
  private def sliceSlotOf(p: String): Option[(String, String)] = {
    val path = new Path(p)
    def isVersion(q: Path) = q != null && q.getName.startsWith("batch=")
    if (isVersion(path)) Some((path.toString, ""))
    else if (path.getName.startsWith("_") && isVersion(path.getParent))
      Some((path.getParent.toString, path.getName))
    else if (isVersion(path.getParent)) Some((path.getParent.toString, ""))
    else None
  }

  /** The files a slot's schema is inferred from, as Spark's file index
    * lists them (hidden `_`/`.` names skipped). None = a layout this
    * cache does not model (no files, or a nested data dir). */
  private def slotFiles(spark: SparkSession, slot: (String, String)): Option[Seq[String]] = {
    val d = if (slot._2.isEmpty) new Path(slot._1) else new Path(slot._1, slot._2)
    val listed = VersionedStore.fs(spark, d.toString).listStatus(d).toSeq
      .filterNot { s =>
        val n = s.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
      }
    if (listed.isEmpty || listed.exists(_.isDirectory)) None
    else Some(listed.map(_.getPath.toString).sorted)
  }

  /** Footer schemas of `slots` the cache lacks, read in ONE job and
    * recorded. None = some slot's layout is not modeled. */
  private def footerSchemasOf(
      spark: SparkSession, slots: Seq[(String, String)]
  ): Option[Map[(String, String), StructType]] = {
    val files = slots.map(s => s -> slotFiles(spark, s))
    if (files.exists(_._2.isEmpty)) return None
    val all = files.flatMap { case (s, fs) => fs.get.map(s -> _) }
    val schemas = org.apache.spark.sql.graft.Bridge
      .footerSchemas(spark, all.map(_._2))
    sliceMeta.synchronized(sliceMetaMisses += 1)
    val merged = all.map(_._1).zip(schemas).groupBy(_._1).map { case (s, ss) =>
      s -> ss.map(_._2).reduceLeft(
        org.apache.spark.sql.graft.Bridge.mergeSchemas(spark, _, _))
    }
    merged.foreach { case ((vdir, sub), t) =>
      updateSliceMeta(vdir)(m => m.copy(schemas = m.schemas + (sub -> t))) }
    Some(merged)
  }

  /** What `mergeSchema=true` inference returns for `paths`, from the
    * slice cache plus one footer-merge job over the slots it lacks:
    * slot schemas fold in sorted path order (the order Spark folds
    * the files in), and the result is all-nullable like every
    * file-source relation's. None = some path is not a modeled store
    * slot. */
  private[operators] def mergedSchemaOf(
      spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val slots0 = paths.map(sliceSlotOf)
    if (slots0.exists(_.isEmpty)) return None
    val slots = slots0.flatten.distinct.sortBy { case (v, s) =>
      (if (s.isEmpty) v else s"$v/$s") + "/" }
    val known = slots.map(s => s -> sliceMetaOf(s._1).flatMap(_.schemas.get(s._2)))
    val missing = known.collect { case (s, None) => s }
    val inferred =
      if (missing.isEmpty) Map.empty[(String, String), StructType]
      else footerSchemasOf(spark, missing).getOrElse(return None)
    val schemas = known.map { case (s, t) => t.getOrElse(inferred(s)) }
    Some(org.apache.spark.sql.graft.Bridge.asNullable(schemas.reduceLeft(
      org.apache.spark.sql.graft.Bridge.mergeSchemas(spark, _, _))))
  }

  /** FIXED sidecar schemas (the [[landMorDeltas]] / [[landPartitions]] /
    * [[writeVersionBloom]] write shapes). Passing an explicit schema to
    * `spark.read` skips per-read parquet schema INFERENCE — measured
    * ~77 ms of driver wall per resolution (a footer pass plus a
    * serialized-conf mini job) vs ~10 ms with the schema given, and the
    * MoR/skipping paths resolve sidecars many times per statement.
    * Parquet column resolution under a user schema is BY NAME, so the
    * two historical writer column orders read identically. */
  private val DvSidecarSchema = StructType(Seq(
    StructField("part", StringType), StructField("file", StringType),
    StructField("row_index", LongType)))
  private val BloomSidecarSchema = StructType(Seq(
    StructField("part", StringType), StructField("file", StringType),
    StructField("col", StringType), StructField("word", LongType),
    StructField("mask", LongType), StructField("bits", LongType)))

  /** Everything-nullable copy of a schema (nested included): the
    * explicit read-back schema for files THIS process just wrote.
    * Parquet reads never widen a declared-nullable field incorrectly
    * (an optional or required column both satisfy it), so declaring
    * nullable everywhere is always sound for reads whose consumers
    * re-derive nullability downstream. */
  private[operators] def allNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = allNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(valueType = allNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Heap-bytes estimate of a row of `s` before it is fetched. */
  private def rowWeightOf(s: StructType): Long =
    48L + s.fields.map(f => if (f.dataType == StringType) 80L else 16L).sum

  /** The `_stats` rows of version dirs `vdirs` as ONE frame under their
    * merged sidecar schema (what a `mergeSchema=true` read of the
    * sidecars returns). Rows come from the slice cache, and the rows of
    * slices it lacks from one read that then fills it; together they
    * form a driver-local relation, so a filter over it folds at
    * optimization and its collect runs no job. Rows that would take
    * more than half the cache's byte budget stay a distributed scan of
    * the sidecars instead — the only fallback, chosen by size. */
  private def statsOf(spark: SparkSession, vdirs: Seq[Path]): DataFrame = {
    val keys = vdirs.map(_.toString).distinct.sorted
    val paths = keys.map(k => new Path(k, StatsDir).toString)
    lazy val distributed = readParquet(spark, paths)
    val merged = mergedSchemaOf(spark, paths).getOrElse(return distributed)
    val own = keys.flatMap(k => sliceMetaOf(k).flatMap(_.schemas.get(StatsDir))
      .map(k -> _)).toMap
    // a slot whose own schema is gone (evicted) or disagrees with the
    // merged field types cannot be laid out locally
    if (own.size < keys.size || own.values.exists(_.fields.exists(f =>
      !merged.fields.exists(m => m.name == f.name && m.dataType == f.dataType))))
      return distributed
    val held = keys.flatMap(k => sliceMetaOf(k).flatMap(_.stats).map(k -> _)).toMap
    val missing = keys.filterNot(held.contains)
    val files = missing.map(k => k -> slotFiles(spark, (k, StatsDir))).toMap
    if (files.values.exists(_.isEmpty)) return distributed
    val weight = held.values.map(_.map(rowWeight).sum).sum +
      missing.map(k => rowWeightOf(own(k)) *
        VersionedStore.footerRowCount(spark, new Path(k, StatsDir))).sum
    if (weight > sliceMetaMaxBytes / 2) return distributed
    val fetched: Map[String, Seq[Row]] =
      if (missing.isEmpty) Map.empty
      else {
        val slot = "__graft_slot"
        val rows = missing.zipWithIndex.map { case (k, i) =>
          spark.read.schema(own(k)).parquet(files(k).get: _*)
            .withColumn(slot, lit(i))
        }.reduce(_.unionByName(_, allowMissingColumns = true)).collect()
        val bySlot = rows.groupBy(r => r.getInt(r.fieldIndex(slot)))
        missing.zipWithIndex.map { case (k, i) =>
          val names = own(k).fieldNames
          k -> bySlot.getOrElse(i, Array.empty[Row]).toSeq
            .map(r => Row.fromSeq(names.map(n => r.get(r.fieldIndex(n)))))
        }.toMap
      }
    fetched.foreach { case (k, rs) => updateSliceMeta(k)(_.copy(stats = Some(rs))) }
    val local = keys.flatMap { k =>
      val at = own(k).fieldNames.zipWithIndex.toMap
      held.getOrElse(k, fetched(k)).map(r =>
        Row.fromSeq(merged.fieldNames.map(n => at.get(n).map(r.get).orNull)))
    }
    spark.createDataFrame(java.util.Arrays.asList(local: _*), merged)
  }

  /** Parquet read of store paths under their merged footer schema
    * ([[mergedSchemaOf]]) — bit-identical to `mergeSchema=true`
    * (same per-file reconciliation: missing columns null-fill) without
    * its inference job. */
  private def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    mergedSchemaOf(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** Deletion-vector delta versions: a delete-only merge lands a tiny
    * version dir holding ONLY `_dv/` — (part, file, row_index) rows to
    * suppress — plus `_base.txt` naming the FULL store version it
    * filters; the partition's data files are never rewritten. Bases
    * chain one level at most: a delta on a delta reuses the original
    * base with the union of both DVs, and any rewriting merge or
    * compaction folds back to a full version.
    *
    * GROWTH GUARD (the 100 TB posture): tombstones accrete across
    * delete-only merges until compaction folds them, and the read path
    * prefers broadcasting the DV into the anti join — unbounded, a CDC
    * stream deleting a large fraction of a billion-row partition
    * between compactions would push the DV past Spark's broadcast
    * ceiling. Two bounds, both checked from file FOOTERS (driver-side
    * metadata, no scan): a merge routes a delete-only partition through
    * the REWRITE path instead of landing a DV once (existing tombstones
    * + this batch's deletes) would exceed [[DvMaxRows]] or
    * [[DvMaxFraction]] of the base's rows (at which point rewriting is
    * cheaper than dragging the tombstones through every read anyway);
    * and at READ time the DV only broadcasts while its estimated
    * in-memory size fits `spark.sql.autoBroadcastJoinThreshold` —
    * above it the anti join runs as a plain (shuffled) join, slower
    * but never a driver OOM. */
  private val DvDir = "_dv"
  private val BaseFile = "_base.txt"
  private val AppendDir = "_append"

  /** Default absolute bound on a partition's tombstone count before a
    * delete-only merge rewrites instead (4M rows ≈ a few hundred MB
    * broadcast-side — far inside the 8 GB ceiling with headroom). */
  val DvMaxRows: Long = 4L << 20

  /** Default bound on tombstones as a fraction of the base version's
    * rows: past it the rewrite costs little more than the base scan
    * every DV read already pays, so rewriting wins (the Delta-style
    * heuristic). */
  val DvMaxFraction: Double = 0.3

  /** Merge-on-read amortization floor: an UPSERT batch only routes
    * merge-on-read when its partition's base holds at least this many
    * rows. Below it a rewrite is one small file write, while the delta
    * costs an append job at merge time and an anti-join + append union
    * at every read — the delta tax only amortizes against a base scan
    * worth avoiding (measured: a CDC-maintained index over ~60-row
    * cluster partitions ran 60% slower on deltas than on rewrites).
    * Delete-only batches ignore the floor — a DV lands no append and
    * reads pay only the broadcast anti join, cheap at any size. */
  val DvMinBaseRows: Long = 4096

  /** Estimated in-memory bytes per broadcast tombstone row (file-name
    * string + row_index long + row overhead). */
  private val DvRowBytes = 64L

  /** Can `newRows` more delta state (tombstones for the batch's keys +
    * appended upsert rows) land on `value`'s pinned version as a
    * merge-on-read delta without breaching the growth bounds?
    * Footer-count metadata reads only. `newRows` counts the batch's
    * rows — an overestimate of real growth when keys repeat or miss
    * (which only rewrites earlier: safe). Existing state counts BOTH
    * sidecars: tombstones (broadcast into every read's anti join) and
    * appended rows (folded forward on every chained merge). */
  private def dvWithinBounds(
      spark: SparkSession, dir: String, m: Map[String, Long], value: String,
      newRows: Long, ups: Long, maxRows: Long, maxFraction: Double,
      minBase: Long): Boolean = {
    val name = escape(value)
    val sv = m(name)
    val storeDir = storeDirOf(spark, dir, name, sv)
    val base = dvBaseOf(spark, storeDir, sv).getOrElse(sv)
    val existing =
      if (base == sv) 0L
      else {
        val vdir = VersionedStore.path(storeDir, sv)
        VersionedStore.footerRowCount(spark, new Path(vdir, DvDir)) + {
          val app = new Path(vdir, AppendDir)
          if (VersionedStore.fs(spark, storeDir).exists(app))
            VersionedStore.footerRowCount(spark, app)
          else 0L
        }
      }
    val baseRows = VersionedStore.footerRowCount(spark,
      VersionedStore.path(storeDir, base))
    val est = existing + newRows
    (ups == 0L || baseRows >= minBase) && // the amortization floor
      est <= maxRows && (baseRows == 0L || est <= maxFraction * baseRows)
  }

  /** Partitions of table version `v` whose pinned store version is a
    * deletion-vector delta (introspection: the routing decision a
    * growth-guarded merge made, and what a compaction will fold). */
  def dvPartitions(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val cloneSrc = cloneSrcOf(spark, dir)
    manifest(spark, dir, v).toSeq.sortBy(_._1).collect {
      case (name, sv) if dvBaseOf(spark,
          storeDirOf(spark, dir, cloneSrc, name, sv), sv).isDefined =>
        name
    }
  }

  /** The FULL version `sv` resolves to: itself, or its DV base. */
  private def dvBaseOf(spark: SparkSession, storeDir: String, sv: Long): Option[Long] = {
    val hfs = VersionedStore.fs(spark, storeDir)
    val p = new Path(VersionedStore.path(storeDir, sv), BaseFile)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** One partition's pinned version as a frame — a full version scans
    * its dir; a merge-on-read delta scans its BASE, anti-joins the
    * (broadcast, tombstone-sized) deletion vector on
    * (file_name, row_index) — the stable row identity immutable files
    * guarantee — and unions its `_append` (upsert payloads, which the
    * DV never names: tombstones cover base files only). `basePaths`
    * narrows the base scan to specific files (stats pruning — sound
    * under DVs, which only REMOVE rows and can never resurrect one a
    * pruned file would have held; `Some(Nil)` = every base file pruned,
    * where the append must STILL be read — its rows carry no stats). */
  private[operators] def readPartitionDf(
      spark: SparkSession, dir: String, name: String, sv: Long,
      basePaths: Option[Seq[String]] = None): DataFrame = {
    val storeDir = storeDirOf(spark, dir, name, sv)
    val vdir = VersionedStore.path(storeDir, sv)
    dvBaseOf(spark, storeDir, sv) match {
      case None => readParquet(spark, basePaths.getOrElse(Seq(vdir.toString)))
      case Some(b) =>
        val dvPath = new Path(vdir, DvDir)
        val baseDir = VersionedStore.path(storeDir, b).toString
        val dv = spark.read.schema(DvSidecarSchema).parquet(dvPath.toString)
          .select(col("file").as("__file"), col("row_index").as("__ri"))
        // broadcast only while the DV's estimated in-memory size fits
        // the session's broadcast threshold (footer row count — a
        // driver-side metadata read); past it, or with broadcasting
        // disabled (-1), fall back to a plain anti join — a shuffle,
        // but never an over-ceiling broadcast / driver OOM
        val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
        val dvRows = VersionedStore.footerRowCount(spark, dvPath)
        val dvSide =
          if (threshold > 0 && dvRows * DvRowBytes <= threshold) broadcast(dv)
          else dv
        val base = basePaths match {
          case Some(Nil) => readParquet(spark, Seq(baseDir)).limit(0)
          case bp => readParquet(spark, bp.getOrElse(Seq(baseDir)))
        }
        val live = base
          .withColumn("__file", col("_metadata.file_name"))
          .withColumn("__ri", col("_metadata.row_index"))
          .join(dvSide, Seq("__file", "__ri"), "left_anti")
          .drop("__file", "__ri")
        val appendPath = new Path(vdir, AppendDir)
        if (VersionedStore.fs(spark, storeDir).exists(appendPath))
          live.unionByName(readParquet(spark, Seq(appendPath.toString)), true)
        else live
    }
  }

  /** A mapping's rows: plain partitions ride ONE multi-dir scan; DV
    * deltas union in with their anti-joined base scans. */
  private def readMapped(
      spark: SparkSession, dir: String, m: Map[String, Long]): DataFrame = {
    require(m.nonEmpty, "readMapped: empty partition mapping")
    val cloneSrc = cloneSrcOf(spark, dir) // one probe for the whole set
    val (delta, plain) = m.toSeq.sortBy(_._1).partition { case (name, sv) =>
      dvBaseOf(spark, storeDirOf(spark, dir, cloneSrc, name, sv), sv).isDefined
    }
    val parts =
      (if (plain.nonEmpty) Seq(readParquet(spark, partPaths(spark, dir, plain.toMap))) else Nil) ++
        delta.map { case (name, sv) => readPartitionDf(spark, dir, name, sv) }
    // column mapping normalizes LAST: chain members from files written
    // under different names null-fill disjointly across the union, and
    // the coalesce projection folds them into the current schema
    logicalize(spark, dir, parts.reduce(_.unionByName(_, true)))
  }

  /** Manifest-driven partition pruning: read ONLY the named partition
    * values' pinned version dirs — the first-level data skip a
    * partitioned table exists for (O(#requested) metadata resolution,
    * other partitions never listed or opened). Unknown values are
    * simply absent (they hold no rows by definition). */
  def readPartitions(
      spark: SparkSession,
      dir: String,
      values: Seq[String],
      asOf: Option[Long] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    require(vs.contains(v),
      s"PartitionedTable: manifest v=$v not committed under $dir")
    val m = manifest(spark, dir, v)
    val wanted = values.map(escape).toSet
    val live = m.filter(kv => wanted.contains(kv._1))
    require(live.nonEmpty,
      s"PartitionedTable: none of $values exist in table version $v")
    readMapped(spark, dir, live)
  }

  /** Live partition VALUES (unescaped) of table version `v` (latest by
    * default) — the introspection a caller needs to intersect a
    * candidate partition list against what actually exists before a
    * [[readPartitions]] (which requires a non-empty intersection).
    * Manifest-read cost only, never a data scan. */
  def partitionValues(
      spark: SparkSession, dir: String, asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    manifest(spark, dir, v).keys.toSeq.sorted.map(name =>
      ExternalCatalogUtils.unescapePathName(name.stripPrefix(s"$PartDir=")))
  }

  /** RESTORE the table to the content of `toVersion` by committing that
    * version's mapping as a NEW manifest version (the Delta RESTORE
    * semantic): pure commit-log metadata — no partition is read,
    * rewritten, or copied, so the cost at 100 TB is the delta-log bytes
    * of the pointers that differ, never data movement. History keeps
    * both timelines (the rolled-back versions stay readable via
    * time travel until [[vacuum]] retires them), a later [[merge]]
    * diverges from the restored state, and [[changes]] across the
    * restore commit emits the row-level undo feed — CDC consumers see
    * the rollback as ordinary events. `toVersion` must still be in the
    * log (vacuum prunes restorability together with readability).
    * BATCH tables only (the [[compactPartitions]] caveat: this mints
    * latest+1, which would swallow a [[mergeAt]] stream's next batch
    * id). Returns the new manifest version. */
  def restore(
      spark: SparkSession, dir: String, toVersion: Long, at: String = ""): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: nothing to restore under $dir")
    val cur = vs.max
    require(vs.contains(toVersion),
      s"PartitionedTable: cannot restore to v=$toVersion under $dir " +
        s"(have ${vs.sorted.mkString(",")} — vacuumed past it?)")
    val target = manifest(spark, dir, toVersion)
    require(target.nonEmpty,
      s"PartitionedTable: refusing to restore to empty table version $toVersion")
    val touched = changedPartitions(spark, dir, cur, toVersion).size
    commitManifest(spark, dir, target,
      Some(metaLine("restore", touched, target.size, at)))
  }

  /** MERGE a CDC batch, rewriting ONLY touched partitions. `changes`
    * carries the table's columns plus `opCol` ∈ {"upsert", "delete"}
    * (anything else raises), one row per (partition, key) —
    * pre-collapse a changelog last-wins first. Untouched partitions'
    * store pointers (and files) carry over unchanged; a partition
    * whose rows are all deleted drops out of the manifest. */
  def merge(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      partCol: String,
      opCol: String = "op",
      statsCols: Seq[String] = Nil,
      allowSchemaEvolution: Boolean = false,
      at: String = "",
      dvMaxRows: Long = DvMaxRows,
      dvMaxFraction: Double = DvMaxFraction,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits,
      dvMinBase: Long = DvMinBaseRows,
      sinceVersion: Option[Long] = None): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 16,
        s"PartitionedTable: merge lost $attempts optimistic rounds under $dir")
      val cur = latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"PartitionedTable: nothing to merge into under $dir"))
      val base = manifest(spark, dir, cur)
      val (committed, touched) = applyMergeParts(spark, dir, base, changes,
        keyCol, partCol, opCol, statsCols, allowSchemaEvolution,
        dvMaxRows, dvMaxFraction, bloomCols, bloomBits, dvMinBase)
      // SNAPSHOT PIN (`sinceVersion`): a caller whose `changes` were
      // DERIVED FROM a target snapshot (MergeInto's tgt-referencing
      // clauses, the SQL MERGE path) cannot safely re-apply them onto a
      // base where a touched partition moved — the frozen rows would
      // silently overwrite the concurrent writer (lost update / write
      // skew). Such callers pin the snapshot version; any touched
      // partition whose pointer moved since it fails LOUD with
      // [[ConcurrentWriteException]] (Delta's ConcurrentAppendException
      // contract) so the caller can RE-DERIVE from the new snapshot.
      // Plain CDC merges (changes are the source of truth, independent
      // of target content) keep the rebase/recompute protocol below.
      sinceVersion.foreach { s0 =>
        val snap = manifest(spark, dir, s0)
        val moved = touched.filter(n => base.get(n) != snap.get(n))
        if (moved.nonEmpty) throw new ConcurrentWriteException(
          s"PartitionedTable: partitions ${moved.sorted.mkString(", ")} of " +
            s"$dir moved since snapshot v=$s0 (now v=$cur) — the merge's " +
            "changes were derived from a stale snapshot; re-derive and retry " +
            "(landed store versions are orphans; vacuum collects them)")
      }
      // optimistic commit with rebase (the Delta conflict protocol):
      // losing the manifest slot to a writer whose commit left every
      // partition I merged against untouched is NOT a conflict — my
      // landed versions are still exact, so rebase them onto the
      // winner's mapping and take the next slot. A winner that moved
      // any partition I read invalidates my merge: abandon the landed
      // versions (orphans, collected by vacuum) and recompute from the
      // new snapshot. Serializable outcome either way.
      var v = cur + 1
      var mapping = (base -- touched) ++ committed
      var conflicted = false
      var done = false
      while (!done && !conflicted) {
        if (commitManifestAt(spark, dir, v, mapping,
            Some(metaLine("merge", touched.size, mapping.size, at)))) done = true
        else {
          val winner = manifest(spark, dir, v)
          if (touched.exists(n => winner.get(n) != base.get(n))) conflicted = true
          else {
            mapping = (winner -- touched) ++ committed
            v += 1
          }
        }
      }
      if (done) return v
      // conflicted: a pinned caller must re-derive, not re-apply —
      // surface the conflict; an unpinned one loops and re-merges
      if (sinceVersion.isDefined) throw new ConcurrentWriteException(
        s"PartitionedTable: lost the manifest slot under $dir to a writer " +
          s"that moved a touched partition since snapshot " +
          s"v=${sinceVersion.get} — re-derive and retry")
    }
    -1L // unreachable
  }

  /** Exactly-once MERGE for streaming folds (manifest version = batch
    * id) — the landing surface of every [[graft.streaming.MergeStreams]]
    * micro-batch: a retried batch merges against the
    * newest manifest OLDER than its id and no-ops if its own manifest
    * already landed — so a redelivered changelog batch can never
    * double-apply, and a crash before the manifest rename leaves only
    * orphan store versions a later [[vacuum]] collects. Returns true
    * iff this call committed. An empty table (no manifest yet) treats
    * every upsert as an insert and deletes as no-ops. */
  def mergeAt(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      partCol: String,
      opCol: String,
      id: Long,
      dvMaxRows: Long = DvMaxRows,
      dvMaxFraction: Double = DvMaxFraction,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits,
      dvMinBase: Long = DvMinBaseRows): Boolean = {
    if (versions(spark, dir).contains(id)) return false
    val base = versions(spark, dir).filter(_ < id).maxOption
      .map(manifest(spark, dir, _)).getOrElse(Map.empty[String, Long])
    val (committed, touched) = applyMergeParts(spark, dir, base, changes,
      keyCol, partCol, opCol, statsCols = statsCols, dvMaxRows = dvMaxRows,
      dvMaxFraction = dvMaxFraction, bloomCols = bloomCols,
      bloomBits = bloomBits, dvMinBase = dvMinBase)
    val mapping = (base -- touched) ++ committed
    commitManifestAt(spark, dir, id, mapping,
      Some(metaLine("stream_merge", touched.size, mapping.size, s"batch=$id")))
  }

  /** STREAMING-OCC MERGE — exactly-once for a streaming maintainer that
    * must COEXIST with batch writers, which [[mergeAt]]'s
    * id-equals-manifest-version contract cannot (a batch commit minting
    * latest+1 would swallow the stream's next id, and the stream would
    * silently no-op a batch it never applied). Replay detection moves
    * from version numbers to the COMMIT TAG: each stream batch commits
    * through the ordinary OCC [[merge]] (rebase/recompute under racing
    * writers, serializable either way) tagged
    * `stream=<id>;batch=<n>` in its history header — the manifest
    * rename is the atomic record, so a crash anywhere leaves either no
    * trace (retry applies) or the tagged commit (retry no-ops). Returns
    * the manifest version that carries the batch (existing one on
    * replay).
    *
    * Horizon contract: the replay check scans retained history headers
    * (O(#versions) tiny driver reads — the [[history]] cost), so
    * [[vacuum]] retention must stay deeper than the stream's maximum
    * redelivery window, exactly like a ChangeFeed consumer's offset. */
  def mergeStream(
      spark: SparkSession,
      dir: String,
      changes: DataFrame,
      keyCol: String,
      partCol: String,
      streamId: String,
      batchId: Long,
      opCol: String = "op",
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long = {
    validStreamId(streamId)
    val tag = s"stream=$streamId;batch=$batchId"
    versionByTag(spark, dir, tag).getOrElse(
      merge(spark, dir, changes, keyCol, partCol, opCol, statsCols,
        at = tag, bloomCols = bloomCols, bloomBits = bloomBits))
  }

  private def validStreamId(streamId: String): Unit =
    require(streamId.nonEmpty && !streamId.exists(c =>
      c == '"' || c == '\\' || c < ' '),
      s"bad stream id '$streamId'")

  /** Exactly-once streaming APPEND — the keyless sink leg of
    * [[mergeStream]]'s tag protocol (Append output mode): every batch
    * row lands through an ordinary [[append]] (MoR `_append` routing,
    * OCC, constraints all apply) tagged `stream=<id>;batch=<n>`; a
    * redelivered batch finds its tag and no-ops. Returns the manifest
    * version carrying the batch. */
  def appendStream(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      streamId: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long = {
    validStreamId(streamId)
    val tag = s"stream=$streamId;batch=$batchId"
    versionByTag(spark, dir, tag).getOrElse(
      append(spark, dir, df, partCol, statsCols, at = tag,
        bloomCols = bloomCols, bloomBits = bloomBits))
  }

  /** Exactly-once streaming FULL-SNAPSHOT commit — Complete output
    * mode: each batch is the stream's whole result, committed as the
    * next table version (untouched readers keep their snapshots; time
    * travel keeps the previous completes). Same tag-replay contract as
    * [[appendStream]]. */
  def commitStream(
      spark: SparkSession, dir: String, df: DataFrame, partCol: String,
      streamId: String, batchId: Long,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Long = {
    validStreamId(streamId)
    val tag = s"stream=$streamId;batch=$batchId"
    versionByTag(spark, dir, tag).getOrElse(
      commit(spark, dir, df, partCol, statsCols, at = tag,
        bloomCols = bloomCols, bloomBits = bloomBits))
  }

  /** The merge computation against an explicit base mapping; lands
    * touched partitions' new store versions and returns
    * (landed dirName -> store version, ALL touched dir names — landed
    * plus emptied). Commit point NOT included; callers build the new
    * mapping as `(base -- touched) ++ landed` and commit.
    * `private[operators]` so the concurrency spec can interleave two
    * writers' land and commit steps deterministically. */
  private[operators] def applyMergeParts(
      spark: SparkSession,
      dir: String,
      m: Map[String, Long],
      changes: DataFrame,
      keyCol: String,
      partCol: String,
      opCol: String,
      statsCols: Seq[String] = Nil,
      allowSchemaEvolution: Boolean = false,
      dvMaxRows: Long = DvMaxRows,
      dvMaxFraction: Double = DvMaxFraction,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits,
      dvMinBase: Long = DvMinBaseRows): (Map[String, Long], Seq[String]) = {
    refuseRetiredNames(spark, dir, changes.drop(opCol))
    // materialize the batch ONCE (census + DV + append + rewrite all
    // re-read it) — unless it is ALREADY driver-materialized (a
    // LogicalRDD/LocalRelation, possibly under projections/filters:
    // the ChangeFeed.maintain slices arrive pre-checkpointed), where a
    // second checkpoint job per commit buys nothing
    def isMaterialized(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          isMaterialized(pr.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          isMaterialized(f.child)
        case _ => false
      }
    // caller shaping must be read off the RAW plan: the checkpoint
    // below truncates it to a LogicalRDD, hiding any repartition
    val batchShaped = graft.Tables.hasUserShaping(changes.queryExecution.analyzed)
    val pre = changes.filter(col(partCol).isNotNull)
    val batch =
      if (isMaterialized(changes.queryExecution.analyzed)) pre
      else pre.localCheckpoint(true)
    // declared CHECK constraints gate the batch's UPSERT payloads
    // before anything lands (a delete's payload never materializes)
    enforceConstraints(spark, dir, batch.filter(col(opCol) <=> "upsert"))
    // per-partition op census; the when-chain validates EVERY row's op
    // here (fail-loud), since the DV path below never re-filters them
    val opFlag = when(col(opCol) === "upsert", 1L)
      .when(col(opCol) === "delete", 0L)
      .otherwise(raise_error(concat(
        lit(s"merge: $opCol must be upsert|delete, got "),
        coalesce(col(opCol), lit("NULL")))).cast("long"))
    val census = batch.groupBy(partCol)
      .agg(sum(opFlag).as("ups"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val touchedVals = census.map(_._1)
    val touchedNames = touchedVals.map(escape)
    // EXISTING partitions take the merge-on-read fast path — deletes
    // land as tombstones, upserts as tombstones + a batch-sized
    // `_append` — but only inside the growth bounds: an over-bound
    // batch (or one landing on an already-delta-heavy version) routes
    // through the rewrite below instead, folding the partition back to
    // a full version. Strict schema stays strict: an upsert batch whose
    // payload columns don't match the base (modulo column mapping)
    // falls to the rewrite path, whose unionByName raises exactly the
    // error a rewrite would have. On a shallow CLONE the fast path is
    // off entirely — a local delta would name a base that lives
    // source-side, and the delta reader resolves base and sidecars in
    // ONE store dir; copy-on-write rewrite keeps the invariant instead.
    val edges = colMapOf(spark, dir)
    val payloadCols = batch.columns.toSet - opCol
    def morCompatible(v: String): Boolean = {
      val name = escape(v)
      val storeDir = storeDirOf(spark, dir, name, m(name))
      val b = dvBaseOf(spark, storeDir, m(name)).getOrElse(m(name))
      val baseCols = readParquet(spark,
        Seq(VersionedStore.path(storeDir, b).toString)).columns
        .flatMap(c => resolveName(edges, c)).toSet
      baseCols == payloadCols
    }
    val dvVals =
      if (cloneSrcOf(spark, dir).isDefined) Nil
      else census.collect {
        case (v, ups, n) if m.contains(escape(v)) &&
            dvWithinBounds(spark, dir, m, v, n + ups, ups, dvMaxRows,
              dvMaxFraction, dvMinBase) &&
            (ups == 0 || allowSchemaEvolution || morCompatible(v)) => v
      }
    val dvCommitted = landMorDeltas(spark, dir, m, batch, dvVals,
      keyCol, partCol, opCol,
      hasUpserts = census.exists { case (v, ups, _) =>
        ups > 0 && dvVals.contains(v) })
    val rwVals = touchedVals.filterNot(dvVals.contains)
    if (rwVals.isEmpty) return (dvCommitted, touchedNames)
    val rwNames = rwVals.map(escape)
    val rwBatch = batch.filter(col(partCol).isin(rwVals: _*))
    val baseTouched = rwNames.filter(m.contains) match {
      case Nil => None
      case live => Some(readMapped(spark, dir,
        m.filter(kv => live.contains(kv._1))))
    }
    val upserts = rwBatch.filter(col(opCol) === "upsert").drop(opCol)
    // schema evolution (opt-in, the Delta mergeSchema semantic): change
    // columns the base lacks null-fill on kept rows, base columns the
    // changes lack null-fill on inserted rows. Only TOUCHED partitions
    // rewrite with the widened schema — untouched partitions' files
    // keep the old one, which is why every multi-partition read here
    // merges footer schemas ([[readParquet]]). Off = strict error.
    val merged = baseTouched match {
      case Some(base) =>
        base.join(broadcast(rwBatch.select(partCol, keyCol).distinct()),
            Seq(partCol, keyCol), "left_anti")
          .unionByName(upserts, allowSchemaEvolution)
      case None => upserts // all-new partitions; deletes are no-ops
    }
    // the join put its keys first — restore the table's column order
    // (base order, then evolved additions) so every store version's
    // files share one schema layout
    val tableCols = baseTouched match {
      case Some(base) if allowSchemaEvolution =>
        val bc = base.columns.toSeq
        bc ++ batch.columns.toSeq.filterNot(c => c == opCol || bc.contains(c))
      case _ => batch.columns.toSeq.filterNot(_ == opCol)
    }
    val committed = landPartitions(spark, dir,
      merged.select(tableCols.map(col): _*), partCol, statsCols, bloomCols,
      bloomBits, preShaped = batchShaped)
    // touched partitions that landed update their pointer; touched
    // partitions with no surviving rows drop out of the mapping the
    // caller builds; the rest carry over
    (dvCommitted ++ committed, touchedNames)
  }

  /** Land merge-on-read delta versions for the routed partitions: ONE
    * metadata-projected scan of their base versions semi-joined with
    * the (broadcast, batch-sized) batch keys yields the new tombstones
    * (an upsert tombstones the row it replaces, a delete the row it
    * removes); existing DVs (same base) union in; UPSERT payloads land
    * as a batch-sized `_append`, with any existing append folded
    * forward (replaced/deleted append rows anti-joined away — append
    * rows never get DV entries, so the DV names BASE files only and
    * every chained delta keeps resolving against the original base).
    * Each partition's slice assembles as
    * `batch=<next>/{_dv, _base.txt[, _append]}` in a dot-tmp and
    * renames into place — the partition's DATA FILES are never read
    * beyond metadata+key columns and never rewritten. */
  private def landMorDeltas(
      spark: SparkSession,
      dir: String,
      m: Map[String, Long],
      batch: DataFrame,
      dvVals: Seq[String],
      keyCol: String,
      partCol: String,
      opCol: String,
      hasUpserts: Boolean): Map[String, Long] = {
    if (dvVals.isEmpty) return Map.empty
    val hfs = VersionedStore.fs(spark, dir)
    // per partition: the pinned version and the FULL base it resolves to
    val resolved = dvVals.map { v =>
      val name = escape(v)
      val sv = m(name)
      val storeDir = storeDirOf(spark, dir, name, sv)
      val base = dvBaseOf(spark, storeDir, sv).getOrElse(sv)
      (v, name, storeDir, sv, base)
    }
    val baseDirs = resolved.map { case (_, _, storeDir, _, base) =>
      VersionedStore.path(storeDir, base).toString }
    val slice = batch.filter(col(partCol).isin(dvVals: _*))
    val delKeys = slice
      .select(col(partCol).as("part"), col(keyCol).as("__k")).distinct()
    // pull _metadata BEFORE normalizing (column mapping projects, and a
    // projection loses the scan's hidden metadata columns); bases written
    // pre-rename then resolve part/key under their CURRENT names
    val newDv = logicalize(spark, dir, readParquet(spark, baseDirs)
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__ri", col("_metadata.row_index")))
      .select(col(partCol).as("part"), col(keyCol).as("__k"),
        col("__file").as("file"), col("__ri").as("row_index"))
      .join(broadcast(delKeys), Seq("part", "__k"), "left_semi")
      .select("part", "file", "row_index")
    val oldDvDirs = resolved.collect {
      case (_, _, storeDir, sv, base) if sv != base =>
        new Path(VersionedStore.path(storeDir, sv), DvDir).toString
    }
    val allDv =
      if (oldDvDirs.isEmpty) newDv
      else newDv.unionByName(spark.read.schema(DvSidecarSchema)
        .parquet(oldDvDirs: _*)
        .select("part", "file", "row_index")).distinct()
    val dvTmp = new Path(dir, s".tmp-dv-${java.util.UUID.randomUUID}")
    allDv.withColumn(PartDir, col("part"))
      .write.partitionBy(PartDir).parquet(dvTmp.toString)
    // appends: this batch's upsert payloads, plus existing appends with
    // their replaced/deleted rows folded away (batch/append-sized work)
    val upserts = slice.filter(col(opCol) <=> "upsert").drop(opCol)
    val oldAppendDirs = resolved.collect {
      case (_, _, storeDir, sv, base) if sv != base &&
          hfs.exists(new Path(VersionedStore.path(storeDir, sv), AppendDir)) =>
        new Path(VersionedStore.path(storeDir, sv), AppendDir).toString
    }
    // pure delete paths with no prior appends skip the append job
    // entirely — a delete-only merge costs exactly what it used to
    val appTmp = new Path(dir, s".tmp-append-${java.util.UUID.randomUUID}")
    if (hasUpserts || oldAppendDirs.nonEmpty) {
      val keep = delKeys.withColumnRenamed("part", partCol)
        .withColumnRenamed("__k", keyCol)
      val old =
        if (oldAppendDirs.isEmpty) None
        else Some(logicalize(spark, dir, readParquet(spark, oldAppendDirs))
          .join(broadcast(keep), Seq(partCol, keyCol), "left_anti"))
      val appendRows = old.map(_.unionByName(upserts, true)).getOrElse(upserts)
      appendRows.withColumn(PartDir, col(partCol))
        .write.partitionBy(PartDir).parquet(appTmp.toString)
    }
    val committed = resolved.map { case (v, name, storeDir, _, base) =>
      val stage = new Path(storeDir, s".tmp-dv-${java.util.UUID.randomUUID}")
      hfs.mkdirs(stage)
      val dvSlice = new Path(dvTmp, escape(v))
      if (hfs.exists(dvSlice)) {
        if (!hfs.rename(dvSlice, new Path(stage, DvDir)))
          throw new java.io.IOException(
            s"PartitionedTable: DV rename $dvSlice failed")
      } else {
        // a batch matching no stored rows still mints a version
        // (uniform merge semantics) — its DV is a typed empty parquet
        allDv.limit(0).write.parquet(new Path(stage, DvDir).toString)
      }
      val appSlice = new Path(appTmp, escape(v))
      if (hfs.exists(appTmp) && hfs.exists(appSlice) &&
          !hfs.rename(appSlice, new Path(stage, AppendDir)))
        throw new java.io.IOException(
          s"PartitionedTable: append rename $appSlice failed")
      val out = hfs.create(new Path(stage, BaseFile), true)
      try out.write(base.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      name -> landStoreVersion(spark, storeDir, stage)
    }.toMap
    hfs.delete(dvTmp, true)
    hfs.delete(appTmp, true)
    committed
  }

  /** Both skip levels composed: resolve a manifest, prune PARTITIONS
    * to `partValues` (when given), then within each surviving
    * partition prune FILES whose committed min/max on `c` can't
    * overlap `[lo, hi]` — versions without a stats sidecar contribute
    * all their files. The residual filter stays on the scan, so the
    * result is exact at any pruning coarseness. One stats read + one
    * data read regardless of partition count. */
  def readWhere(
      spark: SparkSession,
      dir: String,
      c: String,
      lo: Column,
      hi: Column,
      partValues: Option[Seq[String]] = None,
      asOf: Option[Long] = None): DataFrame =
    readWhereAll(spark, dir, Seq((c, lo, hi)), partValues, asOf)

  /** [[readWhere]] over a CONJUNCTION of range predicates — the probe
    * shape a Z-ordered layout exists for ([[ZOrder]]): with files
    * clustered on an interleaved key, EVERY predicate's min/max is
    * tight per file, so a 2-D box query keeps only the files whose
    * ranges cross the box in all dimensions at once (a single-key
    * range layout prunes only its lead column). Each predicate prunes
    * independently: a version whose sidecar lacks a column simply
    * doesn't prune on it (sidecars are read with merged schemas and
    * NULL stats keep the file — heterogeneous `statsCols` across
    * versions can never drop a live row), and the full residual
    * conjunction stays on the scan, so the result is exact at any
    * pruning coarseness. */
  def readWhereAll(
      spark: SparkSession,
      dir: String,
      preds: Seq[(String, Column, Column)],
      partValues: Option[Seq[String]] = None,
      asOf: Option[Long] = None): DataFrame = {
    require(preds.nonEmpty, "readWhereAll: need at least one (col, lo, hi)")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    val m = manifest(spark, dir, v)
    val wanted = partValues.map(_.map(escape).toSet)
    val live = m.filter(kv => wanted.forall(_.contains(kv._1)))
    val pred = preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    if (live.isEmpty) return read(spark, dir, Some(v)).filter(lit(false)).filter(pred)
    // keep-file conjunction over a stats frame: absent stats columns /
    // NULL stats rows cannot DISPROVE overlap, so they keep the file.
    // Under column mapping a sidecar tracks the name the column had AT
    // WRITE TIME — every chain member prunes for its current name (any
    // one file's sidecar row holds stats under exactly one member, the
    // rest are merged-schema nulls, and NULL keeps)
    val edges = colMapOf(spark, dir)
    def keepFilter(stats: DataFrame): Option[DataFrame] = {
      val conds = preds.flatMap { case (c, lo, hi) =>
        chainMembersOf(edges, c)
          .filter(m => stats.columns.contains(s"min_$m"))
          .map(m => coalesce(col(s"max_$m") >= lo && col(s"min_$m") <= hi,
            lit(true)))
      }
      if (conds.isEmpty) None // no predicate column tracked: keep all
      else Some(stats.filter(conds.reduce(_ && _)))
    }
    val hfs = VersionedStore.fs(spark, dir)
    val cloneSrc = cloneSrcOf(spark, dir) // one probe for the whole read
    val versionDir: ((String, Long)) => Path = { case (name, sv) =>
      VersionedStore.path(storeDirOf(spark, dir, cloneSrc, name, sv), sv) }
    // DV delta partitions route through the tombstone-filtered reader;
    // when their BASE carries a stats sidecar, base files prune by the
    // same min/max test first (sound: a tombstone only removes rows —
    // it can never resurrect one a pruned file would have held)
    val (asDelta, solid) = live.toSeq.partition { case (name, sv) =>
      dvBaseOf(spark, storeDirOf(spark, dir, cloneSrc, name, sv), sv).isDefined }
    val deltaDf = asDelta.map { case (name, sv) =>
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      val base = dvBaseOf(spark, storeDir, sv).get
      val baseDir = VersionedStore.path(storeDir, base)
      val statsPath = new Path(baseDir, StatsDir)
      val basePaths =
        if (!hfs.exists(statsPath)) None
        else keepFilter(statsOf(spark, Seq(baseDir)))
          .map(_.select("file").collect() // file-count-sized
            .map(r => new Path(baseDir, r.getString(0)).toString).toSeq)
      // Some(Nil) = every base file pruned; the partition still reads —
      // a merge-on-read append carries no stats and must stay exact
      logicalize(spark, dir,
        readPartitionDf(spark, dir, name, sv, basePaths)).filter(pred)
    }.reduceOption(_.unionByName(_, true))
    if (solid.isEmpty)
      return deltaDf.getOrElse(
        read(spark, dir, Some(v)).filter(lit(false)).filter(pred))
    val (withStats, without) = solid.partition(kv =>
      hfs.exists(new Path(versionDir(kv), StatsDir)))
    val keptStatFiles: Seq[String] =
      if (withStats.isEmpty) Nil
      else {
        keepFilter(statsOf(spark, withStats.map(versionDir))) match {
          case None => // stats on other columns only
            withStats.map(kv => versionDir(kv).toString)
          case Some(kept) =>
            val dirByName = withStats.map(kv =>
              kv._1 -> versionDir(kv).toString).toMap
            kept.select("part", "file").collect() // file-count-sized
              .map(r => s"${dirByName(escape(r.getString(0)))}/${r.getString(1)}")
              .toSeq
        }
      }
    val paths = keptStatFiles ++ without.map(kv => versionDir(kv).toString)
    val solidDf =
      if (paths.isEmpty) None
      else Some(logicalize(spark, dir, readParquet(spark, paths.sorted))
        .filter(pred))
    (solidDf.toSeq ++ deltaDf.toSeq).reduceOption(_.unionByName(_, true))
      .getOrElse(read(spark, dir, Some(v)).filter(lit(false)).filter(pred))
  }

  /** Point-lookup read with Bloom FILE skipping: resolve a manifest,
    * prune PARTITIONS to `partValues` (when given), then within each
    * surviving partition keep only files whose `_bloom` sidecar says
    * MIGHT contain `value` on column `c` — versions without a bloom
    * for `c` contribute all their files, DV-delta partitions prune
    * their BASE files (sound: tombstones only remove rows). The
    * residual `col(c) === value` filter stays on the scan, so false
    * positives cost only an extra file read, never a wrong row. This
    * is the skip level min/max can't provide: equality on a
    * high-cardinality UNCLUSTERED column, where every file's [min,max]
    * spans the keyspace ([[readWhere]] stays the range/clustered
    * path). `value` is cast to the column's stored type before both
    * the probe and the filter — the write side hashed native values,
    * so an int literal probing a long column must not hash as int. One
    * sidecar read + one data read of the surviving files; the
    * candidate list is file-count-sized, the same driver contract as
    * [[readWhere]]'s stats pruning. */
  def readEq(
      spark: SparkSession,
      dir: String,
      c: String,
      value: Column,
      partValues: Option[Seq[String]] = None,
      asOf: Option[Long] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    val m = manifest(spark, dir, v)
    val wanted = partValues.map(_.map(escape).toSet)
    val live = m.filter(kv => wanted.forall(_.contains(kv._1)))
    if (live.isEmpty)
      return read(spark, dir, Some(v)).filter(lit(false)).filter(col(c) === value)
    val hfs = VersionedStore.fs(spark, dir)
    val cloneSrc = cloneSrcOf(spark, dir) // one probe for the whole read
    val (asDelta, solid) = live.toSeq.sortBy(_._1).partition { case (name, sv) =>
      dvBaseOf(spark, storeDirOf(spark, dir, cloneSrc, name, sv), sv).isDefined }
    // the column's stored type, from footer-schema reads (metadata
    // only): probe and predicate both use the casted value. The write
    // side hashed NATIVE values, so probing with an uncast literal of a
    // different type (int vs long) would miss every word — a FALSE
    // NEGATIVE that silently drops rows. After schema evolution a
    // single arbitrary donor partition may lack the column entirely, so
    // donors are tried lazily across every live slice (solid versions
    // first, then delta bases) until one's footer carries a chain
    // member; the common case stays one footer read.
    // column mapping: each donor footer (and every bloom sidecar) holds
    // the name the column had AT WRITE TIME — try every chain member
    val members = chainMembersOf(colMapOf(spark, dir), c)
    val donorPaths = solid.map { case (name, sv) =>
      VersionedStore.path(storeDirOf(spark, dir, cloneSrc, name, sv), sv)
    } ++ asDelta.map { case (name, sv) =>
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      VersionedStore.path(storeDir, dvBaseOf(spark, storeDir, sv).get)
    }
    val storedType = donorPaths.view.flatMap { p =>
      val schema = readParquet(spark, Seq(p.toString)).schema
      members.reverse.flatMap(m => schema.find(_.name == m)).headOption
        .map(_.dataType)
    }.headOption
    val vCast = storedType.map(value.cast).getOrElse(value)
    // NO live footer carries the column under any chain name → the
    // stored type is unknowable and no probe hash is sound: skip bloom
    // pruning outright (all slices unpruned; the residual filter still
    // guarantees correctness) rather than risk a false-negative prune
    def prune(slices: Seq[(String, Path)]): (Seq[String], Seq[Path]) =
      if (storedType.isEmpty) (Nil, slices.map(_._2))
      else bloomPrune(spark, hfs, slices, members, vCast)
    val pred = col(c) === vCast
    // pruning can drop EVERY file that carried an evolved column (the
    // only partitions holding `c` pruned to zero): the surviving scan's
    // footer-merged schema then lacks `c` and the residual filter would
    // fail to resolve — null-fill it at the stored type (those rows
    // hold no `c` by definition, so null is their exact value)
    def withProbeCol(df: DataFrame): DataFrame =
      if (df.columns.contains(c)) df
      else storedType.map(t => df.withColumn(c, lit(null).cast(t))).getOrElse(df)
    val deltaDf = asDelta.map { case (name, sv) =>
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      val baseDir = VersionedStore.path(storeDir, dvBaseOf(spark, storeDir, sv).get)
      val (kept, unpruned) = prune(Seq(name -> baseDir))
      if (unpruned.nonEmpty)
        withProbeCol(logicalize(spark, dir,
          readPartitionDf(spark, dir, name, sv))).filter(pred)
      else // definite miss in every base file still probes the append
        withProbeCol(logicalize(spark, dir,
          readPartitionDf(spark, dir, name, sv, Some(kept)))).filter(pred)
    }.reduceOption(_.unionByName(_, true))
    val solidDf =
      if (solid.isEmpty) None
      else {
        val slices = solid.map { case (name, sv) =>
          name -> VersionedStore.path(
            storeDirOf(spark, dir, cloneSrc, name, sv), sv) }
        val (kept, unpruned) = prune(slices)
        val paths = kept ++ unpruned.map(_.toString)
        if (paths.isEmpty) None
        else Some(withProbeCol(logicalize(spark, dir,
          readParquet(spark, paths.sorted))).filter(pred))
      }
    (solidDf.toSeq ++ deltaDf.toSeq).reduceOption(_.unionByName(_, true))
      .getOrElse(read(spark, dir, Some(v)).filter(lit(false)).filter(pred))
  }

  /** Bloom-prune `slices` ((dirName, version dir) pairs) for
    * `col(c) === value`: returns (kept candidate file paths from slices
    * whose sidecar covers `c`, version dirs that must contribute ALL
    * files — no sidecar, or a sidecar tracking other columns only). A
    * file passes iff for EVERY hash seed j its sidecar holds the
    * probe's (word, bit) — zero false negatives by construction. */
  private def bloomPrune(
      spark: SparkSession,
      hfs: org.apache.hadoop.fs.FileSystem,
      slices: Seq[(String, Path)],
      members: Seq[String], // the probe column's rename-chain names
      value: Column): (Seq[String], Seq[Path]) = {
    val (withB, withoutB) = slices.partition { case (_, vd) =>
      hfs.exists(new Path(vd, BloomDir)) }
    if (withB.isEmpty) return (Nil, slices.map(_._2))
    // a sidecar indexed the column under its AT-WRITE name — any chain
    // member matches (each file's sidecar holds exactly one of them, so
    // the per-file probe below never mixes two members)
    val bloom = spark.read.schema(BloomSidecarSchema)
      .parquet(withB.map { case (_, vd) =>
        new Path(vd, BloomDir).toString }: _*)
      .filter(col("col").isin(members: _*))
    // partitions whose sidecar covers c prune; the rest keep all files
    val covered: Set[String] = bloom.select("part").distinct()
      .collect().map(r => escape(r.getString(0))).toSet // partition-count-sized
    val (prunable, uncov) = withB.partition { case (name, _) =>
      covered.contains(name) }
    if (prunable.isEmpty) return (Nil, (withoutB ++ uncov).map(_._2))
    var probed = bloom.withColumn("__v", value)
    val hits = (0 until BloomHashes).map { j =>
      probed = probed
        .withColumn(s"__p$j", pmod(xxhash64(col("__v"), lit(j)), col("bits")))
        .withColumn(s"__h$j", expr(
          s"word = __p$j div 64 AND " +
            s"(mask & shiftleft(1L, cast(__p$j % 64 AS int))) != 0"))
      max(when(col(s"__h$j"), 1).otherwise(0)).as(s"__hit$j")
    }
    val dirByName = prunable.map { case (name, vd) => name -> vd.toString }.toMap
    val kept = probed.groupBy("part", "file").agg(hits.head, hits.tail: _*)
      .filter((0 until BloomHashes).map(j => col(s"__hit$j") === 1)
        .reduce(_ && _))
      .select("part", "file").collect() // file-count-sized
      .map(r => s"${dirByName(escape(r.getString(0)))}/${r.getString(1)}")
      .toSeq
    (kept, (withoutB ++ uncov).map(_._2))
  }

  /** Table versions `from` and `to` differ exactly on partitions whose
    * manifest pointers differ — immutable store versions make equal
    * pointers a proof of byte-equality. Returns those partition dir
    * names (added, removed, or repointed). */
  def changedPartitions(spark: SparkSession, dir: String, from: Long, to: Long): Seq[String] = {
    val a = manifest(spark, dir, from)
    val b = manifest(spark, dir, to)
    ((a.keySet ++ b.keySet) -- (a.keySet & b.keySet).filter(k => a(k) == b(k)))
      .toSeq.sorted
  }

  /** Partition-aware change data feed: the [[VersionedTable.changes]]
    * semantics (insert/delete/update[_pre|_post] events, identical
    * rows emit nothing), computed over CHANGED partitions only —
    * untouched partitions are never scanned (their pointers match, so
    * their delta is provably empty). The diff joins on
    * (partition, key), the table's key identity. */
  def changes(
      spark: SparkSession,
      dir: String,
      from: Long,
      to: Long,
      keyCol: String,
      partCol: String,
      preImages: Boolean = false): DataFrame = {
    val a = manifest(spark, dir, from)
    val b = manifest(spark, dir, to)
    val changed = changedPartitions(spark, dir, from, to)
    if (changed.isEmpty) {
      // identical manifests (a no-op commit between the versions): the
      // feed is provably empty — emit it with the table's schema instead
      // of letting the per-side readers trip on an empty mapping
      val donor = if (b.nonEmpty) b else a
      require(donor.nonEmpty,
        s"PartitionedTable.changes: both versions $from and $to are empty " +
          s"tables under $dir — no schema to shape the (empty) feed")
      val t = readMapped(spark, dir, donor).limit(0)
      val payload = t.columns.toSeq.filterNot(c => c == partCol || c == keyCol)
      return t.select(Seq(col(partCol), col(keyCol),
        lit("none").as("op")) ++ payload.map(col): _*)
    }
    def side(m: Map[String, Long], other: Map[String, Long]): DataFrame = {
      val live = changed.filter(m.contains)
      if (live.nonEmpty) readMapped(spark, dir,
        m.filter(kv => live.contains(kv._1)))
      else {
        // no changed partition exists on this side (pure adds/removes):
        // an empty frame with the table schema, taken from the other side
        val donor = readMapped(spark, dir,
          other.filter(kv => changed.contains(kv._1)))
        donor.limit(0)
      }
    }
    VersionedTable.diffFrames(
      side(a, b), side(b, a), Seq(partCol, keyCol), preImages)
  }

  /** Per-partition auto-compaction — [[VersionedTable.autoCompact]]'s
    * flag-then-rewrite lifecycle at partition scope: flag every
    * partition whose pinned version's file count exceeds
    * `smallFileRatio` × its bin-packed ideal, rewrite ONLY flagged
    * partitions (one ranged write job over their union — partitions
    * with more bytes get proportionally more output files), and commit
    * a manifest where unflagged partitions carry their pointers (and
    * files) over untouched. Sidecars are inherited as in
    * [[optimizePartitions]]. Returns the flagged partition dir names
    * (empty = no-op, the probe is #partitions metadata calls). */
  /** BATCH tables only: this commits a manifest at latest+1, which in a
    * [[mergeAt]] stream (manifest version = batch id) would occupy the
    * NEXT batch's id and silently swallow that batch — streams fold
    * with [[compactPartitionsInPlace]] instead, which never mints a
    * version. */
  def compactPartitions(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      smallFileRatio: Double = 2.0,
      partCol: String = "part",
      cluster: Option[Column] = None,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Seq[String] = {
    require(targetBytes > 0 && smallFileRatio >= 1.0,
      s"bad policy: targetBytes=$targetBytes ratio=$smallFileRatio")
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: nothing to compact under $dir"))
    val m = manifest(spark, dir, cur)
    val cloneSrc = cloneSrcOf(spark, dir)
    val flagged = m.toSeq.sortBy(_._1).filter { case (name, sv) =>
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      // DV deltas always fold: compaction is what materializes the
      // tombstone-filtered rows back into plain full files
      dvBaseOf(spark, storeDir, sv).isDefined || {
        val vdir = VersionedStore.path(storeDir, sv).toString
        val (files, bytes) = Compaction.layoutStats(spark, vdir)
        val ideal = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        bytes > 0 && files > smallFileRatio * ideal
      }
    }
    if (flagged.nonEmpty)
      rewritePartitions(spark, dir, m, flagged, cloneSrc, targetBytes,
        partCol, cluster.toSeq, statsCols, bloomCols, bloomBits, "compact")
    flagged.map(_._1)
  }

  /** The streaming-safe per-partition fold: rewrite each flagged
    * partition's PINNED version dir in place (content-identical,
    * behind [[Compaction.compact]]'s crash-safe swap) — no manifest is
    * minted, so [[mergeAt]]'s version-id = batch-id contract is
    * untouched. Single committer/reader (the stream) holds the swap's
    * safety. Stats sidecars survive the fold: a version carrying a
    * `_stats` manifest (or any columns passed via `statsCols`) gets a
    * REGENERATED sidecar staged inside the rewritten layout before the
    * swap — atomic with it, so the sidecar can never describe files
    * that no longer exist (a stale one would silently prune live
    * rows). Pass `cluster` to keep a range-clustered layout (and with
    * it, selective stats) through the fold. Returns the flagged
    * partition dir names. */
  def compactPartitionsInPlace(
      spark: SparkSession,
      dir: String,
      targetBytes: Long,
      smallFileRatio: Double = 2.0,
      statsCols: Seq[String] = Nil,
      cluster: Option[Column] = None): Seq[String] = {
    require(targetBytes > 0 && smallFileRatio >= 1.0,
      s"bad policy: targetBytes=$targetBytes ratio=$smallFileRatio")
    require(cloneSrcOf(spark, dir).isEmpty,
      s"PartitionedTable: in-place folds rewrite INSIDE version dirs, " +
        s"which on a shallow clone may live source-side — use " +
        s"compactPartitions (copy-on-write) on $dir instead")
    val cur = latest(spark, dir).getOrElse(return Nil)
    manifest(spark, dir, cur).toSeq.sortBy(_._1).flatMap { case (name, sv) =>
      val vdirPath = VersionedStore.path(new Path(dir, name).toString, sv)
      val vdir = vdirPath.toString
      val (files, bytes) = Compaction.layoutStats(spark, vdir)
      val ideal = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (bytes > 0 && files > smallFileRatio * ideal) {
        // the rewrite keeps the files' physical column names, so the
        // inherited sidecar columns need no rename mapping
        val (cols, bCols, bBits) = inheritedSidecars(spark, Seq(vdirPath),
          statsCols, Nil, DefaultBloomBits)
        val partValue = ExternalCatalogUtils.unescapePathName(
          name.stripPrefix(s"$PartDir="))
        val stage: Option[Path => Unit] =
          if (cols.isEmpty && bCols.isEmpty) None
          else Some { tmp =>
            if (cols.nonEmpty) writeVersionStats(spark, tmp, cols, partValue)
            if (bCols.nonEmpty) writeVersionBloom(spark, tmp, bCols, bBits, partValue)
          }
        Compaction.compact(spark, vdir, targetBytes, cluster, stage)
        // new files (and `_stats` naming them) under a live path
        bumpSliceEpoch(dir)
        Some(name)
      } else None
    }
  }

  /** OPTIMIZE: recluster the named partitions (default: all live ones)
    * on `cluster` — typically a [[ZOrder]] interleaved key so every
    * `statsCols` dimension's per-file min/max is tight at once — and
    * commit the result as a new table version. This is the INCREMENTAL
    * layout path: at 100 TB nobody rewrites the whole table, so the
    * work is O(selected partitions' bytes) and untouched partitions
    * keep their exact store pointers (the manifest delta logs only the
    * repointed entries). Unlike [[compactPartitions]] it fires
    * unconditionally — the trigger is skipping QUALITY, not small-file
    * pressure. DV-delta partitions fold their tombstones away (the
    * rewrite materializes the anti join). Sidecar geometry is
    * inherited when not re-stated ([[inheritedSidecars]]), so an
    * OPTIMIZE can never silently strip a table's skipping.
    * BATCH tables only (mints latest+1 — same caveat as [[restore]]).
    * Returns the rewritten partition dir names. */
  def optimizePartitions(
      spark: SparkSession,
      dir: String,
      cluster: Column,
      partValues: Option[Seq[String]] = None,
      targetBytes: Long = 128L << 20,
      partCol: String = "part",
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Long = DefaultBloomBits): Seq[String] = {
    require(targetBytes > 0, s"bad policy: targetBytes=$targetBytes")
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: nothing to optimize under $dir"))
    val m = manifest(spark, dir, cur)
    val wanted = partValues.map(_.map(escape).toSet)
    val selected = m.toSeq.sortBy(_._1)
      .filter(kv => wanted.forall(_.contains(kv._1)))
    require(selected.nonEmpty,
      s"PartitionedTable: none of ${partValues.getOrElse(Nil)} exist in " +
        s"table version $cur under $dir")
    rewritePartitions(spark, dir, m, selected, cloneSrcOf(spark, dir),
      targetBytes, partCol, Seq(cluster), statsCols, bloomCols, bloomBits,
      "optimize")
    selected.map(_._1)
  }

  /** The copy-on-write rewrite behind [[compactPartitions]] and
    * [[optimizePartitions]]: read the `chosen` partitions of mapping
    * `m`, range-pack them on the partition column then `cluster` into
    * ~`targetBytes` files, land them with the inherited sidecars and
    * commit `m` with the chosen entries repointed as a new version. */
  private def rewritePartitions(
      spark: SparkSession, dir: String, m: Map[String, Long],
      chosen: Seq[(String, Long)], cloneSrc: Option[String],
      targetBytes: Long, partCol: String, cluster: Seq[Column],
      statsCols: Seq[String], bloomCols: Seq[String], bloomBits: Long,
      operation: String): Unit = {
    // files and sidecars live on the version itself, or on a DV
    // delta's base (deltas size by their base)
    val baseDirs = chosen.map { case (name, sv) =>
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      VersionedStore.path(storeDir, dvBaseOf(spark, storeDir, sv).getOrElse(sv))
    }
    // inherited sidecar columns carry their AT-WRITE names; the rewrite
    // reads the CURRENT (column-mapped) schema, so each name maps
    // through the rename chain (dropped columns fall away, chain
    // members collapse to one current name)
    val edges = colMapOf(spark, dir)
    def current(cs: Seq[String]) = cs.flatMap(resolveName(edges, _)).distinct
    val (stats, bloom, bits) = inheritedSidecars(spark, baseDirs,
      statsCols, bloomCols, bloomBits)
    val totalBytes = baseDirs
      .map(p => Compaction.layoutStats(spark, p.toString)._2).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val shape = col(partCol) +: cluster
    val packed = readMapped(spark, dir, chosen.toMap)
      .repartitionByRange(n, shape: _*)
      .sortWithinPartitions(shape: _*)
    val committed = landPartitions(spark, dir, packed, partCol,
      current(stats), current(bloom), bits)
    commitManifest(spark, dir, m ++ committed,
      Some(metaLine(operation, chosen.size, (m ++ committed).size, "")))
  }

  /** The skipping-sidecar setup a rewrite of the version dirs `vdirs`
    * inherits, so no layout rewrite silently strips a table's file
    * skipping: explicit `statsCols`/`bloomCols` win; otherwise the
    * columns the versions' `_stats` sidecars track, and the bloom
    * columns and width of their `_bloom` sidecars. Inherited names are
    * the AT-WRITE (physical) column names. */
  private def inheritedSidecars(
      spark: SparkSession, vdirs: Seq[Path], statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Long): (Seq[String], Seq[String], Long) = {
    def present(sub: String): Seq[String] = vdirs.map(new Path(_, sub))
      .filter(p => VersionedStore.fs(spark, p.toString).exists(p))
      .map(_.toString)
    val stats =
      if (statsCols.nonEmpty) statsCols
      else present(StatsDir) match {
        case Seq() => Nil
        case ds => readParquet(spark, ds).columns.toSeq
          .collect { case c if c.startsWith("min_") => c.stripPrefix("min_") }
          .sorted
      }
    val (bloom, bits) =
      if (bloomCols.nonEmpty) (bloomCols, bloomBits)
      else present(BloomDir) match {
        case Seq() => (Nil, DefaultBloomBits)
        case ds =>
          val b = spark.read.schema(BloomSidecarSchema).parquet(ds: _*)
          val cs = b.select("col").distinct()
            .collect().map(_.getString(0)).toSeq.sorted // tracked-column-count-sized
          if (cs.isEmpty) (Nil, DefaultBloomBits)
          else (cs, b.agg(max("bits")).head.getLong(0))
      }
    (stats, bloom, bits)
  }

  /** Stage a partition-version `_stats` sidecar (the [[landPartitions]]
    * schema: part, file, min/max per column) over the data files in
    * `tmp` — called inside [[Compaction.compact]]'s pre-swap hook so
    * the sidecar commits atomically with the layout it describes. */
  private def writeVersionStats(
      spark: SparkSession, tmp: Path, statsCols: Seq[String],
      partValue: String): Unit = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(tmp.toString)
      .groupBy(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("part", lit(partValue))
      .coalesce(1)
      .write.parquet(new Path(tmp, StatsDir).toString)
  }

  /** Stage a partition-version `_bloom` sidecar over the data files in
    * `tmp` — the [[writeVersionStats]] analogue for the point-lookup
    * skip level, run inside the pre-swap hook so a compacted layout
    * can never carry a sidecar describing files it replaced. */
  private def writeVersionBloom(
      spark: SparkSession, tmp: Path, bloomCols: Seq[String],
      bloomBits: Long, partValue: String): Unit = {
    spark.read.parquet(tmp.toString)
      .select(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
        explode(bloomProbes(bloomCols, bloomBits)).as("pr"))
      .select(col("file"), col("pr.col").as("col"),
        expr("pr.p div 64").as("word"),
        expr("shiftleft(1L, cast(pr.p % 64 as int))").as("m1"))
      .groupBy("file", "col", "word")
      .agg(expr("bit_or(m1)").as("mask"))
      .withColumn("bits", lit(bloomBits))
      .withColumn("part", lit(partValue))
      .coalesce(1)
      .write.parquet(new Path(tmp, BloomDir).toString)
  }

  /** Drop all but the newest `keep` manifests, then garbage-collect
    * every per-partition store version no kept manifest references —
    * including orphans from crashed merges (landed but never
    * manifested) and partitions that dropped out entirely. Returns
    * (prunedManifests, prunedStoreVersions). Single-committer
    * maintenance: run it from the committer (an in-flight merge's
    * freshly-landed, not-yet-manifested versions look exactly like
    * orphans to anyone else). */
  /** WALL-CLOCK retention — the `VACUUM ... RETAIN n HOURS` operators
    * actually run, on the version-count [[vacuum]] substrate: drop every
    * manifest whose commit stamp (the same header `ts` TIMESTAMP AS OF
    * resolves through) is older than `retain` before `now`, always
    * keeping the newest version (a table must stay readable even when
    * the whole log is stale). Time travel and change-feed offsets below
    * the resolved horizon fail loud afterwards — exactly the vacuumed-
    * version contract. `now` is injectable for deterministic specs;
    * stamps are commit-monotone (one writer wins each slot, stamping at
    * commit), so "newer than the horizon" is always a suffix of the
    * log and the count maps exactly onto [[vacuum]]'s keep-newest. */
  def vacuumRetain(
      spark: SparkSession, dir: String,
      retain: java.time.Duration,
      now: Long = System.currentTimeMillis,
      dryRun: Boolean = false): (Seq[Long], Int) = {
    require(!retain.isNegative,
      s"vacuumRetain: retention must be >= 0, got $retain")
    val vs = versions(spark, dir).sorted
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val horizon = now - retain.toMillis
    val keep = math.max(1, vs.count(v => commitTimeOf(spark, dir, v) >= horizon))
    vacuum(spark, dir, keep, dryRun)
  }

  /** `dryRun` answers "what WOULD go" — the same (dropped manifests,
    * orphan store count) the destructive pass returns, computed from
    * the same reference set, with zero mutations (no checkpoint
    * materialization, no deletes). The ops pre-flight every vacuum at
    * scale deserves. */
  def vacuum(
      spark: SparkSession, dir: String, keep: Int,
      dryRun: Boolean = false): (Seq[Long], Int) = {
    require(keep >= 1, s"vacuum must keep >= 1 manifest, got $keep")
    val hfs = VersionedStore.fs(spark, dir)
    val vs = versions(spark, dir).sorted
    val dropped = vs.dropRight(keep)
    val kept = vs.takeRight(keep)
    // a referenced DV delta pins its BASE too — the delta is just
    // tombstones over the base's files
    val cloneSrc = cloneSrcOf(spark, dir)
    val referenced: Set[(String, Long)] = kept.flatMap(v =>
      manifest(spark, dir, v).toSeq.flatMap { case (name, sv) =>
        (name, sv) :: dvBaseOf(spark,
          storeDirOf(spark, dir, cloneSrc, name, sv), sv)
          .map(b => (name, b)).toList
      }).toSet
    if (dryRun) {
      val partDirs = hfs.listStatus(new Path(dir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartDir="))
      val orphans = partDirs.map { p =>
        VersionedStore.versions(spark, p.getPath.toString)
          .count(sv => !referenced.contains((p.getPath.getName, sv)))
      }.sum
      return (dropped, orphans)
    }
    // before any log file goes: the oldest KEPT version must survive as
    // a self-contained checkpoint (its reconstruction chain is about to
    // lose its prefix). Materialize it — same mapping, original history
    // header — then retire its delta form.
    kept.headOption.foreach { k =>
      if (!hfs.exists(manifestPath(dir, k))) {
        val m = manifest(spark, dir, k)
        val header = headerLineOf(spark, dir, k)
        val tmp = new Path(new Path(dir, ManifestDir),
          s".tmp-cp-$k-${java.util.UUID.randomUUID}")
        val out = hfs.create(tmp, true)
        try out.write((header.toSeq ++ m.toSeq.sortBy(_._1)
          .map { case (n, sv) => s"$sv\t$n" }).mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!hfs.rename(tmp, manifestPath(dir, k)))
          throw new java.io.IOException(
            s"PartitionedTable: checkpoint materialization for v=$k failed")
        hfs.delete(deltaPath(dir, k), false)
      }
    }
    dropped.foreach { v =>
      hfs.delete(manifestPath(dir, v), false)
      hfs.delete(deltaPath(dir, v), false): Unit
    }
    val partDirs = hfs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartDir="))
    var prunedStores = 0
    partDirs.foreach { p =>
      val name = p.getPath.getName
      val storeDir = p.getPath.toString
      VersionedStore.versions(spark, storeDir).foreach { sv =>
        if (!referenced.contains((name, sv))) {
          VersionedStore.prune(spark, storeDir, Seq(sv))
          prunedStores += 1
        }
      }
      if (hfs.listStatus(p.getPath).isEmpty) hfs.delete(p.getPath, true): Unit
    }
    // GC analyze-sketch sidecars of pruned (partition, store version)
    // pairs — content-addressed like the slices, collected like them
    val sideRoot = new Path(dir, AnalyzeDir)
    if (hfs.exists(sideRoot)) hfs.listStatus(sideRoot).foreach { s =>
      val n = s.getPath.getName
      val at = n.lastIndexOf('@')
      if (n.endsWith(".properties") && at > 0) {
        val name = n.substring(0, at)
        val sv = n.substring(at + 1).stripSuffix(".properties").toLongOption
        if (sv.exists(x => !referenced.contains((name, x))))
          hfs.delete(s.getPath, false): Unit
      }
    }
    // vacuum deletes version dirs whose batch=N paths a later write can
    // re-mint — drop this JVM's cached slice metadata for the dir
    bumpSliceEpoch(dir)
    (dropped, prunedStores)
  }

  // ---------------------------------------------------------------------
  // Shallow clone: a new table whose manifest POINTS AT the source's
  // partition stores — zero data movement at clone time (the Delta
  // SHALLOW CLONE semantic: cost is manifest bytes, never table bytes,
  // which is the only clone anyone can afford at 100 TB). Writes to the
  // clone are copy-on-write: a merge lands NEW store versions under the
  // clone's own dir and only the touched partitions materialize — the
  // source is never written, and the clone keeps reading untouched
  // partitions from the source. The source must stay reachable at its
  // recorded path, and vacuuming the source below the cloned version
  // breaks the clone (the documented shallow-clone contract).
  // ---------------------------------------------------------------------

  private val CloneFile = "_clone"
  private def clonePath(dir: String): Path =
    new Path(new Path(dir, ManifestDir), CloneFile)

  /** The clone's recorded source table dir, if `dir` was created
    * through [[cloneTable]]. */
  def cloneSrcOf(spark: SparkSession, dir: String): Option[String] = {
    val hfs = VersionedStore.fs(spark, dir)
    val p = clonePath(dir)
    if (!hfs.exists(p)) None else Some(readManifestFile(hfs, p).trim)
  }

  /** The store dir that CONTAINS version `sv` of partition `name`:
    * the table's own dir when it does (copy-on-write versions, and
    * every version of a non-clone), else the clone source's. Sound
    * because committed store-version dirs are immutable and
    * [[landStoreVersion]] floors the clone's local numbering above the
    * source's, so a (name, sv) pair resolves to exactly one dir ever.
    *
    * The multi-partition read paths pass a pre-resolved `cloneSrc`
    * (ONE `_clone` probe per operation), so a non-clone table pays
    * ZERO extra metadata RPCs per partition — only an actual clone
    * pays the per-partition local-existence probe, which is what
    * distinguishes its COW stores from source ones. */
  private def storeDirOf(
      spark: SparkSession, dir: String, name: String, sv: Long): String =
    storeDirOf(spark, dir, cloneSrcOf(spark, dir), name, sv)

  private def storeDirOf(
      spark: SparkSession, dir: String, cloneSrc: Option[String],
      name: String, sv: Long): String = {
    val local = new Path(dir, name).toString
    cloneSrc match {
      case None => local
      case Some(src) =>
        val hfs = VersionedStore.fs(spark, dir)
        if (hfs.exists(VersionedStore.path(local, sv))) local
        else new Path(src, name).toString
    }
  }

  /** Shallow-clone `srcDir`'s table state (`asOf`, default newest) into
    * empty `dstDir`: commits the source's partition mapping as the
    * clone's manifest v0 plus a `_clone` pointer — pure metadata, zero
    * data movement. The generated level spec (if any, N >= 1 levels)
    * and each level's evolution chain carry over, so generated routing
    * and [[readWhereSrcLevels]] keep working on the clone.
    * Merge-on-read deltas clone fine: a pinned delta and its base live
    * in the SAME source store dir, and per-version resolution sends
    * both source-side until the clone's own copy-on-write rewrite
    * repoints the partition (the clone never lands deltas of its own —
    * a local delta would name a source-side base). Refused: cloning a
    * clone (resolution is one level deep by design — re-clone the
    * original). Source and clone must share a filesystem (path
    * resolution, not data copy). Returns the clone's manifest
    * version 0. */
  def cloneTable(
      spark: SparkSession, srcDir: String, dstDir: String,
      asOf: Option[Long] = None, at: String = ""): Long = {
    val vs = versions(spark, srcDir)
    require(vs.nonEmpty, s"PartitionedTable: nothing to clone under $srcDir")
    require(cloneSrcOf(spark, srcDir).isEmpty,
      s"PartitionedTable: $srcDir is itself a shallow clone — clone its " +
        s"original (${cloneSrcOf(spark, srcDir).get}) instead")
    val v = asOf.getOrElse(vs.max)
    require(vs.contains(v),
      s"PartitionedTable: version $v not committed under $srcDir")
    val m = manifest(spark, srcDir, v)
    require(m.nonEmpty, s"PartitionedTable: refusing to clone empty version $v")
    require(versions(spark, dstDir).isEmpty,
      s"PartitionedTable: clone target $dstDir is not empty")
    val hfs = VersionedStore.fs(spark, dstDir)
    hfs.mkdirs(new Path(dstDir, ManifestDir))
    val tmp = new Path(new Path(dstDir, ManifestDir),
      s".tmp-clone-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(srcDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(hfs.rename(tmp, clonePath(dstDir)),
      s"PartitionedTable: clone pointer commit failed under $dstDir")
    // the level spec and each level's evolution chain carry over as
    // verbatim file copies, so a clone of an evolved table attributes
    // inherited partitions, derives and prunes exactly like its source
    locally {
      val srcFs = VersionedStore.fs(spark, srcDir)
      val srcMd = new Path(srcDir, ManifestDir)
      if (srcFs.exists(srcMd)) {
        srcFs.listStatus(srcMd).toSeq.map(_.getPath).filter { p =>
          p.getName == LevelsGenFile ||
            p.getName.startsWith(LevelsEvolvePrefix)
        }.foreach { p =>
          val bytes = readManifestFile(srcFs, p)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val out = hfs.create(new Path(new Path(dstDir, ManifestDir),
            p.getName), true)
          try out.write(bytes) finally out.close()
        }
      }
    }
    constraintsOf(spark, srcDir) match {
      case Nil => ()
      case cs => writeConstraints(spark, dstDir, cs) // invariants carry over
    }
    colMapOf(spark, srcDir) match {
      case Nil => ()
      case es => writeColMap(spark, dstDir, es) // renames resolve identically
    }
    commitManifest(spark, dstDir, m,
      Some(metaLine("clone", 0, m.size, at)))
  }

  // ---------------------------------------------------------------------
  // Generated partition columns: partition by a MONOTONE truncation of a
  // data column, declared once; readers prune partitions from predicates
  // on the SOURCE column. At 100 TB this is the pruning users actually
  // get to write — nobody queries WHERE part_month = '1996-01', they
  // query WHERE o_orderdate BETWEEN ... and the engine owns the mapping
  // (the Delta generated-column partition-pruning semantic).
  // ---------------------------------------------------------------------

  /** A generation rule: `expr` renders the partition value in Spark,
    * `ofLiteral` applies the SAME truncation to a driver-side literal.
    * Every rule is monotone non-decreasing in lexicographic order
    * (zero-padded ISO date renderings keep lexicographic ==
    * chronological), which is exactly what makes source-range →
    * partition-range mapping sound: src ∈ [lo, hi] ⇒ gen(src) ∈
    * [gen(lo), gen(hi)]. */
  sealed abstract class PartGen(val name: String) {
    def expr(src: Column): Column
    def ofLiteral(v: String): String
    /** The rule's FIXED rendered width (characters), when it has one.
      * Spec evolution attributes each existing partition value to the
      * unique epoch whose width matches — so only fixed-width rules
      * with pairwise-distinct widths may share a table's history. */
    def renderLen: Option[Int] = None
  }
  object PartGen {
    /** yyyy of a date/timestamp column. */
    case object Year extends PartGen("year") {
      def expr(src: Column): Column = date_format(src, "yyyy")
      def ofLiteral(v: String): String = v.take(4)
      override def renderLen: Option[Int] = Some(4)
    }
    /** yyyy-MM of a date/timestamp column. */
    case object Month extends PartGen("month") {
      def expr(src: Column): Column = date_format(src, "yyyy-MM")
      def ofLiteral(v: String): String = v.take(7)
      override def renderLen: Option[Int] = Some(7)
    }
    /** yyyy-MM-dd of a date/timestamp column. */
    case object Day extends PartGen("day") {
      def expr(src: Column): Column = date_format(src, "yyyy-MM-dd")
      def ofLiteral(v: String): String = v.take(10)
      override def renderLen: Option[Int] = Some(10)
    }
    /** First `n` CODEPOINTS of a string column (matching Spark's
      * `substring`, which counts code points — a UTF-16 `take` would
      * split surrogate pairs differently). Truncation is monotone in
      * UTF-8 binary order, so range mapping stays sound. */
    final case class Prefix(n: Int) extends PartGen(s"prefix$n") {
      require(n >= 1, s"PartGen.Prefix needs n >= 1, got $n")
      def expr(src: Column): Column = substring(src, 1, n)
      def ofLiteral(v: String): String = {
        val it = v.codePoints().iterator()
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < n && it.hasNext) { sb.appendCodePoint(it.next()); i += 1 }
        sb.toString
      }
    }
    def parse(s: String): PartGen = s match {
      case "year" => Year
      case "month" => Month
      case "day" => Day
      case p if p.startsWith("prefix") => Prefix(p.stripPrefix("prefix").toInt)
      case other => throw new IllegalArgumentException(
        s"PartitionedTable: unknown partition generation rule '$other'")
    }
  }

  /** a <= b in UTF-8 BINARY order — the order Spark's string
    * comparisons (and so every residual predicate) use. Java's String
    * ordering is UTF-16 and disagrees for supplementary characters,
    * which would silently drop a matching partition from a
    * driver-side range filter. */
  private def utf8Le(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }

  /** The epoch rule that rendered partition value `p` — unique by
    * [[evolveGenLevel]]'s width validation; single-epoch levels skip
    * attribution entirely. */
  private def epochRuleOf(epochs: Seq[PartGen], p: String): PartGen =
    if (epochs.size <= 1) epochs.head
    else epochs.find(_.renderLen.contains(p.length)).getOrElse(
      throw new IllegalStateException(
        s"PartitionedTable: partition value '$p' (${p.length} chars) " +
          s"matches no declared rule epoch " +
          s"(${epochs.map(g => s"${g.name}=${g.renderLen.getOrElse("?")}ch").mkString(", ")})"))

  /** DDL leg of the generated-partition machinery: declare a level spec
    * on an EMPTY ([[createEmpty]]) table, so the FIRST write already
    * derives the partition column(s) and every read prunes from
    * source-column predicates — `CREATE TABLE ... PARTITIONED BY
    * (months(ts))` (one level) or `(truncate(status, 1), months(ts))`
    * (two) binds here. */
  def declareGeneratedLevels(
      spark: SparkSession, dir: String, levels: Seq[GenLevel]): Unit = {
    require(levels.nonEmpty, "declareGeneratedLevels: need >= 1 level")
    require(levels.map(_.name).distinct.size == levels.size,
      s"declareGeneratedLevels: duplicate level names in ${levels.map(_.name)}")
    declareGenLevels(spark, dir, levels)
  }

  // ---------------------------------------------------------------------
  // Level specs: a generated table partitions by N >= 1 generated levels
  // (the reference's bronze layout is year/month/day,
  // ingestToBronze.py:79-84; Iceberg calls this a partition spec; the
  // warehouse fact is the N = 1 case, flight month). The substrate keeps
  // ONE partition column: a one-level spec partitions by the level's own
  // column, and N >= 2 levels by a composite column whose value is
  // the '/'-joined level rendering ([[partColOf]] owns that decision) —
  // so every existing mechanism (merges, DVs, clones, retention,
  // history) works on generated tables unchanged, while reads prune the
  // manifest PER LEVEL: a source-range predicate on any level's source
  // column keeps only partitions whose rendering at that level is in
  // range, and predicates on several levels compose by intersection. At
  // 100 TB pruning is a driver-side pass over manifest KEYS (never a
  // listing), then stats sidecars prune files within surviving
  // partitions.
  // ---------------------------------------------------------------------

  /** One level of a level spec: `name` = gen(srcCol). */
  final case class GenLevel(srcCol: String, gen: PartGen, name: String)

  /** The derived composite partition column's name (specs of N >= 2
    * levels). */
  val LevelsPartName = "part_levels"

  /** The physical partition column of a level spec: a one-level spec
    * partitions by the level's own column (no composite is written),
    * N >= 2 levels by the '/'-joined [[LevelsPartName]] composite. */
  private[graft] def partColOf(levels: Seq[GenLevel]): String =
    if (levels.size == 1) levels.head.name else LevelsPartName

  /** Every column a level spec derives on write: the level columns and
    * the partition column. */
  private[graft] def derivedColsOf(levels: Seq[GenLevel]): Set[String] =
    levels.map(_.name).toSet + partColOf(levels)

  /** The partition value's per-level segments. One level's whole value
    * is its segment (a prefix rendering may contain '/'); composites
    * never do (refused at write). */
  private def segmentsOf(levels: Seq[GenLevel], p: String): Array[String] =
    p.split("/", levels.length)

  private val LevelsGenFile = "_gen_levels"
  private def levelsGenPath(dir: String): Path =
    new Path(new Path(dir, ManifestDir), LevelsGenFile)

  /** The table's BASE level spec (epoch 0), if created via
    * [[commitLevels]] — before any [[evolveGenLevel]]. */
  private def genLevelsBaseOf(
      spark: SparkSession, dir: String): Option[Seq[GenLevel]] = {
    val hfs = VersionedStore.fs(spark, dir)
    val p = levelsGenPath(dir)
    if (!hfs.exists(p)) None
    else Some(readManifestFile(hfs, p).trim.split("\n").toSeq.map { line =>
      val Array(src, g, name) = line.split("\t", 3)
      GenLevel(src, PartGen.parse(g), name)
    })
  }

  // per-level spec evolution: `_gen_levels.evolve.N` files (N >= 1),
  // each naming (level, new rule); the base `_gen_levels` file is epoch
  // 0 of every level and never rewritten, so the chain is append-only
  // (one chain shared across levels) and a crash mid-evolve leaves the
  // prior epoch current (the constraint-catalog pattern)
  private val LevelsEvolvePrefix = "_gen_levels.evolve."

  private def levelEvolutions(
      spark: SparkSession, dir: String): Seq[(Long, String, PartGen)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    if (!hfs.exists(md)) Nil
    else hfs.listStatus(md).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(LevelsEvolvePrefix))
      .flatMap { p =>
        p.getName.stripPrefix(LevelsEvolvePrefix).toLongOption.map { n =>
          val Array(lvl, g) = readManifestFile(hfs, p).trim.split("\t", 2)
          (n, lvl, PartGen.parse(g))
        }
      }.sortBy(_._1)
  }

  /** The table's declared level spec with each level's CURRENT rule
    * (after any [[evolveGenLevel]]) — what every subsequent write
    * derives with, if created via [[commitLevels]]. */
  def generatedLevelsOf(
      spark: SparkSession, dir: String): Option[Seq[GenLevel]] =
    genLevelsBaseOf(spark, dir).map { base =>
      levelEvolutions(spark, dir).foldLeft(base) { case (ls, (_, lvl, g)) =>
        ls.map(l => if (l.name == lvl) l.copy(gen = g) else l)
      }
    }

  /** Per-level rule epoch chains, oldest first (size 1 = that level
    * never evolved). Same order as the declared spec. */
  def levelEpochsOf(
      spark: SparkSession, dir: String): Option[Seq[Seq[PartGen]]] =
    genLevelsBaseOf(spark, dir).map { base =>
      levelEvolutions(spark, dir).foldLeft(base.map(l => Seq(l.gen))) {
        case (chains, (_, lvl, g)) =>
          base.indices.map(i =>
            if (base(i).name == lvl) chains(i) :+ g else chains(i))
      }
    }

  /** SPEC EVOLUTION on ONE level (the Iceberg semantic) — e.g. the
    * reference's bronze `year/month/day` layout evolved to a finer or
    * coarser granularity at one level, zero data movement: existing
    * partitions keep their old-rule segment, subsequent writes derive
    * the level with the new rule, and every source-range read
    * ([[readWhereSrcLevels]], [[expirePartitions]]) attributes each
    * partition's SEGMENT to its own epoch before range-mapping, so
    * pruning composes across the boundary. The evolution is one
    * appended metadata file.
    *
    * Attribution needs to be unambiguous, so the level's epoch chain
    * must be fixed-width rules with pairwise-distinct widths
    * (year/month/day are; a prefix rule is not) — refused loud
    * otherwise. KEYED merges against a clashing pre-evolution partition
    * are refused by [[mergeLevels]]; evolution targets append-shaped
    * tables, the reference's bronze ingest layout. */
  def evolveGenLevel(
      spark: SparkSession, dir: String, levelName: String,
      newGen: PartGen): Unit = {
    val levels = generatedLevelsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no level spec declared under $dir — " +
          "only level-partitioned tables can evolve a level"))
    val idx = levels.indexWhere(_.name == levelName)
    require(idx >= 0,
      s"PartitionedTable: no level named '$levelName' under $dir " +
        s"(have ${levels.map(_.name).mkString(", ")})")
    require(newGen != levels(idx).gen,
      s"PartitionedTable: level $levelName of $dir already partitions " +
        s"by ${newGen.name}")
    val chain = levelEpochsOf(spark, dir).get.apply(idx) :+ newGen
    val lens = chain.map(_.renderLen)
    require(lens.forall(_.isDefined) && lens.distinct.size == lens.size,
      s"PartitionedTable: spec evolution needs fixed-width rules with " +
        s"pairwise-distinct widths so every partition attributes to exactly " +
        s"one epoch; level $levelName would chain " +
        s"${chain.map(g => s"${g.name}=${g.renderLen.getOrElse("?")}ch").mkString(", ")}")
    val hfs = VersionedStore.fs(spark, dir)
    val next = levelEvolutions(spark, dir).map(_._1).maxOption.getOrElse(0L) + 1
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-evolve-lv-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(s"$levelName\t${newGen.name}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(new Path(dir, ManifestDir), s"$LevelsEvolvePrefix$next")
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: level-spec evolution commit failed under $dir " +
          "(concurrent evolve?)")
    }
  }

  /** Declare (write-once, atomic) or verify the level spec. A second
    * declaration must MATCH — silently repartitioning an existing table
    * under a different spec would make every prior partition value a
    * lie to [[readWhereSrcLevels]]. */
  private def declareGenLevels(
      spark: SparkSession, dir: String, levels: Seq[GenLevel]): Unit = {
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val p = levelsGenPath(dir)
    if (!hfs.exists(p)) {
      val tmp = new Path(new Path(dir, ManifestDir),
        s".tmp-genlv-${java.util.UUID.randomUUID}")
      val out = hfs.create(tmp, true)
      try out.write(levels.map(l => s"${l.srcCol}\t${l.gen.name}\t${l.name}")
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!hfs.rename(tmp, p)) hfs.delete(tmp, true): Unit // racer won: verify
    }
    val declared = generatedLevelsOf(spark, dir).getOrElse(
      throw new java.io.IOException(
        s"PartitionedTable: level-spec declaration failed under $dir"))
    require(declared == levels,
      s"PartitionedTable: table under $dir is partitioned by " +
        s"${declared.map(l => s"${l.name}=${l.gen.name}(${l.srcCol})").mkString("/")}; " +
        s"refusing conflicting ${levels.map(l => s"${l.name}=${l.gen.name}(${l.srcCol})").mkString("/")}")
  }

  /** Level columns + the partition column ([[withComposite]]). */
  private def withLevelCols(df: DataFrame, levels: Seq[GenLevel]): DataFrame =
    withComposite(levels.foldLeft(df)((d, l) =>
      d.withColumn(l.name, l.gen.expr(col(l.srcCol)))), levels)

  /** The partition column over ALREADY-PRESENT level columns — split
    * out so the SQL write path can derive-and-VALIDATE each level column
    * first (its check expressions survive into the composite; a
    * re-derivation here would silently replace them). A one-level spec
    * partitions by the level column itself: nothing to add. For N >= 2,
    * a '/' INSIDE a rendered level would make the composite ambiguous to
    * decompose — refused loud at write (date/prefix renderings never
    * produce one from sane data). A null level (a null source value)
    * nulls the partition value, riding [[commit]]'s existing
    * null-partition-drop contract. */
  private[graft] def withComposite(df: DataFrame, levels: Seq[GenLevel]): DataFrame = {
    if (levels.size == 1) return df
    val guarded = levels.map { l =>
      when(col(l.name).contains("/"), raise_error(concat(
        lit(s"PartitionedTable: level ${l.name} rendered a '/' (value "),
        col(l.name), lit(") — composite partition values must not "))))
        .otherwise(col(l.name))
    }
    val anyNull = levels.map(l => col(l.name).isNull).reduce(_ || _)
    df.withColumn(LevelsPartName,
      when(anyNull, lit(null)).otherwise(concat_ws("/", guarded: _*)))
  }

  /** [[commit]] with a generated partition spec of N >= 1 levels:
    * derives every level column (kept in the data, the Delta
    * generated-column convention) and the partition column, and records
    * the spec so [[readWhereSrcLevels]] / [[mergeLevels]] can own the
    * mapping. Rows with a NULL source value have a NULL partition value
    * and are dropped by [[commit]]'s existing contract — route them
    * through an expectations quarantine upstream if they must not be
    * lost. */
  def commitLevels(
      spark: SparkSession, dir: String, df: DataFrame, levels: Seq[GenLevel],
      statsCols: Seq[String] = Nil, at: String = "",
      bloomCols: Seq[String] = Nil, bloomBits: Long = DefaultBloomBits): Long = {
    require(levels.nonEmpty, "commitLevels: need at least one level")
    require(levels.map(_.name).distinct.size == levels.size,
      s"commitLevels: duplicate level names in ${levels.map(_.name)}")
    declareGenLevels(spark, dir, levels)
    commit(spark, dir, withLevelCols(df, levels), partColOf(levels),
      statsCols, at, bloomCols, bloomBits)
  }

  /** [[merge]] into a generated table: every level (and the partition
    * column) derives from the declared spec, so CDC producers ship only
    * source columns and can never route a row to a partition its source
    * value contradicts. */
  def mergeLevels(
      spark: SparkSession, dir: String, changes: DataFrame, keyCol: String,
      opCol: String = "op", statsCols: Seq[String] = Nil,
      allowSchemaEvolution: Boolean = false, at: String = "",
      bloomCols: Seq[String] = Nil, bloomBits: Long = DefaultBloomBits,
      sinceVersion: Option[Long] = None): Long = {
    val levels = generatedLevelsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no level spec declared under $dir — " +
          "use merge() with an explicit partition column"))
    guardLevelShadow(spark, dir, changes)
    merge(spark, dir, withLevelCols(changes, levels), keyCol, partColOf(levels),
      opCol, statsCols, allowSchemaEvolution, at,
      bloomCols = bloomCols, bloomBits = bloomBits,
      sinceVersion = sinceVersion)
  }

  /** Spec-evolution guard for KEYED writes into a generated table —
    * shared by [[mergeLevels]] and the streaming sink's upsert leg: key
    * identity is (partition, key), and the write derives every level
    * with its CURRENT rule, so a change row whose key still lives in a
    * partition rendered under ANY pre-evolution epoch mix would land as
    * a duplicate next to the stale row instead of replacing it.
    * Candidate partition values = the cross product of per-level epoch
    * renderings minus the all-current one — a handful of batch-sized
    * distinct jobs (epoch chains are short by construction); a NO-OP on
    * never-evolved and non-generated tables. Migrate clashing
    * partitions to the current spec first (overwrite/compact them), or
    * merge with an explicit partition column. `changes` must carry the
    * levels' SOURCE columns. */
  private[graft] def guardLevelShadow(
      spark: SparkSession, dir: String, changes: DataFrame): Unit = {
    val levels = generatedLevelsOf(spark, dir).getOrElse(return)
    val chains = levelEpochsOf(spark, dir).get
    if (!chains.exists(_.size > 1)) return
    val liveVals = partitionValues(spark, dir).toSet
    val combos = chains.indices.foldLeft(Seq(Seq.empty[PartGen])) {
      (acc, i) => acc.flatMap(pre => chains(i).map(pre :+ _))
    }.filterNot(_ == chains.map(_.last)) // all-current derives fresh
    combos.foreach { combo =>
      val comp = concat_ws("/", levels.indices.map(i =>
        combo(i).expr(col(levels(i).srcCol))): _*)
      val clash = changes.select(comp.as("p")).distinct()
        .collect().map(_.getString(0))
        .filter(p => p != null && liveVals.contains(p))
      require(clash.isEmpty,
        s"PartitionedTable: keyed merge into evolved table $dir " +
          s"would shadow pre-evolution partition(s) " +
          s"${clash.sorted.mkString(", ")} (epochs " +
          s"${combo.map(_.name).mkString("/")}) — migrate them to the " +
          "current spec before keyed merges, or merge with an explicit " +
          "partition column")
    }
  }

  /** The manifest-level half of [[readWhereSrcLevels]]: live partition
    * values of table version `asOf` (default newest) surviving
    * source-column RANGE probes — each partition's segment range-maps
    * under ITS OWN epoch's rule at its level (a month segment tested
    * against a day-rule bound would prune boundary months that still
    * hold in-range days); never-evolved levels take the one-rule path,
    * and levels whose source column is not probed are unconstrained.
    * Exposed so a runtime (join-driven) prune can INTERSECT its
    * dim-key combinations with the query's own range predicates — the
    * status-filtered calendar star prunes on BOTH axes at the
    * manifest. Driver-side metadata only. */
  def partitionsForSourceRangesLevels(
      spark: SparkSession, dir: String, preds: Seq[(String, String, String)],
      asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val levels = generatedLevelsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no level spec declared under $dir — " +
          "source-range partition mapping needs one"))
    val chains = levelEpochsOf(spark, dir).get
    manifest(spark, dir, asOf.getOrElse(vs.max)).keysIterator
      .map(n => ExternalCatalogUtils.unescapePathName(
        n.stripPrefix(s"$PartDir=")))
      .filter { comp =>
        val parts = segmentsOf(levels, comp)
        parts.length == levels.length && levels.indices.forall { i =>
          preds.filter(_._1 == levels(i).srcCol).forall { case (_, lo, hi) =>
            val g = epochRuleOf(chains(i), parts(i))
            utf8Le(g.ofLiteral(lo), parts(i)) && utf8Le(parts(i), g.ofLiteral(hi))
          }
        }
      }.toSeq.sorted
  }

  /** Source-column range probes over a generated table: ISO-rendered
    * `(col, lo, hi)` literals. Each probe on a level's source column
    * prunes AT ITS LEVEL(S) — a partition survives only if every level
    * whose source column is probed renders inside the mapped range —
    * and the levels' constraints intersect. The survivors then ride
    * [[readWhereAll]]: stats sidecars prune files within them and the
    * full residual conjunction (every probe, level or not) keeps the
    * result exact at any pruning coarseness. Zero in-range partitions
    * fold to an empty scan. */
  def readWhereSrcLevels(
      spark: SparkSession, dir: String, preds: Seq[(String, String, String)],
      asOf: Option[Long] = None): DataFrame = {
    require(preds.nonEmpty, "readWhereSrcLevels: need at least one (col, lo, hi)")
    preds.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"readWhereSrcLevels: $c lo '$lo' must be <= hi '$hi'") }
    val levels = generatedLevelsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no level spec declared under $dir — " +
          "use readWhere/readWhereAll with explicit partValues"))
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    val m = manifest(spark, dir, v)
    require(m.nonEmpty, s"PartitionedTable: table version $v is empty under $dir")
    val live = partitionsForSourceRangesLevels(spark, dir, preds, Some(v))
    // pred-column stored types from donor footers, tried LAZILY across
    // live slices (the readEq protocol — an alphabetically-first donor
    // may predate a schema evolution that added a probed stats column).
    // A column NO live footer carries yet reads its ADD COLUMN DEFAULT
    // when one is declared: it casts to the declared type, and its
    // predicate stays a residual over readWhereAll's default-filling
    // read (no sidecar tracks it, so it never stats-prunes). Any other
    // such column holds NULL in every row by construction, and NULL
    // never satisfies a closed range — the read folds to an empty,
    // correctly-schemed frame rather than throwing.
    val cloneSrc = cloneSrcOf(spark, dir)
    val types = donorTypesOf(spark, dir, m, cloneSrc, preds.map(_._1))
    lazy val defaulted = addedColumnsWithDefaultsResolved(spark, dir)
      .collect { case (n, dt, Some(_)) => n -> dt }.toMap
    val casted = preds.flatMap { case (c, lo, hi) =>
      types(c).orElse(defaulted.get(c))
        .map(t => (c, lit(lo).cast(t), lit(hi).cast(t)))
    }
    if (live.isEmpty || casted.size < preds.size) {
      val base = read(spark, dir, Some(v)).filter(lit(false))
      val pred = casted.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
        .reduceOption(_ && _)
      pred.map(base.filter).getOrElse(base)
    } else readWhereAll(spark, dir, casted, partValues = Some(live), asOf = Some(v))
  }

  /** Stored [[org.apache.spark.sql.types.DataType]] of each `cols`
    * entry (a CURRENT logical name: a footer written before a rename
    * donates under any member of the name's rename chain), resolved by
    * trying live slices' footers LAZILY in partition order until every
    * column is found (one footer read in the common case) — the readEq
    * donor protocol: after schema evolution an arbitrary single donor
    * may lack a column other partitions carry. Columns absent from
    * EVERY live footer resolve to None (callers decide — see
    * [[readWhereSrcLevels]]). */
  private def donorTypesOf(
      spark: SparkSession, dir: String, m: Map[String, Long],
      cloneSrc: Option[String],
      cols: Seq[String]): Map[String, Option[DataType]] = {
    val edges = colMapOf(spark, dir)
    val members = cols.map(c => c -> chainMembersOf(edges, c).toSet).toMap
    val found = scala.collection.mutable.Map.empty[String, DataType]
    val it = m.toSeq.sortBy(_._1).iterator
    while (found.size < cols.distinct.size && it.hasNext) {
      val (name, sv) = it.next()
      val storeDir = storeDirOf(spark, dir, cloneSrc, name, sv)
      val vd = VersionedStore.path(storeDir,
        dvBaseOf(spark, storeDir, sv).getOrElse(sv))
      // cached footer schema (readParquet): repeat donor probes skip
      // both the inference job and the ~77 ms per-read resolution
      val schema = readParquet(spark, Seq(vd.toString)).schema
      cols.filterNot(found.contains).foreach { c =>
        schema.find(f => members(c).contains(f.name))
          .foreach(f => found(c) = f.dataType)
      }
    }
    cols.map(c => c -> found.get(c)).toMap
  }

  // ---------------------------------------------------------------------
  // Persistent CHECK constraints (the Delta semantic): declared once,
  // stored next to the manifest log, enforced on EVERY subsequent
  // commit/merge batch — a violating batch fails loud BEFORE landing,
  // so a constraint is an invariant of every committed version, not a
  // hope. SQL CHECK null semantics: only FALSE violates; NULL passes
  // (declare `x IS NOT NULL` explicitly to forbid nulls). Enforcement
  // is ONE extra job over the batch (batch-sized, never table-sized);
  // declaring a constraint validates the CURRENT table once.
  // ---------------------------------------------------------------------

  // catalog versions are whole immutable files (`_constraints.N`,
  // newest N wins) — the manifest pattern: a writer CREATES N+1 via
  // tmp+rename and never deletes, so a crash mid-write leaves N
  // intact and the catalog can never silently vanish (delete-then-
  // rename would lose every constraint to a crash in the window)
  private val ConstraintsPrefix = "_constraints."

  private def constraintVersions(
      spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    if (!hfs.exists(md)) Nil
    else hfs.listStatus(md).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(ConstraintsPrefix))
      .flatMap(p => p.getName.stripPrefix(ConstraintsPrefix)
        .toLongOption.map(_ -> p))
  }

  /** The table's declared constraints: (name, SQL boolean expr). */
  def constraintsOf(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val hfs = VersionedStore.fs(spark, dir)
    constraintVersions(spark, dir).maxByOption(_._1) match {
      case None => Nil
      case Some((_, p)) =>
        readManifestFile(hfs, p).split("\n").toSeq.filter(_.nonEmpty).map {
          line => val Array(n, e) = line.split("\t", 2); (n, e)
        }
    }
  }

  private def writeConstraints(
      spark: SparkSession, dir: String, cs: Seq[(String, String)]): Unit = {
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val next = constraintVersions(spark, dir)
      .map(_._1).maxOption.map(_ + 1).getOrElse(0L)
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-constraints-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(cs.map { case (n, e) => s"$n\t$e" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(new Path(dir, ManifestDir), s"$ConstraintsPrefix$next")
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: lost the constraint-catalog slot $next under " +
          s"$dir (concurrent declaration?); re-read and retry")
    }
  }

  /** Declare a CHECK constraint. The current table must already
    * satisfy it (validated with one scan, the Delta ADD CONSTRAINT
    * protocol) — otherwise existing versions would violate an
    * invariant that claims to hold for every version. Names must be
    * unique; exprs must not contain tabs/newlines (catalog format). */
  def addConstraint(
      spark: SparkSession, dir: String, name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n') &&
      !sqlExpr.exists(c => c == '\t' || c == '\n'),
      s"constraint name/expr must not contain tabs or newlines: $name")
    val existing = constraintsOf(spark, dir)
    require(!existing.exists(_._1 == name),
      s"PartitionedTable: constraint '$name' already declared under $dir")
    if (versions(spark, dir).nonEmpty) {
      val bad = read(spark, dir).filter(expr(sqlExpr) <=> lit(false)).limit(1)
      require(bad.isEmpty,
        s"PartitionedTable: existing rows violate CHECK $name ($sqlExpr) " +
          s"under $dir — e.g. ${bad.collect().mkString}")
    }
    writeConstraints(spark, dir, existing :+ (name, sqlExpr))
  }

  /** Drop a declared constraint (must exist — dropping a typo'd name
    * silently would leave the caller believing a gate is gone). */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Unit = {
    val existing = constraintsOf(spark, dir)
    require(existing.exists(_._1 == name),
      s"PartitionedTable: no constraint '$name' under $dir " +
        s"(have ${existing.map(_._1).mkString(", ")})")
    writeConstraints(spark, dir, existing.filterNot(_._1 == name))
  }

  /** Fail loud if any `df` row violates a declared constraint. ONE
    * job on the all-pass fast path (the violation disjunction, limit
    * 1); per-constraint attribution only on the failure path. */
  private def enforceConstraints(
      spark: SparkSession, dir: String, df: DataFrame): Unit = {
    // implicit invariant of DEFAULTed added columns: a batch CARRYING
    // one must carry it non-null, so the read path's coalesce (which
    // fills pre-add files' rows) can never repaint an explicit null —
    // omit the column (or write the DEFAULT) instead
    val edges = colMapOf(spark, dir)
    val defaulted = addedColumnsWithDefaultsOf(spark, dir).collect {
      case (n, _, Some(_)) => resolveName(edges, n)
    }.flatten.filter(df.columns.contains).map(n =>
      (s"defaulted_column_${n}_non_null", s"$n IS NOT NULL"))
    val cs = constraintsOf(spark, dir) ++ defaulted
    if (cs.isEmpty) return
    val anyBad = cs.map { case (_, e) => expr(e) <=> lit(false) }.reduce(_ || _)
    if (df.filter(anyBad).limit(1).isEmpty) return
    val broken = cs.filter { case (_, e) =>
      !df.filter(expr(e) <=> lit(false)).limit(1).isEmpty }
    throw new IllegalArgumentException(
      s"PartitionedTable: batch violates CHECK constraint(s) " +
        broken.map { case (n, e) => s"$n ($e)" }.mkString(", ") +
        s" under $dir — nothing landed")
  }

  // ---------------------------------------------------------------------
  // Column mapping (the Delta column-mapping semantic, name-based):
  // RENAME and DROP a column as pure metadata — no data file is ever
  // read or rewritten, which is the only rename anyone can afford at
  // 100 TB. Old files keep their as-written names forever; a versioned
  // catalog of rename edges maps every historical name to its current
  // one, and every read normalizes: the footer-merging scan surfaces
  // each chain's members as disjoint null-filled columns (any one file
  // carries exactly ONE member), so coalescing the chain IS the rename.
  // Writes always use CURRENT names — a post-rename merge lands files
  // with the new name and untouched partitions keep the old one, both
  // resolving to the same logical column at read. Retired names (any
  // edge's old side, any dropped name) are refused on every incoming
  // batch, so resolution stays unambiguous forever. The mapping is
  // table-wide, not per-version: time travel reads OLD DATA under
  // CURRENT names (the Delta behavior). Renames of columns a CHECK
  // constraint or generation rule references are refused — those store
  // SQL/rule text that would silently dangle.
  // ---------------------------------------------------------------------

  private val ColMapPrefix = "_colmap."

  private def colMapVersions(
      spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    if (!hfs.exists(md)) Nil
    else hfs.listStatus(md).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(ColMapPrefix))
      .flatMap(p => p.getName.stripPrefix(ColMapPrefix)
        .toLongOption.map(_ -> p))
  }

  /** The table's column-mapping edges in declaration order:
    * (old, new) renames; (name, "") drops. Empty for unmapped tables. */
  def colMapOf(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val hfs = VersionedStore.fs(spark, dir)
    colMapVersions(spark, dir).maxByOption(_._1) match {
      case None => Nil
      case Some((_, p)) =>
        readManifestFile(hfs, p).split("\n").toSeq.filter(_.nonEmpty).map {
          line =>
            val Array(o, n) = line.split("\t", 2).padTo(2, "")
            (o, n)
        }
    }
  }

  private def writeColMap(
      spark: SparkSession, dir: String, edges: Seq[(String, String)]): Unit = {
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val next = colMapVersions(spark, dir)
      .map(_._1).maxOption.map(_ + 1).getOrElse(0L)
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-colmap-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(edges.map { case (o, n) => s"$o\t$n" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(new Path(dir, ManifestDir), s"$ColMapPrefix$next")
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: lost the column-map slot $next under $dir " +
          "(concurrent rename?); re-read and retry")
    }
  }

  /** Walk `name` through the edges: Some(current name), or None once a
    * drop retires the chain. */
  private def resolveName(
      edges: Seq[(String, String)], name: String): Option[String] =
    edges.foldLeft(Option(name)) {
      case (Some(cur), (o, n)) if o == cur => if (n.isEmpty) None else Some(n)
      case (acc, _) => acc
    }

  /** Every name retired by the catalog: edges' old sides and dropped
    * names — refused on every incoming batch so a historical name can
    * never be reintroduced as a different column. */
  private def retiredNames(edges: Seq[(String, String)]): Set[String] =
    edges.map(_._1).toSet

  /** All historical names that resolve to current name `c`, oldest
    * first, `c` itself last — the coalesce order (at most one member is
    * non-null per row, so order only matters for determinism). */
  private def chainMembersOf(
      edges: Seq[(String, String)], c: String): Seq[String] = {
    val retired = retiredNames(edges)
    (edges.map(_._1).filter(o => resolveName(edges, o).contains(c)) ++
      (if (!retired.contains(c)) Seq(c) else Nil)).distinct
  }

  /** Normalize a frame read from files to the CURRENT logical schema:
    * coalesce each rename chain's members into its current name, drop
    * retired chains, pass unmapped columns through untouched. Pure
    * projection — idempotent, driver-side catalog read only. */
  private def logicalize(
      spark: SparkSession, dir: String, df: DataFrame): DataFrame = {
    val edges = colMapOf(spark, dir)
    val mapped =
      if (edges.isEmpty) df
      else {
        val out =
          scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
        df.columns.foreach { c =>
          resolveName(edges, c).foreach { fin =>
            out(fin) = out.getOrElse(fin, Nil) :+ c
          }
        }
        require(out.nonEmpty,
          s"PartitionedTable: column mapping under $dir drops every column " +
            s"of [${df.columns.mkString(",")}]")
        df.select(out.map { case (fin, members) =>
          // newest-first: the current name's own column (when present) wins
          val ordered = members.sortBy(m => if (m == fin) 0 else 1)
          (if (ordered.size == 1) col(ordered.head)
           else coalesce(ordered.map(col): _*)).as(fin)
        }.toSeq: _*)
      }
    // ADD COLUMN null-fill last: a declared column no surviving file
    // carries yet still reads at its declared type (edges shared — one
    // catalog read serves both steps; logicalize runs per delta slice)
    withAdded(spark, dir, mapped, edges)
  }

  /** Fail loud when a batch reintroduces a retired column name. */
  private def refuseRetiredNames(
      spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val retired = retiredNames(colMapOf(spark, dir))
    if (retired.isEmpty) return
    val clash = df.columns.filter(retired.contains)
    require(clash.isEmpty,
      s"PartitionedTable: batch reuses retired column name(s) " +
        s"${clash.mkString(", ")} under $dir — renamed/dropped names " +
        "stay retired (resolution must remain unambiguous)")
  }

  /** Block renames/drops of columns that persisted text references —
    * a CHECK constraint's SQL or any level of the generated spec (its
    * source or derived column) — would dangle. */
  private def refuseReferencedColumn(
      spark: SparkSession, dir: String, name: String, op: String): Unit = {
    val word = ("(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])").r
    constraintsOf(spark, dir).foreach { case (cn, e) =>
      require(word.findFirstIn(e).isEmpty,
        s"PartitionedTable: cannot $op column $name under $dir — CHECK " +
          s"constraint $cn ($e) references it (drop the constraint first)")
    }
    generatedLevelsOf(spark, dir).toSeq.flatten.foreach { l =>
      require(name != l.srcCol && name != l.name,
        s"PartitionedTable: cannot $op column $name under $dir — the " +
          s"generation rule ${l.gen.name}(${l.srcCol}) -> ${l.name} references it")
    }
  }

  /** RENAME a column: one catalog write, zero data movement. `from`
    * must be a current logical column; `to` must be brand new — never
    * a live column, never a retired name (see [[colMapOf]]). */
  def renameColumn(
      spark: SparkSession, dir: String, from: String, to: String): Unit = {
    require(to.nonEmpty && !to.exists(c => c == '\t' || c == '\n') &&
      !from.exists(c => c == '\t' || c == '\n'),
      s"rename: bad column name '$to' (empty/tab/newline)")
    require(from != to, s"rename: $from -> $to is a no-op")
    require(versions(spark, dir).nonEmpty,
      s"PartitionedTable: no committed manifests under $dir")
    val edges = colMapOf(spark, dir)
    val current = read(spark, dir).columns.toSet // footer merge, no scan
    require(current.contains(from),
      s"PartitionedTable: no column $from under $dir " +
        s"(have ${current.toSeq.sorted.mkString(", ")})")
    require(!current.contains(to),
      s"PartitionedTable: column $to already exists under $dir")
    require(!retiredNames(edges).contains(to),
      s"PartitionedTable: $to is a retired name under $dir — pick a " +
        "name never used before")
    refuseReferencedColumn(spark, dir, from, "rename")
    writeColMap(spark, dir, edges :+ (from, to))
  }

  /** DROP a column: one catalog write, zero data movement — every read
    * (any version) stops surfacing it; the name is retired for good. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    require(versions(spark, dir).nonEmpty,
      s"PartitionedTable: no committed manifests under $dir")
    val edges = colMapOf(spark, dir)
    val current = read(spark, dir).columns.toSet
    require(current.contains(name),
      s"PartitionedTable: no column $name under $dir " +
        s"(have ${current.toSeq.sorted.mkString(", ")})")
    require(current.size > 1,
      s"PartitionedTable: cannot drop the last column $name under $dir")
    refuseReferencedColumn(spark, dir, name, "drop")
    writeColMap(spark, dir, edges :+ (name, ""))
  }

  // ---------------------------------------------------------------------
  // Declared-schema DDL: CREATE TABLE (empty) and ADD COLUMN as pure
  // catalog writes — the remaining metadata operations a SQL front door
  // needs (the reference's users issue DDL through the warehouse
  // catalog, loadToWarehouse.py:44-78). Both follow the colmap pattern:
  // append-only files under the manifest dir, newest wins, zero data
  // movement. A column ADDED here null-fills on every read until a
  // write materializes it; the declared type is enforced on every
  // incoming batch so parquet footers can never diverge from the
  // declaration.
  // ---------------------------------------------------------------------

  private val CreateSchemaFile = "_schema.create"
  private val AddColsPrefix = "_addcols."

  /** Declare an EMPTY table: schema + partition column recorded under
    * the manifest dir before any data exists — the SQL `CREATE TABLE`
    * form. The first data commit must match the declaration exactly
    * (names and types); until then reads resolve [[emptyDeclared]].
    * One-shot per directory: re-declaring, or declaring over committed
    * data, fails loud. */
  def createEmpty(
      spark: SparkSession, dir: String, schema: StructType,
      partCol: String, derivedPart: Boolean = false): Unit = {
    if (derivedPart)
      // a level spec ([[declareGeneratedLevels]]) derives the column on
      // every write — the declared schema carries only source columns
      require(!schema.fieldNames.contains(partCol),
        s"PartitionedTable: generated partition column $partCol must not " +
          "be declared — the rule derives it")
    else {
      require(schema.fieldNames.contains(partCol),
        s"PartitionedTable: declared schema has no partition column $partCol " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(schema(partCol).dataType == StringType,
        s"PartitionedTable: partition column $partCol must be a string " +
          "(cast upstream — the Hive partition-value convention); got " +
          schema(partCol).dataType.simpleString)
    }
    require(schema.fieldNames.map(_.toLowerCase).distinct.length ==
      schema.length,
      s"PartitionedTable: duplicate column names in declared schema " +
        s"[${schema.fieldNames.mkString(", ")}]")
    require(versions(spark, dir).isEmpty,
      s"PartitionedTable: $dir already has committed manifests — " +
        "CREATE TABLE declares a NEW table")
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    val dest = new Path(md, CreateSchemaFile)
    require(!hfs.exists(dest),
      s"PartitionedTable: $dir already declares a schema")
    hfs.mkdirs(md)
    val tmp = new Path(md, s".tmp-create-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(s"$partCol\n${schema.json}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: lost the CREATE TABLE slot under $dir " +
          "(concurrent create?)")
    }
  }

  /** The declared (schema, partCol) of a [[createEmpty]] table, if this
    * directory was created through DDL rather than a first commit. */
  def declaredSchemaOf(
      spark: SparkSession, dir: String): Option[(StructType, String)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val p = new Path(new Path(dir, ManifestDir), CreateSchemaFile)
    if (!hfs.exists(p)) None
    else {
      val txt = readManifestFile(hfs, p)
      val nl = txt.indexOf('\n')
      Some((DataType.fromJson(txt.substring(nl + 1)).asInstanceOf[StructType],
        txt.substring(0, nl)))
    }
  }

  private def addColsVersions(
      spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    if (!hfs.exists(md)) Nil
    else hfs.listStatus(md).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(AddColsPrefix))
      .flatMap(p => p.getName.stripPrefix(AddColsPrefix)
        .toLongOption.map(_ -> p))
  }

  /** Columns declared by [[addColumn]] after creation, in declaration
    * order under their ORIGINAL names (renames/drops resolve through
    * the column map at read time). Always nullable — existing rows
    * hold no value by definition. */
  def addedColumnsOf(
      spark: SparkSession, dir: String): Seq[(String, DataType)] =
    addedColumnsWithDefaultsOf(spark, dir).map(t => (t._1, t._2))

  /** [[addedColumnsOf]] plus each column's DEFAULT expression SQL, when
    * one was declared at add time (the Delta add-column-default
    * semantic): rows predating the add — and batches omitting the
    * column — read the default instead of null. Sidecar line format is
    * `name\ttype-json[\tdefault-sql]`; the third field is absent for
    * pre-default adds, so old sidecars parse unchanged. */
  def addedColumnsWithDefaultsOf(
      spark: SparkSession, dir: String)
      : Seq[(String, DataType, Option[String])] = {
    val hfs = VersionedStore.fs(spark, dir)
    addColsVersions(spark, dir).maxByOption(_._1) match {
      case None => Nil
      case Some((_, p)) =>
        readManifestFile(hfs, p).split("\n").toSeq.filter(_.nonEmpty).map {
          line =>
            line.split("\t", 3) match {
              case Array(n, j) => (n, DataType.fromJson(j), None)
              case Array(n, j, d) => (n, DataType.fromJson(j),
                Some(d).filter(_.nonEmpty))
            }
        }
    }
  }

  /** [[addedColumnsWithDefaultsOf]] under CURRENT (post-rename-chain)
    * names, dropped columns excluded — the shape a catalog schema
    * overlay needs. */
  def addedColumnsWithDefaultsResolved(
      spark: SparkSession, dir: String)
      : Seq[(String, DataType, Option[String])] = {
    val edges = colMapOf(spark, dir)
    addedColumnsWithDefaultsOf(spark, dir).flatMap { case (n, dt, d) =>
      resolveName(edges, n).map(fin => (fin, dt, d))
    }
  }

  /** ADD a column: one catalog write, zero data movement — every read
    * null-fills it at the declared type until a write materializes it,
    * and every later batch carrying it must match the declared type
    * exactly (parquet footers never diverge from the declaration).
    * NOT-NULL adds are refused — existing rows cannot satisfy them.
    *
    * `defaultSql` (ALTER TABLE ADD COLUMN ... DEFAULT): a constant,
    * deterministic expression the column's type can hold. Declared, it
    * changes the fill contract from null to the default — reads
    * COALESCE rows whose files predate the column's materialization,
    * and (to keep that coalesce exact) every future batch CARRYING the
    * column must carry it non-null: an explicit NULL in a defaulted
    * column is refused at the landing (write the DEFAULT, or omit the
    * column and let it derive). Still one catalog write, zero data
    * movement at any scale. */
  def addColumn(
      spark: SparkSession, dir: String, name: String,
      dataType: DataType, defaultSql: Option[String] = None): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"addColumn: bad column name '$name' (empty/tab/newline)")
    val current = logicalColumns(spark, dir)
    require(!current.contains(name),
      s"PartitionedTable: column $name already exists under $dir")
    require(!retiredNames(colMapOf(spark, dir)).contains(name),
      s"PartitionedTable: $name is a retired name under $dir — pick a " +
        "name never used before")
    // The DEFAULT is CONSTANT-FOLDED HERE and the folded LITERAL is
    // what persists (the Delta/Spark EXISTS_DEFAULT semantic): the
    // read path re-evaluates the stored SQL on EVERY read, so storing
    // raw `current_date()` — foldable AND deterministic in catalyst
    // terms, because it's a per-query constant — would fill pre-add
    // rows with a DIFFERENT value each day and make time-travel reads
    // non-reproducible. Folding once pins the contract: one value,
    // every pre-add row, forever.
    val foldedDefault: Option[String] = defaultSql.map { sql =>
      require(sql.nonEmpty && !sql.exists(c => c == '\t' || c == '\n'),
        s"addColumn: bad DEFAULT expression '$sql' (empty/tab/newline)")
      // analyze against a ONE-ROW, ZERO-COLUMN relation: a default
      // referencing any column must fail analysis here (spark.range's
      // probe would silently resolve a reference to `id`)
      val probe = spark.range(1).select().select(expr(sql).as("d"))
      val analyzed = probe.schema.head.dataType
      require(analyzed == dataType ||
        org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(analyzed, dataType),
        s"PartitionedTable: DEFAULT ($sql) is ${analyzed.simpleString}; " +
          s"column $name is declared ${dataType.simpleString} under $dir " +
          "(cast the default, or declare the matching type)")
      val root = probe.queryExecution.analyzed.expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
      require(root.deterministic && root.foldable,
        s"PartitionedTable: DEFAULT ($sql) must be a constant " +
          "(deterministic and foldable) — one value fills every " +
          "pre-add row")
      val v = probe.select(expr(sql).cast(dataType).as("d")).head().get(0)
      val folded = org.apache.spark.sql.catalyst.expressions.Literal
        .create(v, dataType).sql
      require(!folded.exists(c => c == '\t' || c == '\n'),
        s"addColumn: DEFAULT ($sql) folds to a literal containing " +
          "tab/newline — unsupported in the sidecar line format")
      folded
    }
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val next = addColsVersions(spark, dir)
      .map(_._1).maxOption.map(_ + 1).getOrElse(0L)
    val edges = addedColumnsWithDefaultsOf(spark, dir) :+
      ((name, dataType, foldedDefault))
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-addcols-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try out.write(edges.map { case (n, dt, d) =>
      s"$n\t${dt.json}" + d.map(s => s"\t$s").getOrElse("")
    }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(new Path(dir, ManifestDir), s"$AddColsPrefix$next")
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: lost the add-column slot $next under $dir " +
          "(concurrent alter?); re-read and retry")
    }
  }

  private val PropsPrefix = "_props."

  private def propsVersions(
      spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val hfs = VersionedStore.fs(spark, dir)
    val md = new Path(dir, ManifestDir)
    if (!hfs.exists(md)) Nil
    else hfs.listStatus(md).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(PropsPrefix))
      .flatMap(p => p.getName.stripPrefix(PropsPrefix)
        .toLongOption.map(_ -> p))
  }

  /** Persisted table properties (SQL `SET TBLPROPERTIES` / `COMMENT
    * ON`): the newest `_props.N` snapshot under the manifest dir.
    * Metadata cost only. */
  def propertiesOf(spark: SparkSession, dir: String): Map[String, String] = {
    val hfs = VersionedStore.fs(spark, dir)
    propsVersions(spark, dir).maxByOption(_._1) match {
      case None => Map.empty
      case Some((_, p)) =>
        val props = new java.util.Properties()
        val in = hfs.open(p)
        try props.load(new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
        import scala.jdk.CollectionConverters._
        props.asScala.toMap
    }
  }

  /** Set/remove table properties, persisted as the next full `_props.N`
    * snapshot (the [[addColumn]] slot-claim protocol: losing the
    * rename means a concurrent alter won — re-read and retry). Values
    * with `None` remove the key. */
  def alterProperties(
      spark: SparkSession, dir: String,
      updates: Map[String, Option[String]]): Unit = {
    require(updates.nonEmpty, "alterProperties: nothing to change")
    val hfs = VersionedStore.fs(spark, dir)
    hfs.mkdirs(new Path(dir, ManifestDir))
    val next = propsVersions(spark, dir)
      .map(_._1).maxOption.map(_ + 1).getOrElse(0L)
    val merged = updates.foldLeft(propertiesOf(spark, dir)) {
      case (m, (k, Some(v))) => m + (k -> v)
      case (m, (k, None)) => m - k
    }
    val props = new java.util.Properties()
    merged.foreach { case (k, v) => props.setProperty(k, v) }
    val tmp = new Path(new Path(dir, ManifestDir),
      s".tmp-props-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, true)
    try props.store(new java.io.OutputStreamWriter(out,
      java.nio.charset.StandardCharsets.UTF_8), null)
    finally out.close()
    val dest = new Path(new Path(dir, ManifestDir), s"$PropsPrefix$next")
    if (!hfs.rename(tmp, dest)) {
      hfs.delete(tmp, true)
      throw new java.io.IOException(
        s"PartitionedTable: lost the properties slot $next under $dir " +
          "(concurrent alter?); re-read and retry")
    }
  }

  /** ANALYZE TABLE — compute table-level and per-column statistics in
    * ONE aggregation job over table version `asOf` (default newest)
    * and persist them as `stats.*` table properties, where
    * [[graft.sources.GraftScan]] serves them to the planner
    * (`columnStats()` → CBO join estimation / reorder) and `DESCRIBE
    * EXTENDED` surfaces them to operators:
    *
    *   - `stats.version` / `stats.rows` — the analyzed snapshot
    *   - `stats.col.<c>.ndv` — approx distinct count (HLL, one pass)
    *   - `stats.col.<c>.nulls` — null count
    *   - `stats.col.<c>.min` / `.max` — orderable scalars only
    *     (numeric/date/timestamp; strings carry `.avglen`/`.maxlen`
    *     instead — CBO sizes rows with them). Timestamps render under
    *     a FIXED UTC formatter — the read side parses them back with
    *     `Cast(..., Some("UTC"))`, so a session-zone render would
    *     shift every non-UTC session's CBO bounds by the zone offset.
    *   - `stats.col.<c>.histogram` (opt-in via `histCols`; numeric,
    *     date, and timestamp columns — bins persist in catalyst-
    *     internal units: days / micros) — an EQUI-HEIGHT histogram: `histBuckets` bins from
    *     one `percentile_approx` pass + per-bin NDVs from one
    *     `ApproxCountDistinctForIntervals` pass (the exact two-job
    *     shape of Spark's own `ANALYZE ... FOR COLUMNS` with
    *     `spark.sql.statistics.histogram.enabled`), served through
    *     `ColumnStatistics.histogram()` so CBO's selectivity on
    *     SKEWED predicates stops assuming uniformity.
    *
    * Statistics are ESTIMATES pinned to the analyzed version: reads of
    * other versions still see them (the Spark/Delta staleness trade,
    * bounded by `spark.graft.stats.maxStaleCommits` on the read side),
    * and correctness never depends on them. One props write; re-ANALYZE
    * replaces the whole `stats.` key space atomically. Returns the
    * persisted key→value map. */
  def analyzeTable(
      spark: SparkSession, dir: String, cols: Seq[String] = Nil,
      asOf: Option[Long] = None, histCols: Seq[String] = Nil,
      histBuckets: Int = 32): Map[String, String] = {
    val v = asOf.orElse(latest(spark, dir)).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: nothing to analyze under $dir"))
    val df = read(spark, dir, Some(v))
    val targets =
      (if (cols.nonEmpty) cols else df.columns.toSeq).distinct
        .filter(df.columns.contains)
    require(cols.isEmpty || targets.size == cols.distinct.size,
      s"PartitionedTable: analyze columns ${cols.diff(targets).mkString(", ")} " +
        s"do not exist under $dir (have ${df.columns.mkString(", ")})")
    import org.apache.spark.sql.types.{DateType, NumericType, StringType,
      TimestampNTZType, TimestampType}
    def orderable(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val histTargets = histCols.distinct.filter(targets.contains)
    require(histTargets.size == histCols.distinct.size,
      s"PartitionedTable: histogram columns " +
        s"${histCols.distinct.diff(histTargets).mkString(", ")} are not " +
        s"in the analyzed column set")
    // histogram bins persist as CATALYST-INTERNAL-unit doubles (date →
    // epoch days, timestamp/ntz → micros) — exactly what
    // FilterEstimation's EstimationUtils.toDouble compares predicate
    // literals against, so selectivity math needs no unit mapping
    def histDouble(c: String): Column = df.schema(c).dataType match {
      case _: NumericType => col(c).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        // NTZ's internal micros = its wall time read as UTC; an
        // explicit UTC-zone cast is session-zone-independent
        unix_micros(org.apache.spark.sql.graft.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.graft.Bridge.expression(col(c)),
            TimestampType, Option("UTC")))).cast("double")
      case other => throw new IllegalArgumentException(
        s"PartitionedTable: histogram column $c must be numeric, date, " +
          s"or timestamp (got ${other.simpleString})")
    }
    histTargets.foreach(histDouble) // validate types loud, up front
    require(histBuckets >= 2 && histBuckets <= 254,
      s"PartitionedTable: histBuckets must be in [2, 254], got $histBuckets")
    val pcts = array(
      (0 to histBuckets).map(i => lit(i.toDouble / histBuckets)): _*)
    val aggs = Seq(count(lit(1)).as("__rows")) ++ targets.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(approx_count_distinct(col(c)).as(s"__ndv_$c"),
        count(col(c)).as(s"__cnt_$c")) ++
        (if (dt == TimestampType || dt == TimestampNTZType)
          // raw values out, rendered under a FIXED UTC formatter below
          // (a cast-to-string here renders under the SESSION zone, and
          // GraftScan parses back under UTC — non-UTC sessions would
          // shift every CBO bound by the zone offset)
          Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
        else if (orderable(dt))
          Seq(min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        else if (dt == StringType)
          Seq(avg(length(col(c))).as(s"__avglen_$c"),
            max(length(col(c))).as(s"__maxlen_$c"))
        else Nil)
    } ++ histTargets.map { c =>
      percentile_approx(histDouble(c), pcts, lit(10000))
        .as(s"__hist_$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val utcFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def render(value: Any): String = value match {
      case t: java.sql.Timestamp =>
        utcFmt.withZone(java.time.ZoneOffset.UTC).format(t.toInstant)
      case i: java.time.Instant =>
        utcFmt.withZone(java.time.ZoneOffset.UTC).format(i)
      case l: java.time.LocalDateTime => l.format(utcFmt)
      case other => other.toString
    }
    def str(name: String): Option[String] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(render(row.get(i)))
    }
    val rows = row.getLong(row.fieldIndex("__rows"))
    // per-bin NDVs for the histogram columns: ONE more aggregation pass
    // over the snapshot (ApproxCountDistinctForIntervals — the same
    // internal Spark's ANALYZE uses), skipped entirely when no
    // histogram was requested or the endpoints came back empty
    val histograms: Map[String, String] = {
      val endpoints: Seq[(String, Seq[Double])] = histTargets.flatMap { c =>
        val i = row.fieldIndex(s"__hist_$c")
        if (row.isNullAt(i)) None
        else Some(c -> row.getSeq[Double](i).toSeq)
      }.filter(_._2.size == histBuckets + 1)
      if (endpoints.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals
        val ndvAggs = endpoints.map { case (c, eps) =>
          org.apache.spark.sql.graft.Bridge.column(
            new ApproxCountDistinctForIntervals(
              org.apache.spark.sql.graft.Bridge
                .expression(histDouble(c)),
              CreateArray(eps.map(Literal(_))),
              Literal(0.05d)).toAggregateExpression()).as(s"__bins_$c")
        }
        val ndvRow = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
        endpoints.map { case (c, eps) =>
          val binNdvs = ndvRow.getSeq[Long](ndvRow.fieldIndex(s"__bins_$c"))
          val nonNull = row.getLong(row.fieldIndex(s"__cnt_$c"))
          val height = nonNull.toDouble / histBuckets
          val bins = eps.sliding(2).zip(binNdvs.iterator).map {
            case (Seq(lo, hi), ndv) => s"$lo,$hi,$ndv"
          }.mkString(";")
          s"stats.col.$c.histogram" -> s"$height|$bins"
        }.toMap
      }
    }
    val computed: Map[String, String] =
      Map("stats.version" -> v.toString, "stats.rows" -> rows.toString) ++
        histograms ++
        targets.flatMap { c =>
          Seq(s"stats.col.$c.ndv" -> str(s"__ndv_$c"),
            s"stats.col.$c.nulls" ->
              str(s"__cnt_$c").map(n => (rows - n.toLong).toString)) ++
            (if (orderable(df.schema(c).dataType))
              Seq(s"stats.col.$c.min" -> str(s"__min_$c"),
                s"stats.col.$c.max" -> str(s"__max_$c"))
            else if (df.schema(c).dataType == StringType)
              Seq(s"stats.col.$c.avglen" ->
                str(s"__avglen_$c").map(d => math.ceil(d.toDouble).toLong.toString),
                s"stats.col.$c.maxlen" -> str(s"__maxlen_$c"))
            else Nil)
        }.collect { case (k, Some(vv)) => k -> vv }.toMap
    // replace the whole stats key space: stale keys from a previous
    // analyze (dropped/renamed/unselected columns) must not linger
    val stale = propertiesOf(spark, dir).keys
      .filter(_.startsWith("stats.")).filterNot(computed.contains)
      .map(_ -> (None: Option[String])).toMap
    alterProperties(spark, dir,
      stale ++ computed.map { case (k, vv) => k -> Some(vv) })
    computed
  }

  /** Per-(partition, store version) analyze-sketch sidecar dir
    * (underscore-prefixed: invisible to data reads). */
  private val AnalyzeDir = "_analyze"

  private def analyzeSidecarPath(dir: String, name: String, sv: Long): Path =
    new Path(new Path(dir, AnalyzeDir), s"$name@$sv.properties")

  /** INCREMENTAL ANALYZE — the 100 TB statistics posture: ANALYZE cost
    * must track the INCREMENT, not the table. Per-column HLL sketches
    * (datasketches, `hll_sketch_agg` — mergeable by construction, the
    * q50 sketch-rollup machinery pointed at NDVs) plus
    * rows/nulls/min/max/lengths are persisted as one tiny SIDECAR per
    * (partition, pinned store version) — content-addressed and
    * immutable, exactly like the slices themselves. Re-ANALYZE after an
    * incremental merge scans ONLY the partitions whose store version
    * has no sidecar yet (the merged ones) and UNIONS every partition's
    * sketch driver-side: rows/nulls/lengths sum, min/max compare in the
    * value domain, NDV comes from the HLL union — identical key space
    * to [[analyzeTable]] (NDV within HLL tolerance of the one-pass
    * `approx_count_distinct`), marked `stats.mode=incremental`.
    *
    * `partCol` must be a data column (identity partitioning, or a
    * generated table's DERIVED column — the engine writes those
    * into the data). Returns the persisted stats plus two NON-persisted
    * cost receipts: `analyze.scanned_partitions` and
    * `analyze.scanned_files` (the scan's own `inputFiles` count — the
    * one-partition-cost contract the spec asserts). */
  def analyzeTableIncremental(
      spark: SparkSession, dir: String, partCol: String,
      cols: Seq[String] = Nil): Map[String, String] = {
    import org.apache.spark.sql.types.{DateType, NumericType, StringType,
      TimestampNTZType, TimestampType}
    val v = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: nothing to analyze under $dir"))
    val mapping = manifest(spark, dir, v).filter(_._2 >= 0)
    val df = read(spark, dir, Some(v))
    require(df.columns.contains(partCol),
      s"PartitionedTable: incremental analyze needs partition column " +
        s"$partCol in the data (have ${df.columns.mkString(", ")})")
    val targets = (if (cols.nonEmpty) cols else df.columns.toSeq).distinct
      .filter(df.columns.contains)
    require(cols.isEmpty || targets.size == cols.distinct.size,
      s"PartitionedTable: analyze columns ${cols.diff(targets).mkString(", ")} " +
        s"do not exist under $dir")
    def orderable(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val utcFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def render(value: Any): String = value match {
      case t: java.sql.Timestamp =>
        utcFmt.withZone(java.time.ZoneOffset.UTC).format(t.toInstant)
      case i: java.time.Instant =>
        utcFmt.withZone(java.time.ZoneOffset.UTC).format(i)
      case l: java.time.LocalDateTime => l.format(utcFmt)
      case other => other.toString
    }
    val hfs = VersionedStore.fs(spark, dir)
    def loadSidecar(name: String, sv: Long): Option[java.util.Properties] = {
      val p = analyzeSidecarPath(dir, name, sv)
      if (!hfs.exists(p)) None
      else {
        val props = new java.util.Properties()
        val in = hfs.open(p)
        try props.load(new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
        Some(props)
      }
    }
    // a sidecar COVERS this analyze iff it has every target's count key
    // (a narrower earlier analyze recomputes the partition's sidecar)
    val loaded: Map[String, java.util.Properties] = mapping.flatMap {
      case (name, sv) => loadSidecar(name, sv)
        .filter(p => targets.forall(c => p.getProperty(s"$c.cnt") != null))
        .map(name -> _)
    }
    val missing = mapping.view.filterKeys(!loaded.contains(_)).toMap
    var scannedFiles = 0
    val fresh: Map[String, java.util.Properties] =
      if (missing.isEmpty) Map.empty
      else {
        val values = missing.keys.toSeq.map(n => ExternalCatalogUtils
          .unescapePathName(n.stripPrefix(s"$PartDir=")))
        val part = readPartitions(spark, dir, values, Some(v))
        scannedFiles = part.inputFiles.length
        val aggs = Seq(count(lit(1)).as("__rows")) ++ targets.flatMap { c =>
          val dt = df.schema(c).dataType
          // sketch over the STRING render: hll_sketch_agg accepts
          // int/long/string/binary only, and the render is injective
          // for every type the engine analyzes — same NDV
          Seq(hll_sketch_agg(col(c).cast("string"), lit(12))
            .as(s"__sk_$c"),
            count(col(c)).as(s"__cnt_$c")) ++
            (if (dt == TimestampType || dt == TimestampNTZType)
              Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
            else if (orderable(dt))
              Seq(min(col(c)).cast("string").as(s"__min_$c"),
                max(col(c)).cast("string").as(s"__max_$c"))
            else if (dt == StringType)
              Seq(sum(length(col(c))).as(s"__sumlen_$c"),
                max(length(col(c))).as(s"__maxlen_$c"))
            else Nil)
        }
        val rows = part
          .groupBy(col(partCol).cast("string").as("__pv"))
          .agg(aggs.head, aggs.tail: _*).collect()
        rows.map { row =>
          val name = escape(row.getString(row.fieldIndex("__pv")))
          val props = new java.util.Properties()
          props.setProperty("rows",
            row.getLong(row.fieldIndex("__rows")).toString)
          targets.foreach { c =>
            def put(suffix: String, key: String): Unit = {
              val i = row.fieldIndex(key)
              if (!row.isNullAt(i))
                props.setProperty(s"$c.$suffix", render(row.get(i))): Unit
            }
            props.setProperty(s"$c.cnt",
              row.getLong(row.fieldIndex(s"__cnt_$c")).toString)
            props.setProperty(s"$c.sk", java.util.Base64.getEncoder
              .encodeToString(row.getAs[Array[Byte]](s"__sk_$c")))
            val dt = df.schema(c).dataType
            if (orderable(dt)) { put("min", s"__min_$c"); put("max", s"__max_$c") }
            else if (dt == StringType) {
              put("sumlen", s"__sumlen_$c"); put("maxlen", s"__maxlen_$c")
            }
          }
          val sv = mapping.getOrElse(name, throw new IllegalStateException(
            s"PartitionedTable: scanned partition $name not in manifest v=$v"))
          val target = analyzeSidecarPath(dir, name, sv)
          hfs.mkdirs(target.getParent)
          val tmp = new Path(target.getParent,
            s".tmp-${java.util.UUID.randomUUID}")
          val out = hfs.create(tmp, true)
          try props.store(new java.io.OutputStreamWriter(out,
            java.nio.charset.StandardCharsets.UTF_8), null)
          finally out.close()
          if (!hfs.rename(tmp, target)) hfs.delete(tmp, true): Unit
          name -> props
        }.toMap
      }
    val all: Seq[java.util.Properties] =
      (loaded ++ fresh).values.toSeq
    // union driver-side: sums, domain-compares, HLL unions — sidecar
    // bytes only, never a table scan
    val rowsTotal = all.map(_.getProperty("rows", "0").toLong).sum
    def betterOf(dt: DataType, a: String, b: String, keepMax: Boolean)
        : String = {
      val aWins = dt match {
        case _: NumericType => (BigDecimal(a) >= BigDecimal(b)) == keepMax
        case _ => (a >= b) == keepMax // fixed-width UTC/ISO renders
      }
      if (aWins) a else b
    }
    val computed: Map[String, String] =
      Map("stats.version" -> v.toString, "stats.rows" -> rowsTotal.toString,
        "stats.mode" -> "incremental") ++
        targets.flatMap { c =>
          val dt = df.schema(c).dataType
          val cnts = all.map(_.getProperty(s"$c.cnt", "0").toLong)
          val nonNull = cnts.sum
          val union = new org.apache.datasketches.hll.Union(12)
          all.foreach { p =>
            Option(p.getProperty(s"$c.sk")).foreach { b64 =>
              union.update(org.apache.datasketches.hll.HllSketch
                .heapify(java.util.Base64.getDecoder.decode(b64)))
            }
          }
          val ndv = math.round(union.getResult.getEstimate)
          def combined(suffix: String, keepMax: Boolean): Option[String] =
            all.flatMap(p => Option(p.getProperty(s"$c.$suffix")))
              .reduceOption(betterOf(dt, _, _, keepMax))
          Seq(Some(s"stats.col.$c.ndv" -> ndv.toString),
            Some(s"stats.col.$c.nulls" -> (rowsTotal - nonNull).toString)) ++
            (if (orderable(dt))
              Seq(combined("min", keepMax = false)
                .map(s"stats.col.$c.min" -> _),
                combined("max", keepMax = true).map(s"stats.col.$c.max" -> _))
            else if (dt == StringType)
              Seq(
                (if (nonNull > 0) Some(s"stats.col.$c.avglen" ->
                  math.ceil(all.flatMap(p =>
                    Option(p.getProperty(s"$c.sumlen")).map(_.toLong)).sum
                    .toDouble / nonNull).toLong.toString)
                else None),
                combined("maxlen", keepMax = true)
                  .map(s"stats.col.$c.maxlen" -> _))
            else Nil)
        }.flatten.toMap
    val stale = propertiesOf(spark, dir).keys
      .filter(_.startsWith("stats.")).filterNot(computed.contains)
      .map(_ -> (None: Option[String])).toMap
    alterProperties(spark, dir,
      stale ++ computed.map { case (k, vv) => k -> Some(vv) })
    computed ++ Map(
      "analyze.scanned_partitions" -> missing.size.toString,
      "analyze.scanned_files" -> scannedFiles.toString)
  }

  /** Current logical column names — footer-merged data schema when data
    * exists, the declared CREATE schema otherwise — with added columns
    * and the rename/drop chain applied. Metadata cost only. */
  def logicalColumns(spark: SparkSession, dir: String): Seq[String] =
    if (versions(spark, dir).nonEmpty) read(spark, dir).columns.toSeq
    else {
      val (schema, _) = declaredSchemaOf(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"PartitionedTable: no committed manifests or declared schema " +
            s"under $dir"))
      val edges = colMapOf(spark, dir)
      (schema.fieldNames.toSeq ++ addedColumnsOf(spark, dir).map(_._1))
        .flatMap(n => resolveName(edges, n))
    }

  /** An empty frame with a declared-but-never-written table's logical
    * schema — what a created-empty table reads as. */
  def emptyDeclared(spark: SparkSession, dir: String): DataFrame = {
    val (schema, _) = declaredSchemaOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no declared schema under $dir"))
    val base = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    logicalize(spark, dir, base)
  }

  /** Fill columns declared by [[addColumn]] that the frame does not
    * carry (no surviving file materialized them yet): null — or the
    * declared DEFAULT, when one exists. A defaulted column SOME files
    * already materialized coalesces instead (the footer-merging scan
    * null-fills pre-add files' rows; the landing refuses explicit
    * nulls in defaulted columns, so the coalesce is exact). Runs AFTER
    * column mapping, so renames/drops of added columns resolve; a
    * dropped added column is never re-surfaced. */
  private def withAdded(
      spark: SparkSession, dir: String, df: DataFrame,
      edges: Seq[(String, String)]): DataFrame = {
    val added = addedColumnsWithDefaultsOf(spark, dir)
    if (added.isEmpty) return df
    val have = df.columns.toSet
    val fill = added.flatMap { case (n, dt, d) =>
      resolveName(edges, n).map(fin => (fin, dt, d))
    }
    val extra = fill.collect {
      case (fin, dt, d) if !have.contains(fin) =>
        d.map(s => expr(s).cast(dt)).getOrElse(lit(null).cast(dt)).as(fin)
    }
    val coalesced: Map[String, Column] = fill.collect {
      case (fin, dt, Some(d)) if have.contains(fin) =>
        fin -> coalesce(col(fin), expr(d).cast(dt)).as(fin)
    }.toMap
    if (extra.isEmpty && coalesced.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      coalesced.getOrElse(c, col(c))) ++ extra: _*)
  }

  /** Declared-type gates for incoming batches: added columns must
    * arrive at their declared type, and the FIRST commit of a
    * [[createEmpty]] table must carry exactly the declared columns at
    * the declared types — after it, parquet footers are the schema of
    * record and the ordinary append checks take over. */
  private def enforceDeclaredTypes(
      spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val added = addedColumnsOf(spark, dir)
    if (added.nonEmpty) {
      val edges = colMapOf(spark, dir)
      val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
      added.foreach { case (n, dt) =>
        resolveName(edges, n).foreach { fin =>
          byName.get(fin).foreach { got =>
            require(got == dt,
              s"PartitionedTable: column $fin under $dir was added as " +
                s"${dt.simpleString}; batch carries ${got.simpleString} " +
                "(cast upstream — declared types are the contract)")
          }
        }
      }
    }
    if (versions(spark, dir).isEmpty) {
      declaredSchemaOf(spark, dir).foreach { case (schema, _) =>
        val logical = logicalColumns(spark, dir)
        // rule-derived partition columns ride along without being
        // declared (the engine adds them on every write)
        val genNames =
          generatedLevelsOf(spark, dir).map(derivedColsOf).getOrElse(Set.empty)
        require((df.columns.toSet -- genNames) == logical.toSet,
          s"PartitionedTable: first commit under $dir must carry exactly " +
            s"the declared columns [${logical.sorted.mkString(",")}]; got " +
            s"[${df.columns.sorted.mkString(",")}]")
        val edges = colMapOf(spark, dir)
        val declaredTypes =
          schema.fields.map(f => (f.name, f.dataType)) ++ added
        declaredTypes.foreach { case (n, dt) =>
          resolveName(edges, n).foreach { fin =>
            val got = df.schema(fin).dataType
            require(got == dt,
              s"PartitionedTable: declared column $fin under $dir is " +
                s"${dt.simpleString}; first commit carries " +
                s"${got.simpleString}")
          }
        }
      }
    }
  }

  /** Live partition values of table version `asOf` (default newest)
    * whose LEVEL(S) derived from `srcCol` render — each partition's
    * segment tested under ITS OWN epoch's rule for that level, the
    * [[readWhereSrcLevels]] attribution (a '1996-01' month segment
    * matches '1996-01-15'; a post-evolution '1996-02-10' day segment
    * matches only that day) — equal to some literal in `values`. The
    * point-set analogue of the range mapping. Levels deriving from
    * other source columns are unconstrained (the join key bounds only
    * its own level; the residual join condition above stays the exact
    * gate). What a runtime (join-driven) prune of a generated table
    * needs when a dim joins on a level's source column — the
    * calendar-dim star shape, or the reference's bronze
    * status×year/month layout. Driver-side: O(#live × #values) string
    * truncations over manifest metadata. */
  def partitionsForSourceValuesLevels(
      spark: SparkSession, dir: String, srcCol: String, values: Seq[String],
      asOf: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val levels = generatedLevelsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no level spec declared under $dir — " +
          "source-value partition mapping needs one"))
    val idxs = levels.indices.filter(i => levels(i).srcCol == srcCol)
    require(idxs.nonEmpty,
      s"PartitionedTable: no level of $dir derives from '$srcCol' " +
        s"(levels: ${levels.map(l => s"${l.name}(${l.srcCol})").mkString(", ")})")
    val chains = levelEpochsOf(spark, dir).get
    manifest(spark, dir, asOf.getOrElse(vs.max)).keysIterator
      .map(n => ExternalCatalogUtils.unescapePathName(
        n.stripPrefix(s"$PartDir=")))
      .filter { comp =>
        val parts = segmentsOf(levels, comp)
        parts.length == levels.length && idxs.forall { i =>
          val g = epochRuleOf(chains(i), parts(i))
          values.exists(v => g.ofLiteral(v) == parts(i))
        }
      }.toSeq.sorted
  }

  /** Star-join partition pruning — the manifest-level analogue of
    * Spark's dynamic partition pruning, for the one join shape a
    * partitioned fact table exists for: fact ⋈ selective dim on the
    * fact's partition column. The dim side's DISTINCT join keys
    * resolve driver-side (dimension-key-count-sized — the side you'd
    * broadcast anyway), the manifest keeps only matching partitions,
    * and the join itself rides a broadcast of the dim. Fact partitions
    * the dim filter excludes are never listed or opened, so at 100 TB
    * the scan is proportional to the dim's selectivity, not the
    * fact's size. `dimJoinCol` is renamed onto `factPartCol` for a
    * USING join (one key column out). */
  def readJoinPruned(
      spark: SparkSession, dir: String, factPartCol: String,
      dim: DataFrame, dimJoinCol: String,
      asOf: Option[Long] = None): DataFrame = {
    val d = dim.withColumnRenamed(dimJoinCol, factPartCol)
    val values = d.select(col(factPartCol).cast(StringType)).distinct()
      .collect().map(_.getString(0)).toSeq.filter(_ != null).sorted
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    val m = manifest(spark, dir, v)
    val wanted = values.map(escape).toSet
    val live = m.filter(kv => wanted.contains(kv._1))
    val fact =
      if (live.nonEmpty) readMapped(spark, dir, live)
      else read(spark, dir, Some(v)).limit(0) // dim matches nothing: empty
    fact.join(broadcast(d), Seq(factPartCol))
  }

  /** Partition-level retention on a ONE-LEVEL generated table: drop
    * every partition whose generated value sorts strictly BELOW
    * `gen(cutoff)` — one manifest commit, zero data movement (the
    * stores become unreferenced and [[vacuum]] collects them later).
    * This is what retention actually costs at 100 TB: dropping a
    * thousand expired day-partitions is a metadata operation, where
    * `DELETE WHERE date < cutoff` would rewrite them all first.
    * Partition-granular by design: rows in the BOUNDARY partition
    * (same truncation as the cutoff) are kept even when their source
    * value is below it — route through [[merge]] deletes for
    * row-exact trims. The dropped versions stay readable via time
    * travel until vacuum. Returns the dropped partition values (empty
    * = nothing expired, no commit minted). */
  def expirePartitions(
      spark: SparkSession, dir: String, cutoff: String,
      at: String = ""): Seq[String] = {
    val chains = levelEpochsOf(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: no generation rule declared under $dir — " +
          "retention needs the partition-value ordering a rule defines"))
    require(chains.size == 1,
      s"PartitionedTable: retention needs a one-level spec under $dir " +
        s"(have ${chains.size} levels — composite values have no cutoff order)")
    val cur = latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"PartitionedTable: nothing to expire under $dir"))
    val m = manifest(spark, dir, cur)
    // spec evolution: the cutoff renders under each partition's OWN
    // epoch (a month partition tested against a day-rule bound would
    // drop the boundary month whose tail days survive the cutoff)
    val dropped = m.keys.toSeq.map(n =>
      ExternalCatalogUtils.unescapePathName(n.stripPrefix(s"$PartDir=")))
      .filter { p =>
        val bound = epochRuleOf(chains.head, p).ofLiteral(cutoff)
        utf8Le(p, bound) && p != bound
      }
      .sorted
    if (dropped.isEmpty) return Nil
    val keep = m -- dropped.map(escape)
    require(keep.nonEmpty,
      s"PartitionedTable: expire($cutoff) would drop EVERY partition " +
        s"under $dir — refusing to mint an empty table version")
    commitManifest(spark, dir, keep,
      Some(metaLine("expire", dropped.size, keep.size, at)))
    dropped
  }

  /** DESCRIBE DETAIL — the operator's first read during an incident:
    * one row per live partition of table version `asOf` (default
    * newest) with (partition value, pinned store version, where it
    * resolves (`local`/`source` for clones), file count, data bytes,
    * footer row count, is_dv, has_stats, has_bloom). Driver-side
    * FOOTER/listing metadata only — never a data scan; cost is
    * O(#partitions) listings, the same order as planning any read of
    * the table. */
  /** Above this many partitions, [[describeDetail]] runs its footer
    * reads as a SPARK JOB instead of a driver loop (override per call).
    * At millions of partitions, serial driver-side listings + footer
    * opens are the bottleneck; each partition's metadata work is
    * independent, so it distributes embarrassingly. */
  val DetailDistributedThreshold: Int = 1024

  /** One partition's DESCRIBE DETAIL row, computed from a bare Hadoop
    * conf — no SparkSession, so it runs identically on the driver (the
    * fast path) and inside executor tasks (the distributed path); both
    * paths ARE this function, identical output by construction. */
  private def detailRowOf(
      conf: org.apache.hadoop.conf.Configuration, dir: String,
      cloneSrc: Option[String], name: String, sv: Long):
      (String, Long, String, Long, Long, Long, Boolean, Boolean, Boolean) = {
    def fsOf(p: Path) = p.getFileSystem(conf)
    val local = new Path(dir, name).toString
    val storeDir = cloneSrc match {
      case None => local
      case Some(src) =>
        val lp = VersionedStore.path(local, sv)
        if (fsOf(lp).exists(lp)) local else new Path(src, name).toString
    }
    val resolved =
      if (cloneSrc.isEmpty || storeDir.startsWith(dir)) "local" else "source"
    def baseOf(p: Path): Option[Long] = {
      val bp = new Path(p, BaseFile)
      val hfs = fsOf(bp)
      if (!hfs.exists(bp)) None
      else {
        val in = hfs.open(bp)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
        finally in.close()
      }
    }
    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val hfs = fsOf(p)
      if (!hfs.exists(p)) Nil
      else hfs.listStatus(p).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    def footerRows(p: Path): Long = dataFiles(p).map { s =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    val pinned = VersionedStore.path(storeDir, sv)
    val base = baseOf(pinned)
    val isDv = base.isDefined
    val effDir = VersionedStore.path(storeDir, base.getOrElse(sv))
    val files = dataFiles(effDir)
    // live rows on a merge-on-read delta: the base's footer count
    // minus tombstones plus appended upsert rows
    val rowCount = footerRows(effDir) -
      (if (isDv) footerRows(new Path(pinned, DvDir)) else 0L) +
      (if (isDv && fsOf(pinned).exists(new Path(pinned, AppendDir)))
        footerRows(new Path(pinned, AppendDir))
      else 0L)
    (ExternalCatalogUtils.unescapePathName(name.stripPrefix(s"$PartDir=")),
      sv, resolved, files.size.toLong, files.map(_.getLen).sum, rowCount,
      isDv,
      fsOf(effDir).exists(new Path(effDir, StatsDir)),
      fsOf(effDir).exists(new Path(effDir, BloomDir)))
  }

  /** Plan-time ROW-COUNT estimate for table version `asOf` (None =
    * latest), optionally restricted to partition VALUES: the sum of
    * every live slice's footer row counts — EXACT for full slices, and
    * exact for merge-on-read deltas too (base footers − tombstones +
    * appended rows, the [[describeDetail]] math). Feeds the SQL
    * planner: CBO join estimation consumes `numRows` directly, and
    * when the byte estimate is unavailable Spark derives a usable
    * `sizeInBytes` from rows × schema width — so a rows-only estimate
    * still unlocks auto-broadcast. Returns None past `maxSlices` live
    * slices (same argument as [[estimateBytes]]); cost is one listing
    * + footer reads per UNCACHED slice, amortized to zero by the
    * slice cache ([[SliceMeta]]). */
  def estimateRows(
      spark: SparkSession, dir: String, asOf: Option[Long] = None,
      partitions: Option[Seq[String]] = None,
      maxSlices: Int = 4096): Option[Long] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) return Some(0L)
    val v = asOf.getOrElse(vs.max)
    if (!vs.contains(v)) return None
    val m0 = manifest(spark, dir, v)
    val m = partitions match {
      case Some(vals) =>
        val wanted = vals.map(escape).toSet
        m0.filter(kv => wanted.contains(kv._1))
      case None => m0
    }
    if (m.size > maxSlices) return None
    val cloneSrc = cloneSrcOf(spark, dir)
    def sliceRows(storeDir: String, sv: Long): Long = {
      val pinned = VersionedStore.path(storeDir, sv)
      val key = pinned.toString
      sliceMetaOf(key).flatMap(_.rows).getOrElse {
        val rows = dvBaseOf(spark, storeDir, sv) match {
          case None => VersionedStore.footerRowCount(spark, pinned)
          case Some(b) => // live rows of a MoR delta: base − DV + appends
            val hfs = VersionedStore.fs(spark, storeDir)
            val app = new Path(pinned, AppendDir)
            VersionedStore.footerRowCount(spark,
              VersionedStore.path(storeDir, b)) -
              VersionedStore.footerRowCount(spark, new Path(pinned, DvDir)) +
              (if (hfs.exists(app)) VersionedStore.footerRowCount(spark, app)
               else 0L)
        }
        updateSliceMeta(key)(_.copy(rows = Some(rows)))
        rows
      }
    }
    Some(m.toSeq.map { case (name, sv) =>
      sliceRows(storeDirOf(spark, dir, cloneSrc, name, sv), sv)
    }.sum)
  }

  /** Plan-time SIZE ESTIMATE for table version `asOf` (None = latest),
    * optionally restricted to partition VALUES: the sum of every live
    * slice's on-disk bytes. Sidecars are included and a merge-on-read
    * delta adds its whole base chain — both overestimate, which is the
    * safe direction for the one decision this feeds (can the SQL
    * planner auto-broadcast this table?). Returns None past
    * `maxSlices` live slices: a table that wide is no broadcast
    * candidate, and the caller should fall back to Spark's default
    * rather than pay a wide driver-side listing at plan time. Cost is
    * one `getContentSummary` per UNCACHED slice ([[SliceMeta]]), so a
    * table's steady-state estimate is manifest-read-only (which
    * is also why the cap can sit at thousands of slices: the wide
    * listing is paid once per process, not once per plan). */
  def estimateBytes(
      spark: SparkSession, dir: String, asOf: Option[Long] = None,
      partitions: Option[Seq[String]] = None,
      maxSlices: Int = 4096): Option[Long] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) return Some(0L)
    val v = asOf.getOrElse(vs.max)
    if (!vs.contains(v)) return None
    val m0 = manifest(spark, dir, v)
    val m = partitions match {
      case Some(vals) =>
        val wanted = vals.map(escape).toSet
        m0.filter(kv => wanted.contains(kv._1))
      case None => m0
    }
    if (m.size > maxSlices) return None
    val cloneSrc = cloneSrcOf(spark, dir)
    // per-slice FS resolution: a shallow clone's slices can point into
    // the clone SOURCE's directory, which may live on a different
    // filesystem/scheme than the clone's own dir — the table-dir handle
    // would throw an opaque wrong-FS error there
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def sliceBytes(storeDir: String, sv: Long, depth: Int): Long = {
      val p = VersionedStore.path(storeDir, sv)
      val key = p.toString
      sliceMetaOf(key).flatMap(_.bytes).getOrElse {
        val own = p.getFileSystem(hadoopConf).getContentSummary(p).getLength
        val total = // DV delta: the base chain is read too, so count it
          if (depth >= 8) own
          else own + dvBaseOf(spark, storeDir, sv)
            .map(b => sliceBytes(storeDir, b, depth + 1)).getOrElse(0L)
        updateSliceMeta(key)(_.copy(bytes = Some(total)))
        total
      }
    }
    Some(m.toSeq.map { case (name, sv) =>
      sliceBytes(storeDirOf(spark, dir, cloneSrc, name, sv), sv, 0)
    }.sum)
  }

  def describeDetail(
      spark: SparkSession, dir: String, asOf: Option[Long] = None,
      distributed: Option[Boolean] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"PartitionedTable: no committed manifests under $dir")
    val v = asOf.getOrElse(vs.max)
    require(vs.contains(v),
      s"PartitionedTable: manifest v=$v not committed under $dir")
    val cloneSrc = cloneSrcOf(spark, dir)
    val entries = manifest(spark, dir, v).toSeq.sortBy(_._1)
    val useJob = distributed.getOrElse(entries.size > DetailDistributedThreshold)
    import spark.implicits._
    val rows =
      if (!useJob) {
        val conf = spark.sparkContext.hadoopConfiguration
        entries.map { case (name, sv) =>
          detailRowOf(conf, dir, cloneSrc, name, sv) }.toDF()
      } else {
        // ship the session's Hadoop conf as plain entries (executors
        // rebuild it once per task partition) and fan the per-partition
        // footer/listing work across the cluster
        import scala.jdk.CollectionConverters._
        val confEntries = spark.sparkContext.hadoopConfiguration
          .iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
        val slices = math.min(entries.size,
          spark.sparkContext.defaultParallelism * 4).max(1)
        spark.sparkContext.parallelize(entries, slices)
          .mapPartitions { it =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, value) => conf.set(k, value) }
            it.map { case (name, sv) =>
              detailRowOf(conf, dir, cloneSrc, name, sv) }
          }.toDF()
      }
    rows.toDF("partition", "store_version", "resolves", "n_files",
      "bytes", "n_rows", "is_dv", "has_stats", "has_bloom")
  }

  /** Per-JVM scratch root (the [[VersionedTable]] pattern: one temp dir
    * per process, removed at exit; per-invocation state reset inside
    * the query so repeated bench passes stay deterministic). */
  private lazy val workDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-partitioned-table")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(d.toFile)
    }
    d
  }

  val defs: Seq[QueryDef] = Seq(
    // Partition-scoped MERGE, hash-gated: commit orders partitioned by
    // o_orderstatus, apply a change batch confined to the 'F'
    // partition (keys ≡1 insert as key+10^8, ≡3 upsert +100, ≡7
    // delete — all closed-form), then aggregate BOTH table versions
    // per partition. The oracle recomputes each version from the
    // source table, so a merge that loses/duplicates a row OR leaks
    // the edit into an untouched partition breaks the hash; the
    // untouched partitions' file-level byte identity is spec'd in
    // PartitionedTableSpec.
    QueryDef.sql("q81_partitioned_merge",
      """WITH v1 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 1)
        |SELECT 0 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q81_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val batch = orders.filter(inF && touched.isin(1, 3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
        .withColumn("o_orderkey", // key-shift LAST: ≡1 rows become inserts
          when(touched === 1, col("o_orderkey") + 100000000L)
            .otherwise(col("o_orderkey")))
      merge(s, store, batch, "o_orderkey", "o_orderstatus")
      val byVersion = Seq(0L, 1L).map { v =>
        read(s, store, asOf = Some(v)).withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Two-level data skipping, hash-gated: commit orders partitioned
    // by o_orderstatus AND range-clustered on o_orderdate within each
    // partition (repartitionByRange on (status, date) before the
    // partitionBy write → per-partition files hold disjoint date
    // ranges) with a per-file min/max stats sidecar. The probe then
    // answers "status F, year 1996" through readWhere: the manifest
    // prunes partitions O/P entirely, the stats sidecar prunes F's
    // out-of-range files, and the residual filter keeps the result
    // exact — the hash must equal DuckDB filtering the source
    // directly. File/partition pruning counts are asserted in
    // PartitionedTableSpec; here the gate is exactness.
    QueryDef.sql("q84_two_level_skipping",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q84_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_orderpriority",
        "o_totalprice")
      commit(s, store,
        orders.repartitionByRange(24, col("o_orderstatus"), col("o_orderdate")),
        "o_orderstatus", statsCols = Seq("o_orderdate"))
      readWhere(s, store, "o_orderdate",
        to_date(lit("1996-01-01")), to_date(lit("1996-12-31")),
        partValues = Some(Seq("F")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Deletion vectors, hash-gated: commit orders partitioned by
    // status, apply a DELETE-ONLY batch (keys ≡7 mod 10 in 'F') — the
    // merge lands a tombstone sidecar, never rewriting the partition
    // (spec'd at file level in PartitionedTableSpec) — then aggregate
    // BOTH versions. The oracle recomputes each version closed-form,
    // so a DV that suppresses the wrong rows, leaks a tombstone into
    // another partition, or fails to filter on read breaks the hash;
    // version 0's rows prove time travel reads AROUND the tombstones.
    QueryDef.sql("q85_deletion_vectors",
      """SELECT 0 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7)
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q85_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      val doomed = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 7)
        .withColumn("op", lit("delete"))
      merge(s, store, doomed, "o_orderkey", "o_orderstatus")
      val byVersion = Seq(0L, 1L).map { v =>
        read(s, store, asOf = Some(v)).withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Deletion-vector GROWTH GUARD, hash-gated: the same commit, then
    // two delete-only merges with opposite routings — keys ≡7 mod 100
    // in 'F' (~1% of the partition, inside the fraction bound → DV
    // delta) and even keys in 'O' (50% > the 30% bound → full
    // rewrite). dv_parts pins the ROUTING per version via the
    // dvPartitions introspection (0 → 1 → 1: F's delta persists, O
    // folds full), and the per-status aggregates over all three
    // versions pin exactness across both routes — a guard that
    // mis-routes, double-applies, or loses rows on the rewrite path
    // breaks the hash. The fraction test holds at every SF (it scales
    // with the data), so the literals are scale-stable.
    QueryDef.sql("q86_dv_growth_guard",
      """WITH v1 AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 100 = 7)),
        |v2 AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 100 = 7)
        |    AND NOT (o_orderstatus = 'O' AND o_orderkey % 2 = 0))
        |SELECT 0 AS version, 0 AS dv_parts, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, 1 AS dv_parts, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 2 AS version, 1 AS dv_parts, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v2 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q86_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      val underBound = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 100 === 7)
        .withColumn("op", lit("delete"))
      merge(s, store, underBound, "o_orderkey", "o_orderstatus")
      val overBound = orders
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
        .withColumn("op", lit("delete"))
      merge(s, store, overBound, "o_orderkey", "o_orderstatus")
      val byVersion = Seq(0L, 1L, 2L).map { v =>
        read(s, store, asOf = Some(v))
          .withColumn("version", lit(v.toInt))
          .withColumn("dv_parts", lit(dvPartitions(s, store, v).size))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "dv_parts", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // RESTORE, hash-gated: commit orders (v0), apply the q81-shaped
    // merge (v1: inserts ≡1 as key+10^8, upserts ≡3 at +100, deletes
    // ≡7 — all in 'F'), then RESTORE to v0 (v2) — a pure manifest
    // commit, zero data movement (file-level identity and the undo
    // change feed are spec'd in PartitionedTableSpec). The gate
    // aggregates ALL THREE versions and joins each version's history
    // OPERATION into the output, so a restore that copies wrong
    // pointers, half-reverts, or mislabels its commit breaks the hash;
    // v2 ≡ v0 exactness IS the restore contract.
    QueryDef.sql("q88_restore",
      """WITH v1 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7)
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 1)
        |SELECT 0 AS version, 'commit' AS operation, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1 AS version, 'merge' AS operation, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 2 AS version, 'restore' AS operation, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q88_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val batch = orders.filter(inF && touched.isin(1, 3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
        .withColumn("o_orderkey",
          when(touched === 1, col("o_orderkey") + 100000000L)
            .otherwise(col("o_orderkey")))
      merge(s, store, batch, "o_orderkey", "o_orderstatus")
      restore(s, store, 0L)
      val ops = history(s, store).select("version", "operation")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap // 3 rows
      val byVersion = Seq(0L, 1L, 2L).map { v =>
        read(s, store, asOf = Some(v))
          .withColumn("version", lit(v.toInt))
          .withColumn("operation", lit(ops(v)))
      }.reduce(_ unionByName _)
      byVersion.groupBy("version", "operation", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Bloom point-lookup skipping, hash-gated: commit orders hashed
    // into 8 files per status partition with a `_bloom` sidecar on
    // o_orderkey — a HIGH-CARDINALITY UNCLUSTERED key, the shape
    // min/max stats can't prune (every file's range spans the
    // keyspace). Probe each status's min key through readEq (partition
    // prune + bloom file prune compose) plus a guaranteed-miss key
    // (global max + 1, pruned to zero files); the residual filter
    // keeps results exact at any fpp, so the hash against DuckDB's
    // plain point lookups gates correctness while the file-pruning
    // counts are asserted in PartitionedTableSpec.
    QueryDef.sql("q89_bloom_point_lookup",
      """SELECT o.o_orderstatus AS probe, o.o_orderkey, o.o_orderstatus,
        |       round(o.o_totalprice, 2) AS price
        |FROM orders o
        |JOIN (SELECT o_orderstatus, min(o_orderkey) AS k
        |      FROM orders GROUP BY o_orderstatus) m
        |  ON o.o_orderstatus = m.o_orderstatus AND o.o_orderkey = m.k""".stripMargin) { (s, dir) =>
      // fixture cached per (JVM, dir): the entry times the bloom-pruned
      // POINT LOOKUPS, not a repeated fixture commit (FixtureCache doc)
      val (store, probes) = graft.FixtureCache.once("q89", dir) {
        val st = workDir.resolve(
          "q89_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
        val hfs = VersionedStore.fs(s, st)
        hfs.delete(new Path(st), true)
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        commit(s, st, orders.repartition(8, col("o_orderkey")),
          "o_orderstatus", bloomCols = Seq("o_orderkey"))
        (st, orders.groupBy("o_orderstatus")
          .agg(min("o_orderkey").as("k"), max("o_orderkey").as("mx"))
          .collect() // 3 rows (one per status)
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
      }
      val miss = probes.map(_._3).max + 1
      val found = probes.toSeq.map { case (status, k, _) =>
        readEq(s, store, "o_orderkey", lit(k),
          partValues = Some(Seq(status)))
          .withColumn("probe", lit(status))
      }
      val missed = readEq(s, store, "o_orderkey", lit(miss))
        .withColumn("probe", lit("miss"))
      (found :+ missed).reduce(_ unionByName _)
        .select(col("probe"), col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
    },

    // Z-order + multi-dimension skipping, hash-gated: commit orders
    // partitioned by status and range-clustered on the INTERLEAVED
    // (custkey, orderdate) Z-value, with min/max sidecars on both
    // dimensions — each file's range is tight in both at once, where
    // q84's single-key clustering is tight only in its lead column.
    // The probe is a 2-D box (low-quarter custkeys × year 1996 in 'F')
    // through readWhereAll: the manifest prunes partitions, the
    // sidecar prunes files failing EITHER dimension, and the residual
    // conjunction keeps the result exact — the hash must equal DuckDB
    // filtering the source directly. The z-vs-range pruning advantage
    // is asserted in PartitionedTableSpec; here the gate is exactness.
    QueryDef.sql("q90_zorder_skipping",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_custkey BETWEEN 1 AND (SELECT max(o_custkey) // 4 FROM orders)
        |  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q90_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_custkey", "o_orderdate",
        "o_orderpriority", "o_totalprice")
      val days = datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
      val bounds = orders.agg(
        max("o_custkey").as("ck"), max(days).as("dd")).head // scalar
      val (ckMax, ddMax) = (bounds.getLong(0), bounds.getInt(1).toLong)
      val z = ZOrder.zvalueScaled(col("o_custkey"), ckMax, days, ddMax)
      commit(s, store,
        orders.repartitionByRange(24, col("o_orderstatus"), z),
        "o_orderstatus", statsCols = Seq("o_custkey", "o_orderdate"))
      readWhereAll(s, store, Seq(
        ("o_custkey", lit(1L), lit(ckMax / 4)),
        ("o_orderdate", to_date(lit("1996-01-01")), to_date(lit("1996-12-31")))),
        partValues = Some(Seq("F")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // OPTIMIZE ZORDER end-to-end, hash-gated: commit orders SCATTERED
    // (hash on orderkey — every file spans both probe dimensions, so
    // min/max stats prune nothing), then optimizePartitions reclusters
    // ONLY the 'F' partition on the interleaved z-value, INHERITING the
    // stats sidecar columns from the committed version (not re-stated —
    // the inheritance path is part of what's gated). The probe reads
    // the optimized table version through readWhereAll; the hash must
    // equal DuckDB filtering the source directly, proving the rewrite
    // moved bytes without changing a row. The pruning-improvement and
    // untouched-pointer assertions live in PartitionedTableSpec.
    QueryDef.sql("q91_optimize_zorder",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_custkey BETWEEN 3 * ((SELECT max(o_custkey) FROM orders) // 4)
        |                    AND (SELECT max(o_custkey) FROM orders)
        |  AND o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q91_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_custkey", "o_orderdate",
        "o_orderpriority", "o_totalprice")
      commit(s, store, orders.repartition(24, col("o_orderkey")),
        "o_orderstatus", statsCols = Seq("o_custkey", "o_orderdate"))
      val days = datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
      val bounds = orders.agg(
        max("o_custkey").as("ck"), max(days).as("dd")).head // scalar
      val (ckMax, ddMax) = (bounds.getLong(0), bounds.getInt(1).toLong)
      optimizePartitions(s, store,
        ZOrder.zvalueScaled(col("o_custkey"), ckMax, days, ddMax),
        partValues = Some(Seq("F")), targetBytes = 64L << 10,
        partCol = "o_orderstatus")
      readWhereAll(s, store, Seq(
        ("o_custkey", lit(3L * (ckMax / 4)), lit(ckMax)),
        ("o_orderdate", to_date(lit("1997-01-01")), to_date(lit("1997-12-31")))),
        partValues = Some(Seq("F")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // TIMESTAMP AS OF, hash-gated: commit orders (v0), stamp a probe
    // instant, merge a delete+upsert batch (v1), stamp again. Each
    // probe resolves through versionAt — between the commits it must
    // answer v0, after both v1, and a far-future ask the newest — and
    // readAt's aggregate at each probe must equal DuckDB computing the
    // corresponding state directly. A resolver that rounds to the
    // wrong side, trusts file mtimes over the stamped header, or lets
    // a later commit shadow an earlier ask breaks the hash. Resolution
    // is #versions driver-side header reads — never a data scan.
    QueryDef.sql("q92_time_travel_ts",
      """WITH v1 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7))
        |SELECT 'after_v0' AS probe, 0 AS version, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'after_v1' AS probe, 1 AS version, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'future' AS probe, 1 AS version, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM v1 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q92_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      val t0 = System.currentTimeMillis()
      Thread.sleep(2) // v1's header stamp must land strictly after t0
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val batch = orders.filter(inF && touched.isin(3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
      merge(s, store, batch, "o_orderkey", "o_orderstatus")
      val t1 = System.currentTimeMillis()
      val probes = Seq(
        ("after_v0", t0), ("after_v1", t1), ("future", t1 + 3600000L))
      probes.map { case (name, ts) =>
        val v = versionAt(s, store, ts)
        readAt(s, store, ts)
          .withColumn("probe", lit(name))
          .withColumn("version", lit(v.toInt))
      }.reduce(_ unionByName _)
        .groupBy("probe", "version", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Generated partition columns, hash-gated: commit orders
    // partitioned by the DERIVED month of o_orderdate (the rule is
    // recorded table-side, write-once), then probe a SOURCE-column
    // date range through readWhereSrcLevels — the engine maps the
    // range to month partitions via the monotone truncation, prunes the
    // manifest driver-side, and keeps the residual predicate, so the
    // hash must equal DuckDB filtering the source directly. Both probe
    // bounds fall MID-month, so a mapping that prunes the boundary
    // months or skips the residual breaks the hash. The <= 3-dirs-read
    // pruning claim and merge-side derivation are spec'd in
    // PartitionedTableSpec; here the gate is exactness.
    QueryDef.sql("q93_generated_partitions",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-03-05' AND DATE '1995-05-20'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q93_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
        .withColumn("part_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("part_month")) // one writer slice per month
      // no stats sidecar: the gate exercises manifest-level generated
      // pruning + residual; stats composition inside kept partitions
      // is spec'd in PartitionedTableSpec (saves the commit a 2nd job)
      commitLevels(s, store, orders,
        Seq(GenLevel("o_orderdate", PartGen.Month, "part_month")))
      readWhereSrcLevels(s, store, Seq(("o_orderdate", "1995-03-05", "1995-05-20")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Shallow clone with copy-on-write, hash-gated: commit orders as
    // the source, clone it (pure manifest metadata, zero data
    // movement — spec'd at file level in PartitionedTableSpec), then
    // merge a divergence batch into the CLONE only. The gate
    // aggregates three states — the source AFTER the clone's merge
    // (must still equal raw orders: write isolation), the clone's
    // pre-divergence version 0 (still resolving source stores), and
    // the clone's diverged head (upserts ≡3 at +100, deletes ≡7 in
    // 'F') — so a clone that copies wrong pointers, leaks writes to
    // the source, or shadows cloned versions with its local
    // copy-on-write stores breaks the hash.
    QueryDef.sql("q94_shallow_clone",
      """WITH diverged AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7))
        |SELECT 'source' AS state, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'clone_v0' AS state, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'clone_head' AS state, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM diverged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val srcStore = workDir.resolve(
        "q94src_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val dstStore = workDir.resolve(
        "q94dst_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, srcStore)
      hfs.delete(new Path(srcStore), true)
      hfs.delete(new Path(dstStore), true)
      val orders = Tables.orders(s, dir)
      commit(s, srcStore, orders, "o_orderstatus")
      cloneTable(s, srcStore, dstStore)
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val batch = orders.filter(inF && touched.isin(3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
      merge(s, dstStore, batch, "o_orderkey", "o_orderstatus")
      val states = Seq(
        ("source", read(s, srcStore)),
        ("clone_v0", read(s, dstStore, asOf = Some(0L))),
        ("clone_head", read(s, dstStore)))
      states.map { case (name, df) => df.withColumn("state", lit(name)) }
        .reduce(_ unionByName _)
        .groupBy("state", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Star-join partition pruning, hash-gated: commit customer
    // partitioned by nation key, then join it to the EUROPE slice of
    // the nation dim through readJoinPruned — the dim's 5 surviving
    // keys resolve driver-side, the manifest keeps 5 of 25 customer
    // partitions (the other 20 are never listed or opened — the spec
    // asserts it at inputFiles level), and the join rides a broadcast.
    // The hash must equal DuckDB joining the raw tables, so pruning
    // that drops a matching partition, keeps a spurious one, or
    // mangles the USING-join key breaks the gate.
    QueryDef.sql("q95_join_pruned",
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |       round(sum(c.c_acctbal), 2) AS bal
        |FROM customer c
        |JOIN nation n ON CAST(c.c_nationkey AS VARCHAR) = CAST(n.n_nationkey AS VARCHAR)
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'EUROPE'
        |GROUP BY n.n_name""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q95_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val customer = Tables.customer(s, dir)
        .withColumn("c_nationkey", col("c_nationkey").cast(StringType))
      commit(s, store, customer, "c_nationkey")
      val dim = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast(StringType).as("n_nationkey"),
          col("n_name"))
      readJoinPruned(s, store, "c_nationkey", dim, "n_nationkey")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          round(sum("c_acctbal"), 2).as("bal"))
    },

    // CHECK constraints, hash-gated on the ACCEPT path: declare two
    // persistent constraints on a committed orders table, then run a
    // clean merge through the enforcement gate — the result must equal
    // DuckDB computing the merge directly, proving enforcement neither
    // drops, alters, nor duplicates a passing row (and n_checks pins
    // that the catalog really held both constraints at merge time).
    // The REJECT path — a violating batch failing loud with nothing
    // landed, null semantics, add-time validation, clone inheritance —
    // is exception-shaped and gated in PartitionedTableSpec.
    QueryDef.sql("q96_check_constraints",
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 7))
        |SELECT 2 AS n_checks, o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q96_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
      commit(s, store, orders, "o_orderstatus")
      addConstraint(s, store, "price_nonneg", "o_totalprice >= 0")
      addConstraint(s, store, "key_present", "o_orderkey IS NOT NULL")
      val touched = col("o_orderkey") % 10
      val inF = col("o_orderstatus") === "F"
      val batch = orders.filter(inF && touched.isin(3, 7))
        .withColumn("o_totalprice",
          when(touched === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(touched === 7, "delete").otherwise("upsert"))
      merge(s, store, batch, "o_orderkey", "o_orderstatus")
      read(s, store)
        .withColumn("n_checks", lit(constraintsOf(s, store).size))
        .groupBy("n_checks", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Partition-level retention, hash-gated: commit orders generated
    // by MONTH of o_orderdate, expire below a MID-month cutoff (a pure
    // manifest commit — zero data movement, spec'd at file level), and
    // aggregate what remains. Partition granularity is the semantic
    // under test: the boundary month survives WHOLE, so the oracle
    // keeps dates >= the cutoff's month START, not the cutoff itself —
    // a row-exact (wrong) implementation breaks the hash from the
    // boundary month's first half. n_dropped pins the drop-set size
    // to DuckDB's own count of distinct expired months.
    QueryDef.sql("q97_expire_partitions",
      """SELECT (SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS INT)
        |        FROM orders WHERE o_orderdate < DATE '1995-07-01') AS n_dropped,
        |       o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-07-01'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q97_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
        .withColumn("part_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("part_month")) // one writer slice per month
      commitLevels(s, store, orders,
        Seq(GenLevel("o_orderdate", PartGen.Month, "part_month")))
      val dropped = expirePartitions(s, store, "1995-07-15")
      read(s, store)
        .withColumn("n_dropped", lit(dropped.size))
        .groupBy("n_dropped", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Schema evolution on MERGE, hash-gated: commit a 3-column orders
    // table, then merge a batch carrying a NEW column (o_flag) with
    // allowSchemaEvolution — only the touched 'F' partition rewrites
    // with the widened schema; the untouched partitions' files keep
    // the old one and the footer-merging read null-fills. The oracle
    // recomputes the evolved table from source, so the hash breaks if
    // the new column leaks a non-null onto a kept row, vanishes from
    // an upserted row, or the evolution perturbs any row/price. The
    // strict-mode refusal and time-travel-keeps-old-schema halves are
    // exception/schema-shaped and gated in PartitionedTableSpec.
    QueryDef.sql("q98_schema_evolution",
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN 'reviewed' END AS o_flag
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(o_flag) AS BIGINT) AS n_flagged,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q98_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      commit(s, store, orders, "o_orderstatus")
      val batch = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("o_flag", lit("reviewed"))
        .withColumn("op", lit("upsert"))
      merge(s, store, batch, "o_orderkey", "o_orderstatus",
        allowSchemaEvolution = true)
      read(s, store)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_flag")).as("n_flagged"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Dynamic partition overwrite, hash-gated: commit orders
    // partitioned by o_orderstatus, then REPLACE the 'F' partition
    // wholesale with a recomputed slice (every price +1, keys ≡0 mod 5
    // dropped — rows a key-matched merge could never remove without
    // being told each key) while O and P carry over as pure manifest
    // metadata. The oracle rebuilds the final table from source, so a
    // leaked base row the refresh no longer produces, a lost refresh
    // row, or any bleed into an untouched partition breaks the hash;
    // n_moved pins that exactly ONE manifest pointer moved. The
    // metadata-only carry-over (file-level byte identity), blind-write
    // OCC, strict-schema refusal, and empty-batch refusal are gated in
    // PartitionedTableSpec.
    QueryDef.sql("q99_overwrite_partitions",
      """WITH refreshed AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         o_totalprice + 1 AS o_totalprice
        |  FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 5 <> 0),
        |final AS (
        |  SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderstatus <> 'F'
        |  UNION ALL SELECT * FROM refreshed)
        |SELECT 1 AS n_moved, o_orderstatus, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM final GROUP BY o_orderstatus, o_orderpriority""".stripMargin) {
      (s, dir) =>
      val store = workDir.resolve(
        "q99_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
      commit(s, store, orders, "o_orderstatus")
      val refreshed = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      val v1 = overwritePartitions(s, store, refreshed, "o_orderstatus")
      val (m0, m1) = (manifest(s, store, 0L), manifest(s, store, v1))
      val moved = m1.count { case (k, sv) => !m0.get(k).contains(sv) }
      read(s, store)
        .withColumn("n_moved", lit(moved))
        .groupBy("n_moved", "o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Column mapping, hash-gated: commit orders, RENAME
    // o_totalprice -> revenue (pure metadata — no file moves, spec'd at
    // byte level), merge a change batch under the NEW name, then DROP
    // o_orderpriority. The final aggregate must equal DuckDB
    // recomputing the evolved table from source with the same alias, so
    // the gate breaks if the rename-chain coalesce loses a pre-rename
    // row's value, the post-rename merge misroutes, or the drop leaks
    // the hidden column (n_cols pins the final logical width). Retired-
    // name refusals, chained renames, sidecar/DV interplay, and clone
    // inheritance are gated in PartitionedTableSpec.
    QueryDef.sql("q100_column_mapping",
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS revenue
        |  FROM orders)
        |SELECT 3 AS n_cols, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(revenue), 2) AS rev
        |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q100_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      commit(s, store, orders, "o_orderstatus")
      renameColumn(s, store, "o_totalprice", "revenue")
      val batch = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3)
        .withColumn("revenue", col("o_totalprice") + 100)
        .drop("o_totalprice")
        .withColumn("op", lit("upsert"))
      merge(s, store, batch, "o_orderkey", "o_orderstatus")
      dropColumn(s, store, "o_orderpriority")
      val t = read(s, store)
      t.withColumn("n_cols", lit(t.columns.length))
        .groupBy("n_cols", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("revenue"), 2).as("rev"))
    },

    // Merge-on-read upserts, hash-gated: two CHAINED in-bound change
    // batches on the 'F' partition (upserts + deletes, ~2% buckets)
    // land as deltas — tombstones over the base plus batch-sized
    // appends, the base files never rewritten (byte-level in the spec).
    // The second batch REPLACES rows the first batch appended, so the
    // gate breaks if the append fold duplicates or loses a row, a
    // tombstone leaks onto an appended key, or the delta read loses
    // exactness; n_delta pins that BOTH merges actually routed
    // merge-on-read (a fold would read the same values but flip the
    // pin to 0). Over-bound folds, skipping over deltas, and
    // describeDetail accounting are spec-gated.
    QueryDef.sql("q101_mor_upserts",
      """WITH s1 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 50 = 3
        |              THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 50 = 7)),
        |s2 AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' AND o_orderkey % 50 = 3
        |              THEN o_totalprice + 100
        |              WHEN o_orderstatus = 'F' AND o_orderkey % 50 = 11
        |              THEN o_totalprice + 50
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM s1)
        |SELECT 1 AS n_delta, o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM s2 GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q101_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      commit(s, store, orders, "o_orderstatus")
      val t = col("o_orderkey") % 50
      val inF = col("o_orderstatus") === "F"
      val b1 = orders.filter(inF && t.isin(3, 7))
        .withColumn("o_totalprice",
          when(t === 3, col("o_totalprice") + 100)
            .otherwise(col("o_totalprice")))
        .withColumn("op", when(t === 7, "delete").otherwise("upsert"))
      merge(s, store, b1, "o_orderkey", "o_orderstatus")
      val b2 = orders.filter(inF && t.isin(3, 11))
        .withColumn("o_totalprice",
          when(t === 3, col("o_totalprice") + 200)
            .otherwise(col("o_totalprice") + 50))
        .withColumn("op", lit("upsert"))
      merge(s, store, b2, "o_orderkey", "o_orderstatus")
      read(s, store)
        .withColumn("n_delta",
          lit(dvPartitions(s, store, latest(s, store).get).size))
        .groupBy("n_delta", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Multi-level partition spec, hash-gated: commit orders under a
    // TWO-LEVEL generated spec — status (prefix rule on o_orderstatus)
    // over year (of o_orderdate) — then probe with predicates on BOTH
    // source columns at once: an equality on status and a date range
    // whose bounds fall MID-year. The engine maps each predicate
    // through its own level's rule and intersects, so only the probed
    // status's in-range year combinations are ever opened (the
    // ≤-expected-dirs claim is plan-asserted in PartitionedTableSpec);
    // the residual conjunction keeps mid-year bounds exact. The oracle
    // filters the source directly — a composite that mis-renders a
    // level, a pruning pass that drops a boundary year, or level
    // constraints that fail to compose breaks the hash.
    QueryDef.sql("q104_level_partitions",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderdate BETWEEN DATE '1995-03-15' AND DATE '1996-10-05'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q104_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderstatus", "o_orderdate",
        "o_orderpriority", "o_totalprice")
      commitLevels(s, store, orders, Seq(
        GenLevel("o_orderstatus", PartGen.Prefix(1), "status"),
        GenLevel("o_orderdate", PartGen.Year, "year")),
        statsCols = Seq("o_orderdate"))
      readWhereSrcLevels(s, store, Seq(
        ("o_orderstatus", "F", "F"),
        ("o_orderdate", "1995-03-15", "1996-10-05")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Partition-spec EVOLUTION, hash-gated: commit pre-1996 orders under
    // YEAR granularity, evolve the rule to MONTH (one metadata file,
    // zero data movement), land 1996+ orders through the evolved merge
    // (they derive month partitions; the pre-evolution years stay in
    // their old layout), then probe a source-date range that SPANS the
    // boundary. Pruning attributes each partition to its own epoch —
    // the 1995 year-partition must survive a range whose month
    // rendering would exclude it, and only in-range 1996 months open —
    // and the residual keeps mid-period bounds exact. The oracle
    // filters the source directly, so wrong epoch attribution, a
    // boundary partition pruned under the wrong rule, or rows lost in
    // the evolved merge break the hash. Dirs-opened and the
    // stale-partition merge guard are spec'd in PartitionedTableSpec.
    QueryDef.sql("q105_spec_evolution",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-03-15' AND DATE '1996-10-05'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val store = workDir.resolve(
        "q105_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      val hfs = VersionedStore.fs(s, store)
      hfs.delete(new Path(store), true)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
      val cut = to_date(lit("1996-01-01"))
      commitLevels(s, store, orders.filter(col("o_orderdate") < cut),
        Seq(GenLevel("o_orderdate", PartGen.Year, "pd")))
      evolveGenLevel(s, store, "pd", PartGen.Month)
      mergeLevels(s, store,
        orders.filter(col("o_orderdate") >= cut)
          .withColumn("op", lit("upsert")),
        "o_orderkey")
      readWhereSrcLevels(s, store, Seq(("o_orderdate", "1995-03-15", "1996-10-05")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    },

    // Spec evolution × MULTI-LEVEL specs, hash-gated (q104 + q105
    // composed — the reference's bronze year/month layout evolved at
    // ONE level): commit 1995 orders under year/month levels, evolve
    // the month LEVEL to day granularity (the 1995 combinations keep
    // their 'yyyy/yyyy-MM' layout), merge 1996-H1 orders (landing as
    // 'yyyy/yyyy-MM-dd'), then probe a source-date range SPANNING the
    // boundary. Pruning attributes each combination's month/day
    // SEGMENT to its own epoch while the year level composes
    // unchanged, and the residual keeps mid-period bounds exact. The
    // oracle filters the source directly, so wrong per-level epoch
    // attribution, a boundary month pruned under the day rule, or rows
    // lost in the post-evolution merge break the hash. Dirs-opened
    // attribution and the cross-epoch merge clash guard are spec'd in
    // PartitionedTableSpec.
    QueryDef.sql("q109_level_evolution",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-11-15' AND DATE '1996-02-10'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val store = workDir.resolve(s"q109_$sfx").toString
      val hfs = VersionedStore.fs(s, store)
      val orders = Tables.orders(s, dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
      val cut = to_date(lit("1996-01-01"))
      // the two-level 1995 base commits ONCE per (JVM, dir); each pass
      // clones it metadata-only — level specs carry over with the
      // clone — so the entry times the evolution + cross-boundary
      // merge, not a repeated base build
      val base = graft.FixtureCache.once("q109", dir) {
        val b = workDir.resolve(s"q109_base_$sfx").toString
        VersionedStore.fs(s, b).delete(new Path(b), true)
        commitLevels(s, b,
          orders.filter(col("o_orderdate") >= to_date(lit("1995-01-01")) &&
            col("o_orderdate") < cut),
          Seq(GenLevel("o_orderdate", PartGen.Year, "py"),
            GenLevel("o_orderdate", PartGen.Month, "pm")))
        b
      }
      hfs.delete(new Path(store), true)
      cloneTable(s, base, store)
      evolveGenLevel(s, store, "pm", PartGen.Day)
      // merge window = 1996-Q1: the probe range ends 1996-02-10, so Q1
      // covers it with margin while the post-evolution landing writes
      // ~90 day-partitions instead of ~180 — the entry times the
      // evolution + cross-boundary merge, not partition-count padding
      mergeLevels(s, store,
        orders.filter(col("o_orderdate") >= cut &&
          col("o_orderdate") < to_date(lit("1996-04-01")))
          .withColumn("op", lit("upsert")),
        "o_orderkey")
      readWhereSrcLevels(s, store,
        Seq(("o_orderdate", "1995-11-15", "1996-02-10")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("rev"))
    }
  )
}
