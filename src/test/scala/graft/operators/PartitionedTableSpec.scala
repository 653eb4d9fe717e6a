package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The partition-scoped table's contracts: a merge rewrites ONLY
  * touched partitions (file-level byte identity on the rest), the
  * manifest rename is the single commit point (no torn multi-partition
  * merge, ever), and the change feed never scans unchanged partitions.
  */
class PartitionedTableSpec extends SparkSpec {

  private def freshStore(): String =
    Files.createTempDirectory("ptable").toString + "/table"

  /** (path, length, mtime) of every data file under a partition dir —
    * byte-identity proxy across table versions. */
  private def files(dir: String, part: String): Seq[(String, Long, Long)] = {
    val hfs = VersionedStore.fs(spark, dir)
    def walk(p: Path): Seq[(String, Long, Long)] =
      hfs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    walk(new Path(dir, part)).sortBy(_._1)
  }

  private def table(n: Int) = spark.range(n).select(
    col("id").as("k"),
    concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
    (col("id") * 10).as("v"))

  test("merge commits only touched partitions; untouched files are byte-identical across versions") {
    import spark.implicits._
    val dir = freshStore()
    assert(PartitionedTable.commit(spark, dir, table(100), "part") === 0L)
    assert(PartitionedTable.read(spark, dir).count() === 100)

    val before = Seq("__part=p0", "__part=p2", "__part=p3").map(p => p -> files(dir, p)).toMap

    // a batch confined to partition p1: update k=1, delete k=5, insert k=401
    val batch = Seq(
      (1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"),
      (401L, "p1", 4010L, "upsert")).toDF("k", "part", "v", "op")
    assert(PartitionedTable.merge(spark, dir, batch, "k", "part") === 1L)

    // content: exactly the p1 edit, nothing else
    val after = PartitionedTable.read(spark, dir)
    assert(after.count() === 100, "100 - 1 delete + 1 insert")
    assert(after.filter(col("k") === 1).head.getLong(2) === 111L)
    assert(after.filter(col("k") === 5).count() === 0)
    assert(after.filter(col("k") === 401).head.getLong(2) === 4010L)
    // time travel: version 0 is intact
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L)).count() === 100)
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L))
      .filter(col("k") === 1).head.getLong(2) === 10L)

    // the heart of the contract: untouched partitions' FILES are the
    // same physical files (path + length + mtime unchanged)
    before.foreach { case (p, fs0) =>
      assert(files(dir, p) === fs0, s"untouched partition $p was rewritten")
    }
    // and only p1's pointer moved in the manifest
    val m0 = PartitionedTable.manifest(spark, dir, 0L)
    val m1 = PartitionedTable.manifest(spark, dir, 1L)
    assert(m0.keySet === m1.keySet)
    assert(m1("__part=p1") !== m0("__part=p1"))
    assert((m0 - "__part=p1") === (m1 - "__part=p1"))
  }

  test("the manifest rename is the commit point: orphan partition versions are invisible, retry recovers") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    val v0 = PartitionedTable.read(spark, dir).orderBy("k").collect().toSeq

    // simulate a merge crashing AFTER landing p1's new store version
    // but BEFORE the manifest rename: an orphan store version appears
    val p1Store = s"$dir/__part=p1"
    val orphanId = VersionedStore.versions(spark, p1Store).max + 1
    VersionedStore.commit(spark, p1Store, orphanId,
      Seq((1L, "p1", 999999L)).toDF("k", "part", "v"))

    // readers still resolve the old manifest — the torn merge is invisible
    assert(PartitionedTable.latest(spark, dir) === Some(0L))
    assert(PartitionedTable.read(spark, dir).orderBy("k").collect().toSeq === v0,
      "a landed-but-unmanifested partition version must never be read")

    // the retried merge skips over the orphan id and commits consistently
    val batch = Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op")
    assert(PartitionedTable.merge(spark, dir, batch, "k", "part") === 1L)
    val m1 = PartitionedTable.manifest(spark, dir, 1L)
    assert(m1("__part=p1") > orphanId, "retry must mint a fresh id past the orphan")
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") === 1).head.getLong(2) === 111L)
  }

  test("partition-aware change feed: unchanged partitions are never scanned; events are exact") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    val batch = Seq(
      (1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"),
      (401L, "p1", 4010L, "upsert")).toDF("k", "part", "v", "op")
    PartitionedTable.merge(spark, dir, batch, "k", "part")

    assert(PartitionedTable.changedPartitions(spark, dir, 0L, 1L) === Seq("__part=p1"))
    val feed = PartitionedTable.changes(spark, dir, 0L, 1L, "k", "part")
    // the scan provably touches only the changed partition's dirs
    val scanned = feed.inputFiles.toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains("__part=p1")),
      s"feed scanned outside the changed partition: $scanned")

    // feed columns: (part, k, op, v) — key columns lead
    val events = feed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(events === Set(
      ("p1", 1L, "update", 111L), ("p1", 5L, "delete", 50L),
      ("p1", 401L, "insert", 4010L)))

    // a partition emptied by deletes: with the growth-fraction guard
    // waived (dvMaxFraction = 1.0), the delete-only batch lands a
    // fully-tombstoned deletion-vector delta (data files untouched);
    // the feed emits pure deletes and reads exclude every p2 row.
    // (Under the DEFAULT guard a 100% wipe routes to rewrite — spec'd
    // in the growth-guard test below.)
    val wipeP2 = table(100).filter(col("part") === "p2")
      .withColumn("op", lit("delete"))
    PartitionedTable.merge(spark, dir, wipeP2, "k", "part",
      dvMaxFraction = 1.0)
    val m2 = PartitionedTable.manifest(spark, dir, 2L)
    assert(m2.contains("__part=p2"),
      "a DV-emptied partition keeps its (fully tombstoned) manifest entry")
    val hfs = VersionedStore.fs(spark, dir)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(
      VersionedStore.path(s"$dir/__part=p2", m2("__part=p2")), "_base.txt")),
      "the wipe must land as a deletion vector, not a rewrite")
    val feed2 = PartitionedTable.changes(spark, dir, 1L, 2L, "k", "part")
    assert(feed2.inputFiles.toSeq.forall(_.contains("__part=p2")))
    assert(feed2.select("op").distinct().collect().map(_.getString(0)).toSeq === Seq("delete"))
    assert(feed2.count() === 25)
    // and the table still reads (p2 rows all suppressed)
    assert(PartitionedTable.read(spark, dir).count() === 75)
  }

  test("two-level skipping: manifest prunes partitions, stats sidecar prunes files, results exact") {
    val dir = freshStore()
    // 4 partitions x clustered x-ranges: repartitionByRange on
    // (part, x) gives each partition's files disjoint x ranges
    val df = spark.range(8000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      ((col("id") * 2654435761L) % 1000).as("x"))
    PartitionedTable.commit(spark, dir,
      df.repartitionByRange(16, col("part"), col("x")), "part",
      statsCols = Seq("x"))

    val probe = PartitionedTable.readWhere(spark, dir, "x",
      lit(100L), lit(299L), partValues = Some(Seq("p1")))
    val scanned = probe.inputFiles.toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains("__part=p1")),
      s"partition pruning leaked: $scanned")
    // file skipping within the partition: fewer files than p1 holds
    val p1All = PartitionedTable.readPartitions(spark, dir, Seq("p1"))
      .inputFiles.length
    assert(scanned.length < p1All,
      s"stats pruning must skip files (${scanned.length} of $p1All)")

    // exactness vs the brute filter
    val expect = df.filter(col("part") === "p1" &&
        col("x") >= 100 && col("x") <= 299)
      .agg(count(lit(1)), sum("x")).head
    val got = probe.agg(count(lit(1)), sum("x")).head
    assert(got === expect, "skipping path diverged from brute filter")

    // no partition filter: stats still prune across ALL partitions
    val all = PartitionedTable.readWhere(spark, dir, "x", lit(100L), lit(299L))
    val totalFiles = PartitionedTable.read(spark, dir).inputFiles.length
    assert(all.inputFiles.length < totalFiles)
    assert(all.agg(count(lit(1))).head.getLong(0) ===
      df.filter(col("x") >= 100 && col("x") <= 299).count())

    // a DELETE-ONLY merge lands a DV delta over the stats-bearing base:
    // the selective read still prunes base files by the same min/max
    // test (tombstones only remove rows) AND excludes the deleted key
    import spark.implicits._
    val victim = df.filter(col("part") === "p1" &&
      col("x") >= 100 && col("x") <= 299).select("k").head.getLong(0)
    PartitionedTable.merge(spark, dir,
      Seq((victim, "p1", 0L, "delete")).toDF("k", "part", "x", "op"), "k", "part")
    val dvProbe = PartitionedTable.readWhere(spark, dir, "x", lit(100L), lit(299L),
      partValues = Some(Seq("p1")))
    assert(dvProbe.inputFiles.length < p1All,
      "DV partitions must still prune base files by stats")
    assert(dvProbe.filter(col("k") === victim).count() === 0,
      "the tombstone must hold through the stats-pruned read")
    assert(dvProbe.count() ===
      df.filter(col("part") === "p1" && col("x") >= 100 && col("x") <= 299)
        .count() - 1)

    // a merge WITHOUT stats leaves that partition full-scan but exact
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 150L, "upsert")).toDF("k", "part", "x", "op"), "k", "part")
    val after = PartitionedTable.readWhere(spark, dir, "x", lit(100L), lit(299L),
      partValues = Some(Seq("p1")))
    assert(after.filter(col("k") === 1).count() === 1,
      "post-merge reads must include the stats-less rewritten partition")
  }

  test("vacuum prunes old manifests and garbage-collects unreferenced store versions incl. orphans") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    // dvMaxRows = 0 forces full rewrites: superseded versions must be
    // UNREFERENCED to GC (a merge-on-read delta would pin its base)
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 0L)
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 0L)
    // plus an orphan from a simulated crashed merge
    val p3Store = s"$dir/__part=p3"
    VersionedStore.commit(spark, p3Store,
      VersionedStore.versions(spark, p3Store).max + 1,
      Seq((3L, "p3", 999L)).toDF("k", "part", "v"))

    val expect = PartitionedTable.read(spark, dir).orderBy("k").collect().toSeq
    val (droppedManifests, prunedStores) = PartitionedTable.vacuum(spark, dir, keep = 1)
    assert(droppedManifests === Seq(0L, 1L))
    // GC'd: p1's old version (repointed at v1), p2's old version
    // (repointed at v2), and the p3 orphan = 3
    assert(prunedStores === 3, s"expected 3 GC'd store versions, got $prunedStores")
    assert(PartitionedTable.read(spark, dir).orderBy("k").collect().toSeq === expect,
      "vacuum must not change the newest version's content")
    // every surviving store version is referenced by the kept manifest
    val m = PartitionedTable.manifest(spark, dir, 2L)
    m.foreach { case (name, sv) =>
      assert(VersionedStore.versions(spark, s"$dir/$name") === Seq(sv))
    }
    // time travel past the horizon now fails loudly
    intercept[IllegalArgumentException] {
      PartitionedTable.read(spark, dir, asOf = Some(0L))
    }
  }

  test("per-partition compaction folds only flagged partitions; unflagged files byte-identical") {
    val dir = freshStore()
    import spark.implicits._
    // p0 healthy (1 file), p1 shredded (8 tiny files via a post-commit merge)
    PartitionedTable.commit(spark, dir, table(100).coalesce(1), "part")
    val shred = table(100).filter(col("part") === "p1")
      .withColumn("v", col("v") + 1).withColumn("op", lit("upsert"))
      .repartition(8)
    PartitionedTable.merge(spark, dir, shred, "k", "part")
    val m1 = PartitionedTable.manifest(spark, dir, 1L)
    def layout(name: String) = Compaction.layoutStats(spark,
      VersionedStore.path(s"$dir/$name", m1(name)).toString)
    val (p1Files, p1Bytes) = layout("__part=p1")
    assert(p1Files === 8)
    val healthyBefore = Seq("__part=p0", "__part=p2", "__part=p3")
      .map(p => p -> files(dir, p)).toMap
    val expect = PartitionedTable.read(spark, dir).orderBy("k", "part").collect().toSeq

    val flagged = PartitionedTable.compactPartitions(
      spark, dir, targetBytes = p1Bytes, partCol = "part")
    assert(flagged === Seq("__part=p1"), s"only the shred must flag, got $flagged")
    val m2 = PartitionedTable.manifest(spark, dir, 2L)
    val (p1After, _) = Compaction.layoutStats(spark,
      VersionedStore.path(s"$dir/__part=p1", m2("__part=p1")).toString)
    assert(p1After < p1Files, s"fold must shrink the shred: $p1After vs $p1Files")
    healthyBefore.foreach { case (p, fs0) =>
      assert(files(dir, p) === fs0, s"unflagged partition $p was rewritten")
    }
    assert(PartitionedTable.read(spark, dir).orderBy("k", "part").collect().toSeq
      === expect, "compaction is layout-only")
    // below-threshold second run is a no-op
    assert(PartitionedTable.compactPartitions(
      spark, dir, targetBytes = p1Bytes, partCol = "part").isEmpty)
    assert(PartitionedTable.latest(spark, dir) === Some(2L))
  }

  test("schema evolution on merge: new columns null-fill, untouched partitions readable, time travel keeps old schema") {
    val dir = freshStore()
    import spark.implicits._
    PartitionedTable.commit(spark, dir, table(40), "part")

    // evolved batch adds a 'score' column, touching only p1
    val evolved = Seq(
      (1L, "p1", 111L, 0.9, "upsert"), (401L, "p1", 4010L, 0.5, "upsert")
    ).toDF("k", "part", "v", "score", "op")
    // strict mode refuses the widened schema
    intercept[Exception] {
      PartitionedTable.merge(spark, dir, evolved, "k", "part")
    }
    PartitionedTable.merge(spark, dir, evolved, "k", "part",
      allowSchemaEvolution = true)

    val cur = PartitionedTable.read(spark, dir)
    assert(cur.columns.toSeq === Seq("k", "part", "v", "score"),
      "the evolved column joins the table schema, base order first")
    assert(cur.count() === 41)
    val scores = cur.collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[Any]("score"))).toMap
    assert(scores(1L) === Some(0.9) && scores(401L) === Some(0.5))
    assert(scores(2L) === None, "untouched rows null-fill the new column")
    assert(scores(0L) === None, "untouched PARTITIONS null-fill too (merged footer schema)")
    // kept rows inside the touched partition also null-fill
    assert(scores(5L) === None)

    // time travel to the pre-evolution version keeps the old schema
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L)).columns.toSeq
      === Seq("k", "part", "v"))

    // merging into a not-yet-rewritten partition still needs the flag
    // (its files carry the old schema until first touched — schema
    // lives in the files, not a central log)
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, 0.1, "upsert")).toDF("k", "part", "v", "score", "op"),
      "k", "part", allowSchemaEvolution = true)
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") === 2).head.getAs[Double]("score") === 0.1)

    // the change feed crosses the evolution: the widened diff emits
    // only real edits — schema widening itself is not an event
    val feed = PartitionedTable.changes(spark, dir, 0L, 1L, "k", "part")
    assert(feed.columns.toSeq === Seq("part", "k", "op", "v", "score"))
    val events = feed.collect()
      .map(r => (r.getLong(1), r.getString(2), Option(r.getAs[Any]("score")))).toSet
    assert(events === Set(
      (1L, "update", Some(0.9)), (401L, "insert", Some(0.5))),
      s"unexpected evolved feed: $events")
  }

  test("overwritePartitions: batch partitions replace wholesale, the rest carry over byte-identical, misuse fails loud") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part") // p0-p3, 25 rows each
    val before = Seq("__part=p0", "__part=p2", "__part=p3")
      .map(p => p -> files(dir, p)).toMap

    // replace p1 with a recomputed slice: 3 rows, one brand-new key,
    // most base keys gone WITHOUT being named (merge can't do that)
    val refresh = Seq(
      (1L, "p1", 111L), (5L, "p1", 555L), (901L, "p1", 9010L)
    ).toDF("k", "part", "v")
    val v1 = PartitionedTable.overwritePartitions(spark, dir, refresh, "part")
    assert(v1 === 1L)

    val cur = PartitionedTable.read(spark, dir)
    assert(cur.count() === 78, "75 untouched + 3 refreshed")
    assert(cur.filter(col("part") === "p1").count() === 3)
    assert(cur.filter(col("k") === 901).head.getLong(2) === 9010L)
    assert(cur.filter(col("k") === 9).count() === 0,
      "an unnamed base key in the replaced partition is gone")
    assert(cur.filter(col("k") === 2).count() === 1,
      "untouched partitions keep every row")
    // time travel: the pre-overwrite version is intact
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L)).count() === 100)

    // metadata-only carry-over: untouched partitions' FILES unchanged
    before.foreach { case (p, fs0) =>
      assert(files(dir, p) === fs0, s"untouched partition $p was rewritten")
    }
    // exactly one pointer moved; history records the operation
    val (m0, m1) = (PartitionedTable.manifest(spark, dir, 0L),
      PartitionedTable.manifest(spark, dir, 1L))
    assert(m0.keySet === m1.keySet)
    assert(m1("__part=p1") !== m0("__part=p1"))
    assert((m0 - "__part=p1") === (m1 - "__part=p1"))
    val hist = PartitionedTable.history(spark, dir)
      .filter(col("version") === 1).collect()
    assert(hist.length === 1 && hist(0).getAs[String]("operation") === "overwrite")

    // a NEW partition value lands as an addition, dropping nothing
    PartitionedTable.overwritePartitions(spark, dir,
      Seq((950L, "p9", 9500L)).toDF("k", "part", "v"), "part")
    assert(PartitionedTable.read(spark, dir).count() === 79)
    assert(PartitionedTable.manifest(spark, dir, 2L).keySet
      === m1.keySet + "__part=p9")

    // strict mode refuses a schema drift before anything lands...
    intercept[IllegalArgumentException] {
      PartitionedTable.overwritePartitions(spark, dir,
        Seq((1L, "p1", 0.5)).toDF("k", "part", "score"), "part")
    }
    // ...and the widened batch goes through with the flag, null-filling
    PartitionedTable.overwritePartitions(spark, dir,
      Seq((1L, "p1", 111L, 0.7)).toDF("k", "part", "v", "score"), "part",
      allowSchemaEvolution = true)
    val evolved = PartitionedTable.read(spark, dir)
    assert(evolved.filter(col("k") === 1).head.getAs[Double]("score") === 0.7)
    assert(evolved.filter(col("k") === 2).head.getAs[Any]("score") === null)

    // an empty batch is a refused no-op, not a forged table version
    val headBefore = PartitionedTable.latest(spark, dir)
    intercept[IllegalArgumentException] {
      PartitionedTable.overwritePartitions(spark, dir,
        refresh.filter(col("k") < 0), "part")
    }
    assert(PartitionedTable.latest(spark, dir) === headBefore)
    // so is overwriting a table that was never committed
    intercept[IllegalArgumentException] {
      PartitionedTable.overwritePartitions(spark, dir + "_missing",
        refresh, "part")
    }
  }

  test("overwritePartitions under a racing writer: blind write rebases, both commits land, last overwrite wins") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")

    // writer A computes its overwrite of p1 but has NOT committed yet
    // (interleave via the package-private land/commit seam, the same
    // deterministic staging the OCC merge spec uses)
    val aLanded = PartitionedTable.overwriteLand(spark, dir,
      Seq((1L, "p1", 111L)).toDF("k", "part", "v"), "part")

    // writer B sneaks in a full merge commit touching p1 AND p2
    PartitionedTable.merge(spark, dir,
      Seq((5L, "p1", 555L, "upsert"), (6L, "p2", 666L, "upsert"))
        .toDF("k", "part", "v", "op"), "k", "part")

    // A now commits: the slot it wanted is taken; a blind write rebases
    // onto B's mapping instead of recomputing or failing
    val vA = PartitionedTable.overwriteCommit(spark, dir, aLanded, "raced")
    assert(vA === 2L)
    val m = PartitionedTable.manifest(spark, dir, vA)
    val cur = PartitionedTable.read(spark, dir)
    // p1: A's overwrite wins wholesale (B's 555 edit is gone with the
    // rest of the replaced partition — last overwrite wins)
    assert(cur.filter(col("part") === "p1").count() === 1)
    assert(cur.filter(col("k") === 1).head.getLong(2) === 111L)
    // p2: B's merge survives — the rebase carried B's pointer over
    assert(cur.filter(col("k") === 6).head.getLong(2) === 666L)
    assert(m("__part=p2") === PartitionedTable.manifest(spark, dir, 1L)("__part=p2"))
  }

  test("column mapping: rename/drop are metadata-only, chains coalesce across file generations, retired names stay dead") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    val before = Seq("__part=p0", "__part=p1", "__part=p2", "__part=p3")
      .map(p => p -> files(dir, p)).toMap

    // rename v -> val: ZERO data movement, every file byte-identical
    PartitionedTable.renameColumn(spark, dir, "v", "val")
    before.foreach { case (p, fs0) =>
      assert(files(dir, p) === fs0, s"rename rewrote $p")
    }
    val r1 = PartitionedTable.read(spark, dir)
    assert(r1.columns.toSeq === Seq("k", "part", "val"))
    assert(r1.filter(col("k") === 7).head.getAs[Long]("val") === 70L)
    // the mapping is table-wide: time travel reads old data under the
    // CURRENT name (the Delta column-mapping behavior)
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L))
      .columns.toSeq === Seq("k", "part", "val"))

    // writes use the current name; a second rename chains — reads now
    // coalesce THREE file generations (v, val, amount) into one column
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "val", "op"),
      "k", "part")
    PartitionedTable.renameColumn(spark, dir, "val", "amount")
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "amount", "op"),
      "k", "part")
    val r2 = PartitionedTable.read(spark, dir)
    assert(r2.columns.toSeq === Seq("k", "part", "amount"))
    val byK = r2.collect().map(r => r.getLong(0) -> r.getAs[Long]("amount")).toMap
    assert(byK(1L) === 111L && byK(2L) === 222L && byK(7L) === 70L)
    assert(r2.count() === 100)

    // retired names stay dead: as a rename target AND in any batch
    intercept[IllegalArgumentException] {
      PartitionedTable.renameColumn(spark, dir, "amount", "v")
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.merge(spark, dir,
        Seq((3L, "p3", 1L, "upsert")).toDF("k", "part", "val", "op"),
        "k", "part")
    }
    // live-name and missing-column refusals
    intercept[IllegalArgumentException] {
      PartitionedTable.renameColumn(spark, dir, "amount", "k")
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.renameColumn(spark, dir, "nope", "x")
    }

    // DROP hides the column everywhere, metadata-only, name retired
    PartitionedTable.dropColumn(spark, dir, "amount")
    assert(PartitionedTable.read(spark, dir).columns.toSeq === Seq("k", "part"))
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L))
      .columns.toSeq === Seq("k", "part"))
    intercept[IllegalArgumentException] { // re-add refused
      PartitionedTable.merge(spark, dir,
        Seq((4L, "p0", 9L, "upsert")).toDF("k", "part", "amount", "op"),
        "k", "part")
    }

    // referenced-column guards: CHECK constraints and generation rules
    PartitionedTable.addConstraint(spark, dir, "k_pos", "k >= 0")
    intercept[IllegalArgumentException] {
      PartitionedTable.renameColumn(spark, dir, "k", "id")
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.dropColumn(spark, dir, "k")
    }
    PartitionedTable.dropConstraint(spark, dir, "k_pos")
    PartitionedTable.renameColumn(spark, dir, "k", "id") // now fine
    assert(PartitionedTable.read(spark, dir).columns.toSeq === Seq("id", "part"))

    // a clone inherits the mapping (same logical schema, zero copy)
    val cloneDir = freshStore()
    PartitionedTable.cloneTable(spark, dir, cloneDir)
    assert(PartitionedTable.read(spark, cloneDir).columns.toSeq
      === Seq("id", "part"))
  }

  test("column mapping rides the skip/DV machinery: stats and bloom sidecars prune under at-write names, DV deletes resolve renamed keys") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part",
      statsCols = Seq("v"), bloomCols = Seq("v"))
    PartitionedTable.renameColumn(spark, dir, "v", "val")

    // stats pruning on the NEW name still prunes files whose sidecar
    // tracked the OLD name, and the result is exact
    val ranged = PartitionedTable.readWhere(spark, dir, "val",
      lit(100L), lit(200L))
    assert(ranged.collect().map(_.getAs[Long]("val")).sorted.toSeq
      === (100L to 200L by 10).toSeq)
    // bloom point lookup across the rename, exact hit and clean miss
    assert(PartitionedTable.readEq(spark, dir, "val", lit(70L))
      .collect().map(_.getAs[Long]("val")).toSeq === Seq(70L))
    assert(PartitionedTable.readEq(spark, dir, "val", lit(71L)).count() === 0)

    // a post-rename merge lands NEW-name files + sidecars; both name
    // generations prune together in one read
    PartitionedTable.merge(spark, dir,
      Seq((401L, "p1", 150L, "upsert")).toDF("k", "part", "val", "op"),
      "k", "part", statsCols = Seq("val"))
    val mixed = PartitionedTable.readWhere(spark, dir, "val",
      lit(100L), lit(200L))
    assert(mixed.collect().map(_.getAs[Long]("val")).sorted.toSeq
      === ((100L to 200L by 10) :+ 150L).sorted.toSeq)

    // rename the KEY column, then a delete-only merge: the DV base scan
    // resolves the key under its current name, tombstones land exact
    PartitionedTable.renameColumn(spark, dir, "k", "id")
    PartitionedTable.merge(spark, dir,
      Seq((8L, "p0", 0L, "delete")).toDF("id", "part", "val", "op"),
      "id", "part")
    val afterDel = PartitionedTable.read(spark, dir)
    assert(afterDel.count() === 100, "101 rows - 1 delete")
    assert(afterDel.filter(col("id") === 8L).count() === 0)
    assert(afterDel.filter(col("id") === 18L).count() === 1)

    // OPTIMIZE after the renames: inherited sidecar columns (v from the
    // original commit, val from the post-rename merge) map through the
    // chain and regenerate under the CURRENT name — pruning keeps working
    PartitionedTable.optimizePartitions(spark, dir, col("val"),
      partValues = Some(Seq("p1")))
    val opt = PartitionedTable.readWhere(spark, dir, "val",
      lit(100L), lit(200L))
    assert(opt.collect().map(_.getAs[Long]("val")).sorted.toSeq
      === ((100L to 200L by 10) :+ 150L).sorted.toSeq,
      "optimized layout must stay exact under the renamed column")
    assert(PartitionedTable.readEq(spark, dir, "val", lit(150L)).count() === 2,
      "the regenerated bloom sidecar must serve the current name")
  }

  test("incremental view maintenance from the partitioned pre-image feed equals recompute") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")

    def recompute() = PartitionedTable.read(spark, dir)
      .groupBy("part").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    var view = recompute().localCheckpoint(true)

    // merge 1: update in p1, delete in p2, insert into a NEW partition
    PartitionedTable.merge(spark, dir, Seq(
      (1L, "p1", 1001L, "upsert"), (2L, "p2", 0L, "delete"),
      (500L, "p9", 5L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    val feed1 = PartitionedTable.changes(spark, dir, 0L, 1L, "k", "part",
      preImages = true)
    view = VersionedTable.maintainSumCount(view, feed1, "part", "v")
      .localCheckpoint(true)
    assert(rows(view) === rows(recompute()),
      "incremental refresh after merge 1 must equal recompute")

    // merge 2: empty p9 again — the group must drop out of the view
    PartitionedTable.merge(spark, dir,
      Seq((500L, "p9", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part")
    view = VersionedTable.maintainSumCount(view,
      PartitionedTable.changes(spark, dir, 1L, 2L, "k", "part", preImages = true),
      "part", "v")
    assert(rows(view) === rows(recompute()))
    assert(!rows(view).exists(_._1 == "p9"), "emptied partition group must drop out")
  }

  test("deletion vectors: a delete-only merge never rewrites data, reads stay exact, compaction folds back") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    val dataBefore = files(dir, "__part=p1")
      .filterNot(f => f._1.contains("batch=") && !f._1.contains("batch=0"))

    // delete-only batch on p1 → DV delta, p1's data files untouched
    val del1 = Seq((1L, "p1", 0L, "delete"), (5L, "p1", 0L, "delete"))
      .toDF("k", "part", "v", "op")
    PartitionedTable.merge(spark, dir, del1, "k", "part")
    val m1 = PartitionedTable.manifest(spark, dir, 1L)
    val hfs = VersionedStore.fs(spark, dir)
    val v1dir = VersionedStore.path(s"$dir/__part=p1", m1("__part=p1"))
    assert(hfs.exists(new org.apache.hadoop.fs.Path(v1dir, "_base.txt")),
      "a delete-only merge must land a DV delta, not a rewrite")
    assert(Compaction.layoutStats(spark, v1dir.toString)._1 === 0,
      "the DV version holds no data files")
    // the base version's files are the SAME physical files
    val base0 = files(dir, "__part=p1").filter(_._1.contains("batch=0"))
    assert(base0 === dataBefore.filter(_._1.contains("batch=0")),
      "base data files must be byte-identical after a DV delete")

    // reads: deleted rows gone, everything else intact; time travel exact
    val cur = PartitionedTable.read(spark, dir)
    assert(cur.count() === 98)
    assert(cur.filter(col("k").isin(1L, 5L)).count() === 0)
    assert(cur.filter(col("k") === 9).head.getLong(2) === 90L)
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L)).count() === 100)

    // a second delete-only batch unions DVs against the SAME base
    PartitionedTable.merge(spark, dir,
      Seq((9L, "p1", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part")
    assert(PartitionedTable.read(spark, dir).count() === 97)
    val m2 = PartitionedTable.manifest(spark, dir, 2L)
    assert(PartitionedTable.readPartitionDf(spark, dir, "__part=p1", m2("__part=p1"))
      .count() === 22)

    // change feed across the DV versions is exact
    val feed = PartitionedTable.changes(spark, dir, 0L, 2L, "k", "part")
    val events = feed.collect()
      .map(r => (r.getLong(1), r.getString(2))).toSet
    assert(events === Set((1L, "delete"), (5L, "delete"), (9L, "delete")))

    // an upsert-containing batch WITHIN bounds lands a merge-on-read
    // delta too: tombstone the replaced base row + a batch-sized append
    // (k=13 is an EXISTING p1 key — key identity is (partition, key))
    PartitionedTable.merge(spark, dir,
      Seq((13L, "p1", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMinBase = 0L) // tiny fixture: waive the floor
    val m3 = PartitionedTable.manifest(spark, dir, 3L)
    val v3dir = VersionedStore.path(s"$dir/__part=p1", m3("__part=p1"))
    assert(hfs.exists(new org.apache.hadoop.fs.Path(v3dir, "_base.txt")),
      "an in-bound upsert merge lands a merge-on-read delta, not a rewrite")
    assert(hfs.exists(new org.apache.hadoop.fs.Path(v3dir, "_append")),
      "the upsert payload lands as the delta's append")
    assert(files(dir, "__part=p1").filter(_._1.contains("batch=0")) === base0,
      "base files stay byte-identical under merge-on-read")
    val st = PartitionedTable.read(spark, dir)
    assert(st.count() === 97 && st.filter(col("k") === 13).head.getLong(2) === 222L)
    assert(st.filter(col("k").isin(1L, 5L, 9L) && col("part") === "p1").count() === 0,
      "DV tombstones must survive into the delta chain")

    // an OVER-BOUND upsert batch folds the partition back to full files
    // (appended rows and tombstones both survive the fold)
    PartitionedTable.merge(spark, dir,
      Seq((17L, "p1", 333L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 1L)
    val m4 = PartitionedTable.manifest(spark, dir, 4L)
    val v4dir = VersionedStore.path(s"$dir/__part=p1", m4("__part=p1"))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(v4dir, "_base.txt")),
      "an over-bound upsert merge must materialize a full version")
    val st2 = PartitionedTable.read(spark, dir)
    assert(st2.count() === 97 && st2.filter(col("k") === 17).head.getLong(2) === 333L)
    assert(st2.filter(col("k") === 13).head.getLong(2) === 222L,
      "appended rows must survive the fold")
    assert(st2.filter(col("k").isin(1L, 5L, 9L) && col("part") === "p1").count() === 0)

    // vacuum keeps a DV's base while any kept manifest references the delta
    val dir2 = freshStore()
    PartitionedTable.commit(spark, dir2, table(40), "part")
    PartitionedTable.merge(spark, dir2,
      Seq((1L, "p1", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part")
    PartitionedTable.vacuum(spark, dir2, keep = 1) // only the DV manifest survives
    assert(PartitionedTable.read(spark, dir2).count() === 39,
      "the DV's base must survive vacuum while the delta is referenced")

    // and batch compaction folds DV partitions to full
    assert(PartitionedTable.compactPartitions(spark, dir2,
      targetBytes = 64L * 1024 * 1024, partCol = "part").contains("__part=p1"))
    val m2b = PartitionedTable.manifest(spark, dir2,
      PartitionedTable.latest(spark, dir2).get)
    assert(PartitionedTable.readPartitionDf(spark, dir2, "__part=p1", m2b("__part=p1"))
      .count() === 9)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(
      VersionedStore.path(s"$dir2/__part=p1", m2b("__part=p1")), "_base.txt")))
  }

  test("manifest history records every table commit with its operation and touch scope") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part", at = "load-1")
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", at = "cdc-7")
    PartitionedTable.mergeAt(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", "op", 2L)

    val h = PartitionedTable.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(h === Seq(
      (0L, "commit", 4L, 4L, "load-1"),
      (1L, "merge", 1L, 4L, "cdc-7"),
      (2L, "stream_merge", 1L, 4L, "batch=2")), s"unexpected history: $h")
  }

  test("optimistic concurrency: disjoint writers rebase, overlapping writers recompute — both serializable") {
    import spark.implicits._

    // DISJOINT: writer A lands its p1 merge, then writer B commits a
    // p2 merge before A takes the slot — A's merge() path must rebase
    // A's landed versions over B's mapping (no recompute, no loss)
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    val m0 = PartitionedTable.manifest(spark, dir, 0L)
    // A lands but does not commit yet (the interleaving seam)
    val (aCommitted, aTouched) = PartitionedTable.applyMergeParts(spark, dir, m0,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part", "op")
    // B wins slot 1 with a p2 merge
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    // A resumes: slot 1 is taken, p1 untouched by the winner → rebase
    assert(!PartitionedTable.commitManifestAt(spark, dir, 1L,
      (m0 -- aTouched) ++ aCommitted))
    val winner = PartitionedTable.manifest(spark, dir, 1L)
    assert(!aTouched.exists(n => winner.get(n) != m0.get(n)), "no overlap")
    assert(PartitionedTable.commitManifestAt(spark, dir, 2L,
      (winner -- aTouched) ++ aCommitted))
    val state = PartitionedTable.read(spark, dir)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    assert(state(1L) === 111L && state(2L) === 222L,
      "both disjoint writers' edits must survive")

    // OVERLAPPING: A lands on p1, B commits on p1 first — A's stale
    // landed version must be detected and the merge recomputed, so the
    // final state equals sequential application
    val dir2 = freshStore()
    PartitionedTable.commit(spark, dir2, table(40), "part")
    val n0 = PartitionedTable.manifest(spark, dir2, 0L)
    val (_, bTouched) = PartitionedTable.applyMergeParts(spark, dir2, n0,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part", "op")
    PartitionedTable.merge(spark, dir2,
      Seq((5L, "p1", 555L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    val winner2 = PartitionedTable.manifest(spark, dir2, 1L)
    assert(bTouched.exists(n => winner2.get(n) != n0.get(n)),
      "the conflict predicate must fire on an overlapping winner")
    // the public merge() drives exactly this detect-and-recompute loop
    PartitionedTable.merge(spark, dir2,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    val state2 = PartitionedTable.read(spark, dir2)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    assert(state2(1L) === 111L && state2(5L) === 555L,
      "sequentially-equivalent outcome after the conflict")
  }

  test("clone COW under racing writers: floored landings never shadow source versions, OCC stays serializable") {
    import spark.implicits._
    val src = freshStore()
    val dst = freshStore()
    PartitionedTable.commit(spark, src, table(40), "part")
    // grow the source's p1 store past version 0, so the clone's floor
    // has something real to clear
    PartitionedTable.merge(spark, src,
      Seq((1L, "p1", 11L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    PartitionedTable.merge(spark, src,
      Seq((1L, "p1", 10L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    val srcP1Max = VersionedStore.versions(spark,
      new Path(src, "__part=p1").toString).max
    assert(srcP1Max >= 1L, "fixture needs a multi-version source store")
    PartitionedTable.cloneTable(spark, src, dst)
    val srcFiles = files(src, "__part=p1")

    // writer A lands its COW version on the clone's p1 (uncommitted —
    // the interleaving seam); writer B commits a p1 merge first
    val m0 = PartitionedTable.manifest(spark, dst, 0L)
    val (_, aTouched) = PartitionedTable.applyMergeParts(spark, dst, m0,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", "op")
    PartitionedTable.merge(spark, dst,
      Seq((5L, "p1", 555L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part")
    // overlap → conflict predicate fires; the public merge recomputes
    val winner = PartitionedTable.manifest(spark, dst, 1L)
    assert(aTouched.exists(n => winner.get(n) != m0.get(n)))
    PartitionedTable.merge(spark, dst,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part")
    val state = PartitionedTable.read(spark, dst)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    assert(state(1L) === 111L && state(5L) === 555L,
      "sequentially-equivalent outcome on the clone")

    // EVERY local landing (winner's, loser's orphan, recompute's)
    // cleared the source's numbering — so the clone-point manifest
    // still resolves the SOURCE store, not a COW shadow
    val localVs = VersionedStore.versions(spark,
      new Path(dst, "__part=p1").toString)
    assert(localVs.nonEmpty && localVs.forall(_ > srcP1Max),
      s"local versions $localVs must all clear source max $srcP1Max")
    assert(PartitionedTable.read(spark, dst, asOf = Some(0L))
      .filter(col("k") === 1).head.getAs[Long]("v") === 10L,
      "clone-point time travel reads the source state")
    assert(files(src, "__part=p1") === srcFiles, "source untouched by the race")
  }

  test("merge == flat-table merge semantics (keys partition-local), bad ops raise, non-string partition refused") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")

    // same logical changes through the flat VersionedTable
    val flat = Files.createTempDirectory("ptable-flat").toString + "/t"
    VersionedTable.commit(spark, flat, table(40))
    val batch = Seq(
      (2L, "p2", 222L, "upsert"), (3L, "p3", 0L, "delete"),
      (77L, "p1", 770L, "upsert")).toDF("k", "part", "v", "op")
    PartitionedTable.merge(spark, dir, batch, "k", "part")
    VersionedTable.merge(spark, flat, batch, "k")
    val a = PartitionedTable.read(spark, dir).orderBy("k", "part").collect().toSeq
    val b = VersionedTable.read(spark, flat)
      .select("k", "part", "v").orderBy("k", "part").collect().toSeq
    assert(a === b, "partitioned merge must equal the flat merge")

    val bad = Seq((2L, "p2", 9L, "upsrt")).toDF("k", "part", "v", "op")
    intercept[Exception] { PartitionedTable.merge(spark, dir, bad, "k", "part") }
    assert(PartitionedTable.latest(spark, dir) === Some(1L),
      "a failed merge must not commit a manifest")

    val e = intercept[IllegalArgumentException] {
      PartitionedTable.commit(spark, freshStore(),
        spark.range(5).select(col("id").as("k"), (col("id") % 2).as("part")), "part")
    }
    assert(e.getMessage.contains("string"))
  }

  test("stats sidecars survive numeric/date-like partition values (no dir-inference retyping)") {
    val dir = freshStore()
    // "01" would dir-infer as int 1, "1996-01-01" as a date — the stats
    // job must key off the data's own string partCol, never the
    // re-typed/normalized directory value
    val df = spark.range(400).select(col("id").as("k"),
      when(col("id") % 2 === 0, "01").otherwise("1996-01-01").as("part"),
      (col("id") % 50).as("x"))
    PartitionedTable.commit(spark, dir,
      df.repartitionByRange(8, col("part"), col("x")), "part",
      statsCols = Seq("x"))

    val probe = PartitionedTable.readWhere(spark, dir, "x",
      lit(10L), lit(20L), partValues = Some(Seq("01")))
    assert(probe.inputFiles.nonEmpty &&
      probe.inputFiles.forall(_.contains("__part=01")))
    assert(probe.agg(count(lit(1)), sum("x")).head ===
      df.filter(col("part") === "01" && col("x").between(10, 20))
        .agg(count(lit(1)), sum("x")).head)

    // the no-partition-filter path exercises getString on the stats'
    // part column for BOTH tricky values, and still prunes files
    val all = PartitionedTable.readWhere(spark, dir, "x", lit(10L), lit(20L))
    val totalFiles = PartitionedTable.read(spark, dir).inputFiles.length
    assert(all.inputFiles.length < totalFiles,
      s"stats must prune (${all.inputFiles.length} of $totalFiles)")
    assert(all.agg(count(lit(1))).head.getLong(0) ===
      df.filter(col("x").between(10, 20)).count())
  }

  test("history tags with backslashes or control chars are rejected at commit, never silently null") {
    import spark.implicits._
    val dir = freshStore()
    intercept[IllegalArgumentException] {
      PartitionedTable.commit(spark, dir, table(20), "part", at = "a\\b")
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.commit(spark, dir, table(20), "part", at = "a\nb")
    }
    assert(PartitionedTable.versions(spark, dir).isEmpty,
      "a rejected tag must not commit anything")
    PartitionedTable.commit(spark, dir, table(20), "part", at = "ok-1")
    val h = PartitionedTable.history(spark, dir).collect()
    assert(h.length === 1 && h.head.getString(4) === "ok-1")
  }

  test("concurrent same-partition merges land race-safely: serializable outcome, no corrupted versions") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")

    // both writers hammer p1 concurrently, several rounds — losers must
    // re-list and retry (or OCC-recompute), never throw mid-land or
    // nest a temp dir inside the winner's committed version
    (1 to 3).foreach { round =>
      val a = Future(PartitionedTable.merge(spark, dir,
        Seq((1L, "p1", round * 100L, "upsert")).toDF("k", "part", "v", "op"),
        "k", "part"))
      val b = Future(PartitionedTable.merge(spark, dir,
        Seq((5L, "p1", round * 1000L, "upsert")).toDF("k", "part", "v", "op"),
        "k", "part"))
      Await.result(a, 120.seconds); Await.result(b, 120.seconds): Unit
    }
    val state = PartitionedTable.read(spark, dir)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap
    assert(state(1L) === 300L && state(5L) === 3000L,
      s"both writers' final-round edits must survive: $state")
    assert(state.size === 40, "no rows lost or duplicated across the races")
    // every committed manifest resolves to a readable version (no
    // nested/corrupted store dirs behind any pointer)
    PartitionedTable.versions(spark, dir).foreach { v =>
      PartitionedTable.read(spark, dir, Some(v)).count(): Unit
    }
  }

  test("DV growth guard: over-bound delete batches rewrite instead of landing tombstones; cumulative growth counts") {
    import spark.implicits._
    val dir = freshStore()
    val hfs = VersionedStore.fs(spark, dir)
    def isDv(v: Long, name: String): Boolean = {
      val m = PartitionedTable.manifest(spark, dir, v)
      hfs.exists(new Path(
        VersionedStore.path(s"$dir/$name", m(name)), "_base.txt"))
    }
    PartitionedTable.commit(spark, dir, table(200), "part") // 50 rows/partition

    // 3 of 50 deleted in p1 (6%): DV route
    PartitionedTable.merge(spark, dir,
      table(200).filter(col("part") === "p1" && col("k") < 12)
        .withColumn("op", lit("delete")), "k", "part")
    assert(isDv(1L, "__part=p1"), "an under-bound delete batch must land a DV")
    assert(PartitionedTable.dvPartitions(spark, dir, 1L) === Seq("__part=p1"))

    // 30 of 50 deleted in p2 (60% > 30%): fraction bound → rewrite
    PartitionedTable.merge(spark, dir,
      table(200).filter(col("part") === "p2" && col("k") < 120)
        .withColumn("op", lit("delete")), "k", "part")
    assert(!isDv(2L, "__part=p2"),
      "an over-fraction delete batch must fold to a full rewrite")
    assert(PartitionedTable.dvPartitions(spark, dir, 2L) === Seq("__part=p1"),
      "p1's earlier DV carries over; p2 lands full")

    // absolute bound: 3 deletes with dvMaxRows = 2 → rewrite
    PartitionedTable.merge(spark, dir,
      table(200).filter(col("part") === "p3" && col("k") < 12)
        .withColumn("op", lit("delete")), "k", "part", dvMaxRows = 2L)
    assert(!isDv(3L, "__part=p3"),
      "the absolute tombstone bound must force the rewrite route")

    // CUMULATIVE growth: repeated under-bound deletes accrete on p1's
    // DV until the fraction trips, then the partition folds back full
    PartitionedTable.merge(spark, dir,
      table(200).filter(col("part") === "p1" && col("k").between(12, 40))
        .withColumn("op", lit("delete")), "k", "part") // 3 + 7 = 10 of 50 (20%)
    assert(isDv(4L, "__part=p1"), "still inside the fraction: DV accretes")
    PartitionedTable.merge(spark, dir,
      table(200).filter(col("part") === "p1" && col("k").between(41, 80))
        .withColumn("op", lit("delete")), "k", "part") // 10 + 10 = 20 of 50 (40%)
    assert(!isDv(5L, "__part=p1"),
      "cumulative tombstones past the fraction must fold the partition")

    // exactness across every route
    val survivors = PartitionedTable.read(spark, dir)
    val expect = table(200).filter(
      !(col("part") === "p1" && (col("k") < 12 || col("k").between(12, 80))) &&
      !(col("part") === "p2" && col("k") < 120) &&
      !(col("part") === "p3" && col("k") < 12))
    assert(survivors.orderBy("k").collect().toSeq ===
      expect.orderBy("k").collect().toSeq,
      "routing must never change results")
  }

  test("merge-on-read upserts: chained deltas fold appends, the base never rewrites, over-bound folds full, skipping stays exact") {
    import spark.implicits._
    val dir = freshStore()
    // 50 rows/partition: the delta bound is 15 (30% fraction), so the
    // 5-row and chained 9-row estimates stay inside it
    PartitionedTable.commit(spark, dir, table(200), "part",
      statsCols = Seq("v"))
    val base0 = files(dir, "__part=p1").filter(_._1.contains("batch=0"))
    val hfs = VersionedStore.fs(spark, dir)
    def vdir(v: Long) = VersionedStore.path(s"$dir/__part=p1",
      PartitionedTable.manifest(spark, dir, v)("__part=p1"))

    // mixed batch: upsert an existing key, insert a new one, delete one
    PartitionedTable.merge(spark, dir, Seq(
      (1L, "p1", 111L, "upsert"), (401L, "p1", 4010L, "upsert"),
      (5L, "p1", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part",
      dvMinBase = 0L) // tiny fixture: waive the amortization floor
    assert(hfs.exists(new Path(vdir(1L), "_base.txt")) &&
      hfs.exists(new Path(vdir(1L), "_append")),
      "an in-bound mixed batch lands a merge-on-read delta")
    assert(files(dir, "__part=p1").filter(_._1.contains("batch=0")) === base0,
      "the base is never rewritten")
    val r1 = PartitionedTable.read(spark, dir)
    assert(r1.count() === 200, "200 - 1 delete + 1 insert")
    assert(r1.filter(col("k") === 1).head.getLong(2) === 111L)
    assert(r1.filter(col("k") === 401).head.getLong(2) === 4010L)
    assert(r1.filter(col("k") === 5).count() === 0)

    // chained delta: replace the APPENDED row, delete the appended
    // insert, upsert another base key — the append folds forward, the
    // DV stays base-files-only, the base version stays the anchor
    PartitionedTable.merge(spark, dir, Seq(
      (1L, "p1", 222L, "upsert"), (401L, "p1", 0L, "delete"),
      (9L, "p1", 5555L, "upsert")).toDF("k", "part", "v", "op"), "k", "part",
      dvMinBase = 0L)
    assert(hfs.exists(new Path(vdir(2L), "_base.txt")),
      "the chained batch stays a delta")
    assert(files(dir, "__part=p1").filter(_._1.contains("batch=0")) === base0)
    val r2 = PartitionedTable.read(spark, dir)
    assert(r2.count() === 199, "the appended insert was deleted")
    assert(r2.filter(col("k") === 1).head.getLong(2) === 222L,
      "a chained upsert must replace the appended row, not duplicate it")
    assert(r2.filter(col("k") === 9).head.getLong(2) === 5555L)
    assert(r2.filter(col("k").isin(5L, 401L)).count() === 0)
    // physical delta shape: DV names base rows {1, 5, 9}; the folded
    // append holds exactly the two live upserts
    assert(spark.read.parquet(new Path(vdir(2L), "_dv").toString)
      .count() === 3)
    assert(spark.read.parquet(new Path(vdir(2L), "_append").toString)
      .count() === 2)
    // describeDetail's live-row accounting matches the read
    val detail = PartitionedTable.describeDetail(spark, dir)
      .filter(col("partition") === "p1").head
    assert(detail.getAs[Boolean]("is_dv"))
    assert(detail.getAs[Long]("n_rows") ===
      r2.filter(col("part") === "p1").count())

    // stats skipping: v=5555 lies OUTSIDE every base file's min/max —
    // all base files prune, and the append must still surface the row
    val probe = PartitionedTable.readWhere(spark, dir, "v",
      lit(5000L), lit(6000L), partValues = Some(Seq("p1")))
    assert(probe.collect().map(_.getAs[Long]("v")).toSeq === Seq(5555L),
      "a fully base-pruned read must still scan the delta's append")

    // an over-bound chained batch folds everything back to full files
    PartitionedTable.merge(spark, dir,
      Seq((13L, "p1", 131313L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 1L)
    assert(!hfs.exists(new Path(vdir(3L), "_base.txt")),
      "the over-bound batch must materialize a full version")
    val r3 = PartitionedTable.read(spark, dir)
    assert(r3.count() === 199)
    assert(r3.filter(col("k") === 13).head.getLong(2) === 131313L)
    assert(r3.filter(col("k") === 1).head.getLong(2) === 222L,
      "appended rows must survive the fold")
    assert(r3.filter(col("k") === 9).head.getLong(2) === 5555L)
    assert(r3.filter(col("k").isin(5L, 401L)).count() === 0,
      "tombstones must survive the fold")
  }

  test("vacuum horizon: a reader pinned at a kept version survives interleaved commits and GC") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    // dvMaxRows = 0 forces rewrites: the GC assertions below need
    // SUPERSEDED (unreferenced) versions, not delta-pinned bases
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 0L)
    val expected = PartitionedTable.read(spark, dir, Some(1L))
      .orderBy("k").collect().toSeq

    // the reader RESOLVES v1 now (manifest + pinned version dirs are
    // baked into the lazy plan) …
    val pinned = PartitionedTable.read(spark, dir, Some(1L))

    // … then the world moves on: two more commits land and vacuum runs
    // with a horizon that still covers v1
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 0L)
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p3", 333L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", dvMaxRows = 0L)
    PartitionedTable.vacuum(spark, dir, keep = 3) // keeps v1..v3

    // the pinned reader finishes exactly: every store version v1
    // references survived the GC (kept manifests pin their versions)
    assert(pinned.orderBy("k").collect().toSeq === expected,
      "GC must never collect store versions a kept manifest references")

    // past the horizon the contract is fail-loud, and the GC actually
    // collected the now-unreferenced v0-only store versions
    val (dropped, pruned) = PartitionedTable.vacuum(spark, dir, keep = 1)
    assert(dropped === Seq(1L, 2L))
    assert(pruned > 0, "superseded store versions must be GC'd")
    intercept[IllegalArgumentException] {
      PartitionedTable.read(spark, dir, Some(1L))
    }
    assert(PartitionedTable.read(spark, dir).count() === 100)
  }

  test("manifest delta-log: commits write O(touched) bytes, checkpoints bound reconstruction, vacuum materializes") {
    import spark.implicits._
    val dir = freshStore()
    val hfs = VersionedStore.fs(spark, dir)
    def logFile(n: String) = new Path(s"$dir/_table_manifest", n)
    PartitionedTable.commit(spark, dir, table(100), "part") // v0: checkpoint
    assert(hfs.exists(logFile("v=0.manifest")))

    // a 1-of-4-partition merge commits a DELTA with exactly one entry
    // (plus the history header) — O(touched), not O(#partitions)
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    assert(hfs.exists(logFile("v=1.delta")) && !hfs.exists(logFile("v=1.manifest")))
    val deltaText = {
      val in = hfs.open(logFile("v=1.delta"))
      try new String(in.readAllBytes()) finally in.close()
    }
    assert(deltaText.split("\n").length === 2,
      s"delta must carry header + 1 repointed entry, got:\n$deltaText")

    // fold a log out to v10: v2..v9 deltas, v10 a checkpoint again
    (2 to 10).foreach { i =>
      PartitionedTable.merge(spark, dir,
        Seq((1L, "p1", i * 100L, "upsert")).toDF("k", "part", "v", "op"),
        "k", "part")
    }
    assert(hfs.exists(logFile("v=10.manifest")) && !hfs.exists(logFile("v=10.delta")),
      "the checkpoint cadence must fold the log")

    // reconstruction is exact at every version (k=1's value tracks it)
    def vOf(ver: Long) = PartitionedTable.read(spark, dir, Some(ver))
      .filter(col("k") === 1).head.getLong(2)
    assert(vOf(0) === 10L && vOf(1) === 111L && vOf(5) === 500L && vOf(10) === 1000L)
    assert(PartitionedTable.read(spark, dir, Some(7L)).count() === 100)

    // a dropped partition rides the delta as a -1 tombstone line
    PartitionedTable.merge(spark, dir,
      table(100).filter(col("part") === "p2").withColumn("op", lit("delete")),
      "k", "part") // 100% wipe → rewrite route → p2 drops out
    val dropText = {
      val in = hfs.open(logFile("v=11.delta"))
      try new String(in.readAllBytes()) finally in.close()
    }
    assert(dropText.split("\n").exists(_.startsWith("-1\t__part=p2")),
      s"the dropped partition must tombstone in the delta:\n$dropText")
    assert(!PartitionedTable.manifest(spark, dir, 11L).contains("__part=p2"))
    assert(PartitionedTable.read(spark, dir).count() === 75)

    // vacuum past the v10 checkpoint: the oldest KEPT version (a delta)
    // materializes as a self-contained checkpoint, history survives
    val (droppedM, _) = PartitionedTable.vacuum(spark, dir, keep = 1)
    assert(droppedM === (0L to 10L))
    assert(hfs.exists(logFile("v=11.manifest")),
      "vacuum must materialize the oldest kept version as a checkpoint")
    assert(!hfs.exists(logFile("v=11.delta")))
    assert(PartitionedTable.read(spark, dir).count() === 75)
    val h = PartitionedTable.history(spark, dir).collect()
    assert(h.length === 1 && h.head.getLong(0) === 11L &&
      h.head.getString(1) === "merge",
      "materialization must preserve the original history header")

    // and the log keeps growing correctly from a materialized root
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p3", 999L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    assert(hfs.exists(logFile("v=12.delta")))
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") === 3).head.getLong(2) === 999L)
  }

  test("DV read path falls back from broadcast to a plain anti join past the broadcast threshold, identically") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 0L, "delete"), (5L, "p1", 0L, "delete"))
        .toDF("k", "part", "v", "op"), "k", "part")
    val m = PartitionedTable.manifest(spark, dir, 1L)

    def p1Plan = PartitionedTable
      .readPartitionDf(spark, dir, "__part=p1", m("__part=p1"))
    val expect = p1Plan.orderBy("k").collect().toSeq
    assert(p1Plan.queryExecution.sparkPlan.toString.contains("Broadcast"),
      "inside the threshold the DV anti join must broadcast")

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "64") // DV rows * 64B estimate exceeds this
      val fallback = p1Plan
      assert(!fallback.queryExecution.sparkPlan.toString.contains("Broadcast"),
        "past the threshold the DV side must not carry a broadcast hint")
      assert(fallback.orderBy("k").collect().toSeq === expect,
        "both join forms must read identical rows")
    } finally spark.conf.set(key, saved)
  }

  test("restore re-points the manifest: zero data movement, undo feed, divergence, vacuum keeps restored refs") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part") // v0
    val batch = Seq(
      (1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"),
      (401L, "p1", 4010L, "upsert")).toDF("k", "part", "v", "op")
    PartitionedTable.merge(spark, dir, batch, "k", "part") // v1
    val before = (0 to 3).map(i => s"__part=p$i")
      .map(p => p -> files(dir, p)).toMap

    assert(PartitionedTable.restore(spark, dir, 0L) === 2L)
    // pure commit-log metadata: not one data file moved
    before.foreach { case (p, fs0) =>
      assert(files(dir, p) === fs0, s"restore rewrote $p") }
    assert(PartitionedTable.manifest(spark, dir, 2L) ===
      PartitionedTable.manifest(spark, dir, 0L))

    // content is v0's; the rolled-back v1 stays time-travelable
    val now = PartitionedTable.read(spark, dir)
    assert(now.count() === 100)
    assert(now.filter(col("k") === 1).head.getLong(2) === 10L)
    assert(now.filter(col("k") === 401).count() === 0)
    assert(PartitionedTable.read(spark, dir, asOf = Some(1L))
      .filter(col("k") === 401).count() === 1)
    assert(PartitionedTable.history(spark, dir).orderBy("version")
      .select("operation").as[String].collect().toSeq ===
      Seq("commit", "merge", "restore"))

    // CDC across the restore commit = the merge's exact inverse
    val undo = PartitionedTable.changes(spark, dir, 1L, 2L, "k", "part")
    assert(undo.select("k", "op").as[(Long, String)].collect().toSet ===
      Set((1L, "update"), (5L, "insert"), (401L, "delete")))
    assert(undo.filter(col("k") === 1).head.getLong(3) === 10L,
      "the undo update must carry the restored image")

    // a later merge diverges from the restored state, not from v1
    PartitionedTable.merge(spark, dir,
      Seq((402L, "p2", 4020L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v3
    val diverged = PartitionedTable.read(spark, dir)
    assert(diverged.filter(col("k") === 402).head.getLong(2) === 4020L)
    assert(diverged.filter(col("k") === 1).head.getLong(2) === 10L)
    assert(diverged.filter(col("k") === 401).count() === 0)

    // restorability is bounded by the log, fail-loud
    intercept[IllegalArgumentException] {
      PartitionedTable.restore(spark, dir, 99L)
    }

    // vacuum keeps every store version a KEPT manifest references —
    // including the old versions the restore re-pointed to
    PartitionedTable.vacuum(spark, dir, keep = 2) // keeps v2 (restore), v3
    val after = PartitionedTable.read(spark, dir)
    assert(after.count() === 101)
    assert(after.filter(col("k") === 1).head.getLong(2) === 10L,
      "vacuum must not GC store versions the restore commit references")
    intercept[Exception] { // v1's manifest is gone with its horizon
      PartitionedTable.read(spark, dir, asOf = Some(1L)).count()
    }
  }

  test("bloom point lookups: files prune where min/max can't, misses prune to zero, DV and folds keep the sidecar") {
    import spark.implicits._
    val dir = freshStore()
    // high-cardinality key hashed across 8 files per partition: every
    // file's [min,max] on k spans the keyspace — min/max stats cannot
    // prune a point lookup here, the bloom sidecar can
    val df = spark.range(4000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      ((col("id") * 2654435761L) % 100000).as("x"))
    PartitionedTable.commit(spark, dir, df.repartition(8, col("k")),
      "part", bloomCols = Seq("k"))
    val p1All = PartitionedTable.readPartitions(spark, dir, Seq("p1"))
      .inputFiles.length
    assert(p1All >= 4, s"need multiple files per partition, got $p1All")

    // a hit reads fewer files than the partition holds, exactly
    val hit = PartitionedTable.readEq(spark, dir, "k", lit(401L),
      partValues = Some(Seq("p1")))
    assert(hit.count() === 1 && hit.head.getLong(2) === (401L * 2654435761L) % 100000)
    assert(hit.inputFiles.length < p1All,
      s"bloom must prune files (${hit.inputFiles.length} of $p1All)")
    assert(hit.inputFiles.forall(_.contains("__part=p1")),
      "partition pruning must compose with bloom pruning")

    // zero false negatives: every probed present key is found
    Seq(1L, 5L, 9L, 1997L, 3997L).foreach { k =>
      assert(PartitionedTable.readEq(spark, dir, "k", lit(k),
        partValues = Some(Seq(s"p${k % 4}"))).count() === 1, s"lost k=$k")
    }

    // a guaranteed miss prunes EVERY file in every partition: the
    // optimizer folds the empty branch to a LocalRelation, so the
    // EXECUTED plan carries no file scan at all
    val miss = PartitionedTable.readEq(spark, dir, "k", lit(999999L))
    assert(miss.count() === 0)
    assert(!miss.queryExecution.executedPlan.toString.contains("FileScan"),
      "a definite miss must scan nothing")

    // an int literal probing the long column casts before hashing
    assert(PartitionedTable.readEq(spark, dir, "k", lit(401),
      partValues = Some(Seq("p1"))).count() === 1,
      "probe values must hash in the column's stored type")

    // a column the sidecar does not track: all files read, still exact
    val xVal = df.filter(col("k") === 401).head.getLong(2)
    val untracked = PartitionedTable.readEq(spark, dir, "x", lit(xVal),
      partValues = Some(Seq("p1")))
    assert(untracked.inputFiles.length === p1All,
      "an untracked column must not prune")
    assert(untracked.count() ===
      df.filter(col("part") === "p1" && col("x") === xVal).count())

    // DV interplay: a delete-only merge lands tombstones; the lookup
    // excludes the victim while still pruning BASE files by bloom
    PartitionedTable.merge(spark, dir,
      Seq((401L, "p1", 0L, "delete")).toDF("k", "part", "x", "op"),
      "k", "part")
    val gone = PartitionedTable.readEq(spark, dir, "k", lit(401L),
      partValues = Some(Seq("p1")))
    assert(gone.count() === 0, "the tombstone must hold through readEq")
    val goneDataFiles = gone.inputFiles.count(f =>
      f.contains("__part=p1") && !f.contains("/_dv/"))
    assert(goneDataFiles > 0 && goneDataFiles < p1All,
      s"DV lookups must still bloom-prune base files ($goneDataFiles of $p1All)")
    // a sibling key in the same partition survives
    assert(PartitionedTable.readEq(spark, dir, "k", lit(1997L),
      partValues = Some(Seq("p1"))).count() === 1)

    // mixed coverage: a rewrite WITHOUT bloomCols leaves p2 unpruned
    // but exact; p1's sidecar keeps pruning
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "x", "op"),
      "k", "part")
    val two = PartitionedTable.readEq(spark, dir, "k", lit(2L))
    assert(two.count() === 1 && two.head.getLong(2) === 222L)

    // the in-place streaming fold regenerates the sidecar with the
    // stored geometry: post-fold misses still prune to zero
    val dir2 = freshStore()
    PartitionedTable.commit(spark, dir2, df.repartition(8, col("k")),
      "part", bloomCols = Seq("k"))
    val folded = PartitionedTable.compactPartitionsInPlace(
      spark, dir2, targetBytes = 1L << 30)
    assert(folded.nonEmpty, "the fold must flag the 8-file partitions")
    val missAfter = PartitionedTable.readEq(spark, dir2, "k", lit(999999L))
    assert(missAfter.count() === 0 &&
      !missAfter.queryExecution.executedPlan.toString.contains("FileScan"),
      "the fold must regenerate the bloom sidecar")
    assert(PartitionedTable.readEq(spark, dir2, "k", lit(401L)).count() === 1)
  }

  test("z-ordered files prune on BOTH box dimensions; a range layout prunes only its lead key") {
    // two independent uniform dimensions in [0, 4096)
    val df = spark.range(8000).select(
      col("id").as("k"),
      lit("p0").as("part"),
      ((col("id") * 2654435761L) % 4096).as("x"),
      ((col("id") * 40503L) % 4096).as("y"))
    def mk(cluster: org.apache.spark.sql.Column): String = {
      val d = freshStore()
      PartitionedTable.commit(spark, d,
        df.repartitionByRange(32, cluster), "part",
        statsCols = Seq("x", "y"))
      d
    }
    val zdir = mk(ZOrder.zvalueScaled(col("x"), 4095L, col("y"), 4095L, 12))
    val xdir = mk(col("x"))
    val box = Seq(
      ("x", lit(0L), lit(1023L)), ("y", lit(0L), lit(1023L)))

    val total = PartitionedTable.read(spark, zdir).inputFiles.length
    val zProbe = PartitionedTable.readWhereAll(spark, zdir, box)
    val xProbe = PartitionedTable.readWhereAll(spark, xdir, box)
    // exactness on both layouts
    val expect = df.filter(col("x") <= 1023 && col("y") <= 1023)
      .agg(count(lit(1)), sum("x"), sum("y")).head
    assert(zProbe.agg(count(lit(1)), sum("x"), sum("y")).head === expect)
    assert(xProbe.agg(count(lit(1)), sum("x"), sum("y")).head === expect)
    // the range layout prunes its lead dimension...
    assert(xProbe.inputFiles.length < total,
      s"x-layout must prune on x (${xProbe.inputFiles.length} of $total)")
    // ...but every kept file spans the full y range; the aligned
    // quadrant is a contiguous Z-prefix, so the z layout keeps
    // strictly fewer files
    assert(zProbe.inputFiles.length < xProbe.inputFiles.length,
      s"z-order must beat the single-key layout on a 2-D box " +
        s"(${zProbe.inputFiles.length} vs ${xProbe.inputFiles.length})")

    // single-predicate probes still prune on the z layout (both
    // dimensions' stats are tight), and heterogeneous sidecars can
    // never DROP a file: a version with stats on x only keeps all its
    // files under a y-predicate
    assert(PartitionedTable.readWhereAll(spark, zdir,
      Seq(("y", lit(0L), lit(255L)))).inputFiles.length < total)
    // heterogeneous sidecars in ONE stats read: a new partition whose
    // sidecar tracks x only joins p0's (x, y) sidecar under merged
    // schemas — its NULL y stats must keep its files, never drop them
    import spark.implicits._
    PartitionedTable.merge(spark, zdir,
      Seq((9001L, "p1", 10L, 10L)).toDF("k", "part", "x", "y")
        .withColumn("op", lit("upsert")),
      "k", "part", statsCols = Seq("x")) // x-only sidecar
    val hetero = PartitionedTable.readWhereAll(spark, zdir, box)
    assert(hetero.filter(col("k") === 9001).count() === 1,
      "a version with stats on x only must not be pruned by the y predicate")
  }

  test("optimize reclusters only named partitions: pruning improves, pointers elsewhere unchanged, sidecars inherited, DVs fold") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(8000).select(
      col("id").as("k"),
      when(col("id") < 4000, "a").otherwise("b").as("part"),
      ((col("id") * 2654435761L) % 4096).as("x"),
      ((col("id") * 40503L) % 4096).as("y"))
    // scattered layout: hash on k → every file spans both dimensions
    PartitionedTable.commit(spark, dir,
      df.repartition(16, col("k")), "part",
      statsCols = Seq("x", "y"), bloomCols = Seq("k"), bloomBits = 4096)
    // a delete-only merge first, so 'a' is a DV delta going in
    PartitionedTable.merge(spark, dir,
      Seq((7L, "a", 0L, 0L, "delete"), (13L, "a", 0L, 0L, "delete"))
        .toDF("k", "part", "x", "y", "op"),
      "k", "part")
    assert(PartitionedTable.dvPartitions(spark, dir, 1L) === Seq("__part=a"))

    val box = Seq(("x", lit(0L), lit(1023L)), ("y", lit(0L), lit(1023L)))
    val before = PartitionedTable.readWhereAll(spark, dir, box,
      partValues = Some(Seq("a"))).inputFiles.length

    val touched = PartitionedTable.optimizePartitions(spark, dir,
      ZOrder.zvalueScaled(col("x"), 4095L, col("y"), 4095L, 12),
      partValues = Some(Seq("a")), targetBytes = 16L << 10)
    assert(touched === Seq("__part=a"))

    // untouched partition keeps its exact store pointer; 'a' repoints
    val m1 = PartitionedTable.manifest(spark, dir, 1L)
    val m2 = PartitionedTable.manifest(spark, dir, 2L)
    assert(m2("__part=b") === m1("__part=b"))
    assert(m2("__part=a") !== m1("__part=a"))
    // history records the operation and its touch scope
    val h = PartitionedTable.history(spark, dir).orderBy(desc("version")).head
    assert((h.getString(1), h.getLong(2)) === ("optimize", 1L))
    // the rewrite folded the tombstones: no DV partitions remain
    assert(PartitionedTable.dvPartitions(spark, dir, 2L).isEmpty)

    // content exact (minus the deleted keys), across the whole table
    val expect = df.filter(!col("k").isin(7L, 13L))
    assert(PartitionedTable.read(spark, dir)
      .agg(count(lit(1)), sum("k"), sum("x"), sum("y")).head ===
      expect.agg(count(lit(1)), sum("k"), sum("x"), sum("y")).head)

    // the box probe prunes strictly better on the z layout, exactly
    val probe = PartitionedTable.readWhereAll(spark, dir, box,
      partValues = Some(Seq("a")))
    assert(probe.inputFiles.length < before,
      s"optimize must improve 2-D pruning (${probe.inputFiles.length} vs $before)")
    assert(probe.agg(count(lit(1)), sum("x")).head ===
      expect.filter(col("part") === "a" && col("x") <= 1023 && col("y") <= 1023)
        .agg(count(lit(1)), sum("x")).head)

    // sidecars were inherited without re-stating: the bloom point
    // lookup still prunes to fewer files than the partition holds
    val all = PartitionedTable.readPartitions(spark, dir, Seq("a"))
      .inputFiles.length
    val eq = PartitionedTable.readEq(spark, dir, "k", lit(3999L))
    assert(eq.filter(col("part") === "a").count() === 1)
    assert(eq.inputFiles.length < all + PartitionedTable
      .readPartitions(spark, dir, Seq("b")).inputFiles.length,
      "inherited bloom sidecar must keep pruning point lookups")
  }

  test("shallow clone: zero-copy at clone time, copy-on-write divergence, source untouched, time travel survives COW") {
    import spark.implicits._
    val src = freshStore()
    val dst = freshStore()
    PartitionedTable.commit(spark, src, table(100), "part")
    val srcFilesBefore =
      Seq("__part=p0", "__part=p1", "__part=p2", "__part=p3")
        .map(p => p -> files(src, p)).toMap

    assert(PartitionedTable.cloneTable(spark, src, dst) === 0L)
    // zero data movement: the clone dir holds ONLY manifest metadata
    val hfs = VersionedStore.fs(spark, dst)
    assert(!hfs.listStatus(new Path(dst)).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("__part=")),
      "clone must not copy partition stores")
    // reads equal the source at the cloned version
    assert(PartitionedTable.read(spark, dst).count() === 100)
    assert(PartitionedTable.read(spark, dst).agg(sum("v")).head.getLong(0) ===
      PartitionedTable.read(spark, src).agg(sum("v")).head.getLong(0))

    // copy-on-write: a merge into the clone touches ONLY the clone
    val batch = Seq((1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"))
      .toDF("k", "part", "v", "op")
    PartitionedTable.merge(spark, dst, batch, "k", "part")
    assert(PartitionedTable.read(spark, dst).count() === 99)
    assert(PartitionedTable.read(spark, dst)
      .filter(col("k") === 1).head.getAs[Long]("v") === 111L)
    // the source is byte-identical, including the partition the clone touched
    srcFilesBefore.foreach { case (p, before) =>
      assert(files(src, p) === before, s"source $p must be untouched") }
    assert(PartitionedTable.read(spark, src).count() === 100)
    // only the touched partition materialized locally
    val localParts = hfs.listStatus(new Path(dst)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__part="))
      .map(_.getPath.getName)
    assert(localParts === Seq("__part=p1"),
      s"only p1 should materialize, got $localParts")
    // COW landed ABOVE the source's version numbers: clone-point time
    // travel still resolves the SOURCE store for p1
    assert(PartitionedTable.read(spark, dst, asOf = Some(0L)).count() === 100)
    assert(PartitionedTable.read(spark, dst, asOf = Some(0L))
      .filter(col("k") === 1).head.getAs[Long]("v") === 10L)

    // a source merge after the clone point never leaks into the clone
    PartitionedTable.merge(spark, src,
      Seq((2L, "p2", 9999L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part")
    assert(PartitionedTable.read(spark, dst)
      .filter(col("k") === 2).head.getAs[Long]("v") === 20L)

    // vacuum on the clone prunes only clone-local state, never the source
    PartitionedTable.vacuum(spark, dst, keep = 1)
    srcFilesBefore.keys.foreach { p =>
      assert(files(src, p).nonEmpty, s"vacuuming the clone must not GC $p") }
    assert(PartitionedTable.read(spark, dst).count() === 99)

    // refusals: clone of a clone; in-place folds on a clone
    val dst2 = freshStore()
    intercept[IllegalArgumentException](
      PartitionedTable.cloneTable(spark, dst, dst2))
    intercept[IllegalArgumentException](
      PartitionedTable.compactPartitionsInPlace(spark, dst, 1L << 20))
  }

  test("shallow clone resolves delta-pinning sources and carries the generation rule") {
    import spark.implicits._
    val src = freshStore()
    PartitionedTable.commit(spark, src, table(100), "part")
    PartitionedTable.merge(spark, src,
      Seq((3L, "p3", 0L, "delete"), (7L, "p3", 777L, "upsert"))
        .toDF("k", "part", "v", "op"), "k", "part",
      dvMinBase = 0L) // tiny fixture: waive the amortization floor
    assert(PartitionedTable.dvPartitions(spark, src,
      PartitionedTable.latest(spark, src).get).nonEmpty,
      "fixture needs a merge-on-read delta")
    // the clone resolves the delta AND its base source-side: tombstone
    // and appended upsert both hold through the clone's read
    val dst = freshStore()
    PartitionedTable.cloneTable(spark, src, dst)
    val cloned = PartitionedTable.read(spark, dst)
    assert(cloned.count() === 99)
    assert(cloned.filter(col("k") === 3).count() === 0,
      "the source delta's tombstone must hold through the clone")
    assert(cloned.filter(col("k") === 7).head.getAs[Long]("v") === 777L,
      "the source delta's append must resolve through the clone")
    // a clone merge onto the delta partition rewrites copy-on-write
    // (clones land no deltas of their own) and never touches the source
    PartitionedTable.merge(spark, dst,
      Seq((11L, "p3", 1111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part")
    assert(PartitionedTable.read(spark, dst)
      .filter(col("k") === 11).head.getAs[Long]("v") === 1111L)
    assert(PartitionedTable.read(spark, dst).count() === 99)
    assert(PartitionedTable.read(spark, src).count() === 99)
    assert(PartitionedTable.read(spark, src)
      .filter(col("k") === 11).head.getAs[Long]("v") === 110L,
      "the clone's merge must never leak into the source")
    // cloning the PRE-DELTA version is fine too
    val dst0 = freshStore()
    PartitionedTable.cloneTable(spark, src, dst0, asOf = Some(0L))
    assert(PartitionedTable.read(spark, dst0).count() === 100)

    // generation rule (a one-level spec) carries over: derived merges
    // + source-range reads
    val gsrc = freshStore()
    val gdst = freshStore()
    val days = spark.range(60).select(
      col("id").as("k"),
      date_add(to_date(lit("1996-01-01")), (col("id") * 3).cast("int")).as("d"),
      (col("id") * 10).as("v"))
    val month = PartitionedTable.GenLevel("d",
      PartitionedTable.PartGen.Month, "part_month")
    PartitionedTable.commitLevels(spark, gsrc, days, Seq(month))
    PartitionedTable.cloneTable(spark, gsrc, gdst)
    assert(PartitionedTable.generatedLevelsOf(spark, gdst) === Some(Seq(month)))
    PartitionedTable.mergeLevels(spark, gdst,
      Seq((7L, java.sql.Date.valueOf("1996-02-10"), 777L, "upsert"))
        .toDF("k", "d", "v", "op"), "k")
    assert(PartitionedTable.readWhereSrcLevels(spark, gdst,
      Seq(("d", "1996-02-01", "1996-02-28")))
      .filter(col("k") === 7).head.getAs[Long]("v") === 777L)
    // the generated source is untouched by the clone's merge
    assert(PartitionedTable.read(spark, gsrc)
      .filter(col("k") === 7).head.getAs[Long]("v") === 70L)
  }

  test("expirePartitions: metadata-only drop below the cutoff, boundary partition kept, time travel + vacuum contracts hold") {
    import spark.implicits._
    val dir = freshStore()
    val days = spark.range(120).select(
      col("id").as("k"),
      date_add(to_date(lit("1996-01-01")), (col("id") * 3).cast("int")).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, days, Seq(
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "part_month")))
    val filesBefore = files(dir, "__part=1996-06")

    // cutoff mid-June: months Jan-May drop, June (the boundary) is KEPT
    // whole — including its rows before the 15th (partition-granular)
    val dropped = PartitionedTable.expirePartitions(spark, dir, "1996-06-15")
    assert(dropped === Seq("1996-01", "1996-02", "1996-03", "1996-04", "1996-05"))
    val kept = PartitionedTable.read(spark, dir)
    assert(kept.agg(min("d")).head.getDate(0).toString === "1996-06-02")
    assert(kept.count() === days.filter(col("d") >= "1996-06-01").count())
    // zero data movement: the kept boundary partition is byte-identical
    assert(files(dir, "__part=1996-06") === filesBefore)
    // history records the expire; time travel still reads the full table
    assert(PartitionedTable.history(spark, dir)
      .filter(col("operation") === "expire").count() === 1)
    assert(PartitionedTable.read(spark, dir, asOf = Some(0L)).count() === 120)
    // a second expire at the same cutoff is a no-op (no empty commit)
    val v = PartitionedTable.latest(spark, dir).get
    assert(PartitionedTable.expirePartitions(spark, dir, "1996-06-15") === Nil)
    assert(PartitionedTable.latest(spark, dir).get === v)
    // vacuum to the retained head GCs the dropped stores
    PartitionedTable.vacuum(spark, dir, keep = 1)
    val hfs = VersionedStore.fs(spark, dir)
    assert(!hfs.exists(new Path(dir, "__part=1996-01")),
      "vacuum must collect expired stores")
    assert(PartitionedTable.read(spark, dir).count() === kept.count())
    // dropping everything is refused
    intercept[IllegalArgumentException](
      PartitionedTable.expirePartitions(spark, dir, "2010-01-01"))
    // non-generated tables have no ordering to expire by
    val plain = freshStore()
    PartitionedTable.commit(spark, plain, table(20), "part")
    intercept[IllegalArgumentException](
      PartitionedTable.expirePartitions(spark, plain, "p1"))
    // neither do composite values of a two-level spec
    val two = freshStore()
    PartitionedTable.commitLevels(spark, two,
      days.withColumn("s", lit("a")), Seq(
        PartitionedTable.GenLevel("s", PartitionedTable.PartGen.Prefix(1), "ps"),
        PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    intercept[IllegalArgumentException](
      PartitionedTable.expirePartitions(spark, two, "1996-06-15"))
  }

  test("describeDetail: per-partition metadata matches content, DV rows subtract tombstones, clones label resolution") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    // a DV delete on p1 (tombstones, no rewrite)
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 0L, "delete"), (5L, "p1", 0L, "delete"))
        .toDF("k", "part", "v", "op"), "k", "part")

    val d = PartitionedTable.describeDetail(spark, dir)
      .orderBy("partition").collect()
    assert(d.map(_.getString(0)).toSeq === Seq("p0", "p1", "p2", "p3"))
    // row counts are LIVE rows (footers minus tombstones), matching reads
    val byPart = PartitionedTable.read(spark, dir)
      .groupBy("part").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    d.foreach { r =>
      assert(r.getAs[Long]("n_rows") === byPart(r.getString(0)),
        s"detail row count must match content for ${r.getString(0)}") }
    val p1 = d.find(_.getString(0) == "p1").get
    assert(p1.getAs[Boolean]("is_dv") && p1.getAs[Long]("n_rows") === 23L)
    assert(d.forall(r => r.getAs[Long]("n_files") > 0 &&
      r.getAs[Long]("bytes") > 0 && r.getAs[String]("resolves") == "local"))

    // a clone labels source-resolved vs COW-materialized partitions
    val src = freshStore()
    val dst = freshStore()
    PartitionedTable.commit(spark, src, table(40), "part")
    PartitionedTable.cloneTable(spark, src, dst)
    PartitionedTable.merge(spark, dst,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part")
    val res = PartitionedTable.describeDetail(spark, dst)
      .collect().map(r => r.getString(0) -> r.getAs[String]("resolves")).toMap
    assert(res === Map("p0" -> "source", "p1" -> "source",
      "p2" -> "local", "p3" -> "source"))
  }

  test("CHECK constraints: violating batches never land, nulls pass, add validates existing rows, clones inherit") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    PartitionedTable.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    PartitionedTable.addConstraint(spark, dir, "k_known", "k < 1000000")
    assert(PartitionedTable.constraintsOf(spark, dir).map(_._1) ===
      Seq("v_nonneg", "k_known"))

    // a violating merge batch fails loud and lands NOTHING
    val before = PartitionedTable.latest(spark, dir).get
    val bad = Seq((1L, "p1", -5L, "upsert"), (2L, "p2", 7L, "upsert"))
      .toDF("k", "part", "v", "op")
    val ex = intercept[IllegalArgumentException](
      PartitionedTable.merge(spark, dir, bad, "k", "part"))
    assert(ex.getMessage.contains("v_nonneg"))
    assert(PartitionedTable.latest(spark, dir).get === before, "nothing lands")
    // a violating full commit fails too
    intercept[IllegalArgumentException](
      PartitionedTable.commit(spark, dir,
        Seq((9L, "p1", -1L)).toDF("k", "part", "v"), "part"))

    // SQL CHECK null semantics: NULL passes (only FALSE violates);
    // deletes carry no payload and are never checked
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p3", Option.empty[Long], "upsert"),
        (5L, "p1", Option(-999L), "delete"))
        .toDF("k", "part", "v", "op"), "k", "part")
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") === 3 && col("v").isNull).count() === 1)
    assert(PartitionedTable.read(spark, dir).filter(col("k") === 5).count() === 0)

    // adding a constraint the CURRENT table violates is refused
    intercept[IllegalArgumentException](
      PartitionedTable.addConstraint(spark, dir, "no_nulls", "v IS NOT NULL"))
    assert(PartitionedTable.constraintsOf(spark, dir).size === 2)

    // duplicate add and phantom drop fail; real drop re-opens the gate
    intercept[IllegalArgumentException](
      PartitionedTable.addConstraint(spark, dir, "v_nonneg", "v >= 0"))
    intercept[IllegalArgumentException](
      PartitionedTable.dropConstraint(spark, dir, "nope"))
    PartitionedTable.dropConstraint(spark, dir, "v_nonneg")
    PartitionedTable.merge(spark, dir,
      Seq((7L, "p1", -5L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") === 7).head.getAs[Long]("v") === -5L)

    // clones inherit the catalog and enforce it independently
    val dst = freshStore()
    PartitionedTable.cloneTable(spark, dir, dst)
    assert(PartitionedTable.constraintsOf(spark, dst).map(_._1) ===
      Seq("k_known"))
    intercept[IllegalArgumentException](
      PartitionedTable.merge(spark, dst,
        Seq((2000000L, "p1", 1L, "upsert")).toDF("k", "part", "v", "op"),
        "k", "part"))
  }

  test("star-join pruning: only dim-matched partitions are opened, result equals the unpruned join, empty dim folds to empty") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")

    val dim = Seq(("p1", "one"), ("p3", "three"), ("p9", "ghost"))
      .toDF("key", "label")
    val joined = PartitionedTable.readJoinPruned(spark, dir, "part", dim, "key")
    // only the two live matched partitions are opened — p0/p2 never
    val opened = joined.inputFiles
      .flatMap(_.split("/").find(_.startsWith("__part="))).distinct.sorted
    assert(opened.toSeq === Seq("__part=p1", "__part=p3"), opened.toSeq)
    // result equals the unpruned join
    val expect = PartitionedTable.read(spark, dir)
      .join(dim.withColumnRenamed("key", "part"), Seq("part"))
    assert(joined.count() === 50 && joined.count() === expect.count())
    assert(joined.agg(sum("v")).head.getLong(0) ===
      expect.agg(sum("v")).head.getLong(0))
    // the key column appears once (USING join) and dim columns ride along
    assert(joined.columns.count(_ == "part") === 1 &&
      joined.columns.contains("label"))
    // a dim matching nothing folds to an empty frame, not an error
    assert(PartitionedTable.readJoinPruned(spark, dir, "part",
      Seq(("nope", "x")).toDF("key", "label"), "key").count() === 0)
  }

  test("time travel by timestamp: header stamps resolve versions, survive vacuum, pre-history asks fail loud") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    val after0 = System.currentTimeMillis()
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    val after1 = System.currentTimeMillis()
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")

    assert(PartitionedTable.versionAt(spark, dir, after0) === 0L)
    assert(PartitionedTable.versionAt(spark, dir, after1) === 1L)
    // a future ask resolves to the newest version, never fails
    assert(PartitionedTable.versionAt(spark, dir,
      System.currentTimeMillis() + 60000) === 2L)
    // commit times surface in history, monotone across these commits
    val ts = PartitionedTable.history(spark, dir).orderBy("version")
      .select("commit_ts").collect().map(_.getLong(0))
    assert(ts.length === 3 && ts.sorted.sameElements(ts))
    // readAt is read(asOf) at the resolved version
    assert(PartitionedTable.readAt(spark, dir, after1)
      .agg(count(lit(1)), sum("v")).head ===
      PartitionedTable.read(spark, dir, Some(1L))
        .agg(count(lit(1)), sum("v")).head)
    // before the first commit: fail loud, never a silent later state
    intercept[IllegalArgumentException](
      PartitionedTable.versionAt(spark, dir, ts.head - 1))

    // vacuum to the newest 2: v1 materializes as a checkpoint but its
    // header keeps the ORIGINAL stamp, so ts-resolution of kept
    // versions is unchanged — while asks below the horizon fail loud
    PartitionedTable.vacuum(spark, dir, keep = 2)
    assert(PartitionedTable.versionAt(spark, dir, after1) === 1L)
    intercept[IllegalArgumentException](
      PartitionedTable.versionAt(spark, dir, after0))
  }

  test("readEq casts from ANY live footer: a donor partition missing the evolved column must not poison bloom probes") {
    import spark.implicits._
    val dir = freshStore()
    // base: p0..p3 carry (k, part) only; the evolved column x lands
    // LATER, on p3 alone — so the alphabetically-first donor footer
    // (p0) lacks x entirely and a single-donor cast would leave the
    // probe literal uncast
    val df = spark.range(4000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"))
    PartitionedTable.commit(spark, dir, df.repartition(8, col("k")), "part")
    val touch = spark.range(4000)
      .filter(col("id") % 4 === 3).select(
        col("id").as("k"), lit("p3").as("part"),
        col("id").as("x"), lit("upsert").as("op")) // x: LongType
    PartitionedTable.merge(spark, dir, touch.repartition(8, col("k")),
      "k", "part", allowSchemaEvolution = true, bloomCols = Seq("x"))

    // an INT literal probing the long column ACROSS ALL partitions (so
    // the donor iteration starts at x-less p0): the write side hashed
    // longs, so an uncast int probe hashes differently in every file
    // and the bloom would falsely prune ALL of p3 — rows silently lost
    val hit = PartitionedTable.readEq(spark, dir, "x", lit(443))
    assert(hit.count() === 1,
      "the probe must cast via a footer that actually carries x")
    // and the sidecar still prunes p3's files (the fallback found the
    // type, it did not just give up on pruning)
    val p3All = PartitionedTable.readPartitions(spark, dir, Seq("p3"))
      .inputFiles.length
    val p3Read = hit.inputFiles.count(_.contains("__part=p3"))
    assert(p3Read > 0 && p3Read < p3All,
      s"bloom must still prune within p3 ($p3Read of $p3All)")
    // a definite long-typed miss keeps pruning p3 to zero files
    assert(PartitionedTable.readEq(spark, dir, "x", lit(999999))
      .inputFiles.count(_.contains("__part=p3")) === 0)
  }

  test("multi-level partition spec: per-level pruning composes, merges derive routing, specs are write-once") {
    import spark.implicits._
    val dir = freshStore()
    // two levels over DIFFERENT source columns: cat (prefix) / month
    val df = spark.range(1200).select(
      col("id").as("k"),
      concat(lit("grp"), (floor(col("id") / 12) % 3).cast("string")).as("cat"),
      to_date(concat(lit("1995-"),
        lpad(((col("id") % 12) + 1).cast("string"), 2, "0"),
        lit("-"),
        lpad(((col("id") % 27) + 1).cast("string"), 2, "0"))).as("d"),
      (col("id") * 10).as("v"))
    val levels = Seq(
      PartitionedTable.GenLevel("cat", PartitionedTable.PartGen.Prefix(4), "catp"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "month"))
    PartitionedTable.commitLevels(spark, dir, df, levels)
    // 3 cats x 12 months = 36 combinations, each one manifest entry
    assert(PartitionedTable.partitionValues(spark, dir).size === 36)
    assert(PartitionedTable.partitionValues(spark, dir)
      .forall(_.matches("grp\\d/1995-\\d\\d")))

    // a probe on BOTH levels opens only the intersection's dirs
    val q = PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
      ("cat", "grp1", "grp1"), ("d", "1995-03-10", "1995-05-20")))
    val dirsRead = q.inputFiles.map(_.split("/").find(_.startsWith("__part="))
      .getOrElse("?")).toSet
    assert(dirsRead.size === 3, s"grp1 x {03,04,05} = 3 dirs, got $dirsRead")
    assert(dirsRead.forall(_.contains("grp1")))
    // exact at mid-month bounds (residual holds within boundary months)
    val expect = df.filter(col("cat") === "grp1" &&
      col("d") >= lit("1995-03-10") && col("d") <= lit("1995-05-20"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq === expect)

    // one-level probes leave the other level unconstrained
    assert(PartitionedTable.readWhereSrcLevels(spark, dir,
      Seq(("cat", "grp2", "grp2"))).inputFiles
      .forall(_.contains("grp2")))

    // merges derive every level + the composite from source columns
    val ch = Seq((5000L, "grp1", java.sql.Date.valueOf("1995-04-02"), 1L, "upsert"))
      .toDF("k", "cat", "d", "v", "op")
    PartitionedTable.mergeLevels(spark, dir, ch, "k")
    assert(PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
      ("cat", "grp1", "grp1"), ("d", "1995-04-01", "1995-04-03")))
      .filter(col("k") === 5000L).count() === 1)

    // the spec is write-once: a conflicting re-declaration is refused
    val ex = intercept[IllegalArgumentException] {
      PartitionedTable.commitLevels(spark, dir, df, Seq(
        PartitionedTable.GenLevel("cat", PartitionedTable.PartGen.Prefix(2), "catp"),
        PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "month")))
    }
    assert(ex.getMessage.contains("refusing conflicting"))
    // a level value rendering '/' is refused loud, never ambiguous
    val slashy = Seq((9000L, "a/b", java.sql.Date.valueOf("1995-01-01"), 1L))
      .toDF("k", "cat", "d", "v")
    val dir2 = freshStore()
    val ex2 = intercept[Exception] {
      PartitionedTable.commitLevels(spark, dir2, slashy, Seq(
        PartitionedTable.GenLevel("cat", PartitionedTable.PartGen.Prefix(4), "catp"),
        PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "month")))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex2).exists(m => m != null && m.contains("must not")))

    // ONE level is the same spec (N = 1): source-range probes prune
    // partitions, merges derive routing, the spec is write-once
    val dir3 = freshStore()
    val days = spark.range(120).select(
      col("id").as("k"),
      date_add(to_date(lit("1996-01-01")), (col("id") * 3).cast("int"))
        .as("d"),
      (col("id") * 10).as("v"))
    val month = PartitionedTable.GenLevel("d",
      PartitionedTable.PartGen.Month, "part_month")
    PartitionedTable.commitLevels(spark, dir3, days, Seq(month))
    assert(PartitionedTable.generatedLevelsOf(spark, dir3) === Some(Seq(month)))

    // exact result + partition pruning: a 2-month probe reads only the
    // 2-3 in-range partition dirs, never the table's full year
    val probe = PartitionedTable.readWhereSrcLevels(
      spark, dir3, Seq(("d", "1996-03-05", "1996-04-20")))
    val expect3 = days.filter(
      col("d").between(lit("1996-03-05"), lit("1996-04-20")))
    assert(probe.select("k").collect().map(_.getLong(0)).sorted
      .sameElements(expect3.select("k").collect().map(_.getLong(0)).sorted))
    val readParts = probe.inputFiles
      .flatMap(_.split("/").find(_.startsWith("__part="))).distinct
    assert(readParts.length <= 3 && readParts.nonEmpty,
      s"2-month probe must read <= 3 month partitions, read: ${readParts.toSeq}")

    // merge without a partition column: routing derived from the rule
    val change = Seq((5L, java.sql.Date.valueOf("1996-09-15"), 999L, "upsert"))
      .toDF("k", "d", "v", "op")
    PartitionedTable.mergeLevels(spark, dir3, change, "k")
    val moved = PartitionedTable.readWhereSrcLevels(
      spark, dir3, Seq(("d", "1996-09-01", "1996-09-30"))).filter(col("k") === 5)
    assert(moved.count() === 1 && moved.head.getAs[Long]("v") === 999L)

    // out-of-range probe folds to an empty (zero-partition) scan
    assert(PartitionedTable.readWhereSrcLevels(
      spark, dir3, Seq(("d", "2005-01-01", "2005-12-31"))).count() === 0)

    // a conflicting re-declaration fails loud
    intercept[IllegalArgumentException](
      PartitionedTable.commitLevels(spark, dir3, days, Seq(
        PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Year, "part_month"))))

    // prefix rule on a string source prunes the same way
    val dir4 = freshStore()
    val docs = spark.range(80).select(
      col("id").as("k"),
      concat(lit("src"), (col("id") % 8).cast("string"),
        lit("/item"), col("id").cast("string")).as("uri"))
    PartitionedTable.commitLevels(spark, dir4, docs, Seq(
      PartitionedTable.GenLevel("uri", PartitionedTable.PartGen.Prefix(4), "part_prefix4")))
    val one = PartitionedTable.readWhereSrcLevels(spark, dir4,
      Seq(("uri", "src3", "src3~")))
    assert(one.count() === 10)
    assert(one.inputFiles.flatMap(_.split("/").find(_.startsWith("__part=")))
      .distinct.length === 1, "prefix probe must read exactly one partition")
  }

  test("a one-level spec partitions by its level column: no part_levels composite, manifest keys are the level values, a '/' in a prefix value still prunes") {
    val dir = freshStore()
    val docs = spark.range(80).select(
      col("id").as("k"),
      concat(lit("src"), (col("id") % 8).cast("string"),
        lit("/item"), col("id").cast("string")).as("uri"))
    // Prefix(6) renders 'srcN/i': a '/' inside the one level's value
    PartitionedTable.commitLevels(spark, dir, docs, Seq(
      PartitionedTable.GenLevel("uri", PartitionedTable.PartGen.Prefix(6), "pu")))
    val read = PartitionedTable.read(spark, dir)
    assert(!read.columns.contains(PartitionedTable.LevelsPartName),
      s"one level writes no composite column: ${read.columns.toSeq}")
    assert(read.columns.toSet === Set("k", "uri", "pu"))
    val keys = PartitionedTable.manifest(spark, dir,
      PartitionedTable.latest(spark, dir).get).keySet
    assert(keys === (0 until 8).map(i =>
      "__part=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(s"src$i/i")).toSet,
      s"manifest keys must be the level values verbatim: $keys")
    assert(PartitionedTable.partitionValues(spark, dir).toSet ===
      (0 until 8).map(i => s"src$i/i").toSet)
    // the whole value is the one segment: a range probe prunes to the
    // one matching partition and stays exact
    val one = PartitionedTable.readWhereSrcLevels(spark, dir,
      Seq(("uri", "src3/item", "src3/item~")))
    assert(one.count() === 10)
    assert(one.inputFiles.flatMap(_.split("/").find(_.startsWith("__part=")))
      .distinct.length === 1, "prefix probe must read exactly one partition")
    assert(PartitionedTable.partitionsForSourceValuesLevels(spark, dir, "uri",
      Seq("src5/item45")) === Seq("src5/i"))
  }

  test("spec evolution: old partitions keep their rule, pruning/retention attribute per epoch, clashing merges refuse") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(730).select( // two years of daily rows
      col("id").as("k"),
      date_add(to_date(lit("1995-01-01")), col("id").cast("int")).as("d"),
      (col("id") * 10).as("v"))
    val year = Seq(PartitionedTable.GenLevel("d",
      PartitionedTable.PartGen.Year, "pd"))
    PartitionedTable.commitLevels(spark, dir,
      df.filter(col("d") < lit("1996-01-01")), year)
    assert(PartitionedTable.partitionValues(spark, dir) === Seq("1995"))

    PartitionedTable.evolveGenLevel(spark, dir, "pd", PartitionedTable.PartGen.Month)
    assert(PartitionedTable.levelEpochsOf(spark, dir) ===
      Some(Seq(Seq(PartitionedTable.PartGen.Year, PartitionedTable.PartGen.Month))))
    // new writes derive MONTH partitions; 1995 stays a single year dir
    PartitionedTable.mergeLevels(spark, dir,
      df.filter(col("d") >= lit("1996-01-01")).withColumn("op", lit("upsert")),
      "k")
    val parts = PartitionedTable.partitionValues(spark, dir)
    assert(parts.contains("1995") && parts.contains("1996-01") &&
      parts.count(_.length == 7) === 12 && parts.count(_.length == 4) === 1)

    // a boundary-spanning probe opens the old-rule year + in-range months
    val q = PartitionedTable.readWhereSrcLevels(spark, dir,
      Seq(("d", "1995-11-15", "1996-02-10")))
    val dirsRead = q.inputFiles.map(_.split("/").find(_.startsWith("__part="))
      .getOrElse("?")).toSet
    assert(dirsRead === Set("__part=1995", "__part=1996-01", "__part=1996-02"),
      s"epoch-attributed pruning: got $dirsRead")
    val expect = df.filter(col("d") >= lit("1995-11-15") &&
      col("d") <= lit("1996-02-10")).count()
    assert(q.count() === expect, "mid-period bounds stay exact via residual")

    // retention attributes the cutoff per epoch: expiring below
    // 1996-02-01 drops ONLY January — the 1995 year dir is NOT below
    // its own year-rendering ('1995' vs cutoff-year '1996' IS below);
    // check both directions explicitly
    val dropped = PartitionedTable.expirePartitions(spark, dir, "1996-02-01")
    assert(dropped === Seq("1995", "1996-01"),
      s"year epoch renders cutoff as 1996 (1995 expires), month epoch as 1996-02 (Jan expires): $dropped")
    // boundary partitions survive under BOTH epochs
    assert(PartitionedTable.partitionValues(spark, dir).contains("1996-02"))

    // a keyed merge that would shadow a live pre-evolution partition
    // refuses loud (fresh table: year 1995 still live after evolving)
    val dir2 = freshStore()
    PartitionedTable.commitLevels(spark, dir2,
      df.filter(col("d") < lit("1996-01-01")), year)
    PartitionedTable.evolveGenLevel(spark, dir2, "pd", PartitionedTable.PartGen.Month)
    val ex = intercept[IllegalArgumentException] {
      PartitionedTable.mergeLevels(spark, dir2,
        Seq((3L, java.sql.Date.valueOf("1995-06-15"), 999L, "upsert"))
          .toDF("k", "d", "v", "op"), "k")
    }
    assert(ex.getMessage.contains("pre-evolution"))

    // evolution refuses ambiguous-width chains and non-generated tables
    intercept[IllegalArgumentException](
      PartitionedTable.evolveGenLevel(spark, dir2, "pd",
        PartitionedTable.PartGen.Prefix(3)))
    val plain = freshStore()
    PartitionedTable.commit(spark, plain,
      Seq((1L, "p1", 1L)).toDF("k", "part", "v"), "part")
    intercept[IllegalArgumentException](
      PartitionedTable.evolveGenLevel(spark, plain, "pd",
        PartitionedTable.PartGen.Day))

    // a clone of an evolved table attributes inherited partitions
    // identically (the epoch chain carries over)
    val cl = freshStore()
    PartitionedTable.cloneTable(spark, dir2, cl)
    assert(PartitionedTable.levelEpochsOf(spark, cl) ===
      Some(Seq(Seq(PartitionedTable.PartGen.Year, PartitionedTable.PartGen.Month))))
    assert(PartitionedTable.readWhereSrcLevels(spark, cl,
      Seq(("d", "1995-11-15", "1995-12-31")))
      .count() === df.filter(col("d") >= lit("1995-11-15") &&
        col("d") < lit("1996-01-01")).count())
  }

  test("describeDetail: the distributed path equals the driver path row for row, DVs and clones included") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, spark.range(200).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      (col("id") * 10).as("v")), "part", statsCols = Seq("k"))
    PartitionedTable.merge(spark, dir, // p1 -> DV delta
      Seq((5L, "p1", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part")
    val clone = freshStore()
    PartitionedTable.cloneTable(spark, dir, clone)
    PartitionedTable.merge(spark, clone, // one COW divergence on the clone
      Seq((2L, "p2", 222L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")

    Seq(dir, clone).foreach { d =>
      val driver = PartitionedTable.describeDetail(spark, d,
        distributed = Some(false)).collect().map(_.toSeq).sortBy(_.toString)
      val job = PartitionedTable.describeDetail(spark, d,
        distributed = Some(true)).collect().map(_.toSeq).sortBy(_.toString)
      assert(driver.toSeq === job.toSeq,
        s"both paths must produce identical detail rows for $d")
    }
    // the distributed plan really is a job over the entries, not a
    // local relation
    val plan = PartitionedTable.describeDetail(spark, dir,
      distributed = Some(true)).queryExecution.optimizedPlan.toString
    assert(plan.contains("ExternalRDD") || plan.contains("LogicalRDD"),
      s"expected an RDD-backed scan, got:\n$plan")
    val local = PartitionedTable.describeDetail(spark, dir,
      distributed = Some(false)).queryExecution.optimizedPlan.toString
    assert(local.contains("LocalRelation"),
      s"the driver path stays a local relation, got:\n$local")
  }

  test("streaming OCC: a stream maintainer and batch writers interleave; replays no-op on tags, streams stay independent") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, spark.range(100).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      (col("id") * 10).as("v")), "part") // v0

    def b(rows: (Long, String, Long, String)*) =
      rows.toSeq.toDF("k", "part", "v", "op")

    // stream batch 0 lands
    val s0 = PartitionedTable.mergeStream(spark, dir,
      b((1L, "p1", 111L, "upsert")), "k", "part", "ivf_maint", 0L)
    // a BATCH writer interleaves and mints the next manifest version —
    // under mergeAt's id==version contract this would swallow the
    // stream's next id and silently no-op it
    val bv = PartitionedTable.merge(spark, dir,
      b((2L, "p2", 222L, "upsert")), "k", "part")
    assert(bv === s0 + 1)
    // stream batch 1 still lands (and AFTER the batch commit)
    val s1 = PartitionedTable.mergeStream(spark, dir,
      b((5L, "p1", 555L, "upsert"), (9L, "p1", 0L, "delete")),
      "k", "part", "ivf_maint", 1L)
    assert(s1 === bv + 1, "the stream rebases past the batch writer")

    // replays: both batches redeliver, both no-op, returning the
    // versions that already carry them — nothing re-applies
    val latest = PartitionedTable.latest(spark, dir).get
    assert(PartitionedTable.mergeStream(spark, dir,
      b((1L, "p1", 111L, "upsert")), "k", "part", "ivf_maint", 0L) === s0)
    assert(PartitionedTable.mergeStream(spark, dir,
      b((5L, "p1", 555L, "upsert"), (9L, "p1", 0L, "delete")),
      "k", "part", "ivf_maint", 1L) === s1)
    assert(PartitionedTable.latest(spark, dir).get === latest,
      "replays must not mint versions")

    // a DIFFERENT stream with the same batch numbers is independent
    val o0 = PartitionedTable.mergeStream(spark, dir,
      b((3L, "p3", 333L, "upsert")), "k", "part", "other_stream", 0L)
    assert(o0 === latest + 1, "same batch id, different stream: applies")

    // final state equals the closed-form recompute of all four writes
    val got = PartitionedTable.read(spark, dir)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 111L && got(2L) === 222L && got(5L) === 555L &&
      got(3L) === 333L && !got.contains(9L) && got(0L) === 0L)
    assert(got.size === 99) // all four upsert keys existed; one delete

    // history carries the stream tags for audit
    val tags = PartitionedTable.history(spark, dir)
      .select("at").collect().map(_.getString(0)).filter(_ != null)
    assert(tags.contains("stream=ivf_maint;batch=0") &&
      tags.contains("stream=ivf_maint;batch=1") &&
      tags.contains("stream=other_stream;batch=0"))
  }

  test("level evolution: one level's rule evolves forward, pruning attributes segments per epoch, cross-epoch merges refuse clashes") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(600).select(
      col("id").as("k"),
      concat(lit("grp"), (col("id") % 2).cast("string")).as("cat"),
      to_date(concat(lit("1995-"),
        lpad(((col("id") % 3) + 1).cast("string"), 2, "0"),
        lit("-"),
        lpad(((col("id") % 27) + 1).cast("string"), 2, "0"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, df, Seq(
      PartitionedTable.GenLevel("cat", PartitionedTable.PartGen.Prefix(4), "catp"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    // evolve the DATE level to day granularity; the cat level must stay
    PartitionedTable.evolveGenLevel(spark, dir, "pm", PartitionedTable.PartGen.Day)
    assert(PartitionedTable.generatedLevelsOf(spark, dir).get.map(_.gen) ===
      Seq(PartitionedTable.PartGen.Prefix(4), PartitionedTable.PartGen.Day))
    assert(PartitionedTable.levelEpochsOf(spark, dir).get ===
      Seq(Seq(PartitionedTable.PartGen.Prefix(4)),
        Seq(PartitionedTable.PartGen.Month, PartitionedTable.PartGen.Day)))
    // post-evolution rows land day-grained; old combinations keep theirs
    PartitionedTable.mergeLevels(spark, dir,
      Seq((9000L, "grp0", java.sql.Date.valueOf("1995-04-05"), 1L, "upsert"),
        (9001L, "grp0", java.sql.Date.valueOf("1995-04-06"), 2L, "upsert"))
        .toDF("k", "cat", "d", "v", "op"), "k")
    val vals = PartitionedTable.partitionValues(spark, dir)
    assert(vals.contains("grp0/1995-04-05") && vals.contains("grp0/1995-03"))

    // a range probe SPANNING the boundary attributes per epoch: the
    // month combos survive under the month rule, day combos under day
    val q = PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
      ("cat", "grp0", "grp0"), ("d", "1995-03-10", "1995-04-05")))
    val dirsRead = q.inputFiles.map(_.split("/")
      .filter(p => p.startsWith("__part=")).mkString).toSet
    assert(dirsRead ===
      Set("__part=grp0%252F1995-03", "__part=grp0%252F1995-04-05"),
      s"month epoch keeps 1995-03, day epoch keeps only 04-05: $dirsRead")
    val expect = df.filter(col("cat") === "grp0" &&
      col("d").between("1995-03-10", "1995-04-05"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq :+ 9000L
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq === expect)

    // a keyed merge whose OLD-epoch rendering names a still-live
    // combination is refused loud (it would shadow the stale row)
    val ex = intercept[IllegalArgumentException] {
      PartitionedTable.mergeLevels(spark, dir,
        Seq((42L, "grp1", java.sql.Date.valueOf("1995-02-10"), 5L, "upsert"))
          .toDF("k", "cat", "d", "v", "op"), "k")
    }
    assert(ex.getMessage.contains("grp1/1995-02"))
    // evolving an unknown level, or to the same rule, is refused
    intercept[IllegalArgumentException](
      PartitionedTable.evolveGenLevel(spark, dir, "nope",
        PartitionedTable.PartGen.Year))
    intercept[IllegalArgumentException](
      PartitionedTable.evolveGenLevel(spark, dir, "pm",
        PartitionedTable.PartGen.Day))
    // a prefix level (no fixed width) cannot evolve — attribution
    // would be ambiguous
    intercept[IllegalArgumentException](
      PartitionedTable.evolveGenLevel(spark, dir, "catp",
        PartitionedTable.PartGen.Prefix(2)))
  }

  test("level specs refuse DROP/RENAME of any level's source or derived column; the table stays writable") {
    import PartitionedTable.{GenLevel, PartGen}
    val df = spark.range(60).select(
      col("id").as("k"),
      date_add(to_date(lit("1996-01-01")), (col("id") * 3).cast("int")).as("d"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("s"),
      (col("id") * 10).as("v"))
    val two = Seq(GenLevel("d", PartGen.Month, "pm"), GenLevel("s", PartGen.Prefix(1), "ps"))
    Seq(two, two.take(1)).foreach { levels =>
      val dir = freshStore()
      PartitionedTable.commitLevels(spark, dir, df, levels)
      levels.flatMap(l => Seq(l.srcCol, l.name)).foreach { c =>
        val ex = intercept[IllegalArgumentException](
          PartitionedTable.dropColumn(spark, dir, c))
        assert(ex.getMessage.contains("generation rule"), ex.getMessage)
        intercept[IllegalArgumentException](
          PartitionedTable.renameColumn(spark, dir, c, s"${c}_renamed"))
      }
      // the spec still derives every write, and unreferenced columns
      // still drop
      PartitionedTable.commitLevels(spark, dir, df.filter(col("k") < 10), levels)
      assert(PartitionedTable.read(spark, dir).count() === 10)
      PartitionedTable.dropColumn(spark, dir, "v")
      assert(!PartitionedTable.read(spark, dir).columns.contains("v"))
    }
  }

  test("wall-clock vacuum keeps exactly the stamped-window versions; reads and feeds below the horizon fail loud") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(40).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      (col("id") * 10).as("v"))
    PartitionedTable.commit(spark, dir, df, "part") // v0
    Thread.sleep(30)
    val cut = System.currentTimeMillis // v1/v2 stamp strictly after this
    Thread.sleep(5)
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v1
    PartitionedTable.merge(spark, dir,
      Seq((2L, "p0", 222L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v2
    val now = System.currentTimeMillis
    val (dropped, _) = PartitionedTable.vacuumRetain(spark, dir,
      java.time.Duration.ofMillis(now - cut), now = now)
    assert(dropped === Seq(0L), "only v0 predates the cut")
    assert(PartitionedTable.versions(spark, dir).sorted === Seq(1L, 2L))
    // the horizon contracts hold: v0 unreadable, pre-horizon ts probes
    // and stale feed offsets fail loud, in-window reads stay exact
    intercept[Exception](
      PartitionedTable.read(spark, dir, Some(0L)).collect())
    intercept[Exception](
      graft.streaming.ChangeFeed.batch(spark, dir, "k", "part",
        fromVersion = 0L).collect())
    assert(PartitionedTable.read(spark, dir).filter(col("k") === 2L)
      .select("v").head().getLong(0) === 222L)
    // a horizon in the future still keeps the newest version (floor 1)
    val (d2, _) = PartitionedTable.vacuumRetain(spark, dir,
      java.time.Duration.ZERO, now = System.currentTimeMillis + 3600000L)
    assert(d2 === Seq(1L) &&
      PartitionedTable.versions(spark, dir) === Seq(2L))
  }

  test("source-range probes resolve types from ANY live footer: evolved stats columns don't fail the read, absent ones fold to empty") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(300).select(
      col("id").as("k"),
      concat(lit("grp"), (col("id") % 3).cast("string")).as("cat"),
      to_date(concat(lit("1995-0"), ((col("id") % 3) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, df, Seq(
      PartitionedTable.GenLevel("cat", PartitionedTable.PartGen.Prefix(4), "catp"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "month")))
    // evolve: column x lands ONLY in grp2/1995-03 — alphabetically LAST,
    // so the r13 single-first-donor resolution would throw on any probe
    // naming x even though a live footer carries it
    PartitionedTable.mergeLevels(spark, dir,
      spark.range(300).filter(col("id") % 3 === 2).select(
        col("id").as("k"), lit("grp2").as("cat"),
        to_date(lit("1995-03-15")).as("d"), (col("id") * 10).as("v"),
        (col("id") + 10000).as("x"), lit("upsert").as("op")),
      "k", allowSchemaEvolution = true)
    val q = PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
      ("d", "1995-01-01", "1995-12-31"), ("x", "10005", "10010")))
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(5L, 8L), "x resolves from the evolved footer and filters exactly")
    // a probe column NO live footer carries holds NULL in every row —
    // the read folds to empty (NULL never satisfies a closed range)
    // instead of throwing
    assert(PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
      ("d", "1995-01-01", "1995-12-31"), ("zzz", "0", "9"))).count() === 0)
  }

  test("clone carries multi-level specs AND their evolution chains: the clone derives, prunes, and guards like its source") {
    import PartitionedTable._
    val src = freshStore()
    val dst = freshStore()
    val df = spark.range(90).select(
      col("id").as("k"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("st"),
      to_date(concat(lit("1995-0"), ((col("id") % 3) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    commitLevels(spark, src, df, Seq(
      GenLevel("st", PartGen.Prefix(2), "ps"),
      GenLevel("d", PartGen.Month, "pm")))
    evolveGenLevel(spark, src, "pm", PartGen.Day)

    cloneTable(spark, src, dst)
    assert(generatedLevelsOf(spark, dst) === generatedLevelsOf(spark, src),
      "current level rules must carry over")
    assert(levelEpochsOf(spark, dst) === levelEpochsOf(spark, src),
      "the full per-level epoch chain must carry over")

    // behavior on the clone: a keyed merge derives the evolved level
    // (day) for new rows, and source-range pruning attributes inherited
    // month-epoch combinations correctly
    import spark.implicits._
    mergeLevels(spark, dst, Seq(
      (1000L, "s0", java.sql.Date.valueOf("1996-02-10"), 1L, "upsert"))
      .toDF("k", "st", "d", "v", "op"), "k")
    assert(partitionValues(spark, dst).exists(_.contains("1996-02-10")),
      "post-evolution rows must land under the DAY rule on the clone")
    assert(readWhereSrcLevels(spark, dst,
      Seq(("d", "1995-02-01", "1995-02-28"))).count() ===
      readWhereSrcLevels(spark, src,
        Seq(("d", "1995-02-01", "1995-02-28"))).count(),
      "inherited combinations prune identically on the clone")
    // the source never sees the clone's write
    assert(read(spark, src).count() === 90L)
  }
}
