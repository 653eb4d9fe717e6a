package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedStore
import org.apache.spark.sql.functions._

/** Snapshot isolation for batch layout maintenance: a crashed rewrite
  * leaves the prior version the newest committed one, time travel is
  * byte-exact, and compaction changes layout but never content.
  */
class VersionedTableSpec extends SparkSpec {

  private def freshStore(): String =
    Files.createTempDirectory("vtable").toString + "/table"

  /** Version `v`'s data dir: the one partition slice its manifest pins. */
  private def versionDir(dir: String, v: Long): String = {
    val (name, sv) = PartitionedTable.manifest(spark, dir, v).head
    VersionedStore.path(s"$dir/$name", sv).toString
  }

  test("commit / read / time travel: version N-1 stays exact after a rewrite") {
    val dir = freshStore()
    val v0 = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    assert(VersionedTable.commit(spark, dir, v0) === 0L)
    // a content-changing rewrite (the general case; compaction is the
    // content-preserving special case below)
    val v1 = VersionedTable.read(spark, dir).filter(col("k") =!= 3)
    assert(VersionedTable.commit(spark, dir, v1) === 1L)

    assert(VersionedTable.latest(spark, dir) === Some(1L))
    assert(VersionedTable.read(spark, dir).count() === 86)
    // time travel: the old snapshot is the byte-identical directory
    val back = VersionedTable.read(spark, dir, asOf = Some(0L))
    assert(back.count() === 100)
    assert(back.agg(sum("id")).head.getLong(0) === 4950L)

    val e = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, dir, asOf = Some(5L))
    }
    assert(e.getMessage.contains("not committed"))
  }

  test("an empty snapshot commits as a version that reads back empty with its schema") {
    val dir = freshStore()
    val empty = spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .filter(col("id") < 0)
    assert(VersionedTable.commit(spark, dir, empty) === 0L)
    val v0 = VersionedTable.read(spark, dir)
    assert(v0.columns.toSeq === Seq("id", "v"))
    assert(v0.count() === 0L)
    assert(VersionedTable.commit(spark, dir, spark.range(3)
      .select(col("id"), (col("id") * 2).as("v"))) === 1L)
    assert(VersionedTable.read(spark, dir).count() === 3L)
    assert(VersionedTable.read(spark, dir, asOf = Some(0L)).count() === 0L)
    assert(VersionedTable.history(spark, dir).select("rows_out").collect()
      .map(_.getLong(0)).toSeq === Seq(0L, 3L))
  }

  test("a crashed rewrite leaves the prior version readable and the store committable") {
    val dir = freshStore()
    VersionedTable.commit(spark, dir, spark.range(50).toDF("id"))

    // crash DURING the rewrite's write phase: a poisoned plan throws
    // mid-job, after the temp write has started
    val poisoned = spark.range(10)
      .select(col("id"), assert_true(col("id") < 5).as("chk"))
    intercept[Exception] {
      VersionedTable.commit(spark, dir, poisoned)
    }
    // the failed rewrite is invisible: latest is still version 0 and it
    // reads in full
    assert(VersionedTable.latest(spark, dir) === Some(0L))
    assert(VersionedTable.read(spark, dir).count() === 50)

    // and a crash BETWEEN write and rename (leftover temp dir) neither
    // surfaces as a version nor blocks the next commit
    spark.range(3).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/.tmp-1")
    assert(VersionedTable.latest(spark, dir) === Some(0L))
    assert(VersionedTable.commit(spark, dir, spark.range(7).toDF("id")) === 1L)
    assert(VersionedTable.read(spark, dir).count() === 7)
  }

  test("versioned compaction packs files without touching content; vacuum respects the horizon") {
    val dir = freshStore()
    // a deliberately shredded layout: 16 files for a tiny table
    VersionedTable.commit(spark, dir,
      spark.range(0, 2000, 1, 16).select(col("id"), (col("id") * 2).as("v")))
    val v0Path = versionDir(dir, 0L)
    val (files0, bytes0) = Compaction.layoutStats(spark, v0Path)
    assert(files0 === 16)

    val (id, before, after) =
      VersionedTable.compact(spark, dir, targetBytes = bytes0, cluster = Some(col("id")))
    assert(id === 1L)
    assert(before === 16 && after < before)

    // content-identical across versions, and the clustered layout is
    // globally ordered (each range partition sorted, ranges disjoint)
    val a = VersionedTable.read(spark, dir, asOf = Some(0L))
      .orderBy("id").collect().toSeq
    val b = VersionedTable.read(spark, dir, asOf = Some(1L))
      .orderBy("id").collect().toSeq
    assert(a === b)

    // vacuum keeps the newest `keep` versions only
    VersionedTable.commit(spark, dir, VersionedTable.read(spark, dir))
    assert(VersionedTable.vacuum(spark, dir, keep = 2) === Seq(0L))
    assert(PartitionedTable.versions(spark, dir).sorted === Seq(1L, 2L))
    assert(VersionedTable.read(spark, dir).count() === 2000)
  }

  test("merge applies upsert/insert/delete exactly once and the pre-merge snapshot survives") {
    val dir = freshStore()
    VersionedTable.commit(spark, dir,
      spark.range(10).select(col("id").as("k"), (col("id") * 10).as("v")))

    import spark.implicits._
    val changes = Seq(
      (3L, 999L, "upsert"), // replace existing
      (42L, 777L, "upsert"), // insert new key
      (7L, 0L, "delete") // drop existing
    ).toDF("k", "v", "op")
    assert(VersionedTable.merge(spark, dir, changes, "k") === 1L)

    val after = VersionedTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === 10, "10 - 1 delete + 1 insert")
    assert(after(3L) === 999L, "matched upsert replaces")
    assert(after(42L) === 777L, "unmatched upsert inserts")
    assert(!after.contains(7L), "delete drops the key")
    assert(after(5L) === 50L, "untouched rows pass through")

    // the mutation is a new version; the pre-merge snapshot is intact
    val before = VersionedTable.read(spark, dir, asOf = Some(0L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before === (0L until 10L).map(i => i -> i * 10).toMap)

    // and the change feed recovers exactly the applied delta — the
    // merge/changes pair round-trips (unchanged rows emit nothing)
    val feed = VersionedTable.changes(spark, dir, 0L, 1L, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed === Set((3L, "update", 999L), (42L, "insert", 777L),
      (7L, "delete", 70L)))
  }

  test("autoCompact folds when flagged (versions or small files), no-ops otherwise, content-identical") {
    val dir = freshStore()
    // a healthy single version below both bounds: no-op
    VersionedTable.commit(spark, dir, spark.range(1000).toDF("id").coalesce(1))
    val (_, bytes) = Compaction.layoutStats(spark, versionDir(dir, 0L))
    assert(VersionedTable.autoCompact(spark, dir, targetBytes = bytes).isEmpty,
      "below both bounds autoCompact must not rewrite anything")
    assert(VersionedTable.latest(spark, dir) === Some(0L))

    // small-file flag: a 16-file shred of the same bytes trips the ratio
    VersionedTable.commit(spark, dir,
      spark.range(1000).toDF("id").repartition(16))
    val folded = VersionedTable.autoCompact(spark, dir, targetBytes = bytes)
    assert(folded.nonEmpty, "16 files vs a 1-file ideal must flag")
    val (fid, before, after) = folded.get
    assert(before === 16 && after < before)
    // fold committed + vacuumed to the horizon (keep=2)
    assert(PartitionedTable.versions(spark, dir).sorted === Seq(1L, fid))
    assert(VersionedTable.read(spark, dir).agg(sum("id")).head.getLong(0) === 499500L)
    // history records the fold as a compact operation
    val ops = VersionedTable.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(fid) === "compact")

    // version-count flag: accrete healthy versions past maxVersions
    (1 to 4).foreach(_ => VersionedTable.commit(spark, dir,
      VersionedTable.read(spark, dir).coalesce(1)))
    assert(VersionedTable.autoCompact(spark, dir, targetBytes = bytes,
      maxVersions = 3).nonEmpty, "version count past the bound must flag")
    assert(PartitionedTable.versions(spark, dir).size === 2,
      "the fold vacuums to the read horizon")
  }

  test("stats-manifest file skipping: selective reads touch <= the clustered bound, results stay exact") {
    val dir = freshStore()
    // 40k rows over a 0..9999 key, committed SCATTERED across 16 files
    val df = spark.range(40000).select(
      ((col("id") * 2654435761L) % 10000).as("x"), (col("id") % 100).as("g"))
    VersionedTable.commit(spark, dir, df.repartition(16), statsCols = Seq("x"))
    // clustered rewrite with the stats manifest
    val (_, bytes) = Compaction.layoutStats(spark, versionDir(dir, 0L))
    VersionedTable.compact(spark, dir, targetBytes = math.max(1L, bytes / 16),
      cluster = Some(col("x")), statsCols = Seq("x"))

    def probe(v: Long) = VersionedTable.readWhere(
      spark, dir, "x", lit(1000L), lit(1999L), asOf = Some(v))
    // the reader's own min-max test (ZOrder.candidateFiles semantics)
    // bounds what a selective read may touch; the clustered layout
    // must beat the scattered one, which overlaps everywhere
    val statsV1 = VersionedTable.fileStats(spark, dir, 1L).get
    val bound = statsV1.filter(col("max_x") >= 1000L && col("min_x") <= 1999L).count()
    val total1 = statsV1.count()
    assert(probe(1L).inputFiles.length.toLong === bound,
      "readWhere must open exactly the manifest-overlapping files")
    assert(bound < total1, s"clustered probe must skip files ($bound of $total1)")
    assert(probe(0L).inputFiles.length === 16,
      "the scattered layout overlaps every file — nothing skippable")

    // exactness under skipping: both layouts agree with the brute filter
    val expect = df.filter(col("x") >= 1000 && col("x") <= 1999)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .orderBy("g").collect().toSeq
    Seq(0L, 1L).foreach { v =>
      val got = probe(v).groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
        .orderBy("g").collect().toSeq
      assert(got === expect, s"selective read on v$v diverged from brute filter")
    }

    // an empty range prunes everything and still returns a typed frame
    assert(VersionedTable.readWhere(spark, dir, "x",
      lit(20000L), lit(30000L)).count() === 0)
    // a stats-less column falls back to full scan + filter, same rows
    assert(VersionedTable.readWhere(spark, dir, "g", lit(5L), lit(5L))
      .count() === df.filter(col("g") === 5).count())
  }

  test("commit history rides the atomic commit: exact rows per operation, no row for a crashed commit") {
    val dir = freshStore()
    VersionedTable.commit(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")),
      VersionedTable.CommitInfo("commit", at = "run-1"))
    import spark.implicits._
    VersionedTable.merge(spark, dir, Seq(
      (3L, 999L, "upsert"), (200L, 1L, "upsert"), (7L, 0L, "delete")
    ).toDF("k", "v", "op"), "k", at = "run-2")

    // a crashed commit must leave NO history row (the header rides the
    // manifest rename, so it commits atomically with the data)
    intercept[Exception] {
      VersionedTable.commit(spark, dir, spark.range(10)
        .select(col("id"), assert_true(col("id") < 5).as("chk")))
    }

    val h = VersionedTable.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(h === Seq(
      (0L, "commit", 100L, 100L, 0L, "run-1"),
      (1L, "merge", 3L, 100L, 0L, "run-2")), // 100 - 1 delete + 1 insert
      s"unexpected history: $h")
  }

  test("flat merge schema evolution: opt-in widening null-fills both directions, snapshot stays homogeneous") {
    val dir = freshStore()
    import spark.implicits._
    VersionedTable.commit(spark, dir,
      spark.range(5).select(col("id").as("k"), (col("id") * 10).as("v")))
    val evolved = Seq((1L, 111L, 0.5, "upsert"), (9L, 90L, 0.7, "upsert"))
      .toDF("k", "v", "score", "op")
    intercept[Exception] { VersionedTable.merge(spark, dir, evolved, "k") }
    VersionedTable.merge(spark, dir, evolved, "k", allowSchemaEvolution = true)
    val cur = VersionedTable.read(spark, dir)
    assert(cur.columns.toSeq === Seq("k", "v", "score"))
    val scores = cur.collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[Any]("score"))).toMap
    assert(scores(1L) === Some(0.5) && scores(9L) === Some(0.7))
    assert(scores(2L) === None, "kept rows null-fill the new column")
    // the full-snapshot rewrite is homogeneous: a plain read of the
    // new version (no mergeSchema) sees the widened schema
    assert(VersionedTable.read(spark, dir, asOf = Some(0L)).columns.toSeq
      === Seq("k", "v"))
  }

  test("merge fails loudly on an unknown op instead of silently deleting the key") {
    val dir = freshStore()
    VersionedTable.commit(spark, dir,
      spark.range(10).select(col("id").as("k"), (col("id") * 10).as("v")))
    import spark.implicits._
    // "upsrt" (typo) must raise, not be treated as a delete
    val bad = Seq((3L, 999L, "upsrt")).toDF("k", "v", "op")
    val e = intercept[Exception] { VersionedTable.merge(spark, dir, bad, "k") }
    assert(e.getMessage.contains("upsert|delete") ||
      Option(e.getCause).exists(_.getMessage.contains("upsert|delete")))
    // the failed merge committed nothing and key 3 is intact
    assert(VersionedTable.latest(spark, dir) === Some(0L))
    assert(VersionedTable.read(spark, dir).filter(col("k") === 3).count() === 1)
  }

  test("incremental view maintenance from the pre-image change feed equals recompute") {
    import spark.implicits._
    val dir = freshStore()
    VersionedTable.commit(spark, dir, spark.range(100).select(
      col("id").as("k"), (col("id") % 3).as("g"), col("id").as("v")))

    def recompute() = VersionedTable.read(spark, dir)
      .groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    var view = recompute().localCheckpoint(true)

    // merge 1: update, delete, and insert a brand-new group 9
    VersionedTable.merge(spark, dir, Seq(
      (3L, 0L, 1003L, "upsert"), (7L, 0L, 0L, "delete"),
      (200L, 9L, 5L, "upsert"), (201L, 9L, 7L, "upsert")
    ).toDF("k", "g", "v", "op"), "k")
    view = VersionedTable.maintainSumCount(view,
      VersionedTable.changes(spark, dir, 0L, 1L, "k", preImages = true), "g", "v")
    assert(rows(view) === rows(recompute()),
      "incremental refresh after merge 1 must equal recompute")

    // merge 2: drop group 9 entirely and MOVE key 10 into group 2 —
    // the pre/post pair must subtract from the old group and add to
    // the new one
    VersionedTable.merge(spark, dir, Seq(
      (200L, 9L, 0L, "delete"), (201L, 9L, 0L, "delete"),
      (10L, 2L, 10L, "upsert")
    ).toDF("k", "g", "v", "op"), "k")
    view = VersionedTable.maintainSumCount(view,
      VersionedTable.changes(spark, dir, 1L, 2L, "k", preImages = true), "g", "v")
    assert(rows(view) === rows(recompute()),
      "incremental refresh after merge 2 must equal recompute")
    assert(!rows(view).exists(_._1 == 9L), "emptied group 9 must drop out")
  }

  test("a Z-order rewrite commits as a version: 2-D skipping improves, the old layout stays exact") {
    val dir = freshStore()
    // a layout clustered on NEITHER dimension: random-ish scatter of
    // (x, y) across 8 files
    val n = 1 << 12
    val df = spark.range(n).select(
      ((col("id") * 2654435761L) % n).as("x"),
      ((col("id") * 40503L) % n).as("y"))
    VersionedTable.commit(spark, dir, df.repartition(8))

    val z = ZOrder.zvalueScaled(col("x"), n - 1, col("y"), n - 1, bits = 12)
    val v0Path = versionDir(dir, 0L)
    val (_, bytes) = Compaction.layoutStats(spark, v0Path)
    val (id, _, after) =
      VersionedTable.compact(spark, dir, targetBytes = bytes / 8, cluster = Some(z))
    assert(id === 1L && after >= 4)

    // the Z-ordered version skips more files on a 2-D box probe than
    // the scattered one, judged by the reader's own min-max test
    def touched(v: Long): Long = ZOrder.candidateFiles(
      ZOrder.fileStats(VersionedTable.read(spark, dir, asOf = Some(v)), "x", "y"),
      0, n / 8, 0, n / 8)
    assert(touched(1L) < touched(0L),
      s"z-ordered ${touched(1L)} vs scattered ${touched(0L)}")

    // and time travel to the pre-rewrite layout is content-exact
    val a = VersionedTable.read(spark, dir, asOf = Some(0L))
      .orderBy("x", "y").collect().toSeq
    val b = VersionedTable.read(spark, dir, asOf = Some(1L))
      .orderBy("x", "y").collect().toSeq
    assert(a === b)
  }

  test("CommitInfo tags with backslashes or control chars fail at construction, so history is never silently null") {
    intercept[IllegalArgumentException] {
      VersionedTable.CommitInfo("merge", at = "run\\7")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.CommitInfo("merge", at = "run\n7")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.CommitInfo("op\"q")
    }
    // plain tags still pass
    VersionedTable.CommitInfo("merge", at = "run-7"): Unit
  }

  test("time travel by timestamp: commit stamps resolve versions, early asks fail loud") {
    val dir = freshStore()
    VersionedTable.commit(spark, dir, spark.range(50).toDF("id"))
    val after0 = System.currentTimeMillis()
    Thread.sleep(2)
    VersionedTable.commit(spark, dir, spark.range(80).toDF("id"))

    assert(VersionedTable.versionAt(spark, dir, after0) === 0L)
    assert(VersionedTable.versionAt(spark, dir,
      System.currentTimeMillis() + 60000) === 1L)
    assert(VersionedTable.readAt(spark, dir, after0).count() === 50)
    intercept[IllegalArgumentException](
      VersionedTable.versionAt(spark, dir, 0L))
  }
}
