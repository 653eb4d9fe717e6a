package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming MERGE must equal the batch MERGE applied in arrival order,
  * collapse last-wins within a batch, and apply exactly once under
  * at-least-once redelivery.
  */
class MergeStreamsSpec extends SparkSpec {

  private def state(table: String): Map[Long, Long] =
    graft.operators.PartitionedTable.read(spark, table)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("v")).toMap

  test("partitioned streaming merge: touched-partition rewrites, exactly-once redelivery, == batch merge") {
    import graft.operators.PartitionedTable
    import spark.implicits._
    val base = Files.createTempDirectory("pmerge-stream").toString
    val (src, table, ckpt) = (s"$base/src", s"$base/table", s"$base/ckpt")

    // batch 1 seeds three partitions; k=2 appears twice — seq 11 wins
    val b1 = Seq(
      (1L, "p0", 10L, 1L, "upsert"), (2L, "p1", 20L, 2L, "upsert"),
      (2L, "p1", 21L, 11L, "upsert"), (3L, "p2", 30L, 3L, "upsert"),
      (4L, "p0", 40L, 4L, "upsert"), (6L, "p1", 60L, 5L, "upsert"),
      (7L, "p1", 70L, 6L, "upsert")).toDF("k", "part", "v", "seq", "op")
    // batch 2 touches ONLY p1: update 2, insert 5, delete 6;
    // delete-then-reinsert of 7
    val b2 = Seq(
      (2L, "p1", 22L, 5L, "upsert"), (5L, "p1", 50L, 6L, "upsert"),
      (6L, "p1", 0L, 7L, "delete"), (7L, "p1", 0L, 8L, "delete"),
      (7L, "p1", 77L, 9L, "upsert")
    ).toDF("k", "part", "v", "seq", "op")

    b1.write.mode("append").parquet(src)
    MergeStreams.mergeMaintain(spark, src, b1.schema, table, ckpt,
      "k", "part", "op", Seq("seq"))
    assert(state(table) === Map(1L -> 10L, 2L -> 21L, 3L -> 30L, 4L -> 40L,
      6L -> 60L, 7L -> 70L))

    // p0/p2 files before the p1-only batch
    def files(part: String) = {
      val hfs = VersionedStore.fs(spark, table)
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        hfs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
        }
      walk(new org.apache.hadoop.fs.Path(table, part)).sortBy(_._1)
    }
    val before = Seq("__part=p0", "__part=p2").map(p => p -> files(p)).toMap

    b2.write.mode("append").parquet(src)
    MergeStreams.mergeMaintain(spark, src, b2.schema, table, ckpt,
      "k", "part", "op", Seq("seq"))
    val afterB2 = Map(1L -> 10L, 2L -> 22L, 3L -> 30L, 4L -> 40L, 5L -> 50L,
      7L -> 77L)
    assert(state(table) === afterB2,
      "update applied, delete dropped, insert landed, delete-then-reinsert kept the reinsert")
    before.foreach { case (p, fs0) =>
      assert(files(p) === fs0, s"untouched partition $p was rewritten by the stream")
    }

    // redelivery of batch 1 (driven directly): exactly-once no-op
    val manifests = PartitionedTable.versions(spark, table).sorted
    MergeStreams.mergeBatch(spark, table, b1, manifests.head,
      "k", "part", "op", Seq("seq"))
    assert(state(table) === afterB2)
    assert(PartitionedTable.versions(spark, table).sorted === manifests,
      "a redelivered batch must not mint a manifest")

    // equality with the batch path over the same changelog
    val flat = s"$base/batch-table"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part", "k").orderBy(col("seq").desc)
    def collapsed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "seq")
    PartitionedTable.commit(spark, flat,
      collapsed(b1).filter(col("op") === "upsert").drop("op"), "part")
    PartitionedTable.merge(spark, flat, collapsed(b2), "k", "part")
    assert(state(table) === state(flat),
      "streamed partitioned merge must equal the batch merge")

    // manifest-driven partition pruning reads only the asked partition
    val p1Only = PartitionedTable.readPartitions(spark, table, Seq("p1"))
    assert(p1Only.inputFiles.forall(_.contains("__part=p1")))
    assert(p1Only.collect().map(_.getAs[Long]("k")).toSet === Set(2L, 5L, 7L))

    // the gated partitioned stream quarantines dirty upserts per-rule
    val (gTable, gQuar) = (s"$base/gated", s"$base/gquar")
    val rules = Seq("v_positive" -> (col("v") > 0L))
    val gb = Seq(
      (1L, "p0", 10L, 1L, "upsert"), (2L, "p1", -5L, 2L, "upsert")
    ).toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, gTable, gb, 0L,
      "k", "part", "op", Seq("seq"), rules, Some(gQuar))
    assert(PartitionedTable.read(spark, gTable)
      .collect().map(_.getAs[Long]("k")).toSet === Set(1L))
    val quar = spark.read.parquet(VersionedStore.path(gQuar, 0L).toString)
      .select("k", "violated").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(quar === Map(2L -> Set("v_positive")))
  }

  test("streaming expectations gate: dirty upserts quarantine per-rule before the merge, == batch gate, retry-safe") {
    import graft.operators.PartitionedTable
    import spark.implicits._
    val base = Files.createTempDirectory("merge-gate").toString
    val (table, qdir) = (s"$base/table", s"$base/quarantine")
    val rules = Seq(
      "v_positive" -> (col("v") > 0L),
      "v_small" -> (col("v") < 1000L))

    // batch 0: k=2's LAST change is dirty (v=-5) — quarantined, so the
    // earlier clean change (v=20) wins the collapse; k=3 fails
    // v_positive; k=5 fails v_small; k=6's NULL fails BOTH (fail-closed)
    val b0 = Seq(
      (1L, "p0", Some(10L), 1L, "upsert"), (2L, "p1", Some(20L), 2L, "upsert"),
      (2L, "p1", Some(-5L), 3L, "upsert"), (3L, "p0", Some(-2000L), 4L, "upsert"),
      (5L, "p1", Some(5000L), 5L, "upsert"), (6L, "p0", None, 6L, "upsert")
    ).toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, b0, 0L, "k", "part", "op", Seq("seq"),
      expectations = rules, quarantineDir = Some(qdir))
    assert(state(table) === Map(1L -> 10L, 2L -> 20L),
      "dirty rows must not apply; the earlier clean change wins the collapse")

    // batch 1: delete passes ungated even though v violates the rules
    val b1 = Seq((1L, "p0", Some(-999L), 7L, "delete"),
        (4L, "p1", Some(40L), 8L, "upsert"))
      .toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, b1, 1L, "k", "part", "op", Seq("seq"),
      expectations = rules, quarantineDir = Some(qdir))
    assert(state(table) === Map(2L -> 20L, 4L -> 40L),
      "deletes carry no data and must pass the gate")

    // quarantine rides a versioned store at the batch id, tagged per rule
    def quarantined(id: Long) = spark.read
      .parquet(VersionedStore.path(qdir, id).toString)
      .select(col("k"), col("violated")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(quarantined(0L) === Map(
      2L -> Set("v_positive"), 3L -> Set("v_positive"),
      5L -> Set("v_small"), 6L -> Set("v_positive", "v_small")))
    assert(quarantined(1L) === Map.empty)

    // redelivery: no state change, no new quarantine version, same tags
    MergeStreams.mergeBatch(spark, table, b0, 0L, "k", "part", "op", Seq("seq"),
      expectations = rules, quarantineDir = Some(qdir))
    assert(state(table) === Map(2L -> 20L, 4L -> 40L))
    assert(VersionedStore.versions(spark, qdir).sorted === Seq(0L, 1L))
    assert(quarantined(0L) === Map(
      2L -> Set("v_positive"), 3L -> Set("v_positive"),
      5L -> Set("v_small"), 6L -> Set("v_positive", "v_small")))

    // streamed == batch: the same changelog through split + batch merge
    val batchTable = s"$base/batch-table"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part", "k").orderBy(col("seq").desc)
    def gateCollapse(df: org.apache.spark.sql.DataFrame) = {
      val (clean, _) = graft.operators.Expectations.split(
        df.filter(col("op") === "upsert"), rules)
      clean.unionByName(df.filter(col("op") =!= "upsert"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "seq")
    }
    PartitionedTable.commit(spark, batchTable,
      gateCollapse(b0).filter(col("op") === "upsert").drop("op"), "part")
    PartitionedTable.merge(spark, batchTable, gateCollapse(b1), "k", "part")
    assert(state(table) === state(batchTable),
      "the streamed gate+merge must equal the batch gate+merge")

    // expectations without a quarantine store are refused
    intercept[IllegalArgumentException] {
      MergeStreams.mergeBatch(spark, table, b1, 2L, "k", "part", "op",
        Seq("seq"), expectations = rules)
    }
  }

  test("partitioned CDC out: partition-aware pre-image feeds maintain a view == recompute; retries re-emit identically") {
    import graft.operators.{PartitionedTable, VersionedTable}
    import spark.implicits._
    val table = Files.createTempDirectory("pmerge-feed").toString + "/table"
    val feeds = collection.mutable.Map[Long, Seq[Row2]]()
    case class Row2(part: String, k: Long, op: String, v: Any)
    def sink(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      feeds(id) = df.collect().map(r => Row2(r.getString(0), r.getLong(1),
        r.getString(2), r.get(3))).sortBy(t => (t.part, t.k, t.op)).toSeq

    val b0 = Seq(
      (1L, "p0", 10L, 1L, "upsert"), (2L, "p1", 20L, 2L, "upsert"),
      (3L, "p1", 30L, 3L, "upsert")).toDF("k", "part", "v", "seq", "op")
    val b1 = Seq( // touches ONLY p1: update 2, delete 3, insert 4
      (2L, "p1", 22L, 4L, "upsert"), (3L, "p1", 0L, 5L, "delete"),
      (4L, "p1", 40L, 6L, "upsert")).toDF("k", "part", "v", "seq", "op")

    MergeStreams.mergeBatch(spark, table, b0, 0L,
      "k", "part", "op", Seq("seq"), feedSink = Some(sink _))
    var view = spark.range(0).select(col("id").cast("string").as("part"),
      col("id").as("sum_v"), col("id").as("n"))
    def applyFeed(id: Long) = {
      val f = feeds(id).map(t => (t.part, t.k, t.op,
        Option(t.v).map(_.asInstanceOf[Long]).getOrElse(0L)))
        .toDF("part", "k", "op", "v")
      view = VersionedTable.maintainSumCount(view, f, "part", "v")
        .localCheckpoint(true)
    }
    applyFeed(0L)
    def viewRows = view.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    def recompute = PartitionedTable.read(spark, table)
      .groupBy("part").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(viewRows === recompute, "view after batch 0 must equal recompute")

    MergeStreams.mergeBatch(spark, table, b1, 1L,
      "k", "part", "op", Seq("seq"), feedSink = Some(sink _))
    // the feed only scanned the touched partition's dirs
    val first1 = feeds(1L)
    assert(first1.map(_.part).toSet === Set("p1"),
      "untouched partitions must not appear in the feed")
    applyFeed(1L)
    assert(viewRows === recompute, "view after batch 1 must equal recompute")
    assert(viewRows === Seq(("p0", 10L, 1L), ("p1", 62L, 2L)))

    // redelivery re-emits the byte-identical feed from the same pair
    MergeStreams.mergeBatch(spark, table, b1, 1L,
      "k", "part", "op", Seq("seq"), feedSink = Some(sink _))
    assert(feeds(1L) === first1, "retry must re-emit the identical feed")
  }

  test("streaming delete-only batches ride the deletion-vector path with exactly-once semantics") {
    import graft.operators.{Compaction, PartitionedTable}
    import spark.implicits._
    val table = Files.createTempDirectory("pmerge-dv").toString + "/table"
    val b0 = spark.range(50).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      (col("id") * 10).as("v"), lit(0L).as("seq"), lit("upsert").as("op"))
    MergeStreams.mergeBatch(spark, table, b0, 0L,
      "k", "part", "op", Seq("seq"))
    val m0 = PartitionedTable.manifest(spark, table, 0L)
    val p1Before = Compaction.layoutStats(spark,
      VersionedStore.path(s"$table/__part=p1", m0("__part=p1")).toString)

    // delete-only batch on p1 → DV delta, no rewrite
    val del = Seq((1L, "p1", 0L, 1L, "delete"), (3L, "p1", 0L, 2L, "delete"))
      .toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, del, 1L,
      "k", "part", "op", Seq("seq"))
    val m1 = PartitionedTable.manifest(spark, table, 1L)
    val hfs = VersionedStore.fs(spark, table)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(
      VersionedStore.path(s"$table/__part=p1", m1("__part=p1")), "_base.txt")),
      "the streamed delete-only batch must land a DV delta")
    assert(PartitionedTable.read(spark, table).count() === 48)
    // the base version survived the 2-manifest vacuum (pinned by the DV)
    assert(Compaction.layoutStats(spark,
      VersionedStore.path(s"$table/__part=p1", m0("__part=p1")).toString)
      === p1Before, "vacuum must keep the DV's base")

    // redelivery: no new manifest, same state
    MergeStreams.mergeBatch(spark, table, del, 1L,
      "k", "part", "op", Seq("seq"))
    assert(PartitionedTable.versions(spark, table).sorted === Seq(0L, 1L))
    assert(PartitionedTable.read(spark, table).count() === 48)
  }

  test("streaming in-place partition fold: files shrink, batch ids never collide, state exact") {
    import graft.operators.PartitionedTable
    import spark.implicits._
    val table = Files.createTempDirectory("pmerge-fold").toString + "/table"
    // every batch shreds its touched partition into 8 tiny files
    def batchDf(b: Long) = spark.range(64)
      .select((col("id") + b * 64).as("k"), lit("p0").as("part"),
        (col("id") + b).as("v"), lit(b).as("seq"), lit("upsert").as("op"))
      .repartition(8)
    val target = 32L * 1024 * 1024

    MergeStreams.mergeBatch(spark, table, batchDf(0), 0L,
      "k", "part", "op", Seq("seq"), compactTargetBytes = Some(target))
    MergeStreams.mergeBatch(spark, table, batchDf(1), 1L,
      "k", "part", "op", Seq("seq"), compactTargetBytes = Some(target))
    // the fold kept the pinned version dir small WITHOUT minting a
    // manifest — batch ids stay the manifest ids
    assert(PartitionedTable.versions(spark, table).sorted === Seq(0L, 1L),
      "in-place folds must not occupy future batch ids")
    val m = PartitionedTable.manifest(spark, table, 1L)
    val (files, _) = graft.operators.Compaction.layoutStats(spark,
      VersionedStore.path(s"$table/__part=p0", m("__part=p0")).toString)
    assert(files <= 2, s"fold must shrink the shred, got $files")
    val folded = state(table)
    assert(folded.size === 128 && folded(70L) === 7L)

    // redelivery after an in-place fold: same id, same content, no new
    // manifest
    MergeStreams.mergeBatch(spark, table, batchDf(1), 1L,
      "k", "part", "op", Seq("seq"), compactTargetBytes = Some(target))
    assert(state(table) === folded)
    assert(PartitionedTable.versions(spark, table).sorted === Seq(0L, 1L))

    // batch 2 still applies (nothing swallowed its id)
    MergeStreams.mergeBatch(spark, table, batchDf(2), 2L,
      "k", "part", "op", Seq("seq"), compactTargetBytes = Some(target))
    val after = state(table)
    assert(after.size === 192 && after(130L) === 4L)

    // equality with the unfolded run of the same changelog
    val plain = Files.createTempDirectory("pmerge-plain").toString + "/table"
    (0L to 2L).foreach(b => MergeStreams.mergeBatch(
      spark, plain, batchDf(b), b, "k", "part", "op", Seq("seq")))
    assert(after === state(plain), "the fold is layout-only")
  }

  test("a NULL op fails loudly even under the expectations gate (null-safe split)") {
    import spark.implicits._
    val base = Files.createTempDirectory("merge-nullop").toString
    val rules = Seq("v_positive" -> (col("v") > 0L))

    // the null-op row must reach the merge's op census, not vanish
    // between the two gate predicates
    val bad = Seq((1L, "p0", 10L, 1L, Option("upsert")),
        (2L, "p1", 20L, 2L, Option.empty[String]))
      .toDF("k", "part", "v", "seq", "op")
    intercept[Exception] {
      MergeStreams.mergeBatch(spark, s"$base/table", bad, 0L,
        "k", "part", "op", Seq("seq"), rules, Some(s"$base/quarantine"))
    }
    assert(graft.operators.PartitionedTable.versions(spark, s"$base/table").isEmpty,
      "a failed batch must not commit")
  }

  test("empty micro-batches keep the partitioned fold and its CDC feed alive") {
    import graft.operators.PartitionedTable
    import spark.implicits._
    val base = Files.createTempDirectory("merge-emptyb").toString
    val table = s"$base/table"
    val schemaDf = Seq((0L, "p0", 0L, 0L, "upsert"))
      .toDF("k", "part", "v", "seq", "op")
    val empty = schemaDf.limit(0)
    val feeds = collection.mutable.Map[Long, Seq[org.apache.spark.sql.Row]]()
    val sink = Some((df: org.apache.spark.sql.DataFrame, id: Long) =>
      feeds(id) = df.collect().toSeq)

    // EMPTY FIRST batch: commits an empty manifest, feed is empty, no crash
    MergeStreams.mergeBatch(spark, table, empty, 0L,
      "k", "part", "op", Seq("seq"), feedSink = sink)
    assert(PartitionedTable.versions(spark, table) === Seq(0L))
    assert(feeds(0L).isEmpty)

    // real batch after the empty one applies normally; feed = inserts
    val b1 = Seq((1L, "p0", 10L, 1L, "upsert"), (2L, "p1", 20L, 2L, "upsert"))
      .toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, b1, 1L,
      "k", "part", "op", Seq("seq"), feedSink = sink)
    assert(feeds(1L).map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet === Set(("p0", 1L, "insert"), ("p1", 2L, "insert")))

    // a LATER no-op batch (everything quarantined by expectations):
    // manifest identical to its predecessor, feed empty with the feed
    // schema — the stream must not crash on the empty partition mapping
    val dirty = Seq((3L, "p0", -5L, 3L, "upsert"))
      .toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, dirty, 2L,
      "k", "part", "op", Seq("seq"),
      expectations = Seq("v_positive" -> (col("v") > 0L)),
      quarantineDir = Some(s"$base/quar"), feedSink = sink)
    assert(feeds(2L).isEmpty)
    assert(feeds(2L).isInstanceOf[Seq[_]])
    assert(PartitionedTable.read(spark, table).count() === 2,
      "the no-op batch must leave the table unchanged")

    // and the fold continues past it
    val b3 = Seq((3L, "p0", 30L, 4L, "upsert"))
      .toDF("k", "part", "v", "seq", "op")
    MergeStreams.mergeBatch(spark, table, b3, 3L,
      "k", "part", "op", Seq("seq"), feedSink = sink)
    assert(feeds(3L).map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet === Set(("p0", 3L, "insert")))
    assert(PartitionedTable.read(spark, table).count() === 3)

  }

  test("streaming folds keep stats sidecars: mergeAt writes them, the in-place fold regenerates them") {
    import graft.operators.PartitionedTable
    import org.apache.hadoop.fs.Path
    val table = Files.createTempDirectory("pmerge-stats").toString + "/table"
    // 8 shredded-but-x-clustered files: each file covers a disjoint x
    // range, so a narrow probe can prove file skipping. mergeAt is the
    // streaming fold's landing surface (manifest version = batch id).
    val b0 = spark.range(800)
      .select(col("id").as("k"), lit("p0").as("part"),
        (col("id") % 400).as("x"), lit("upsert").as("op"))
      .repartitionByRange(8, col("x"))
    assert(PartitionedTable.mergeAt(spark, table, b0,
      "k", "part", "op", 0L, statsCols = Seq("x")))
    // the streamed version carries a sidecar and prunes files
    val probe0 = PartitionedTable.readWhere(spark, table, "x", lit(10L), lit(40L))
    val all0 = PartitionedTable.read(spark, table).inputFiles.length
    assert(probe0.inputFiles.length < all0,
      s"mergeAt(statsCols) must enable skipping (${probe0.inputFiles.length} of $all0)")
    assert(probe0.count() === 800 / 400 * 31)

    // the in-place fold (clustered) regenerates the sidecar for the
    // NEW files — stale stats naming swapped-away files would silently
    // prune live rows, so exactness here is the load-bearing assert
    val folded = PartitionedTable.compactPartitionsInPlace(spark, table,
      targetBytes = 256L * 1024 * 1024, cluster = Some(col("x")))
    assert(folded === Seq("__part=p0"), s"fold must flag the shred: $folded")
    val m = PartitionedTable.manifest(spark, table, 0L)
    val vdir = VersionedStore.path(s"$table/__part=p0", m("__part=p0"))
    val hfs = VersionedStore.fs(spark, table)
    assert(hfs.exists(new Path(vdir, "_stats")),
      "the fold must re-stage the stats sidecar")
    val statFiles = spark.read.parquet(new Path(vdir, "_stats").toString)
      .select("file").collect().map(_.getString(0)).toSet
    val liveFiles = hfs.listStatus(vdir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSet
    assert(statFiles === liveFiles,
      s"sidecar must describe exactly the post-fold files: $statFiles vs $liveFiles")
    val probe1 = PartitionedTable.readWhere(spark, table, "x", lit(10L), lit(40L))
    assert(probe1.count() === 800 / 400 * 31,
      "reads through the regenerated sidecar stay exact")
  }
}
