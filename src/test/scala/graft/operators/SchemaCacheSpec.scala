package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The per-slice metadata cache behind [[PartitionedTable]] reads:
  * footer schemas, live rows, bytes and `_stats` rows per (version dir,
  * table epoch). Schemas of slices this JVM landed are written through;
  * others cost one footer-merge job; merged read schemas are
  * bit-identical to `mergeSchema=true`; the cache is byte-bounded and
  * invalidated by this JVM's landing/vacuum paths — a re-minted
  * `batch=N` dir (restore→vacuum→rewrite, or a test deleting and
  * recreating a table dir) must never serve the stale cached entry. */
class SchemaCacheSpec extends SparkSpec {

  private def freshStore(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def table(n: Int) = spark.range(n).select(
    col("id").as("k"),
    concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
    (col("id") * 10).as("v"))

  test("a re-read is a cache HIT (no second footer-merge job)") {
    val dir = freshStore("graftsc")
    PartitionedTable.commit(spark, dir, table(100), "part")
    PartitionedTable.read(spark, dir).collect(): Unit
    val misses0 = PartitionedTable.sliceMetaMisses
    PartitionedTable.read(spark, dir).collect(): Unit
    assert(PartitionedTable.sliceMetaMisses === misses0,
      "the second read of an unchanged table must hit the schema cache")
  }

  test("a re-minted version dir with a DIFFERENT schema never serves the stale cached one") {
    val dir = freshStore("graftscre")
    PartitionedTable.commit(spark, dir, table(10), "part") // batch=0, 3 cols
    assert(PartitionedTable.read(spark, dir).columns.toSeq ===
      Seq("k", "part", "v"))
    // delete + recreate the SAME dir with an extra column: the new
    // commit re-mints the same __part=*/batch=0 paths
    graft.streaming.VersionedStore.fs(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    PartitionedTable.commit(spark, dir,
      table(10).withColumn("extra", col("k") + 1000), "part")
    val re = PartitionedTable.read(spark, dir)
    assert(re.columns.contains("extra"),
      s"stale cached schema served after re-mint: ${re.columns.mkString(",")}")
    assert(re.select(sum("extra")).head.getLong(0) === 10045L,
      "the new column must carry VALUES, not stale-schema null-fill")
  }

  test("restore then vacuum then rewrite: the re-minted batch path reads the NEW schema") {
    import spark.implicits._
    val dir = freshStore("graftscrv")
    PartitionedTable.commit(spark, dir, table(10), "part") // v0
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p1", 999L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v1 re-writes p1
    PartitionedTable.read(spark, dir).collect(): Unit // cache v1's paths
    PartitionedTable.restore(spark, dir, 0L) // v2 = v0's content
    PartitionedTable.vacuum(spark, dir, keep = 1) // drops v0/v1 + orphans
    // rewrite p1 WITH a new column: its store may re-mint a dropped
    // version id under the same path
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p1", 7L, "upsert", "tag")).toDF("k", "part", "v", "op", "w"),
      "k", "part", allowSchemaEvolution = true)
    val re = PartitionedTable.read(spark, dir)
    assert(re.columns.contains("w"),
      s"stale schema after restore+vacuum+rewrite: ${re.columns.mkString(",")}")
    assert(re.filter(col("k") === 3).select("w").head.getString(0) === "tag")
  }

  test("byte-bounded LRU: many distinct path sets never accrete past the bound; evicted entries re-merge identically") {
    val dir = freshStore("graftscev")
    PartitionedTable.commit(spark, dir, table(100), "part")
    val prevMax = PartitionedTable.sliceMetaMaxBytes
    PartitionedTable.sliceMetaMaxBytes = 1024L
    try {
      val stores = (0 until 12).map { i =>
        val d = freshStore(s"graftscev$i")
        PartitionedTable.commit(spark, d, table(10), "part")
        PartitionedTable.read(spark, d).collect(): Unit
        d
      }
      assert(PartitionedTable.sliceMetaEntries <= 8,
        s"entries must evict under the byte bound: " +
          s"${PartitionedTable.sliceMetaEntries}")
      // an evicted entry re-merges (a MISS) with identical results
      val first = stores.head
      val again = PartitionedTable.read(spark, first)
        .orderBy("k").collect().map(_.toString).toSeq
      assert(again.size === 10)
    } finally PartitionedTable.sliceMetaMaxBytes = prevMax
  }

  test("cached-schema reads are bit-identical to mergeSchema=true on an EVOLVED table") {
    import spark.implicits._
    val dir = freshStore("graftscbit")
    PartitionedTable.commit(spark, dir, table(40), "part")
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 11L, "upsert", 1.5), (2L, "p0", 22L, "upsert", 2.5))
        .toDF("k", "part", "v", "op", "score"),
      "k", "part", allowSchemaEvolution = true)
    // cold read = the mergeSchema=true footer pass; warm read = the
    // cached-schema declared read. Same rows, same schema, bit for bit.
    val cold = PartitionedTable.read(spark, dir)
    val coldRows = cold.orderBy("k").collect().map(_.toString).toSeq
    val coldSchema = cold.schema
    val warm = PartitionedTable.read(spark, dir)
    assert(warm.schema === coldSchema)
    assert(warm.orderBy("k").collect().map(_.toString).toSeq === coldRows)
    // evolved column: touched rows carry values, untouched null-fill
    assert(cold.filter(col("k") === 1).select("score").head.getDouble(0)
      === 1.5)
    assert(cold.filter(col("k") === 5).select("score").head.isNullAt(0)
      || cold.filter(col("k") === 5).select("score").head.get(0) == null)
  }
  /** Live slice dirs of `dir`'s newest version, in path order. */
  private def sliceDirs(dir: String): Seq[String] = {
    val v = PartitionedTable.versions(spark, dir).max
    PartitionedTable.manifest(spark, dir, v).toSeq.sorted.map { case (n, sv) =>
      graft.streaming.VersionedStore.path(
        new org.apache.hadoop.fs.Path(dir, n).toString, sv).toString
    }
  }

  test("restore then vacuum then rewrite: row and byte estimates describe the re-minted slice, not the one it replaced") {
    import spark.implicits._
    val dir = freshStore("graftscest")
    PartitionedTable.commit(spark, dir, table(10), "part") // v0: 5 rows per part
    PartitionedTable.merge(spark, dir,
      Seq((3L, "p1", 999L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v1 re-writes p1 as batch=1
    assert(PartitionedTable.estimateRows(spark, dir) === Some(10L))
    PartitionedTable.estimateBytes(spark, dir): Unit // caches batch=1's bytes
    PartitionedTable.restore(spark, dir, 0L)
    PartitionedTable.vacuum(spark, dir, keep = 1) // drops p1's batch=1
    // two NEW keys: p1's re-minted batch=1 holds 7 rows
    PartitionedTable.merge(spark, dir,
      Seq((101L, "p1", 1L, "upsert"), (103L, "p1", 3L, "upsert"))
        .toDF("k", "part", "v", "op"),
      "k", "part")
    assert(sliceDirs(dir).exists(_.endsWith("__part=p1/batch=1")),
      s"the flow must re-mint p1's batch=1: ${sliceDirs(dir)}")
    assert(PartitionedTable.estimateRows(spark, dir) === Some(12L),
      "a stale cached row count of the replaced slice fed CBO")
    val fs = graft.streaming.VersionedStore.fs(spark, dir)
    val onDisk = sliceDirs(dir).map(d =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength).sum
    assert(PartitionedTable.estimateBytes(spark, dir) === Some(onDisk),
      "a stale cached byte count of the replaced slice fed auto-broadcast")
  }

  test("reading slices this JVM just landed runs no footer-merge job; slices it never saw cost ONE") {
    import spark.implicits._
    val dir = freshStore("graftscland")
    val misses0 = PartitionedTable.sliceMetaMisses
    PartitionedTable.commit(spark, dir, table(60), "part", statsCols = Seq("v"))
    PartitionedTable.read(spark, dir).collect(): Unit
    PartitionedTable.readWhere(spark, dir, "v", lit(100L), lit(300L))
      .collect(): Unit
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 5L, "upsert", "x")).toDF("k", "part", "v", "op", "w"),
      "k", "part", allowSchemaEvolution = true)
    val evolved = PartitionedTable.read(spark, dir)
    assert(evolved.columns.contains("w"))
    assert(evolved.count() === 60L)
    assert(PartitionedTable.sliceMetaMisses === misses0,
      "reads of slices this JVM landed must infer nothing")
    // a JVM that never saw the slices: one job covers all of them
    PartitionedTable.clearSliceMeta()
    assert(PartitionedTable.read(spark, dir).schema === evolved.schema)
    assert(PartitionedTable.sliceMetaMisses === misses0 + 1)
  }

  test("a landed slice's recorded schema equals mergeSchema inference over a type matrix") {
    val dir = freshStore("graftsctypes")
    val tbl = s"graft_sc_types_${System.nanoTime}"
    spark.sql(
      s"""CREATE TABLE $tbl (k BIGINT, part STRING, d DATE, ts TIMESTAMP,
         |  ntz TIMESTAMP_NTZ, dec DECIMAL(20, 4), arr ARRAY<INT>,
         |  m MAP<STRING, STRUCT<a: INT, b: STRING>>,
         |  st STRUCT<x: DOUBLE, y: ARRAY<STRING>>, c CHAR(5), vc VARCHAR(10))
         |USING parquet""".stripMargin)
    try {
      spark.sql(
        s"""INSERT INTO $tbl VALUES
           |(1, 'p0', DATE'2020-01-02', TIMESTAMP'2020-01-02 03:04:05',
           | TIMESTAMP_NTZ'2020-01-02 03:04:05', 12.3456, array(1, null),
           | map('a', named_struct('a', 1, 'b', 'x')),
           | named_struct('x', 1.5, 'y', array('u')), 'ab', 'abc'),
           |(2, 'p1', null, null, null, null, null, null, null, null, null)"""
          .stripMargin)
      val df = spark.table(tbl).withMetadata("k",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("comment", "the key").build())
      PartitionedTable.commit(spark, dir, df, "part")
      val slices = sliceDirs(dir)
      def inferred(paths: Seq[String]) =
        spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      val misses0 = PartitionedTable.sliceMetaMisses
      (slices.map(Seq(_)) :+ slices).foreach { ps =>
        assert(PartitionedTable.mergedSchemaOf(spark, ps) === Some(inferred(ps)),
          s"recorded schema differs from inference over $ps")
      }
      assert(PartitionedTable.sliceMetaMisses === misses0)
      // the footer-job path agrees too
      PartitionedTable.clearSliceMeta()
      assert(PartitionedTable.mergedSchemaOf(spark, slices) ===
        Some(inferred(slices)))
      assert(PartitionedTable.sliceMetaMisses === misses0 + 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }
}
