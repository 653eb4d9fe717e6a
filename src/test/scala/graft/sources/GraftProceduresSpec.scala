package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.PartitionedTable
import org.apache.spark.sql.functions._

/** `CALL graft.system.<proc>(...)`: the maintenance verbs through SQL —
  * vacuum (version-count), vacuum_retain (wall-clock), optimize
  * (small-file compaction), restore — each returning a one-row summary
  * and landing the SAME library operation a Scala caller gets. */
class GraftProceduresSpec extends SparkSpec {

  import spark.implicits._

  private var seq = 0
  private def fresh(): (String, String) = {
    seq += 1
    val dir = Files.createTempDirectory("graftproc").toString + "/t"
    val name = s"p$seq"
    GraftCatalog.register(spark, "ops", name, dir, partCol = Some("part"))
    (dir, s"ops.$name")
  }

  private def commitN(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      PartitionedTable.commit(spark, dir,
        Seq((i.toLong, "p0", i * 10L)).toDF("k", "part", "v"), "part")
    }

  test("CALL analyze computes and persists statistics; DESCRIBE EXTENDED shows them; re-analyze replaces the key space") {
    val (dir, t) = fresh()
    PartitionedTable.commit(spark, dir,
      spark.range(100).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
        (col("id") % 10).as("v")), "part")
    val row = spark.sql(
      s"CALL graft.system.analyze(table => '$t')").collect().head
    assert(row.getLong(0) === 0L, "analyzed_version")
    assert(row.getLong(1) === 100L, "n_rows")
    assert(row.getInt(2) === 3, "k, part, v all analyzed")
    val props = PartitionedTable.propertiesOf(spark, dir)
    assert(props("stats.rows") === "100")
    assert(props("stats.col.v.min") === "0" && props("stats.col.v.max") === "9")
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED graft.$t").collect()
      .map(_.mkString("|")).mkString("\n").contains("stats.col.k.ndv"))
    // re-analyze restricted to one column REPLACES the stats key space
    // (stale per-column keys must not linger)
    spark.sql(s"CALL graft.system.analyze(table => '$t', columns => 'k')")
      .collect()
    val props2 = PartitionedTable.propertiesOf(spark, dir)
    assert(props2.contains("stats.col.k.ndv") &&
      !props2.keys.exists(_.startsWith("stats.col.v.")),
      s"stale stats keys lingered: ${props2.keys.filter(_.startsWith("stats."))}")
    // unknown columns fail loud
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.analyze(table => '$t', columns => 'nope')").collect())
    assert(e.getMessage.contains("nope"), s"got: ${e.getMessage}")
    // histogram_columns builds an equi-height histogram per named
    // numeric column with `buckets` bins, reported and persisted
    val hRow = spark.sql(
      s"""CALL graft.system.analyze(table => '$t',
         |histogram_columns => 'v', buckets => 16)""".stripMargin)
      .collect().head
    assert(hRow.getInt(3) === 1, "n_histograms")
    val hProps = PartitionedTable.propertiesOf(spark, dir)
    assert(hProps("stats.col.v.histogram").split("\\|")(1)
      .split(";").length === 16, hProps("stats.col.v.histogram"))
    // non-numeric histogram columns fail loud
    val he = intercept[Exception](spark.sql(
      s"""CALL graft.system.analyze(table => '$t',
         |histogram_columns => 'part')""".stripMargin).collect())
    assert(he.getMessage.contains("numeric"), s"got: ${he.getMessage}")
  }

  test("CALL vacuum drops all but the newest <keep> versions and reports the GC") {
    val (dir, t) = fresh()
    commitN(dir, 4) // v0..v3
    val row = spark.sql(
      s"CALL graft.system.vacuum(table => '$t', keep => 2)").head()
    assert(row.getInt(0) === 2, "two manifests dropped")
    assert(row.getLong(2) === 3L, "newest version reported")
    assert(PartitionedTable.versions(spark, dir).sorted === Seq(2L, 3L))
    intercept[Exception](PartitionedTable.read(spark, dir, Some(0L)))
  }

  test("CALL vacuum_retain resolves the horizon from commit stamps: 0 hours keeps only the newest, a wide window keeps everything") {
    val (dir, t) = fresh()
    commitN(dir, 3)
    val kept = spark.sql(
      s"CALL graft.system.vacuum_retain(table => '$t', retain_hours => 1000.0)")
      .head()
    assert(kept.getInt(0) === 0, "a wide window drops nothing")
    val row = spark.sql(
      s"CALL graft.system.vacuum_retain(table => '$t', retain_hours => 0.0)")
      .head()
    assert(row.getInt(0) === 2, "zero retention keeps only the newest")
    assert(PartitionedTable.versions(spark, dir) === Seq(2L))
  }

  test("CALL optimize bin-packs small files; a second call is a no-op") {
    val (dir, t) = fresh()
    PartitionedTable.commit(spark, dir,
      spark.range(2000).select(col("id").as("k"), lit("p0").as("part"),
        col("id").as("v")).repartition(8), "part")
    val before = PartitionedTable.read(spark, dir).inputFiles.length
    assert(before === 8)
    val row = spark.sql(
      s"CALL graft.system.optimize(table => '$t', target_mb => 128)").head()
    assert(row.getInt(0) === 1, "the 8-file partition is flagged")
    assert(PartitionedTable.read(spark, dir).inputFiles.length < 8)
    assert(PartitionedTable.read(spark, dir)
      .agg(sum("v")).head().getLong(0) === 1999L * 2000 / 2)
    assert(spark.sql(
      s"CALL graft.system.optimize(table => '$t', target_mb => 128)").head()
      .getInt(0) === 0, "already-packed partitions are not rewritten")
  }

  test("CALL optimize(zorder_by => 'a,b') interleave-clusters the rewrite: per-file spans tighten on both columns") {
    val (dir, t) = fresh()
    // 8 shuffled files, ~8 MB total (the pad column defeats parquet
    // compression so the 1 MB target yields SEVERAL output files):
    // every input file spans ~the full range of both cluster columns
    PartitionedTable.commit(spark, dir,
      spark.range(500000).select(col("id").as("k"), lit("p0").as("part"),
        (col("id") % 64).as("a"), ((col("id") * 37) % 64).as("b"),
        (col("id") * 6364136223846793005L).as("pad"))
        .repartition(8), "part")
    val spanBefore = graft.operators.ZOrder.fileStats(
      PartitionedTable.read(spark, dir), "a", "b")
      .selectExpr("avg(max1 - min1)").head().getDouble(0)
    assert(spanBefore > 55, s"shuffled layout must span a, got $spanBefore")
    val row = spark.sql(s"CALL graft.system.optimize(table => '$t', " +
      "target_mb => 1, zorder_by => 'a,b')").head()
    assert(row.getInt(0) === 1)
    val after = PartitionedTable.read(spark, dir)
    assert(after.agg(sum("k")).head().getLong(0) === 499999L * 500000 / 2)
    val spanAfter = graft.operators.ZOrder.fileStats(after, "a", "b")
      .selectExpr("avg(max1 - min1)").head().getDouble(0)
    assert(spanAfter < spanBefore * 0.6,
      s"z-ordered files must tighten per-file spans: $spanBefore -> $spanAfter")
  }

  test("CALL optimize keeps the table's stats and bloom sidecars, plain and zorder_by alike") {
    Seq("" -> "compact", ", zorder_by => 'a,b'" -> "optimize").foreach {
      case (zorderArg, operation) =>
        val (dir, t) = fresh()
        PartitionedTable.commit(spark, dir,
          spark.range(4096).select(col("id").as("k"), lit("p0").as("part"),
            (col("id") % 64).as("a"), ((col("id") * 37) % 64).as("b"))
            .repartition(8), "part", statsCols = Seq("a"), bloomCols = Seq("k"))
        val hfs = graft.streaming.VersionedStore.fs(spark, dir)
        def sidecars: Map[String, Seq[String]] = {
          val v = PartitionedTable.latest(spark, dir).get
          val vdir = graft.streaming.VersionedStore.path(s"$dir/__part=p0",
            PartitionedTable.manifest(spark, dir, v)("__part=p0"))
          val stats = new org.apache.hadoop.fs.Path(vdir, "_stats")
          val bloom = new org.apache.hadoop.fs.Path(vdir, "_bloom")
          Map(
            "_stats" -> (if (!hfs.exists(stats)) Nil
              else spark.read.parquet(stats.toString).columns.toSeq
                .filter(_.startsWith("min_")).sorted),
            "_bloom" -> (if (!hfs.exists(bloom)) Nil
              else spark.read.parquet(bloom.toString).select("col").distinct()
                .collect().map(_.getString(0)).toSeq))
        }
        val tracked = Map("_stats" -> Seq("min_a"), "_bloom" -> Seq("k"))
        assert(sidecars === tracked)
        val row = spark.sql(s"CALL graft.system.optimize(table => '$t', " +
          s"target_mb => 1$zorderArg)").head()
        assert(row.getInt(0) === 1)
        assert(PartitionedTable.history(spark, dir).orderBy(col("version").desc)
          .head().getAs[String]("operation") === operation)
        assert(sidecars === tracked,
          s"optimize$zorderArg must keep the table's skipping sidecars")
        // reads through the inherited sidecars stay exact
        assert(PartitionedTable.readWhere(spark, dir, "a", lit(10L), lit(12L))
          .count() === 4096 / 64 * 3)
        assert(PartitionedTable.readEq(spark, dir, "k", lit(17L))
          .select("a").as[Long].collect().toSeq === Seq(17L))
    }
  }

  test("CALL restore commits a past version's content as the new version; SHOW PROCEDURES lists the surface") {
    val (dir, t) = fresh()
    PartitionedTable.commit(spark, dir,
      Seq((1L, "p0", 10L)).toDF("k", "part", "v"), "part") // v0
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p0", 99L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v1
    val row = spark.sql(
      s"CALL graft.system.restore(table => '$t', version => 0)").head()
    assert(row.getLong(1) === 2L, "restore mints a new version")
    assert(PartitionedTable.read(spark, dir).select("v").head()
      .getLong(0) === 10L, "content equals v0")
    val procs = spark.sql("SHOW PROCEDURES IN graft.system")
      .select("procedure_name").collect().map(_.getString(0)).toSet
    assert(Set("vacuum", "vacuum_retain", "optimize", "restore", "clone")
      .subsetOf(procs), s"got $procs")
  }

  test("CALL vacuum(dry_run => true) reports exactly what the real vacuum then drops, mutating nothing") {
    val (dir, t) = fresh()
    commitN(dir, 4) // v0..v3, one store version each
    val dry = spark.sql(
      s"CALL graft.system.vacuum(table => '$t', keep => 1, dry_run => true)")
      .head()
    // nothing moved: every version still reconstructs and reads
    assert(PartitionedTable.versions(spark, dir).sorted
      === Seq(0L, 1L, 2L, 3L))
    assert(PartitionedTable.read(spark, dir, Some(0L)).count() === 1L)
    assert(dry.getBoolean(3) === true)
    val real = spark.sql(
      s"CALL graft.system.vacuum(table => '$t', keep => 1)").head()
    assert((dry.getInt(0), dry.getInt(1)) === (real.getInt(0), real.getInt(1)),
      "dry run must predict the destructive pass exactly")
    assert(PartitionedTable.versions(spark, dir) === Seq(3L))
  }

  test("CALL clone shallow-clones through SQL: registered, readable, zero data copied, COW on write") {
    // own registration WITH keyCol: the clone inherits the full
    // contract, so SQL UPDATE works on it
    val dir = Files.createTempDirectory("graftproc").toString + "/t"
    val t = "ops.csrc"
    GraftCatalog.register(spark, "ops", "csrc", dir,
      partCol = Some("part"), keyCol = Some("k"))
    PartitionedTable.commit(spark, dir,
      (0 until 20).map(i => (i.toLong, s"p${i % 2}", i * 10L))
        .toDF("k", "part", "v"), "part") // v0
    PartitionedTable.merge(spark, dir,
      Seq((0L, "p0", 999L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // v1
    val base = Files.createTempDirectory("graftclone").toString
    val row = spark.sql(s"CALL graft.system.clone(table => '$t', " +
      s"target => 'ops.c1', location => '$base/c1')").head()
    assert(row.getLong(0) === 1L, "cloned the latest version by default")
    // readable through SQL immediately, content == source latest
    assert(spark.sql("SELECT sum(v) FROM graft.ops.c1").head().getLong(0)
      === spark.sql(s"SELECT sum(v) FROM graft.$t").head().getLong(0))
    // zero data movement: the clone dir holds no partition stores yet
    val hfs = graft.streaming.VersionedStore.fs(spark, s"$base/c1")
    assert(!hfs.listStatus(new org.apache.hadoop.fs.Path(s"$base/c1"))
      .exists(_.getPath.getName.startsWith("__part=")),
      "shallow clone must not copy partition stores")
    // versioned clone takes the pinned snapshot
    spark.sql(s"CALL graft.system.clone(table => '$t', " +
      s"target => 'ops.c0', location => '$base/c0', version => 0)")
    assert(spark.sql("SELECT sum(v) FROM graft.ops.c0 WHERE k = 0")
      .head().getLong(0) === 0L, "v0 content, not the merged v1")
    // COW: writing the clone never touches the source
    spark.sql("UPDATE graft.ops.c1 SET v = 0 WHERE k = 1")
    assert(spark.sql(s"SELECT v FROM graft.$t WHERE k = 1").head().getLong(0)
      === 10L, "source unwritten after clone update")
    assert(spark.sql("SELECT v FROM graft.ops.c1 WHERE k = 1")
      .head().getLong(0) === 0L)
    // an already-registered target is refused
    intercept[Exception](spark.sql(s"CALL graft.system.clone(" +
      s"table => '$t', target => 'ops.c1', location => '$base/cX')"))
    GraftCatalog.unregister("ops", "c1")
    GraftCatalog.unregister("ops", "c0")
  }
}
