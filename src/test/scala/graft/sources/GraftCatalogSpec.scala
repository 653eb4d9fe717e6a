package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.PartitionedTable
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._

/** The SQL front door's contracts: catalog reads equal library reads at
  * every version, VERSION/TIMESTAMP AS OF resolve identically to
  * versionAt/readAt, manifest partition pruning and bloom point-lookup
  * skipping SURVIVE the catalog path (plan-asserted), and the catalog
  * is read-only. */
class GraftCatalogSpec extends SparkSpec {

  private def freshStore(): String =
    Files.createTempDirectory("graftcat").toString + "/t"

  private def table(n: Int) = spark.range(n).select(
    col("id").as("k"),
    concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
    (col("id") * 10).as("v"))

  /** The inner GraftScan of a SQL read's executed plan. */
  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
    df.queryExecution.executedPlan.collectFirst {
      case r: RowDataSourceScanExec => r.relation
    }.collect { case g: GraftRelation => g.scan }
      .getOrElse(fail("no GraftRelation in the plan: " +
        df.queryExecution.executedPlan))

  test("catalog reads equal library reads; VERSION/TIMESTAMP AS OF resolve through the same machinery") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part") // v0
    val t0 = System.currentTimeMillis(); Thread.sleep(2)
    PartitionedTable.merge(spark, dir, Seq(
      (1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"),
      (401L, "p9", 4010L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    GraftCatalog.register(spark, "t", "orders", dir, partCol = Some("part"))

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

    // latest == library latest
    assert(rows(spark.sql("SELECT * FROM graft.t.orders")) ===
      rows(PartitionedTable.read(spark, dir)))
    // VERSION AS OF == read(asOf)
    assert(rows(spark.sql("SELECT * FROM graft.t.orders VERSION AS OF 0")) ===
      rows(PartitionedTable.read(spark, dir, Some(0L))))
    assert(rows(spark.sql("SELECT * FROM graft.t.orders VERSION AS OF 1")) ===
      rows(PartitionedTable.read(spark, dir, Some(1L))))
    // TIMESTAMP AS OF == readAt (same header-stamp resolution)
    val ts0 = java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(t0))
    assert(rows(spark.sql(
      s"SELECT * FROM graft.t.orders TIMESTAMP AS OF '$ts0'")) ===
      rows(PartitionedTable.readAt(spark, dir, t0)))
    // aggregates work through the bridge (empty required schema incl.)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t.orders VERSION AS OF 0")
      .head.getLong(0) === 100L)

    // a version that never existed / garbage version strings fail loud
    intercept[Exception](
      spark.sql("SELECT * FROM graft.t.orders VERSION AS OF 99").collect())
    intercept[Exception](
      spark.sql("SELECT * FROM graft.t.orders VERSION AS OF 'nope'").collect())
  }

  test("VERSION AS OF '<tag>' resolves the newest commit carrying that at-tag; unknown tags fail loud") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(50), "part",
      at = "initial_load") // v0
    PartitionedTable.merge(spark, dir,
      Seq((500L, "p0", 1L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", at = "nightly") // v1
    PartitionedTable.merge(spark, dir,
      Seq((501L, "p0", 2L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", at = "nightly") // v2 — same tag, newest must win
    GraftCatalog.register(spark, "t", "tagged", dir, partCol = Some("part"))

    assert(PartitionedTable.versionByTag(spark, dir, "initial_load")
      === Some(0L))
    assert(PartitionedTable.versionByTag(spark, dir, "nightly") === Some(2L),
      "a repeated tag resolves to the NEWEST version carrying it")
    assert(PartitionedTable.versionByTag(spark, dir, "nope") === None)

    assert(spark.sql(
      "SELECT count(*) FROM graft.t.tagged VERSION AS OF 'initial_load'")
      .head.getLong(0) === 50L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.t.tagged VERSION AS OF 'nightly'")
      .head.getLong(0) === 52L)
    // a tag must never match a SUBSTRING of another tag's mark
    assert(PartitionedTable.versionByTag(spark, dir, "initial") === None)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft.t.tagged VERSION AS OF 'pre_migration'").collect())
    assert(e.getMessage.contains("no retained commit"), s"got: ${e.getMessage}")
    // a PURELY-NUMERIC tag is refused at COMMIT time: `VERSION AS OF
    // '5'` resolves quoted numerics as manifest versions first, so a
    // commit tagged '5' would quietly never be readable by name
    val en = intercept[IllegalArgumentException](PartitionedTable.merge(
      spark, dir, Seq((502L, "p0", 3L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part", at = "5"))
    assert(en.getMessage.contains("purely numeric"), s"got: ${en.getMessage}")
    GraftCatalog.unregister("t", "tagged")
  }

  test("manifest partition pruning survives the catalog path; absent partitions answer empty") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    PartitionedTable.merge(spark, dir,
      Seq((5L, "p1", 0L, "delete")).toDF("k", "part", "v", "op"), "k", "part")
    GraftCatalog.register(spark, "t", "pruned", dir, partCol = Some("part"))

    val q = spark.sql(
      "SELECT k, v FROM graft.t.pruned WHERE part = 'p1' AND v >= 0")
    val scan = scanOf(q)
    assert(scan.prunedPartitions === Some(Seq("p1")),
      "the equality on the partition column must prune at the manifest")
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("__part=p1")),
      s"only p1's pinned dir may be opened, got ${files.toSeq}")
    // and the result is exact (the DV delete holds through SQL)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      (1L to 97L by 4).filterNot(_ == 5L).toSeq)

    // IN-lists intersect; contradictions and absent values answer empty
    assert(scanOf(spark.sql(
      "SELECT k FROM graft.t.pruned WHERE part IN ('p1','p2') AND part = 'p2'"))
      .prunedPartitions === Some(Seq("p2")))
    assert(spark.sql(
      "SELECT k FROM graft.t.pruned WHERE part = 'p7'").count() === 0,
      "an absent partition is an empty result, never an error")
    assert(spark.sql(
      "SELECT k FROM graft.t.pruned WHERE part = 'p1' AND part = 'p2'")
      .count() === 0)
  }

  test("bloom point-lookup skipping survives the catalog path") {
    val dir = freshStore()
    val df = spark.range(4000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      (col("id") * 10).as("v"))
    PartitionedTable.commit(spark, dir, df.repartition(8, col("k")),
      "part", bloomCols = Seq("k"))
    GraftCatalog.register(spark, "t", "bloomed", dir, partCol = Some("part"))

    val all = PartitionedTable.readPartitions(spark, dir, Seq("p1"))
      .inputFiles.length
    val q = spark.sql(
      "SELECT v FROM graft.t.bloomed WHERE part = 'p1' AND k = 401")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(4010L))
    val pointFiles = scanOf(q).buildDf(spark).inputFiles
    assert(pointFiles.length < all,
      s"the SQL point lookup must bloom-prune files (${pointFiles.length} of $all)")
    assert(pointFiles.forall(_.contains("__part=p1")))
  }

  test("generated tables prune from SOURCE predicates through SQL; epochs attribute across an evolution") {
    val dir = freshStore()
    val df = spark.range(730).select(
      col("id").as("k"),
      date_add(to_date(lit("1995-01-01")), col("id").cast("int")).as("d"),
      (col("id") * 10).as("v"))
    // year-partitioned 1995, evolved to month for 1996
    PartitionedTable.commitLevels(spark, dir,
      df.filter(col("d") < lit("1996-01-01")), Seq(
        PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Year, "pd")))
    PartitionedTable.evolveGenLevel(spark, dir, "pd",
      PartitionedTable.PartGen.Month)
    PartitionedTable.mergeLevels(spark, dir,
      df.filter(col("d") >= lit("1996-01-01")).withColumn("op", lit("upsert")),
      "k")
    GraftCatalog.register(spark, "t", "gen", dir, partCol = Some("pd"))

    val q = spark.sql(
      """SELECT k FROM graft.t.gen
        |WHERE d BETWEEN DATE '1995-11-15' AND DATE '1996-02-10'""".stripMargin)
    val dirsRead = scanOf(q).buildDf(spark).inputFiles
      .map(_.split("/").find(_.startsWith("__part=")).getOrElse("?")).toSet
    assert(dirsRead === Set("__part=1995", "__part=1996-01", "__part=1996-02"),
      s"SQL source-range pruning must attribute per epoch, got $dirsRead")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      df.filter(col("d") >= lit("1995-11-15") && col("d") <= lit("1996-02-10"))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq,
      "mid-period bounds stay exact via the residual")
    // a predicate on a NON-rule column falls through, still exact
    assert(spark.sql("SELECT k FROM graft.t.gen WHERE v = 500").count() === 1)
  }

  test("source-range SQL reads keep rows whose probed column reads an ADD COLUMN DEFAULT, sits behind a rename or is binary, on one- and two-level specs") {
    val df = spark.range(90).select(
      col("id").as("k"),
      date_add(to_date(lit("2020-02-01")), col("id").cast("int")).as("d"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("s"),
      (col("id") * 10).as("v"),
      col("id").cast("string").cast("binary").as("b"))
    val month = PartitionedTable.GenLevel("d",
      PartitionedTable.PartGen.Month, "pm")
    val status = PartitionedTable.GenLevel("s",
      PartitionedTable.PartGen.Prefix(2), "ps")
    Seq(Seq(month), Seq(status, month)).zipWithIndex.foreach {
      case (levels, i) =>
        val dir = freshStore()
        PartitionedTable.commitLevels(spark, dir, df, levels)
        // no footer carries badge yet: every row reads the DEFAULT
        PartitionedTable.addColumn(spark, dir, "badge",
          org.apache.spark.sql.types.StringType, Some("'legacy'"))
        PartitionedTable.renameColumn(spark, dir, "v", "amount")
        GraftCatalog.register(spark, "t", s"dflt$i", dir,
          partCol = Some(PartitionedTable.partColOf(levels)))
        val t = s"graft.t.dflt$i"
        val range = "d BETWEEN DATE '2020-02-01' AND DATE '2020-04-30'"
        assert(PartitionedTable.readWhereSrcLevels(spark, dir, Seq(
          ("d", "2020-02-01", "2020-04-30"), ("badge", "legacy", "legacy")))
          .count() === 90, s"library probe, ${levels.size} level(s)")
        assert(spark.sql(s"SELECT count(*) FROM $t WHERE $range " +
          "AND badge = 'legacy'").head.getLong(0) === 90,
          s"SQL probe, ${levels.size} level(s)")
        assert(spark.sql(s"SELECT count(*) FROM $t WHERE $range " +
          "AND badge = 'other'").head.getLong(0) === 0)
        // a renamed column resolves its type from at-write footers
        assert(spark.sql(s"SELECT k FROM $t WHERE d BETWEEN DATE " +
          "'2020-03-01' AND DATE '2020-03-31' AND amount = 500")
          .collect().map(_.getLong(0)).toSeq === Seq(50L),
          s"renamed column, ${levels.size} level(s)")
        // a binary literal has no string rendering to route through
        assert(spark.sql(s"SELECT k FROM $t WHERE $range AND b = X'3530'")
          .collect().map(_.getLong(0)).toSeq === Seq(50L),
          s"binary column, ${levels.size} level(s)")
        GraftCatalog.unregister("t", s"dflt$i")
    }
  }

  test("metadata tables: t$history and t$detail read the ops surfaces through plain SQL") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    PartitionedTable.merge(spark, dir,
      Seq((1L, "p1", 111L, "upsert")).toDF("k", "part", "v", "op"), "k", "part")
    GraftCatalog.register(spark, "t", "meta", dir, partCol = Some("part"))

    val hist = spark.sql(
      "SELECT version, operation, touched FROM graft.t.`meta$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist === Seq((0L, "commit", 4L), (1L, "merge", 1L)))

    val detail = spark.sql(
      "SELECT partition, n_rows FROM graft.t.`meta$detail` ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val lib = PartitionedTable.describeDetail(spark, dir)
      .select("partition", "n_rows").orderBy("partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(detail === lib, "SQL detail must equal the library surface")

    // time travel doesn't apply to metadata tables — loud, not silent
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.t.`meta$history` VERSION AS OF 0").collect())
  }

  test("two-level tables prune from BOTH source predicates through SQL; level evolution attributes per epoch on the SQL path") {
    import spark.implicits._
    val dir = freshStore()
    val df = spark.range(600).select(
      col("id").as("k"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("st"),
      to_date(concat(lit("1995-"),
        lpad(((col("id") % 4) + 1).cast("string"), 2, "0"),
        lit("-"),
        lpad(((col("id") % 27) + 1).cast("string"), 2, "0"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, df, Seq(
      PartitionedTable.GenLevel("st", PartitionedTable.PartGen.Prefix(2), "ps"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "t", "lv", dir,
      partCol = Some(PartitionedTable.LevelsPartName))

    val q = spark.sql("SELECT k FROM graft.t.lv WHERE st = 's1' " +
      "AND d BETWEEN DATE '1995-02-10' AND DATE '1995-03-20'")
    val expect = df.filter(col("st") === "s1" &&
      col("d").between("1995-02-10", "1995-03-20"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === expect)
    // dirs opened = the LIVE intersection: odd ids (st=s1) only land in
    // months {02, 04}, so s1 × [02, 03] keeps exactly s1/1995-02
    val dirsRead = scanOf(q).buildDf(spark).inputFiles.map(_.split("/")
      .filter(p => p.startsWith("__part=")).mkString).toSet
    assert(dirsRead === Set("__part=s1%252F1995-02"), dirsRead.toString)

    // evolve the date level to DAY; post-evolution rows land day-
    // grained, and the SQL probe attributes each combination's segment
    // to its own epoch (a boundary month must survive a day-rule bound)
    PartitionedTable.evolveGenLevel(spark, dir, "pm",
      PartitionedTable.PartGen.Day)
    PartitionedTable.mergeLevels(spark, dir,
      Seq((9000L, "s1", java.sql.Date.valueOf("1995-05-06"), 1L, "upsert"),
        (9001L, "s1", java.sql.Date.valueOf("1995-05-07"), 2L, "upsert"))
        .toDF("k", "st", "d", "v", "op"), "k")
    val q2 = spark.sql("SELECT k FROM graft.t.lv WHERE st = 's1' " +
      "AND d BETWEEN DATE '1995-04-10' AND DATE '1995-05-06'")
    val expect2 = df.filter(col("st") === "s1" &&
      col("d").between("1995-04-10", "1995-05-06"))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq :+ 9000L
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq === expect2)
    val dirs2 = scanOf(q2).buildDf(spark).inputFiles.map(_.split("/")
      .filter(p => p.startsWith("__part=")).mkString).toSet
    assert(dirs2 ===
      Set("__part=s1%252F1995-04", "__part=s1%252F1995-05-06"), dirs2.toString)
  }

  test("t$changes: SQL windows equal ChangeFeed.batch, pushed bounds reach the feed, horizon and registration contracts hold") {
    import spark.implicits._
    import graft.streaming.ChangeFeed
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part") // v0
    PartitionedTable.merge(spark, dir, Seq(
      (1L, "p1", 111L, "upsert"), (5L, "p1", 0L, "delete"))
      .toDF("k", "part", "v", "op"), "k", "part") // v1
    PartitionedTable.merge(spark, dir, Seq(
      (2L, "p2", 0L, "delete")).toDF("k", "part", "v", "op"),
      "k", "part") // v2
    GraftCatalog.register(spark, "t", "chg", dir,
      partCol = Some("part"), keyCol = Some("k"))

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("part", "k", "op", "v", ChangeFeed.VersionCol).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
      .sortBy(t => (t._5, t._1, t._2)).toSeq
    assert(rows(spark.sql("SELECT * FROM graft.t.`chg$changes`")) ===
      rows(ChangeFeed.batch(spark, dir, "k", "part", fromVersion = 0L)))
    assert(rows(spark.sql(
      "SELECT * FROM graft.t.`chg$changes` WHERE _commit_version BETWEEN 2 AND 2")) ===
      rows(ChangeFeed.batch(spark, dir, "k", "part",
        fromVersion = 1L, toVersion = Some(2L))))

    // without a registered key the feed can't diff — loud, actionable
    GraftCatalog.register(spark, "t", "chg_nokey", dir,
      partCol = Some("part"))
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM graft.t.`chg_nokey$changes`").collect())
    assert(ex.getMessage.contains("keyCol"))

    // pushed lower bounds reach the feed: after vacuuming v0, a bound
    // below the horizon fails through the feed's own guard (a post-scan
    // residual filter could never produce this error), while the
    // unbounded read starts at the oldest retained version
    PartitionedTable.vacuum(spark, dir, keep = 2)
    assert(rows(spark.sql("SELECT * FROM graft.t.`chg$changes`")) ===
      rows(ChangeFeed.batch(spark, dir, "k", "part", fromVersion = 1L)))
    val ex2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft.t.`chg$changes` WHERE _commit_version >= 1").collect())
    assert(ex2.getMessage.contains("retention horizon") ||
      Option(ex2.getCause).exists(_.getMessage.contains("retention horizon")),
      ex2.getMessage)
  }

  test("multiple pushed bounds on one column merge to the TIGHTEST, not the first seen") {
    val dir = freshStore()
    val df = spark.range(4000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      (col("id") * 10).as("v"))
    // range layout on v → tight per-file min/max in the stats sidecar
    PartitionedTable.commit(spark, dir,
      df.repartitionByRange(8, col("v")), "part", statsCols = Seq("v"))
    GraftCatalog.register(spark, "t", "bounds", dir, partCol = Some("part"))

    // the WEAK lower bound comes FIRST in both (first-seen merging —
    // the r13 ADVICE bug — would prune with lo=0 and keep every file)
    val weak = scanOf(spark.sql(
      "SELECT k FROM graft.t.bounds WHERE v > 0 AND v <= 400000"))
      .buildDf(spark)
    val tight = spark.sql(
      "SELECT k FROM graft.t.bounds WHERE v > 0 AND v >= 39000 AND v <= 400000")
    assert(tight.collect().map(_.getLong(0)).sorted.toSeq ===
      (3900L until 4000L).toSeq)
    val weakFiles = weak.inputFiles.length
    val tightFiles = scanOf(tight).buildDf(spark).inputFiles.length
    assert(tightFiles < weakFiles,
      s"lo must merge as max(0, 39000): $tightFiles of $weakFiles files")
  }

  test("unregistered tables don't resolve; DROP TABLE unbinds a registration (GraftDdlSpec covers the full DDL surface)") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(20), "part")
    GraftCatalog.register(spark, "t", "ro", dir, partCol = Some("part"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.t.ro")
      .head().getLong(0) === 20)
    spark.sql("DROP TABLE graft.t.ro")
    intercept[Exception](spark.sql("SELECT * FROM graft.t.ro").collect())
    intercept[Exception](
      spark.sql("SELECT * FROM graft.t.never_registered").collect())
  }
  /** Short call sites of the jobs `body` runs ("collect at File.scala:N"
    * — the innermost non-Spark frame), in start order. A marker job
    * after `body` drains the listener bus: events arrive in order, so
    * once the marker is seen every job of `body` has been recorded. */
  private def jobCallSites(body: => Unit): Seq[String] = {
    val marker = s"graft-job-drain-${System.nanoTime}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var drained = false
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.description"))).contains(marker))
          drained = true
        else // the result stage carries the job's call site
          sites.add(e.stageInfos.maxBy(_.stageId).name)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!drained && System.nanoTime < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not drain")
    } finally sc.removeSparkListener(l)
    sites.toArray(Array.empty[String]).toSeq
  }

  test("a SQL range read joined to a dim plans its stats pruning once under AQE re-planning, then never again") {
    val factDir = freshStore()
    val dimDir = freshStore()
    val days = spark.range(120).select(
      date_add(to_date(lit("2020-01-01")), col("id").cast("int")).as("day"))
    val fact = spark.range(1200).select(col("id").as("k"),
      date_add(to_date(lit("2020-01-01")), (col("id") % 120).cast("int")).as("d"),
      (col("id") % 7).as("v"))
    PartitionedTable.commitLevels(spark, factDir, fact.repartition(4),
      Seq(PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")),
      statsCols = Seq("d"))
    PartitionedTable.commitLevels(spark, dimDir,
      days.withColumn("label", date_format(col("day"), "EEE")),
      Seq(PartitionedTable.GenLevel("day", PartitionedTable.PartGen.Year, "py")))
    GraftCatalog.register(spark, "t", "aqe_fact", factDir, partCol = Some("pm"))
    GraftCatalog.register(spark, "t", "aqe_dim", dimDir, partCol = Some("py"))
    val sql =
      """SELECT /*+ BROADCAST(dm) */ dm.label, count(*) AS n, sum(f.v) AS s
        |FROM graft.t.aqe_fact f JOIN graft.t.aqe_dim dm ON f.d = dm.day
        |WHERE f.d BETWEEN DATE'2020-02-03' AND DATE'2020-02-09'
        |GROUP BY dm.label""".stripMargin
    val expect = fact.filter(col("d").between("2020-02-03", "2020-02-09"))
      .groupBy(date_format(col("d"), "EEE").as("label"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(_.toString).sorted.toSeq
    def libraryJobs(): Seq[String] = {
      var rows = Seq.empty[String]
      val sites = jobCallSites {
        rows = spark.sql(sql).collect().map(_.toString).sorted.toSeq
      }
      assert(rows === expect)
      sites.filter(_.contains("PartitionedTable.scala"))
    }
    // cold: one read of the slices' _stats rows, however often AQE
    // re-plans the query's stages; warm: pruning runs on the driver
    assert(libraryJobs().size === 1, "stats pruning must plan once per read")
    assert(libraryJobs().isEmpty, "cached _stats rows must prune without a job")
  }
}
