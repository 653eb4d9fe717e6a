package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.PartitionedTable
import graft.sources.{GraftCatalog, GraftRelation, GraftScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._

/** Runtime (join-driven) manifest partition pruning on the SQL path:
  * a star join whose fact is partitioned by the dim join key must scan
  * ONLY the partitions the dim's filter keeps — inputFiles-asserted —
  * with results identical to the rule-disabled A/B, and the guards
  * (selective dim, identity partition key, cardinality cap) must keep
  * the rewrite away from joins it cannot prove. */
class GraftRuntimePruneSpec extends SparkSpec {

  GraftScanStats.ensureInstalled(spark)
  GraftRuntimePrune.ensureInstalled(spark)

  private def freshStore(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** 1000 rows over 10 string partitions p0..p9. */
  private def fact(n: Int) = spark.range(n).select(
    col("id").as("k"),
    concat(lit("p"), (col("id") % 10).cast("string")).as("part"),
    (col("id") * 10).as("v"))

  /** AQE-aware scan extraction: joins plan under AdaptiveSparkPlanExec,
    * whose inner/staged plans aren't TreeNode children — recurse
    * explicitly after forcing execution to settle the final plan. */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[GraftScan] =
    p.collect {
      case r: RowDataSourceScanExec => r.relation match {
        case g: GraftRelation => Seq(g.scan)
        case _ => Nil
      }
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
    }.flatten

  private def scanOf(df: DataFrame): GraftScan = {
    df.collect(): Unit // settle AQE's final plan
    scans(df.queryExecution.executedPlan).headOption
      .getOrElse(fail("no GraftRelation in the plan: " +
        df.queryExecution.executedPlan))
  }

  test("star join prunes the manifest to the dim's surviving keys; A/B identical; never-opened asserted at file level") {
    import spark.implicits._
    val dir = freshStore("graftrtp")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "fact", dir, partCol = Some("part"))
    Seq(("p1", "keep"), ("p3", "keep"), ("p7", "drop"), ("px", "keep"))
      .toDF("pk", "grp").createOrReplaceTempView("rtp_dim")

    val sql =
      """SELECT f.part, CAST(count(*) AS BIGINT) AS n, sum(f.v) AS sv
        |FROM graft.rtp.fact f
        |JOIN rtp_dim d ON f.part = d.pk
        |WHERE d.grp = 'keep'
        |GROUP BY f.part""".stripMargin

    val df = spark.sql(sql)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(rows === Seq(("p1", 100L), ("p3", 100L)),
      "pruned results must equal the exact join (px matches nothing)")

    // the obligation landed on the scan and resolved the dim's keys
    val scan = scanOf(df)
    assert(scan.runtimePrune.nonEmpty, "rule must attach the obligation")
    assert(scan.resolvedRuntimeValues === Some(Seq("p1", "p3", "px")),
      "resolved keys = the dim's filtered DISTINCT join keys")

    // never opened: the executed read's files cover ONLY matching
    // partitions (px isn't live — intersecting with the manifest drops
    // it before any listing)
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("__part=p1") || f.contains("__part=p3")),
      s"pruned scan opened a non-matching partition: ${files.mkString("\n")}")

    // A/B: rule disabled → same rows, unpruned scan
    spark.conf.set("spark.graft.runtimePruning.enabled", "false")
    try {
      val ab = spark.sql(sql)
      assert(ab.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1).toSeq === rows)
      val abScan = scanOf(ab)
      assert(abScan.runtimePrune.isEmpty, "disabled rule must not rewrite")
      assert(abScan.buildDf(spark).inputFiles.length > files.length,
        "the unpruned scan reads every live partition")
    } finally spark.conf.unset("spark.graft.runtimePruning.enabled")
  }

  test("guards: non-selective dims, non-partition keys, over-cap dims, and non-inner joins stay unpruned") {
    import spark.implicits._
    val dir = freshStore("graftrtpg")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "guard", dir, partCol = Some("part"))
    // a STORED (parquet) dim — the selectivity bar applies to it (a
    // local literal frame is exempt: its keys are already materialized)
    val dimPq = Files.createTempDirectory("graftrtpgd").toString + "/d"
    Seq(("p1", "keep"), ("p3", "keep")).toDF("pk", "grp")
      .write.parquet(dimPq)
    spark.read.parquet(dimPq).createOrReplaceTempView("rtpg_dim")

    // no selective filter on the stored dim → no obligation
    val noFilter = spark.sql(
      """SELECT count(*) FROM graft.rtp.guard f
        |JOIN rtpg_dim d ON f.part = d.pk""".stripMargin)
    assert(scanOf(noFilter).runtimePrune.isEmpty,
      "an unfiltered stored dim must not trigger pruning (the Spark DPP bar)")
    // ...and WITH a selective filter the same stored dim prunes
    val filtered = spark.sql(
      """SELECT count(*) FROM graft.rtp.guard f
        |JOIN rtpg_dim d ON f.part = d.pk WHERE d.grp = 'keep'""".stripMargin)
    assert(scanOf(filtered).runtimePrune.nonEmpty,
      "a selectively-filtered stored dim must prune")

    // join key is NOT the partition column → no obligation
    Seq((5L, "keep")).toDF("kk", "grp").createOrReplaceTempView("rtpg_keys")
    val wrongKey = spark.sql(
      """SELECT count(*) FROM graft.rtp.guard f
        |JOIN rtpg_keys d ON f.k = d.kk WHERE d.grp = 'keep'""".stripMargin)
    assert(scanOf(wrongKey).runtimePrune.isEmpty,
      "a non-partition join key must not trigger pruning")

    // LEFT OUTER preserves unmatched fact rows → must not prune
    val outer = spark.sql(
      """SELECT count(*) FROM graft.rtp.guard f
        |LEFT JOIN (SELECT * FROM rtpg_dim WHERE grp = 'keep') d
        |ON f.part = d.pk""".stripMargin)
    assert(scanOf(outer).runtimePrune.isEmpty,
      "outer joins preserve unmatched fact rows — never prune them")
    assert(outer.head.getLong(0) === 1000L)

    // over-cap dim cardinality → obligation resolves to None (unpruned)
    spark.conf.set("spark.graft.runtimePruning.maxKeys", "1")
    try {
      val capped = spark.sql(
        """SELECT count(*) FROM graft.rtp.guard f
          |JOIN rtpg_dim d ON f.part = d.pk WHERE d.grp = 'keep'""".stripMargin)
      assert(capped.head.getLong(0) === 200L)
      val s = scanOf(capped)
      assert(s.runtimePrune.nonEmpty && s.resolvedRuntimeValues.isEmpty,
        "an over-cap dim must fall back to the unpruned scan")
    } finally spark.conf.unset("spark.graft.runtimePruning.maxKeys")
  }

  test("calendar-dim shape: a generated fact joined on its SOURCE column prunes through the epoch rules") {
    import spark.implicits._
    val dir = freshStore("graftrtpc")
    // fact: month-generated over dates spanning 1996-01..1996-06
    val rows = spark.range(600).select(
      col("id").as("k"),
      to_date(concat(lit("1996-0"), ((col("id") % 6) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, rows, Seq(
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "rtp", "cal", dir, partCol = Some("pm"))
    // calendar dim keyed by DATE with a selective flag
    Seq((java.sql.Date.valueOf("1996-02-15"), "holiday"),
      (java.sql.Date.valueOf("1996-05-15"), "holiday"),
      (java.sql.Date.valueOf("1996-03-15"), "workday"))
      .toDF("cal_d", "kind").createOrReplaceTempView("rtpc_dim")

    val sql =
      """SELECT f.d, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.cal f
        |JOIN rtpc_dim c ON f.d = c.cal_d
        |WHERE c.kind = 'holiday'
        |GROUP BY f.d""".stripMargin
    val df = spark.sql(sql)
    assert(df.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).toSeq === Seq(("1996-02-15", 100L), ("1996-05-15", 100L)))
    val scan = scanOf(df)
    assert(scan.runtimePrune.exists(_.sourceKey),
      "a source-column join key must attach a SOURCE-keyed obligation")
    assert(scan.resolvedRuntimeValues === Some(Seq("1996-02-15", "1996-05-15")))
    // only the two matching MONTH partitions are ever opened
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("__part=1996-02") || f.contains("__part=1996-05")),
      s"epoch-mapped pruning opened a non-matching month: ${files.mkString("\n")}")

    // A/B: rule disabled → identical rows
    spark.conf.set("spark.graft.runtimePruning.enabled", "false")
    try assert(spark.sql(sql).collect().map(r =>
      (r.getDate(0).toString, r.getLong(1))).sortBy(_._1).toSeq ===
      Seq(("1996-02-15", 100L), ("1996-05-15", 100L)))
    finally spark.conf.unset("spark.graft.runtimePruning.enabled")

    // evolution: new rows land under a DAY rule; the same join still
    // prunes correctly across BOTH epochs (per-partition attribution)
    PartitionedTable.evolveGenLevel(spark, dir, "pm", PartitionedTable.PartGen.Day)
    PartitionedTable.mergeLevels(spark, dir,
      Seq((9001L, java.sql.Date.valueOf("1996-08-02"), 1L, "upsert"),
        (9002L, java.sql.Date.valueOf("1996-08-03"), 2L, "upsert"))
        .toDF("k", "d", "v", "op"), "k")
    Seq((java.sql.Date.valueOf("1996-08-02"), "holiday"))
      .toDF("cal_d", "kind").createOrReplaceTempView("rtpc_dim2")
    val evolved = spark.sql(
      """SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.cal f
        |JOIN rtpc_dim2 c ON f.d = c.cal_d
        |WHERE c.kind = 'holiday'""".stripMargin)
    assert(evolved.head.getLong(0) === 1L)
    val eScan = scanOf(evolved)
    assert(eScan.runtimePrune.exists(_.sourceKey))
    val eFiles = eScan.buildDf(spark).inputFiles
    assert(eFiles.nonEmpty && eFiles.forall(_.contains("__part=1996-08-02")),
      s"post-evolution day partition must attribute under ITS epoch: " +
        eFiles.mkString("\n"))
    GraftCatalog.unregister("rtp", "cal")
  }

  test("row-selecting operators above the fact block pruning: LIMIT/window shapes keep the unpruned scan") {
    import spark.implicits._
    val dir = freshStore("graftrtpl")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "lim", dir, partCol = Some("part"))
    Seq(("p1", "keep"), ("p3", "keep")).toDF("pk", "grp")
      .createOrReplaceTempView("rtpl_dim")

    // LIMIT above the fact: pruning under it would change WHICH rows
    // the limit keeps — the scan must stay unpruned (the Spark DPP
    // PhysicalOperation posture)
    val limited = spark.sql(
      """SELECT count(*) FROM
        |  (SELECT * FROM graft.rtp.lim ORDER BY k LIMIT 100) f
        |JOIN rtpl_dim d ON f.part = d.pk WHERE d.grp = 'keep'""".stripMargin)
    assert(scanOf(limited).runtimePrune.isEmpty,
      "a Limit between the join and the scan must block pruning")
    // the unpruned semantics: the first 100 rows by k hold parts
    // p0..p9 evenly → 20 match p1/p3
    assert(limited.head.getLong(0) === 20L)

    // window function above the fact: row_number computed over the
    // FULL table must not see a pruned input
    val windowed = spark.sql(
      """SELECT count(*) FROM
        |  (SELECT part, row_number() OVER (ORDER BY k) AS rn
        |   FROM graft.rtp.lim) f
        |JOIN rtpl_dim d ON f.part = d.pk
        |WHERE d.grp = 'keep' AND f.rn <= 100""".stripMargin)
    assert(scanOf(windowed).runtimePrune.isEmpty,
      "a Window between the join and the scan must block pruning")
    assert(windowed.head.getLong(0) === 20L)

    // ...while a grouping AGGREGATE on the partition key is safe
    // (pruning drops whole groups the join discards anyway) and prunes
    val agged = spark.sql(
      """SELECT count(*) FROM
        |  (SELECT part, sum(v) AS sv FROM graft.rtp.lim GROUP BY part) f
        |JOIN rtpl_dim d ON f.part = d.pk WHERE d.grp = 'keep'""".stripMargin)
    assert(scanOf(agged).runtimePrune.nonEmpty,
      "an aggregate grouped BY the join key keeps pruning")
    assert(agged.head.getLong(0) === 2L)
  }

  test("multi-level fact joined on a level's SOURCE column prunes combinations across epochs") {
    import spark.implicits._
    val dir = freshStore("graftrtpml")
    // epoch 1: status(prefix1) × MONTH over 1996-01..1996-04
    val rows = spark.range(400).select(
      col("id").as("k"),
      concat(lit("S"), (col("id") % 2).cast("string")).as("st"),
      to_date(concat(lit("1996-0"), ((col("id") % 4) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, rows, Seq(
      PartitionedTable.GenLevel("st", PartitionedTable.PartGen.Prefix(2), "ps"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    // evolve the date level to DAY; epoch 2 lands day-grained combos
    PartitionedTable.evolveGenLevel(spark, dir, "pm",
      PartitionedTable.PartGen.Day)
    PartitionedTable.mergeLevels(spark, dir,
      Seq((9001L, "S0", java.sql.Date.valueOf("1996-08-02"), 1L, "upsert"),
        (9002L, "S1", java.sql.Date.valueOf("1996-08-03"), 2L, "upsert"))
        .toDF("k", "st", "d", "v", "op"), "k")
    GraftCatalog.register(spark, "rtp", "ml", dir,
      partCol = Some(PartitionedTable.LevelsPartName))
    Seq((java.sql.Date.valueOf("1996-02-15"), "keep"),
      (java.sql.Date.valueOf("1996-08-02"), "keep"),
      (java.sql.Date.valueOf("1996-03-15"), "skip"))
      .toDF("cal_d", "kind").createOrReplaceTempView("rtpml_dim")

    val sql =
      """SELECT f.st, f.d, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.ml f
        |JOIN rtpml_dim c ON f.d = c.cal_d
        |WHERE c.kind = 'keep'
        |GROUP BY f.st, f.d""".stripMargin
    val df = spark.sql(sql)
    val rowsOut = df.collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // st = id%2 and month = id%4+1 correlate: even ids (S0) land in
    // months 01/03, odd (S1) in 02/04 — so 1996-02 is all-S1
    assert(rowsOut === Seq(("S0", "1996-08-02", 1L),
      ("S1", "1996-02-15", 100L)))
    val scan = scanOf(df)
    assert(scan.runtimePrune.exists(_.srcCol.contains("d")),
      "a level-source join key must attach a SOURCE-keyed obligation")
    // only the matching combinations are opened: both statuses of the
    // month-epoch 1996-02, and the day-epoch S0/1996-08-02 — never the
    // other months, and the 'skip' date never reaches the values
    // inputFiles renders the dir's escaped '/' ("%2F") URI-escaped
    // again → "%252F" (the GraftCatalogSpec levels assertions' form)
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("=S1%252F1996-02") || f.contains("=S0%252F1996-08-02")),
      s"level-epoch pruning opened a non-matching combination: ${files.mkString("\n")}")

    // A/B: rule disabled → identical rows
    spark.conf.set("spark.graft.runtimePruning.enabled", "false")
    try {
      val ab = spark.sql(sql)
      assert(ab.collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq === rowsOut)
      assert(scanOf(ab).buildDf(spark).inputFiles.length > files.length,
        "the unpruned scan reads every live combination")
    } finally spark.conf.unset("spark.graft.runtimePruning.enabled")

    // COMPOSITION: a source-range predicate on ANOTHER level prunes
    // with the dim keys — st = 'S1' drops the S0/1996-08-02 combo the
    // dim alone kept, so only S1/1996-02 is ever opened
    val composed = spark.sql(
      """SELECT f.st, f.d, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.ml f
        |JOIN rtpml_dim c ON f.d = c.cal_d
        |WHERE c.kind = 'keep' AND f.st = 'S1'
        |GROUP BY f.st, f.d""".stripMargin)
    assert(composed.collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .toSeq === Seq(("S1", "1996-02-15", 100L)))
    val cScan = scanOf(composed)
    assert(cScan.runtimePrune.exists(_.srcCol.contains("d")))
    val cFiles = cScan.buildDf(spark).inputFiles
    assert(cFiles.nonEmpty && cFiles.forall(_.contains("=S1%252F1996-02")),
      s"join×range composition must prune on BOTH axes: ${cFiles.mkString("\n")}")
    GraftCatalog.unregister("rtp", "ml")
  }

  test("a stored dim executes ONCE: the pruning collect and the join share one InMemoryRelation") {
    import spark.implicits._
    val dir = freshStore("graftrtpr")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "reuse", dir, partCol = Some("part"))
    val dimPq = Files.createTempDirectory("graftrtprd").toString + "/d"
    Seq(("p2", "keep"), ("p5", "keep"), ("p7", "drop")).toDF("pk", "grp")
      .write.parquet(dimPq)
    spark.read.parquet(dimPq).createOrReplaceTempView("rtpr_dim")
    val sql =
      """SELECT f.part, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.reuse f
        |JOIN rtpr_dim d ON f.part = d.pk
        |WHERE d.grp = 'keep'
        |GROUP BY f.part""".stripMargin

    val df = spark.sql(sql)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(rows === Seq(("p2", 100L), ("p5", 100L)))
    val scan = scanOf(df)
    assert(scan.runtimePrune.nonEmpty)
    assert(scan.resolvedRuntimeValues === Some(Seq("p2", "p5")))
    // BOTH consumers read the one cache: the obligation's dim plan IS
    // an InMemoryRelation (the collect materializes it)...
    assert(scan.runtimePrune.head.dimPlan.isInstanceOf[
      org.apache.spark.sql.execution.columnar.InMemoryRelation],
      s"obligation must hold the cached dim: ${scan.runtimePrune.head.dimPlan}")
    // ...and the join's dim side scans the cache, not the parquet
    def hasImts(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          true
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          hasImts(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          hasImts(q.plan)
      }.contains(true)
    assert(hasImts(df.queryExecution.executedPlan),
      s"join must read the cached dim: ${df.queryExecution.executedPlan}")

    // A/B: reuse off → same rows, same pruning, dim scanned per leg
    spark.conf.set("spark.graft.runtimePruning.reuseDim", "false")
    try {
      val ab = spark.sql(sql)
      assert(ab.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1).toSeq === rows)
      val abScan = scanOf(ab)
      assert(abScan.resolvedRuntimeValues === Some(Seq("p2", "p5")))
      assert(!abScan.runtimePrune.head.dimPlan.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation])
    } finally spark.conf.unset("spark.graft.runtimePruning.reuseDim")
    GraftCatalog.unregister("rtp", "reuse")
  }

  test("two-dim star: obligations COMPOSE — both axes prune one scan, strictly tighter than either alone") {
    import spark.implicits._
    val dir = freshStore("graftrtp2d")
    // status(prefix2) × MONTH, decorrelated: 2 statuses × 4 months = 8
    // live combinations, 100 rows each
    val rows = spark.range(800).select(
      col("id").as("k"),
      concat(lit("S"), (col("id") % 2).cast("string")).as("st"),
      to_date(concat(lit("1996-0"),
        ((floor(col("id") / 2) % 4) + 1).cast("string"), lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, rows, Seq(
      PartitionedTable.GenLevel("st", PartitionedTable.PartGen.Prefix(2), "ps"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "rtp", "twodim", dir,
      partCol = Some(PartitionedTable.LevelsPartName))
    Seq(("S1", "keep"), ("S0", "skip")).toDF("sk", "skind")
      .createOrReplaceTempView("rtp2d_status")
    Seq((java.sql.Date.valueOf("1996-02-15"), "keep"),
      (java.sql.Date.valueOf("1996-03-15"), "keep"),
      (java.sql.Date.valueOf("1996-04-15"), "skip"))
      .toDF("cal_d", "ckind").createOrReplaceTempView("rtp2d_cal")

    val sql =
      """SELECT f.st, f.d, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.twodim f
        |JOIN rtp2d_status s ON f.st = s.sk
        |JOIN rtp2d_cal c ON f.d = c.cal_d
        |WHERE s.skind = 'keep' AND c.ckind = 'keep'
        |GROUP BY f.st, f.d""".stripMargin
    val df = spark.sql(sql)
    val out = df.collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(("S1", "1996-02-15", 100L), ("S1", "1996-03-15", 100L)))

    // BOTH dims attached — one obligation per axis, on the ONE scan
    val scan = scanOf(df)
    assert(scan.runtimePrune.size === 2,
      s"both dims must attach: ${scan.runtimePrune}")
    assert(scan.runtimePrune.flatMap(_.srcCol).toSet === Set("st", "d"),
      "one SOURCE-keyed obligation per level")

    // the intersection opens ONLY the 2 surviving combinations...
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("=S1%252F1996-02") || f.contains("=S1%252F1996-03")),
      s"two-axis pruning opened a non-matching combination: ${files.mkString("\n")}")
    // ...STRICTLY fewer than either single-axis prune (each dim alone
    // keeps 4 of 8 combinations)
    def filesOf(q: String): Int = {
      val d1 = spark.sql(q); d1.collect(): Unit
      scanOf(d1).buildDf(spark).inputFiles.length
    }
    val statusOnly = filesOf(
      """SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.twodim f
        |JOIN rtp2d_status s ON f.st = s.sk WHERE s.skind = 'keep'""".stripMargin)
    val dateOnly = filesOf(
      """SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.twodim f
        |JOIN rtp2d_cal c ON f.d = c.cal_d WHERE c.ckind = 'keep'""".stripMargin)
    assert(files.length < statusOnly && files.length < dateOnly,
      s"composition must prune strictly tighter: two-dim=${files.length} " +
        s"status-only=$statusOnly date-only=$dateOnly")

    // A/B: rule disabled → identical rows, wider scan
    spark.conf.set("spark.graft.runtimePruning.enabled", "false")
    try {
      val ab = spark.sql(sql)
      assert(ab.collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq === out)
      assert(scanOf(ab).runtimePrune.isEmpty)
    } finally spark.conf.unset("spark.graft.runtimePruning.enabled")

    // the SAME two axes through ONE dim (both keys in one join
    // condition) also compose — two obligations from a single pair list
    Seq(("S1", java.sql.Date.valueOf("1996-02-15"), "keep"))
      .toDF("sk", "cal_d", "kind").createOrReplaceTempView("rtp2d_both")
    val oneDim = spark.sql(
      """SELECT CAST(count(*) AS BIGINT) AS n FROM graft.rtp.twodim f
        |JOIN rtp2d_both b ON f.st = b.sk AND f.d = b.cal_d
        |WHERE b.kind = 'keep'""".stripMargin)
    assert(oneDim.head.getLong(0) === 100L)
    val odScan = scanOf(oneDim)
    assert(odScan.runtimePrune.flatMap(_.srcCol).toSet === Set("st", "d"),
      s"a single dim carrying both keys must attach both: ${odScan.runtimePrune}")
    val odFiles = odScan.buildDf(spark).inputFiles
    assert(odFiles.nonEmpty && odFiles.forall(_.contains("=S1%252F1996-02")),
      s"one-dim two-key pruning opened a non-matching combination: " +
        odFiles.mkString("\n"))
    GraftCatalog.unregister("rtp", "twodim")
  }

  test("the registered q121 star attaches BOTH obligations and opens only crossing cells") {
    val df = graft.SparkEntry
      .queries("q121_sql_two_dim_pruned")(spark, "/root/testdata/sf0.001")
    df.collect(): Unit
    val scan = scanOf(df)
    assert(scan.runtimePrune.size === 2,
      s"both dims must attach on the registered star: ${scan.runtimePrune}")
    assert(scan.runtimePrune.flatMap(_.srcCol).toSet ===
      Set("o_orderstatus", "o_orderdate"))
    // statuses F/P crossed with the surviving dates: 1996-03-15
    // attributes under the month epoch (1996-03), 1997-02-10 under the
    // day epoch; 1999-05-05 isn't live. 'O' rows and other months are
    // never opened.
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall { f =>
      (f.contains("=F%252F") || f.contains("=P%252F")) &&
        (f.contains("1996-03") || f.contains("1997-02-10"))
    }, s"q121 opened a non-crossing cell: ${files.mkString("\n")}")
  }

  test("invertible-cast keys prune; non-injective or DST-zone casts refuse; the round-trip guard nulls out-of-range dim keys") {
    import spark.implicits._
    // DATE source column joined against TIMESTAMP dim keys: the
    // analyzer wraps the fact side as cast(d AS TIMESTAMP) — injective
    // (distinct dates never collapse), so the dim keys resolve through
    // the guarded inverse cast. The 12:30 key exercises the ROUND-TRIP
    // guard: its inverse truncates to 1996-03-15, which cast forward
    // is midnight ≠ 12:30 — the guard nulls it out (it can match no
    // date) instead of letting the truncated inverse prune to a WRONG
    // (well, matching-nothing-but-listed) partition.
    val dir = freshStore("graftrtpcast")
    val rows = spark.range(600).select(
      col("id").as("k"),
      to_date(concat(lit("1996-0"), ((col("id") % 6) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, rows, Seq(
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "rtp", "casted", dir, partCol = Some("pm"))
    Seq((java.sql.Timestamp.valueOf("1996-02-15 00:00:00"), "keep"),
      (java.sql.Timestamp.valueOf("1996-03-15 12:30:00"), "keep"),
      (java.sql.Timestamp.valueOf("1996-04-15 00:00:00"), "drop"))
      .toDF("dt", "grp").createOrReplaceTempView("rtpcast_dim")
    val sql =
      """SELECT f.d, CAST(count(*) AS BIGINT) AS n
        |FROM graft.rtp.casted f
        |JOIN rtpcast_dim c ON f.d = c.dt
        |WHERE c.grp = 'keep'
        |GROUP BY f.d""".stripMargin
    val df = spark.sql(sql)
    assert(df.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).toSeq === Seq(("1996-02-15", 100L)))
    val scan = scanOf(df)
    assert(scan.runtimePrune.nonEmpty,
      "an invertible implicit cast must still attach the obligation")
    assert(scan.resolvedRuntimeValues === Some(Seq("1996-02-15")),
      "the guard must drop the sub-day key, keep the exact-midnight one")
    val files = scan.buildDf(spark).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("__part=1996-02")),
      s"cast-keyed pruning opened a non-matching partition: ${files.mkString("\n")}")

    // NON-INJECTIVE promotion (STRING partition key vs BIGINT dim key
    // coerces the fact side to cast(part AS BIGINT), and "07" and "7"
    // both land on 7): never prune
    val sDir = freshStore("graftrtplossy")
    PartitionedTable.commit(spark, sDir, spark.range(1000).select(
      col("id").as("k"),
      (col("id") % 10).cast("string").as("part"),
      (col("id") * 10).as("v")), "part")
    GraftCatalog.register(spark, "rtp", "lossy", sDir, partCol = Some("part"))
    Seq((3L, "keep"), (7L, "keep")).toDF("bk", "grp")
      .createOrReplaceTempView("rtpcast_big")
    val lossy = spark.sql(
      """SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.lossy f
        |JOIN rtpcast_big d ON f.part = d.bk WHERE d.grp = 'keep'""".stripMargin)
    assert(lossy.head.getLong(0) === 200L)
    assert(scanOf(lossy).runtimePrune.isEmpty,
      "a non-injective coercion must not attach an obligation")

    // NTZ↔LTZ is only injective under a FIXED-OFFSET zone: under a DST
    // zone the same q121-shaped join must stay unpruned (and exact)
    val ntzDir = freshStore("graftrtpdst")
    PartitionedTable.commitLevels(spark, ntzDir, spark.range(100).select(
      col("id").as("k"),
      to_timestamp_ntz(concat(lit("1996-0"), ((col("id") % 4) + 1)
        .cast("string"), lit("-15 00:00:00"))).as("ts"),
      col("id").as("v")), Seq(
        PartitionedTable.GenLevel("ts", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "rtp", "dst", ntzDir, partCol = Some("pm"))
    Seq((java.sql.Timestamp.valueOf("1996-02-15 00:00:00"), "keep"))
      .toDF("dt", "grp").createOrReplaceTempView("rtpdst_dim")
    val dstSql =
      """SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.dst f
        |JOIN rtpdst_dim d ON f.ts = d.dt WHERE d.grp = 'keep'""".stripMargin
    val utc = spark.sql(dstSql)
    assert(utc.head.getLong(0) === 25L)
    assert(scanOf(utc).runtimePrune.nonEmpty,
      "UTC session: NTZ fact joined to LTZ keys prunes through the inverse cast")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val dst = spark.sql(dstSql)
      // under LA the NTZ wall times label DIFFERENT instants than the
      // UTC-built dim keys — Spark's own join semantics, the exact
      // answer here is 0. What matters: the pruned and unpruned plans
      // agree, and no obligation attached under a DST zone.
      val got = dst.head.getLong(0)
      assert(scanOf(dst).runtimePrune.isEmpty,
        "a DST session zone must refuse the NTZ↔LTZ inverse (gap times collapse)")
      spark.conf.set("spark.graft.runtimePruning.enabled", "false")
      try assert(spark.sql(dstSql).head.getLong(0) === got,
        "A/B: DST-zone results match the rule-disabled plan")
      finally spark.conf.unset("spark.graft.runtimePruning.enabled")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    GraftCatalog.unregister("rtp", "casted")
    GraftCatalog.unregister("rtp", "lossy")
    GraftCatalog.unregister("rtp", "dst")
  }

  test("rule-created dim cache entries are LRU-bounded: N distinct star queries never accrete past the cap") {
    import spark.implicits._
    val dir = freshStore("graftrtplru")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "lru", dir, partCol = Some("part"))
    // a STORED dim (local dims never reach the cache) with 10 distinct
    // filterable groups — each query below caches a DISTINCT dim plan
    val dimPq = Files.createTempDirectory("graftrtplrud").toString + "/d"
    (0 until 10).map(i => (s"p$i", s"g$i")).toDF("pk", "grp")
      .write.parquet(dimPq)
    spark.read.parquet(dimPq).createOrReplaceTempView("rtplru_dim")
    spark.conf.set("spark.graft.runtimePruning.maxCachedDims", "3")
    try {
      (0 until 8).foreach { i =>
        val df = spark.sql(
          s"""SELECT CAST(count(*) AS BIGINT) FROM graft.rtp.lru f
             |JOIN rtplru_dim d ON f.part = d.pk
             |WHERE d.grp = 'g$i'""".stripMargin)
        assert(df.head.getLong(0) === 100L, s"query g$i must stay exact")
        assert(scanOf(df).runtimePrune.nonEmpty, s"query g$i must prune")
      }
      assert(org.apache.spark.sql.graft.Bridge.pruneDimCacheSize <= 3,
        "rule-created cache entries must stay LRU-bounded")
    } finally {
      spark.conf.unset("spark.graft.runtimePruning.maxCachedDims")
      GraftCatalog.unregister("rtp", "lru")
    }
  }

  test("semi joins prune too, and the fact may sit on the JOIN's right for inner") {
    import spark.implicits._
    val dir = freshStore("graftrtps")
    PartitionedTable.commit(spark, dir, fact(1000), "part")
    GraftCatalog.register(spark, "rtp", "semi", dir, partCol = Some("part"))
    Seq(("p2", "keep"), ("p4", "drop")).toDF("pk", "grp")
      .createOrReplaceTempView("rtps_dim")

    val semi = spark.sql(
      """SELECT count(*) FROM graft.rtp.semi f
        |WHERE f.part IN (SELECT pk FROM rtps_dim WHERE grp = 'keep')""".stripMargin)
    assert(semi.head.getLong(0) === 100L)
    val semiScan = scanOf(semi)
    assert(semiScan.runtimePrune.nonEmpty, "IN-subquery plans as LeftSemi")
    assert(semiScan.resolvedRuntimeValues === Some(Seq("p2")))

    val flipped = spark.sql(
      """SELECT count(*)
        |FROM (SELECT pk FROM rtps_dim WHERE grp = 'keep') d
        |JOIN graft.rtp.semi f ON f.part = d.pk""".stripMargin)
    assert(flipped.head.getLong(0) === 100L)
    assert(scanOf(flipped).runtimePrune.nonEmpty,
      "inner joins prune the fact on either side")
  }
}
