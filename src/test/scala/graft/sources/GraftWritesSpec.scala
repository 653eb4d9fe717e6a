package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{MergeInto, PartitionedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The SQL write path: INSERT INTO appends (MoR fast path on big
  * partitions), INSERT OVERWRITE replaces (full or partition-scoped),
  * MERGE/UPDATE/DELETE through spark.sql equal their library
  * counterparts commit-for-commit, generated columns validate on SQL
  * writes, and the landing is snapshot-pinned (a concurrent commit to a
  * touched partition fails the statement loud). */
class GraftWritesSpec extends SparkSpec {

  private def freshStore(): String =
    Files.createTempDirectory("graftwrite").toString + "/t"

  private def table(n: Int) = spark.range(n).select(
    col("id").as("k"),
    concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
    (col("id") * 10).as("v"))

  private var seq = 0
  private def reg(dir: String, withKey: Boolean = true): String = {
    seq += 1
    val name = s"w$seq"
    GraftCatalog.register(spark, "w", name, dir,
      partCol = Some("part"), keyCol = if (withKey) Some("k") else None)
    s"graft.w.$name"
  }

  test("INSERT INTO appends through SQL: rows land, untouched partitions' pointers carry over, big partitions take the MoR append delta") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(20000), "part") // 5000/partition
    val t = reg(dir)
    val m0 = PartitionedTable.history(spark, dir).count()
    spark.sql(s"INSERT INTO $t VALUES (100001, 'p1', 42), (100002, 'p1', 43)")
    assert(spark.sql(s"SELECT v FROM $t WHERE k >= 100001").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(42L, 43L))
    assert(PartitionedTable.read(spark, dir).count() === 20002)
    // the append landed as a merge-on-read delta (base unrewritten) —
    // dvPartitions lists delta-form store versions
    assert(PartitionedTable.dvPartitions(spark, dir,
      PartitionedTable.latest(spark, dir).get) === Seq("__part=p1"),
      "a 2-row INSERT into a 5000-row partition must not rewrite it")
    val _ = m0
    // history records the SQL op
    assert(PartitionedTable.history(spark, dir)
      .filter(col("operation") === "append" && col("at") === "sql_insert")
      .count() === 1)
    // chained: a second INSERT folds the append forward, reads exact
    spark.sql(s"INSERT INTO $t VALUES (100003, 'p1', 44)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE k >= 100001")
      .head().getLong(0) === 3)
    // inserting a NULL key or partition is refused (non-nullable schema)
    val ex = intercept[Exception](
      spark.sql(s"INSERT INTO $t VALUES (null, 'p1', 1)"))
    assert(ex.getMessage.toUpperCase.contains("NULL"))
  }

  test("INSERT OVERWRITE replaces the snapshot; PARTITION-scoped overwrite replaces exactly that partition") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    val t = reg(dir)
    spark.sql(
      s"INSERT OVERWRITE $t SELECT id AS k, 'fresh' AS part, id AS v FROM range(5)")
    assert(PartitionedTable.partitionValues(spark, dir) === Seq("fresh"))
    assert(spark.sql(s"SELECT sum(v) AS s FROM $t").head().getLong(0) === 10)

    // partition-scoped: Spark injects the static value; only 'fresh' is
    // replaced and other partitions carry over untouched
    spark.sql(s"INSERT INTO $t SELECT id AS k, 'other' AS part, id AS v FROM range(3)")
    spark.sql(s"INSERT OVERWRITE $t PARTITION (part = 'fresh') " +
      "SELECT id + 100 AS k, id AS v FROM range(2)")
    assert(spark.sql(s"SELECT k FROM $t WHERE part = 'fresh'").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(100L, 101L))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE part = 'other'")
      .head().getLong(0) === 3)

    // the replaceWhere validation (library surface — static-partition
    // SQL can't aim rows outside its own value): batch rows outside the
    // replaced set are refused inside the landing job
    val ex = intercept[Exception] {
      PartitionedTable.replacePartitions(spark, dir,
        spark.range(2).select(col("id").as("k"), lit("other").as("part"),
          col("id").as("v")), "part", Seq("fresh"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("outside the replaced set")),
      msgs(ex).mkString(" | "))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens through alterTable; without the clause the strict contract refuses the unknown column") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(10), "part")
    val t = reg(dir)
    spark.range(2).select((col("id") * 4).as("k"), lit("p0").as("part"),
      lit(7L).as("v"), lit("x").as("tag"))
      .createOrReplaceTempView("mse_src")
    // STRICT: an explicit assignment to a column the target lacks must
    // fail analysis (the clause is the ONLY schema-evolution switch)
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $t tgt USING mse_src src
         |ON tgt.k = src.k AND tgt.part = src.part
         |WHEN MATCHED THEN UPDATE SET v = src.v, tag = src.tag""".stripMargin))
    assert(e.getMessage.contains("tag") ||
      e.getMessage.toLowerCase.contains("resolve"), s"got: ${e.getMessage}")
    assert(!PartitionedTable.read(spark, dir).columns.contains("tag"),
      "a refused merge must not leave a half-evolved schema")
    // EVOLVING: the clause routes the missing column through the
    // catalog's alterTable (the _addcols sidecar — one metadata write,
    // zero data movement on untouched partitions) and the merge lands
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $t tgt USING mse_src src
         |ON tgt.k = src.k AND tgt.part = src.part
         |WHEN MATCHED THEN UPDATE SET v = src.v, tag = src.tag""".stripMargin)
    assert(PartitionedTable.addedColumnsOf(spark, dir).exists(_._1 == "tag"),
      "the evolution must ride the add-column catalog, not a rewrite")
    val rows = spark.sql(s"SELECT k, v, tag FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.filter(_._3.isDefined).map(_._1).toSeq === Seq(0L, 4L),
      s"exactly the matched keys carry the new column: ${rows.mkString(",")}")
    assert(rows.collect { case (k, v, Some(_)) => (k, v) }.toSeq
      === Seq((0L, 7L), (4L, 7L)))
    assert(rows.collect { case (k, v, None) => k -> v }.forall {
      case (k, v) => v === k * 10 })
  }

  test("MERGE INTO through spark.sql equals the library MergeInto commit-for-commit") {
    import spark.implicits._
    val sqlDir = freshStore(); val libDir = freshStore()
    Seq(sqlDir, libDir).foreach(d =>
      PartitionedTable.commit(spark, d, table(100), "part"))
    val t = reg(sqlDir)
    // source: keys 4,8,12 matched in p0 (v=40/80/120); 400,401 fresh
    Seq((4L, "p0", 7L), (8L, "p0", 5L), (12L, "p0", 3L),
      (400L, "p0", 1L), (401L, "p1", 2L))
      .toDF("k", "part", "w").createOrReplaceTempView("merge_src")

    spark.sql(
      s"""MERGE INTO $t AS tgt USING merge_src AS src
         |ON tgt.k = src.k AND tgt.part = src.part
         |WHEN MATCHED AND tgt.v > 50 THEN UPDATE SET v = tgt.v + src.w
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (k, part, v) VALUES (src.k, src.part, src.w)
         |""".stripMargin)
    MergeInto(spark, libDir, spark.table("merge_src"), "k", "part",
      matched = Seq(
        MergeInto.updateWhen(col("tgt.v") > 50,
          Map("v" -> (col("tgt.v") + col("src.w")))),
        MergeInto.delete),
      notMatched = Some(MergeInto.NotMatched(None, Map("v" -> col("src.w")))))

    def state(d: String) = PartitionedTable.read(spark, d)
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t3 => (t3._2, t3._1)).toSeq
    assert(state(sqlDir) === state(libDir),
      "SQL MERGE and library MergeInto must commit identical states")
    assert(PartitionedTable.latest(spark, sqlDir).get ===
      PartitionedTable.latest(spark, libDir).get,
      "both paths commit exactly one table version")
    // spot semantics: k=4 (v=40) deleted; k=8 (v=80) updated to 85
    val m = state(sqlDir).map(t3 => t3._1 -> t3._3).toMap
    assert(!m.contains(4L) && m(8L) === 85L && m(12L) === 123L &&
      m(400L) === 1L && m(401L) === 2L)
  }

  test("UPDATE and DELETE through spark.sql land as snapshot-pinned merges") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part")
    val t = reg(dir)
    spark.sql(s"UPDATE $t SET v = v + 1000 WHERE part = 'p0' AND k < 20")
    val got = PartitionedTable.read(spark, dir)
      .filter(col("part") === "p0").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(4L) === 1040L && got(8L) === 1080L && got(12L) === 1120L &&
      got(16L) === 1160L && got(24L) === 240L)
    spark.sql(s"DELETE FROM $t WHERE k % 8 = 0")
    assert(PartitionedTable.read(spark, dir)
      .filter(col("k") % 8 === 0).count() === 0)
    assert(PartitionedTable.read(spark, dir).count() === 100 - 13)
    val ops = PartitionedTable.history(spark, dir)
      .select("at").collect().map(_.getString(0)).filter(_ != null)
    assert(ops.contains("sql_update") && ops.contains("sql_delete"))
  }

  test("UPDATE/DELETE ride generated and two-level tables: row identity is (key, sources), the landing derives partitions, and an evolved table's shadow-risk change fails loud") {
    import spark.implicits._
    // two-level table: status prefix × order year
    val lvDir = freshStore()
    val rows = spark.range(40).select(
      col("id").as("k"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("status"),
      to_date(concat(lit("199"), (col("id") % 3).cast("string"),
        lit("-06-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, lvDir, rows, Seq(
      PartitionedTable.GenLevel("status", PartitionedTable.PartGen.Prefix(2),
        "ls"),
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Year, "ly")))
    seq += 1
    GraftCatalog.register(spark, "w", s"lv$seq", lvDir,
      partCol = Some(PartitionedTable.LevelsPartName), keyCol = Some("k"))
    val t = s"graft.w.lv$seq"
    spark.sql(s"UPDATE $t SET v = 7777 WHERE k = 10")
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 10").head()
      .getLong(0) === 7777)
    assert(PartitionedTable.read(spark, lvDir).count() === 40,
      "an UPDATE must replace, not duplicate, across level partitions")
    spark.sql(s"DELETE FROM $t WHERE k % 4 = 1")
    assert(PartitionedTable.read(spark, lvDir).count() === 30)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE k % 4 = 1")
      .head().getLong(0) === 0)

    // evolved one-level table: a keyed SQL change that would shadow a
    // pre-evolution partition is refused (the mergeLevels guard)
    val gdir = freshStore()
    val gen = spark.range(20).select(col("id").as("k"),
      to_date(concat(lit("1995-0"), (col("id") % 5 + 1).cast("string"),
        lit("-10"))).as("d"), (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, gdir, gen, Seq(
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Year, "pd")))
    PartitionedTable.evolveGenLevel(spark, gdir, "pd",
      PartitionedTable.PartGen.Month)
    seq += 1
    GraftCatalog.register(spark, "w", s"ev$seq", gdir,
      partCol = Some("pd"), keyCol = Some("k"))
    val te = s"graft.w.ev$seq"
    val ex = intercept[Exception](
      spark.sql(s"UPDATE $te SET v = 1 WHERE k = 3"))
    def msgs(th: Throwable): Seq[String] = Option(th).toSeq
      .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("shadow pre-evolution")),
      msgs(ex).mkString(" | "))
  }

  test("the SQL landing is snapshot-pinned: a concurrent commit to a touched partition fails the statement loud") {
    import spark.implicits._
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(100), "part") // v0
    // stage a changelog row against snapshot v0 through the REAL
    // delta-write machinery, then race a commit into p0 before landing
    val rowSchema = StructType(PartitionedTable.read(spark, dir)
      .schema.fields.map(_.copy(nullable = true)))
    val bw = new GraftDeltaBatchWrite(dir, 0L, "k", Seq("part"), rowSchema,
      rowSchema, "merge")
    val factory = bw.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 0L)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(rowSchema)
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
      .createSerializer()
    w.insert(ser(org.apache.spark.sql.Row(4L, "p0", 99L)))
    val msg = w.commit()
    PartitionedTable.merge(spark, dir,
      Seq((8L, "p0", 888L, "upsert")).toDF("k", "part", "v", "op"),
      "k", "part") // the racer moves p0 (v1)
    val ex = intercept[PartitionedTable.ConcurrentWriteException] {
      bw.commit(Array(msg))
    }
    assert(ex.getMessage.contains("moved since snapshot v=0"))
    // the racer's write survives untouched; the failed statement left
    // no table version behind
    assert(PartitionedTable.latest(spark, dir).get === 1L)
    assert(PartitionedTable.read(spark, dir).filter(col("k") === 8L)
      .select("v").head().getLong(0) === 888L)
  }

  test("dynamic partition overwrite replaces exactly the batch's partitions: writeTo API, INSERT OVERWRITE dynamic mode, untouched pointers carry over") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part") // 10/partition
    val t = reg(dir)
    // writeTo(...).overwritePartitions(): the batch only holds p0 rows
    spark.range(2).select((col("id") + 5000).as("k"),
      lit("p0").as("part"), lit(1L).as("v"))
      .writeTo(t).overwritePartitions()
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE part='p0'")
      .head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 32L)
    // untouched partitions carried their pointers (no rewrite): the
    // p1 slice's pinned store version is unchanged across the commit
    val latest = PartitionedTable.latest(spark, dir).get
    assert(PartitionedTable.manifest(spark, dir, latest)("__part=p1") ===
      PartitionedTable.manifest(spark, dir, latest - 1)("__part=p1"),
      "dynamic overwrite must not touch absent partitions")
    // INSERT OVERWRITE under dynamic partitionOverwriteMode
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE $t SELECT 7777L, 'p1', 1L")
      assert(spark.sql(s"SELECT count(*) FROM $t WHERE part='p1'")
        .head.getLong(0) === 1L)
      assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 23L)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // history names the op
    assert(PartitionedTable.history(spark, dir)
      .filter(col("at") === "sql_dynamic_overwrite").count() === 2L)
  }

  test("write-side distribution contract: a deliberately spread dynamic-overwrite batch lands ~one file per final partition") {
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(40), "part")
    val t = reg(dir)
    // 4000 rows over 4 partitions, spread round-robin across 8 tasks —
    // without the clustered distribution each task's staged slice mixes
    // all 4 values and the landing writes a task x partition file spread
    spark.range(4000).repartition(8).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("part"),
      lit(1L).as("v"))
      .writeTo(t).overwritePartitions()
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 4000L)
    val latest = PartitionedTable.latest(spark, dir).get
    val m = PartitionedTable.manifest(spark, dir, latest)
    val hfs = graft.streaming.VersionedStore.fs(spark, dir)
    val perPart = Seq("p0", "p1", "p2", "p3").map { p =>
      val sv = m(s"__part=$p")
      val vdir = new org.apache.hadoop.fs.Path(
        s"$dir/__part=$p", s"batch=$sv")
      hfs.listStatus(vdir).count { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    assert(perPart.forall(_ <= 2),
      s"clustered staging must land ~1 file per partition, got $perPart")
    assert(perPart.sum <= 6,
      s"vs the unclustered ~8x4 spread, got ${perPart.sum} total files")
  }

  test("dynamic overwrite on a created-but-never-written table commits the batch as the initial load") {
    val base = Files.createTempDirectory("graftdyninit").toString
    val t = "graft.w.dyninit"
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, part STRING, v BIGINT)
         |PARTITIONED BY (part) LOCATION '$base/t'""".stripMargin)
    // no committed version yet: the overwrite IS the initial commit
    spark.range(4).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      (col("id") * 10).as("v"))
      .writeTo(t).overwritePartitions()
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 4L)
    assert(PartitionedTable.latest(spark, s"$base/t").get === 0L)
    // and a second dynamic overwrite takes the ordinary replace path
    spark.range(1).select(lit(99L).as("k"), lit("p0").as("part"),
      lit(1L).as("v")).writeTo(t).overwritePartitions()
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE part='p0'")
      .head.getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE part='p1'")
      .head.getLong(0) === 2L)
    GraftCatalog.unregister("w", "dyninit")
  }

  test("dynamic overwrite derives generated partitions from the batch's source values") {
    val base = Files.createTempDirectory("graftdyngen").toString
    val t = s"graft.w.dyngen"
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, d TIMESTAMP, v BIGINT)
         |PARTITIONED BY (months(d)) LOCATION '$base/t'
         |TBLPROPERTIES ('keycol' = 'k')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, TIMESTAMP '1996-01-15 00:00:00', 10), " +
      "(2, TIMESTAMP '1996-02-15 00:00:00', 20)")
    // batch holds only a January row: February must survive untouched
    spark.range(1).select(lit(9L).as("k"),
      lit(java.sql.Timestamp.valueOf("1996-01-20 00:00:00")).as("d"),
      lit(99L).as("v"))
      .writeTo(t).overwritePartitions()
    assert(spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((2L, 20L), (9L, 99L)))
    GraftCatalog.unregister("w", "dyngen")
  }

  test("column DEFAULTs: declared at CREATE, filled on INSERT (omitted column, explicit DEFAULT), surviving the first materializing write") {
    val base = Files.createTempDirectory("graftdefs").toString
    val t = "graft.w.defs"
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, part STRING, v BIGINT DEFAULT 42)
         |PARTITIONED BY (part) LOCATION '$base/t'
         |TBLPROPERTIES ('keycol' = 'k')""".stripMargin)
    spark.sql(s"INSERT INTO $t (k, part) VALUES (1, 'p0')")
    spark.sql(s"INSERT INTO $t VALUES (2, 'p0', DEFAULT)")
    // after data exists, the footer-merged schema must still carry the
    // declared default (the metadata overlay) — this INSERT resolves
    // against a table whose schema came from parquet footers
    spark.sql(s"INSERT INTO $t (k, part) VALUES (3, 'p0')")
    spark.sql(s"INSERT INTO $t VALUES (4, 'p0', 7)")
    assert(spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 42L), (2L, 42L), (3L, 42L), (4L, 7L)))
    // ADD COLUMN ... DEFAULT: pre-add rows READ the default (their
    // files lack the column), INSERTs omitting it resolve it, and an
    // INSERT carrying it materializes next to the coalesced old rows
    spark.sql(s"ALTER TABLE $t ADD COLUMN w BIGINT DEFAULT 5")
    assert(spark.sql(s"SELECT k, w FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)))
    spark.sql(s"INSERT INTO $t (k, part) VALUES (5, 'p0')")
    spark.sql(s"INSERT INTO $t VALUES (6, 'p0', 1, 9)")
    assert(spark.sql(s"SELECT k, w FROM $t WHERE k >= 4 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((4L, 5L), (5L, 5L), (6L, 9L)))
    // explicit NULL in a defaulted column is refused — the read-side
    // coalesce must never repaint a real null. On the SQL path Spark
    // itself enforces it (the coalesced column is structurally
    // non-null in the table schema → AssertNotNull on insert)...
    val en = intercept[Exception](spark.sql(
      s"INSERT INTO $t VALUES (7, 'p0', 1, NULL)"))
    assert(en.getMessage.contains("NULL"), s"got: ${en.getMessage}")
    // ...and on the LIBRARY path (no analyzer) the landing's implicit
    // constraint catches it
    val storeDir = s"$base/t"
    val el = intercept[IllegalArgumentException](PartitionedTable.append(
      spark,
      storeDir,
      spark.range(1).select(lit(8L).as("k"), lit("p0").as("part"),
        lit(1L).as("v"), lit(null).cast("bigint").as("w")),
      "part"))
    assert(el.getMessage.contains("defaulted_column_w_non_null"),
      s"got: ${el.getMessage}")
    // strict types hold for defaults: a mismatching DEFAULT is refused
    val et = intercept[Exception](spark.sql(
      s"ALTER TABLE $t ADD COLUMN bad BIGINT DEFAULT 'oops'"))
    assert(et.getMessage.toLowerCase.contains("default"),
      s"got: ${et.getMessage}")
    GraftCatalog.unregister("w", "defs")
  }

  test("ADD COLUMN DEFAULT persists the FOLDED literal: time-dependent expressions pin their add-time value; column references are refused") {
    val base = Files.createTempDirectory("graftdeffold").toString
    val dir = s"$base/t"
    PartitionedTable.commit(spark, dir,
      spark.range(3).select(col("id").as("k"), lit("p0").as("part")), "part")
    // current_date() is foldable AND deterministic in catalyst terms
    // (a per-query constant) — but the sidecar SQL re-evaluates on
    // EVERY read, so the raw expression would fill pre-add rows with a
    // different value each day. The persisted default must be the
    // folded DATE literal of the ADD day.
    PartitionedTable.addColumn(spark, dir, "since",
      org.apache.spark.sql.types.DateType, Some("current_date()"))
    val persisted = PartitionedTable.addedColumnsWithDefaultsOf(spark, dir)
      .collectFirst { case ("since", _, d) => d }.flatten
    assert(persisted.exists(_.startsWith("DATE '")),
      s"must persist a folded DATE literal, got: $persisted")
    assert(!persisted.exists(_.toLowerCase.contains("current")),
      s"raw time-dependent SQL must never persist: $persisted")
    val today = java.time.LocalDate.now().toString
    assert(PartitionedTable.read(spark, dir).select("since").distinct()
      .collect().map(_.getDate(0).toString).toSeq === Seq(today))
    // a default referencing a column must fail analysis (the probe is
    // a zero-column relation — spark.range's `id` is not visible)
    val er = intercept[Exception](PartitionedTable.addColumn(spark, dir,
      "r", org.apache.spark.sql.types.LongType, Some("id")))
    assert(er.getMessage.contains("id") ||
      er.getMessage.toLowerCase.contains("resolve"),
      s"got: ${er.getMessage}")
    // a plain literal folds to itself (byte-identical to the old path)
    PartitionedTable.addColumn(spark, dir, "badge",
      org.apache.spark.sql.types.StringType, Some("'legacy'"))
    assert(PartitionedTable.addedColumnsWithDefaultsOf(spark, dir)
      .collectFirst { case ("badge", _, d) => d }.flatten === Some("'legacy'"))
  }

  test("DataFrameWriterV2 surface: writeTo append / create / createOrReplace bind the same legs") {
    val base = Files.createTempDirectory("graftwv2").toString
    val dir = freshStore()
    PartitionedTable.commit(spark, dir, table(8), "part")
    val t = reg(dir)
    spark.range(1).select(lit(900L).as("k"), lit("p0").as("part"),
      lit(1L).as("v")).writeTo(t).append()
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 9L)
    // create: CTAS through the API (location via table property)
    table(6).writeTo("graft.w.v2new")
      .tableProperty("location", s"$base/v2new")
      .partitionedBy(col("part")).create()
    assert(spark.sql("SELECT count(*) FROM graft.w.v2new")
      .head.getLong(0) === 6L)
    // createOrReplace on an existing table is the ATOMIC staged
    // replace (GraftStagedDdlSpec): one commit on the same manifest
    // log, the pre-replace snapshot stays time-travelable
    table(3).writeTo("graft.w.v2new")
      .partitionedBy(col("part")).createOrReplace()
    assert(spark.sql("SELECT count(*) FROM graft.w.v2new")
      .head.getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM graft.w.v2new VERSION AS OF 0")
      .head.getLong(0) === 6L)
    GraftCatalog.unregister("w", "v2new")
  }

  test("SQL INSERT into a generated table validates the provided derived column against the rule") {
    val dir = freshStore()
    val df = spark.range(100).select(
      col("id").as("k"),
      to_date(concat(lit("1996-0"), ((col("id") % 3) + 1).cast("string"),
        lit("-15"))).as("d"),
      (col("id") * 10).as("v"))
    PartitionedTable.commitLevels(spark, dir, df, Seq(
      PartitionedTable.GenLevel("d", PartitionedTable.PartGen.Month, "pm")))
    GraftCatalog.register(spark, "w", "gen", dir, partCol = Some("pm"))
    // a consistent row lands in its derived partition
    spark.sql("INSERT INTO graft.w.gen VALUES " +
      "(1000, DATE '1996-02-20', 7, '1996-02')")
    assert(PartitionedTable.readWhereSrcLevels(spark, dir,
      Seq(("d", "1996-02-20", "1996-02-20")))
      .filter(col("k") === 1000L).count() === 1)
    // a lying derived value is refused inside the landing job
    val ex = intercept[Exception](spark.sql(
      "INSERT INTO graft.w.gen VALUES (1001, DATE '1996-02-20', 7, '1996-03')"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("generated column pm")),
      msgs(ex).mkString(" | "))
  }
}
