package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.PartitionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming sink: `writeStream.toTable("graft.db.t")` lands one
  * tagged library commit per micro-batch — Append mode appends
  * (exactly-once across a checkpointed restart), upsert mode maintains
  * a keyed mirror through mergeStream, Complete mode commits
  * full-snapshot versions, and the cdf-source → sink loop replicates a
  * table end to end through two streaming queries. Redelivery of a
  * committed epoch no-ops (the tag protocol, probed directly). */
class GraftStreamSinkSpec extends SparkSpec {

  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graftsink").toString

  private var seq = 0
  private def reg(dir: String, withKey: Boolean = true): String = {
    seq += 1
    val name = s"s$seq"
    GraftCatalog.register(spark, "sink", name, dir,
      partCol = Some("part"), keyCol = if (withKey) Some("k") else None)
    s"graft.sink.$name"
  }

  private def seed(dir: String, n: Int = 8): Unit =
    PartitionedTable.commit(spark, dir,
      spark.range(n).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
        (col("id") * 10).as("v")), "part")

  test("Append mode: each micro-batch lands one tagged append; a checkpointed restart is exactly-once") {
    val dir = s"${fresh()}/t"; val ckpt = s"${fresh()}/ckpt"
    seed(dir)
    val t = reg(dir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    def start() = in.toDF().toDF("k", "part", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable(t)

    in.addData((100L, "p1", 1000L), (101L, "p0", 1010L))
    val q1 = start(); q1.awaitTermination()
    assert(PartitionedTable.read(spark, dir).count() === 10)
    // the batch landed as ONE tagged append commit
    val hist = PartitionedTable.history(spark, dir)
      .filter(col("at").startsWith("stream="))
    assert(hist.count() === 1)
    assert(hist.head().getAs[String]("operation") === "append")

    // restart from the same checkpoint with NEW data: only it lands
    in.addData((102L, "p1", 1020L))
    val q2 = start(); q2.awaitTermination()
    val rows = PartitionedTable.read(spark, dir)
      .filter(col("k") >= 100).select("k").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq === Seq(100L, 101L, 102L), "restart must not redeliver")
  }

  test("redelivered epoch no-ops: appendStream/commitStream with a committed (stream, batch) tag return the existing version") {
    val dir = s"${fresh()}/t"
    seed(dir, 4)
    val batch = Seq((50L, "p0", 500L)).toDF("k", "part", "v")
    val v1 = PartitionedTable.appendStream(spark, dir, batch, "part", "q1", 0L)
    val v2 = PartitionedTable.appendStream(spark, dir, batch, "part", "q1", 0L)
    assert(v1 === v2)
    assert(PartitionedTable.read(spark, dir).filter(col("k") === 50)
      .count() === 1, "a redelivered append must not duplicate rows")
    // distinct batch id DOES land
    val v3 = PartitionedTable.appendStream(spark, dir,
      Seq((51L, "p0", 510L)).toDF("k", "part", "v"), "part", "q1", 1L)
    assert(v3 > v2)
    // complete-mode twin
    val c1 = PartitionedTable.commitStream(spark, dir, batch, "part", "q2", 0L)
    val c2 = PartitionedTable.commitStream(spark, dir, batch, "part", "q2", 0L)
    assert(c1 === c2)
    assert(PartitionedTable.read(spark, dir).count() === 1,
      "commitStream is a full snapshot")
  }

  test("upsert mode maintains a keyed mirror: an Update-mode aggregation converges to the batch aggregate") {
    val dir = s"${fresh()}/t"; val ckpt = s"${fresh()}/ckpt"
    seed(dir, 0); intercept[Exception](PartitionedTable.read(spark, dir))
    // seed with an initial commit so the table exists for toTable
    PartitionedTable.commit(spark, dir,
      Seq((0L, "p0", 0L)).toDF("k", "part", "n"), "part")
    val t = reg(dir)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    def agg: DataFrame = in.toDF().toDF("k")
      .groupBy(col("k"), concat(lit("p"), (col("k") % 2).cast("string"))
        .as("part"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("part"), col("n"))
    def start() = agg.writeStream
      .option("checkpointLocation", ckpt).option("upsert", "true")
      .outputMode("update")
      .trigger(Trigger.AvailableNow()).toTable(t)

    in.addData(1L, 2L, 1L)
    val q1 = start(); q1.awaitTermination()
    in.addData(1L, 3L)
    val q2 = start(); q2.awaitTermination()
    val got = PartitionedTable.read(spark, dir).filter(col("k") > 0)
      .select("k", "n").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 3L), (2L, 1L), (3L, 1L)),
      "updated keys must overwrite, not duplicate")
    // upsert history rides mergeStream: merge-operation commits
    assert(PartitionedTable.history(spark, dir)
      .filter(col("at").startsWith("stream=") &&
        col("operation") === "merge").count() >= 2)
  }

  test("Complete mode commits a full snapshot per batch; history keeps each for time travel") {
    val dir = s"${fresh()}/t"; val ckpt = s"${fresh()}/ckpt"
    PartitionedTable.commit(spark, dir,
      Seq(("seed", "p0", 1L)).toDF("word", "part", "n"), "part")
    val t = reg(dir, withKey = false)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    def agg: DataFrame = in.toDF().toDF("word")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"), lit("p0").as("part"), col("n"))
    def start() = agg.writeStream
      .option("checkpointLocation", ckpt).outputMode("complete")
      .trigger(Trigger.AvailableNow()).toTable(t)

    in.addData("a", "b", "a")
    val q1 = start(); q1.awaitTermination()
    val s1 = PartitionedTable.read(spark, dir)
      .select("word", "n").collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(s1 === Seq(("a", 2L), ("b", 1L)), "complete replaces the seed")
    in.addData("b")
    val q2 = start(); q2.awaitTermination()
    val s2 = PartitionedTable.read(spark, dir)
      .select("word", "n").collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(s2 === Seq(("a", 2L), ("b", 2L)))
    // the previous complete stays time-travelable
    val prev = PartitionedTable.read(spark, dir,
      Some(PartitionedTable.latest(spark, dir).get - 1))
      .select("word", "n").collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(prev === s1)
  }

  test("streaming into a hidden-partitioned DDL table: the sink derives the partition per batch; reads prune from source predicates") {
    val dir = s"${fresh()}/t"; val ckpt = s"${fresh()}/ckpt"
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    seq += 1
    val t = s"graft.sink.gen$seq"
    spark.sql(s"CREATE TABLE $t (k BIGINT, d DATE, v BIGINT) " +
      s"PARTITIONED BY (months(d)) LOCATION '$dir'")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Int, Long)]
    def start() = in.toDF().toDF("k", "off", "v")
      .select(col("k"), date_add(lit("1995-01-01").cast("date"),
        col("off")).as("d"), col("v"))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable(t)
    in.addData((1L, 5, 10L), (2L, 40, 20L))
    val q1 = start(); q1.awaitTermination()
    in.addData((3L, 70, 30L))
    val q2 = start(); q2.awaitTermination()
    assert(PartitionedTable.partitionValues(spark, dir).sorted ===
      Seq("1995-01", "1995-02", "1995-03"),
      "the sink must derive the generated partition per batch")
    assert(spark.sql(s"SELECT k FROM $t WHERE d >= DATE '1995-02-01'")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("streaming upsert into a LEVEL table derives the composite per batch; a mid-stream spec evolution's shadow risk fails the epoch loud") {
    val twoLevels = Seq(
      PartitionedTable.GenLevel("st",
        PartitionedTable.PartGen.Prefix(2), "ps"),
      PartitionedTable.GenLevel("d",
        PartitionedTable.PartGen.Month, "pm"))
    // one more input: a one-level spec (no composite — the partition
    // is the month itself) takes the same guarded upsert leg
    Seq((twoLevels, (st: String, p: String) => s"$st/$p"),
        (twoLevels.drop(1), (_: String, p: String) => p)).foreach {
      case (levels, partOf) =>
        val dir = s"${fresh()}/t"; val ckpt = s"${fresh()}/ckpt"
        PartitionedTable.commitLevels(spark, dir,
          Seq((1L, "S0", java.sql.Date.valueOf("1996-01-15"), 10L),
            (2L, "S1", java.sql.Date.valueOf("1996-02-15"), 20L))
            .toDF("k", "st", "d", "v"),
          levels)
        seq += 1
        val name = s"lv$seq"
        GraftCatalog.register(spark, "sink", name, dir,
          partCol = Some(PartitionedTable.partColOf(levels)), keyCol = Some("k"))
        val t = s"graft.sink.$name"
        implicit val sqlCtx = spark.sqlContext
        val in = MemoryStream[(Long, String, Int, Long)]
        def start() = in.toDF().toDF("k", "st", "off", "v")
          .select(col("k"), col("st"),
            date_add(lit("1996-01-01").cast("date"), col("off")).as("d"),
            col("v"))
          .writeStream.option("checkpointLocation", ckpt)
          .option("upsert", "true").outputMode("update")
          .trigger(Trigger.AvailableNow()).toTable(t)

        // batch 1 ships ONLY source columns: k=1 updates in place
        // (S0/1996-01), k=3 inserts a new combination (S1/1996-03)
        in.addData((1L, "S0", 14, 100L), (3L, "S1", 63, 30L))
        val q1 = start(); q1.awaitTermination()
        assert(PartitionedTable.partitionValues(spark, dir).sorted ===
          Seq(partOf("S0", "1996-01"), partOf("S1", "1996-02"),
            partOf("S1", "1996-03")),
          "the sink must derive every level and the partition per batch")
        val got = PartitionedTable.read(spark, dir).select("k", "v").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(got === Seq((1L, 100L), (2L, 20L), (3L, 30L)),
          "keyed upsert must overwrite, not duplicate")

        // mid-stream SPEC EVOLUTION (month → day on the date level): a
        // later batch whose row renders, under the pre-evolution epoch
        // mix, onto a LIVE partition would land a duplicate next to the
        // stale row — the epoch must fail loud (the batch mergeLevels
        // guard, inherited by the sink) and nothing may land
        PartitionedTable.evolveGenLevel(spark, dir, "pm",
          PartitionedTable.PartGen.Day)
        in.addData((1L, "S0", 19, 999L)) // 1996-01-20 vs live S0/1996-01
        val vBefore = PartitionedTable.latest(spark, dir).get
        val q2 = start()
        val e = intercept[Exception](q2.awaitTermination())
        def msgs(x: Throwable): Seq[String] =
          Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
        assert(msgs(e).exists(_.contains("shadow pre-evolution")),
          msgs(e).mkString(" | "))
        assert(PartitionedTable.latest(spark, dir).get === vBefore,
          "a refused epoch must not mint a version")
        assert(PartitionedTable.read(spark, dir).filter(col("k") === 1)
          .select("v").head.getLong(0) === 100L)
    }
  }

  test("cdf source → sink loop: a second table replicates the first through two streaming queries") {
    val src = s"${fresh()}/a"; val dst = s"${fresh()}/b"
    val ckpt = s"${fresh()}/ckpt"
    seed(src)
    // the replica starts EMPTY — declared through the DDL create path
    PartitionedTable.createEmpty(spark, dst,
      org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, part STRING, v BIGINT"), "part")
    val t = reg(dst)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdf")
        .option("dir", src).option("key", "k").option("part", "part")
        .option("startversion", "-1") // bootstrap: initial load as inserts
        .option("maxversionsperbatch", "1") // one commit per batch: keys unique
        .load()
        .filter(col("op").isin("insert", "update"))
        .select("k", "part", "v")
        .writeStream.option("checkpointLocation", ckpt)
        .option("upsert", "true")
        .trigger(Trigger.AvailableNow()).toTable(t)
      q.awaitTermination()
    }
    drain()
    def state(dir: String) = PartitionedTable.read(spark, dir)
      .select("k", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(state(dst) === state(src), "bootstrap replication")
    // upsert-only merge on the source; the same checkpoint drains only it
    PartitionedTable.merge(spark, src,
      Seq((1L, "p1", 111L, "upsert"), (100L, "p0", 1000L, "upsert"))
        .toDF("k", "part", "v", "op"), "k", "part")
    drain()
    assert(state(dst) === state(src), "incremental replication")
  }
}
