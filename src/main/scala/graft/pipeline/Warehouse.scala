package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Warehouse stage: star schema — three dims + one fact (reference
  * `loadToWarehouse.py:27-78`, intent corrected per SURVEY §2.7: the
  * reference's dim build referenced nonexistent columns and an outer-join
  * null-filter; ours uses explicit anti-joins and the silver arrays that
  * actually exist).
  *
  * Scale posture: dims are tiny and incremental (anti-join on the new
  * batch's distinct keys — J1); the fact table is an append of non-array
  * silver columns partitioned by date parts. Star queries then broadcast
  * the dims (see Relational q11).
  */
object Warehouse {

  /** Distinct calendar dates present in the batch — the reference's
    * columnar union `explode(array_distinct(array(searchDate, flightDate)))`
    * (`loadToWarehouse.py:27`), kept because it unions without a second
    * scan of silver. */
  def batchDates(silver: DataFrame): DataFrame =
    silver.select(explode(array_distinct(array(col("searchDate"), col("flightDate"))))
      .as("day")).distinct()

  /** J1: dates not yet in the dim. The reference spelled this as a
    * right-outer join + null filter (`loadToWarehouse.py:31-32`); the
    * explicit anti-join is the intent and skips the null-scan. */
  def newDates(batch: DataFrame, existing: Option[DataFrame]): DataFrame =
    existing.fold(batch)(ex => batch.join(ex.select("day"), Seq("day"), "left_anti"))

  /** F17-F19 enrichment, Spark-4-correct (no 2.4 `DD`/`u` patterns —
    * SURVEY §2.6 F17): ISO day-of-week, native month/day names. */
  def enrichDates(dates: DataFrame): DataFrame =
    dates.select(
      col("day"),
      year(col("day")).as("year"),
      month(col("day")).as("month"),
      dayofmonth(col("day")).as("dayOfMonth"),
      quarter(col("day")).as("quarter"),
      date_format(col("day"), "MMMM").as("month_name"),
      (weekday(col("day")) + 1).as("day_of_week_number"),
      date_format(col("day"), "EEEE").as("day_of_week_name"))

  /** dim_airline rows in the batch: F13 `arrays_zip` + F12 explode + F14
    * struct access + A5 distinct (`loadToWarehouse.py:48-53`). */
  def batchAirlines(silver: DataFrame): DataFrame =
    silver.select(explode(arrays_zip(
        col("airlineCodeArray").as("code"), col("airlineNameArray").as("name"))).as("z"))
      .select(col("z.code").as("code"), col("z.name").as("name"))
      .distinct()

  /** dim_airport rows: the reference zips `airportCodeArray`/
    * `airportNameArray`, which never exist (`loadToWarehouse.py:61`) —
    * the feed carries no airport display names. The intent (codes from
    * the arrival+departure arrays, with a display name) is realized by
    * joining the conformed [[AirportRef]] reference dim (broadcast —
    * it's a few thousand rows worldwide); unknown codes keep the code as
    * their name, so `name` is never null. */
  def batchAirports(silver: DataFrame): DataFrame =
    silver.select(explode(col("arrivalAirportArray")).as("code"))
      .unionByName(silver.select(explode(col("departureAirportArray")).as("code")))
      .distinct()
      .join(broadcast(AirportRef.df(silver.sparkSession)), Seq("code"), "left")
      .select(col("code"), coalesce(col("ref_name"), col("code")).as("name"))

  /** P5: the fact table — every non-array silver column plus
    * `count_segments` (F9) (`loadToWarehouse.py:72-74`). */
  def fact(silver: DataFrame): DataFrame = {
    val withCount = silver.withColumn("count_segments", size(col("airlineCodeArray")))
    withCount.select(withCount.schema.fields
      .filterNot(_.dataType.isInstanceOf[ArrayType])
      .map(f => col(f.name)): _*)
  }

  /** The star query the warehouse exists for (implied by the reference's
    * dimensional model, SURVEY §2.3, never executed there): fact joined to
    * broadcast dims — revenue and volume by month name and origin airport.
    * At scale: the fact side never shuffles for these joins; only the
    * final aggregate shuffles, on small group keys. */
  def starRevenue(spark: SparkSession): DataFrame = {
    // rename dim keys up front: the fact carries its own `day` partition
    // column, and unambiguous names beat dataframe-tagged references
    val dimDate = spark.table("warehouse.dim_date")
      .select(col("day").as("dim_day"), col("month_name"))
    val dimAirport = spark.table("warehouse.dim_airport")
      .select(col("code"), col("name").as("airport_name"))
    spark.table("warehouse.fact_flight_activites")
      .join(broadcast(dimDate), col("flightDate") === col("dim_day"))
      .join(broadcast(dimAirport), col("startingAirport") === col("code"))
      .groupBy("month_name", "code")
      .agg(round(sum("totalFare"), 2).as("total_fare"),
        count(lit(1)).as("n_itineraries"))
  }

  private def dimAppend(
      spark: SparkSession, batch: DataFrame, table: String, path: String,
      keyCols: Seq[String], partitionCols: Seq[String] = Nil): Unit = {
    val existing =
      if (spark.catalog.tableExists(table)) Some(spark.table(table)) else None
    val fresh = existing.fold(batch)(ex =>
      batch.join(ex.select(keyCols.map(col): _*), keyCols, "left_anti"))
    val w0 = fresh.write.option("path", path).mode("append")
    val w = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
    w.saveAsTable(table)
  }

  /** Build/refresh the star schema from the silver layer.
    *
    * Dims are incremental appends guarded by anti-joins (idempotent:
    * re-running the same batch adds nothing). The fact table is
    * full-overwrite here for idempotence; the 100 TB upgrade is
    * watermark-append like bronze/silver, since fact rows are immutable. */
  def run(spark: SparkSession, silverPath: String, warehousePath: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS warehouse")
    val silver = spark.read.parquet(silverPath)

    // dim_date: partitioned by (year, month) — partitioning a dim by its
    // PK day would mean one file per row at scale, so the reference's
    // year/month/day layout is deliberately coarsened.
    val existingDates =
      if (spark.catalog.tableExists("warehouse.dim_date"))
        Some(spark.table("warehouse.dim_date"))
      else None
    val freshDates = enrichDates(newDates(batchDates(silver), existingDates))
    val dw0 = freshDates.write
      .option("path", s"$warehousePath/dim_date").mode("append")
      .partitionBy("year", "month")
    dw0.saveAsTable("warehouse.dim_date")

    dimAppend(spark, batchAirlines(silver), "warehouse.dim_airline",
      s"$warehousePath/dim_airline", Seq("code"))
    dimAppend(spark, batchAirports(silver), "warehouse.dim_airport",
      s"$warehousePath/dim_airport", Seq("code"))

    fact(silver).write
      .partitionBy("year", "month", "day")
      .option("path", s"$warehousePath/fact_flight_activites")
      .mode("overwrite")
      .saveAsTable("warehouse.fact_flight_activites")

    registerGraft(spark, warehousePath)
  }

  /** Mirror the star schema into the ENGINE'S OWN catalog (round 14):
    * the reference's end state — a catalog-registered star schema
    * (`loadToWarehouse.py:44-78` registers via Hive) — reachable purely
    * through graft SQL. Each warehouse table commits as a
    * partition-scoped versioned table under `$warehousePath/graft/` and
    * registers as `graft.warehouse.<t>`: the fact partitions by flight
    * MONTH through a one-level generated spec (star queries with date
    * ranges manifest-prune, and the layout survives fact growth), dims by year
    * / code prefix (tiny, but a partitioned substrate is the uniform
    * contract). Full-refresh commits: content-idempotent per re-run,
    * with table history as a bonus the Hive mirror never had. */
  def registerGraft(spark: SparkSession, warehousePath: String): Unit = {
    import graft.operators.PartitionedTable
    import graft.operators.PartitionedTable.{GenLevel, PartGen}
    import graft.sources.GraftCatalog
    val root = s"$warehousePath/graft"
    PartitionedTable.commitLevels(spark, s"$root/dim_date",
      spark.table("warehouse.dim_date"), Seq(GenLevel("day", PartGen.Year, "py")))
    PartitionedTable.commitLevels(spark, s"$root/dim_airline",
      spark.table("warehouse.dim_airline"),
      Seq(GenLevel("code", PartGen.Prefix(1), "pc")))
    PartitionedTable.commitLevels(spark, s"$root/dim_airport",
      spark.table("warehouse.dim_airport"),
      Seq(GenLevel("code", PartGen.Prefix(1), "pc")))
    PartitionedTable.commitLevels(spark, s"$root/fact_flight_activites",
      spark.table("warehouse.fact_flight_activites"),
      Seq(GenLevel("flightDate", PartGen.Month, "pm")),
      statsCols = Seq("flightDate"))
    GraftCatalog.register(spark, "warehouse", "dim_date",
      s"$root/dim_date", partCol = Some("py"))
    GraftCatalog.register(spark, "warehouse", "dim_airline",
      s"$root/dim_airline", partCol = Some("pc"))
    GraftCatalog.register(spark, "warehouse", "dim_airport",
      s"$root/dim_airport", partCol = Some("pc"))
    GraftCatalog.register(spark, "warehouse", "fact_flight_activites",
      s"$root/fact_flight_activites", partCol = Some("pm"))
  }

  /** [[starRevenue]] expressed purely through the engine's catalog —
    * the SQL a reference user would actually write against the
    * registered star. Dims broadcast by hint; the fact side never
    * shuffles for the joins. */
  def starRevenueSql(spark: SparkSession): DataFrame =
    spark.sql(
      """SELECT /*+ BROADCAST(d), BROADCAST(a) */
        |       d.month_name, a.code,
        |       round(sum(f.totalFare), 2) AS total_fare,
        |       count(*) AS n_itineraries
        |FROM graft.warehouse.fact_flight_activites f
        |JOIN graft.warehouse.dim_date d ON f.flightDate = d.day
        |JOIN graft.warehouse.dim_airport a ON f.startingAirport = a.code
        |GROUP BY d.month_name, a.code""".stripMargin)
}
