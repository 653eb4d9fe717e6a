package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Bronze, Gold, Pipeline, Silver, Sources, Warehouse}

/** The JVM half of the benchmark: runs one workload over the inputs that
  * `run.py` generated and described in `<work>/inputs.json`, checks the
  * outputs it can check inside the JVM, and writes `<work>/result.json`.
  *
  * Usage: `perfbench.Main <work dir>`.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val in = toScala(mapper.readValue(new File(s"$work/inputs.json"), classOf[Object]))
      .asInstanceOf[Map[String, Any]]
    val cpus = in("cpus").toString
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, in, work)
    val out = in("workload") match {
      case "daily_increment" => h.dailyIncrement()
      case "operator_mix" => h.operatorMix()
      case other => sys.error(s"unknown workload $other")
    }
    val canaries = h.canaries()
    mapper.writeValue(new File(s"$work/result.json"),
      out ++ Map("session_s" -> sessionS, "canaries" -> canaries))
    spark.stop()
  }
}

/** One workload run. Every metric is measured here around calls into the
  * engine's public entry points; nothing inside the engine is changed. */
final class Harness(spark: SparkSession, in: Map[String, Any], work: String) {
  private val traced = in("trace") == 1
  private val asOf = Date.valueOf(in("as_of").toString)
  private val trace = if (traced) Some(new Trace(spark)) else None
  private var tracing = false
  private val heap = new HeapPeak
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def span[A](name: String)(body: => A): A =
    if (tracing) trace.get.span(name)(body) else body

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seq(key: String): Seq[Map[String, Any]] =
    in(key).asInstanceOf[Seq[Map[String, Any]]]

  // ---- pipeline ----------------------------------------------------------

  private val landing = in.get("landing").map(_.toString).orNull

  /** The four stage calls of `Pipeline.run`, each its own span. */
  private def runStages(paths: Pipeline.Paths): Unit = {
    val source = Sources.csv(spark, landing)
    span("bronze")(Bronze.run(spark, source, paths.bronze))
    span("silver")(Silver.run(spark, paths.bronze, paths.silver))
    span("gold")(Gold.run(spark, paths.silver, paths.gold, asOf))
    span("warehouse")(Warehouse.run(spark, paths.silver, paths.warehouse))
  }

  /** Backfill the landed history into an empty lake. */
  private def backfill(): Pipeline.Paths = {
    val paths = Pipeline.Paths.under(s"$work/lake")
    runStages(paths)
    paths
  }

  private val born = ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench harness ${(System.currentTimeMillis() - born) / 1e3}%7.1fs] $msg")

  private def rowsAndDefects(files: Seq[Map[String, Any]]): (Long, Long) =
    files.foldLeft((0L, 0L)) { case ((r, q), f) =>
      (r + f("rows").toString.toLong, q + f("quality_defects").toString.toLong)
    }

  private def checkLayers(paths: Pipeline.Paths, landed: Seq[Map[String, Any]]): Unit = {
    val (rows, defects) = rowsAndDefects(landed)
    val bronze = spark.read.parquet(paths.bronze).count()
    check("bronze_rows", bronze == rows, s"bronze has $bronze rows, generated $rows")
    val silver = spark.read.parquet(paths.silver).count()
    check("silver_rows", silver == rows - defects,
      s"silver has $silver rows, expected $rows - $defects quality defects")
    val df = Warehouse.starRevenue(spark).collect()
    val sql = Warehouse.starRevenueSql(spark).collect()
    check("star_revenue_df_eq_sql", sameStar(df, sql),
      s"starRevenue (${df.length} rows) differs from starRevenueSql (${sql.length} rows)")
  }

  private def sameStar(a: Array[Row], b: Array[Row]): Boolean = {
    def key(r: Row) = (r.getAs[String]("month_name"), r.getAs[String]("code"))
    val bm = b.map(r => key(r) -> r).toMap
    a.length == b.length && a.forall { r =>
      bm.get(key(r)).exists { o =>
        o.getAs[Long]("n_itineraries") == r.getAs[Long]("n_itineraries") &&
        math.abs(o.getAs[Double]("total_fare") - r.getAs[Double]("total_fare")) <= 0.011
      }
    }
  }

  private def goldRows(): Seq[Seq[Any]] =
    spark.table("gold.revenue_n_seat_remain_ym")
      .select("year", "month", "airline", "total_fare", "avg_seat_remaining")
      .collect().toSeq.map(_.toSeq)

  /** Order-independent content digest of each table: row count and the
    * sum of row hashes, all in one query. Doubles are rounded first, so a
    * recomputation that only reorders a floating sum still matches. */
  private def digests(tables: Seq[String]): Map[String, (Long, Long)] =
    tables.map { t =>
      val df = spark.table(t)
      val cols = df.schema.fields.toSeq.map { f =>
        if (f.dataType == org.apache.spark.sql.types.DoubleType) round(col(f.name), 6)
        else col(f.name)
      }
      df.agg(lit(t), count(lit(1)), coalesce(sum(xxhash64(cols: _*)), lit(0L)))
    }.reduce(_ union _).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private val servingTables = Seq(
    "gold.revenue_n_seat_remain_ym", "gold.fbc_travel_duration_relation",
    "warehouse.dim_date", "warehouse.dim_airline", "warehouse.dim_airport",
    "warehouse.fact_flight_activites", "graft.warehouse.fact_flight_activites")

  private def lakeBytes(paths: Pipeline.Paths): Long =
    Seq(paths.bronze, paths.silver, paths.gold, paths.warehouse).map(p => dirBytes(new File(p))).sum

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  /** `daily_increment`: set-up backfills the history and refreshes the
    * dashboards once; then each daily cycle lands one search day, runs the
    * four stages and refreshes the dashboards (one star query of each
    * kind, every result collected). */
  def dailyIncrement(): Map[String, Any] = {
    val history = seq("history")
    val (paths, setupS) = timed {
      val p = backfill()
      seq("warmup_queries").foreach(q => starQuery(q).collect())
      p
    }
    log(f"set-up done in $setupS%.1f s")
    val cycles = seq("cycles")
    heap.reset()
    tracing = traced
    val latencies = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[(Map[String, Any], Array[Row])]
    var failed = 0
    val (_, runS) = timed {
      cycles.foreach { c =>
        val src = Paths.get(c("file").toString)
        Files.move(src, Paths.get(landing, src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
        try latencies += timed {
          runStages(paths)
          c("queries").asInstanceOf[Seq[Map[String, Any]]].foreach { q =>
            reads += (q -> span(s"star_reads.${q("kind")}")(starQuery(q).collect()))
          }
        }._2
        catch { case NonFatal(e) => failed += 1; System.err.println(s"cycle failed: $e") }
      }
    }
    tracing = false
    val peak = heap.peakMb()
    log(f"timed part done in $runS%.1f s")
    checkLayers(paths, history ++ cycles)
    // the last cycle's catalog reads must return exactly what the same SQL
    // returns over the session catalog's copy of the warehouse
    reads.takeRight(StarKinds).filter(r => CatalogKinds(r._1("kind").toString)).foreach {
      case (q, rows) =>
        val expect = spark.sql(graftSql(q, "warehouse")).collect().map(rowKey).sorted
        check(s"catalog_read_${q("kind")}", rows.map(rowKey).sorted.sameElements(expect),
          s"graft read $q returned ${rows.length} rows, session catalog ${expect.length}")
    }
    // an untimed re-run with nothing new to land must change nothing
    log("output checks done")
    val before = digests(servingTables)
    val goldBefore = goldRows()
    runStages(paths)
    val after = digests(servingTables)
    val changed = servingTables.filter(t => before(t) != after(t))
    log("no-op re-run done")
    check("noop_rerun_unchanged", changed.isEmpty && sameGold(goldBefore, goldRows()),
      s"a re-run with no new rows changed ${changed.mkString(", ")}")
    Map(
      "setup_s" -> setupS, "run_s" -> runS, "op_p50_s" -> median(latencies.toSeq),
      "ops" -> latencies.size, "attempted" -> cycles.size, "failed" -> failed,
      "peak_heap_mb" -> peak, "stored_bytes" -> lakeBytes(paths),
      "checks" -> checks.toList, "gold" -> goldBefore, "layers" -> layers())
  }

  private val StarKinds = 6
  private val CatalogKinds = Set("week", "month", "all")

  private def sameGold(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean = {
    def key(r: Seq[Any]) = (r(0), r(1), r(2))
    val bm = b.map(r => key(r) -> r).toMap
    a.size == b.size && a.forall { r =>
      bm.get(key(r)).exists { o =>
        math.abs(o(3).asInstanceOf[Double] - r(3).asInstanceOf[Double]) <= 1e-6 &&
        o(4) == r(4)
      }
    }
  }

  // ---- star reads (the dashboards refreshed after each load) -------------

  private def starQuery(q: Map[String, Any]): DataFrame = q("kind") match {
    case "df" => Warehouse.starRevenue(spark)
    case "sql" => Warehouse.starRevenueSql(spark)
    case "gold" =>
      spark.sql(s"""SELECT g.airline, g.total_fare, g.avg_seat_remaining, f.avg_duration
                   |FROM gold.revenue_n_seat_remain_ym g
                   |CROSS JOIN (SELECT avg(avg_duration) AS avg_duration
                   |            FROM gold.fbc_travel_duration_relation) f
                   |WHERE g.month = ${q("month")}""".stripMargin)
    case _ => spark.sql(graftSql(q, "graft.warehouse"))
  }

  /** A dashboard query over the graft catalog: revenue by month and
    * origin for one airport, over a week, a month or all flight dates. */
  private def graftSql(q: Map[String, Any], ns: String): String = {
    val range = (q.get("lo"), q.get("hi")) match {
      case (Some(lo), Some(hi)) => s"AND f.flightDate BETWEEN DATE'$lo' AND DATE'$hi'"
      case _ => ""
    }
    s"""SELECT /*+ BROADCAST(d) */ d.month_name, f.startingAirport,
       |       count(*) AS n_itineraries, round(sum(f.totalFare), 2) AS total_fare
       |FROM $ns.fact_flight_activites f
       |JOIN $ns.dim_date d ON f.flightDate = d.day
       |WHERE f.startingAirport = '${q("airport")}' $range
       |GROUP BY d.month_name, f.startingAirport""".stripMargin
  }

  private def rowKey(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.2f"
    case x => String.valueOf(x)
  }.mkString("|")

  // ---- operator mix ------------------------------------------------------

  /** `operator_mix`: one pass over registered queries, each result
    * written as parquet for the oracle check. */
  def operatorMix(): Map[String, Any] = {
    val dir = in("operator_dir").toString
    val names = in("operator_queries").asInstanceOf[Seq[String]]
    val entry = graft.SparkEntry.queries
    // set-up: warm the session on a join, an aggregate, a window and a
    // parquet write over the same tables, so that the first timed query
    // does not pay for the JVM's warm-up; repeated, setup_s is the median
    val setupS = median((1 to in("setup_repeats").toString.toInt).map { k =>
      timed {
        Seq("lineitem", "orders").foreach { t =>
          spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"warm_$t")
        }
        spark.sql(
          """SELECT o.o_orderpriority, l.l_returnflag, count(*) AS n,
            |       sum(l.l_extendedprice) AS rev,
            |       rank() OVER (PARTITION BY o.o_orderpriority ORDER BY sum(l.l_extendedprice)) AS r
            |FROM warm_lineitem l JOIN warm_orders o ON l.l_orderkey = o.o_orderkey
            |GROUP BY o.o_orderpriority, l.l_returnflag""".stripMargin)
          .write.mode("overwrite").parquet(s"$work/warm/$k")
      }._2
    })
    heap.reset()
    tracing = traced
    val latencies = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val (_, runS) = timed {
      names.foreach { n =>
        try latencies += timed(span(n)(
          entry(n)(spark, dir).write.mode("overwrite").parquet(s"$work/out/$n")))._2
        catch { case NonFatal(e) => failed += 1; System.err.println(s"$n failed: $e") }
      }
    }
    tracing = false
    val peak = heap.peakMb()
    log(f"timed part done in $runS%.1f s")
    val oracle = graft.SparkEntry.oracleSql
    Map(
      "setup_s" -> setupS, "run_s" -> runS,
      "op_p50_s" -> median(latencies.toSeq),
      "ops" -> latencies.size, "attempted" -> names.size, "failed" -> failed,
      "peak_heap_mb" -> peak,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "checks" -> checks.toList, "layers" -> layers())
  }

  // ---- trace and canaries -------------------------------------------------

  private def layers(): Map[String, Any] = trace.map(_.close()).getOrElse(Map.empty)
    .map { case (name, s) =>
      name -> Map(
        "count" -> s.count, "jobs" -> s.jobs, "tasks" -> s.tasks, "wall_s" -> s.wallS,
        "exec_run_s" -> s.execRunS, "driver_gap_s" -> s.driverGapS,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "gc_s" -> s.gcS, "files_written" -> s.filesWritten, "plan_s" -> s.planS,
        "files_read" -> s.filesRead, "files_total" -> s.filesTotal,
        "modules" -> s.modules.map { case (m, ms) => m -> Map("jobs" -> ms.jobs, "job_s" -> ms.jobS) })
    }

  /** Environment canaries: fixed work whose plan no engine change can
    * touch, so a later A/B can tell box drift from code. Recorded only. */
  def canaries(): Map[String, Double] = {
    val n = in("cpus").toString.toInt
    def best(f: => Unit): Double = (1 to 2).map(_ => timed(f)._2).min
    Map(
      "cpu_s" -> best(spark.range(0L, 20000000L, 1L, n).agg(sum("id")).collect()),
      "shuffle_s" -> best(spark.range(0L, 1000000L, 1L, n)
        .repartition(n, col("id")).agg(sum("id")).collect()),
      "parquet_io_s" -> best {
        val p = s"$work/canary"
        spark.range(0L, 500000L, 1L, n).selectExpr("id", "id * 2 AS v", "cast(id AS string) AS s")
          .write.mode("overwrite").parquet(p)
        spark.read.parquet(p).agg(sum("v")).collect()
      })
  }
}

/** Peak heap in use just after a collection (the live set) over the
  * measured part, from the collectors' own after-GC pool readings. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val onGc: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
      if (used > peak) peak = used
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  /** Collects once more, so the figure includes the live set at the end. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(100)
    peak.toDouble / (1 << 20)
  }
}
