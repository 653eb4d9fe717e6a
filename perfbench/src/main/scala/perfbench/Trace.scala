package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Span tracing from outside the engine: a [[SparkListener]] and a
  * [[QueryExecutionListener]] record jobs, stages and executed plans, and
  * the harness brackets each call into the engine with [[span]].
  *
  * Spans are sequential (one closed-loop client), so a job, stage or
  * query execution belongs to the span whose wall interval contains its
  * start. Jobs are attributed to an engine module through their SQL
  * execution's call site: the first `graft.` frame of
  * `SparkListenerSQLExecutionStart.details` (the stage call site of an
  * adaptive query reads `CompletableFuture.java`, so it cannot be used).
  * Non-SQL jobs use their own stage call site. Everything stays in memory
  * and is summarized once, after the measured part.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val execModule = mutable.Map.empty[Long, String]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]

  private val drained = new java.util.concurrent.CountDownLatch(1)
  @volatile private var drainJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == DrainMarker))
        drainJob = e.jobId
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      Trace.this.synchronized {
        jobs += JobRec(e.jobId, e.time, exec, moduleOf(site), e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }
      if (e.jobId == drainJob) drained.countDown()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.this.synchronized { stages(i.stageId * 1000 + i.attemptNumber()) = rec }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execModule(s.executionId) = moduleOf(s.details)
      }
      case _ =>
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      val at = phases.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val nodes = flatten(qe.executedPlan)
      val written = nodes.collect { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val scans = nodes.collect { case r: RowDataSourceScanExec => r.relation }.collect {
        case g: graft.sources.GraftRelation => g.scan
      }
      Trace.this.synchronized { queries += QueryRec(at, planMs, written, scans) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Run `body` as span `name`. */
  def span[A](name: String)(body: => A): A = {
    val gc0 = gcMs()
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += SpanRec(name, t0, t1, gcMs() - gc0) }
    }
  }

  /** Stop recording (waiting for queued events) and summarize every span
    * name: per-span sums of the base counters plus per-module job counts
    * and job seconds. Pruning counts are computed here, after the
    * measured part, so their planning adds no jobs to any span. */
  def close(): Map[String, Summary] = {
    // events reach listeners in order: once a marker job submitted now has
    // been seen to end, every earlier event has been seen too
    val sc = spark.sparkContext
    sc.setJobDescription(DrainMarker)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    drained.await(60, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    val (ss, js, st, em, qs) = synchronized {
      (spans.toList, jobs.toList, stages.values.toList, execModule.toMap, queries.toList)
    }
    def inSpan(s: SpanRec, t: Long) = t >= s.start && t <= s.end
    ss.groupBy(_.name).map { case (name, group) =>
      val sj = js.filter(j => group.exists(inSpan(_, j.start)))
      val stageIds = sj.flatMap(_.stageIds).toSet
      val sst = st.filter(s => stageIds(s.id))
      val sq = qs.filter(q => group.exists(inSpan(_, q.at)))
      val wallMs = group.map(s => s.end - s.start).sum
      val busyMs = group.map { s =>
        unionMs(sst.map(x => (math.max(x.submit, s.start), math.min(x.complete, s.end))))
      }.sum
      val modules = sj.groupBy(j => j.exec.flatMap(em.get).getOrElse(j.module)).map {
        case (m, mj) => m -> ModuleStat(mj.size, mj.map(j => math.max(0L, j.end - j.start)).sum / 1e3)
      }
      val scans = sq.flatMap(_.scans)
      val (read, total) = scans.map(filesOf).foldLeft((0L, 0L)) {
        case ((r, t), (a, b)) => (r + a, t + b)
      }
      name -> Summary(
        count = group.size,
        jobs = sj.size,
        tasks = sst.map(_.tasks).sum,
        wallS = wallMs / 1e3,
        execRunS = sst.map(_.runMs).sum / 1e3,
        driverGapS = math.max(0L, wallMs - busyMs) / 1e3,
        shuffleWriteBytes = sst.map(_.shuffleWrite).sum,
        spillBytes = sst.map(_.spill).sum,
        gcS = group.map(_.gcMs).sum / 1e3,
        filesWritten = sq.map(_.written).sum,
        planS = sq.map(_.planMs).sum / 1e3,
        filesRead = read,
        filesTotal = total,
        modules = modules)
    }
  }

  private def filesOf(scan: graft.sources.GraftScan): (Long, Long) = {
    val read = scan.buildDf(spark).inputFiles.length.toLong
    val total = graft.operators.PartitionedTable
      .read(spark, scan.spec.dir, Some(scan.version)).inputFiles.length.toLong
    (read, total)
  }
}

object Trace {
  private val DrainMarker = "perfbench-trace-drain"

  final case class SpanRec(name: String, start: Long, end: Long, gcMs: Long)
  final case class JobRec(id: Int, start: Long, exec: Option[Long], module: String,
      stageIds: Seq[Int]) { var end: Long = start }
  final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int,
      runMs: Long, shuffleWrite: Long, spill: Long)
  final case class QueryRec(at: Long, planMs: Long, written: Long,
      scans: Seq[graft.sources.GraftScan])
  final case class ModuleStat(jobs: Int, jobS: Double)

  /** Sums over every occurrence of one span name. */
  final case class Summary(count: Int, jobs: Int, tasks: Int, wallS: Double,
      execRunS: Double, driverGapS: Double, shuffleWriteBytes: Long,
      spillBytes: Long, gcS: Double, filesWritten: Long, planS: Double,
      filesRead: Long, filesTotal: Long, modules: Map[String, ModuleStat])

  /** JVM-wide collector time: one JVM runs driver and executors, so this is
    * the time every task and the driver lost to collection. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Source file (module) of the first `graft.` frame in a call-site
    * string, e.g. `GraftCatalog` for a `graft.sources.GraftScan` frame. */
  def moduleOf(site: String): String =
    site.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft."))
      .map { f =>
        val file = f.dropWhile(_ != '(').drop(1).takeWhile(_ != ':')
        if (file.endsWith(".scala")) file.stripSuffix(".scala")
        else f.takeWhile(_ != '(').split('.').dropRight(1).lastOption.getOrElse("").takeWhile(_ != '$')
      }.filter(_.nonEmpty).getOrElse("other")

  /** Every node of an executed plan, through adaptive wrappers, cached
    * relations and subqueries. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case m: InMemoryTableScanExec => m +: flatten(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  /** Length of the union of closed intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
