package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Classic-API bridge: Spark 4 `Column` wraps a `ColumnNode`, and the
  * Expression↔Column converters live `private[sql]` in
  * `org.apache.spark.sql.classic.ExpressionUtils` — this nested-package
  * object re-exports just the two conversions a library defining custom
  * Catalyst expressions needs (the standard extension-point technique;
  * the alternative, registering every expression as a SQL function, works
  * only on sessions built with our extensions installed). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the extension point a
    * library-defined operator node needs; `Dataset.ofRows` is
    * `private[sql]` in the classic implementation. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's effective planner strategies (extension-injected +
    * experimental + built-in) — lets a library operator fail fast with a
    * clear message when its strategy is missing; `sessionState` is
    * `private[sql]`. */
  def plannerStrategies(spark: SparkSession): Seq[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies

  /** A DataFrame over an RDD of InternalRows with a known schema — the
    * read-back side of a staged binary shuttle (the SQL write path's
    * executor-written UnsafeRow files); `internalCreateDataFrame` is
    * `private[sql]`. */
  def dfFromInternal(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Rule-created prune-dim cache entries, LRU by canonicalized plan.
    * LIFECYCLE: [[cachedPlanOf]] is called by an optimizer RULE, so
    * nothing ever explicitly releases its entries — without a bound, a
    * long-lived session running many distinct star queries accretes up
    * to maxDimBytes per distinct dim filter literal in the session
    * CacheManager forever. The LRU evicts OUR eldest entry (never a
    * user's — only plans this map registered are ever uncached) once
    * the bound is crossed. Values hold the classic Dataset the entry
    * was cached through, which pins its owning session for the
    * uncache. */
  private val pruneDimLru =
    new java.util.LinkedHashMap[LogicalPlan, classic.Dataset[_]](
      16, 0.75f, /*accessOrder=*/ true)

  /** Number of rule-created prune-dim entries currently live (spec
    * hook for the bounded-lifecycle test). */
  def pruneDimCacheSize: Int = Bridge.synchronized(pruneDimLru.size)

  /** Persist `plan` through the session cache manager and return its
    * [[org.apache.spark.sql.execution.columnar.InMemoryRelation]]
    * (output re-aliased to the plan's own exprIds) — the reuse seam
    * the runtime-prune rule needs so the dim executes ONCE: the
    * key-resolution collect materializes the cache and the join reads
    * it, instead of scanning the stored dim twice. Lazy (nothing
    * computes until the first action); `CacheManager` is
    * `private[sql]`. None = caching unavailable (unsupported plan) —
    * callers keep the original plan. Rule-created entries are LRU-
    * bounded to `maxEntries` per JVM (eviction uncaches through the
    * entry's own session, non-cascading — dependents recompute, never
    * break). */
  def cachedPlanOf(
      spark: SparkSession, plan: LogicalPlan,
      maxEntries: Int = 8): Option[LogicalPlan] = Bridge.synchronized {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val df = classic.Dataset.ofRows(cs, plan)
    val cm = cs.sharedState.cacheManager
    val key = plan.canonicalized
    if (cm.lookupCachedData(df).isEmpty) {
      cm.cacheQuery(df, None,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pruneDimLru.put(key, df)
      while (pruneDimLru.size > math.max(1, maxEntries)) {
        val eldest = pruneDimLru.entrySet().iterator().next()
        try cm.uncacheQuery(
          eldest.getValue.asInstanceOf[classic.Dataset[_]],
          /*cascade=*/ false)
        catch { case scala.util.control.NonFatal(_) => () }
        pruneDimLru.remove(eldest.getKey): Unit
      }
    } else pruneDimLru.get(key): Unit // touch: refresh LRU order if ours
    cm.lookupCachedData(df).map(_.cachedRepresentation.withOutput(plan.output))
  }

  /** Re-tag a batch frame as a STREAMING frame — what a V1 streaming
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`), built exactly the way Spark's own
    * `FileStreamSource` does: `internalCreateDataFrame(..., isStreaming
    * = true)`, which is `private[sql]`. The inner (batch) plan executes
    * lazily per micro-batch. */
  def asStreaming(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  /** Each parquet file's Spark schema, in `files` order, read in ONE
    * job with Spark's own footer conversion — the per-file step of
    * `mergeSchema=true` inference (the Spark row metadata a writer
    * recorded, else the parquet-type conversion under the session's
    * parquet flags). `ParquetFileFormat`'s footer readers and
    * `SerializableConfiguration` are not public API. */
  def footerSchemas(
      spark: SparkSession, files: Seq[String]): Seq[StructType] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val conf = new SerializableConfiguration(cs.sessionState.newHadoopConf())
    // the session's parquet flags, as ParquetToSparkSchemaConverter(SQLConf)
    // reads them (a SQLConf does not survive serialization to a task)
    val sc = cs.sessionState.conf
    val flags = (sc.isParquetBinaryAsString, sc.isParquetINT96AsTimestamp,
      sc.caseSensitiveAnalysis, sc.parquetInferTimestampNTZEnabled,
      sc.legacyParquetNanosAsLong, sc.parquetFieldIdReadEnabled,
      sc.parquetIgnoreVariantAnnotation, sc.parquetReaderRespectUnknownTypeAnnotation)
    val slices = math.max(1, math.min(files.size, cs.sparkContext.defaultParallelism))
    val json = cs.sparkContext.parallelize(files.zipWithIndex, slices)
      .mapPartitions { it =>
        val c = conf.value
        val converter = new ParquetToSparkSchemaConverter(flags._1, flags._2,
          flags._3, flags._4, flags._5, flags._6, flags._7, flags._8)
        it.map { case (f, i) =>
          val p = new Path(f)
          val in = HadoopInputFile.fromPath(p, c)
          val footer = {
            val r = ParquetFileReader.open(in)
            try r.getFooter finally r.close()
          }
          i -> ParquetFileFormat.readSchemaFromFooter(
            new Footer(p, footer), converter).json
        }
      }.collect()
    json.sortBy(_._1).map(j => DataType.fromJson(j._2).asInstanceOf[StructType])
      .toSeq
  }

  /** `mergeSchema=true`'s fold step (left fields first, right-only
    * fields appended; case sensitivity per session). */
  def mergeSchemas(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf.caseSensitiveAnalysis)

  /** The nullability a file-source relation reports for its data
    * schema: every field, element and map value nullable, recursively. */
  def asNullable(s: StructType): StructType = s.asNullable
}
