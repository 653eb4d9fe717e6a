package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Parquet is self-describing; we take the footer schema (partition
  * discovery + vectorized reader + row-group min/max skipping are free).
  * Column pruning / predicate pushdown happen in Catalyst — callers
  * `select`/`filter` declaratively and the scan narrows itself
  * (verify with `.explain`: `ReadSchema` / `PushedFilters`).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events fixture has shipped in two physical forms across driver
    * rounds: INT64 TIMESTAMP(NANOS) (reads as a nanos `long` under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set in [[Sessions]]) and
    * plain `timestamp[us]` with isAdjustedToUTC=false (reads as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference). Normalize both to a
    * session-zone TIMESTAMP: the session zone is pinned to UTC, so the
    * NTZ→LTZ cast re-tags the same wall-clock values DuckDB sees reading
    * the same file, and the nanos path uses integral `div` (a double
    * divide would lose precision above 2^53 ns). */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** Shared by the batch loader above and the streaming file sources that
    * stage the same fixture — ONE place owns the ts-form contract. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** True when the caller deliberately shaped `plan`'s layout: an
    * explicit repartition/rebalance/sort at the plan's top, under only
    * projections, filters and aliases — shaped frames must be written
    * VERBATIM, never re-fanned/re-clustered by a write path. Shaping
    * deeper in the plan (a sort under an aggregate or a join) does not
    * survive to the written partitions, so it does not count. */
  private[graft] def hasUserShaping(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: RepartitionOperation | _: RebalancePartitions | _: Sort => true
      case p @ (_: Project | _: Filter | _: SubqueryAlias) => hasUserShaping(p.children.head)
      case _ => false
    }
  }

  /** Fan a scan-bound frame out to the session's full parallelism when
    * the FILE LAYOUT under-parallelizes it (optimization guide §2.5,
    * "input skew: one huge unsplittable file ... repartition
    * immediately after the read"): the test fixtures are single-
    * row-group parquet files, so a scan yields ONE task no matter how
    * many cores the session has, and any expensive projection or
    * expansion above it (tokenizers, shingling, Expand'd multi-DISTINCT
    * aggregates, vector kernels) runs single-threaded. The check reads
    * the PLANNED scan's partition count, so it adapts to the actual
    * layout instead of hard-coding either posture: a production layout
    * (row groups ~ split-sized) already yields >= 2x-cores partitions
    * and this is a no-op with zero added exchanges. Round-robin
    * repartition — deterministic under retries (sortBeforeRepartition
    * stays on) and key-free, so it cannot introduce skew. Callers must
    * be row-order-insensitive above it (aggregates, joins, keyed
    * windows — NOT zipWithIndex-style global ranks). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedScanPartitions(df) >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  /** The scan split count the planner WOULD produce for `df`'s file
    * sources, estimated from file-index metadata (total bytes + file
    * count against the session's split sizing — the
    * `FilePartition.maxSplitBytes` formula). This replaces the old
    * `df.rdd.getNumPartitions` probe, which forced physical planning of
    * the whole subtree a second time on every fanned-out query. The
    * estimate only gates whether a round-robin repartition is added, so
    * an approximation is semantically free; non-file sources (rare at
    * the fanOut call sites, which sit directly over scans) fall back to
    * the planning probe. */
  private def plannedScanPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val rels = df.queryExecution.logical.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
    if (rels.isEmpty) return df.rdd.getNumPartitions
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val maxPB = conf.filesMaxPartitionBytes
    val minPart = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    sumScanPartitions(rels.map { r =>
      val sz = r.location.sizeInBytes
      // unknown/absurd size (e.g. Long.MaxValue sentinel): treat as big
      // — a big scan is already parallel, so fanOut must be a no-op
      if (sz < 0 || sz > (1L << 50)) Int.MaxValue / 4
      else {
        val total = sz + openCost * math.max(1, r.location.inputFiles.length)
        val bytesPerCore = total / math.max(1, minPart)
        val maxSplit = math.min(maxPB, math.max(openCost, bytesPerCore))
        math.max(1, math.ceil(total.toDouble / math.max(1L, maxSplit)).toInt)
      }
    })
  }

  /** Total of per-relation split counts, summed as `Long` and clamped to
    * `Int.MaxValue`: each unknown-size relation contributes an
    * `Int.MaxValue / 4` sentinel, and an `Int` sum of five of them
    * would overflow negative and make [[fanOut]] repartition a big scan. */
  private[graft] def sumScanPartitions(parts: Seq[Int]): Int =
    math.min(parts.map(_.toLong).sum, Int.MaxValue.toLong).toInt
}
