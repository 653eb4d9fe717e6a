package graft.streaming

import graft.operators.PartitionedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming MERGE: a CDC changelog applied to a partition-scoped
  * [[graft.operators.PartitionedTable]] as batches ARRIVE — the
  * streaming counterpart of the batch
  * [[graft.operators.PartitionedTable.merge]].
  *
  * Each micro-batch is gated by the optional expectations, collapsed
  * to last-wins per (partition, key) WITHIN the batch (ordered by
  * `orderCols`), and landed through [[PartitionedTable.mergeAt]] — the
  * one merge core — which rewrites ONLY the touched partitions and
  * commits the manifest at the batch id:
  *
  *  - exactly-once APPLY under at-least-once delivery: a retried batch
  *    merges against the newest manifest OLDER than its id and no-ops
  *    if its own manifest already landed — a redelivered changelog
  *    batch can never double-apply or resurrect a deleted key;
  *  - a crash mid-merge leaves only orphan store versions; the prior
  *    manifest stays the newest committed version;
  *  - after each committed batch the table vacuums to a 2-manifest
  *    horizon, which keeps the batch's pre-merge manifest for a retry
  *    of the same id and for the CDC feed.
  *
  * Cross-batch ordering is commit order (batches apply in arrival
  * order); within a batch, `orderCols` decides.
  */
object MergeStreams {

  /** Relay changelog files from `sourceDir` into the merge fold at
    * `tableDir`. `changes` rows carry the table's columns plus
    * `opCol` ∈ {"upsert", "delete"} (any other value fails the batch
    * loudly — a typo'd op must not silently delete); `orderCols` break
    * last-wins ties within a batch (make them total, e.g. a change
    * sequence number). Blocks until the AvailableNow drain finishes. */
  def mergeMaintain(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tableDir: String,
      checkpointDir: String,
      keyCol: String,
      partCol: String,
      opCol: String,
      orderCols: Seq[String],
      expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      quarantineDir: Option[String] = None,
      compactTargetBytes: Option[Long] = None,
      feedSink: Option[(DataFrame, Long) => Unit] = None,
      statsCols: Seq[String] = Nil): Unit = {
    val q = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch.sparkSession, tableDir, batch, id,
          keyCol, partCol, opCol, orderCols, expectations, quarantineDir,
          compactTargetBytes, feedSink, statsCols)
      }
      .start()
    q.awaitTermination()
  }

  /** One (possibly retried) micro-batch of the merge fold.
    * Package-visible so the spec can drive duplicate deliveries.
    *
    * Expectations gate BEFORE the collapse: an upsert violating a rule
    * is quarantined and never participates — an earlier clean change
    * for the same key wins the collapse instead. Deletes carry no data
    * and pass ungated. Quarantined rows (with their per-rule `violated`
    * tags) commit as version `id` of the quarantine [[VersionedStore]],
    * so a redelivered batch never double-quarantines.
    *
    * A registered `feedSink` receives the pre-image change feed between
    * the batch's pre-merge manifest and its own — untouched partitions
    * are never scanned. A redelivered batch recomputes it from the same
    * manifest pair, so the sink sees byte-identical rows: make it
    * idempotent per batch id. With no sink the feed is never computed. */
  private[streaming] def mergeBatch(
      spark: SparkSession,
      tableDir: String,
      batch: DataFrame,
      id: Long,
      keyCol: String,
      partCol: String,
      opCol: String,
      orderCols: Seq[String],
      expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      quarantineDir: Option[String] = None,
      compactTargetBytes: Option[Long] = None,
      feedSink: Option[(DataFrame, Long) => Unit] = None,
      statsCols: Seq[String] = Nil): Unit = {
    val gated =
      if (expectations.isEmpty) batch
      else {
        val qDir = quarantineDir.getOrElse(throw new IllegalArgumentException(
          "mergeBatch: expectations require a quarantineDir"))
        // null-safe split (<=>): a NULL op must fall through to the
        // fail-loud op validation in the merge, not vanish between two
        // null-filtering predicates
        val (clean, dirty) = graft.operators.Expectations.split(
          batch.filter(col(opCol) <=> "upsert"), expectations)
        VersionedStore.commit(spark, qDir, id, dirty.localCheckpoint(true)): Unit
        clean.unionByName(batch.filter(!(col(opCol) <=> "upsert")))
      }
    val w = Window.partitionBy(partCol, keyCol)
      .orderBy(orderCols.map(col(_).desc): _*)
    val collapsed = gated
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").drop(orderCols: _*)
    if (PartitionedTable.mergeAt(
        spark, tableDir, collapsed, keyCol, partCol, opCol, id,
        statsCols = statsCols)) {
      // 2-manifest horizon: keeps this batch's pre-merge version, which
      // both a retry of THIS id and the feed below resolve against
      PartitionedTable.vacuum(spark, tableDir, keep = 2): Unit
      // in-place fold only — compactPartitions would mint a manifest at
      // latest+1, occupying the NEXT batch's id and swallowing it. The
      // fold re-stages each flagged version's stats sidecar atomically
      // with the rewritten layout (statsCols, or the existing sidecar's
      // columns), so a streaming-maintained table keeps file skipping.
      compactTargetBytes.foreach(t =>
        PartitionedTable.compactPartitionsInPlace(spark, tableDir, t,
          statsCols = statsCols): Unit)
    }
    feedSink.foreach { sink =>
      val prior = PartitionedTable.versions(spark, tableDir).filter(_ < id).maxOption
      // A no-op micro-batch (empty source file, everything quarantined,
      // all-null partition values) commits a manifest identical to its
      // predecessor — or an EMPTY manifest on the first batch. The feed
      // is then provably empty; ChangeFeed.diff cannot shape it from an
      // empty partition mapping, so derive the feed's schema from the
      // collapsed batch instead.
      val unchanged = prior match {
        case Some(p) => PartitionedTable.changedPartitions(spark, tableDir, p, id).isEmpty
        case None => PartitionedTable.manifest(spark, tableDir, id).isEmpty
      }
      def emptyFeed: DataFrame = {
        val t = collapsed.drop(opCol).limit(0)
        val payload = t.columns.toSeq
          .filterNot(c => c == keyCol || c == partCol)
        t.select(Seq(col(partCol), col(keyCol),
          lit("insert").as("op")) ++ payload.map(col): _*)
      }
      val feed =
        if (unchanged) emptyFeed
        else ChangeFeed.diff(spark, tableDir, keyCol, partCol,
          prior.getOrElse(-1L), id, preImages = true)
      sink(feed.localCheckpoint(true), id)
    }
  }
}
