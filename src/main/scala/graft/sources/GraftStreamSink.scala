package graft.sources

import java.io.DataOutputStream

import graft.operators.PartitionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The lakehouse's STREAMING SINK: `df.writeStream.toTable("graft.db.t")`
  * — the write leg that closes the loop with the `graft-cdf` streaming
  * source, so a table can be BOTH ends of a streaming pipeline
  * (readStream one table → transform → writeStream another).
  *
  * Exactly-once rides the [[PartitionedTable.mergeStream]] tag
  * protocol: every micro-batch lands ONE library commit tagged
  * `stream=<queryId>;batch=<epochId>` (the queryId is Spark's
  * checkpoint-persisted streaming query id, stable across restarts),
  * and a restarted query re-offering a committed epoch finds its tag
  * and no-ops — the manifest rename is both the data commit and the
  * idempotence record, no separate sink ledger to drift. Batch writers
  * can interleave freely (the tag protocol exists precisely because
  * version-numbered exactly-once cannot coexist with them).
  *
  * Output modes:
  *  - **Append** → [[PartitionedTable.appendStream]] (keyless; MoR
  *    `_append` routing keeps a trickle of small batches from ever
  *    rewriting a large partition);
  *  - **Update** (`.option("upsert", "true")` required, table
  *    registered with `keyCol`) → [[PartitionedTable.mergeStream]]
  *    upserts by (partition, key) — a streaming aggregation maintains
  *    a keyed mirror table. Batches inherit mergeStream's pre-collapse
  *    contract (one row per key); when replicating a change feed, cap
  *    the source to one table version per batch
  *    (`maxversionsperbatch=1`) so per-commit key uniqueness carries
  *    through. The first batch onto an empty DDL-declared table
  *    bootstraps as a full commit;
  *  - **Complete** → [[PartitionedTable.commitStream]] full-snapshot
  *    versions (history keeps each complete for time travel).
  *
  * The `upsert` option is EXPLICIT rather than inferred from Update
  * mode because Spark hands Update-mode rows to a v2 sink through the
  * update-as-append contract — indistinguishable from Append at the
  * sink; a keyed table silently deduping an append-only stream would
  * lose rows, so the caller must say which semantic they mean.
  *
  * 100 TB posture: executors stream their batch slices to per-epoch
  * staging files on the table's filesystem (length-prefixed
  * UnsafeRows, the SQL row-level path's proven seam — nothing funnels
  * through the driver), the landing is the ordinary library write
  * (touched partitions only for upserts), and constraints / generated
  * columns / OCC apply exactly as for batch writers. A crash leaves
  * only a dot-tmp staging dir, inert to every reader. */
class GraftStreamingWrite(
    spec: GraftTableSpec, info: LogicalWriteInfo, truncate: Boolean)
    extends StreamingWrite {
  import scala.jdk.CollectionConverters._

  private val queryId = info.queryId()
  private val upsert =
    info.options.getBoolean("upsert", false)
  private val schema: StructType = info.schema()
  private val stagingRoot =
    s"${spec.dir}/.tmp-stream-$queryId"

  override def createStreamingWriterFactory(
      pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val confEntries = spark.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
    GraftStreamWriterFactory(stagingRoot, schema, confEntries)
  }

  private def epochDir(epochId: Long) = new Path(s"$stagingRoot/epoch-$epochId")

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val hfs = graft.streaming.VersionedStore.fs(spark, spec.dir)
    try {
      val tag = s"stream=$queryId;batch=$epochId"
      if (PartitionedTable.versionByTag(spark, spec.dir, tag).isDefined)
        return // restart redelivery of a committed epoch: no-op
      val paths = messages.collect {
        case GraftDeltaMessage(path, rows) if rows > 0 => path
      }
      if (paths.isEmpty) return // empty batch: no forged version
      val batch = GraftWrites.readStaged(spark, paths.toSeq, schema)
      // generated columns derive-and-validate exactly as batch SQL writes
      val (prepared, pc) = GraftWrites.prepare(spark, spec, batch)
      if (truncate)
        PartitionedTable.commitStream(spark, spec.dir, prepared, pc,
          queryId, epochId): Unit
      else if (upsert) {
        val key = spec.keyCol.getOrElse(throw new IllegalArgumentException(
          "graft sink: upsert streaming writes need the table registered " +
            "with its key column (register(..., keyCol = Some(...)))"))
        // first batch onto an empty (DDL-declared) table bootstraps as
        // a commit — there is nothing to merge against yet
        if (PartitionedTable.latest(spark, spec.dir).isEmpty)
          PartitionedTable.commitStream(spark, spec.dir, prepared, pc,
            queryId, epochId): Unit
        else {
          // keyed upserts into a GENERATED table inherit the batch
          // mergeLevels contract: a mid-stream spec evolution must not
          // let a batch shadow a pre-evolution partition — fail the
          // epoch loud (no-op on never-evolved tables)
          PartitionedTable.guardLevelShadow(spark, spec.dir, prepared)
          PartitionedTable.mergeStream(spark, spec.dir,
            prepared.withColumn("op", lit("upsert")), key, pc,
            queryId, epochId): Unit
        }
      } else
        PartitionedTable.appendStream(spark, spec.dir, prepared, pc,
          queryId, epochId): Unit
    } finally hfs.delete(epochDir(epochId), true): Unit
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    graft.streaming.VersionedStore.fs(spark, spec.dir)
      .delete(epochDir(epochId), true): Unit
  }
}

/** Executor-side streaming batch writer: plain table rows (no op
  * column), per-epoch staging so commit/abort clean exactly their
  * epoch. Speculative/retried tasks write distinct UUID-suffixed
  * files; only COMMITTED task messages are read back. */
case class GraftStreamWriterFactory(
    stagingRoot: String, schema: StructType,
    conf: Seq[(String, String)]) extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftStreamWriter(this, partitionId, taskId, epochId)
}

class GraftStreamWriter(
    f: GraftStreamWriterFactory, partitionId: Int, taskId: Long,
    epochId: Long) extends DataWriter[InternalRow] {
  private val path = new Path(
    s"${f.stagingRoot}/epoch-$epochId/rows-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID}.bin")
  private val proj = UnsafeProjection.create(f.schema)
  private val writeBuffer = new Array[Byte](4096)
  private var out: DataOutputStream = _
  private var count = 0L

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      val conf = new org.apache.hadoop.conf.Configuration(false)
      f.conf.foreach { case (k, v) => conf.set(k, v) }
      val fs = path.getFileSystem(conf)
      fs.mkdirs(path.getParent)
      out = new DataOutputStream(new java.io.BufferedOutputStream(
        fs.create(path, true)))
    }
    val u = proj(row)
    out.writeInt(u.getSizeInBytes)
    u.writeToStream(out, writeBuffer)
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) { out.close(); out = null }
    GraftDeltaMessage(path.toString, count)
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    if (out != null) {
      out.close()
      out = null
      val conf = new org.apache.hadoop.conf.Configuration(false)
      f.conf.foreach { case (k, v) => conf.set(k, v) }
      path.getFileSystem(conf).delete(path, false): Unit
    }
  }
}
