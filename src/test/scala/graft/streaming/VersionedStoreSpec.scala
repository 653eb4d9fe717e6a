package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The durability seam both streaming folds stand on: a crash mid-write
  * must never surface as a committed version, leftover temp state must
  * not block the retry, and commits must be first-writer-wins.
  */
class VersionedStoreSpec extends SparkSpec {

  test("a simulated crash mid-write leaves no committed version and does not block the retry") {
    val dir = Files.createTempDirectory("vstore").toString + "/store"
    val df = spark.range(5).select(col("id"))

    // simulate a crash: the temp dir exists (half-written), no rename
    df.write.parquet(s"$dir/.tmp-7")
    assert(VersionedStore.versions(spark, dir).isEmpty,
      "an unrenamed temp write is invisible")

    // the retry overwrites the leftover temp and commits atomically
    assert(VersionedStore.commit(spark, dir, 7L, df))
    assert(VersionedStore.versions(spark, dir) === Seq(7L))
    assert(spark.read.parquet(VersionedStore.path(dir, 7L).toString).count() === 5)

    // second delivery of the same batch: first-writer-wins, no rewrite
    assert(!VersionedStore.commit(spark, dir, 7L, spark.range(99).toDF("id")))
    assert(spark.read.parquet(VersionedStore.path(dir, 7L).toString).count() === 5,
      "the committed version is immutable under redelivery")

    // prune removes exactly the named versions
    assert(VersionedStore.commit(spark, dir, 8L, df))
    VersionedStore.prune(spark, dir, Seq(7L))
    assert(VersionedStore.versions(spark, dir) === Seq(8L))
  }

  test("a failed rename surfaces loudly instead of reporting a committed version") {
    val dir = Files.createTempDirectory("vstore").toString + "/store"
    val df = spark.range(3).select(col("id"))
    assert(VersionedStore.commit(spark, dir, 1L, df))

    // Block the rename target with a plain FILE named like the version
    // dir: versions() only lists directories, so the pre-check passes,
    // but the rename cannot land — the shape of losing the slot to
    // something unexpected. commit must NOT return true (the old bug:
    // callers then pruned prior versions believing their snapshot
    // landed); with no committed version to attribute the loss to, it
    // throws.
    val hfs = VersionedStore.fs(spark, dir)
    val blocked = VersionedStore.path(dir, 2L)
    hfs.create(blocked, false).close()
    val e = intercept[Exception] { VersionedStore.commit(spark, dir, 2L, df) }
    assert(e.getMessage.contains("refusing to continue") ||
      e.getMessage.toLowerCase.contains("rename"),
      s"unexpected failure shape: ${e.getMessage}")
    // the temp dir was cleaned up and version 1 is untouched
    assert(VersionedStore.versions(spark, dir) === Seq(1L))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(dir, ".tmp-2")))
  }

  test("marker mode: a half-copied non-atomic rename is invisible and the retry commits over it") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("vstore-marker").toString + "/store"
    VersionedStore.enableMarkerCommits(spark, dir)
    VersionedStore.enableMarkerCommits(spark, dir) // idempotent
    val df = spark.range(5).select(col("id"))

    assert(VersionedStore.commit(spark, dir, 0L, df))
    assert(VersionedStore.versions(spark, dir) === Seq(0L))
    val hfs = VersionedStore.fs(spark, dir)
    assert(hfs.exists(new Path(VersionedStore.path(dir, 0L), "_COMMITTED")),
      "marker mode writes the per-version marker last")

    // simulate an object store's non-atomic rename crashing mid-copy:
    // a PARTIAL version directory exists at the committed path (data
    // files present, no marker) — exactly what s3a's copy+delete
    // rename leaves behind
    spark.range(2).toDF("id").write.parquet(
      VersionedStore.path(dir, 1L).toString)
    assert(VersionedStore.versions(spark, dir) === Seq(0L),
      "a half-copied version without its marker must be invisible")

    // the retried commit clears the garbage and lands the real content
    assert(VersionedStore.commit(spark, dir, 1L, df))
    assert(VersionedStore.versions(spark, dir).sorted === Seq(0L, 1L))
    assert(spark.read.parquet(VersionedStore.path(dir, 1L).toString).count() === 5,
      "the committed content is the retry's, not the half-copy's")

    // redelivery of a marked version: first-writer-wins, immutable
    assert(!VersionedStore.commit(spark, dir, 1L, spark.range(99).toDF("id")))
    assert(spark.read.parquet(VersionedStore.path(dir, 1L).toString).count() === 5)

    // flipping an existing rename-committed store is refused
    val plain = Files.createTempDirectory("vstore-plain").toString + "/store"
    VersionedStore.commit(spark, plain, 0L, df)
    val e = intercept[IllegalArgumentException] {
      VersionedStore.enableMarkerCommits(spark, plain)
    }
    assert(e.getMessage.contains("fresh store"))
  }
}
