package graft.streaming

import graft.{QueryDef, Tables}
import graft.functions.{KMeans, VectorOps}
import graft.operators.{Dedup, PartitionedTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-feed-driven ANN index maintenance — the lakehouse substrate
  * and the similarity family composed: an IVF index over an embedding
  * table, kept current purely by SUBSCRIBING to the table's change
  * feed, never by rebuilding.
  *
  *  - the index is itself a [[PartitionedTable]] PARTITIONED BY CLUSTER
  *    id (the inverted lists ARE the partitions): a probe-time search
  *    resolves the manifest and reads only the probed clusters'
  *    pinned dirs — first-level skipping, zero corpus shuffle;
  *  - a drain's NET feed — the range diff of every pending source
  *    commit at once (pre-images on) — maps to index
  *    changes with a FROZEN quantizer: insert/update_post → upsert at
  *    the row's cluster, delete/update_pre → delete at the OLD
  *    image's cluster — so an update whose embedding moved between
  *    clusters lands as (delete old list, insert new list), the
  *    partition-key-change case a naive keyed upsert gets wrong, and
  *    one that stayed put collapses to a plain upsert inside the
  *    merge; any unexpected op fails loud (a pre-images-off feed
  *    would silently corrupt the index otherwise);
  *  - ONE index commit per drain: the net change lands via
  *    [[PartitionedTable.mergeAt]] with `id` = the source tip, so the
  *    index versions are a SUBSEQUENCE of the source versions — index
  *    version N reflects source version N exactly, and index lag is
  *    readable straight off the two manifests;
  *  - EXACTLY-ONCE by composition: the diff base is the later of the
  *    checkpoint offset and the latest index version, so a replay (a
  *    crash between the index commit and the offset write, a lost
  *    offset) is absorbed through the latest index version — it never
  *    re-applies a range the index already reflects, which would leave
  *    a stale row for a key that moved between clusters in between.
  *
  * 100 TB posture: a drain costs one diff over the partitions the
  * pending source commits touched (the feed contract) plus one index
  * merge that rewrites only the clusters receiving changes; a search
  * costs nprobe inverted lists. The corpus is never rescanned, reshuffled,
  * or reassigned — the frozen-quantizer trade every IVF index makes
  * until drift forces a refit (s29's drift report is the trigger).
  */
object IndexFeed {

  /** Map a change feed (pre-images ON) to IVF index changes:
    * (keyCol, embCol, cluster, op) with op ∈ upsert|delete. Fails loud
    * on any other feed op — in particular the collapsed `update` of a
    * pre-images-off feed, which carries no old image to delete. */
  private[streaming] def indexChanges(
      slice: DataFrame, model: KMeans.Model, keyCol: String, embCol: String,
      distDecimals: Int): DataFrame = {
    val cluster = model.clusterOf(col(embCol), distDecimals)
      .cast("long").cast("string").as("cluster")
    val mapped = when(col("op").isin("insert", "update_post"), "upsert")
      .when(col("op").isin("delete", "update_pre"), "delete")
      .otherwise(raise_error(concat(
        lit("IndexFeed: feed op must be insert|delete|update_pre|update_post" +
          " (pre-images on), got "), coalesce(col("op"), lit("NULL")))))
    slice.select(col(keyCol), col(embCol), cluster, mapped.as("op"))
  }

  /** Drain every not-yet-indexed commit of the table at `tableDir` into
    * the IVF index at `indexDir` as ONE net merge (see object doc for
    * the exactly-once contract). Returns the source versions processed
    * this drain: every version after the checkpoint offset. */
  def maintainIvf(
      spark: SparkSession,
      tableDir: String,
      checkpointDir: String,
      indexDir: String,
      model: KMeans.Model,
      keyCol: String,
      partCol: String,
      embCol: String = "embedding",
      distDecimals: Int = -1,
      startVersion: Long = -1L): Seq[Long] = {
    val offset = ChangeFeed.readOffset(spark, checkpointDir, startVersion)
    val vs = PartitionedTable.versions(spark, tableDir).sorted
    require(vs.nonEmpty, s"IndexFeed: no committed versions under $tableDir")
    val tip = vs.max
    val from = (offset +: PartitionedTable.latest(spark, indexDir).toSeq).max
    ChangeFeed.requireHorizon(vs, from, tableDir)
    if (from < tip)
      PartitionedTable.mergeAt(spark, indexDir,
        indexChanges(ChangeFeed.diff(spark, tableDir, keyCol, partCol,
          from, tip, preImages = true), model, keyCol, embCol, distDecimals),
        keyCol, "cluster", "op", id = tip): Unit
    val drained = vs.filter(_ > offset)
    if (drained.nonEmpty) ChangeFeed.writeOffset(spark, checkpointDir, tip)
    // persist the FROZEN quantizer + search contract as index table
    // properties (k × dim doubles — manifest bytes), so the SQL front
    // door (`CALL graft.system.ann_search`) can rebuild the model and
    // probe this index with no Scala in sight. Idempotent overwrite;
    // only after a drain that actually touched the index (a no-op
    // drain of an empty feed may precede the index's first commit).
    if (drained.nonEmpty || PartitionedTable.latest(spark, indexDir).isDefined)
      PartitionedTable.alterProperties(spark, indexDir, Map(
        "ann.centroids" ->
          Some(model.centroids.map(_.mkString(",")).mkString(";")),
        "ann.keycol" -> Some(keyCol),
        "ann.embcol" -> Some(embCol),
        "ann.dist_decimals" -> Some(distDecimals.toString)))
    drained
  }

  /** Query the maintained index: resolve the `nprobe` nearest inverted
    * lists DRIVER-side (centroids are k-sized), read exactly those
    * partitions' pinned dirs, score with the fused dot/norm kernels,
    * and TakeOrdered the top `k`. Exact within the probed lists; ties
    * break on the key for determinism.
    *
    * `filter` (optional) PRE-filters the probed candidates BEFORE the
    * top-k cut — the s16 semantic: the result is the k best MATCHING
    * rows of the probed lists, never a post-cut of an already-truncated
    * top-k (post-filtering returns < k whenever the filter is
    * selective). The predicate rides the same pinned-dir scan; raise
    * `nprobe` to recover recall when the filter can empty the best
    * cell. */
  def searchIvf(
      spark: SparkSession,
      indexDir: String,
      model: KMeans.Model,
      query: Seq[Double],
      nprobe: Int,
      k: Int,
      keyCol: String = "vec_id",
      embCol: String = "embedding",
      d2Decimals: Int = -1,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"bad search: nprobe=$nprobe k=$k")
    val probed = model.centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(identity).take(nprobe).map(_._2.toString).toSeq
    val q2 = query.map(x => x * x).sum
    val d2raw = VectorOps.norm(col(embCol)) * VectorOps.norm(col(embCol)) -
      lit(2.0) * VectorOps.dot(col(embCol), typedLit(query)) + lit(q2)
    // d2Decimals >= 0 rounds BEFORE the top-k order (ties then break on
    // the key) — the repo's standard decimal sync for oracle-gated
    // entries, where exact-vs-rounded boundary picks must agree
    // cross-engine; -1 keeps the exact kernel order
    val d2 = if (d2Decimals >= 0) round(d2raw, d2Decimals) else d2raw
    // a cluster that never received a vector has no inverted list —
    // probe only the lists the index manifest actually holds, and when
    // NONE of the probed clusters are live, a valid query returns an
    // empty, correctly-schemed top-k rather than a read failure
    val live = PartitionedTable.partitionValues(spark, indexDir).toSet
    val probedLive = probed.filter(live.contains)
    val scored =
      if (probedLive.isEmpty)
        PartitionedTable.read(spark, indexDir).withColumn("d2", d2).limit(0)
      else PartitionedTable.readPartitions(spark, indexDir, probedLive)
        .withColumn("d2", d2)
    val gated = filter.map(scored.filter).getOrElse(scored)
    gated.orderBy(col("d2"), col(keyCol)).limit(k)
  }

  /** Per-JVM scratch root (the [[ChangeFeed]] pattern). */
  private lazy val workDir: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-index-feed")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(d.toFile)
    }
    d
  }

  /** The s36/s37 fixture: the CDC-committed source (v0 + holdout
    * insert + cluster-moving updates + deletes), the frozen 8-cell
    * quantizer, and one fully DRAINED index for probe reads — built
    * once per data dir and reused across bench passes, so the timed
    * entries measure the OPERATOR (a drain, a probe), not the
    * 7-commit fixture build that used to drown the board row. */
  private case class Fix(store: String, idxDir: String, model: KMeans.Model)
  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[String, Fix]

  private def fixtureFor(s: SparkSession, dir: String): Fix =
    fixtures.synchronized {
      fixtures.getOrElseUpdate(dir, {
        val key = dir.replaceAll("[^A-Za-z0-9]", "_")
        val store = workDir.resolve(s"s36_src_$key").toString
        val idxDir = workDir.resolve(s"s36_idx_$key").toString
        val ckpt = workDir.resolve(s"s36_ckpt_$key").toString
        val hfs = VersionedStore.fs(s, store)
        Seq(store, idxDir, ckpt).foreach(p => hfs.delete(new Path(p), true))
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .withColumn("part", (col("vec_id") % 8).cast("string"))
        val initial = emb.filter(col("vec_id") % 10 =!= 0)
        PartitionedTable.commit(s, store, initial, "part") // v0
        val model = KMeans.fit(initial, "embedding", "vec_id",
          k = 8, iters = 2, meanDecimals = 4, distDecimals = 6)
        PartitionedTable.merge(s, store, // v1: insert the holdout
          emb.filter(col("vec_id") % 10 === 0)
            .withColumn("op", lit("upsert")),
          "vec_id", "part")
        PartitionedTable.merge(s, store, // v2: cluster-moving updates
          emb.filter(col("vec_id") % 9 === 1)
            .withColumn("embedding", transform(col("embedding"), x => -x))
            .withColumn("op", lit("upsert")),
          "vec_id", "part")
        PartitionedTable.merge(s, store, // v3: deletes
          emb.filter(col("vec_id") % 7 === 0)
            .withColumn("op", lit("delete")),
          "vec_id", "part")
        maintainIvf(s, store, ckpt, idxDir, model, "vec_id", "part",
          distDecimals = 6) // the probe entry's pre-drained index
        Fix(store, idxDir, model)
      })
    }

  /** s37's fixed 64-dim probe vector (same closed form in the oracle). */
  private[streaming] def probeQuery: Seq[Double] =
    Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)

  val defs: Seq[QueryDef] = Seq(
    // Feed-maintained IVF index, hash-gated: land embeddings minus the
    // ≡0-mod-10 holdout as a partitioned table (v0), fit the FROZEN
    // 8-cell quantizer on that corpus, then drive THREE CDC commits —
    // insert the holdout (v1), update ≡1 mod 9 to NEGATED vectors (v2,
    // the cluster-moving case), delete ≡0 mod 7 (v3) — and maintain
    // the index purely from the change feed. The gate aggregates the
    // FINAL INDEX per cluster (count + key checksum) against the
    // oracle's closed-form final state assigned through the unrolled
    // k-means CTEs, so an index that loses an event, leaves a moved
    // key's stale row in its old inverted list, resurrects a deleted
    // key, or drifts the quantizer breaks the hash. Replay idempotence
    // and probe-time pruning are spec'd in IndexFeedSpec.
    QueryDef.sql("s36_feed_ivf_maintain",
      s"""WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
         |${Dedup.kmeansCtes(8, 2, 4, 6, src = "idx")},
         |fin AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 9 = 1
         |              THEN list_transform(embedding, x -> -x)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 7 <> 0),
         |fd AS (
         |  SELECT f.vec_id, c.cid, ${Dedup.sqDistSql("f.embedding", "c.ce", 6)} AS d2
         |  FROM fin f, cent2 c),
         |asn AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(vec_id) AS BIGINT) AS key_sum
         |FROM asn GROUP BY cluster""".stripMargin) { (s, dir) =>
      // fixture (source commits + frozen model) is cached per dir; the
      // TIMED work is the operator itself — a from-scratch drain of all
      // four commits into a fresh index, landed as one net merge — so
      // the board row measures maintenance, not the fixture build
      val fix = fixtureFor(s, dir)
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idx2 = workDir.resolve(s"s36_drain_idx_$key").toString
      val ckpt2 = workDir.resolve(s"s36_drain_ckpt_$key").toString
      val hfs = VersionedStore.fs(s, idx2)
      Seq(idx2, ckpt2).foreach(p => hfs.delete(new Path(p), true))
      maintainIvf(s, fix.store, ckpt2, idx2, fix.model, "vec_id", "part",
        distDecimals = 6)
      PartitionedTable.read(s, idx2)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("key_sum"))
    },

    // Probe of the feed-maintained IVF index, hash-gated and timed
    // SEPARATELY from the drain (r12 punch list: the probe used to be
    // invisible inside s36's lifecycle row): against the fixture's
    // pre-drained index, resolve the nprobe=3 nearest inverted lists
    // driver-side and read ONLY those partitions' pinned dirs, fused
    // d2 kernel, top-10. The oracle re-derives the frozen quantizer
    // (unrolled k-means CTEs), assigns the FINAL corpus, picks the same
    // 3 lists by centroid distance, and computes the same rounded-d2
    // top-10 — so a probe that reads a stale index, resolves different
    // lists, or mis-ranks breaks the hash. d2 rounds to 6 decimals
    // BEFORE the top-k order on both sides (the repo's decimal sync),
    // ties on vec_id.
    QueryDef.sql("s37_feed_ivf_probe",
      s"""WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
         |${Dedup.kmeansCtes(8, 2, 4, 6, src = "idx")},
         |fin AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 9 = 1
         |              THEN list_transform(embedding, x -> -x)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 7 <> 0),
         |fd AS (
         |  SELECT f.vec_id, c.cid, ${Dedup.sqDistSql("f.embedding", "c.ce", 6)} AS d2
         |  FROM fin f, cent2 c),
         |asn AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1),
         |qv AS (SELECT list_transform(range(0, 64),
         |                i -> ((i * 37) % 19 - 9) / 10.0) AS e),
         |probed AS (
         |  SELECT c.cid FROM cent2 c, qv
         |  ORDER BY list_sum(list_transform(range(1, len(c.ce)+1),
         |             i -> (c.ce[i] - qv.e[i]) * (c.ce[i] - qv.e[i]))), c.cid
         |  LIMIT 3),
         |cand AS (
         |  SELECT f.vec_id, f.embedding FROM fin f
         |  JOIN asn a ON a.vec_id = f.vec_id
         |  JOIN probed p ON a.cluster = p.cid)
         |SELECT c.vec_id,
         |  round(list_sum(list_transform(range(1, len(c.embedding)+1),
         |          i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         |    - 2 * list_sum(list_transform(range(1, len(c.embedding)+1),
         |            i -> c.embedding[i]::DOUBLE * qv.e[i]))
         |    + list_sum(list_transform(range(1, len(qv.e)+1),
         |        i -> qv.e[i] * qv.e[i])), 6) AS d2
         |FROM cand c, qv
         |ORDER BY d2, c.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val fix = fixtureFor(s, dir)
      searchIvf(s, fix.idxDir, fix.model, probeQuery, nprobe = 3, k = 10,
        d2Decimals = 6)
        .select(col("vec_id"), col("d2"))
    },

    // The SAME probe through the SQL front door, hash-gated against
    // s37's exact oracle: register the fixture's drained index in the
    // catalog and run ONE `CALL graft.system.ann_search(...)` — the
    // procedure rebuilds the frozen quantizer from the index's
    // persisted ann.* properties (maintainIvf wrote them at drain
    // time), resolves the 3 nearest inverted lists driver-side, reads
    // only those pinned dirs, and returns the rounded-d2 top-10.
    // Reference users live in SQL (transformToSilver.py:105-112); this
    // entry proves the whole search stack needs no Scala. A divergence
    // anywhere — stale quantizer properties, wrong list resolution,
    // ranking drift through the string round-trip — breaks the hash
    // against the closed-form oracle.
    QueryDef.sql("s38_sql_ann_search",
      s"""WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
         |${Dedup.kmeansCtes(8, 2, 4, 6, src = "idx")},
         |fin AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 9 = 1
         |              THEN list_transform(embedding, x -> -x)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 7 <> 0),
         |fd AS (
         |  SELECT f.vec_id, c.cid, ${Dedup.sqDistSql("f.embedding", "c.ce", 6)} AS d2
         |  FROM fin f, cent2 c),
         |asn AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1),
         |qv AS (SELECT list_transform(range(0, 64),
         |                i -> ((i * 37) % 19 - 9) / 10.0) AS e),
         |probed AS (
         |  SELECT c.cid FROM cent2 c, qv
         |  ORDER BY list_sum(list_transform(range(1, len(c.ce)+1),
         |             i -> (c.ce[i] - qv.e[i]) * (c.ce[i] - qv.e[i]))), c.cid
         |  LIMIT 3),
         |cand AS (
         |  SELECT f.vec_id, f.embedding FROM fin f
         |  JOIN asn a ON a.vec_id = f.vec_id
         |  JOIN probed p ON a.cluster = p.cid)
         |SELECT c.vec_id,
         |  round(list_sum(list_transform(range(1, len(c.embedding)+1),
         |          i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         |    - 2 * list_sum(list_transform(range(1, len(c.embedding)+1),
         |            i -> c.embedding[i]::DOUBLE * qv.e[i]))
         |    + list_sum(list_transform(range(1, len(qv.e)+1),
         |        i -> qv.e[i] * qv.e[i])), 6) AS d2
         |FROM cand c, qv
         |ORDER BY d2, c.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val fix = fixtureFor(s, dir)
      val tbl = "s38_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.GraftCatalog.register(s, "lake", tbl, fix.idxDir,
        partCol = Some("cluster"))
      s.sql(
        s"""CALL graft.system.ann_search(table => 'lake.$tbl',
           |query_vec => '${probeQuery.mkString(",")}',
           |k => 10, nprobe => 3)""".stripMargin)
    },

    // FILTERED ANN through the same SQL front door, hash-gated: the
    // `filter` argument PRE-filters the probed candidates BEFORE the
    // top-k cut (the s16 semantic — the k best MATCHING rows of the
    // probed lists, never a post-cut that returns < k under a
    // selective filter). The oracle applies the identical predicate
    // inside the candidate set, so a post-cut implementation — or a
    // filter evaluated outside the probed lists — breaks the hash.
    QueryDef.sql("s39_sql_filtered_ann_search",
      s"""WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
         |${Dedup.kmeansCtes(8, 2, 4, 6, src = "idx")},
         |fin AS (
         |  SELECT vec_id,
         |         CASE WHEN vec_id % 9 = 1
         |              THEN list_transform(embedding, x -> -x)
         |              ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 7 <> 0),
         |fd AS (
         |  SELECT f.vec_id, c.cid, ${Dedup.sqDistSql("f.embedding", "c.ce", 6)} AS d2
         |  FROM fin f, cent2 c),
         |asn AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1),
         |qv AS (SELECT list_transform(range(0, 64),
         |                i -> ((i * 37) % 19 - 9) / 10.0) AS e),
         |probed AS (
         |  SELECT c.cid FROM cent2 c, qv
         |  ORDER BY list_sum(list_transform(range(1, len(c.ce)+1),
         |             i -> (c.ce[i] - qv.e[i]) * (c.ce[i] - qv.e[i]))), c.cid
         |  LIMIT 3),
         |cand AS (
         |  SELECT f.vec_id, f.embedding FROM fin f
         |  JOIN asn a ON a.vec_id = f.vec_id
         |  JOIN probed p ON a.cluster = p.cid
         |  WHERE f.vec_id % 2 = 0)
         |SELECT c.vec_id,
         |  round(list_sum(list_transform(range(1, len(c.embedding)+1),
         |          i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         |    - 2 * list_sum(list_transform(range(1, len(c.embedding)+1),
         |            i -> c.embedding[i]::DOUBLE * qv.e[i]))
         |    + list_sum(list_transform(range(1, len(qv.e)+1),
         |        i -> qv.e[i] * qv.e[i])), 6) AS d2
         |FROM cand c, qv
         |ORDER BY d2, c.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val fix = fixtureFor(s, dir)
      val tbl = "s38_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.GraftCatalog.register(s, "lake", tbl, fix.idxDir,
        partCol = Some("cluster"))
      s.sql(
        s"""CALL graft.system.ann_search(table => 'lake.$tbl',
           |query_vec => '${probeQuery.mkString(",")}',
           |k => 10, nprobe => 3, filter => 'vec_id % 2 = 0')""".stripMargin)
    }
  )
}
