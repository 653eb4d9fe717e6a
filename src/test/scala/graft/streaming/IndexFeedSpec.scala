package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.functions.KMeans
import graft.operators.PartitionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The feed-maintained IVF index's contracts: maintained == rebuilt
  * (including the cluster-moving-update case a keyed upsert gets
  * wrong), replays absorb via version-aligned merges, probe-time
  * search prunes to the probed inverted lists, and a pre-images-off
  * feed fails loud instead of corrupting the index. */
class IndexFeedSpec extends SparkSpec {

  private def fresh(name: String): String =
    Files.createTempDirectory("idxfeed").toString + "/" + name

  /** 40 deterministic 4-dim vectors across 4 source partitions. */
  private def vecs = spark.range(40).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(3)), d =>
      ((col("id") * 7 + d * 13) % 19).cast("float")).as("embedding"),
    (col("id") % 4).cast("string").as("part"))

  private def buildSource(src: String): KMeans.Model = {
    val initial = vecs.filter(col("vec_id") % 10 =!= 0)
    PartitionedTable.commit(spark, src, initial, "part")
    KMeans.fit(initial, "embedding", "vec_id",
      k = 4, iters = 2, meanDecimals = 4, distDecimals = 6)
  }

  private def applyCdc(src: String): Unit = {
    val v = vecs
    PartitionedTable.merge(spark, src, // inserts
      v.filter(col("vec_id") % 10 === 0).withColumn("op", lit("upsert")),
      "vec_id", "part")
    PartitionedTable.merge(spark, src, // cluster-moving updates
      v.filter(col("vec_id") % 9 === 1)
        .withColumn("embedding", transform(col("embedding"), x => -x))
        .withColumn("op", lit("upsert")),
      "vec_id", "part")
    PartitionedTable.merge(spark, src, // deletes
      v.filter(col("vec_id") % 7 === 0).withColumn("op", lit("delete")),
      "vec_id", "part")
  }

  test("feed-maintained index equals a from-scratch rebuild through inserts, cluster moves, deletes") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(0L))
    val clustersBefore = PartitionedTable.read(spark, idx)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    applyCdc(src)
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(1L, 2L, 3L))

    val rebuilt = PartitionedTable.read(spark, src)
      .select(col("vec_id"),
        model.clusterOf(col("embedding"), 6).cast("long").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maintained = PartitionedTable.read(spark, idx)
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(maintained === rebuilt,
      "the maintained index must equal a frozen-model rebuild")
    // no key may appear in two inverted lists (the stale-row failure)
    assert(PartitionedTable.read(spark, idx).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0)
    // the negation updates really exercised the cluster-moving path
    val moved = maintained.keys.filter(k => k % 9 == 1 && k % 7 != 0)
      .count(k => clustersBefore.get(k).exists(_.toLong != maintained(k)))
    assert(moved > 0, "test vacuous: no update changed cluster")
    // index versions mirror source versions (the lag-readable contract)
    assert(PartitionedTable.latest(spark, idx) ===
      PartitionedTable.latest(spark, src))
  }

  test("replayed slices absorb: offset loss re-delivers, mergeAt no-ops, index identical") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    applyCdc(src)
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(0L, 1L, 2L, 3L))
    val before = PartitionedTable.read(spark, idx)
      .orderBy("vec_id").collect().toSeq
    val latestBefore = PartitionedTable.latest(spark, idx)

    val hfs = VersionedStore.fs(spark, ckpt)
    hfs.delete(new Path(ckpt, "offset"), false)
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(0L, 1L, 2L, 3L),
      "a lost offset must re-deliver every slice")
    assert(PartitionedTable.latest(spark, idx) === latestBefore,
      "replayed merges must not mint index versions")
    assert(PartitionedTable.read(spark, idx)
      .orderBy("vec_id").collect().toSeq === before)
  }

  test("search prunes to the probed inverted lists and matches exact math at full probe") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)

    val query = Seq(1.0, 2.0, 3.0, 4.0)
    val got = IndexFeed.searchIvf(spark, idx, model, query,
      nprobe = model.k, k = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // brute-force top-5 computed driver-side with the KERNEL's exact
    // IEEE operation order (norm² − 2·dot + ‖q‖², left folds from 0.0)
    // — bit-identical doubles, so even near-ties order identically
    val q2 = query.map(x => x * x).sum
    val exact = PartitionedTable.read(spark, idx)
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        val e = r.getSeq[Float](1)
        val dot = e.indices.foldLeft(0.0)((a, i) => a + e(i).toDouble * query(i))
        val nrm = math.sqrt(e.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
        (nrm * nrm - 2.0 * dot + q2, r.getLong(0))
      }.sortBy(identity).take(5).map(_._2).toSeq
    assert(got === exact, "full-probe search must equal exact brute force")

    // nprobe=1 reads exactly one inverted list's pinned dir
    val one = IndexFeed.searchIvf(spark, idx, model, query, nprobe = 1, k = 3)
    val lists = one.inputFiles.map(f =>
      f.split("/").find(_.startsWith("__part=")).getOrElse("?")).toSet
    assert(lists.size === 1, s"nprobe=1 must read one list, got $lists")

    // a pre-images-off feed op fails loud instead of corrupting
    import spark.implicits._
    val bad = Seq(("1", 1L, "update", Seq(1f, 2f, 3f, 4f)))
      .toDF("part", "vec_id", "op", "embedding")
    val ex = intercept[Exception] {
      IndexFeed.indexChanges(bad, model, "vec_id", "embedding", 6)
        .collect()
    }
    assert(ex.getMessage.contains("feed op") ||
      Option(ex.getCause).exists(_.getMessage.contains("feed op")))
  }

  test("the SQL front door: ann_search rebuilds the persisted quantizer and matches searchIvf; non-indexes fail loud") {
    val src = fresh("annsrc"); val ckpt = fresh("annckpt")
    val idx = fresh("annidx")
    val model = buildSource(src)
    applyCdc(src)
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)
    // the drain persisted the ann.* contract
    val props = PartitionedTable.propertiesOf(spark, idx)
    assert(props.contains("ann.centroids") &&
      props("ann.keycol") === "vec_id" &&
      props("ann.dist_decimals") === "6", props.keys.toSeq.sorted.toString)
    graft.sources.GraftCatalog.register(spark, "annt", "idx", idx,
      partCol = Some("cluster"))
    val q = Seq.tabulate(4)(i => (i * 3 % 7).toDouble)
    val viaScala = IndexFeed.searchIvf(spark, idx, model, q,
      nprobe = 2, k = 5, d2Decimals = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(r.fieldIndex("d2"))))
      .toSeq
    val viaSql = spark.sql(
      s"""CALL graft.system.ann_search(table => 'annt.idx',
         |query_vec => '${q.mkString(",")}', k => 5, nprobe => 2)"""
        .stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql === viaScala,
      s"SQL and Scala probes must agree: $viaSql vs $viaScala")
    // a table without the ann.* contract fails loud
    val plain = fresh("annplain")
    PartitionedTable.commit(spark, plain, vecs, "part")
    graft.sources.GraftCatalog.register(spark, "annt", "plain", plain,
      partCol = Some("part"))
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.ann_search(table => 'annt.plain', " +
        "query_vec => '1,2,3,4')").collect())
    assert(e.getMessage.contains("not an ANN index"), e.getMessage)
    // filter => pre-filters the probed candidates BEFORE the top-k
    // cut: k matching rows (the s16 semantic), identical to the Scala
    // filter leg
    val viaScalaF = IndexFeed.searchIvf(spark, idx, model, q,
      nprobe = 2, k = 5, d2Decimals = 6,
      filter = Some(col("vec_id") % 2 === 0))
      .collect().map(r => (r.getLong(0), r.getDouble(r.fieldIndex("d2"))))
      .toSeq
    val viaSqlF = spark.sql(
      s"""CALL graft.system.ann_search(table => 'annt.idx',
         |query_vec => '${q.mkString(",")}', k => 5, nprobe => 2,
         |filter => 'vec_id % 2 = 0')""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSqlF === viaScalaF && viaSqlF.size === 5,
      s"filtered SQL and Scala probes must agree: $viaSqlF vs $viaScalaF")
    assert(viaSqlF.forall(_._1 % 2 == 0), "every result matches the filter")
    assert(viaSqlF.map(_._1).toSet != viaSql.map(_._1).toSet,
      "sanity: the filter changed the candidate set (pre-filter, not post-cut)")
    // a wrong-dimension query fails loud, not wrong-answers
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.ann_search(table => 'annt.idx', " +
        "query_vec => '1,2,3')").collect())
    assert(e2.getMessage.contains("dims"), e2.getMessage)
    graft.sources.GraftCatalog.unregister("annt", "idx")
    graft.sources.GraftCatalog.unregister("annt", "plain")
  }

  test("probing only clusters with no inverted list returns an empty top-k, never a read failure") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)
    // empty one whole inverted list: delete every source row the frozen
    // model assigns to cluster 0 and drain — the index partition drops
    val victims = PartitionedTable.read(spark, src)
      .filter(model.clusterOf(col("embedding"), 6).cast("long") === 0L)
      .withColumn("op", lit("delete"))
    assert(victims.count() > 0, "test vacuous: cluster 0 was already empty")
    PartitionedTable.merge(spark, src, victims, "vec_id", "part")
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)
    assert(!PartitionedTable.partitionValues(spark, idx).contains("0"),
      "cluster 0's inverted list must have dropped from the manifest")

    // nprobe=1 at cluster 0's own centroid probes exactly the dead list
    val q0 = model.centroids(0).toSeq
    val empty = IndexFeed.searchIvf(spark, idx, model, q0, nprobe = 1, k = 5)
    assert(empty.count() === 0, "a valid query must return empty, not throw")
    assert(empty.columns.contains("d2") && empty.columns.contains("vec_id"),
      "the empty result must keep the search schema")
    // widening the probe past the dead list still finds neighbors
    assert(IndexFeed.searchIvf(spark, idx, model, q0,
      nprobe = model.k, k = 5).count() === 5)
  }

  test("a drain over three pending commits mints exactly one index version") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)
    assert(PartitionedTable.versions(spark, idx).sorted === Seq(0L))
    applyCdc(src)
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(1L, 2L, 3L))
    assert(PartitionedTable.versions(spark, idx).sorted === Seq(0L, 3L),
      "the three pending commits must land as one net index merge")
  }

  test("an interrupted drain replays from the latest index version, not the stale offset") {
    val src = fresh("src"); val idx = fresh("idx"); val ckpt = fresh("ckpt")
    val model = buildSource(src)
    def clusters(): Map[Long, Long] = PartitionedTable.read(spark, idx)
      .select(col("vec_id"), col("cluster").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IndexFeed.maintainIvf(spark, src, ckpt, idx, model, "vec_id", "part",
      distDecimals = 6)
    val atV0 = clusters()
    val v = vecs
    PartitionedTable.merge(spark, src, // v1: inserts
      v.filter(col("vec_id") % 10 === 0).withColumn("op", lit("upsert")),
      "vec_id", "part")
    PartitionedTable.merge(spark, src, // v2: cluster-moving updates
      v.filter(col("vec_id") % 9 === 1)
        .withColumn("embedding", transform(col("embedding"), x => -x))
        .withColumn("op", lit("upsert")),
      "vec_id", "part")
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(1L, 2L))
    val atV2 = clusters()
    val moved = atV2.keys.filter(k => atV0.get(k).exists(_ != atV2(k)))
      .toSeq.sorted
    assert(moved.size >= 2, s"test vacuous: too few cluster moves ($moved)")

    // the crash: the index merge for v2 landed, the offset write did not
    ChangeFeed.writeOffset(spark, ckpt, 0L)
    // v3 deletes one moved key and moves the others back (negated again)
    val (gone, back) = (moved.take(1), moved.drop(1))
    PartitionedTable.merge(spark, src,
      PartitionedTable.read(spark, src)
        .filter(col("vec_id").isin(moved: _*))
        .withColumn("embedding", transform(col("embedding"), x => -x))
        .withColumn("op", when(col("vec_id").isin(gone: _*), "delete")
          .otherwise("upsert")),
      "vec_id", "part")
    assert(IndexFeed.maintainIvf(spark, src, ckpt, idx, model,
      "vec_id", "part", distDecimals = 6) === Seq(1L, 2L, 3L))

    val rebuilt = PartitionedTable.read(spark, src)
      .select(col("vec_id"),
        model.clusterOf(col("embedding"), 6).cast("long").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters() === rebuilt,
      "the replayed index must equal a frozen-model rebuild")
    assert(back.forall(k => rebuilt(k) == atV0(k)) && !rebuilt.contains(gone.head))
    assert(PartitionedTable.read(spark, idx).groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0,
      "no key may sit in two inverted lists")
  }
}
