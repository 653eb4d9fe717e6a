package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels each component by its minimum vertex") {
    // two components: {1,2,3,4} (a path) and {10,11}; 20-21-22 a triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents converges on a long path within the bound") {
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(edges, maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(0L))
    assert(labels.size === 10)
  }

  test("large/small-star equals min-label propagation on mixed components") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L), (31L, 30L)).toDF("id_a", "id_b")
    val star = Dedup.largeSmallStarComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
  }

  test("large/small-star converges in O(log n) rounds where propagation needs the diameter") {
    // a 64-hop chain: propagation would need ~63 rounds; the star
    // alternation must finish inside 10 — the maxIters bound IS the
    // assertion, because non-convergence throws.
    val chain = (0L until 64L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val rows = Dedup.largeSmallStarComponents(chain, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val star = rows.toMap
    assert(star.size === 65 && star.values.toSet === Set(0L))
    // the multi-round fixpoint holds no duplicate (hi, lo) pair
    assert(rows.size === star.size, "duplicate member rows in the fixpoint")
  }

  test("large/small-star converges in round 0 on an input that is already a star forest") {
    // two stars rooted at their minimums: the initial edge set IS the
    // fixpoint, so one round must detect it — maxIters = 1 throws if
    // round 0 cannot compare against the initial set size
    val stars = Seq((2L, 1L), (3L, 1L), (4L, 1L), (11L, 10L), (12L, 10L))
      .toDF("id_a", "id_b")
    val rows = Dedup.largeSmallStarComponents(stars, maxIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // the fixpoint holds no duplicate (hi, lo) pair: one row per member
    assert(rows.size === rows.map(_._1).distinct.size,
      s"duplicate member rows in the star fixpoint: $rows")
    assert(rows.toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("large/small-star equals propagation on the fixture near-dup graph") {
    val edges = Dedup.embeddingPairs(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val star = Dedup.largeSmallStarComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(edges, maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star.nonEmpty)
  }

  test("semanticClusters: k-means-fitted assignment as a zero-join plan-literal projection") {
    // 16 well-separated stationary clusters: vec_ids 0..15 are scaled
    // one-hots (the fit's init picks exactly these), and each satellite
    // 100+i duplicates base i — so every per-cluster mean equals its
    // init centroid, Lloyd's loop is stationary, and the assignment is
    // fully predictable: base i and satellite 100+i land in cluster i.
    val dim = 16
    def axis(i: Int) = Array.tabulate(dim)(j => if (j == i) 4f else 0f)
    val rows = (0 until dim).map(i => i.toLong -> axis(i)) ++
      (0 until dim).map(i => (100L + i) -> axis(i))
    val asn = Dedup.semanticClusters(rows.toDF("vec_id", "embedding"))
    val m = asn.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0 until dim).forall(i => m(i.toLong) === i.toLong))
    assert((0 until dim).forall(i => m(100L + i) === i.toLong))
    // the scale claim: query-time assignment carries the fitted k×dim
    // centroids as plan LITERALS — no join, no exchange, pure projection
    val plan = asn.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"assignment should be a literal projection:\n$plan")
  }

  test("d12 drops the higher-id member of above-threshold in-cluster pairs and keeps the rest") {
    // Centroids 0..15 one-hot. Satellites: 100 = all-ones (cos 0.25 < tau
    // to its centroid 0, so the centroid itself never drops it), 101 =
    // ones with dim 15 zeroed (cos ~0.258 < tau to centroids, but cos
    // ~0.968 >= tau with 100 and both land in cluster 0) -> 101 drops,
    // 100 and all centroids keep.
    val dim = 16
    def oneHot(i: Int) = Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    val rows = (0 until dim).map(i => i.toLong -> oneHot(i)) ++ Seq(
      100L -> Array.fill(dim)(1f),
      101L -> Array.tabulate(dim)(j => if (j == dim - 1) 0f else 1f))
    val dir = java.nio.file.Files.createTempDirectory("d12spec").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val kept = graft.SparkEntry.queries("d12_semantic_dedup")(spark, dir)
      .collect().map(r => r.getLong(0)).sorted
    assert(kept.toSeq === ((0L until dim.toLong) :+ 100L))
  }

  test("d15 counts cross-document duplicated span starts, not within-document repeats") {
    val rows = Seq(
      1L -> "a b c d e f", // spans "a b c d e", "b c d e f"
      2L -> "a b c d e x", // shares "a b c d e" with doc 1 → 1 of 2 dup
      3L -> "z z z z z z z", // 3 starts of the same gram, one doc → df=1, no dups
      4L -> "short") // sub-n doc: single whole-text span, unique
    val dir = java.nio.file.Files.createTempDirectory("d15spec").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("d15_dupspan")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 0.5)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((3L, 0L, 0.0)),
      4L -> ((1L, 0L, 0.0))))
  }

  test("d16 removes exactly the cross-document duplicated spans and rebuilds byte-exact text") {
    val rows = Seq(
      1L -> "a b c d e f", // dup span "a b c d e" covers tokens 1-5 → only "f" survives
      2L -> "a b c d e x", // same dup span → only "x" survives
      3L -> "z z z z z z z", // within-doc repeats only (df=1) → untouched
      4L -> "short") // sub-n doc, unique whole-text span → untouched
    val dir = java.nio.file.Files.createTempDirectory("d16spec").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("d16_span_dedup_apply")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === Map(
      1L -> ((6L, 1L, "f")),
      2L -> ((6L, 1L, "x")),
      3L -> ((7L, 7L, "z z z z z z z")),
      4L -> ((1L, 1L, "short"))))
    // consistency with d15 on the real fixture: untouched docs are
    // exactly the zero-dup-span docs, and kept counts never exceed totals
    val real = "/root/testdata/sf0.001"
    val d16 = graft.SparkEntry.queries("d16_span_dedup_apply")(spark, real)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val d15 = graft.SparkEntry.queries("d15_dupspan")(spark, real)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(d16.keySet === d15.keySet)
    d16.foreach { case (id, (total, kept)) =>
      assert(kept <= total, s"doc $id kept $kept of $total")
      if (d15(id) == 0L) assert(kept === total, s"doc $id shrank with zero dup spans")
      else assert(kept < total, s"doc $id has dup spans but lost nothing")
    }
  }

  test("d18 bloom screen: zero false negatives, and the probe side is bounded by the filter size") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("d18_bloom_screen")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // The Bloom guarantee: membership NEVER misses — every exact dup hits.
    rows.foreach { case (id, hit, dup) =>
      if (dup == 1L) assert(hit === 1L, s"doc $id is an exact dup the bloom screen missed")
    }
    // The broadcast side is a set of bit positions in [0, 65536) — bounded
    // by m regardless of index size (the 100 TB contract).
    val docs = graft.Tables.documents(spark, dir)
    val bits = Dedup.bloomBits(docs.filter(col("doc_id") % 10 =!= 0))
      .collect().map(_.getLong(0))
    assert(bits.length <= 65536 && bits.forall(p => p >= 0 && p < 65536))
  }
}
