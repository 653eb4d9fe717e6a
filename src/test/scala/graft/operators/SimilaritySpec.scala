package graft.operators

import graft.SparkSpec
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** The s-queries are hash-gated against DuckDB end-to-end; this spec pins
  * the PQ ADC operator (s10) against a from-first-principles Scala model
  * (codes → codebook means → query distance tables → table-lookup scores)
  * and the search plan's shape (pure broadcast lookups, no corpus-side
  * sort-merge machinery).
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("s10 PQ ADC matches a first-principles model and plans as broadcast lookups") {
    // deterministic 64-dim fixture: values in [-1, 1), no RNG state
    def vec(id: Int): Array[Float] =
      Array.tabulate(64)(d => (((id * 131 + d * 31 + 7) % 97) / 48.5 - 1.0).toFloat)
    val n = 24
    val rows = (0 until n).map(i => i.toLong -> vec(i))
    val dir = java.nio.file.Files.createTempDirectory("s10spec").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    // --- model ---
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bucket(sub: Array[Float]): Long =
      (0 until 4).map { p =>
        val h = VectorOps.hyperplane(p, 32)
        val proj = sub.indices.foldLeft(0.0)((acc, i) => acc + sub(i).toDouble * h(i))
        if (proj > 0) 1L << p else 0L
      }.sum
    val subs = rows.map { case (id, v) => (id, v.take(32), v.drop(32)) }
    val coded = subs.map { case (id, s1, s2) => (id, s1, s2, bucket(s1), bucket(s2)) }
    def codebook(sel: ((Long, Array[Float], Array[Float], Long, Long)) => (Long, Array[Float]))
        : Map[Long, Array[Double]] =
      coded.map(sel).groupBy(_._1).map { case (c, ms) =>
        c -> Array.tabulate(32)(d => round6(ms.map(_._2(d).toDouble).sum / ms.size))
      }
    val cb1 = codebook(t => (t._4, t._2))
    val cb2 = codebook(t => (t._5, t._3))
    val (qs1, qs2) = (subs.head._2, subs.head._3)
    def dt(cb: Map[Long, Array[Double]], q: Array[Float]): Map[Long, Double] =
      cb.map { case (c, cv) =>
        c -> round6(q.indices.foldLeft(0.0)((acc, i) => acc + q(i).toDouble * cv(i)))
      }
    val (t1, t2) = (dt(cb1, qs1), dt(cb2, qs2))
    val expected = coded.drop(1)
      .map { case (id, _, _, c1, c2) => (id, c1, c2, round6(t1(c1) + t2(c2))) }
      .sortBy { case (id, _, _, adc) => (-adc, id) }
      .take(10)

    // --- engine ---
    val df = graft.SparkEntry.queries("s10_pq_adc")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expected)

    // AQE toString prints Final + Initial plans; scope to the final one
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("s16 pre-filters: full k results, all satisfying the predicate") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("s16_filtered_ann")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the pre-filter property: a post-filter of an unfiltered top-10
    // would surface however many evens happened to rank — typically < k;
    // pushing the predicate into the cell scan always fills k (the
    // filtered candidate pool in 2 cells is far larger than 10)
    assert(rows.length === 10, rows.mkString(","))
    assert(rows.forall { case (id, _) => id % 2 == 0 && id != 0 }, rows.mkString(","))
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq, "descending cosine")
  }

  test("s17 kNN graph: <=4 ranked neighbors per vector, no duplicate pairs; rank cut is a map-side group limit") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("s17_knn_graph")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // cross-band dedup: a pair found by both LSH bands appears once
    assert(got.map(e => (e._1, e._2)).distinct.length === got.length, "duplicate edges")
    val byVec = got.groupBy(_._1)
    assert(byVec.nonEmpty)
    byVec.foreach { case (v, es) =>
      assert(es.length <= 4, s"vec $v has ${es.length} neighbors")
      assert(es.map(_._4).sorted.toSeq === (1L to es.length).toSeq, s"ranks of $v")
      assert(es.forall(_._2 != v), s"self-edge at $v")
      // ranks follow (cos desc, nbr) exactly
      val ordered = es.sortBy(e => (-e._3, e._2)).map(_._4).toSeq
      assert(ordered === (1L to es.length).toSeq, s"rank order of $v")
    }
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("s22 graph search: recall@10 vs brute force clears 0.5 on the corpus the walk explores ~5% of") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("s22_graph_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === 10, s"expected a full top-10, got ${got.length}")
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq, "descending cosine")
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val hits = got.map(_._1).toSet.intersect(exact).size
    // 7/10 on this fixture; the gate at 5 allows fixture regeneration
    // drift without letting the walk degenerate to bucket-probe recall
    // (2/10 here). A beam of 32 over 10 rounds of 8 expansions scores
    // ~100 of 500 vectors; brute force scores all 500.
    assert(hits >= 5, s"recall@10 = $hits/10")
  }

  test("s33: every dimension's max reconstruction error respects the half-step quantization bound") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("s33_quant_error")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length === 64, "one audit row per dimension")
    rows.foreach { case (dim, mn, mx, maxErr, totalErr) =>
      assert(mx >= mn, s"dim $dim bounds")
      // round-to-nearest uint8 over in-range values cannot err by more
      // than half a step (+ the 12-dp error quantization itself)
      val halfStep = (mx - mn) / 255 / 2
      assert(maxErr <= halfStep + 1e-9, s"dim $dim max_err $maxErr > half-step $halfStep")
      assert(totalErr >= maxErr - 1e-9, s"dim $dim total under max")
    }
  }

  test("s18 upsert: every vector lands in a cell; the ingest path joins nothing") {
    val dir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("s18_ivf_upsert")(spark, dir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = graft.Tables.embeddings(spark, dir).count()
    assert(rows.map(t => t._2 + t._3).sum === total, "index + delta counts cover the corpus")
    assert(rows.map(_._3).sum > 0, "the delta batch is non-empty")
    // the maintenance claim: after the (already-collected) fit, folding
    // the delta in is a pure projection + one tiny agg — no join anywhere
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), plan)
  }

  test("walk collects are capped: over the cap raises a named error, at the cap passes") {
    val df = spark.range(6).toDF("id")
    assert(Similarity.collectCapped(df, "probe", cap = 6).length === 6)
    val e = intercept[IllegalStateException] {
      Similarity.collectCapped(df, "probe", cap = 5)
    }
    assert(e.getMessage.contains("probe") && e.getMessage.contains("cap of 5 rows"),
      e.getMessage)
    assert(Similarity.WalkCollectCap === 1000000)
  }

  test("s23 batched walk: full ranked top-10 per query, no query vectors in results") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("s23_batch_graph_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, es) =>
      assert(es.length === 10, s"query $q returned ${es.length}")
      assert(es.map(_._3).sorted.toSeq === (1L to 10L), s"ranks of $q")
      assert(es.forall(_._2 >= 5), s"query $q surfaced a query vector")
      val ordered = es.sortBy(_._3).map(_._4)
      assert(ordered.toSeq === ordered.sortBy(-_).toSeq, s"cos order of $q")
    }
  }

  test("s24 BM25 matches a from-first-principles driver model") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("s24_bm25")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

    // Independent model straight from the Robertson formula over the raw
    // fixture text — same tokenizer contract as Exprs.tokens.
    def tok(t: String): Seq[String] =
      t.trim.toLowerCase match { case "" => Nil; case s => s.split("\\s+").toSeq }
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tok(r.getString(1))).toMap
    val query = docs(0L).distinct
    val corpus = docs.removed(0L).filter(_._2.nonEmpty)
    val n = corpus.size
    val avgdl = corpus.values.map(_.size.toLong).sum.toDouble / n
    def rnd(x: Double, p: Int) = BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idf = query.map { t =>
      val df = corpus.values.count(_.contains(t))
      t -> math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    val scores = corpus.map { case (id, ts) =>
      val dl = ts.size
      id -> rnd(query.flatMap { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) None
        else Some(rnd(idf(t) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 12))
      }.sum, 6)
    }.filter(_._2 != 0.0)
    val expect = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)

    assert(got.length === 10)
    got.zip(expect).foreach { case ((gid, gs), (eid, es)) =>
      assert(gid === eid && math.abs(gs - es) < 1e-6, s"got ($gid,$gs) want ($eid,$es)")
    }
  }

  test("s26: packed-bigint Hamming equals the dim-wise sign-mismatch count on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val sig = emb.select(col("vec_id"), col("embedding"),
      expr("""aggregate(
             |  transform(embedding, (x, i) -> IF(x > CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
             |  CAST(0 AS BIGINT), (a, b) -> a + b)""".stripMargin).as("sig"))
    val q = sig.filter(col("vec_id") === 0)
      .select(col("sig").as("qsig"), col("embedding").as("qe"))
    val both = sig.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr("CAST(bit_count(sig ^ qsig) AS BIGINT)").as("packed"),
        aggregate(
          zip_with(col("embedding"), col("qe"),
            (a, b) => when((a > 0.0) =!= (b > 0.0), 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("dimwise"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"vec ${r.getLong(0)}: packed ${r.getLong(1)} != dimwise ${r.getLong(2)}")
    }
  }

  test("s27 MMR: picks are distinct top-20 members, round 1 is the relevance argmax, later rounds are penalty-bounded") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("s27_mmr_rerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(got.map(_._2).distinct.length === 5)

    val emb = graft.Tables.embeddings(spark, dir)
    val qe = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val cand = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cosq"))
      .orderBy(col("cosq").desc, col("vec_id")).limit(20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.forall(p => cand.contains(p._2)), "every MMR pick must come from the top-20 candidates")
    def rnd6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val best = cand.toSeq.map { case (id, c) => (rnd6(0.7 * c), id) }
      .sortBy { case (s, id) => (-s, id) }.head
    assert(got.head._2 === best._2 && got.head._3 === best._1,
      "round 1 must be the pure-relevance argmax")
    // rank >= 2: recompute score = round(0.7·cosq − 0.3·max_{s∈picked} cos, 6)
    // from first principles (penalty can be NEGATIVE — anti-correlated
    // picks raise the marginal score, which is MMR working as intended).
    val vecs = emb.filter(col("vec_id").isin(got.map(_._2): _*))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      rnd6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    got.tail.foreach { case (r, id, s) =>
      val pen = got.takeWhile(_._1 < r).map(p => cos(vecs(id), vecs(p._2))).max
      val want = rnd6(0.7 * cand(id) - 0.3 * pen)
      assert(math.abs(s - want) < 1e-6, s"rank $r pick $id: got $s want $want (pen $pen)")
    }
  }
}
