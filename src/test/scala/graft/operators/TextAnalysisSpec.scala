package graft.operators

import graft.SparkSpec

/** Hand-computed fixtures for the corpus-model text operators (the rest of
  * the t-family is arithmetic the DuckDB oracle already pins bit-for-bit;
  * these two build a corpus-level model, so assert the math on a corpus
  * small enough to verify by hand). */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("taspec").toString
    Seq((1L, "a b a"), (2L, "a c"), (3L, "b b b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("t17: tf-idf = tf * (ln((N+1)/(df+1)) + 1), ranked per doc") {
    val rows = graft.SparkEntry.queries("t17_tfidf_keywords")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // N=3; df: a->2, b->2, c->1; idf(a)=idf(b)=ln(4/3)+1, idf(c)=ln(2)+1
    assert(rows((1L, "a")) === ((2.575364, 1L))) // tf 2, top of doc 1
    assert(rows((1L, "b")) === ((1.287682, 2L)))
    assert(rows((2L, "c")) === ((1.693147, 1L))) // idf beats tf-1 "a"
    assert(rows((2L, "a")) === ((1.287682, 2L)))
    assert(rows((3L, "b")) === ((3.863046, 1L)))
    assert(rows.size === 5)
  }

  test("t18: mean add-one bigram log-likelihood per doc") {
    val rows = graft.SparkEntry.queries("t18_bigram_lm_score")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // bigram counts: (a,b)=1 (b,a)=1 (a,c)=1 (b,b)=2; contexts a=2 b=3; V=3
    // doc1: ln(2/5), ln(2/6) -> mean -1.007452; doc2: ln(2/5); doc3: 2×ln(3/6)
    assert(rows(1L) === ((2L, -1.007452)))
    assert(rows(2L) === ((1L, -0.916291)))
    assert(rows(3L) === ((2L, -0.693147)))
  }

  test("t21 chunk geometry: full coverage, exact overlap, tail remainder (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val W = TextAnalysis.ChunkWin
    val S = TextAnalysis.ChunkStride
    // token counts around every boundary: 1, W-1, W, W+1, k*S edges, large
    val nGen = Gen.oneOf(Gen.choose(1, 2 * W), Gen.choose(1, 300),
      Gen.oneOf(1, W - 1, W, W + 1, S, 2 * S, 2 * S + W - 1, 2 * S + W, 2 * S + W + 1))
    val prop = Prop.forAll(nGen) { n =>
      val docs = Seq((0L, (0 until n).map(i => s"w$i"))).toDF("doc_id", "t")
      val chunks = TextAnalysis.chunked(docs)
        .orderBy("chunk_id")
        .collect()
        .map(r => (r.getLong(1), r.getString(2).split(" ").toSeq, r.getLong(3)))
      val expectedCnt = if (n <= W) 1 else (n - W + S - 1) / S + 1
      val covered = chunks.flatMap(_._2).toSet
      chunks.length == expectedCnt &&
        covered == (0 until n).map(i => s"w$i").toSet && // every token in >= 1 chunk
        chunks.forall { case (k, toks, len) =>
          len == toks.length && toks.headOption.contains(s"w${k * S}") &&
            len == math.min(W, n - k * S) // full windows, short tail
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("t26 caps each source at 15 by length; the rank-filter runs as a map-side group limit") {
    val d = java.nio.file.Files.createTempDirectory("t26spec").toString
    // big: 20 docs, lengths 100..2000 — cap must keep the 15 LONGEST
    // (400..2000); small: 3 docs, all kept. Equal-length tie inside big
    // (extra doc 99 duplicates length 2000) resolves by doc_id.
    val rows = (1L to 20L).map(i => (i, "big", i * 100L)) ++
      Seq((99L, "big", 2000L), (30L, "small", 5L), (31L, "small", 9L), (32L, "small", 7L))
    rows.toDF("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val df = graft.SparkEntry.queries("t26_source_caps")(spark, d)
    val got = df.collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    val big = got.keys.filter(_._1 == "big").map(_._2).toSet
    assert(big.size === 15)
    assert(!big.contains(6L), "length-600 doc must fall below the cap")
    // tie at n_chars=2000: doc 20 before doc 99 (doc_id tiebreak) — both kept
    assert(got(("big", 20L)) === 1L && got(("big", 99L)) === 2L)
    assert(got.keys.count(_._1 == "small") === 3)
    // the scale claim: rank<=cap is executed as WindowGroupLimit (each
    // task forwards at most 15 rows per source before the exchange)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("t30 raking: fitted cells hit BOTH uniform marginals and conserve mass") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("t30_mixture_raking")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val n = rows.map(_._3).sum.toDouble
    val nl = rows.map(_._1).distinct.size
    val ns = rows.map(_._2).distinct.size
    assert(rows.forall(_._4 > 0.0), "all fitted masses positive")
    assert(math.abs(rows.map(_._4).sum - n) / n < 1e-6, "total mass conserved")
    // IPF converges geometrically; 6 rounds lands ~1e-7 relative on this
    // fixture — 1e-4 is pure headroom, the claim is BOTH families at once
    rows.groupBy(_._1).foreach { case (lang, cs) =>
      assert(math.abs(cs.map(_._4).sum - n / nl) / (n / nl) < 1e-4, s"lang $lang marginal")
    }
    rows.groupBy(_._2).foreach { case (src, cs) =>
      assert(math.abs(cs.map(_._4).sum - n / ns) / (n / ns) < 1e-4, s"source $src marginal")
    }
  }

  test("t32 applied raking: the resampled corpus lands uniform per-lang mass; the heaviest cell keeps all") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables.documents(spark, d)
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val kept = graft.SparkEntry.queries("t32_raked_resample")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(kept.nonEmpty && kept.length < docs.length, "it actually downsamples")
    assert(kept.map(_._1).toSet.subsetOf(docs.map(_._1).toSet))
    // expected kept mass per lang is n/(nl·maxw) for EVERY lang — the
    // raked uniform marginal. Binomial noise at ~50 kept/lang on this
    // fixture is σ≈7; gate at ±35% of the cross-lang mean (≈2.5σ).
    val perLang = kept.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val mean = perLang.values.sum / perLang.size
    perLang.foreach { case (lang, k) =>
      assert(math.abs(k - mean) / mean < 0.35,
        s"lang $lang kept $k vs cross-lang mean $mean — marginal not uniform")
    }
    // the most-underrepresented (heaviest-weight) cell is the rate=1
    // anchor: every one of its docs must survive the gate
    val fitted = graft.SparkEntry.queries("t30_mixture_raking")(spark, d)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    val (anchor, anchorN, _) = fitted.maxBy { case (_, n0, f) => f / n0 }
    val anchorKept = kept.count(r => (r._2, r._3) == anchor)
    assert(anchorKept.toLong === anchorN,
      s"anchor cell $anchor must keep all $anchorN docs, kept $anchorKept")
    // and the dominant lang is downsampled hardest: its keep fraction is
    // the corpus minimum (en is 44% of this fixture)
    val totalLang = docs.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val fracs = perLang.map { case (l, k) => l -> k / totalLang(l) }
    val dominant = totalLang.maxBy(_._2)._1
    assert(fracs(dominant) === fracs.values.min,
      s"dominant lang $dominant keep-fraction ${fracs(dominant)} should be the minimum of $fracs")
  }

  test("t33 packing: offsets tile the stream exactly; chunk spans match the closed form") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.SparkEntry.queries("t33_sequence_packing")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // concat-then-chunk means offsets are gapless and overlap-free: each
    // doc starts exactly where its predecessor (in doc_id order) ended
    rows.sliding(2).foreach {
      case Array((_, n0, s0, _, _, _), (id1, _, s1, _, _, _)) =>
        assert(s1 === s0 + n0, s"doc $id1 offset must continue the stream")
      case _ =>
    }
    assert(rows.head._3 === 0L, "the stream starts at offset 0")
    val b = 512L
    rows.foreach { case (id, n, s, f, l, k) =>
      assert(f === s / b && l === (s + n - 1) / b && k === l - f + 1,
        s"doc $id chunk span")
      // worst case starts at offset b-1 within a sequence:
      // spans = floor((n + b - 2) / b) + 1
      assert(k >= 1 && k <= (n + b - 2) / b + 1,
        s"doc $id spans $k sequences for $n tokens")
    }
    // a doc longer than the budget must straddle (exists on this fixture)
    assert(rows.exists(_._6 > 1), "some doc straddles a sequence boundary")

    // the manifest view: every sequence but the stream's last is filled
    // to EXACTLY the budget (concat-then-chunk leaves no padding), the
    // last holds the remainder, and doc membership covers the stream
    val manifest = graft.SparkEntry.queries("t34_pack_manifest")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val totalToks = rows.map(_._2).sum
    assert(manifest.map(_._1).toSeq === (0L until manifest.length).toSeq,
      "sequence ids are dense from 0")
    manifest.init.foreach { case (sq, _, _, _, fill) =>
      assert(fill === b, s"seq $sq fill $fill != budget $b")
    }
    assert(manifest.last._5 === totalToks - b * (manifest.length - 1),
      "the last sequence holds exactly the remainder")
    assert(manifest.map(_._5).sum === totalToks, "fills cover every token once")
    // doc ranges chain: each sequence starts with its predecessor's last
    // doc (a straddle) or the next packed doc after it (doc_ids may gap)
    val nextDoc = rows.map(_._1).sliding(2).collect { case Array(a, c) => a -> c }.toMap
    manifest.sliding(2).foreach {
      case Array((_, _, _, lastDoc, _), (sq, _, firstDoc, _, _)) =>
        assert(firstDoc === lastDoc || nextDoc.get(lastDoc).contains(firstDoc),
          s"seq $sq doc range must continue from its predecessor")
      case _ =>
    }
  }

  test("t35 temperature mix: rates flatten the source distribution, anchored at the scarcest source") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.SparkEntry.queries("t35_temperature_mix")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // T=2 keep-rate is b/(z·sqrt(n)) capped at 1: strictly decreasing in
    // source size — bigger sources are downsampled harder
    val bySize = rows.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Array((sa, na, _, ra), (sb, nb, _, rb)) if na < nb =>
        assert(ra >= rb, s"rate($sa, n=$na)=$ra must be >= rate($sb, n=$nb)=$rb")
      case _ =>
    }
    // the scarcest source is the feasible-budget anchor: rate 1, keeps all
    val (s0, n0, k0, r0) = bySize.head
    assert(r0 === 1.0 && k0 === n0, s"anchor $s0 must keep all $n0 docs (rate $r0, kept $k0)")
    // kept counts track share·B within binomial noise: expected kept for
    // source s is rate·n = b/z·sqrt(n); gate each at ±4σ of binomial
    rows.foreach { case (s, n, k, r) =>
      val exp = r * n
      val sd = math.sqrt(n * r * (1 - r)).max(1.0)
      assert(math.abs(k - exp) <= 4 * sd + 1,
        s"source $s kept $k vs expected $exp (sd $sd)")
    }
  }

  test("t31 DSIR weights match a from-first-principles driver-side model") {
    val fdir = "/root/testdata/sf0.001"
    def tok(t: String): Seq[String] =
      t.trim.toLowerCase match { case "" => Nil; case s => s.split("\\s+").toSeq }
    val docs = graft.Tables.documents(spark, fdir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), tok(r.getString(2))))
    val all = docs.flatMap(_._3)
    val cr = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ct = docs.filter(_._2 == "src0").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (nr, nt, v) = (all.length.toLong, ct.values.sum, cr.size.toLong)
    def rnd(x: Double, p: Int) = BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lr = cr.map { case (t, c) =>
      t -> rnd(math.log((ct.getOrElse(t, 0L) + 1.0) / (nt + v))
        - math.log((c + 1.0) / (nr + v)), 12)
    }
    val expect = docs.filter(_._3.nonEmpty).map { case (id, _, ts) =>
      id -> ((ts.size.toLong, rnd(ts.map(lr).sum, 6)))
    }.toMap
    val got = graft.SparkEntry.queries("t31_dsir_weight")(spark, fdir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, (n, w)) =>
      assert(n === expect(id)._1, s"doc $id token count")
      assert(math.abs(w - expect(id)._2) < 1e-6, s"doc $id: got $w want ${expect(id)._2}")
    }
  }
  test("t29 broadcasts its per-document split only while the documents fit the broadcast threshold") {
    import org.apache.spark.sql.functions._
    // a small corpus whose docs share 5-word spans across splits
    val d = java.nio.file.Files.createTempDirectory("grafttdocs").toString
    spark.range(300).select(col("id").as("doc_id"),
      concat_ws(" ", lit("the quick brown fox"), (col("id") % 7).cast("string"),
        lit("jumps over the lazy dog"), col("id").cast("string")).as("text"))
      .write.parquet(s"$d/documents.parquet")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // t29 checkpoints the shingle table eagerly, so its join plan shows
    // only in that localCheckpoint's own execution
    def run(): (Seq[String], Seq[String]) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          if (f == "localCheckpoint") plans.add(qe.executedPlan.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        val rows = graft.SparkEntry.queries("t29_safe_split")(spark, d)
          .collect().map(_.toString).sorted.toSeq
        val deadline = System.nanoTime + 30L * 1000000000L
        while (plans.size < 2 && System.nanoTime < deadline) Thread.sleep(10)
        (rows, plans.toArray(Array.empty[String]).toSeq)
      } finally spark.listenerManager.unregister(l)
    }
    val (defaultRows, _) = run()
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (offRows, offPlans) =
      try run()
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val shingles = offPlans.filter(_.contains("Generate"))
    assert(shingles.nonEmpty, s"no shingle checkpoint plan captured: $offPlans")
    assert(shingles.forall(p => !p.contains("Broadcast")),
      s"broadcasting is off, yet the split was broadcast:\n${shingles.mkString("\n")}")
    assert(offRows === defaultRows)
  }
}
