package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{Exprs, KMeans, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the LLM-training-pipeline surface: exact content dedup, MinHash+LSH
  * near-dup candidate generation, verified n-gram Jaccard, SimHash
  * signatures, and embedding-cosine near-dup via random-hyperplane LSH.
  *
  * Scale design (the point, per the 100 TB posture):
  *   - nothing is ever all-pairs: candidate pairs come only from joining
  *     within (band, signature) LSH buckets, so work is proportional to
  *     actual collisions, not N^2;
  *   - degenerate mega-buckets (boilerplate corpora: millions of docs
  *     sharing one shingle set and thus one signature) are CAPPED at
  *     [[MaxBucketSize]] — oversized buckets never pair-expand, and the
  *     drop is surfaced as a named `observe` metric in the same pass
  *     (zero extra jobs). The cap is part of the operator's SPEC: the SQL
  *     oracle applies the identical bound, so capped and oracle outputs
  *     agree at every scale, not just while no bucket happens to overflow;
  *   - every hash is derived from `md5` hex (fixed-width lowercase hex
  *     compares lexicographically in numeric order, so `array_min` over hex
  *     == numeric minhash) — bit-for-bit reproducible by the SQL oracle;
  *   - signatures/buckets are computed in a single projection pass over the
  *     corpus (no shuffle until the bucket join), and the bucket join
  *     shuffles on high-cardinality (band, key).
  *
  * Reference knows only exact row identity (max(index) watermarking,
  * `/root/reference/mnt/airflow/dags/scripts/ingestToBronze.py:61`); the
  * near-dup family is the capability extension the north-star asks for.
  */
object Dedup {

  private val K = 8 // minhash functions
  private val B = 4 // LSH bands (rows per band r = K/B = 2)

  /** Degenerate-LSH-bucket guard: a (band, key) bucket holding more than
    * this many rows is dropped from pair expansion instead of exploding
    * O(n²) pairs out of one executor-resident `collect_list`. A bucket
    * this size is not "near-duplicate content" in any useful sense — it is
    * boilerplate/empty-document collapse, which exact dedup (d01/d06)
    * already handles at O(n). Oversized buckets are counted in the
    * `lsh_bucket_guard` / `embedding_bucket_guard` observed metrics so the
    * drop is visible to operators, and the oracle SQL applies the same
    * bound (the cap is the spec, not an approximation of it). */
  private[operators] val MaxBucketSize = 1000

  /** Bloom-filter geometry shared by the d18 batch screen, its DuckDB
    * oracle (which hardcodes the same m and k — change together), and
    * the streaming fold ([[graft.streaming.CorpusStreams.bloomMaintain]]). */
  private[graft] val BloomM = 65536
  private[graft] val BloomK = 3

  /** The k deterministic bit positions of a text value, in [0, BloomM):
    * 12 hex chars of a salted md5 → BIGINT, identically derivable in SQL
    * (`('0x' || substr(md5(j || ':' || text), 1, 12))::BIGINT % m`). */
  private[graft] def bloomPositions(text: Column): Column =
    array((0 until BloomK).map { j =>
      conv(substring(md5(concat(lit(s"$j:"), text)), 1, 12), 16, 10)
        .cast("long") % BloomM
    }: _*)

  /** The set-bit table of a document set — AT MOST BloomM rows (8 KB as
    * a bitmap) no matter how large `docs` is, which is what makes the
    * probe side a broadcast at any corpus scale. */
  def bloomBits(docs: DataFrame): DataFrame =
    docs.select(explode(bloomPositions(col("text"))).as("p")).distinct()

  /** (doc_id, bloom_hit): hit iff ALL k of the doc's positions are set —
    * no false negatives by construction; false positives are the m/k/n
    * trade the caller sized. */
  def bloomProbe(incoming: DataFrame, bits: DataFrame): DataFrame =
    incoming.select(col("doc_id"), explode(bloomPositions(col("text"))).as("p"))
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("p"), "left")
      .groupBy("doc_id")
      .agg(when(count(col("hit")) === BloomK, 1L).otherwise(0L).as("bloom_hit"))

  /** Screen an incoming batch against an existing corpus index with zero
    * corpus×corpus work — the d14 operator body, factored so the batch
    * query and the streaming relay ([[graft.streaming.CorpusStreams]])
    * run the SAME screening per incoming slice. Exact membership is one
    * content-hash semi-probe; near-dup candidates join the batch's LSH
    * bands against the (capped, observed) index bands, bounding the
    * per-doc fan-out at B×cap. `incoming`/`index` need (doc_id, text). */
  def screenAgainstIndex(incoming: DataFrame, index: DataFrame): DataFrame = {
    val exact = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(index.select(md5(col("text")).as("h")).distinct()
        .withColumn("hit", lit(1L)), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("hit").isNotNull, 1L).otherwise(0L).as("is_exact_dup"))
    val idxBands = bandedFrom(minhashedFrom(shingled(index)))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bkey")))
      .observe("incremental_index_guard",
        coalesce(sum(when(col("bn") > MaxBucketSize, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("rows_in_overflow_buckets"),
        coalesce(max("bn"), lit(0L)).as("max_bucket_rows"))
      .filter(col("bn") <= MaxBucketSize)
      .select(col("band"), col("bkey"), col("doc_id").as("idx_id"))
    val near = bandedFrom(minhashedFrom(shingled(incoming)))
      .join(idxBands, Seq("band", "bkey"))
      .groupBy("doc_id").agg(countDistinct("idx_id").as("n_neardup"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
  }

  /** doc_id + distinct bigram shingles of the lower-cased text.
    * fanOut: the tokenize+shingle projection is the d-family's hot
    * loop and runs BEFORE any exchange — over the single-row-group
    * fixture files the whole pass would execute on one core (guide
    * §2.5 input skew); a production multi-row-group layout makes the
    * fan-out a no-op. Everything downstream aggregates or joins, so
    * row order is free. */
  private[operators] def shingled(docs: DataFrame): DataFrame =
    Tables.fanOut(docs).select(
      col("doc_id"),
      Exprs.wordShingles(Exprs.tokens(col("text")), 2).as("sh"))

  /** (doc_id, mh0..mh7) from a (doc_id, sh) input: the K minhash
    * signature, computed the codegen-friendly way — explode shingles, TWO
    * md5 projections per shingle (salts 0/1), and K `min` aggregates over
    * 8-hex (32-bit) slices of them. Spark's higher-order functions evaluate
    * interpreted (outside whole-stage codegen), so a per-element
    * `transform(md5)` ×K costs K interpreted hash passes; this shape keeps
    * every md5 inside one codegen'd projection and rides the
    * partial-aggregation path (per-partition mins before the doc_id
    * shuffle). */
  private def minhashedFrom(sh: DataFrame): DataFrame = {
    val ex = sh
      .select(col("doc_id"), explode(col("sh")).as("sh1"))
      .select(col("doc_id"),
        md5(concat(lit("0:"), col("sh1"))).as("h0"),
        md5(concat(lit("1:"), col("sh1"))).as("h1"))
    val aggs = (0 until K).map { j =>
      val src = if (j < 4) col("h0") else col("h1")
      min(substring(src, 8 * (j % 4) + 1, 8)).as(s"mh$j")
    }
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, bkey): one row per band; bkey concatenates the band's
    * r minhashes. Docs agreeing on any full band collide. */
  private def bandedFrom(mh: DataFrame): DataFrame =
    mh.select(
      col("doc_id"),
      posexplode(array((0 until B).map(b =>
        concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*))
        .as(Seq("band", "bkey")))

  /** Distinct candidate pairs (id_a < id_b) sharing at least one band,
    * from a (doc_id, sh) shingle input. Pairs are expanded inside each
    * (band, bkey) bucket from one collect_list — the signature pass runs
    * ONCE (a self-join would recompute it for both sides). The windowed
    * per-bucket count runs in the same shuffle as the collect (window
    * partitioning == grouping keys, so Catalyst reuses the exchange), lets
    * the guard drop oversized buckets BEFORE any list is built (the window
    * buffer spills; a collect_list value cannot), and feeds the observed
    * drop metrics. */
  /** Distinct (id_a < id_b) pairs from a (doc_id, band, bkey) bucketed
    * input, with the mega-bucket guard: per-bucket count windowed in the
    * SAME exchange as the collect, over-cap buckets dropped before any
    * list materializes, drop surfaced on `guardMetric`. Shared by the
    * minhash bands (d02…) and the simhash bands (d10). */
  private[operators] def pairsFromBuckets(banded: DataFrame, guardMetric: String): DataFrame = {
    val ids = col("ids")
    val pairs = flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), greatest(size(ids) - i - 1, lit(0))),
        b => struct(a.as("id_a"), b.as("id_b")))))
    banded
      // explicit-N repartition (exempt from AQE coalescing): the list
      // expansion below is QUADRATIC in bucket size, invisible to
      // byte-based partition coalescing — without this the few-MB
      // signature exchange can collapse to one partition and the whole
      // pair-expansion stage runs single-threaded. N = the session's
      // shuffle partitioning (scale-adaptive); the count window and the
      // collect_list groupBy both reuse this one exchange.
      .repartition(banded.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("bkey"))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bkey")))
      // the metric counts over-cap rows only: singleton buckets (bn = 1)
      // are also filtered below, but a lone row can never form a pair, so
      // excluding them loses no candidates and isn't a "drop"
      .observe(guardMetric,
        coalesce(sum(when(col("bn") > MaxBucketSize, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("rows_in_overflow_buckets"),
        coalesce(max("bn"), lit(0L)).as("max_bucket_rows"))
      .filter(col("bn").between(2, MaxBucketSize))
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  private[operators] def candidatesFrom(sh: DataFrame): DataFrame =
    pairsFromBuckets(bandedFrom(minhashedFrom(sh)), "lsh_bucket_guard")

  private def candidates(s: SparkSession, dir: String): DataFrame =
    candidatesFrom(shingled(Tables.documents(s, dir)))

  /** Bands for the simhash near-dup pairing (d10): 16-bit signature →
    * 4 bands of 4 bits. Pigeonhole: a Hamming distance ≤ SimB−1 pair
    * always agrees on at least one full band. */
  private val SimB = 4

  /** (doc_id, simhash): the d04 signature — 16-bit per-document token
    * majority vote, one md5 projection + partial-aggregated bit sums. */
  private[operators] def simhashed(docs: DataFrame): DataFrame = {
    // fanOut: same single-row-group rationale as [[shingled]]
    val ex = Tables.fanOut(docs)
      .select(col("doc_id"), explode(Exprs.distinctTokens(col("text"))).as("t"))
      .select(col("doc_id"), md5(col("t")).as("h"))
    val sums = (0 until 16).map(i =>
      sum(when(substring(col("h"), i + 1, 1) >= "8", 1).otherwise(0)).as(s"b$i"))
    val sig = (0 until 16)
      .map(i => when(lit(2) * col(s"b$i") > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    ex.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** DuckDB CTE chain ending in `sig(doc_id, simhash)` — the oracle twin
    * of [[simhashed]], shared by d04 and d10. */
  private val simhashCtes: String = {
    val bitSums = (0 until 16).map(i =>
      s"sum(CASE WHEN substr(h, ${i + 1}, 1) >= '8' THEN 1 ELSE 0 END) AS b$i")
      .mkString(",\n       |         ")
    val sig = (0 until 16).map(i => s"CASE WHEN 2*b$i > n THEN 1<<$i ELSE 0 END").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id,
       |         list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS dt
       |  FROM documents),
       |ex AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id, unnest(dt) AS t FROM toks)),
       |bits AS (
       |  SELECT doc_id, count(*) AS n,
       |         $bitSums
       |  FROM ex GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** In-group exact-cosine pair expansion shared by d05 (hyperplane LSH
    * buckets) and d12 (nearest-centroid clusters). Input must carry
    * (vec_id, embedding, `groupCol`); pairs expand only WITHIN groups —
    * never all-pairs — and a group larger than [[MaxBucketSize]] is
    * dropped instead of exploding O(n²) pairs, with the drop surfaced
    * under `guardMetric` (the cap is the operator contract, mirrored by
    * each caller's oracle). Output: (groupCol, id_a < id_b, cos rounded
    * to 6) for pairs with cosine ≥ `minCos`. */
  private def cosinePairsWithin(
      sig: DataFrame, groupCol: String, guardMetric: String, minCos: Double): DataFrame = {
    val vs = col("vs")
    val pairs = flatten(transform(vs, (a, i) =>
      transform(slice(vs, i + lit(2), greatest(size(vs) - i - 1, lit(0))),
        b => struct(a.getField("vec_id").as("id_a"), b.getField("vec_id").as("id_b"),
          a.getField("embedding").as("ea"), b.getField("embedding").as("eb")))))
    val cosr = VectorOps.cosineR(col("p.ea"), col("p.eb"))
    sig
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(groupCol)))
      .observe(guardMetric,
        coalesce(sum(when(col("bn") > MaxBucketSize, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("rows_in_overflow_buckets"),
        coalesce(max("bn"), lit(0L)).as("max_bucket_rows"))
      .filter(col("bn").between(2, MaxBucketSize))
      .groupBy(groupCol)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vs"))
      .select(col(groupCol), explode(pairs).as("p"))
      .filter(cosr >= minCos)
      .select(col(groupCol),
        col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), cosr.as("cos"))
  }

  /** Embedding near-dup pairs: random-hyperplane sign LSH buckets, exact
    * cosine only within buckets, with the same mega-bucket guard as
    * [[candidatesFrom]] (an all-identical embedding corpus collapses into
    * one bucket; the guard keeps that O(n), observable, and spec'd). */
  private[operators] def embeddingPairs(emb: DataFrame): DataFrame =
    cosinePairsWithin(
      emb.select(col("vec_id"), col("embedding"),
        VectorOps.hyperplaneBucket(col("embedding"), planes = 8).as("bucket")),
      "bucket", "embedding_bucket_guard", minCos = 0.1)
      .select("id_a", "id_b", "cos")

  /** d12 semantic-dedup parameters: number of k-means centroids, fit
    * iterations, the per-iteration decimal quantization that keeps the
    * fit oracle-reproducible (means to 4dp, distances to 6dp — both
    * engines re-sync on the rounded values every round, so summation
    * -order drift never compounds), and the in-cluster cosine above
    * which the higher-id member is dropped. K and the iteration count
    * are fixed so the SQL oracle can unroll them; at corpus scale K
    * grows with N (SemDeDup uses K ≈ N/1000s). */
  private[operators] val SemK = 16
  private[operators] val SemIters = 3
  private[operators] val SemMeanDp = 4
  private[operators] val SemDistDp = 6
  private[operators] val SemTau = 0.3

  /** SemDeDup cluster assignment from a REAL k-means fit (r6 verdict:
    * the lowest-vec_id "centroids" were a spec convenience). The fit is
    * s06's deterministic Lloyd's loop (init = k lowest ids, fixed
    * iterations, no RNG) with the decimal quantization above; the final
    * assignment is ZERO shuffle — the k×dim fitted centroids travel as
    * plan literals and the argmin runs as one projection per row, ties
    * to the lowest cluster index (same as the oracle's ORDER BY d2,
    * cid). The only shuffles in d12's query-time path are the
    * in-cluster pair expansion; the fit costs one pass + one k×dim
    * collect per iteration, exactly the s06 contract. */
  private[operators] def semanticClusters(emb: DataFrame): DataFrame = {
    val model = KMeans.fit(emb, "embedding", "vec_id", SemK, SemIters,
      meanDecimals = SemMeanDp, distDecimals = SemDistDp)
    emb.select(col("vec_id"), col("embedding"),
      model.clusterOf(col("embedding"), SemDistDp).cast("long").as("cluster"))
  }

  /** d13 bound: pairs farther apart than this many edits are not
    * near-duplicates. Also the levenshtein band width on the Spark side
    * (the 3-arg form short-circuits past it) and the reason the 16-char
    * length band can't lose a match to quantization alone. */
  private[operators] val EditDistMax = 8

  /** Edit-distance near-dup pairs for d13: block on (first token, 16-char
    * length band), expand pairs only within ≤[[MaxBucketSize]] blocks
    * (guarded + observable, as everywhere in this family), then score with
    * the BOUNDED levenshtein — banded DP, -1 past [[EditDistMax]] — so the
    * per-pair cost is O(maxDist·len), not O(len²). */
  private[operators] def editDistancePairs(docs: DataFrame): DataFrame = {
    val b = docs.select(col("doc_id"), col("text"),
      element_at(Exprs.tokens(col("text")), 1).as("tok0"),
      floor(length(col("text")) / 16).as("lenband"))
    val vs = col("vs")
    val pairs = flatten(transform(vs, (a, i) =>
      transform(slice(vs, i + lit(2), greatest(size(vs) - i - 1, lit(0))),
        bb => struct(a.getField("doc_id").as("id_a"), bb.getField("doc_id").as("id_b"),
          a.getField("text").as("ta"), bb.getField("text").as("tb")))))
    b.withColumn("bn", count(lit(1)).over(Window.partitionBy("tok0", "lenband")))
      .observe("editdist_block_guard",
        coalesce(sum(when(col("bn") > MaxBucketSize, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("rows_in_overflow_blocks"),
        coalesce(max("bn"), lit(0L)).as("max_block_rows"))
      .filter(col("bn").between(2, MaxBucketSize))
      .groupBy("tok0", "lenband")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text")))).as("vs"))
      .select(explode(pairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        levenshtein(col("p.ta"), col("p.tb"), EditDistMax).cast("long").as("dist"))
      .filter(col("dist") >= 0) // bounded levenshtein reports -1 past the bound
  }

  /** DuckDB cosine between two float-list columns, rounded to 6 — the
    * oracle twin of [[VectorOps.cosineR]] (same float→double widening,
    * same rounding), used by the d05/d12/s13 oracles. */
  private def cosSql(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |    / (sqrt(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |     * sqrt(list_sum(list_transform(range(1, len($b)+1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))), 6)""".stripMargin

  /** DuckDB squared-L2 between a float-list column and a double-list
    * centroid, rounded — the oracle twin of KMeans' sqDist + the
    * distance quantization d12's fit applies. */
  private[graft] def sqDistSql(e: String, c: String, dp: Int): String =
    s"""round(list_sum(list_transform(range(1, len($e)+1),
       |      i -> ($e[i]::DOUBLE - $c[i]) * ($e[i]::DOUBLE - $c[i]))), $dp)""".stripMargin

  /** Oracle CTE chain re-deriving [[graft.functions.KMeans.fit]]'s
    * centroids: `cent0` = the k lowest-vec_id embeddings (the fit's
    * deterministic init), then per round — nearest-centroid assignment
    * on `dp2`-rounded squared L2 (ties to the lowest cluster id, the
    * argmin's tie rule), per-(cluster, dim) means rounded to `dp1`, and
    * empty-cluster carryover via the LEFT JOIN coalesce. Ends in
    * `cent<iters>(cid, ce)`. The per-round rounding is the cross-engine
    * sync: both sides restart each round from identical decimal values,
    * so neither engine's summation order can drift the fit. */
  private[graft] def kmeansCtes(k: Int, iters: Int, dp1: Int, dp2: Int,
      src: String = "embeddings"): String = {
    val rounds = (1 to iters).map { j =>
      s"""kd$j AS (
         |  SELECT e.vec_id, c.cid, ${sqDistSql("e.embedding", "c.ce", dp2)} AS d2
         |  FROM $src e, cent${j - 1} c),
         |ka$j AS (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM kd$j) WHERE rk = 1),
         |km$j AS (
         |  SELECT a.cluster AS cid, x.dim, round(avg(x.v), $dp1) AS m
         |  FROM ka$j a JOIN (
         |    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |           unnest(embedding)::DOUBLE AS v
         |    FROM $src) x ON x.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |cent$j AS (
         |  SELECT p.cid, coalesce(mm.ce, p.ce) AS ce
         |  FROM cent${j - 1} p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY dim) AS ce FROM km$j GROUP BY cid) mm
         |  ON mm.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    s"""cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |         list_transform(embedding, x -> x::DOUBLE) AS ce
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $k)),
       |$rounds""".stripMargin
  }

  /** Oracle CTE chain producing [[embeddingPairs]]'s exact pair list as
    * `prs(id_a, id_b, cos)`: sign-LSH signatures, the MaxBucketSize
    * guard, and the rounded in-bucket cosine filter. Shared by the d05
    * oracle (which selects it directly) and the s13 PageRank oracle
    * (which iterates over it as the edge list). */
  private[operators] val embPairsCtes: String =
    s"""sig AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), dd ->
       |             embedding[dd]::DOUBLE * (CASE WHEN substr(md5(p || ':' || (dd-1)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END))) > 0
       |           THEN 1<<p ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM embeddings),
       |bsz AS (SELECT bucket, count(*) AS bn FROM sig GROUP BY bucket),
       |prs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding")} AS cos
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  JOIN bsz s ON s.bucket = a.bucket AND s.bn <= $MaxBucketSize
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.1)""".stripMargin

  // Oracle CTE fragments mirroring the Spark expressions above. `src`
  // parameterizes the corpus the shingles come from (the full table for
  // d02/d03/d07/d08; the exact-deduped subset for d09).
  private def toksCte(src: String = "documents") =
    s"""toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS t
       |  FROM $src)""".stripMargin
  private val shCte =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(t)-1, 1)+1),
      |           i -> array_to_string(t[i:i+1], ' '))) AS sh
      |  FROM toks)""".stripMargin
  /** Minhash signature + band CTEs (expects `sh` in scope) — the oracle
    * twin of [[minhashedFrom]]+[[bandedFrom]], shared by the full
    * candidate chain below and the d14 incremental split. */
  private val sigBandsCte =
    s"""sig AS (
       |  SELECT doc_id, sh,
       |         list_transform(range(0, $K), j ->
       |           list_min(list_transform(sh, s -> substr(md5((j // 4) || ':' || s), 1 + 8 * (j % 4), 8)))) AS mh
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, sh, b, mh[2*b+1] || mh[2*b+2] AS bkey
       |  FROM sig, unnest(range(0, $B)) AS u(b))""".stripMargin
  // The bsz/cand tail applies the SAME MaxBucketSize bound as the Spark
  // side — capped semantics are the operator contract at every scale.
  private val candCte =
    s"""$sigBandsCte,
       |bsz AS (SELECT b, bkey, count(*) AS bn FROM bands GROUP BY b, bkey),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a
       |  JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN bsz s ON s.b = a.b AND s.bkey = a.bkey AND s.bn <= $MaxBucketSize)""".stripMargin
  // Connected components of the candidate graph as a recursive transitive
  // closure: label(v) = min id reachable from v. Fine at oracle scale
  // (closure is quadratic in component size); the Spark side is the
  // scalable iterative form.
  private val componentsCte =
    """sym AS (SELECT id_a AS id, id_b AS nbr FROM cand
      |        UNION ALL SELECT id_b, id_a FROM cand),
      |reach AS (
      |  SELECT DISTINCT id, id AS r FROM sym
      |  UNION
      |  SELECT s.id, reach.r FROM sym s JOIN reach ON reach.id = s.nbr),
      |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)""".stripMargin

  /** Longest-document-per-cluster pick over a (label, n_chars, doc_id, …)
    * frame: min over struct(-n_chars, doc_id, carry…) = max length, tie →
    * lowest doc_id (doc_id is unique, so carried fields never order). A
    * partial-aggregable one-pass groupBy — no per-cluster sort — shared by
    * d08 and d09 so the pick rule lives in exactly one place. */
  private def pickLongestPerLabel(lab: DataFrame, carry: Seq[String] = Nil): DataFrame =
    lab.groupBy("label")
      .agg(min(struct(Seq((-col("n_chars")).as("neg"), col("doc_id")) ++ carry.map(col): _*))
        .as("m"),
        count(lit(1)).as("cluster_size"))

  /** Connected components over an undirected edge list by min-label
    * propagation: every vertex repeatedly adopts the smallest label in its
    * neighborhood. Converges in graph-diameter iterations; near-dup
    * clusters are shallow (dozens of hops at the extreme), so a small
    * fixed bound suffices — and each iteration is one self-contained
    * shuffle on the vertex id, the scalable shape (this is how you apply
    * "keep one per near-dup cluster" to a corpus; GraphFrames does the
    * same loop with more machinery). */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE: the
    // symmetric union below references it twice, and every iteration
    // re-reads it — without this the whole LSH pipeline would re-execute
    // 2 + 2·iters times inside a single components call
    val e = edges.localCheckpoint(true)
    // (r18 note: pre-partitioning sym by the join key was tried and
    // reverted — the node-sized labels side broadcast-joins anyway, so
    // the extra upfront exchange only ever cost; measured d07 −10 %.)
    val sym = e.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .unionByName(e.select(col("id_b").as("id"), col("id_a").as("nbr")))
      .localCheckpoint(true)
    var labels = sym.select(col("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var iter = 0
    var converged = false
    // One propagation step: every id adopts the min label over
    // {itself} ∪ neighbors. The convergence signal rides the SAME
    // aggregation instead of a separate join+count job: the old label is
    // carried through the union as the `keep`-tagged row (each id has
    // exactly one), re-extracted by min(when(keep, label)), and the
    // changed-row count comes out as an `observe` metric of the
    // materializing action itself.
    def step(l: DataFrame, tag: String): DataFrame = {
      val nbrLabels = sym
        .join(l.select(col("id").as("nbr"), col("label").as("nbr_label")), "nbr")
        .select(col("id"), col("nbr_label").as("label"))
      l.withColumn("keep", lit(true))
        .unionByName(nbrLabels.withColumn("keep", lit(false)))
        .groupBy("id")
        .agg(min("label").as("label"),
          min(when(col("keep"), col("label"))).as("old"))
        .observe(tag,
          coalesce(sum(when(col("label") =!= col("old"), lit(1L)).otherwise(lit(0L))), lit(0L))
            .as("changed"))
        .select("id", "label")
    }
    // (r18 notes: pointer jumping — label(label(id)) via a node-sized
    // self-join — was tried and reverted: fixture diameters are already
    // small, so it added a join per round without cutting rounds.)
    //
    // TWO steps compose into each materialized job: the shuffles are
    // identical to running them separately, but the job count (and with
    // it the per-job driver/AQE-stage latency every iterative operator
    // pays) halves. Convergence reads the SECOND step's changed count:
    // zero means that step was an identity, i.e. its input was already
    // the fixpoint — the same labels the one-step loop would return
    // (applying a step to a fixpoint is the identity).
    while (iter < maxIters && !converged) {
      val two = step(step(labels, s"cc_iter_${iter}_a"), s"cc_iter_${iter}_b")
      // truncate lineage each round: without this the logical plan doubles
      // per iteration (analysis time blows up long before data size does).
      // At cluster scale use checkpoint() to reliable storage instead.
      // The metric is read off the PRE-checkpoint dataset: localCheckpoint
      // returns a fresh LogicalRDD plan that no longer carries the
      // CollectMetrics node, but it executes `two`'s physical plan, whose
      // accumulator holds the merged value once the eager job finishes.
      val mat = two.localCheckpoint(true)
      // .get, not apply: if the CollectMetrics node is ever pruned from the
      // executed plan (empty edge list folded to an empty relation, or a
      // future AQE change), an absent metric means zero rows changed —
      // converged — not a NoSuchElementException mid-loop.
      converged = two.queryExecution.observedMetrics.get(s"cc_iter_${iter}_b")
        .map(_.getAs[Long]("changed")).getOrElse(0L) == 0L
      labels = mat
      iter += 2
    }
    // Silent non-convergence would report one component as several —
    // wrong answers, not slow ones. The check is already computed.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds the bound); raise maxIters")
    labels
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the round count is O(log n) in the worst case where
    * [[connectedComponents]]'s min-label propagation needs one round per
    * hop of component DIAMETER. On a chain-shaped component of 10^6
    * nodes that is the difference between ~20 shuffle rounds and 10^6;
    * near-dup graphs are usually shallow, so both live here and the spec
    * proves them equal — this is the one to reach for when the graph's
    * shape is unknown.
    *
    * Edges stay in canonical (hi, lo) orientation. Large-star connects
    * every strictly-larger neighbor of each node u to m = min(N(u)∪{u})
    * (full symmetric neighborhoods); small-star connects u and its
    * smaller neighbors to their minimum (grouping by hi needs no
    * symmetrize). Both phases emit (bigger, smaller) by construction so
    * the canonical form is an invariant, each is ~2 shuffles keyed on
    * the center node, and the fixpoint is a star forest rooted at each
    * component's minimum — labels read straight off the final edges. */
  def largeSmallStarComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // the initial set size rides the initial checkpoint job, so round 0
    // can already detect a fixpoint (an input that is a star forest)
    val initial = edges.filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .distinct()
      .observe("star_init", coalesce(count(lit(1)), lit(0L)).as("n"))
    var e = initial.localCheckpoint(true)
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(cur.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(least(min("v"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy("hi").agg(min("lo").as("m"))
      val centers = mins.select(col("hi"), col("m").as("lo"))
      val leaves = cur.join(mins, "hi").filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      centers.unionByName(leaves).distinct()
    }
    var iter = 0
    var converged = false
    var prevCount = initial.queryExecution.observedMetrics.get("star_init")
      .map(_.getAs[Long]("n")).getOrElse(-1L)
    while (iter < maxIters && !converged) {
      // the set size rides the checkpoint job as an observe metric; a
      // size change can never be a fixpoint, so the exact-equality job
      // only runs on equal sizes — and there ONE anti-join direction
      // suffices (equal-size distinct sets with next \ e = ∅ are equal),
      // half the old symmetric except-diff and skipped entirely on all
      // the shrinking rounds
      val run = smallStar(largeStar(e))
      val counted = run.observe(s"star_iter_$iter",
        coalesce(count(lit(1)), lit(0L)).as("n"))
      val next = counted.localCheckpoint(true)
      val n = counted.queryExecution.observedMetrics.get(s"star_iter_$iter")
        .map(_.getAs[Long]("n")).getOrElse(0L)
      converged = n == prevCount &&
        next.join(e, Seq("hi", "lo"), "left_anti").take(1).isEmpty
      prevCount = n
      e = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"largeSmallStarComponents did not converge in $maxIters rounds; raise maxIters")
    // fixpoint ⇒ star forest: every edge is (member, component-min)
    e.select(col("hi").as("id"), col("lo").as("label"))
      .unionByName(e.select(col("lo").as("id"), col("lo").as("label")).distinct())
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: group by content hash, keep-first. One shuffle on the
    // hash (high cardinality — perfectly parallel at any scale).
    QueryDef.sql("d01_exact_dedup",
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
    },

    // MinHash + LSH banding: candidate near-dup pairs without any
    // all-pairs comparison (k=8 minhashes, 4 bands of 2).
    QueryDef.sql("d02_minhash_lsh",
      s"""WITH ${toksCte()},
         |$shCte,
         |$candCte
         |SELECT id_a, id_b FROM cand""".stripMargin) {
      (s, dir) => candidates(s, dir)
    },

    // Verified near-dup: exact bigram-shingle Jaccard computed ONLY on the
    // LSH candidates (integer set sizes — engine-exact arithmetic). The
    // shingle pass is checkpointed: candidates + both join sides read it,
    // so without materialization the tokenizer would run 3x per query.
    QueryDef.sql("d03_lsh_jaccard",
      s"""WITH ${toksCte()},
         |$shCte,
         |$candCte
         |SELECT c.id_a, c.id_b,
         |       round(len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)), 4) AS jac
         |FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
         |WHERE len(list_intersect(a.sh, b.sh)) / len(list_distinct(a.sh || b.sh)) >= 0.05""".stripMargin) {
      (s, dir) =>
        val sh = shingled(Tables.documents(s, dir)).localCheckpoint(true)
        val jac = size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b")))
        candidatesFrom(sh)
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .filter(jac >= 0.05)
          .select(col("id_a"), col("id_b"), round(jac, 4).as("jac"))
    },

    // SimHash: 16-bit per-document signature by per-bit token majority
    // vote. Bit i of a token = hex digit i of its single md5 (>= '8' ⇔
    // top bit set); doc bit i = majority over distinct tokens. Same
    // codegen shape as the minhash: explode tokens, ONE md5 projection,
    // 16 conditional sums in a partial-aggregated groupBy.
    QueryDef.sql("d04_simhash",
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sig""".stripMargin) {
      (s, dir) => simhashed(Tables.documents(s, dir))
    },

    // APPLIED SimHash near-dup: pairs within Hamming distance 3, found by
    // banding the signature into 4 bands — pigeonhole: 3 differing bits
    // cannot touch all 4 bands, so every hd≤3 pair shares a full band
    // and candidate generation is a bucket join, never all-pairs. The
    // hd≤3 recall of banding is the pigeonhole argument (math, not a
    // test); what the oracle pins is the CONTRACT — it mirrors the same
    // banded candidate generation and bucket cap (d02-style: the cap is
    // the spec), then the same exact hamming verify, so implementation
    // drift on either side fails the bit-exact compare at any corpus.
    // Fixture-sized 16-bit signature → 4-bit bands; production is a
    // 64-bit simhash with 16-bit bands (65 536 buckets/band) — the cap
    // contract is what makes either safe against boilerplate collapse.
    QueryDef.sql("d10_simhash_neardup",
      s"""WITH $simhashCtes,
         |bands AS (
         |  SELECT doc_id, b, (simhash >> (4*CAST(b AS INT))) & 15 AS bv
         |  FROM sig, range(0, $SimB) t(b)),
         |bsz AS (SELECT b, bv, count(*) AS n FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM bands a
         |  JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
         |  JOIN bsz ON bsz.b = a.b AND bsz.bv = a.bv
         |  WHERE bsz.n BETWEEN 2 AND $MaxBucketSize)
         |SELECT c.id_a, c.id_b,
         |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hd
         |FROM cand c
         |JOIN sig sa ON sa.doc_id = c.id_a
         |JOIN sig sb ON sb.doc_id = c.id_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin) {
      (s, dir) => {
        // signature pass reused by the band explode AND both verify joins
        val sig = simhashed(Tables.documents(s, dir)).localCheckpoint(true)
        val bands = sig.select(col("doc_id"),
          posexplode(array((0 until SimB).map(b =>
            shiftright(col("simhash"), 4 * b).bitwiseAND(lit(15L))): _*))
            .as(Seq("band", "bkey")))
        val hd = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
        pairsFromBuckets(bands, "simhash_bucket_guard")
          .join(sig.select(col("doc_id").as("id_a"), col("simhash").as("sh_a")), "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")), "id_b")
          .filter(hd <= 3)
          .select(col("id_a"), col("id_b"), hd.cast("long").as("hd"))
      }
    },

    // APPLIED exact dedup: materialize the deduped corpus (keep-first per
    // content hash) — the operation a training pipeline actually runs.
    QueryDef.sql("d06_dedup_apply",
      """SELECT lang, count(*) AS n_kept FROM (
        |  SELECT lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 GROUP BY lang""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    }
    },

    // APPLIED near-dup dedup: cluster the (capped) candidate pairs into
    // connected components (iterative min-label propagation) and report
    // the cluster-size histogram. Oracle: recursive transitive closure
    // over the same capped candidate edges.
    QueryDef.sql("d07_neardup_components",
      s"""WITH RECURSIVE ${toksCte()},
         |$shCte,
         |$candCte,
         |$componentsCte,
         |sizes AS (SELECT label, count(*) AS cluster_size FROM labels GROUP BY label)
         |SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size""".stripMargin) {
      (s, dir) => {
        val pairs = candidates(s, dir)
        // generous bound: the loop exits on convergence, so extra headroom
        // costs nothing when (as usual) the diameter is small
        connectedComponents(pairs, maxIters = 50)
          .groupBy("label").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      }
    },

    // The same components by the O(log n)-round star algorithm — the
    // full per-node label assignment this time (what the d08-style keep
    // pick actually joins against). Oracle: the identical recursive
    // closure as d07; the two Spark algorithms are equivalence-tested in
    // DedupSpec, including the chain-shaped graph where propagation's
    // round count is the component diameter and this one's is its log.
    QueryDef.sql("d17_star_components",
      s"""WITH RECURSIVE ${toksCte()},
         |$shCte,
         |$candCte,
         |$componentsCte
         |SELECT id, label FROM labels""".stripMargin) {
      (s, dir) => largeSmallStarComponents(candidates(s, dir))
    },

    // APPLIED near-dup dedup with quality priority: within each connected
    // component keep the longest document (ties → lowest doc_id); docs in
    // no component keep themselves. Oracle: same recursive closure, then
    // a windowed pick over all documents left-joined to their labels.
    QueryDef.sql("d08_cluster_quality_pick",
      s"""WITH RECURSIVE ${toksCte()},
         |$shCte,
         |$candCte,
         |$componentsCte,
         |lab AS (
         |  SELECT d.doc_id, d.n_chars, coalesce(l.label, d.doc_id) AS label
         |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
         |ranked AS (
         |  SELECT label, doc_id,
         |         count(*) OVER (PARTITION BY label) AS cluster_size,
         |         row_number() OVER (PARTITION BY label ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM lab)
         |SELECT label, doc_id AS kept_id, cluster_size FROM ranked WHERE rk = 1""".stripMargin) {
      (s, dir) => {
        val comp = connectedComponents(candidates(s, dir), maxIters = 50)
        val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
        val lab = docs
          .join(comp.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
          .withColumn("label", coalesce(col("label"), col("doc_id")))
        pickLongestPerLabel(lab)
          .select(col("label"), col("m.doc_id").as("kept_id"), col("cluster_size"))
      }
    },

    // Embedding near-dup: random-hyperplane sign LSH (8 planes, md5-derived
    // ±1 coefficients so the oracle reproduces them), then exact cosine only
    // within buckets. At 100 TB this is the path: bucket join, never N^2 —
    // and the same per-bucket cap as the shingle LSH (mirrored in the
    // oracle's bsz bound).
    QueryDef.sql("d05_embedding_neardup",
      s"""WITH $embPairsCtes
        |SELECT id_a, id_b, cos FROM prs""".stripMargin) {
      (s, dir) => embeddingPairs(Tables.embeddings(s, dir))
    },

    // The COMPOSED corpus-prep pipeline — what a training-data job runs
    // end-to-end, as ONE declarative query: (1) exact dedup keep-first by
    // content hash, (2) near-dup components over the exact-deduped subset
    // with the longest-doc-per-cluster pick, (3) a minimum-length quality
    // gate, (4) per-language counts of what survives. Every stage reuses
    // the individually-oracled operators above; the oracle chains the same
    // proven CTE fragments over the `kept` subset.
    QueryDef.sql("d09_corpus_prep",
      s"""WITH RECURSIVE kept AS (
         |  SELECT doc_id, text, lang, n_chars FROM (
         |    SELECT doc_id, text, lang, n_chars,
         |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |${toksCte("kept")},
         |$shCte,
         |$candCte,
         |$componentsCte,
         |lab AS (
         |  SELECT k.doc_id, k.n_chars, k.lang, coalesce(l.label, k.doc_id) AS label
         |  FROM kept k LEFT JOIN labels l ON l.id = k.doc_id),
         |pick AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang,
         |           row_number() OVER (PARTITION BY label ORDER BY n_chars DESC, doc_id) AS rk
         |    FROM lab) WHERE rk = 1),
         |final AS (
         |  SELECT p.lang FROM pick p JOIN toks t ON t.doc_id = p.doc_id
         |  WHERE len(t.t) >= 5)
         |SELECT lang, count(*) AS n_kept FROM final GROUP BY lang""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // (1) exact keep-first — one shuffle on the content hash.
        // Checkpointed: the deduped corpus feeds BOTH the shingle/LSH
        // pass and the cluster-pick join, and its lineage (full scan +
        // md5 window) must not execute twice.
        val wExact = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        val kept = docs
          .withColumn("rn", row_number().over(wExact))
          .filter(col("rn") === 1)
          .select("doc_id", "text", "lang", "n_chars")
          .localCheckpoint(true)
        // (2) near-dup cluster pick on the smaller deduped corpus (running
        // LSH after exact dedup is the standard order: it shrinks the
        // shingle pass AND removes the worst bucket-collapse source)
        val comp = connectedComponents(candidatesFrom(shingled(kept)), maxIters = 50)
        // token counts are computed BEFORE the pick so the full text never
        // enters the aggregation buffer or the pick shuffle: the gate only
        // needs the count, and tokenizing is a codegen'd projection while
        // shuffling every surviving text is real bytes at corpus scale
        val lab = kept
          .join(comp.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
          .withColumn("label", coalesce(col("label"), col("doc_id")))
          .withColumn("n_tokens", size(Exprs.tokens(col("text"))))
          .select("label", "n_chars", "doc_id", "lang", "n_tokens")
        pickLongestPerLabel(lab, carry = Seq("lang", "n_tokens"))
          // (3) quality gate: integer token count — engine-exact
          .filter(col("m.n_tokens") >= 5)
          // (4) per-language survivor counts
          .groupBy(col("m.lang").as("lang")).agg(count(lit(1)).as("n_kept"))
      }
    },

    // Benchmark decontamination: which training documents share a 5-gram
    // with the held-out set (here doc_id % 17 stands in for the benchmark
    // membership list)? The canonical pre-training hygiene pass: overlap
    // is judged on exact n-gram shingles, joined SHINGLE-to-shingle —
    // never train×test doc pairs. Shingles whose corpus doc-frequency
    // exceeds the cap are dropped first (boilerplate phrases would both
    // explode the join and signal nothing), surfaced via observe — the
    // same capped-contract style as the LSH buckets, mirrored in the
    // oracle. At 100 TB: one shingle shuffle for the frequency window,
    // one shingle-keyed join whose hot keys the cap has already removed.
    QueryDef.sql("d11_contamination",
      s"""WITH ${toksCte()},
         |sh5 AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(t)-4, 1)+1),
         |           i -> array_to_string(t[i:i+4], ' '))) AS sh
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh5),
         |freq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
         |kept AS (SELECT ex.doc_id, ex.shingle FROM ex
         |         JOIN freq ON ex.shingle = freq.shingle WHERE freq.df <= $MaxBucketSize),
         |tr AS (SELECT * FROM kept WHERE doc_id % 17 <> 0),
         |te AS (SELECT * FROM kept WHERE doc_id % 17 = 0)
         |SELECT tr.doc_id, CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_shared,
         |       CAST(count(DISTINCT te.doc_id) AS BIGINT) AS n_test_docs
         |FROM tr JOIN te ON tr.shingle = te.shingle
         |GROUP BY tr.doc_id""".stripMargin) {
      (s, dir) => {
        val ex = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(Exprs.wordShingles(Exprs.tokens(col("text")), 5)).as("shingle"))
        // per-doc-distinct shingles → the window count IS doc frequency
        val kept = ex
          .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
          .observe("contamination_guard",
            coalesce(sum(when(col("df") > MaxBucketSize, 1L).otherwise(0L)), lit(0L))
              .as("rows_in_dropped_shingles"))
          .filter(col("df") <= MaxBucketSize)
          .select("doc_id", "shingle")
        val train = kept.filter(col("doc_id") % 17 =!= 0)
        val test = kept.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("test_id"), col("shingle"))
        train.join(test, "shingle")
          .groupBy("doc_id")
          .agg(countDistinct("shingle").as("n_shared"),
            countDistinct("test_id").as("n_test_docs"))
      }
    },

    // Semantic dedup (SemDeDup): k-means-cluster embeddings to their
    // nearest centroid, then drop the higher-id member of every
    // in-cluster pair whose exact cosine exceeds the threshold.
    // Complements d05: LSH buckets catch only near-identical directions
    // (hyperplane sign agreement), clustering catches "same meaning,
    // different phrasing" at whatever radius the threshold sets. Scale
    // shape: the fit is one corpus pass + one k×dim collect per
    // iteration (the s06 contract), query-time assignment is a
    // zero-shuffle plan-literal projection, pair expansion shuffles once
    // on the cluster id with the standard cap guard, the drop set is
    // id-distinct and anti-joined back. The oracle unrolls the SAME
    // fixed fit — init = k lowest ids, per-round means quantized to
    // 4dp, distances to 6dp — so both engines re-derive identical
    // centroids round by round.
    QueryDef.sql("d12_semantic_dedup",
      s"""WITH ${kmeansCtes(SemK, SemIters, SemMeanDp, SemDistDp)},
         |fd AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         ${sqDistSql("e.embedding", "c.ce", SemDistDp)} AS d2
         |  FROM embeddings e, cent$SemIters c),
         |asn AS (
         |  SELECT vec_id, embedding, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1),
         |csz AS (SELECT cluster, count(*) AS bn FROM asn GROUP BY cluster),
         |dropd AS (
         |  SELECT DISTINCT b.vec_id AS id_b
         |  FROM asn a JOIN asn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN csz s ON s.cluster = a.cluster AND s.bn <= $MaxBucketSize
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= $SemTau)
         |SELECT a.vec_id, a.cluster FROM asn a
         |WHERE a.vec_id NOT IN (SELECT id_b FROM dropd)""".stripMargin) {
      (s, dir) => {
        val asn = semanticClusters(Tables.embeddings(s, dir))
        val drops = cosinePairsWithin(asn, "cluster", "semantic_cluster_guard", SemTau)
          .select(col("id_b")).distinct()
        asn.join(drops, asn("vec_id") === drops("id_b"), "left_anti")
          .select(col("vec_id"), col("cluster"))
      }
    },

    // Edit-distance near-dup: block on (first token, length band 16) —
    // an edit script of length ≤ 8 can't change the length by more than
    // 8, so the band plus the anchor token is a cheap high-precision
    // blocker — then exact Levenshtein ONLY within blocks, with the
    // standard per-block cap guard. The Spark side uses the bounded
    // 3-arg levenshtein (banded O(maxDist·n) per pair, returns -1 past
    // the bound) — at 100 TB the work is candidates × a short-circuited
    // band, never all-pairs × full DP. Blocking is the spec, mirrored in
    // the oracle, same contract style as the LSH bucket caps.
    QueryDef.sql("d13_editdist_neardup",
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')[1] AS tok0,
         |         length(text) // 16 AS lenband
         |  FROM documents),
         |bsz AS (SELECT tok0, lenband, count(*) AS bn FROM b GROUP BY 1, 2)
         |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |       CAST(levenshtein(a.text, b2.text) AS BIGINT) AS dist
         |FROM b a JOIN b b2 ON a.tok0 = b2.tok0 AND a.lenband = b2.lenband
         |                  AND a.doc_id < b2.doc_id
         |JOIN bsz s ON s.tok0 = a.tok0 AND s.lenband = a.lenband AND s.bn <= $MaxBucketSize
         |WHERE levenshtein(a.text, b2.text) <= $EditDistMax""".stripMargin) {
      (s, dir) => editDistancePairs(Tables.documents(s, dir))
    },

    // Incremental dedup — the shape corpus maintenance actually runs at
    // 100 TB: a small INCOMING batch (doc_id % 10 = 0 stands in for it)
    // is checked against the EXISTING corpus index without ever pairing
    // corpus×corpus. Exact membership is one hash semi-probe; near-dup
    // screening joins the incoming batch's LSH bands against the index
    // bands (in production the index signatures are a stored table the
    // nightly batch reads — here both sides derive from the fixture so
    // the oracle can reproduce them). Hot boilerplate bands on the index
    // side are capped + observed, bounding the per-incoming-doc fan-out
    // at B×cap. Output: per incoming doc, exact-dup flag and the count
    // of distinct index near-dup candidates.
    QueryDef.sql("d14_incremental_dedup",
      s"""WITH ${toksCte()},
         |$shCte,
         |$sigBandsCte,
         |inb AS (SELECT b, bkey, doc_id FROM bands WHERE doc_id % 10 = 0),
         |idxb AS (SELECT b, bkey, doc_id FROM bands WHERE doc_id % 10 <> 0),
         |bsz AS (SELECT b, bkey, count(*) AS bn FROM idxb GROUP BY 1, 2),
         |near AS (
         |  SELECT i.doc_id, CAST(count(DISTINCT x.doc_id) AS BIGINT) AS n_neardup
         |  FROM inb i JOIN idxb x ON i.b = x.b AND i.bkey = x.bkey
         |  JOIN bsz s ON s.b = i.b AND s.bkey = i.bkey AND s.bn <= $MaxBucketSize
         |  GROUP BY 1),
         |exact AS (
         |  SELECT doc_id,
         |         CAST(CASE WHEN md5(text) IN
         |           (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
         |           THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT e.doc_id, e.is_exact_dup,
         |       CAST(coalesce(n.n_neardup, 0) AS BIGINT) AS n_neardup
         |FROM exact e LEFT JOIN near n ON e.doc_id = n.doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        screenAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0))
      }
    },

    // Duplicated-span accounting (the substring-level dedup signal of
    // Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): for every document, the fraction of 5-gram span STARTS
    // whose gram occurs in at least two documents — doc-level dedup
    // (d01-d09) misses templated documents that share long runs without
    // being near-identical overall; this measures exactly that overlap.
    // Scale shape: positional grams are one codegen'd projection
    // (zip_with chain, no O(L²) HOF); the (doc_id, gram) pre-aggregation
    // is checkpointed once and reused for both the doc-frequency
    // re-aggregation and the join back, so the corpus gram pass runs
    // once; doc frequency comes from a partial-aggregable groupBy (a
    // window over gram would co-locate every occurrence of a hot
    // boilerplate gram on one executor — the agg collapses them
    // map-side), and the only join is pre-agg × one-row-per-gram, whose
    // residual hot keys AQE skew-split handles. At 100 TB the join key
    // would be a 128-bit gram hash instead of the string; the string
    // keeps the oracle byte-exact here.
    QueryDef.sql("d15_dupspan",
      s"""WITH ${toksCte()},
         |spans AS (
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-4, 1)+1),
         |    i -> array_to_string(t[i:i+4], ' '))) AS gram
         |  FROM toks),
         |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM spans GROUP BY 1, 2),
         |gdf AS (SELECT gram, count(*) AS df FROM pg GROUP BY 1)
         |SELECT pg.doc_id, CAST(sum(pg.cnt) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN gdf.df >= 2 THEN pg.cnt ELSE 0 END) AS BIGINT) AS dup_spans,
         |       round(sum(CASE WHEN gdf.df >= 2 THEN pg.cnt ELSE 0 END) / sum(pg.cnt), 6) AS dup_frac
         |FROM pg JOIN gdf ON pg.gram = gdf.gram
         |GROUP BY pg.doc_id""".stripMargin) {
      (s, dir) => {
        val perDocGram = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(Exprs.wordShinglesAll(Exprs.tokens(col("text")), 5)).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val gramDf = perDocGram.groupBy("gram").agg(count(lit(1)).as("df"))
        perDocGram.join(gramDf, "gram")
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_spans"),
            sum(when(col("df") >= 2, col("cnt")).otherwise(lit(0L))).as("dup_spans"))
          .withColumn("dup_frac", round(col("dup_spans") / col("n_spans"), 6))
      }
    },

    // Span-level dedup APPLICATION — the step that actually changes
    // training data (Lee et al. substring dedup): where d15 *measures*
    // cross-document duplicated 5-gram spans, this emits the CLEANED
    // corpus — a token is dropped iff it lies inside any span whose
    // gram occurs in ≥ 2 documents, and the survivors are rejoined in
    // original order. Output is byte-exact text (the t09 redaction
    // contract: the driver's hash compares `clean_text` verbatim), so
    // any drift in coverage arithmetic fails the gate. Scale shape:
    // positional grams and the df re-aggregation are exactly d15's
    // one-checkpointed-pass layout; coverage positions explode at most
    // 5 rows per duplicated span START (never L² interval logic); the
    // kept-token rebuild is one anti-join on (doc_id, position) plus a
    // per-doc sort-rebuild aggregation — all partial-aggregable, no
    // windows. At 100 TB the gram join key would be a 128-bit hash;
    // the string keeps the oracle byte-exact here.
    QueryDef.sql("d16_span_dedup_apply",
      s"""WITH ${toksCte()},
         |spans AS (
         |  SELECT doc_id, s['i'] AS i, s['gram'] AS gram FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-4, 1)+1),
         |      i -> {'i': i, 'gram': array_to_string(t[i:i+4], ' ')})) AS s
         |    FROM toks)),
         |pg AS (SELECT doc_id, gram, count(*) AS cnt FROM spans GROUP BY 1, 2),
         |gdf AS (SELECT gram, count(*) AS df FROM pg GROUP BY 1),
         |dup AS (
         |  SELECT DISTINCT sp.doc_id, sp.i FROM spans sp
         |  JOIN gdf ON sp.gram = gdf.gram AND gdf.df >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, i + d AS j FROM dup, range(0, 5) r(d)),
         |tokpos AS (
         |  SELECT doc_id, generate_subscripts(t, 1) AS j, unnest(t) AS tok FROM toks),
         |kept AS (
         |  SELECT tp.doc_id, tp.j, tp.tok
         |  FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.j = tp.j
         |  WHERE cov.j IS NULL)
         |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(k.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY j) AS clean_text
         |  FROM kept GROUP BY doc_id) k ON k.doc_id = t.doc_id""".stripMargin) {
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t"))
          .localCheckpoint(true) // reused: spans, token positions, final lengths
        val spans = toks.select(col("doc_id"),
          posexplode(Exprs.wordShinglesAll(col("t"), 5)).as(Seq("p0", "gram")))
          .select(col("doc_id"), (col("p0") + 1).as("i"), col("gram"))
          .localCheckpoint(true) // reused: df aggregation + dup-start join
        val pg = spans.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        val gdf = pg.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
        val dup = spans.join(gdf, "gram").select(col("doc_id"), col("i")).distinct()
        val cov = dup
          .select(col("doc_id"), explode(sequence(col("i"), col("i") + 4)).as("j"))
          .distinct()
        val tokpos = toks
          .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
          .select(col("doc_id"), (col("p0") + 1).as("j"), col("tok"))
        val agg = tokpos.join(cov, Seq("doc_id", "j"), "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(array_sort(collect_list(struct(col("j"), col("tok")))),
              x => x.getField("tok")), " ").as("clean_text"))
        toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_text"), lit("")).as("clean_text"))
      }
    },

    // Bloom-filter membership screen for incremental dedup: the index
    // partition (doc_id % 10 <> 0, mirroring d14) sets k=3 deterministic
    // md5-derived bit positions per document in an m=65536-bit filter;
    // an incoming doc is `bloom_hit` iff ALL THREE of its positions are
    // set. The exact verdict rides alongside, so the output exhibits the
    // filter's contract directly: every exact dup is a hit (no false
    // negatives — a Bloom guarantee, not a statistical hope) and the
    // hit∧¬dup rows are the false-positive cost. The 100 TB posture is
    // the point: the set-bit table is AT MOST m rows (8 KB as a bitmap)
    // no matter how many petabytes the index partition holds, so the
    // membership probe is a broadcast join against the arrival stream —
    // the full md5-equality join (d14's `exact`) runs only behind this
    // screen, on the hits. Positions derive from md5 hex via the same
    // 12-hex-digit → BIGINT conversion on both engines (conv base-16 /
    // '0x' cast), so any hash-mixing drift fails the gate.
    QueryDef.sql("d18_bloom_screen", {
      def pos(j: Int) =
        s"(('0x' || substr(md5('$j:' || text), 1, 12))::BIGINT % 65536)"
      s"""WITH bits AS (
         |  SELECT DISTINCT p FROM (
         |    SELECT unnest([${(0 until 3).map(pos).mkString(", ")}]) AS p
         |    FROM documents WHERE doc_id % 10 <> 0)),
         |probes AS (
         |  SELECT doc_id, unnest([${(0 until 3).map(pos).mkString(", ")}]) AS p
         |  FROM documents WHERE doc_id % 10 = 0),
         |hits AS (
         |  SELECT pr.doc_id,
         |         CAST(CASE WHEN count(b.p) = 3 THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit
         |  FROM probes pr LEFT JOIN bits b ON pr.p = b.p
         |  GROUP BY pr.doc_id),
         |exact AS (
         |  SELECT doc_id,
         |         CAST(CASE WHEN md5(text) IN
         |           (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
         |           THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT h.doc_id, h.bloom_hit, e.is_exact_dup
         |FROM hits h JOIN exact e ON h.doc_id = e.doc_id""".stripMargin
    }) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bits = bloomBits(docs.filter(col("doc_id") % 10 =!= 0))
        val incoming = docs.filter(col("doc_id") % 10 === 0)
        val hits = bloomProbe(incoming, bits)
        val index = docs.filter(col("doc_id") % 10 =!= 0)
          .select(md5(col("text")).as("h")).distinct()
        val exact = incoming
          .join(index, md5(col("text")) === col("h"), "left_semi")
          .select(col("doc_id"), lit(1L).as("is_exact_dup"))
        hits.join(exact, Seq("doc_id"), "left")
          .select(col("doc_id"), col("bloom_hit"),
            coalesce(col("is_exact_dup"), lit(0L)).as("is_exact_dup"))
      }
    }
  )
}
