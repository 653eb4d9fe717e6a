package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim).
  *
  * Two paths, as a real ANN stack has:
  *   - brute-force cosine top-k: the exact baseline. One broadcast of the
  *     query vector + one `TakeOrderedAndProject` — no shuffle of the
  *     corpus, scales linearly with corpus size;
  *   - sign-LSH bucketed ANN: hyperplane-sign buckets computed in a single
  *     projection pass; the query probes only its own bucket (1/2^planes of
  *     the corpus in expectation) — the 100 TB path, trading recall for a
  *     ~2^planes scan reduction. An IVF variant would swap the hash for a
  *     learned centroid assignment; the operator shape is identical.
  *
  * All vector math is codegen-friendly HOFs ([[VectorOps]]), exact ints or
  * order-stable doubles, reproducible by the DuckDB oracle.
  */
object Similarity {

  /** Shared oracle fragment: cosine of two list-valued SQL expressions,
    * mirroring VectorOps.cosine (float→double widening, in-order fold). */
  private def cosColsSql(a: String, b: String) =
    s"""round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |    / (sqrt(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |     * sqrt(list_sum(list_transform(range(1, len($b)+1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))), 6)""".stripMargin

  /** cosine(a.embedding, b.embedding) between two table aliases. */
  private def cosSql(a: String, b: String) =
    cosColsSql(s"$a.embedding", s"$b.embedding")

  /** Sign-LSH bucket of a 32-dim SUBvector column (PQ sub-quantizer,
    * 4 planes → 16 codes) — [[bucketSql]] over a slice: same md5-derived
    * ±1 hyperplanes, dims renumbered within the subspace (mirrors
    * `VectorOps.hyperplaneBucket(sub, planes = 4, dim = 32)`). */
  private def pqBucketSql(sv: String) =
    s"""CAST(list_sum(list_transform(range(0, 4), p ->
       |      CASE WHEN list_sum(list_transform(range(1, 33), dd ->
       |             $sv[dd]::DOUBLE * (CASE WHEN substr(md5(p || ':' || (dd-1)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END))) > 0
       |           THEN 1<<p ELSE 0 END)) AS BIGINT)""".stripMargin

  /** 64-dim sign signature packed into ONE bigint (bit d set iff
    * embedding[d] > 0) — the binary-quantization screen key shared by
    * s26 and s28. Kept as a single fused fold so the whole signature
    * rides one projection pass. `shiftleft`'s shift count wraps mod 64,
    * so a wider embedding would silently alias bits (and the bit_count
    * Hamming would diverge from the dim-wise oracle) — the size guard
    * makes >64-dim inputs fail fast at runtime instead. */
  private def packedSig: org.apache.spark.sql.Column =
    expr("""CASE WHEN assert_true(size(embedding) <= 64,
           |      'packedSig requires dim <= 64: shiftleft wraps mod 64') IS NULL
           |  THEN aggregate(
           |    transform(embedding, (x, i) -> IF(x > CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
           |    CAST(0 AS BIGINT), (a, b) -> a + b)
           |END""".stripMargin)

  /** s27's greedy-MMR contract, shared by the oracle builder AND the
    * DataFrame loop so the two sides can never drift apart silently:
    * `MmrRounds` selections from the top-`MmrCandK` cosine candidates,
    * scoring round(λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), 6). Declared
    * BEFORE `defs` — the oracle strings are built at object init, so a
    * later declaration would interpolate the vals' zero defaults. */
  private[operators] val MmrRounds = 5
  private[operators] val MmrCandK = 20
  private[operators] val MmrLambda = 0.7
  private[operators] val MmrPenalty = 0.3 // 1 − λ, kept literal so both
                                          // engines see the exact decimal

  /** s21's hybrid-retrieval oracle chain, ending in `rrf10(doc_id, rrf)`
    * — the RRF-fused top-10 candidate list. Shared verbatim by s21 and
    * the s35 MaxSim reranker (declared before `defs`: oracle strings
    * interpolate at object init). Also leaves `toks(doc_id, t)` —
    * distinct whitespace tokens per doc — in scope for s35's
    * token-level scoring. */
  private val rrfCtes: String =
    s"""q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |d20 AS (
       |  SELECT e.vec_id AS doc_id, ${cosColsSql("e.embedding", "q.embedding")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY cos DESC, e.vec_id LIMIT 20),
       |dtop AS (
       |  SELECT a.doc_id, 1 + count(b.doc_id) AS dr
       |  FROM d20 a LEFT JOIN d20 b
       |    ON b.cos > a.cos OR (b.cos = a.cos AND b.doc_id < a.doc_id)
       |  GROUP BY a.doc_id),
       |toks AS (
       |  SELECT doc_id, list_distinct(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS t
       |  FROM documents),
       |qt AS (SELECT t AS qtok FROM toks WHERE doc_id = 0),
       |l20 AS (
       |  SELECT d.doc_id,
       |         round(len(list_intersect(d.t, qt.qtok)) * 1.0 /
       |               len(list_distinct(list_concat(d.t, qt.qtok))), 6) AS jac
       |  FROM toks d, qt WHERE d.doc_id <> 0
       |  ORDER BY jac DESC, d.doc_id LIMIT 20),
       |ltop AS (
       |  SELECT a.doc_id, 1 + count(b.doc_id) AS lr
       |  FROM l20 a LEFT JOIN l20 b
       |    ON b.jac > a.jac OR (b.jac = a.jac AND b.doc_id < a.doc_id)
       |  GROUP BY a.doc_id),
       |rrf10 AS MATERIALIZED (
       |  SELECT doc_id,
       |         round(coalesce(1.0 / (60 + dr), 0) + coalesce(1.0 / (60 + lr), 0), 6)
       |           AS rrf
       |  FROM dtop FULL OUTER JOIN ltop USING (doc_id)
       |  ORDER BY rrf DESC, doc_id LIMIT 10)""".stripMargin

  /** Dim-wise sign-mismatch Hamming between two embedding-carrying
    * aliases — the oracle's form of popcount(sigA XOR sigB). */
  private def hammingSql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(range(1, len($a.embedding)+1), i ->
       |  CASE WHEN ($a.embedding[i] > 0) <> ($b.embedding[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT)""".stripMargin

  private def bucketSql(planes: Int) =
    s"""CAST(list_sum(list_transform(range(0, $planes), p ->
       |      CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), dd ->
       |             embedding[dd]::DOUBLE * (CASE WHEN substr(md5(p || ':' || (dd-1)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END))) > 0
       |           THEN 1<<p ELSE 0 END)) AS BIGINT)""".stripMargin

  /** Per-label mean centroids (clabel, cvec: array<double>) — the coarse
    * quantizer both IVF probes share. Checkpointed eagerly: the table is
    * tiny (nlist rows) but its lineage is a full corpus aggregation, and
    * the probes reference it from more than one side of their plans. */
  private[operators] def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label").as("clabel"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("clabel", "dim").agg(avg(col("v").cast("double")).as("mean"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        x => x.getField("mean")).as("cvec"))
      .localCheckpoint(true)

  /** Nearest-centroid assignment (vec_id, embedding, clabel): one
    * broadcast-centroid scoring pass over the corpus, materialized — this
    * is the IVF index build, the thing a real ANN deployment persists.
    * Without the checkpoint every plan that references the assignment
    * twice would run the corpus×centroid scoring twice. */
  private[operators] def ivfAssigned(emb: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("clabel"))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("clabel"),
        VectorOps.cosineR(col("embedding"), col("cvec")).as("ccos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id", "embedding", "clabel")
      .localCheckpoint(true)
  }

  /** Shared oracle CTE chain mirroring [[labelCentroids]] + [[ivfAssigned]]:
    * dims/cm/cent build the per-label mean centroids, scored/assigned pick
    * each vector's nearest centroid (rounded cosine, label tiebreak). */
  private val ivfCtes = {
    val vcCos =
      """round(list_sum(list_transform(range(1, len(e.embedding)+1), i -> e.embedding[i]::DOUBLE * c.cvec[i]))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
        |     * sqrt(list_sum(list_transform(range(1, len(c.cvec)+1), i -> c.cvec[i] * c.cvec[i])))), 6)""".stripMargin
    s"""dims AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS v
       |  FROM embeddings),
       |cm AS (SELECT label, dim, avg(v) AS mean FROM dims GROUP BY 1, 2),
       |cent AS (SELECT label, list(mean ORDER BY dim) AS cvec FROM cm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.label AS clabel, $vcCos AS ccos
       |  FROM embeddings e, cent c),
       |assigned AS (
       |  SELECT vec_id, embedding, clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) AS rk
       |    FROM scored) WHERE rk = 1)""".stripMargin
  }

  /** s17 graph degree: top-`GraphDegree` neighbors per vector. Degree 3
    * leaves the traversal too few escape routes from local optima;
    * degree 4 + symmetrization (average degree ~5) is where the s22
    * walk's recall clears the IVF probes on the gated fixtures. */
  private[graft] val GraphDegree = 4

  /** s17/s22 shared oracle chain: the capped-bucket kNN graph as a `g`
    * CTE (vec_id, nbr, cos, rk), rk ≤ [[GraphDegree]]. TWO sign-LSH bands
    * of 4 planes each (split from one fused 8-plane bucket computation):
    * a single band only ever pairs vectors inside one bucket, so the
    * graph decomposes into per-bucket islands and a traversal (s22) can
    * never cross them; band 2 cuts the corpus along independent
    * hyperplanes, so its edges bridge band-1 buckets and the union is
    * connected enough to walk. Mirrors [[knnGraphEdges]] exactly — the
    * cap, the rounded cosine, the cross-band pair dedup, and the
    * (cos DESC, nbr) rank tiebreak are all part of the contract. */
  private val knnGraphCtes =
    s"""sig0 AS (
       |  SELECT vec_id, embedding, ${bucketSql(8)} AS b8
       |  FROM embeddings),
       |banded AS (
       |  SELECT vec_id, embedding, 0 AS band, b8 & 15 AS bucket FROM sig0
       |  UNION ALL
       |  SELECT vec_id, embedding, 1 AS band, b8 >> 4 AS bucket FROM sig0),
       |bsz AS (SELECT band, bucket, count(*) AS bn FROM banded GROUP BY 1, 2),
       |sig AS (
       |  SELECT s.vec_id, s.embedding, s.band, s.bucket FROM banded s
       |  JOIN bsz ON bsz.band = s.band AND bsz.bucket = s.bucket
       |          AND bsz.bn <= ${Dedup.MaxBucketSize}),
       |p AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
       |  FROM sig a JOIN sig b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |g AS (
       |  SELECT vec_id, nbr, cos, CAST(rk AS BIGINT) AS rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rk
       |    FROM p) WHERE rk <= $GraphDegree)""".stripMargin

  /** The s17 kNN graph as a DataFrame (vec_id, nbr, cos, rk): each
    * vector's banded-bucket top-[[GraphDegree]] neighbors under the
    * mega-bucket cap. Payload-free by design — [[symmetrized]] attaches
    * the neighbor embedding AFTER the top-k cut, so the build's
    * exchanges only ever move decision-sized rows. Shared by s17 and
    * the s22-family walks (which traverse its symmetrization). */
  /** Two-band sign-LSH signature rows (vec_id, embedding, band, bucket)
    * — 2 rows per vector from ONE fused 8-plane bucket pass split into
    * low/high nibbles (the generator keeps it a single scan where a
    * two-select union would scan twice). Shared by the batch graph
    * build and the streaming graph maintenance
    * ([[graft.streaming.GraphStreams]]), which keeps this as its
    * stored signature index. */
  private[graft] def bandedSig(df: DataFrame): DataFrame = {
    val sig0 = df.select(
      col("vec_id"), col("embedding"),
      VectorOps.hyperplaneBucket(col("embedding"), planes = 8).as("b8"))
    sig0.select(col("vec_id"), col("embedding"),
      explode(array(
        struct(lit(0L).as("band"), col("b8").bitwiseAND(lit(15L)).as("bucket")),
        struct(lit(1L).as("band"), shiftright(col("b8"), 4).as("bucket")))).as("bb"))
      .select(col("vec_id"), col("embedding"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private def knnGraphEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    knnGraphEdgesOf(Tables.embeddings(s, dir))

  /** The capped-bucket kNN graph over an arbitrary embedding set — s17's
    * construction parameterized on the node set so the hierarchical
    * search (s30) can build its coarse layer over a SAMPLE of the corpus
    * with the identical banding/cap/rank contract. `guard` names the
    * observe() metric (one name per layer, so a two-layer plan never
    * registers the same observation twice). */
  private def knnGraphEdgesOf(
      emb: DataFrame, guard: String = "knn_graph_bucket_guard"): DataFrame = {
    // explicit-N repartition (exempt from AQE coalescing): the bucket
    // self-join below is QUADRATIC in bucket size, so its cost is
    // invisible to byte-based partition coalescing — without this the
    // few-KB signature exchange collapses to ONE partition and the
    // whole pair/cosine stage runs single-threaded (measured scaling
    // ratio ~1.0 at 8 vs 32 cores). N = defaultParallelism, i.e.
    // scale-adaptive, not a local-mode constant; the count window and
    // the self-join both reuse this one exchange.
    val banded = bandedSig(emb).repartition(
      emb.sparkSession.sparkContext.defaultParallelism,
      col("band"), col("bucket"))
    val wb = Window.partitionBy("band", "bucket")
    val sig = banded
      .withColumn("bn", count(lit(1)).over(wb))
      .observe(guard,
        coalesce(sum(when(col("bn") > Dedup.MaxBucketSize, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("rows_in_overflow_buckets"),
        coalesce(max("bn"), lit(0L)).as("max_bucket_rows"))
      .filter(col("bn") <= Dedup.MaxBucketSize)
      .drop("bn")
    val nbrs = sig.select(col("band"), col("bucket"),
      col("vec_id").as("nbr"), col("embedding").as("ne"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr"))
    // A pair found by both bands must count once: the dedup aggregate
    // and the rank window share ONE vec_id exchange (hash(vec_id)
    // satisfies the (vec_id, nbr) clustering — subset reuse), so the
    // cross-band union costs no extra shuffle over the 1-band form.
    // PROJECT BEFORE THE EXCHANGE (guide §2.3/§8): the cosine consumes
    // both embedding payloads right here, so only the ~24-byte
    // (vec_id, nbr, cos) decision rows cross the dedup/rank shuffle —
    // the payload-bearing edge list is re-attached AFTER the top-k cut
    // by [[symmetrized]], moving each surviving edge's vector once
    // instead of dragging two vectors per CANDIDATE pair through two
    // exchanges.
    sig.join(nbrs, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id"), col("nbr"),
        VectorOps.cosineR(col("embedding"), col("ne")).as("cos"))
      .repartition(col("vec_id"))
      .dropDuplicates("vec_id", "nbr")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= GraphDegree)
  }

  /** s22 traversal knobs. Fixed round count (not convergence detection)
    * so the oracle can unroll the walk. Each round expands the
    * `GraphExpandPerRound` best not-yet-expanded candidates (the
    * HNSW/ef-search discipline — re-expanding the whole beam every
    * round just re-proves the same local optimum), keeps the best
    * `GraphBeamWidth` found so far, and remembers per-candidate whether
    * it has been expanded. */
  private[operators] val GraphSearchRounds = 10
  private[operators] val GraphExpandPerRound = 8
  private[operators] val GraphBeamWidth = 32

  /** s30 layer ladder: every vec_id ≡ 1 (mod `HierCoarseMod`) is promoted
    * to the coarse layer (the deterministic analog of HNSW's geometric
    * level draw — content-stable, so both engines sample identically, and
    * never the query vector since 0 mod anything is 0). The round budget
    * SPLITS s22's: coarse + fine = [[GraphSearchRounds]], so the
    * hierarchical walk costs the same number of distributed rounds as the
    * flat walk it is measured against. Coarse rounds are cheap (the layer
    * is 1/mod of the corpus) and buy a beam already sitting in the
    * query's neighborhood when the fine walk starts — the coarse-to-fine
    * descent that keeps hop counts logarithmic as the corpus grows. */
  private[graft] val HierCoarseMod = 16
  private[operators] val HierCoarseRounds = 3
  private[operators] val HierFineRounds = GraphSearchRounds - HierCoarseRounds

  /** s30's two-stage descent (coarse walk → reseeded fine walk) top-10
    * (vec_id, cos) — shared by the registered query and the s32 recall
    * harness. */
  private def hierSearchTop10(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val fine = symmetrized(knnGraphEdges(s, dir), emb)
    val coarse = symmetrized(knnGraphEdgesOf(
      emb.filter(col("vec_id") % HierCoarseMod === 1),
      guard = "coarse_knn_graph_bucket_guard"), emb)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val entry = coarse.agg(min(col("vec_id")).as("vec_id"))
    val beam0 = emb.join(broadcast(entry), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        VectorOps.cosineR(col("embedding"), col("qe")).as("cos"),
        lit(false).as("exp"))
    // no checkpoints: efSearch materializes its (constant-sized) beam
    // driver-side, so beam0/descended are each executed exactly once
    val descended = efSearch(beam0, coarse, q, HierCoarseRounds)
      .select(col("vec_id"), col("cos"), lit(false).as("exp"))
    efSearch(descended, fine, q, HierFineRounds)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
  }

  /** The batch-built coarse-layer graph in s17's output shape — the
    * equality twin for the streaming ladder maintenance
    * ([[graft.streaming.GraphStreams.ladderFold]]). */
  private[graft] def coarseKnnGraph(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    knnGraphEdgesOf(
      Tables.embeddings(s, dir).filter(col("vec_id") % HierCoarseMod === 1),
      guard = "coarse_knn_graph_bucket_guard")
      .select(col("vec_id"), col("nbr"), col("cos"), col("rk"))

  /** Symmetrize a kNN edge list (forward ∪ reverse) and attach the
    * neighbor-side embedding payload, the HNSW bidirectional-link
    * layout — checkpointed: every walk round rejoins it. Shared by
    * s22/s23/s30/s31. The payload attaches HERE, after the graph
    * build's top-k cut (guide §8: decide with small rows, move the
    * heavy bytes once): one join of the degree-bounded edge list
    * against the corpus replaces carrying both endpoint vectors
    * through every candidate-pair exchange of the build. */
  private def symmetrized(edges: DataFrame, emb: DataFrame): DataFrame =
    edges.select(col("vec_id"), col("nbr"))
      .unionByName(edges.select(col("nbr").as("vec_id"),
        col("vec_id").as("nbr")))
      .dropDuplicates("vec_id", "nbr")
      .join(emb.select(col("vec_id").as("nbr"), col("embedding").as("ne")),
        Seq("nbr"))
      .select(col("vec_id"), col("nbr"), col("ne"))
      .localCheckpoint(true)

  /** Spark's double comparator (`SQLOrderingUtil.compareDoubles`): equal
    * compares first so `-0.0 == 0.0` ties exactly like a SQL ORDER BY,
    * then `java.lang.Double.compare` (NaN greatest) — the driver-side
    * beam cuts below MUST pick the same frontier a distributed
    * `orderBy(cos.desc, vec_id)` would, or the walk diverges from the
    * unrolled oracle on the first tie. */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Driver-side bound on one walk round's collected candidate rows. */
  private[operators] val WalkCollectCap: Int = 1000000

  /** `df.collect()` for a walk round, refusing more than `cap` rows. The
    * check reads the rows the round's one job already returned — no
    * count job, no limit — so a candidate set that outgrows its
    * constant bound fails loud with the cap named, instead of growing
    * the driver-side beam without limit. */
  private[operators] def collectCapped(
      df: DataFrame, what: String, cap: Int = WalkCollectCap): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    if (rows.length > cap) throw new IllegalStateException(
      s"$what: collected ${rows.length} candidate rows, over the walk cap " +
        s"of $cap rows (Similarity.WalkCollectCap)")
    rows
  }

  /** One ef-search beam entry; `(cos DESC, id ASC)` is the beam order. */
  private final case class BeamRow(id: Long, cos: Double, exp: Boolean)

  private def beamTop(rows: Seq[BeamRow], n: Int): Seq[BeamRow] =
    rows.sortWith { (a, b) =>
      val c = cmpDouble(a.cos, b.cos)
      if (c != 0) c > 0 else a.id < b.id
    }.take(n)

  /** The per-round beam merge + top-W cut, DRIVER-side: exactly
    * `groupBy(vec_id).agg(max(cos), max(exp))` over (marked beam ∪
    * scored neighbors) followed by the `(cos DESC, vec_id)` top-W —
    * the distributed form the oracle unrolls — computed locally over
    * the constant-bounded candidate set. `max(cos)` resolves through
    * [[cmpDouble]] (SQL double order: NaN greatest, ±0.0 equal);
    * neighbor rows carry exp = false, so the flag merge is the beam
    * entry's own flag. A vec_id reached both ways scores the SAME cos
    * bits (one codegen kernel, same inputs), so the max is a formality
    * the tie order never observes. */
  private def mergeCut(
      marked: Seq[BeamRow], nbrs: Iterator[(Long, Double)], w: Int): Seq[BeamRow] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Long, BeamRow]
    marked.foreach(b => m(b.id) = b)
    nbrs.foreach { case (id, cos) =>
      m.get(id) match {
        case None => m(id) = BeamRow(id, cos, exp = false)
        case Some(o) =>
          val best = if (cmpDouble(o.cos, cos) >= 0) o.cos else cos
          m(id) = BeamRow(id, best, o.exp)
      }
    }
    beamTop(m.values.toSeq, w)
  }

  /** The batched form of [[efSearch]] (s23's contract): all queries in
    * `qb` walk `g` simultaneously through one (query_id, vec_id) state
    * table; each round batches every query's frontier into ONE edge
    * join. Beam schema (query_id, vec_id, cos, exp). Shared by s23
    * and both of s31's layers.
    *
    * The beam state is held DRIVER-side (guide §1.2/§2.4: remove
    * per-round fixed costs before tuning inside them): it is bounded at
    * |query batch| × `GraphBeamWidth` rows — constants, independent of
    * corpus size — so materializing it locally replaces the previous
    * per-round localCheckpoint job, two broadcast-exchange builds and
    * the frontier-mark join with ONE distributed job per round (the
    * edge scan + merge + per-query cut that actually touches data).
    * The distributed leg is unchanged: the frontier joins `g`, scores
    * neighbors off the edge payload, and the beam cut runs the same
    * `(cos DESC, vec_id)` rank — results are bit-identical (gated by
    * the unrolled s23/s31 oracles). At 100 TB the walk's per-round cost
    * stays the `g` probe; only constant-sized coordination moved. */
  private def batchEfSearch(
      beam0: DataFrame, g: DataFrame, qb: DataFrame, rounds: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = beam0.sparkSession
    val schema = beam0.schema
    // (query batch)-sized: one row per query — the side the previous
    // form broadcast every round anyway
    val qbLocal = spark.createDataFrame(qb.collectAsList(), qb.schema)
    final case class QB(qid: Long, row: BeamRow)
    var beam: Seq[QB] = beam0.collect().toSeq.map(r =>
      QB(r.getLong(0), BeamRow(r.getLong(1), r.getDouble(2), r.getBoolean(3))))
    def beamDf(rows: Seq[QB]): DataFrame = spark.createDataFrame(
      rows.map(b => org.apache.spark.sql.Row(
        b.qid, b.row.id, b.row.cos, b.row.exp)).asJava, schema)
    for (_ <- 1 to rounds) {
      // .iterator before flatMap: flatMapping a Map with tuple results
      // would rebuild a Map keyed on qid and keep ONE pair per query
      val frontier: Set[(Long, Long)] = beam.groupBy(_.qid).iterator.flatMap {
        case (qid, rows) =>
          beamTop(rows.filter(!_.row.exp).map(_.row), GraphExpandPerRound)
            .map(r => (qid, r.id))
      }.toSet
      val marked = beam.map(b =>
        if (frontier((b.qid, b.row.id))) QB(b.qid, b.row.copy(exp = true))
        else b)
      if (frontier.isEmpty) beam = marked
      else {
        val fDf = spark.createDataFrame(
          frontier.toSeq.map(p => org.apache.spark.sql.Row(p._1, p._2)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
        // the round's ONE distributed job is the frontier-edge probe +
        // neighbor scoring — a single codegen stage, NO exchange: the
        // candidate set it returns is constant-bounded (|frontier| ×
        // the LSH-capped symmetrized out-degree), so the merge
        // aggregate and the per-query rank cut the previous form
        // shuffled for run in [[mergeCut]] on the driver instead
        // (guide §2.4: the exchange carried constants, not data)
        val nbrRows = collectCapped(g.join(broadcast(fDf), "vec_id")
          .join(broadcast(qbLocal), Seq("query_id"))
          .select(col("query_id"), col("nbr"),
            VectorOps.cosineR(col("ne"), col("qe")).as("cos")), "batchEfSearch")
        val byQid = scala.collection.mutable.LinkedHashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
        nbrRows.foreach { r =>
          byQid.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((r.getLong(1), r.getDouble(2)))
        }
        beam = marked.groupBy(_.qid).toSeq.sortBy(_._1).flatMap {
          case (qid, rows) =>
            val nb = byQid.getOrElse(qid, Nil)
            mergeCut(rows.map(_.row), nb.iterator, GraphBeamWidth)
              .map(QB(qid, _))
        }
      }
    }
    beamDf(beam)
  }

  /** `rounds` of the s22 ef-search contract over symmetrized graph `g`:
    * expand the top-`GraphExpandPerRound` unexpanded beam entries, score
    * their out-neighbors against query `q` off the edge payload, keep
    * the best `GraphBeamWidth` with expansion flags OR-merged. Beam
    * schema (vec_id, cos, exp). Shared by s22 and both of s30's layers.
    *
    * Beam state is held DRIVER-side — `GraphBeamWidth` rows, a
    * constant at any corpus scale (see [[batchEfSearch]] for the full
    * rationale): each round runs ONE distributed job (frontier-edge
    * probe of `g` + max-merge + top-W cut) instead of the previous
    * localCheckpoint + two broadcast builds + mark join. The query
    * vector is collected once (1 × dim) and rides the neighbor scoring
    * as a literal of the SAME array<float> type, so the cosine kernel
    * computes bit-identical values (gated by the unrolled s22/s30/s32
    * oracles). */
  private def efSearch(beam0: DataFrame, g: DataFrame, q: DataFrame, rounds: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = beam0.sparkSession
    val schema = beam0.schema
    val qe: Seq[Float] = q.select(col("qe")).head().getSeq[Float](0).toSeq
    var beam: Seq[BeamRow] = beam0.collect().toSeq.map(r =>
      BeamRow(r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    def beamDf(rows: Seq[BeamRow]): DataFrame = spark.createDataFrame(
      rows.map(b => org.apache.spark.sql.Row(b.id, b.cos, b.exp)).asJava,
      schema)
    for (_ <- 1 to rounds) {
      val frontier = beamTop(beam.filter(!_.exp), GraphExpandPerRound)
        .map(_.id).toSet
      val marked = beam.map(b =>
        if (frontier(b.id)) b.copy(exp = true) else b)
      if (frontier.isEmpty) beam = marked
      else {
        // frontier rides a broadcast-joined LocalRelation, not
        // `isin(literals)`: per-round literals would generate different
        // codegen source every round (one Janino compile per round,
        // ~0.1 s measured); the join's generated code is round-stable,
        // so round 2+ hit the codegen cache
        val fDf = spark.createDataFrame(
          frontier.toSeq.sorted.map(org.apache.spark.sql.Row(_)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
        // ONE single-stage distributed job per round (frontier-edge
        // probe + neighbor scoring, no exchange): the scored candidate
        // set is constant-bounded, so the merge aggregate and top-W cut
        // the previous form shuffled for run in [[mergeCut]] driver-side
        val nbrRows = collectCapped(g.join(broadcast(fDf), "vec_id")
          .select(col("nbr"),
            VectorOps.cosineR(col("ne"), typedLit(qe)).as("cos")), "efSearch")
        beam = mergeCut(marked,
          nbrRows.iterator.map(r => (r.getLong(0), r.getDouble(1))),
          GraphBeamWidth)
      }
    }
    beamDf(beam)
  }

  /** The s22 oracle: unrolls the ef-search rounds as chained CTEs over
    * the shared s17 graph chain — x$k = the top-E unexpanded frontier,
    * c$k = beam (frontier marked expanded) ∪ the frontier's
    * out-neighbors scored off the edge payload, b$k = top-W by
    * (cos DESC, vec_id) with expansion flags OR-merged. */
  private def graphSearchSql(rounds: Int, e: Int, w: Int): String = {
    // The round CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references its predecessor three times (frontier cut,
    // mark, expand) — inlined, round 10 would re-derive round 0 3^10
    // times (observed as a too-many-open-files blowup re-scanning the
    // parquet). Materialization makes the unrolled chain linear, which
    // is the semantics the Spark side's per-round localCheckpoint has.
    val neCos = cosColsSql("ge.ne", "q.embedding")
    val roundsSql = (1 to rounds).map { k =>
      s"""x$k AS MATERIALIZED (
         |  SELECT vec_id FROM b${k - 1} WHERE NOT exp
         |  ORDER BY cos DESC, vec_id LIMIT $e),
         |c$k AS (
         |  SELECT b.vec_id, b.cos,
         |         (b.exp OR b.vec_id IN (SELECT vec_id FROM x$k)) AS exp
         |  FROM b${k - 1} b
         |  UNION ALL
         |  SELECT ge.nbr AS vec_id, $neCos AS cos, false AS exp
         |  FROM ge JOIN x$k x ON ge.vec_id = x.vec_id, q),
         |b$k AS MATERIALIZED (
         |  SELECT vec_id, max(cos) AS cos, bool_or(exp) AS exp
         |  FROM c$k GROUP BY vec_id
         |  ORDER BY cos DESC, vec_id LIMIT $w)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |ge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM g
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM g) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |b0 AS MATERIALIZED (
       |  SELECT e.vec_id, ${cosSql("e", "q")} AS cos, false AS exp
       |  FROM embeddings e, q
       |  WHERE e.vec_id = (SELECT min(vec_id) FROM g)),
       |$roundsSql
       |SELECT vec_id, cos FROM b$rounds WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  /** The coarse-layer twin of [[knnGraphCtes]] for s30: the SAME banded
    * construction (bands, cap, rounded cosine, rank/tiebreak) restricted
    * to the sampled coarse nodes (vec_id ≡ 1 mod [[HierCoarseMod]]) —
    * kept textually parallel so the two layers can never drift. */
  private val coarseGraphCtes =
    s"""csig0 AS (
       |  SELECT vec_id, embedding, ${bucketSql(8)} AS b8
       |  FROM embeddings WHERE vec_id % $HierCoarseMod = 1),
       |cbanded AS (
       |  SELECT vec_id, embedding, 0 AS band, b8 & 15 AS bucket FROM csig0
       |  UNION ALL
       |  SELECT vec_id, embedding, 1 AS band, b8 >> 4 AS bucket FROM csig0),
       |cbsz AS (SELECT band, bucket, count(*) AS bn FROM cbanded GROUP BY 1, 2),
       |csig AS (
       |  SELECT s.vec_id, s.embedding, s.band, s.bucket FROM cbanded s
       |  JOIN cbsz ON cbsz.band = s.band AND cbsz.bucket = s.bucket
       |          AND cbsz.bn <= ${Dedup.MaxBucketSize}),
       |cp AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS nbr, ${cosSql("a", "b")} AS cos
       |  FROM csig a JOIN csig b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |cg AS (
       |  SELECT vec_id, nbr, cos, CAST(rk AS BIGINT) AS rk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rk
       |    FROM cp) WHERE rk <= $GraphDegree)""".stripMargin

  /** The s30 oracle: the s22 round template instantiated twice — coarse
    * rounds hb1..hbC over the coarse symmetrized edges `cge`, then fine
    * rounds fb1..fbF over the full `ge`, seeded from the coarse beam
    * with expansion flags cleared. Same MATERIALIZED-round requirement
    * as s22 (three predecessor references per round). */
  /** The s30 oracle's WITH-body (through the last fine-round beam CTE
    * `fb<fineRounds>`) — shared by s30 and the s32 recall harness. */
  private def hierGraphSearchCtes(
      coarseRounds: Int, fineRounds: Int, e: Int, w: Int): String = {
    def stage(prefix: String, edge: String, rounds: Int): String = {
      val neCos = cosColsSql(s"$edge.ne", "q.embedding")
      (1 to rounds).map { k =>
        s"""${prefix}x$k AS MATERIALIZED (
           |  SELECT vec_id FROM ${prefix}b${k - 1} WHERE NOT exp
           |  ORDER BY cos DESC, vec_id LIMIT $e),
           |${prefix}c$k AS (
           |  SELECT b.vec_id, b.cos,
           |         (b.exp OR b.vec_id IN (SELECT vec_id FROM ${prefix}x$k)) AS exp
           |  FROM ${prefix}b${k - 1} b
           |  UNION ALL
           |  SELECT $edge.nbr AS vec_id, $neCos AS cos, false AS exp
           |  FROM $edge JOIN ${prefix}x$k x ON $edge.vec_id = x.vec_id, q),
           |${prefix}b$k AS MATERIALIZED (
           |  SELECT vec_id, max(cos) AS cos, bool_or(exp) AS exp
           |  FROM ${prefix}c$k GROUP BY vec_id
           |  ORDER BY cos DESC, vec_id LIMIT $w)""".stripMargin
      }.mkString(",\n")
    }
    s"""$knnGraphCtes,
       |$coarseGraphCtes,
       |ge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM g
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM g) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |cge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM cg
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM cg) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |hb0 AS MATERIALIZED (
       |  SELECT e.vec_id, ${cosSql("e", "q")} AS cos, false AS exp
       |  FROM embeddings e, q
       |  WHERE e.vec_id = (SELECT min(vec_id) FROM cg)),
       |${stage("h", "cge", coarseRounds)},
       |fb0 AS MATERIALIZED (
       |  SELECT vec_id, cos, false AS exp FROM hb$coarseRounds),
       |${stage("f", "ge", fineRounds)}""".stripMargin
  }

  private def hierGraphSearchSql(
      coarseRounds: Int, fineRounds: Int, e: Int, w: Int): String =
    s"""WITH ${hierGraphSearchCtes(coarseRounds, fineRounds, e, w)}
       |SELECT vec_id, cos FROM fb$fineRounds WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** The s23 oracle: s22's ef-search generalized to a QUERY BATCH — all
    * per-round cuts become rank windows partitioned by query_id, and
    * frontier membership is a keyed LEFT JOIN instead of a scalar IN.
    * Same MATERIALIZED-round requirement (three predecessor references
    * per round). */
  private def batchGraphSearchSql(rounds: Int, e: Int, w: Int): String = {
    val neCos = cosColsSql("ge.ne", "q.embedding")
    val roundsSql = (1 to rounds).map { k =>
      s"""x$k AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM b${k - 1} WHERE NOT exp) WHERE rk <= $e),
         |c$k AS (
         |  SELECT b.query_id, b.vec_id, b.cos,
         |         (b.exp OR x.vec_id IS NOT NULL) AS exp
         |  FROM b${k - 1} b LEFT JOIN x$k x
         |    ON x.query_id = b.query_id AND x.vec_id = b.vec_id
         |  UNION ALL
         |  SELECT x.query_id, ge.nbr AS vec_id, $neCos AS cos, false AS exp
         |  FROM ge JOIN x$k x ON ge.vec_id = x.vec_id
         |  JOIN qb q ON q.query_id = x.query_id),
         |b$k AS MATERIALIZED (
         |  SELECT query_id, vec_id, cos, exp FROM (
         |    SELECT query_id, vec_id, cos, exp,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM (SELECT query_id, vec_id, max(cos) AS cos, bool_or(exp) AS exp
         |          FROM c$k GROUP BY 1, 2)) WHERE rk <= $w)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |ge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM g
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM g) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |qb AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |b0 AS MATERIALIZED (
       |  SELECT q.query_id, e.vec_id, ${cosSql("e", "q")} AS cos, false AS exp
       |  FROM embeddings e, qb q
       |  WHERE e.vec_id = (SELECT min(vec_id) FROM g)),
       |$roundsSql
       |SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rk, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM b$rounds WHERE vec_id >= 5) WHERE rk <= 10""".stripMargin
  }

  /** The s31 oracle: the s23 batched round template instantiated twice —
    * coarse rounds hb1..hbC over `cge` (per-query rank windows, keyed
    * frontier joins), then fine rounds fb1..fbF over `ge`, each query's
    * coarse beam reseeding its fine walk with expansion flags cleared.
    * Same MATERIALIZED-round requirement as s23. */
  private def hierBatchGraphSearchSql(
      coarseRounds: Int, fineRounds: Int, e: Int, w: Int): String = {
    def stage(prefix: String, edge: String, rounds: Int): String = {
      val neCos = cosColsSql(s"$edge.ne", "q.embedding")
      (1 to rounds).map { k =>
        s"""${prefix}x$k AS MATERIALIZED (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |    FROM ${prefix}b${k - 1} WHERE NOT exp) WHERE rk <= $e),
           |${prefix}c$k AS (
           |  SELECT b.query_id, b.vec_id, b.cos,
           |         (b.exp OR x.vec_id IS NOT NULL) AS exp
           |  FROM ${prefix}b${k - 1} b LEFT JOIN ${prefix}x$k x
           |    ON x.query_id = b.query_id AND x.vec_id = b.vec_id
           |  UNION ALL
           |  SELECT x.query_id, $edge.nbr AS vec_id, $neCos AS cos, false AS exp
           |  FROM $edge JOIN ${prefix}x$k x ON $edge.vec_id = x.vec_id
           |  JOIN qb q ON q.query_id = x.query_id),
           |${prefix}b$k AS MATERIALIZED (
           |  SELECT query_id, vec_id, cos, exp FROM (
           |    SELECT query_id, vec_id, cos, exp,
           |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
           |    FROM (SELECT query_id, vec_id, max(cos) AS cos, bool_or(exp) AS exp
           |          FROM ${prefix}c$k GROUP BY 1, 2)) WHERE rk <= $w)""".stripMargin
      }.mkString(",\n")
    }
    s"""WITH $knnGraphCtes,
       |$coarseGraphCtes,
       |ge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM g
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM g) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |cge AS MATERIALIZED (
       |  SELECT u.vec_id, u.nbr, e.embedding AS ne
       |  FROM (SELECT vec_id, nbr FROM cg
       |        UNION SELECT nbr AS vec_id, vec_id AS nbr FROM cg) u
       |  JOIN embeddings e ON e.vec_id = u.nbr),
       |qb AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |hb0 AS MATERIALIZED (
       |  SELECT q.query_id, e.vec_id, ${cosSql("e", "q")} AS cos, false AS exp
       |  FROM embeddings e, qb q
       |  WHERE e.vec_id = (SELECT min(vec_id) FROM cg)),
       |${stage("h", "cge", coarseRounds)},
       |fb0 AS MATERIALIZED (
       |  SELECT query_id, vec_id, cos, false AS exp FROM hb$coarseRounds),
       |${stage("f", "ge", fineRounds)}
       |SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rk, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM fb$fineRounds WHERE vec_id >= 5) WHERE rk <= 10""".stripMargin
  }

  /** Per-dimension corpus min/max as two aligned arrays — the scalar
    * quantizer's calibration. One partial-aggregated pass; the result is
    * one tiny row, broadcast to the encode step. */
  private def quantBounds(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          x => x.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          x => x.getField("mx")).as("mxs"))

  /** uint8 scalar quantization: code_i = round((x_i−mn_i)/(mx_i−mn_i)·255),
    * clamped; degenerate constant dims code to 0. Codes are `array<bigint>`
    * carrying uint8 values — a production layout would pack them as BINARY
    * (4× memory cut vs float32); the operator contract (per-dim bounds,
    * codes, integer distance, exact rerank) is identical. */
  private def quantized(emb: DataFrame, bounds: DataFrame): DataFrame =
    emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mns"), i + 1)
          val mx = element_at(col("mxs"), i + 1)
          when(mx > mn,
            greatest(lit(0L), least(lit(255L),
              floor((x.cast("double") - mn) / (mx - mn) * 255 + 0.5))))
            .otherwise(lit(0L))
        }).as("qc"))

  val defs: Seq[QueryDef] = Seq(

    // Scalar-quantized kNN — the memory-compression path a 100 TB vector
    // store runs: calibrate per-dim bounds (one pass), encode the corpus
    // to uint8 codes ONCE (index build, materialized — the interpreted
    // encode HOF is amortized write-side), then search on EXACT int64
    // code dot products via the native codegen int_dot_product (no fp in
    // the scan at all), and re-rank only the top-50 survivors with the
    // exact float cosine. The oracle reproduces calibration, encoding,
    // integer scoring, and rerank bit-for-bit — integer scores make the
    // candidate cut deterministic across engines.
    QueryDef.sql("s09_quantized_knn",
      s"""WITH dims AS (
         |  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS v
         |  FROM embeddings),
         |b AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM dims GROUP BY dim),
         |bounds AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM b),
         |codes AS (
         |  SELECT e.vec_id,
         |         list_transform(range(1, len(e.embedding)+1), i ->
         |           CASE WHEN bo.mxs[i] > bo.mns[i]
         |                THEN greatest(0, least(255,
         |                  CAST(floor((e.embedding[i]::DOUBLE - bo.mns[i]) / (bo.mxs[i] - bo.mns[i]) * 255 + 0.5) AS BIGINT)))
         |                ELSE 0 END) AS qc
         |  FROM embeddings e, bounds bo),
         |q AS (SELECT qc FROM codes WHERE vec_id = 0),
         |scored AS (
         |  SELECT c.vec_id,
         |         CAST(list_sum(list_transform(range(1, len(c.qc)+1), i -> c.qc[i] * q.qc[i])) AS BIGINT) AS qdot
         |  FROM codes c, q WHERE c.vec_id <> 0),
         |top AS (SELECT vec_id, qdot FROM scored ORDER BY qdot DESC, vec_id LIMIT 50),
         |qe AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT t.vec_id, t.qdot, ${cosSql("e", "qe")} AS cos
         |FROM top t JOIN embeddings e ON e.vec_id = t.vec_id, qe
         |ORDER BY cos DESC, t.vec_id LIMIT 10""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // index build: calibrate + encode once, materialized
        val codes = quantized(emb, quantBounds(emb)).localCheckpoint(true)
        val q = codes.filter(col("vec_id") === 0).select(col("qc").as("qqc"))
        val top = codes.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.intDot(col("qc"), col("qqc")).as("qdot"))
          .orderBy(col("qdot").desc, col("vec_id"))
          .limit(50)
        val qe = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        top.join(emb, "vec_id")
          .crossJoin(broadcast(qe))
          .select(col("vec_id"), col("qdot"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }
    },

    // Quantization-error audit — the ops metric a vector store watches
    // before and after committing to a compression level (the quant
    // lifecycle's missing instrument next to s09's search and s11/s20/
    // s32's recall): per dimension, the uint8 scalar-quantizer's
    // reconstruction error |x − (mn + code·(mx−mn)/255)| aggregated as
    // max and total over the corpus. Per-element errors quantize to 12
    // decimals before the sum (the t31/s24 re-sync contract — both
    // engines add identical summands) and max is order-free; a dim
    // whose error distribution drifts after an index rebuild is the
    // re-calibration trigger. One codes⋈corpus pass re-using the s09
    // calibration + encode; dim-keyed agg, 64 rows out.
    QueryDef.sql("s33_quant_error",
      """WITH dims AS (
        |  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |b AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM dims GROUP BY dim),
        |bounds AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM b),
        |codes AS (
        |  SELECT e.vec_id,
        |         list_transform(range(1, len(e.embedding)+1), i ->
        |           CASE WHEN bo.mxs[i] > bo.mns[i]
        |                THEN greatest(0, least(255,
        |                  CAST(floor((e.embedding[i]::DOUBLE - bo.mns[i]) / (bo.mxs[i] - bo.mns[i]) * 255 + 0.5) AS BIGINT)))
        |                ELSE 0 END) AS qc
        |  FROM embeddings e, bounds bo),
        |errsrc AS (
        |  SELECT generate_subscripts(c.qc, 1) AS dim, unnest(c.qc) AS code,
        |         unnest(e.embedding)::DOUBLE AS x
        |  FROM codes c JOIN embeddings e ON e.vec_id = c.vec_id),
        |err AS (
        |  SELECT s.dim, round(abs(s.x - (b.mn + s.code * (b.mx - b.mn) / 255)), 12) AS err
        |  FROM errsrc s JOIN b USING (dim))
        |SELECT err.dim AS dim, b.mn, b.mx,
        |       max(err) AS max_err, round(sum(err), 6) AS total_err
        |FROM err JOIN b USING (dim)
        |GROUP BY err.dim, b.mn, b.mx""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val bounds = quantBounds(emb)
        val codes = quantized(emb, bounds).localCheckpoint(true)
        val dimIdx = col("d0") + 1
        emb.join(codes, "vec_id")
          .crossJoin(broadcast(bounds))
          .select(posexplode(arrays_zip(col("embedding"), col("qc"))).as(Seq("d0", "z")),
            col("mns"), col("mxs"))
          .select(dimIdx.cast("long").as("dim"),
            col("z.embedding").cast("double").as("x"), col("z.qc").as("code"),
            element_at(col("mns"), dimIdx.cast("int")).as("mn"),
            element_at(col("mxs"), dimIdx.cast("int")).as("mx"))
          .select(col("dim"), col("mn"), col("mx"),
            round(abs(col("x") - (col("mn") + col("code") * (col("mx") - col("mn")) / 255)), 12)
              .as("err"))
          .groupBy("dim", "mn", "mx")
          .agg(max("err").as("max_err"), round(sum("err"), 6).as("total_err"))
      }
    },

    // Exact top-10 nearest neighbors of vec_id=0 by cosine. Deterministic
    // order: rank on the ROUNDED cosine with vec_id tiebreak.
    QueryDef.sql("s01_knn_bruteforce",
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e", "q")} AS cos
         |FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
    },

    // LSH bucket histogram — verifies the signature computation end-to-end
    // (any per-plane sign flip changes the histogram).
    QueryDef.sql("s02_ann_buckets",
      s"""SELECT ${bucketSql(8)} AS bucket, count(*) AS n
         |FROM embeddings GROUP BY 1""".stripMargin) {
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(VectorOps.hyperplaneBucket(col("embedding"), planes = 8).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
    },

    // ANN probe: rank only the query's own bucket (4 planes → 16 buckets,
    // ~1/16 of the corpus scanned). The bucketed analogue of s01.
    QueryDef.sql("s03_ann_query",
      s"""WITH sig AS (
         |  SELECT vec_id, embedding, ${bucketSql(4)} AS bucket
         |  FROM embeddings),
         |q AS (SELECT bucket, embedding FROM sig WHERE vec_id = 0)
         |SELECT e.vec_id, ${cosSql("e", "q")} AS cos
         |FROM sig e JOIN q ON e.bucket = q.bucket
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        val sig = Tables.embeddings(s, dir).select(
          col("vec_id"), col("embedding"),
          VectorOps.hyperplaneBucket(col("embedding"), planes = 4).as("bucket"))
        val q = sig.filter(col("vec_id") === 0)
          .select(col("bucket"), col("embedding").as("qe"))
        sig.join(broadcast(q), Seq("bucket"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
    },

    // IVF probe — the centroid-quantizer ANN path: assign every vector to
    // its nearest centroid (coarse quantizer = per-label means here; a
    // k-means fit slots into the same shape), then the query scans ONLY
    // its own centroid's inverted list (~1/nlist of the corpus). The
    // centroid table is tiny and broadcast; assignment is one pass.
    QueryDef.sql("s05_ivf_probe", {
      val cos = cosSql("a", "q")
      s"""WITH $ivfCtes,
         |q AS (SELECT vec_id, embedding, clabel FROM assigned WHERE vec_id = 0)
         |SELECT a.vec_id, $cos AS cos
         |FROM assigned a, q WHERE a.clabel = q.clabel AND a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val assigned = ivfAssigned(emb, labelCentroids(emb))
        val q = assigned.filter(col("vec_id") === 0)
          .select(col("clabel"), col("embedding").as("qe"))
        assigned.join(broadcast(q), Seq("clabel"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }
    },

    // IVF multi-probe — the recall knob every production IVF index has:
    // the query scans its TOP-2 nearest centroids' inverted lists instead
    // of one (a vector near a Voronoi boundary lives in one cell while
    // its neighbors sit in the adjacent one; single-probe misses them).
    // nprobe=2 doubles the scanned fraction (~2/nlist of the corpus) for
    // a large recall jump — the centroid ranking itself is a tiny
    // broadcast-side sort, so the plan shape stays: broadcast centroid
    // table, one assignment pass, probe join on the centroid label.
    QueryDef.sql("s07_ivf_multiprobe", {
      val cos = cosSql("a", "q")
      val qcCos =
        """round(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * c.cvec[i]))
          |    / (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
          |     * sqrt(list_sum(list_transform(range(1, len(c.cvec)+1), i -> c.cvec[i] * c.cvec[i])))), 6)""".stripMargin
      s"""WITH $ivfCtes,
         |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
         |top2 AS (
         |  SELECT c.label AS clabel FROM cent c, q
         |  ORDER BY $qcCos DESC, c.label LIMIT 2)
         |SELECT a.vec_id, $cos AS cos
         |FROM assigned a JOIN top2 t ON a.clabel = t.clabel, q
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cent = labelCentroids(emb) // checkpointed: reused by top2 AND assignment
        val assigned = ivfAssigned(emb, cent)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        // rank the (tiny, checkpointed) centroid table against the query
        // and keep nprobe=2 labels — rounded cosine + label tiebreak keeps
        // the selection deterministic across engines
        val top2 = cent.crossJoin(broadcast(q))
          .select(col("clabel"), VectorOps.cosineR(col("cvec"), col("qe")).as("qcos"))
          .orderBy(col("qcos").desc, col("clabel"))
          .limit(2)
          .select("clabel")
        assigned.join(broadcast(top2), Seq("clabel"))
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }
    },

    // The unsupervised IVF fit: deterministic Lloyd's k-means (see
    // graft.functions.KMeans — broadcast centroids, one corpus pass per
    // iteration), now hash-checked end-to-end: the oracle re-derives the
    // fit with Dedup.kmeansCtes (the d12 machinery — per-round means
    // quantized to 4dp, distances to 6dp re-sync both engines every
    // round) and summarizes sizes + inertia over the final assignment.
    // Convergence and recovery stay asserted in KMeansSpec.
    QueryDef.sql("s06_kmeans_ivf_fit",
      s"""WITH ${Dedup.kmeansCtes(8, 3, 4, 6)},
         |fd AS (
         |  SELECT e.vec_id, c.cid, ${Dedup.sqDistSql("e.embedding", "c.ce", 6)} AS d2
         |  FROM embeddings e, cent3 c),
         |asn AS (
         |  SELECT vec_id, cid AS cluster, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |       round(sum(CAST(round(d2 * 1000000.0) AS BIGINT)) / 1000000.0, 4) AS inertia
         |FROM asn GROUP BY cluster""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.functions.KMeans.fit(emb, "embedding", "vec_id",
          k = 8, iters = 3, meanDecimals = 4, distDecimals = 6)
        graft.functions.KMeans.summarize(emb, "embedding", "vec_id", model,
          distDecimals = 6)
          .select(col("cluster").cast("long").as("cluster"), col("n"), col("inertia"))
      }
    },

    // Batched kNN — the retrieval workload as it actually runs: a BATCH
    // of query vectors, top-k per query in one job (per-query driver
    // round-trips are the anti-pattern). Queries broadcast (the batch is
    // small by definition), the corpus streams through one codegen'd
    // scan scoring all queries, and the per-query top-k runs through the
    // salted two-phase TopK operator: with query_id a LOW-cardinality
    // key, a naive one-shot window would funnel the whole corpus through
    // |batch| tasks at scale.
    QueryDef.sql("s08_batch_knn", {
      val cos = cosSql("e", "q")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rk, cos FROM (
         |  SELECT q.query_id, e.vec_id, $cos AS cos,
         |         row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY $cos DESC, e.vec_id) AS rk
         |  FROM embeddings e, q WHERE e.vec_id >= 5)
         |WHERE rk <= 3""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val scored = emb.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(q))
          .select(col("query_id"), col("vec_id"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
        TopK.topKPerKey(scored, Seq("query_id"),
            Seq(col("cos").desc, col("vec_id")), k = 3,
            saltExpr = hash(col("vec_id")))
          .select(col("query_id"), col("vec_id"), col("rk").cast("long").as("rk"), col("cos"))
      }
    },

    // Per-label centroids, one row per (label, dim): the building block of
    // IVF partitioning / cluster-based retrieval. posexplode + one hash agg.
    QueryDef.sql("s04_label_centroids",
      """SELECT label, dim, round(avg(v), 6) AS mean_v FROM (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings) GROUP BY label, dim""".stripMargin) {
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))
    },

    // Product-quantization ADC search — the memory-frontier ANN path
    // (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
    // the 64-dim vector is split into m=2 subspaces, each subspace gets a
    // 16-entry codebook (sub-quantizer = the deterministic sign-LSH
    // bucketing over the SUBvector + per-bucket mean, so the oracle can
    // rebuild it; a k-means sub-quantizer slots into the same shape), and
    // the corpus is encoded as TWO BYTES per vector. At query time the
    // query precomputes one 16-entry dot-product table per subspace
    // (asymmetric distance computation): the scan never touches a float —
    // score = table1[c1] + table2[c2], two broadcast 16-row joins on
    // tiny int keys + one add, then TakeOrdered. At 100 TB: the codebook
    // build is one amortized index-build agg, the per-vector index state
    // is m bytes (vs 256 for float32), the search plan has ZERO corpus
    // shuffle and ZERO per-row vector math. All ranking on rounded
    // doubles (the s01 contract) so the cut is engine-stable.
    QueryDef.sql("s10_pq_adc",
      s"""WITH sv AS (
         |  SELECT vec_id, embedding[1:32] AS s1, embedding[33:64] AS s2 FROM embeddings),
         |coded AS (
         |  SELECT vec_id, s1, s2, ${pqBucketSql("s1")} AS c1, ${pqBucketSql("s2")} AS c2
         |  FROM sv),
         |cb1 AS (
         |  SELECT code, list(mv ORDER BY dim) AS cvec FROM (
         |    SELECT c1 AS code, dim, round(avg(v), 6) AS mv FROM (
         |      SELECT c1, generate_subscripts(s1, 1) AS dim, unnest(s1)::DOUBLE AS v FROM coded)
         |    GROUP BY 1, 2) GROUP BY code),
         |cb2 AS (
         |  SELECT code, list(mv ORDER BY dim) AS cvec FROM (
         |    SELECT c2 AS code, dim, round(avg(v), 6) AS mv FROM (
         |      SELECT c2, generate_subscripts(s2, 1) AS dim, unnest(s2)::DOUBLE AS v FROM coded)
         |    GROUP BY 1, 2) GROUP BY code),
         |q AS (SELECT s1, s2 FROM coded WHERE vec_id = 0),
         |dt1 AS (SELECT cb1.code,
         |          round(list_sum(list_transform(range(1, 33), i -> q.s1[i]::DOUBLE * cb1.cvec[i])), 6) AS pd
         |        FROM cb1, q),
         |dt2 AS (SELECT cb2.code,
         |          round(list_sum(list_transform(range(1, 33), i -> q.s2[i]::DOUBLE * cb2.cvec[i])), 6) AS pd
         |        FROM cb2, q)
         |SELECT c.vec_id, c.c1, c.c2, round(dt1.pd + dt2.pd, 6) AS adc
         |FROM coded c JOIN dt1 ON c.c1 = dt1.code JOIN dt2 ON c.c2 = dt2.code
         |WHERE c.vec_id <> 0
         |ORDER BY adc DESC, c.vec_id LIMIT 10""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // index build: split, sub-quantize, encode — materialized once
        val coded = emb.select(
          col("vec_id"),
          slice(col("embedding"), 1, 32).as("s1"),
          slice(col("embedding"), 33, 32).as("s2"))
          .select(col("vec_id"), col("s1"), col("s2"),
            VectorOps.hyperplaneBucket(col("s1"), planes = 4, dim = 32).as("c1"),
            VectorOps.hyperplaneBucket(col("s2"), planes = 4, dim = 32).as("c2"))
          .localCheckpoint(true)
        def codebook(sub: String, code: String): DataFrame = coded
          .select(col(code).as("code"), posexplode(col(sub)).as(Seq("d0", "v")))
          .groupBy("code", "d0").agg(round(avg(col("v").cast("double")), 6).as("mv"))
          .groupBy("code")
          .agg(transform(array_sort(collect_list(struct(col("d0"), col("mv")))),
            x => x.getField("mv")).as("cvec"))
        val q = coded.filter(col("vec_id") === 0)
          .select(col("s1").as("qs1"), col("s2").as("qs2"))
        def distTable(cb: DataFrame, qsub: String): DataFrame = cb
          .crossJoin(broadcast(q))
          .select(col("code"), round(VectorOps.dot(col(qsub), col("cvec")), 6).as("pd"))
        val dt1 = distTable(codebook("s1", "c1"), "qs1")
          .select(col("code").as("c1"), col("pd").as("pd1"))
        val dt2 = distTable(codebook("s2", "c2"), "qs2")
          .select(col("code").as("c2"), col("pd").as("pd2"))
        coded.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("c1"), col("c2"))
          .join(broadcast(dt1), Seq("c1"))
          .join(broadcast(dt2), Seq("c2"))
          .select(col("vec_id"), col("c1"), col("c2"),
            round(col("pd1") + col("pd2"), 6).as("adc"))
          .orderBy(col("adc").desc, col("vec_id"))
          .limit(10)
      }
    },

    // ANN recall evaluation — the harness every approximate index ships
    // with: recall@10 of the sign-LSH bucketed search (s03's path)
    // against the exact brute-force top-10 (s01's path) for the same
    // query. The metric IS the contract a production ANN deployment
    // monitors when it tunes planes/nprobe; computing it in-engine means
    // the recall audit runs as one distributed query over any corpus
    // slice, not a driver-side script. Both candidate lists rank on
    // ROUNDED cosine + vec_id (the s01 contract) so the compared sets
    // are engine-stable; the 10-row lists are checkpointed so the
    // corpus is scanned once per path.
    QueryDef.sql("s11_ann_recall",
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |ex AS (
         |  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY ${cosSql("e", "q")} DESC, e.vec_id LIMIT 10),
         |sig AS (
         |  SELECT vec_id, embedding, ${bucketSql(4)} AS bucket FROM embeddings),
         |qb AS (SELECT bucket, embedding FROM sig WHERE vec_id = 0),
         |ann AS (
         |  SELECT e.vec_id FROM sig e JOIN qb ON e.bucket = qb.bucket
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${cosSql("e", "qb")} DESC, e.vec_id LIMIT 10)
         |SELECT CAST((SELECT count(*) FROM ann) AS BIGINT) AS n_ann,
         |       CAST(count(*) AS BIGINT) AS n_hit,
         |       round(count(*) / 10.0, 3) AS recall_at_10
         |FROM ex JOIN ann USING (vec_id)""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val exact = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select("vec_id")
        val sig = emb.select(col("vec_id"), col("embedding"),
          VectorOps.hyperplaneBucket(col("embedding"), planes = 4).as("bucket"))
        val qb = sig.filter(col("vec_id") === 0)
          .select(col("bucket"), col("embedding").as("qe"))
        val ann = sig.join(broadcast(qb), Seq("bucket"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select("vec_id")
          .localCheckpoint(true)
        exact.join(ann, "vec_id")
          .agg(count(lit(1)).as("n_hit"),
            round(count(lit(1)) / 10.0, 3).as("recall_at_10"))
          .crossJoin(ann.agg(count(lit(1)).as("n_ann")))
      }
    },

    // IVF-PQ — the composition a billion-vector index actually runs
    // (FAISS's IndexIVFPQ): the coarse quantizer (per-label centroids)
    // partitions the corpus into inverted lists, and each vector's
    // RESIDUAL from its centroid is product-quantized (s10's two-subspace
    // sub-quantizer over the residual). Query time: rank centroids, probe
    // the top-2 lists (s07's recall knob), and score candidates by the
    // decomposition dot(q,v) = dot(q,c) + dot(q,r) ≈ qdotc[list] +
    // table1[c1] + table2[c2] — every term precomputed on the tiny
    // broadcast side, so the probe scan is THREE broadcast lookups and
    // two adds per candidate: zero corpus shuffle, zero per-row vector
    // math, m bytes + a list id of index state per vector. Residuals
    // (not raw vectors) are what make PQ accurate inside a cell: they
    // are centered, so the shared codebook spends its 16 entries on the
    // within-cell spread. All ranking on rounded doubles (s01 contract).
    QueryDef.sql("s12_ivfpq", {
      val qcCos =
        """round(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * c.cvec[i]))
          |    / (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
          |     * sqrt(list_sum(list_transform(range(1, len(c.cvec)+1), i -> c.cvec[i] * c.cvec[i])))), 6)""".stripMargin
      s"""WITH $ivfCtes,
         |resid AS (
         |  SELECT a.vec_id, a.clabel,
         |         list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.cvec[i]) AS r
         |  FROM assigned a JOIN cent c ON a.clabel = c.label),
         |rsub AS (SELECT vec_id, clabel, r[1:32] AS r1, r[33:64] AS r2 FROM resid),
         |coded AS (
         |  SELECT vec_id, clabel, r1, r2, ${pqBucketSql("r1")} AS c1, ${pqBucketSql("r2")} AS c2
         |  FROM rsub),
         |cb1 AS (
         |  SELECT code, list(mv ORDER BY dim) AS cvec FROM (
         |    SELECT c1 AS code, dim, round(avg(v), 6) AS mv FROM (
         |      SELECT c1, generate_subscripts(r1, 1) AS dim, unnest(r1) AS v FROM coded)
         |    GROUP BY 1, 2) GROUP BY code),
         |cb2 AS (
         |  SELECT code, list(mv ORDER BY dim) AS cvec FROM (
         |    SELECT c2 AS code, dim, round(avg(v), 6) AS mv FROM (
         |      SELECT c2, generate_subscripts(r2, 1) AS dim, unnest(r2) AS v FROM coded)
         |    GROUP BY 1, 2) GROUP BY code),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |top2 AS (
         |  SELECT c.label AS clabel,
         |         round(list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * c.cvec[i])), 6) AS qdotc
         |  FROM cent c, q
         |  ORDER BY $qcCos DESC, c.label LIMIT 2),
         |dt1 AS (SELECT cb1.code,
         |          round(list_sum(list_transform(range(1, 33), i -> q.embedding[i]::DOUBLE * cb1.cvec[i])), 6) AS pd
         |        FROM cb1, q),
         |dt2 AS (SELECT cb2.code,
         |          round(list_sum(list_transform(range(1, 33), i -> q.embedding[i+32]::DOUBLE * cb2.cvec[i])), 6) AS pd
         |        FROM cb2, q)
         |SELECT co.vec_id, co.clabel, co.c1, co.c2,
         |       round(t.qdotc + dt1.pd + dt2.pd, 6) AS adc
         |FROM coded co JOIN top2 t ON co.clabel = t.clabel
         |JOIN dt1 ON co.c1 = dt1.code JOIN dt2 ON co.c2 = dt2.code
         |WHERE co.vec_id <> 0
         |ORDER BY adc DESC, co.vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cent = labelCentroids(emb)
        // index build: assign, take residuals, sub-quantize — materialized
        val coded = ivfAssigned(emb, cent)
          .join(broadcast(cent.select(col("clabel"), col("cvec"))), Seq("clabel"))
          .select(col("vec_id"), col("clabel"),
            zip_with(col("embedding"), col("cvec"), (x, c) => x.cast("double") - c).as("r"))
          .select(col("vec_id"), col("clabel"),
            slice(col("r"), 1, 32).as("r1"), slice(col("r"), 33, 32).as("r2"))
          .select(col("vec_id"), col("clabel"), col("r1"), col("r2"),
            VectorOps.hyperplaneBucket(col("r1"), planes = 4, dim = 32).as("c1"),
            VectorOps.hyperplaneBucket(col("r2"), planes = 4, dim = 32).as("c2"))
          .localCheckpoint(true)
        def codebook(sub: String, code: String): DataFrame = coded
          .select(col(code).as("code"), posexplode(col(sub)).as(Seq("d0", "v")))
          .groupBy("code", "d0").agg(round(avg(col("v")), 6).as("mv"))
          .groupBy("code")
          .agg(transform(array_sort(collect_list(struct(col("d0"), col("mv")))),
            x => x.getField("mv")).as("cvec"))
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val top2 = cent.crossJoin(broadcast(q))
          .select(col("clabel"),
            VectorOps.cosineR(col("cvec"), col("qe")).as("qcos"),
            round(VectorOps.dot(col("qe"), col("cvec")), 6).as("qdotc"))
          .orderBy(col("qcos").desc, col("clabel")).limit(2)
          .select("clabel", "qdotc")
        val qs = q.select(
          slice(col("qe"), 1, 32).as("qs1"), slice(col("qe"), 33, 32).as("qs2"))
        def distTable(cb: DataFrame, qsub: String, code: String, pd: String): DataFrame = cb
          .crossJoin(broadcast(qs))
          .select(col("code").as(code), round(VectorOps.dot(col(qsub), col("cvec")), 6).as(pd))
        val dt1 = distTable(codebook("r1", "c1"), "qs1", "c1", "pd1")
        val dt2 = distTable(codebook("r2", "c2"), "qs2", "c2", "pd2")
        coded.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("clabel"), col("c1"), col("c2"))
          .join(broadcast(top2), Seq("clabel"))
          .join(broadcast(dt1), Seq("c1"))
          .join(broadcast(dt2), Seq("c2"))
          .select(col("vec_id"), col("clabel"), col("c1"), col("c2"),
            round(col("qdotc") + col("pd1") + col("pd2"), 6).as("adc"))
          .orderBy(col("adc").desc, col("vec_id"))
          .limit(10)
      }
    },

    // Matryoshka rerank (MRL-style): coarse top-30 by cosine over the
    // FIRST 16 dims only — 1/4 the multiply-adds and, on a stored
    // matryoshka index, 1/4 the bytes read — then exact 64-dim rerank of
    // just those 30. The scale contract: the corpus-sized pass touches
    // the truncated prefix; the full-precision vectors are read for a
    // candidate set ~constant in corpus size (same two-tier shape as
    // s10's ADC rerank, but by dimension instead of by codebook).
    // Deterministic: both tiers rank on the ROUNDED cosine with vec_id
    // tiebreak, so the candidate CUT is identical in both engines.
    QueryDef.sql("s14_matryoshka_rerank", {
      def cosSlice(a: String, b: String, d: Int) =
        s"""round(list_sum(list_transform(range(1, $d+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
           |    / (sqrt(list_sum(list_transform(range(1, $d+1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
           |     * sqrt(list_sum(list_transform(range(1, $d+1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))), 6)""".stripMargin
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |coarse AS (
         |  SELECT e.vec_id, e.embedding,
         |         ${cosSlice("e.embedding", "q.qe", 16)} AS coarse_cos, q.qe
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY coarse_cos DESC, e.vec_id LIMIT 30)
         |SELECT vec_id, coarse_cos,
         |       ${cosSlice("embedding", "qe", 64)} AS cos
         |FROM coarse
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0)
          .select(slice(col("embedding"), 1, 16).as("q16"), col("embedding").as("qe"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"), col("qe"),
            VectorOps.cosineR(slice(col("embedding"), 1, 16), col("q16")).as("coarse_cos"))
          .orderBy(col("coarse_cos").desc, col("vec_id")).limit(30)
          .select(col("vec_id"), col("coarse_cos"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      }
    },

    // Composed chunk-level semantic search — the end-to-end index-build
    // shape a RAG corpus runs: t21's chunker feeds a per-chunk embedder
    // feeds s01's broadcast-query cosine search, all in ONE declarative
    // plan (chunk Generate → embedding projection → broadcast join →
    // TakeOrdered; the corpus is scanned once, nothing iterates). The
    // "encoder" is a deterministic hash projection — 16 dims, dim i =
    // Σ_tokens (md5 nibble i − 7.5) — a stand-in with the exact shape a
    // real encoder output column has (the model call itself lives at a
    // mapPartitions codec boundary like Multimodal's, and everything
    // downstream of the embedding column is production-real). Sums are
    // half-integers, so cross-engine fp parity is exact before the one
    // rounded cosine.
    QueryDef.sql("s15_chunk_search", {
      def cos16(a: String, b: String) =
        s"""round(list_sum(list_transform(range(1, 17), i -> $a[i] * $b[i]))
           |  / (sqrt(list_sum(list_transform(range(1, 17), i -> $a[i] * $a[i])))
           |   * sqrt(list_sum(list_transform(range(1, 17), i -> $b[i] * $b[i])))), 6)""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                             x -> x <> '') AS t
         |  FROM documents),
         |cnt AS (
         |  SELECT doc_id, t,
         |         CASE WHEN len(t) <= 32 THEN 1 ELSE (len(t) - 32 + 23) // 24 + 1 END
         |           AS n_chunks
         |  FROM toks),
         |ex AS (SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS k FROM cnt),
         |chunks AS (
         |  SELECT doc_id, k AS chunk_id, list_slice(t, k*24 + 1, k*24 + 32) AS ct FROM ex),
         |emb AS (
         |  SELECT doc_id, chunk_id,
         |         list_transform(range(1, 17), i ->
         |           list_sum(list_transform(ct, tok ->
         |             strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 8.5))) AS e
         |  FROM chunks),
         |q AS (SELECT e AS qe FROM emb WHERE doc_id = 0 AND chunk_id = 0)
         |SELECT emb.doc_id, emb.chunk_id, ${cos16("e", "qe")} AS cos
         |FROM emb, q WHERE NOT (emb.doc_id = 0 AND emb.chunk_id = 0)
         |ORDER BY cos DESC, emb.doc_id, emb.chunk_id LIMIT 5""".stripMargin
    }) {
      (s, dir) => {
        // fanOut: the md5-per-token embedding below is the query's hot
        // loop and runs straight above the single-row-group scan (guide
        // §2.5); downstream is a broadcast crossJoin + TakeOrdered
        val chunks = TextAnalysis.chunked(
          Tables.fanOut(Tables.documents(s, dir))
            .select(col("doc_id"), graft.functions.Exprs.tokens(col("text")).as("t")))
          .select(col("doc_id"), col("chunk_id"), split(col("chunk_text"), " ").as("ct"))
        // one md5 per token (not per dim) — bit-equal to the per-dim
        // form and the oracle, 16× less hashing on the hot path
        val emb = chunks.select(col("doc_id"), col("chunk_id"),
          VectorOps.tokenHashEmbedding(col("ct")).as("e"))
        val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        val q = emb.filter(col("doc_id") === 0 && col("chunk_id") === 0)
          .select(col("e").as("qe"))
        emb.filter(!(col("doc_id") === 0 && col("chunk_id") === 0))
          .crossJoin(broadcast(q))
          .select(col("doc_id"), col("chunk_id"),
            round(dot(col("e"), col("qe")) /
              (sqrt(dot(col("e"), col("e"))) * sqrt(dot(col("qe"), col("qe")))), 6)
              .as("cos"))
          .orderBy(col("cos").desc, col("doc_id"), col("chunk_id"))
          .limit(5)
      }
    },

    // Filtered vector search — the feature every production vector store
    // ships (tenant / date / ACL predicates composed with ANN): top-10
    // among vectors satisfying a metadata predicate (vec_id even — the
    // stand-in for a tenant filter uncorrelated with the index cells).
    // PRE-filter design: the predicate rides the inverted-list scan
    // itself (one codegen'd conjunct next to the cell membership test),
    // never a post-cut of an already-truncated top-k — post-filtering
    // returns < k results whenever the filter is selective. Because a
    // selective filter can empty the best cell entirely, the probe is
    // the multiprobe (nprobe=2) variant: the recall knob is how filtered
    // search keeps recall without scanning the whole corpus.
    QueryDef.sql("s16_filtered_ann", {
      val cos = cosSql("a", "q")
      val qcCos =
        """round(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * c.cvec[i]))
          |    / (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
          |     * sqrt(list_sum(list_transform(range(1, len(c.cvec)+1), i -> c.cvec[i] * c.cvec[i])))), 6)""".stripMargin
      s"""WITH $ivfCtes,
         |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
         |top2 AS (
         |  SELECT c.label AS clabel FROM cent c, q
         |  ORDER BY $qcCos DESC, c.label LIMIT 2)
         |SELECT a.vec_id, $cos AS cos
         |FROM assigned a JOIN top2 t ON a.clabel = t.clabel, q
         |WHERE a.vec_id <> 0 AND a.vec_id % 2 = 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cent = labelCentroids(emb)
        val assigned = ivfAssigned(emb, cent)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val top2 = cent.crossJoin(broadcast(q))
          .select(col("clabel"), VectorOps.cosineR(col("cvec"), col("qe")).as("qcos"))
          .orderBy(col("qcos").desc, col("clabel"))
          .limit(2)
          .select("clabel")
        assigned.join(broadcast(top2), Seq("clabel"))
          .filter(col("vec_id") =!= 0 && col("vec_id") % 2 === 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      }
    },

    // kNN-graph construction — each vector's top-3 neighbors across TWO
    // sign-LSH bands of 4 planes each: the build step graph-based ANN
    // (NN-descent seeding) and SemDeDup both start from, and the one
    // ANN workload that is a JOIN, not a query. Banded buckets make
    // candidate generation a bucket-keyed self-join — never all-pairs —
    // and the second band is what makes the graph CONNECTED across
    // band-1 buckets (a single band yields per-bucket islands no
    // traversal can leave); at 100 TB the knobs are more planes
    // (smaller buckets) and more bands (recall/connectivity), exactly
    // d02's layout — INCLUDING its cap contract: a hot bucket
    // (boilerplate/zero vectors) would go quadratic in the self-join,
    // so (band, bucket) groups over Dedup.MaxBucketSize are excluded
    // BEFORE the join (the count window rides the same exchange) and
    // the drop is surfaced via the `knn_graph_bucket_guard` observe
    // metrics; the oracle applies the identical bound, so the cap is
    // contract, not approximation. The per-vector top-3 cut is a
    // rank-over-high-cardinality-key window that Spark 4 executes as a
    // map-side WindowGroupLimit — each task forwards at most 3 rows
    // per vector. The chain is shared with s22, which searches over
    // this graph.
    QueryDef.sql("s17_knn_graph",
      s"""WITH $knnGraphCtes
         |SELECT vec_id, nbr, cos, rk FROM g""".stripMargin) {
      (s, dir) => knnGraphEdges(s, dir).select("vec_id", "nbr", "cos", "rk")
    },

    // IVF index upsert — the d14 story for ANN: a DELTA batch
    // (vec_id % 10 = 0, d14's convention) is folded into an existing
    // index by assigning it to the FROZEN centroids fitted on the index
    // side only. No refit on ingest — the fit is the rare offline job;
    // nightly maintenance is one zero-shuffle projection of the delta
    // (centroids travel as plan literals) + an nlist-sized count agg.
    // Per-cell index/delta counts are the drift report an operator
    // watches to decide WHEN a refit is due (cells ballooning = the
    // frozen quantizer no longer fits the data distribution).
    QueryDef.sql("s18_ivf_upsert",
      s"""WITH idx AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
         |${Dedup.kmeansCtes(8, 2, 4, 6, src = "idx")},
         |fd AS (
         |  SELECT e.vec_id, e.vec_id % 10 = 0 AS is_delta, c.cid,
         |         ${Dedup.sqDistSql("e.embedding", "c.ce", 6)} AS d2
         |  FROM embeddings e, cent2 c),
         |asn AS (
         |  SELECT vec_id, is_delta, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1)
         |SELECT cluster, CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS n_index,
         |       CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
         |FROM asn GROUP BY cluster""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.functions.KMeans.fit(
          emb.filter(col("vec_id") % 10 =!= 0), "embedding", "vec_id",
          k = 8, iters = 2, meanDecimals = 4, distDecimals = 6)
        emb.select(
          model.clusterOf(col("embedding"), 6).cast("long").as("cluster"),
          (col("vec_id") % 10 === 0).as("is_delta"))
          .groupBy("cluster")
          .agg(sum(when(col("is_delta"), 0L).otherwise(1L)).as("n_index"),
            sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"))
      }
    },

    // Tombstoned deletes — the other half of index maintenance (s18 is
    // ingest): deletes land as a tombstone list (vec_id % 7 = 0 stands
    // in), searches anti-join it (broadcast: the tombstone set is ≪ the
    // corpus), and this report counts live vs dead per cell with a
    // compaction flag where >25% of an inverted list is dead — the
    // trigger for rewriting that cell's postings. Integer arithmetic for
    // the flag (4·dead > total), one nlist-sized agg, no fp thresholds.
    QueryDef.sql("s19_ann_tombstones",
      s"""WITH ${Dedup.kmeansCtes(8, 2, 4, 6)},
         |fd AS (
         |  SELECT e.vec_id, e.vec_id % 7 = 0 AS dead, c.cid,
         |         ${Dedup.sqDistSql("e.embedding", "c.ce", 6)} AS d2
         |  FROM embeddings e, cent2 c),
         |asn AS (
         |  SELECT vec_id, dead, cid AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |    FROM fd) WHERE rk = 1)
         |SELECT cluster, CAST(sum(CASE WHEN dead THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
         |       CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
         |       4 * sum(CASE WHEN dead THEN 1 ELSE 0 END) > count(*) AS compact_due
         |FROM asn GROUP BY cluster""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.functions.KMeans.fit(emb, "embedding", "vec_id",
          k = 8, iters = 2, meanDecimals = 4, distDecimals = 6)
        emb.select(
          model.clusterOf(col("embedding"), 6).cast("long").as("cluster"),
          (col("vec_id") % 7 === 0).as("dead"))
          .groupBy("cluster")
          .agg(sum(when(col("dead"), 0L).otherwise(1L)).as("n_live"),
            sum(when(col("dead"), 1L).otherwise(0L)).as("n_dead"))
          .select(col("cluster"), col("n_live"), col("n_dead"),
            (lit(4) * col("n_dead") > col("n_live") + col("n_dead")).as("compact_due"))
      }
    },

    // Compaction APPLIED — closes the loop s19 opens: s19 only FLAGS
    // lists where 4·dead > total; this pass rewrites exactly those
    // lists minus their tombstoned members and leaves every unflagged
    // list untouched (dead entries included — they stay until their
    // list crosses the threshold, which is what makes compaction an
    // incremental maintenance job instead of a full-index rewrite).
    // The delete log here is CLUSTER-CORRELATED (even cells lose every
    // third vector on top of the uniform %7 churn) — deletes in real
    // corpora arrive by tenant/content and land unevenly across cells,
    // and it is exactly that skew that makes SOME lists cross the
    // threshold while others idle, exercising both branches at once.
    // Plan shape at 100 TB: the tombstone set broadcasts (≪ corpus),
    // the flag table is one nlist-sized agg broadcast back, and the
    // rewrite is a filter riding the index scan — the corpus never
    // shuffles. Search-equivalence (tombstone-filtered probes are
    // byte-identical over the original and compacted index, rewritten
    // lists report dead=0) is pinned in CompactIndexSpec.
    QueryDef.sql("s34_ann_compaction",
      s"""WITH ${Dedup.kmeansCtes(8, 2, 4, 6)},
         |fd AS (
         |  SELECT e.vec_id, c.cid,
         |         ${Dedup.sqDistSql("e.embedding", "c.ce", 6)} AS d2
         |  FROM embeddings e, cent2 c),
         |asn AS (
         |  SELECT vec_id,
         |         vec_id % 7 = 0 OR (cluster % 2 = 0 AND vec_id % 3 = 0) AS dead,
         |         cluster
         |  FROM (
         |    SELECT vec_id, cid AS cluster FROM (
         |      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |      FROM fd) WHERE rk = 1)),
         |flags AS (
         |  SELECT cluster, 4 * sum(CASE WHEN dead THEN 1 ELSE 0 END) > count(*) AS compact_due
         |  FROM asn GROUP BY cluster),
         |compacted AS (
         |  SELECT a.vec_id, a.dead, a.cluster FROM asn a JOIN flags f USING (cluster)
         |  WHERE NOT (f.compact_due AND a.dead)),
         |pre AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_before FROM asn GROUP BY cluster),
         |post AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_after,
         |         CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_after
         |  FROM compacted GROUP BY cluster)
         |SELECT b.cluster, f.compact_due, b.n_before,
         |       CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
         |       CAST(COALESCE(a.n_dead_after, 0) AS BIGINT) AS n_dead_after
         |FROM pre b JOIN flags f USING (cluster) LEFT JOIN post a USING (cluster)""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.functions.KMeans.fit(emb, "embedding", "vec_id",
          k = 8, iters = 2, meanDecimals = 4, distDecimals = 6)
        val asn = emb.select(col("vec_id"),
          model.clusterOf(col("embedding"), 6).cast("long").as("cluster"))
          .withColumn("dead",
            col("vec_id") % 7 === 0 || (col("cluster") % 2 === 0 && col("vec_id") % 3 === 0))
          .localCheckpoint(true) // the delete log and the index must agree
        val tomb = asn.filter(col("dead")).select("vec_id")
        val compacted = compactIndex(asn, tomb)
        val before = asn.groupBy("cluster").agg(
          count(lit(1)).as("n_before"),
          (lit(4) * sum(when(col("dead"), 1L).otherwise(0L)) > count(lit(1)))
            .as("compact_due"))
        val after = compacted.groupBy("cluster").agg(
          count(lit(1)).as("n_after"),
          sum(when(col("dead"), 1L).otherwise(0L)).as("n_dead_after"))
        before.join(after, Seq("cluster"), "left")
          .select(col("cluster"), col("compact_due"), col("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"),
            coalesce(col("n_dead_after"), lit(0L)).as("n_dead_after"))
      }
    },

    // Recall of the FILTERED search — s11's eval harness pointed at the
    // path where recall actually degrades in production: a selective
    // metadata filter shrinks every inverted list, so the probed cells
    // may no longer contain the filtered exact top-k (the reason s16
    // multiprobes). Ground truth is the filtered brute force; the
    // approximate side is s16's pre-filtered nprobe=2 probe. One
    // distributed query, engine-stable ranked sets (rounded cosine +
    // id), both 10-row lists checkpointed — the number an operator
    // watches when choosing nprobe for a filtered workload.
    QueryDef.sql("s20_filtered_recall", {
      val qcCos =
        """round(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * c.cvec[i]))
          |    / (sqrt(list_sum(list_transform(range(1, len(q.embedding)+1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
          |     * sqrt(list_sum(list_transform(range(1, len(c.cvec)+1), i -> c.cvec[i] * c.cvec[i])))), 6)""".stripMargin
      s"""WITH $ivfCtes,
         |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
         |ex AS (
         |  SELECT e.vec_id FROM embeddings e, q
         |  WHERE e.vec_id <> 0 AND e.vec_id % 2 = 0
         |  ORDER BY ${cosSql("e", "q")} DESC, e.vec_id LIMIT 10),
         |top2 AS (
         |  SELECT c.label AS clabel FROM cent c, q
         |  ORDER BY $qcCos DESC, c.label LIMIT 2),
         |ann AS (
         |  SELECT a.vec_id FROM assigned a JOIN top2 t ON a.clabel = t.clabel, q
         |  WHERE a.vec_id <> 0 AND a.vec_id % 2 = 0
         |  ORDER BY ${cosSql("a", "q")} DESC, a.vec_id LIMIT 10)
         |SELECT CAST((SELECT count(*) FROM ann) AS BIGINT) AS n_ann,
         |       CAST(count(*) AS BIGINT) AS n_hit,
         |       round(count(*) / 10.0, 3) AS recall_at_10
         |FROM ex JOIN ann USING (vec_id)""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val exact = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 2 === 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select("vec_id")
        val cent = labelCentroids(emb)
        val assigned = ivfAssigned(emb, cent)
        val top2 = cent.crossJoin(broadcast(q))
          .select(col("clabel"), VectorOps.cosineR(col("cvec"), col("qe")).as("qcos"))
          .orderBy(col("qcos").desc, col("clabel"))
          .limit(2)
          .select("clabel")
        val ann = assigned.join(broadcast(top2), Seq("clabel"))
          .filter(col("vec_id") =!= 0 && col("vec_id") % 2 === 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select("vec_id")
          .localCheckpoint(true)
        exact.join(ann, "vec_id")
          .agg(count(lit(1)).as("n_hit"),
            round(count(lit(1)) / 10.0, 3).as("recall_at_10"))
          .crossJoin(ann.agg(count(lit(1)).as("n_ann")))
          .select("n_ann", "n_hit", "recall_at_10")
      }
    },

    // Hybrid dense+lexical retrieval with reciprocal-rank fusion — the
    // combiner production search actually ships (dense recall misses
    // exact keywords, lexical misses paraphrases; RRF needs no score
    // calibration between the two): dense leg = exact cosine top-20
    // over the embeddings (vec_id ≡ doc_id, the m01 contract), lexical
    // leg = token-set Jaccard top-20 against the query doc (int/int,
    // engine-exact), fused by Σ 1/(60+rank) over a full outer join of
    // the two 20-row lists. Scale shape: each leg is one corpus scan +
    // TakeOrdered; the fusion join touches 40 rows. Both legs rank on
    // (rounded score, id) so ranks — and therefore the fused order —
    // are engine-stable.
    // Ranks within each 20-row list come from a count-based self-join
    // (1 + rows strictly ahead), not a window: a global row_number would
    // plan a single-partition WindowExec — harmless on 20 rows but this
    // codebase's invariant is ZERO such windows in any registered plan,
    // and on a 20×20 broadcast the count form is free.
    QueryDef.sql("s21_hybrid_rrf",
      s"""WITH $rrfCtes
         |SELECT doc_id, rrf FROM rrf10""".stripMargin) {
      (s, dir) => rrfTop10(s, dir)
    },

    // Late-interaction (ColBERT-style) MaxSim rerank — the precision
    // stage between s21's candidate fusion and the final answer: for
    // each RRF candidate, score = Σ over DISTINCT query tokens of the
    // max cosine between that query token's 16-dim hash embedding (the
    // s15 "text encoder" stand-in) and any candidate-doc token's
    // embedding. Token-level interaction is what catches "right words,
    // wrong emphasis" docs a single pooled vector cannot. Scale shape:
    // the candidate list is k rows by construction, so the rerank is a
    // broadcast join of candidates INTO the documents scan + one
    // projection computing the whole MaxSim matrix per doc via HOFs
    // over pre-hashed token-vector arrays (each token md5'd once — the
    // t21 lesson) — NO corpus shuffle, no exchange at all after the
    // candidate cut (pinned in MaxSimSpec). Per-query-token maxima are
    // 6dp-rounded and summed as scaled BIGINTs, so the score is
    // order-invariant by arithmetic.
    QueryDef.sql("s35_maxsim_rerank", {
      val tokVecs =
        """list_transform({S}, tok -> list_transform(range(1, 17), i ->
          |    strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 8.5))""".stripMargin
      val cos16 =
        """round(list_sum(list_transform(range(1, 17), i -> qe[i] * de[i]))
          |  / (sqrt(list_sum(list_transform(range(1, 17), i -> qe[i] * qe[i])))
          |   * sqrt(list_sum(list_transform(range(1, 17), i -> de[i] * de[i])))), 6)""".stripMargin
      s"""WITH $rrfCtes,
         |qv AS (SELECT ${tokVecs.replace("{S}", "t")} AS qvecs FROM toks WHERE doc_id = 0),
         |dv AS (
         |  SELECT c.doc_id, c.rrf, ${tokVecs.replace("{S}", "tk.t")} AS dvecs
         |  FROM rrf10 c JOIN toks tk USING (doc_id))
         |SELECT d.doc_id, d.rrf,
         |       list_sum(list_transform(qv.qvecs, qe ->
         |         CAST(round(1000000.0 * list_max(list_transform(d.dvecs, de -> $cos16)))
         |           AS BIGINT))) / 1000000.0 AS maxsim
         |FROM dv d, qv""".stripMargin
    }) {
      (s, dir) => {
        val cand = rrfTop10(s, dir).localCheckpoint(true)
        maxSimRerank(s, dir, cand)
      }
    },

    // Graph-traversal ANN search — the HNSW-shaped query pattern over
    // the s17 kNN graph: ef-search from a fixed entry node (the
    // graph's lowest vec_id). Each round expands the E best
    // NOT-YET-EXPANDED candidates (re-expanding the whole beam would
    // just re-prove the same local optimum — the expansion flag is
    // what makes the walk explore), scores their out-neighbors against
    // the query off the edge payload, and keeps the best W found so
    // far; after R rounds the beam IS the best of everything visited,
    // and its top-10 is the answer. The graph is symmetrized first
    // (forward ∪ reverse edges, the HNSW bidirectional-link layout):
    // reverse edges are what let the walk climb from a poorly-
    // connected region into the query's neighborhood. Scale shape:
    // the one-time graph prep is edge-list-sized (no corpus join —
    // both endpoint vectors ride the edges as payload); each round is
    // ONE broadcast join of E frontier ids against the edge list + a
    // ≤(W+E·deg)-row aggregate, with lineage truncated per round
    // (s06/s13/t24 iterative-loop contract); with the edge list
    // bucketed on vec_id the frontier join prunes to E buckets. Fixed
    // rounds + rounded scores + (cos, vec_id) tiebreaks keep the walk
    // deterministic, which is what lets the oracle unroll it as
    // chained CTEs. On the gated fixtures this walk reaches ~2× the
    // recall@10 of the IVF 2-probe scan while scoring ~¼ as many
    // candidates — the graph follows similarity gradients instead of
    // scanning fixed centroid cells.
    QueryDef.sql("s22_graph_search",
      graphSearchSql(GraphSearchRounds, GraphExpandPerRound, GraphBeamWidth)) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val g = symmetrized(knnGraphEdges(s, dir), emb)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val entry = g.agg(min(col("vec_id")).as("vec_id"))
        // no checkpoint: efSearch materializes its (constant-sized)
        // beam driver-side, so beam0 executes exactly once
        val beam0 = emb.join(broadcast(entry), "vec_id")
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"),
            lit(false).as("exp"))
        efSearch(beam0, g, q, GraphSearchRounds)
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      }
    },

    // HIERARCHICAL graph search — the HNSW layer ladder over the s17
    // graph: a coarse layer of sampled nodes (vec_id ≡ 1 mod 16, the
    // deterministic analog of HNSW's geometric level draw) gets its own
    // kNN graph under the identical banded construction; the walk runs
    // s22's exact ef-search contract first on the coarse graph (3
    // rounds over 1/16 of the corpus — each round touches 1/16 the
    // edge list), then RESEEDS the fine walk with the coarse beam
    // (expansion flags cleared: a node expanded on the coarse layer has
    // not had its fine-layer neighbors explored) for the remaining 7.
    // Total distributed rounds = s22's 10, so the comparison is
    // round-for-round: the flat walk spends its whole budget diffusing
    // from a fixed arbitrary entry, while the descent arrives at the
    // fine layer already in the query's neighborhood — the property
    // that keeps hop counts logarithmic when the corpus grows 100× and
    // a flat walk's fixed budget stops reaching. HierSearchSpec gates
    // recall@10 > s22's at the same total rounds; the oracle unrolls
    // both stages as chained MATERIALIZED CTEs.
    QueryDef.sql("s30_hier_graph_search",
      hierGraphSearchSql(HierCoarseRounds, HierFineRounds,
        GraphExpandPerRound, GraphBeamWidth)) {
      (s, dir) => hierSearchTop10(s, dir)
    },

    // Recall instrumentation for the ladder — the number an operator
    // watches when sizing layers and round splits (s11/s20's eval
    // harness pointed at the hierarchical path): ground truth is the
    // full brute-force top-10, the approximate side is s30's descent,
    // both ranked engine-stably and joined on vec_id. One distributed
    // query; the walk result and the exact list are each 10 rows.
    QueryDef.sql("s32_hier_recall",
      s"""WITH ${hierGraphSearchCtes(HierCoarseRounds, HierFineRounds,
           GraphExpandPerRound, GraphBeamWidth)},
         |res AS (
         |  SELECT vec_id FROM fb$HierFineRounds WHERE vec_id <> 0
         |  ORDER BY cos DESC, vec_id LIMIT 10),
         |exb AS (
         |  SELECT e.vec_id FROM embeddings e, q
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${cosSql("e", "q")} DESC, e.vec_id LIMIT 10)
         |SELECT CAST((SELECT count(*) FROM res) AS BIGINT) AS n_res,
         |       CAST(count(*) AS BIGINT) AS n_hit,
         |       round(count(*) / 10.0, 3) AS recall_at_10
         |FROM res JOIN exb USING (vec_id)""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        // no checkpoint: the walk's result is already a local 10-row
        // relation (driver-side beam), free to read twice
        val res = hierSearchTop10(s, dir).select("vec_id")
        val exact = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"), VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
          .select("vec_id")
        exact.join(res, "vec_id")
          .agg(count(lit(1)).as("n_hit"),
            round(count(lit(1)) / 10.0, 3).as("recall_at_10"))
          .crossJoin(res.agg(count(lit(1)).as("n_res")))
          .select("n_res", "n_hit", "recall_at_10")
      }
    },

    // BATCHED graph search — the production form of s22: a query batch
    // (s08's convention, vec_id < 5) walks the graph SIMULTANEOUSLY in
    // shared frames, one (query_id, vec_id) state table instead of N
    // sequential walks. Every per-round cut becomes a rank window
    // partitioned by query_id — high-cardinality at production query
    // volumes, so the cuts execute as map-side WindowGroupLimit, and
    // the per-round edge join batches ALL queries' frontiers into one
    // broadcast — round cost is amortized over the batch, which is
    // exactly why serving stacks batch ANN lookups. Same per-round
    // state truncation and determinism contract as s22.
    QueryDef.sql("s23_batch_graph_search",
      batchGraphSearchSql(GraphSearchRounds, GraphExpandPerRound, GraphBeamWidth)) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val g = symmetrized(knnGraphEdges(s, dir), emb)
        val qb = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val entry = g.agg(min(col("vec_id")).as("vec_id"))
        val wq = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
        // no checkpoints: batchEfSearch holds its (constant-sized) beam
        // and query batch driver-side — each subplan executes once
        val beam0 = emb.join(broadcast(entry), "vec_id")
          .crossJoin(broadcast(qb))
          .select(col("query_id"), col("vec_id"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"),
            lit(false).as("exp"))
        batchEfSearch(beam0, g, qb, GraphSearchRounds)
          .filter(col("vec_id") >= 5)
          .withColumn("rk", row_number().over(wq).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("vec_id"), col("rk"), col("cos"))
      }
    },

    // BATCHED hierarchical search — the full production serving shape:
    // s31 is to s30 what s23 is to s22. The query batch (vec_id < 5)
    // descends the layer ladder TOGETHER: 3 shared coarse rounds over
    // the 1/16-corpus coarse graph (every query's frontier in one
    // broadcast edge join), then each query's coarse beam reseeds the
    // fine walk (expansion flags cleared) for the remaining 7 — the
    // same 10-round budget as s23, with the round cost amortized over
    // the batch AND the descent arriving in each query's neighborhood.
    // Same determinism contract; the oracle unrolls both stages with
    // per-query rank windows.
    QueryDef.sql("s31_batch_hier_search",
      hierBatchGraphSearchSql(HierCoarseRounds, HierFineRounds,
        GraphExpandPerRound, GraphBeamWidth)) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val fine = symmetrized(knnGraphEdges(s, dir), emb)
        val coarse = symmetrized(knnGraphEdgesOf(
          emb.filter(col("vec_id") % HierCoarseMod === 1),
          guard = "coarse_knn_graph_bucket_guard"), emb)
        val qb = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val entry = coarse.agg(min(col("vec_id")).as("vec_id"))
        val wq = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
        // no checkpoints: batchEfSearch holds its (constant-sized) beam
        // and query batch driver-side — each subplan executes once
        val beam0 = emb.join(broadcast(entry), "vec_id")
          .crossJoin(broadcast(qb))
          .select(col("query_id"), col("vec_id"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"),
            lit(false).as("exp"))
        val descended = batchEfSearch(beam0, coarse, qb, HierCoarseRounds)
          .select(col("query_id"), col("vec_id"), col("cos"), lit(false).as("exp"))
        batchEfSearch(descended, fine, qb, HierFineRounds)
          .filter(col("vec_id") >= 5)
          .withColumn("rk", row_number().over(wq).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("vec_id"), col("rk"), col("cos"))
      }
    },

    // BM25 lexical retrieval — the scoring function s21's lexical leg
    // approximates with set-Jaccard, done properly: tf saturation (k1),
    // document-length normalization (b), and the Robertson/Lucene
    // always-positive idf ln((N-df+0.5)/(df+0.5)+1). Query = doc 0's
    // distinct tokens (the s21 convention); corpus = every other doc.
    // Scale shape: ONE corpus-wide shuffle builds the (doc, term, tf)
    // table; doc lengths re-aggregate from it; N/avgdl is a scalar
    // aggregate (exact integer sum, then one division — no float
    // accumulation-order exposure); df only ever counts the
    // query-filtered slice via a broadcast semi-join (≤|q| terms, never
    // a vocabulary-wide pass); scoring joins tf against the BROADCAST
    // idf table, so the only post-tf exchanges key on doc_id; top-10 is
    // a TakeOrdered, no global sort. Per-term contributions quantize to
    // 12 decimals before the per-doc sum (the s13/s06 re-sync contract:
    // both engines add identical summands, so the 6-decimal output
    // cannot drift with partition count), and the final order ties on
    // doc_id.
    QueryDef.sql("s24_bm25",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM toks
         |  WHERE doc_id <> 0 GROUP BY doc_id, tok),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |qt AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
         |df AS (
         |  SELECT tok, count(*) AS df FROM tf JOIN qt USING (tok) GROUP BY tok),
         |idf AS (
         |  SELECT tok, ln((s.n - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM df, stats s),
         |contrib AS (
         |  SELECT t.doc_id,
         |         round(i.idf * t.tf * 2.2 /
         |               (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)), 12) AS c
         |  FROM tf t JOIN idf i USING (tok) JOIN dl d USING (doc_id), stats s)
         |SELECT doc_id, round(sum(c), 6) AS bm25
         |FROM contrib GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin) {
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(graft.functions.Exprs.tokens(col("text"))).as("tok"))
        // Reused by dl, df, and the scoring join: materialize the one
        // corpus-wide pass instead of re-tokenizing per consumer.
        val tf = toks.filter(col("doc_id") =!= 0)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        val stats = dl.agg(
          count(lit(1)).as("n"),
          (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
        val qt = toks.filter(col("doc_id") === 0).select("tok").distinct()
        val dfq = tf.join(broadcast(qt), "tok").groupBy("tok").agg(count(lit(1)).as("df"))
        val idf = dfq.crossJoin(broadcast(stats))
          .select(col("tok"),
            log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0).as("idf"))
        tf.join(broadcast(idf), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats.select("avgdl")))
          .select(col("doc_id"),
            round(col("idf") * col("tf") * 2.2 /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 12).as("c"))
          .groupBy("doc_id").agg(round(sum("c"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      }
    },

    // Binary (1-bit sign) quantization ANN: each 64-dim vector compresses
    // to ONE packed bigint (bit d set iff v[d] > 0 — 8 bytes/vector, a
    // 32× reduction over float32), candidates screen by Hamming distance
    // popcount(sig XOR qsig) over the packed form, and only the top-100
    // screen survivors pay the exact-cosine rerank. The 100 TB posture:
    // the Hamming scan touches a signature table 1/32 the corpus size
    // with zero shuffle (TakeOrderedAndProject under a broadcast 1-row
    // query), and the rerank joins 100 ids back to the float table. The
    // oracle computes the identical Hamming count dim-wise (sign-mismatch
    // sum), so any packing/endianness bug in the bit form fails the hash.
    QueryDef.sql("s26_binary_quant",
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |hd AS (
         |  SELECT e.vec_id, e.embedding, ${hammingSql("e", "q")} AS hd
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         |cand AS (SELECT vec_id, embedding, hd FROM hd ORDER BY hd, vec_id LIMIT 100)
         |SELECT c.vec_id, c.hd, ${cosSql("c", "q")} AS cos
         |FROM cand c, q
         |ORDER BY cos DESC, c.vec_id LIMIT 10""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val sig = emb.select(col("vec_id"), col("embedding"), packedSig.as("sig"))
        val q = sig.filter(col("vec_id") === 0)
          .select(col("sig").as("qsig"), col("embedding").as("qe"))
        sig.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"), col("qe"),
            expr("CAST(bit_count(sig ^ qsig) AS BIGINT)").as("hd"))
          .orderBy(col("hd"), col("vec_id")).limit(100)
          .select(col("vec_id"), col("hd"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      }
    },

    // MMR (maximal-marginal-relevance) diversity rerank: greedy selection
    // of 5 results from the query's top-20 cosine candidates, round r
    // maximizing round(0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s), 6) with
    // vec_id tiebreak — the standard redundancy-suppressing rerank a
    // retrieval stack runs ON TOP of ANN candidates. Scale shape: the
    // candidate set is k rows regardless of corpus size (this composes
    // over any of s01-s23's candidate generators), so every greedy round
    // is arithmetic over a broadcast-tiny frame: one corpus-independent
    // job per round, s06/s13-style, with the selected set checkpointed.
    // The oracle unrolls the same greedy rounds as chained MATERIALIZED
    // CTEs with the identical quantize-then-compare contract.
    QueryDef.sql("s27_mmr_rerank", mmrSql(rounds = MmrRounds)) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
        val cand = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cosq"))
          .orderBy(col("cosq").desc, col("vec_id")).limit(MmrCandK)
          .localCheckpoint(true)
        var picked = cand
          .select(col("vec_id"), col("embedding"), col("cosq"),
            round(lit(MmrLambda) * col("cosq"), 6).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .withColumn("rank", lit(1L))
          .localCheckpoint(true)
        for (r <- 2 to MmrRounds) {
          val pick = cand
            .join(picked.select("vec_id"), Seq("vec_id"), "left_anti")
            .crossJoin(broadcast(picked.select(col("embedding").as("se"))))
            .select(col("vec_id"), col("embedding"), col("cosq"),
              VectorOps.cosineR(col("embedding"), col("se")).as("ps"))
            .groupBy("vec_id", "embedding", "cosq").agg(max("ps").as("pen"))
            .select(col("vec_id"), col("embedding"), col("cosq"),
              round(lit(MmrLambda) * col("cosq") - lit(MmrPenalty) * col("pen"), 6).as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
            .withColumn("rank", lit(r.toLong))
          picked = picked.unionByName(pick).localCheckpoint(true)
        }
        picked.select(col("rank"), col("vec_id"), col("score")).orderBy("rank")
      }
    },

    // The production vector-store composition: IVF coarse quantizer
    // prunes the scan to the query's inverted list (~1/nlist of the
    // corpus), the packed-bigint sign signature Hamming-screens WITHIN
    // the list (8 bytes/vector — the list scan touches 1/32 the float
    // bytes), and only the top-50 screen survivors pay the exact-cosine
    // rerank. s05 (IVF alone) scans full vectors in the list; s26 (BQ
    // alone) screens the whole corpus; this stacks both prunes — at
    // 100 TB the list scan reads the signature column family only, and
    // the rerank joins 50 ids back to the float store. Both quantizers'
    // contracts are already individually hash-gated (s05's assignment,
    // s26's Hamming); this gates their composition.
    QueryDef.sql("s28_ivf_bq", {
      s"""WITH $ivfCtes,
         |q AS (SELECT vec_id, embedding, clabel FROM assigned WHERE vec_id = 0),
         |hd AS (
         |  SELECT a.vec_id, a.embedding, ${hammingSql("a", "q")} AS hd
         |  FROM assigned a, q WHERE a.clabel = q.clabel AND a.vec_id <> 0),
         |cand AS (SELECT vec_id, embedding, hd FROM hd ORDER BY hd, vec_id LIMIT 50)
         |SELECT c.vec_id, c.hd, ${cosSql("c", "q")} AS cos
         |FROM cand c, q
         |ORDER BY cos DESC, c.vec_id LIMIT 10""".stripMargin
    }) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val assigned = ivfAssigned(emb, labelCentroids(emb))
        val sig = assigned.select(col("vec_id"), col("embedding"), col("clabel"),
          packedSig.as("sig"))
        val q = sig.filter(col("vec_id") === 0)
          .select(col("clabel"), col("sig").as("qsig"), col("embedding").as("qe"))
        sig.join(broadcast(q), Seq("clabel"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"), col("qe"),
            expr("CAST(bit_count(sig ^ qsig) AS BIGINT)").as("hd"))
          .orderBy(col("hd"), col("vec_id")).limit(50)
          .select(col("vec_id"), col("hd"),
            VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      }
    },

    // Index observability: the per-inverted-list health card an IVF
    // deployment watches — list population (balance: a hot list erodes
    // the 1/nlist prune), mean member-to-centroid cosine (tightness:
    // drops as the corpus drifts from the fitted centroids), and the
    // worst member (the vector most likely mis-assigned / most hurt by
    // single-probe). One assignment pass (the same corpus×broadcast-
    // centroid scoring s05 runs) re-aggregated by list — nlist rows out,
    // so at 100 TB this is a dashboard query over the stored assignment,
    // not a recompute. Members' cosines are 6dp-quantized before the
    // mean (t18's re-sync contract).
    QueryDef.sql("s29_ivf_stats",
      s"""WITH $ivfCtes,
         |ac AS (
         |  SELECT clabel, ccos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) AS rk
         |    FROM scored) WHERE rk = 1)
         |SELECT clabel, CAST(count(*) AS BIGINT) AS n,
         |       round(avg(ccos), 6) AS avg_ccos, min(ccos) AS min_ccos
         |FROM ac GROUP BY clabel""".stripMargin) {
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cent = labelCentroids(emb)
        val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("clabel"))
        emb.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("clabel"),
            VectorOps.cosineR(col("embedding"), col("cvec")).as("ccos"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .groupBy("clabel")
          .agg(count(lit(1)).as("n"),
            round(avg("ccos"), 6).as("avg_ccos"), min("ccos").as("min_ccos"))
      }
    }
  )

  /** s21's hybrid-retrieval chain: dense cosine top-20 + lexical
    * Jaccard top-20, RRF-fused, top-10 out. Ranks within each 20-row
    * list come from a count-based self-join (1 + rows strictly ahead),
    * not a window: a global row_number would plan a single-partition
    * WindowExec — harmless on 20 rows but this codebase's invariant is
    * ZERO such windows in any registered plan. */
  private[operators] def rrfTop10(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    def countRank(top: DataFrame, score: String): DataFrame = {
      val b = top.select(col("doc_id").as("bid"), col(score).as("bs"))
      top.join(broadcast(b),
        col("bs") > col(score) || (col("bs") === col(score) && col("bid") < col("doc_id")),
        "left")
        .groupBy("doc_id").agg((count(col("bid")) + 1).as(s"${score}_rank"))
    }
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val d20 = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        VectorOps.cosineR(col("embedding"), col("qe")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(20)
      .localCheckpoint(true)
    val dtop = countRank(d20, "cos").select(col("doc_id"), col("cos_rank").as("dr"))
    val toks = distinctToks(s, dir)
    val qt = toks.filter(col("doc_id") === 0).select(col("t").as("qtok"))
    val jac = round(
      size(array_intersect(col("t"), col("qtok"))) * lit(1.0) /
        size(array_distinct(concat(col("t"), col("qtok")))), 6)
    val l20 = toks.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(qt))
      .select(col("doc_id"), jac.as("jac"))
      .orderBy(col("jac").desc, col("doc_id")).limit(20)
      .localCheckpoint(true)
    val ltop = countRank(l20, "jac").select(col("doc_id"), col("jac_rank").as("lr"))
    dtop.join(ltop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  /** Distinct whitespace tokens per doc — the token table s21's lexical
    * leg and s35's token-level scoring share. */
  private def distinctToks(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        array_distinct(graft.functions.Exprs.tokens(col("text"))).as("t"))

  /** s35's late-interaction scoring over a (doc_id, rrf) candidate
    * frame: MaxSim = Σ_{query tokens} max_{doc tokens} cos₆(qe, de)
    * over 16-dim token-hash embeddings. Candidates broadcast INTO the
    * documents scan; each token is md5-hashed exactly once and its
    * vector materialized before the pair loop (non-lambda-var
    * expressions inside HOF lambdas re-evaluate per element — the t21
    * lesson); per-query-token maxima are 6dp-rounded and folded as
    * scaled BIGINTs so the sum is order-invariant. Zero exchanges
    * after the candidate cut. */
  private[operators] def maxSimRerank(
      s: org.apache.spark.sql.SparkSession, dir: String, cand: DataFrame): DataFrame = {
    def tokVecs(t: org.apache.spark.sql.Column) =
      transform(transform(t, tok => md5(tok)),
        h => transform(sequence(lit(1), lit(16)),
          i => conv(h.substr(i.cast("int"), lit(1)), 16, 10).cast("double") - 7.5))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val toks = distinctToks(s, dir)
    val qv = toks.filter(col("doc_id") === 0).select(tokVecs(col("t")).as("qvecs"))
    val scored = toks.join(broadcast(cand), "doc_id")
      .select(col("doc_id"), col("rrf"), tokVecs(col("t")).as("dvecs"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), col("rrf"),
        (aggregate(col("qvecs"), lit(0L), (acc, qe) =>
          acc + round(lit(1000000.0) * array_max(transform(col("dvecs"), de =>
            round(dot(qe, de) / (sqrt(dot(qe, qe)) * sqrt(dot(de, de))), 6))))
            .cast("long")) / lit(1000000.0)).as("maxsim"))
    scored.orderBy(col("maxsim").desc, col("doc_id")).limit(10)
  }

  /** s34's rewrite pass: apply the compaction flag s19 computes.
    *
    * `index` is any inverted-list relation carrying a `vec_id` and a
    * `cluster` column (every other column rides along untouched);
    * `tombstones` is the delete log (`vec_id`). Lists where
    * 4·dead > total are rewritten WITHOUT their tombstoned members;
    * every other list passes through byte-identical — dead entries in
    * healthy lists stay until their list crosses the threshold, so the
    * pass is incremental maintenance, not a full rewrite. Integer
    * arithmetic only (s19's flag contract), so the decision is
    * engine- and partitioning-independent.
    *
    * 100 TB shape: the tombstone set is broadcast for the membership
    * mark (deletes ≪ corpus — the same asymmetry every search probe
    * already exploits), the per-list flag is an nlist-sized aggregate
    * broadcast back, and the rewrite itself is a filter riding the
    * index scan. The corpus is never shuffled; on a partitioned store
    * only flagged lists' files need rewriting. */
  def compactIndex(index: DataFrame, tombstones: DataFrame,
      clusterCol: String = "cluster"): DataFrame = {
    val tomb = tombstones.select(col("vec_id").as("__tomb_id")).distinct()
    val marked = index
      .join(broadcast(tomb), col("vec_id") === col("__tomb_id"), "left")
      .withColumn("__dead", col("__tomb_id").isNotNull)
      .drop("__tomb_id")
    val flags = marked.groupBy(clusterCol)
      .agg((lit(4) * sum(when(col("__dead"), 1L).otherwise(0L)) > count(lit(1)))
        .as("__due"))
    marked.join(broadcast(flags), Seq(clusterCol))
      .filter(!(col("__due") && col("__dead")))
      .drop("__due", "__dead")
  }

  /** Unrolled greedy-MMR oracle: round 1 picks argmax λ·cosq; each later
    * round penalizes by the max ROUNDED pairwise cosine against everything
    * selected so far. sel/rem CTEs are referenced more than once per round
    * → MATERIALIZED (the s22 lesson: plain CTEs inline exponentially). */
  private def mmrSql(rounds: Int): String = {
    val later = (2 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT vec_id, embedding, score, CAST($r AS BIGINT) AS rank FROM (
         |    SELECT r.vec_id, r.embedding,
         |           round($MmrLambda * r.cosq - $MmrPenalty * max(${cosSql("r", "s")}), 6) AS score
         |    FROM rem${r - 1} r, sel${r - 1} s
         |    GROUP BY r.vec_id, r.embedding, r.cosq)
         |  ORDER BY score DESC, vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM sel${r - 1}
         |  UNION ALL SELECT vec_id, embedding FROM p$r),
         |rem$r AS MATERIALIZED (
         |  SELECT * FROM rem${r - 1} WHERE vec_id NOT IN (SELECT vec_id FROM p$r))""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(r => s"SELECT rank, vec_id, score FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, ${cosSql("e", "q")} AS cosq
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY cosq DESC, e.vec_id LIMIT $MmrCandK),
       |p1 AS MATERIALIZED (
       |  SELECT vec_id, embedding, round($MmrLambda * cosq, 6) AS score, CAST(1 AS BIGINT) AS rank
       |  FROM cand ORDER BY round($MmrLambda * cosq, 6) DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT vec_id, embedding FROM p1),
       |rem1 AS MATERIALIZED (
       |  SELECT * FROM cand WHERE vec_id NOT IN (SELECT vec_id FROM p1)),
       |$later
       |$union
       |ORDER BY rank""".stripMargin
  }
}
