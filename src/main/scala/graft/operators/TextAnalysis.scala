package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exprs
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — token statistics,
  * quality scoring, heuristic language ID, content fingerprinting and
  * winnowing signatures, n-gram document frequency.
  *
  * All are pure projections or single hash-aggregations (no joins, no
  * windows), so they scale linearly: at 100 TB each is one codegen'd scan
  * stage, plus one shuffle where a groupBy exists. Ratios are kept as
  * exact int/int divisions so the DuckDB oracle reproduces them bit-for-bit.
  *
  * The reference has no text analytics (its strings are airport codes,
  * `/root/reference/mnt/airflow/dags/scripts/transformToSilver.py:44-46`);
  * this module is the north-star extension surface.
  */
object TextAnalysis {

  /** t21's chunk geometry, factored so `TextAnalysisSpec` can property-
    * test it on arbitrary token arrays: windows of [[ChunkWin]] tokens
    * every [[ChunkStride]], one chunk minimum, tail keeps the remainder.
    * Input needs (doc_id, t: array<string>); one Generate, no shuffle. */
  private[graft] val ChunkWin = 32
  private[graft] val ChunkStride = 24
  private[graft] def chunked(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nChunks = when(size(col("t")) <= ChunkWin, lit(1))
      .otherwise(floor((size(col("t")) - ChunkWin + ChunkStride - 1) / ChunkStride)
        .cast("int") + 1)
    val chunk = slice(col("t"), col("k") * ChunkStride + 1, lit(ChunkWin))
    docs
      .withColumn("k", explode(sequence(lit(0), nChunks - 1)))
      .select(col("doc_id"), col("k").cast("long").as("chunk_id"),
        array_join(chunk, " ").as("chunk_text"),
        size(chunk).cast("long").as("n_chunk_tokens"))
  }

  /** Tiny per-language stopword lists for the heuristic language ID.
    * Deliberately small and hard-coded: the oracle must embed the same
    * lists, and the point is the operator shape (argmax over per-class
    * token-hit counts), not lexicon quality. */
  private val stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es" -> Seq("el", "la", "los", "y", "que", "en", "un"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "pour", "un"))

  private[operators] val toksCte =
    """toks AS (
      |  SELECT *, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t
      |  FROM documents)""".stripMargin

  /** DuckDB CTE chain (expects `toks` in scope) ending in
    * `rep(doc_id, top_bigram, top_n, n_bigrams, rep_ratio)` — the oracle
    * twin of [[repetition]], shared by t10 and t11. */
  private val repCtes =
    """bg AS (
      |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
      |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
      |tp AS (
      |  SELECT doc_id, gram AS top_bigram, c AS top_n FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rk
      |    FROM cnt) WHERE rk = 1),
      |nb AS (SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_bigrams FROM toks WHERE len(t) >= 2),
      |rep AS (
      |  SELECT tp.doc_id, top_bigram, top_n, n_bigrams, top_n / n_bigrams AS rep_ratio
      |  FROM tp JOIN nb ON tp.doc_id = nb.doc_id)""".stripMargin

  /** Per-doc bigram repetition from a (doc_id, t) token input:
    * (doc_id, top_bigram, top_n, n_bigrams, rep_ratio). Same codegen
    * posexplode+lead shape as t06 (one doc_id shuffle); argmax tie broken
    * lexicographically; docs with fewer than 2 tokens have no bigrams and
    * drop out. */
  private def repetition(toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
    val counts = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(wPos))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy("doc_id").orderBy(col("c").desc, col("gram"))
    counts
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") === 1)
      .select(col("doc_id"), col("gram").as("top_bigram"), col("c").as("top_n"))
      .join(toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"), (size(col("t")) - 1).cast("long").as("n_bigrams")), "doc_id")
      .select(col("doc_id"), col("top_bigram"), col("top_n"), col("n_bigrams"),
        (col("top_n") / col("n_bigrams")).as("rep_ratio"))
  }

  /** t33's fixed sequence token budget (the training context length a
    * packer targets). Declared before `defs` — oracle strings are built
    * at object init. */
  private[operators] val PackBudget = 512

  /** The packed token stream shared by t33/t34: per non-empty doc, its
    * token count and EXCLUSIVE running-sum offset in the doc_id total
    * order ([[graft.functions.Ranks.globalRunningSum]] — two-phase,
    * never a single-partition window). Checkpointed inside the helper
    * by the range materialization, so t34's explode reuses the layout. */
  private def packedStream(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val nz = Tables.documents(s, dir)
      .select(col("doc_id"), size(Exprs.tokens(col("text"))).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
    graft.functions.Ranks.globalRunningSum(nz, "start_tok", col("n_toks"), col("doc_id"))
  }

  /** t34's manifest derivation over ANY packed stream with columns
    * (doc_id, n_toks, start_tok) — shared by the registered query and
    * the streaming equality spec (the incrementally-maintained
    * [[graft.streaming.PackStreams]] store feeds the same function). */
  private[graft] def manifestOf(cum: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = lit(PackBudget.toLong)
    val spans = cum
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        explode(sequence(
          floor(col("start_tok") / PackBudget).cast("long"),
          floor((col("start_tok") + col("n_toks") - 1) / PackBudget).cast("long")))
          .as("seq_id"))
    spans.groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum(least((col("seq_id") + 1) * b - 1, col("start_tok") + col("n_toks") - 1)
          - greatest(col("seq_id") * b, col("start_tok")) + 1).as("fill"))
  }

  /** t30's IPF oracle chain through `m6` (the 6-round quantized raking
    * fit over (lang, source) cells) — shared by t30 (which emits the
    * fitted cells) and t32 (which drives the fit through the sampling
    * gate). Declared before `defs`: oracle strings are built at object
    * init. */
  private val rakingCtes = {
    val rounds = (1 to 6).map { k =>
      s"""a$k AS (
         |  SELECT lang, source,
         |         round(m * (s.n / s.nl) / sum(m) OVER (PARTITION BY lang), 6) AS m
         |  FROM m${k - 1}, stats s),
         |m$k AS (
         |  SELECT lang, source,
         |         round(m * (s.n / s.ns) / sum(m) OVER (PARTITION BY source), 6) AS m
         |  FROM a$k, stats s)""".stripMargin
    }.mkString(",\n")
    s"""m0 AS MATERIALIZED (
       |  SELECT lang, source, CAST(count(*) AS DOUBLE) AS m
       |  FROM documents GROUP BY lang, source),
       |stats AS MATERIALIZED (
       |  SELECT sum(m) AS n, count(DISTINCT lang) AS nl,
       |         count(DISTINCT source) AS ns FROM m0),
       |$rounds""".stripMargin
  }

  /** t30's fitted cell table (lang, source, n_docs, fitted): 6 IPF
    * rounds, each half-step scaling cells toward one marginal's uniform
    * target within a window partition, quantized to 6 decimals at every
    * half-round boundary (the s06/s13 re-sync contract). Cell-bounded
    * state — the only corpus-scale work is the opening groupBy. Shared
    * by t30 and t32. */
  private def rakedCellTable(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rakedFit(docs.groupBy("lang", "source").agg(count(lit(1)).cast("double").as("m")))

  /** The IPF fit chain from a (lang, source, m) cell table — shared by
    * the batch queries above and the streaming maintenance fold
    * ([[graft.streaming.MixStreams]]), so the streamed fit equals the
    * batch fit by construction, not by parallel implementation. */
  private[graft] def rakedFit(cells0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = cells0
      .localCheckpoint(true) // reused: stats, the chain start, the final ratio
    val st = cells.agg(sum("m"), countDistinct("lang"), countDistinct("source")).head()
    val (n, nl, ns) = (st.getDouble(0), st.getLong(1), st.getLong(2))
    var m = cells
    for (_ <- 1 to 6) {
      m = m.withColumn("m",
        round(col("m") * lit(n / nl) / sum("m").over(Window.partitionBy("lang")), 6))
      m = m.withColumn("m",
        round(col("m") * lit(n / ns) / sum("m").over(Window.partitionBy("source")), 6))
    }
    m.join(cells.withColumnRenamed("m", "m0"), Seq("lang", "source"))
      .select(col("lang"), col("source"), col("m0").cast("long").as("n_docs"),
        col("m").as("fitted"))
      // materialized: the fitted table is cell-sized, and its consumers
      // (t30's output, t32's mx scalar AND rate table) would otherwise
      // each replay the 12-window chain into their plans
      .localCheckpoint(true)
  }

  /** t35's temperature chain (p_s ∝ √n_s, B = min n_s/p_s, 32-bit hex
    * threshold) from a per-source totals table (source, n) — shared by
    * the batch query and the streaming maintenance fold
    * ([[graft.streaming.MixStreams]]), so rates derived from a live
    * folded totals store equal the batch rates by construction. The
    * totals table is sources-sized; its three consumers (z, shares,
    * budget) would otherwise each replay the producer into their plans,
    * hence the checkpoint. */
  private[graft] def temperatureRates(totals0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val totals = totals0.localCheckpoint(true)
    val z = totals.agg(sum(sqrt(col("n"))).as("z"))
    val shares = totals.crossJoin(broadcast(z))
      .select(col("source"), col("n"), (sqrt(col("n")) / col("z")).as("share"))
    val budget = shares.agg(min(col("n") / col("share")).as("b"))
    val rate = least(lit(1.0), col("share") * col("b") / col("n"))
    shares.crossJoin(broadcast(budget))
      .select(col("source"), col("n"), rate.as("rate"),
        lower(lpad(hex(floor(rate * 4294967296.0).cast("long")), 8, "0")).as("thr"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens, distinct tokens, type-token ratio.
    QueryDef.sql("t01_token_stats",
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |       len(list_distinct(t)) / len(t) AS ttr
         |FROM toks""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t"))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            size(array_distinct(col("t"))).cast("long").as("n_distinct"),
            (size(array_distinct(col("t"))) / size(col("t"))).as("ttr"))
    },

    // Quality scoring: length, mean word length, stopword ratio, composite.
    // Every ratio is int/int so both engines produce identical doubles.
    QueryDef.sql("t02_quality_score",
      s"""WITH $toksCte
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
         |       list_sum(list_transform(t, x -> length(x))) / len(t) AS avg_word_len,
         |       len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) / len(t) AS stop_ratio,
         |       round(0.5 * (len(list_distinct(t)) / len(t))
         |           + 0.5 * (len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) / len(t)), 6) AS quality
         |FROM toks""".stripMargin) {
      (s, dir) =>
        val t = col("t")
        val en = stop("en")
        val stopRatio = size(filter(t, x => x.isin(en: _*))) / size(t)
        val ttr = size(array_distinct(t)) / size(t)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), Exprs.tokens(col("text")).as("t"))
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars_m"),
            (aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x) / size(t))
              .as("avg_word_len"),
            stopRatio.as("stop_ratio"),
            round(lit(0.5) * ttr + lit(0.5) * stopRatio, 6).as("quality"))
    },

    // Heuristic language ID: argmax of per-language stopword hit counts
    // with a fixed priority order on ties; confusion counts vs the fixture
    // label. Integer scores → deterministic across engines.
    QueryDef.sql("t03_lang_id", {
      def hits(l: String) =
        s"len(list_filter(t, x -> x IN (${stop(l).map("'" + _ + "'").mkString(",")})))"
      s"""WITH $toksCte,
         |scored AS (
         |  SELECT lang,
         |         ${hits("en")} AS s_en, ${hits("de")} AS s_de,
         |         ${hits("es")} AS s_es, ${hits("fr")} AS s_fr
         |  FROM toks)
         |SELECT lang,
         |       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |            WHEN s_es >= s_fr THEN 'es'
         |            ELSE 'fr' END AS predicted,
         |       count(*) AS n
         |FROM scored GROUP BY 1, 2""".stripMargin
    }) {
      (s, dir) =>
        def hits(l: String) = size(filter(col("t"), x => x.isin(stop(l): _*)))
        Tables.documents(s, dir)
          .select(col("lang"), Exprs.tokens(col("text")).as("t"))
          .select(col("lang"),
            hits("en").as("s_en"), hits("de").as("s_de"),
            hits("es").as("s_es"), hits("fr").as("s_fr"))
          .select(col("lang"),
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
              .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
              .when(col("s_es") >= col("s_fr"), "es")
              .otherwise("fr").as("predicted"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
    },

    // Content fingerprint: hash of the whitespace/case-normalized token
    // stream — catches duplicates that differ only in spacing/casing.
    QueryDef.sql("t04_fingerprint",
      s"""WITH $toksCte
         |SELECT doc_id, substr(md5(array_to_string(t, ' ')), 1, 16) AS fp
         |FROM toks""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            Exprs.hash16(concat_ws(" ", Exprs.tokens(col("text")))).as("fp"))
    },

    // Winnowing-style signature: concat of the 4 smallest bigram-shingle
    // hashes — a compact sketch whose equality implies heavy overlap.
    QueryDef.sql("t05_winnow_sig",
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(t)-1, 1)+1),
         |           i -> array_to_string(t[i:i+1], ' '))) AS sh
         |  FROM toks)
         |SELECT doc_id,
         |       array_to_string(list_sort(list_transform(sh, s -> substr(md5(s), 1, 16)))[1:4], '') AS sig
         |FROM sh""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.wordShingles(Exprs.tokens(col("text")), 2).as("sh"))
          .select(col("doc_id"),
            concat_ws("", slice(array_sort(transform(col("sh"), x =>
              Exprs.hash16(x))), 1, 4)).as("sig"))
    },

    // N-gram document frequency: top-20 bigrams by number of documents
    // containing them (shingles are distinct per doc, so count == DF).
    QueryDef.sql("t06_top_bigrams",
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(t)-1, 1)+1),
         |           i -> array_to_string(t[i:i+1], ' '))) AS sh
         |  FROM toks)
         |SELECT gram, count(*) AS df FROM (SELECT doc_id, unnest(sh) AS gram FROM sh)
         |GROUP BY gram ORDER BY df DESC, gram LIMIT 20""".stripMargin) {
      (s, dir) => {
        // Bigrams via posexplode + window lead instead of a per-row HOF:
        // everything after the explode is codegen'd, and the one shuffle
        // (on high-cardinality doc_id) also serves the per-doc distinct.
        // A lone pos=0 row with no successor is a 1-token doc, whose
        // "shingle" is the whole text (wordShingles' short-doc rule).
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id").orderBy("pos")
        Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(Exprs.tokens(col("text"))).as(Seq("pos", "tok")))
          .withColumn("nxt", lead("tok", 1).over(w))
          .filter(col("nxt").isNotNull || col("pos") === 0)
          .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("gram"))
          .distinct()
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("gram"))
          .limit(20)
      }
    },

    // Deterministic train/val/test assignment by content-stable hash —
    // the production-correct form of dataset splitting: reproducible
    // across runs/retries/partitionings (an RNG sample is none of those),
    // and any engine can re-derive membership. ~75/12.5/12.5 via the
    // first hex digit of a salted md5.
    QueryDef.sql("t08_hash_split",
      """SELECT lang,
        |       CASE WHEN substr(md5('split:' || doc_id), 1, 1) <= 'b' THEN 'train'
        |            WHEN substr(md5('split:' || doc_id), 1, 1) <= 'd' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin) {
      (s, dir) => {
        val h1 = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
        Tables.documents(s, dir)
          .withColumn("split",
            when(h1 <= "b", "train").when(h1 <= "d", "val").otherwise("test"))
          .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      }
    },

    // BPE-ish subword counting: a tokenizer-shaped regex (letter runs,
    // digit runs, single non-space symbols) — the standard pre-tokenizer
    // split a byte-pair encoder sees, as a codegen'd regexp count.
    QueryDef.sql("t07_bpe_tokens",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |       CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_vowel_runs
        |FROM documents""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_bpe"),
          size(regexp_extract_all(lower(col("text")),
            lit("[aeiou]+"), lit(0))).cast("long").as("n_vowel_runs"))
    },

    // PII scrubbing — the redaction pass every training-data pipeline
    // runs before anything else. The corpus text carries no PII, so a
    // deterministic contact suffix derived from doc_id is appended FIRST
    // (both engines construct the identical string, like q20's synthetic
    // durations); the scrubber then replaces emails and phone-shaped
    // tokens with placeholder tags. The md5 of the scrubbed text is the
    // gate: byte-identical redaction or the hash fails. Patterns stay in
    // the Java-regex ∩ RE2 common subset so both engines match the same
    // spans.
    QueryDef.sql("t09_pii_scrub",
      """WITH withpii AS (
        |  SELECT doc_id,
        |         text || ' Contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or call 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |              || ' now.' AS t2
        |  FROM documents),
        |scrub AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |         CAST(len(regexp_extract_all(t2, '\b555-[0-9]{3,4}\b')) AS BIGINT) AS n_phones,
        |         regexp_replace(
        |           regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b555-[0-9]{3,4}\b', '<PHONE>', 'g') AS scrubbed
        |  FROM withpii)
        |SELECT doc_id, n_emails, n_phones, md5(scrubbed) AS checksum FROM scrub""".stripMargin) {
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\b555-[0-9]{3,4}\\b"
        Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
              // lpad to 3 digits: 555-0 + 1-2 digits would evade the
              // \b555-[0-9]{3,4}\b scrub pattern for doc_id % 1000 < 100
              lit("@example.com or call 555-0"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit(" now.")).as("t2"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t2"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("t2"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("t2"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("checksum"))
      }
    },

    // Repetition detection (the Gopher-family quality rule): per doc, the
    // fraction of bigrams taken by the single most frequent bigram.
    // Boilerplate and degenerate generations spike this ratio; training
    // pipelines drop docs above a threshold (t11 composes exactly that).
    QueryDef.sql("t10_repetition",
      s"""WITH $toksCte,
         |$repCtes
         |SELECT doc_id, top_bigram, top_n, n_bigrams, rep_ratio FROM rep""".stripMargin) {
      (s, dir) =>
        repetition(Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t")))
    },

    // COMPOSED quality gate — the Gopher-style rule stack a corpus-prep
    // pipeline applies in one pass: token-count bounds, type-token ratio,
    // mean word length, and bigram repetition, each failure recorded by
    // name. Every ratio is int/int (exact across engines) and the
    // verdict is emitted as 0/1 with a deterministic comma-joined reason
    // string. Docs without bigrams pass the repetition rule vacuously.
    QueryDef.sql("t11_quality_gate",
      s"""WITH $toksCte,
         |st AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |         len(list_distinct(t)) / len(t) AS ttr,
         |         list_sum(list_transform(t, x -> length(x))) / len(t) AS awl
         |  FROM toks WHERE len(t) >= 1),
         |$repCtes
         |SELECT st.doc_id,
         |       CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000 AND ttr >= 0.2
         |                  AND awl BETWEEN 2 AND 12
         |                  AND coalesce(rep_ratio <= 0.2, TRUE)
         |            THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |       concat_ws(',',
         |         CASE WHEN NOT (n_tokens BETWEEN 10 AND 100000) THEN 'len' END,
         |         CASE WHEN NOT (ttr >= 0.2) THEN 'ttr' END,
         |         CASE WHEN NOT (awl BETWEEN 2 AND 12) THEN 'word_len' END,
         |         CASE WHEN NOT coalesce(rep_ratio <= 0.2, TRUE) THEN 'repetition' END) AS reasons
         |FROM st LEFT JOIN rep ON st.doc_id = rep.doc_id""".stripMargin) {
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 1)
        val t = col("t")
        val st = toks.select(col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          (size(array_distinct(t)) / size(t)).as("ttr"),
          (aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x) / size(t))
            .as("awl"))
        val rep = repetition(toks).select(col("doc_id"), col("rep_ratio"))
        val lenOk = col("n_tokens").between(10, 100000)
        val ttrOk = col("ttr") >= 0.2
        val awlOk = col("awl").between(2, 12)
        val repOk = coalesce(col("rep_ratio") <= 0.2, lit(true))
        st.join(rep, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(lenOk && ttrOk && awlOk && repOk, 1L).otherwise(0L).as("keep"),
            concat_ws(",",
              when(!lenOk, "len"),
              when(!ttrOk, "ttr"),
              when(!awlOk, "word_len"),
              when(!repOk, "repetition")).as("reasons"))
      }
    },

    // Sequence packing: assign documents to fixed token-budget packs (the
    // training-batch assembly step — concatenate docs until ~budget tokens,
    // start the next pack). A document lands in the pack where its START
    // offset falls (running sum minus own length), the streaming-writer
    // semantics. Packing is per-SHARD, not global: a single global running
    // sum is a one-partition serial window — the 100 TB form shards by a
    // key (here doc_id mod 8; in production the ingest partition), packs
    // within shards in parallel, and pack ids are (shard, pack) pairs.
    // One shuffle on shard for the window, one partial-agg for the rollup.
    QueryDef.sql("t12_pack_sequences",
      s"""WITH $toksCte,
         |base AS (
         |  SELECT doc_id, doc_id % 8 AS shard, CAST(len(t) AS BIGINT) AS n_tokens
         |  FROM toks),
         |packed AS (
         |  SELECT shard, n_tokens,
         |         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |              ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS BIGINT) AS pack
         |  FROM base)
         |SELECT shard, pack, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM packed GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        Packing.packByBudget(
          Tables.documents(s, dir)
            .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
              size(Exprs.tokens(col("text"))).cast("long").as("n_tokens")),
          "n_tokens", budget = 256.0, "n_docs", "pack_tokens")
    },

    // Unigram token entropy: H = ln(n) − Σ c·ln(c) / n from integer
    // counts — the low-entropy detector for degenerate/repetitive text
    // that length or TTR miss. One explode + two hash-aggs (the (doc,tok)
    // count rides the doc_id shuffle); the only transcendental is ln over
    // INTEGER inputs, so both engines see identical arguments and the
    // 5-decimal round absorbs any last-ulp libm difference.
    QueryDef.sql("t14_token_entropy",
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 5) AS entropy
         |FROM cnt GROUP BY doc_id""".stripMargin) {
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            round(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"), 5)
              .as("entropy"))
    },

    // Vocabulary coverage: rank the corpus vocabulary by total count,
    // keep the top 20, report each document's out-of-vocabulary token
    // ratio — the tokenizer-coverage check before committing a vocab.
    // The vocab is a top-k (tiny, broadcast); membership is a broadcast
    // LEFT join against exploded tokens, so the 100 TB cost is the one
    // token-count shuffle, never a big-big join. Ratios are int/int.
    QueryDef.sql("t15_vocab_coverage",
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS c FROM ex GROUP BY tok
         |    ORDER BY c DESC, tok LIMIT 20)),
         |marked AS (
         |  SELECT ex.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM ex LEFT JOIN vocab v ON ex.tok = v.tok)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(oov) AS BIGINT) AS n_oov,
         |       sum(oov) / count(*) AS oov_ratio
         |FROM marked GROUP BY doc_id""".stripMargin) {
      (s, dir) => {
        val ex = Tables.documents(s, dir)
          .select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("tok"))
        val vocab = ex.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(20).select("tok")
        ex.join(broadcast(vocab.withColumn("in_v", lit(1))), Seq("tok"), "left")
          .select(col("doc_id"), when(col("in_v").isNull, 1).otherwise(0).as("oov"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum("oov").cast("long").as("n_oov"),
            (sum("oov") / count(lit(1))).as("oov_ratio"))
      }
    },

    // Curriculum binning: quartile the corpus by a quality signal (TTR)
    // so training can feed easy→hard phases; reported as bin × lang
    // counts. ntile needs a GLOBAL rank — fine for the oracle-exact form
    // here, but a one-partition sort at 100 TB: the scale path is
    // [[graft.plans.QuantileBucket]] over approxQuantile edges (already
    // built), trading exact quartile boundaries for a fully parallel
    // assignment. Total order (ttr, doc_id) keeps both engines aligned —
    // AFTER excluding zero-token docs, whose NULL ttr (0/0) the engines
    // would order differently (Spark NULLS FIRST, DuckDB NULLS LAST).
    // Scale note (round 7): the obvious `ntile(4) OVER (ORDER BY …)`
    // is a SINGLE-PARTITION window — every doc funnels through one task
    // (Spark even warns). This form computes the identical ntile
    // assignment distributed, the two-phase zipWithIndex pattern: range-
    // repartition on the total order (materialized once so partition ids
    // are stable across the two jobs), collect only the P per-partition
    // COUNTS, broadcast their running offsets back as a map literal, and
    // derive each row's global rank as offset(pid) + local rank — a
    // per-partition window. The ntile bucket then falls out of the
    // closed-form split (first N%4 buckets get one extra row), so the
    // oracle keeps the plain ntile SQL and the results are bit-equal.
    QueryDef.sql("t16_curriculum_bins",
      s"""WITH $toksCte,
         |q AS (SELECT doc_id, lang, len(list_distinct(t)) / len(t) AS ttr
         |      FROM toks WHERE len(t) > 0),
         |b AS (SELECT lang, ntile(4) OVER (ORDER BY ttr, doc_id) AS bin FROM q)
         |SELECT CAST(bin AS BIGINT) AS bin, lang, count(*) AS n
         |FROM b GROUP BY 1, 2""".stripMargin) {
      (s, dir) => {
        val q = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), Exprs.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
          .select(col("doc_id"), col("lang"),
            (size(array_distinct(col("t"))) / size(col("t"))).as("ttr"))
        val (ranked, n) = graft.functions.Ranks.globalRowNumber(
          q, "rn", col("ttr"), col("doc_id"))
        val gi = col("rn") - 1 // 0-based global rank, no global window
        // ntile(4): first r buckets take q+1 rows, the rest q
        val (bq, br) = (lit(n / 4), lit(n % 4))
        val cut = br * (bq + 1)
        val bin = when(gi < cut, floor(gi / (bq + 1)) + 1)
          .otherwise(br + floor((gi - cut) / bq) + 1)
        ranked
          .withColumn("bin", bin.cast("long"))
          .groupBy("bin", "lang").agg(count(lit(1)).as("n"))
      }
    },

    // Stratified corpus rebalancing: downsample overrepresented languages
    // by a content-stable hash gate (en keeps 4/16 hex buckets, fr/es 8/16,
    // rare langs all) — the language-mix step of corpus prep. Hash-gated,
    // not RNG-sampled: membership is reproducible across runs, retries and
    // partitionings, and any engine can re-derive it (same argument as the
    // t08 split). One scan + one partial-agg shuffle on 5 lang keys; the
    // per-stratum rates are driver-side config, never a per-row join.
    QueryDef.sql("t13_stratified_sample",
      """SELECT lang, count(*) AS n_total,
        |       CAST(sum(CASE WHEN substr(md5('samp:' || doc_id), 1, 1) <
        |                CASE lang WHEN 'en' THEN '4'
        |                          WHEN 'fr' THEN '8' WHEN 'es' THEN '8'
        |                          ELSE 'g' END
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, dir) => {
        val digit = substring(md5(concat(lit("samp:"), col("doc_id").cast("string"))), 1, 1)
        val thr = when(col("lang") === "en", "4")
          .when(col("lang").isin("fr", "es"), "8").otherwise("g")
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(digit < thr, 1L).otherwise(0L)).as("n_kept"))
      }
    },

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf · (ln((N+1)/(df+1)) + 1), ties broken lexicographically. The
    // rank runs on the ROUNDED score so both engines agree on ties.
    // Scale shape: two hash-aggs (doc×term, then term), a term-keyed
    // join back (document frequencies are vocabulary-sized — AQE
    // broadcasts them in practice), and a doc-keyed top-k window that
    // Spark 4 executes as a map-side WindowGroupLimit before the final
    // shuffle — no global sort anywhere.
    QueryDef.sql("t17_tfidf_keywords",
      s"""WITH $toksCte,
         |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.term,
         |         round(tf * (ln((n_docs + 1) / (df + 1.0)) + 1.0), 6) AS score
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |SELECT doc_id, term, score, CAST(rk AS BIGINT) AS rk
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |               ORDER BY score DESC, term) AS rk FROM scored)
         |WHERE rk <= 3""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("term"),
            round(col("tf") * (log((col("n_docs") + 1) / (col("df") + lit(1.0))) + lit(1.0)), 6)
              .as("score"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("doc_id", "term", "score", "rk")
      }
    },

    // Corpus bigram language-model scoring (the CCNet-style quality
    // signal): train add-one-smoothed bigram counts on the corpus itself,
    // then score each document by its mean log P(w2|w1) =
    // ln((c(w1,w2)+1) / (c(w1·)+V)). Bigram generation is a zero-shuffle
    // zip_with projection (no per-doc window sort); the model is two
    // hash-aggs; scoring joins each document bigram to its counts on the
    // bigram key — the hot boilerplate bigrams are exactly the well-
    // estimated ones, so AQE's skew split handles them without salting.
    QueryDef.sql("t18_bigram_lm_score",
      s"""WITH $toksCte,
         |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
         |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |      FROM (SELECT unnest(t) AS tok FROM toks)),
         |sc AS (SELECT doc_id, ln((cb + 1.0) / (cu + v)) AS logp
         |       FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(avg(logp), 6) AS avg_logp
         |FROM sc GROUP BY doc_id""".stripMargin) {
      (s, dir) => {
        val t = col("t")
        val bg = Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t"))
          .filter(size(t) >= 2)
          .select(col("doc_id"), explode(zip_with(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("g"))
          .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
        // context totals fold out of the bigram counts (c(w1·) = Σ_w2) —
        // an agg over the vocabulary-sized cb table, not a fourth pass
        // over the corpus
        val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
        val vocab = Tables.documents(s, dir)
          .select(explode(Exprs.tokens(col("text"))).as("tok"))
          .agg(countDistinct("tok").as("v"))
        bg.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"),
            log((col("cb") + lit(1.0)) / (col("cu") + col("v"))).as("logp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), round(avg("logp"), 6).as("avg_logp"))
      }
    },

    // Zipf-law fit of the corpus term-frequency distribution: slope and
    // R² of ln(freq) vs ln(rank) over the vocabulary (natural text runs
    // slope ≈ −1; a far-off slope flags synthetic/degenerate corpora —
    // a corpus-level quality gate next to the per-doc ones). Built on
    // the regr_* aggregate family. Scale shape: the corpus collapses to
    // VOCABULARY-sized term counts first (one partial-agg shuffle); the
    // rank and regression run over that — millions of terms, not
    // billions of tokens — and since round 7 even the vocab rank is
    // distributed (Ranks.globalRowNumber two-phase form, no
    // single-partition window anywhere in the plan).
    QueryDef.sql("t19_zipf_fit",
      s"""WITH $toksCte,
         |tc AS (
         |  SELECT tok, count(*) AS cnt FROM (SELECT unnest(t) AS tok FROM toks)
         |  GROUP BY tok),
         |ranked AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM tc)
         |SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |       round(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
         |       round(regr_r2(ln(cnt), ln(rnk)), 6) AS zipf_r2
         |FROM ranked""".stripMargin) {
      (s, dir) => {
        val tc = Tables.documents(s, dir)
          .select(explode(Exprs.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val (ranked, _) = graft.functions.Ranks.globalRowNumber(
          tc, "rnk", col("cnt").desc, col("tok"))
        ranked.agg(
          count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("cnt")), log(col("rnk"))), 6).as("zipf_slope"),
          round(regr_r2(log(col("cnt")), log(col("rnk"))), 6).as("zipf_r2"))
      }
    },

    // Per-document novelty: KL(doc unigrams ‖ corpus unigrams) — the
    // domain-shift detector data-mix work ranks on (a doc whose word
    // distribution matches the corpus scores ~0; jargon/outlier docs
    // score high). p_corpus > 0 for every doc term by construction (the
    // corpus contains the doc), so no smoothing term enters the spec.
    // Scale shape: the corpus collapses to the (doc_id, term) count
    // table ONCE (checkpointed); document length, corpus term counts and
    // the grand total all fold out of that table by re-aggregation
    // (t18's derivation trick — never a second corpus scan); the only
    // big join is count-table × vocab-sized term counts, AQE-skew-safe.
    QueryDef.sql("t20_kl_novelty",
      s"""WITH $toksCte,
         |ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |dc AS (SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(cnt) AS len FROM dc GROUP BY 1),
         |cc AS (SELECT tok, sum(cnt) AS ccnt FROM dc GROUP BY 1),
         |n AS (SELECT sum(cnt) AS total FROM dc)
         |SELECT dc.doc_id,
         |       round(sum((dc.cnt / dl.len) * ln((dc.cnt / dl.len) / (cc.ccnt / n.total))), 6)
         |         AS kl_novelty
         |FROM dc JOIN dl USING (doc_id) JOIN cc USING (tok), n
         |GROUP BY dc.doc_id""".stripMargin) {
      (s, dir) => {
        val dc = Tables.documents(s, dir)
          .select(col("doc_id"), explode(Exprs.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val dl = dc.groupBy("doc_id").agg(sum("cnt").as("len"))
        val cc = dc.groupBy("tok").agg(sum("cnt").as("ccnt"))
        val n = dc.agg(sum("cnt").as("total"))
        val pd = col("cnt") / col("len")
        dc.join(dl, "doc_id").join(cc, "tok").crossJoin(broadcast(n))
          .select(col("doc_id"), (pd * log(pd / (col("ccnt") / col("total")))).as("term"))
          .groupBy("doc_id").agg(round(sum("term"), 6).as("kl_novelty"))
      }
    },

    // RAG-style document chunking: overlapping 32-token windows every 24
    // tokens (8-token overlap), short docs emit one short chunk, the tail
    // chunk keeps whatever remains. The chunk STARTS are computed
    // arithmetically per doc and exploded in one Generate — never a
    // self-join or per-doc loop — so the whole operator is one
    // projection+explode pass over the corpus: the shape that feeds an
    // embedding stage (s-family) at 100 TB, where chunk count (~N×tokens
    // /stride) dominates output size and anything quadratic is fatal.
    QueryDef.sql("t21_chunking",
      s"""WITH $toksCte,
         |cnt AS (
         |  SELECT doc_id, t,
         |         CASE WHEN len(t) <= 32 THEN 1
         |              ELSE (len(t) - 32 + 23) // 24 + 1 END AS n_chunks
         |  FROM toks),
         |ex AS (SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS k FROM cnt)
         |SELECT doc_id, k AS chunk_id,
         |       array_to_string(list_slice(t, k*24 + 1, k*24 + 32), ' ') AS chunk_text,
         |       CAST(len(list_slice(t, k*24 + 1, k*24 + 32)) AS BIGINT) AS n_chunk_tokens
         |FROM ex""".stripMargin) {
      (s, dir) =>
        chunked(Tables.documents(s, dir)
          .select(col("doc_id"), Exprs.tokens(col("text")).as("t")))
    },

    // Hashed linear quality classifier (fasttext-shaped), now reading
    // TRAINED weights: t37's in-engine fit replaces the former literal
    // weight table, and inference stays the scaled-integer discipline —
    // the doc's feature sum Σ round(wᵦ·10⁶)·cᵦ is exact BIGINT
    // arithmetic, the keep gate 2·fs > 10⁶·n ⇔ mean bucket weight > ½
    // is a pure integer comparison. Scale shape: the fit is t37's
    // per-round single aggregate; inference is one projection over the
    // checkpointed feature frame with the weights as plan literals (a
    // production 2^20-bucket model broadcasts the same way), no join.
    QueryDef.sql("t22_quality_classifier", {
      val fsSql = (0 until QualityTrain.Buckets)
        .map(b => s"CAST(round(w.w$b * 1000000.0) AS BIGINT) * l.c$b").mkString(" + ")
      s"""WITH $toksCte,
         |${QualityTrain.ctes()},
         |inf AS (SELECT l.doc_id, l.n, $fsSql AS fs FROM lab l, w${QualityTrain.Rounds} w)
         |SELECT doc_id, n AS n_tokens, fs AS feat_scaled,
         |       fs / 1000000.0 / n AS mean_w,
         |       CAST(CASE WHEN 2*fs > 1000000*n THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM inf""".stripMargin
    }) {
      (s, dir) => {
        val feat = QualityTrain.features(Tables.documents(s, dir))
        QualityTrain.classify(feat, QualityTrain.fit(feat))
      }
    },

    // The training half of t22, surfaced as its own operator: the fitted
    // 16-bucket weight table. Four squared-loss gradient rounds over the
    // checkpointed hashed-bucket features — one global 16-sum aggregate
    // and a 16-double driver round-trip per round, per-doc gradient
    // terms 6dp-quantized and summed as exact BIGINTs (partition-order
    // invariant), weights re-quantized to 6dp at every round boundary so
    // both engines enter each round bit-identical. The oracle unrolls
    // the rounds as a linear CTE chain (w1..w4) over the MATERIALIZED
    // feature frame. Convergence (≈92% train accuracy vs ≈51% majority
    // baseline) is pinned in QualityTrainSpec.
    QueryDef.sql("t37_quality_train",
      s"""WITH $toksCte,
         |${QualityTrain.ctes()}
         |SELECT CAST(unnest(range(0, ${QualityTrain.Buckets})) AS BIGINT) AS bucket,
         |       unnest([${(0 until QualityTrain.Buckets).map(b => s"w$b").mkString(", ")}]) AS weight
         |FROM w${QualityTrain.Rounds}""".stripMargin) {
      (s, dir) => {
        import s.implicits._
        val w = QualityTrain.fit(QualityTrain.features(Tables.documents(s, dir)))
        w.zipWithIndex.map { case (x, b) => (b.toLong, x) }.toSeq.toDF("bucket", "weight")
      }
    },

    // Data-mixture targeting — t13's fixed rates replaced by rates
    // DERIVED from a target mix (the "40% web / 30% code / ..." step of
    // training-data assembly): src0 and src1 each get a quarter of the
    // mix, the long tail splits the rest. The feasible budget B =
    // min(n_s / share_s) is the largest corpus honoring the mix with NO
    // upsampling; per-source keep-rates follow as share·B/n, and
    // membership is the same content-stable hash gate as t13/t08
    // (reproducible across runs, retries, partitionings, engines — the
    // hash threshold is the rate in 32-bit hex space). Scale shape: the
    // rate table is sources-sized (broadcast), the corpus pays one scan
    // + one partial-agg shuffle; targeting is approximate (hash gates
    // land within binomial noise of share·B — exact in expectation),
    // membership is exact and re-derivable.
    QueryDef.sql("t23_mixture_sample", {
      val share = """CASE WHEN source IN ('src0', 'src1') THEN 0.25
                    |            ELSE 0.5 / 18 END""".stripMargin
      s"""WITH totals AS (
         |  SELECT source, count(*) AS n, $share AS share
         |  FROM documents GROUP BY source),
         |budget AS (SELECT min(n / share) AS b FROM totals),
         |rates AS (
         |  SELECT source, n, share,
         |         least(1.0, share * b / n) AS rate,
         |         lower(lpad(hex(CAST(floor(least(1.0, share * b / n) * 4294967296.0)
         |           AS BIGINT)), 8, '0')) AS thr
         |  FROM totals, budget)
         |SELECT d.source, r.n AS n_total,
         |       CAST(sum(CASE WHEN r.rate >= 1.0
         |                     OR substr(md5('mix:' || d.doc_id), 1, 8) < r.thr
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       round(r.rate, 6) AS rate
         |FROM documents d JOIN rates r USING (source)
         |GROUP BY d.source, r.n, r.rate""".stripMargin
    }) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val share = when(col("source").isin("src0", "src1"), lit(0.25))
          .otherwise(lit(0.5) / 18)
        val totals = docs.groupBy("source")
          .agg(count(lit(1)).as("n")).withColumn("share", share)
        val budget = totals.agg(min(col("n") / col("share")).as("b"))
        val rate = least(lit(1.0), col("share") * col("b") / col("n"))
        val rates = totals.crossJoin(broadcast(budget))
          .select(col("source"), col("n"), rate.as("rate"),
            lower(lpad(hex(floor(rate * 4294967296.0).cast("long")), 8, "0")).as("thr"))
        val gate = col("rate") >= 1.0 ||
          substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8) < col("thr")
        docs.join(broadcast(rates), Seq("source"))
          .groupBy(col("source"), col("n").as("n_total"), round(col("rate"), 6).as("rate"))
          .agg(sum(when(gate, 1L).otherwise(0L)).as("n_kept"))
          .select("source", "n_total", "n_kept", "rate")
      }
    },

    // Temperature-scaled mixture sampling — t23's derived-rate gate with
    // the share vector REPLACED by the temperature rebalance multilingual
    // pretraining actually uses (XLM-R/mT5 style): p_s ∝ n_s^(1/T),
    // flattening the source distribution so low-resource sources keep a
    // larger share than their raw frequency. T = 2, i.e. p_s ∝ √n_s —
    // deliberately: IEEE-754 sqrt is EXACTLY rounded (unlike pow), so
    // the whole share → budget → rate → hex-threshold chain is
    // bit-identical across engines with no quantization step. Same
    // feasible-budget construction as t23 (B = min n_s/p_s, the largest
    // corpus honoring the mix with no upsampling) and the same
    // content-stable md5 gate. Scale shape: rate table is sources-sized
    // and broadcast; one corpus scan + one partial-agg shuffle.
    QueryDef.sql("t35_temperature_mix",
      """WITH totals AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source),
        |z AS (SELECT sum(sqrt(n)) AS z FROM totals),
        |shares AS (SELECT source, n, sqrt(n) / z AS share FROM totals, z),
        |budget AS (SELECT min(n / share) AS b FROM shares),
        |rates AS (
        |  SELECT source, n, least(1.0, share * b / n) AS rate,
        |         lower(lpad(hex(CAST(floor(least(1.0, share * b / n) * 4294967296.0)
        |           AS BIGINT)), 8, '0')) AS thr
        |  FROM shares, budget)
        |SELECT d.source, r.n AS n_total,
        |       CAST(sum(CASE WHEN r.rate >= 1.0
        |                     OR substr(md5('temp:' || d.doc_id), 1, 8) < r.thr
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(r.rate, 6) AS rate
        |FROM documents d JOIN rates r USING (source)
        |GROUP BY d.source, r.n, r.rate""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val rates = temperatureRates(
          docs.groupBy("source").agg(count(lit(1)).as("n")))
        val gate = col("rate") >= 1.0 ||
          substring(md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 8) < col("thr")
        docs.join(broadcast(rates), Seq("source"))
          .groupBy(col("source"), col("n").as("n_total"), round(col("rate"), 6).as("rate"))
          .agg(sum(when(gate, 1L).otherwise(0L)).as("n_kept"))
          .select("source", "n_total", "n_kept", "rate")
      }
    },

    // Per-source document caps — the domain-cap retention pass of web
    // corpus prep (a handful of giant domains otherwise dominate the
    // mix): keep at most 15 docs per source, retention priority longest
    // first (n_chars DESC, doc_id tiebreak). Unlike t13/t23's hash-rate
    // sampling this is a RANKED cut — the cap keeps the best docs, not a
    // random share. Scale shape: rank-then-filter over a per-source
    // window, which Spark 4 rewrites to a map-side WindowGroupLimit —
    // every task forwards at most 15 rows per source before the
    // exchange, so a source with a billion docs shuffles 15·tasks rows,
    // not a billion (asserted in TextAnalysisSpec).
    QueryDef.sql("t26_source_caps",
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) WHERE rk <= 15""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 15)
          .select("doc_id", "source", "rk")
      }
    },

    // Deterministic training order — the reproducible global shuffle a
    // training run needs (same corpus, same seed → byte-identical batch
    // order across reruns, retries, partitionings): order = content hash
    // of (seed, doc_id), materialized TWO-LEVEL as (shard = first hash
    // byte, pos = rank within shard by full hash). The loader consumes
    // shards in shard order and rows in pos order, which IS the global
    // hash order — but no operator ever runs a global sort: the rank
    // window partitions on 256 shards of N/256 rows each, so the "corpus
    // shuffle" costs one hash-keyed exchange, never a single-partition
    // row_number funnel (the classic driver-shaped mistake at 100 TB).
    QueryDef.sql("t27_training_order",
      """SELECT doc_id, substr(md5('ord:' || doc_id), 1, 2) AS shard,
        |       CAST(row_number() OVER (
        |         PARTITION BY substr(md5('ord:' || doc_id), 1, 2)
        |         ORDER BY md5('ord:' || doc_id), doc_id) AS BIGINT) AS pos
        |FROM documents""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = md5(concat(lit("ord:"), col("doc_id").cast("string")))
        val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"), h.as("h"), substring(h, 1, 2).as("shard"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select("doc_id", "shard", "pos")
      }
    },

    // The dataset card — the one-page corpus report an LLM data team
    // publishes with every release (per-language and overall: doc/token
    // volumes, exact-dup rate, quality distribution and gate pass
    // rate): composed here as ONE distributed pass — a single corpus
    // scan derives tokens/quality/content-hash per doc, the dup flag
    // rides one hash-keyed window, and ROLLUP(lang) emits the
    // per-language rows and the ALL row from the same aggregation
    // (no second scan for the total). The mean quality uses the exact
    // scaled-integer sum (s06's trick): summing doubles is
    // order-dependent; a sum of longs is associative, so the average is
    // bit-identical across engines and partitionings.
    QueryDef.sql("t28_corpus_card",
      s"""WITH $toksCte,
         |per AS (
         |  SELECT doc_id, lang, text, CAST(len(t) AS BIGINT) AS n_tokens,
         |         round(0.5 * (len(list_distinct(t)) / len(t))
         |             + 0.5 * (len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) / len(t)), 6) AS quality
         |  FROM toks WHERE len(t) > 0),
         |flg AS (
         |  SELECT lang, n_tokens, quality,
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
         |  FROM per)
         |SELECT coalesce(lang, 'ALL') AS lang,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       round(sum(CAST(round(quality * 1000000) AS BIGINT)) / 1000000.0 / count(*), 6)
         |         AS avg_quality,
         |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |       CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
         |FROM flg GROUP BY ROLLUP(lang)""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
        val flg = cardPerDoc(Tables.documents(s, dir))
          .withColumn("is_dup", row_number().over(w) > 1)
        flg.rollup("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("total_tokens"),
            round(sum(round(col("quality") * 1000000).cast("long")) / 1000000.0
              / count(lit(1)), 6).as("avg_quality"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
            sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_quality_pass"))
          .select(coalesce(col("lang"), lit("ALL")).as("lang"), col("n_docs"),
            col("total_tokens"), col("avg_quality"), col("n_dups"), col("n_quality_pass"))
      }
    },

    // Contamination-SAFE split assignment — t08's reproducible hash
    // split composed with d11's decontamination screen into the one
    // query a training run actually consumes: every doc gets its hash
    // split, then any train/val doc sharing a (df-capped) distinct
    // 5-gram with ANY test-split doc is QUARANTINED — eval integrity
    // beats corpus size, and the quarantine is explicit rather than a
    // silent drop so span accounting (d15/d16) can audit it. Scale
    // shape: the split is a pure md5 projection (retry/engine/partition
    // stable — t08's argument); the screen is d11's — per-doc-distinct
    // shingles, hot boilerplate shingles dropped by the df cap BEFORE
    // the join (observe-surfaced, oracle-mirrored), test×train contact
    // only ever through the shingle join, never doc×doc.
    QueryDef.sql("t29_safe_split",
      s"""WITH $toksCte,
         |sh5 AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(t)-4, 1)+1),
         |           i -> array_to_string(t[i:i+4], ' '))) AS sh
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh5),
         |freq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
         |kept AS (SELECT ex.doc_id, ex.shingle FROM ex
         |         JOIN freq ON ex.shingle = freq.shingle
         |         WHERE freq.df <= ${Dedup.MaxBucketSize}),
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN substr(md5('split:' || doc_id), 1, 1) <= 'b' THEN 'train'
         |              WHEN substr(md5('split:' || doc_id), 1, 1) <= 'd' THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents),
         |tesh AS (
         |  SELECT DISTINCT k.shingle FROM kept k
         |  JOIN sp ON sp.doc_id = k.doc_id AND sp.split = 'test'),
         |cont AS (
         |  SELECT DISTINCT k.doc_id FROM kept k
         |  JOIN sp s ON s.doc_id = k.doc_id AND s.split <> 'test'
         |  JOIN tesh t ON t.shingle = k.shingle)
         |SELECT sp.doc_id, sp.split, (c.doc_id IS NOT NULL) AS contaminated,
         |       CASE WHEN c.doc_id IS NOT NULL THEN 'quarantine' ELSE sp.split END
         |         AS final_split
         |FROM sp LEFT JOIN cont c ON c.doc_id = sp.doc_id""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val h1 = substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1)
        val sp = docs.select(col("doc_id"),
          when(h1 <= "b", "train").when(h1 <= "d", "val").otherwise("test").as("split"))
          .localCheckpoint(true) // reused: the explode's broadcast side + final join
        // ONE exchange of the exploded shingle table (it used to cross
        // three: the df window, a doc_id join, and the test-shingle
        // join). The split label rides the explode via a broadcast of
        // the doc-count-sized sp, the exploded frame is hash-clustered
        // by shingle ONCE and checkpointed, and then the df census
        // (groupBy reuses the clustering), the test-contact flag (same
        // aggregate — no separate distinct), and the contamination join
        // (both sides already hash(shingle)) all run shuffle-free on
        // top of it. fanOut: the tokenize+shingle projection is the hot
        // loop and ran single-threaded over the one-split fixture scan.
        // sp has one row per document: broadcast it only while the
        // documents' own size estimate fits the broadcast threshold
        // (-1, broadcasting off, fits nothing)
        val spSide =
          if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
            s.sessionState.conf.autoBroadcastJoinThreshold) broadcast(sp)
          else sp
        val ex = Tables.fanOut(docs)
          .select(col("doc_id"),
            explode(Exprs.wordShingles(Exprs.tokens(col("text")), 5)).as("shingle"))
          .join(spSide, "doc_id")
          .repartition(col("shingle"))
          .localCheckpoint(true)
        // per-shingle census: df (row count — shingles are per-doc
        // distinct) and whether any test doc carries it. The guard
        // metric is the same quantity the old per-row form observed:
        // the number of exploded rows living in over-cap shingles.
        val ag = ex.groupBy("shingle")
          .agg(count(lit(1)).as("df"),
            max(col("split") === "test").as("has_test"))
        val testSh = ag
          .observe("safe_split_guard",
            coalesce(sum(when(col("df") > Dedup.MaxBucketSize, col("df"))
              .otherwise(0L)), lit(0L)).as("rows_in_dropped_shingles"))
          .filter(col("df") <= Dedup.MaxBucketSize && col("has_test"))
          .select("shingle")
        val cont = ex.filter(col("split") =!= "test")
          .join(testSh, "shingle")
          .select("doc_id").distinct()
          .withColumn("c", lit(true))
        sp.join(cont, Seq("doc_id"), "left")
          .select(col("doc_id"), col("split"),
            coalesce(col("c"), lit(false)).as("contaminated"),
            when(coalesce(col("c"), lit(false)), "quarantine")
              .otherwise(col("split")).as("final_split"))
      }
    },

    // Iterative proportional fitting (raking): per-(lang, source) sample
    // weights such that the weighted corpus simultaneously matches
    // UNIFORM marginals over langs and over sources — the mixture
    // reweighting step t23 samples from when two constraint families
    // must hold at once (survey raking; the DoReMi-style domain-weight
    // shape). The IPF state is marginal-bounded — |langs| × |sources|
    // cells, NEVER corpus-bounded — so the only corpus-scale work is the
    // one groupBy building the cell counts; the 6 fitting rounds are
    // windowed projections over the tiny cell table (each half-step
    // scales cells by target/current within one marginal's partition —
    // a single predecessor reference per round, so the oracle unrolls as
    // a LINEAR CTE chain). Quantized to 6 decimals at every half-round
    // boundary (the s06/s13 re-sync contract). Structural zeros (absent
    // cells) stay absent, the standard IPF convention.
    QueryDef.sql("t30_mixture_raking",
      s"""WITH $rakingCtes
         |SELECT f.lang, f.source, CAST(c.m AS BIGINT) AS n_docs, f.m AS fitted
         |FROM m6 f JOIN m0 c USING (lang, source)""".stripMargin) {
      (s, dir) =>
        // n_docs + fitted, NOT the fitted/count ratio: a 6-decimal value
        // divided by a small integer lands on exact decimal halves often
        // (7.060543/14 = 0.5043245), where Spark's shortest-decimal
        // HALF_UP and DuckDB's binary round() disagree by one ulp. The
        // consumer derives the per-doc weight as fitted/n_docs.
        rakedCellTable(Tables.documents(s, dir))
    },

    // APPLIED raking — t30's fitted weights driven through the t13/t23
    // content-stable hash gate, emitting the actual resampled corpus
    // (t30 fits the mixture; this closes the loop the way d16 closed
    // d15's accounting). Per-cell keep-rate = the cell's fitted per-doc
    // weight scaled so the heaviest cell keeps everything (downsample-
    // only, no upsampling); membership = md5('rake:'||doc_id) under the
    // rate's 32-bit hex threshold — reproducible across runs, retries,
    // partitionings and engines. The emitted mixture is raking's whole
    // point: expected kept mass per lang is EXACTLY n/(nl·maxw) for
    // every lang (and per source likewise) — uniform marginals, gated
    // in TextAnalysisSpec. Scale shape: the fit is cell-bounded (t30),
    // the rate table is cells-sized and broadcast, the corpus pays one
    // scan; the division chain stays UNROUNDED doubles (bit-identical
    // IEEE ops in both engines) — only the hex threshold string, which
    // is exact, crosses into the output.
    QueryDef.sql("t32_raked_resample",
      s"""WITH $rakingCtes,
         |cells AS (
         |  SELECT f.lang, f.source, c.m AS n0, f.m AS fitted
         |  FROM m6 f JOIN m0 c USING (lang, source)),
         |mx AS (SELECT max(fitted / n0) AS maxw FROM cells),
         |rates AS (
         |  SELECT lang, source, (fitted / n0) / maxw AS rate,
         |         lower(lpad(hex(CAST(floor((fitted / n0) / maxw * 4294967296.0)
         |           AS BIGINT)), 8, '0')) AS thr
         |  FROM cells, mx)
         |SELECT d.doc_id, d.lang, d.source, r.thr
         |FROM documents d JOIN rates r USING (lang, source)
         |WHERE r.rate >= 1.0 OR substr(md5('rake:' || d.doc_id), 1, 8) < r.thr""".stripMargin) {
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val cells = rakedCellTable(docs)
        val w = col("fitted") / col("n_docs")
        val mx = cells.agg(max(w).as("maxw"))
        val rates = cells.crossJoin(broadcast(mx))
          .select(col("lang"), col("source"), (w / col("maxw")).as("rate"),
            lower(lpad(hex(floor(w / col("maxw") * 4294967296.0).cast("long")), 8, "0"))
              .as("thr"))
        val gate = col("rate") >= 1.0 ||
          substring(md5(concat(lit("rake:"), col("doc_id").cast("string"))), 1, 8) < col("thr")
        docs.join(broadcast(rates), Seq("lang", "source"))
          .filter(gate)
          .select(col("doc_id"), col("lang"), col("source"), col("thr"))
      }
    },

    // Sequence packing — the concat-then-chunk layout LLM pretraining
    // actually feeds the model (docs concatenated in a deterministic
    // order, sliced into fixed token-budget sequences; a doc may
    // straddle a boundary): per doc, its absolute token offset in the
    // packed stream and the [first, last] sequence ids it lands in.
    // The offset is an EXCLUSIVE running sum of token counts over the
    // doc_id total order — computed distributed by the two-phase
    // range-partition + per-partition-subtotal scan
    // (`Ranks.globalRunningSum`), NEVER a single-partition window (the
    // repo invariant); integer arithmetic end to end, so the result is
    // partition-count invariant by exactness and any engine re-derives
    // it bit-for-bit. Scale shape: one range exchange + a P-row
    // subtotal collect; the chunk math is a pure projection.
    QueryDef.sql("t33_sequence_packing",
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks
         |  FROM documents),
         |nz AS (SELECT doc_id, n_toks FROM toks WHERE n_toks > 0),
         |cum AS (
         |  SELECT doc_id, n_toks,
         |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM nz)
         |SELECT doc_id, n_toks, start_tok,
         |       CAST(floor(start_tok / $PackBudget) AS BIGINT) AS seq_first,
         |       CAST(floor((start_tok + n_toks - 1) / $PackBudget) AS BIGINT) AS seq_last,
         |       CAST(floor((start_tok + n_toks - 1) / $PackBudget)
         |          - floor(start_tok / $PackBudget) + 1 AS BIGINT) AS n_seqs
         |FROM cum""".stripMargin) {
      (s, dir) => {
        val cum = packedStream(s, dir)
        val first = floor(col("start_tok") / PackBudget).cast("long")
        val last = floor((col("start_tok") + col("n_toks") - 1) / PackBudget).cast("long")
        cum.select(col("doc_id"), col("n_toks"), col("start_tok"),
          first.as("seq_first"), last.as("seq_last"),
          (last - first + 1).as("n_seqs"))
      }
    },

    // The packing MANIFEST — t33 re-keyed to the unit the dataloader
    // actually reads: one row per fixed-budget sequence, with its doc
    // membership (count + id range) and its exact token fill. Every doc
    // explodes to the sequences it straddles (≤ spans, bounded by the
    // t33 closed form), each contributing the token overlap between its
    // [start, end] interval and the sequence's [seq·B, (seq+1)·B−1]
    // window — pure integer interval arithmetic, so the oracle is
    // bit-exact. The invariant a training job relies on — every
    // sequence except the stream's last is filled to EXACTLY the budget
    // (concat-then-chunk leaves no padding) — is gated in
    // TextAnalysisSpec. Scale shape: t33's range exchange + one
    // seq_id-keyed aggregation; the explode fan-out is sum(n_seqs) ≈
    // total_tokens/B + n_docs rows.
    QueryDef.sql("t34_pack_manifest",
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks
         |  FROM documents),
         |nz AS (SELECT doc_id, n_toks FROM toks WHERE n_toks > 0),
         |cum AS (
         |  SELECT doc_id, n_toks,
         |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM nz),
         |spans AS (
         |  SELECT doc_id, n_toks, start_tok,
         |         unnest(range(start_tok // $PackBudget,
         |                      (start_tok + n_toks - 1) // $PackBudget + 1)) AS seq_id
         |  FROM cum)
         |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |       CAST(sum(least((seq_id + 1) * $PackBudget - 1, start_tok + n_toks - 1)
         |              - greatest(seq_id * $PackBudget, start_tok) + 1) AS BIGINT) AS fill
         |FROM spans GROUP BY seq_id""".stripMargin) {
      (s, dir) => manifestOf(packedStream(s, dir))
    },

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every
    // document by how much more likely its tokens are under a TARGET
    // domain's unigram LM (source='src0' here — the pretrain recipe's
    // high-quality proxy) than under the RAW corpus LM, both add-1
    // smoothed over the shared vocabulary; weight = Σ_tok ln(p_tgt/p_raw).
    // Selection then samples ∝ exp(weight) — emitting the per-doc weight
    // is the operator; any sampler composes downstream (t13/t23). Scale
    // shape: ONE corpus token pass builds both LMs in a single groupBy
    // (target counts fold in as a conditional sum, not a second scan);
    // the log-ratio table is vocab-sized and broadcast back onto the
    // token stream; scalars (Nt, Nr, V) ride a broadcast 1-row frame.
    // Per-token ratios quantize to 12 decimals before the per-doc sum
    // (the s24 re-sync contract) so the 6-decimal output is stable
    // across engines and partitionings.
    QueryDef.sql("t31_dsir_weight",
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cr,
        |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY tok),
        |st AS (
        |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt,
        |         CAST(count(*) AS BIGINT) AS v
        |  FROM tf),
        |lr AS (
        |  SELECT tok, round(ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v)), 12) AS lr
        |  FROM tf, st)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks, round(sum(l.lr), 6) AS dsir_w
        |FROM toks t JOIN lr l USING (tok)
        |GROUP BY t.doc_id""".stripMargin) {
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), explode(Exprs.tokens(col("text"))).as("tok"))
        val tf = toks.groupBy("tok").agg(
          count(lit(1)).as("cr"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
          .localCheckpoint(true) // one corpus pass feeds the scalars AND the ratio table
        val st = tf.agg(sum("cr").as("nr"), sum("ct").as("nt"), count(lit(1)).as("v"))
        val lr = tf.crossJoin(broadcast(st))
          .select(col("tok"),
            round(log((col("ct") + lit(1.0)) / (col("nt") + col("v")))
              - log((col("cr") + lit(1.0)) / (col("nr") + col("v"))), 12).as("lr"))
        toks.join(broadcast(lr), "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), round(sum("lr"), 6).as("dsir_w"))
      }
    }
  )

  /** t28's per-document projection (doc_id, lang, text, n_tokens,
    * quality), shared with the streaming card
    * ([[graft.streaming.CardStreams]]) so the batch and incremental
    * forms are the same code path by construction. Empty-token docs are
    * excluded here, on both paths. */
  private[graft] def cardPerDoc(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = col("t")
    val en = stop("en")
    val quality = round(
      lit(0.5) * (size(array_distinct(t)) / size(t))
        + lit(0.5) * (size(filter(t, x => x.isin(en: _*))) / size(t)), 6)
    docs.select(col("doc_id"), col("lang"), col("text"), Exprs.tokens(col("text")).as("t"))
      .filter(size(t) > 0)
      .select(col("doc_id"), col("lang"), col("text"),
        size(t).cast("long").as("n_tokens"), quality.as("quality"))
  }
}
