package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-construction operators beyond per-document filtering — the three
  * classic "build a training set" passes over the `documents` table
  * (SURVEY.md §2.8 north-star family):
  *
  *  - [[dupSpans]]: span-level duplication audit — the Spark-first
  *    re-expression of suffix-array substring dedup ("Deduplicating Training
  *    Data Makes Language Models Better", Lee et al. 2021): every W-token
  *    rolling window is hashed and windows whose hash repeats anywhere in
  *    the corpus are flagged. Suffix arrays don't distribute; rolling
  *    window-hash → groupBy does, with identical "which spans are repeated"
  *    semantics at window granularity.
  *  - [[bpePairStats]]: corpus-wide adjacent-pair frequencies, the counting
  *    step of one BPE merge iteration (tokenizer training at corpus scale).
  *  - [[dsirAudit]]: importance-weighted data selection (DSIR, Xie et al.
  *    2023): per-document log importance weight = Σ_tokens
  *    ln(p_target/p_raw) under Laplace-smoothed unigram models, with the
  *    in-corpus `lang = target` slice as the target distribution.
  *
  * Scale shape: everything here is explode → hash-keyed aggregation →
  * hash-keyed join — no all-pairs joins, no driver loops, no UDFs. The
  * window explode in [[dupSpans]] is the big one (one row per token
  * position, ×32-hex-char hash), but it is strictly linear in corpus tokens
  * and map-side combinable; at 100 TB it is a standard shuffle-bounded
  * n-gram pipeline, same class as the shingle passes in [[Dedup]].
  */
object Corpus {

  /** Window width (tokens) for span-level duplication. Lee et al. use 50
    * BPE tokens; the synthetic fixture's planted near-dups share spans well
    * above 20 whitespace tokens, so 20 keeps the audit non-vacuous at
    * fixture scale (747 cross-doc duplicated hashes at sf0.01).
    */
  val DupSpanTokens = 20

  /** Top-k pairs reported by the BPE pair audit. */
  val BpePairTopK = 20

  /** Target slice for DSIR importance weights: the `lang` value whose
    * unigram distribution defines p_target (the "high-quality reference"
    * role that KenLM-on-Wikipedia plays in the paper).
    */
  val DsirTargetLang = "en"

  // --- span-level duplication audit ------------------------------------------

  /** Per-source span-duplication audit over rolling W-token windows.
    *
    * Plan: one explode to (doc, window-hash) — md5 over the space-joined
    * window so the hash is oracle-computable on both engines — then a
    * corpus-wide count per hash (map-side combined), a shuffle join of the
    * window relation back to its counts on the hash key, and a per-source
    * aggregation. Every shuffle is keyed on the window hash (uniform by
    * construction); nothing is quadratic, unlike shingle-bucket self-joins
    * there is no pair materialization at all.
    */
  def dupSpanAudit(docsIn: DataFrame, w: Int = DupSpanTokens): DataFrame = {
    val t = docsIn
      .select(col("doc_id"), col("source"),
              TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    // sequence(0, n-w) DESCENDS when n-w < 0 — guard short docs to an
    // empty window list instead
    val ex = t
      .withColumn("hs",
        when(col("n") >= w,
          transform(sequence(lit(0), col("n") - w),
            i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
    val counts = ex.groupBy("h").agg(count(lit(1)).as("c"))
    val j = ex.join(counts, "h")
    val agg = j.groupBy("source").agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
      countDistinct(when(col("c") > 1, col("doc_id"))).as("n_docs_with_dup"),
      countDistinct(when(col("c") > 1, col("h"))).as("n_dup_spans"))
    // all-documents left-join base, like every sibling per-source audit:
    // a source of only short docs still shows up with zero windows
    val base = docsIn.groupBy("source").agg(count(lit(1)).as("n_docs"))
    base.join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_docs_with_dup"), lit(0L)).as("n_docs_with_dup"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .orderBy("source")
  }

  /** q_dup_spans: span-duplication audit over the documents table. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpanAudit(Tables.documents(spark, dir))

  val dupSpansOracle: String = {
    val w = DupSpanTokens
    s"""WITH t AS (SELECT doc_id, source, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |ex AS (SELECT doc_id, source, toks, unnest(range(0, len(toks) - $w + 1)) AS i
       |       FROM t WHERE len(toks) >= $w),
       |wnd AS (SELECT doc_id, source,
       |               md5(array_to_string(toks[(i+1):(i+$w)], ' ')) AS h
       |        FROM ex),
       |c AS (SELECT h, COUNT(*) AS c FROM wnd GROUP BY 1),
       |j AS (SELECT wnd.source, wnd.doc_id, wnd.h, c.c FROM wnd JOIN c USING (h)),
       |agg AS (SELECT source,
       |               COUNT(*) AS n_windows,
       |               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       |               COUNT(DISTINCT CASE WHEN c > 1 THEN doc_id END) AS n_docs_with_dup,
       |               COUNT(DISTINCT CASE WHEN c > 1 THEN h END) AS n_dup_spans
       |        FROM j GROUP BY 1),
       |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT base.source, base.n_docs,
       |       COALESCE(agg.n_windows, 0) AS n_windows,
       |       COALESCE(agg.n_dup_windows, 0) AS n_dup_windows,
       |       COALESCE(agg.n_docs_with_dup, 0) AS n_docs_with_dup,
       |       COALESCE(agg.n_dup_spans, 0) AS n_dup_spans
       |FROM base LEFT JOIN agg USING (source) ORDER BY 1""".stripMargin
  }

  // --- cross-source overlap matrix -------------------------------------------

  /** q_source_overlap: pairwise cross-source content-overlap matrix — for
    * every source pair, the number of distinct [[DupSpanTokens]]-token
    * rolling-window hashes that occur in BOTH sources. The provenance
    * question dedup reports answer next ("which feeds are copying each
    * other / syndicating the same wire text"), and the input to
    * source-level dedup ordering; exact-text overlap is vacuous here
    * (every fixture text is unique) while span overlap is not — the
    * planted near-dups cross source boundaries.
    *
    * Scale shape: the span explode is [[dupSpanAudit]]'s (linear in corpus
    * tokens); the matrix comes from a DISTINCT (hash, source) projection —
    * at most #sources rows per hash, so the hash-keyed self-join fans out
    * to at most C(#sources, 2) rows per hash, bounded by source
    * cardinality, never by corpus size. No all-pairs document join.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val w = DupSpanTokens
    // re-spread (util.Spread): the span build — tokenize + per-window
    // concat_ws + md5 over every token position — inherits the scan's
    // single parquet split, so the whole map side of the distinct ran as
    // ONE task (StageBench r17: 2.7 s single-task, 6.6 MB shuffle out —
    // most of the query). No-op at real split counts; per-doc work feeding
    // a distinct → result invariant.
    val t = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= w)
    val hs = t
      .select(col("source"), explode(
        transform(sequence(lit(0), col("n") - w),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w)))))).as("h"))
      .distinct()
    // NO persist here, deliberately — measured, not assumed: pinning hs
    // (persist MEMORY_AND_DISK + eager count) costs 6.3-7.5 s at sf0.1 vs
    // 2.7-3.9 s letting both self-join sides recompute the subplan. The
    // distinct's map stage (tokenize → explode → md5) is codegen-parallel
    // and cheap per side, while the pin serializes a cache write of the
    // full span-hash relation plus an extra job BEFORE the join can start.
    // The eager-pin discipline (ops package contract) pays off when a
    // cached relation feeds consumers racing across separate actions, not
    // for a cheap same-plan twin inside one action.
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapOracle: String = {
    val w = DupSpanTokens
    s"""WITH t AS (SELECT source, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |ex AS (SELECT source, toks, unnest(range(0, len(toks) - $w + 1)) AS i
       |       FROM t WHERE len(toks) >= $w),
       |hs AS (SELECT DISTINCT source,
       |              md5(array_to_string(toks[(i+1):(i+$w)], ' ')) AS h
       |       FROM ex)
       |SELECT a.source AS source_a, b.source AS source_b,
       |       COUNT(*) AS n_shared_spans
       |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Bottom-k sketch size for [[sourceOverlapSketch]] — well below fixture
    * per-source span-set sizes (~10³), so the sketch path is genuinely
    * estimating, not enumerating.
    */
  val OverlapSketchK = 128

  /** q_source_overlap_sketch: the 100 TB path for [[sourceOverlap]]'s
    * matrix — per-source BOTTOM-K sketches of the span-hash sets (the k
    * lexicographically-smallest md5 hashes: md5 order is effectively a
    * random permutation, so this is the classic KMV/bottom-k MinHash
    * sketch, deterministic and oracle-checkable), with the estimate
    * audited against the exact overlap in the same row — the
    * sketch-accuracy governance pattern of `q_minhash_est_check` /
    * `q_kyakusu_approx_check`.
    *
    * Estimator (Bar-Yossef et al. / Beyer et al.): for a pair, merge both
    * sketches, rank the union's hashes, and inside the k smallest count
    * those present in BOTH sketches → Ĵ = c/k; |A∩B| ≈ Ĵ/(1+Ĵ)·(|A|+|B|).
    * Unlike the exact matrix, every pair emits a row (zeros included) —
    * the complete S×S picture.
    *
    * Scale: the only corpus-sized work is the distinct span projection and
    * its per-source bottom-k (a partial WindowGroupLimit — each task keeps
    * k rows per source before the shuffle); everything after operates on
    * S·k sketch rows against a broadcast S²/2 pair list, cost independent
    * of corpus size. The exact column is the governance audit — at
    * production scale it would be computed on a sampled pair subset.
    */
  def sourceOverlapSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (w, k) = (DupSpanTokens, OverlapSketchK)
    // re-spread: same single-task span-build bound as sourceOverlap
    // (StageBench r17: 2.0 s single-task before the hs pin)
    val t = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= w)
    val hs = t
      .select(col("source"), explode(
        transform(sequence(lit(0), col("n") - w),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w)))))).as("h"))
      .distinct()
      // hs feeds four consumers (sketch, sizes, both exact join sides):
      // eager pin per the ops package contract
      .persist()
    hs.count()
    val sk = hs
      .withColumn("rn", row_number().over(Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= k)
      .select("source", "h")
    val sizes = hs.groupBy("source").agg(count(lit(1)).as("n"))
    val srcs = sizes.select("source")
    val pairs = srcs.as("a").join(srcs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"))
    val merged = sk.join(broadcast(pairs),
        col("source") === col("sa") || col("source") === col("sb"))
      .groupBy("sa", "sb", "h")
      .agg(max((col("source") === col("sa")).cast("int")).as("ia"),
           max((col("source") === col("sb")).cast("int")).as("ib"))
    val est = merged
      .withColumn("rn", row_number().over(Window.partitionBy("sa", "sb").orderBy("h")))
      .groupBy("sa", "sb")
      .agg(
        sum(when(col("rn") <= k && col("ia") === 1 && col("ib") === 1, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("rn") <= k, 1L).otherwise(0L)).as("k_used"))
    val exact = hs.as("x").join(hs.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("n_shared_exact"))
    est
      .join(sizes.select(col("source").as("sa"), col("n").as("n_a")), "sa")
      .join(sizes.select(col("source").as("sb"), col("n").as("n_b")), "sb")
      .join(exact, Seq("sa", "sb"), "left")
      .select(
        col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_a"), col("n_b"), col("k_used"), col("n_both"),
        (col("n_both").cast("double") / col("k_used")).as("j_est"),
        coalesce(col("n_shared_exact"), lit(0L)).as("n_shared_exact"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSketchOracle: String = {
    val (w, k) = (DupSpanTokens, OverlapSketchK)
    s"""WITH t AS (SELECT source, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |ex AS (SELECT source, toks, unnest(range(0, len(toks) - $w + 1)) AS i
       |       FROM t WHERE len(toks) >= $w),
       |hs AS (SELECT DISTINCT source,
       |              md5(array_to_string(toks[(i+1):(i+$w)], ' ')) AS h
       |       FROM ex),
       |sk AS (SELECT source, h FROM (
       |         SELECT source, h,
       |                ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |         FROM hs) WHERE rn <= $k),
       |sizes AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |          FROM sizes a JOIN sizes b ON a.source < b.source),
       |merged AS (
       |  SELECT p.sa, p.sb, s.h,
       |         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
       |         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
       |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
       |  GROUP BY 1, 2, 3),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |      FROM merged),
       |est AS (SELECT sa, sb,
       |               CAST(SUM(CASE WHEN rn <= $k AND ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |               CAST(SUM(CASE WHEN rn <= $k THEN 1 ELSE 0 END) AS BIGINT) AS k_used
       |        FROM r GROUP BY 1, 2),
       |exact AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_shared_exact
       |          FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
       |          GROUP BY 1, 2)
       |SELECT est.sa AS source_a, est.sb AS source_b,
       |       na.n AS n_a, nb.n AS n_b, k_used, n_both,
       |       CAST(n_both AS DOUBLE) / k_used AS j_est,
       |       COALESCE(exact.n_shared_exact, 0) AS n_shared_exact
       |FROM est
       |JOIN sizes na ON na.source = est.sa
       |JOIN sizes nb ON nb.source = est.sb
       |LEFT JOIN exact ON exact.sa = est.sa AND exact.sb = est.sb
       |ORDER BY 1, 2""".stripMargin
  }

  /** q_source_divergence: pairwise Jensen-Shannon divergence (nats)
    * between sources' unigram distributions — the DISTRIBUTIONAL
    * complement to [[sourceOverlap]]'s span matrix: overlap catches
    * copied text, divergence catches sources that merely write alike
    * (register, vocabulary), which is what source-mixing and routing
    * decisions actually key on. JSD is symmetric and bounded (≤ ln 2),
    * so the matrix is directly comparable across pairs.
    *
    * Exactness: p's are exact-integer count ratios; each shared-token
    * term is one fixed double expression whose per-pair sum is carried as
    * DECIMAL(28,10) (order-independent — the [[graft.ops.TextAnalysis]]
    * lmQuality idiom, with the same empirical cross-libm `ln` parity its
    * long-green oracle validates); tokens private to one side contribute
    * exactly p·ln2/2, folded in closed form from the shared-mass
    * DECIMAL sums — no per-token pass over the disjoint vocabularies.
    * Pairs sharing no token emit no row (both engines).
    *
    * Scale shape: per-source term relations join on the token key, so
    * fan-out per token is bounded by sources-carrying-it², never corpus
    * size ([[sourceOverlap]]'s argument); the per-pair aggregation is
    * map-side combined. The term relation is persisted — it feeds both
    * join sides.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame =
    // re-spread (util.Spread): the tokenize+explode feeding the term
    // counts inherits the scan's single parquet split (StageBench r17:
    // 0.8 s single-task); no-op at real split counts, counts invariant
    sourceDivergenceOf(graft.util.Spread.forCpu(Tables.documents(spark, dir)))

  /** [[sourceDivergence]] core over an explicit documents relation. */
  def sourceDivergenceOf(docsIn: DataFrame): DataFrame = {
    val ex = docsIn.select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val counts = ex.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum("c").cast("double").as("n"))
    val rel = counts.join(totals, "source")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rel.count() // both self-join sides consume rel: pin eagerly
    val pa = col("a.c").cast("double") / col("a.n")
    val pb = col("b.c").cast("double") / col("b.n")
    val term = ((pa * log(lit(2.0) * pa / (pa + pb)) +
                 pb * log(lit(2.0) * pb / (pa + pb))) * lit(0.5))
      .cast("decimal(28,10)")
    rel.as("a").join(rel.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"),
           sum(term).as("tsum"),
           sum(pa.cast("decimal(28,10)")).as("sa"),
           sum(pb.cast("decimal(28,10)")).as("sb"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("tsum").cast("double") +
          ((lit(1.0) - col("sa").cast("double")) +
           (lit(1.0) - col("sb").cast("double"))) * log(lit(2.0)) / lit(2.0))
          .as("jsd"))
      .orderBy("source_a", "source_b")
  }

  val sourceDivergenceOracle: String =
    s"""WITH ex AS (SELECT source, unnest(${TextAnalysis.tokensSql}) AS tok FROM documents),
       |c AS (SELECT source, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2),
       |t AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n FROM c GROUP BY 1),
       |rel AS (SELECT c.source, tok, CAST(c.c AS DOUBLE) / t.n AS p
       |        FROM c JOIN t USING (source)),
       |j AS (SELECT a.source AS source_a, b.source AS source_b, a.p AS pa, b.p AS pb
       |      FROM rel a JOIN rel b ON a.tok = b.tok AND a.source < b.source),
       |g AS (SELECT source_a, source_b, COUNT(*) AS n_shared,
       |             SUM(CAST((pa * ln(2.0 * pa / (pa + pb)) +
       |                       pb * ln(2.0 * pb / (pa + pb))) * 0.5 AS DECIMAL(28,10))) AS tsum,
       |             SUM(CAST(pa AS DECIMAL(28,10))) AS sa,
       |             SUM(CAST(pb AS DECIMAL(28,10))) AS sb
       |      FROM j GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |       CAST(tsum AS DOUBLE) +
       |       ((1.0 - CAST(sa AS DOUBLE)) + (1.0 - CAST(sb AS DOUBLE))) * ln(2.0) / 2.0 AS jsd
       |FROM g ORDER BY 1, 2""".stripMargin

  /** q_span_novelty: token-level NOVELTY of the daily batch — what fraction
    * of today's rolling [[DupSpanTokens]]-token spans has the accumulated
    * corpus never seen? The "how much of today's crawl is actually new
    * text" signal that drives crawl-source budgeting, sitting between
    * exact incremental dedup (whole-doc granularity,
    * [[graft.ops.Dedup.incrementalDedup]]) and near-dup probing
    * ([[graft.ops.Dedup.minhashIncremental]]): a batch can be 100%
    * doc-novel yet 90% span-stale (syndicated rewrites), and this audit is
    * what exposes that.
    *
    * Split: the [[graft.ops.Dedup.dedupIncremental]] history/batch
    * convention (doc_id % 10 < 8 = already ingested). Per batch source:
    * total spans, spans whose hash is absent from the history span index
    * (anti-join — batch-internal repeats still count as novel vs the
    * corpus), and the novelty ratio.
    *
    * 100 TB shape: the accumulated corpus appears ONLY as its span-hash
    * index; production keeps that index bucketed on `h` (the
    * [[graft.ops.Dedup.incrementalDedup]] layout note), so the daily
    * anti-join co-locates without re-shuffling history and the per-day
    * cost is O(batch spans + touched buckets). No distinct on the index
    * side — LEFT ANTI is duplicate-insensitive on its right input.
    */
  def spanNovelty(spark: SparkSession, dir: String): DataFrame = {
    val w = DupSpanTokens
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    def spansOf(df: DataFrame): DataFrame = df.filter(col("n") >= w)
      .select(col("source"), explode(
        transform(sequence(lit(0), col("n") - w),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w)))))).as("h"))
    val hist = spansOf(t.filter(pmod(col("doc_id"), lit(10)) < 8)).select("h")
    val batchDocs = t.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val batch = spansOf(batchDocs)
    val per = batch.groupBy("source").agg(count(lit(1)).as("n_spans"))
    val novel = batch.join(hist, Seq("h"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
    batchDocs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(per, Seq("source"), "left")
      .join(novel, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_spans"), lit(0L)) > 0,
          coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_spans"))
          .as("novelty"))
      .orderBy("source")
  }

  val spanNoveltyOracle: String = {
    val w = DupSpanTokens
    s"""WITH t AS (SELECT doc_id, source, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |ex AS (SELECT doc_id, source,
       |              md5(array_to_string(toks[(i+1):(i+$w)], ' ')) AS h
       |       FROM (SELECT doc_id, source, toks, unnest(range(0, len(toks) - $w + 1)) AS i
       |             FROM t WHERE len(toks) >= $w)),
       |hist AS (SELECT h FROM ex WHERE doc_id % 10 < 8),
       |batch AS (SELECT source, h FROM ex WHERE doc_id % 10 >= 8),
       |per AS (SELECT source, COUNT(*) AS n_spans FROM batch GROUP BY 1),
       |novel AS (SELECT source, COUNT(*) AS n_novel FROM batch b
       |          WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = b.h)
       |          GROUP BY 1),
       |base AS (SELECT source, COUNT(*) AS n_docs FROM t
       |         WHERE doc_id % 10 >= 8 GROUP BY 1)
       |SELECT base.source, base.n_docs,
       |       COALESCE(per.n_spans, 0) AS n_spans,
       |       COALESCE(novel.n_novel, 0) AS n_novel,
       |       CASE WHEN COALESCE(per.n_spans, 0) > 0
       |            THEN COALESCE(novel.n_novel, 0)::DOUBLE / per.n_spans END AS novelty
       |FROM base
       |LEFT JOIN per ON base.source = per.source
       |LEFT JOIN novel ON base.source = novel.source
       |ORDER BY 1""".stripMargin
  }

  // --- BPE pair-merge counting -----------------------------------------------

  /** Top-k adjacent token pairs with dense rank — the argmax-candidate table
    * of one BPE merge iteration, computed corpus-wide. One explode (n−1
    * positional pairs per doc), one map-side-combined count aggregation,
    * then the rank-count broadcast self-join on the ≤k winners (the
    * [[TextAnalysis.vocabTopK]] idiom — no WindowExec, no single-task
    * global sort of the full pair table; `orderBy.limit(k)` plans as a
    * distributed TakeOrderedAndProject).
    */
  def bpePairStats(docsIn: DataFrame, k: Int = BpePairTopK): DataFrame = {
    val t = docsIn
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val pairs = t.filter(col("n") >= 2)
      .select(explode(transform(sequence(lit(1), col("n") - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
                            element_at(col("toks"), i + 1)))).as("pair"))
    val top = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
    val before = top.select(col("pair").as("pair2"), col("cnt").as("cnt2"))
    top.join(broadcast(before),
        col("cnt2") > col("cnt") ||
          (col("cnt2") === col("cnt") && col("pair2") < col("pair")), "left")
      .groupBy("pair", "cnt")
      .agg((count(col("pair2")) + 1).cast("int").as("rank"))
      .select("rank", "pair", "cnt")
      .orderBy("rank")
  }

  /** q_bpe_pairs: top adjacent-pair counts over the documents table. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    bpePairStats(Tables.documents(spark, dir))

  /** Merge iterations for q_bpe_merges. Three rounds are enough to show
    * the table CHANGING under merges (round 2's winner doesn't exist in
    * round 1's vocabulary) while keeping the oracle's unrolled CTE chain
    * readable; the implementation takes any count.
    */
  val BpeMergeSteps = 3

  /** Joiner for merged tokens ("a" + "b" → "a_b"). Purely presentational —
    * determinism never depends on it being collision-free with natural
    * tokens, since both engines apply the identical concatenation.
    */
  private val BpeJoin = "_"

  /** q_bpe_merges: ITERATED BPE tokenizer training — per round, count all
    * adjacent token pairs, take the global argmax (count desc, pair asc
    * tiebreak), and APPLY it: every greedy left-to-right non-overlapping
    * occurrence of the winning pair fuses into one token; the next round
    * counts pairs over the rewritten corpus. [[bpePairStats]] is one
    * round's candidate table; this is the actual merge loop that produces
    * a tokenizer's merge list (Sennrich et al. 2016), and each round's
    * winner is visible to the next (round-2 pairs can contain round-1's
    * fused token).
    *
    * Merge application runs entirely in the ARRAY domain, per document —
    * no regex, no per-doc sequential UDF, no assumption about token
    * charsets, and (the scale point) NO shuffle: the only exchange per
    * round is the pair-count aggregation. Per doc:
    *   - match positions `i` where (toks[i], toks[i+1]) equals the
    *     broadcast winner (`filter` over positions);
    *   - greedy left-to-right keeps a match only if it doesn't overlap the
    *     previously kept one (`aggregate` carrying the last kept position
    *     over the — short — match list);
    *   - rebuild: drop every follower of a kept position, fuse kept
    *     positions to `tok·[[BpeJoin]]·nxt`.
    *
    * Determinism: pair counts are exact integers, the argmax tiebreak is
    * total, and greedy selection is a closed form — no engine freedom
    * anywhere, so the whole iterated chain is oracle-unrolled (the
    * [[graft.ops.Similarity.kmeans]] pattern). The oracle expresses the
    * SAME greedy rule in windowed form over the exploded corpus (kept
    * matches = even offsets within each maximal run of consecutive match
    * positions — the two formulations are equivalent because a merge at i
    * consumes token i+1, so overlaps are exactly adjacent match
    * positions). Output: one row per merge round — the winning pair, its
    * pre-merge count, and corpus token counts before/after (n_before −
    * n_after = applied merges, < cnt when runs overlap).
    *
    * 100 TB shape: per round, one map-side-combined pair count +
    * distributed TakeOrdered(1) broadcast back, then a narrow per-doc
    * array rewrite; the per-generation corpus is persisted and the
    * predecessor unpersisted (bounded cache at any round count — the
    * kmeans generational discipline). Rounds are a constant multiplier on
    * a linear pipeline.
    */
  def bpeMerges(spark: SparkSession, dir: String, steps: Int = BpeMergeSteps): DataFrame =
    // re-spread: the fixture is single-row-group parquet, and every round's
    // CPU-heavy per-doc array work inherits the scan's task count (see
    // util.Spread — a no-op at real split counts)
    bpeMergeLog(graft.util.Spread.forCpu(Tables.documents(spark, dir)), steps)

  /** [[bpeMerges]] core over an explicit documents relation (injectable
    * for hand-built-fixture tests, the [[bpePairStats]]/[[dsirAudit]]
    * idiom).
    */
  def bpeMergeLog(docsIn: DataFrame, steps: Int = BpeMergeSteps): DataFrame = {
    val (logs, finalGen) = bpeChain(docsIn, steps)
    finalGen.unpersist(blocking = false) // the log references only the winners
    logs match {
      case Seq() => // pair-less from the start: empty log with the right schema
        finalGen.sparkSession.emptyDataFrame
          .select(lit(0).as("step"), lit("").as("pair"), lit(0L).as("cnt"),
            lit(0L).as("n_tokens_before"), lit(0L).as("n_tokens_after"))
          .limit(0)
      case ls => ls.reduce(_ union _).orderBy("step")
    }
  }

  /** The merge loop shared by [[bpeMergeLog]] and [[bpeCompressionAudit]]:
    * returns the per-round log rows (each referencing its pinned 1-row
    * winner) and the FINAL corpus generation, still persisted — the caller
    * either unpersists it (log) or aggregates it (compression audit).
    */
  private def bpeChain(docsIn: DataFrame, steps: Int): (Seq[DataFrame], DataFrame) = {
    require(steps >= 1, s"bpeMerges needs >= 1 step, got $steps")
    val emptyInts = array().cast("array<int>")
    // positions 1..k as a guarded sequence: Spark's sequence(1, 0) counts
    // DOWN ([1, 0]), so short arrays must yield [] explicitly
    def positions(k: Column): Column =
      when(k >= 1, sequence(lit(1), k)).otherwise(emptyInts)
    var gen = docsIn
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .persist()
    def nTokens(g: DataFrame): Long =
      g.agg(coalesce(sum(size(col("toks"))), lit(0L))).first().getLong(0)
    var nBefore = nTokens(gen) // eager pin + the round's token count in one job
    val logs = Seq.newBuilder[DataFrame]
    var exhausted = false
    for (t <- 1 to steps if !exhausted) {
      val el = (i: Column) => element_at(col("toks"), i)
      // winner stays a 1-row broadcast relation — the driver never sees it
      val top1 = gen
        .select(explode(transform(positions(size(col("toks")) - 1),
          i => struct(el(i).as("p1"), el(i + 1).as("p2")))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(1)
        .persist()
      // two consumers (merge plan + log row): pin eagerly. A pair-less
      // corpus (every doc ≤ 1 token) has no winner — stop rather than
      // cross-join the empty relation (which would wipe the corpus);
      // rounds that never ran emit no log row.
      exhausted = top1.count() == 0
      if (exhausted) {
        top1.unpersist(blocking = false)
      } else {
      // all match positions (ascending), then greedy non-overlap selection:
      // keep i unless it overlaps the last kept match (i == last + 1)
      val matches = filter(positions(size(col("toks")) - 1),
        i => el(i) === col("p1") && el(i + 1) === col("p2"))
      val kept = aggregate(matches,
        named_struct(lit("sel"), emptyInts, lit("last"), lit(-2)),
        (acc, i) => when(i > acc.getField("last") + 1,
            named_struct(lit("sel"), concat(acc.getField("sel"), array(i)),
                         lit("last"), i))
          .otherwise(acc),
        acc => acc.getField("sel"))
      val next = gen.crossJoin(broadcast(top1))
        .withColumn("sel", kept)
        .select(col("doc_id"), col("source"),
          transform(
            filter(positions(size(col("toks"))),
              i => !array_contains(col("sel"), i - 1)),
            i => when(array_contains(col("sel"), i),
                concat(el(i), lit(BpeJoin), el(i + 1)))
              .otherwise(el(i))).as("toks"))
        .persist()
      val nAfter = nTokens(next)
      logs += top1.select(lit(t).as("step"),
        concat_ws(" ", col("p1"), col("p2")).as("pair"), col("cnt"),
        lit(nBefore).as("n_tokens_before"), lit(nAfter).as("n_tokens_after"))
      gen.unpersist(blocking = false)
      gen = next
      nBefore = nAfter
      }
    }
    (logs.result(), gen)
  }

  /** q_bpe_compression: per-source compression audit after [[BpeMergeSteps]]
    * merge rounds — the "what did the learned merges buy per source"
    * number a tokenizer-training report publishes. Runs the SAME chain as
    * [[bpeMerges]] and aggregates the final generation: documents, token
    * mass before/after, and applied merges (= the difference, exactly).
    * Sources whose boilerplate repeats compress hardest — the signal that
    * ties tokenizer training back to source curation.
    */
  def bpeCompression(spark: SparkSession, dir: String, steps: Int = BpeMergeSteps): DataFrame =
    bpeCompressionAudit(graft.util.Spread.forCpu(Tables.documents(spark, dir)), steps)

  /** [[bpeCompression]] core over an explicit documents relation. */
  def bpeCompressionAudit(docsIn: DataFrame, steps: Int = BpeMergeSteps): DataFrame = {
    val (_, finalGen) = bpeChain(docsIn, steps)
    // tokens_before is the round-0 definition (sum of tokenized lengths),
    // computed from the input directly — bit-identical to the chain's g_0
    val before = docsIn.select(col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n").cast("long")).as("tokens_before"))
    val after = finalGen.groupBy("source")
      .agg(sum(size(col("toks")).cast("long")).as("tokens_after"))
    // finalGen stays pinned until the caller's clearCache (ops package
    // contract): the returned plan reads it through the `after` aggregate
    before.join(after, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("tokens_before"), lit(0L)).as("tokens_before"),
        coalesce(col("tokens_after"), lit(0L)).as("tokens_after"),
        (coalesce(col("tokens_before"), lit(0L)) -
         coalesce(col("tokens_after"), lit(0L))).as("n_merges"))
      .orderBy("source")
  }

  /** The unrolled merge-chain CTE: g_0 = the exploded corpus (source
    * carried for the compression audit), then per round t the pair argmax
    * and the windowed greedy-merge rewrite into g_t — the SQL mirror of
    * `bpeChain`, generated for any round count so the oracle unrolls
    * exactly what the engine runs.
    */
  private def bpeChainSql(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""g_0 AS (
              |  SELECT doc_id, source, CAST(i AS INT) AS pos, toks[i] AS tok
              |  FROM (SELECT doc_id, source, toks, unnest(range(1, len(toks) + 1)) AS i
              |        FROM (SELECT doc_id, source, ${TextAnalysis.tokensSql} AS toks FROM documents)))""".stripMargin
    for (t <- 1 to steps) {
      val p = t - 1
      sb ++= s""",
                |wn_$t AS (SELECT doc_id, source, pos, tok,
                |                 LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                |          FROM g_$p),
                |top_$t AS (SELECT tok AS p1, nxt AS p2, COUNT(*) AS cnt FROM wn_$t
                |           WHERE nxt IS NOT NULL GROUP BY 1, 2
                |           ORDER BY cnt DESC, p1, p2 LIMIT 1),
                |m_$t AS (SELECT doc_id, source, pos, tok, nxt,
                |                (nxt IS NOT NULL AND tok = (SELECT p1 FROM top_$t)
                |                                 AND nxt = (SELECT p2 FROM top_$t)) AS mtch
                |         FROM wn_$t),
                |c_$t AS (SELECT *, SUM(CASE WHEN mtch THEN 0 ELSE 1 END)
                |                     OVER (PARTITION BY doc_id ORDER BY pos) AS cum
                |         FROM m_$t),
                |a_$t AS (SELECT *, mtch AND (pos - MIN(CASE WHEN mtch THEN pos END)
                |                     OVER (PARTITION BY doc_id, cum)) % 2 = 0 AS applied
                |         FROM c_$t),
                |d_$t AS (SELECT *, COALESCE(LAG(applied)
                |                     OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS dropped
                |         FROM a_$t),
                |g_$t AS (SELECT doc_id, source,
                |                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS pos,
                |                CASE WHEN applied THEN tok || '$BpeJoin' || nxt ELSE tok END AS tok
                |         FROM d_$t WHERE NOT dropped),
                |log_$t AS (SELECT $t AS step, p1 || ' ' || p2 AS pair, cnt,
                |                  (SELECT COUNT(*) FROM g_$p) AS n_tokens_before,
                |                  (SELECT COUNT(*) FROM g_$t) AS n_tokens_after
                |           FROM top_$t)""".stripMargin
    }
    sb.toString
  }

  val bpeMergesOracle: String =
    s"""WITH ${bpeChainSql(BpeMergeSteps)}
       |${(1 to BpeMergeSteps).map(t => s"SELECT * FROM log_$t").mkString(" UNION ALL ")}
       |ORDER BY step""".stripMargin

  val bpeCompressionOracle: String =
    s"""WITH ${bpeChainSql(BpeMergeSteps)},
       |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |b0 AS (SELECT source, COUNT(*) AS tokens_before FROM g_0 GROUP BY 1),
       |bn AS (SELECT source, COUNT(*) AS tokens_after FROM g_$BpeMergeSteps GROUP BY 1)
       |SELECT base.source, base.n_docs,
       |       COALESCE(b0.tokens_before, 0) AS tokens_before,
       |       COALESCE(bn.tokens_after, 0) AS tokens_after,
       |       COALESCE(b0.tokens_before, 0) - COALESCE(bn.tokens_after, 0) AS n_merges
       |FROM base
       |LEFT JOIN b0 ON base.source = b0.source
       |LEFT JOIN bn ON base.source = bn.source
       |ORDER BY 1""".stripMargin

  val bpePairsOracle: String =
    s"""WITH t AS (SELECT ${TextAnalysis.tokensSql} AS toks FROM documents),
       |p AS (SELECT toks[i] || ' ' || toks[i+1] AS pair
       |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |            FROM t WHERE len(toks) >= 2)),
       |c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank, pair, cnt
       |FROM c QUALIFY rank <= $BpePairTopK ORDER BY rank""".stripMargin

  // --- DSIR importance-weighted selection ------------------------------------

  /** Per-source audit of DSIR importance weights. Per document:
    * log w = Σ_tokens ln(p_target(tok) / p_raw(tok)), with both unigram
    * models Laplace-smoothed over the RAW vocabulary
    * (p(t) = (c_t + 1)/(N + V)); positive log-weight ⇒ the document looks
    * more like the target slice than the background and is selected.
    *
    * Plan: one explode feeds both model builds and the scoring join; the
    * token→log-ratio table is vocabulary-sized (persisted, reused by the
    * scoring join on `tok`); model-size scalars ride a broadcast 1-row
    * cross join. Per-token log-ratios are summed as DECIMAL(28,10) so the
    * score is summation-order independent (the [[TextAnalysis.lmQuality]]
    * cross-engine exactness idiom).
    */
  def dsirAudit(docsIn: DataFrame, targetLang: String = DsirTargetLang): DataFrame = {
    val ex = docsIn.select(col("doc_id"), col("lang"),
                           explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val vocab = ex.groupBy("tok").agg(count(lit(1)).as("c_r"))
    val tvocab = ex.filter(col("lang") === targetLang)
      .groupBy("tok").agg(count(lit(1)).as("c_t"))
    val freqs = vocab.join(tvocab, Seq("tok"), "left")
      .select(col("tok"), col("c_r"), coalesce(col("c_t"), lit(0L)).as("c_t"))
      .persist()
    val scal = freqs.agg(
      sum("c_r").cast("double").as("n_r"),
      sum("c_t").cast("double").as("n_t"),
      count(lit(1)).cast("double").as("v"))
    val ratio = freqs.crossJoin(broadcast(scal))
      .select(col("tok"),
        log(((col("c_t") + lit(1.0)) / (col("n_t") + col("v"))) /
            ((col("c_r") + lit(1.0)) / (col("n_r") + col("v"))))
          .cast("decimal(28,10)").as("lr"))
    val per = ex.join(ratio, "tok")
      .groupBy("doc_id").agg(sum("lr").as("s"))
    docsIn.select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s") > 0, 1L).otherwise(0L)).as("n_selected"),
        min(col("s").cast("double")).as("min_w"),
        max(col("s").cast("double")).as("max_w"),
        sum(col("s")).cast("double").as("sum_w"))
      .orderBy("source")
  }

  /** q_dsir_weights: DSIR selection audit over the documents table. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirAudit(Tables.documents(spark, dir))

  val dsirWeightsOracle: String =
    s"""WITH ex AS (SELECT doc_id, lang, unnest(${TextAnalysis.tokensSql}) AS tok FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS c_r FROM ex GROUP BY 1),
       |tvocab AS (SELECT tok, COUNT(*) AS c_t FROM ex WHERE lang = '$DsirTargetLang' GROUP BY 1),
       |freqs AS (SELECT vocab.tok, vocab.c_r, COALESCE(tvocab.c_t, 0) AS c_t
       |          FROM vocab LEFT JOIN tvocab USING (tok)),
       |scal AS (SELECT CAST(SUM(c_r) AS DOUBLE) AS n_r,
       |                CAST(SUM(c_t) AS DOUBLE) AS n_t,
       |                CAST(COUNT(*) AS DOUBLE) AS v
       |         FROM freqs),
       |ratio AS (SELECT tok,
       |                 CAST(ln(((c_t + 1.0) / (n_t + v)) /
       |                         ((c_r + 1.0) / (n_r + v))) AS DECIMAL(28,10)) AS lr
       |          FROM freqs, scal),
       |per AS (SELECT ex.doc_id, SUM(ratio.lr) AS s
       |        FROM ex JOIN ratio USING (tok) GROUP BY 1)
       |SELECT d.source,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN per.s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |       MIN(CAST(per.s AS DOUBLE)) AS min_w,
       |       MAX(CAST(per.s AS DOUBLE)) AS max_w,
       |       CAST(SUM(per.s) AS DOUBLE) AS sum_w
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- bigram language-model scoring -----------------------------------------

  /** Per-source audit of bigram-LM log-likelihood — the n-gram step up from
    * the unigram [[TextAnalysis.lmQuality]] / [[dsirAudit]] models: train
    * add-one-smoothed bigram probabilities p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V)
    * on the corpus itself, score every document by its total and mean
    * per-bigram log-probability, and roll up per source. Low mean log-prob
    * (high perplexity) under a self-trained LM is the classic
    * "gibberish / boilerplate / wrong-language" curation signal
    * (CCNet-style filtering, Wenzek et al. 2020).
    *
    * Plan: one token explode feeds the unigram counts, the positional pair
    * explode feeds the bigram counts, and scoring joins each document
    * bigram to both count tables — all three aggregations are map-side
    * combined and every join is keyed on the token/bigram (hash-shuffle
    * joins with no broadcast ceiling: vocabulary size never touches the
    * driver). The V scalar rides a broadcast 1-row cross join. Per-bigram
    * log-probs are summed as DECIMAL(28,10) so document scores are
    * summation-order independent (the [[dsirAudit]] cross-engine exactness
    * idiom); the mean divides AFTER one final cast to double, so it is a
    * single IEEE division on both engines.
    */
  def ngramLmAudit(docsIn: DataFrame): DataFrame = {
    val toks = docsIn
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val bi = toks.filter(col("n") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n") - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
                      element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = toks.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vSize = c1.agg(count(lit(1)).cast("double").as("v"))
    val lp = c12.join(c1, "w1").crossJoin(broadcast(vSize))
      .select(col("w1"), col("w2"),
        log((col("c12") + lit(1.0)) / (col("c1") + col("v")))
          .cast("decimal(28,10)").as("lp"))
    val per = bi.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("lp").as("s"), count(lit(1)).as("n_bigrams"))
    docsIn.select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(col("s")).cast("double").as("sum_lp"),
        min(col("s").cast("double") / col("n_bigrams")).as("min_avg_lp"),
        max(col("s").cast("double") / col("n_bigrams")).as("max_avg_lp"))
      .orderBy("source")
  }

  /** q_ngram_lm: bigram-LM scoring audit over the documents table. */
  def ngramLm(spark: SparkSession, dir: String): DataFrame =
    ngramLmAudit(Tables.documents(spark, dir))

  val ngramLmOracle: String =
    s"""WITH t AS (SELECT doc_id, source, ${TextAnalysis.tokensSql} AS toks FROM documents),
       |bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |             FROM t WHERE len(toks) >= 2)),
       |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT unnest(toks) AS w1 FROM t),
       |c1c AS (SELECT w1, COUNT(*) AS c1 FROM c1 GROUP BY 1),
       |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM c1c),
       |lp AS (SELECT w1, w2,
       |              CAST(ln((c12 + 1.0) / (c1 + v)) AS DECIMAL(28,10)) AS lp
       |       FROM c12 JOIN c1c USING (w1), vs),
       |per AS (SELECT bi.doc_id, SUM(lp.lp) AS s, COUNT(*) AS n_bigrams
       |        FROM bi JOIN lp USING (w1, w2) GROUP BY 1)
       |SELECT d.source,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN per.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |       CAST(SUM(per.s) AS DOUBLE) AS sum_lp,
       |       MIN(CAST(per.s AS DOUBLE) / per.n_bigrams) AS min_avg_lp,
       |       MAX(CAST(per.s AS DOUBLE) / per.n_bigrams) AS max_avg_lp
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- deterministic weighted sampling (Efraimidis–Spirakis) -----------------

  /** Per-source sample size for [[weightedSample]]. */
  val SampleK = 5

  /** q_sample_weighted: weighted sampling without replacement, the
    * Efraimidis–Spirakis (2006) one-pass reservoir form: each doc draws a
    * deterministic uniform u from md5(doc_id), gets key = ln(u)/w (the
    * log-space equivalent of u^(1/w) — monotone, numerically safe), and the
    * top-[[SampleK]] keys per source are the sample. P(selected) ∝ w with
    * w = n_chars + 1, i.e. length-proportional sampling — the standard
    * "sample training docs proportional to token count" pass.
    *
    * Scale shape (100 TB): one narrow projection and ONE top-k-per-group.
    * The rank cut plans as a PARTIAL WindowGroupLimit below the source-key
    * exchange: each task keeps only K rows per source before shuffling, so
    * the plain row_number window is already the two-phase top-k at scale.
    * No RNG: u is md5-derived, so the sample is reproducible and exactly
    * oracle-checkable.
    *
    * Determinism: u is an exact double (52 md5 bits / 2^52); the ln only
    * ORDERS rows (a cross-engine last-ulp difference would need two keys
    * within an ulp to flip a rank), and the hashed output carries only
    * exact columns (rank, doc_id, w, u) — the transcendental never reaches
    * the hash compare.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), (col("n_chars") + 1).as("w"),
        (conv(substring(md5(concat(lit("es:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").cast("double") / lit(4503599627370496.0)).as("u"))
      .withColumn("es_key", log(col("u")) / col("w"))
    val win = Window.partitionBy("source").orderBy(col("es_key").desc, col("doc_id"))
    docs.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= SampleK)
      .select("source", "rank", "doc_id", "w", "u")
      .orderBy("source", "rank")
  }

  val weightedSampleOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id, source, n_chars + 1 AS w,
       |         (('0x' || substr(md5('es:' || doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
       |           / 4503599627370496.0 AS u
       |  FROM documents),
       |k AS (SELECT *, ln(u) / w AS es_key FROM s),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rank
       |      FROM k)
       |SELECT source, CAST(rank AS INT) AS rank, doc_id, w, u
       |FROM r WHERE rank <= $SampleK ORDER BY 1, 2""".stripMargin

  // --- Zipf-law fit -----------------------------------------------------------

  /** How many head ranks the Zipf fit uses. */
  val ZipfTopK = 100

  /** q_zipf_fit: Zipf-law diagnostics of the token frequency distribution —
    * the corpus-health statistic reviewers eyeball on every new data
    * source: natural text follows freq ∝ rank^(−s) with s ≈ 1; a far-off
    * exponent (or a bad fit) flags boilerplate floods, truncated
    * vocabularies, or synthetic text. Fits ln(freq) = a − s·ln(rank) by
    * OLS over the top-[[ZipfTopK]] ranks.
    *
    * Exactness: ranks and counts are exact integers under a total order
    * (count desc, token); each ln is one libm call on an identical
    * integer in both engines, and all four OLS sums are carried as
    * DECIMAL(28,15) so they are summation-order independent (the
    * [[ngramLmAudit]] transcendental idiom). Slope/intercept are single
    * double expressions over those sums.
    *
    * Scale: the vocab aggregation is the only corpus-sized stage;
    * TakeOrdered prunes to K rows before any window, and the fit is a
    * 1-row aggregate over K rows.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = ZipfTopK
    val top = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(k)
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
      .select(log(col("rank").cast("double")).as("x"),
              log(col("cnt").cast("double")).as("y"))
    // widths: |ln| ≤ ~12 over K=100 ranks → sums fit DECIMAL(18,14) with
    // 4 integer digits; every product then stays ≤ width 37 (DuckDB's 38
    // ceiling), and n rides as DECIMAL(4,0)
    val d = (c: Column) => c.cast("decimal(18,14)")
    val agg = ranked.agg(
        count(lit(1)).as("n0"),
        sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
        sum(d(col("x") * col("x"))).as("sxx"), sum(d(col("x") * col("y"))).as("sxy"))
    // the tail is scalar double math over the four exact decimal sums —
    // identical op shapes in both engines, so the doubles agree bit-for-bit
    val dd = (n: String) => col(n).cast("double")
    val nD = col("n0").cast("double")
    val slope = (nD * dd("sxy") - dd("sx") * dd("sy")) /
                (nD * dd("sxx") - dd("sx") * dd("sx"))
    agg.select(
        col("n0").as("n_ranks"),
        slope.as("slope"),
        ((dd("sy") - slope * dd("sx")) / nD).as("intercept"))
  }

  val zipfFitOracle: String = {
    val k = ZipfTopK
    s"""WITH c AS (
       |  SELECT tok, COUNT(*) AS cnt
       |  FROM (SELECT unnest(${TextAnalysis.tokensSql}) AS tok FROM documents)
       |  GROUP BY 1 ORDER BY cnt DESC, tok LIMIT $k),
       |r AS (SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
       |             ln(CAST(cnt AS DOUBLE)) AS y
       |      FROM c),
       |s AS (SELECT COUNT(*) AS n_ranks, CAST(COUNT(*) AS DOUBLE) AS n,
       |             CAST(SUM(CAST(x AS DECIMAL(18,14))) AS DOUBLE) AS sx,
       |             CAST(SUM(CAST(y AS DECIMAL(18,14))) AS DOUBLE) AS sy,
       |             CAST(SUM(CAST(x * x AS DECIMAL(18,14))) AS DOUBLE) AS sxx,
       |             CAST(SUM(CAST(x * y AS DECIMAL(18,14))) AS DOUBLE) AS sxy
       |      FROM r)
       |SELECT n_ranks,
       |       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       |       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
       |FROM s""".stripMargin
  }

  // --- Heaps'-law vocabulary growth -------------------------------------------

  /** Checkpoint divisors for [[vocabGrowth]]: prefixes at N/8, N/4, N/2, N
    * docs (doc_id order).
    */
  val HeapsCheckpoints: Seq[Long] = Seq(8L, 4L, 2L, 1L)

  /** q_vocab_growth: Heaps'-law fit of vocabulary growth — V(n) ≈ K·n^β,
    * the dataset-diversity scaling diagnostic next to [[zipfFit]]: Zipf
    * describes the frequency head of a fixed corpus, Heaps describes how
    * fast NEW vocabulary arrives as the corpus grows (a flattening β is
    * the "more of the same data" signal a scaling-law analysis reads).
    * The vocabulary unit is the word 3-GRAM shingle ([[graft.ops.Dedup
    * .shingles]], the near-dup unit): the fixtures' unigram vocabulary
    * saturates after a handful of documents, which degenerates the fit to
    * a slope of exactly zero via catastrophic cancellation (measured:
    * both engines agree to ~1e-14 and then differ in the cancelled ULPs)
    * — shingle novelty keeps growing, so the regression is
    * well-conditioned. Four doc-prefix checkpoints (N/8..N) in doc_id
    * order give (shingle-occurrence, shingle-vocab) points; β is the
    * log-log OLS slope via the exact decimal-summed coordinates
    * ([[zipfFit]]'s idiom — identical scalar tails on both engines).
    *
    * Scale shape: checkpoint boundaries are order statistics of the
    * id-only scan, each computed as `orderBy().limit(c)` — a distributed
    * partial top-k, never a global rank window; vocabulary-at-checkpoint
    * collapses to one min-aggregation per token (first-occurrence doc)
    * plus ONE conditional-sum pass, and token counts ride a second
    * conditional-sum pass over the same exploded relation (persisted, two
    * consumers). Nothing corpus-sized is globally sorted.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val n = ids.count()
    require(n > 0, "vocabGrowth: documents table is empty — no growth curve to fit")
    val cps = HeapsCheckpoints.map(d => math.max(n / d, 1L))
    // the c-th smallest doc_id = max of the c smallest (TakeOrdered — the
    // order-statistic-without-global-sort idiom); 4 tiny id-only jobs.
    // limit() takes an Int: past 2^31 docs the checkpoint prefix must come
    // from a rank filter (PrefixSum-style) instead — fail loudly, never
    // silently truncate the prefix
    val bounds = cps.map { c =>
      require(c <= Int.MaxValue,
        s"vocabGrowth: checkpoint prefix $c exceeds limit()'s Int range — " +
          "swap the TakeOrdered probe for a distributed rank filter at this scale")
      ids.orderBy("doc_id").limit(c.toInt).agg(max("doc_id")).head().getLong(0)
    }
    val ex = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("tok"))
      .persist()
    ex.count() // feeds the first-occurrence agg and the token-count pass
    val firstOcc = ex.groupBy("tok").agg(min("doc_id").as("fd"))
    val vCols = bounds.indices.map(i =>
      sum(when(col("fd") <= bounds(i), 1L).otherwise(0L)).as(s"v$i"))
    val vocabRow = firstOcc.agg(vCols.head, vCols.tail: _*)
    val tCols = bounds.indices.map(i =>
      sum(when(col("doc_id") <= bounds(i), 1L).otherwise(0L)).as(s"t$i"))
    val tokRow = ex.agg(tCols.head, tCols.tail: _*)
    val pts = vocabRow.crossJoin(tokRow).select(
      explode(array(bounds.indices.map(i =>
        struct(col(s"t$i").as("t"), col(s"v$i").as("v"))): _*)).as("p"))
      .select(log(col("p.t").cast("double")).as("x"),
              log(col("p.v").cast("double")).as("y"),
              col("p.t").as("t"), col("p.v").as("v"))
    val d = (c: Column) => c.cast("decimal(18,14)")
    val agg = pts.agg(
      count(lit(1)).as("n_points"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x") * col("x"))).as("sxx"), sum(d(col("x") * col("y"))).as("sxy"),
      max("t").as("tokens_full"), max("v").as("vocab_full"))
    val dd = (nm: String) => col(nm).cast("double")
    val nD = col("n_points").cast("double")
    val beta = (nD * dd("sxy") - dd("sx") * dd("sy")) /
               (nD * dd("sxx") - dd("sx") * dd("sx"))
    // ex stays cached for the caller's action — firstOcc AND the token-count
    // pass both re-read the shingle explode there; clearCache() releases it
    agg.select(
      col("n_points"), col("tokens_full"), col("vocab_full"),
      beta.as("beta"),
      ((dd("sy") - beta * dd("sx")) / nD).as("ln_k"))
  }

  val vocabGrowthOracle: String =
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       |cp AS (SELECT i, GREATEST(n // d, 1) AS c
       |       FROM nn, (VALUES ${HeapsCheckpoints.zipWithIndex.map { case (d, i) => s"($i, $d)" }.mkString(", ")}) AS t(i, d)),
       |rk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS r FROM documents),
       |b AS (SELECT cp.i, MAX(rk.doc_id) AS bound
       |      FROM cp JOIN rk ON rk.r <= cp.c GROUP BY 1),
       |ex AS (SELECT doc_id, unnest(shingles) AS tok
       |       FROM (SELECT doc_id, ${Dedup.shinglesExposedSql} AS shingles FROM documents)),
       |fo AS (SELECT tok, MIN(doc_id) AS fd FROM ex GROUP BY 1),
       |pt AS (SELECT b.i,
       |              (SELECT COUNT(*) FROM ex WHERE ex.doc_id <= b.bound) AS t,
       |              (SELECT COUNT(*) FROM fo WHERE fo.fd <= b.bound) AS v
       |       FROM b),
       |r AS (SELECT ln(CAST(t AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y, t, v FROM pt),
       |s AS (SELECT COUNT(*) AS n_points, CAST(COUNT(*) AS DOUBLE) AS n,
       |             CAST(SUM(CAST(x AS DECIMAL(18,14))) AS DOUBLE) AS sx,
       |             CAST(SUM(CAST(y AS DECIMAL(18,14))) AS DOUBLE) AS sy,
       |             CAST(SUM(CAST(x * x AS DECIMAL(18,14))) AS DOUBLE) AS sxx,
       |             CAST(SUM(CAST(x * y AS DECIMAL(18,14))) AS DOUBLE) AS sxy,
       |             CAST(MAX(t) AS BIGINT) AS tokens_full,
       |             CAST(MAX(v) AS BIGINT) AS vocab_full
       |      FROM r)
       |SELECT n_points, tokens_full, vocab_full,
       |       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
       |       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS ln_k
       |FROM s""".stripMargin


  // --- windowed co-occurrence PMI --------------------------------------------

  /** Co-occurrence window (forward distance 1..W) and leaderboard size for
    * [[pmiPairs]].
    */
  val PmiWindow = 2
  val PmiTopK   = 25

  /** q_pmi_pairs: pointwise mutual information over windowed token
    * co-occurrence — the association statistic behind word-embedding
    * objectives (skip-gram with negative sampling implicitly factorizes the
    * shifted PMI matrix, Levy & Goldberg 2014) and collocation extraction.
    * Each token pairs with its W following tokens (every unordered event
    * counted once, pair key lexicographically normalized);
    * PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) with p(a,b) = c_ab/P, p(a) = c_a/T.
    *
    * Plan: the pair explode is linear in corpus tokens (×W) and collapses
    * through a map-side combined aggregation; the leaderboard prunes to
    * [[PmiTopK]] rows BEFORE the unigram joins (TakeOrderedAndProject, so
    * the vocab-sized c_a/c_b relations join against 25 rows, AQE broadcasts
    * the tiny side); T and P are 1-row broadcast scalars. No vocab-sized
    * shuffle after the two count aggregations — the 100 TB shape.
    *
    * Exactness: counts are integers; the single ln and its one division
    * happen on identical doubles in both engines with an identical fold
    * shape (the [[ngramLmAudit]] transcendental-parity precedent).
    */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame =
    pmiPairsOf(graft.util.Spread.forCpu(Tables.documents(spark, dir)))

  /** [[pmiPairs]] over an arbitrary relation with a `text` column — split
    * out so specs can hand-compute PMI on planted corpora.
    */
  def pmiPairsOf(docsIn: DataFrame): DataFrame = {
    val (w, k) = (PmiWindow, PmiTopK)
    // toks feeds three consumers (pair explode, unigram counts, T) and
    // pairs feeds two (c_ab, P): persist + eager materialize per the ops
    // package contract so the tokenizer and the pair explode each run once
    val toks = docsIn
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .persist()
    toks.count()
    val pairs = toks.filter(col("n") >= 2)
      .select(explode(flatten(
        transform(sequence(lit(1), col("n") - 1), i =>
          transform(sequence(lit(1), least(lit(w), col("n") - i)), d =>
            struct(
              least(element_at(col("toks"), i), element_at(col("toks"), i + d)).as("w1"),
              greatest(element_at(col("toks"), i), element_at(col("toks"), i + d)).as("w2"))))))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .persist()
    pairs.count()
    val cab = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val c1 = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totT = toks.agg(sum("n").cast("double").as("t"))
    val totP = pairs.agg(count(lit(1)).cast("double").as("p"))
    val top = cab.orderBy(col("c_ab").desc, col("w1"), col("w2")).limit(k)
    top
      .join(c1.select(col("tok").as("w1"), col("c").as("c_a")), "w1")
      .join(c1.select(col("tok").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totP))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        log((col("c_ab").cast("double") * col("t") * col("t")) /
            (col("p") * col("c_a") * col("c_b"))).as("pmi"))
      .orderBy(col("c_ab").desc, col("w1"), col("w2"))
  }

  val pmiPairsOracle: String = {
    val (w, k) = (PmiWindow, PmiTopK)
    s"""WITH t AS (SELECT ${TextAnalysis.tokensSql} AS toks, len(${TextAnalysis.tokensSql}) AS n
       |           FROM documents),
       |ex1 AS (SELECT toks, n, unnest(range(1, n)) AS i FROM t WHERE n >= 2),
       |ex2 AS (SELECT toks, i, unnest(range(1, least($w, n - i) + 1)) AS d FROM ex1),
       |pr AS (SELECT least(toks[i], toks[(i + d)::INT]) AS w1,
       |              greatest(toks[i], toks[(i + d)::INT]) AS w2
       |       FROM ex2),
       |cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pr GROUP BY 1, 2),
       |c1 AS (SELECT unnest(toks) AS tok FROM t),
       |c1c AS (SELECT tok, COUNT(*) AS c FROM c1 GROUP BY 1),
       |tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM c1),
       |tp AS (SELECT CAST(COUNT(*) AS DOUBLE) AS p FROM pr),
       |top AS (SELECT * FROM cab ORDER BY c_ab DESC, w1, w2 LIMIT $k)
       |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
       |       ln((CAST(c_ab AS DOUBLE) * t.t * t.t) / (tp.p * a.c * b.c)) AS pmi
       |FROM top JOIN c1c a ON a.tok = top.w1
       |         JOIN c1c b ON b.tok = top.w2, tt t, tp
       |ORDER BY c_ab DESC, w1, w2""".stripMargin
  }
}
