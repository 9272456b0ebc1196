package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface mandated beyond the reference (SURVEY.md §2.8): language
  * identification, quality scoring, token counting, and document
  * fingerprinting.
  *
  * Design rules:
  *  - Everything is a pure Column expression (codegen'd, no UDFs) so the
  *    plan is a single scan + partial/final aggregation — one shuffle,
  *    map-side combined, unchanged at 100 TB.
  *  - Ratios are emitted as exact integer numerators/denominators plus one
  *    final double division, so the DuckDB oracle is bit-comparable (no
  *    order-dependent float summation).
  *  - Hashes are md5 (hex string) — the one hash both Spark and DuckDB
  *    compute identically, making fingerprints oracle-checkable.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (split of "" yields [""]). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > lit(0))

  val tokensSql = "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0)"

  /** Fixed stopword list (shared by quality scoring and lang-ID). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "is", "in", "it")

  val stopwordsSql: String = Stopwords.mkString("['", "', '", "']")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  private def countInSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> list_contains(${words.mkString("['", "', '", "']")}, t)))"

  // --- quality scoring -------------------------------------------------------

  /** Per-document quality signals: token count, char length, stopword count,
    * punctuation count, mean token length. Quality score = the classic
    * heuristic blend (length band + stopword presence − punctuation excess),
    * deterministic and oracle-checkable.
    */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars_m"),
        size(toks).as("n_tokens"),
        countIn(toks, Stopwords).as("n_stopwords"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:'\"()]", ""))).as("n_punct"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_token_chars"))
  }

  /** q_text_quality: corpus quality rollup per language. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualitySignals(Tables.documents(spark, dir))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_stopwords").as("n_stopwords"),
        sum("n_punct").as("n_punct"),
        sum("sum_token_chars").as("sum_token_chars"),
        max("n_tokens").as("max_tokens"),
        min("n_tokens").as("min_tokens"))
      .withColumn("stopword_ratio", col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len", col("sum_token_chars").cast("double") / col("n_tokens"))
      .orderBy("lang")

  val textQualityOracle: String =
    s"""WITH sig AS (
       |  SELECT lang, len(toks) AS n_tokens,
       |         ${countInSql(Stopwords)} AS n_stopwords,
       |         length(text) - length(regexp_replace(text, '[.,!?;:''"()]', '', 'g')) AS n_punct,
       |         list_sum(list_transform(toks, t -> len(t))) AS sum_token_chars
       |  FROM (SELECT lang, text, $tokensSql AS toks FROM documents))
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(n_stopwords) AS BIGINT) AS n_stopwords,
       |       CAST(SUM(n_punct) AS BIGINT) AS n_punct,
       |       CAST(SUM(sum_token_chars) AS BIGINT) AS sum_token_chars,
       |       CAST(MAX(n_tokens) AS INT) AS max_tokens,
       |       CAST(MIN(n_tokens) AS INT) AS min_tokens,
       |       CAST(SUM(n_stopwords) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
       |       CAST(SUM(sum_token_chars) AS DOUBLE) / SUM(n_tokens) AS avg_token_len
       |FROM sig GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_quality_filter: the keep/drop decision a training-data pipeline
    * derives from the quality signals — length band, mean-token-length
    * band, stopword presence. Pure integer/boolean logic → exact oracle.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterAgg(Tables.documents(spark, dir)).orderBy("lang")

  /** The gated per-lang audit shared by the batch query and its streaming
    * twin ([[graft.streaming.StreamingQueries.streamQualityFilter]]): a
    * stateless gate projection + one aggregation, so it plans identically
    * over a static relation and a file stream. Unordered — callers sort.
    */
  def qualityFilterAgg(docs: DataFrame): DataFrame =
    qualitySignals(docs)
      .withColumn("len_ok", col("n_tokens") >= 20 && col("n_tokens") <= 2000)
      .withColumn("tok_ok", col("sum_token_chars") >= col("n_tokens") * 2 &&
                            col("sum_token_chars") <= col("n_tokens") * 12)
      .withColumn("stop_ok", col("n_stopwords") > 0)
      .withColumn("keep", col("len_ok") && col("tok_ok") && col("stop_ok"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("len_ok"), 1L).otherwise(0L)).as("n_len_fail"),
        sum(when(!col("tok_ok"), 1L).otherwise(0L)).as("n_tok_fail"),
        sum(when(!col("stop_ok"), 1L).otherwise(0L)).as("n_stop_fail"))

  val qualityFilterOracle: String =
    s"""WITH sig AS (
       |  SELECT lang, len(toks) AS n_tokens,
       |         ${countInSql(Stopwords)} AS n_stopwords,
       |         list_sum(list_transform(toks, t -> len(t))) AS sum_token_chars
       |  FROM (SELECT lang, $tokensSql AS toks FROM documents)),
       |f AS (
       |  SELECT lang,
       |         (n_tokens >= 20 AND n_tokens <= 2000) AS len_ok,
       |         (sum_token_chars >= n_tokens * 2 AND sum_token_chars <= n_tokens * 12) AS tok_ok,
       |         (n_stopwords > 0) AS stop_ok
       |  FROM sig)
       |SELECT lang, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN len_ok AND tok_ok AND stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_fail,
       |       CAST(SUM(CASE WHEN NOT tok_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_fail,
       |       CAST(SUM(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_fail
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_vocab_topk: the corpus vocabulary head — top 20 tokens by frequency
    * (ties by token) with ranks. One explode + one aggregation + top-k.
    *
    * Top-k is sort+limit (Catalyst plans TakeOrderedAndProject: per-partition
    * heaps, never a global sort) — NOT a row_number over an unpartitioned
    * window, which would move the whole vocabulary (10⁸ distinct tokens at
    * corpus scale) to a single task. Ranks are assigned after the limit, when
    * the data is provably ≤ k rows, as a broadcast rank-count self-join
    * (rank = 1 + rows ordered strictly before) — a k×k nested loop on ≤k
    * rows, with no WindowExec at all (a `partitionBy(lit(0))` window
    * constant-folds to an empty partition spec and moves data to one task
    * with a planner warning; this shape cannot).
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    rankTopK(
      Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")),
      k)

  /** Rank a (tok, cnt) relation's top-k by (cnt desc, tok) without a
    * global window: orderBy+limit prunes to k rows via partial top-k
    * (TakeOrderedAndProject), then the rank is a self-join count over the
    * k-row broadcast — no single-partition WindowExec over the vocab.
    * Shared by the batch query and the streaming readout.
    */
  def rankTopK(counts: DataFrame, k: Int): DataFrame = {
    val top = counts
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
    val before = top.select(col("tok").as("tok2"), col("cnt").as("cnt2"))
    top.join(broadcast(before),
        col("cnt2") > col("cnt") ||
          (col("cnt2") === col("cnt") && col("tok2") < col("tok")), "left")
      .groupBy("tok", "cnt")
      .agg((count(col("tok2")) + 1).cast("int").as("rank"))
      .select("rank", "tok", "cnt")
      .orderBy("rank")
  }

  val vocabTopKOracle: String =
    s"""WITH ex AS (SELECT unnest($tokensSql) AS tok FROM documents),
       |c AS (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY 1)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank, tok, cnt
       |FROM c QUALIFY rank <= 20 ORDER BY rank""".stripMargin

  /** Count-min sketch geometry for [[heavyHitters]]: 4 hash rows × 1024
    * buckets. Fixed (not tuned per run) so the sketch — like the HLL and
    * quantile checks — is a deterministic md5 reconstruction on both
    * engines and the whole query stays hash-comparable.
    */
  val CmsRows  = 4
  val CmsWidth = 1024

  /** q_heavy_hitters: frequent-token estimation via a count-min sketch,
    * self-checked against the exact counts — the frequency path that
    * survives 100 TB where the exact vocabulary aggregate (10⁸+ distinct
    * tokens) is itself the bottleneck. The sketch is CmsRows×CmsWidth
    * counters (tiny, map-side combined: the shuffle carries ≤ rows×width
    * partial sums per task, independent of vocabulary size); estimates for
    * the top-k exact tokens are min-over-rows bucket sums. Emits per token
    * the exact count, the sketch estimate, and `within_budget` — the CMS
    * contract (estimate never undercounts; overcount ≤ 8N/width at the
    * fixture, a calibrated-deterministic bound since every hash is md5).
    * The sketch is built from per-token counts (one groupBy, then
    * rows×|vocab| tiny rows), arithmetic-identical to per-occurrence
    * increments but shuffling counts, not occurrences.
    */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    def bucketOf(r: Column, tok: Column): Column =
      conv(substring(md5(concat(r.cast("string"), lit(":"), tok)), 1, 6), 16, 10)
        .cast("long") % CmsWidth
    val exact = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist()  // feeds sketch, total, and top-k; unpersisted by session cleanup
    val sketch = exact
      .select(explode(sequence(lit(0), lit(CmsRows - 1))).as("r"), col("tok"), col("cnt"))
      .withColumn("bucket", bucketOf(col("r"), col("tok")))
      .groupBy("r", "bucket").agg(sum("cnt").as("bcnt"))
    val total = exact.agg(sum("cnt").as("n"))
    val probes = exact.orderBy(col("cnt").desc, col("tok")).limit(k)
      .select(col("tok"), col("cnt"),
        explode(sequence(lit(0), lit(CmsRows - 1))).as("r"))
      .withColumn("bucket", bucketOf(col("r"), col("tok")))
    probes.join(sketch, Seq("r", "bucket"))
      .groupBy(col("tok"), col("cnt"))
      .agg(min("bcnt").as("est_cnt"))
      .crossJoin(broadcast(total))
      .select(col("tok"), col("cnt").as("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("cnt") &&
          col("est_cnt").cast("double") <=
            col("cnt").cast("double") + lit(8.0) * col("n") / lit(CmsWidth))
          .as("within_budget"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  val heavyHittersOracle: String =
    s"""WITH ex AS (SELECT unnest($tokensSql) AS tok FROM documents),
       |cnts AS (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY 1),
       |tot AS (SELECT SUM(cnt) AS n FROM cnts),
       |rb AS (
       |  SELECT r, tok, cnt,
       |         ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 6))::BIGINT % 1024 AS bucket
       |  FROM cnts, range(4) t(r)),
       |sketch AS (SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS bcnt FROM rb GROUP BY 1, 2),
       |top AS (SELECT tok, cnt FROM cnts ORDER BY cnt DESC, tok LIMIT 15),
       |probes AS (
       |  SELECT r, tok, cnt,
       |         ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 6))::BIGINT % 1024 AS bucket
       |  FROM top, range(4) t(r)),
       |est AS (
       |  SELECT tok, cnt, MIN(bcnt) AS est_cnt
       |  FROM probes JOIN sketch USING (r, bucket) GROUP BY 1, 2)
       |SELECT tok, cnt AS exact_cnt, est_cnt,
       |       (est_cnt >= cnt AND
       |        est_cnt::DOUBLE <= cnt::DOUBLE + 8.0 * n / 1024) AS within_budget
       |FROM est, tot ORDER BY exact_cnt DESC, tok""".stripMargin

  /** q_tfidf: per-document top-TF-IDF terms — the classic feature-extraction
    * op (tf = in-doc count, idf = ln(N/df)). Top-3 terms for a fixed doc
    * slice, ties broken by token; one explode + two aggregations + a
    * broadcast join of the tiny df table.
    */
  def tfidf(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // corpus size as a broadcast 1-row plan, not a separate driver action
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // re-spread (util.Spread): both tokRows consumers (tf, df) tokenize
    // off the scan's single parquet split — single-task map sides
    // (StageBench r17). The count-only nDocs branch stays on the raw scan.
    val tokRows = graft.util.Spread.forCpu(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // the doc-slice filter sits BELOW the tf aggregation: tf is per-doc, so
    // only the sliced docs need tokenizing/aggregating on the tf side.
    // df stays corpus-wide (idf is a corpus statistic).
    val tf = tokRows.filter(col("doc_id") < 20)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tokRows.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .drop("n_docs")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select("doc_id", "rank", "tok", "tf", "df", "tfidf")
      .orderBy("doc_id", "rank")
  }

  val tfidfOracle: String =
    s"""WITH tokrows AS (
       |  SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tokrows GROUP BY 1, 2),
       |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokrows GROUP BY 1),
       |n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
       |         tf.tf * ln(n.n_docs / dfreq.df) AS tfidf
       |  FROM tf JOIN dfreq USING (tok), n
       |  WHERE tf.doc_id < 20),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS INT) AS rank, tok, tf, df, tfidf
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // --- BM25 retrieval ---------------------------------------------------------

  /** BM25 term-saturation constant (the standard k₁ = 1.2). */
  val BmK1 = 1.2

  /** BM25 length-normalization constant (the standard b = 0.75). */
  val BmB = 0.75

  /** Query size for [[bm25TopK]]: the top-df non-stopword terms form the
    * fixed probe query (deterministic — no external query set exists in
    * the fixtures).
    */
  val BmPivots = 5

  /** Result size for [[bm25TopK]]. */
  val BmTopK = 20

  /** The shared BM25 scoring formula, interpolated VERBATIM into both
    * engines' plans (Spark parses it via `expr`): identical text → identical
    * left-associative IEEE operation trees → bit-identical doubles (ln
    * agreement JVM↔libm is the long-green q_tfidf empirical precedent).
    * Expects columns n_docs/avgdl (double), df/tf/dl (integral).
    */
  private val bm25Sql: String =
    s"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)" +
      s" * (CAST(tf AS DOUBLE) * ($BmK1 + 1.0))" +
      s" / (CAST(tf AS DOUBLE) + $BmK1 * (1.0 - $BmB + $BmB * CAST(dl AS DOUBLE) / avgdl))"

  /** Per-document BM25 score against the fixed pivot-term query — the
    * scored relation [[bm25TopK]] ranks and
    * [[Similarity.rrfFusion]] fuses with the dense ranking. Columns:
    * doc_id, dl, n_terms, sdec (DECIMAL(38,10) exact sum — internal only,
    * callers emit its double cast). Per-term scores go through
    * DECIMAL(28,10) before summing so the per-doc total is independent of
    * aggregation order (the lmQuality idiom).
    *
    * Scale shape: one corpus explode persisted once and consumed three
    * times (dl, df, tf); the probe terms and corpus scalars ride 1-row/
    * k-row broadcasts; the tf aggregation only sees rows that survive the
    * broadcast semi-join on the 5 pivot terms, so the scoring join is
    * O(matched postings), not O(corpus) — the inverted-index shape.
    */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    // CAPPED re-spread (r18, the middle ground between the two r17
    // extremes): the persisted postings relation inherits the scan's
    // single parquet split, so unspread, the whole tokenize+explode ran as
    // ONE task (~1.5 CPU-s serial) ahead of five small consumer stages —
    // while the FULL session-width spread was measured and REJECTED in r17
    // (q_bm25_topk 2.17-2.37 → 2.66-3.38 s, q_rrf_fusion 2.25-2.37 →
    // 2.60-3.07 s, bench_r17_run1-4: a 32-partition cache turns all five
    // small consumer stages — dl, stats, df, pivot postings, tf — into
    // 32-task scheduling floors that cost more than the tokenize they
    // parallelize). Capping the spread at 8 parallelizes the tokenize most
    // of the way while consumer stages stay 8 tasks wide (r17 verdict
    // item 1's prescribed experiment; measured in OPTIMIZATION_r18.md).
    // At real split counts the cap-guard makes this a no-op, exactly like
    // every other Spread site.
    val tokRows = graft.util.Spread.forCpu(Tables.documents(spark, dir), 8)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .persist()
    tokRows.count() // feeds dl, df, and the pivot-term postings
    val dl = tokRows.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tokRows.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val pivot = dfreq.filter(!col("tok").isin(Stopwords.map(lit): _*))
      .orderBy(col("df").desc, col("tok")).limit(BmPivots)
    val tf = tokRows.join(broadcast(pivot), "tok")
      .groupBy("doc_id", "tok", "df").agg(count(lit(1)).as("tf"))
    val out = tf.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s", expr(bm25Sql).cast("decimal(28,10)"))
      .groupBy("doc_id", "dl")
      .agg(sum("s").as("sdec"), count(lit(1)).cast("int").as("n_terms"))
    // tokRows stays cached for the CALLER's first action — dl/dfreq/tf all
    // re-read it there; Bench/Verify's clearCache() between queries is the
    // release point (the triangles/pageRank convention). An eager unpersist
    // here would discard exactly the reuse the persist buys.
    out
  }

  /** Shared oracle CTE chain ending in `bm(doc_id, dl, n_terms, sdec)` —
    * the DuckDB mirror of [[bm25Scores]].
    */
  val bm25CoreSql: String =
    s"""tokrows AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |docl AS (SELECT doc_id, COUNT(*) AS dl FROM tokrows GROUP BY 1),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM docl),
       |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokrows GROUP BY 1),
       |probe_terms AS (SELECT tok, df FROM dfreq
       |                WHERE NOT list_contains($stopwordsSql, tok)
       |                ORDER BY df DESC, tok LIMIT $BmPivots),
       |posting AS (SELECT t.doc_id, t.tok, p.df, COUNT(*) AS tf
       |            FROM tokrows t JOIN probe_terms p USING (tok) GROUP BY 1, 2, 3),
       |sc AS (SELECT posting.doc_id, docl.dl, CAST($bm25Sql AS DECIMAL(28,10)) AS s
       |       FROM posting JOIN docl USING (doc_id), st),
       |bm AS (SELECT doc_id, dl, CAST(COUNT(*) AS INT) AS n_terms, SUM(s) AS sdec
       |       FROM sc GROUP BY 1, 2)""".stripMargin

  /** q_bm25_topk: BM25 document retrieval for the fixed pivot-term query —
    * the lexical-relevance ranking a curation pipeline runs to pull
    * benchmark-adjacent or domain-targeted documents out of a corpus
    * (tf-idf's production-grade successor: saturating tf, length
    * normalization). Ranking happens on the exact decimal sum; only the
    * emitted score is a double.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("sdec").desc, col("doc_id"))
      .limit(BmTopK)
      .select(col("doc_id"), col("dl"), col("n_terms"),
              col("sdec").cast("double").as("score"))

  val bm25TopKOracle: String =
    s"""WITH $bm25CoreSql
       |SELECT doc_id, dl, n_terms, CAST(sdec AS DOUBLE) AS score
       |FROM bm ORDER BY sdec DESC, doc_id LIMIT $BmTopK""".stripMargin

  // --- repetition filter (Gopher-style top n-gram coverage) ------------------

  /** Coverage above which a document is flagged as repetitious. Gopher-style
    * rule: fraction of tokens covered by the single most frequent word
    * 2-gram; boilerplate/spam repeats one phrase, prose doesn't. 0.125
    * flags ~10% of the synthetic corpus (p90 ≈ 0.13) — non-vacuous at
    * fixture scale.
    */
  val RepetitionThreshold = 0.125

  /** q_repetition_filter: per-source repetition audit — the Gopher/
    * RefinedWeb "remove documents dominated by a repeated phrase" pass.
    * Positional (non-distinct) 2-grams → per-doc top count → coverage =
    * 2·top/n_tokens. One explode + two aggregations, all shuffle-keyed on
    * doc_id/gram — no all-pairs anything, scales linearly in corpus size.
    * Aggregate outputs are order-independent (counts + max), so the oracle
    * hash-compares exactly despite double arithmetic.
    */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    val grams = docs.filter(col("n_toks") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n_toks") - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
                      element_at(col("toks"), i + 1)))).as("gram"))
    val top = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("topc"))
    docs.join(top, Seq("doc_id"), "left")
      .withColumn("topc", coalesce(col("topc"), lit(0L)))
      .withColumn("coverage",
        when(col("n_toks") > 0, lit(2.0) * col("topc") / col("n_toks")).otherwise(lit(0.0)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("coverage") > RepetitionThreshold, 1L).otherwise(0L)).as("n_flagged"),
           sum("topc").as("sum_top_gram"),
           max("coverage").as("max_coverage"))
      .orderBy("source")
  }

  val repetitionFilterOracle: String =
    s"""WITH t AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
       |g AS (SELECT doc_id,
       |             unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
       |      FROM t WHERE len(toks) >= 2),
       |top AS (SELECT doc_id, MAX(c) AS topc
       |        FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1),
       |cov AS (SELECT t.source, COALESCE(top.topc, 0) AS topc,
       |               CASE WHEN len(t.toks) > 0
       |                    THEN (2 * COALESCE(top.topc, 0))::DOUBLE / len(t.toks)
       |                    ELSE 0.0 END AS coverage
       |        FROM t LEFT JOIN top USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN coverage > $RepetitionThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |       CAST(SUM(topc) AS BIGINT) AS sum_top_gram,
       |       MAX(coverage) AS max_coverage
       |FROM cov GROUP BY 1 ORDER BY 1""".stripMargin

  // --- token-window chunking (RAG/training-window prep) ----------------------

  val ChunkTokens = 32 // window width (tokens)
  val ChunkStride = 24 // window stride (tokens) — 8-token overlap

  /** q_doc_chunks: overlapping token-window chunking — the context-window
    * preparation pass of RAG/pretraining pipelines (split each document
    * into [[ChunkTokens]]-token windows every [[ChunkStride]] tokens, final
    * short window kept). Chunks are MATERIALIZED (sequence + slice over the
    * token array, one explode — no UDF, no driver loop) and audited per
    * source: chunk counts, token totals, and overlap bookkeeping are exact
    * integers, so the oracle hash-compares despite the per-doc fan-out.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (ChunkTokens, ChunkStride)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n") === 0, 0)
          .when(col("n") <= w, 1)
          .otherwise(((col("n") - w + s - 1) / s).cast("int") + 1))
    val chunks = docs
      .withColumn("chunk_toks",
        when(col("n_chunks") > 0,
          transform(sequence(lit(0), col("n_chunks") - 1),
            i => size(slice(col("toks"), i * s + 1, lit(w)))))
          .otherwise(array().cast("array<int>")))
      .select(col("doc_id"), col("source"), col("n_chunks"),
              explode(col("chunk_toks")).as("chunk_len"))
    // n_docs counts ALL documents (left-join base, like every sibling
    // per-source audit): a zero-token doc contributes no chunks but must
    // not vanish from the audit
    val base = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val agg = chunks.groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("chunk_len").as("sum_chunk_tokens"),
        max("n_chunks").as("max_chunks_per_doc"),
        min("chunk_len").as("min_chunk_len"))
    base.join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("sum_chunk_tokens"), lit(0L)).as("sum_chunk_tokens"),
        coalesce(col("max_chunks_per_doc"), lit(0)).as("max_chunks_per_doc"),
        coalesce(col("min_chunk_len"), lit(0)).as("min_chunk_len"))
      .orderBy("source")
  }

  val docChunksOracle: String = {
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""WITH t AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
       |c AS (SELECT doc_id, source, toks, len(toks) AS n,
       |             CASE WHEN len(toks) = 0 THEN 0
       |                  WHEN len(toks) <= $w THEN 1
       |                  ELSE (len(toks) - $w + $s - 1) // $s + 1 END AS n_chunks
       |      FROM t),
       |ex AS (SELECT doc_id, source, n_chunks, toks,
       |              unnest(range(0, n_chunks)) AS i
       |       FROM c),
       |ch AS (SELECT doc_id, source, n_chunks,
       |              len(toks[(i * $s + 1):(i * $s + $w)]) AS chunk_len
       |       FROM ex),
       |agg AS (SELECT source, COUNT(*) AS n_chunks,
       |               CAST(SUM(chunk_len) AS BIGINT) AS sum_chunk_tokens,
       |               CAST(MAX(n_chunks) AS INT) AS max_chunks_per_doc,
       |               CAST(MIN(chunk_len) AS INT) AS min_chunk_len
       |        FROM ch GROUP BY 1),
       |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT base.source, base.n_docs,
       |       COALESCE(agg.n_chunks, 0) AS n_chunks,
       |       COALESCE(agg.sum_chunk_tokens, 0) AS sum_chunk_tokens,
       |       COALESCE(agg.max_chunks_per_doc, 0) AS max_chunks_per_doc,
       |       COALESCE(agg.min_chunk_len, 0) AS min_chunk_len
       |FROM base LEFT JOIN agg USING (source) ORDER BY 1""".stripMargin
  }

  // --- corpus-LM quality scoring (CCNet-style unigram filter) ----------------

  /** Mean unigram log-probability below which a document is flagged — the
    * bottom ~5% of the synthetic corpus (p5 ≈ −3.42), so the filter is
    * non-vacuous at fixture scale. Real pipelines tune this per corpus.
    */
  val LmQualityThreshold = -3.42

  /** q_lm_quality: language-model quality filtering — the CCNet/RedPajama
    * "score documents by LM log-probability, drop the tail" pass, with the
    * corpus itself as the unigram model: score(doc) = mean over tokens of
    * ln(count(tok)/total_tokens). Out-of-distribution documents (rare-token
    * soup, boilerplate alphabets) score low.
    *
    * Scale shape: one explode, one vocab aggregation, one shuffle join on
    * token (both sides corpus-sized — the standard LM-scoring shape; no
    * driver-side vocab), one per-doc aggregation. Cross-engine exactness:
    * per-token log-probs are summed as DECIMAL(28,10) — the decimal sum
    * removes summation-ORDER dependence (the usual cross-engine hash
    * killer); the ln() values themselves agreeing between the JVM and
    * DuckDB's libm is empirical, validated at sf0.01 and sf0.1 here and by
    * the long-green q_tfidf precedent, not an IEEE guarantee.
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // vocab feeds both the total-count scalar and the scoring join —
    // persisted so the corpus is tokenized/exploded once for it, not once
    // per consumer (cache lifecycle contract in the Dedup header applies)
    val vocab = ex.groupBy("tok").agg(count(lit(1)).as("c")).persist()
    val tot = vocab.agg(sum("c").cast("double").as("n"))
    val per = ex.join(vocab, "tok").crossJoin(broadcast(tot))
      .select(col("doc_id"),
        log(col("c").cast("double") / col("n")).cast("decimal(28,10)").as("lp"))
      .groupBy("doc_id")
      .agg(sum("lp").as("s"), count(lit(1)).as("ntok"))
      .select(col("doc_id"),
        (col("s").cast("double") / col("ntok")).as("mean_lp"))
    docs.join(per, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mean_lp") < LmQualityThreshold, 1L).otherwise(0L)).as("n_flagged"),
        min("mean_lp").as("min_score"),
        max("mean_lp").as("max_score"))
      .orderBy("source")
  }

  val lmQualityOracle: String =
    s"""WITH ex AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS c FROM ex GROUP BY 1),
       |tot AS (SELECT COUNT(*)::DOUBLE AS n FROM ex),
       |per AS (
       |  SELECT ex.doc_id,
       |         SUM(CAST(ln(vocab.c::DOUBLE / tot.n) AS DECIMAL(28,10))) AS s,
       |         COUNT(*) AS ntok
       |  FROM ex JOIN vocab USING (tok), tot GROUP BY 1),
       |sc AS (SELECT doc_id, s::DOUBLE / ntok AS mean_lp FROM per)
       |SELECT d.source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN sc.mean_lp < $LmQualityThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |       MIN(sc.mean_lp) AS min_score,
       |       MAX(sc.mean_lp) AS max_score
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- language identification ----------------------------------------------

  /** Marker-token sets for the n-gram/stopword language-ID heuristic.
    * Evaluation order below is the deterministic tie-break.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "les", "et", "une", "est"))

  /** CJK-character count (the zh signal — character-level, not token). */
  private def cjkCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))

  /** Per-document predicted language: argmax of marker scores with a fixed
    * tie-break (en > de > es > fr > zh order); all-zero scores → "und"
    * (undetermined).
    */
  def langPredicted(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scoreCols = LangMarkers.map { case (l, ws) => countIn(toks, ws).as(s"s_$l") } :+
      cjkCount(col("text")).as("s_zh")
    val scored = docs.select(Seq(col("doc_id"), col("lang")) ++ scoreCols: _*)
    val all = LangMarkers.map(_._1) :+ "zh"
    val best = all.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    val pred = all.foldRight(lit("und")) { (l, rest) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(rest)
    }
    // foldRight keeps declaration order as priority: first max wins.
    scored.withColumn("predicted", pred)
  }

  /** q_lang_id: confusion rollup of predicted vs labeled language. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langPredicted(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")

  val langIdOracle: String = {
    val scoreCols = LangMarkers.map { case (l, ws) =>
      s"${countInSql(ws).replace("toks", "toks")} AS s_$l"
    }.mkString(",\n       ")
    val all = LangMarkers.map(_._1) :+ "zh"
    val bestExpr = all.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
    val predExpr = all.foldRight("'und'") { (l, rest) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $rest END"
    }
    s"""WITH toksed AS (SELECT lang, text, $tokensSql AS toks FROM documents),
       |scored AS (
       |  SELECT lang,
       |       $scoreCols,
       |       length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh
       |  FROM toksed),
       |best_t AS (SELECT *, $bestExpr AS best FROM scored),
       |pred_t AS (SELECT lang, $predExpr AS predicted FROM best_t)
       |SELECT lang, predicted, COUNT(*) AS n_docs
       |FROM pred_t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --- token counting (BPE-ish regex) ---------------------------------------

  /** The BPE-ish token regex: letter runs, digit runs, or single non-space
    * symbols — the standard pre-tokenization shape.
    */
  val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** q_token_count: per-source token statistics incl. corpus-distinct
    * token count (the vocabulary size a tokenizer trainer would see).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
              expr(s"regexp_extract_all(text, '${TokenRegex.replace("\\", "\\\\")}', 0)").as("toks"))
    toks.select(col("source"), explode(col("toks")).as("tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct_tokens"),
        sum(length(col("tok"))).as("sum_token_chars"))
      .join(toks.groupBy("source").agg(count(lit(1)).as("n_docs"), max(size(col("toks"))).as("max_doc_tokens")),
            Seq("source"))
      .select("source", "n_docs", "n_tokens", "n_distinct_tokens", "sum_token_chars", "max_doc_tokens")
      .orderBy("source")
  }

  val tokenCountOracle: String =
    s"""WITH toksed AS (
       |  SELECT source, regexp_extract_all(text, '$TokenRegex') AS toks FROM documents),
       |ex AS (SELECT source, unnest(toks) AS tok FROM toksed)
       |SELECT t.source,
       |       (SELECT COUNT(*) FROM toksed x WHERE x.source = t.source) AS n_docs,
       |       COUNT(*) AS n_tokens,
       |       COUNT(DISTINCT tok) AS n_distinct_tokens,
       |       CAST(SUM(len(tok)) AS BIGINT) AS sum_token_chars,
       |       (SELECT MAX(len(toks)) FROM toksed x WHERE x.source = t.source) AS max_doc_tokens
       |FROM ex t GROUP BY 1 ORDER BY 1""".stripMargin

  // --- document fingerprinting (rolling hash / winnowing) -------------------

  val ShingleK = 8  // char k-gram width
  val WinnowW  = 4  // winnowing window (fingerprint = min hash per window)

  /** Per-position char k-gram hashes of each document, as rows
    * (doc_id, source, pos, h). One md5 per position — never a nested-array
    * form: higher-order lambdas are not common-subexpression-eliminated, so
    * an array-of-arrays winnowing recomputes the whole hash array per
    * window position (measured 45× slower). Rows + window is also the shape
    * that scales: work is linear and the only shuffle keys on doc_id.
    */
  private def kgramHashes(docs: DataFrame, k: Int): DataFrame =
    graft.util.Spread.forCpu(docs).select(col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(1), greatest(length(col("text")) - k + 1, lit(1))),
                             i => md5(col("text").substr(i, lit(k))))).as(Seq("pos", "h")))

  /** Distinct winnowing fingerprints per document: (doc_id, source, fp). */
  def docFingerprintRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = kgramHashes(docs, ShingleK)
    val perDoc = Window.partitionBy("doc_id")
    val roll = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WinnowW - 1)
    hs.withColumn("n", max("pos").over(perDoc))
      .withColumn("fp", min("h").over(roll))
      .filter(col("pos") <= greatest(col("n") - (WinnowW - 1), lit(0)))
      .select("doc_id", "source", "fp").distinct()
  }

  /** q_doc_fingerprint: winnowing fingerprints (Schleimer et al., SIGMOD'03)
    * — distinct per-window minima of rolling k-gram hashes — rolled up per
    * source, plus the corpus-wide distinct fingerprint count (collision
    * space of the near-dup index).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = docFingerprintRows(Tables.documents(spark, dir))
    fp.groupBy("source")
      .agg(
        count(lit(1)).as("n_fingerprints"),
        countDistinct("fp").as("n_distinct_fps"))
      .join(Tables.documents(spark, dir).groupBy("source").agg(count(lit(1)).as("n_docs")),
            Seq("source"))
      .select("source", "n_docs", "n_fingerprints", "n_distinct_fps")
      .orderBy("source")
  }

  val docFingerprintOracle: String =
    s"""WITH fp AS (
       |  SELECT source,
       |         list_distinct(list_transform(
       |           range(1, greatest(len(hashes) - $WinnowW + 1, 1) + 1),
       |           j -> list_min(hashes[j:j+${WinnowW - 1}]))) AS fps
       |  FROM (SELECT source,
       |               list_transform(range(1, greatest(length(text) - $ShingleK + 1, 1) + 1),
       |                              i -> md5(text[i:i+${ShingleK - 1}])) AS hashes
       |        FROM documents)),
       |ex AS (SELECT source, unnest(fps) AS f FROM fp)
       |SELECT t.source,
       |       (SELECT COUNT(*) FROM fp x WHERE x.source = t.source) AS n_docs,
       |       COUNT(*) AS n_fingerprints,
       |       COUNT(DISTINCT f) AS n_distinct_fps
       |FROM ex t GROUP BY 1 ORDER BY 1""".stripMargin

  // --- token-length histogram ------------------------------------------------

  /** q_len_histogram: per-source document-length distribution in power-of-2
    * token bands — the stat a packing planner / data loader reads to size
    * batches and pick a context budget. The band is the token count's
    * binary digit count (`length(bin(n))` = ⌊log2 n⌋+1) — pure integer/
    * string arithmetic on both engines, deliberately NOT float `log2`,
    * whose rounding at exact powers of two is libm-dependent. One scan,
    * one map-side-combined aggregation.
    */
  def lenHistogram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
    docs
      .withColumn("len_band",
        when(col("n_tok") === 0, 0).otherwise(length(bin(col("n_tok")))).cast("int"))
      .groupBy("source", "len_band")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        min("n_tok").as("min_tok"),
        max("n_tok").as("max_tok"))
      .orderBy("source", "len_band")
  }

  val lenHistogramOracle: String =
    s"""WITH t AS (
       |  SELECT source, CAST(len($tokensSql) AS BIGINT) AS n_tok
       |  FROM documents),
       |b AS (
       |  SELECT source, n_tok,
       |         CAST(CASE WHEN n_tok = 0 THEN 0
       |                   ELSE length(bin(n_tok)) END AS INT) AS len_band
       |  FROM t)
       |SELECT source, len_band, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       |       CAST(MIN(n_tok) AS BIGINT) AS min_tok,
       |       CAST(MAX(n_tok) AS BIGINT) AS max_tok
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- PII redaction ---------------------------------------------------------

  /** PII patterns, restricted to the RE2 ∩ java.util.regex common subset
    * (character classes, bounded repeats, `\b` ASCII word boundaries — no
    * lookaround, no backrefs) so Spark and the DuckDB oracle match the same
    * spans. Redaction order is fixed (email, then IPv4, then long digit
    * runs) and identical in both engines: emails and IPs consume their own
    * digits, so the later ID pass never re-matches inside an earlier
    * replacement.
    */
  val EmailRe  = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re   = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongIdRe = "\\b\\d{9,}\\b"

  /** Redact emails, IPv4 addresses, and 9+-digit identifier runs — the
    * standard pre-training scrub pass. Pure codegen'd column expression
    * (three chained regexp_replace), so it rides inside whole-stage codegen
    * on the document scan: one pass, no shuffle, unchanged at 100 TB.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongIdRe, "<ID>")

  /** The synthetic corpus contains no natural PII (verified: zero matches
    * for all three patterns), so the parity query plants deterministic
    * doc-derived PII — an email on every 3rd doc, an IPv4 on every 5th, a
    * 9+-digit id on every 7th — with the identical integer arithmetic on
    * both engines, then audits the scrub. The redaction operator itself
    * ([[redactPii]]) is the product; the planting is fixture scaffolding,
    * same honesty contract as the Multimodal fake codec.
    */
  private def plantPii(docId: Column, text: Column): Column =
    concat(
      text,
      when(docId % 3 === 0,
        concat(lit(" contact user"), docId.cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(docId % 5 === 0,
        concat(lit(" from 10."), (docId % 200).cast("string"), lit(".3."),
               ((docId * 7) % 250).cast("string")))
        .otherwise(lit("")),
      when(docId % 7 === 0,
        concat(lit(" ref "), (docId + lit(900000000L)).cast("string")))
        .otherwise(lit("")))

  /** q_pii_redact: per-source scrub audit — docs touched, matches per
    * pattern class, and the exact char delta of the rewrite. All counts are
    * integers (regexp_count + length), so the oracle hash-compares exactly.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val pii = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              plantPii(col("doc_id"), col("text")).as("pii_text"))
    val per = pii.select(
      col("source"),
      regexp_count(col("pii_text"), lit(EmailRe)).as("ne"),
      regexp_count(col("pii_text"), lit(Ipv4Re)).as("ni"),
      regexp_count(col("pii_text"), lit(LongIdRe)).as("nd"),
      (length(col("pii_text")) - length(redactPii(col("pii_text")))).as("delta"))
    per.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ne") + col("ni") + col("nd") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum("ne").as("n_emails"),
        sum("ni").as("n_ips"),
        sum("nd").as("n_ids"),
        sum("delta").as("chars_removed"))
      .orderBy("source")
  }

  val piiRedactOracle: String = {
    // DuckDB regexp_replace replaces the FIRST match unless the 'g' option
    // is passed; Spark's always replaces all — 'g' aligns them.
    val emailSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipSql    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val idSql    = "\\b\\d{9,}\\b"
    s"""WITH pii AS (
       |  SELECT source,
       |         text
       |           || CASE WHEN doc_id % 3 = 0
       |                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       |                ELSE '' END
       |           || CASE WHEN doc_id % 5 = 0
       |                THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.'
       |                     || CAST((doc_id * 7) % 250 AS VARCHAR)
       |                ELSE '' END
       |           || CASE WHEN doc_id % 7 = 0
       |                THEN ' ref ' || CAST(doc_id + 900000000 AS VARCHAR)
       |                ELSE '' END AS pii_text
       |  FROM documents),
       |per AS (
       |  SELECT source,
       |         len(regexp_extract_all(pii_text, '$emailSql')) AS ne,
       |         len(regexp_extract_all(pii_text, '$ipSql')) AS ni,
       |         len(regexp_extract_all(pii_text, '$idSql')) AS nd,
       |         length(pii_text) - length(
       |           regexp_replace(regexp_replace(regexp_replace(pii_text,
       |             '$emailSql', '<EMAIL>', 'g'),
       |             '$ipSql', '<IP>', 'g'),
       |             '$idSql', '<ID>', 'g')) AS delta
       |  FROM pii)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN ne + ni + nd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       |       CAST(SUM(ne) AS BIGINT) AS n_emails,
       |       CAST(SUM(ni) AS BIGINT) AS n_ips,
       |       CAST(SUM(nd) AS BIGINT) AS n_ids,
       |       CAST(SUM(delta) AS BIGINT) AS chars_removed
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_text_normalize: Unicode NFC canonicalization audit — the text
    * normalization pass of a multilingual pipeline, via the codegen'd
    * [[graft.plans.NfcNormalize]] expression (Spark has no built-in
    * normalizer; the expression's ASCII fast path makes the pass ~free on
    * ASCII-dominated corpora). The fixture corpus is pure ASCII, so the
    * query plants deterministic Unicode the same way q_pii_redact plants
    * PII: a decomposed `e`+U+0301 suffix on doc_id % 7 (NFC composes it,
    * shortening by one code point) and an fi-ligature U+FB01 on doc_id %
    * 11 (non-ASCII that NFC leaves alone — exercising the isNormalized
    * path, and pinning that this is NFC, not NFKC). One pruned scan, one
    * partial+final aggregation.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val decomposed = " cafe\u0301" // e + combining acute; composes under NFC
    val ligature = " \ufb01n"     // fi ligature: NFC identity (NFKC would split)
    Tables.documents(spark, dir)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(decomposed)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(ligature)).otherwise(lit(""))))
      .select(col("lang"), col("t"), graft.plans.NfcNormalize.column(col("t")).as("n"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n") =!= col("t"), 1L).otherwise(0L)).as("n_changed"),
        sum((length(col("t")) - length(col("n"))).cast("long")).as("chars_delta"))
      .orderBy("lang")
  }

  val textNormalizeOracle: String =
    """WITH d AS (
      |  SELECT lang,
      |         text || CASE WHEN doc_id % 7 = 0 THEN ' cafe' || chr(769) ELSE '' END
      |              || CASE WHEN doc_id % 11 = 0 THEN ' ' || chr(64257) || 'n' ELSE '' END AS t
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(SUM(length(t) - length(nfc_normalize(t))) AS BIGINT) AS chars_delta
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // --- incremental document-frequency index maintenance ----------------------

  /** Merge a daily batch's gram document frequencies into the corpus df
    * index — the maintenance pass behind every df-driven curation stage
    * (tf-idf, stop-shingle caps, heavy-hitter pruning): df' = df + df_batch,
    * unseen grams inserted, untouched index grams carried forward.
    *
    * Indexed unit: word BIGRAMS (distinct per doc), not unigrams — bigram
    * indexes are what the stop-shingle cap and decontamination consume, and
    * at fixture scale the unigram vocab is fully shared between any two
    * splits, which would leave the inserted/carried paths vacuous (the
    * dedupClusterStats lesson from the round-6 advisor).
    *
    * Scale shape (the [[graft.ops.Dedup.incrementalDedup]] discipline, on the
    * vocab index instead of the hash index): the accumulated corpus is only
    * ever touched as its narrow (gram, df) index — in production written
    * bucketed by gram once, so the daily merge is a co-partitioned outer
    * join costing O(batch + touched index buckets), never a corpus re-scan
    * or re-tokenize. The batch side collapses through one map-side combined
    * aggregation before the join. The returned audit groups by
    * (status, first-char bucket) so its size is alphabet-bounded regardless
    * of vocab size.
    */
  def dfIndexMerge(history: DataFrame, batch: DataFrame): DataFrame = {
    def index(side: DataFrame, dfName: String): DataFrame = side
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shingles(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as(dfName))
    val hist = index(history, "df_old")
    val bat  = index(batch, "df_b")
    val merged = hist.join(bat, Seq("gram"), "full_outer")
      .select(
        col("gram"), substring(col("gram"), 1, 1).as("bucket"),
        when(col("df_old").isNotNull && col("df_b").isNotNull, "updated")
          .when(col("df_b").isNotNull, "inserted")
          .otherwise("carried").as("status"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df_after"),
        coalesce(col("df_b"), lit(0L)).as("df_delta"))
    merged.groupBy("status", "bucket")
      .agg(
        count(lit(1)).as("n_grams"),
        sum("df_after").as("sum_df_after"),
        sum("df_delta").as("sum_df_delta"),
        max("df_after").as("max_df_after"),
        min("gram").as("min_gram"))
      .orderBy("status", "bucket")
  }

  /** q_df_incremental: [[dfIndexMerge]] over the standard deterministic
    * history/batch fixture split (doc_id % 10 < 8 = accumulated corpus,
    * rest = today's drop — the [[graft.ops.Dedup.dedupIncremental]]
    * convention, so the two incremental maintenance ops are comparable).
    */
  def dfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.util.Spread.forCpu(
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    dfIndexMerge(
      history = docs.filter(pmod(col("doc_id"), lit(10)) < 8),
      batch   = docs.filter(pmod(col("doc_id"), lit(10)) >= 8))
  }

  val dfIncrementalOracle: String = {
    val toks = tokensSql
    val bigrams =
      s"""CASE WHEN len($toks) < 2 THEN []
         | ELSE list_distinct(list_transform(range(1, len($toks)),
         |        i -> ($toks)[i] || ' ' || ($toks)[i + 1]))
         | END""".stripMargin.replace("\n", " ")
    s"""WITH g AS (
       |  SELECT doc_id, unnest($bigrams) AS gram FROM documents),
       |hist AS (
       |  SELECT gram, COUNT(*) AS df_old FROM g WHERE doc_id % 10 < 8 GROUP BY 1),
       |bat AS (
       |  SELECT gram, COUNT(*) AS df_b FROM g WHERE doc_id % 10 >= 8 GROUP BY 1),
       |merged AS (
       |  SELECT COALESCE(hist.gram, bat.gram) AS gram,
       |         substr(COALESCE(hist.gram, bat.gram), 1, 1) AS bucket,
       |         CASE WHEN df_old IS NOT NULL AND df_b IS NOT NULL THEN 'updated'
       |              WHEN df_b IS NOT NULL THEN 'inserted'
       |              ELSE 'carried' END AS status,
       |         COALESCE(df_old, 0) + COALESCE(df_b, 0) AS df_after,
       |         COALESCE(df_b, 0) AS df_delta
       |  FROM hist FULL OUTER JOIN bat ON hist.gram = bat.gram)
       |SELECT status, bucket, COUNT(*) AS n_grams,
       |       CAST(SUM(df_after) AS BIGINT) AS sum_df_after,
       |       CAST(SUM(df_delta) AS BIGINT) AS sum_df_delta,
       |       CAST(MAX(df_after) AS BIGINT) AS max_df_after,
       |       MIN(gram) AS min_gram
       |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --- feature-hashing vectorization -----------------------------------------

  /** Hashed-embedding dimensionality for [[textEmbed]]. */
  val HashEmbedDim = 16L

  /** q_text_embed: feature-hashing text vectorization (the "hashing trick",
    * Weinberger et al. 2009) — the documents→vector bridge that needs no
    * trained model and no vocabulary table: v_j(doc) = Σ_tokens sign(t)
    * over tokens hashing to bucket j, with bucket and sign both md5-derived
    * so the vectors are deterministic and the audit oracle-checkable. This
    * is the classic scalable vectorizer for dedup/classification features
    * at corpus scale: stateless per token, no vocab join, fixed output
    * width.
    *
    * Audit: per-source exact-integer vector stats — squared-norm mass,
    * max squared norm, nonzero-coordinate count — so a wrong bucket, sign,
    * or a lost cancellation (+1 and −1 colliding in one bucket must cancel)
    * shifts integer mass and fails the hash gate. All-token docs collapse
    * through two map-side combined aggregations; nothing vocab- or
    * model-sized exists anywhere.
    */
  def textEmbed(spark: SparkSession, dir: String): DataFrame = {
    val k = HashEmbedDim
    def hex6(c: Column): Column = conv(substring(md5(c), 1, 6), 16, 10).cast("long")
    val docs = graft.util.Spread.forCpu(
      graft.Tables.documents(spark, dir).select("doc_id", "source", "text"))
    val coefs = docs
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
      .withColumn("bucket", hex6(concat(lit("b:"), col("tok"))) % k)
      .withColumn("sgn",
        when(hex6(concat(lit("s:"), col("tok"))) % 2 === 0, 1L).otherwise(-1L))
      .groupBy("doc_id", "source", "bucket")
      .agg(sum("sgn").as("coef"))
    val per = coefs.groupBy("doc_id", "source")
      .agg(sum(col("coef") * col("coef")).as("normsq"),
           sum((col("coef") =!= 0).cast("long")).as("nnz"))
    val base = graft.Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val agg = per.groupBy("source")
      .agg(sum("normsq").as("sum_normsq"),
           max("normsq").as("max_normsq"),
           sum("nnz").as("sum_nnz"))
    base.join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("sum_normsq"), lit(0L)).as("sum_normsq"),
        coalesce(col("max_normsq"), lit(0L)).as("max_normsq"),
        coalesce(col("sum_nnz"), lit(0L)).as("sum_nnz"))
      .orderBy("source")
  }

  val textEmbedOracle: String = {
    val k = HashEmbedDim
    s"""WITH ex AS (
       |  SELECT doc_id, source, unnest($tokensSql) AS tok FROM documents),
       |c AS (
       |  SELECT doc_id, source,
       |         ('0x' || substr(md5('b:' || tok), 1, 6))::BIGINT % $k AS bucket,
       |         SUM(CASE WHEN ('0x' || substr(md5('s:' || tok), 1, 6))::BIGINT % 2 = 0
       |                  THEN 1 ELSE -1 END) AS coef
       |  FROM ex GROUP BY 1, 2, 3),
       |per AS (
       |  SELECT doc_id, source, SUM(coef * coef) AS normsq,
       |         SUM(CASE WHEN coef <> 0 THEN 1 ELSE 0 END) AS nnz
       |  FROM c GROUP BY 1, 2),
       |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT base.source, base.n_docs,
       |       CAST(COALESCE(SUM(normsq), 0) AS BIGINT) AS sum_normsq,
       |       CAST(COALESCE(MAX(normsq), 0) AS BIGINT) AS max_normsq,
       |       CAST(COALESCE(SUM(nnz), 0) AS BIGINT) AS sum_nnz
       |FROM base LEFT JOIN per USING (source)
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  // --- index retraction (deletion propagation) -------------------------------

  /** Retract a delete-list's documents from the corpus shingle-df index —
    * deletion propagation ("right to be forgotten"): removing source
    * documents must also remove their contribution to every derived
    * artifact, or the forgotten text lives on in indexes. df' = df − df_del;
    * grams whose entire mass came from deleted docs are `removed` (their
    * index rows drop), partially-affected grams are `decremented`, the rest
    * `untouched`.
    *
    * The indexed unit is the word trigram ([[graft.ops.Dedup.ShingleN]]) —
    * the SAME shingle the capped near-dup pass and its stop-shingle df cap
    * consume, so this is literally the maintenance op for that index.
    *
    * Scale shape: only the DELETED docs are re-tokenized (O(deleted), one
    * map-side combined aggregation); the corpus is touched as its narrow
    * (gram, df) index in a left join that in production is co-partitioned
    * on the bucketed gram key, with only touched buckets rewritten. The
    * audit groups by (status, first-char bucket) — alphabet-bounded output.
    */
  def dfIndexRetract(corpusIndex: DataFrame, deleted: DataFrame): DataFrame = {
    val del = deleted
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shingles(col("text"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df_del"))
    corpusIndex.join(del, Seq("gram"), "left")
      .select(
        col("gram"), substring(col("gram"), 1, 1).as("bucket"),
        when(col("df_del").isNull, "untouched")
          .when(col("df") === col("df_del"), "removed")
          .otherwise("decremented").as("status"),
        col("df").as("df_before"),
        (col("df") - coalesce(col("df_del"), lit(0L))).as("df_after"))
      .groupBy("status", "bucket")
      .agg(
        count(lit(1)).as("n_grams"),
        sum("df_before").as("sum_df_before"),
        sum("df_after").as("sum_df_after"),
        max("df_after").as("max_df_after"),
        min("gram").as("min_gram"))
      .orderBy("status", "bucket")
  }

  /** Delete-list residue for [[indexRetract]]: doc_id % 13 == 0 — chosen so
    * all three statuses are populated at oracle scale (sf0.01: 703 grams
    * removed, 991 decremented, 14551 untouched).
    */
  val RetractMod = 13

  /** q_index_retract: [[dfIndexRetract]] with the corpus trigram index
    * derived in-query (production reads it from its bucketed store) and the
    * fixture delete-list.
    */
  def indexRetract(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.util.Spread.forCpu(
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    val index = docs
      .select(col("doc_id"),
        explode(graft.ops.Dedup.shingles(col("text"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    dfIndexRetract(index, docs.filter(pmod(col("doc_id"), lit(RetractMod)) === 0))
  }

  val indexRetractOracle: String = {
    val toks = tokensSql
    val n = graft.ops.Dedup.ShingleN
    val joiner = (0 until n).map(o => s"($toks)[i + $o]").mkString(" || ' ' || ")
    val grams =
      s"""CASE WHEN len($toks) < $n THEN []
         | ELSE list_distinct(list_transform(range(1, len($toks) - ${n - 1} + 1),
         |        i -> $joiner))
         | END""".stripMargin.replace("\n", " ")
    s"""WITH g AS (
       |  SELECT doc_id, unnest($grams) AS gram FROM documents),
       |idx AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1),
       |del AS (SELECT gram, COUNT(*) AS df_del FROM g
       |        WHERE doc_id % $RetractMod = 0 GROUP BY 1),
       |m AS (
       |  SELECT idx.gram, substr(idx.gram, 1, 1) AS bucket,
       |         CASE WHEN df_del IS NULL THEN 'untouched'
       |              WHEN df = df_del THEN 'removed'
       |              ELSE 'decremented' END AS status,
       |         df AS df_before, df - COALESCE(df_del, 0) AS df_after
       |  FROM idx LEFT JOIN del ON idx.gram = del.gram)
       |SELECT status, bucket, COUNT(*) AS n_grams,
       |       CAST(SUM(df_before) AS BIGINT) AS sum_df_before,
       |       CAST(SUM(df_after) AS BIGINT) AS sum_df_after,
       |       CAST(MAX(df_after) AS BIGINT) AS max_df_after,
       |       MIN(gram) AS min_gram
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
