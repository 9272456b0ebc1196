package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over `documents` — the training-data pipeline
  * surface (SURVEY.md §2.8): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Portability rule: every hash is md5 (identical in Spark and DuckDB), so
  * even the sketch-based ops are exactly oracle-checkable — signatures,
  * band buckets, and candidate sets are bit-identical on both engines.
  *
  * Scale design (100 TB):
  *  - All-pairs similarity is never computed. Candidates come from an
  *    inverted index (shared shingle / shared LSH bucket / shared SimHash
  *    band) — the standard shuffle-bounded pattern. Each stage is a plain
  *    shuffle on a well-distributed key (shingle text or band hash).
  *  - Ultra-common shingles are the skew risk: at scale, add a
  *    document-frequency cap before the self-join (stop-shingle removal,
  *    standard in MinHash pipelines); at fixture scale no cap is applied so
  *    the oracle stays a pure reconstruction.
  *  - Exact dedup is one hash-groupBy — map-side combined, one shuffle.
  *
  * Cache lifecycle: the LSH pipeline persists three small relations
  * (banded, candidate pairs, candidate shingles) for intra-query reuse and
  * leaves reclamation to the session per the package-level contract
  * ([[graft.ops]]): callers `spark.catalog.clearCache()` after consuming a
  * result — Bench and Verify do.
  */
object Dedup {

  val ShingleN  = 3   // word n-gram width
  val NumHashes = 12  // MinHash signature length
  val Bands     = 4   // LSH bands (rows per band = NumHashes / Bands)
  val JaccardThreshold = 0.5
  val SimHashBits = 32
  val SimHashBands = 4
  // Verified Hamming radius. 4 bands over 32 bits pigeonhole-guarantee that
  // every pair within distance 3 shares ≥1 exact band (the classic f-bit /
  // k=3 SimHash configuration); radius and band count are locked together —
  // raising the radius without adding bands silently loses recall.
  val HammingMax = SimHashBands - 1
  // Stop-shingle document-frequency cap for the capped near-dup variant:
  // shingles present in more than this many docs are "stop shingles" —
  // boilerplate at web scale — and are removed from every set before the
  // inverted-index self-join (whose cost is Σ df², quadratic in the hottest
  // bucket). The Zipf head is tiny, so the removed-set side broadcasts.
  // 5 is chosen to FIRE at fixture scale (sf0.01 has shingles up to df=7),
  // so q_dedup_jaccard_capped exercises real stop-shingle removal, not a
  // vacuous no-op; a production corpus would set this orders higher.
  val MaxShingleDF = 5
  // Hot (band, bandkey) bucket document-frequency cap for the capped SimHash
  // variant — the banded analogue of MaxShingleDF. 50 fires at both fixture
  // scales (sf0.01 has 5 buckets over, max 128; sf0.1 has 91, max 1338), so
  // q_dedup_simhash_capped exercises real bucket removal; a production
  // corpus would set this orders higher.
  val MaxBandDF = 50
  // All-pairs-similarity-search knobs: terms with document frequency above
  // the cap are dropped from every vector before the inverted-index
  // self-join (Bayardo et al., WWW'07 — high-df terms carry the least
  // signal and ALL the join cost, Σ df² per term). 8 fires at fixture
  // scale (3-gram term df reaches 7; at sf0.1 the planted near-dups still
  // surface), bounding every index bucket at df².
  val ApssDfCap  = 8
  val ApssCosine = 0.2
  // Blocking dedup knobs: the blocking key is the first BlockPrefix tokens;
  // blocks larger than BlockCap are skipped outright (a shared-boilerplate
  // prefix at web scale would otherwise cost |block|² pairs). 64 is a
  // no-op at fixture scale (max block 4) but the plan carries the bound.
  val BlockPrefix = 3
  val BlockCap    = 64

  // --- shared shingling ------------------------------------------------------

  /** Distinct word `n`-gram shingles of `text`; <n tokens → empty array.
    * The token array is let-bound ([[graft.util.Exprs.let]]) so the
    * tokenizer runs once per row, not once per gram position per reference.
    */
  def shingles(text: Column, n: Int = ShingleN): Column =
    graft.util.Exprs.let(TextAnalysis.tokens(text)) { toks =>
      val grams = transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(array_distinct(grams))
    }

  /** Public alias of the shingle SQL body (consumed by Corpus.vocabGrowth's
    * oracle).
    */
  def shinglesExposedSql: String = shinglesSql

  private def shinglesSql: String = {
    val toks = TextAnalysis.tokensSql
    s"""CASE WHEN len($toks) < $ShingleN THEN []
       | ELSE list_distinct(list_transform(range(1, len($toks) - ${ShingleN - 1} + 1),
       |        i -> ${(0 until ShingleN).map(o => s"($toks)[i + $o]").mkString(" || ' ' || ")}))
       | END""".stripMargin.replace("\n", " ")
  }

  /** (doc_id, shingles) — the input to every near-dup operator. Re-spread
    * before the shingle projection: a single-row-group documents file
    * otherwise serializes all shingling onto one task (util.Spread).
    */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("doc_id"), shingles(col("text")).as("shingles"))

  private val docShinglesSql =
    s"(SELECT doc_id, $shinglesSql AS shingles FROM documents)"

  // --- staged shingle / pair artifacts ---------------------------------------

  /** Bucket count for the staged dedup artifacts — part of the on-disk
    * layout contract, so part of the staged table name (the
    * [[graft.ops.Relational.stageBucketedTables]] rule). Matched to the
    * fixture's width; at 100 TB raise it with the cluster (the shape, not
    * the constant, is the contract).
    */
  val ShingleBuckets = 8

  /** Warehouse table name for the staged (doc_id, shingles) relation of
    * `dir` (content-addressed by fixture dir, like every staged artifact).
    * EVERY semantic constant of the artifact is in the name (the
    * name-encodes-semantics rule): a [[ShingleN]] or bucket change can
    * never crash-recover a stale artifact built under the old constants.
    */
  def docShinglesTable(dir: String): String =
    s"doc_shingles_n${ShingleN}_b$ShingleBuckets" +
      dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the per-doc shingle relation as a WRITE-ONCE artifact —
    * `(doc_id, shingles)` bucketed and sorted by `doc_id` (r11 verdict
    * item 5, the text-family analogue of the co-purchase edge staging):
    * the near-dup family re-tokenizes and re-shingles the corpus per
    * query, and at 100 TB the shingle projection is a full-corpus regex
    * pass worth paying once, not eight times. Consumers that probe
    * per-doc sizes join on the bucket key for free. The live shingle
    * build stays TIMED in [[ngramJaccard]] (the StagedArtifactsSpec twin
    * policy), and the artifact is a pure materialization — parquet
    * round-trips the string arrays exactly, so every consumer is
    * bit-identical to its from-scratch form and rides its original oracle.
    *
    * Same crash-recovery contract as the other staged tables: a fresh
    * session re-registers a finished on-disk stage (`_SUCCESS` present)
    * as an external bucketed table; a partial stage is swept and rebuilt.
    */
  def stageDocShingles(spark: SparkSession, dir: String): String = {
    val t = docShinglesTable(dir)
    graft.util.Staged.stage(spark, t)(loc =>
        s"""CREATE TABLE $t (doc_id BIGINT, shingles ARRAY<STRING>)
           |USING PARQUET
           |CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $ShingleBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin) {
      docShingles(spark, dir)
        // repartition on the bucket column first (the EdgeBuckets rule):
        // the bucket hash and the shuffle hash agree, so each task owns
        // exactly one bucket → one file per bucket
        .repartition(ShingleBuckets, col("doc_id"))
        .write.bucketBy(ShingleBuckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(t)
    }
    t
  }

  /** The staged twin of [[docShingles]] — same rows, read off the bucketed
    * artifact (self-staging on first use, the [[graft.ops.Graph.pageRankStaged]]
    * consumer pattern).
    */
  def docShinglesStaged(spark: SparkSession, dir: String): DataFrame =
    spark.table(stageDocShingles(spark, dir))

  /** Warehouse table name for the staged DF-capped verified pair relation
    * of `dir`. EVERY semantic constant is in the name — the DF cap, the
    * Jaccard threshold (in integer percent), the shingle width, the bucket
    * count — so a constant change can never crash-recover pairs computed
    * under the old semantics (the name-encodes-semantics rule).
    */
  def dedupPairsTable(dir: String): String =
    s"dedup_pairs_t${math.round(JaccardThreshold * 100)}_df${MaxShingleDF}" +
      s"_n${ShingleN}_b$ShingleBuckets" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the DF-capped verified near-dup PAIR relation `(doc_a, doc_b)`
    * — [[jaccardPairsCapped]] at [[MaxShingleDF]], the edge list BOTH
    * cluster-resolution queries rebuild identically (~2 s apiece at sf0.1
    * before staging; the co-purchase measurement all over again). In a
    * production curation run this is exactly the artifact you materialize:
    * the near-dup graph is built once per corpus snapshot and consumed by
    * resolution, canonical-pick, audit, and retraining jobs alike. Built
    * FROM the staged shingle artifact (one warmup chain); bucketed by
    * `doc_a`. The live pair build stays TIMED in [[ngramJaccardCapped]]
    * (q_dedup_jaccard_capped); consumers are bit-identical to their
    * from-scratch forms and ride their original oracles.
    */
  def stageDedupPairs(spark: SparkSession, dir: String): String = {
    val t = dedupPairsTable(dir)
    graft.util.Staged.stage(spark, t)(loc =>
        s"""CREATE TABLE $t (doc_a BIGINT, doc_b BIGINT)
           |USING PARQUET
           |CLUSTERED BY (doc_a) SORTED BY (doc_a) INTO $ShingleBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin) {
      val sh = docShinglesStaged(spark, dir)
      jaccardPairsCapped(sh, MaxShingleDF)
        .select("doc_a", "doc_b")
        .repartition(ShingleBuckets, col("doc_a"))
        .write.bucketBy(ShingleBuckets, "doc_a").sortBy("doc_a")
        .mode("overwrite").saveAsTable(t)
      // jaccardPairsCapped pinned its shingle input; the write was its
      // only consumer (the Staged.stage pin rule)
      sh.unpersist(blocking = false)
    }
    t
  }

  /** Warehouse table name for the staged (doc_id, fp) SimHash fingerprint
    * relation of `dir`. BOTH semantic constants are in the name (the
    * name-encodes-semantics rule, matching [[docShinglesTable]]): `_w` is
    * the fingerprint bit width — a [[SimHashBits]] change can never
    * crash-recover fingerprints computed under the old width — and `_b`
    * is the physical bucket count (the suffix's meaning everywhere else in
    * this file) — a [[ShingleBuckets]] change can never crash-recover
    * files bucketed under the old count into a CREATE TABLE declaring the
    * new one, which would silently corrupt bucket-pruned joins.
    */
  def simhashFpTable(dir: String): String =
    s"simhash_fp_w${SimHashBits}_b$ShingleBuckets" +
      dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the per-doc SimHash fingerprint relation as a WRITE-ONCE
    * artifact — `(doc_id, fp)` bucketed and sorted by `doc_id`, the
    * SimHash-family analogue of [[stageDocShingles]]: the fingerprint
    * build (tokenize + md5 per token occurrence + the 32-column bit-sum
    * aggregation) dominates both SimHash queries, and at 100 TB it is a
    * full-corpus pass worth paying once per corpus snapshot, not per
    * banding variant. The live build stays TIMED in [[simhash]]
    * (q_dedup_simhash — the StagedArtifactsSpec twin policy); the
    * artifact is a pure materialization (fp is an exact long, parquet
    * round-trips it bit-for-bit), so the capped consumer is bit-identical
    * to its from-scratch form and rides its original oracle.
    *
    * Same crash-recovery contract as the other staged tables: a fresh
    * session re-registers a finished on-disk stage (`_SUCCESS` present);
    * a partial stage is swept and rebuilt.
    */
  def stageSimhashFp(spark: SparkSession, dir: String): String = {
    val t = simhashFpTable(dir)
    graft.util.Staged.stage(spark, t)(loc =>
        s"""CREATE TABLE $t (doc_id BIGINT, fp BIGINT)
           |USING PARQUET
           |CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $ShingleBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin) {
      simhashFingerprints(spark, dir)
        .repartition(ShingleBuckets, col("doc_id"))
        .write.bucketBy(ShingleBuckets, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable(t)
    }
    t
  }

  /** The staged twin of [[simhashFingerprints]] — same rows, read off the
    * bucketed artifact (self-staging on first use, the consumer pattern).
    */
  def simhashFpStaged(spark: SparkSession, dir: String): DataFrame =
    spark.table(stageSimhashFp(spark, dir))

  // --- exact dedup -----------------------------------------------------------

  /** q_dedup_exact: hash-groupBy exact dedup on normalized text. Keeps the
    * min doc_id per hash group (the canonical representative rule); reports
    * per-source totals.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(lower(trim(col("text")))).as("h"))
    val reps = docs.groupBy("source", "h")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_in_group"))
    reps.groupBy("source")
      .agg(
        sum("n_in_group").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("n_in_group") - 1).as("n_removed"),
        min("rep_id").as("min_rep_id"))
      .orderBy("source")
  }

  val dedupExactOracle: String =
    """WITH g AS (
      |  SELECT source, md5(lower(trim(text))) AS h,
      |         MIN(doc_id) AS rep_id, COUNT(*) AS n_in_group
      |  FROM documents GROUP BY 1, 2)
      |SELECT source,
      |       CAST(SUM(n_in_group) AS BIGINT) AS n_docs,
      |       COUNT(*) AS n_distinct,
      |       CAST(SUM(n_in_group - 1) AS BIGINT) AS n_removed,
      |       MIN(rep_id) AS min_rep_id
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- incremental (daily-batch) dedup ---------------------------------------

  /** Incremental dedup core: dedup `batch` internally (min doc_id per
    * content hash per source), then drop the reps whose hash already
    * exists in `history` (one anti-join on the hash). Returns the
    * per-source audit: batch_docs, batch_distinct, dropped_known (already
    * in the corpus), new_docs, min_new_id.
    *
    * This is the daily-ingest shape at 100 TB: the accumulated corpus is
    * never re-deduped — it is represented by its content-hash index
    * (narrow `h`-only relation, written bucketed by `h` once per day,
    * the write-once/join-many layout `Relational.stageBucketedTables`
    * demonstrates), and each day costs O(batch + touched index buckets):
    * the batch groupBy is map-side combined on (source, h), and the
    * anti-join shuffles only the batch's distinct hashes against the
    * co-partitioned index — never the corpus text. `history` and `batch`
    * carry (doc_id, source, h); only `h` is read from history, so column
    * pruning keeps the index scan narrow.
    */
  def incrementalDedup(history: DataFrame, batch: DataFrame): DataFrame = {
    // no distinct() on the index side: LEFT ANTI is duplicate-insensitive
    // on its right input, so deduping it buys nothing semantically and a
    // distinct here would plan a full shuffle-aggregation over the ENTIRE
    // corpus hash index every day — exactly the O(corpus) rescan the
    // O(batch + touched buckets) claim forbids. (The production index is
    // distinct-by-construction anyway: it accumulates only `fresh` reps.)
    val hist = history.select(col("h"))
    val reps = batch.groupBy("source", "h")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_in_group"))
    val fresh = reps.join(hist, Seq("h"), "left_anti")
    val perSource = reps.groupBy("source")
      .agg(sum("n_in_group").as("batch_docs"), count(lit(1)).as("batch_distinct"))
    val freshPerSource = fresh.groupBy("source")
      .agg(count(lit(1)).as("fresh_cnt"), min("rep_id").as("min_new_id"))
    perSource.join(freshPerSource, Seq("source"), "left")
      .select(
        col("source"), col("batch_docs"), col("batch_distinct"),
        (col("batch_distinct") - coalesce(col("fresh_cnt"), lit(0L))).as("dropped_known"),
        coalesce(col("fresh_cnt"), lit(0L)).as("new_docs"),
        col("min_new_id"))
      .orderBy("source")
  }

  /** q_dedup_incremental: [[incrementalDedup]] over a deterministic
    * history/batch partition of the fixture — docs with doc_id % 10 < 8
    * are "already ingested", the rest are "today's drop". The planted
    * exact duplicates straddle the boundary, so dropped_known is
    * non-vacuous at fixture scale.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(lower(trim(col("text")))).as("h"))
    incrementalDedup(
      history = docs.filter(pmod(col("doc_id"), lit(10)) < 8),
      batch   = docs.filter(pmod(col("doc_id"), lit(10)) >= 8))
  }

  val dedupIncrementalOracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, md5(lower(trim(text))) AS h FROM documents),
      |hist AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 < 8),
      |reps AS (
      |  SELECT source, h, MIN(doc_id) AS rep_id, COUNT(*) AS n_in_group
      |  FROM d WHERE doc_id % 10 >= 8 GROUP BY 1, 2),
      |fresh AS (
      |  SELECT * FROM reps r WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = r.h)),
      |per AS (
      |  SELECT source, CAST(SUM(n_in_group) AS BIGINT) AS batch_docs,
      |         COUNT(*) AS batch_distinct
      |  FROM reps GROUP BY 1),
      |fp AS (
      |  SELECT source, COUNT(*) AS fresh_cnt, MIN(rep_id) AS min_new_id
      |  FROM fresh GROUP BY 1)
      |SELECT per.source, batch_docs, batch_distinct,
      |       CAST(batch_distinct - COALESCE(fresh_cnt, 0) AS BIGINT) AS dropped_known,
      |       CAST(COALESCE(fresh_cnt, 0) AS BIGINT) AS new_docs, min_new_id
      |FROM per LEFT JOIN fp ON per.source = fp.source
      |ORDER BY 1""".stripMargin

  // --- n-gram Jaccard near-dup ----------------------------------------------

  /** q_dedup_ngram_jaccard: exact pairwise Jaccard over word 3-gram shingles,
    * candidates generated by the inverted-index self-join (pairs must share
    * ≥1 shingle — never all-pairs). Emits pairs at ≥ [[JaccardThreshold]].
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // persisted for the same multi-consumer reason as jaccardPairsCapped
    val sh = docShingles(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("doc_id"), size(col("shingles")).as("n"),
                       explode(col("shingles")).as("s"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    // length filter (exact): jaccard >= t forces min(|A|,|B|) >= t*max —
    // prune impossible pairs inside the join, before the pair aggregation
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(JaccardThreshold) * col("b.n") &&
          col("b.n") >= lit(JaccardThreshold) * col("a.n"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes).as("x"), col("doc_a") === col("x.doc_id"))
      .join(broadcast(sizes).as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
              col("x.n").as("n_a"), col("y.n").as("n_b"),
              (col("inter").cast("double") / (col("x.n") + col("y.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** The UNPRUNED inverted-index Jaccard definition at an arbitrary
    * threshold — the oracle body shared by the 0.5 operators and the
    * prefix-filtered operator's [[PrefixJaccardThreshold]] instance.
    */
  def ngramJaccardOracleAt(t: Double): String =
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
       |SELECT doc_a, doc_b, inter, x.n AS n_a, y.n AS n_b,
       |       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
       |FROM pairs p
       |JOIN sz x ON p.doc_a = x.doc_id
       |JOIN sz y ON p.doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $t
       |ORDER BY 1, 2""".stripMargin

  val ngramJaccardOracle: String = ngramJaccardOracleAt(JaccardThreshold)

  /** Exact pairwise Jaccard with the stop-shingle DF cap, over an explicit
    * (doc_id, shingles) relation (injectable for skew tests). Shingles with
    * document frequency > `cap` are removed from EVERY set before candidate
    * generation and scoring — the 100 TB skew defense: a shingle shared by
    * d docs contributes d² candidate rows to the self-join, so one
    * boilerplate shingle at web scale is quadratic; capping bounds every
    * bucket at cap². Jaccard is then computed over the capped sets (sizes
    * recomputed post-cap, so the threshold semantics stay exact).
    */
  def jaccardPairsCapped(sh0: DataFrame, cap: Int): DataFrame = {
    // The shingle projection feeds four consumers (hot-set derivation, the
    // post-cap size pass, and both self-join sides); without a persist each
    // consumer re-shingles the corpus. MEMORY_AND_DISK_SER: disk spill
    // instead of OOM past executor memory, and serialized bytes instead of
    // per-doc string-array object graphs in the old gen (in-suite GC
    // pressure is the q_dedup_resolution flap class); freed by the
    // caller's/bench's cache clear.
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val ex0 = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val hot = ex0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("s")
    // no forced broadcast: the hot set is usually the tiny Zipf head (AQE
    // will broadcast it at runtime when it is), but a boilerplate-heavy
    // corpus can have an unboundedly large over-cap set — the same
    // no-driver-ceiling rule the minhash verify stage follows
    val ex1 = ex0.join(hot, Seq("s"), "left_anti")
    val sizes = ex1.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ex = ex1.join(sizes, "doc_id")
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(JaccardThreshold) * col("b.n") &&
          col("b.n") >= lit(JaccardThreshold) * col("a.n"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // n is constant within a pair group, so max() carries it through the
      // aggregation — no second join against a corpus-wide sizes table
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
  }

  /** q_dedup_jaccard_capped: [[ngramJaccard]] with the [[MaxShingleDF]]
    * stop-shingle cap applied — the scale-defended variant.
    */
  /** q_dedup_degree: degree distribution of the verified near-dup graph —
    * the health report dedup resolution reads before it runs: a fat-tailed
    * degree histogram means template/boilerplate families (one doc near-dup
    * to hundreds — resolution's components will be huge and the text is
    * suspect); a thin graph means isolated accidental pairs. Every doc
    * appears — degree-0 docs (the vast majority) are the `deg_band = 0`
    * row, so the audit also exposes what FRACTION of the corpus is
    * entangled at all.
    *
    * Plan: the pair relation is [[ngramJaccard]]'s (inverted index, never
    * all-pairs); degrees are one symmetric explode + map-side combined
    * count, and the histogram is the power-of-2 band rollup (`q_key_skew`'s
    * idiom) — output bounded by band count regardless of corpus size.
    */
  def dedupDegree(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir).select("doc_a", "doc_b")
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    Tables.documents(spark, dir).select("doc_id")
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .withColumn("deg_band",
        when(col("degree") === 0, 0).otherwise(length(bin(col("degree")))).cast("int"))
      .groupBy("deg_band")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("degree").as("sum_degree"),
        max("degree").as("max_degree"),
        min("doc_id").as("min_doc"))
      .orderBy("deg_band")
  }

  val dedupDegreeOracle: String =
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($ngramJaccardOracle) t),
       |e AS (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p),
       |deg AS (SELECT doc_id, COUNT(*) AS degree FROM e GROUP BY 1),
       |d AS (SELECT documents.doc_id, COALESCE(degree, 0) AS degree
       |      FROM documents LEFT JOIN deg ON documents.doc_id = deg.doc_id)
       |SELECT CAST(CASE WHEN degree = 0 THEN 0 ELSE length(bin(degree)) END AS INT) AS deg_band,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(degree) AS BIGINT) AS sum_degree,
       |       CAST(MAX(degree) AS BIGINT) AS max_degree,
       |       CAST(MIN(doc_id) AS BIGINT) AS min_doc
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  def ngramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsCapped(docShingles(spark, dir), MaxShingleDF)
      .orderBy("doc_a", "doc_b")

  // --- prefix-filtered Jaccard (PPJoin candidate generation) ------------------

  /** Prefix-filtered candidate generation for Jaccard ≥ t (the PPJoin /
    * All-Pairs prefix principle — Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection"; Bayardo et al., "Scaling Up All Pairs
    * Similarity Search"): under ANY fixed global total order on shingles,
    * index only each doc's first p(z) = |z| − ⌈t·|z|⌉ + 1 shingles; every
    * pair with jaccard ≥ t still shares an INDEXED shingle, so the prefix
    * self-join loses no qualifying pair.
    *
    * Why it is exact: a qualifying pair (x, y), |x| ≤ |y|, passes the
    * length filter (|x| ≥ t·|y|), so its overlap o = |x∩y| satisfies
    * o ≥ t·(|x|+|y|)/(1+t) ≥ t·|y|, hence o ≥ α = ⌈t·|y|⌉ (o is an
    * integer). Sort the common shingles ascending by the global order and
    * take τ = the (o−α+1)-th: α−1 common shingles sort strictly above τ,
    * so in EITHER doc at least α−1 elements outrank τ and τ's rank is
    * ≤ |z| − α + 1 ≤ |z| − ⌈t·|z|⌉ + 1 = p(z) (α ≥ ⌈t·|z|⌉ for both
    * docs). τ therefore sits in BOTH prefixes and the self-join emits the
    * pair. Verification then computes exact Jaccard on the full sets, so
    * the result relation is IDENTICAL to the unpruned inverted-index join
    * ([[ngramJaccard]]) — the oracle is literally the same SQL.
    *
    * Why it scales where the DF cap costs recall: the global order is
    * (corpus document-frequency ASC, shingle ASC), so Zipf-head
    * boilerplate shingles sort LAST and land in (almost) nobody's prefix —
    * the d² hot-bucket explosion of the raw inverted index disappears
    * without removing the shingle from the sets (the cap's recall price).
    * At t = 0.5 the prefix also halves the index; at the dedup-typical
    * t = 0.8 it keeps ~20% of each doc — candidate mass falls ~25×.
    *
    * Plan shape — and why singleton shingles never travel: a shingle with
    * corpus df = 1 cannot be SHARED, so it can never witness a candidate
    * pair; and because the global order is df-ascending, a doc's df-1
    * shingles occupy its FIRST n₁ ranks, so the global rank of a repeated
    * shingle is n₁ + (its rank among the doc's repeated shingles) and the
    * prefix test r ≤ n − ⌈t·n⌉ + 1 rewrites to r₂ ≤ cnt₂ − ⌈t·n⌉ + 1
    * (cnt₂ = the doc's repeated-shingle count). The df-1 long tail — the
    * overwhelming shingle mass of any real corpus — therefore exits after
    * ONE map-side-combined count: only repeated shingles enter the df
    * join, the per-doc rank window, and the index. The per-doc shingle
    * ARRAYS are what is pinned (the [[jaccardPairsCapped]] discipline —
    * compact rows, not the exploded corpus), the rank pass partitions BY
    * DOC (no global sort), the prefix self-join's buckets are starved of
    * hot shingles by construction, and [[verifyJaccardPairs]] re-shingles
    * candidate docs only — candidates travel as bare id pairs.
    */
  def jaccardPrefixCandidates(sh0: DataFrame, t: Double): DataFrame = {
    // pin the COMPACT per-doc arrays, not the explode: two consumers (df
    // count + the join input) re-explode from cache; SER keeps the string
    // arrays out of the old gen (the in-suite GC robustness rule)
    val sh = sh0.filter(size(col("shingles")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    sh.count()
    // the prefix index feeds both self-join sides: pin the pruned rows so
    // the rank pass runs once, not twice
    val prePinned = jaccardPrefixIndex(sh, t).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    prePinned.count()
    sh.unpersist(blocking = false)
    // materialize the candidate ids OFF the index pin, then release it:
    // prePinned's only consumer is the self-join above, so its pin is
    // call-scoped — it must not outlive the call accumulating executor
    // memory in consumers without the harness clearCache() convention.
    // The returned cand pin is different: its consumers (candIds + the two
    // verify joins) are outside this function, so it stays pinned as bare
    // id pairs under the retained-cache convention.
    val cand = jaccardPrefixSelfJoin(prePinned, t).persist()
    cand.count()
    prePinned.unpersist(blocking = false)
    cand
  }

  /** Epsilon for the prefix budget and length-ratio arithmetic: ⌈t·n⌉ is
    * computed as ceil(t·n − eps), and the length filter as
    * a.n ≥ t·b.n − eps. The double product t·n carries rounding error
    * ≤ n·2⁻⁵² (< 1e-6 for any n ≤ 4×10⁹ shingles/doc — far above a real
    * document), so subtracting eps guarantees the ceiling NEVER lands
    * strictly above the exact rational ⌈t·n⌉ — the unsafe direction, which
    * would silently shorten the prefix and drop qualifying pairs for an
    * arbitrary user threshold whose product rounds up (the shipped 0.5/0.8
    * are provably safe, but the operator accepts any t). When t·n sits
    * within eps BELOW an integer the ceiling drops by one — a one-longer
    * prefix, strictly MORE candidates, lossless (verification filters).
    * The length filter's unsafe direction is the same product rounding up
    * past an integer doc length; the eps admits at most borderline extra
    * candidates, never drops one.
    */
  private val PrefixCeilEps = 1e-6

  /** The per-doc prefix index (lazy, no persists): repeated shingles
    * ranked per doc under the global (df, s) order, kept while
    * r₂ ≤ cnt₂ − ⌈t·n⌉ + 1. Split out so the plan-audit suite can inspect
    * the window/exchange shape pre-cache.
    */
  private[graft] def jaccardPrefixIndex(sh: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("doc_id"), size(col("shingles")).as("n"),
                       explode(col("shingles")).as("s"))
    val dfreq2 = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    // only repeated shingles survive the join (no forced broadcast — a
    // boilerplate-heavy corpus can have an unboundedly large repeated
    // vocabulary; AQE broadcasts when it is small)
    val exJ = ex.join(dfreq2, "s")
    // per-doc rank among REPEATED shingles under the global (df, s) order;
    // ties impossible — shingle arrays are distinct within a doc. cnt₂
    // rides the same per-doc exchange as the rank.
    val byDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    val byDocAll = Window.partitionBy("doc_id")
    exJ
      .withColumn("r2", row_number().over(byDoc))
      .withColumn("cnt2", count(lit(1)).over(byDocAll))
      .filter(col("r2") <=
        col("cnt2") - ceil(lit(t) * col("n") - lit(PrefixCeilEps)).cast("long") + 1)
      .select("doc_id", "n", "s")
  }

  /** The prefix self-join over an index relation (lazy, no persists). */
  private[graft] def jaccardPrefixSelfJoin(pre: DataFrame, t: Double): DataFrame =
    pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(t) * col("b.n") - lit(PrefixCeilEps) &&
          col("b.n") >= lit(t) * col("a.n") - lit(PrefixCeilEps))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Threshold for the prefix-filtered operator: the dedup-typical 0.8,
    * NOT the exploratory 0.5 the unpruned/capped operators run at. This is
    * the regime prefix filtering exists for — p(z) = |z| − ⌈t·|z|⌉ + 1
    * keeps ~20% of each doc at t = 0.8 vs ~50% at t = 0.5, and candidate
    * mass scales with the SQUARE of the kept fraction. Measured on the
    * (adversarially self-similar, 27k-shingle-vocab) sf0.1 fixture:
    * 296k distinct candidates at t = 0.5 — nearly every sharing pair —
    * vs a few thousand at t = 0.8, while the RESULT is identical on the
    * fixtures (every planted near-dup pair sits at jaccard ≥ 0.8).
    */
  val PrefixJaccardThreshold = 0.8

  /** q_dedup_jaccard_prefix: the exact Jaccard-join result at
    * [[PrefixJaccardThreshold]] through the prefix-filtered candidate
    * path — candidates from [[jaccardPrefixCandidates]], exact-Jaccard
    * verification via the shared [[verifyJaccardPairs]] stage. Oracle =
    * the UNPRUNED inverted-index SQL at the same threshold
    * ([[ngramJaccardOracleAt]]): the hash gate itself proves the prune
    * lossless.
    */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    // already persisted + materialized bare id pairs; feeds candIds + both
    // verify joins. Shingles come from the staged artifact (the write-once
    // [[stageDocShingles]] layout; live twin: q_dedup_ngram_jaccard).
    val cand = jaccardPrefixCandidates(docShinglesStaged(spark, dir), PrefixJaccardThreshold)
    verifyJaccardPairs(spark, dir, cand, PrefixJaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Same SQL text as the unpruned definition, instantiated at the prefix
    * operator's own threshold — the prefix filter is provably
    * output-invariant, and gating it against the unpruned definition is the
    * strongest correctness statement an optimization can make.
    */
  val ngramJaccardPrefixOracle: String = ngramJaccardOracleAt(PrefixJaccardThreshold)

  val ngramJaccardCappedOracle: String =
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t),
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY 1) WHERE df > $MaxShingleDF),
       |ex AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, x.n AS n_a, y.n AS n_b,
       |       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
       |FROM pairs p
       |JOIN sz x ON p.doc_a = x.doc_id
       |JOIN sz y ON p.doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $JaccardThreshold
       |ORDER BY 1, 2""".stripMargin

  // --- MinHash + LSH ---------------------------------------------------------

  /** MinHash signature: NumHashes × min over shingles of md5(i ++ ":" ++ s).
    * md5 hex strings order like 128-bit ints, so min-of-md5 is a valid
    * min-wise hash family and is engine-portable.
    */
  def minhashSignature(shinglesCol: Column, k: Int = NumHashes): Column =
    graft.util.Exprs.let(shinglesCol) { sh =>
      transform(sequence(lit(0), lit(k - 1)),
        i => array_min(transform(sh, s => md5(concat(i.cast("string"), lit(":"), s)))))
    }

  /** q_dedup_minhash_lsh: MinHash signatures → band buckets → candidate
    * pairs sharing a bucket → exact Jaccard verification on candidates only.
    * The full LSH pipeline (shingle → minhash → band → bucket-join →
    * verify), shuffle-bounded by bucket size — the 100 TB dedup path.
    *
    * Shuffle discipline: the banded self-join carries ONLY (doc_id, band,
    * bucket) — never the shingle arrays (which would multiply the shuffle by
    * ×Bands the corpus shingle bytes). Candidate pairs are deduped as bare
    * id pairs; shingles are then recomputed for candidate docs only (a
    * broadcast semi-join prunes the corpus scan before the shingle
    * transform) and joined back exactly once for verification.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val rows = NumHashes / Bands
    // staged shingles ([[stageDocShingles]]; live twin: q_dedup_ngram_jaccard)
    val sh = docShinglesStaged(spark, dir).filter(size(col("shingles")) > 0)
    val sig = sh.select(col("doc_id"), minhashSignature(col("shingles")).as("sig"))
    val banded = sig.select(col("doc_id"),
        posexplode(graft.util.Exprs.let(col("sig")) { sg =>
          transform(sequence(lit(0), lit(Bands - 1)),
            b => md5(concat_ws("|",
              (1 to rows).map(r => element_at(sg, b * rows + r)) :+ b.cast("string"): _*)))
        }).as(Seq("band", "bucket")))
      // tiny (Bands rows per doc, id+band+bucket) but feeds BOTH sides of
      // the self-join — persisted so the signature computation (12 md5s per
      // shingle over the whole corpus) runs once, not twice
      .persist()
    // materialized before the self-join is planned: over an unmaterialized
    // pin, AQE runs one cache stage per join side and broadcasts whichever
    // side finishes first, so the build side changed from run to run
    banded.count()
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      // bare id pairs, persisted: the signature + banded-self-join pipeline
      // above is the expensive stage and feeds THREE consumers downstream
      // (candIds + the two verify joins) — without the persist it re-executes
      // per consumer. Pairs are the LSH-bucketed candidate set (bounded by
      // bucket sizes, never all-pairs), two longs per row.
      .persist()
    verifyJaccardPairs(spark, dir, cand)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-Jaccard verification of bare candidate id pairs: compute shingles
    * for CANDIDATE docs only (semi-join on the raw table before the shingle
    * transform — non-candidates never pay the tokenizer), then one pair
    * join. Shared by the LSH and DF-capped pipelines.
    *
    * Scale shape: only `candIds` (bare longs) is ever broadcast. The
    * shingle-carrying joins are plain shuffle joins — at 100 TB the
    * candidate set is unbounded, so a forced broadcast of the shingle table
    * would hit the driver/broadcast ceiling; AQE still turns these into
    * broadcasts whenever the candidate side is actually small. `candSh` is
    * persisted because it feeds both the doc_a and doc_b joins.
    */
  private def verifyJaccardPairs(spark: SparkSession, dir: String,
                                 cand: DataFrame,
                                 t: Double = JaccardThreshold): DataFrame = {
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    // Spread AFTER the semi-join, BEFORE the shingle projection (the
    // [[docShingles]] rule, missed here until r16): a single-row-group
    // documents file gives the scan one partition, and without the
    // re-spread the shingling AND the downstream verify join+intersect
    // inherit it — StageBench measured the whole verification tail as a
    // 1.4 s single task inside a ~4.5 s q_dedup_jaccard_prefix. Spreading
    // the filtered candidate docs (small — the shuffle moves candidate
    // text only) runs the expensive parts at full width.
    val candSh = graft.util.Spread.forCpu(Tables.documents(spark, dir)
        .join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), shingles(col("text")).as("shingles"))
      .persist()
    cand
      .join(candSh.as("x"), col("doc_a") === col("x.doc_id"))
      .join(candSh.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.shingles"), col("y.shingles"))).as("inter"),
        size(col("x.shingles")).as("n_a"), size(col("y.shingles")).as("n_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= t)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
  }

  val minhashLshOracle: String = {
    val rows = NumHashes / Bands
    val bandExprs = (0 until Bands).map { b =>
      val parts = (1 to rows).map(r => s"sig[${b * rows + r}]").mkString(" || '|' || ")
      s"md5($parts || '|' || '$b')"
    }.mkString("[", ", ", "]")
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t WHERE len(shingles) > 0),
       |sig AS (
       |  SELECT doc_id, shingles,
       |         list_transform(range(0, $NumHashes),
       |           i -> list_min(list_transform(shingles, s -> md5(i || ':' || s)))) AS sig
       |  FROM sh),
       |banded AS (
       |  SELECT doc_id, shingles, band - 1 AS band, buckets[band] AS bucket
       |  FROM (SELECT doc_id, shingles, $bandExprs AS buckets FROM sig),
       |       unnest(range(1, ${Bands + 1})) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.shingles AS sh_a, b.shingles AS sh_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |         len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS inter,
       |         len(sh_a) AS n_a, len(sh_b) AS n_b
       |  FROM cand)
       |SELECT doc_a, doc_b, CAST(inter AS INT) AS inter,
       |       CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
       |       CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
       |FROM scored
       |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= $JaccardThreshold
       |ORDER BY 1, 2""".stripMargin
  }

  /** q_dedup_minhash_incremental: the DAILY-BATCH near-dup shape —
    * [[dedupIncremental]]'s exact anti-join generalized to NEAR duplicates.
    * Today's drop (doc_id % 10 ≥ 8, the [[dedupIncremental]] split)
    * computes MinHash band buckets for ITS docs only and probes the
    * accumulated corpus's banded index; only history rows in buckets the
    * batch actually hits ever join, and exact-Jaccard verification runs on
    * the surviving candidate pairs alone. Emits the verified
    * (hist_id, new_id) near-dup pairs.
    *
    * 100 TB shape: the accumulated corpus appears ONLY as its banded index
    * — (doc_id, band, bucket), three narrow columns, in production staged
    * on disk bucketed by (band, bucket) exactly like
    * [[graft.ops.Similarity.stageIvfIndex]] stages cells — so per day the
    * work is O(batch signatures + touched buckets + verified candidates),
    * never a corpus rescan and never a corpus×corpus self-join. The
    * history side of the verify reads shingles for candidate docs only
    * (the [[minhashLsh]] semi-join discipline).
    */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val rows = NumHashes / Bands
    def bandsOf(docs: DataFrame): DataFrame = {
      val sh = docs.filter(size(col("shingles")) > 0)
      sh.select(col("doc_id"), minhashSignature(col("shingles")).as("sig"))
        .select(col("doc_id"),
          posexplode(graft.util.Exprs.let(col("sig")) { sg =>
            transform(sequence(lit(0), lit(Bands - 1)),
              b => md5(concat_ws("|",
                (1 to rows).map(r => element_at(sg, b * rows + r)) :+ b.cast("string"): _*)))
          }).as(Seq("band", "bucket")))
    }
    // staged shingles ([[stageDocShingles]]; live twin: q_dedup_ngram_jaccard)
    val all = docShinglesStaged(spark, dir)
    val histBands = bandsOf(all.filter(pmod(col("doc_id"), lit(10)) < 8))
    val newBands = bandsOf(all.filter(pmod(col("doc_id"), lit(10)) >= 8))
      // the batch is the small side: Bands rows per new doc — broadcast it
      // into the index probe so the history index never shuffles
      .persist()
    newBands.count()
    val cand = histBands.join(broadcast(newBands)
        .withColumnRenamed("doc_id", "new_id"), Seq("band", "bucket"))
      .select(col("doc_id").as("doc_a"), col("new_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .persist()
    verifyJaccardPairs(spark, dir, cand)
      .select(col("doc_a").as("hist_id"), col("doc_b").as("new_id"),
              col("inter"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy("hist_id", "new_id")
  }

  val minhashIncrementalOracle: String = {
    val rows = NumHashes / Bands
    val bandExprs = (0 until Bands).map { b =>
      val parts = (1 to rows).map(r => s"sig[${b * rows + r}]").mkString(" || '|' || ")
      s"md5($parts || '|' || '$b')"
    }.mkString("[", ", ", "]")
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t WHERE len(shingles) > 0),
       |sig AS (
       |  SELECT doc_id, shingles,
       |         list_transform(range(0, $NumHashes),
       |           i -> list_min(list_transform(shingles, s -> md5(i || ':' || s)))) AS sig
       |  FROM sh),
       |banded AS (
       |  SELECT doc_id, shingles, band - 1 AS band, buckets[band] AS bucket
       |  FROM (SELECT doc_id, shingles, $bandExprs AS buckets FROM sig),
       |       unnest(range(1, ${Bands + 1})) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT h.doc_id AS hist_id, n.doc_id AS new_id,
       |         h.shingles AS sh_a, n.shingles AS sh_b
       |  FROM banded h JOIN banded n
       |    ON h.band = n.band AND h.bucket = n.bucket
       |   AND h.doc_id % 10 < 8 AND n.doc_id % 10 >= 8),
       |scored AS (
       |  SELECT hist_id, new_id,
       |         len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS inter,
       |         len(sh_a) AS n_a, len(sh_b) AS n_b
       |  FROM cand)
       |SELECT hist_id, new_id, CAST(inter AS INT) AS inter,
       |       CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
       |       CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
       |FROM scored
       |WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= $JaccardThreshold
       |ORDER BY 1, 2""".stripMargin
  }

  /** q_minhash_est_check: MinHash sketch-accuracy governance — the same
    * self-check-as-oracle pattern as the HLL ([[Relational.kyakusuApproxCheck]])
    * and quantile-sketch audits, applied to the LSH dedup pipeline's
    * signatures. For every verified near-dup pair, the signature-agreement
    * estimate Ĵ = |{i : sig_a[i] = sig_b[i]}| / [[NumHashes]] is compared
    * against the exact shingle Jaccard the verify stage already computed;
    * the audit row carries the pair count, the worst absolute error, and
    * the count of errors past 1/4 — the error DISTRIBUTION is
    * hash-compared, not a hoped-for bound (E[Ĵ] = J; per-pair deviation at
    * k=12 has σ ≈ 0.14, so nonzero tail counts are expected and exact).
    *
    * At 100 TB this is the audit you run before trusting banding
    * parameters: if the sketch disagrees with exact Jaccard on the pairs
    * you CAN verify, the (bands, rows) recall model is wrong for your
    * shingle distribution. Cost is one signature recompute joined onto the
    * verified pairs — candidate-bounded, never corpus all-pairs.
    */
  def minhashEstCheck(spark: SparkSession, dir: String): DataFrame = {
    // staged shingles ([[stageDocShingles]]; live twin: q_dedup_ngram_jaccard)
    val sh = docShinglesStaged(spark, dir).filter(size(col("shingles")) > 0)
    val sig = sh.select(col("doc_id"), minhashSignature(col("shingles")).as("sig"))
    val pairs = minhashLsh(spark, dir)
    pairs
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y),
                     b => b)).cast("double") / NumHashes).as("est"))
      .withColumn("err", abs(col("est") - col("jaccard")))
      .agg(
        count(lit(1)).as("n_pairs"),
        max("err").as("max_abs_err"),
        sum(when(col("err") > 0.25, 1L).otherwise(0L)).as("n_err_gt_quarter"))
  }

  val minhashEstCheckOracle: String =
    s"""WITH pairs AS (SELECT * FROM ($minhashLshOracle) t),
       |sh2 AS (SELECT doc_id, shingles FROM $docShinglesSql t WHERE len(shingles) > 0),
       |sig2 AS (
       |  SELECT doc_id,
       |         list_transform(range(0, $NumHashes),
       |           i -> list_min(list_transform(shingles, s -> md5(i || ':' || s)))) AS sig
       |  FROM sh2),
       |est AS (
       |  SELECT p.doc_a, p.doc_b, p.jaccard,
       |         CAST(len(list_filter(list_transform(range(1, ${NumHashes + 1}),
       |                i -> a.sig[i] = b.sig[i]), x -> x)) AS DOUBLE) / $NumHashes AS est
       |  FROM pairs p
       |  JOIN sig2 a ON p.doc_a = a.doc_id
       |  JOIN sig2 b ON p.doc_b = b.doc_id)
       |SELECT COUNT(*) AS n_pairs,
       |       MAX(abs(est - jaccard)) AS max_abs_err,
       |       CAST(SUM(CASE WHEN abs(est - jaccard) > 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_err_gt_quarter
       |FROM est""".stripMargin

  // --- deterministic splits + decontamination --------------------------------

  /** q_data_split: hash-based train/val/test assignment (80/10/10) — the
    * canonical reproducible split: bucket = first byte of md5(text) mod 10,
    * so membership depends only on content, never on partitioning, sampling
    * order, or cluster size. Counts per (lang, split).
    */
  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 2), 16, 10).cast("int") % 10
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("lang", "split")
  }

  val dataSplitOracle: String =
    """WITH b AS (
      |  SELECT lang, n_chars,
      |         ('0x' || substr(md5(text), 1, 2))::INT % 10 AS bucket
      |  FROM documents)
      |SELECT lang,
      |       CASE WHEN bucket < 8 THEN 'train'
      |            WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_source_mix: deterministic source re-weighting — the "mixing weights"
    * pass of a training-data pipeline (downsample over-represented sources
    * before training). Keep-fraction per source comes from a fixed rule
    * (full / half / quarter by source index mod 3); membership is decided
    * by a content-hash bucket (md5 basis points), so the SAME documents are
    * kept under any partitioning, cluster size, or execution order — the
    * reproducibility property that `sample()` cannot give. One narrow scan,
    * one aggregation; no shuffle beyond the final per-source rollup.
    */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val idx = substring(col("source"), 4, 10).cast("int")
    val keepBp = when(idx % 3 === 0, 10000)
      .when(idx % 3 === 1, 5000)
      .otherwise(2500)
    val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 10000
    Tables.documents(spark, dir)
      .withColumn("kept", (bucket < keepBp).cast("int"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
           sum(col("kept")).as("n_kept"))
      .orderBy("source")
  }

  val sourceMixOracle: String =
    """WITH d AS (
      |  SELECT source,
      |         CASE WHEN substr(source, 4)::INT % 3 = 0 THEN 10000
      |              WHEN substr(source, 4)::INT % 3 = 1 THEN 5000
      |              ELSE 2500 END AS keep_bp,
      |         ('0x' || substr(md5(text), 1, 4))::INT % 10000 AS bucket
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_total,
      |       CAST(SUM(CASE WHEN bucket < keep_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-language quota for [[langQuota]]. */
  val LangQuotaK = 100

  /** q_lang_quota: language-balanced corpus capping — keep at most K
    * documents per language, selected by a deterministic content-hash rank
    * (md5 32-bit prefix, doc_id tie-break), so the SAME documents survive
    * under any partitioning or cluster size. This is the "cap the head
    * languages" pass of a multilingual training-data pipeline.
    *
    * Scale shape: per-group top-K by rank is a per-group sort if done
    * naively — and language groups are huge and few at 100 TB (billions of
    * docs across ~100 langs), the worst window-function skew case. So the
    * rank runs on a pruned superset: per-lang counts (one narrow
    * aggregation) pick a hash threshold T with count(rk < T) expected
    * ≈ 4K, survivors are filtered BEFORE the window, and the per-group
    * sort touches ~4K rows per language instead of the full corpus. The
    * prune is provably lossless when count(rk < T) ≥ min(K, n) — the K
    * smallest ranks are all below T — and the code verifies that bound
    * per language, widening to the unpruned input iff some language's
    * hash distribution defeats the slack (never at uniform-hash scale).
    */
  def langQuota(spark: SparkSession, dir: String, k: Int = LangQuotaK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HashSpace = 1L << 32
    val docs = Tables.documents(spark, dir)
      .withColumn("rk", conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // threshold per lang: expected survivors = 4K (slack 4× over the K needed)
    val threshold = counts.map { case (lang, n) =>
      lang -> math.min(HashSpace, math.ceil(HashSpace.toDouble * 4.0 * k / math.max(n, 1L)).toLong)
    }
    val thresholdCol = counts.keys.foldLeft(lit(HashSpace)) { (acc, lang) =>
      when(col("lang") === lang, lit(threshold(lang))).otherwise(acc)
    }
    val pruned = docs.filter(col("rk") < thresholdCol)
    val survivorCounts = pruned.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lossless = counts.forall { case (lang, n) =>
      survivorCounts.getOrElse(lang, 0L) >= math.min(k.toLong, n)
    }
    val ranked = (if (lossless) pruned else docs)
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("rk"), col("doc_id"))))
    val kept = ranked.filter(col("rn") <= k)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum("doc_id").as("kept_docid_sum"),
           sum("n_chars").as("kept_chars"))
    docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              col("kept_docid_sum"), col("kept_chars"))
      .orderBy("lang")
  }

  val langQuotaOracle: String =
    s"""WITH r AS (
       |  SELECT lang, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY ('0x' || substr(md5(text), 1, 8))::BIGINT, doc_id) AS rn
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_total,
       |       CAST(SUM(CASE WHEN rn <= $LangQuotaK THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN rn <= $LangQuotaK THEN doc_id END) AS BIGINT) AS kept_docid_sum,
       |       CAST(SUM(CASE WHEN rn <= $LangQuotaK THEN n_chars END) AS BIGINT) AS kept_chars
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_decontamination: eval-set leakage detection — flag "train" documents
    * sharing any word [[ShingleN]]-gram with the held-out eval slice
    * (doc_id % 50 == 0), the standard n-gram decontamination pass. The
    * join is eval-side broadcast (the eval set is always the small side).
    */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    // staged shingles ([[stageDocShingles]]; live twin: q_dedup_ngram_jaccard)
    val sh = docShinglesStaged(spark, dir)
    val evalSh = sh.filter(col("doc_id") % 50 === 0)
      .select(explode(col("shingles")).as("s")).distinct()
    val train = sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val contaminated = train.join(broadcast(evalSh), Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_shingles"))
    contaminated.groupBy()
      .agg(
        count(lit(1)).as("n_contaminated_docs"),
        sum("n_shared_shingles").as("n_shared_total"),
        max("n_shared_shingles").as("max_shared"))
  }

  val decontaminationOracle: String =
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t),
       |ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0),
       |c AS (
       |  SELECT doc_id, COUNT(*) AS n_shared
       |  FROM tr WHERE EXISTS (SELECT 1 FROM ev WHERE ev.s = tr.s)
       |  GROUP BY 1)
       |SELECT COUNT(*) AS n_contaminated_docs,
       |       CAST(SUM(n_shared) AS BIGINT) AS n_shared_total,
       |       CAST(MAX(n_shared) AS BIGINT) AS max_shared
       |FROM c""".stripMargin

  /** q_decontamination_exact: GPT-3-style exact-substring leakage check,
    * complementing the n-gram overlap pass — each eval document contributes
    * one deterministic 30-char probe (chars 11-40; shorter docs excluded),
    * and a train document is flagged per probe it contains verbatim.
    *
    * Scale shape: dispatches on probe-set size. Small probe sets broadcast
    * and the corpus streams through a BroadcastNestedLoopJoin — per
    * (train row, probe) substring search, the same envelope as the n-gram
    * pass, and the oracle-exact reconstruction. Past
    * [[AhoCorasickProbeMin]] probes the per-doc cost of the nested loop
    * (O(|text| × probes)) is the scale-killer, so the escalation compiles
    * the probe set into one Aho-Corasick automaton, broadcasts it, and
    * streams the corpus through a single mapPartitions pass —
    * O(|text| + matches) per doc regardless of probe count. Both paths
    * produce identical audits (spec-asserted, duplicate probes included).
    * Aggregates are coalesced to 0 so the zero-leakage corpus still
    * yields one exact audit row.
    */
  def decontaminationExact(spark: SparkSession, dir: String): DataFrame = {
    val (probes, train) = exactProbesAndTrain(spark, dir)
    // narrow driver count on the tiny eval slice — the dispatch predicate
    val useAutomaton = probes.count() >= AhoCorasickProbeMin
    exactAudit(if (useAutomaton) exactHitsAho(probes, train)
               else exactHitsNested(probes, train))
  }

  /** Probe-count bound above which [[decontaminationExact]] switches from
    * the broadcast nested loop to the Aho-Corasick automaton. Fixture eval
    * slices stay far below it (the nested loop IS the oracle shape); a
    * real multi-benchmark suite (10⁵–10⁶ probes) lands far above.
    */
  val AhoCorasickProbeMin = 2000L

  private[ops] def exactProbesAndTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val probes = docs
      .filter(col("doc_id") % 50 === 0 && length(col("text")) >= 40)
      .select(substring(col("text"), 11, 30).as("probe"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"))
    (probes, train)
  }

  /** Broadcast-nested-loop hits: one row per (train doc, probe instance)
    * containment — duplicate probe strings count once each, matching the
    * SQL oracle's join semantics.
    */
  private[ops] def exactHitsNested(probes: DataFrame, train: DataFrame): DataFrame =
    train.join(broadcast(probes), col("text").contains(col("probe")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_probe_hits"))

  /** Aho-Corasick hits: distinct probe PATTERNS matched per doc, weighted
    * by pattern multiplicity so duplicate probe instances count exactly as
    * the nested loop counts them. The automaton is built once on the
    * driver (probe sets are small relative to the corpus by definition —
    * one short string per eval doc) and broadcast; the corpus never
    * shuffles.
    */
  private[ops] def exactHitsAho(probes: DataFrame, train: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val pw = probes.groupBy("probe").agg(count(lit(1)).as("w")).collect()
    val patterns = pw.map(_.getString(0)).toSeq
    val weights = pw.map(_.getLong(1))
    val bcAc = spark.sparkContext.broadcast(graft.util.AhoCorasick(patterns))
    val bcW = spark.sparkContext.broadcast(weights)
    train.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ac = bcAc.value
        val w = bcW.value
        it.flatMap { case (id, text) =>
          val bits = ac.matchedIds(text)
          var s = 0L
          var i = bits.nextSetBit(0)
          while (i >= 0) { s += w(i); i = bits.nextSetBit(i + 1) }
          if (s > 0) Some((id, s)) else None
        }
      }
      .toDF("doc_id", "n_probe_hits")
  }

  private[ops] def exactAudit(hits: DataFrame): DataFrame =
    hits.groupBy()
      .agg(
        count(lit(1)).as("n_contaminated_docs"),
        coalesce(sum("n_probe_hits"), lit(0L)).as("n_hits_total"),
        coalesce(max("n_probe_hits"), lit(0L)).as("max_hits"))

  /** The two [[decontaminationExact]] paths individually, for the
    * path-equivalence spec (the dispatcher picks one; the contract is that
    * they agree on any corpus).
    */
  def decontaminationExactNestedPath(spark: SparkSession, dir: String): DataFrame = {
    val (p, t) = exactProbesAndTrain(spark, dir); exactAudit(exactHitsNested(p, t))
  }
  def decontaminationExactAhoPath(spark: SparkSession, dir: String): DataFrame = {
    val (p, t) = exactProbesAndTrain(spark, dir); exactAudit(exactHitsAho(p, t))
  }

  val decontaminationExactOracle: String =
    s"""WITH probes AS (
       |  SELECT substr(text, 11, 30) AS probe
       |  FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 40),
       |hits AS (
       |  SELECT t.doc_id, COUNT(*) AS n_probe_hits
       |  FROM documents t JOIN probes p
       |    ON t.doc_id % 50 <> 0 AND contains(t.text, p.probe)
       |  GROUP BY 1)
       |SELECT COUNT(*) AS n_contaminated_docs,
       |       CAST(COALESCE(SUM(n_probe_hits), 0) AS BIGINT) AS n_hits_total,
       |       CAST(COALESCE(MAX(n_probe_hits), 0) AS BIGINT) AS max_hits
       |FROM hits""".stripMargin

  // --- dedup resolution (connected components) -------------------------------

  /** q_dedup_resolution: turn the near-dup PAIRS into a keep/drop decision —
    * connected components over the ≥[[JaccardThreshold]] Jaccard edges via
    * min-label propagation (each doc converges to the min doc_id reachable
    * from it), then keep that representative per component. This is the
    * final stage of every large-scale dedup pipeline (pairs alone don't
    * dedup anything). The propagation loop runs to fix-point on the driver —
    * each iteration is one broadcast-join over the edge list; component
    * diameter bounds the iteration count, and near-dup components are tiny
    * by construction.
    */
  /** Edge-count bound below which components resolve driver-side. The edge
    * set after Jaccard thresholding is minuscule relative to the corpus
    * (near-dup pairs, not all pairs), so union-find on the driver is the
    * right call far beyond fixture scale; past the bound the code falls
    * back to distributed min-label propagation (one broadcast-join per
    * round, diameter-bounded).
    */
  val DriverResolveMaxEdges = 5000000L

  def dedupResolution(spark: SparkSession, dir: String,
                      maxDriverEdges: Long = DriverResolveMaxEdges): DataFrame = {
    // Edges come from the DF-CAPPED pair source: the uncapped inverted-index
    // self-join is O(Σ df²) over shingle document frequencies, so one
    // Zipf-head shingle at web scale explodes the pair join. Capping bounds
    // every bucket at cap² at a bounded recall cost — the flagship
    // resolution path must ride the scale-safe source. The relation is the
    // staged near-dup edge artifact ([[stageDedupPairs]]; live twin:
    // q_dedup_jaccard_capped) — resolution consumes the graph, it doesn't
    // rebuild it.
    val pairs = spark.table(stageDedupPairs(spark, dir))
      .select("doc_a", "doc_b").cache()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val labels = resolveComponents(pairs, maxDriverEdges)(pairs.sparkSession)
    pairs.unpersist()
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("label").as("n_kept"),
        sum(when(col("doc_id") === col("label"), 0L).otherwise(1L)).as("n_dropped"),
        max(col("doc_id") - col("label")).as("max_label_gap"))
      .orderBy("source")
  }

  /** Connected-component labels (doc_id, label = min reachable doc_id) for
    * an edge list `pairs` (doc_a, doc_b). Dispatches on edge count: at or
    * below `maxDriverEdges`, a driver union-find (the near-dup edge set is
    * minuscule relative to the corpus); above it, distributed min-label
    * propagation — one broadcast-join per round, diameter-bounded, with
    * localCheckpoint lineage truncation. Exposed for direct testing of the
    * distributed branch on fixture graphs.
    */
  def resolveComponents(pairs: DataFrame, maxDriverEdges: Long = DriverResolveMaxEdges)
                       (implicit spark: SparkSession): DataFrame = {
    val nEdges = pairs.count()
    val labels: DataFrame =
      if (nEdges <= maxDriverEdges) {
        // driver-side union-find with path compression
        import spark.implicits._
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val edgeArr = pairs.collect().map(row => (row.getLong(0), row.getLong(1)))
        edgeArr.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // labels for EVERY node in the edge list (roots label to themselves),
        // matching the distributed branch's output relation exactly
        val nodes = edgeArr.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
        val resolved = nodes.map(k => (k, find(k))).toSeq
        if (resolved.isEmpty) spark.emptyDataset[(Long, Long)].toDF("doc_id", "label")
        else resolved.toDF("doc_id", "label")
      } else {
        // distributed min-label propagation over the edge subgraph.
        // Each round's label table is localCheckpoint'ed, not just cached:
        // cache() keeps the logical plan growing one join per round (30
        // rounds → a 30-join-deep plan and quadratic planning time), while
        // localCheckpoint truncates lineage so every round plans against a
        // flat leaf — the standard iterative-algorithm hygiene on Spark.
        val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
          .toDF("src", "dst").cache()
        var l: DataFrame = edges.select(col("src").as("doc_id")).distinct()
          .withColumn("label", col("doc_id")).localCheckpoint()
        var changed = 1L
        var iters = 0
        while (changed > 0 && iters < 30) {
          val viaNeighbor = edges.join(l, edges("dst") === l("doc_id"))
            .select(col("src").as("doc_id"), col("label"))
          val next = l.select(col("doc_id"), col("label")).union(viaNeighbor)
            .groupBy("doc_id").agg(min("label").as("label"))
            .localCheckpoint()
          changed = next.join(l.withColumnRenamed("label", "old"), "doc_id")
            .filter(col("label") =!= col("old")).count()
          l = next
          iters += 1
        }
        edges.unpersist()
        l
      }
    labels
  }

  /** Oracle: same fix-point via a recursive CTE — reachable-min label. */
  val dedupResolutionOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($ngramJaccardPairsSql) t),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS start_id, doc_id AS reached FROM documents
       |  UNION
       |  SELECT r.start_id, e.dst FROM reach r JOIN edges e ON r.reached = e.src),
       |labels AS (
       |  SELECT start_id AS doc_id, MIN(reached) AS label FROM reach GROUP BY 1)
       |SELECT d.source,
       |       COUNT(*) AS n_docs,
       |       COUNT(DISTINCT label) AS n_kept,
       |       CAST(SUM(CASE WHEN d.doc_id = label THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       |       MAX(d.doc_id - label) AS max_label_gap
       |FROM documents d JOIN labels l ON d.doc_id = l.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The CAPPED pair query body used by the resolution oracle (DuckDB needs
    * WITH RECURSIVE at the top level, so the pair SQL is inlined as a
    * subquery there) — mirrors [[ngramJaccardCappedOracle]]'s stop-shingle
    * removal so the oracle reconstructs exactly the edge set
    * [[dedupResolution]] resolves.
    */
  private def ngramJaccardPairsSql: String =
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t),
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY 1) WHERE df > $MaxShingleDF),
       |ex AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
       |p0 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b
       |FROM p0 p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
       |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= $JaccardThreshold""".stripMargin

  // --- canonical selection (quality-ranked representative per cluster) --------

  /** q_dedup_canonical: the keep-best step every dedup pipeline ends with —
    * resolution alone keeps the MIN-ID member of each near-dup cluster,
    * but a curation pipeline keeps the BEST member: here the canonical
    * document is the cluster member with the most tokens (ties broken by
    * doc_id), an exact integer quality key, and the audit counts how often
    * that quality pick overrides the naive min-id representative plus the
    * token mass the dropped members would have contributed.
    *
    * Scale shape: edges come from the DF-capped pair source and resolve
    * through [[resolveComponents]] (same path as q_dedup_resolution); the
    * quality key is one stateless projection, the per-cluster pick is a
    * keyed window over the labeled relation (partitioned by label — the
    * cluster-cardinality shuffle resolution already paid), and the readout
    * is one map-side combined rollup.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    // the staged near-dup edge artifact ([[stageDedupPairs]]; live twin:
    // q_dedup_jaccard_capped) — same consume-don't-rebuild shape as
    // [[dedupResolution]]
    val pairs = spark.table(stageDedupPairs(spark, dir))
      .select("doc_a", "doc_b").cache()
    val labels = resolveComponents(pairs)(spark)
    pairs.unpersist()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
              size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
    val lab = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("n_tokens").desc, col("doc_id"))
    lab.withColumn("rk", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("rk") === 1 && col("doc_id") =!= col("label"), 1L).otherwise(0L))
          .as("n_quality_overrides"),
        sum(when(col("rk") > 1, col("n_tokens")).otherwise(0L)).as("n_tokens_dropped"))
      .orderBy("source")
  }

  val dedupCanonicalOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($ngramJaccardPairsSql) t),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS start_id, doc_id AS reached FROM documents
       |  UNION
       |  SELECT r.start_id, e.dst FROM reach r JOIN edges e ON r.reached = e.src),
       |labels AS (
       |  SELECT start_id AS doc_id, MIN(reached) AS label FROM reach GROUP BY 1),
       |q AS (SELECT doc_id, source, len(${TextAnalysis.tokensSql}) AS n_tokens FROM documents),
       |lab AS (SELECT q.doc_id, q.source, q.n_tokens, l.label
       |        FROM q JOIN labels l ON q.doc_id = l.doc_id),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY n_tokens DESC, doc_id) AS rk
       |       FROM lab)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       |       CAST(SUM(CASE WHEN rk = 1 AND doc_id <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_overrides,
       |       CAST(SUM(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_dropped
       |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin

  // --- asymmetric containment near-dup ----------------------------------------

  /** Containment threshold for [[containmentPairs]]: |A∩B| / min(|A|,|B|)
    * at or above this flags the smaller set as contained.
    */
  val ContainmentThreshold = 0.8

  /** q_dedup_containment: asymmetric containment detection — the metric
    * Jaccard structurally misses: a short document quoted wholesale inside
    * a much longer one has tiny Jaccard (union is big) but containment
    * ≈ 1. This is the quote/subset-duplication detector a curation
    * pipeline runs NEXT TO the symmetric near-dup pass.
    *
    * Scale shape: same inverted-index candidate generation as
    * [[jaccardPairsCapped]], but WITHOUT the Jaccard length prune — size
    * asymmetry is the point, so pairs with |A| ≪ |B| must survive. That
    * makes the stop-shingle DF cap the ONLY quadratic defense here (every
    * bucket bounded at cap²), which is why the capped source is not
    * optional for this operator. Direction is decided by size (the smaller
    * set is the contained one; equal sizes fall back to the larger id) —
    * an exact integer rule.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    // staged shingles (write-once [[stageDocShingles]]; live twin:
    // q_dedup_ngram_jaccard) — the pin still pays: two consumers explode
    val sh = docShinglesStaged(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex0 = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val hot = ex0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDF).select("s")
    val ex1 = ex0.join(hot, Seq("s"), "left_anti")
    val sizes = ex1.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ex = ex1.join(sizes, "doc_id")
    val scored = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= ContainmentThreshold)
    scored.select(
        when(col("n_a") < col("n_b"), col("doc_a"))
          .when(col("n_b") < col("n_a"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("contained_id"),
        when(col("n_a") < col("n_b"), col("doc_b"))
          .when(col("n_b") < col("n_a"), col("doc_a"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("container_id"),
        col("inter"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        col("containment"))
      .orderBy("contained_id", "container_id")
  }

  val containmentPairsOracle: String =
    s"""WITH sh AS (SELECT doc_id, shingles FROM $docShinglesSql t),
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY 1) WHERE df > $MaxShingleDF),
       |ex1 AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex1 GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM ex1 a JOIN ex1 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_a, doc_b, inter, x.n AS n_a, y.n AS n_b,
       |         CAST(inter AS DOUBLE) / least(x.n, y.n) AS containment
       |  FROM pairs p JOIN sz x ON p.doc_a = x.doc_id JOIN sz y ON p.doc_b = y.doc_id
       |  WHERE CAST(inter AS DOUBLE) / least(x.n, y.n) >= $ContainmentThreshold)
       |SELECT CASE WHEN n_a < n_b THEN doc_a WHEN n_b < n_a THEN doc_b
       |            ELSE greatest(doc_a, doc_b) END AS contained_id,
       |       CASE WHEN n_a < n_b THEN doc_b WHEN n_b < n_a THEN doc_a
       |            ELSE least(doc_a, doc_b) END AS container_id,
       |       inter,
       |       least(n_a, n_b) AS n_contained,
       |       greatest(n_a, n_b) AS n_container,
       |       containment
       |FROM sc ORDER BY 1, 2""".stripMargin

  // --- SimHash ---------------------------------------------------------------

  /** q_dedup_simhash: 32-bit SimHash fingerprints from md5 token hashes
    * (weighted by token frequency), banded into 4×8-bit blocks for candidate
    * generation (a pair within Hamming distance 3 must share ≥1 exact band —
    * the pigeonhole guarantee), then exact Hamming verification ≤ [[HammingMax]].
    *
    * Scale note: a degenerate corpus (many empty or near-identical token
    * distributions) can concentrate one (band, bandkey) bucket — the same
    * quadratic hot-bucket risk as stop-shingles. The defense is the same
    * bucket-frequency cap demonstrated (with oracle + skew test) in
    * [[jaccardPairsCapped]]: drop buckets whose document frequency exceeds
    * a cap before the self-join, at a bounded recall cost. Not applied here
    * so the oracle stays the pure Manku-style reconstruction; the
    * scale-defended variant is [[simhashCapped]] (q_dedup_simhash_capped).
    */
  /** (doc_id, fp): the 32-bit SimHash fingerprint per document — exposed so
    * the banding-completeness property is testable at the fingerprint level
    * (ExtensionsSpec).
    */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    // One shuffle: 32 per-bit contribution sums as parallel aggregate
    // columns (map-side combined) instead of exploding 32 rows per token —
    // the row-explosion form shuffles 32× the data for the same result.
    // A (doc_id, tok)-count pre-aggregation (the oracle's tc CTE shape) was
    // stage-profiled and NOT taken: the stage is dominated by tokenize+md5
    // (paid per occurrence either way), the bit-sums are already map-side
    // combined, and the pre-agg adds a shuffle for a per-row saving of 32
    // CASE evaluations.
    val occ = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until SimHashBits).map { b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1L).otherwise(-1L)).as(s"s_$b")
    }
    occ.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimHashBits).map(b =>
          when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("fp"))
  }

  /** (doc_id, fp, band, bandkey): one row per fingerprint per band — the
    * candidate-generation relation both SimHash variants self-join.
    *
    * The fingerprint table is persisted: it feeds BOTH self-join sides
    * (and, in the capped variant, the hot-bucket derivation too), so
    * without a persist the 32-column bit-sum aggregation — the expensive
    * stage — recomputes 2-3× per query. Same multi-consumer persist
    * discipline as [[jaccardPairsCapped]]'s shingle projection; freed by
    * the caller's/bench's cache clear.
    */
  private def simhashBanded(spark: SparkSession, dir: String): DataFrame =
    bandedOf(simhashFingerprints(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Banding of an explicit (doc_id, fp) relation — injectable for skew
    * tests (same pattern as [[jaccardPairsCapped]]'s shingle relation).
    */
  def bandedOf(fp: DataFrame): DataFrame = {
    val bandBits = SimHashBits / SimHashBands
    fp.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(SimHashBands - 1))).as("band"))
      .withColumn("bandkey", expr(s"shiftright(fp, band * $bandBits) & ${(1L << bandBits) - 1}"))
  }

  /** Banded self-join → Hamming verification → pair dedup, shared by both
    * SimHash variants.
    */
  private def simhashPairsFrom(banded0: DataFrame): DataFrame = {
    // pinned pre-join repartition: the banded table is bytes-tiny, so AQE
    // coalesces its exchange to one partition — but the JOIN's output
    // (candidate pairs within hot buckets) is quadratically bigger than
    // its input, and the Hamming verification then runs single-task.
    // Pinning the join distribution keeps pair generation at full width.
    val banded = banded0.repartition(
      banded0.sparkSession.sessionState.conf.numShufflePartitions,
      col("band"), col("bandkey"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandkey") === col("b.bandkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      // filter BELOW the pair-dedup: `hamming` is functionally determined by
      // the pair (fp is per-doc), so the order is semantics-preserving — but
      // Catalyst can't push a non-grouping predicate through the aggregate
      // itself, and the unfiltered candidate set is quadratic in hot-bucket
      // size while the ≤HammingMax survivors are near-dups only. Filtering
      // first means the dedup shuffle carries survivors, not candidates.
      .filter(col("hamming") <= HammingMax)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsFrom(simhashBanded(spark, dir))

  /** q_dedup_simhash_capped: [[simhash]] with hot (band, bandkey) buckets
    * dropped before the self-join — the scale-defended variant, mirroring
    * the [[ngramJaccard]]/[[ngramJaccardCapped]] pair. A bucket holding d
    * docs contributes d(d-1)/2 candidate pairs (at sf0.1 the hottest bucket
    * already holds >1300 docs ≈ 900k pairs from ONE bucket), so at 100 TB a
    * degenerate bucket is quadratic; the cap bounds every bucket's pair
    * yield at cap². Recall loss is bounded and partial: a pair is lost only
    * if EVERY band it agrees on is over-cap — pairs still surface through
    * any non-hot shared band (the pigeonhole guarantee degrades, not
    * collapses). [[MaxBandDF]] is set to fire at fixture scale so the
    * oracle exercises real bucket removal.
    */
  def simhashCapped(spark: SparkSession, dir: String, cap: Int = MaxBandDF): DataFrame =
    // consumes the STAGED fingerprint artifact ([[stageSimhashFp]] — the
    // expensive tokenize+md5+bit-sum pass is the per-corpus-snapshot
    // write-once cost); [[simhash]] keeps the live build timed. No persist
    // needed: each consumer of the banded relation re-reads the tiny
    // bucketed table, not the aggregation.
    simhashPairsCapped(bandedOf(simhashFpStaged(spark, dir)), cap)

  /** Hot-bucket removal + pairing over an explicit banded relation. */
  def simhashPairsCapped(banded: DataFrame, cap: Int): DataFrame = {
    val hot = banded.groupBy("band", "bandkey").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("band", "bandkey")
    // no forced broadcast on the hot set — same no-driver-ceiling rule as
    // jaccardPairsCapped (AQE broadcasts it at runtime when it is tiny)
    simhashPairsFrom(banded.join(hot, Seq("band", "bandkey"), "left_anti"))
  }

  /** Oracle body shared by both SimHash variants; `cap` adds the hot-bucket
    * removal CTEs mirroring [[simhashCapped]].
    */
  private def simhashOracleSql(cap: Option[Int]): String = {
    val bandBits = SimHashBits / SimHashBands
    val capCtes = cap.fold("")(c =>
      s""",
         |hot AS (SELECT band, bandkey FROM (
         |  SELECT band, bandkey, COUNT(*) AS df FROM banded GROUP BY 1, 2) WHERE df > $c),
         |b2 AS (SELECT banded.* FROM banded ANTI JOIN hot USING (band, bandkey))""".stripMargin)
    val src = cap.fold("banded")(_ => "b2")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextAnalysis.tokensSql}) AS tok FROM documents),
       |tc AS (
       |  SELECT doc_id, tok, COUNT(*) AS cnt,
       |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
       |  FROM toks GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, bit,
       |         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |  FROM tc, unnest(range(0, $SimHashBits)) AS t(bit)
       |  GROUP BY 1, 2),
       |fp AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS fp
       |  FROM bits GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, fp, band,
       |         (fp >> (band * $bandBits)) & ${(1L << bandBits) - 1} AS bandkey
       |  FROM fp, unnest(range(0, $SimHashBands)) AS t(band))$capCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.fp, b.fp)) AS hamming
       |  FROM $src a JOIN $src b
       |    ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
       |FROM cand WHERE hamming <= $HammingMax ORDER BY 1, 2""".stripMargin
  }

  val simhashOracle: String = simhashOracleSql(None)
  val simhashCappedOracle: String = simhashOracleSql(Some(MaxBandDF))

  // --- all-pairs count-vector cosine (APSS) ----------------------------------

  /** q_allpairs_cosine: exact all-pairs cosine over word [[ShingleN]]-gram
    * COUNT vectors, candidates from the inverted term index with the
    * [[ApssDfCap]] document-frequency prune — the Bayardo et al. (WWW'07)
    * all-pairs-similarity-search shape. Complements [[ngramJaccard]]
    * (set overlap) with the weighted vector-space measure: repeated
    * boilerplate shingles count, not just presence.
    *
    * Determinism: term weights are raw integer counts, so the pair dot
    * product and both squared norms are exact-integer sums — order-
    * independent under any partitioning (same policy as the exact-integer
    * Lloyd step in Similarity) — and `sim` is a single double expression
    * over those exact integers, identical on both engines. A tf-idf
    * weighted variant would quantize `tf·ln(N/df)` through floor(x·2^20)
    * ([[graft.ops.Similarity.QuantScale]]); raw counts skip the
    * transcendental entirely.
    *
    * Scale shape (100 TB): one explode → (doc, term, tf) aggregation, a
    * tiny over-cap term set anti-joined away (no driver ceiling — AQE
    * broadcasts it when small), norms carried THROUGH the pair aggregation
    * via max() instead of a corpus-wide post-join, and the self-join
    * shuffles on the term text — every bucket bounded at df ≤ cap, so the
    * candidate fan-out is ≤ cap²·|vocab|, never |corpus|². The next
    * refinement at scale is Bayardo prefix filtering (index only the
    * lowest-weight prefix of each vector); the df cap is the coarse form —
    * the set-similarity version of that refinement is implemented and
    * oracle-proven lossless in [[jaccardPrefixCandidates]]
    * (q_dedup_jaccard_prefix).
    */
  /** APSS core over an explicit (doc_id, term, tf) count-vector relation
    * (injectable for skew tests): df-cap prune → norms → inverted-index
    * self-join → exact-integer pair aggregation → cosine threshold.
    * Returns unordered qualifying pairs.
    */
  def apssPairsCapped(tf0: DataFrame, cap: Int): DataFrame = {
    // persisted AND materialized eagerly: the relation feeds the hot-term
    // derivation and the capped index — inside one final action those
    // consumers race to compute the not-yet-cached explode+agg CONCURRENTLY
    // under core contention (the knnRecall flapping, observed here as
    // 7→14 s run-to-run); the one tiny extra job pins the cache first.
    // SER storage: the (doc, term-string, tf) rows are millions of small
    // string objects deserialized — packed bytes keep them out of the old
    // gen, trading a little per-read CPU for in-suite GC robustness (the
    // r8 driver-window 3.6× flap class)
    val tf = tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    tf.count()
    val hot = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("term")
    // the CAPPED index is what the norm pass and both self-join sides
    // consume — persist it (4× smaller than tf at sf0.1: the df cap drops
    // the hot head) so those three passes read the pruned rows instead of
    // re-running the anti-join over the full index each time; tf itself is
    // done once kept materializes
    val kept = tf.join(hot, Seq("term"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    kept.count()
    tf.unpersist(blocking = false)
    val nrm = kept.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nq"))
    val ex = kept.join(nrm, "doc_id")
    // shuffle_hash on the self-join: the index is CORPUS-sized, so the
    // scaladoc's claimed scale shape ("the self-join shuffles on the term
    // text") must be the plan fact, not an AQE size-estimate outcome — at
    // sf0.1 the estimator undersized the build side and planned a BHJ,
    // which builds a ~tens-of-MB HashedRelation single-threaded on the
    // driver (the humongous-allocation flap class this query kept showing
    // in driver windows) and would be a driver ceiling at 100 TB. The
    // hint distributes the build across the term-keyed exchange both
    // sides already need, and makes the plan identical at sf0.001/sf0.1
    // so the Bench warm pass compiles exactly the timed run's classes.
    ex.as("a").hint("shuffle_hash").join(ex.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // nq is constant within a pair group: max() carries it through the
      // aggregation — no second join against a corpus-wide norms table
      .agg(count(lit(1)).as("n_shared"), sum(col("a.tf") * col("b.tf")).as("dot_q"),
           max(col("a.nq")).as("na"), max(col("b.nq")).as("nb"))
      .withColumn("sim", col("dot_q").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("sim") >= ApssCosine)
      .select("doc_a", "doc_b", "n_shared", "dot_q", "sim")
  }

  def allPairsCosine(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleN)
    // positional (non-distinct) n-grams: the COUNT vector, not the shingle set
    val terms = docs.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - (ShingleN - 1)),
        i => concat_ws(" ", (0 until ShingleN).map(o => element_at(col("toks"), i + o)): _*)))
        .as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    apssPairsCapped(tf, ApssDfCap).orderBy("doc_a", "doc_b")
  }

  val allPairsCosineOracle: String = {
    val toks = TextAnalysis.tokensSql
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(toks) - ${ShingleN - 1} + 1),
       |           i -> ${(0 until ShingleN).map(o => s"toks[i + $o]").mkString(" || ' ' || ")})) AS term
       |  FROM t WHERE len(toks) >= $ShingleN),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
       |hot AS (SELECT term FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1) WHERE df > $ApssDfCap),
       |kept AS (SELECT doc_id, term, tf FROM tf WHERE term NOT IN (SELECT term FROM hot)),
       |nrm AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nq FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         COUNT(*) AS n_shared, CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot_q
       |  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT doc_a, doc_b, n_shared, dot_q,
       |         dot_q::DOUBLE / (sqrt(na.nq::DOUBLE) * sqrt(nb.nq::DOUBLE)) AS sim
       |  FROM pairs JOIN nrm na ON na.doc_id = doc_a JOIN nrm nb ON nb.doc_id = doc_b)
       |SELECT doc_a, doc_b, n_shared, dot_q, sim
       |FROM sims WHERE sim >= $ApssCosine ORDER BY 1, 2""".stripMargin
  }

  // --- blocking dedup (sorted-neighborhood family) ---------------------------

  /** q_dedup_blocking: entity-resolution-style blocking dedup (Hernández &
    * Stolfo's sorted-neighborhood, in its standard distributed "key
    * blocking" form): docs sharing a cheap blocking key — the first
    * [[BlockPrefix]] tokens — are compared pairwise with EXACT shingle
    * Jaccard; everything else is never compared at all. A fourth candidate
    * generator next to the inverted index (Jaccard), MinHash bands, and
    * SimHash bands: O(1) key per doc, no per-term explode, at the price of
    * recall limited to prefix-sharing edits.
    *
    * Scale shape (100 TB): one narrow projection, one groupBy to find
    * over-[[BlockCap]] blocks (anti-joined away — the boilerplate-prefix
    * defense, |block|² pair cost bounded at cap²), then a self-join
    * shuffling on the block key only. Shingle arrays ride the shuffle but
    * blocks are tiny by construction. All-integer Jaccard → exact oracle.
    */
  /** Blocking core over an explicit (doc_id, bkey, sh, n) relation
    * (injectable for skew tests): over-cap block removal → block self-join
    * with the exact-Jaccard verify fused into the join. Returns unordered
    * qualifying pairs.
    */
  def blockingPairs(d0: DataFrame, cap: Int): DataFrame = {
    val d = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    d.count() // pin before the three consumers race (see apssPairsCapped)
    val big = d.groupBy("bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap).select("bkey")
    val blocked = d.join(big, Seq("bkey"), "left_anti")
    blocked.as("a").join(blocked.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
              col("a.n").as("n_a"), col("b.n").as("n_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  def blockingDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.util.Spread.forCpu(Tables.documents(spark, dir))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"),
              shingles(col("text")).as("sh"))
      .filter(size(col("toks")) >= lit(math.max(BlockPrefix, ShingleN)))
      .select(col("doc_id"),
              concat_ws(" ", slice(col("toks"), 1, BlockPrefix)).as("bkey"),
              col("sh"), size(col("sh")).as("n"))
    blockingPairs(d, BlockCap).orderBy("doc_a", "doc_b")
  }

  val blockingDedupOracle: String = {
    val toks = TextAnalysis.tokensSql
    s"""WITH d AS (
       |  SELECT doc_id, $toks AS toks, $shinglesSql AS sh FROM documents),
       |k AS (
       |  SELECT doc_id, array_to_string(toks[1:$BlockPrefix], ' ') AS bkey,
       |         sh, len(sh) AS n
       |  FROM d WHERE len(toks) >= ${math.max(BlockPrefix, ShingleN)}),
       |big AS (SELECT bkey FROM (SELECT bkey, COUNT(*) AS bn FROM k GROUP BY 1) WHERE bn > $BlockCap),
       |blocked AS (SELECT * FROM k WHERE bkey NOT IN (SELECT bkey FROM big)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         len(list_intersect(a.sh, b.sh)) AS inter,
       |         a.n AS n_a, b.n AS n_b
       |  FROM blocked a JOIN blocked b
       |    ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       inter::DOUBLE / (n_a + n_b - inter) AS jaccard
       |FROM pairs WHERE inter::DOUBLE / (n_a + n_b - inter) >= $JaccardThreshold
       |ORDER BY 1, 2""".stripMargin
  }

  // --- fuzzy entity matching (edit distance) ---------------------------------

  /** Max edit distance for [[fuzzyMatch]] candidate pairs. */
  val FuzzyMaxLev = 3

  /** q_fuzzy_match: entity-resolution fuzzy matching — near-duplicate
    * catalog NAMES found by blocked edit distance, the character-level
    * sibling of the token-set dedup family (typo'd vendors, re-keyed
    * products; Jaccard misses single-character typos that Levenshtein
    * catches). Pipeline: collapse rows to the DISTINCT entity relation
    * (name, support count, min-key representative) first — entity
    * cardinality ≪ row cardinality — then block on the last name token
    * and verify only within-block pairs with the codegen'd built-in
    * `levenshtein` (exact integer distance on both engines).
    *
    * Scale shape: the quadratic verify is confined to blocks (the
    * [[dedupBlocking]] economics; a degenerate hot block would take the
    * same frequency-cap defense ScaleSpec proves there), and the O(k²)
    * edit-distance matrix runs only on block-pair survivors of the
    * entity-level collapse — never on raw rows.
    */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("rep_key"))
    val blocked = names.withColumn("blk", regexp_extract(col("name"), "[a-z]+$", 0))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .withColumn("lev_dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("lev_dist") <= FuzzyMaxLev)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
              col("lev_dist"),
              col("a.n_parts").as("n_parts_a"), col("b.n_parts").as("n_parts_b"),
              col("a.rep_key").as("rep_a"), col("b.rep_key").as("rep_b"))
      .orderBy("name_a", "name_b")
  }

  val fuzzyMatchOracle: String =
    s"""WITH n AS (SELECT p_name AS name, COUNT(*) AS n_parts,
       |                  CAST(MIN(p_partkey) AS BIGINT) AS rep_key
       |           FROM part GROUP BY 1),
       |b AS (SELECT name, n_parts, rep_key,
       |             regexp_extract(name, '[a-z]+$$') AS blk FROM n)
       |SELECT a.name AS name_a, b2.name AS name_b,
       |       CAST(levenshtein(a.name, b2.name) AS INT) AS lev_dist,
       |       a.n_parts AS n_parts_a, b2.n_parts AS n_parts_b,
       |       a.rep_key AS rep_a, b2.rep_key AS rep_b
       |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
       |WHERE levenshtein(a.name, b2.name) <= $FuzzyMaxLev
       |ORDER BY 1, 2""".stripMargin
}
