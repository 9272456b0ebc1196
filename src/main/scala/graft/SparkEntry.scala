package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query;
  * `oracleSql` carries the DuckDB-equivalent ANSI SQL for the hash-compare
  * gate. Column names and deterministic ORDER BY are kept identical on both
  * sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Daily sales rollup — the reconstruction of the reference's end-of-run
    * SP_Process_Daily_Sales_Data (/root/reference/main.py:591-594).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.salesDaily(spark, "/root/testdata/sf0.001")

  /** The one local session the harness mains (Bench, Verify) and the
    * test suites run on: `local[cpus]` with `cpus` shuffle partitions, UI
    * off, UTC session time zone, log level WARN. (Run and RunCleanup build
    * their own: their master comes from spark-submit.)
    *
    * The generated-class cache is sized to the workload, not the 100-entry
    * default: the query suite compiles ~2,300 distinct janino classes, so at
    * the default the cache thrashes — measured 3,560 total compiles (36%
    * eviction-induced duplicates) and a fully-warmed query recompiling 48/50
    * of its classes after the suite churned past it. At 4096 entries the
    * suite compiles each class once and a warm pass stays valid for the whole
    * run. This is the long-lived-application tuning, not a bench trick: a
    * production driver serving hundreds of distinct plans sizes this cache
    * the same way. The conf is static (read once, at the JVM's first
    * codegen), so it is set here, before any query; it is semantics-neutral
    * by construction, since the cache keys on generated source text.
    */
  def localSession(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local core count for the Bench and Verify sessions: `SPARK_GRAFT_CPUS`,
    * default 32 (the driver box).
    */
  def localCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sales_daily"       -> ((s, d) => Relational.salesDaily(s, d)),
    "q_kyakusu_daily"     -> ((s, d) => Relational.kyakusuDaily(s, d)),
    // the HLL sketch variant (Relational.kyakusuApprox) is gated + benched
    // THROUGH its check query: raw sketch estimates are engine-specific so a
    // standalone entry can only ever be a rows-only non-check (it surfaced
    // as err:"no_oracle" in CORRECTNESS_r01..r06); the check runs the full
    // sketch pipeline AND hash-gates its error-rate bound.
    "q_kyakusu_approx_check" -> ((s, d) => Relational.kyakusuApproxCheck(s, d)),
    "q_sku_daily"         -> ((s, d) => Relational.skuDaily(s, d)),
    "q_front_sales_daily" -> ((s, d) => Relational.frontSalesDaily(s, d)),
    "q_promote_upsert"    -> ((s, d) => Relational.tempFinalPromotion(s, d)),
    "q_scd2"              -> ((s, d) => Relational.scd2(s, d)),
    "q_rfm"               -> ((s, d) => Relational.rfmSegments(s, d)),
    "q_basket_pairs"      -> ((s, d) => Relational.basketPairs(s, d)),
    "q_basket_triples"    -> ((s, d) => Relational.basketTriples(s, d)),
    "q_recs_itemcf"       -> ((s, d) => Relational.recsItemCf(s, d)),
    "q_benford"           -> ((s, d) => Relational.benfordAudit(s, d)),
    "q_bfs_hops"          -> ((s, d) => Graph.bfsHops(s, d)),
    "q_top_skus"          -> ((s, d) => Relational.topSkus(s, d)),
    "q_store_rev_window"  -> ((s, d) => Relational.storeRevenueWindow(s, d)),
    "q_inactive_customers" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q_sales_rollup"      -> ((s, d) => Relational.salesRollup(s, d)),
    "q_revenue_pivot"     -> ((s, d) => Relational.revenuePivot(s, d)),
    "q_sales_cube"        -> ((s, d) => Relational.salesCube(s, d)),
    "q_sales_grouping_sets" -> ((s, d) => Relational.salesGroupingSets(s, d)),
    "q_set_ops"           -> ((s, d) => Relational.setOps(s, d)),
    "q_nation_volume"     -> ((s, d) => Relational.nationVolume(s, d)),
    "q_market_share"      -> ((s, d) => Relational.marketShare(s, d)),
    "q_bootstrap_ci"      -> ((s, d) => Relational.bootstrapCi(s, d)),
    "q_small_qty_revenue" -> ((s, d) => Relational.smallQtyRevenue(s, d)),
    "q_top_supplier"      -> ((s, d) => Relational.topSupplier(s, d)),
    "q_balance_audit"     -> ((s, d) => Relational.balanceAudit(s, d)),
    "q_cheapest_supplier" -> ((s, d) => Relational.cheapestSupplier(s, d)),
    "q_corr_audit"        -> ((s, d) => Stats.corrAudit(s, d)),
    "q_chi2"              -> ((s, d) => Stats.chi2(s, d)),
    "q_gini"              -> ((s, d) => Stats.gini(s, d)),
    "q_ks_test"           -> ((s, d) => Stats.ksTest(s, d)),
    "q_mann_whitney"      -> ((s, d) => Stats.mannWhitney(s, d)),
    "q_cramers_v"         -> ((s, d) => Stats.cramersV(s, d)),
    "q_hhi"               -> ((s, d) => Stats.hhi(s, d)),
    "q_decile_gains"      -> ((s, d) => Stats.decileGains(s, d)),
    "q_stream_ks"         -> ((s, d) => graft.streaming.StreamingQueries.streamKs(s, d)),
    "q_stream_late"       -> ((s, d) => graft.streaming.StreamingQueries.streamLate(s, d)),
    "q_late_orders"       -> ((s, d) => Relational.lateOrders(s, d)),
    "q_ship_priority"     -> ((s, d) => Relational.shipPriority(s, d)),
    "q_local_volume"      -> ((s, d) => Relational.localVolume(s, d)),
    "q_returned_revenue"  -> ((s, d) => Relational.returnedRevenue(s, d)),
    "q_cust_order_dist"   -> ((s, d) => Relational.custOrderDist(s, d)),
    "q_promo_share"       -> ((s, d) => Relational.promoShare(s, d)),
    "q_big_orders"        -> ((s, d) => Relational.bigOrders(s, d)),
    "q_wait_suppliers"    -> ((s, d) => Relational.waitSuppliers(s, d)),
    "q_filter_scan"       -> ((s, d) => Relational.filterScan(s, d)),
    "q_bracket_revenue"   -> ((s, d) => Relational.bracketRevenue(s, d)),
    "q_stream_benford"    -> ((s, d) => graft.streaming.StreamingQueries.streamBenford(s, d)),
    "q_dq_checks"         -> ((s, d) => Relational.dqChecks(s, d)),
    "q_zorder_layout"     -> ((s, d) => Layout.zorderLayout(s, d)),
    "q_pagerank"          -> ((s, d) => Graph.pageRank(s, d)),
    "q_pagerank_staged"   -> ((s, d) => Graph.pageRankStaged(s, d)),
    "q_triangles"         -> ((s, d) => Graph.triangles(s, d)),
    "q_join_size_sketch"  -> ((s, d) => Relational.joinSizeSketch(s, d)),
    "q_skyline"           -> ((s, d) => Relational.skyline(s, d)),
    "q_fixedwidth_parse"  -> ((s, d) => Ingestion.fixedWidthParse(s, d)),
    "q_pack_stats"        -> ((s, d) => Ingestion.packStats(s, d)),
    "q_pack_scalable_stats" -> ((s, d) => Ingestion.packScalableStats(s, d)),
    "q_pack_explode_roundtrip" -> ((s, d) => Ingestion.packExplodeRoundtrip(s, d)),
    "q_zip_ingest"        -> ((s, d) => Ingestion.zipIngest(s, d)),
    "q_jsonl_ingest"      -> ((s, d) => Ingestion.jsonlIngest(s, d)),
    "q_text_quality"      -> ((s, d) => TextAnalysis.textQuality(s, d)),
    "q_lang_id"           -> ((s, d) => TextAnalysis.langId(s, d)),
    "q_token_count"       -> ((s, d) => TextAnalysis.tokenCount(s, d)),
    "q_doc_fingerprint"   -> ((s, d) => TextAnalysis.docFingerprint(s, d)),
    "q_quality_filter"    -> ((s, d) => TextAnalysis.qualityFilter(s, d)),
    "q_vocab_topk"        -> ((s, d) => TextAnalysis.vocabTopK(s, d)),
    "q_heavy_hitters"     -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    "q_dedup_exact"       -> ((s, d) => Dedup.dedupExact(s, d)),
    "q_dedup_incremental" -> ((s, d) => Dedup.dedupIncremental(s, d)),
    "q_dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q_dedup_jaccard_capped" -> ((s, d) => Dedup.ngramJaccardCapped(s, d)),
    "q_dedup_jaccard_prefix" -> ((s, d) => Dedup.ngramJaccardPrefix(s, d)),
    "q_dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q_dedup_minhash_incremental" -> ((s, d) => Dedup.minhashIncremental(s, d)),
    "q_dedup_simhash"     -> ((s, d) => Dedup.simhash(s, d)),
    "q_dedup_simhash_capped" -> ((s, d) => Dedup.simhashCapped(s, d)),
    "q_knn_ivf_pq"        -> ((s, d) => Similarity.knnIvfPq(s, d)),
    "q_knn_sq"            -> ((s, d) => Similarity.knnSq(s, d)),
    "q_embed_outliers"    -> ((s, d) => Similarity.embedOutliers(s, d)),
    "q_embed_drift"       -> ((s, d) => Similarity.embedDrift(s, d)),
    "q_embed_rp"          -> ((s, d) => Similarity.embedRp(s, d)),
    "q_knn_rp"            -> ((s, d) => Similarity.knnRp(s, d)),
    "q_knn_rp_recall"     -> ((s, d) => Similarity.knnRpRecall(s, d)),
    "q_rrf_fusion"        -> ((s, d) => Similarity.rrfFusion(s, d)),
    "q_knn_hubness"       -> ((s, d) => Similarity.knnHubness(s, d)),
    "q_knn_sq_recall"     -> ((s, d) => Similarity.knnSqRecall(s, d)),
    "q_allpairs_cosine"   -> ((s, d) => Dedup.allPairsCosine(s, d)),
    "q_dedup_blocking"    -> ((s, d) => Dedup.blockingDedup(s, d)),
    "q_fuzzy_match"       -> ((s, d) => Dedup.fuzzyMatch(s, d)),
    "q_sample_weighted"   -> ((s, d) => Corpus.weightedSample(s, d)),
    "q_dedup_canonical"   -> ((s, d) => Dedup.dedupCanonical(s, d)),
    "q_dedup_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    "q_dedup_resolution"  -> ((s, d) => Dedup.dedupResolution(s, d)),
    "q_dedup_degree"      -> ((s, d) => Dedup.dedupDegree(s, d)),
    "q_data_split"        -> ((s, d) => Dedup.dataSplit(s, d)),
    "q_source_mix"        -> ((s, d) => Dedup.sourceMix(s, d)),
    "q_repetition_filter" -> ((s, d) => TextAnalysis.repetitionFilter(s, d)),
    "q_lm_quality"        -> ((s, d) => TextAnalysis.lmQuality(s, d)),
    "q_doc_chunks"        -> ((s, d) => TextAnalysis.docChunks(s, d)),
    "q_pii_redact"        -> ((s, d) => TextAnalysis.piiRedact(s, d)),
    "q_seq_pack"          -> ((s, d) => SeqPack.seqPack(s, d)),
    "q_table_profile"     -> ((s, d) => Relational.tableProfile(s, d)),
    "q_table_profile_approx_check" -> ((s, d) => Relational.tableProfileApproxCheck(s, d)),
    "q_len_histogram"     -> ((s, d) => TextAnalysis.lenHistogram(s, d)),
    "q_decontamination"   -> ((s, d) => Dedup.decontamination(s, d)),
    "q_decontamination_exact" -> ((s, d) => Dedup.decontaminationExact(s, d)),
    "q_knn_bruteforce"    -> ((s, d) => Similarity.knnBruteForce(s, d)),
    "q_hard_negatives"    -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q_decontamination_embed" -> ((s, d) => Similarity.decontaminationEmbed(s, d)),
    "q_knn_mutual"        -> ((s, d) => Similarity.knnMutual(s, d)),
    "q_minhash_est_check" -> ((s, d) => Dedup.minhashEstCheck(s, d)),
    "q_events_gapfill"    -> ((s, d) => Temporal.eventsGapfill(s, d)),
    "q_winsorize"         -> ((s, d) => Relational.winsorizedStats(s, d)),
    "q_ngram_lm"          -> ((s, d) => Corpus.ngramLm(s, d)),
    "q_stream_join"       -> ((s, d) => graft.streaming.StreamingQueries.streamClickAttribution(s, d)),
    "q_knn_ivf"           -> ((s, d) => Similarity.knnIvf(s, d)),
    "q_knn_ivf_staged"    -> ((s, d) => Similarity.knnIvfStaged(s, d)),
    "q_embed_neardup_lsh" -> ((s, d) => Similarity.embedNearDupLsh(s, d)),
    "q_media_features"    -> ((s, d) => Multimodal.mediaFeatures(s, d)),
    "q_media_headers"     -> ((s, d) => Multimodal.mediaHeaders(s, d)),
    "q_media_histogram"   -> ((s, d) => Multimodal.mediaHistogram(s, d)),
    "q_media_resize"      -> ((s, d) => Multimodal.mediaResize(s, d)),
    "q_media_frames"      -> ((s, d) => Multimodal.mediaFrames(s, d)),
    "q_audio_energy"      -> ((s, d) => Multimodal.audioEnergy(s, d)),
    "q_business_date"     -> ((s, d) => Temporal.businessDateRollup(s, d)),
    "q_retention"         -> ((s, d) => Temporal.retention(s, d)),
    "q_events_hourly"     -> ((s, d) => Temporal.eventsHourly(s, d)),
    "q_events_props"      -> ((s, d) => Temporal.eventsProps(s, d)),
    "q_ab_lift"           -> ((s, d) => Temporal.abLift(s, d)),
    "q_user_sessions"     -> ((s, d) => Temporal.userSessions(s, d)),
    "q_events_funnel"     -> ((s, d) => Temporal.eventsFunnel(s, d)),
    "q_attribution"       -> ((s, d) => Temporal.attribution(s, d)),
    "q_rolling_distinct"  -> ((s, d) => Temporal.rollingDistinct(s, d)),
    "q_cohort_retention"  -> ((s, d) => Temporal.cohortRetention(s, d)),
    "q_rolling_zscore"    -> ((s, d) => Temporal.rollingZscore(s, d)),
    "q_trend_slope"       -> ((s, d) => Temporal.trendSlope(s, d)),
    "q_markov_next"       -> ((s, d) => Temporal.markovNext(s, d)),
    "q_path_topk"         -> ((s, d) => Temporal.pathTopK(s, d)),
    "q_mad_outliers"      -> ((s, d) => Temporal.madOutliers(s, d)),
    "q_tfidf"             -> ((s, d) => TextAnalysis.tfidf(s, d)),
    "q_bm25_topk"         -> ((s, d) => TextAnalysis.bm25TopK(s, d)),
    "q_df_incremental"    -> ((s, d) => TextAnalysis.dfIncremental(s, d)),
    "q_index_retract"     -> ((s, d) => TextAnalysis.indexRetract(s, d)),
    "q_text_embed"        -> ((s, d) => TextAnalysis.textEmbed(s, d)),
    "q_knn_recall"        -> ((s, d) => Similarity.knnRecall(s, d)),
    "q_asof_join"         -> ((s, d) => Temporal.asofJoin(s, d)),
    "q_range_join"        -> ((s, d) => Temporal.rangeJoin(s, d)),
    "q_bloom_semijoin"    -> ((s, d) => Relational.bloomSemiJoin(s, d)),
    "q_quantile_profile_check" -> ((s, d) => Relational.quantileProfileCheck(s, d)),
    "q_lang_quota"        -> ((s, d) => Dedup.langQuota(s, d)),
    // the Aho-Corasick escalation FORCED (dispatch picks nested-loop at
    // fixture probe counts) — keeps the large-probe-set path visible and
    // priced in the driver bench, like q_pack_scalable_stats does for pack
    "q_decontamination_aho" -> ((s, d) => Dedup.decontaminationExactAhoPath(s, d)),
    "q_text_normalize"    -> ((s, d) => TextAnalysis.textNormalize(s, d)),
    "q_skew_salted_agg"   -> ((s, d) => Skew.skewSaltedAgg(s, d)),
    "q_skew_salted_join"  -> ((s, d) => Skew.skewSaltedJoin(s, d)),
    "q_key_skew"          -> ((s, d) => Skew.keySkew(s, d)),
    "q_bucketed_join"     -> ((s, d) => Relational.bucketedJoin(s, d)),
    "q_dup_spans"         -> ((s, d) => Corpus.dupSpans(s, d)),
    "q_span_novelty"      -> ((s, d) => Corpus.spanNovelty(s, d)),
    "q_source_divergence" -> ((s, d) => Corpus.sourceDivergence(s, d)),
    "q_bpe_pairs"         -> ((s, d) => Corpus.bpePairs(s, d)),
    "q_bpe_merges"        -> ((s, d) => Corpus.bpeMerges(s, d)),
    "q_bpe_compression"   -> ((s, d) => Corpus.bpeCompression(s, d)),
    "q_dsir_weights"      -> ((s, d) => Corpus.dsirWeights(s, d)),
    "q_pmi_pairs"         -> ((s, d) => Corpus.pmiPairs(s, d)),
    "q_vocab_growth"      -> ((s, d) => Corpus.vocabGrowth(s, d)),
    "q_zipf_fit"          -> ((s, d) => Corpus.zipfFit(s, d)),
    "q_knn_pq"            -> ((s, d) => Similarity.knnPq(s, d)),
    "q_knn_pq_recall"     -> ((s, d) => Similarity.knnPqRecall(s, d)),
    "q_stream_hourly"     -> ((s, d) => graft.streaming.StreamingQueries.streamEventsHourly(s, d)),
    "q_stream_sessions"   -> ((s, d) => graft.streaming.StreamingQueries.streamUserSessions(s, d)),
    "q_semdedup"          -> ((s, d) => Similarity.semDedup(s, d)),
    "q_stream_dedup"      -> ((s, d) => graft.streaming.StreamingQueries.streamDedupExact(s, d)),
    "q_stream_quality"    -> ((s, d) => graft.streaming.StreamingQueries.streamQualityFilter(s, d)),
    "q_stream_topk"       -> ((s, d) => graft.streaming.StreamingQueries.streamVocabTopK(s, d)),
    "q_stream_zscore"     -> ((s, d) => graft.streaming.StreamingQueries.streamRollingZscore(s, d)),
    "q_stream_drift"      -> ((s, d) => graft.streaming.StreamingQueries.streamQualityDrift(s, d)),
    "q_stream_dq"         -> ((s, d) => graft.streaming.StreamingQueries.streamDqChecks(s, d)),
    "q_stream_markov"     -> ((s, d) => graft.streaming.StreamingQueries.streamMarkovNext(s, d)),
    "q_tokenize_ids"      -> ((s, d) => Curation.tokenizeIds(s, d)),
    "q_batch_padding"     -> ((s, d) => Curation.batchPadding(s, d)),
    "q_mix_temperature"   -> ((s, d) => Curation.mixTemperature(s, d)),
    "q_mix_schedule"      -> ((s, d) => Curation.mixSchedule(s, d)),
    "q_epoch_shuffle"     -> ((s, d) => Curation.epochShuffle(s, d)),
    "q_cdc_chunks"        -> ((s, d) => Curation.cdcChunks(s, d)),
    "q_dedup_cluster_stats" -> ((s, d) => Curation.dedupClusterStats(s, d)),
    "q_quality_quartiles" -> ((s, d) => Curation.qualityQuartiles(s, d)),
    "q_curation_pipeline" -> ((s, d) => Curation.curationPipeline(s, d)),
    "q_token_budget"      -> ((s, d) => Curation.tokenBudget(s, d)),
    "q_quality_drift"     -> ((s, d) => Curation.qualityDrift(s, d)),
    "q_kmeans"            -> ((s, d) => Similarity.kmeans(s, d)),
    "q_cluster_mix"       -> ((s, d) => Similarity.clusterMix(s, d)),
    "q_cluster_sample"    -> ((s, d) => Similarity.clusterSample(s, d)),
    "q_source_overlap"    -> ((s, d) => Corpus.sourceOverlap(s, d)),
    "q_source_overlap_sketch" -> ((s, d) => Corpus.sourceOverlapSketch(s, d)),
    "q_sample_stratified" -> ((s, d) => Curation.sampleStratified(s, d)),
    "q_pca_power"         -> ((s, d) => Similarity.pcaPower(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_sales_daily" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS business_date,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |       COUNT(DISTINCT o.o_orderkey) AS n_orders,
        |       COUNT(*) AS n_lines
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kyakusu_daily" ->
      """SELECT c.c_nationkey AS store_id,
        |       CAST(o.o_orderdate AS DATE) AS business_date,
        |       COUNT(DISTINCT o.o_custkey) AS kyakusu,
        |       COUNT(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sku_daily" ->
      """SELECT l_partkey AS sku,
        |       CAST(l_shipdate AS DATE) AS business_date,
        |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_front_sales_daily" ->
      """SELECT s.s_nationkey AS store_id,
        |       CAST(l.l_shipdate AS DATE) AS business_date,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_lines
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_promote_upsert" ->
      """WITH final_t AS (
        |  SELECT l_orderkey, l_linenumber FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01'),
        |temp_t AS (
        |  SELECT l_orderkey, l_linenumber FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'),
        |promoted AS (
        |  SELECT * FROM final_t
        |  UNION ALL
        |  SELECT * FROM temp_t t WHERE NOT EXISTS (
        |    SELECT 1 FROM final_t f
        |    WHERE f.l_orderkey = t.l_orderkey
        |      AND f.l_linenumber = t.l_linenumber))
        |SELECT COUNT(*) AS n_rows,
        |       COUNT(DISTINCT l_orderkey || '#' || l_linenumber) AS n_keys
        |FROM promoted""".stripMargin,
    "q_scd2"                    -> ops.Relational.scd2Oracle,
    "q_rfm"                     -> ops.Relational.rfmOracle,
    "q_basket_pairs"            -> ops.Relational.basketPairsOracle,
    "q_basket_triples"          -> ops.Relational.basketTriplesOracle,
    "q_recs_itemcf"             -> ops.Relational.recsItemCfOracle,
    "q_benford"                 -> ops.Relational.benfordAuditOracle,
    "q_bfs_hops"                -> ops.Graph.bfsHopsOracle,
    "q_top_skus"                -> ops.Relational.topSkusOracle,
    "q_store_rev_window"        -> ops.Relational.storeRevenueWindowOracle,
    "q_inactive_customers"      -> ops.Relational.customersWithoutOrdersOracle,
    "q_sales_rollup"            -> ops.Relational.salesRollupOracle,
    "q_revenue_pivot"           -> ops.Relational.revenuePivotOracle,
    "q_sales_cube"              -> ops.Relational.salesCubeOracle,
    "q_sales_grouping_sets"     -> ops.Relational.salesGroupingSetsOracle,
    "q_set_ops"                 -> ops.Relational.setOpsOracle,
    "q_nation_volume"           -> ops.Relational.nationVolumeOracle,
    "q_market_share"            -> ops.Relational.marketShareOracle,
    "q_bootstrap_ci"            -> ops.Relational.bootstrapCiOracle,
    "q_small_qty_revenue"       -> ops.Relational.smallQtyRevenueOracle,
    "q_top_supplier"            -> ops.Relational.topSupplierOracle,
    "q_balance_audit"           -> ops.Relational.balanceAuditOracle,
    "q_cheapest_supplier"       -> ops.Relational.cheapestSupplierOracle,
    "q_corr_audit"              -> ops.Stats.corrAuditOracle,
    "q_chi2"                    -> ops.Stats.chi2Oracle,
    "q_gini"                    -> ops.Stats.giniOracle,
    "q_ks_test"                 -> ops.Stats.ksTestOracle,
    "q_mann_whitney"            -> ops.Stats.mannWhitneyOracle,
    "q_cramers_v"               -> ops.Stats.cramersVOracle,
    "q_hhi"                     -> ops.Stats.hhiOracle,
    "q_decile_gains"            -> ops.Stats.decileGainsOracle,
    // the streaming KS drain is an associative count — rides the batch
    // drift monitor's oracle verbatim
    "q_stream_ks"               -> ops.Stats.ksTestOracle,
    "q_stream_late"             -> graft.streaming.StreamingQueries.streamLateOracle,
    "q_late_orders"             -> ops.Relational.lateOrdersOracle,
    "q_ship_priority"           -> ops.Relational.shipPriorityOracle,
    "q_local_volume"            -> ops.Relational.localVolumeOracle,
    "q_returned_revenue"        -> ops.Relational.returnedRevenueOracle,
    "q_cust_order_dist"         -> ops.Relational.custOrderDistOracle,
    "q_promo_share"             -> ops.Relational.promoShareOracle,
    "q_big_orders"              -> ops.Relational.bigOrdersOracle,
    "q_wait_suppliers"          -> ops.Relational.waitSuppliersOracle,
    "q_filter_scan"             -> ops.Relational.filterScanOracle,
    "q_bracket_revenue"         -> ops.Relational.bracketRevenueOracle,
    // the streaming Benford drain is an associative count — rides the
    // batch forensic audit's oracle verbatim
    "q_stream_benford"          -> ops.Relational.benfordAuditOracle,
    "q_dq_checks"               -> ops.Relational.dqChecksOracle,
    "q_zorder_layout"           -> ops.Layout.zorderLayoutOracle,
    "q_pagerank"                -> ops.Graph.pageRankOracle,
    // the staged query is held to the LIVE query's oracle (twin policy)
    "q_pagerank_staged"         -> ops.Graph.pageRankOracle,
    "q_triangles"               -> ops.Graph.trianglesOracle,
    "q_join_size_sketch"        -> ops.Relational.joinSizeSketchOracle,
    "q_skyline"                 -> ops.Relational.skylineOracle,
    "q_fixedwidth_parse"        -> ops.Ingestion.parsedAggOracle,
    "q_pack_stats"              -> ops.Ingestion.packStatsOracle,
    "q_pack_scalable_stats"     -> ops.Ingestion.packStatsOracle,
    "q_pack_explode_roundtrip"  -> ops.Ingestion.parsedAggOracle,
    "q_zip_ingest"              -> ops.Ingestion.zipIngestOracle,
    "q_jsonl_ingest"            -> ops.Ingestion.jsonlIngestOracle,
    "q_text_quality"            -> ops.TextAnalysis.textQualityOracle,
    "q_lang_id"                 -> ops.TextAnalysis.langIdOracle,
    "q_token_count"             -> ops.TextAnalysis.tokenCountOracle,
    "q_doc_fingerprint"         -> ops.TextAnalysis.docFingerprintOracle,
    "q_quality_filter"          -> ops.TextAnalysis.qualityFilterOracle,
    "q_vocab_topk"              -> ops.TextAnalysis.vocabTopKOracle,
    "q_heavy_hitters"           -> ops.TextAnalysis.heavyHittersOracle,
    "q_dedup_exact"             -> ops.Dedup.dedupExactOracle,
    "q_dedup_incremental"       -> ops.Dedup.dedupIncrementalOracle,
    "q_dedup_ngram_jaccard"     -> ops.Dedup.ngramJaccardOracle,
    "q_dedup_jaccard_capped"    -> ops.Dedup.ngramJaccardCappedOracle,
    "q_dedup_jaccard_prefix"    -> ops.Dedup.ngramJaccardPrefixOracle,
    "q_source_mix"              -> ops.Dedup.sourceMixOracle,
    "q_repetition_filter"       -> ops.TextAnalysis.repetitionFilterOracle,
    "q_lm_quality"              -> ops.TextAnalysis.lmQualityOracle,
    "q_doc_chunks"              -> ops.TextAnalysis.docChunksOracle,
    "q_pii_redact"              -> ops.TextAnalysis.piiRedactOracle,
    "q_seq_pack"                -> ops.SeqPack.seqPackOracle(),
    "q_table_profile"           -> ops.Relational.tableProfileOracle,
    "q_table_profile_approx_check" -> ops.Relational.tableProfileApproxCheckOracle,
    "q_len_histogram"           -> ops.TextAnalysis.lenHistogramOracle,
    "q_kyakusu_approx_check"    -> ops.Relational.kyakusuApproxCheckOracle,
    "q_dedup_minhash_lsh"       -> ops.Dedup.minhashLshOracle,
    "q_dedup_minhash_incremental" -> ops.Dedup.minhashIncrementalOracle,
    "q_dedup_simhash"           -> ops.Dedup.simhashOracle,
    "q_dedup_simhash_capped"    -> ops.Dedup.simhashCappedOracle,
    "q_knn_ivf_pq"              -> ops.Similarity.knnIvfPqOracle,
    "q_knn_sq"                  -> ops.Similarity.knnSqOracle,
    "q_embed_outliers"          -> ops.Similarity.embedOutliersOracle,
    "q_embed_drift"             -> ops.Similarity.embedDriftOracle,
    "q_embed_rp"                -> ops.Similarity.embedRpOracle,
    "q_knn_rp"                  -> ops.Similarity.knnRpOracle,
    "q_knn_rp_recall"           -> ops.Similarity.knnRpRecallOracle,
    "q_rrf_fusion"              -> ops.Similarity.rrfFusionOracle,
    "q_knn_hubness"             -> ops.Similarity.knnHubnessOracle,
    "q_knn_sq_recall"           -> ops.Similarity.knnSqRecallOracle,
    "q_allpairs_cosine"         -> ops.Dedup.allPairsCosineOracle,
    "q_dedup_blocking"          -> ops.Dedup.blockingDedupOracle,
    "q_fuzzy_match"             -> ops.Dedup.fuzzyMatchOracle,
    "q_sample_weighted"         -> ops.Corpus.weightedSampleOracle,
    "q_dedup_resolution"        -> ops.Dedup.dedupResolutionOracle,
    "q_dedup_canonical"         -> ops.Dedup.dedupCanonicalOracle,
    "q_dedup_containment"       -> ops.Dedup.containmentPairsOracle,
    "q_dedup_degree"            -> ops.Dedup.dedupDegreeOracle,
    "q_data_split"              -> ops.Dedup.dataSplitOracle,
    "q_decontamination"         -> ops.Dedup.decontaminationOracle,
    "q_decontamination_exact"   -> ops.Dedup.decontaminationExactOracle,
    "q_knn_bruteforce"          -> ops.Similarity.knnBruteForceOracle,
    "q_hard_negatives"          -> ops.Similarity.hardNegativesOracle,
    "q_decontamination_embed"   -> ops.Similarity.decontaminationEmbedOracle,
    "q_knn_mutual"              -> ops.Similarity.knnMutualOracle,
    "q_minhash_est_check"       -> ops.Dedup.minhashEstCheckOracle,
    "q_events_gapfill"          -> ops.Temporal.eventsGapfillOracle,
    "q_winsorize"               -> ops.Relational.winsorizedStatsOracle,
    "q_ngram_lm"                -> ops.Corpus.ngramLmOracle,
    // stream-stream interval join rides the batch range-join oracle
    "q_stream_join"             -> ops.Temporal.clickAttributionOracle,
    "q_knn_ivf"                 -> ops.Similarity.knnIvfOracle,
    // identical results to q_knn_ivf by construction (same centroids through
    // the exact-integer Lloyd step; parquet roundtrip is exact) → same oracle
    "q_knn_ivf_staged"          -> ops.Similarity.knnIvfOracle,
    "q_embed_neardup_lsh"       -> ops.Similarity.embedNearDupLshOracle,
    "q_media_features"          -> ops.Multimodal.mediaFeaturesOracle,
    "q_media_headers"           -> ops.Multimodal.mediaHeadersOracle,
    "q_media_histogram"         -> ops.Multimodal.mediaHistogramOracle,
    "q_media_resize"            -> ops.Multimodal.mediaResizeOracle,
    "q_media_frames"            -> ops.Multimodal.mediaFramesOracle,
    "q_audio_energy"            -> ops.Multimodal.audioEnergyOracle,
    "q_business_date"           -> ops.Temporal.businessDateRollupOracle,
    "q_retention"               -> ops.Temporal.retentionOracle,
    "q_events_hourly"           -> ops.Temporal.eventsHourlyOracle,
    "q_events_props"            -> ops.Temporal.eventsPropsOracle,
    "q_ab_lift"                 -> ops.Temporal.abLiftOracle,
    "q_user_sessions"           -> ops.Temporal.userSessionsOracle,
    "q_events_funnel"           -> ops.Temporal.eventsFunnelOracle,
    "q_attribution"             -> ops.Temporal.attributionOracle,
    "q_rolling_distinct"        -> ops.Temporal.rollingDistinctOracle,
    "q_cohort_retention"        -> ops.Temporal.cohortRetentionOracle,
    "q_rolling_zscore"          -> ops.Temporal.rollingZscoreOracle,
    "q_trend_slope"             -> ops.Temporal.trendSlopeOracle,
    "q_markov_next"             -> ops.Temporal.markovNextOracle,
    "q_path_topk"               -> ops.Temporal.pathTopKOracle,
    "q_stream_markov"           -> ops.Temporal.markovNextOracle,
    "q_mad_outliers"            -> ops.Temporal.madOutliersOracle,
    "q_asof_join"               -> ops.Temporal.asofJoinOracle,
    "q_range_join"              -> ops.Temporal.rangeJoinOracle,
    "q_bloom_semijoin"          -> ops.Relational.bloomSemiJoinOracle,
    "q_quantile_profile_check"  -> ops.Relational.quantileProfileCheckOracle,
    "q_lang_quota"              -> ops.Dedup.langQuotaOracle,
    "q_decontamination_aho"     -> ops.Dedup.decontaminationExactOracle,
    "q_text_normalize"          -> ops.TextAnalysis.textNormalizeOracle,
    "q_tfidf"                   -> ops.TextAnalysis.tfidfOracle,
    "q_bm25_topk"               -> ops.TextAnalysis.bm25TopKOracle,
    "q_df_incremental"          -> ops.TextAnalysis.dfIncrementalOracle,
    "q_index_retract"           -> ops.TextAnalysis.indexRetractOracle,
    "q_text_embed"              -> ops.TextAnalysis.textEmbedOracle,
    "q_knn_recall"              -> ops.Similarity.knnRecallOracle,
    "q_skew_salted_agg"         -> ops.Skew.skewSaltedAggOracle,
    "q_skew_salted_join"        -> ops.Skew.skewSaltedJoinOracle,
    "q_key_skew"                -> ops.Skew.keySkewOracle,
    "q_bucketed_join"           -> ops.Relational.bucketedJoinOracle,
    "q_dup_spans"               -> ops.Corpus.dupSpansOracle,
    "q_span_novelty"            -> ops.Corpus.spanNoveltyOracle,
    "q_source_divergence"       -> ops.Corpus.sourceDivergenceOracle,
    "q_bpe_pairs"               -> ops.Corpus.bpePairsOracle,
    "q_bpe_merges"              -> ops.Corpus.bpeMergesOracle,
    "q_bpe_compression"         -> ops.Corpus.bpeCompressionOracle,
    "q_dsir_weights"            -> ops.Corpus.dsirWeightsOracle,
    "q_pmi_pairs"               -> ops.Corpus.pmiPairsOracle,
    "q_zipf_fit"                -> ops.Corpus.zipfFitOracle,
    "q_vocab_growth"            -> ops.Corpus.vocabGrowthOracle,
    "q_knn_pq"                  -> ops.Similarity.knnPqOracle,
    "q_knn_pq_recall"           -> ops.Similarity.knnPqRecallOracle,
    // STREAMING executions must match the same batch oracles — Structured
    // Streaming (window agg, native session_window state, and
    // mapGroupsWithState dedup) rides the hash-compare gate
    "q_stream_hourly"           -> ops.Temporal.eventsHourlyOracle,
    "q_stream_sessions"         -> ops.Temporal.userSessionsOracle,
    "q_semdedup"                -> ops.Similarity.semDedupOracle,
    "q_stream_dedup"            -> ops.Dedup.dedupExactOracle,
    "q_stream_quality"          -> ops.TextAnalysis.qualityFilterOracle,
    "q_stream_topk"             -> ops.TextAnalysis.vocabTopKOracle,
    "q_stream_zscore"           -> ops.Temporal.rollingZscoreOracle,
    "q_stream_drift"            -> ops.Curation.qualityDriftOracle,
    "q_stream_dq"               -> ops.Relational.dqChecksLineitemOracle,
    "q_tokenize_ids"            -> ops.Curation.tokenizeIdsOracle,
    "q_batch_padding"           -> ops.Curation.batchPaddingOracle,
    "q_mix_temperature"         -> ops.Curation.mixTemperatureOracle,
    "q_mix_schedule"            -> ops.Curation.mixScheduleOracle,
    "q_epoch_shuffle"           -> ops.Curation.epochShuffleOracle,
    "q_cdc_chunks"              -> ops.Curation.cdcChunksOracle,
    "q_dedup_cluster_stats"     -> ops.Curation.dedupClusterStatsOracle,
    "q_quality_quartiles"       -> ops.Curation.qualityQuartilesOracle,
    "q_curation_pipeline"       -> ops.Curation.curationPipelineOracle,
    "q_token_budget"            -> ops.Curation.tokenBudgetOracle,
    "q_quality_drift"           -> ops.Curation.qualityDriftOracle,
    "q_kmeans"                  -> ops.Similarity.kmeansOracle,
    "q_cluster_mix"             -> ops.Similarity.clusterMixOracle,
    "q_cluster_sample"          -> ops.Similarity.clusterSampleOracle,
    "q_source_overlap"          -> ops.Corpus.sourceOverlapOracle,
    "q_source_overlap_sketch"   -> ops.Corpus.sourceOverlapSketchOracle,
    "q_sample_stratified"       -> ops.Curation.sampleStratifiedOracle,
    "q_pca_power"               -> ops.Similarity.pcaPowerOracle,
  )
}
