package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries → PLANS.md — the
  * plan-shape audit trail (pushdown, pruning, broadcast, codegen spans)
  * that PlanAuditSpec asserts programmatically.
  *
  * Usage: `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {
  val Headline = Seq(
    "q_sales_daily", "q_kyakusu_daily", "q_sku_daily", "q_promote_upsert",
    "q_fixedwidth_parse", "q_pack_explode_roundtrip",
    "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh", "q_dedup_jaccard_capped",
    "q_pack_scalable_stats", "q_seq_pack",
    "q_knn_bruteforce", "q_knn_ivf", "q_store_rev_window",
    "q_knn_pq", "q_dup_spans", "q_bpe_pairs", "q_dsir_weights",
    "q_semdedup", "q_asof_join", "q_range_join", "q_bloom_semijoin",
    "q_skew_salted_join", "q_bucketed_join", "q_text_normalize",
    "q_dedup_incremental", "q_heavy_hitters",
    "q_dedup_simhash", "q_dedup_simhash_capped", "q_dedup_resolution",
    "q_knn_ivf_pq",
    "q_allpairs_cosine", "q_dedup_blocking", "q_sample_weighted", "q_knn_sq",
    "q_embed_outliers", "q_hard_negatives", "q_ngram_lm",
    "q_knn_mutual", "q_minhash_est_check", "q_events_gapfill", "q_winsorize",
    "q_tokenize_ids", "q_batch_padding", "q_mix_temperature", "q_cdc_chunks",
    "q_dedup_cluster_stats", "q_quality_quartiles", "q_kmeans",
    "q_source_overlap", "q_sample_stratified",
    "q_bpe_merges", "q_media_histogram", "q_curation_pipeline",
    "q_bpe_compression", "q_knn_ivf_staged",
    "q_dedup_minhash_incremental", "q_decontamination_embed",
    "q_span_novelty", "q_source_divergence",
    "q_rolling_zscore", "q_df_incremental", "q_index_retract",
    "q_embed_rp", "q_pmi_pairs", "q_media_frames",
    "q_cluster_mix", "q_source_overlap_sketch", "q_key_skew",
    "q_scd2", "q_text_embed",
    "q_token_budget", "q_dedup_degree", "q_knn_rp",
    "q_mix_schedule", "q_trend_slope", "q_cluster_sample",
    "q_embed_drift", "q_quality_drift", "q_ab_lift", "q_rfm",
    "q_basket_pairs", "q_zipf_fit",
    "q_sales_grouping_sets", "q_dq_checks", "q_epoch_shuffle",
    "q_zorder_layout", "q_pagerank", "q_pagerank_staged", "q_join_size_sketch",
    "q_skyline",
    "q_fuzzy_match", "q_audio_energy",
    "q_triangles", "q_markov_next", "q_mad_outliers", "q_bm25_topk",
    "q_rrf_fusion", "q_knn_hubness", "q_dedup_canonical", "q_dedup_containment",
    "q_path_topk", "q_vocab_growth", "q_set_ops",
    "q_dedup_jaccard_prefix", "q_bfs_hops", "q_basket_triples", "q_benford",
    "q_recs_itemcf",
    "q_nation_volume", "q_market_share", "q_attribution",
    "q_rolling_distinct", "q_bootstrap_ci",
    "q_small_qty_revenue", "q_top_supplier", "q_balance_audit",
    "q_cheapest_supplier", "q_late_orders",
    "q_corr_audit", "q_chi2", "q_gini",
    "q_ship_priority", "q_local_volume", "q_returned_revenue",
    "q_cust_order_dist", "q_promo_share", "q_big_orders",
    "q_wait_suppliers",
    "q_ks_test", "q_mann_whitney", "q_cramers_v", "q_hhi",
    "q_filter_scan", "q_bracket_revenue", "q_decile_gains",
    "q_media_resize", "q_jsonl_ingest")

  /** Prose context prepended to a query's plan block where the plan alone
    * would mislead.
    */
  val Notes: Map[String, String] = Map(
    "q_dedup_resolution" ->
      ("resolution's edge source is `jaccardPairsCapped` — the SAME physical " +
       "pipeline dumped under `q_dedup_jaccard_capped` (one code path, " +
       "Dedup.scala). `resolveComponents` labels eagerly at construction " +
       "time (driver union-find below the edge bound, distributed min-label " +
       "fallback above it), so the plan below is the final doc↔label join " +
       "over the already-resolved labels."),
    "q_dedup_simhash" ->
      ("the Hamming predicate sits BELOW the pair-dedup aggregate " +
       "(semantics-preserving: hamming is pair-determined), so the dedup " +
       "shuffle carries only ≤HammingMax survivors, never the quadratic " +
       "hot-bucket candidate set; the band self-join runs at pinned width."),
    "q_dedup_simhash_capped" ->
      ("same pair plan as q_dedup_simhash with hot (band, bandkey) buckets " +
       "anti-joined away BEFORE the self-join — every bucket's pair yield " +
       "is bounded at MaxBandDF², the 100 TB skew defense."),
    "q_allpairs_cosine" ->
      ("the (doc, term, tf) index is ONE persisted relation (pinned " +
       "eagerly — see the racing-consumers note in Dedup.allPairsCosine) " +
       "feeding the df-cap derivation and both self-join sides; over-cap " +
       "terms leave via LeftAnti, norms ride the pair aggregation as " +
       "max(), and the pair HashAggregate is partial — the candidate " +
       "fan-out collapses map-side before the (doc_a, doc_b) shuffle."),
    "q_dedup_blocking" ->
      ("the exact-Jaccard verify predicate is fused INTO the block " +
       "self-join condition (no post-join filter ever materializes the " +
       "in-block pair set), and over-BlockCap blocks are anti-joined " +
       "away before the join — pair cost bounded at cap² per block."),
    "q_sample_weighted" ->
      ("the WindowGroupLimit below the source-key Exchange is PARTIAL: " +
       "each task keeps only K rows per source before shuffling, so the " +
       "plain row_number window is already the two-phase top-k at scale."),
    "q_knn_sq" ->
      ("per-dim bounds are 2·Dim map-side-combinable min/max aggregates " +
       "in one corpus pass (never a posexplode), broadcast as one row; " +
       "codes and bucket-center reconstruction fuse into one projection; " +
       "the top-k is a partial WindowGroupLimit like q_sample_weighted."),
    "q_cdc_chunks" ->
      ("Content-defined chunking. The boundary computation — per-position " +
       "rolling polynomial hash, cut detection, span assembly — stays " +
       "INSIDE array expressions (split -> transform -> filter -> zip_with) " +
       "in a single Project over the pruned (text, source) scan; the " +
       "per-char codes array is built in one linear pass so each position's " +
       "hash is 8 O(1) element_at reads (positional substr would be an O(p) " +
       "codepoint scan — quadratic per doc). The only Generate explodes " +
       "per-CHUNK rows (~chars/64 per doc), never per-position rows; audit " +
       "aggregation is partial+final. Locked by PlanAuditSpec (\"cdc chunks\")."),
    "q_bpe_merges" ->
      ("the visible plan is only the merge LOG (a union of per-round 1-row " +
       "pinned winners): each merge round executes eagerly under the " +
       "generational persist/unpersist discipline (Corpus.bpeMergeLog), " +
       "where the round's heavy lifting is a partial+final pair-count " +
       "aggregation + TakeOrdered(1) and a SHUFFLE-FREE per-doc array " +
       "rewrite against the broadcast winner."),
    "q_media_histogram" ->
      ("decode (real PNG inflate/de-filter) + binning run per-partition " +
       "inside mapPartitions — genuinely imperative codec work outside " +
       "Catalyst's vocabulary — emitting at most formats×16 partial rows " +
       "per item into a partial+final aggregation; the corpus never " +
       "shuffles, only bin counts do."),
    "q_curation_pipeline" ->
      ("the composed funnel (quality gates → exact dedup → temperature " +
       "quotas → md5-ranked draw) stays ONE Catalyst plan: the signal " +
       "projection fuses into the scan, both windows partition by their " +
       "natural keys (content hash; source), quotas ride a broadcast " +
       "join, and no stage materializes an intermediate corpus."),
    "q_bpe_compression" ->
      ("the visible plan aggregates the final persisted corpus generation " +
       "per source and joins the round-0 token mass; the merge rounds " +
       "themselves execute eagerly under the generational persist " +
       "discipline (see q_bpe_merges)."),
    "q_knn_ivf_staged" ->
      ("the corpus scan reads the CELL-PARTITIONED staged table and its " +
       "PartitionFilters carry a dynamicpruning#NNN predicate fed by the " +
       "broadcast probe set — only probed cells' files are read. The " +
       "centroid scan is the tiny staged table, broadcast twice " +
       "(probe scoring + the pruning subquery reuses the exchange)."),
    "q_dedup_minhash_incremental" ->
      ("the daily-batch probe: the BATCH band relation broadcasts into the " +
       "history index join, so the accumulated corpus's index streams " +
       "map-side and never shuffles — per-day cost is O(batch + touched " +
       "buckets + candidates). The verify stage is the minhashLsh " +
       "semi-join discipline (shingles recomputed for candidate docs " +
       "only)."),
    "q_decontamination_embed" ->
      ("broadcast eval side, one codegen'd corpus scoring projection; the " +
       "per-vector max is a partial-aggregated groupBy (never a window " +
       "over N×E scored rows), and only (vec_id, max_sim) crosses the " +
       "shuffle."),
    "q_span_novelty" ->
      ("history appears ONLY as its span-hash index feeding the anti-join's " +
       "right side (duplicate-insensitive — no distinct pass over the " +
       "corpus index); all three audits are partial+final aggregations."),
    "q_source_divergence" ->
      ("the per-source term relation is ONE pinned relation feeding both " +
       "self-join sides; the token-keyed join bounds fan-out at " +
       "sources-per-token², and the per-pair JSD aggregation (DECIMAL " +
       "term/mass sums) is partial+final."),
    "q_rolling_zscore" ->
      ("the corpus-sized event input collapses through the partial+final " +
       "daily aggregation BEFORE any window; both Window operators share " +
       "one (event_type) exchange+sort over the tiny (type, day) relation."),
    "q_df_incremental" ->
      ("incremental vocab maintenance: history and batch each collapse " +
       "through a partial+final gram count, then meet in a gram-" +
       "co-partitioned full-outer SortMergeJoin — at 100 TB the history " +
       "side is the stored bucketed index, so the join is exchange-free " +
       "on that side and per-day cost is O(batch + touched buckets)."),
    "q_index_retract" ->
      ("deletion propagation: the delete-list's gram counts broadcast into " +
       "a LeftOuter join against the corpus index (only deleted docs are " +
       "re-tokenized); at 100 TB the index side is the stored bucketed " +
       "relation and only touched buckets rewrite."),
    "q_embed_rp" ->
      ("the 16 JL coordinates are literal-plane VecDot folds fused into " +
       "one corpus projection; queries (with their projections and norms) " +
       "broadcast, and the distortion audit is a partial+final aggregation " +
       "— no shuffle grows with the corpus."),
    "q_pmi_pairs" ->
      ("the pair explode collapses map-side; TakeOrderedAndProject prunes " +
       "to the 25-row leaderboard which then BROADCASTS into the unigram " +
       "joins (BuildLeft) — the vocab-sized count relation streams, " +
       "never shuffles post-aggregation; T and P are 1-row broadcasts."),
    "q_media_frames" ->
      ("decode + frame cutting run per-partition inside mapPartitions " +
       "(imperative codec work); only sampled-frame audit tuples reach " +
       "the partial+final aggregation — the corpus never shuffles."),
    "q_cluster_mix" ->
      ("the visible plan is the mixing tail (cluster sizes → broadcast " +
       "1-row denominator); the Lloyd iterations execute eagerly under " +
       "the generational persist discipline shared with q_kmeans."),
    "q_source_overlap_sketch" ->
      ("the only corpus-sized work is the distinct span projection and " +
       "its per-source bottom-k (partial WindowGroupLimit); estimation " +
       "runs on S·k sketch rows against the broadcast pair list, and the " +
       "exact column is the in-row governance audit."),
    "q_key_skew" ->
      ("ONE lineitem scan fans out to all profiled keys via " +
       "explode(array(struct...)); per-key counts and the band rollup " +
       "are both partial+final."),
    "q_scd2" ->
      ("yesterday/today snapshots meet in one co-partitioned full-outer " +
       "key join; the action fan-out (a change emits close+open) is an " +
       "array explode, never a second pass."),
    "q_text_embed" ->
      ("stateless feature hashing: no vocabulary relation, no joins until " +
       "the per-source audit — two partial+final aggregations over the " +
       "token stream."),
    "q_token_budget" ->
      ("the signal projection fuses into the scan; ONE source-partitioned " +
       "window carries the best-first running token sum; the audit is " +
       "partial+final."),
    "q_dedup_degree" ->
      ("rides q_dedup_ngram_jaccard's inverted-index pair pipeline; the " +
       "degree count and band rollup are both map-side combined, and " +
       "degree-0 docs enter via a left join against the pruned doc_id scan."),
    "q_knn_rp" ->
      ("coarse-to-fine: queries broadcast with BOTH representations; the " +
       "coarse scan is one codegen'd 32-plane projection with a partial " +
       "top-k per query; the exact stage joins only Q×100 shortlist rows " +
       "back to full vectors."),
    "q_mix_schedule" ->
      ("everything after the per-source count rollup operates on " +
       "slots+sources rows: Hamilton quotas via integer div/mod, copies " +
       "via sequence-explode, and one tiny merge sort — no corpus-sized " +
       "work beyond the rollup."),
    "q_trend_slope" ->
      ("the corpus collapses through the same partial daily rollup as the " +
       "z-score monitor; the regression sums are one map-side combined " +
       "aggregation over days×types rows in planned decimal widths."),
    "q_cluster_sample" ->
      ("the visible plan is the quota + draw tail (broadcast allocations, " +
       "cell-partitioned draw window); the Lloyd iterations execute " +
       "eagerly under the generational persist discipline shared with " +
       "q_kmeans/q_cluster_mix."),
    "q_embed_drift" ->
      ("two map-side combined quantized-sum aggregations (N×dim → " +
       "labels×dim longs via the VecLongSum aggregator) meet in one " +
       "label-keyed join of label-cardinality rows; the drift cosine is " +
       "one projection over the joined sums."),
    "q_quality_drift" ->
      ("the signal projection fuses into the scan; both sides collapse " +
       "through per-source partial aggregations before the source-keyed " +
       "join; the rank window runs over source-cardinality rows."),
    "q_ab_lift" ->
      ("one scan, one map-side combined arm aggregation, a 2-row join — " +
       "the verdict is exact cross-multiplied integers."),
    "q_rfm" ->
      ("per-customer metrics are one partial aggregation; quintile " +
       "boundaries are exact order statistics from ONE labeled value " +
       "histogram pushed through the metric-partitioned PrefixSum " +
       "two-phase scaffold (no Window operator anywhere — " +
       "PlanAuditSpec-asserted), returned as a single broadcast 1-row " +
       "aggregate into the classify projection; the segment rollup is " +
       "partial+final."),
    "q_set_ops" ->
      ("Dataset.intersect/except compile to hash-partitioned semi/anti " +
       "joins over the distinct key projections — co-partitioned on the " +
       "key, no broadcast ceiling on either side; the three labeled " +
       "partitions union into one partial+final grouped rollup."),
    "q_basket_pairs" ->
      ("the pair generator self-joins the persisted DISTINCT (order, part) " +
       "relation keyed on orderkey — fan-out bounded per order, never " +
       "catalog²; the leaderboard prunes to K rows before the support " +
       "joins (the q_pmi_pairs discipline)."),
    "q_zipf_fit" ->
      ("the vocab aggregation is the only corpus-sized stage; TakeOrdered " +
       "prunes to the top ranks before the window, and the fit is a 1-row " +
       "aggregate of DECIMAL-carried sums."),
    "q_pagerank" ->
      ("the visible plan is the final leaderboard join over the last rank " +
       "generation; each power iteration executed eagerly at construction " +
       "under the generational persist discipline (edges built once with " +
       "degrees, ranks shuffle, edges stay put — see Graph.pageRank)."),
    "q_pagerank_staged" ->
      ("same bit-identical iterations as q_pagerank, served off the " +
       "write-once bucketed copurchase_edges artifact: the edge relation " +
       "is one staged table read persisted across iterations (the cached " +
       "scan keeps the bucket HashPartitioning), the degree relation " +
       "re-derives zero-exchange off the layout, and each iteration " +
       "exchanges ONLY the rank relation into the edges' bucketing " +
       "(plan-asserted; the planner may broadcast the tiny fixture rank, " +
       "but the node set scales with the corpus, so the code never " +
       "forces it). The visible plan is the final leaderboard join."),
    "q_triangles" ->
      ("prune-before-fan-out: the hub top-k and its broadcast semi-join " +
       "shrink the lineitem relation BEFORE the quadratic per-order pair " +
       "build, so the full co-purchase pair set never materializes; the " +
       "wedge self-join runs on the degree-ORIENTED induced edges " +
       "(out-degree bounded by arboricity — hubs emit no wedges), built " +
       "eagerly like every multi-consumer relation. The visible plan is " +
       "the per-corner credit union + leaderboard over the persisted " +
       "triangle set."),
    "q_markov_next" ->
      ("the sequence lead() window partitions by user_id (the one " +
       "unavoidable corpus shuffle, key-parallel across users); the " +
       "per-source normalizer is a second window over the |types|² " +
       "aggregate — never a second corpus pass."),
    "q_mad_outliers" ->
      ("the corpus collapses through one map-side combined daily rollup; " +
       "both exact-median passes and their joins run over the persisted " +
       "days×types relation with the median relations broadcast back."),
    "q_bm25_topk" ->
      ("inverted-index shape: the 5 probe terms broadcast into the " +
       "postings join so scoring is O(matched postings); per-term doubles " +
       "are decimal-summed (aggregation-order independence) and the " +
       "result is a TakeOrdered partial top-k."),
    "q_rrf_fusion" ->
      ("both rankers cut to top-R candidates via TakeOrderedAndProject " +
       "BEFORE any global rank window — the windows and the full-outer " +
       "fusion join only ever see 2·R rows regardless of corpus size."),
    "q_knn_hubness" ->
      ("rides the bounded brute-force top-k relation; the occurrence count " +
       "broadcasts into a left join over the id-only corpus scan and the " +
       "histogram is a second tiny partial+final aggregation."),
    "q_dedup_canonical" ->
      ("edges + components resolve eagerly at construction (the " +
       "q_dedup_resolution path, capped pair source); the visible plan is " +
       "the quality projection, the label-keyed pick window, and the " +
       "rollup over the labeled relation."),
    "q_dedup_containment" ->
      ("the inverted-index self-join runs WITHOUT the Jaccard length prune " +
       "(size asymmetry is the semantics), so the over-cap stop-shingle " +
       "LeftAnti is the sole quadratic bound; sizes ride the explode " +
       "relation and the pair aggregate is partial+final."),
    "q_path_topk" ->
      ("the rn <= P prefix cut plans as a PARTIAL WindowGroupLimit (each " +
       "task keeps P rows per user before the one user-keyed shuffle); " +
       "path assembly and counting are map-side combined and the " +
       "leaderboard is TakeOrdered."),
    "q_vocab_growth" ->
      ("checkpoint boundaries are order statistics computed as " +
       "orderBy().limit(c) partial top-ks over the id-only scan (4 tiny " +
       "jobs, never a global rank window); the exploded shingle relation " +
       "is persisted once and feeds the first-occurrence min-agg and the " +
       "occurrence-count pass; the OLS tail is scalar math over one " +
       "4-row explode."))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Read for: `PushedFilters`\n")
    sb.append("(predicate pushdown), `ReadSchema` (column pruning), `BroadcastHashJoin`\n")
    sb.append("(dimension joins), `HashAggregate` pairs (partial+final), codegen stage\n")
    sb.append("ids. PlanAuditSpec asserts these properties in CI.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n")
      Notes.get(name).foreach(n => sb.append(n + "\n\n"))
      sb.append("```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
