package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec

/** The plan-shape gate: every headline query's physical plan, reduced to a
  * signature, must match its committed digest in
  * `src/test/resources/plan_signatures.tsv`, so a refactor or Spark upgrade
  * that silently de-optimizes a query (a lost pushdown, a new Exchange, a
  * vanished WholeStageCodegen span, a broadcast that became a shuffle)
  * fails here even when no PlanAuditSpec test asserts that query.
  *
  * A signature is the noise-normalized skeleton of `explain("formatted")`:
  *
  *  - every operator-tree line (`+- Exchange (4)`, `* HashAggregate (11)`),
  *    with the numeric operator id stripped but indentation, branch
  *    structure, codegen `*` markers and join-type qualifiers kept;
  *  - every `PushedFilters:` / `PartitionFilters:` / `SelectedBucketsCount:`
  *    detail line;
  *
  * with expression, RDD, plan and subquery ids normalized away (they
  * renumber freely between runs). The baseline keeps one
  * `name<TAB>lines<TAB>sha256` row per query rather than the signatures
  * themselves: the iteration lineage of q_triangles and q_pagerank alone
  * runs to tens of thousands of lines.
  *
  * Every run writes its fresh baseline to `target/plans/plan_signatures.tsv`,
  * and each query's formatted plan and signature to `target/plans/<q>.plan`
  * and `target/plans/<q>.sig`. An intended plan change is accepted by
  * copying the fresh baseline over the committed one.
  *
  * Each query is planned inside `withClearCache`, so no persisted relation
  * of an earlier query (or suite) can substitute into its plan.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = sf0001
  private val baselinePath = Paths.get("src/test/resources/plan_signatures.tsv")
  private val outDir = Paths.get("target/plans")

  /** The queries whose plans the gate locks. */
  private val Headline = Seq(
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

  /** Queries allowed a GLOBAL ordered window (empty partition spec, so the
    * whole input moves to one reducer) because its input is bounded by
    * construction. Keep reasons precise: this list is evidence, not an
    * escape hatch.
    */
  private val Bounded = Map(
    "q_cluster_sample" -> "quota remainder ranking over the cell relation (fixed cell count)",
    "q_mix_schedule" -> "stride schedule over per-source quotas (source cardinality)",
    "q_quality_drift" -> "drift ranking over per-source rollups (source cardinality)",
    "q_rrf_fusion" -> "rank windows run AFTER TakeOrdered cut both candidate lists to k rows (PlanAuditSpec-locked)",
    "q_sample_stratified" -> "per-stratum quota remainders (source cardinality)",
    "q_skyline" -> "strict-prefix running max over the per-price max collapse (price cardinality)",
    "q_tokenize_ids" -> "vocabulary id assignment over the frequency-ranked vocab (vocab cardinality; production tokenizers cap the vocab)",
    "q_zipf_fit" -> "OLS fit over the top token ranks (rank-limited input)",
    "q_rolling_distinct" -> "running delta sum over the calendar-day spine (bounded by elapsed days, not data volume)",
    "q_decile_gains" -> "cumulative share over the decile rollup (bucket-count bounded: <= 10 rows; the per-customer ranks themselves come from the window-free PrefixSum scaffold)")

  // --- the signature rule ----------------------------------------------------

  private val TreeLine = """([\s:+\-]*)(\* )?([A-Za-z][^()]*?)\s*\(\d+\)\s*""".r
  private val DetailKeys = Seq("PushedFilters:", "PartitionFilters:", "SelectedBucketsCount:")
  // Python's str.splitlines boundaries, so a literal in a plan splits alike
  private val LineBreak = "\r\n|[\n\r\\x0B\\x0C\\x1C\\x1D\\x1E\\x85\\u2028\\u2029]"

  private def normalize(line: String): String =
    line.replaceAll("#\\d+", "#")
      // an ExistingRDD scan's `MapPartitionsRDD[1957] at localCheckpoint`
      // is the same plan whatever the id; the call site stays
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("subquery#?\\s*\\d*", "subquery#")
      .replaceAll("dynamicpruning#?\\d*", "dynamicpruning#")
      .stripTrailing

  /** The signature lines of one formatted plan. */
  def signature(formatted: String): Seq[String] =
    formatted.split(LineBreak).toSeq.flatMap {
      case TreeLine(indent, star, op) =>
        Some(normalize(indent + Option(star).getOrElse("") + op))
      case line if DetailKeys.exists(line.contains) => Some(normalize(line.strip))
      case _ => None
    }

  private def sha256(sig: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sig.mkString("\n").getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def formatted(q: String): (String, SparkPlan) = {
    val qe = SparkEntry.queries(q)(spark, dir).queryExecution
    (qe.explainString(ExplainMode.fromString("formatted")), qe.executedPlan)
  }

  // --- global ordered windows over physical plan nodes -----------------------

  /** Every distinct WindowExec reachable from `plan` (through AQE, cached
    * relations and subqueries) whose partition spec is empty and whose
    * order spec is not: it sends its whole input to one reducer.
    */
  private def globalOrderedWindows(plan: SparkPlan): Seq[WindowExec] = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]
    def walk(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    seen.keySet.asScala.toSeq.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
    }
  }

  /** One planning pass over every headline query: (query, formatted plan,
    * global ordered window count), each planned in a cleared cache.
    */
  private lazy val planned: Seq[(String, String, Int)] = {
    spark.sharedState.cacheManager.clearCache()
    Headline.map { q =>
      withClearCache {
        val (text, plan) = formatted(q)
        (q, text, globalOrderedWindows(plan).size)
      }
    }
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  test("every headline query's plan signature matches plan_signatures.tsv") {
    val fresh = planned.map { case (q, text, _) =>
      val sig = signature(text)
      write(outDir.resolve(s"$q.plan"), text)
      write(outDir.resolve(s"$q.sig"), sig.mkString("", "\n", "\n"))
      (q, sig)
    }
    write(outDir.resolve("plan_signatures.tsv"), fresh.map { case (q, sig) =>
      s"$q\t${sig.size}\t${sha256(sig)}\n" }.mkString)
    val committed = Files.readAllLines(baselinePath, UTF_8).asScala
      .map(_.split("\t")).map(r => r(0) -> r(2)).toMap
    val drifted = fresh.filterNot { case (q, sig) => committed.get(q).contains(sha256(sig)) }
    drifted.foreach { case (q, sig) =>
      println(s"== fresh signature of $q (${sig.size} lines)\n" + sig.mkString("\n"))
    }
    assert(committed.keySet == Headline.toSet,
      s"baseline rows and headline queries diverge: " +
        s"missing=${Headline.toSet -- committed.keySet} extra=${committed.keySet -- Headline}")
    val driftedNames = drifted.map(_._1)
    assert(driftedNames.isEmpty,
      s"plan signature changed. Formatted plans and signatures are under $outDir; " +
        s"if the change is intended, copy $outDir/plan_signatures.tsv to $baselinePath")
  }

  test("a global ordered window appears only in a query on the bounded allowlist") {
    val global = planned.collect { case (q, _, n) if n > 0 => q -> n }.toMap
    info(s"${global.values.sum} global ordered windows in ${global.size} queries: " +
      global.toSeq.sorted.map { case (q, n) => s"$q ($n)" }.mkString(", "))
    val unbounded = global.keySet -- Bounded.keySet
    assert(unbounded.isEmpty,
      s"global ordered window (one reducer for the whole input) in: ${unbounded.mkString(", ")}")
    val stale = Bounded.keySet -- global.keySet
    assert(stale.isEmpty,
      s"allowlisted but no global ordered window left; drop the entry: ${stale.mkString(", ")}")
  }

  test("dedup plans are the same whether this JVM built the staged shingles and pairs or re-registered them") {
    val queries = Seq("q_dedup_degree", "q_dedup_jaccard_capped",
      "q_dedup_minhash_incremental", "q_dedup_minhash_lsh", "q_minhash_est_check")
    val tables = Seq(ops.Dedup.docShinglesTable(dir), ops.Dedup.dedupPairsTable(dir))
    val fs = util.Staged.fsOf(spark)
    // stage, then plan all five in one cache scope: the same steps whether
    // the stage calls build the artifacts or re-register them from disk
    def stageAndPlan(): Map[String, Seq[String]] = withClearCache {
      tables.zip(Seq(ops.Dedup.stageDocShingles _, ops.Dedup.stageDedupPairs _))
        .foreach { case (t, stage) => assert(stage(spark, dir) == t) }
      queries.map(q => q -> signature(formatted(q)._1)).toMap
    }

    spark.sharedState.cacheManager.clearCache()
    tables.foreach { t => spark.sql(s"DROP TABLE IF EXISTS $t"); util.Staged.sweep(spark, t) }
    val built = stageAndPlan()

    // drop the catalog entries only: the finished stages wait aside across
    // the DROP, so the stage calls re-register them from disk
    tables.foreach { t =>
      val loc = util.Staged.locOf(spark, t)
      val bak = new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + "_bak")
      assert(fs.rename(loc, bak), s"could not move $t aside")
      spark.sql(s"DROP TABLE $t")
      assert(fs.rename(bak, loc), s"could not restore $t")
    }
    val reused = stageAndPlan()

    val drifted = queries.filter(q => built(q) != reused(q))
    assert(drifted.isEmpty,
      s"plans differ between built and re-registered staged artifacts: ${drifted.mkString(", ")}")
  }
}
