package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits — the 100 TB design assertions (builder prompt /
  * SURVEY.md §4): filters reach the parquet scan, scans read only needed
  * columns, dimension joins broadcast (no fact-table shuffle for joins),
  * and aggregation plans carry partial (map-side) aggregation.
  *
  * These lock the *shape* of the plan, so a regression that silently turns
  * a broadcast join into a sort-merge shuffle or widens a scan fails CI —
  * not just the timing.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = sf0001

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // withClearCache (pinned-relation hygiene) comes from SparkSpec

  test("withClearCache releases pinned relations even when the body FAILS") {
    // the injected-failure check: a success-path-only clearCache would
    // leak this pin into every later test in the suite, turning one red
    // row into cascading cache-dependent flakes
    val pinned = spark.range(100).toDF("x").persist()
    pinned.count() // materialize the pin
    assert(!spark.sharedState.cacheManager.isEmpty, "pin did not register")
    intercept[org.scalatest.exceptions.TestFailedException] {
      withClearCache { fail("injected assertion failure") }
    }
    assert(spark.sharedState.cacheManager.isEmpty,
           "a failed assertion leaked a persisted relation past withClearCache")
  }

  test("predicate pushdown: parquet scan carries PushedFilters") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 40 && col("l_partkey") === 7)
      .select("l_orderkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,40.0)") || plan.contains("GreaterThan(l_quantity,40"),
           s"quantity filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(l_partkey,7)"), s"partkey filter not pushed:\n$plan")
  }

  test("column pruning: salesDaily reads only the needed lineitem/orders columns") {
    val plan = planOf(ops.Relational.salesDaily(spark, dir))
    // lineitem: join key + measures only — never the full 11-column schema
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_returnflag"), s"lineitem scan not pruned:\n$plan")
    assert(!plan.contains("l_shipdate"), s"lineitem scan not pruned:\n$plan")
    assert(!plan.contains("o_totalprice"), s"orders scan not pruned:\n$plan")
  }

  test("dimension joins broadcast: kyakusu + front-sales never shuffle the fact side for the join") {
    for (q <- Seq(ops.Relational.kyakusuDaily(spark, dir),
                  ops.Relational.frontSalesDaily(spark, dir))) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$plan")
    }
  }

  test("aggregations are partial+final (map-side combine before the shuffle)") {
    val plan = planOf(ops.Relational.skuDaily(spark, dir))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("grouping sets: one Expand feeds all four sets; dims broadcast; distinct rides the same pass") {
    val df = ops.Relational.salesGroupingSets(spark, dir)
    df.collect() // materialize AQE final plan
    // AQE's toString prints the final plan followed by the initial plan;
    // audit only the final one
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // exactly ONE Expand: all four grouping sets come from a single fact
    // pass — four separate GROUP BYs would scan the fact four times
    assert("Expand".r.findAllIn(plan).size == 1, s"expected exactly one Expand:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    // the count-distinct must not add another Expand or fact re-scan: it
    // plans as the standard two-phase distinct aggregate over the same pass
    assert(plan.contains("BroadcastHashJoin"), s"dimension chain should broadcast:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("epoch shuffle: global positions via the prefix-sum scaffold — no window operator at all") {
    val df = ops.Curation.epochShuffle(spark, dir)
    df.collect()
    val plan = planOf(df)
    // the naive formulation is row_number() over a global ORDER BY — a
    // single-partition Window that ceilings at one reducer; the scaffold
    // must keep every pass window-free
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
  }

  test("dq checks: per-table check families stay fused — three lineitem scans, not one per check") {
    val df = ops.Relational.dqChecks(spark, dir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // lineitem feeds exactly three subplans: the fused row-local
    // conditional aggregation, the key-only FK probe, and the temporal
    // join — a regression that unfuses the row-local family shows up as
    // extra scans here
    val scans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(scans == 3, s"expected 3 lineitem scans, got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"FK probes should broadcast:\n$plan")
  }

  test("whole-stage codegen covers the scan->project->aggregate hot path") {
    // skuDaily is pure arithmetic -> fully codegen'd. (Higher-order lambda
    // functions — tokens/shingles — are CodegenFallback by Spark design,
    // so text ops are deliberately not asserted here.)
    val df = ops.Relational.skuDaily(spark, dir)
    df.collect() // AQE only materializes WholeStageCodegen spans in the final plan
    val plan = planOf(df)
    // codegen stages print as "*(n) Operator" in the simple plan string
    assert(plan.contains("*("), plan)
  }

  test("knn brute force broadcasts the query side (corpus side streams)") {
    val plan = planOf(ops.Similarity.knnBruteForce(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"query side must broadcast:\n$plan")
  }

  test("hard negatives: query side broadcasts, corpus never shuffles for the join") {
    val plan = planOf(ops.Similarity.hardNegatives(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"query side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the scoring join:\n$plan")
  }

  test("events gapfill: corpus collapses through one partial agg, rollup reused via cache") {
    val df = ops.Temporal.eventsGapfill(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("partial_count"), s"hourly rollup not map-side combined:\n$plan")
    // the persisted rollup feeds bounds/types/probe without rescanning events
    assert(plan.contains("InMemoryTableScan"), s"rollup recomputed per consumer:\n$plan")
  }

  test("winsorize: bounds broadcast back, clamped aggregation is partial+final") {
    val plan = planOf(ops.Relational.winsorizedStats(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"bounds must broadcast:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
           s"final aggregation not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs fallback:\n$plan")
  }

  test("mutual kNN: one partial top-k pass, reciprocal join touches only the edge list") {
    val plan = planOf(ops.Similarity.knnMutual(spark, dir))
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(plan).isDefined,
           s"top-k not partial:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
           s"ranked edge list recomputed per join side:\n$plan")
  }

  test("ngram LM: all three count aggregations combine map-side, scalar V broadcasts") {
    val plan = planOf(ops.Corpus.ngramLm(spark, dir))
    assert(plan.contains("partial_count"), s"counts not map-side combined:\n$plan")
    // the only nested-loop join is the broadcast 1-row V scalar
    assert(!plan.contains("CartesianProduct"), s"unbroadcast scalar cross join:\n$plan")
  }

  test("IVF cell assignment partial-aggregates map-side (no row_number window over N×C)") {
    val plan = planOf(ops.Similarity.knnIvf(spark, dir))
    // the argmax must be a max_by AGGREGATION with a partial phase, never a
    // window: a window cannot combine map-side, so all N×C scored rows
    // would shuffle
    assert(plan.contains("partial_max_by"), s"assignment must partial-aggregate:\n$plan")
  }

  test("scalable pack pins its output partition count against AQE coalescing") {
    val packed = etl.FixedWidth.packScalable(
      ops.Ingestion.lineitemRecords(spark, dir), "record",
      Seq("f_returnflag"), Seq("f_orderkey", "f_linenumber"))
    val plan = planOf(packed)
    // REPARTITION_BY_NUM = user-pinned numPartitions: AQE may not coalesce
    // it, so fan-out consumers (the 1000x explode) keep full parallelism
    assert(plan.contains("REPARTITION_BY_NUM"), s"pack output not pinned:\n$plan")
  }

  test("seq_pack runs no per-key window: pinned bucket repartition + stateful projection") {
    val plan = planOf(ops.SeqPack.seqPack(spark, dir))
    // the cumsum must be the two-phase KeyedOffsetRunningSum projection over
    // a pinned bucket repartition — never a per-source WindowExec, whose
    // single reducer per key is the 100 TB ceiling this operator exists to
    // escape
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(plan.contains("keyed_offset_running_sum"), s"missing running-sum projection:\n$plan")
    assert(plan.contains("REPARTITION_BY_NUM"), s"bucket repartition not pinned:\n$plan")
    assert(plan.contains("partial_"), s"audit aggregation must partial-aggregate:\n$plan")
  }

  test("pii_redact is one pruned scan + partial aggregation (no join, no window)") {
    val plan = planOf(ops.TextAnalysis.piiRedact(spark, dir))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    // scan reads only doc_id/source/text
    assert(!plan.contains("n_chars"), s"documents scan not pruned:\n$plan")
    assert(!plan.contains("lang"), s"documents scan not pruned:\n$plan")
  }

  test("r17 re-spread: CPU-heavy single-split map sides plan the round-robin spread") {
    // util.Spread.forCpu before tokenize/hash/sketch work: the fixture
    // parquet is single-split, so without the spread these queries' heavy
    // map sides run ONE task (StageBench r17: cdc_chunks 3.2 s,
    // source_overlap 2.7 s, the whole bm25 chain single-task). The spread
    // plans as a logical Repartition; at real split counts forCpu is a
    // no-op, so this asserts the small-source branch only.
    val cases: Seq[(String, DataFrame)] = Seq(
      "q_cdc_chunks"            -> ops.Curation.cdcChunks(spark, dir),
      "q_source_overlap"        -> ops.Corpus.sourceOverlap(spark, dir),
      "q_source_overlap_sketch" -> ops.Corpus.sourceOverlapSketch(spark, dir),
      "q_source_divergence"     -> ops.Corpus.sourceDivergence(spark, dir),
      "q_tfidf"                 -> ops.TextAnalysis.tfidf(spark, dir),
      // q_bm25_topk carries the r18 CAPPED spread (Spread.forCpu(df, 8)):
      // the r17 full-width spread was rejected (32-partition postings
      // cache = consumer-stage scheduling floors); the cap-8 middle
      // ground parallelizes the tokenize while consumer stages stay 8
      // tasks wide (measured in OPTIMIZATION_r18.md)
      "q_bm25_topk"             -> ops.TextAnalysis.bm25TopK(spark, dir),
      "q_join_size_sketch"      -> ops.Relational.joinSizeSketch(spark, dir))
    withClearCache {
      for ((name, df) <- cases) {
        val analyzed = df.queryExecution.analyzed.toString
        assert("Repartition ".r.findAllIn(analyzed).nonEmpty,
               s"$name: no round-robin spread in the analyzed plan:\n$analyzed")
      }
    }
  }

  test("minhash verify stage plans no user-forced broadcast of the shingle table") {
    // the candidate-shingle relation is unbounded at corpus scale; only the
    // bare-id candIds semi-join side may carry an explicit broadcast hint.
    // (AQE may still CHOOSE to broadcast small sides at runtime — that is
    // the point: runtime-sized, never forced.)
    val df = ops.Dedup.minhashLsh(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString
    // exactly one logical hint — broadcast(candIds), bare longs — which
    // appears twice because candSh feeds both the doc_a and doc_b joins.
    // A reintroduced broadcast(candSh) would add two more.
    val hintCount = "ResolvedHint".r.findAllIn(analyzed).length
    assert(hintCount <= 2, s"expected only the candIds broadcast hint (×2 refs), got $hintCount:\n$analyzed")
  }

  test("as-of join is one window pass — no join operator at all") {
    val plan = planOf(ops.Temporal.asofJoin(spark, dir))
    assert(plan.contains("Window"), s"expected union-and-window form:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("nation volume: fixed dims broadcast, rollup partial-aggregated, no nested-loop joins") {
    val plan = planOf(ops.Relational.nationVolume(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"nation not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("market share: region filter prunes the dim chain before the fact joins") {
    val plan = planOf(ops.Relational.marketShare(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"dim chain not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("attribution: both touch columns ride ONE window pass, partitioned by user") {
    val plan = planOf(ops.Temporal.attribution(spark, dir))
    assert(plan.contains("windowspecdefinition(user_id"),
           s"window must partition by user_id:\n$plan")
    assert("Window \\[".r.findAllIn(plan).length == 1,
           s"expected a single fused Window operator:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("rolling distinct: run detection windows per user; only the day-spine readout is global") {
    val plan = planOf(ops.Temporal.rollingDistinct(spark, dir))
    assert(plan.contains("windowspecdefinition(user_id"),
           s"run windows must partition by user_id:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("bootstrap CI: the xB resample explode combines map-side — only per-resample partials shuffle") {
    val plan = planOf(ops.Relational.bootstrapCi(spark, dir))
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
    assert(plan.contains("Generate explode"), s"expected the resample explode:\n$plan")
    // the partial aggregate must sit ABOVE the explode in the same stage —
    // i.e. no exchange between Generate and the first partial HashAggregate
    val gi = plan.indexOf("Generate explode")
    val pi = plan.lastIndexOf("partial_sum")
    val between = plan.substring(math.min(gi, pi), math.max(gi, pi))
    assert(!between.contains("Exchange"),
           s"explode output crosses an exchange before combining:\n$plan")
  }

  test("prefix Jaccard: rank window partitions by doc (no global sort); candidates shuffle as bare ids") {
    val sh = ops.Dedup.docShingles(spark, dir)
    val t = ops.Dedup.JaccardThreshold
    val df = ops.Dedup.jaccardPrefixSelfJoin(ops.Dedup.jaccardPrefixIndex(sh, t), t)
    val plan = planOf(df)
    // the rank pass must be per-doc — an unpartitioned window would pull
    // the whole exploded shingle relation onto one reducer
    assert(plan.contains("windowspecdefinition(doc_id"),
           s"window must partition by doc_id:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("bfs hops: lineage truncated — readout scans the checkpointed visited set, no frontier replay") {
    val df = ops.Graph.bfsHops(spark, dir)
    val plan = planOf(df)
    // the loop cut each generation with an eager localCheckpoint; the
    // readout must be a flat scan of that RDD — a plan that still contains
    // the frontier joins means the 3^h lineage explosion is back
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
           s"visited set not checkpoint-backed:\n$plan")
    assert(!plan.contains("Join"), s"readout replays frontier joins:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
  }

  test("basket triples: a-priori semi-joins broadcast; support aggregation combines map-side") {
    val df = ops.Relational.basketTriples(spark, dir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
           s"frequent-pair prunes must be broadcast semi-joins:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("itemCF recs: basket-set prunes ride broadcast semi/anti joins; scores combine map-side") {
    val df = ops.Relational.recsItemCf(spark, dir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
           s"owned-part prune must be a broadcast semi-join:\n$plan")
    // AQE's final-plan string elides materialized stage subtrees, so the
    // anti-join is asserted on the optimized logical plan instead
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"), s"owned parts must leave via anti-join:\n$logical")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("benford: one column read per branch, 9-group aggregation, 1-row total broadcasts") {
    val df = ops.Relational.benfordAudit(spark, dir)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // scans must prune to the single price column
    assert(!plan.contains("l_quantity") && !plan.contains("l_orderkey"),
           s"lineitem scan not pruned to l_extendedprice:\n$plan")
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    // the 1-row total rides a broadcast cross join — never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"total must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("range join is an equi-join on (user, bucket) — never a nested loop") {
    val plan = planOf(ops.Temporal.rangeJoin(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
           s"range probe degenerated to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
           s"expected a keyed equi-join:\n$plan")
  }

  test("bloom semi-join pre-filters the fact scan before the exact semi-join") {
    val plan = planOf(ops.Relational.bloomSemiJoin(spark, dir))
    assert(plan.contains("LeftSemi"), s"exact semi-join missing:\n$plan")
    // the codegen bloom_probe prune must sit under the join, on the fact
    // side (prints as Filter bloom_probe(l_orderkey...) above the fact
    // FileScan) — and specifically NOT as a codegen-fencing UDF
    assert("bloom_probe\\([^)]*l_orderkey".r.findFirstIn(plan).isDefined,
           s"bloom prune not in the fact scan path:\n$plan")
    assert(!plan.contains("UDF("), s"UDF fence back in the bloom path:\n$plan")
  }

  test("dup_spans: pruned scan, hash-keyed aggregations, no window") {
    val plan = planOf(ops.Corpus.dupSpans(spark, dir))
    assert(plan.contains("partial_"), s"window counts must partial-aggregate:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    // the documents scan must not read lang/n_chars for this audit
    assert(!plan.contains("n_chars"), s"documents scan not pruned:\n$plan")
  }

  test("bpe_pairs top-k is a distributed TakeOrdered, ranked by broadcast self-join") {
    val plan = planOf(ops.Corpus.bpePairs(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"rank must not plan a window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"rank-count self-join must broadcast the ≤k side:\n$plan")
  }

  test("dsir scoring joins on tok and broadcasts only the model-size scalars") {
    val plan = planOf(ops.Corpus.dsirWeights(spark, dir))
    assert(plan.contains("partial_"), s"audit must partial-aggregate:\n$plan")
    // the 1-row scalar table rides a broadcast nested loop; the vocab-sized
    // ratio table must NOT be forced broadcast (corpus vocab is unbounded)
    val analyzed = ops.Corpus.dsirWeights(spark, dir).queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).length <= 1,
           s"only the scalars may carry a broadcast hint:\n$analyzed")
  }

  test("PQ code assignment partial-aggregates map-side; ADC tables broadcast") {
    val plan = planOf(ops.Similarity.knnPq(spark, dir))
    assert(plan.contains("partial_max_by"), s"code argmin must partial-aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"ADC lookups must broadcast:\n$plan")
  }

  test("simhash: Hamming radius fuses into the band self-join, below the pair-dedup; width pinned") {
    for (q <- Seq(ops.Dedup.simhash(spark, dir), ops.Dedup.simhashCapped(spark, dir))) {
      val plan = planOf(q)
      // the radius predicate must sit in (or directly below) the self-join,
      // never above the pair-dedup aggregate: the unfiltered candidate set
      // is quadratic in hot-bucket size, the ≤HammingMax survivors are not.
      // Tree text is parent-first, so the dedup HashAggregate keyed on
      // (doc_a, doc_b) must appear BEFORE the bit_count predicate.
      val aggIdx = plan.indexOf("HashAggregate(keys=[doc_a")
      val predIdx = plan.indexOf("bit_count")
      assert(aggIdx >= 0, s"pair-dedup aggregate missing:\n$plan")
      assert(predIdx > aggIdx,
             s"Hamming predicate must be below the pair-dedup:\n$plan")
      assert(!plan.substring(0, aggIdx).contains("Filter"),
             s"no post-dedup filter allowed above the aggregate:\n$plan")
      // pinned pre-join width: AQE would coalesce the bytes-tiny banded
      // exchange to one partition and serialize quadratic pair generation
      assert(plan.contains("REPARTITION_BY_NUM") &&
             plan.contains("hashpartitioning(band"),
             s"banded join width must be pinned:\n$plan")
    }
    // the capped variant drops hot buckets via anti-join BEFORE pairing
    val capped = planOf(ops.Dedup.simhashCapped(spark, dir))
    assert(capped.contains("LeftAnti"),
           s"hot-bucket removal must be an anti-join:\n$capped")
  }

  test("dedup resolution: labels resolve at construction and broadcast; docs scan stays narrow") {
    val df = ops.Dedup.dedupResolution(spark, dir)
    val plan = planOf(df)
    // below the driver edge bound the labels are a local relation (union-
    // find output) broadcast against the pruned documents scan — the final
    // join must never shuffle the corpus side
    assert(plan.contains("LocalTableScan"), s"labels must be local:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
           s"label join must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("text#"),
           s"documents scan must not read the text column:\n$plan")
  }

  test("IVF-PQ composition: probes and ADC tables broadcast; code assignment partial-aggregates") {
    val plan = planOf(ops.Similarity.knnIvfPq(spark, dir))
    // code assignment must stay an aggregation (map-side combinable), and
    // every query-sized relation (probes, distance tables, queries) rides a
    // broadcast — the corpus-sized sides (codes, cells) are never broadcast
    // and never sort-merge-shuffled against each other at fixture scale
    assert(plan.contains("partial_max_by"), s"code argmin must partial-aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe/ADC lookups must broadcast:\n$plan")
    // the ONE legitimate shuffle join is codes ⋈ cells — both corpus-sized
    // (N code rows, N cell rows), so a sort-merge on vec_id is the correct
    // 100 TB plan; any OTHER sort-merge (a query-sized side missing its
    // broadcast) is a regression
    val smjKeys = "SortMergeJoin \\[(\\w+)#".r.findAllMatchIn(plan).map(_.group(1)).toSet
    assert(smjKeys.subsetOf(Set("vec_id")),
           s"only the corpus codes⋈cells join may sort-merge, got $smjKeys:\n$plan")
  }

  test("all-pairs cosine: partial pair aggregation, hot-term anti-join, term index computed once") {
    val plan = planOf(ops.Dedup.allPairsCosine(spark, dir))
    // the pair dot/norm aggregation must map-side combine: the self-join's
    // candidate fan-out is the big intermediate, and partial aggregation
    // collapses it before the (doc_a, doc_b) shuffle
    assert(plan.contains("partial_sum"), s"pair aggregation not partial:\n$plan")
    // over-cap terms leave via anti-join (no driver-side collect ceiling)
    assert(plan.contains("LeftAnti"), s"df cap not an anti-join:\n$plan")
    // the (doc, term, tf) index feeds the cap derivation and both join
    // sides from ONE persisted relation — not three re-explodes
    assert(plan.contains("InMemoryRelation"), s"term index not persisted:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs fallback:\n$plan")
  }

  test("blocking dedup: Jaccard verify fused into the block join, big blocks anti-joined away") {
    val plan = planOf(ops.Dedup.blockingDedup(spark, dir))
    // the >= threshold predicate must sit INSIDE the self-join condition —
    // a post-join filter would materialize every in-block pair first
    assert("Join [^\\n]*>= 0\\.5".r.findFirstIn(plan).isDefined,
           s"jaccard filter not fused into the join:\n$plan")
    assert(plan.contains("LeftAnti"), s"block-size cap not an anti-join:\n$plan")
    // one narrow blocked relation feeds both sides
    assert(plan.contains("InMemoryRelation"), s"blocked projection not persisted:\n$plan")
  }

  test("weighted sampling: map-side top-k (partial WindowGroupLimit), narrow scan") {
    val plan = planOf(ops.Corpus.weightedSample(spark, dir))
    // rank-limit pushdown: each task keeps only K rows per source BEFORE
    // the shuffle — the property that makes the plain window scale-safe
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(plan).isDefined,
           s"top-k not partial (full window shuffle):\n$plan")
    // anchor the pruning check to the documents scan's ReadSchema (a raw
    // whole-plan substring match would trip on any benign 'text' occurrence)
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty, s"no ReadSchema in plan:\n$plan")
    assert(readSchemas.forall(!_.contains("text:")),
           s"documents scan not pruned to id/source/n_chars:\n$plan")
  }

  test("SQ ANN: one-pass map-side min/max bounds, bounds and queries broadcast, partial top-k") {
    val plan = planOf(ops.Similarity.knnSq(spark, dir))
    // per-dim bounds are 2·Dim combinable aggregates in one corpus pass —
    // not a posexplode (which would shuffle Dim× the rows)
    assert(plan.contains("partial_min"), s"bounds not map-side combined:\n$plan")
    assert(!plan.contains("Generate posexplode"), s"bounds via explode:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"bounds/queries not broadcast:\n$plan")
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(plan).isDefined,
           s"top-k not partial:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled against query side:\n$plan")
  }

  test("embed outliers: map-side centroid sums, label-keyed join, partial top-k") {
    val plan = planOf(ops.Similarity.embedOutliers(spark, dir))
    // the 2+Dim centroid aggregates must combine map-side: the only
    // corpus-sized shuffle is label-keyed and carries partial sums
    assert(plan.contains("partial_sum"), s"centroid sums not map-side combined:\n$plan")
    assert(!plan.contains("Generate posexplode"), s"centroid via explode:\n$plan")
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(plan).isDefined,
           s"top-k not partial:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs fallback:\n$plan")
  }

  test("lang quota windows only the hash-pruned survivors, not the corpus") {
    val df = ops.Dedup.langQuota(spark, dir, k = 5)
    val plan = planOf(df)
    // the row_number window input must carry the rk < per-lang-threshold
    // filter (the rk alias may be inlined, so match the CASE dispatch)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("< CASE WHEN"),
           s"hash-threshold prune missing below the window:\n$plan")
  }

  test("tokenize ids: vocab bounded via top-k then broadcast, token stream never shuffles for the lookup") {
    val plan = planOf(ops.Curation.tokenizeIds(spark, dir))
    // the (freq desc, tok) cut runs as TakeOrderedAndProject — the vocab
    // window's input is K rows, never the corpus vocabulary
    assert(plan.contains("TakeOrderedAndProject"), s"vocab cut not top-k:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"vocab lookup not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
           s"token stream shuffled for the vocab lookup:\n$plan")
    // vocab counting is map-side combined
    assert(plan.contains("partial_count"), s"vocab counts not partial:\n$plan")
  }

  test("batch padding + quality quartiles: windows are source-partitioned, never global") {
    for (df <- Seq(ops.Curation.batchPadding(spark, dir),
                   ops.Curation.qualityQuartiles(spark, dir))) {
      val plan = planOf(df)
      assert("windowspecdefinition\\(source#".r.findFirstIn(plan).isDefined,
             s"window not partitioned by source:\n$plan")
    }
  }

  test("cdc chunks: boundary math stays in array transforms — one Generate, pruned scan, partial agg") {
    val plan = planOf(ops.Curation.cdcChunks(spark, dir))
    // only the per-chunk rows explode; positions never become rows
    assert("(?s)Generate".r.findAllIn(plan).length == 1,
           s"more than one explode (positions materialized as rows?):\n$plan")
    assert(plan.contains("partial_count"), s"audit agg not map-side combined:\n$plan")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("lang:")),
           s"documents scan not pruned (lang read but unused):\n$plan")
  }

  test("mix temperature: denominator is a 1-row broadcast, no shuffle join") {
    val plan = planOf(ops.Curation.mixTemperature(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"denominator not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
           s"per-source table shuffled against the 1-row denominator:\n$plan")
  }

  test("kmeans: centroids broadcast into the final assignment, aggregation-form argmin, partial audit agg") {
    withClearCache { // kmeans persists vecs + final centroids
      val plan = planOf(ops.Similarity.kmeans(spark, dir))
      // assignment is the max_by aggregation, never a window over N×C rows
      assert(plan.contains("partial_max_by") || plan.contains("partial_"),
             s"assignment not map-side combined:\n$plan")
      assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
             s"centroids not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"all-pairs fallback:\n$plan")
      assert(!plan.contains("WindowExec"), s"window over scored rows:\n$plan")
    }
  }

  test("source overlap: hash-keyed self-join (no cartesian), distinct+count partial-aggregated") {
    val plan = planOf(ops.Corpus.sourceOverlap(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
           s"span self-join not hash-keyed:\n$plan")
    assert(plan.contains("partial_count"), s"matrix counts not map-side combined:\n$plan")
  }

  test("stratified sampling: selection window is source-partitioned, quotas broadcast") {
    val plan = planOf(ops.Curation.sampleStratified(spark, dir))
    assert("windowspecdefinition\\(source#".r.findFirstIn(plan).isDefined,
           s"selection window not partitioned by source:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"alloc table not broadcast:\n$plan")
  }

  test("incremental minhash: batch side broadcasts into the history-index probe") {
    withClearCache { // minhashIncremental pins band/candidate relations
      val plan = planOf(ops.Dedup.minhashIncremental(spark, dir))
      assert(plan.contains("BroadcastHashJoin"),
             s"batch bands not broadcast into the index probe:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian in the probe:\n$plan")
    }
  }

  test("embed decontamination: per-vector max is partial-aggregated, eval side broadcast") {
    val plan = planOf(ops.Similarity.decontaminationEmbed(spark, dir))
    assert(plan.contains("partial_max") || plan.contains("partial_"),
           s"per-vector max not map-side combined:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"eval side not broadcast:\n$plan")
    assert(!plan.contains("WindowExec"), s"window over scored rows:\n$plan")
  }

  test("curation pipeline: one plan — keyed windows, broadcast quotas, no cartesian") {
    val plan = planOf(ops.Curation.curationPipeline(spark, dir))
    // dedup window keys on the content hash, selection window on source
    assert("windowspecdefinition\\(md5".r.findFirstIn(plan).isDefined ||
           "windowspecdefinition\\(_w".r.findFirstIn(plan).isDefined,
           s"dedup window not keyed on the content hash:\n$plan")
    assert("windowspecdefinition\\(source#".r.findFirstIn(plan).isDefined,
           s"selection window not partitioned by source:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"quotas not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in the funnel:\n$plan")
  }

  test("rolling z-score: corpus collapses through a partial daily agg BEFORE any window") {
    val plan = planOf(ops.Temporal.rollingZscore(spark, dir))
    assert(plan.contains("partial_"), s"daily rollup not map-side combined:\n$plan")
    // the window must partition by event_type — never a global single-partition window
    assert("windowspecdefinition\\(event_type#".r.findFirstIn(plan).isDefined,
           s"window not partitioned by event_type:\n$plan")
  }

  test("pmi pairs: leaderboard prunes via TakeOrdered before the unigram joins; tiny side broadcasts") {
    val plan = planOf(ops.Corpus.pmiPairs(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
           s"top-k not pruned before joins:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"leaderboard/scalars not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in the PMI plan:\n$plan")
  }

  test("index retract: delete-side counts broadcast into the index join, both sides partial-agg") {
    val plan = planOf(ops.TextAnalysis.indexRetract(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"delete side not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"gram counts not map-side combined:\n$plan")
  }

  test("embed rp: queries broadcast with their projections; distortion audit partial-aggregates") {
    val plan = planOf(ops.Similarity.embedRp(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"query side must broadcast:\n$plan")
    assert(plan.contains("partial_"), s"audit not map-side combined:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the pairing join:\n$plan")
  }

  test("media frames: one object-pipeline pass, only audit tuples reach the partial agg") {
    val plan = planOf(ops.Multimodal.mediaFrames(spark, dir))
    assert(plan.contains("MapPartitions"), s"decode not partition-local:\n$plan")
    assert(plan.contains("partial_"), s"frame audit not map-side combined:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("key skew: one fact scan feeds all profiled keys (explode, not one scan per key)") {
    val plan = planOf(ops.Skew.keySkew(spark, dir))
    assert(plan.contains("Generate explode"), s"key fan-out not an explode:\n$plan")
    // exactly one lineitem scan
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 fact scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"), s"per-key counts not map-side combined:\n$plan")
  }

  test("scd2: snapshots meet in one co-partitioned full-outer key join") {
    val plan = planOf(ops.Relational.scd2(spark, dir))
    assert(plan.contains("FullOuter"), s"no full-outer merge join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("source overlap sketch: per-source bottom-k is a partial WindowGroupLimit; pairs broadcast") {
    val plan = planOf(ops.Corpus.sourceOverlapSketch(spark, dir))
    assert(plan.contains("WindowGroupLimit"), s"bottom-k not a group limit:\n$plan")
    assert(plan.contains("Partial"), s"bottom-k not map-side limited:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"pair list not broadcast:\n$plan")
  }

  test("text embed: stateless hashing — no joins at all until the per-source audit") {
    val plan = planOf(ops.TextAnalysis.textEmbed(spark, dir))
    assert(plan.contains("partial_"), s"coef sums not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
           s"unexpected join in a stateless vectorizer:\n$plan")
  }

  test("markov next: sequence window keyed by user_id; normalizer window over the tiny agg") {
    val plan = planOf(ops.Temporal.markovNext(spark, dir))
    assert("windowspecdefinition\\(user_id#".r.findFirstIn(plan).isDefined,
           s"sequence window not partitioned by user_id:\n$plan")
    assert("windowspecdefinition\\(from_type#".r.findFirstIn(plan).isDefined,
           s"normalizer not a window over the aggregated relation:\n$plan")
    assert(plan.contains("partial_"), s"transition counts not map-side combined:\n$plan")
  }

  test("mad outliers: corpus collapses through a partial daily agg; medians join back broadcast") {
    val plan = planOf(ops.Temporal.madOutliers(spark, dir))
    assert(plan.contains("partial_"), s"daily rollup not map-side combined:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"median relations not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"days×types relation shuffled for a join:\n$plan")
  }

  test("triangles: hub cut + leaderboard are distributed top-ks, hub set probes as broadcast semi") {
    val plan = planOf(ops.Graph.triangles(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"leaderboard not a partial top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bm25: probe terms broadcast into the postings join; top-k is TakeOrdered") {
    val plan = planOf(ops.TextAnalysis.bm25TopK(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"probe terms not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not a partial top-k:\n$plan")
    assert(plan.contains("partial_"), s"tf/df counts not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("path topk: prefix cut is a PARTIAL WindowGroupLimit; leaderboard is TakeOrdered") {
    val plan = planOf(ops.Temporal.pathTopK(spark, dir))
    assert("WindowGroupLimit [^\\n]*Partial".r.findFirstIn(plan).isDefined,
           s"rn <= P not planned as a partial group limit:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"leaderboard not a partial top-k:\n$plan")
  }

  test("dedup containment: over-cap shingles leave via LeftAnti; pair agg partial+final") {
    val plan = planOf(ops.Dedup.containmentPairs(spark, dir))
    assert(plan.contains("LeftAnti"), s"stop-shingle cut not an anti-join:\n$plan")
    assert(plan.contains("partial_"), s"pair counts not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup canonical: pick window keyed by cluster label, rollup partial-aggregated") {
    val plan = planOf(ops.Dedup.dedupCanonical(spark, dir))
    assert("windowspecdefinition\\(label#".r.findFirstIn(plan).isDefined,
           s"pick window not partitioned by label:\n$plan")
    assert(plan.contains("partial_"), s"audit rollup not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rfm: boundary derivation is window-free (prefix-sum order statistics)") {
    val df = ops.Relational.rfmSegments(spark, dir)
    df.collect()
    val plan = planOf(df)
    // the naive boundary form is row_number() over a global ORDER BY per
    // metric — three single-partition windows over a corpus-cardinality
    // relation; the histogram + PrefixSum scaffold must keep the whole
    // plan window-free
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rrf fusion: BOTH candidate lists cut by TakeOrdered before any rank window") {
    val plan = planOf(ops.Similarity.rrfFusion(spark, dir))
    val cuts = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(cuts >= 2, s"expected 2 candidate top-k cuts, saw $cuts:\n$plan")
    assert(plan.contains("FullOuter"), s"fusion not a full-outer rank join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cheapest supplier: groupwise argmin is ONE agg chain — no window, no join-back") {
    val plan = planOf(ops.Relational.cheapestSupplier(spark, dir))
    assert(!plan.contains("Window"), s"argmin leaked a window:\n$plan")
    assert(!plan.contains("Join"), s"argmin leaked a join-back:\n$plan")
    assert(plan.contains("partial_"), s"struct-min not map-side combined:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"leaderboard not a partial top-k:\n$plan")
  }

  test("top supplier: argmax-all is window-free; the 1-row max broadcasts back") {
    val plan = planOf(ops.Relational.topSupplier(spark, dir))
    assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"1-row max not broadcast back:\n$plan")
    assert(plan.contains("partial_"), s"rollup not map-side combined:\n$plan")
  }

  test("small-qty revenue: aggregate-join-back stays keyed (no cartesian, no forced broadcast of the per-part stats)") {
    val plan = planOf(ops.Relational.smallQtyRevenue(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_"), s"per-part stats not map-side combined:\n$plan")
  }

  test("balance audit: the scalar average broadcasts; dormancy is a LeftAnti on a key-only probe") {
    val plan = planOf(ops.Relational.balanceAudit(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"1-row (Σ,n) not broadcast:\n$plan")
    assert(plan.contains("LeftAnti"), s"recency gate not an anti-join:\n$plan")
    assert(plan.contains("partial_"), plan)
  }

  test("late orders: EXISTS plans as ONE LeftSemi with the residual date inequality inside — no distinct pass") {
    val plan = planOf(ops.Relational.lateOrders(spark, dir))
    assert(plan.contains("LeftSemi"), s"EXISTS not a semi-join:\n$plan")
    assert(!plan.toLowerCase.contains("distinct"), s"unexpected distinct pass:\n$plan")
    assert(plan.contains("partial_"), s"priority rollup not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("corr audit: one pruned scan, one map-side-combined moment pass — no join, no window") {
    val plan = planOf(ops.Stats.corrAudit(spark, dir))
    assert(!plan.contains("Join"), s"moment pass leaked a join:\n$plan")
    assert(!plan.contains("Window"), s"moment pass leaked a window:\n$plan")
    assert(plan.contains("partial_"), s"moments not map-side combined:\n$plan")
    assert(!plan.contains("l_shipdate"), s"scan not pruned:\n$plan")
  }

  test("chi2: totals re-aggregate the pinned cell relation — a single fact scan feeds all four branches") {
    withClearCache {
      val df = ops.Stats.chi2(spark, dir)
      df.collect() // materialize so InMemoryTableScan reuse is visible
      val plan = planOf(df)
      // the InMemoryRelation node re-PRINTS its provenance FileScan, so the
      // textual scan count over-reports; the real assertion is that every
      // totals branch reads the pinned cells, not parquet
      val cached = "InMemoryTableScan".r.findAllIn(plan).length
      assert(cached >= 3, s"expected ≥3 pinned-cell readers, saw $cached:\n$plan")
    }
  }

  test("gini: rank window partitions by nation (never a global sort); rollup partial-aggregated") {
    val plan = planOf(ops.Stats.gini(spark, dir))
    assert("windowspecdefinition\\(c_nationkey#".r.findFirstIn(plan).isDefined,
           s"rank window not partitioned by nation:\n$plan")
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ship priority: segment gate is a LeftSemi, top-10 is TakeOrdered — no global sort, no cartesian") {
    val plan = planOf(ops.Relational.shipPriority(spark, dir))
    assert(plan.contains("LeftSemi"), s"segment gate not a semi-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-10 materialized a global sort:\n$plan")
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("local volume: only the fixed region→nation chain broadcasts by hint; locality is a join residual") {
    val df = ops.Relational.localVolume(spark, dir)
    // the residual s_nationkey = c_nationkey must live INSIDE the supplier
    // join, not as a post-join filter over a wider fan-out
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("(s_nationkey"), s"locality residual missing from the join:\n$optimized")
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"region/nation chain not broadcast:\n$plan")
    assert(plan.contains("partial_"), plan)
    assert("(?i)cartesian|BroadcastNestedLoop".r.findAllIn(plan).isEmpty, plan)
  }

  test("cust order dist: the zero bucket rides a LEFT OUTER join; both aggs map-side combined") {
    val plan = planOf(ops.Relational.custOrderDist(spark, dir))
    assert(plan.contains("LeftOuter"), s"zero bucket lost — no outer join:\n$plan")
    assert("partial_count".r.findAllIn(plan).length >= 2,
           s"both aggregation levels must partial-combine:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("big orders: the quantity gate aggregates BELOW both joins — only the tail is joined") {
    val df = ops.Relational.bigOrders(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    // in the optimized tree the first Aggregate (the HAVING gate) must sit
    // under every Join node: the last textual Join appears before the last
    // Aggregate when printed top-down
    val lastJoin = optimized.lastIndexOf("Join")
    val gate = optimized.lastIndexOf("Aggregate")
    assert(lastJoin >= 0 && gate > lastJoin,
           s"quantity gate not below the joins:\n$optimized")
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), s"top-100 materialized a global sort:\n$plan")
    assert(plan.contains("partial_"), plan)
  }

  test("filter scan: all three predicate classes reach the parquet scan as PushedFilters") {
    val df = ops.Relational.filterScan(spark, dir)
    // the toString form TRUNCATES long PushedFilters lists — read the scan
    // node's metadata instead
    val pushed = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), s"ship window not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), s"discount band not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity,24"), s"quantity bound not pushed: $pushed")
    val plan = planOf(df)
    assert(!plan.contains("Join"), s"Q6 must not join:\n$plan")
    assert(plan.contains("partial_"), plan)
  }

  test("bracket revenue: the quantity ENVELOPE is pushed to the fact scan below the disjunction") {
    val plan = planOf(ops.Relational.bracketRevenue(spark, dir))
    assert(plan.contains("LessThanOrEqual(l_quantity,40"), s"envelope not pushed:\n$plan")
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("decile gains: ranks are window-free; the ONLY window is the 10-row cumulative readout") {
    withClearCache {
      val df = ops.Stats.decileGains(spark, dir)
      df.collect()
      val plan = planOf(df)
      // the naive form is ntile() over an unpartitioned customer-cardinality
      // window (the q_rfm scale-sin); ranks must ride the PrefixSum scaffold,
      // leaving only the cumulative sum over ≤10 decile rows (the AQE plan
      // string prints the same operator twice, so assert on the window's
      // ordering column, not the textual count)
      val specs = "windowspecdefinition\\(\\w+#".r.findAllIn(plan).toSeq
      assert(specs.nonEmpty && specs.forall(_.contains("decile#")),
             s"expected only the decile-rollup window, got $specs:\n$plan")
      assert(plan.contains("partial_"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("ks test + mann whitney: rank machinery is window-free (PrefixSum over the counts relation)") {
    for (q <- Seq(ops.Stats.ksTest(spark, dir), ops.Stats.mannWhitney(spark, dir))) {
      withClearCache {
        q.collect()
        val plan = planOf(q)
        // the naive form is SUM() OVER (ORDER BY v) — an unpartitioned
        // window over the merged support (millions of distinct cents at
        // 100 TB); the scaffold must keep every pass window-free
        assert(!plan.contains("Window"), s"unexpected window operator:\n$plan")
        assert(!plan.contains("CartesianProduct"), plan)
      }
    }
  }

  test("cramers v: everything downstream of the single fact pass reads the pinned cell relation") {
    withClearCache {
      val df = ops.Stats.cramersV(spark, dir)
      df.collect()
      val plan = planOf(df)
      val cached = "InMemoryTableScan".r.findAllIn(plan).length
      assert(cached >= 3, s"expected ≥3 pinned-cell readers, saw $cached:\n$plan")
    }
  }

  test("wait suppliers: the double-EXISTS collapses to two agg levels — no Expand, no fact self-join") {
    val plan = planOf(ops.Relational.waitSuppliers(spark, dir))
    assert(!plan.contains("Expand"), s"count-distinct Expand leaked in:\n$plan")
    // exactly two joins: lineitem⋈orders and winners⋈supplier — the
    // textbook form would add two more correlated semi/anti fact joins
    val joins = "Join".r.findAllIn(plan).length
    assert(joins <= 4, s"expected the 2-join plan (≤4 textual mentions), got $joins:\n$plan")
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
