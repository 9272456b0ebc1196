package graft

import org.apache.spark.sql.functions._

/** Bench-integrity policy for staged artifacts (VERDICT r7 item 5).
  *
  * Bench's UNTIMED warmup stages write-once artifacts (bucketed table
  * layouts, the IVF cell index, the learned k-means cell assignment) so
  * the timed queries measure the read path the layout buys, not the
  * one-time write. That framing is only honest while two invariants hold,
  * locked here as code:
  *
  *  1. staged and live paths are BIT-IDENTICAL — the artifact is a pure
  *     materialization, never a semantic shortcut; and
  *  2. every warmup-staged artifact keeps a TIMED live sibling in the
  *     suite that pays the full computation (q_knn_ivf next to
  *     q_knn_ivf_staged, q_kmeans next to the cluster consumers, the
  *     plain-join family next to q_bucketed_join),
  *
  * plus a reflection guard so a future `stageX` function cannot ship
  * without declaring its consumers and live twin in the policy table.
  */
class StagedArtifactsSpec extends SparkSpec {

  private val dir = sf0001

  /** stage-function -> (timed consumers, timed live siblings). An empty
    * sibling list is allowed only for [[inputFixtures]].
    */
  private val policy: Map[String, (Seq[String], Seq[String])] = Map(
    "stageBucketedTables"  -> ((Seq("q_bucketed_join"), Seq("q_sales_daily"))),
    "stageIvfIndex"        -> ((Seq("q_knn_ivf_staged"), Seq("q_knn_ivf"))),
    "stageKmeansCells"     -> ((Seq("q_cluster_mix", "q_cluster_sample"), Seq("q_kmeans"))),
    "stageCopurchaseEdges" -> ((Seq("q_pagerank_staged", "q_bfs_hops", "q_basket_pairs",
                                    "q_triangles"), Seq("q_pagerank"))),
    "stageKnnTruth"        -> ((Seq("q_knn_recall", "q_knn_pq_recall", "q_knn_sq_recall",
                                    "q_knn_rp_recall"), Seq("q_knn_bruteforce"))),
    "stageCustomerBaskets" -> ((Seq("q_basket_triples"), Seq("q_recs_itemcf"))),
    "stageDocShingles"     -> ((Seq("q_dedup_jaccard_prefix", "q_dedup_containment",
                                    "q_dedup_minhash_lsh", "q_dedup_minhash_incremental",
                                    "q_minhash_est_check", "q_decontamination"),
                                Seq("q_dedup_ngram_jaccard"))),
    "stageDedupPairs"      -> ((Seq("q_dedup_resolution", "q_dedup_canonical"),
                                Seq("q_dedup_jaccard_capped"))),
    "stageSimhashFp"       -> ((Seq("q_dedup_simhash_capped"), Seq("q_dedup_simhash"))),
    "stageZip"             -> ((Seq("q_zip_ingest"), Seq.empty)),
    "stageJsonl"           -> ((Seq("q_jsonl_ingest"), Seq.empty)))

  /** The input-fixture class: functions that synthesize the INPUT a query
    * ingests (stageZip builds the daily zip archive q_zip_ingest reads,
    * stageJsonl the JSONL drop q_jsonl_ingest reads). A real run receives
    * its input rather than building it, so Bench stages these untimed like
    * the performance artifacts, and the consumer still pays the whole
    * ingest in its timed slot — no live twin is needed.
    */
  private val inputFixtures = Set("stageZip", "stageJsonl")

  test("every stage* function in ops is declared in the staged-artifact policy") {
    val objs = Seq(ops.Relational, ops.Similarity, ops.Ingestion, ops.Dedup,
      ops.Curation, ops.Corpus, ops.TextAnalysis, ops.Temporal, ops.Multimodal,
      ops.SeqPack, ops.Skew, ops.Graph, ops.Stats, ops.Layout)
    val found = objs.flatMap(_.getClass.getDeclaredMethods.toSeq.map(_.getName))
      .filter(n => n.startsWith("stage") && !n.contains("$")).toSet
    assert(found == policy.keySet,
      s"stage* functions and policy table diverge: found=$found policy=${policy.keySet}; " +
        "declare consumers + a timed live sibling for any new staged artifact")
  }

  test("every performance artifact in the policy is staged in Bench's untimed warmup") {
    // the converse of the check below: a staged artifact declared with a
    // live twin is a PERFORMANCE artifact — if Bench forgets to warm it,
    // its first consumer pays the one-time build on its own clock (the
    // q_bucketed_join 11.3 s lesson from BENCH_r06)
    val bench = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    val warmupStaged =
      """\bops\.[A-Za-z]+\.(stage[A-Za-z]+)\(""".r.findAllMatchIn(bench).map(_.group(1)).toSet
    policy.foreach { case (s, (_, twins)) =>
      if (twins.nonEmpty)
        assert(warmupStaged.contains(s),
          s"$s declares a live twin (performance artifact) but Bench never warms it")
    }
  }

  test("every warmup-staged artifact in Bench has a timed live sibling and registered consumers") {
    val bench = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")), "UTF-8")
    val warmupStaged =
      """\bops\.[A-Za-z]+\.(stage[A-Za-z]+)\(""".r.findAllMatchIn(bench).map(_.group(1)).toSet
    assert(warmupStaged.nonEmpty, "expected Bench to warmup-stage at least one artifact")
    assert(policy.filter(_._2._2.isEmpty).keySet == inputFixtures,
      "only the named input fixtures may declare no live twin")
    assert(inputFixtures.subsetOf(warmupStaged),
      "Bench must stage every input fixture untimed, not inside its consumer's slot")
    warmupStaged.foreach { s =>
      assert(policy.contains(s), s"Bench stages $s but the policy table does not cover it")
      val (consumers, twins) = policy(s)
      assert(twins.nonEmpty || inputFixtures(s),
        s"$s is warmup-staged but declares no timed live sibling — " +
          "a query whose only expensive stage is pre-staged untimed needs a live twin")
      (consumers ++ twins).foreach(q =>
        assert(SparkEntry.queries.contains(q), s"policy cites unregistered query $q"))
    }
  }

  test("kmeans cells: staged and live paths are bit-identical; staged path reads the table") {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val t = s"kmeans_cells${ops.Similarity.KmeansIters}_${ops.Similarity.CentroidStride}$safe"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    util.Staged.sweep(spark, t)
    withClearCache {
      // the consumers self-stage: even the first one reads the table
      for (df <- Seq(ops.Similarity.clusterMix(spark, dir), ops.Similarity.clusterSample(spark, dir)))
        assert(df.queryExecution.optimizedPlan.toString.contains(t)
            || df.queryExecution.executedPlan.toString.contains(t),
          s"cluster consumer should read table $t")
      // the staged assignment is the live twin's Lloyd chain, cell by cell
      val staged = spark.table(t).groupBy("cell")
        .agg(count(lit(1)).as("n_members"), min("vec_id"), max("vec_id"))
        .orderBy("cell").collect().toSeq
      val live = ops.Similarity.kmeans(spark, dir)
        .select("cell", "n_members", "min_member", "max_member").collect().toSeq
      assert(staged == live, "staged kmeans cells differ from the live Lloyd chain of q_kmeans")
    }
  }

  test("simhash fingerprints: staged artifact is a pure materialization; capped consumer reads it") {
    spark.sql(s"DROP TABLE IF EXISTS ${ops.Dedup.simhashFpTable(dir)}")
    withClearCache {
      val live = ops.Dedup.simhashFingerprints(spark, dir)
        .orderBy("doc_id").collect().toSeq
      val staged = ops.Dedup.simhashFpStaged(spark, dir)
        .select("doc_id", "fp").orderBy("doc_id").collect().toSeq
      assert(staged == live, "staged simhash_fp differs from the live fingerprint build")
    }
    val t = ops.Dedup.simhashFpTable(dir)
    val capped = ops.Dedup.simhashCapped(spark, dir)
    assert(capped.queryExecution.optimizedPlan.toString.contains(t)
        || capped.queryExecution.executedPlan.toString.contains(t),
      s"simhashCapped should read the staged table $t, not rebuild fingerprints")
    // the staged consumer is bit-identical to its from-scratch form
    withClearCache {
      val fromScratch = ops.Dedup.simhashPairsCapped(
        ops.Dedup.bandedOf(ops.Dedup.simhashFingerprints(spark, dir)),
        ops.Dedup.MaxBandDF).collect().toSeq
      assert(capped.collect().toSeq == fromScratch,
        "staged-fp capped simhash differs from the from-scratch build")
    }
  }

  test("IVF: the centroid-stride knob names its tables and holds C ~ N/stride") {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val wide = ops.Similarity.CentroidStride.toLong * 3
    spark.sql(s"DROP TABLE IF EXISTS ivf_cells$wide$safe")
    spark.sql(s"DROP TABLE IF EXISTS ivf_cents$wide$safe")
    try {
      val (cellsT, centsT) = ops.Similarity.stageIvfIndex(spark, dir, stride = wide)
      assert(cellsT == s"ivf_cells$wide$safe" && centsT == s"ivf_cents$wide$safe",
        "stride must be part of the staged tables' on-disk contract (their names)")
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val cWide = spark.table(centsT).count()
      // seeds = vec_id % stride == 0 over a dense id range -> C ≈ N/stride
      // (Lloyd refinement may only DROP empty cells, never add)
      assert(cWide <= n / wide + 1 && cWide >= 1,
        s"fixed-C policy: expected ~${n / wide} centroids at stride $wide, got $cWide")
      val cDefault = spark.table(
        ops.Similarity.stageIvfIndex(spark, dir)._2).count()
      assert(cWide < cDefault,
        "a wider stride must produce fewer centroids than the default contract")
      // every corpus vector is still assigned to exactly one cell
      assert(spark.table(cellsT).count() == n,
        "the cell-partitioned corpus must cover every vector exactly once")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ivf_cells$wide$safe")
      spark.sql(s"DROP TABLE IF EXISTS ivf_cents$wide$safe")
    }
  }

  test("IVF: staged ANN keeps its live timed twin — same oracle, bit-identical results") {
    assert(SparkEntry.oracleSql("q_knn_ivf") == SparkEntry.oracleSql("q_knn_ivf_staged"),
      "the staged IVF query must be held to the live query's oracle")
    val live = ops.Similarity.knnIvf(spark, dir).collect().toSeq
    val staged = ops.Similarity.knnIvfStaged(spark, dir).collect().toSeq
    assert(staged == live, "knnIvfStaged result differs from the live knnIvf")
  }

  test("doc shingles: staged artifact is a pure materialization of the live shingle build") {
    spark.sql(s"DROP TABLE IF EXISTS ${ops.Dedup.docShinglesTable(dir)}")
    withClearCache {
      val live = ops.Dedup.docShingles(spark, dir)
        .orderBy("doc_id").collect().toSeq
      val staged = ops.Dedup.docShinglesStaged(spark, dir)
        .select("doc_id", "shingles").orderBy("doc_id").collect().toSeq
      assert(staged == live, "staged doc_shingles differs from the live shingle build")
    }
    // a converted consumer reads the bucketed table, not a re-shingle
    val t = ops.Dedup.docShinglesTable(dir)
    val cp = ops.Dedup.containmentPairs(spark, dir)
    assert(cp.queryExecution.optimizedPlan.toString.contains(t),
      s"containmentPairs should read table $t")
    withClearCache { assert(cp.collect().nonEmpty) }
  }

  test("dedup pairs: staged edge artifact matches the live capped pair build") {
    spark.sql(s"DROP TABLE IF EXISTS ${ops.Dedup.dedupPairsTable(dir)}")
    withClearCache {
      val live = ops.Dedup.jaccardPairsCapped(
          ops.Dedup.docShingles(spark, dir), ops.Dedup.MaxShingleDF)
        .select("doc_a", "doc_b").orderBy("doc_a", "doc_b").collect().toSeq
      ops.Dedup.stageDedupPairs(spark, dir)
      val staged = spark.table(ops.Dedup.dedupPairsTable(dir))
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(staged == live, "staged dedup_pairs differs from the live capped build")
    }
    // both graph consumers resolve off the artifact and still agree with
    // each other on the labeled universe (doc counts conserve)
    withClearCache {
      val resDocs = ops.Dedup.dedupResolution(spark, dir)
        .agg(sum("n_docs")).collect().head.getLong(0)
      val canDocs = ops.Dedup.dedupCanonical(spark, dir)
        .agg(sum("n_docs")).collect().head.getLong(0)
      assert(resDocs == canDocs && resDocs > 0,
        s"resolution/canonical doc universes diverge off the staged pairs: $resDocs vs $canDocs")
    }
  }

  test("co-purchase edges: staged PageRank is bit-identical to live and shares its oracle") {
    assert(SparkEntry.oracleSql("q_pagerank") == SparkEntry.oracleSql("q_pagerank_staged"),
      "the staged PageRank must be held to the live query's oracle")
    withClearCache {
      val live = ops.Graph.pageRank(spark, dir).collect().toSeq
      val staged = ops.Graph.pageRankStaged(spark, dir).collect().toSeq
      assert(staged == live, "pageRankStaged result differs from the live pageRank")
    }
  }

  test("co-purchase edges: consumers read the staged bucketed table") {
    val t = ops.Graph.copurchaseTable(dir)
    ops.Graph.stageCopurchaseEdges(spark, dir)
    // basketPairs' pair supports must come off the artifact, not a self-join
    val bp = ops.Relational.basketPairs(spark, dir)
    assert(bp.queryExecution.optimizedPlan.toString.contains(t),
      s"basketPairs should read table $t")
    withClearCache { bp.collect() }
    // the artifact itself must be the doubled weighted graph with a
    // consistent degree column (s = Σw per source, constant per u)
    val eds = spark.table(t)
    val badDeg = eds.groupBy("u")
      .agg(sum("w").as("ws"), min("s").as("lo"), max("s").as("hi"))
      .filter(col("ws") =!= col("lo") || col("lo") =!= col("hi"))
      .count()
    assert(badDeg == 0L, s"$badDeg nodes with inconsistent staged degree")
    // undirected: every edge appears in both directions with equal weight
    val asym = eds.select(col("u"), col("v"), col("w"))
      .except(eds.select(col("v").as("u"), col("u").as("v"), col("w")))
      .count()
    assert(asym == 0L, s"$asym asymmetric edges in the staged graph")
  }

  test("customer baskets: staged relation is bit-identical to the live lineitem-orders build") {
    withClearCache {
      val live = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck")), "okey")
        .select("ck", "part").distinct()
        .orderBy("ck", "part").collect().toSeq
      ops.Relational.stageCustomerBaskets(spark, dir)
      val staged = spark.table(ops.Relational.customerBasketsTable(dir))
        .orderBy("ck", "part").collect().toSeq
      assert(staged == live, "staged customer baskets differ from the live build")
      val bt = ops.Relational.basketTriples(spark, dir)
      assert(bt.queryExecution.optimizedPlan.toString
               .contains(ops.Relational.customerBasketsTable(dir)),
        "basketTriples should read the staged basket table")
      bt.collect()
    }
  }

  test("knn truth: staged ground truth is bit-identical to the live brute force") {
    withClearCache {
      val live = ops.Similarity.knnBruteForce(spark, dir).collect().toSeq
      ops.Similarity.stageKnnTruth(spark, dir)
      val staged = spark.table(ops.Similarity.knnTruthTable(dir))
        .orderBy("query_id", "rank").collect().toSeq
      assert(staged == live, "staged kNN truth differs from the live brute force")
      // and the recall audits read the table, not a recomputed scan
      val rc = ops.Similarity.knnRecall(spark, dir)
      assert(rc.queryExecution.optimizedPlan.toString
               .contains(ops.Similarity.knnTruthTable(dir)),
        "knnRecall should read the staged truth table")
    }
  }

  test("staged layouts: per-key aggregations read buckets with ZERO exchange") {
    // the write-once clustering's whole point: a HashPartitioning(key, B)
    // scan satisfies ClusteredDistribution(key), so per-key aggregation
    // plans no shuffle at ANY bucket/partition-count combination — the
    // "edges stay put" / "baskets stay put" claim as a plan fact
    ops.Graph.stageCopurchaseEdges(spark, dir)
    val deg = spark.table(ops.Graph.copurchaseTable(dir))
      .groupBy("u").agg(sum("w").as("s"))
    deg.collect()
    val degPlan = deg.queryExecution.executedPlan.toString
    assert(!degPlan.contains("Exchange"),
      s"edge-degree aggregation shuffled the bucketed edge table:\n$degPlan")
    ops.Relational.stageCustomerBaskets(spark, dir)
    val widths = spark.table(ops.Relational.customerBasketsTable(dir))
      .groupBy("ck").agg(count(lit(1)).as("n"))
    widths.collect()
    val widthsPlan = widths.queryExecution.executedPlan.toString
    assert(!widthsPlan.contains("Exchange"),
      s"basket-width aggregation shuffled the bucketed basket table:\n$widthsPlan")
  }

  test("staged pagerank iteration: ONLY the rank relation exchanges — edges stay put") {
    // emulate one power-iteration join exactly as pageRankStaged plans it:
    // the rank side arrives partitioned by the PREVIOUS iteration's
    // destination key (a foreign partitioning), the edge side is the
    // persisted bucketed artifact. With broadcast disabled (at fixture
    // scale the optimizer happily broadcasts the tiny rank side; at 100 TB
    // the node set is the part catalog — corpus-scaling, NOT
    // broadcastable), the scalable plan exchanges rank INTO the edges'
    // bucketing and never moves an edge byte.
    ops.Graph.stageCopurchaseEdges(spark, dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      withClearCache {
        val eds = spark.table(ops.Graph.copurchaseTable(dir)).persist()
        eds.count()
        val rank = eds.select(col("v").as("node")).distinct()
          .select(col("node"), lit(1000000L).as("rank"))
        val step = eds.join(rank, eds("u") === rank("node"))
          .select(col("v"), expr("(rank * w) div s").as("c"))
        step.collect()
        val plan = step.queryExecution.executedPlan.toString
        assert(!"Exchange hashpartitioning\\(u#".r.findFirstIn(plan).isDefined,
          s"the bucketed edge side was shuffled:\n$plan")
        assert("Exchange hashpartitioning\\(node#".r.findFirstIn(plan).isDefined,
          s"expected the rank side to exchange into the edge bucketing:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("staged artifact recovery: a fresh catalog re-registers finished on-disk stages") {
    // the crash-recovery contract: warehouse data outlives the in-memory
    // catalog; a finished stage (_SUCCESS present) must be re-registered
    // as an external table, never re-paid. Simulate the fresh-catalog
    // state by moving the finished files aside across a DROP, restoring
    // them, and re-staging.
    val t = ops.Graph.copurchaseTable(dir)
    ops.Graph.stageCopurchaseEdges(spark, dir)
    val before = spark.table(t).orderBy("u", "v").collect().toSeq
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(warehouse, t)
    val bak = new org.apache.hadoop.fs.Path(warehouse, t + "_bak")
    assert(fs.rename(loc, bak), "could not move staged files aside")
    spark.sql(s"DROP TABLE $t") // catalog entry gone; real files are safe in bak
    assert(fs.rename(bak, loc), "could not restore staged files")
    assert(fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")))
    ops.Graph.stageCopurchaseEdges(spark, dir) // must take the re-register branch
    assert(spark.catalog.tableExists(t), "recovery did not re-register the table")
    val after = spark.table(t).orderBy("u", "v").collect().toSeq
    assert(after == before, "re-registered artifact differs from the original stage")
    // and the re-registered table still carries the bucket spec (zero-
    // exchange aggregation is the layout's contract, not a lucky default)
    val deg = spark.table(t).groupBy("u").agg(sum("w").as("s"))
    deg.collect()
    assert(!deg.queryExecution.executedPlan.toString.contains("Exchange"),
      "re-registered table lost its bucket spec")
  }

  test("pair-staged tables self-heal from a half-staged crash state") {
    // a crash between the pair's two writes leaves exactly one table in
    // the catalog; a first-table-only probe would short-circuit forever
    // while consumers die on the missing half (r12 review item) — the
    // pair scaffold must drop back to disk state and rebuild/re-register
    val (ot, lt) = ops.Relational.stageBucketedTables(spark, dir)
    spark.sql(s"DROP TABLE $lt") // simulate the crash-between-writes state
    assert(spark.catalog.tableExists(ot) && !spark.catalog.tableExists(lt))
    val (ot2, lt2) = ops.Relational.stageBucketedTables(spark, dir)
    assert(spark.catalog.tableExists(ot2) && spark.catalog.tableExists(lt2),
      "half-staged pair did not self-heal")
    assert(spark.table(ot2).count() > 0 && spark.table(lt2).count() > 0)
  }

  test("pair recovery: a finished registered half is never dropped — only the missing half re-registers") {
    // the no-data-loss branch (r12 review): both halves finished on disk,
    // one lost its catalog entry (fresh-catalog state) — recovery must
    // re-register ONLY the missing table and leave the registered one's
    // data untouched
    val (ot, lt) = ops.Relational.stageBucketedTables(spark, dir)
    val before = spark.table(lt).count()
    val fs = util.Staged.fsOf(spark)
    val loc = util.Staged.locOf(spark, lt)
    val bak = new org.apache.hadoop.fs.Path(loc.getParent, lt + "_bak")
    assert(fs.rename(loc, bak), "could not move staged files aside")
    spark.sql(s"DROP TABLE $lt") // entry gone; real files safe in bak
    assert(fs.rename(bak, loc), "could not restore staged files")
    // now: ot registered+complete, lt unregistered+complete
    val (ot2, lt2) = ops.Relational.stageBucketedTables(spark, dir)
    assert(spark.catalog.tableExists(ot2) && spark.catalog.tableExists(lt2))
    assert(spark.table(lt2).count() == before,
      "re-registered half lost rows — recovery rebuilt instead of re-registering")
  }

  test("locOf lowercases the identifier — the _SUCCESS probe matches Spark's warehouse path") {
    // Spark lowercases table identifiers when writing managed data; a
    // mixed-case name would make isComplete probe a path that never
    // exists, so crash-recovery would silently never fire (r12 advice)
    assert(util.Staged.locOf(spark, "Doc_Shingles_MiXeD") ==
           util.Staged.locOf(spark, "doc_shingles_mixed"))
  }

  test("staged artifact recovery: doc_shingles re-registers finished on-disk stages too") {
    // same contract as the co-purchase recovery test, exercised on the
    // round-12 artifact: a finished stage (_SUCCESS present) must be
    // re-registered as an external bucketed table, never re-paid
    val t = ops.Dedup.docShinglesTable(dir)
    ops.Dedup.stageDocShingles(spark, dir)
    val before = spark.table(t).orderBy("doc_id").collect().toSeq
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(warehouse, t)
    val bak = new org.apache.hadoop.fs.Path(warehouse, t + "_bak")
    assert(fs.rename(loc, bak), "could not move staged files aside")
    spark.sql(s"DROP TABLE $t")
    assert(fs.rename(bak, loc), "could not restore staged files")
    assert(fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")))
    ops.Dedup.stageDocShingles(spark, dir) // must take the re-register branch
    assert(spark.catalog.tableExists(t), "recovery did not re-register the table")
    val after = spark.table(t).orderBy("doc_id").collect().toSeq
    assert(after == before, "re-registered artifact differs from the original stage")
  }

  test("staged artifact recovery: simhash_fp re-registers finished on-disk stages too") {
    // same contract as the co-purchase / doc_shingles recovery tests,
    // exercised on the round-13 artifact
    val t = ops.Dedup.simhashFpTable(dir)
    ops.Dedup.stageSimhashFp(spark, dir)
    val before = spark.table(t).orderBy("doc_id").collect().toSeq
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(warehouse, t)
    val bak = new org.apache.hadoop.fs.Path(warehouse, t + "_bak")
    assert(fs.rename(loc, bak), "could not move staged files aside")
    spark.sql(s"DROP TABLE $t")
    assert(fs.rename(bak, loc), "could not restore staged files")
    assert(fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")))
    ops.Dedup.stageSimhashFp(spark, dir) // must take the re-register branch
    assert(spark.catalog.tableExists(t), "recovery did not re-register the table")
    val after = spark.table(t).orderBy("doc_id").collect().toSeq
    assert(after == before, "re-registered artifact differs from the original stage")
  }

  test("bucketed join: staged layout is a pure materialization of the plain join") {
    val plain = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           util.Exact.sum2(util.Exact.revenue).as("revenue"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    assert(ops.Relational.bucketedJoin(spark, dir).collect().toSeq == plain,
      "bucketedJoin over the staged layout differs from the plain live join")
  }
}
