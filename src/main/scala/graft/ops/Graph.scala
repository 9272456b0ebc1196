package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative link analysis over relation-derived graphs — the sibling of
  * the connected-components resolution in [[Dedup]]: CC answers "which
  * nodes belong together", PageRank answers "which nodes matter", the
  * relevance-weighting signal a curation pipeline uses to pick canonical
  * documents/products out of a similarity or co-occurrence graph.
  */
object Graph {

  /** Fixed-point scale for rank integers (the quantized-integer
    * determinism idiom shared with the Lloyd chain): all PageRank
    * arithmetic is integer multiply / integer divide, so every engine
    * computes bit-identical ranks — no float summation order anywhere.
    */
  val PrScale = 1000000L

  /** Damping in percent (d = 0.85) — kept as the integer pair (85, 15)
    * so the update rule stays all-integer: r' = 0.15·scale + (85·Σ
    * contrib) div 100.
    */
  val PrDampPct = 85L

  /** Power iterations. Three suffice for a stable leaderboard on the
    * co-purchase graph; the oracle unrolls exactly this many rounds.
    */
  val PrIters = 3

  /** Leaderboard size. */
  val PrTopK = 15

  /** q_pagerank: PageRank centrality of parts in the co-purchase graph
    * (nodes = parts, undirected edges = "appeared in the same order",
    * weight = number of shared orders — [[Relational.basketPairs]]' graph
    * without the top-k cut). [[PrIters]] damped power iterations in exact
    * integer arithmetic: ranks are [[PrScale]]-scaled longs, each
    * neighbor contribution is `(rank·w) div s` (s = weighted degree), and
    * the damping mix is integer percent math — bit-identical across
    * engines by construction, like every iterated chain in this repo
    * (Lloyd, BPE, label propagation).
    *
    * Scale shape: the edge relation is built once from the per-order
    * distinct part sets (pair fan-out bounded by order size, the
    * basket-pairs bound) and persisted with its degree column; each
    * iteration is one edge⋈rank equi-join on the source node plus one
    * map-side combined sum keyed by the destination — the standard
    * edge-partitioned distributed PageRank step (ranks shuffle, edges
    * stay put; generational persist + eager materialize + unpersist keeps
    * the loop lineage flat). The leaderboard is a distributed top-k.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // persist the pair aggregation FIRST: edges (×2 via the union), deg,
    // and the eds join all re-derive from it — unpersisted, the per-order
    // self-join would run ~6 times before the loop even starts.
    // No join hint here, deliberately: hinting one side of this SELF-join
    // de-duplicates the two sides' otherwise-identical subplans, so the
    // lineitem scan + distinct runs twice and the exchange is not reused —
    // measured 11-13 s warm vs 6.5-7.3 unhinted (r15). The planner's
    // o-keyed shuffle join IS the scalable shape at corpus size; only the
    // sub-second sf0.001 warm pass plans it differently (broadcast), a
    // compile-warmth gap the adjacent preWarm pass can't close but one
    // that costs ~1-2 s once, not a scale defect.
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("w"))
      // SER (here and on eds below): packed bytes instead of millions of
      // deserialized row objects — the in-suite GC-robustness rule the
      // APSS fix set; this query's r12-r14 in-suite envelope (8.8-26.8 s
      // on identical code) is the old-gen-debt amplification class
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    pairs.count()
    val edges = pairs.select("u", "v", "w")
      .unionByName(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    // deg is node-cardinality narrow and feeds both the loop join and the
    // final readout — persisted for the query's lifetime (the narrow-
    // relation convention; Bench clears caches between queries)
    val deg = edges.groupBy("u").agg(sum("w").as("s")).persist()
    deg.count()
    // deg is broadcast at fixture scale, so the join alone would leave the
    // union's UNKNOWN partitioning on the cached relation — and every
    // iteration would re-exchange the full edge relation (StageBench r15:
    // 9-10 MB shuffle-written per iteration, the join reading 937k
    // re-shuffled rows). One explicit hash repartition on the iteration
    // key gives the cache HashPartitioning(u, width): the loop joins then
    // exchange ONLY the node-cardinality rank relation — "ranks shuffle,
    // edges stay put" as a plan fact for the LIVE build, matching what
    // StagedArtifactsSpec asserts of the bucketed twin. It also makes the
    // loop's plan scale-INVARIANT (no AQE broadcast-vs-shuffle flip
    // between sf0.001 and sf0.1), so the Bench preWarm pass compiles
    // exactly the classes the timed run executes.
    val eds = edges.join(deg, "u")
      .repartition(spark.sessionState.conf.numShufflePartitions, col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    eds.count() // one edge build feeds every iteration
    pairs.unpersist(blocking = false)
    val base = (100L - PrDampPct) * PrScale / 100L
    var rank = deg.select(col("u").as("node"), lit(PrScale).as("rank")).persist()
    rank.count()
    for (_ <- 1 to PrIters) {
      // shuffle_hash on the rank side: build the hash map on the exchanged
      // node-cardinality relation and STREAM the cached edges in place —
      // no per-iteration edge sort (SMJ would re-sort the 937k cached rows
      // every round), no broadcast (the node set is the part catalog,
      // corpus-sized at 100 TB — the scalable join is the shuffled one)
      val next = eds.join(rank.hint("shuffle_hash"), eds("u") === rank("node"))
        .select(col("v"), expr("(rank * w) div s").as("c"))
        .groupBy("v")
        .agg(sum("c").as("sc"))
        .select(col("v").as("node"),
                (lit(base) + expr(s"($PrDampPct * sc) div 100")).as("rank"))
        .persist()
      next.count()
      rank.unpersist(blocking = false)
      rank = next
    }
    val out = rank.join(deg, rank("node") === deg("u"))
      .select(col("node").as("partkey"), col("rank").as("pr_rank"),
              col("s").as("degree_w"))
      .orderBy(col("pr_rank").desc, col("partkey"))
      .limit(PrTopK)
    eds.unpersist(blocking = false)
    out
  }

  val pageRankOracle: String = {
    val base = (100L - PrDampPct) * PrScale / 100L
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT e.v AS node,
         |         CAST($base + ($PrDampPct * SUM((r.rank * e.w) // e.s)) // 100 AS BIGINT) AS rank
         |  FROM e JOIN r${i - 1} r ON r.node = e.u GROUP BY 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pr AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS w
       |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |ed AS (SELECT u, v, w FROM pr UNION ALL SELECT v, u, w FROM pr),
       |d AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s FROM ed GROUP BY 1),
       |e AS (SELECT ed.u, ed.v, ed.w, d.s FROM ed JOIN d ON ed.u = d.u),
       |r0 AS (SELECT u AS node, CAST($PrScale AS BIGINT) AS rank FROM d),
       |$iters
       |SELECT r.node AS partkey, r.rank AS pr_rank, d.s AS degree_w
       |FROM r$PrIters r JOIN d ON d.u = r.node
       |ORDER BY pr_rank DESC, partkey LIMIT $PrTopK""".stripMargin
  }

  // --- staged co-purchase edge artifact ------------------------------------------

  /** Bucket count for [[stageCopurchaseEdges]] — part of the on-disk layout
    * contract, so part of the staged table name (the
    * [[graft.ops.Relational.stageBucketedTables]] rule): a bucket-count
    * change can never silently re-read files clustered under the old spec.
    * Matched to the fixture's shuffle width; at 100 TB raise it with the
    * cluster (the shape, not the constant, is the contract).
    */
  val EdgeBuckets = 8

  /** Warehouse table name for the staged co-purchase edge relation of
    * `dir` (content-addressed by fixture dir, like every staged artifact).
    */
  def copurchaseTable(dir: String): String =
    s"copurchase_edges$EdgeBuckets" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the co-purchase edge relation as a WRITE-ONCE artifact:
    * `(u, v, w, s)` — the undirected weighted graph materialized in both
    * directions with the weighted degree `s = Σw` per source — bucketed
    * and sorted by `u`, so every consumer's per-source join or aggregation
    * reads pre-clustered buckets with zero exchange on the edge side
    * ("ranks shuffle, edges stay put" made a LAYOUT fact, not a cache
    * fact).
    *
    * This is the r10 verdict's top item: six queries each re-derived this
    * same relation from lineitem (~1.5-2.5 s apiece at sf0.1); staging it
    * once in Bench's untimed warmup makes the production build-once/
    * consume-many shape the measured one. The live pair build stays TIMED
    * in [[pageRank]] (the StagedArtifactsSpec twin policy), and the
    * artifact is a pure materialization — every consumer is bit-identical
    * to its from-scratch form, so all ride their original oracles.
    *
    * Same crash-recovery contract as the other staged tables: a fresh
    * session re-registers a finished on-disk stage (`_SUCCESS` present)
    * as an external bucketed table; a partial stage is swept and rebuilt.
    */
  def stageCopurchaseEdges(spark: SparkSession, dir: String): String = {
    val t = copurchaseTable(dir)
    graft.util.Staged.stage(spark, t)(loc =>
        s"""CREATE TABLE $t (u BIGINT, v BIGINT, w BIGINT, s BIGINT)
           |USING PARQUET
           |CLUSTERED BY (u) SORTED BY (u) INTO $EdgeBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin) {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("w"))
        .persist()
      pairs.count() // feeds both union branches (+ deg via the union)
      val edges = pairs.select("u", "v", "w")
        .unionByName(pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
        .persist()
      edges.count() // feeds deg + the final join
      // deg is node-cardinality narrow but the node set is the part
      // catalog — it SCALES with the corpus, so no forced broadcast:
      // the planner broadcasts at fixture scale and key-shuffles at
      // corpus scale (a one-time cost inside the amortized stage)
      val deg = edges.groupBy("u").agg(sum("w").as("s"))
      // repartition on the bucket column first: the bucket hash and the
      // shuffle hash agree, so each task owns exactly one bucket → one
      // file per bucket instead of tasks × buckets
      edges.join(deg, "u")
        .repartition(EdgeBuckets, col("u"))
        .write.bucketBy(EdgeBuckets, "u").sortBy("u")
        .mode("overwrite").saveAsTable(t)
      edges.unpersist(blocking = false)
      pairs.unpersist(blocking = false)
    }
    t
  }

  /** q_pagerank_staged: PageRank served OFF THE STAGED EDGE ARTIFACT —
    * the consume-many half of [[stageCopurchaseEdges]]'s build-once shape,
    * exactly analogous to [[graft.ops.Similarity.knnIvfStaged]] for ANN.
    * The iterations are [[pageRank]]'s own integer update rule verbatim;
    * what changes is the physical shape: the edge relation is one bucketed
    * artifact read (persisted across iterations — the cached scan KEEPS
    * the bucket layout's HashPartitioning), the degree relation re-derives
    * zero-exchange off that layout (`s` is constant per `u`), and each
    * iteration's join exchanges ONLY the node-cardinality rank relation
    * into the edges' bucketing — "ranks shuffle, edges stay put" as a plan
    * fact (StagedArtifactsSpec asserts the single-exchange join). The rank
    * relation is deliberately NOT broadcast: the node set is the part
    * catalog, which SCALES WITH THE CORPUS in TPC-H-shaped data — at
    * 100 TB it is billions of rows, so the scalable join is the shuffled
    * one, and the layout makes it half-price. Integer arithmetic makes the
    * result bit-identical to [[pageRank]], so it rides the SAME oracle
    * (StagedArtifactsSpec locks both the equality and the oracle sharing).
    */
  def pageRankStaged(spark: SparkSession, dir: String): DataFrame = {
    val eds = spark.table(stageCopurchaseEdges(spark, dir)).persist()
    eds.count() // one artifact read feeds every iteration
    val deg = eds.groupBy("u").agg(min("s").as("s")).persist()
    deg.count()
    val base = (100L - PrDampPct) * PrScale / 100L
    var rank = deg.select(col("u").as("node"), lit(PrScale).as("rank")).persist()
    rank.count()
    for (_ <- 1 to PrIters) {
      val next = eds.join(rank, eds("u") === rank("node"))
        .select(col("v"), expr("(rank * w) div s").as("c"))
        .groupBy("v")
        .agg(sum("c").as("sc"))
        .select(col("v").as("node"),
                (lit(base) + expr(s"($PrDampPct * sc) div 100")).as("rank"))
        .persist()
      next.count()
      rank.unpersist(blocking = false)
      rank = next
    }
    // deg stays pinned for the readout's lifetime (the pageRank convention)
    val out = rank.join(deg, rank("node") === deg("u"))
      .select(col("node").as("partkey"), col("rank").as("pr_rank"),
              col("s").as("degree_w"))
      .orderBy(col("pr_rank").desc, col("partkey"))
      .limit(PrTopK)
    eds.unpersist(blocking = false)
    out
  }

  // --- triangle counting -------------------------------------------------------

  /** Hub-community size for [[triangles]]: the census runs on the subgraph
    * induced by the [[TriHubs]] most frequently ordered parts (ties by id).
    * Full-graph exact triangle counting on the co-purchase graph is
    * quadratic-ish in basket density (measured ~35M wedges / ~18 s at
    * sf0.1 — it would be the suite's worst query), so the hub cut gates
    * the WEDGE fan-out — the actual super-linear step. The induced edge
    * set itself now comes off the staged co-purchase artifact
    * ([[stageCopurchaseEdges]]; its per-order pair build is linear-ish in
    * lineitem and amortized across the whole graph family), restricted to
    * hub endpoints by broadcast semi-joins before any wedge is generated —
    * prune-before-fan-out, relocated to the artifact read.
    */
  val TriHubs = 2000

  /** Leaderboard size for [[triangles]]. */
  val TriTopK = 15

  /** q_triangles: per-node triangle counts in the co-purchase subgraph of
    * the [[TriHubs]] most-ordered parts — the local-clustering signal next
    * to [[pageRank]]'s centrality: PageRank says "this part matters",
    * triangles say "this part sits in a tight co-purchase community" (the
    * community-density prior a curation pipeline uses when picking
    * canonical representatives out of a similarity graph).
    *
    * The census is the DEGREE-ORIENTED wedge join (the standard
    * distributed triangle algorithm): every induced edge is oriented from
    * its lower-(degree, id) endpoint to the higher one, wedges are
    * generated by self-joining oriented edges on their source, and a wedge
    * (y, z) closes iff the oriented edge y→z exists. Orientation bounds
    * each node's out-degree by O(√m) on any graph (arboricity bound), so
    * the wedge relation — the only super-linear intermediate — is
    * O(m^1.5) worst-case instead of the Σdeg² a raw adjacency self-join
    * pays; hub-degree nodes produce NO wedges (their edges all point INTO
    * them). Each triangle is found exactly once (at its lowest-ordered
    * apex) and credited to all three corners via one tiny union; the hub
    * cut and the leaderboard are distributed top-ks.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // hub rank = per-part ORDER frequency — not derivable from the pair
    // relation (singleton orders never reach it), so it keeps its own
    // one-scan map-side-combined count
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val hubs = li.groupBy("p").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("p")).limit(TriHubs)
      .select("p")
    // the induced edge set is the staged co-purchase artifact's u<v half
    // restricted to hub endpoints (build-once/consume-many — the staged
    // pairs ARE the distinct co-occurrence relation, so the per-order
    // quadratic fan-out is paid once in the untimed stage, and the hub cut
    // still gates the wedge fan-out, the actual super-linear step below)
    val induced = spark.table(stageCopurchaseEdges(spark, dir))
      .filter(col("u") < col("v"))
      .join(broadcast(hubs.select(col("p").as("u"))), Seq("u"), "left_semi")
      .join(broadcast(hubs.select(col("p").as("v"))), Seq("v"), "left_semi")
      .select("u", "v")
      .persist()
    induced.count() // feeds the induced degree and both orientation sides
    val ideg = induced.select(col("u").as("node"))
      .unionByName(induced.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient: src = lower (d, id) endpoint; ties cannot happen on id
    // ideg is bounded at TriHubs rows by construction — always broadcast
    val withDeg = induced
      .join(broadcast(ideg.select(col("node").as("u"), col("d").as("du"))), "u")
      .join(broadcast(ideg.select(col("node").as("v"), col("d").as("dv"))), "v")
    val oriented = withDeg.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .join(broadcast(ideg.select(col("node").as("dst"), col("d").as("dd"))), "dst")
      .select(col("src"), col("dst"), col("dd"))
      .persist()
    oriented.count() // one oriented edge build feeds wedges + closure probe
    // wedges from a common apex, ordered so (y, z) matches an oriented edge
    val e1 = oriented.select(col("src").as("x"), col("dst").as("y"), col("dd").as("dy"))
    val e2 = oriented.select(col("src").as("x"), col("dst").as("z"), col("dd").as("dz"))
    val wedges = e1.join(e2, Seq("x"))
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("x"), col("y"), col("z"))
    val tris = wedges.join(
        oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .persist()
    tris.count()
    val perNode = tris.select(col("x").as("node"))
      .unionByName(tris.select(col("y").as("node")))
      .unionByName(tris.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    // tris (tiny) + induced (edge-narrow, feeds the readout's ideg) stay
    // cached for the readout's lifetime (the pageRank convention — Bench
    // clears caches between queries); oriented is released now.
    oriented.unpersist(blocking = false)
    perNode.join(broadcast(ideg), "node")
      .select(col("node").as("partkey"), col("n_tri"), col("d").as("degree"))
      .orderBy(col("n_tri").desc, col("partkey"))
      .limit(TriTopK)
  }

  // --- breadth-first search ----------------------------------------------------

  /** Hop bound for [[bfsHops]] — the oracle unrolls exactly this many
    * frontier expansions.
    */
  val BfsHops = 4

  /** q_bfs_hops: hop-bounded single-source BFS over the co-purchase graph —
    * the per-level reachability census (how many parts sit 1, 2, 3, 4
    * co-purchase hops from the most-connected hub). Distance-from-anchor is
    * the third iterated-graph primitive next to [[pageRank]] (importance)
    * and the [[graft.ops.Dedup]] resolution (membership): recommendation
    * radius, blast-radius audits, and label-propagation seeds all reduce to
    * it.
    *
    * The source is the maximum-degree node (ties by id), chosen IN-PLAN
    * from a 1-row top-k — no driver-side scalar leaves the cluster.
    *
    * Scale shape: textbook distributed frontier expansion. The edge
    * relation comes off the STAGED co-purchase artifact
    * ([[stageCopurchaseEdges]] — build-once/consume-many; [[pageRank]]
    * keeps the live pair build timed per the StagedArtifactsSpec twin
    * policy) and is persisted; each hop is one edges⋈frontier equi-join on the source
    * node, a distinct, and an anti-join against the accumulated visited
    * set — all key-only shuffles of 8-byte ids. The frontier starts at one
    * row (AQE broadcasts it) and the visited set grows monotonically, the
    * exact shape Pregel-style BFS runs at 100 TB. Each generation is cut
    * with an EAGER localCheckpoint, not a bare persist: the visited
    * relation re-enters its own successor THREE times per hop (union +
    * frontier + anti-join), so the un-truncated logical plan grows 3^h —
    * the classic iterative-lineage explosion that OOMs the DRIVER long
    * before executors feel anything (measured: the 4-hop analyzed plan is
    * ~80k formatted lines un-truncated, ~100 truncated). The readout is
    * one tiny per-hop aggregation (count/sum/min/max over ≤ [[BfsHops]]+1
    * groups).
    */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val edges = spark.table(stageCopurchaseEdges(spark, dir))
      .select("u", "v")
      .persist()
    edges.count() // one artifact read feeds the source pick + every hop
    // max-degree source, ties by id — a 1-row distributed top-k
    val src = edges.groupBy("u").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("u")).limit(1)
      .select(col("u").as("node"))
    // eager localCheckpoint = materialize + TRUNCATE lineage (see scaladoc;
    // a plain persist leaves the 3^h logical plan in place). Generations
    // are node-cardinality narrow; the ContextCleaner reclaims them.
    var visited = src.select(col("node"), lit(0L).as("hop")).localCheckpoint(true)
    var frontier = visited.select("node")
    for (h <- 1 to BfsHops) {
      val next = edges.join(frontier.select(col("node").as("u")), "u")
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hop"))
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = visited.filter(col("hop") === h).select("node")
    }
    edges.unpersist(blocking = false)
    visited.groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum("node").as("sum_node"),
           min("node").as("min_node"), max("node").as("max_node"))
      .orderBy("hop")
  }

  val bfsHopsOracle: String = {
    val levels = (1 to BfsHops).map { h =>
      s"""f$h AS (SELECT DISTINCT ed.v AS node FROM ed JOIN f${h - 1} f ON ed.u = f.node
         |        WHERE ed.v NOT IN (SELECT node FROM v${h - 1})),
         |v$h AS (SELECT * FROM v${h - 1}
         |        UNION ALL SELECT node, CAST($h AS BIGINT) FROM f$h)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pr AS (SELECT a.p AS u, b.p AS v FROM li a
       |       JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |ed AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
       |src AS (SELECT u AS node FROM (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1)
       |        ORDER BY d DESC, u LIMIT 1),
       |f0 AS (SELECT node FROM src),
       |v0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM src),
       |$levels
       |SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |       CAST(SUM(node) AS BIGINT) AS sum_node,
       |       MIN(node) AS min_node, MAX(node) AS max_node
       |FROM v$BfsHops GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val trianglesOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |hub AS (SELECT p FROM (SELECT p, COUNT(*) AS f FROM li GROUP BY 1)
       |        ORDER BY f DESC, p LIMIT $TriHubs),
       |hli AS (SELECT o, p FROM li WHERE p IN (SELECT p FROM hub)),
       |ind AS (SELECT DISTINCT a.p AS u, b.p AS v
       |        FROM hli a JOIN hli b ON a.o = b.o AND a.p < b.p),
       |idg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |          SELECT u AS node FROM ind UNION ALL SELECT v FROM ind) GROUP BY 1),
       |ori AS (
       |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
       |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst
       |  FROM ind JOIN idg du ON du.node = ind.u JOIN idg dv ON dv.node = ind.v),
       |orid AS (SELECT ori.src, ori.dst, idg.d AS dd FROM ori JOIN idg ON idg.node = ori.dst),
       |tri AS (
       |  SELECT e1.x, e1.y, e2.z
       |  FROM (SELECT src AS x, dst AS y, dd AS dy FROM orid) e1
       |  JOIN (SELECT src AS x, dst AS z, dd AS dz FROM orid) e2 USING (x)
       |  JOIN ori e3 ON e3.src = e1.y AND e3.dst = e2.z
       |  WHERE e1.dy < e2.dz OR (e1.dy = e2.dz AND e1.y < e2.z)),
       |per AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |          SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |          UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT per.node AS partkey, per.n_tri, idg.d AS degree
       |FROM per JOIN idg USING (node)
       |ORDER BY n_tri DESC, partkey LIMIT $TriTopK""".stripMargin
}
