package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label) — SURVEY.md §2.8 north-star ops.
  *
  *  - [[knnBruteForce]]: exact cosine top-k — the correctness baseline. The
  *    query side is tiny and broadcast; the corpus side streams through one
  *    whole-stage-codegen'd projection, so at 100 TB this is one scan, no
  *    shuffle except the final per-query top-k (k rows per partition via
  *    window over a repartition on query_id).
  *  - [[knnIvf]]: IVF (inverted-file) ANN — assign every vector to its
  *    nearest centroid cell (one broadcast join), probe the nprobe nearest
  *    cells per query, exact re-rank inside probed cells. The scale path:
  *    candidate set shrinks by ncells/nprobe, shuffle keyed on cell id.
  *  - [[embedNearDupLsh]]: sign-random-projection LSH near-dup — bucket by
  *    hyperplane sign bits, verify exact cosine within buckets only.
  *
  * Determinism: centroids are the vec_id % [[CentroidStride]] == 0 vectors
  * (data-derived, no RNG); LSH hyperplanes are ±1 vectors derived from md5
  * at plan-build time and inlined as literals into BOTH the Spark plan and
  * the DuckDB oracle SQL — so even the ANN results are exactly
  * oracle-checkable.
  *
  * All arithmetic is double (floats are widened first); dot products fold
  * left-to-right on both engines, so scores agree bit-for-bit.
  */
object Similarity {

  val Dim            = 64
  val TopK           = 5
  /** Query-set selector: queries = vec_id % 50 == 0 — the fixture's proxy
    * for "a batch of search queries". Scalability framing for every
    * `broadcast(queries)` in this module: the broadcast ceiling binds the
    * QUERY BATCH, not the corpus — production serves queries in bounded
    * batches (and at 100 TB the corpus side additionally prunes through
    * the IVF/PQ candidate paths demonstrated here), so the stride is a
    * workload knob, not a corpus-growth liability like a node catalog.
    */
  val QueryStride    = 50  // queries = vec_id % 50 == 0
  val CentroidStride = 37  // IVF centroids = vec_id % 37 == 0
  val NProbe         = 3
  val LshPlanes      = 4   // bits per LSH table
  val LshTables      = 4
  val NearDupCos     = 0.45

  // --- cosine machinery ------------------------------------------------------

  /** Double-widened copy of a float vector column — the codegen'd
    * [[graft.plans.VecCastDouble]] primitive loop (exact widening, same
    * per-element result as the `transform(v, _.cast("double"))` HOF it
    * replaced, which evaluated an interpreted Cast per element on every
    * vector of every similarity query — guide §4).
    */
  def asDouble(v: Column): Column = graft.plans.VecCastDouble.column(v)

  /** Sequential-fold dot product (matches DuckDB list_dot_product order) —
    * the codegen'd [[graft.plans.VecDot]] primitive loop; bit-identical to
    * the `aggregate(zip_with(...))` HOF form it replaced, but it stays
    * inside whole-stage codegen and allocates no zipped intermediate.
    */
  def dot(a: Column, b: Column): Column = graft.plans.VecDot.column(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private val vecSql = "(embedding::DOUBLE[])"

  private def cosineSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** (vec_id, v, nv): vectors with their norm precomputed BEFORE any join —
    * joins are projection barriers, so each norm is folded once per vector
    * instead of once per compared pair (3× less fold work in the top-k
    * scans).
    */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.util.Spread.forCpu(Tables.embeddings(spark, dir))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))

  /** Pairwise cosine from precomputed norms. */
  private def pairSim(qv: Column, v: Column, nq: Column, nv: Column): Column =
    dot(qv, v) / (nq * nv)

  // --- brute-force top-k -----------------------------------------------------

  /** q_knn_bruteforce: exact cosine top-[[TopK]] for each query vector
    * (vec_id % [[QueryStride]] == 0), self excluded, ties broken by
    * neighbor id.
    */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val scored = vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  val knnBruteForceOracle: String =
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $QueryStride = 0),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("qv", "v")} AS sim
       |  FROM e JOIN q ON e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // --- hard-negative mining --------------------------------------------------

  /** q_hard_negatives: contrastive hard-negative mining — for each query
    * vector, the [[TopK]] most-cosine-similar corpus vectors carrying a
    * DIFFERENT label. This is the standard retrieval/contrastive-training
    * data-prep pass: positives come from the query's own label, and the
    * highest-similarity cross-label vectors are exactly the "hard"
    * negatives worth putting in the batch (easy negatives teach nothing).
    *
    * Plan shape is [[knnBruteForce]] with the self-exclusion predicate
    * widened to label inequality: the tiny query side broadcasts, the
    * corpus streams through one codegen'd projection, and the only
    * shuffle is the per-query top-k. At 100 TB the same IVF/PQ candidate
    * pruning the q_knn_ivf_pq line demonstrates composes in front of this
    * scoring unchanged (the label filter is a cheap residual predicate on
    * the candidate stream) — brute force is kept here so the mining pass
    * itself stays exactly oracle-checkable.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val vecs = graft.util.Spread.forCpu(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
              col("v").as("qv"), col("nv").as("nq"))
    val scored = vecs.join(broadcast(queries), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  val hardNegativesOracle: String =
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |      FROM e WHERE vec_id % $QueryStride = 0),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("qv", "v")} AS sim
       |  FROM e JOIN q ON e.label <> q.qlabel),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** Eval-set stride for embedding decontamination: every 97th vector
    * (prime, so it never aliases [[QueryStride]]/[[CentroidStride]]) plays
    * the held-out benchmark role.
    */
  val EvalStride = 97

  /** Flag threshold for embedding decontamination — deliberately below
    * [[NearDupCos]]: decontamination wants RECALL (a missed contaminated
    * doc poisons an eval number; a false flag just costs a review), and on
    * the synthetic embedding space ambient cross-vector cosine sits ≈0.30
    * while related vectors reach 0.40+, so 0.40 keeps the flag path
    * non-vacuous at every fixture scale.
    */
  val EmbedDecontCos = 0.40

  /** q_decontamination_embed: SEMANTIC decontamination — flag corpus
    * vectors whose cosine to ANY eval-set vector reaches
    * [[EmbedDecontCos]].
    * The embedding-space complement of the n-gram/exact-substring
    * decontamination family ([[graft.ops.Dedup]]): paraphrased or
    * re-rendered benchmark items share no 13-gram but sit right next to
    * the eval item in embedding space, which is how modern pipelines
    * catch them.
    *
    * Plan: the eval side broadcasts (held-out sets are small by
    * definition), the corpus streams through one codegen'd scoring
    * projection, the per-vector max collapses map-side (groupBy max —
    * never a window over N×E scored rows), and the per-label audit is one
    * more tiny aggregation. One corpus pass, no shuffle wider than
    * (vec_id, max_sim). At 100 TB the IVF/PQ candidate pruning composes
    * in front unchanged — brute force keeps the audit exactly
    * oracle-checkable (per-vector max of a fixed double expression, then
    * per-label max/count — all order-independent).
    */
  def decontaminationEmbed(spark: SparkSession, dir: String): DataFrame =
    embedDecontAudit(graft.util.Spread.forCpu(Tables.embeddings(spark, dir)))

  /** [[decontaminationEmbed]] core over an explicit embeddings relation
    * (injectable for planted-contamination tests).
    */
  def embedDecontAudit(embIn: DataFrame): DataFrame = {
    val vecs = embIn
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
    val evalSet = vecs.filter(col("vec_id") % EvalStride === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nv").as("ne"))
    val perVec = vecs.join(broadcast(evalSet), col("vec_id") =!= col("eval_id"))
      .select(col("vec_id"), col("label"),
              pairSim(col("ev"), col("v"), col("ne"), col("nv")).as("sim"))
      .groupBy("vec_id", "label")
      .agg(max("sim").as("max_sim"))
    vecs.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      .join(perVec.groupBy("label").agg(
          sum(when(col("max_sim") >= EmbedDecontCos, 1L).otherwise(0L)).as("n_flagged"),
          max("max_sim").as("max_sim")),
        Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"), col("max_sim"))
      .orderBy("label")
  }

  val decontaminationEmbedOracle: String =
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id % $EvalStride = 0),
       |per AS (
       |  SELECT vec_id, label, MAX(${cosineSql("evv", "v")}) AS max_sim
       |  FROM e JOIN ev ON e.vec_id <> ev.eval_id
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT label,
       |         CAST(SUM(CASE WHEN max_sim >= $EmbedDecontCos THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |         MAX(max_sim) AS max_sim
       |  FROM per GROUP BY 1)
       |SELECT e.label, COUNT(*) AS n_vecs,
       |       COALESCE(MAX(agg.n_flagged), 0) AS n_flagged,
       |       MAX(agg.max_sim) AS max_sim
       |FROM e LEFT JOIN agg ON e.label = agg.label
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- mutual-kNN graph ------------------------------------------------------

  /** q_knn_mutual: the reciprocal (mutual) kNN graph over the query-stride
    * subset — edges (a, b) where b is in a's cosine top-[[TopK]] AND a is
    * in b's. Mutual-kNN edges are the high-precision backbone used for
    * graph-based semantic clustering and for consistency-filtering ANN
    * results (an asymmetric neighbor is usually a hub artifact; a mutual
    * one is a genuine semantic tie).
    *
    * Plan: ONE top-k pass over the subset (broadcast both-sides self-score,
    * per-query partial top-k), persisted, then a self-join of that ranked
    * edge list on the reversed pair — the mutuality test touches only
    * k·|subset| edges, never the corpus. Cosine is symmetric bit-for-bit
    * (the sequential fold multiplies the same components in the same index
    * order on either argument side), so (a,b) and (b,a) carry the same
    * `sim` and the edge list needs no re-scoring.
    */
  def knnMutual(spark: SparkSession, dir: String): DataFrame = {
    val sub = vectors(spark, dir).filter(col("vec_id") % QueryStride === 0)
    val queries = sub.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val scored = sub.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "sim")
      .persist()
    // pin the cache before the self-join: both sides race to compute the
    // uncached O(N×Q) scoring lineage concurrently on first action otherwise
    // (the knnRecall/apssPairsCapped flapping pattern)
    ranked.count()
    ranked.as("x").join(ranked.as("y"),
        col("x.query_id") === col("y.neighbor_id") &&
          col("x.neighbor_id") === col("y.query_id") &&
          col("x.query_id") < col("x.neighbor_id"))
      .select(col("x.query_id").as("id_a"), col("x.neighbor_id").as("id_b"),
              col("x.sim").as("sim"))
      .orderBy("id_a", "id_b")
  }

  val knnMutualOracle: String =
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings
       |           WHERE vec_id % $QueryStride = 0),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("qv", "v")} AS sim
       |  FROM e JOIN q ON e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                     ORDER BY sim DESC, neighbor_id) AS rank
       |        FROM scored)
       |  WHERE rank <= $TopK)
       |SELECT x.query_id AS id_a, x.neighbor_id AS id_b, x.sim AS sim
       |FROM ranked x JOIN ranked y
       |  ON x.query_id = y.neighbor_id AND x.neighbor_id = y.query_id
       | AND x.query_id < x.neighbor_id
       |ORDER BY 1, 2""".stripMargin

  // --- IVF ANN ---------------------------------------------------------------

  /** Quantization scale for the Lloyd centroid accumulator: components
    * become `floor(x · 2^20)` longs before summing. The multiply and floor
    * are exact IEEE ops computed identically by Spark and DuckDB, and long
    * addition is associative — so the refined centroids are bit-identical
    * across engines AND across any Spark partial-aggregation order.
    */
  val QuantScale = 1048576.0 // 2^20

  /** Element-wise exact long sum of equal-length arrays — the Lloyd
    * centroid accumulator. Partial buffers combine map-side, so only
    * cells×dim longs cross the shuffle (never N×dim exploded rows).
    */
  object VecLongSum extends org.apache.spark.sql.expressions.Aggregator[
      Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], a: Array[Long]): Array[Long] =
      if (b.isEmpty) a.clone
      else { var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else { var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Nearest-centroid assignment: argmax cosine over centroids (ties ->
    * min cent_id) as a max_by AGGREGATION, not a row_number window: the
    * aggregation partial-combines map-side, so only one candidate per
    * vec_id leaves each map task — a window cannot partial-aggregate and
    * would shuffle all N×C scored rows. Tie-break matches (csim DESC,
    * cent_id ASC) via the lexicographic struct ordering on (csim,
    * -cent_id). `vecs` = (vec_id, v, nv); `cents` = (cent_id, cv, nc).
    */
  def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nv"), col("cent_id"),
              pairSim(col("v"), col("cv"), col("nv"), col("nc")).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("v"), col("nv"), col("cent_id")),
                  struct(col("csim"), -col("cent_id"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nv").as("nv"),
              col("best.cent_id").as("cell"))

  /** One aggregation-only Lloyd refinement step: assign every vector to
    * its nearest seed centroid, then replace each cell's centroid with the
    * cell's member SUM. Cosine is scale-invariant, so the sum IS the mean
    * direction — no division, and with components quantized to
    * `floor(x · [[QuantScale]])` the whole step is exact integer
    * arithmetic: deterministic under any partitioning and bit-identical
    * to the SQL oracle. This is the defense against hot cells under
    * clustered data: strided-row seeds that land inside one cluster get
    * pulled toward the actual member mass, splitting the hot cell (see
    * ExtensionsSpec "lloyd refinement rebalances"). Empty and zero-sum
    * cells drop out (standard Lloyd). Cells keep their seed's cent_id.
    */
  def refinedCentroids(vecs: DataFrame, seeds: DataFrame): DataFrame = {
    val sumAgg = udaf(VecLongSum)
    assignCells(vecs, seeds)
      .select(col("cell"),
              graft.plans.VecScaleFloor.column(col("v"), lit(QuantScale)).as("q"))
      .groupBy("cell")
      .agg(sumAgg(col("q")).as("cs"))
      .select(col("cell").as("cent_id"),
              asDouble(col("cs")).as("cv"))
      .withColumn("nc", norm(col("cv")))
      .filter(col("nc") > 0)
  }

  /** q_knn_ivf: IVF approximate top-k. Seed centroids are the strided rows
    * (vec_id % [[CentroidStride]] == 0), refined by one [[refinedCentroids]]
    * Lloyd step; cells = nearest refined centroid per vector; queries probe
    * their [[NProbe]] nearest cells and re-rank exactly within. The refined
    * centroid table appears twice in the plan (assignment + probes) as the
    * same broadcast subplan, so ReuseExchange materializes it once.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val seeds = vecs.filter(col("vec_id") % CentroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nv").as("nc"))
    // persisted: the refined-centroid table (C×dim, tiny) feeds the cell
    // assignment AND the query probes — without the persist each consumer
    // re-executes the whole Lloyd step (an N×C assignment pass), tripling
    // the query (measured 7.2 s → 2.4 s at sf0.1)
    val cents = refinedCentroids(vecs, seeds).persist()
    val assigned = assignCells(vecs, cents)

    // probe: top-NProbe cells per query
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val pw = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("nq"), col("cent_id"),
              pairSim(col("qv"), col("cv"), col("nq"), col("nc")).as("csim"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= NProbe)
      .select(col("query_id"), col("qv"), col("nq"), col("cent_id").as("cell"))

    // exact re-rank inside probed cells
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  /** Stage the IVF index as an on-disk, CELL-PARTITIONED parquet layout
    * (once per session and sfDir): `ivf_cells` — the corpus with norms,
    * partitioned by assigned cell — and `ivf_cents` — the refined
    * centroid table. This is the vector index AS a data layout: at serving
    * scale the cell assignment is the write-once cost, and every probe
    * afterwards reads ONLY the probed cells' partitions (partition
    * pruning), the on-object-storage shape real IVF deployments use.
    * Mirrors [[graft.ops.Relational.stageBucketedTables]]' surviving-
    * warehouse protocol: a completed stage from a previous JVM (_SUCCESS
    * present) is re-registered as an external table (+ partition
    * recovery) instead of re-clustered; partial stages are swept.
    *
    * `stride` is the centroid-count workload knob (seeds = `vec_id %
    * stride == 0`, so C ≈ N/stride): the build's assignment pass is N×C,
    * and the production policy at corpus growth is to hold C fixed (or
    * grow it ~√N) by growing the stride with the corpus — which keeps the
    * build LINEAR in N instead of quadratic. Default = [[CentroidStride]],
    * the fixture-scale contract every serving query and oracle assumes;
    * the fixed-C policy's curve is measured by passing
    * `stride = CentroidStride × factor` at each replication factor.
    */
  def stageIvfIndex(spark: SparkSession, dir: String,
                    stride: Long = CentroidStride): (String, String) = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    // the centroid derivation is part of the on-disk contract → in the name
    val (cellsT, centsT) = (s"ivf_cells$stride$safe", s"ivf_cents$stride$safe")
    // pair-completeness recovery (the stageBucketedTables shape): both
    // tables stage-or-recover TOGETHER through the shared pair scaffold —
    // a half-staged crash state drops back to disk and rebuilds
    // (graft.util.Staged.needsBuildPair scaladoc)
    import graft.util.Staged
    def register(t: String): Unit =
      if (t == cellsT) {
        spark.sql(
          s"""CREATE TABLE $cellsT (vec_id BIGINT, v ARRAY<DOUBLE>, nv DOUBLE)
             |USING PARQUET PARTITIONED BY (cell BIGINT)
             |LOCATION '${Staged.locOf(spark, cellsT)}'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE $cellsT") // discover surviving partitions
      } else {
        spark.sql(
          s"""CREATE TABLE $centsT (cent_id BIGINT, cv ARRAY<DOUBLE>, nc DOUBLE)
             |USING PARQUET LOCATION '${Staged.locOf(spark, centsT)}'""".stripMargin)
      }
    if (Staged.needsBuildPair(spark, cellsT, centsT)(register)) {
      val vecs = vectors(spark, dir)
      val seeds = vecs.filter(col("vec_id") % stride === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nv").as("nc"))
      val cents = refinedCentroids(vecs, seeds).persist()
      assignCells(vecs, cents)
        .select(col("vec_id"), col("v"), col("nv"), col("cell"))
        .write.partitionBy("cell").mode("overwrite").saveAsTable(cellsT)
      cents.write.mode("overwrite").saveAsTable(centsT)
      cents.unpersist(blocking = false)
    }
    (cellsT, centsT)
  }

  /** q_knn_ivf_staged: IVF top-k served OFF THE STAGED LAYOUT — probes
    * compute top-[[NProbe]] cells against the staged centroid table, and
    * the corpus scan joins the broadcast probe set on the PARTITION column,
    * so Spark's dynamic partition pruning restricts the scan to probed
    * cells' files (plan-asserted in ExtensionsSpec) — the read-side win the
    * write-once clustering buys, exactly analogous to [[graft.ops.
    * Relational.bucketedJoin]] for joins. Results are identical to
    * [[knnIvf]] (same centroids bit-for-bit: the quantized-integer Lloyd
    * step survives the parquet roundtrip exactly), so it shares that
    * query's oracle.
    */
  def knnIvfStaged(spark: SparkSession, dir: String): DataFrame = {
    val (cellsT, centsT) = stageIvfIndex(spark, dir)
    val cents = spark.table(centsT)
    val queries = vectors(spark, dir).filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val pw = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("nq"), col("cent_id"),
              pairSim(col("qv"), col("cv"), col("nq"), col("nc")).as("csim"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= NProbe)
      .select(col("query_id"), col("qv"), col("nq"), col("cent_id").as("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    spark.table(cellsT).join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  /** Shared oracle CTE prefix: embeddings → strided seeds → one quantized
    * Lloyd step → `assigned(vec_id, v, cell)` — the exact SQL mirror of
    * `assignCells(vecs, refinedCentroids(...))`, reused by the IVF and
    * SemDeDup oracles so the two stay centroid-for-centroid identical.
    */
  private val assignedCteSql: String =
    s"""e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % $CentroidStride = 0),
       |seed AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.v, c0.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosineSql("e.v", "c0.cv")} DESC, c0.cent_id) AS srn
       |    FROM e CROSS JOIN c0) WHERE srn = 1),
       |flat AS (
       |  SELECT cell, unnest(range(1, len(v) + 1)) AS idx,
       |         CAST(floor(unnest(v) * $QuantScale) AS BIGINT) AS qc
       |  FROM seed),
       |csum AS (SELECT cell, idx, CAST(SUM(qc) AS BIGINT) AS sq
       |         FROM flat GROUP BY cell, idx),
       |c AS (
       |  SELECT cent_id, cv FROM (
       |    SELECT cell AS cent_id, list(CAST(sq AS DOUBLE) ORDER BY idx) AS cv
       |    FROM csum GROUP BY cell)
       |  WHERE list_dot_product(cv, cv) > 0),
       |assigned AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosineSql("e.v", "c.cv")} DESC, c.cent_id) AS arn
       |    FROM e CROSS JOIN c) WHERE arn = 1)""".stripMargin

  val knnIvfOracle: String =
    s"""WITH $assignedCteSql,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $QueryStride = 0),
       |probes AS (
       |  SELECT query_id, qv, cent_id AS cell FROM (
       |    SELECT q.query_id, q.qv, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.cent_id) AS prn
       |    FROM q CROSS JOIN c) WHERE prn <= $NProbe),
       |ranked AS (
       |  SELECT query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql("qv", "a.v")} AS sim,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY ${cosineSql("qv", "a.v")} DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // --- distributed k-means ---------------------------------------------------

  /** Lloyd iterations for q_kmeans. Two full refinement passes over the
    * strided seeds — enough to demonstrate convergence behavior (cell
    * migration between generations) while keeping the oracle's unrolled
    * CTE chain readable; the implementation takes any count.
    */
  val KmeansIters = 2

  /** Nearest-centroid assignment that also KEEPS the winning cosine — the
    * [[assignCells]] aggregation form (map-side-combinable max_by, never a
    * window over N×C scored rows) with (cell, csim) in the payload, for
    * consumers that need per-member cohesion, not just membership.
    */
  def assignCellsSim(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
              pairSim(col("v"), col("cv"), col("nv"), col("nc")).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cent_id"), col("csim")),
                  struct(col("csim"), -col("cent_id"))).as("best"))
      .select(col("vec_id"), col("best.cent_id").as("cell"),
              col("best.csim").as("csim"))

  /** q_kmeans: multi-iteration distributed k-means over the embedding
    * corpus — the document-clustering pass (topic bucketing, cluster-based
    * curation à la SemDeDup's prerequisite) run as ITERATED Lloyd, not the
    * single refinement step IVF needs.
    *
    * Each iteration is one [[refinedCentroids]] pass: an aggregation-only
    * assign (broadcast centroids, map-side-combined max_by — no window over
    * the N×C scored rows) followed by the exact-integer quantized centroid
    * sum ([[QuantScale]] floor-to-long, associative long addition), so
    * every generation of centroids is bit-identical across engines and
    * partitionings and the whole iterated pipeline stays oracle-checkable —
    * no driver-side kmeans, no float accumulation drift. Per-generation
    * centroid tables are persisted, materialized, and the PREVIOUS
    * generation unpersisted as soon as its successor exists (bounded cache
    * footprint at any iteration count). The final audit reports per-cell
    * membership and DECIMAL-summed mean cohesion (order-independent, so
    * the double mean hash-compares).
    *
    * 100 TB shape: per iteration, the corpus is read once, the shuffle
    * carries C×dim longs (partial-combined), and centroids broadcast —
    * Lloyd's canonical distributed form. Iteration count is a constant
    * multiplier, not a scale hazard.
    */
  /** Run [[KmeansIters]]-style Lloyd refinement over an eagerly-persisted
    * vector relation and return the final centroid generation (persisted) —
    * the shared front half of [[kmeans]] and [[clusterMix]].
    */
  private def lloydCents(vecs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeans needs >= 1 iteration, got $iters")
    val seeds = vecs.filter(col("vec_id") % CentroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nv").as("nc"))
    var cents = seeds
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val next = refinedCentroids(vecs, cents).persist()
      next.count()
      prev.foreach(_.unpersist())
      prev = Some(next)
      cents = next
    }
    cents
  }

  def kmeans(spark: SparkSession, dir: String, iters: Int = KmeansIters): DataFrame = {
    // N×dim vectors feed iters+1 full passes — persist once, eagerly
    // (persist-then-materialize discipline, see graft.ops package doc)
    val vecs = vectors(spark, dir).persist()
    vecs.count()
    val cents = lloydCents(vecs, iters)
    assignCellsSim(vecs, cents)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
           sum(col("csim").cast("decimal(28,10)")).as("coh"),
           min("vec_id").as("min_member"),
           max("vec_id").as("max_member"))
      .select(col("cell"), col("n_members"),
              (col("coh").cast("double") / col("n_members")).as("avg_cohesion"),
              col("min_member"), col("max_member"))
      .orderBy("cell")
  }

  /** The iterated-Lloyd CTE chain: c_0 = strided seeds, then per iteration
    * t an assignment to c_(t-1) and the quantized centroid re-sum into
    * c_t — the SQL mirror of `iterate(refinedCentroids)`, generated for
    * any iteration count so the oracle unrolls exactly what the engine
    * runs.
    */
  private def lloydChainSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
              |c_0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % $CentroidStride = 0)""".stripMargin
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++= s""",
                |a_$t AS (
                |  SELECT vec_id, v, cent_id AS cell FROM (
                |    SELECT e.vec_id, e.v, c_$p.cent_id,
                |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                |             ORDER BY ${cosineSql("e.v", s"c_$p.cv")} DESC, c_$p.cent_id) AS rn
                |    FROM e CROSS JOIN c_$p) WHERE rn = 1),
                |flat_$t AS (
                |  SELECT cell, unnest(range(1, len(v) + 1)) AS idx,
                |         CAST(floor(unnest(v) * $QuantScale) AS BIGINT) AS qc
                |  FROM a_$t),
                |csum_$t AS (SELECT cell, idx, CAST(SUM(qc) AS BIGINT) AS sq
                |            FROM flat_$t GROUP BY cell, idx),
                |c_$t AS (
                |  SELECT cent_id, cv FROM (
                |    SELECT cell AS cent_id, list(CAST(sq AS DOUBLE) ORDER BY idx) AS cv
                |    FROM csum_$t GROUP BY cell)
                |  WHERE list_dot_product(cv, cv) > 0)""".stripMargin
    }
    sb.toString
  }

  val kmeansOracle: String =
    s"""WITH ${lloydChainSql(KmeansIters)},
       |fin AS (
       |  SELECT vec_id, cell, csim FROM (
       |    SELECT e.vec_id, c_$KmeansIters.cent_id AS cell,
       |           ${cosineSql("e.v", s"c_$KmeansIters.cv")} AS csim,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosineSql("e.v", s"c_$KmeansIters.cv")} DESC, c_$KmeansIters.cent_id) AS rn
       |    FROM e CROSS JOIN c_$KmeansIters) WHERE rn = 1)
       |SELECT cell, COUNT(*) AS n_members,
       |       CAST(SUM(CAST(csim AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS avg_cohesion,
       |       CAST(MIN(vec_id) AS BIGINT) AS min_member,
       |       CAST(MAX(vec_id) AS BIGINT) AS max_member
       |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  /** Epoch size (vectors) for [[clusterMix]]'s projected budgets. */
  val ClusterMixEpoch = 10000L

  /** q_cluster_mix: temperature-balanced data mixing over LEARNED clusters —
    * the cluster-level generalization of per-source α-sampling
    * ([[graft.ops.Curation.mixTemperature]]): run the same iterated-Lloyd
    * chain as [[kmeans]], size each cluster, and assign it the sampling
    * weight n_c^α / Σ n^α at α = 0.5 with a floor-projected epoch budget.
    * Balancing over semantic clusters instead of source labels is the
    * standard fix when sources are internally heterogeneous (one "web"
    * source spans many topics) — giant topic clusters get down-weighted,
    * tail topics up-weighted.
    *
    * Exactness rides two established idioms: the Lloyd chain is
    * oracle-unrolled bit-exactly (quantized integer centroid sums), and the
    * α math is IEEE-exact sqrt over integer counts with a DECIMAL-summed
    * denominator and one final double division ([[graft.ops.Curation
    * .mixTemperature]]). 100 TB shape: the kmeans iterations dominate
    * (canonical broadcast-assign / C×dim-shuffle form); the mixing step is
    * a cluster-cardinality-bounded aggregate + 1-row broadcast denominator.
    */
  def clusterMix(spark: SparkSession, dir: String): DataFrame = {
    val sizes = kmeansCells(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
    val denom = sizes.agg(
      sum(sqrt(col("n_members").cast("double")).cast("decimal(28,10)")).as("wsum"))
    sizes.crossJoin(broadcast(denom))
      .withColumn("weight",
        sqrt(col("n_members").cast("double")) / col("wsum").cast("double"))
      .withColumn("epoch_vecs",
        floor(col("weight") * lit(ClusterMixEpoch.toDouble)).cast("bigint"))
      .select("cell", "n_members", "weight", "epoch_vecs")
      .orderBy("cell")
  }

  val clusterMixOracle: String =
    s"""WITH ${lloydChainSql(KmeansIters)},
       |fin AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c_$KmeansIters.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosineSql("e.v", s"c_$KmeansIters.cv")} DESC, c_$KmeansIters.cent_id) AS rn
       |    FROM e CROSS JOIN c_$KmeansIters) WHERE rn = 1),
       |sz AS (SELECT cell, COUNT(*) AS n_members FROM fin GROUP BY 1),
       |s AS (SELECT SUM(CAST(sqrt(CAST(n_members AS DOUBLE)) AS DECIMAL(28,10))) AS wsum FROM sz)
       |SELECT cell, n_members,
       |       sqrt(CAST(n_members AS DOUBLE)) / CAST(wsum AS DOUBLE) AS weight,
       |       CAST(FLOOR(sqrt(CAST(n_members AS DOUBLE)) / CAST(wsum AS DOUBLE)
       |                  * ${ClusterMixEpoch}.0) AS BIGINT) AS epoch_vecs
       |FROM sz, s ORDER BY 1""".stripMargin

  // --- PCA power iteration ---------------------------------------------------

  /** Power-iteration count for q_pca_power. Two matvec rounds separate the
    * dominant direction clearly on the fixture while keeping the oracle's
    * unrolled CTE chain readable; the implementation takes any count.
    */
  val PcaIters = 2

  /** q_pca_power: the corpus's dominant principal direction via distributed
    * power iteration — the embedding-space diagnostic behind whitening,
    * anisotropy audits ("all-but-the-top"), and low-rank drift checks on
    * 100 TB embedding stores.
    *
    * Each iteration is one distributed matvec against the Gram matrix
    * without materializing it: u_i = ⟨x_i, v⟩ per row (broadcast v), then
    * w = Σ_i x_i·u_i accumulated EXACTLY — each contribution is quantized
    * `floor((x_ij·u_i)·2^20)` to longs and summed with the associative
    * [[VecLongSum]] Lloyd accumulator, so w is bit-identical under any
    * partitioning and to the SQL oracle; the only float steps between
    * iterations (norm + divide) are fixed-order IEEE ops computed
    * identically by both engines. No driver-side linear algebra — the
    * driver never sees a vector; v stays a 1-row broadcast plan.
    *
    * 100 TB shape: per iteration one corpus scan, map-side-combined
    * dim-long partial sums (dim longs cross the shuffle per task), 1-row
    * broadcast back. Iterations are a constant multiplier.
    */
  def pcaPower(spark: SparkSession, dir: String, iters: Int = PcaIters): DataFrame = {
    require(iters >= 1, s"pcaPower needs >= 1 iteration, got $iters")
    val sumAgg = udaf(VecLongSum)
    val vecs = vectors(spark, dir).select("v").persist()
    vecs.count()
    // deterministic start: the all-ones direction (shaped off the corpus
    // row, so dim is never hard-coded)
    var vDf: DataFrame = vecs.limit(1)
      .select(transform(col("v"), _ => lit(1.0)).as("vcur"))
    for (_ <- 1 to iters) {
      val next = vecs.crossJoin(broadcast(vDf))
        .select(col("v"), dot(col("v"), col("vcur")).as("u"))
        // codegen'd two-factor quantize (r18, guide §4): floor((x*u)*Q)
        // with the same two-multiply IEEE order as the HOF it replaces
        .select(graft.plans.VecMulScaleFloor.column(
          col("v"), col("u"), lit(QuantScale)).as("q"))
        .agg(sumAgg(col("q")).as("s"))
        .select(transform(col("s"), x => x.cast("double")).as("w"))
        .withColumn("nw", norm(col("w")))
        .select(transform(col("w"), x => x / col("nw")).as("vcur"))
      vDf = next
    }
    vDf.select(posexplode(col("vcur")).as(Seq("idx0", "loading")))
      .select((col("idx0") + 1).as("idx"), col("loading"))
      .orderBy("idx")
  }

  /** Unrolled power-iteration CTE chain — v_0 = all-ones, then per
    * iteration the rowwise projection, quantized contribution sum, and
    * normalize, mirroring `pcaPower` step for step.
    */
  private def pcaChainSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
              |v_0 AS (SELECT list_transform(v, x -> 1.0) AS vcur FROM e
              |        WHERE vec_id = (SELECT MIN(vec_id) FROM e))""".stripMargin
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++= s""",
                |u_$t AS (SELECT e.v, list_dot_product(e.v, v_$p.vcur) AS u FROM e, v_$p),
                |flat_$t AS (SELECT unnest(range(1, len(v) + 1)) AS idx,
                |                   CAST(floor((unnest(v) * u) * $QuantScale) AS BIGINT) AS q
                |            FROM u_$t),
                |s_$t AS (SELECT idx, CAST(SUM(q) AS BIGINT) AS sq FROM flat_$t GROUP BY idx),
                |w_$t AS (SELECT list(CAST(sq AS DOUBLE) ORDER BY idx) AS w FROM s_$t),
                |v_$t AS (SELECT list_transform(w, x -> x / sqrt(list_dot_product(w, w))) AS vcur
                |         FROM w_$t)""".stripMargin
    }
    sb.toString
  }

  val pcaPowerOracle: String =
    s"""WITH ${pcaChainSql(PcaIters)}
       |SELECT CAST(unnest(range(1, len(vcur) + 1)) AS INT) AS idx,
       |       unnest(vcur) AS loading
       |FROM v_$PcaIters ORDER BY idx""".stripMargin

  // --- staged ground-truth artifact ------------------------------------------

  /** Warehouse table name for the staged exact-kNN ground truth of `dir`
    * (the top-k depth and query stride are part of the on-disk contract,
    * so part of the name).
    */
  def knnTruthTable(dir: String): String =
    s"knn_truth${TopK}q$QueryStride" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the exact brute-force top-[[TopK]] as a WRITE-ONCE artifact —
    * the ground-truth relation every ANN recall audit compares against.
    * Before staging, each of the four recall queries recomputed the
    * O(N×Q) brute-force scan just to rebuild this Q×k-row relation (the
    * r10 verdict's ANN-flap class: that recompute dominated the sub-3 s
    * recall queries' time AND allocation churn). The live scan stays
    * TIMED as q_knn_bruteforce (StagedArtifactsSpec twin policy), and the
    * artifact is a pure materialization — (bigint, bigint, int, double)
    * survives the parquet roundtrip bit-exactly, so every consumer rides
    * its original oracle. Same crash-recovery contract as the other
    * staged tables.
    */
  def stageKnnTruth(spark: SparkSession, dir: String): String = {
    val t = knnTruthTable(dir)
    if (graft.util.Staged.needsBuild(spark, t)(loc =>
        s"""CREATE TABLE $t (query_id BIGINT, neighbor_id BIGINT,
           |rank INT, sim DOUBLE) USING PARQUET LOCATION '$loc'""".stripMargin)) {
      knnBruteForce(spark, dir).write.mode("overwrite").saveAsTable(t)
    }
    t
  }

  /** Shared recall@k audit: `approx` vs the STAGED ground truth — one
    * definition for all four recall queries so the metric cannot drift
    * between them.
    *
    * Both sides are persisted AND materialized eagerly (count) before
    * composing: each feeds two consumers (semi-join + totals), and inside
    * one final action the two consumers' subtrees race to compute a
    * not-yet-cached plan CONCURRENTLY, duplicating the approximate
    * pipeline under core contention (observed 5 s → 24 s run-to-run
    * flapping before the pin); the two tiny extra jobs pin the caches
    * first, so the final action only reads Q×k cached rows.
    */
  private def recallVsTruth(spark: SparkSession, dir: String,
                            approx: DataFrame): DataFrame = {
    val bf = spark.table(stageKnnTruth(spark, dir))
      .select(col("query_id"), col("neighbor_id")).persist()
    val ap = approx.select(col("query_id"), col("neighbor_id")).persist()
    bf.count(); ap.count()
    val hits = bf.join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy().agg(count(lit(1)).as("n_hits"))
    val truth = bf.groupBy().agg(
      count(lit(1)).as("n_truth"), countDistinct("query_id").as("n_queries"))
    truth.crossJoin(hits)
      .select(col("n_queries"), col("n_truth"), col("n_hits"),
              (col("n_hits").cast("double") / col("n_truth")).as("recall_at_k"))
  }

  /** q_knn_recall: self-measured ANN quality — IVF results joined against
    * the brute-force ground truth (STAGED — see [[stageKnnTruth]]),
    * recall@k per corpus. Both inputs are deterministic, so even the
    * quality metric is oracle-checkable.
    */
  def knnRecall(spark: SparkSession, dir: String): DataFrame =
    recallVsTruth(spark, dir, knnIvf(spark, dir))

  val knnRecallOracle: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($knnBruteForceOracle) t),
       |ivf AS (SELECT query_id, neighbor_id FROM ($knnIvfOracle) t),
       |h AS (SELECT COUNT(*) AS n_hits FROM bf
       |      WHERE EXISTS (SELECT 1 FROM ivf
       |                    WHERE ivf.query_id = bf.query_id
       |                      AND ivf.neighbor_id = bf.neighbor_id)),
       |tr AS (SELECT COUNT(*) AS n_truth, COUNT(DISTINCT query_id) AS n_queries FROM bf)
       |SELECT n_queries, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall_at_k
       |FROM tr, h""".stripMargin

  // --- product quantization (PQ) ANN -----------------------------------------

  /** PQ geometry: [[Dim]]=64 split into [[PqM]]=4 subspaces of
    * [[PqSubDim]]=16 dims. Codebook per subspace = the sub-slices of the
    * strided rows (vec_id % [[PqCodeStride]] == 0) — data-derived and
    * deterministic, same policy as the IVF seeds. [[PqShortlist]] is the
    * ADC candidate budget per query before exact re-rank (4× [[TopK]]).
    */
  val PqM          = 4
  val PqSubDim     = Dim / PqM
  val PqCodeStride = 29
  val PqShortlist  = 20

  /** (vec_id, m, sv, ss): one row per vector per subspace, with the
    * sub-vector and its self-dot precomputed (the ‖x‖² term of the L2
    * expansion, folded once per row instead of once per compared pair).
    */
  private def subVectors(vecs: DataFrame): DataFrame = {
    val subArr = array((0 until PqM).map(m =>
      struct(lit(m).as("m"),
             slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)
    vecs.select(col("vec_id"), explode(subArr).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      .withColumn("ss", dot(col("sv"), col("sv")))
  }

  /** q_knn_pq: product-quantization ANN — the memory-bound scale path
    * (Jégou et al. 2011). Each vector is compressed to [[PqM]] byte-sized
    * codes (nearest codeword per subspace under exact L2, the
    * ‖x‖²−2x·c+‖c‖² expansion, ties → min code id); queries score the
    * whole corpus by asymmetric distance (ADC): per-subspace distance
    * tables to the codewords, then a fixed-order 4-term sum looked up by
    * code — cheap adds instead of 64-dim dots, and the corpus side touches
    * only the codes, which is the point: at 100 TB the code table is
    * ~64× smaller than the raw vectors. The ADC shortlist
    * ([[PqShortlist]] per query) is then re-ranked exactly.
    *
    * Plan shape: assignment is a broadcast join (codebook is tiny) into a
    * map-side-combinable max_by per (vec, m); ADC is a chain of broadcast
    * lookups (distance tables are Q×C rows) fanning the code table to
    * N×Q rows with NO shuffle until the per-query top-S window; re-rank
    * touches S×Q raw vectors. In production the N×Q fan-out composes with
    * IVF cells (IVF-PQ) to cut N per query; kept full-scan here so the
    * whole pipeline stays exactly oracle-checkable.
    *
    * Determinism: codebook is data-derived; every distance is the same
    * fixed expression on both engines; the 4-term ADC sum is written
    * left-to-right (no aggregation order to vary); all ties break on ids.
    */
  /** (m, code_id, cv, cc): the strided-row codebook, one codeword set per
    * subspace — tiny (C×M rows), always broadcast.
    */
  private def pqCodebook(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") % PqCodeStride === 0)
      .select(col("m"), col("vec_id").as("code_id"),
              col("sv").as("cv"), col("ss").as("cc"))

  /** (vec_id, code_0..code_{M-1}): the compressed corpus representation.
    * Nearest codeword per (vector, subspace) is a max_by over (-d2, -code)
    * = argmin d2 with ties to the smallest code id — an aggregation, not a
    * window, so it partial-combines map-side (the assignCells argument).
    */
  private def pqCodes(subs: DataFrame, cb: DataFrame): DataFrame = {
    val assigned = subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("code_id"),
        (col("ss") - lit(2.0) * dot(col("sv"), col("cv")) + col("cc")).as("d2"))
      .groupBy("vec_id", "m")
      .agg(max_by(col("code_id"), struct((-col("d2")).as("nd"),
                                         (-col("code_id")).as("nc"))).as("code"))
    val codeCols = (0 until PqM).map(m =>
      max(when(col("m") === m, col("code"))).as(s"code_$m"))
    assigned.groupBy("vec_id").agg(codeCols.head, codeCols.tail: _*)
  }

  /** (query_id, m, code_id, d): per-query asymmetric distance tables to
    * every codeword, one per subspace — Q×C×M rows, always broadcast.
    */
  private def pqDistTable(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("m"),
              col("sv").as("qsv"), col("ss").as("qss"))
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code_id"),
        (col("qss") - lit(2.0) * dot(col("qsv"), col("cv")) + col("cc")).as("d"))

  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val subs = subVectors(vecs)
    val cb = pqCodebook(subs)
    val codes = pqCodes(subs, cb)
    val dtab = pqDistTable(subs, cb)
    def dm(m: Int): DataFrame = dtab.filter(col("m") === m)
      .select(col("query_id").as(s"q_$m"), col("code_id").as(s"k_$m"),
              col("d").as(s"d_$m"))

    // ADC: chain of broadcast lookups; the first fans out by query, the
    // rest join on (query, code) with no further fan-out
    val adc = (1 until PqM).foldLeft(
        codes.join(broadcast(dm(0)), col("code_0") === col("k_0"))) {
      (acc, m) => acc.join(broadcast(dm(m)),
        col("q_0") === col(s"q_$m") && col(s"code_$m") === col(s"k_$m"))
    }
      .select(col("q_0").as("query_id"), col("vec_id"),
        (col("d_0") + col("d_1") + col("d_2") + col("d_3")).as("approx"))
      .filter(col("vec_id") =!= col("query_id"))
    val sw = Window.partitionBy("query_id").orderBy(col("approx").asc, col("vec_id"))
    val shortlist = adc.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= PqShortlist).select("query_id", "vec_id")

    // exact cosine re-rank of the shortlist
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    shortlist.join(vecs, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  val knnPqOracle: String = {
    val codeSel = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m = $m THEN code_id END) AS code_$m")
      .mkString(",\n       |       ")
    val adcJoins = (1 until PqM)
      .map(m => s"JOIN dtab d$m ON d$m.m = $m AND d$m.code_id = c.code_$m AND d$m.query_id = d0.query_id")
      .mkString("\n       |  ")
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, m, v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms),
       |subs2 AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS ss FROM subs),
       |cb AS (SELECT m, vec_id AS code_id, sv AS cv, ss AS cc
       |       FROM subs2 WHERE vec_id % $PqCodeStride = 0),
       |asg AS (
       |  SELECT vec_id, m, code_id FROM (
       |    SELECT s.vec_id, s.m, c.code_id,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY (s.ss - 2.0*list_dot_product(s.sv, c.cv) + c.cc) ASC, c.code_id) AS rn
       |    FROM subs2 s JOIN cb c USING (m)) WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id,
       |       $codeSel
       |  FROM asg GROUP BY 1),
       |qsubs AS (SELECT vec_id AS query_id, m, sv AS qsv, ss AS qss
       |          FROM subs2 WHERE vec_id % $QueryStride = 0),
       |dtab AS (
       |  SELECT query_id, m, code_id,
       |         (qss - 2.0*list_dot_product(qsv, cv) + cc) AS d
       |  FROM qsubs JOIN cb USING (m)),
       |adc AS (
       |  SELECT d0.query_id, c.vec_id,
       |         (d0.d + d1.d + d2.d + d3.d) AS approx
       |  FROM codes c
       |  JOIN dtab d0 ON d0.m = 0 AND d0.code_id = c.code_0
       |  $adcJoins
       |  WHERE c.vec_id <> d0.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY approx ASC, vec_id) AS srn
       |    FROM adc) WHERE srn <= $PqShortlist),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $QueryStride = 0),
       |ranked AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         ${cosineSql("q.qv", "e.v")} AS sim,
       |         ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY ${cosineSql("q.qv", "e.v")} DESC, s.vec_id) AS rank
       |  FROM short s JOIN e ON s.vec_id = e.vec_id
       |               JOIN q ON s.query_id = q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** q_knn_ivf_pq: the composed IVF-PQ index — the production 100 TB ANN
    * path (Jégou et al. 2011 §IV; what FAISS calls IVFxx,PQyy). IVF cuts
    * the per-query candidate set from N to the members of the NProbe probed
    * cells; PQ cuts the bytes touched per candidate to M code bytes + a
    * broadcast ADC table lookup. The full-scan [[knnPq]] fans codes to N×Q
    * scored rows; here the fan-out is N×Q×(NProbe/C) — the only corpus-
    * sized inputs are the code table (narrow) and the cell assignment
    * (2 longs/vector), and both broadcast joins (probes, distance tables)
    * are query-sized. ADC shortlist re-ranked exactly, same as knnPq.
    *
    * Deterministic end-to-end (exact-integer Lloyd centroids + fixed-order
    * ADC sums + id tie-breaks), so the composition is oracle-checked too —
    * not just its parts.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    // IVF side: refined centroids, cell per vector, probed cells per query
    val seeds = vecs.filter(col("vec_id") % CentroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nv").as("nc"))
    val cents = refinedCentroids(vecs, seeds).persist()
    val cells = assignCells(vecs, cents).select(col("vec_id"), col("cell"))
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val pw = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id"),
              pairSim(col("qv"), col("cv"), col("nq"), col("nc")).as("csim"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= NProbe)
      .select(col("query_id"), col("cent_id").as("cell"))
    // PQ side: codebook, codes, per-query distance tables
    val subs = subVectors(vecs)
    val cb = pqCodebook(subs)
    val codes = pqCodes(subs, cb)
    val dtab = pqDistTable(subs, cb)
    // candidates: codes of the vectors in each query's probed cells — the
    // IVF scan cut; a vector lives in exactly one cell, so no pair dedup
    val cand = codes.join(cells, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    // ADC over candidates only: all four lookups join on (query, code)
    def dm(m: Int): DataFrame = dtab.filter(col("m") === m)
      .select(col("query_id").as(s"q_$m"), col("code_id").as(s"k_$m"),
              col("d").as(s"d_$m"))
    val adc = (0 until PqM).foldLeft(cand) { (acc, m) =>
        acc.join(broadcast(dm(m)),
          col("query_id") === col(s"q_$m") && col(s"code_$m") === col(s"k_$m"))
      }
      .select(col("query_id"), col("vec_id"),
        (col("d_0") + col("d_1") + col("d_2") + col("d_3")).as("approx"))
    val sw = Window.partitionBy("query_id").orderBy(col("approx").asc, col("vec_id"))
    val shortlist = adc.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= PqShortlist).select("query_id", "vec_id")
    // exact cosine re-rank of the shortlist
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    shortlist.join(vecs, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  val knnIvfPqOracle: String = {
    val codeSel = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m = $m THEN code_id END) AS code_$m")
      .mkString(",\n       |       ")
    val adcJoins = (0 until PqM)
      .map(m => s"JOIN dtab d$m ON d$m.m = $m AND d$m.code_id = cd.code_$m AND d$m.query_id = cd.query_id")
      .mkString("\n       |  ")
    s"""WITH $assignedCteSql,
       |subs AS (
       |  SELECT vec_id, m, v[(m*$PqSubDim+1):(m*$PqSubDim+$PqSubDim)] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms),
       |subs2 AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS ss FROM subs),
       |cb AS (SELECT m, vec_id AS code_id, sv AS cv, ss AS cc
       |       FROM subs2 WHERE vec_id % $PqCodeStride = 0),
       |asg AS (
       |  SELECT vec_id, m, code_id FROM (
       |    SELECT s.vec_id, s.m, c.code_id,
       |           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY (s.ss - 2.0*list_dot_product(s.sv, c.cv) + c.cc) ASC, c.code_id) AS rn
       |    FROM subs2 s JOIN cb c USING (m)) WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id,
       |       $codeSel
       |  FROM asg GROUP BY 1),
       |qsubs AS (SELECT vec_id AS query_id, m, sv AS qsv, ss AS qss
       |          FROM subs2 WHERE vec_id % $QueryStride = 0),
       |dtab AS (
       |  SELECT query_id, m, code_id,
       |         (qss - 2.0*list_dot_product(qsv, cv) + cc) AS d
       |  FROM qsubs JOIN cb USING (m)),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $QueryStride = 0),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.cent_id) AS prn
       |    FROM q CROSS JOIN c) WHERE prn <= $NProbe),
       |cand AS (
       |  SELECT p.query_id, cs.vec_id, cs.code_0, cs.code_1, cs.code_2, cs.code_3
       |  FROM codes cs JOIN assigned a ON cs.vec_id = a.vec_id
       |       JOIN probes p ON p.cell = a.cell
       |  WHERE cs.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id,
       |         (d0.d + d1.d + d2.d + d3.d) AS approx
       |  FROM cand cd
       |  $adcJoins),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY approx ASC, vec_id) AS srn
       |    FROM adc) WHERE srn <= $PqShortlist),
       |ranked AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |         ${cosineSql("q.qv", "e.v")} AS sim,
       |         ROW_NUMBER() OVER (PARTITION BY s.query_id
       |           ORDER BY ${cosineSql("q.qv", "e.v")} DESC, s.vec_id) AS rank
       |  FROM short s JOIN e ON s.vec_id = e.vec_id
       |               JOIN q ON s.query_id = q.query_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** q_knn_pq_recall: PQ quality audit — recall@k of the PQ pipeline
    * against the STAGED brute-force ground truth, same shape as
    * [[knnRecall]].
    */
  def knnPqRecall(spark: SparkSession, dir: String): DataFrame =
    recallVsTruth(spark, dir, knnPq(spark, dir))

  val knnPqRecallOracle: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($knnBruteForceOracle) t),
       |pq AS (SELECT query_id, neighbor_id FROM ($knnPqOracle) t),
       |h AS (SELECT COUNT(*) AS n_hits FROM bf
       |      WHERE EXISTS (SELECT 1 FROM pq
       |                    WHERE pq.query_id = bf.query_id
       |                      AND pq.neighbor_id = bf.neighbor_id)),
       |tr AS (SELECT COUNT(*) AS n_truth, COUNT(DISTINCT query_id) AS n_queries FROM bf)
       |SELECT n_queries, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall_at_k
       |FROM tr, h""".stripMargin

  // --- sign-random-projection LSH near-dup -----------------------------------

  /** Deterministic ±1 hyperplanes: sign(t, p, d) = parity of the first hex
    * digit of md5("t,p,d"). Computed once at plan-build time; inlined as
    * literals into both engines' plans.
    */
  def hyperplaneSigns(table: Int, plane: Int, dim: Int = Dim): Seq[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val h = md.digest(s"$table,$plane,$d".getBytes(StandardCharsets.UTF_8))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** q_embed_neardup_lsh: near-duplicate detection over embeddings. Each of
    * [[LshTables]] tables buckets vectors by [[LshPlanes]] hyperplane sign
    * bits; candidate pairs share a bucket in ≥1 table; exact cosine ≥
    * [[NearDupCos]] confirms. Output: per-table index stats + confirmed
    * pair count (the deterministic audit of the whole pipeline).
    */
  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    // bucket bits per (table, plane): dot(v, signs) >= 0
    val bucketCols = (0 until LshTables).map { t =>
      val bits = (0 until LshPlanes).map { p =>
        val signs = array(hyperplaneSigns(t, p).map(lit): _*)
        when(dot(col("v"), signs) >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce(_ + _).as(s"bucket_$t")
    }
    val bucketed = vecs.select(Seq(col("vec_id"), col("v"), col("nv")) ++ bucketCols: _*)
    val tables = bucketed.select(col("vec_id"), col("v"), col("nv"),
      posexplode(array((0 until LshTables).map(t => col(s"bucket_$t")): _*)).as(Seq("tbl", "bucket")))
    val cand = tables.as("a").join(tables.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.tbl").as("tbl"),
              col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
              pairSim(col("a.v"), col("b.v"), col("a.nv"), col("b.nv")).as("sim"))
    cand.groupBy("tbl")
      .agg(
        count(lit(1)).as("n_candidates"),
        // distinct on the (id_a, id_b) struct — an arithmetic encoding would
        // collide once vec_id reaches the multiplier at corpus scale
        countDistinct(struct(col("id_a"), col("id_b"))).as("n_distinct_pairs"),
        sum(when(col("sim") >= NearDupCos, 1L).otherwise(0L)).as("n_confirmed"))
      .orderBy("tbl")
  }

  val embedNearDupLshOracle: String = {
    val bucketExprs = (0 until LshTables).map { t =>
      val bits = (0 until LshPlanes).map { p =>
        val arr = hyperplaneSigns(t, p).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(v, $arr::DOUBLE[]) >= 0 THEN ${1L << p} ELSE 0 END)"
      }
      bits.mkString("(", " + ", s") AS bucket_$t")
    }.mkString(",\n       ")
    val unioned = (0 until LshTables)
      .map(t => s"SELECT $t AS tbl, vec_id, v, bucket_$t AS bucket FROM bucketed")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |bucketed AS (
       |  SELECT vec_id, v,
       |       $bucketExprs
       |  FROM e),
       |tables AS (
       |  $unioned),
       |cand AS (
       |  SELECT a.tbl, a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${cosineSql("a.v", "b.v")} AS sim
       |  FROM tables a JOIN tables b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT tbl, COUNT(*) AS n_candidates,
       |       COUNT(DISTINCT (id_a, id_b)) AS n_distinct_pairs,
       |       CAST(SUM(CASE WHEN sim >= $NearDupCos THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed
       |FROM cand GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- SemDeDup (cluster-then-dedup semantic dedup) --------------------------

  /** q_semdedup: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) — cluster the embedding space, then compare pairs
    * ONLY within a cluster and greedily drop every vector that has a
    * lower-id near-duplicate (cosine ≥ [[NearDupCos]]) in its cell.
    *
    * The clustering is the IVF machinery verbatim ([[refinedCentroids]] one
    * quantized-Lloyd step over strided seeds, [[assignCells]]), so the whole
    * pipeline stays deterministic and oracle-checkable. Scale shape: with
    * seed stride S the cell count grows as N/S, so mean cell size stays ~S
    * and the within-cell self-join is O(N·S) TOTAL — the linear-in-N
    * near-dup pass that makes SemDeDup viable where all-pairs cosine is
    * not. Skewed cells are bounded by the same Lloyd rebalancing defense as
    * IVF; a DF-style cell cap (as in jaccardPairsCapped) is the documented
    * escalation if a pathological corpus concentrates one cell.
    *
    * Keep rule: a vector is dropped iff some SMALLER vec_id in its cell
    * clears the threshold — the id-orderd greedy sweep (keep-first), which
    * needs no connected components: reachability through a kept
    * representative is not required by SemDeDup semantics.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val seeds = vecs.filter(col("vec_id") % CentroidStride === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nv").as("nc"))
    val cents = refinedCentroids(vecs, seeds).persist()
    // persisted: the assignment feeds both sides of the within-cell join;
    // without it the N×C assignment pass runs twice
    val assigned = assignCells(vecs, cents).persist()
    val lhs = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nv").as("na"))
    val rhs = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nv").as("nb"))
    val drops = lhs.join(rhs, "cell")
      .filter(col("id_a") < col("id_b"))
      .filter(pairSim(col("va"), col("vb"), col("na"), col("nb")) >= NearDupCos)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
      .join(drops, Seq("vec_id"), "left")
      .withColumn("dropped", coalesce(col("dropped"), lit(0L)))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("dropped")).as("n_dropped"),
        (count(lit(1)) - sum(col("dropped"))).as("n_kept"),
        min(when(col("dropped") === 1L, col("vec_id"))).as("min_dropped_id"))
      .orderBy("label")
  }

  val semDedupOracle: String =
    s"""WITH $assignedCteSql,
       |pairs AS (
       |  SELECT y.vec_id AS id_b
       |  FROM assigned x JOIN assigned y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${cosineSql("x.v", "y.v")} >= $NearDupCos),
       |drops AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
       |SELECT label, COUNT(*) AS n_vecs,
       |       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       MIN(CASE WHEN d.vec_id IS NOT NULL THEN emb.vec_id END) AS min_dropped_id
       |FROM embeddings emb LEFT JOIN drops d ON emb.vec_id = d.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- scalar quantization (SQ) ANN ------------------------------------------

  /** Scalar-quantization levels per dimension (8-bit codes). */
  val SqLevels = 256

  /** Per-dimension corpus min/max as two [[Dim]]-wide array columns — 2·Dim
    * map-side-combinable aggregates in ONE pass (no posexplode: the
    * per-dim explode would shuffle Dim× the rows to compute 128 numbers).
    * min/max are order-independent, so the bounds are exact and
    * deterministic under any partitioning.
    */
  private def sqBounds(vecs: DataFrame): DataFrame =
    vecs.agg(
      array((1 to Dim).map(i => min(element_at(col("v"), i))): _*).as("mns"),
      array((1 to Dim).map(i => max(element_at(col("v"), i))): _*).as("mxs"))

  /** 8-bit codes + dequantized (bucket-center) vectors with their norm.
    * floor-based bucketing, NOT round(): round's tie rule differs between
    * engines (HALF_UP vs away-from-zero), floor of a bit-identical double
    * is identical everywhere. x = mx lands in bucket [[SqLevels]] and is
    * clamped; a constant dimension (mx = mn) codes to 0.
    */
  private def sqDequantized(vecs: DataFrame): DataFrame = {
    val mm = sqBounds(vecs)
    // one crossJoin: the bounds ride along to the dequant projection instead
    // of re-aggregating the corpus for a second broadcast.
    //
    // The code+reconstruct arithmetic is the fused codegen'd
    // [[graft.plans.SqDequant]] loop (guide §4): the previous two-transform
    // HOF chain evaluated an interpreted expression tree per element, and
    // CollapseProject inlined the code-producing transform into the dequant
    // lambda's element_at — re-running the full 64-element quantize PER
    // dequant element (O(Dim²) interpreted evals per row; StackProfile's
    // top frames were ElementAt/Divide/BinaryArithmetic.eval, 22 CPU-s
    // over 2000 rows at sf0.1, stages 36/41). Same IEEE op order
    // element-wise, so the dequantized vectors are bit-identical
    // (VecOpsSpec locks it; the oracle re-gates it at both scales).
    vecs.crossJoin(broadcast(mm))
      .select(col("vec_id"),
        graft.plans.SqDequant.column(col("v"), col("mns"), col("mxs"), SqLevels).as("dv"))
      .withColumn("ndv", norm(col("dv")))
  }

  /** q_knn_sq: ANN over 8-bit scalar-quantized vectors — the production
    * memory-reduction path when PQ's codebook training is overkill (what
    * FAISS calls SQ8): per-dimension min/max → byte codes (8× smaller than
    * float32, 16× smaller than the widened doubles), scores computed
    * against the dequantized bucket centers. Full corpus scan per query,
    * same scan shape as [[knnBruteForce]] but over reconstructed vectors —
    * compose with IVF cell pruning at scale exactly like [[knnIvfPq]].
    *
    * Deterministic end-to-end: exact min/max bounds, floor-based codes, and
    * sequential-fold cosines — the quantized index is bit-identical on both
    * engines, so the ANN results are exactly oracle-checkable.
    */
  def knnSq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val deq = sqDequantized(vecs)
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"))
    val scored = deq.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qv"), col("dv"), col("nq"), col("ndv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  /** Shared oracle CTE: dequantized corpus vectors. */
  private val sqDeqCteSql: String =
    s"""e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |mm AS (
       |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
       |  FROM (SELECT dim, MIN(v[dim]) AS mn, MAX(v[dim]) AS mx
       |        FROM e, range(1, ${Dim + 1}) t(dim) GROUP BY dim)),
       |codes AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Dim + 1}), i ->
       |           CASE WHEN mxs[i] = mns[i] THEN 0
       |                ELSE LEAST(CAST(floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * $SqLevels) AS BIGINT),
       |                           ${SqLevels - 1}) END) AS code
       |  FROM e, mm),
       |deq AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Dim + 1}), i ->
       |           mns[i] + (code[i] + 0.5) * (mxs[i] - mns[i]) / ${SqLevels.toDouble}) AS dv
       |  FROM codes, mm)""".stripMargin

  val knnSqOracle: String =
    s"""WITH $sqDeqCteSql,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % $QueryStride = 0),
       |scored AS (
       |  SELECT query_id, d.vec_id AS neighbor_id,
       |         ${cosineSql("qv", "dv")} AS sim
       |  FROM deq d JOIN q ON d.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q_knn_sq_recall: SQ quality audit — [[knnSq]] joined against the
    * STAGED brute-force ground truth, recall@k ([[recallVsTruth]]).
    */
  def knnSqRecall(spark: SparkSession, dir: String): DataFrame =
    recallVsTruth(spark, dir, knnSq(spark, dir))

  /** q_embed_outliers: per-label centroid-distance audit — the standard
    * "find mislabeled / contaminated vectors" curation pass: each label's
    * centroid, then the top-3 most-distant members (squared L2). The
    * centroid is the QUANTIZED mean (per-dim sums of floor(x·2^20) —
    * [[QuantScale]], the exact-integer Lloyd policy): integer sums are
    * order-independent under any partitioning, and the reconstruction
    * `qs/(n·2^20)` is one deterministic double expression, so even the
    * distances are exactly oracle-checkable. Quantization error ≤ 2⁻²⁰
    * per dim — three decimal orders below the distances it ranks.
    *
    * Scale shape (100 TB): one map-side-combinable groupBy(label) for the
    * centroid sums (2+Dim columns), one join back keyed on label (AQE
    * broadcasts the centroid table when small; no forced hint — label
    * cardinality has no driver ceiling), one partial-WindowGroupLimit
    * top-k. Never an all-pairs distance.
    */
  def embedOutliers(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    val vecs = graft.util.Spread.forCpu(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cents = vecs.groupBy("label").agg(
      count(lit(1)).as("n"),
      array((1 to Dim).map(i =>
        sum(floor(element_at(col("v"), i) * lit(QuantScale)))): _*).as("qsl"))
    // codegen'd centered diff (r18, guide §4): same per-element IEEE ops
    // as the transform/element_at HOF it replaces (VecOpsSpec-locked)
    val diff = graft.plans.VecCenteredDiff.column(
      col("v"), col("qsl"), col("n") * lit(QuantScale))
    val scored = vecs.join(cents, "label")
      .select(col("label"), col("vec_id"), dot(diff, diff).as("dist"))
    val w = Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select("label", "rank", "vec_id", "dist")
      .orderBy("label", "rank")
  }

  val embedOutliersOracle: String =
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |qs AS (
       |  SELECT label, dim,
       |         CAST(SUM(CAST(floor(v[dim] * $QuantScale) AS BIGINT)) AS BIGINT) AS s,
       |         COUNT(*) AS n
       |  FROM e, range(1, ${Dim + 1}) t(dim) GROUP BY 1, 2),
       |c AS (SELECT label, list(s ORDER BY dim) AS qsl, MIN(n) AS n FROM qs GROUP BY 1),
       |d AS (
       |  SELECT e.vec_id, e.label,
       |         list_dot_product(
       |           list_transform(range(1, ${Dim + 1}), i -> v[i] - (qsl[i] / (n * $QuantScale))),
       |           list_transform(range(1, ${Dim + 1}), i -> v[i] - (qsl[i] / (n * $QuantScale)))) AS dist
       |  FROM e JOIN c USING (label)),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rank
       |      FROM d)
       |SELECT label, CAST(rank AS INT) AS rank, vec_id, dist
       |FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin

  val knnSqRecallOracle: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($knnBruteForceOracle) t),
       |sq AS (SELECT query_id, neighbor_id FROM ($knnSqOracle) t),
       |h AS (SELECT COUNT(*) AS n_hits FROM bf
       |      WHERE EXISTS (SELECT 1 FROM sq
       |                    WHERE sq.query_id = bf.query_id
       |                      AND sq.neighbor_id = bf.neighbor_id)),
       |tr AS (SELECT COUNT(*) AS n_truth, COUNT(DISTINCT query_id) AS n_queries FROM bf)
       |SELECT n_queries, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall_at_k
       |FROM tr, h""".stripMargin

  // --- Johnson–Lindenstrauss sparse random projection ------------------------

  /** Projected dimensionality for [[embedRp]]. */
  val RpDim = 16

  /** Distortion-audit corpus sample: vec_id % stride == offset. */
  val RpSampleStride = 17
  val RpSampleOffset = 3

  /** Deterministic sparse JL signs (Achlioptas 2003, density 1/3):
    * s(j, d) ∈ {−1, 0, +1} from md5("rp,j,d") — computed once at
    * plan-build time and inlined as literals into BOTH engines' plans,
    * like [[hyperplaneSigns]].
    */
  def rpSigns(j: Int, dim: Int = Dim): Seq[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val h = md.digest(s"rp,$j,$d".getBytes(StandardCharsets.UTF_8))
      java.lang.Byte.toUnsignedInt(h(0)) % 6 match {
        case 0 => 1.0
        case 1 => -1.0
        case _ => 0.0
      }
    }
  }

  /** `k` JL coordinates of `v`: y_j = v · s_j (sequential-fold dots, so
    * projected values are bit-identical across engines). The audit uses
    * [[RpDim]] planes; the ANN path widens to [[KnnRpDim]] of the same
    * family.
    */
  def rpProject(v: Column, k: Int = RpDim): Column =
    array((0 until k).map(j => dot(v, array(rpSigns(j).map(lit): _*))): _*)

  /** q_embed_rp: dimensionality reduction by sparse random projection
    * (64 → [[RpDim]] dims) with a cosine-distortion audit — the standard
    * pre-clustering / pre-index shrink for 100 TB embedding corpora (project
    * once, then run k-means / IVF / pair generation in the small space at
    * dim/[[RpDim]]× less dot-product work and shuffle width).
    *
    * The audit pairs every query vector (vec_id % [[QueryStride]] == 0,
    * broadcast) with a deterministic corpus sample (vec_id %
    * [[RpSampleStride]] == [[RpSampleOffset]]) and reports, per query, how
    * far projected cosine drifts from true cosine. Max is order-independent;
    * the error sum crosses the hash gate as an exact DECIMAL sum (house
    * double-sum rule). One broadcast join, one map-side combined
    * aggregation — no shuffle grows with the corpus beyond the sample scan.
    */
  def embedRp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vecs = vectors(spark, dir)
      .withColumn("pv", rpProject(col("v")))
      .withColumn("np", norm(col("pv")))
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"),
              col("pv").as("qp"), col("np").as("nqp"))
    val sample = vecs.filter(col("vec_id") % RpSampleStride === RpSampleOffset)
    val pairs = sample.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        abs(pairSim(col("qv"), col("v"), col("nq"), col("nv")) -
            pairSim(col("qp"), col("pv"), col("nqp"), col("np"))).as("err"))
    pairs.groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"),
           max("err").as("max_abs_err"),
           round(sum(col("err").cast(DecimalType(18, 8))), 6)
             .cast("double").as("sum_abs_err"))
      .orderBy("query_id")
  }

  /** The [[rpProject]] literal-matrix expression in DuckDB form. */
  private def rpProjSql(k: Int = RpDim): String = (0 until k)
    .map(j => "list_dot_product(v, " +
      rpSigns(j).map(s => if (s > 0) "1.0" else if (s < 0) "-1.0" else "0.0")
        .mkString("[", ",", "]") + ")")
    .mkString("[", ", ", "]")

  val embedRpOracle: String = {
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |p AS (SELECT vec_id, v, ${rpProjSql()} AS pv FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, pv AS qp FROM p
       |      WHERE vec_id % $QueryStride = 0),
       |s AS (SELECT * FROM p WHERE vec_id % $RpSampleStride = $RpSampleOffset),
       |pairs AS (
       |  SELECT query_id,
       |         ABS(${cosineSql("qv", "v")} - ${cosineSql("qp", "pv")}) AS err
       |  FROM s JOIN q ON s.vec_id <> q.query_id)
       |SELECT query_id, COUNT(*) AS n_pairs,
       |       MAX(err) AS max_abs_err,
       |       CAST(ROUND(SUM(CAST(err AS DECIMAL(18,8))), 6) AS DOUBLE) AS sum_abs_err
       |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_embed_drift: per-label embedding-distribution drift between the
    * accumulated corpus and today's batch (vec_id % 10 split — the house
    * incremental convention) — the data-drift monitor the embedding side
    * runs next to the metric-side `q_rolling_zscore`/`q_trend_slope`: a
    * shifted centroid direction for a label means the upstream encoder or
    * the data mix moved, and downstream ANN/cluster artifacts need
    * rebuilding.
    *
    * Exactness: each side's per-label centroid is the QUANTIZED integer
    * component sum ([[QuantScale]] floor-to-long — the Lloyd policy), so
    * both centroids are exact integers and the drift cosine is one fixed
    * double expression over identical integers in both engines. Exact
    * integer checksums of both sums ride the row so the hash gate pins the
    * sums themselves, not just the cosine.
    *
    * Scale: two map-side combined O(N×dim→labels×dim) aggregations, one
    * label-keyed join of label-cardinality rows. At production the corpus
    * side is a STORED per-label sum — the daily update is O(batch) and the
    * monitor itself is label-sized.
    */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val sumAgg = udaf(VecLongSum)
    def side(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
             pre: String): DataFrame =
      graft.util.Spread.forCpu(Tables.embeddings(spark, dir))
        .filter(f(col("vec_id")))
        .select(col("label"),
          graft.plans.VecScaleFloor.column(asDouble(col("embedding")), lit(QuantScale)).as("q"))
        .groupBy("label")
        .agg(count(lit(1)).as(s"n_$pre"), sumAgg(col("q")).as(s"s_$pre"))
    val corpus = side(_ % 10 < 8, "corpus")
    val batch  = side(_ % 10 >= 8, "batch")
    corpus.join(batch, Seq("label"))
      .select(
        col("label"), col("n_corpus"), col("n_batch"),
        aggregate(col("s_corpus"), lit(0L), _ + _).as("corpus_checksum"),
        aggregate(col("s_batch"), lit(0L), _ + _).as("batch_checksum"),
        (dot(asDouble(col("s_corpus")), asDouble(col("s_batch"))) /
         (norm(asDouble(col("s_corpus"))) *
          norm(asDouble(col("s_batch"))))).as("centroid_cos"))
      .orderBy("label")
  }

  val embedDriftOracle: String =
    s"""WITH e AS (SELECT vec_id, label, $vecSql AS v FROM embeddings),
       |flat AS (
       |  SELECT label, CASE WHEN vec_id % 10 < 8 THEN 'c' ELSE 'b' END AS side,
       |         unnest(range(1, len(v) + 1)) AS idx,
       |         CAST(floor(unnest(v) * $QuantScale) AS BIGINT) AS qc
       |  FROM e),
       |sums AS (
       |  SELECT label, side, idx, CAST(SUM(qc) AS BIGINT) AS sq
       |  FROM flat GROUP BY 1, 2, 3),
       |cnts AS (
       |  SELECT label,
       |         SUM(CASE WHEN vec_id % 10 < 8 THEN 1 ELSE 0 END) AS n_corpus,
       |         SUM(CASE WHEN vec_id % 10 >= 8 THEN 1 ELSE 0 END) AS n_batch
       |  FROM e GROUP BY 1),
       |vecs AS (
       |  SELECT label, side, list(CAST(sq AS DOUBLE) ORDER BY idx) AS sv,
       |         SUM(sq) AS checksum
       |  FROM sums GROUP BY 1, 2),
       |j AS (
       |  SELECT c.label, c.sv AS cv, b.sv AS bv,
       |         c.checksum AS corpus_checksum, b.checksum AS batch_checksum
       |  FROM vecs c JOIN vecs b ON c.label = b.label
       |  WHERE c.side = 'c' AND b.side = 'b')
       |SELECT j.label, CAST(n_corpus AS BIGINT) AS n_corpus,
       |       CAST(n_batch AS BIGINT) AS n_batch,
       |       CAST(corpus_checksum AS BIGINT) AS corpus_checksum,
       |       CAST(batch_checksum AS BIGINT) AS batch_checksum,
       |       (list_dot_product(cv, bv)
       |        / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv))))
       |         AS centroid_cos
       |FROM j JOIN cnts ON cnts.label = j.label
       |ORDER BY 1""".stripMargin

  /** Sample budget (vectors) for [[clusterSample]]. */
  val ClusterSampleN = 100L

  /** Staged (vec_id, cell) assignments of the [[KmeansIters]]-refined Lloyd
    * chain — the write-once artifact behind [[clusterMix]] and
    * [[clusterSample]]: production pipelines learn cells once per corpus
    * build and every downstream consumer (mixing, sampling, SemDeDup,
    * routing) READS the assignment table instead of re-running Lloyd. Bench
    * stages it in the untimed warmup next to the bucketed tables and the
    * IVF layout (the write-once/consume-many placement the staged-IVF
    * precedent established); when the table is absent the consumers
    * compute the chain inline — results are bit-identical either way
    * (long ids survive the parquet roundtrip exactly), so the shared
    * oracle is unchanged.
    */
  def stageKmeansCells(spark: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val t = s"kmeans_cells${KmeansIters}_$CentroidStride$safe"
    if (graft.util.Staged.needsBuild(spark, t)(loc =>
        s"""CREATE TABLE $t (vec_id BIGINT, cell BIGINT)
           |USING PARQUET LOCATION '$loc'""".stripMargin)) {
      val vecs = vectors(spark, dir).persist()
      vecs.count()
      val cents = lloydCents(vecs, KmeansIters)
      assignCellsSim(vecs, cents).select(col("vec_id"), col("cell"))
        .write.mode("overwrite").saveAsTable(t)
      vecs.unpersist(blocking = false)
    }
    t
  }

  /** The (vec_id, cell) assignment relation: the staged table when present
    * (see [[stageKmeansCells]]), else the inline Lloyd chain.
    */
  private def kmeansCells(spark: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val t = s"kmeans_cells${KmeansIters}_$CentroidStride$safe"
    if (spark.catalog.tableExists(t)) spark.table(t)
    else {
      val vecs = vectors(spark, dir).persist()
      vecs.count()
      val cents = lloydCents(vecs, KmeansIters)
      // materialize the narrow assignment, then release the fat vectors
      // cache (mirrors stageKmeansCells): without this, a session running
      // both cluster consumers unstaged holds two cached corpus-vector
      // copies. The assignment cache itself is (vec_id, cell)-narrow and
      // consumer-managed (clusterSample re-persists/uses it; Bench clears
      // caches between queries).
      val assigned = assignCellsSim(vecs, cents)
        .select(col("vec_id"), col("cell")).persist()
      assigned.count()
      vecs.unpersist(blocking = false)
      assigned
    }
  }

  /** q_cluster_sample: cluster-balanced sampling — the embedding-side
    * composed pipeline (the semantic twin of the text funnel
    * `q_curation_pipeline`): learn cells with the same oracle-unrolled
    * Lloyd chain as [[kmeans]], Hamilton-allocate a [[ClusterSampleN]]
    * budget across cells by membership (largest remainder — Σ alloc = N
    * exactly, [[graft.ops.Curation.sampleStratified]]'s idiom), then draw
    * each cell's quota by deterministic md5 rank. Balancing the draw
    * across SEMANTIC clusters instead of source labels is the
    * diversity-preserving sampling step SemDeDup-style pipelines end with.
    *
    * Audit per cell: membership, allocation, selected count (= alloc
    * unless the cell is smaller), and the exact selected-id checksum so a
    * single wrong draw fails the hash gate.
    */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    val n = ClusterSampleN
    val assigned = kmeansCells(spark, dir).persist()
    assigned.count()
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("n_members"))
    val tot = sizes.agg(sum("n_members").as("n_total"))
    val quota = sizes.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(n_members * $n) div n_total"))
      .withColumn("rem", expr(s"(n_members * $n) % n_total"))
    val leftover = quota.agg((lit(n) - sum("base")).as("n_extra"))
    val rw = Window.orderBy(col("rem").desc, col("cell"))
    val alloc = quota.crossJoin(broadcast(leftover))
      .withColumn("rrk", row_number().over(rw))
      .withColumn("alloc",
        col("base") + when(col("rrk") <= col("n_extra"), 1L).otherwise(0L))
      .select("cell", "n_members", "alloc")
    val dw = Window.partitionBy("cell")
      .orderBy(md5(concat(lit("csample:"), col("vec_id").cast("string"))), col("vec_id"))
    val picked = assigned.withColumn("drn", row_number().over(dw))
      .join(broadcast(alloc.select("cell", "alloc")), Seq("cell"))
      .filter(col("drn") <= col("alloc"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_selected"), sum("vec_id").as("sel_checksum"))
    alloc.join(picked, Seq("cell"), "left")
      .select(col("cell"), col("n_members"), col("alloc"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_checksum"), lit(0L)).as("sel_checksum"))
      .orderBy("cell")
  }

  val clusterSampleOracle: String = {
    val n = ClusterSampleN
    s"""WITH ${lloydChainSql(KmeansIters)},
       |fin AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c_$KmeansIters.cent_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosineSql("e.v", s"c_$KmeansIters.cv")} DESC, c_$KmeansIters.cent_id) AS rn
       |    FROM e CROSS JOIN c_$KmeansIters) WHERE rn = 1),
       |sz AS (SELECT cell, COUNT(*) AS n_members FROM fin GROUP BY 1),
       |t AS (SELECT SUM(n_members) AS n_total FROM sz),
       |q AS (SELECT cell, n_members,
       |             (n_members * $n) // n_total AS base,
       |             (n_members * $n) % n_total AS rem
       |      FROM sz, t),
       |lo AS (SELECT $n - SUM(base) AS n_extra FROM q),
       |a AS (SELECT cell, n_members,
       |             CAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, cell)
       |                              <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |      FROM q, lo),
       |drawn AS (
       |  SELECT fin.cell, vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY fin.cell
       |           ORDER BY md5('csample:' || CAST(vec_id AS VARCHAR)), vec_id) AS drn
       |  FROM fin),
       |picked AS (
       |  SELECT drawn.cell, COUNT(*) AS n_selected, SUM(vec_id) AS sel_checksum
       |  FROM drawn JOIN a ON a.cell = drawn.cell
       |  WHERE drn <= alloc GROUP BY 1)
       |SELECT a.cell, a.n_members, a.alloc,
       |       COALESCE(n_selected, 0) AS n_selected,
       |       CAST(COALESCE(sel_checksum, 0) AS BIGINT) AS sel_checksum
       |FROM a LEFT JOIN picked ON picked.cell = a.cell
       |ORDER BY 1""".stripMargin
  }

  /** ANN-path projection width and coarse shortlist for [[knnRp]]. Chosen
    * on the fixture's recall surface (truth = exact top-5; measured at
    * BOTH fixture scales — the r10 32/100 point sat at 0.80): at sf0.1,
    * 32/200 → 0.74, 48/200 → 0.87, 48/250 → 0.91, 48/300 → 0.94
    * (sf0.01: 1.00); 64+ planes would score higher still but stop being
    * a compressed domain at all on 64-d embeddings (the coarse scan would
    * cost brute force). 48/300 keeps the projection 25% narrower
    * than full width, the shortlist a per-query constant (corpus-invariant
    * re-rank cost), and recall ≥0.90 at both scales with headroom —
    * training-free, so the right trade when the corpus distribution drifts
    * daily; PQ/SQ (trained on the data) sit at 0.96+.
    */
  val KnnRpDim = 48
  val RpShortlist = 300

  /** q_knn_rp: coarse-to-fine ANN through the random projection — score
    * every corpus vector against each query in the [[KnnRpDim]]-d PROJECTED
    * space (half-width dots, narrower rows than full-width),
    * keep a [[RpShortlist]]-deep shortlist per query, then exact-cosine
    * re-rank only the shortlist in the original space. The third
    * compressed-domain ANN family next to PQ (codebooks) and SQ (per-dim
    * buckets): RP needs NO training pass at all — the projection is a
    * fixed literal matrix — which is the right trade when the corpus
    * distribution drifts daily. Recall audited by [[knnRpRecall]].
    *
    * Plan: queries broadcast with both representations; the coarse scan
    * is one codegen'd projection over the corpus with a partial top-k
    * (WindowGroupLimit) per query; the exact stage touches only Q×shortlist
    * rows joined back to full vectors.
    */
  def knnRp(spark: SparkSession, dir: String,
            planes: Int = KnnRpDim, shortlist: Int = RpShortlist): DataFrame = {
    val vecs = vectors(spark, dir)
      .withColumn("pv", rpProject(col("v"), planes))
      .withColumn("np", norm(col("pv")))
      .persist()
    vecs.count() // feeds the coarse scan AND the re-rank join
    val queries = vecs.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("nq"),
              col("pv").as("qp"), col("np").as("nqp"))
    val coarse = vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              pairSim(col("qp"), col("pv"), col("nqp"), col("np")).as("psim"))
    val ws = Window.partitionBy("query_id").orderBy(col("psim").desc, col("neighbor_id"))
    val sl = coarse.withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
    val exact = sl
      .join(vecs.select(col("vec_id").as("neighbor_id"),
                        col("v").as("cv"), col("nv").as("nc")), "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("nq"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
              pairSim(col("qv"), col("cv"), col("nq"), col("nc")).as("sim"))
    val wf = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  val knnRpOracle: String =
    s"""WITH e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |p AS (SELECT vec_id, v, ${rpProjSql(KnnRpDim)} AS pv FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, pv AS qp FROM p
       |      WHERE vec_id % $QueryStride = 0),
       |coarse AS (
       |  SELECT query_id, p.vec_id AS neighbor_id, p.v,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY ${cosineSql("qp", "pv")} DESC, p.vec_id) AS srank
       |  FROM p JOIN q ON p.vec_id <> q.query_id),
       |sl AS (SELECT query_id, neighbor_id, v FROM coarse WHERE srank <= $RpShortlist),
       |ex AS (
       |  SELECT sl.query_id, sl.neighbor_id, ${cosineSql("q.qv", "sl.v")} AS sim
       |  FROM sl JOIN q ON q.query_id = sl.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM ex)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q_knn_rp_recall: [[knnRp]] vs brute-force ground truth — recall@k for
    * the training-free compressed-domain path ([[knnSqRecall]] discipline).
    */
  def knnRpRecall(spark: SparkSession, dir: String,
                  planes: Int = KnnRpDim, shortlist: Int = RpShortlist): DataFrame =
    recallVsTruth(spark, dir, knnRp(spark, dir, planes, shortlist))

  val knnRpRecallOracle: String =
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM ($knnBruteForceOracle) t),
       |rp AS (SELECT query_id, neighbor_id FROM ($knnRpOracle) t),
       |h AS (SELECT COUNT(*) AS n_hits FROM bf
       |      WHERE EXISTS (SELECT 1 FROM rp
       |                    WHERE rp.query_id = bf.query_id
       |                      AND rp.neighbor_id = bf.neighbor_id)),
       |tr AS (SELECT COUNT(*) AS n_truth, COUNT(DISTINCT query_id) AS n_queries FROM bf)
       |SELECT n_queries, n_truth, n_hits,
       |       CAST(n_hits AS DOUBLE) / n_truth AS recall_at_k
       |FROM tr, h""".stripMargin

  // --- reciprocal-rank fusion (hybrid lexical + dense retrieval) --------------

  /** RRF rank-dampening constant (the standard k = 60). */
  val RrfK = 60

  /** Candidate-list depth per ranker for [[rrfFusion]] — RRF's production
    * shape fuses bounded top-R candidate lists, never full-corpus ranks.
    */
  val RrfCandidates = 100

  /** Fused result size for [[rrfFusion]]. */
  val RrfTopK = 20

  /** Dense-side probe vector id for [[rrfFusion]] (vec_id aligns with
    * doc_id in the fixtures — one embedding per document).
    */
  val RrfProbeId = 0L

  /** q_rrf_fusion: reciprocal-rank fusion of the lexical BM25 ranking
    * ([[TextAnalysis.bm25Scores]], the pivot-term query) with a dense
    * embedding ranking (cosine against the [[RrfProbeId]] probe vector) —
    * hybrid retrieval, the standard way a curation pipeline combines
    * keyword and semantic relevance without score calibration:
    * rrf(d) = Σ_r 1/(k + rank_r(d)) over the rankers that surfaced d.
    *
    * Scale shape: each ranker is cut to its top-[[RrfCandidates]] FIRST via
    * `orderBy().limit()` — a distributed partial top-k
    * (TakeOrderedAndProject: per-partition heaps, k rows to one reducer) —
    * so the global rank windows and the fusion join only ever see 2·R rows
    * regardless of corpus size; nothing corpus-sized is globally sorted.
    * Fusion arithmetic is two exactly-rounded IEEE divisions and one
    * addition per row — bit-identical across engines; ranks themselves are
    * integers with id tiebreaks.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val probe = vecs.filter(col("vec_id") === RrfProbeId)
      .select(col("v").as("qv"), col("nv").as("nq"))
    val denseTop = vecs.filter(col("vec_id") =!= RrfProbeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("id"),
              pairSim(col("qv"), col("v"), col("nq"), col("nv")).as("sim"))
      .orderBy(col("sim").desc, col("id")).limit(RrfCandidates)
      .withColumn("r_dense",
        row_number().over(Window.orderBy(col("sim").desc, col("id"))))
      .select("id", "r_dense")
    val lexTop = TextAnalysis.bm25Scores(spark, dir)
      .select(col("doc_id").as("id"), col("sdec"))
      .orderBy(col("sdec").desc, col("id")).limit(RrfCandidates)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("sdec").desc, col("id"))))
      .select("id", "r_lex")
    denseTop.join(lexTop, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"), col("r_lex"), col("r_dense"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0))).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(RrfTopK)
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_dense"), lit(0)).as("r_dense"),
        col("rrf_score"))
  }

  // --- hubness audit ----------------------------------------------------------

  /** q_knn_hubness: k-occurrence histogram of the exact top-k graph — the
    * standard hubness diagnostic (how often does each vector appear in
    * other points' k-NN lists): high-dimensional spaces concentrate
    * retrievals onto hub vectors, which skews ANN recall, near-dup
    * clustering, and any kNN-derived mix — so the curation pipeline audits
    * the distribution before trusting its neighbor graphs. Output is the
    * histogram over ALL vectors (k_occ = 0 counts the antihubs via a left
    * anti-ish join), not a leaderboard: the SHAPE (variance/tail) is the
    * signal.
    *
    * Scale shape: rides [[knnBruteForce]]'s result relation (queries ×
    * TopK rows — already bounded); the occurrence count is one map-side
    * combined aggregation, the antihub completion is a broadcast left
    * join of that tiny count relation onto the id-only corpus scan, and
    * the histogram is a second tiny aggregation.
    */
  def knnHubness(spark: SparkSession, dir: String): DataFrame = {
    val occ = knnBruteForce(spark, dir)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("k_occ"))
    val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
    ids.join(broadcast(occ), ids("vec_id") === occ("neighbor_id"), "left")
      .select(coalesce(col("k_occ"), lit(0L)).as("k_occ"))
      .groupBy("k_occ").agg(count(lit(1)).as("n_vectors"))
      .orderBy("k_occ")
  }

  val knnHubnessOracle: String =
    s"""WITH bf AS ($knnBruteForceOracle),
       |occ AS (SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS k_occ
       |        FROM bf GROUP BY 1)
       |SELECT COALESCE(occ.k_occ, 0) AS k_occ, COUNT(*) AS n_vectors
       |FROM embeddings e LEFT JOIN occ ON occ.neighbor_id = e.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val rrfFusionOracle: String =
    s"""WITH ${TextAnalysis.bm25CoreSql},
       |lex AS (SELECT doc_id AS id, sdec FROM bm ORDER BY sdec DESC, doc_id LIMIT $RrfCandidates),
       |lexr AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY sdec DESC, id) AS INT) AS r_lex FROM lex),
       |e AS (SELECT vec_id, $vecSql AS v FROM embeddings),
       |p AS (SELECT v AS qv FROM e WHERE vec_id = $RrfProbeId),
       |den AS (SELECT e.vec_id AS id, ${cosineSql("qv", "v")} AS sim
       |        FROM e, p WHERE e.vec_id <> $RrfProbeId
       |        ORDER BY sim DESC, id LIMIT $RrfCandidates),
       |denr AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, id) AS INT) AS r_dense FROM den),
       |f AS (SELECT COALESCE(lexr.id, denr.id) AS doc_id, r_lex, r_dense,
       |             COALESCE(1.0::DOUBLE / ($RrfK + r_lex), 0.0::DOUBLE)
       |               + COALESCE(1.0::DOUBLE / ($RrfK + r_dense), 0.0::DOUBLE) AS rrf_score
       |      FROM lexr FULL OUTER JOIN denr ON lexr.id = denr.id)
       |SELECT doc_id, COALESCE(r_lex, 0) AS r_lex, COALESCE(r_dense, 0) AS r_dense, rrf_score
       |FROM f ORDER BY rrf_score DESC, doc_id LIMIT $RrfTopK""".stripMargin
}
