package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.util.Exact

/** Skew-handling utilities for hot aggregation keys (builder-prompt scale
  * requirement; complements AQE's skew-join splitting, which only covers
  * joins).
  *
  * At 100 TB a daily sales rollup keyed on business_date has ~365 hot keys
  * for ~10¹¹ rows — a plain groupBy puts entire days on single reducers.
  * [[saltedAgg]] runs the classic two-phase form: phase 1 aggregates on
  * (key, salt) spreading each hot key over `salts` reducers; phase 2
  * combines the partials. Works for any algebraic aggregate (sum, count,
  * min, max — anything with a partial form); distinct-counts need the
  * sketch route instead ([[Relational.kyakusuApprox]]).
  */
object Skew {

  /** Two-phase salted aggregation. `partials` maps each output column name
    * to (phase1 aggregate of input, phase2 combiner of the phase-1 column).
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salts: Int,
                partials: Seq[(String, (Column, Column => Column))]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val phase1 = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(partials.head._2._1.as(partials.head._1),
           partials.tail.map { case (n, (agg1, _)) => agg1.as(n) }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(partials.head._2._2(col(partials.head._1)).as(partials.head._1),
           partials.tail.map { case (n, (_, agg2)) => agg2(col(n)).as(n) }: _*)
  }

  /** Salted sum/count building blocks. */
  def sumOf(c: Column): (Column, Column => Column) = (sum(c), sum(_))
  def countOf: (Column, Column => Column) = (count(lit(1)), x => sum(x))
  def maxOf(c: Column): (Column, Column => Column) = (max(c), max(_))

  /** Exact-decimal salted sum of a double measure (the [[graft.util.Exact]]
    * idiom split into its two phases); round+cast the result to taste.
    */
  def sum2Of(c: Column): (Column, Column => Column) =
    (sum(c.cast(DecimalType(18, 4))), sum(_))

  /** Salted equi-join for a HOT fact key against a non-broadcastable dim:
    * the dim side is replicated `salts`× (one copy per salt), the fact side
    * gets a deterministic salt from `saltSrc`, and the join runs on
    * (key, salt) — a hot fact key spreads over `salts` reducers instead of
    * ceiling-ing on one. Each fact row carries exactly ONE salt, so inner
    * and left joins are result-identical to the unsalted join (right/full
    * would see the replicated dim and are rejected).
    *
    * This is the manual form of what AQE's skew-join split does at runtime;
    * it remains necessary when the skew is in a single key WITHIN one
    * partition-sized unit AQE won't split further, or when a deterministic
    * plan is required. `saltSrc` must be non-null; any well-spread fact
    * attribute works (a row id, an event id — NOT the hot key itself).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 saltSrc: Column, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"saltedJoin supports inner/left joins only, got $joinType")
    val f = fact.withColumn("_fsalt", pmod(saltSrc.cast("long"), lit(salts.toLong)))
    val d = dim.withColumn("_dsalt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    f.join(d, f("_fsalt") === d("_dsalt") &&
              f(factKey) === d(dimKey), joinType)
      .drop("_fsalt", "_dsalt")
  }

  // ---- oracle-checked queries ----------------------------------------------

  /** Salt count for the demo queries — enough to spread a hot key across
    * every core of one executor; at cluster scale you'd size it to the hot
    * key's row share vs a single reducer's comfort.
    */
  val Salts = 16

  /** q_skew_salted_agg: per-event-type totals via two-phase salted
    * aggregation — result-identical to the plain groupBy (the oracle IS the
    * plain groupBy). events' 5 event types over every row is exactly the
    * few-hot-keys regime saltedAgg exists for.
    */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    saltedAgg(Tables.events(spark, dir), Seq("event_type"), Salts, Seq(
        "n_events"  -> countOf,
        "sum_value" -> sum2Of(col("value")),
        "max_value" -> maxOf(col("value"))))
      .select(col("event_type"), col("n_events"),
              round(col("sum_value"), 2).cast("double").as("sum_value"),
              col("max_value"))
      .orderBy("event_type")

  val skewSaltedAggOracle: String =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |       ${Exact.sum2Sql("value")} AS sum_value,
       |       MAX(value) AS max_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_skew_salted_join: events⋈customer through [[saltedJoin]] (150 user
    * ids over 10k+ events = hot fact keys; customer as the replicated dim),
    * rolled up per market segment. The oracle is the UNSALTED join — the
    * equivalence is the correctness claim.
    */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(Tables.events(spark, dir), Tables.customer(spark, dir),
               factKey = "user_id", dimKey = "c_custkey",
               saltSrc = col("event_id"), salts = Salts)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
           Exact.sum2(col("value")).as("sum_value"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("c_mktsegment")

  val skewSaltedJoinOracle: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_events,
       |       ${Exact.sum2Sql("value")} AS sum_value,
       |       COUNT(DISTINCT user_id) AS n_users
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- join-key skew profiling ------------------------------------------------

  /** Candidate shuffle keys profiled by [[keySkew]]. */
  val SkewProfileKeys = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** q_key_skew: per-key frequency profile of the fact table's candidate
    * shuffle keys — the diagnosis that DECIDES between plain shuffle,
    * broadcast, salting, and AQE skew-join thresholds before any of the
    * defenses in this module are deployed. One fact scan feeds all keys
    * (an `explode(array(struct...))` fan-out, never one scan per key);
    * per-key counts collapse into power-of-2 frequency bands (the
    * `length(bin(n))` integer-log2 idiom from `q_len_histogram`), so the
    * output is keys×bands-bounded regardless of key cardinality, with
    * per-band row mass, extremes, and a witness key.
    *
    * A uniform key (l_orderkey: every order ~4 lines) concentrates in one
    * band; a key with a heavy tail spreads bands upward — the max band's
    * mass versus the per-partition average is exactly the AQE
    * skewedPartitionFactor input.
    */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
    val keys = fact.select(explode(array(
      SkewProfileKeys.map(k =>
        struct(lit(k).as("key_name"), col(k).cast("long").as("k"))): _*)).as("e"))
      .select(col("e.key_name").as("key_name"), col("e.k").as("k"))
    keys.groupBy("key_name", "k").agg(count(lit(1)).as("cnt"))
      .withColumn("freq_band", length(bin(col("cnt"))).cast("int"))
      .groupBy("key_name", "freq_band")
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("sum_rows"),
        max("cnt").as("max_rows"),
        min("k").as("min_key"))
      .orderBy("key_name", "freq_band")
  }

  val keySkewOracle: String = {
    val selects = SkewProfileKeys
      .map(k => s"SELECT '$k' AS key_name, CAST($k AS BIGINT) AS k FROM lineitem")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH keys AS (
       |  $selects),
       |f AS (SELECT key_name, k, COUNT(*) AS cnt FROM keys GROUP BY 1, 2),
       |b AS (SELECT key_name, k, cnt,
       |             CAST(length(bin(cnt)) AS INT) AS freq_band FROM f)
       |SELECT key_name, freq_band, COUNT(*) AS n_keys,
       |       CAST(SUM(cnt) AS BIGINT) AS sum_rows,
       |       CAST(MAX(cnt) AS BIGINT) AS max_rows,
       |       CAST(MIN(k) AS BIGINT) AS min_key
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
