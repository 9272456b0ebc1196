package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Exact

/** Native reconstructions of the reference's opaque stored-procedure layer
  * (SURVEY.md §2.11; procs invoked at /root/reference/main.py:509-514 and
  * main.py:591-594). The reference re-runs incremental SQL procs after every
  * 150-row insert; the semantic fixed point of that loop is a single-pass
  * aggregation, which is what these plans compute.
  *
  * Store proxy: the fixtures have no store column, so per-store rollups key on
  * the customer's / supplier's nation key (FIXTURES.md role mapping).
  *
  * Scale notes (100 TB design): every query here is a single shuffle
  * (partial aggregation map-side, final reduce on the group keys); dimension
  * joins (customer, supplier) are explicitly broadcast so the fact table
  * never shuffles for the join. Output is deterministically ordered only for
  * oracle comparison — on a real cluster the sort would be dropped.
  */
object Relational {

  /** SP_Process_Daily_Sales_Data reconstruction: daily sales rollup.
    * Revenue = extendedprice * (1 - discount), the standard sales measure.
    */
  def salesDaily(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(to_date(col("o_orderdate")).as("business_date"))
      .agg(
        Exact.sum2(Exact.revenue).as("revenue"),
        Exact.sum2(col("l_quantity")).as("sum_qty"),
        countDistinct("o_orderkey").as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("business_date")
  }

  /** SP_T_DAY_TEN_KYAKUSU_DATA reconstruction: per-store daily customer count
    * (店客数). Exact distinct count; see [[kyakusuApprox]] for the sketch
    * variant used at scale.
    */
  def kyakusuDaily(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey").as("store_id"),
               to_date(col("o_orderdate")).as("business_date"))
      .agg(
        countDistinct("o_custkey").as("kyakusu"),
        count(lit(1)).as("n_orders"))
      .orderBy("store_id", "business_date")
  }

  /** Approximate 客数 via HLL sketch — the 100 TB-scale variant of
    * [[kyakusuDaily]] (single pass, no exact-distinct shuffle explosion).
    * Sketch estimates are engine-specific, so this has no standalone query
    * entry: it is exercised and hash-gated through [[kyakusuApproxCheck]].
    */
  def kyakusuApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey").as("store_id"),
               to_date(col("o_orderdate")).as("business_date"))
      .agg(approx_count_distinct("o_custkey", 0.01).as("kyakusu_approx"))
      .orderBy("store_id", "business_date")
  }

  /** Relative error accepted by [[kyakusuApproxCheck]]: 3× the 1% rsd
    * configured on the sketch in [[kyakusuApprox]].
    */
  val ApproxCheckBound = 0.03

  /** Fraction of groups allowed past [[ApproxCheckBound]]: a 3-sigma
    * Gaussian tail is ~0.27% for large-cardinality groups (small groups are
    * exact under HLL's sparse mode), so 0.5% is a sound ceiling at any SF —
    * measured: 0/13,283 groups violate at sf0.01, 9/55,134 (0.016%) at
    * sf0.1.
    */
  val ApproxCheckMaxViolationRate = 0.005

  /** q_kyakusu_approx_check: the sketch variant's correctness signal — join
    * the HLL estimate against the exact distinct count, count the groups
    * whose relative error exceeds [[ApproxCheckBound]] (3× the configured
    * rsd), and assert the violation RATE stays under
    * [[ApproxCheckMaxViolationRate]]. The OUTPUT is deterministic
    * (group count + a true flag), so the sketch pipeline gains a real
    * oracle row even though the raw estimates are engine-specific — the
    * q_knn_recall pattern — and the rate form stays valid at any SF
    * (a fixed violations=0 would be brittle: individual 3-sigma exceedances
    * are statistically expected in large group counts).
    */
  def kyakusuApproxCheck(spark: SparkSession, dir: String): DataFrame = {
    val exact = kyakusuDaily(spark, dir)
      .select(col("store_id"), col("business_date"), col("kyakusu"))
    val approx = kyakusuApprox(spark, dir)
    exact.join(approx, Seq("store_id", "business_date"))
      .select((abs(col("kyakusu_approx") - col("kyakusu")) /
               col("kyakusu").cast("double")).as("rel_err"))
      .agg(count(lit(1)).as("n_groups"),
           sum(when(col("rel_err") > ApproxCheckBound, 1L).otherwise(0L)).as("n_violations"))
      .select(col("n_groups"),
        (col("n_violations") <= col("n_groups") * ApproxCheckMaxViolationRate).as("rate_ok"))
  }

  val kyakusuApproxCheckOracle: String =
    """WITH g AS (
      |  SELECT c.c_nationkey AS store_id, CAST(o.o_orderdate AS DATE) AS business_date
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_groups, TRUE AS rate_ok FROM g""".stripMargin

  /** SP_Process_Daily_SKU_Data_Temp reconstruction: per-SKU daily sales.
    * lineitem is the parsed-record stand-in; SKU = partkey, business date =
    * ship date.
    */
  def skuDaily(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("sku"),
               to_date(col("l_shipdate")).as("business_date"))
      .agg(
        Exact.sum2(col("l_quantity")).as("sum_qty"),
        Exact.sum2(Exact.revenue).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("sku", "business_date")
  }

  /** SP_T_DAY_TEN_SALES_FRONT_DATA_DAILY reconstruction: per-store daily
    * front-sales rollup, store = supplier nation.
    */
  def frontSalesDaily(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .groupBy(col("s_nationkey").as("store_id"),
               to_date(col("l_shipdate")).as("business_date"))
      .agg(
        Exact.sum2(Exact.revenue).as("revenue"),
        Exact.sum2(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy("store_id", "business_date")
  }

  /** Top-k: highest-revenue SKUs (sort + limit with deterministic
    * tie-break — the engine's order/limit surface, §2.7). Catalyst turns
    * this into a TakeOrderedAndProject: per-partition top-k, no full sort.
    */
  def topSkus(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("sku"))
      .agg(Exact.sum2(Exact.revenue).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("sku"))
      .limit(k)

  val topSkusOracle: String =
    s"""SELECT l_partkey AS sku,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue,
       |       COUNT(*) AS n_lines
       |FROM lineitem GROUP BY 1
       |ORDER BY revenue DESC, sku LIMIT 10""".stripMargin

  /** Hierarchical rollup: revenue by region → nation → total (ROLLUP
    * grouping sets over the broadcast dimension chain, §2.7 coverage
    * beyond the reference surface).
    */
  def salesRollup(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_suppkey", "l_extendedprice", "l_discount")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(Exact.sum2(Exact.revenue).as("revenue"), count(lit(1)).as("n_lines"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("revenue"), col("n_lines"))
      .orderBy("region", "nation")
  }

  val salesRollupOracle: String =
    s"""SELECT COALESCE(r.r_name, 'ALL') AS region,
       |       COALESCE(n.n_name, 'ALL') AS nation,
       |       ${Exact.sum2Sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       |       COUNT(*) AS n_lines
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |GROUP BY ROLLUP(r.r_name, n.n_name)
       |ORDER BY 1, 2""".stripMargin

  /** q_sales_cube: CUBE over two independent dimensions (region ×
    * return-flag) — all four grouping sets in ONE pass over the fact
    * table (Catalyst plans a single Expand + hash aggregate; four
    * separate GROUP BYs would scan the 100 TB fact four times). Dims are
    * non-null in the fixture, so the ALL-coalesce is unambiguous.
    */
  def salesCube(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_suppkey", "l_returnflag", "l_extendedprice", "l_discount")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("l_returnflag"))
      .agg(Exact.sum2(Exact.revenue).as("revenue"), count(lit(1)).as("n_lines"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              col("revenue"), col("n_lines"))
      .orderBy("region", "returnflag")
  }

  val salesCubeOracle: String =
    s"""SELECT COALESCE(r.r_name, 'ALL') AS region,
       |       COALESCE(l.l_returnflag, 'ALL') AS returnflag,
       |       ${Exact.sum2Sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       |       COUNT(*) AS n_lines
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |GROUP BY CUBE(r.r_name, l.l_returnflag)
       |ORDER BY 1, 2""".stripMargin

  /** q_sales_grouping_sets: explicit GROUPING SETS — the arbitrary-set
    * member of the multi-granularity family next to [[salesRollup]]
    * (hierarchical) and [[salesCube]] (full cross): exactly the four sets
    * ((region, priority), (region), (priority), ()) in ONE pass. Measures
    * are non-trivial on purpose: the exact revenue sum, line counts, and a
    * COUNT(DISTINCT l_suppkey) — the distinct aggregate rides the same
    * single Expand (partial per (gid, keys, suppkey), then final), where
    * four separate GROUP BYs would scan the 100 TB fact four times and
    * the distinct would shuffle four times. `grouping_id()` disambiguates
    * the set each output row belongs to (both engines use the same
    * first-column-is-MSB bit order), so an 'ALL' label can never be
    * confused with a literal dimension value.
    *
    * Scale shape: lineitem⋈orders is the key-partitioned fact join shared
    * with [[salesDaily]]; the dimension chain broadcasts; Expand fans each
    * row to the 4 sets BEFORE the partial aggregate, so the shuffle
    * carries only (set, group, suppkey) partials, not fanned fact rows.
    */
  def salesGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("o_orderpriority")),
            Seq(col("r_name")),
            Seq(col("o_orderpriority")),
            Seq.empty),
        col("r_name"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
           Exact.sum2(Exact.revenue).as("revenue"),
           count(lit(1)).as("n_lines"),
           count_distinct(col("l_suppkey")).as("n_suppliers"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("gid"), col("revenue"), col("n_lines"), col("n_suppliers"))
      .orderBy("gid", "region", "priority")
  }

  val salesGroupingSetsOracle: String =
    s"""SELECT COALESCE(r.r_name, 'ALL') AS region,
       |       COALESCE(o.o_orderpriority, 'ALL') AS priority,
       |       CAST(GROUPING(r.r_name, o.o_orderpriority) AS INT) AS gid,
       |       ${Exact.sum2Sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       |       COUNT(*) AS n_lines,
       |       COUNT(DISTINCT l.l_suppkey) AS n_suppliers
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |GROUP BY GROUPING SETS ((r.r_name, o.o_orderpriority), (r.r_name),
       |                        (o.o_orderpriority), ())
       |ORDER BY 3, 1, 2""".stripMargin

  /** Pivot: revenue by month × return-flag — the wide-format reshape
    * (§2.7-adjacent; Spark `pivot` is a groupBy extension, the oracle
    * expresses it as conditional aggregation).
    */
  def revenuePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy("month")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(Exact.sum2(Exact.revenue))
      .na.fill(0.0, Seq("A", "N", "R"))
      .orderBy("month")

  val revenuePivotOracle: String = {
    val flagCol = (f: String) =>
      s"""CAST(ROUND(SUM(CASE WHEN l_returnflag = '$f'
         | THEN CAST(${Exact.revenueSql} AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE) AS "$f"""".stripMargin.replace("\n", "")
    s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
       |       ${flagCol("A")},
       |       ${flagCol("N")},
       |       ${flagCol("R")}
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Window functions over the daily rollup: per-store cumulative revenue
    * and share-of-day (§2.7 window surface). Decimal-exact cumulative sums
    * — the per-day pre-aggregation makes the window ordering unique, so
    * the running total is deterministic under any partitioning.
    */
  def storeRevenueWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = frontSalesDaily(spark, dir).select("store_id", "business_date", "revenue")
    val cum = Window.partitionBy("store_id").orderBy("business_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val day = Window.partitionBy("business_date")
    daily
      .withColumn("cum_revenue",
        round(sum(col("revenue").cast(org.apache.spark.sql.types.DecimalType(18, 4))).over(cum), 2)
          .cast("double"))
      .withColumn("day_share",
        col("revenue") / sum(col("revenue").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .over(day).cast("double"))
      // fixtures' shipdates span 1995-01-02..2001-11-04; the cutoff keeps the
      // window comparison non-vacuous (813 rows at sf0.01) while bounding output
      .filter(col("business_date") < lit("1995-03-01").cast("date"))
      .orderBy("store_id", "business_date")
  }

  val storeRevenueWindowOracle: String =
    s"""WITH daily AS (
       |  SELECT s.s_nationkey AS store_id, CAST(l.l_shipdate AS DATE) AS business_date,
       |         ${Exact.sum2Sql(Exact.revenueSql.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount"))} AS revenue
       |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2)
       |SELECT store_id, business_date, revenue,
       |       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,4))) OVER (
       |         PARTITION BY store_id ORDER BY business_date
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_revenue,
       |       revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,4))) OVER (PARTITION BY business_date) AS DOUBLE) AS day_share
       |FROM daily QUALIFY business_date < DATE '1995-03-01'
       |ORDER BY 1, 2""".stripMargin

  /** Anti-join: nations ranked by customers inactive since a cutoff — no
    * orders on/after 2000-01-01 (§2.7 semi/anti surface; the
    * dedup-vs-existing pattern at scale). Every fixture customer has SOME
    * order, so the cutoff-keyed form is what keeps the anti-join observable
    * (135 inactive customers at sf0.01 vs 0 for the never-ordered form).
    */
  val InactiveCutoff = "2000-01-01"

  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir).select("o_custkey", "o_orderdate")
      .filter(to_date(col("o_orderdate")) >= lit(InactiveCutoff).cast("date"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("nation_id"))
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("nation_id")
  }

  val customersWithoutOrdersOracle: String =
    s"""SELECT c_nationkey AS nation_id, COUNT(*) AS n_inactive
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                  AND CAST(o.o_orderdate AS DATE) >= DATE '$InactiveCutoff')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Columns profiled by [[tableProfile]] — the lineitem surface minus
    * l_tax, whose basis-point shape duplicates the profiled l_discount.
    */
  val ProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
    "l_shipdate")

  /** q_table_profile: per-column data profiling — null count, exact distinct
    * count, min and max (stringified so heterogeneous column types share one
    * long-format schema). One UNION branch per column, each a single-column
    * pruned scan + two-phase hash aggregate — deliberately NOT one fused
    * aggregation: multiple count-distincts over different columns force
    * Catalyst's Expand rewrite (rows × columns row blowup, degrading to
    * SortAggregate over all profiled columns — measured 26 s vs 3 s at
    * sf0.1). Columnar parquet makes the per-branch scans near-free, and the
    * branches schedule as independent parallel stages.
    *
    * min/max/nulls are order-independent and exact at any scale. Exact
    * distinct counting is the fixture-scale choice; at 100 TB swap
    * `countDistinct` for `approx_count_distinct` and bound the error with a
    * kyakusuApproxCheck-style rate query — the branch shape (one pruned
    * pass, one shuffle) is unchanged.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    ProfileCols.map { c =>
      li.select(col(c)).agg(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_nulls"), col("n_distinct"),
                col("min_value"), col("max_value"))
    }.reduce(_ unionAll _).orderBy("column_name")
  }

  val tableProfileOracle: String = {
    val perCol = ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name,
         |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       COUNT(DISTINCT $c) AS n_distinct,
         |       CAST(MIN($c) AS VARCHAR) AS min_value,
         |       CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM lineitem""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""SELECT * FROM (
       |  $perCol
       |) ORDER BY column_name""".stripMargin
  }

  /** Relative-error bound for the approx-distinct profile check: 3× the
    * configured HLL++ rsd (0.05), same 3-sigma convention as
    * [[kyakusuApproxCheck]].
    */
  val ProfileApproxRsd = 0.05
  val ProfileApproxBound = 3 * ProfileApproxRsd

  /** q_table_profile_approx_check: lands the scale path [[tableProfile]]'s
    * doc promises — per column, `approx_count_distinct` (the 100 TB
    * profiler: one pass, no distinct shuffle, constant memory) checked
    * against the exact count within 3× rsd. Same self-check-as-oracle-row
    * pattern as [[kyakusuApproxCheck]]: the engine emits a boolean the
    * DuckDB side independently expects to be TRUE, so an HLL regression
    * (or an unlucky rsd excursion) flips the hash gate.
    */
  def tableProfileApproxCheck(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    ProfileCols.map { c =>
      li.select(col(c)).agg(
          countDistinct(col(c)).as("exact"),
          approx_count_distinct(col(c), ProfileApproxRsd).as("approx"))
        .select(lit(c).as("column_name"),
          (col("exact") === 0 ||
           abs(col("approx") - col("exact")) / col("exact").cast("double")
             <= ProfileApproxBound).as("within_bound"))
    }.reduce(_ unionAll _).orderBy("column_name")
  }

  val tableProfileApproxCheckOracle: String =
    ProfileCols.sorted.map(c =>
      s"SELECT '$c' AS column_name, TRUE AS within_bound").mkString("\nUNION ALL\n")

  // --- Benford first-digit audit ------------------------------------------------

  /** Benford's-law expected first-significant-digit frequencies in exact
    * parts-per-million: round(log10(1 + 1/d) · 10⁶), hardcoded so NO
    * transcendental runs on either engine (a libm log10 ulp could flip a
    * rounded constant; a literal table cannot). The nine values sum to
    * exactly 1,000,000.
    */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Shared formula text (the oracle-exactness idiom): expected ppm as a
    * CASE over the digit, valid verbatim in Spark SQL and DuckDB.
    */
  private[graft] val benfordExpectedSql: String =
    "CAST(CASE digit " +
      BenfordPpm.map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ") +
      " END AS BIGINT)"

  /** q_benford: Benford first-significant-digit audit of
    * `l_extendedprice` — the forensic-accounting screen (fabricated or
    * systematically generated monetary data diverges from the log-law
    * digit distribution; TPC-H's uniform price generator diverges LOUDLY,
    * which is exactly what the audit should report).
    *
    * Exactness: prices are exact cents riding a double, so the digit is
    * taken from the ROUNDED integer cent count rendered as a string —
    * first char of the digits of 100·x IS the first significant digit for
    * any x ≥ 0.01, with no log10 anywhere. Observed shares are integer
    * ppm ((10⁶·n) div total); expected shares are the hardcoded
    * [[BenfordPpm]] literals via shared CASE text. Every output column is
    * BIGINT.
    *
    * Scale shape: one pruned single-column scan, one 9-group map-side
    * combined aggregation, the 1-row total as a broadcast cross join —
    * nothing wider than 9 rows ever shuffles.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordOfCounts(
      benfordDigitsOf(Tables.lineitem(spark, dir))
        .groupBy("digit").agg(count(lit(1)).as("n_values")))

  /** The shared first-significant-digit projection — ONE definition for
    * the batch audit and the streaming face, so the two can never
    * silently desynchronize from the oracle they both ride. */
  def benfordDigitsOf(lineitem: DataFrame): DataFrame =
    lineitem.select(substring(round(col("l_extendedprice") * 100).cast("long")
      .cast("string"), 1, 1).cast("bigint").as("digit"))

  /** The ppm readout over a (digit, n_values) counts relation — shared by
    * the batch [[benfordAudit]] and the streaming face. The total is
    * re-derived as Σ n_values (every row lands in exactly one digit
    * bucket, so the sum IS the row count — no second pass over the
    * source). */
  def benfordOfCounts(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum("n_values").as("total"))))
      .withColumn("observed_ppm", expr("(1000000 * n_values) div total"))
      .withColumn("expected_ppm", expr(benfordExpectedSql))
      .select(col("digit"), col("n_values"), col("observed_ppm"),
              col("expected_ppm"),
              (col("observed_ppm") - col("expected_ppm")).as("dev_ppm"))
      .orderBy("digit")

  val benfordAuditOracle: String =
    s"""WITH d AS (
       |  SELECT CAST(SUBSTRING(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
       |              AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM lineitem),
       |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_values FROM d GROUP BY 1),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM d)
       |SELECT digit, n_values,
       |       (1000000 * n_values) // total AS observed_ppm,
       |       $benfordExpectedSql AS expected_ppm,
       |       (1000000 * n_values) // total - $benfordExpectedSql AS dev_ppm
       |FROM c, t ORDER BY digit""".stripMargin

  /** q_bloom_semijoin: runtime-filtered semi-join — revenue of lineitems
    * whose order is URGENT, with the fact side pre-filtered by a Bloom
    * filter built from the key side before the exact semi-join.
    *
    * The 100 TB shape this lands: when the key set is too large to
    * broadcast as a hash relation but its BITS are not (a Bloom filter is
    * ~10 bits/key at 1% fpp — 100M keys ≈ 120 MB), shipping the filter to
    * the scan prunes the fact table BEFORE the shuffle, so the exchange
    * carries ~selectivity×N rows instead of N. False positives are removed
    * by the exact semi-join that follows, so the result is exact — the
    * Bloom pass only moves work off the wire. This is Spark's own
    * row-level runtime filtering (InjectRuntimeFilter) made explicit and
    * deterministic.
    */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // One narrow pass to size the filter honestly (a fixed guess either
    // wastes broadcast bytes or blows the fpp); the scan is single-column.
    val nKeys = keys.count()
    val bloom = keys.stat.bloomFilter("o_orderkey", math.max(nKeys, 1L), 0.01)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    Tables.lineitem(spark, dir)
      // cheap pre-shuffle prune, inside whole-stage codegen (BloomProbe
      // replaced the UDF form — same mightContainLong probe, no row boxing)
      .filter(graft.plans.BloomProbe.column(col("l_orderkey"), bloomBc))
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi") // exact
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy("l_returnflag")
  }

  val bloomSemiJoinOracle: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem WHERE EXISTS (
       |  SELECT 1 FROM orders
       |  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Bucket count for the co-located-join demo tables. At cluster scale
    * you'd size buckets so one bucket ≈ one task's comfortable input
    * (hundreds of MB); what matters for exchange elision is only that both
    * sides agree.
    */
  val JoinBuckets = 8

  /** Stage `orders`/`lineitem` as bucketed+sorted tables (once per session
    * and sfDir) and return their catalog names. Bucketing is THE mechanism
    * for repeated co-located joins at scale: both sides hash-clustered by
    * the join key at WRITE time, so every subsequent join on that key is a
    * zero-exchange sort-merge — the shuffle is paid once, not per query.
    * Tables land in the session catalog + local warehouse dir
    * (spark-warehouse/, gitignored).
    */
  def stageBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    // bucket count is part of the on-disk layout contract, so it is part
    // of the staged name: a JoinBuckets change can never silently re-read
    // files clustered under the old spec
    val (ot, lt) = (s"b_orders${JoinBuckets}$safe", s"b_lineitem${JoinBuckets}$safe")
    // The warehouse DIRECTORY outlives the in-memory catalog: a fresh
    // session sees tableExists=false while the previous JVM's staged
    // data still sits at the default location (saveAsTable would refuse
    // with LOCATION_ALREADY_EXISTS). That surviving data is exactly the
    // write-once/join-many point of bucketing — if it finished (_SUCCESS
    // present in BOTH dirs — the tables stage-or-recover as a PAIR),
    // re-register both as external bucketed tables instead of paying the
    // clustering write again; a partial or half-staged pair is swept and
    // rewritten (graft.util.Staged.stagePair scaladoc).
    def register(t: String): Unit = {
      val (schema, key) =
        if (t == ot) (Tables.orders(spark, dir).schema, "o_orderkey")
        else (Tables.lineitem(spark, dir).schema, "l_orderkey")
      spark.sql(
        s"""CREATE TABLE $t (${schema.toDDL}) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $JoinBuckets BUCKETS
           |LOCATION '${graft.util.Staged.locOf(spark, t)}'""".stripMargin)
    }
    graft.util.Staged.stagePair(spark, ot, lt)(register) {
      Tables.orders(spark, dir).write.mode("overwrite")
        .bucketBy(JoinBuckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(spark, dir).write.mode("overwrite")
        .bucketBy(JoinBuckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    }
    (ot, lt)
  }

  /** q_bucketed_join: revenue per order priority through the BUCKETED join —
    * results identical to the plain parquet join (the oracle), but the join
    * itself moves zero rows: both scans read pre-clustered buckets and the
    * sort-merge join's children have no exchange (plan-asserted in
    * ExtensionsSpec). The merge hint keeps the demo honest — without it the
    * planner may broadcast the small fixture side and never exercise the
    * bucketing.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = stageBucketedTables(spark, dir)
    val o = spark.table(ot)
    val l = spark.table(lt)
    l.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinOracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quantiles profiled by [[quantileProfileCheck]] and the rank-error
    * budget: `percentile_approx` (KLL-free Greenwald-Khanna variant)
    * guarantees rank error ≤ N / accuracy.
    */
  val ProfileQuantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)
  val QuantileAccuracy = 1000

  /** q_quantile_profile_check: the numeric-profiling scale path — per
    * quantile, `approx_percentile(l_extendedprice, q)` checked against its
    * own rank-error contract: the number of rows ≤ the returned value must
    * sit within q·N ± N/accuracy. Exact percentiles at 100 TB need a full
    * sort or a giant exact-distinct aggregation; the sketch is one pass and
    * mergeable across partitions, and this query makes its error budget a
    * hash-gated oracle row (same self-check-as-oracle pattern as
    * [[tableProfileApproxCheck]]).
    */
  def quantileProfileCheck(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    val qs = ProfileQuantiles
    // Pass 1: the sketch (one mergeable aggregation; 4 doubles to the driver).
    val approx = li.agg(
        percentile_approx(col("l_extendedprice"),
          array(qs.map(lit): _*), lit(QuantileAccuracy)).as("vals"))
      .head().getSeq[Double](0)
    // Pass 2: one codegen'd scan computing N and the rank of every returned
    // value (rows ≤ v) as conditional sums — no sort, no join.
    val rankAggs = count(lit(1)).as("n") +: qs.indices.map { i =>
      sum(when(col("l_extendedprice") <= approx(i), 1L).otherwise(0L)).as(s"rank_$i")
    }
    val row = li.agg(rankAggs.head, rankAggs.tail: _*)
    val tol = col("n").cast("double") / QuantileAccuracy + 1.0
    row.select(explode(array(qs.indices.map { i =>
        struct(lit(qs(i)).as("q"),
          (abs(col(s"rank_$i") - lit(qs(i)) * col("n")) <= tol).as("within_bound"))
      }: _*)).as("s"))
      .select(col("s.q").as("q"), col("s.within_bound").as("within_bound"))
      .orderBy("q")
  }

  val quantileProfileCheckOracle: String =
    ProfileQuantiles.map(q =>
      s"SELECT CAST($q AS DOUBLE) AS q, TRUE AS within_bound")
      .mkString("\nUNION ALL\n")

  /** Winsorization bounds for [[winsorizedStats]]. */
  val WinsorLo = 0.05
  val WinsorHi = 0.95

  /** q_winsorize: robust per-group stats via discrete-percentile
    * winsorization — clamp `value` to the exact p05/p95 ORDER STATISTICS
    * per event_type, then aggregate the clamped measure. The boundary is
    * the element at rank ceil(q·n) under the total order (value,
    * event_id), i.e. an actual data value — so unlike interpolated
    * percentiles (whose convention differs across engines) the bounds and
    * every clamped value hash-compare bit-exactly.
    *
    * Scale: the ranking pass is one sort-shuffle partitioned by
    * event_type (exact order statistics are the point of this audit; at
    * 100 TB with skewed/low-cardinality groups the one-pass mergeable
    * sketch path is [[quantileProfileCheck]] — that pair is the same
    * exact/approx trade as [[tableProfile]] vs
    * [[tableProfileApproxCheck]]). The bounds table is group-cardinality
    * rows and broadcasts back onto a plain scan for the clamped
    * aggregation — the corpus is never shuffled a second time.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir).select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val cw = Window.partitionBy("event_type")
    val ranked = e
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    val bounds = ranked.groupBy("event_type").agg(
      max(when(col("rn") === ceil(col("n") * lit(WinsorLo)), col("value"))).as("p05"),
      max(when(col("rn") === ceil(col("n") * lit(WinsorHi)), col("value"))).as("p95"))
    val clamped = greatest(least(col("value"), col("p95")), col("p05"))
    e.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        max("p05").as("p05"),
        max("p95").as("p95"),
        Exact.sum2(clamped).as("sum_winsorized"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_clamped_high"))
      .orderBy("event_type")
  }

  val winsorizedStatsOracle: String =
    s"""WITH e AS (SELECT event_type, event_id, value FROM events),
       |r AS (SELECT *,
       |             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |             COUNT(*) OVER (PARTITION BY event_type) AS n
       |      FROM e),
       |b AS (SELECT event_type,
       |             MAX(CASE WHEN rn = ceil(n * $WinsorLo) THEN value END) AS p05,
       |             MAX(CASE WHEN rn = ceil(n * $WinsorHi) THEN value END) AS p95
       |      FROM r GROUP BY 1)
       |SELECT e.event_type,
       |       COUNT(*) AS n,
       |       MAX(b.p05) AS p05,
       |       MAX(b.p95) AS p95,
       |       ${Exact.sum2Sql("greatest(least(value, b.p95), b.p05)")} AS sum_winsorized,
       |       CAST(SUM(CASE WHEN value < b.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
       |       CAST(SUM(CASE WHEN value > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high
       |FROM e JOIN b USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Temp→final promotion (SP_Process_Daily_SKU_Data): the reference promotes
    * newly parsed temp rows into the final table, idempotently (procs re-run
    * per batch, SURVEY.md §2.11). Modeled as upsert = final ∪ (temp ⟕anti
    * final) on the natural key; here "final" is the already-shipped half of
    * lineitem and "temp" the rest, so the promotion is observable.
    * At scale this is a MERGE on a transactional table; the anti-join is the
    * engine-level semantics.
    */
  def tempFinalPromotion(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val cutoff = lit("1998-01-01").cast("date")
    val finalT = l.filter(to_date(col("l_shipdate")) <  cutoff)
    val temp   = l.filter(to_date(col("l_shipdate")) >= cutoff)
    val key = Seq("l_orderkey", "l_linenumber")
    val promoted = finalT.select(key.map(col): _*)
      .union(temp.join(finalT.select(key.map(col): _*), key, "left_anti")
                 .select(key.map(col): _*))
    promoted
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(concat_ws("#", col("l_orderkey"), col("l_linenumber"))).as("n_keys"))
  }

  // --- market-basket co-purchase analysis --------------------------------------

  /** Leaderboard size for [[basketPairs]]. */
  val BasketTopK = 25

  /** q_basket_pairs: market-basket co-purchase lift — for the top
    * [[BasketTopK]] part pairs by co-occurrence across orders, the support
    * counts and the lift c_ab·N / (c_a·c_b) (classic association-rule
    * strength; the PMI shape of [[graft.ops.Corpus.pmiPairs]] on baskets
    * instead of token windows).
    *
    * Scale shape: the pair supports come off the STAGED co-purchase
    * artifact ([[graft.ops.Graph.stageCopurchaseEdges]] — its `u < v`
    * half IS the pair-count relation; build-once/consume-many, with
    * [[graft.ops.Graph.pageRank]] keeping the live pair build timed per
    * the StagedArtifactsSpec twin policy). The per-part supports and the
    * basket count still need the (orderkey, partkey) relation (singleton
    * orders never reach the pair relation) — one scan, two map-side
    * combined counts, no self-join. The leaderboard prunes to K rows
    * (TakeOrderedAndProject) BEFORE the per-part support joins, so nothing
    * catalog-sized shuffles after the count aggregations; N rides a 1-row
    * broadcast.
    */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val k = BasketTopK
    val cab = spark.table(Graph.stageCopurchaseEdges(spark, dir))
      .filter(col("u") < col("v"))
      .select(col("u").as("part_a"), col("v").as("part_b"), col("w").as("c_ab"))
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .persist()
    items.count() // feeds the per-part supports + the basket count
    val ca = items.groupBy(col("part")).agg(count(lit(1)).as("c"))
    val n = items.select("okey").distinct().agg(count(lit(1)).cast("double").as("n"))
    val top = cab.orderBy(col("c_ab").desc, col("part_a"), col("part_b")).limit(k)
    top
      .join(ca.select(col("part").as("part_a"), col("c").as("c_a")), "part_a")
      .join(ca.select(col("part").as("part_b"), col("c").as("c_b")), "part_b")
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast("double") * col("n")) /
         (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(col("c_ab").desc, col("part_a"), col("part_b"))
  }

  val basketPairsOracle: String = {
    val k = BasketTopK
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |cab AS (
       |  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS c_ab
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY 1, 2),
       |ca AS (SELECT part, COUNT(*) AS c FROM items GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS n FROM items),
       |top AS (SELECT * FROM cab ORDER BY c_ab DESC, part_a, part_b LIMIT $k)
       |SELECT part_a, part_b, c_ab, a.c AS c_a, b.c AS c_b,
       |       (CAST(c_ab AS DOUBLE) * n) / CAST(a.c * b.c AS DOUBLE) AS lift
       |FROM top JOIN ca a ON a.part = top.part_a
       |         JOIN ca b ON b.part = top.part_b, nn
       |ORDER BY c_ab DESC, part_a, part_b""".stripMargin
  }

  /** Minimum support for [[basketTriples]] — an itemset must recur across
    * at least this many baskets to count as frequent.
    */
  val TripleMinSup = 2L

  /** Leaderboard size for [[basketTriples]]. */
  val TripleTopK = 20

  /** (custkey, partkey) lifetime customer baskets — the shared input of
    * the market-basket mining/personalization pair ([[basketTriples]],
    * [[recsItemCf]]); one definition (and one oracle fragment,
    * [[customerBasketsSql]]) so basket semantics cannot drift between
    * them. Callers persist + pin — each query owns its cache lifetime.
    */
  private def customerBaskets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck")), "okey")
      .select("ck", "part").distinct()

  /** Oracle twin of [[customerBaskets]]. */
  private val customerBasketsSql: String =
    "SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS part " +
      "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"

  /** Bucket count for [[stageCustomerBaskets]] — layout contract, so part
    * of the staged name (the [[stageBucketedTables]] rule). */
  val BasketBuckets = 8

  /** Warehouse table name for the staged customer-basket relation of
    * `dir`. */
  def customerBasketsTable(dir: String): String =
    s"customer_baskets$BasketBuckets" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Stage the lifetime customer-basket relation `(ck, part)` as a
    * WRITE-ONCE artifact, bucketed and sorted by `ck` so every consumer's
    * per-customer aggregation or self-join reads pre-clustered buckets
    * with zero exchange on the basket side. Closes the second half of the
    * r10 verdict's redundant-relation item: [[basketTriples]] and
    * [[recsItemCf]] each re-derived this same lineitem⋈orders distinct
    * from scratch; the a-priori miner now consumes the artifact while
    * [[recsItemCf]] keeps the live build timed (StagedArtifactsSpec twin
    * policy). Same crash-recovery contract as the other staged tables.
    */
  def stageCustomerBaskets(spark: SparkSession, dir: String): String = {
    val t = customerBasketsTable(dir)
    graft.util.Staged.stage(spark, t)(loc =>
        s"""CREATE TABLE $t (ck BIGINT, part BIGINT) USING PARQUET
           |CLUSTERED BY (ck) SORTED BY (ck) INTO $BasketBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin) {
      customerBaskets(spark, dir)
        .repartition(BasketBuckets, col("ck"))
        .write.bucketBy(BasketBuckets, "ck").sortBy("ck")
        .mode("overwrite").saveAsTable(t)
    }
    t
  }

  /** Basket-count cut for [[basketTriples]]: mining runs over the
    * [[TripleHubs]] widest customer baskets (ties by custkey) — the same
    * prune-at-the-source discipline as [[graft.ops.Graph.TriHubs]]. The
    * cut bounds the cubic enumeration at hubs·width³ regardless of corpus
    * size, and heavy baskets are where itemset evidence concentrates
    * anyway (order-level baskets are too narrow to ever repeat a triple —
    * measured ZERO support-2 triples at sf0.1).
    */
  val TripleHubs = 1000

  /** q_basket_triples: frequent 3-itemsets by the a-priori prune — the
    * level-up of [[basketPairs]] and the classic scalable market-basket
    * algorithm: a triple can only be frequent if ALL THREE of its pairs
    * are, so the enumeration is cut down to frequent-pair members BEFORE
    * any triple is materialized. Baskets are per-customer distinct part
    * sets (lifetime co-purchase), cut to the [[TripleHubs]] widest.
    *
    * Scale shape (prune-before-fan-out, the [[graft.ops.Graph.triangles]]
    * rule): one pair aggregation over the hub baskets finds the frequent
    * pairs; a broadcast semi-join shrinks the (basket, part) relation to
    * frequent-pair members so the cubic enumeration never sees a
    * non-candidate row; each enumerated (a,b) leg is semi-joined against
    * the frequent-pair set before the third leg fans out, and the final
    * triple is checked on its remaining two edges — monotonicity makes
    * every prune lossless, which is why the oracle is the DIRECT unpruned
    * triple aggregation over the same hub baskets. Supports collapse
    * map-side; the leaderboard is a distributed top-k with a full
    * deterministic tie order.
    */
  def basketTriples(spark: SparkSession, dir: String): DataFrame = {
    // baskets come off the staged artifact (build-once/consume-many;
    // recsItemCf keeps the live lineitem⋈orders build timed)
    val cb = spark.table(stageCustomerBaskets(spark, dir)).persist()
    cb.count() // feeds the hub rank + the pruned basket relation
    val hubs = cb.groupBy("ck").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ck")).limit(TripleHubs)
      .select("ck")
    val items = cb.join(broadcast(hubs), Seq("ck"), "left_semi")
      .select(col("ck").as("okey"), col("part"))
      .persist()
    items.count() // feeds the pair build + all three enumeration legs
    cb.unpersist(blocking = false)
    val fp = items.as("a").join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= TripleMinSup)
      .select("part_a", "part_b")
      .persist()
    fp.count() // the candidate-edge set: feeds fitems + three semi-joins
    // parts that participate in ANY frequent pair — the a-priori row prune.
    // The minsup floor collapses fp far below the catalog (raise minsup at
    // scale to keep it broadcastable; the shape is unchanged).
    val fitems = fp.select(col("part_a").as("part"))
      .unionByName(fp.select(col("part_b").as("part"))).distinct()
    val pli = items.join(broadcast(fitems), Seq("part"), "left_semi")
    val xy = pli.as("x").join(pli.as("y"),
        col("x.okey") === col("y.okey") && col("x.part") < col("y.part"))
      .select(col("x.okey").as("okey"), col("x.part").as("pa"),
              col("y.part").as("pb"))
      // (a,b) must itself be frequent before the third leg fans out
      .join(broadcast(fp.select(col("part_a").as("pa"), col("part_b").as("pb"))),
            Seq("pa", "pb"), "left_semi")
    val tri = xy.as("w").join(pli.as("z"),
        col("w.okey") === col("z.okey") && col("w.pb") < col("z.part"))
      .select(col("w.pa").as("pa"), col("w.pb").as("pb"), col("z.part").as("pc"))
      // remaining two edges of the triangle must be frequent too
      .join(broadcast(fp.select(col("part_a").as("pa"), col("part_b").as("pc"))),
            Seq("pa", "pc"), "left_semi")
      .join(broadcast(fp.select(col("part_a").as("pb"), col("part_b").as("pc"))),
            Seq("pb", "pc"), "left_semi")
    tri.groupBy("pa", "pb", "pc")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= TripleMinSup)
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
              col("pc").as("part_c"), col("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"), col("part_c"))
      .limit(TripleTopK)
  }

  /** The direct (unpruned) triple aggregation — a-priori monotonicity makes
    * the Spark side's prunes provably lossless, so equality against the
    * brute-force definition is the correctness statement itself.
    */
  val basketTriplesOracle: String =
    s"""WITH cb AS ($customerBasketsSql),
       |hub AS (SELECT ck FROM (SELECT ck, COUNT(*) AS n FROM cb GROUP BY 1)
       |        ORDER BY n DESC, ck LIMIT $TripleHubs),
       |items AS (SELECT ck AS okey, part FROM cb WHERE ck IN (SELECT ck FROM hub)),
       |tri AS (
       |  SELECT x.part AS part_a, y.part AS part_b, z.part AS part_c,
       |         COUNT(*) AS support
       |  FROM items x
       |  JOIN items y ON x.okey = y.okey AND x.part < y.part
       |  JOIN items z ON x.okey = z.okey AND y.part < z.part
       |  GROUP BY 1, 2, 3
       |  HAVING COUNT(*) >= $TripleMinSup)
       |SELECT part_a, part_b, part_c, support FROM tri
       |ORDER BY support DESC, part_a, part_b, part_c LIMIT $TripleTopK""".stripMargin

  /** Leaderboard size for [[recsItemCf]]. */
  val RecsTopK = 15

  /** q_recs_itemcf: item-based collaborative-filtering recommendations —
    * "customers who bought what you bought also bought": for the anchor
    * customer (the widest lifetime basket, ties by custkey, picked
    * IN-PLAN from a 1-row top-k), every not-yet-owned part scored by its
    * weighted co-occurrence with the anchor's basket (one point per
    * (owned part, sharing customer) incidence — the unnormalized itemCF
    * score). The recommendation shape completes the market-basket family:
    * [[basketPairs]] measures global affinity, [[basketTriples]] mines
    * recurring sets, this one personalizes.
    *
    * Scale shape (prune-before-fan-out): the co-occurrence join's LEFT
    * side is first semi-joined to the anchor's ~basket-width part set
    * (broadcast — a single basket is always tiny), so the per-customer
    * fan-out is |owned ∩ basket|·|basket|, never |basket|²; owned parts
    * leave via a broadcast anti-join BEFORE the score aggregation, scores
    * collapse map-side, and the leaderboard is a distributed top-k with a
    * full deterministic tie order. The anchor customer contributes no
    * candidate rows by construction (all its parts are owned).
    */
  def recsItemCf(spark: SparkSession, dir: String): DataFrame = {
    val cb = customerBaskets(spark, dir).persist()
    cb.count() // feeds the anchor rank, the owned set, and both join sides
    val anchor = cb.groupBy("ck").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ck")).limit(1)
      .select("ck")
    val own = cb.join(broadcast(anchor), Seq("ck"), "left_semi").select("part")
    val ownedRows = cb.join(broadcast(own), Seq("part"), "left_semi")
    ownedRows.as("a").join(cb.as("b"),
        col("a.ck") === col("b.ck") && col("a.part") =!= col("b.part"))
      .select(col("b.part").as("part"))
      .join(broadcast(own), Seq("part"), "left_anti")
      .groupBy("part").agg(count(lit(1)).as("score"))
      .orderBy(col("score").desc, col("part"))
      .limit(RecsTopK)
  }

  val recsItemCfOracle: String =
    s"""WITH cb AS ($customerBasketsSql),
       |anc AS (SELECT ck FROM (SELECT ck, COUNT(*) AS n FROM cb GROUP BY 1)
       |        ORDER BY n DESC, ck LIMIT 1),
       |own AS (SELECT part FROM cb WHERE ck IN (SELECT ck FROM anc)),
       |co AS (SELECT b.part AS part, CAST(COUNT(*) AS BIGINT) AS score
       |       FROM cb a JOIN cb b ON a.ck = b.ck AND a.part <> b.part
       |       WHERE a.part IN (SELECT part FROM own)
       |         AND b.part NOT IN (SELECT part FROM own)
       |       GROUP BY 1)
       |SELECT part, score FROM co ORDER BY score DESC, part LIMIT $RecsTopK""".stripMargin

  // --- RFM segmentation -------------------------------------------------------

  /** Quintile count for [[rfmSegments]]. */
  val RfmBuckets = 5

  /** q_rfm: RFM (recency / frequency / monetary) customer segmentation —
    * the classic warehouse marketing rollup: per-customer last-order
    * recency in days, order count, and exact decimal spend, each scored
    * into quintiles against rank-based boundary ORDER STATISTICS (an
    * actual data value at rank ceil(q·n) — [[winsorizedStats]]'s
    * discipline, so boundaries hash-compare bit-exactly and tie
    * classification is a deterministic integer comparison), then rolled up
    * per (r, f, m) segment.
    *
    * Recency is measured against max(o_orderdate) IN THE DATA (never the
    * wall clock — the §4.4-g determinism rule), cross-joined in as a
    * broadcast 1-row aggregate rather than collected to the driver (no
    * date ever decodes driver-side — JVM-sensitive `toJavaDate` row
    * decodes are a portability hazard). Scale: per-customer metrics are
    * one map-side combined aggregation; boundary ORDER STATISTICS come
    * from ONE labeled value-histogram (metric tag × value × count) pushed
    * through a single [[graft.plans.PrefixSum]] two-phase distributed
    * prefix sum, partitioned on the metric tag — the rank-r value is the
    * unique histogram row whose cumulative range covers r, so no
    * unpartitioned window anywhere in the plan and the boundaries stay
    * bit-exact (an actual data value, not an interpolation). Fusing the
    * three metrics into one scaffold pass pays the quantile-probe /
    * offsets-collect / clustered-pass overhead once instead of three
    * times (5.6 → ~2 s in-suite), and is the 100 TB shape: the 3-key
    * few-huge-keys layout is exactly the regime the scaffold serves, its
    * driver offsets table is buckets × 3 rows, and all twelve cut values
    * come back as ONE broadcast 1-row aggregate.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val b = RfmBuckets
    val orders = Tables.orders(spark, dir)
    val asOf = broadcast(orders.agg(max(to_date(col("o_orderdate"))).as("as_of")))
    val per = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        (sum(col("o_totalprice").cast(DecimalType(18, 4))) * 100)
          .cast(DecimalType(18, 0)).as("monetary"))
      .crossJoin(asOf)
      .select(col("custkey"),
        datediff(col("as_of"), col("last_order")).cast("long").as("recency"),
        col("frequency"), col("monetary"))
      .persist()
    val n = per.count() // feeds the boundary derivation + the classify join
    // exact distributed order statistics, all three metrics in one pass:
    // per-(metric, value) counts — values carried as DECIMAL(18,0), exact
    // for all three (recency/frequency are small longs; monetary already
    // is one) — then a single metric-partitioned two-phase prefix sum
    // over the value order. The value at rank r is the histogram row
    // with cum < r <= cum + cnt; rank ties on custkey never change the
    // VALUE at a rank, so this equals the oracle's
    // row_number()-over-(metric, custkey) cut.
    val metrics = Seq("r" -> "recency", "f" -> "frequency", "m" -> "monetary")
    val hist = per.select(explode(array(metrics.map { case (tag, c) =>
        struct(lit(tag).as("m"), col(c).cast(DecimalType(18, 0)).as("v"))
      }: _*)).as("x"))
      .select(col("x.m").as("m"), col("x.v").as("v"))
      .groupBy("m", "v").agg(count(lit(1)).as("cnt"))
    val cum = graft.plans.PrefixSum.exclusiveRunningSum(
      hist, col("cnt"), Seq("m"), Seq("v"), out = "cum")
    val cutCols = for {
      (tag, _) <- metrics
      q <- 1 until b
      r = math.ceil(n.toDouble * q / b).toLong
    } yield max(when(col("m") === tag &&
        col("cum") < r && col("cum") + col("cnt") >= r, col("v")))
      .as(s"$tag$q")
    val bounds = broadcast(cum.agg(cutCols.head, cutCols.tail: _*))
    def score(metric: String, bounds: Seq[org.apache.spark.sql.Column]) =
      bounds.map(bd => (col(metric) > bd).cast("int")).reduce(_ + _) + 1
    per
      .crossJoin(bounds)
      .select(col("custkey"), col("monetary"),
        score("recency", (1 until b).map(q => col(s"r$q"))).as("r_bucket"),
        score("frequency", (1 until b).map(q => col(s"f$q"))).as("f_bucket"),
        score("monetary", (1 until b).map(q => col(s"m$q"))).as("m_bucket"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(
        count(lit(1)).as("n_customers"),
        // Emitted as BIGINT: no decimal of any width leaves a query (oracle
        // bridges/hashers diverge on the decimal type class). Whole-relation
        // bound at sf0.1 is ~3.8e12 — far inside int64.
        sum("monetary").cast("long").as("sum_monetary"),
        min("custkey").as("min_custkey"))
      .orderBy("r_bucket", "f_bucket", "m_bucket")
  }

  val rfmOracle: String = {
    val b = RfmBuckets
    val cutsFor = (m: String) => (1 until b)
      .map(q => s"MAX(CASE WHEN rn = CAST(CEIL(n * $q / $b.0) AS BIGINT) THEN $m END) AS b$q")
      .mkString(", ")
    val scoreFor = (m: String, p: String) =>
      "1 + " + (1 until b).map(q => s"CASE WHEN $m > $p$q THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ao AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
       |per AS (
       |  SELECT o_custkey AS custkey,
       |         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), as_of) AS BIGINT) AS recency,
       |         COUNT(*) AS frequency,
       |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS DECIMAL(18,0)) AS monetary
       |  FROM orders, ao GROUP BY 1, as_of),
       |nn AS (SELECT COUNT(*) AS n FROM per),
       |rr AS (SELECT custkey, recency, ROW_NUMBER() OVER (ORDER BY recency, custkey) AS rn FROM per),
       |fr AS (SELECT custkey, frequency, ROW_NUMBER() OVER (ORDER BY frequency, custkey) AS rn FROM per),
       |mr AS (SELECT custkey, monetary, ROW_NUMBER() OVER (ORDER BY monetary, custkey) AS rn FROM per),
       |rc AS (SELECT ${cutsFor("recency")} FROM rr, nn GROUP BY n),
       |fc AS (SELECT ${cutsFor("frequency")} FROM fr, nn GROUP BY n),
       |mc AS (SELECT ${cutsFor("monetary")} FROM mr, nn GROUP BY n),
       |scored AS (
       |  SELECT custkey, monetary,
       |         ${scoreFor("recency", "rc.b")} AS r_bucket,
       |         ${scoreFor("frequency", "fc.b")} AS f_bucket,
       |         ${scoreFor("monetary", "mc.b")} AS m_bucket
       |  FROM per, rc, fc, mc)
       |SELECT CAST(r_bucket AS INT) AS r_bucket, CAST(f_bucket AS INT) AS f_bucket,
       |       CAST(m_bucket AS INT) AS m_bucket,
       |       COUNT(*) AS n_customers,
       |       CAST(SUM(monetary) AS BIGINT) AS sum_monetary,
       |       CAST(MIN(custkey) AS BIGINT) AS min_custkey
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // --- slowly-changing dimension (type 2) -------------------------------------

  /** Core SCD2 delta: classify every key of a full-outer prev/today
    * snapshot join and emit the VERSION-TABLE ACTIONS a type-2 merge
    * writes — `carried` (attr unchanged), `changed_closed` + `changed_opened`
    * (attr moved: old version closes, new opens), `inserted` (new key
    * opens), `deleted` (key gone: current version closes). One
    * co-partitioned key join; at warehouse scale the prev side is the
    * stored dimension read as its narrow (key, attr, is_current) slice.
    */
  def scd2Delta(prev: DataFrame, today: DataFrame): DataFrame = {
    val j = prev.select(col("key"), col("attr").as("attr_old"))
      .join(today.select(col("key"), col("attr").as("attr_new")), Seq("key"), "full_outer")
    val actions = j.select(col("key"),
      when(col("attr_old").isNull, array(lit("inserted")))
        .when(col("attr_new").isNull, array(lit("deleted")))
        .when(col("attr_old") === col("attr_new"), array(lit("carried")))
        .otherwise(array(lit("changed_closed"), lit("changed_opened")))
        .as("acts"))
      .select(col("key"), explode(col("acts")).as("action"))
    actions.groupBy("action")
      .agg(count(lit(1)).as("n_rows"),
           sum("key").as("sum_key"),
           min("key").as("min_key"),
           max("key").as("max_key"))
      .orderBy("action")
  }

  /** Deterministic snapshot deltas for [[scd2]]'s fixture derivation:
    * keys % [[Scd2ChangeMod]] == 0 change segment, % [[Scd2InsertMod]] == 0
    * are new today, % [[Scd2DeleteMod]] == 3 disappeared today.
    */
  val Scd2ChangeMod = 11
  val Scd2InsertMod = 17
  val Scd2DeleteMod = 19

  /** q_scd2: slowly-changing-dimension type-2 maintenance over the customer
    * dimension — the warehouse versioning pass one step up from the
    * reference's overwrite-style temp→final promotion (`q_promote_upsert`):
    * instead of replacing rows, every attribute change closes the current
    * version and opens a new one, so history is queryable as-of any date.
    * Yesterday/today snapshots are derived deterministically from the
    * fixture (planted changes, inserts, and deletes), and the emitted
    * action audit carries exact key sums so a misclassified key fails the
    * hash gate. The action fan-out (a change emits close + open) is an
    * array explode over the joined rows, never a second pass.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("attr"))
    val prev = dim
      .filter(pmod(col("key"), lit(Scd2InsertMod)) =!= 0)
      .withColumn("attr",
        when(pmod(col("key"), lit(Scd2ChangeMod)) === 0, lit("PREVSEG"))
          .otherwise(col("attr")))
    val today = dim.filter(pmod(col("key"), lit(Scd2DeleteMod)) =!= 3)
    scd2Delta(prev, today)
  }

  val scd2Oracle: String =
    s"""WITH dim AS (SELECT c_custkey AS key, c_mktsegment AS attr FROM customer),
       |prev AS (
       |  SELECT key, CASE WHEN key % $Scd2ChangeMod = 0 THEN 'PREVSEG' ELSE attr END AS attr
       |  FROM dim WHERE key % $Scd2InsertMod <> 0),
       |today AS (SELECT key, attr FROM dim WHERE key % $Scd2DeleteMod <> 3),
       |j AS (
       |  SELECT COALESCE(prev.key, today.key) AS key, prev.attr AS attr_old,
       |         today.attr AS attr_new
       |  FROM prev FULL OUTER JOIN today ON prev.key = today.key),
       |acts AS (
       |  SELECT key, unnest(
       |    CASE WHEN attr_old IS NULL THEN ['inserted']
       |         WHEN attr_new IS NULL THEN ['deleted']
       |         WHEN attr_old = attr_new THEN ['carried']
       |         ELSE ['changed_closed', 'changed_opened'] END) AS action
       |  FROM j)
       |SELECT action, COUNT(*) AS n_rows,
       |       CAST(SUM(key) AS BIGINT) AS sum_key,
       |       CAST(MIN(key) AS BIGINT) AS min_key,
       |       CAST(MAX(key) AS BIGINT) AS max_key
       |FROM acts GROUP BY 1 ORDER BY 1""".stripMargin

  // --- data-quality constraint audit ------------------------------------------

  /** q_dq_checks: the pre-ingest validation gate — one row per constraint
    * (nulls, key uniqueness, value domain, value range, referential
    * integrity, temporal consistency) with checked/violation counts and a
    * pass verdict. This is the expectations-suite shape (Deequ-style):
    * the pipeline asserts the batch BEFORE promotion, and the audit table
    * is the evidence trail.
    *
    * Scale shape: every per-table check family is FUSED into one
    * conditional-aggregation pass over that table (one pruned scan each
    * for orders and lineitem — never a scan per check), unpivoted to check
    * rows by `stack`. Cross-table checks are key-only: the FK orphan
    * probes are anti-joins over just the key columns (dimension side
    * broadcasts; the fact-fact orphan check shuffles only 8-byte keys),
    * and the temporal check rides the same key join with one date column
    * on each side. All counts are exact longs; the verdict is an integer.
    */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_discount", "l_shipdate")
    val c = Tables.customer(spark, dir).select("c_custkey")
    // one fused pass over orders: nulls, duplicate keys, status domain
    val oChecks = o.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("o_custkey").isNull, 1)).as("null_custkey"),
        (count(col("o_orderkey")) - count_distinct(col("o_orderkey"))).as("dup_orderkey"),
        count(when(not(col("o_orderstatus").isin("O", "F", "P")), 1)).as("bad_status"))
      .select(expr(
        """stack(3,
          |  'null_orders_custkey',    n_rows, null_custkey,
          |  'unique_orders_orderkey', n_rows, dup_orderkey,
          |  'domain_orders_status',   n_rows, bad_status)
          |  AS (check_name, n_checked, n_violations)""".stripMargin))
      .withColumn("table_name", lit("orders"))
    // one fused pass over lineitem: discount range, positive quantity
    val lChecks = l.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)).as("bad_discount"),
        count(when(col("l_quantity") <= 0, 1)).as("bad_quantity"))
      .select(expr(
        """stack(2,
          |  'range_lineitem_discount', n_rows, bad_discount,
          |  'range_lineitem_quantity', n_rows, bad_quantity)
          |  AS (check_name, n_checked, n_violations)""".stripMargin))
      .withColumn("table_name", lit("lineitem"))
    // referential integrity: key-only probes. SQL FK semantics: a null
    // child key satisfies the constraint (the null check owns those rows),
    // so only non-null keys are "checked". One child scan per probe:
    // checked and orphan counts come from a single left join against the
    // DISTINCT parent keys (distinct prevents duplicate-parent fan-out
    // from inflating either count; PlanAuditSpec pins the scan budget)
    def fkCheck(name: String, tbl: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String): DataFrame =
      child.select(key).filter(col(key).isNotNull)
        .join(parent.select(pkey).distinct(), col(key) === col(pkey), "left")
        .agg(count(lit(1)).as("n_checked"),
             count(when(col(pkey).isNull, 1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
                col("n_violations"), lit(tbl).as("table_name"))
    val fkLine = fkCheck("fk_lineitem_orderkey", "lineitem",
      l, "l_orderkey", o, "o_orderkey")
    val fkOrders = fkCheck("fk_orders_custkey", "orders",
      o, "o_custkey", broadcast(c), "c_custkey")
    // temporal consistency: a lineitem may never ship before its order date
    val temporal = l.select("l_orderkey", "l_shipdate")
      .join(o.select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_checked"),
           count(when(to_date(col("l_shipdate")) < to_date(col("o_orderdate")), 1))
             .as("n_violations"))
      .select(lit("temporal_ship_after_order").as("check_name"),
              col("n_checked"), col("n_violations"), lit("lineitem").as("table_name"))
    Seq(oChecks, lChecks, fkLine, fkOrders, temporal)
      .reduce(_.unionByName(_))
      .select(col("check_name"), col("table_name"), col("n_checked"),
              col("n_violations"), (col("n_violations") === 0).cast("int").as("passed"))
      .orderBy("check_name")
  }

  val dqChecksOracle: String =
    s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate FROM orders),
       |l AS (SELECT l_orderkey, l_quantity, l_discount, l_shipdate FROM lineitem),
       |rows AS (
       |  SELECT 'null_orders_custkey' AS check_name, 'orders' AS table_name,
       |         COUNT(*) AS n_checked,
       |         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations FROM o
       |  UNION ALL
       |  SELECT 'unique_orders_orderkey', 'orders', COUNT(*),
       |         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM o
       |  UNION ALL
       |  SELECT 'domain_orders_status', 'orders', COUNT(*),
       |         COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM o
       |  UNION ALL
       |  SELECT 'range_lineitem_discount', 'lineitem', COUNT(*),
       |         COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) FROM l
       |  UNION ALL
       |  SELECT 'range_lineitem_quantity', 'lineitem', COUNT(*),
       |         COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) FROM l
       |  UNION ALL
       |  SELECT 'fk_lineitem_orderkey', 'lineitem',
       |         (SELECT COUNT(*) FROM l WHERE l_orderkey IS NOT NULL),
       |         COUNT(*) FROM l WHERE l_orderkey IS NOT NULL AND NOT EXISTS
       |           (SELECT 1 FROM o WHERE o.o_orderkey = l.l_orderkey)
       |  UNION ALL
       |  SELECT 'fk_orders_custkey', 'orders',
       |         (SELECT COUNT(*) FROM o WHERE o_custkey IS NOT NULL),
       |         COUNT(*) FROM o WHERE o_custkey IS NOT NULL AND NOT EXISTS
       |           (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       |  UNION ALL
       |  SELECT 'temporal_ship_after_order', 'lineitem', COUNT(*),
       |         COUNT(CASE WHEN CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)
       |               THEN 1 END)
       |  FROM l JOIN o ON l.l_orderkey = o.o_orderkey)
       |SELECT check_name, table_name, CAST(n_checked AS BIGINT) AS n_checked,
       |       CAST(n_violations AS BIGINT) AS n_violations,
       |       CAST(n_violations = 0 AS INT) AS passed
       |FROM rows ORDER BY 1""".stripMargin

  /** q_skyline: the Pareto frontier (skyline) of the part catalog —
    * minimize price, maximize size: a part survives iff nothing is both
    * cheaper-or-equal and larger-or-equal with one strict. Multi-criteria
    * selection is the "best trade-offs" primitive (cheapest-per-capability
    * hardware, highest-quality-per-token data sources).
    *
    * Derivation here: collapse to per-price max size (map-side combined),
    * then a strict-prefix running max over the PRICE-CARDINALITY relation
    * (distinct prices ≪ rows; at 100 TB this ordered pass swaps to the
    * [[graft.plans.PrefixSum]] scaffold) — a price group joins the
    * frontier iff its max size strictly beats every cheaper group's, and
    * all parts tying that (price, size) point survive (ties dominate
    * nobody). The oracle is an INDEPENDENT quadratic NOT-EXISTS
    * formulation, so the two derivations differentially check each other.
    */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir).select("p_partkey", "p_retailprice", "p_size")
    val perPrice = p.groupBy("p_retailprice").agg(max("p_size").as("max_size"))
    val w = Window.orderBy("p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("pmax", max("max_size").over(w))
      .filter(col("pmax").isNull || col("max_size") > col("pmax"))
      .select(col("p_retailprice").as("f_price"), col("max_size"))
    p.join(broadcast(frontier),
        p("p_retailprice") === col("f_price") && p("p_size") === col("max_size"))
      .select(col("p_partkey").as("partkey"),
              col("p_retailprice").as("price"), col("p_size").as("size"))
      .orderBy("price", "partkey")
  }

  val skylineOracle: String =
    s"""SELECT p_partkey AS partkey, p_retailprice AS price, p_size AS size
       |FROM part r
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM part s
       |  WHERE (s.p_retailprice < r.p_retailprice AND s.p_size >= r.p_size)
       |     OR (s.p_retailprice <= r.p_retailprice AND s.p_size > r.p_size))
       |ORDER BY 2, 1""".stripMargin

  /** q_join_size_sketch: sketch-based join-cardinality estimation — the
    * optimizer-statistics primitive: |A ⋈_k B| equals the inner product
    * of the two key-frequency vectors, and the Count-Min inner product
    * estimates it from two fixed d×w summaries (est_r = Σ_b A_r[b]·B_r[b],
    * est = min_r — an overestimate by construction, expected slack
    * |A|·|B|/w). The audit row carries the exact size next to the
    * estimate, the overcount, and the budget verdict — the self-check-as-
    * oracle-row idiom shared with `q_heavy_hitters`.
    *
    * Scale shape: each sketch is one map-side combined aggregation into a
    * FIXED d×w table — mergeable across partitions, files, or days (the
    * catalog-statistics shape: at 100 TB only the sketches are kept and
    * the estimate is a 4096-row join; the exact join here exists to audit
    * the estimator). Width/depth shared with the CMS heavy-hitter sketch
    * ([[TextAnalysis.heavyHitters]]); the d row-hashes are disjoint
    * 24-bit slices of one md5 per key, so the build pays one digest per
    * row.
    */
  def joinSizeSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.CmsRows
    val w = TextAnalysis.CmsWidth
    // the d row-hashes are disjoint 24-bit slices of ONE md5 per key (4×6
    // of the 32 hex chars) — one digest per input row instead of d, the
    // dominant cost of the sketch build at fact-table cardinality.
    // re-spread (util.Spread) INSIDE the sketch build only: the md5 +
    // explode + hex-conv work inherits the scan's split count — the orders
    // sketch ran as ONE task (1.1 s) and the lineitem sketch as three
    // (StageBench r17); the exact-join audit branch keeps reading the raw
    // scan. No-op at real split counts; (r,b) counts invariant.
    def cms(keys: DataFrame, kcol: String): DataFrame =
      graft.util.Spread.forCpu(keys)
      .select(md5(col(kcol).cast("string")).as("h"))
      .select(col("h"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b",
        conv(expr("substring(h, r * 6 + 1, 6)"), 16, 10).cast("long") % w)
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
    val l = Tables.lineitem(spark, dir).select("l_orderkey")
    val o = Tables.orders(spark, dir).select("o_orderkey")
    val est = cms(l, "l_orderkey").withColumnRenamed("c", "ca")
      .join(cms(o, "o_orderkey").withColumnRenamed("c", "cb"), Seq("r", "b"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("e"))
      .agg(min("e").as("est_size"))
    val exact = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_size"))
    val sizes = l.agg(count(lit(1)).as("na"))
      .crossJoin(o.agg(count(lit(1)).as("nb")))
    exact.crossJoin(est).crossJoin(sizes)
      .select(col("na"), col("nb"), col("exact_size"), col("est_size"),
        (col("est_size") - col("exact_size")).as("overcount"),
        (col("est_size") >= col("exact_size") &&
          col("est_size").cast("double") <=
            col("exact_size").cast("double") +
              lit(8.0) * col("na") * col("nb") / lit(w)).as("within_budget"))
  }

  val joinSizeSketchOracle: String = {
    val d = TextAnalysis.CmsRows
    val w = TextAnalysis.CmsWidth
    s"""WITH la AS (SELECT l_orderkey AS k FROM lineitem),
       |ob AS (SELECT o_orderkey AS k FROM orders),
       |ca AS (SELECT r, ('0x' || substr(md5(k::VARCHAR), (r * 6 + 1)::INT, 6))::BIGINT % $w AS b,
       |              COUNT(*) AS c
       |       FROM la, range($d) t(r) GROUP BY 1, 2),
       |cb AS (SELECT r, ('0x' || substr(md5(k::VARCHAR), (r * 6 + 1)::INT, 6))::BIGINT % $w AS b,
       |              COUNT(*) AS c
       |       FROM ob, range($d) t(r) GROUP BY 1, 2),
       |perr AS (SELECT ca.r, CAST(SUM(ca.c * cb.c) AS BIGINT) AS e
       |         FROM ca JOIN cb ON ca.r = cb.r AND ca.b = cb.b GROUP BY 1),
       |est AS (SELECT MIN(e) AS est_size FROM perr),
       |ex AS (SELECT COUNT(*) AS exact_size
       |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |nn AS (SELECT (SELECT COUNT(*) FROM la) AS na,
       |              (SELECT COUNT(*) FROM ob) AS nb)
       |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
       |       CAST(exact_size AS BIGINT) AS exact_size, est_size,
       |       CAST(est_size - exact_size AS BIGINT) AS overcount,
       |       (est_size >= exact_size AND
       |        est_size::DOUBLE <= exact_size::DOUBLE + 8.0 * na * nb / $w)
       |         AS within_budget
       |FROM ex, est, nn""".stripMargin
  }

  /** The lineitem-family subset of [[dqChecksOracle]] — the oracle for the
    * streaming arrival gate `q_stream_dq`, which validates the lineitem
    * stream against the static warehouse (so only lineitem-side checks
    * apply; the orders-side checks belong to the orders ingest).
    */
  val dqChecksLineitemOracle: String =
    s"""WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
       |l AS (SELECT l_orderkey, l_quantity, l_discount, l_shipdate FROM lineitem),
       |rows AS (
       |  SELECT 'range_lineitem_discount' AS check_name, COUNT(*) AS n_checked,
       |         COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS n_violations FROM l
       |  UNION ALL
       |  SELECT 'range_lineitem_quantity', COUNT(*),
       |         COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) FROM l
       |  UNION ALL
       |  SELECT 'fk_lineitem_orderkey',
       |         (SELECT COUNT(*) FROM l WHERE l_orderkey IS NOT NULL),
       |         COUNT(*) FROM l WHERE l_orderkey IS NOT NULL AND NOT EXISTS
       |           (SELECT 1 FROM o WHERE o.o_orderkey = l.l_orderkey)
       |  UNION ALL
       |  SELECT 'temporal_ship_after_order', COUNT(*),
       |         COUNT(CASE WHEN CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)
       |               THEN 1 END)
       |  FROM l JOIN o ON l.l_orderkey = o.o_orderkey)
       |SELECT check_name, 'lineitem' AS table_name,
       |       CAST(n_checked AS BIGINT) AS n_checked,
       |       CAST(n_violations AS BIGINT) AS n_violations,
       |       CAST(n_violations = 0 AS INT) AS passed
       |FROM rows ORDER BY 1""".stripMargin

  // --- set operations ---------------------------------------------------------

  /** Price floor defining the high-value customer set for [[setOps]].
    * Chosen (with [[SetOpsRecentDays]]) so that ALL THREE partitions —
    * `both`, `a_only`, AND `b_only` — are non-empty at every shipped
    * fixture (measured: b_only = 5 / 45 / 496 customers at
    * sf0.001 / 0.01 / 0.1), so the oracle hash gate exercises BOTH
    * `EXCEPT` branches, not just A−B. At the previous 150000 floor,
    * b_only was empty below sf0.1 and the gated comparison never
    * witnessed the B−A branch.
    */
  val SetOpsPriceFloor = 350000.0

  /** Trailing window (days from max(o_orderdate)) defining the recently
    * active customer set for [[setOps]].
    */
  val SetOpsRecentDays = 365

  /** q_set_ops: the relational set-operation audit — `INTERSECT` / `EXCEPT`
    * over two customer key sets: A = customers with a high-value order
    * (totalprice > [[SetOpsPriceFloor]]) and B = customers active in the
    * trailing [[SetOpsRecentDays]] days (bound derived from max(o_orderdate)
    * IN THE PLAN — broadcast 1-row cross join, no driver date collect). The
    * three partitions (`both` = A∩B, `a_only` = A−B, `b_only` = B−A) each
    * roll up to a count plus key checksums, giving the daily-batch-vs-corpus
    * reconciliation shape every promotion pipeline runs ("which of today's
    * keys are genuinely new / which standing keys went missing").
    *
    * Uses `Dataset.intersect` / `Dataset.except` EXPLICITLY — the §2.7
    * set-operation exemplar. Catalyst plans both as hash-partitioned
    * semi/anti joins over the distinct key sets: co-partitioned on the key,
    * no broadcast ceiling on either side, partial aggregation for the
    * rollup — the 100 TB shape (two key-column scans, two key shuffles).
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val highValue = orders.filter(col("o_totalprice") > SetOpsPriceFloor)
      .select(col("o_custkey").as("custkey")).distinct()
    val asOf = broadcast(orders.agg(max(to_date(col("o_orderdate"))).as("as_of")))
    val recent = orders.crossJoin(asOf)
      .filter(to_date(col("o_orderdate")) >= date_sub(col("as_of"), SetOpsRecentDays))
      .select(col("o_custkey").as("custkey")).distinct()
    // label each partition, then ONE grouped rollup — an empty partition
    // yields no row, exactly the oracle's GROUP BY semantics
    def labeled(df: DataFrame, label: String): DataFrame =
      df.select(lit(label).as("part"), col("custkey"))
    labeled(highValue.intersect(recent), "both")
      .unionByName(labeled(highValue.except(recent), "a_only"))
      .unionByName(labeled(recent.except(highValue), "b_only"))
      .groupBy("part")
      .agg(
        count(lit(1)).as("n_cust"),
        sum("custkey").as("sum_key"),
        min("custkey").as("min_key"),
        max("custkey").as("max_key"))
      .orderBy("part")
  }

  val setOpsOracle: String =
    s"""WITH ao AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
       |a AS (SELECT DISTINCT o_custkey AS custkey FROM orders
       |      WHERE o_totalprice > $SetOpsPriceFloor),
       |b AS (SELECT DISTINCT o_custkey AS custkey FROM orders, ao
       |      WHERE CAST(o_orderdate AS DATE) >= as_of - $SetOpsRecentDays),
       |parts AS (
       |  SELECT 'both' AS part, custkey FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)
       |  UNION ALL
       |  SELECT 'a_only', custkey FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)
       |  UNION ALL
       |  SELECT 'b_only', custkey FROM (SELECT custkey FROM b EXCEPT SELECT custkey FROM a))
       |SELECT part, COUNT(*) AS n_cust,
       |       CAST(SUM(custkey) AS BIGINT) AS sum_key,
       |       CAST(MIN(custkey) AS BIGINT) AS min_key,
       |       CAST(MAX(custkey) AS BIGINT) AS max_key
       |FROM parts GROUP BY 1 ORDER BY 1""".stripMargin

  // --- multi-way join exemplars (TPC-H Q7/Q8 shapes) --------------------------

  /** q_nation_volume: cross-nation revenue flow (the TPC-H Q7 shape) —
    * which supplier nation ships how much to which customer nation, by
    * order year. The canonical star-chain join exemplar: the fact
    * (lineitem) joins orders on the orderkey (big-big, shuffle on the
    * key), then the pre-annotated customer and supplier dims on their
    * keys. Only the FIXED-cardinality nation table (25 rows, SF-invariant)
    * is force-broadcast — onto the dims BEFORE their big joins, so the
    * nation name rides the dim rows and never widens the fact shuffle.
    * customer and supplier scale with SF (15k/1k rows per SF unit): at
    * 100 TB they are NOT broadcastable, so their joins are left to
    * shuffle on the key and AQE may still broadcast them when a filter
    * makes them small. The nation-inequality filter runs after both dim
    * joins (it needs both names); the rollup is partial-aggregated to at
    * most 25×24×years groups.
    */
  def nationVolume(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val custN = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val suppN = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_items"),
           Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "o_year")
  }

  val nationVolumeOracle: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |       CAST(YEAR(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |       COUNT(*) AS n_items,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |WHERE sn.n_name <> cn.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Market-share constants for [[marketShare]]: customer region and the
    * supplier nation whose share is measured. NATION_3 has suppliers with
    * ASIA-customer sales in EVERY order year at every shipped fixture
    * scale (probed at sf0.001/0.01/0.1), so the numerator branch of the
    * conditional aggregate is exercised by the gate everywhere.
    */
  val MarketShareRegion = "ASIA"
  val MarketShareSuppNation = "NATION_3"

  /** q_market_share: the TPC-H Q8 shape — within one customer REGION's
    * revenue, the per-year share supplied by one nation. Exercises the
    * region→nation→customer broadcast-annotation chain (region and nation
    * are fixed-cardinality — always broadcast; the region filter prunes
    * the customer dim BEFORE its big join, the pushdown a declarative
    * plan gets for free) plus a conditional aggregate over the same
    * star-chain as [[nationVolume]].
    *
    * Exactness: numerator and denominator are DECIMAL(18,4) sums
    * (aggregation-order independent); the share divides their double
    * CASTS — one IEEE division of two exactly-agreed operands on both
    * engines. The observability columns round through [[Exact.sum2]].
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nat = Tables.nation(spark, dir)
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(nat.join(broadcast(Tables.region(spark, dir)),
              col("n_regionkey") === col("r_regionkey"))
            .filter(col("r_name") === MarketShareRegion)),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppN = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val revDec = Exact.revenue.cast(DecimalType(18, 4))
    val zeroDec = lit(0).cast(DecimalType(18, 4))
    val mktDec = when(col("supp_nation") === MarketShareSuppNation, revDec)
      .otherwise(zeroDec)
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
      .agg(
        (sum(mktDec).cast("double") / sum(revDec).cast("double")).as("mkt_share"),
        round(sum(mktDec), 2).cast("double").as("mkt_revenue"),
        round(sum(revDec), 2).cast("double").as("total_revenue"))
      .orderBy("o_year")
  }

  val marketShareOracle: String =
    s"""WITH base AS (
       |  SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |         CAST(${Exact.revenueSql} AS DECIMAL(18,4)) AS rev,
       |         CASE WHEN sn.n_name = '$MarketShareSuppNation'
       |              THEN CAST(${Exact.revenueSql} AS DECIMAL(18,4))
       |              ELSE CAST(0 AS DECIMAL(18,4)) END AS mkt
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  JOIN region r ON cn.n_regionkey = r.r_regionkey
       |  WHERE r.r_name = '$MarketShareRegion')
       |SELECT o_year,
       |       CAST(SUM(mkt) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
       |       CAST(ROUND(SUM(mkt), 2) AS DOUBLE) AS mkt_revenue,
       |       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue
       |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Poisson bootstrap ------------------------------------------------------

  /** Resample count for [[bootstrapCi]]. */
  val BootstrapResamples = 64

  /** Integer Poisson(1) CDF cutoffs on the 13-hex-digit hash grain
    * (0 .. 16¹³ = 2⁵²): weight k iff u13 lands in [cutoff(k−1), cutoff(k)).
    * Quantized ONCE and interpolated as identical literals into both
    * engines' SQL, so the resample weight is a pure integer comparison
    * everywhere — no float CDF evaluation can diverge. Weights are capped
    * at 8 (tail mass ~1e-6, deterministic on both engines).
    *
    * HARDCODED literals (the [[benfordExpectedSql]] discipline), i.e.
    * ⌊CDF_Poisson(1)(k)·2⁵²⌋ evaluated at 60-digit decimal precision —
    * NOT computed at runtime: `java.lang.Math.exp` is platform-dependent
    * (only required to be within 1 ulp, and the measured double-precision
    * evaluation really does land +1 off the exact floor in 5 of the 8
    * cutoffs), so a runtime derivation could shift a boundary by one and
    * flip a resample weight across JVMs. Pinning the integers makes the
    * bootstrap bit-reproducible on every host.
    */
  private val PoissonCutoffs: Seq[Long] = Seq(
    1656781714176973L, 3313563428353947L, 4141954285442434L,
    4418084571138597L, 4487117142562637L, 4500923656847445L,
    4503224742561580L, 4503553469092171L)

  /** Shared CASE text mapping a 13-hex uniform to a Poisson(1) weight. */
  private def poissonWeightSql(u: String): String =
    "CASE " + PoissonCutoffs.zipWithIndex
      .map { case (cut, k) => s"WHEN $u < $cut THEN $k" }
      .mkString(" ") + " ELSE 8 END"

  /** q_bootstrap_ci: a 95% Poisson-bootstrap confidence interval for the
    * mean order value — THE distributed resampling method: classical
    * bootstrap draws n-out-of-n WITH replacement, which needs global
    * coordination, while Poisson(1) per-row weights approximate it with
    * INDEPENDENT per-row draws — each row computes its own weight for
    * every resample from a keyed hash, embarrassingly parallel.
    *
    * Plan: the fact explodes ×B resample indices, but the per-resample
    * aggregation is partial (map-side combine), so the shuffle carries
    * only B × partitions weighted partial sums — the explode never
    * crosses the wire. The B per-resample means (a B-row relation) sort
    * into the percentile readout. Determinism: the weight is an integer
    * compare of the md5-derived 13-hex uniform against the
    * [[PoissonCutoffs]] literals on BOTH engines; the weighted sums are
    * exact decimals; each mean is one double division.
    *
    * CI convention: sorted means m₍₁₎…m₍B₎, cut = ⌊0.025·B⌋; the interval
    * is [m₍cut+1₎, m₍B−cut₎] (with B = 64: the 2nd and 63rd order
    * statistics).
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bN = BootstrapResamples
    val cut = (0.025 * bN).toInt
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val means = orders
      .select(col("o_orderkey"), col("o_totalprice"),
              explode(sequence(lit(0), lit(bN - 1))).as("b"))
      .withColumn("u13",
        conv(substring(md5(concat(col("o_orderkey").cast("string"), lit(":"),
                                  col("b").cast("string"))), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("w", expr(poissonWeightSql("u13")).cast("long"))
      .groupBy("b")
      .agg(sum(col("w") * col("o_totalprice").cast(DecimalType(18, 4)))
             .as("sx"),
           sum("w").as("nw"))
      .select((col("sx").cast("double") / col("nw").cast("double"))
        .as("mean_b"))
      .agg(sort_array(collect_list("mean_b")).as("ms"))
    orders
      .agg(count(lit(1)).as("n_orders"),
           (sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double") /
             count(lit(1)).cast("double")).as("point_mean"))
      .crossJoin(means)
      .select(col("n_orders"), lit(bN.toLong).as("n_resamples"),
              col("point_mean"),
              element_at(col("ms"), cut + 1).as("ci_lo"),
              element_at(col("ms"), bN - cut).as("ci_hi"))
  }

  val bootstrapCiOracle: String = {
    val bN = BootstrapResamples
    val cut = (0.025 * bN).toInt
    s"""WITH bs AS (SELECT unnest(generate_series(0, ${bN - 1})) AS b),
       |u AS (
       |  SELECT o_totalprice, b,
       |         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
       |                             CAST(b AS VARCHAR)), 1, 13))::BIGINT AS u13
       |  FROM orders CROSS JOIN bs),
       |m AS (
       |  SELECT b,
       |         CAST(SUM((${poissonWeightSql("u13")}) *
       |                  CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) /
       |           CAST(SUM(${poissonWeightSql("u13")}) AS DOUBLE) AS mean_b
       |  FROM u GROUP BY 1),
       |ms AS (SELECT LIST(mean_b ORDER BY mean_b) AS l FROM m),
       |pt AS (
       |  SELECT COUNT(*) AS n_orders,
       |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) /
       |           CAST(COUNT(*) AS DOUBLE) AS point_mean
       |  FROM orders)
       |SELECT n_orders, CAST($bN AS BIGINT) AS n_resamples, point_mean,
       |       l[${cut + 1}] AS ci_lo, l[${bN - cut}] AS ci_hi
       |FROM pt CROSS JOIN ms""".stripMargin
  }

  // --- decision-support shapes (TPC-H Q17/Q15/Q22/Q2 skeletons) ---------------

  /** q_small_qty_revenue: revenue locked in below-average-quantity line
    * items, by brand — the TPC-H Q17 shape (correlated per-group average
    * gate). The canonical AGGREGATE-JOIN-BACK pattern: the fact is
    * aggregated per part, then joined back to itself on the same key to
    * gate each row against its own group's statistic.
    *
    * Exactness: the gate `qty < 0.2·avg(qty)` is cross-multiplied into
    * pure integers — `5·qty·n < Σqty` (quantities are exact integers
    * riding doubles) — so no engine ever divides. Revenue sums through
    * [[Exact.sum2]].
    *
    * Scale shape: both sides of the self-join hash-partition on
    * `l_partkey` — the aggregate is map-side combined, and the join-back
    * co-partitions with it (no broadcast of an SF-scaling relation). The
    * per-part statistic is 2 longs, so the joined row stays narrow. The
    * brand join shuffles on `p_partkey`; `part` scales with SF and is
    * deliberately NOT force-broadcast (AQE may still elect to).
    */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
              col("l_extendedprice"))
    val stats = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_i"), sum("qty").as("sq_i"))
    li.join(stats, col("l_partkey") === col("pk"))
      .filter(lit(5L) * col("qty") * col("n_i") < col("sq_i"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_small"),
           Exact.sum2(col("l_extendedprice")).as("lost_revenue"))
      .orderBy("brand")
  }

  val smallQtyRevenueOracle: String =
    s"""WITH li AS (
       |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
       |  FROM lineitem),
       |st AS (
       |  SELECT l_partkey AS pk, COUNT(*) AS n_i,
       |         CAST(SUM(qty) AS BIGINT) AS sq_i
       |  FROM li GROUP BY 1),
       |small AS (
       |  SELECT li.* FROM li JOIN st ON li.l_partkey = st.pk
       |  WHERE 5 * qty * n_i < sq_i)
       |SELECT p.p_brand AS brand, COUNT(*) AS n_small,
       |       ${Exact.sum2Sql("l_extendedprice")} AS lost_revenue
       |FROM small JOIN part p ON small.l_partkey = p.p_partkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ship-date quarter measured by [[topSupplier]] (TPC-H Q15 uses a
    * 3-month revenue window; the fixture generator covers 1995–2001, so
    * Q1 1996 is populated at every shipped scale). */
  val TopSupplierFrom = "1996-01-01"
  val TopSupplierTo   = "1996-04-01"

  /** q_top_supplier: the supplier(s) with maximum revenue over one
    * ship-date quarter — the TPC-H Q15 shape (aggregate view + join back
    * on its own MAX). The ARGMAX-ALL pattern done window-free: the 1-row
    * global max cross-joins back into the per-supplier rollup, so ties
    * all surface and nothing ever sorts the full relation. Equality is
    * tested on the exact DECIMAL sums (internal only — the emitted
    * revenue is the rounded double).
    *
    * Scale shape: one map-side-combined rollup keyed on `l_suppkey`, a
    * 1-row broadcast, a filter. No window, no global sort, no driver
    * collect — the same plan at 100 TB.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // pinned under the retained-cache convention: the supplier-cardinality
    // rollup feeds BOTH lazy branches of the returned plan (the relation
    // and its 1-row max) — without the pin the max branch re-scans the
    // fact; the harness's per-query clearCache releases it
    val revs = Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit(TopSupplierFrom).cast("date") &&
              to_date(col("l_shipdate")) <  lit(TopSupplierTo).cast("date"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(Exact.revenue.cast(DecimalType(18, 4))).as("rev"))
      .persist()
    revs.crossJoin(broadcast(revs.agg(max(col("rev")).as("max_rev"))))
      .filter(col("rev") === col("max_rev"))
      .select(col("s_suppkey"),
              round(col("rev"), 2).cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  val topSupplierOracle: String =
    s"""WITH revs AS (
       |  SELECT l_suppkey AS s_suppkey,
       |         SUM(CAST(${Exact.revenueSql} AS DECIMAL(18,4))) AS rev
       |  FROM lineitem
       |  WHERE CAST(l_shipdate AS DATE) >= DATE '$TopSupplierFrom'
       |    AND CAST(l_shipdate AS DATE) <  DATE '$TopSupplierTo'
       |  GROUP BY 1),
       |mx AS (SELECT MAX(rev) AS max_rev FROM revs)
       |SELECT s_suppkey, CAST(ROUND(rev, 2) AS DOUBLE) AS total_rev
       |FROM revs CROSS JOIN mx WHERE rev = max_rev
       |ORDER BY s_suppkey""".stripMargin

  /** Recency cutoff for [[balanceAudit]]: customers count as dormant when
    * they have NO order on/after this date. Probed at sf0.001/0.01/0.1 —
    * the audit is non-empty at every shipped scale (2/14/148 rows pre-
    * grouping), so the anti-join branch is exercised by the gate
    * everywhere (the q_set_ops lesson). */
  val BalanceAuditCutoff = "1999-01-01"

  /** q_balance_audit: positive-balance customers holding MORE than the
    * average positive balance who placed no recent order, rolled up per
    * nation — the TPC-H Q22 shape (global scalar subquery + anti-join).
    *
    * Exactness: the scalar average is never divided out — the filter
    * cross-multiplies `bal · n > Σbal` on exact DECIMAL(18,4) balances,
    * and only the final per-nation sum rounds to a double.
    *
    * Scale shape: the 1-row (Σ, n) aggregate broadcasts; the balance gate
    * prunes the customer relation BEFORE the anti-join so the shuffle
    * carries only above-average customers; the anti-join probes a
    * key-only projection of recent orders, hash-partitioned on the
    * custkey. Nothing SF-scaling broadcasts.
    */
  def balanceAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pos = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 0.0)
      .select(col("c_custkey"), col("c_nationkey"),
              col("c_acctbal").cast(DecimalType(18, 4)).as("bal"))
    val avgb = pos.agg(sum("bal").as("s"), count(lit(1)).as("n"))
    val recent = Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) >= lit(BalanceAuditCutoff).cast("date"))
      .select(col("o_custkey"))
    pos.crossJoin(broadcast(avgb))
      .filter(col("bal") * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"),
           round(sum("bal"), 2).cast("double").as("total_bal"))
      .orderBy("nationkey")
  }

  val balanceAuditOracle: String =
    s"""WITH pos AS (
       |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,4)) AS bal
       |  FROM customer WHERE c_acctbal > 0.0),
       |avgb AS (SELECT SUM(bal) AS s, COUNT(*) AS n FROM pos),
       |sel AS (
       |  SELECT pos.* FROM pos CROSS JOIN avgb
       |  WHERE bal * n > s AND NOT EXISTS (
       |    SELECT 1 FROM orders o
       |    WHERE o.o_custkey = pos.c_custkey
       |      AND CAST(o.o_orderdate AS DATE) >= DATE '$BalanceAuditCutoff'))
       |SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
       |       CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS total_bal
       |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_cheapest_supplier: per part, the supplier quoting the minimum
    * line price; then the leaderboard of suppliers by how many parts they
    * win — the TPC-H Q2 shape (groupwise argmin). The Spark side does it
    * in ONE aggregation pass: `min(struct(price, suppkey))` orders
    * lexicographically, so the struct minimum IS (min price, min suppkey
    * at that price) — ties break deterministically toward the smaller
    * key with no join-back and no window. The oracle derives the same
    * relation through the classic two-pass MIN + equality-join
    * formulation, so the two independently-shaped derivations
    * differentially check each other.
    *
    * Scale shape: one map-side-combined agg keyed on `l_partkey` (the
    * struct partial is 2 longs), one agg keyed on the winner, and a
    * TakeOrderedAndProject top-25 — no shuffle ever carries more than the
    * per-part winners relation.
    */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"))
    li.groupBy("l_partkey")
      .agg(min(struct(col("cents"), col("l_suppkey"))).as("m"))
      .select(col("m.cents").as("min_cents"),
              col("m.l_suppkey").as("s_suppkey"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_parts"), sum("min_cents").as("sum_min_cents"))
      .orderBy(col("n_parts").desc, col("s_suppkey"))
      .limit(25)
  }

  /** Days of slack before a shipment counts as late in [[lateOrders]]. */
  val LateOrdersSlackDays = 30

  /** q_late_orders: orders with at least one line shipped more than
    * [[LateOrdersSlackDays]] days after the order date, counted per
    * priority — the TPC-H Q4 shape (correlated EXISTS). Planned as a
    * LEFT SEMI join whose condition mixes the orderkey equi-part with the
    * correlated date inequality: Spark hash-partitions both sides on the
    * key and evaluates the residual inequality inside the join, so each
    * order is emitted at most once no matter how many lines are late —
    * exactly EXISTS semantics, with no DISTINCT pass and no row
    * multiplication. The oracle states the same query as a textbook
    * correlated EXISTS, so the two formulations differentially check.
    *
    * Scale shape: key-only projections on both sides (2 date columns
    * ride), one key-partitioned semi-join, a 5-group map-side-combined
    * rollup. Nothing broadcasts, nothing multiplies.
    */
  def lateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li,
           col("o_orderkey") === col("l_orderkey") &&
             to_date(col("l_shipdate")) >
               date_add(to_date(col("o_orderdate")), LateOrdersSlackDays),
           "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  val lateOrdersOracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_late_orders
       |FROM orders o
       |WHERE EXISTS (
       |  SELECT 1 FROM lineitem l
       |  WHERE l.l_orderkey = o.o_orderkey
       |    AND CAST(l.l_shipdate AS DATE) >
       |        CAST(o.o_orderdate AS DATE) + INTERVAL $LateOrdersSlackDays DAY)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val cheapestSupplierOracle: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey,
      |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |m AS (SELECT l_partkey AS pk, MIN(cents) AS min_cents FROM li GROUP BY 1),
      |w AS (
      |  SELECT m.pk, m.min_cents, MIN(l_suppkey) AS s_suppkey
      |  FROM li JOIN m ON li.l_partkey = m.pk AND li.cents = m.min_cents
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, COUNT(*) AS n_parts,
      |       CAST(SUM(min_cents) AS BIGINT) AS sum_min_cents
      |FROM w GROUP BY 1
      |ORDER BY n_parts DESC, s_suppkey LIMIT 25""".stripMargin

  // --- order-backlog / volume decision-support shapes (Q3/Q5/Q10/Q13/Q14/Q18/Q21) ---

  /** Constants for [[shipPriority]]: the market segment whose backlog is
    * mined and the as-of date splitting "ordered before" from "shipped
    * after". Mid-range of the fixtures' 1995–2001 span — both date
    * predicates and the segment filter are non-empty at every shipped
    * scale (probed at sf0.001/0.01/0.1).
    */
  val ShipPrioritySegment = "BUILDING"
  val ShipPriorityAsOf    = "1998-06-15"

  /** q_ship_priority: the TPC-H Q3 shape — the 10 highest-revenue orders
    * from one market segment placed before the as-of date that still have
    * lines shipping after it (the unshipped-backlog report).
    *
    * Scale shape: the segment filter prunes the customer dim to a
    * key-only projection consumed by a LEFT SEMI join (no customer column
    * survives, so nothing widens the fact shuffle); both date filters
    * push into the parquet scans; the rollup is map-side combined on the
    * (orderkey, orderdate) grain; the top-10 is a TakeOrderedAndProject —
    * no global sort materializes. Nothing SF-scaling broadcasts.
    *
    * Exactness: revenue is the house exact decimal sum ([[Exact.sum2]]);
    * the leaderboard orders by the rounded value with the orderkey as the
    * deterministic tiebreak on both engines.
    */
  def shipPriority(spark: SparkSession, dir: String): DataFrame = {
    val asOf = lit(ShipPriorityAsOf).cast("date")
    val segCust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === ShipPrioritySegment)
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) < asOf)
      .join(segCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
    Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) > asOf)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val shipPriorityOracle: String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE c.c_mktsegment = '$ShipPrioritySegment'
       |  AND CAST(o.o_orderdate AS DATE) < DATE '$ShipPriorityAsOf'
       |  AND CAST(l.l_shipdate AS DATE) > DATE '$ShipPriorityAsOf'
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Constants for [[localVolume]]: the customer region and the one-year
    * order-date window. Probed non-empty at every shipped scale. */
  val LocalVolumeRegion = "ASIA"
  val LocalVolumeFrom   = "1997-01-01"
  val LocalVolumeTo     = "1998-01-01"

  /** q_local_volume: the TPC-H Q5 shape — one region's order revenue
    * restricted to LOCAL supply (the supplier sits in the customer's own
    * nation), rolled up per nation over a one-year window.
    *
    * Scale shape: region and nation are fixed-cardinality, so the
    * region→nation chain broadcasts onto the customer dim and prunes it
    * BEFORE the big joins (the nation name rides the customer rows — the
    * 25-group rollup needs no further dim join). The supplier join
    * carries the locality requirement `s_nationkey = c_nationkey` as its
    * residual condition, so non-local lines die inside the join instead
    * of fanning out. customer/supplier scale with SF and are left to
    * shuffle on their keys.
    */
  def localVolume(spark: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === LocalVolumeRegion)
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) >= lit(LocalVolumeFrom).cast("date") &&
              to_date(col("o_orderdate")) < lit(LocalVolumeTo).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir)
              .select(col("l_orderkey"), col("l_suppkey"),
                      col("l_extendedprice"), col("l_discount")),
            col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
                    col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"), Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val localVolumeOracle: String =
    s"""SELECT n.n_name, COUNT(*) AS n_items,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |                AND s.s_nationkey = c.c_nationkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = '$LocalVolumeRegion'
       |  AND CAST(o.o_orderdate AS DATE) >= DATE '$LocalVolumeFrom'
       |  AND CAST(o.o_orderdate AS DATE) <  DATE '$LocalVolumeTo'
       |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  /** Order-date quarter for [[returnedRevenue]]. Probed non-empty at
    * every shipped scale. */
  val ReturnedFrom = "1998-01-01"
  val ReturnedTo   = "1998-04-01"

  /** q_returned_revenue: the TPC-H Q10 shape — the 20 customers who
    * returned the most revenue (returnflag = R) on orders from one
    * quarter, annotated with their nation.
    *
    * Scale shape: the returnflag and date filters push into the fact
    * scans; only the fixed-cardinality nation table broadcasts (onto the
    * customer dim BEFORE its big join); the rollup grain is the customer
    * key with functionally-dependent name/balance/nation riding as group
    * keys; the top-20 is a TakeOrderedAndProject.
    *
    * Exactness: c_acctbal is a bit-identical parquet passthrough on both
    * engines (grouping key, never arithmetic); revenue is the house
    * exact decimal sum with the custkey tiebreak.
    */
  def returnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val custN = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
    Tables.orders(spark, dir)
      .filter(to_date(col("o_orderdate")) >= lit(ReturnedFrom).cast("date") &&
              to_date(col("o_orderdate")) < lit(ReturnedTo).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
              .filter(col("l_returnflag") === "R")
              .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
            col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(Exact.sum2(Exact.revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val returnedRevenueOracle: String =
    s"""SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |WHERE l.l_returnflag = 'R'
       |  AND CAST(o.o_orderdate AS DATE) >= DATE '$ReturnedFrom'
       |  AND CAST(o.o_orderdate AS DATE) <  DATE '$ReturnedTo'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Order status excluded from [[custOrderDist]] ('P' = pending — the
    * "count only completed demand" flavor of Q13's comment filter). */
  val CustOrderDistExcludedStatus = "P"

  /** q_cust_order_dist: the TPC-H Q13 shape — the distribution of orders
    * per customer INCLUDING the zero bucket: how many customers placed
    * exactly k qualifying orders. The zero bucket forces an outer join —
    * the one relational shape an inner-join pipeline can't express.
    *
    * Scale shape: the status filter is applied to the orders side BEFORE
    * the LEFT OUTER join (equivalent to the textbook ON-clause filter,
    * and it prunes the shuffle); both aggregations are map-side combined
    * — the first on the custkey the join already partitioned by, the
    * second on the tiny count domain.
    */
  def custOrderDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= CustOrderDistExcludedStatus)
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val custOrderDistOracle: String =
    s"""SELECT c_count, COUNT(*) AS custdist FROM (
       |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
       |  FROM customer c
       |  LEFT OUTER JOIN orders o
       |    ON c.c_custkey = o.o_custkey
       |   AND o.o_orderstatus <> '$CustOrderDistExcludedStatus'
       |  GROUP BY 1)
       |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Ship-date year for [[promoShare]] (12 monthly groups; every month
    * of 1998 has lines at every shipped scale). */
  val PromoShareFrom = "1998-01-01"
  val PromoShareTo   = "1999-01-01"
  /** The part type whose revenue share is measured. */
  val PromoShareType = "PROMO"

  /** q_promo_share: the TPC-H Q14 shape — per ship month, the percentage
    * of revenue from PROMO-typed parts. Same conditional-aggregate
    * exactness discipline as [[marketShare]]: numerator and denominator
    * are DECIMAL(18,4) sums (aggregation-order independent), the share is
    * ONE IEEE expression `100.0 * num / den` over their double casts —
    * identical text on both engines.
    *
    * Scale shape: the date filter pushes into the fact scan; the part
    * dim joins on its key carrying only a boolean (is_promo), so the
    * fact shuffle widens by one bit; part scales with SF so it is NOT
    * force-broadcast (AQE may still elect to). The 12-group rollup is
    * map-side combined.
    */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === PromoShareType).as("is_promo"))
    val revDec = Exact.revenue.cast(DecimalType(18, 4))
    val zeroDec = lit(0).cast(DecimalType(18, 4))
    Tables.lineitem(spark, dir)
      .filter(to_date(col("l_shipdate")) >= lit(PromoShareFrom).cast("date") &&
              to_date(col("l_shipdate")) < lit(PromoShareTo).cast("date"))
      .select(col("l_partkey"), col("l_shipdate"),
              col("l_extendedprice"), col("l_discount"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(month(to_date(col("l_shipdate"))).cast("long").as("ship_month"))
      .agg(
        (lit(100.0) * sum(when(col("is_promo"), revDec).otherwise(zeroDec)).cast("double") /
          sum(revDec).cast("double")).as("promo_share"),
        round(sum(when(col("is_promo"), revDec).otherwise(zeroDec)), 2)
          .cast("double").as("promo_revenue"),
        round(sum(revDec), 2).cast("double").as("total_revenue"))
      .orderBy("ship_month")
  }

  val promoShareOracle: String =
    s"""WITH base AS (
       |  SELECT CAST(MONTH(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_month,
       |         CAST(${Exact.revenueSql} AS DECIMAL(18,4)) AS rev,
       |         CASE WHEN p.p_type = '$PromoShareType'
       |              THEN CAST(${Exact.revenueSql} AS DECIMAL(18,4))
       |              ELSE CAST(0 AS DECIMAL(18,4)) END AS promo
       |  FROM lineitem l
       |  JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE CAST(l.l_shipdate AS DATE) >= DATE '$PromoShareFrom'
       |    AND CAST(l.l_shipdate AS DATE) <  DATE '$PromoShareTo')
       |SELECT ship_month,
       |       100.0 * CAST(SUM(promo) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE) AS promo_share,
       |       CAST(ROUND(SUM(promo), 2) AS DOUBLE) AS promo_revenue,
       |       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue
       |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  /** Minimum whole-order quantity for [[bigOrders]] (strict >). The
    * fixtures' l_quantity is integral (1–50 stored as double), so the
    * order total is an exact integer; the cutoff is set so the report is
    * a genuine distribution tail yet non-empty at every shipped scale
    * (probed: 5 / 46 / 473 qualifying orders at sf0.001/0.01/0.1 — the
    * top-100 limit boundary is exercised at bench scale). */
  val BigOrdersMinQty = 300L

  /** q_big_orders: the TPC-H Q18 shape — large-volume orders (whole-order
    * quantity strictly above [[BigOrdersMinQty]]) with their customer,
    * top-100 by order value.
    *
    * Scale shape: the HAVING gate runs FIRST as a map-side-combined
    * aggregation over a two-column fact projection, so only qualifying
    * orderkeys (the distribution tail) enter any join; orders joins on
    * the orderkey, customer on the custkey — both key-shuffled with AQE
    * free to broadcast the tiny qualifying side; the top-100 is a
    * TakeOrderedAndProject on the bit-identical o_totalprice passthrough
    * with the orderkey tiebreak.
    *
    * Exactness: quantities are integral doubles ≤50, so the DECIMAL sum
    * is an exact integer and its BIGINT cast is lossless on both engines.
    */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val qty = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("qsum"))
      .filter(col("qsum") > BigOrdersMinQty)
      .select(col("l_orderkey"), col("qsum").cast("bigint").as("sum_qty"))
    qty
      .join(Tables.orders(spark, dir)
              .select(col("o_orderkey"), col("o_custkey"),
                      col("o_orderdate"), col("o_totalprice")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              to_date(col("o_orderdate")).as("o_orderdate"),
              col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val bigOrdersOracle: String =
    s"""WITH qty AS (
       |  SELECT l_orderkey,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS BIGINT) AS sum_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > $BigOrdersMinQty)
       |SELECT c.c_name, c.c_custkey, o.o_orderkey,
       |       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       |       o.o_totalprice, qty.sum_qty
       |FROM qty
       |JOIN orders o ON qty.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q_wait_suppliers: the TPC-H Q21 shape — suppliers who single-handedly
    * held up multi-supplier orders: in how many orders involving at least
    * one OTHER supplier was this supplier the ONLY one to ship more than
    * [[LateOrdersSlackDays]] days after the order date. Top-25 by that
    * count.
    *
    * The textbook statement is a double correlated subquery
    * (EXISTS another-supplier line, NOT EXISTS another-late-supplier
    * line). The Spark plan collapses both into ONE two-level aggregation:
    * per (order, supplier) fold lateness, then per order count suppliers
    * and late suppliers and keep orders with ≥2 suppliers exactly 1 of
    * them late — the unique late supplier IS the waiting supplier. Each
    * qualifying order contributes exactly once, which the oracle mirrors
    * with COUNT(DISTINCT order). The two formulations differentially
    * check each other.
    *
    * Scale shape: the only join fan-out is lineitem⋈orders on the
    * orderkey (one date column rides); both aggregation levels are
    * map-side combinable and the second reuses the first's key prefix;
    * no EXISTS re-scan, no Expand, no self-join of the fact. The winner
    * relation (≤ supplier cardinality) key-joins supplier for the name.
    */
  def waitSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
              (to_date(col("l_shipdate")) >
                date_add(to_date(col("o_orderdate")), LateOrdersSlackDays)).as("late"))
    val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
           sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
           min(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
            col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(25)
  }

  val waitSuppliersOracle: String =
    s"""WITH li AS (
       |  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
       |         CAST(l.l_shipdate AS DATE) >
       |           CAST(o.o_orderdate AS DATE) + INTERVAL $LateOrdersSlackDays DAY AS late
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
       |SELECT s.s_suppkey, s.s_name, COUNT(DISTINCT l1.ok) AS numwait
       |FROM li l1 JOIN supplier s ON l1.sk = s.s_suppkey
       |WHERE l1.late
       |  AND EXISTS (SELECT 1 FROM li l2 WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM li l3
       |    WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late)
       |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 25""".stripMargin

  /** Ship-date window for [[filterScan]] (probed: 124/1175/12054
    * qualifying lines at sf0.001/0.01/0.1). */
  val FilterScanFrom = "1997-01-01"
  val FilterScanTo   = "1998-01-01"

  /** q_filter_scan: the TPC-H Q6 shape — the pure scan-dominant filter
    * aggregation (forecast-revenue-change): one fact table, three
    * conjunctive predicates, one 1-row rollup, NO join — the canonical
    * predicate-pushdown showcase. The date predicates compare the
    * TIMESTAMP column directly against timestamp literals (every fixture
    * shipdate is exactly midnight — probed — so this is value-identical
    * to the oracle's date cast) precisely so ALL THREE predicates reach
    * the parquet scan as PushedFilters; a `to_date(col)` cast would
    * evaluate post-scan and read every row group. PlanAuditSpec asserts
    * the pushed set. The discount-band compare is bit-consistent on both
    * engines (both compare the same stored double against the same
    * literal — consistency, not arithmetic, is what's required).
    *
    * Scale shape: at 100 TB this plan IS the I/O lower bound — row-group
    * statistics prune on the pushed predicates, the scan reads four
    * columns, and the aggregation is one partial-combined 1-row rollup.
    */
  def filterScan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(FilterScanFrom).cast("timestamp") &&
              col("l_shipdate") < lit(FilterScanTo).cast("timestamp") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
           Exact.sum2(col("l_extendedprice") * col("l_discount")).as("revenue_delta"))

  val filterScanOracle: String =
    s"""SELECT COUNT(*) AS n_lines,
       |       ${Exact.sum2Sql("l_extendedprice * l_discount")} AS revenue_delta
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) >= DATE '$FilterScanFrom'
       |  AND CAST(l_shipdate AS DATE) <  DATE '$FilterScanTo'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** The three (brand, max size, quantity band) brackets of
    * [[bracketRevenue]] — every bracket probed non-empty at every
    * shipped scale (42/62/61 lines at sf0.001). */
  val BracketSpecs: Seq[(String, Int, Int, Int)] = Seq(
    ("Brand#1", 15, 1, 15), ("Brand#2", 25, 10, 30), ("Brand#3", 35, 20, 40))

  /** q_bracket_revenue: the TPC-H Q19 shape — revenue matching an
    * OR-of-ANDs of three (brand, size, quantity-band) brackets, the
    * disjunctive-predicate exemplar: each disjunct constrains BOTH sides
    * of the lineitem⋈part join, so the predicate can only be evaluated
    * inside/above the join (no single-side pushdown exists for the whole
    * disjunction — what Catalyst CAN push is the per-side union bound,
    * and correctness never depends on it). One key join, the disjunction
    * as one boolean expression, a 1-row rollup.
    *
    * Scale shape: part joins on its key carrying only (brand, size) —
    * 2 narrow columns; the quantity bound `l_quantity <= 40` (the
    * brackets' outer envelope) IS single-side and is stated explicitly
    * on the fact scan so the pushdown prunes row groups before the join.
    */
  def bracketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val envelope = BracketSpecs.map(_._4).max
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= envelope && col("l_quantity") >= BracketSpecs.map(_._3).min)
      .select(col("l_partkey"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"))
    val bracket = BracketSpecs.map { case (brand, maxSize, qLo, qHi) =>
      col("p_brand") === brand &&
        col("p_size") >= 1 && col("p_size") <= maxSize &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    }.reduce(_ || _)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(count(lit(1)).as("n_lines"),
           Exact.sum2(Exact.revenue).as("revenue"))
  }

  val bracketRevenueOracle: String = {
    val disjuncts = BracketSpecs.map { case (brand, maxSize, qLo, qHi) =>
      s"""(p.p_brand = '$brand' AND p.p_size BETWEEN 1 AND $maxSize
         |   AND l.l_quantity BETWEEN $qLo AND $qHi)""".stripMargin
    }.mkString("\n|   OR ")
    s"""SELECT COUNT(*) AS n_lines,
       |       ${Exact.sum2Sql(Exact.revenueSql)} AS revenue
       |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |WHERE $disjuncts""".stripMargin
  }
}
