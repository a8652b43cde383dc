package graft.ops

import graft.{Op, Tables}
import graft.par._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OLAP substrate: scan / filter / aggregate / join / window / rollup /
  * semi-join / top-N — the query shapes the reference's clients would
  * run against a relational view of the graph store, expressed
  * declaratively so Catalyst handles pushdown, join strategy (broadcast
  * for the dims), and whole-stage codegen.
  *
  * Scale notes (100 TB): every query starts from a pruned parquet scan
  * (predicates + ReadSchema reach the scan), dimension joins
  * (region/nation/supplier) are broadcast, fact-fact joins shuffle on
  * the join key and rely on AQE for skew; aggregates are partial
  * (map-side combine) by construction.
  */
object Olap {

  /** TPC-H Q1 shape: full-scan grouped aggregation with exact decimal
    * sums (reference capability: whole-table analytics over the store).
    */
  private def q01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        (dsum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql = s"""
    SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity", 2)} AS sum_qty,
      ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
      ${dsumSql("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)", 6)} AS sum_disc_price,
      ${dsumSql("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * (CAST(1 AS DOUBLE) + l_tax)", 6)} AS sum_charge,
      ${dsumSql("l_quantity", 2)} / count(*) AS avg_qty,
      ${dsumSql("l_extendedprice", 2)} / count(*) AS avg_price,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Q3 shape: selective dim filter -> 3-way join -> agg -> top-N.
    * The fact-fact edge reads the session-bucketed layout: the
    * orderkey join AND the (o_orderkey, o_orderdate) aggregation both
    * plan without an Exchange (partitioning on o_orderkey satisfies
    * the group-by clustering), leaving only the broadcast dim join.
    */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.bucketed(s, dir, "orders", "o_orderkey")
      .filter(col("o_orderdate") < to_timestamp(lit("1997-06-30")))
    val l = Tables.bucketed(s, dir, "lineitem", "l_orderkey")
      .filter(col("l_shipdate") > to_timestamp(lit("1997-06-30")))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .select(col("o_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private val q03Sql = s"""
    SELECT o_orderkey,
      ${dsumSql("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)", 6)} AS revenue,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10"""

  /** Q5 shape: 6-way star join, group by nation.
    *
    * Join order is chosen so LINEITEM — the biggest table — never
    * shuffles: orders and customer are both bucketed on the custkey,
    * so orders⋈customer plans with zero exchanges (the second orders
    * layout; see [[Tables.bucketed]]'s multi-layout note), and the
    * resulting narrow (o_orderkey, c_nationkey) intermediate is the
    * ONLY thing exchanged — once, onto lineitem's orderkey buckets.
    * The r8-era shape shuffled the full l⋈o fact stream on custkey
    * instead. The c_nationkey = s_nationkey predicate must run as a
    * RESIDUAL of the orderkey merge join, not as a second equi-key:
    * written as a plain equality, ExtractEquiJoinKeys promotes it to
    * a join key and EnsureRequirements then re-hashes BOTH sides on
    * (orderkey, nationkey) — including lineitem, exactly the shuffle
    * this layout exists to avoid (requireAllClusterKeysForCoPartition
    * defaults true, so the orderkey-only bucket partitioning no
    * longer satisfies the two-key distribution). The `(c − s) = 0`
    * form references both join children on one side, which keeps it
    * out of the key extraction while evaluating identically on these
    * int keys (BucketingSpec asserts the resulting exchange set).
    */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables(s, dir, "nation")
    val c = Tables.bucketed(s, dir, "customer", "c_custkey")
    val o = Tables.bucketed(s, dir, "orders", "o_custkey")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val oc = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val l = Tables.bucketed(s, dir, "lineitem", "l_orderkey")
    val sup = Tables(s, dir, "supplier")
    l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(oc, col("l_orderkey") === col("o_orderkey") &&
        (col("c_nationkey") - col("s_nationkey")) === 0)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q05Sql = s"""
    SELECT n_name,
      ${dsumSql("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)", 6)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** Q6 shape: tight filter + scalar aggregate (pushdown showcase). */
  private def q06(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q06Sql = s"""
    SELECT ${dsumSql("l_extendedprice * l_discount", 6)} AS revenue,
      count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.02 AND l_discount <= 0.06
      AND l_quantity < 24"""

  /** Window top-N: 3 largest orders per customer. */
  private def q07(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q07Sql = """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn"""

  /** Hierarchical ROLLUP region -> nation over customers. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal"), 2).as("acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_cust"), col("acctbal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q08Sql = s"""
    SELECT COALESCE(r_name, 'ALL') AS r_name, COALESCE(n_name, 'ALL') AS n_name,
      count(*) AS n_cust, ${dsumSql("c_acctbal", 2)} AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name, n_name"""

  /** Semi/anti join: EXISTS / NOT EXISTS flag per customer. */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").select(col("o_custkey"))
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit(1L).as("has_orders"))
    val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), lit(0L).as("has_orders"))
    withO.unionAll(withoutO).orderBy(col("c_custkey"))
  }

  private val q09Sql = """
    SELECT c_custkey, c_name,
      CAST(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        THEN 1 ELSE 0 END AS BIGINT) AS has_orders
    FROM customer c
    ORDER BY c_custkey"""

  /** Count-distinct + conditional aggregation per nation. */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(when(col("o_totalprice") > 300000.0, lit(1))).as("big_orders"),
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0)), 2).as("finished_value"))
      .orderBy(col("n_name"))
  }

  private val q10Sql = s"""
    SELECT n_name,
      count(DISTINCT c_custkey) AS n_customers,
      count(*) AS n_orders,
      count(DISTINCT o_orderpriority) AS n_priorities,
      count(CASE WHEN o_totalprice > 300000.0 THEN 1 END) AS big_orders,
      ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE CAST(0 AS DOUBLE) END", 2)} AS finished_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name"""

  /** Exact interpolated percentiles per group, through
    * [[graft.util.OrderStats.percentiles]] (its class doc holds the
    * built-in/selection switch), so the DuckDB oracle is unchanged on
    * either path.
    */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    import graft.util.OrderStats.Percentile
    graft.util.OrderStats.percentiles(Tables(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq(Percentile(col("l_quantity"), 0.5, "median_qty"),
          Percentile(col("l_extendedprice"), 0.9, "p90_price")))
      .orderBy(col("l_returnflag"))
  }

  private val q11Sql = """
    SELECT l_returnflag,
      percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
      percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

  /** Running + moving window aggregates. Window sums of doubles are
    * NOT portable (DuckDB's segment-tree vs Spark's streaming frame
    * accumulate in different orders), so frame sums go through exact
    * decimals like every other aggregate here.
    */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    val c = Tables(s, dir, "customer")
    val daily = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), expr("unix_timestamp(o_orderdate) div 86400").as("day"))
      .agg(dsum(col("o_totalprice"), 2).as("day_total"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("day"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ma = w.rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("running_total",
        sum(col("day_total").cast(DecimalType(18, 2))).over(cum).cast("double"))
      .withColumn("ma7",
        (sum(col("day_total").cast(DecimalType(18, 2))).over(ma).cast("double") /
          count(lit(1)).over(ma)).as("ma7"))
      .orderBy(col("n_name"), col("day"))
  }

  private val q12Sql = s"""
    WITH daily AS (
      SELECT n_name, (epoch_ns(o_orderdate) // 1000000000) // 86400 AS day,
        ${dsumSql("o_totalprice", 2)} AS day_total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT n_name, day, day_total,
      CAST(SUM(CAST(day_total AS DECIMAL(18,2))) OVER (PARTITION BY n_name ORDER BY day
        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
      CAST(SUM(CAST(day_total AS DECIMAL(18,2))) OVER (PARTITION BY n_name ORDER BY day
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(*) OVER (PARTITION BY n_name ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
    FROM daily
    ORDER BY n_name, day"""

  /** CUBE: all 4 grouping combinations of (region, order priority). */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("total_value"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_value"))
      .orderBy(col("r_name"), col("o_orderpriority"))
  }

  private val q13Sql = s"""
    SELECT COALESCE(r_name, 'ALL') AS r_name,
      COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      count(*) AS n_orders, ${dsumSql("o_totalprice", 2)} AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, o_orderpriority)
    ORDER BY r_name, o_orderpriority"""

  /** Q2 shape: correlated minimum — for each part of one brand, the
    * supplier(s) offering the minimum unit price. The correlated
    * subquery is expressed as a window min over the part partition
    * (one shuffle, no join back); double comparisons (not sums) are
    * deterministic so the tie set is identical in both engines.
    */
  private def q02(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables(s, dir, "part").filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"), col("p_name"))
    val l = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
    val w = Window.partitionBy(col("p_partkey"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("mp", min(col("unit_price")).over(w))
      .filter(col("unit_price") === col("mp"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("unit_price").as("min_unit_price"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_name"))
  }

  private val q02Sql = """
    WITH up AS (
      SELECT p_partkey, p_name, l_suppkey,
        l_extendedprice / l_quantity AS unit_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#23'),
    m AS (
      SELECT *, MIN(unit_price) OVER (PARTITION BY p_partkey) AS mp FROM up)
    SELECT DISTINCT p_partkey, p_name, s_name, unit_price AS min_unit_price
    FROM m JOIN supplier ON l_suppkey = s_suppkey
    WHERE unit_price = mp
    ORDER BY p_partkey, s_name"""

  /** RANGE-frame windows: 30-calendar-day rolling revenue per nation —
    * value-based frames (robust to gap days), vs q12's row-based
    * frames. Frame sums are decimal-exact like every windowed sum.
    */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    val c = Tables(s, dir, "customer")
    val daily = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), expr("unix_timestamp(o_orderdate) div 86400").as("day"))
      .agg(dsum(col("o_totalprice"), 2).as("day_total"))
    val w30 = Window.partitionBy(col("n_name")).orderBy(col("day")).rangeBetween(-29, 0)
    daily
      .withColumn("win30_total",
        sum(col("day_total").cast(DecimalType(18, 2))).over(w30).cast("double"))
      .withColumn("n_days_30", count(lit(1)).over(w30))
      .orderBy(col("n_name"), col("day"))
  }

  private val q14Sql = s"""
    WITH daily AS (
      SELECT n_name, (epoch_ns(o_orderdate) // 1000000000) // 86400 AS day,
        ${dsumSql("o_totalprice", 2)} AS day_total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT n_name, day, day_total,
      CAST(SUM(CAST(day_total AS DECIMAL(18,2))) OVER (PARTITION BY n_name ORDER BY day
        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS win30_total,
      count(*) OVER (PARTITION BY n_name ORDER BY day
        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_days_30
    FROM daily
    ORDER BY n_name, day"""

  /** Explicit GROUPING SETS — the general form q08's ROLLUP and q13's
    * CUBE specialize: (region, nation), (region), and grand total in
    * one pass, with per-column grouping indicators (portable across
    * engines, unlike the bit-packed grouping_id whose bit order is
    * engine-defined).
    */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq.empty),
        col("r_name"), col("n_name"))
      .agg(grouping(col("r_name")).cast("long").as("g_r"),
        grouping(col("n_name")).cast("long").as("g_n"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total_value"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("g_r"), col("g_n"), col("n_orders"), col("total_value"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val q15Sql = s"""
    SELECT COALESCE(r_name, 'ALL') AS r_name,
      COALESCE(n_name, 'ALL') AS n_name,
      CAST(GROUPING(r_name) AS BIGINT) AS g_r,
      CAST(GROUPING(n_name) AS BIGINT) AS g_n,
      count(*) AS n_orders, ${dsumSql("o_totalprice", 2)} AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    ORDER BY r_name, n_name"""

  /** Customer-value deciles (LTV segmentation) with NO global sort in
    * the scale path: the nine decile boundaries come from
    * [[graft.util.OrderStats.percentiles]] over one global group (its
    * class doc holds the built-in/selection switch), and each
    * customer's decile is 1 + the number of LITERAL boundaries above
    * their spend — a codegen'd compare, no join at all. Decile 1 = top
    * spenders.
    *
    * The boundaries equal the oracle's bit for bit, percentages parsed
    * from the same decimal literals, so the DuckDB oracle is unchanged
    * and still hash-exact.
    */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice"), 2).as("spend"))
    val spendM = graft.util.MatStore.table(s, s"q16spend:$dir", "graft_q16") { spend }
    import graft.util.OrderStats.Percentile
    val bounds = graft.util.OrderStats.percentiles(spendM, Nil, (1 to 9).map(k =>
      Percentile(col("spend"), s"0.$k".toDouble, s"b$k"))).head()
    val decile = (0 until 9).map(i =>
      when(col("spend") < lit(bounds.getDouble(i)), 1).otherwise(0)).reduce(_ + _)
    spendM
      .withColumn("decile", (lit(1) + decile).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("spend"), 2).as("decile_total"),
        min(col("spend")).as("min_spend"), max(col("spend")).as("max_spend"))
      .orderBy(col("decile"))
  }

  private val q16Sql = {
    val bounds = (1 to 9).map(k =>
      s"percentile_cont(0.${k}) WITHIN GROUP (ORDER BY spend) AS b$k").mkString(", ")
    val decile = (1 to 9).map(k => s"CASE WHEN spend < b$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""
    WITH spend AS (
      SELECT o_custkey, ${dsumSql("o_totalprice", 2)} AS spend
      FROM orders GROUP BY o_custkey),
    bounds AS (SELECT $bounds FROM spend)
    SELECT 1 + ($decile) AS decile, count(*) AS n_customers,
      ${dsumSql("spend", 2)} AS decile_total,
      MIN(spend) AS min_spend, MAX(spend) AS max_spend
    FROM spend CROSS JOIN bounds
    GROUP BY 1 ORDER BY decile"""
  }

  /** Set operators (EXCEPT / INTERSECT — Spark's except/intersect
    * physical operators): customer churn between 1996 and 1997 — who
    * bought only in '96, both years, only in '97.
    */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    def buyers(year: Int) =
      o.filter(col("o_orderdate") >= to_timestamp(lit(s"$year-01-01")) &&
          col("o_orderdate") < to_timestamp(lit(s"${year + 1}-01-01")))
        .select(col("o_custkey")).distinct()
    val b96 = buyers(1996)
    val b97 = buyers(1997)
    val only96 = b96.except(b97).agg(count(lit(1)).as("n_only_1996"))
    val both = b96.intersect(b97).agg(count(lit(1)).as("n_both"))
    val only97 = b97.except(b96).agg(count(lit(1)).as("n_only_1997"))
    only96.crossJoin(both).crossJoin(only97)
  }

  private val q17Sql = """
    WITH b96 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
    b97 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT
      (SELECT count(*) FROM (SELECT * FROM b96 EXCEPT SELECT * FROM b97)) AS n_only_1996,
      (SELECT count(*) FROM (SELECT * FROM b96 INTERSECT SELECT * FROM b97)) AS n_both,
      (SELECT count(*) FROM (SELECT * FROM b97 EXCEPT SELECT * FROM b96)) AS n_only_1997"""

  // ---- q18: KMV distinct sketch -------------------------------------
  /** Approximate COUNT(DISTINCT) via a k-minimum-values sketch, the
    * scale substitute for q10's exact distinct aggregation: per group,
    * keep the k smallest DISTINCT 32-bit key hashes; with R = the kth
    * smallest, estimate (k-1)·2³²/(R+1) (the +1 guards the
    * measure-zero R=0 hash identically in both engines). The sketch
    * state is a bounded k-entry buffer with an exact partial/merge
    * decomposition — at 100 TB the map side reduces each partition to
    * ≤k values per group and the exchange carries sketches, never the
    * key stream, where exact distinct must shuffle every distinct key.
    *
    * The engine side rides `topKScoredDistinct` (score = −h ⇒
    * k-smallest, distinct payloads ⇒ set semantics), so the estimate
    * is partitioning-independent — a min-k of a set is the same set
    * under any split — and the DuckDB oracle (row_number over distinct
    * hashes) lands on the identical R bit-for-bit. The exact distinct
    * count rides along as the accuracy witness (same pattern as
    * s05/s07's recall columns).
    */
  private val kmvK = 128

  // 32-bit uniform key hash: the shared graft.functions.Hash32
  // primitive (also under e11's mergeable rolling-distinct sketch).
  private def withH32(df: DataFrame, salt: String, key: org.apache.spark.sql.Column): DataFrame =
    graft.functions.Hash32.withH32(df, salt, key)

  private def h32Duck(saltedKeySql: String): String =
    graft.functions.Hash32.h32Duck(saltedKeySql)

  private def q18(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAggregate
    // distinct-first, then ONE clean aggregate: mixing countDistinct
    // into the same agg as the sketch makes Catalyst's distinct
    // rewrite run the TypedImperative PARTIAL per (flag, orderkey)
    // group — a 128-entry buffer object allocated and merged per
    // distinct KEY (measured 7.2 s at sf0.1; this form 0.9 s). On
    // already-distinct rows count(*) IS the exact witness, and the
    // sketch sees each key once (its payload-dedup made duplicates
    // harmless anyway). The map-side-combining distinct exchanges
    // (flag, okey, h32) narrow rows — the same shape the oracle's
    // DISTINCT CTE uses.
    val dist = withH32(Tables(s, dir, "lineitem"), "kmv:", col("l_orderkey").cast("string"))
      .select(col("l_returnflag"), col("l_orderkey"), col("h32")).distinct()
    dist.groupBy(col("l_returnflag"))
      .agg(
        TopKAggregate.topKScoredDistinct(negate(col("h32").cast("double")), col("h32"), kmvK)
          .as("mins"),
        count(lit(1)).as("n_exact"))
      .select(Seq(col("l_returnflag"), col("n_exact")) ++ TopKAggregate.kmvEstimate(
        size(col("mins")), element_at(col("mins"), kmvK).getField("payload"), kmvK,
        "kmv_est"): _*)
      .orderBy(col("l_returnflag"))
  }

  private val q18Sql = s"""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
        ${h32Duck("'kmv:' || CAST(l_orderkey AS VARCHAR)")} AS h32
      FROM lineitem),
    ranked AS (
      SELECT l_returnflag, h32,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY h32) AS rn
      FROM h),
    sk AS (
      SELECT l_returnflag,
        CAST(least(max(rn), $kmvK) AS BIGINT) AS n_kept,
        max(CASE WHEN rn = $kmvK THEN h32 END) AS kth,
        CAST(max(rn) AS BIGINT) AS n_distinct_h
      FROM ranked GROUP BY l_returnflag),
    ex AS (
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact
      FROM lineitem GROUP BY l_returnflag)
    SELECT sk.l_returnflag, ex.n_exact, sk.n_kept,
      CASE WHEN sk.n_distinct_h < $kmvK THEN CAST(sk.n_distinct_h AS DOUBLE)
           ELSE CAST(${kmvK - 1} AS DOUBLE) * 4294967296.0 / (CAST(sk.kth AS DOUBLE) + CAST(1 AS DOUBLE))
      END AS kmv_est
    FROM sk JOIN ex ON ex.l_returnflag = sk.l_returnflag
    ORDER BY sk.l_returnflag"""

  // ---- q19: hash-sampled quantiles ----------------------------------
  /** Quantile estimation from a deterministic uniform sample — the
    * sketch-family sibling of q18 for ORDER-statistics at scale: per
    * group, keep the k=512 rows with the smallest 32-bit row hash
    * (a content-stable "bottom-k by hash" sample — the distributed,
    * coordinator-free replacement for a reservoir sample, since a
    * min-k of a set is partitioning- and order-independent), then read
    * p50/p90 off the sorted sample values. Exchange cost is ≤k
    * fixed-width entries per group per map partition, vs q11/q16's
    * exact machinery when ±1/√k relative rank error is acceptable.
    *
    * Values travel as exact cents (double → DECIMAL(14,2) → ×100
    * BIGINT: half-away rounding is identical in both engines, integer
    * math after that), so the boundary tie-break (h32, cents) and the
    * final element lookup are bit-deterministic; DuckDB rederives the
    * identical sample via row_number over the same (h32, cents) order.
    * Groups smaller than k degrade to the exact quantile (the sample
    * IS the group).
    */
  private val smpK = 512

  private def q19(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAggregate
    val li = withH32(Tables(s, dir, "lineitem"), "smp:",
      concat(col("l_orderkey").cast("string"), lit(":"), col("l_linenumber").cast("string")))
      .withColumn("cents",
        (col("l_extendedprice").cast("decimal(14,2)") * 100).cast("bigint"))
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        TopKAggregate.topKScored(negate(col("h32").cast("double")), col("cents"), smpK)
          .as("smp"))
      .withColumn("vals", expr("array_sort(transform(smp, x -> x.payload))"))
      .withColumn("n_sample", size(col("vals")).cast("long"))
      .select(col("l_returnflag"), col("n_rows"), col("n_sample"),
        (expr("element_at(vals, cast(ceil(0.5 * n_sample) as int))").cast("double") / lit(100.0))
          .as("p50_est"),
        (expr("element_at(vals, cast(ceil(0.9 * n_sample) as int))").cast("double") / lit(100.0))
          .as("p90_est"))
      .orderBy(col("l_returnflag"))
  }

  private val q19Sql = s"""
    WITH base AS (
      SELECT l_returnflag,
        ${h32Duck("'smp:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")} AS h32,
        CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      FROM lineitem),
    ranked AS (
      SELECT l_returnflag, cents,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY h32, cents) AS rn
      FROM base),
    smp AS (SELECT l_returnflag, cents FROM ranked WHERE rn <= $smpK),
    sv AS (
      SELECT l_returnflag, cents,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS vrn
      FROM smp),
    agg AS (SELECT l_returnflag, count(*) AS n_sample FROM smp GROUP BY 1),
    tot AS (SELECT l_returnflag, count(*) AS n_rows FROM lineitem GROUP BY 1),
    sel AS (
      SELECT sv.l_returnflag,
        max(CASE WHEN sv.vrn = CAST(ceil(0.5 * a.n_sample) AS BIGINT) THEN sv.cents END) AS c50,
        max(CASE WHEN sv.vrn = CAST(ceil(0.9 * a.n_sample) AS BIGINT) THEN sv.cents END) AS c90
      FROM sv JOIN agg a ON a.l_returnflag = sv.l_returnflag
      GROUP BY sv.l_returnflag)
    SELECT s.l_returnflag, t.n_rows, a.n_sample,
      CAST(s.c50 AS DOUBLE) / CAST(100 AS DOUBLE) AS p50_est,
      CAST(s.c90 AS DOUBLE) / CAST(100 AS DOUBLE) AS p90_est
    FROM sel s
    JOIN agg a ON a.l_returnflag = s.l_returnflag
    JOIN tot t ON t.l_returnflag = s.l_returnflag
    ORDER BY s.l_returnflag"""

  val ops: Seq[Op] = Seq(
    Op("q18_kmv_distinct", q18, Some(q18Sql)),
    Op("q19_sampled_quantiles", q19, Some(q19Sql)),
    Op("q01_pricing_summary", q01, Some(q01Sql)),
    Op("q02_min_cost_supplier", q02, Some(q02Sql)),
    Op("q17_set_ops", q17, Some(q17Sql)),
    Op("q14_range_frames", q14, Some(q14Sql)),
    Op("q15_grouping_sets", q15, Some(q15Sql)),
    Op("q16_spend_deciles", q16, Some(q16Sql)),
    Op("q11_percentiles", q11, Some(q11Sql)),
    Op("q12_running_windows", q12, Some(q12Sql)),
    Op("q13_cube", q13, Some(q13Sql)),
    Op("q03_top_orders", q03, Some(q03Sql)),
    Op("q05_nation_revenue", q05, Some(q05Sql)),
    Op("q06_forecast_filter", q06, Some(q06Sql)),
    Op("q07_window_topn", q07, Some(q07Sql)),
    Op("q08_rollup", q08, Some(q08Sql)),
    Op("q09_exists_semi", q09, Some(q09Sql)),
    Op("q10_distinct_agg", q10, Some(q10Sql)))
}
