package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator suite over the star schema (SURVEY.md §2.3–§2.8).
  *
  * The reference pipeline (`/root/reference/flows/etl.py`) contains only
  * union + dedup + a row predicate; every operator here is the mandated
  * extension surface expressed Spark-first: declarative DataFrame plans so
  * Catalyst does pushdown/pruning/join-selection, broadcast hints on the
  * dimension tables (all broadcast-sized at every SF — FIXTURES.md), and
  * shuffle aggregation with map-side partial aggregates.
  *
  * Determinism contract with the DuckDB oracle (driver hash-compares):
  *  - double SUMs are computed as `SUM(CAST(x AS DECIMAL))` then cast back to
  *    double — decimal addition is exact and associative, so Spark's
  *    partial-agg order and DuckDB's single-threaded order give bit-identical
  *    results; a raw double sum would be order-sensitive and flaky.
  *  - every query ends in a total ORDER BY over a unique key set.
  *  - ROLLUP/CUBE null groups are coalesced to the sentinel 'ALL' so null
  *    ordering differences (Spark NULLS FIRST vs DuckDB NULLS LAST) vanish.
  */
object Relational {

  /** Exact, order-insensitive sum of a double column (see class doc). */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact discounted-revenue sum: price and (1-discount) are cast to
    * decimal BEFORE multiplying, so product and sum are exact integer
    * arithmetic in both engines. (Casting the double product to a
    * high-scale decimal is NOT portable — Spark and DuckDB round the 10th
    * decimal of a double differently.) Discounts are 2-decimal values in
    * the fixtures, so DECIMAL(4,2) is lossless. */
  private def revenueSum: Column =
    sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2))).cast("double")

  private val revenueSumSql: String =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)"

  // ---------------------------------------------------------------------
  // Aggregation (SURVEY §2.5 extension)
  // ---------------------------------------------------------------------

  /** TPC-H Q1-style pricing summary: scan → filter → hash agg (partial +
    * final) → sort. The filter and the 7-column projection reach the parquet
    * scan (PushedFilters / ReadSchema); agg shuffles on the 2 grouping cols
    * only after map-side combine, so shuffle volume is O(groups), not O(rows)
    * — the property that keeps this plan viable at 100 TB. The result is
    * bounded by the grouping domain (≤ |returnflag| × |linestatus| rows),
    * so the final sort runs in one partition: `coalesce(1)` satisfies the
    * sort's ordered distribution, and no range exchange or RangePartitioner
    * sampling job is planned. The final aggregation keeps its hash
    * exchange; the grouping keys are the sort keys, so the order is unique. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenueSum.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .coalesce(1)
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + predicate pushdown (SURVEY §2.2 P1/P2): both the filter
    * and the 4-column read schema land in the parquet scan. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_discount") >= 0.05 && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))

  // (l_orderkey, l_linenumber) is NOT unique in the fixtures — the total
  // ORDER BY must cover every output column for a deterministic hash.
  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_discount >= 0.05 AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_discount""".stripMargin

  // ---------------------------------------------------------------------
  // Joins (SURVEY §2.3 extension)
  // ---------------------------------------------------------------------

  /** Fact-to-fact shuffle join (lineitem ⋈ orders on orderkey) plus a
    * broadcast dimension join (customer). At 100 TB the l_orderkey shuffle is
    * unavoidable for the fact-fact edge; the customer side must NOT shuffle —
    * `broadcast()` pins BroadcastHashJoin regardless of stats. */
  def q3RevenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        revenueSum.as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("c_mktsegment"))
  }

  val q3Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Snowflake chain: fact ⋈ supplier ⋈ nation ⋈ region, all three dims
    * broadcast — zero shuffles on the dimension side, one hash agg shuffle
    * keyed by (r_name, n_name). */
  def q4RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revenueSum.as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q4Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left semi join (EXISTS): customers that placed at least one order.
    * Semi join ships only the key column of the right side and stops probing
    * at first match — strictly cheaper than join+distinct. */
  def q5SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q5Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left anti join (NOT EXISTS): parts never shipped in bulk (no lineitem
    * with quantity > 45). Every customer has an order in the fixtures, so
    * the customer/orders formulation returns 0 rows — a vacuous pass that
    * can't distinguish a correct anti join from one that drops everything;
    * this predicate excludes 114 of 2000 parts at sf0.01, so both the
    * match and no-match branches are exercised. */
  def q6AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val p  = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))
  }

  val q6Sql: String =
    """SELECT p_partkey, p_name
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin

  /** Left OUTER join: every customer, with their high-value orders or
    * null-extended columns when none exist (68 of 1500 customers at
    * sf0.01 have no order above the threshold — both the matched and the
    * null-extension branch carry rows). Broadcast is deliberately NOT
    * hinted: the preserved (left) side is the big side at scale and
    * Catalyst picks broadcast for the filtered right side from stats.
    *
    * Determinism: o_orderkey is null on unmatched rows and Spark sorts
    * NULLS FIRST vs DuckDB NULLS LAST, so the sort key is
    * COALESCE(o_orderkey, -1) on both sides. */
  def q48LeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 350000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), coalesce(col("o_orderkey"), lit(-1L)))
  }

  val q48Sql: String =
    """SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN (
      |  SELECT * FROM orders WHERE o_totalprice > 350000.0) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey, COALESCE(o_orderkey, -1)""".stripMargin

  /** FULL OUTER join with unmatched rows manufactured on BOTH sides:
    * customers below key 800 vs per-customer order counts above key 400.
    * Left-only keys [0,400), inner [400,800), right-only [800,1500) — all
    * three null-extension regimes are populated. The output key coalesces
    * the two join keys so it is never null (and is unique → total order). */
  def q49FullJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_custkey") < 800)
      .select(col("c_custkey"), col("c_acctbal"))
    val o = Tables.orders(spark, dir).filter(col("o_custkey") >= 400)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("key"),
        col("c_acctbal"), col("n_orders"))
      .orderBy(col("key"))
  }

  val q49Sql: String =
    """SELECT COALESCE(c_custkey, o_custkey) AS key, c_acctbal, n_orders
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 800) c
      |FULL JOIN (SELECT o_custkey, COUNT(*) AS n_orders
      |           FROM orders WHERE o_custkey >= 400 GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey
      |ORDER BY key""".stripMargin

  /** RIGHT outer join — q48's mirror: the preserved side (customer) sits
    * on the RIGHT, the filtered orders on the left. Catalyst plans the
    * same join with sides swapped; listed for completeness of the outer
    * family (left q48, full q49, right here). Same determinism trick:
    * coalesce the nullable sort key. */
  def q52RightJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 350000.0)
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), coalesce(col("o_orderkey"), lit(-1L)))
  }

  val q52Sql: String =
    """SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
      |FROM (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
      |RIGHT JOIN customer ON c_custkey = o_custkey
      |ORDER BY c_custkey, COALESCE(o_orderkey, -1)""".stripMargin

  // ---------------------------------------------------------------------
  // Sorts / limits / top-k (SURVEY §2.7)
  // ---------------------------------------------------------------------

  /** Global top-k: Catalyst plans TakeOrderedAndProject — each partition
    * keeps a k-row heap, the driver merges k·P rows; no global sort at any
    * scale. Tie-broken on the unique key for determinism. */
  def q7TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val q7Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // Window functions (SURVEY §2.6)
  // ---------------------------------------------------------------------

  /** Ranking window: top-3 orders per customer by price. The window shuffles
    * once on the partition key; per-key top-k here is rank-then-filter (at
    * 100 TB with heavy keys, pre-aggregate or use the bounded-heap
    * Aggregator in Similarity.scala instead). */
  def q8WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q8Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Running (prefix) sum per supplier — decimal accumulation so every
    * prefix is exact and order-identical to the oracle.
    *
    * Determinism: (l_shipdate, l_orderkey, l_linenumber) ties exist in the
    * fixtures, so l_quantity joins the window ORDER BY — rows tied on all
    * four sort keys are interchangeable for a quantity prefix sum (equal
    * contributions ⇒ the multiset of running values is order-invariant).
    * The final sort then includes running_qty to pin tied rows. */
  def q9WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .withColumn("running_qty",
        sum(col("l_quantity").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
  }

  val q9Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin

  /** lag/lead analytics: day-over-day gap between a customer's orders. */
  def q10WindowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("prev_orderkey", lag(col("o_orderkey"), 1).over(w))
      .withColumn("next_orderkey", lead(col("o_orderkey"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        col("prev_orderkey"), col("next_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q10Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
      |  LEAD(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Grouping sets (SURVEY §2.5 extension)
  // ---------------------------------------------------------------------

  /** ROLLUP with null groups coalesced to 'ALL' (see class doc). */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q11Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** CUBE over order status × priority. */
  def q12Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"), col("sum_price"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  val q12Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // Set operations (SURVEY §2.4)
  // ---------------------------------------------------------------------

  /** Union-by-name + full-row dedup — the reference's only two-table op
    * (`flows/etl.py:304`: pd.concat + drop_duplicates), as a distributed
    * hash-partitioned dedup (shuffle on row hash, not a global sort). */
  def q13UnionDedup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val a = c.filter(col("c_custkey") < 100)
    val b = c.filter(col("c_custkey") >= 50)
    a.unionByName(b).dropDuplicates()
      .orderBy(col("c_custkey"))
  }

  val q13Sql: String =
    """SELECT * FROM customer WHERE c_custkey < 100
      |UNION
      |SELECT * FROM customer WHERE c_custkey >= 50
      |ORDER BY c_custkey""".stripMargin

  /** INTERSECT: nation keys present in both customer and supplier. */
  def q14Intersect(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(
        Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  val q14Sql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** EXCEPT: parts shipped in small quantities but never in bulk. (The
    * customer-vs-supplier nationkey formulation is empty at every SF —
    * all 25 nations have both — so it proved nothing; this one keeps 97
    * of the small-quantity part keys at sf0.01.) */
  def q15Except(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_quantity") < 5).select(col("l_partkey").as("partkey"))
      .except(
        li.filter(col("l_quantity") > 45).select(col("l_partkey").as("partkey")))
      .orderBy(col("partkey"))
  }

  val q15Sql: String =
    """SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity < 5
      |EXCEPT
      |SELECT l_partkey FROM lineitem WHERE l_quantity > 45
      |ORDER BY partkey""".stripMargin

  // ---------------------------------------------------------------------
  // Counts / distinct aggregates (SURVEY §2.5 A1)
  // ---------------------------------------------------------------------

  /** The reference's one aggregation: row count (`flows/etl.py:262`). */
  def q16Count(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"))

  val q16Sql: String = "SELECT COUNT(*) AS n_rows FROM lineitem"

  /** Exact distinct aggregate (expand + two-phase agg under the hood). */
  def q17DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q17Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts,
      |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Scalar functions: string / regex / conditional (SURVEY §2.8 F1–F6)
  // ---------------------------------------------------------------------

  /** String scalar parity (F3 trim, F4 concat/interpolation, F5 contains):
    * the reference's address assembly `f'{direccion}, {localidad},
    * ARGENTINA'` (`flows/etl.py:218`) over customer ⋈ nation. */
  def q18StringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        col("c_custkey"),
        concat_ws(", ", trim(col("c_name")), col("n_name"), lit("ARGENTINA"))
          .as("address"),
        upper(col("c_mktsegment")).as("segment_uc"),
        length(col("c_name")).as("name_len"),
        col("c_name").contains("1").cast("int").as("has_one"))
      .orderBy(col("c_custkey"))
  }

  val q18Sql: String =
    """SELECT c_custkey,
      |  CONCAT_WS(', ', TRIM(c_name), n_name, 'ARGENTINA') AS address,
      |  UPPER(c_mktsegment) AS segment_uc,
      |  LENGTH(c_name) AS name_len,
      |  CAST(CONTAINS(c_name, '1') AS INT) AS has_one
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  /** Regex extraction parity (F1/F2: the reference's lat/lng-from-onclick
    * regex, `flows/etl.py:150-154`) — pull the numeric payload out of the
    * JSON-ish props string with a capture group. */
  def q19RegexExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        regexp_extract(col("props"), "([0-9]+)", 1).cast("int").as("k"))
      .orderBy(col("event_id"))

  val q19Sql: String =
    """SELECT event_id,
      |  CAST(REGEXP_EXTRACT(props, '([0-9]+)', 1) AS INT) AS k
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Conditional expression parity (P2 + E1's guard, `flows/etl.py:208`):
    * CASE WHEN routing with null-handling (P4). */
  def q20CaseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("disc_band",
        when(col("l_discount") >= 0.08, lit("HIGH"))
          .when(col("l_discount") >= 0.04, lit("MID"))
          .otherwise(lit("LOW")))
      .groupBy(col("disc_band"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("disc_band"))

  val q20Sql: String =
    """SELECT CASE WHEN l_discount >= 0.08 THEN 'HIGH'
      |            WHEN l_discount >= 0.04 THEN 'MID'
      |            ELSE 'LOW' END AS disc_band,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY disc_band""".stripMargin

  // ---------------------------------------------------------------------
  // JSON / date-time functions (SURVEY §2.8 extension)
  // ---------------------------------------------------------------------

  /** JSON extraction over events.props + aggregation. */
  def q21Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  // DuckDB SUM(INT) returns HUGEINT (decimal128 in arrow) vs Spark's
  // BIGINT — identical values, different serialized hash. Pin to BIGINT.
  val q21Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** date_trunc aggregation over the event stream table. */
  def q22DateTrunc(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  val q22Sql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  /** Tumbling-window aggregation via `window()` (the batch twin of the
    * Structured Streaming plan in streaming/StreamingOps.scala). The window
    * start is emitted as epoch seconds so timezone handling can't skew the
    * oracle hash. */
  def q23TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  val q23Sql: String =
    """SELECT CAST(FLOOR(epoch(ts) / 900) * 900 AS BIGINT) AS bucket, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // SQL frontend (spark.sql over registered views)
  // ---------------------------------------------------------------------

  /** The engine's SQL surface: same ANSI text runs through spark.sql and
    * the oracle. Correlated scalar subquery + HAVING. */
  def q24SqlFrontend(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_big
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE o_totalprice > 100000.0
        |GROUP BY c_mktsegment
        |HAVING COUNT(*) > 5
        |ORDER BY c_mktsegment""".stripMargin)
  }

  val q24Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_big
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |WHERE o_totalprice > 100000.0
      |GROUP BY c_mktsegment
      |HAVING COUNT(*) > 5
      |ORDER BY c_mktsegment""".stripMargin

  /** All relational queries + oracles, keyed for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_filter_project"  -> (q2FilterProject _),
    "q3_join_segment"    -> (q3RevenueBySegment _),
    "q4_join_nation"     -> (q4RevenueByNation _),
    "q5_semi_join"       -> (q5SemiJoin _),
    "q6_anti_join"       -> (q6AntiJoin _),
    "q7_topk"            -> (q7TopK _),
    "q8_window_rank"     -> (q8WindowRank _),
    "q9_window_running"  -> (q9WindowRunning _),
    "q10_window_lag"     -> (q10WindowLag _),
    "q11_rollup"         -> (q11Rollup _),
    "q12_cube"           -> (q12Cube _),
    "q13_union_dedup"    -> (q13UnionDedup _),
    "q14_intersect"      -> (q14Intersect _),
    "q15_except"         -> (q15Except _),
    "q16_count"          -> (q16Count _),
    "q17_distinct_agg"   -> (q17DistinctAgg _),
    "q18_string_funcs"   -> (q18StringFuncs _),
    "q19_regex_extract"  -> (q19RegexExtract _),
    "q20_case_when"      -> (q20CaseWhen _),
    "q21_json"           -> (q21Json _),
    "q22_date_trunc"     -> (q22DateTrunc _),
    "q23_tumbling_window" -> (q23TumblingWindow _),
    "q24_sql_frontend"   -> (q24SqlFrontend _),
    "q48_left_join"      -> (q48LeftJoin _),
    "q49_full_join"      -> (q49FullJoin _),
    "q52_right_join"     -> (q52RightJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project"  -> q2Sql,
    "q3_join_segment"    -> q3Sql,
    "q4_join_nation"     -> q4Sql,
    "q5_semi_join"       -> q5Sql,
    "q6_anti_join"       -> q6Sql,
    "q7_topk"            -> q7Sql,
    "q8_window_rank"     -> q8Sql,
    "q9_window_running"  -> q9Sql,
    "q10_window_lag"     -> q10Sql,
    "q11_rollup"         -> q11Sql,
    "q12_cube"           -> q12Sql,
    "q13_union_dedup"    -> q13Sql,
    "q14_intersect"      -> q14Sql,
    "q15_except"         -> q15Sql,
    "q16_count"          -> q16Sql,
    "q17_distinct_agg"   -> q17Sql,
    "q18_string_funcs"   -> q18Sql,
    "q19_regex_extract"  -> q19Sql,
    "q20_case_when"      -> q20Sql,
    "q21_json"           -> q21Sql,
    "q22_date_trunc"     -> q22Sql,
    "q23_tumbling_window" -> q23Sql,
    "q24_sql_frontend"   -> q24Sql,
    "q48_left_join"      -> q48Sql,
    "q49_full_join"      -> q49Sql,
    "q52_right_join"     -> q52Sql,
  )
}
