package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Joins
import graft.sources.Tables
import OracleSafe._

/** TPC-H-class flagship queries — the composite shapes the reference's
  * README claims (8 TPC-H queries, README.md:5) re-expressed on the driver
  * fixtures' columns. These are also the bench headline suite.
  *
  * Scale notes (100 TB): explicit `broadcast()` hints appear ONLY on the
  * bounded dims (region: 5 rows, nation: 25 rows — constant in SF). An
  * explicit hint is honored regardless of
  * `spark.sql.autoBroadcastJoinThreshold`, so hinting an SF-scaled
  * relation (customer/supplier/part grow linearly with data size) would
  * force a multi-TB broadcast at the 100 TB design point and kill the job
  * outright (hard 8 GB / 512M-row broadcast limits). Those joins are left
  * to AQE, which broadcasts them from runtime stats while they fit and
  * falls back to shuffle joins when they don't — PlanSpec asserts AQE
  * still picks BroadcastHashJoin at fixture scale. Aggregates are partial
  * (map-side) by construction; filters & column pruning reach the parquet
  * scan.
  */
object TpchQueries extends QueryPack {

  // The hard correlated-subquery shapes (Q2/Q17/Q20/Q21) run the SAME
  // SQL text on Spark and on the DuckDB oracle — shared constants so the
  // two sides cannot drift. The fixtures lack partsupp and
  // l_commitdate/l_receiptdate: the partsupp-naming queries
  // (Q2/Q9/Q11/Q16/Q20) run over the derived stand-in view
  // (`Tables.partsuppViewSql`, prefixed here as a WITH CTE so the DuckDB
  // oracle sees identical text), and "late" is shipped >60 days after
  // the order date (Q21). Numeric policy per the oracle playbook:
  // decimal accumulation, DOUBLE at the boundary, total ORDER BY.

  /** `WITH partsupp AS (...)` prefix — the derived stand-in
    * (Tables.partsuppViewSql) inlined as a CTE. This is the ORACLE form
    * only: DuckDB has no `partsupp` table, so the oracle text carries the
    * derivation inline. The Spark side runs the raw bodies against the
    * cached materialized view `Tables.registerAll` registers — one
    * lineitem aggregation per session instead of one (or, for q11's
    * HAVING scalar subquery, two) per execution. Same rows either way:
    * the derivation is an exact decimal sum/min, order-insensitive. */
  private def withPartsupp(q: String): String =
    s"WITH partsupp AS (${Tables.partsuppViewSql})\n$q"

  /** Q15's literal CTE + scalar-max text — the ORACLE form and the
    * literal side of the round-14 rewrite A/B (quantized revenue, the
    * q1 convention). */
  val q15Sql: String =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey"""

  lazy val q2Sql: String = withPartsupp(q2Raw)
  lazy val q9Sql: String = withPartsupp(q9Raw)
  lazy val q11Sql: String = withPartsupp(q11Raw)
  lazy val q16Sql: String = withPartsupp(q16Raw)
  lazy val q20Sql: String = withPartsupp(q20Raw)

  /** Q2: minimum-cost supplier per part — correlated min subquery over
    * partsupp re-joining supplier/nation/region inside the correlation
    * (official Q2 text modulo the derived-view cost semantics). */
  val q2Raw: String =
    """SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
       FROM part, supplier, partsupp, nation, region
       WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
         AND p_size BETWEEN 10 AND 20
         AND n_nationkey = s_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND ps_supplycost = (
           SELECT min(ps2.ps_supplycost)
           FROM partsupp ps2, supplier s2, nation n2, region r2
           WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
             AND n2.n_nationkey = s2.s_nationkey
             AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, p_brand
       LIMIT 100"""

  /** Q8-shape: national market share — one nation's share of regional
    * import volume per year (8-way join, conditional decimal sums,
    * single final double division). */
  val q8Sql: String =
    """SELECT o_year,
         CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                  ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) /
         CAST(sum(volume) AS DOUBLE) AS mkt_share
       FROM (
         SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS volume,
           n2.n_name AS nation
         FROM part, supplier, lineitem, orders, customer,
              nation n1, nation n2, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
           AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
           AND p_type = 'PROMO') all_nations
       GROUP BY o_year ORDER BY o_year"""

  /** Q9: product-type profit by supplier nation and year — official join
    * text through partsupp; the stand-in's ps_supplycost (min extended
    * price per pair, scaled to a per-unit magnitude) is the cost side. */
  val q9Raw: String =
    """SELECT n_name AS nation, o_year,
         CAST(sum(amount) AS DOUBLE) AS sum_profit
       FROM (
         SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(l_extendedprice * (1.0 - l_discount)
                - 0.01 * ps_supplycost * l_quantity AS DECIMAL(18,4)) AS amount
         FROM part, supplier, lineitem, partsupp, orders, nation
         WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
           AND ps_partkey = l_partkey AND p_partkey = l_partkey
           AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
           AND p_name LIKE '%gear%') profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC"""

  /** Q11: important inventory value per part — official grouped
    * availqty × supplycost sums over partsupp, filtered by a
    * scalar-subquery threshold (fraction of the regional total).
    * Numeric care: both factors are exactly-2-decimal values, so the
    * decimal casts are tie-free and the product/sum stay EXACT; a
    * double product cast to decimal (the first attempt) diverged from
    * the oracle by one ulp at a rounding boundary. The threshold
    * comparison happens in double (exact-decimal sums cast double are
    * bit-identical across engines below 2^53 unscaled). */
  val q11Raw: String =
    """SELECT ps_partkey,
         CAST(sum(CAST(ps_supplycost AS DECIMAL(14,2)) *
                  CAST(ps_availqty AS DECIMAL(14,2))) AS DOUBLE) AS part_value
       FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
         JOIN nation ON s_nationkey = n_nationkey
       WHERE n_regionkey = 2
       GROUP BY ps_partkey
       HAVING CAST(sum(CAST(ps_supplycost AS DECIMAL(14,2)) *
                  CAST(ps_availqty AS DECIMAL(14,2))) AS DOUBLE) > (
         SELECT CAST(sum(CAST(ps_supplycost AS DECIMAL(14,2)) *
                  CAST(ps_availqty AS DECIMAL(14,2))) AS DOUBLE) * 0.001
         FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE n_regionkey = 2)
       ORDER BY part_value DESC, ps_partkey"""

  /** Q16: supplier count per part attribute triple over partsupp,
    * excluding a NOT-IN supplier set (official text). */
  val q16Raw: String =
    """SELECT p_brand, p_type, p_size,
         CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       FROM partsupp JOIN part ON p_partkey = ps_partkey
       WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PRO%'
         AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0.0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Q17-shape: correlated avg — quantity below 20% of the part's own
    * average (exact decimal sum ÷ count on both engines). */
  val q17Sql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#11' AND p_size < 25
         AND l_quantity < (
           SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
               AS DOUBLE) / count(*))
           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""

  /** Q20: nested IN chains over partsupp (part-pattern IN → correlated
    * availability threshold against the date-windowed shipped quantity →
    * nation IN region set) — official Q20's
    * `ps_availqty > 0.5 * correlated sum(l_quantity)` shape. */
  val q20Raw: String =
    """SELECT s_suppkey, s_name, s_acctbal
       FROM supplier
       WHERE s_suppkey IN (
           SELECT ps_suppkey FROM partsupp
           WHERE ps_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'small%')
             AND ps_availqty > (
               SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                   AS DOUBLE)
               FROM lineitem
               WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'))
         AND s_nationkey IN (SELECT n_nationkey FROM nation
                             WHERE n_regionkey IN (0, 1, 2))
       ORDER BY s_suppkey"""

  /** Q21-shape: EXISTS + NOT EXISTS lineitem self-joins with non-equality
    * correlation (l2.l_suppkey <> l1.l_suppkey) — the hardest
    * decorrelation shape in the suite. */
  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
       FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
       WHERE o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name LIMIT 100"""

  /** Q3 body over supplied base relations — `Bench`'s bucketed mode reuses
    * it with pre-bucketed lineitem/orders so the fact-to-fact join runs
    * with zero exchanges. */
  /** The headline revenue expression. */
  private val revExpr =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Guarded long-quantized `revenue` aggregation at scale 10^4 — the
    * q1 technique rolled out to the other headline money sums (round-17
    * stretch item; measured ~1.1× per query at sf0.1, the joins bound
    * these queries more than the aggregation did q1's). Returns the agg
    * columns (revenue + the guard's max-units and count carriers);
    * follow with [[quantRevenueGuard]] on the grouped result. Bound
    * audit at scale 1e4: max |row units| = price·(1−d)·1e4 ≤ ~2e10 at
    * ANY SF (prices are bounded per part, not by data size), so a group
    * needs ≥ 2×10^8 rows before max·n reaches 2^62 — per-order (q3)
    * and per-customer (q10) groups sit orders of magnitude under that
    * at 100 TB; global sums (q6/q14/q19) and per-nation/region groups
    * (q5/q7) cross it around sf ≈ 3×10^3, where the guard refuses loudly and
    * the decimal [[OracleSafe.moneySum]] fallback applies (the q1
    * trade, enforced per group at runtime, not assumed). */
  private def quantRevenueAgg(e: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = Seq(
    quantSum(e, 1e4).as("revenue"),
    max(abs(units(e, 1e4))).as("_mu"),
    count(lit(1)).as("_n"))

  private def quantRevenueGuard(df: DataFrame, query: String): DataFrame =
    df.withColumn("revenue",
        quantGuarded(col("revenue"), col("_mu"), col("_n"), "double", query))
      .drop("_mu", "_n")

  def q3Body(li0: DataFrame, ord0: DataFrame, cust0: DataFrame): DataFrame = {
    val cust = cust0.filter(col("c_mktsegment") === "BUILDING")
    val ord = ord0.filter(col("o_orderdate") < lit("1999-06-01").cast("timestamp"))
    val li = li0.filter(col("l_shipdate") > lit("1999-06-01").cast("timestamp"))
    val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey")) // AQE broadcasts while it fits
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
               col("o_orderpriority"))
      .agg(quantRevenueAgg(revExpr).head, quantRevenueAgg(revExpr).tail: _*)
    quantRevenueGuard(agg, "q3_shipping_priority")
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Q1 body over a supplied lineitem relation — the flagship pricing
    * summary on the LONG-QUANTIZED exact-sum fast path (see the keep-note
    * on the `queries` entry), GUARDED against silent 2^63 wrap: the same
    * aggregation also computes per-group `count` and the max unit
    * magnitude over ALL FOUR quantized expressions (charge dominates by
    * ≥100× on any data where (1−disc)·(1+tax) ≥ 10⁻⁴ — true for every
    * TPC-H-shaped row — but quantity/discount quantize INDEPENDENT
    * magnitudes, so the guard takes the greatest rather than assume
    * the dominance), and the projection refuses loudly via
    * [[OracleSafe.quantGuarded]] when `max|units| · rows` reaches 2^62
    * — at sf0.1 the headroom is ~230×; a ~sf25+ run throws and falls
    * back to [[q1Decimal]] instead of returning wrapped sums. */
  def q1Body(li: DataFrame): DataFrame = {
    def uSum(c: org.apache.spark.sql.Column, s10: Double) = quantSum(c, s10)
    val charge = col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
      (lit(1.0) + col("l_tax"))
    // disc_price (scale 1e4) is omitted: charge = disc_price·(1+tax)·100
    // dominates it 100× whenever tax ≥ 0 (a TPC-H schema invariant the
    // other dominances are NOT — qty/disc/base-price magnitudes are
    // independent of charge's, hence the explicit greatest)
    val maxUnitMag = greatest(
      abs(units(charge, 1e6)),
      abs(units(col("l_extendedprice"), 1e2)),
      abs(units(col("l_quantity"), 1e2)),
      abs(units(col("l_discount"), 1e2)))
    // EVERY quantized output column carries the guard (not just one):
    // Catalyst prunes unreferenced project expressions, so a guard
    // attached only to an unconsumed column would vanish with it —
    // this way any consumed subset of the wrappable values checks.
    def g(name: String) =
      quantGuarded(col(name), col("_q1_max_units"), col("count_order"),
        "double", "q1_pricing_summary").as(name)
    li
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        uSum(col("l_extendedprice"), 1e2).as("sum_base_price"),
        uSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 1e4)
          .as("sum_disc_price"),
        uSum(charge, 1e6).as("sum_charge"),
        (uSum(col("l_quantity"), 1e2) / count(lit(1))).as("avg_qty"),
        (uSum(col("l_extendedprice"), 1e2) / count(lit(1))).as("avg_price"),
        (uSum(col("l_discount"), 1e2) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"),
        max(maxUnitMag).as("_q1_max_units"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        g("sum_base_price"), g("sum_disc_price"), g("sum_charge"),
        g("avg_qty"), g("avg_price"), g("avg_disc"), col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q1 on the decimal policy ([[OracleSafe.moneySum]]/[[OracleSafe
    * .exactAvg]]) — the documented fallback past [[q1Body]]'s quantized
    * bound (decimal sums widen to DECIMAL(28,s): no wrap below 10^10 ×
    * the 100 TB point), and the independent semantic check that keeps
    * the quantization rule falsifiable (TpchRewriteSpec compares the two
    * within per-row quantization tolerance — the oracle text itself uses
    * the identical quantized expressions, so it co-varies by design). */
  def q1Decimal(li: DataFrame): DataFrame =
    li
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice"), 2).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        exactAvg(col("l_quantity"), 2).as("avg_qty"),
        exactAvg(col("l_extendedprice"), 2).as("avg_price"),
        exactAvg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q10 body over supplied base relations (see q3Body). */
  def q10Body(li0: DataFrame, ord0: DataFrame, cust0: DataFrame,
      nat0: DataFrame): DataFrame = {
    val li = li0.filter(col("l_returnflag") === "R")
    val agg = li.join(ord0, col("l_orderkey") === col("o_orderkey"))
      .join(cust0, col("o_custkey") === col("c_custkey")) // SF-scaled: AQE decides
      .join(broadcast(nat0), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(quantRevenueAgg(revExpr).head, quantRevenueAgg(revExpr).tail: _*)
    quantRevenueGuard(agg, "q10_returned_items")
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val queries: Map[String, Fn] = Map(
    // Q1 — pricing summary report (flagship; scan+filter+group+agg+sort).
    // q1 carries FOUR exact money aggregates over the full fact scan —
    // the catalog's heaviest decimal consumer by far. The general
    // moneySum/exactAvg policy (per-row DECIMAL(18,s) cast, decimal sum)
    // costs 5.4× the plain-double plan here (Force-timed 1.56 vs 0.29 s
    // at sf0.1 cached — Spark's sum widens to DECIMAL(28,s), off the
    // compact-long fast path), so q1 uses the LONG-QUANTIZED exact form:
    // each row quantizes to integer 10^-s units via floor(x·10^s + 0.5)
    // — multiply, add and floor are correctly-rounded IEEE ops written
    // IDENTICALLY in the oracle text, so both engines produce the same
    // long — then SUMS exact integers (order-independent, the same
    // reproducibility guarantee the decimal sum gives at 1000 executors)
    // and casts once at the end (same long → same double everywhere).
    // Semantics note: the quantization rounds the BINARY product (ties
    // up), where the decimal cast rounds the shortest decimal repr —
    // a defined, documented per-row rule, applied by both engines
    // identically. Bound: Σ|x|·10^s must stay under 2^63 (scale-6 money
    // sums reach ~4e16 at sf0.1) — GUARDED at runtime in q1Body:
    // max|units|·rows ≥ 2^62 throws loudly (quantGuarded) instead of
    // wrapping; past the bound, partition the input or use q1Decimal.
    "q1_pricing_summary" -> ((s, d) => q1Body(Tables.lineitem(s, d))),

    // Q3 — shipping priority: 3-way join, filter both sides of the date,
    // revenue per order, top 10. customer/orders broadcast-sized relative
    // to lineitem at any SF.
    "q3_shipping_priority" -> ((s, d) =>
      q3Body(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),

    // Q5 — local supplier volume: 5-way join through region/nation,
    // customer and supplier in the same nation, revenue per nation.
    "q5_local_supplier" -> ((s, d) => {
      val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nation = Tables.nation(s, d)
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey")) // SF-scaled: AQE decides
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(quantRevenueAgg(revExpr).head, quantRevenueAgg(revExpr).tail: _*)
      quantRevenueGuard(agg, "q5_local_supplier")
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // Q6 — forecasting revenue change: pure scan+filter+global agg; the
    // filters all push to parquet (PushedFilters asserted in PlanSpec).
    "q6_forecast_revenue" -> ((s, d) => {
      val e = col("l_extendedprice") * col("l_discount")
      val agg = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24.0)
        .agg(quantSum(e, 1e4).as("revenue"), count(lit(1)).as("n_rows"),
          max(abs(units(e, 1e4))).as("_mu"))
      agg.withColumn("revenue",
          quantGuarded(col("revenue"), col("_mu"), col("n_rows"),
            "double", "q6_forecast_revenue"))
        .drop("_mu")
    }),

    // Q10-shape — returned-item reporting: who returned the most revenue.
    "q10_returned_items" -> ((s, d) =>
      q10Body(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),

    // Q12-shape — shipping modes and order priority: join + conditional
    // aggregation (CASE WHEN inside SUM).
    "q12_priority_shipping" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      val ord = Tables.orders(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // Q14-shape — promotion effect: conditional revenue share of PROMO
    // parts. Exact: decimal sums, single final division.
    "q14_promo_effect" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1999-10-01").cast("timestamp"))
      val part = Tables.part(s, d)
      // quantized: promo and total sums quantize the SAME per-row units
      // (promo units are a subset of total units, so one max bounds
      // both); division order mirrors the oracle text term-for-term
      val promoQ = sum(when(col("p_type") === "PROMO", units(revExpr, 1e4))
        .otherwise(lit(0L))).cast("double") / lit(1e4)
      val agg = li.join(part, col("l_partkey") === col("p_partkey")) // SF-scaled: AQE decides
        .agg((promoQ * lit(100.0) / quantSum(revExpr, 1e4))
            .as("promo_revenue_pct"),
          max(abs(units(revExpr, 1e4))).as("_mu"),
          count(lit(1)).as("_n"))
      agg.withColumn("promo_revenue_pct",
          quantGuarded(col("promo_revenue_pct"), col("_mu"), col("_n"),
            "double", "q14_promo_effect"))
        .drop("_mu", "_n")
    }),

    // Q4-shape — order-priority checking: EXISTS with a correlated date
    // condition (late shipment proxy: shipped >60 days after order).
    "q4_order_priority" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT o_orderpriority, count(*) AS order_count
               FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
                 AND EXISTS (SELECT 1 FROM lineitem
                             WHERE l_orderkey = o_orderkey
                               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // Q7-shape — volume shipping between nation pairs (supplier nation ×
    // customer nation per year).
    // KEEP-NOTE (round 19, ABRW.json "q7"): the one untried idea from
    // the r18 plan audit — pre-aggregating the lineitem⋈supplier⋈nation
    // side by (l_orderkey, supp_region, l_year) before the orders/
    // customer joins (the A/B's q7 probe) — LOSES at every point: probe
    // 1.06/3.16/5.57 s vs this text 0.95/2.84/5.18 s at ×1/×10/×30.
    // The order-level groupBy keys on nearly one group per 4 input rows,
    // so its full-width shuffle + hash aggregate costs more than the
    // 4:1 row reduction saves the two remaining joins. The four-join
    // literal text stays; q7's cost is the joins, as adjudicated.
    "q7_nation_volume" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      // region-level pairs: the tiny-SF fixtures have only a handful of
      // suppliers, so nation-level pairs can be empty — regions always hit.
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_regionkey").as("supp_region"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("cust_region"))
      val agg = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey")) // SF-scaled: AQE decides
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_region").isin(0, 1) &&
                col("cust_region").isin(0, 1) &&
                col("supp_region") =!= col("cust_region"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).as("l_year"))
        .agg(quantRevenueAgg(revExpr).head, quantRevenueAgg(revExpr).tail: _*)
      quantRevenueGuard(agg, "q7_nation_volume")
        .orderBy("supp_region", "cust_region", "l_year")
    }),

    // Q13-shape — customer order-count distribution (left join + two-level
    // aggregation).
    "q13_customer_distribution" -> ((s, d) => {
      val cnt = Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      cnt.groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q15-shape — top supplier via CTE + scalar-max subquery. The
    // oracle keeps the literal CTE text; Spark's plan for that text
    // executes the revenue CTE TWICE (the FROM leg and the scalar-max
    // leg each re-aggregate the full fact scan — plan-verified, the
    // q2/q18 single-scan class). The Spark path aggregates ONCE into
    // the per-supplier frame (|suppliers| rows — persistable at any
    // SF), pins it (both the max and the equality probe consume it, and
    // the final plan holds no ReusedExchange for the aggregate: unpinned,
    // lineitem is aggregated twice), takes the 1-row max as a
    // broadcast, and filters by exact equality: revenue is the
    // long-quantized sum (guarded), so equal longs → equal doubles on
    // both engines and the max-equality join is exact, as the decimal
    // form was. One fact scan, one suppkey shuffle. The pin registers
    // its cache entry when the entry BUILDS its plan (persist is lazy);
    // releaseCaches frees it like every other pin.
    "q15_top_supplier" -> ((s, d) => {
      val rev0 = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1999-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(quantSum(revExpr, 1e4).as("total_revenue"),
          max(abs(units(revExpr, 1e4))).as("_mu"),
          count(lit(1)).as("_n"))
      val rev = graft.ops.Pipeline.pin(rev0.withColumn("total_revenue",
          quantGuarded(col("total_revenue"), col("_mu"), col("_n"),
            "double", "q15_top_supplier"))
        .drop("_mu", "_n"))
      val mx = broadcast(rev.agg(max(col("total_revenue")).as("_mx")))
      rev.crossJoin(mx)
        .filter(col("total_revenue") === col("_mx"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("supplier_no") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // Q18-shape — large-volume customers: IN over a group-having subquery.
    // The oracle keeps that literal text; Spark's plan for it scans
    // lineitem TWICE (outer join-agg + the left-semi HAVING leg).
    // Because c_custkey and o_totalprice are functionally determined by
    // o_orderkey, the outer GROUP BY collapses to the per-orderkey sum
    // the subquery already computes — so ONE aggregation serves both
    // roles: sum per l_orderkey, filter > 150, then join up to orders
    // and customer at post-agg grain (one row per qualifying order, not
    // fact rows). One fact scan, one fact-grain shuffle; at scale the
    // orders join reuses the aggregation's l_orderkey partitioning.
    // l_quantity is integral (TPC-H 1–50), so the regrouped double sum
    // is bit-exact against the subquery text.
    // Precondition (r13 advice): collapsing the outer GROUP BY to the
    // per-orderkey sum also assumes c_custkey and o_orderkey are UNIQUE
    // in their tables — a duplicate customer/orders row doubles
    // sum(l_quantity) in the literal text (the join fans out the fact
    // rows BEFORE its group-by) but not here (we aggregate first, so a
    // dup would instead duplicate the output row). Holds for TPC-H
    // PK-clean data; a non-PK fixture would diverge from the oracle
    // text by design, not by bug.
    "q18_large_volume" -> ((s, d) => {
      val qty = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      qty
        .join(Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey")) // SF-scaled: AQE decides
        .join(Tables.customer(s, d).select("c_custkey"),
          col("o_custkey") === col("c_custkey")) // SF-scaled: AQE decides
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // Q22-shape — global sales opportunity: customers above the positive-
    // balance average (exact decimal avg) with no orders, by country code.
    // Same adjudication as q11: the scalar-subquery threshold is a
    // GLOBAL reduction over customer, so any formulation pays a second
    // pass over the dim; the decorrelated plan's duplicated leg is a
    // two-column customer scan, and the anti-join leg scans orders
    // once. Not a q2/q18-style rewrite candidate.
    "q22_global_sales" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
                 count(*) AS numcust,
                 CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
               FROM customer
               WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS
                       DECIMAL(18,2))) AS DOUBLE) / count(*)
                     FROM customer WHERE c_acctbal > 0.0)
                 AND NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND o_orderpriority = '1-URGENT'
                                   AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
               GROUP BY 1 ORDER BY cntrycode""")
    }),

    // Q2 — minimum-cost supplier per part. The oracle keeps the literal
    // correlated-min text (q2Sql); Spark's decorrelation of that text
    // builds the partsupp⋈supplier⋈nation⋈region(ASIA) join TWICE —
    // once for the outer legs, once under the aggregate, joined back on
    // partkey. The correlation group (ASIA offers for one partkey) is
    // exactly a window partition over that join, so the Spark path
    // builds the join ONCE, takes min(ps_supplycost) over
    // Window.partitionBy(ps_partkey), and keeps the offers equal to it;
    // the size-filtered part join then prunes. The min is one of the
    // column's own stored doubles, so equality matches the subquery
    // text bit-for-bit. At scale the window's ps_partkey shuffle
    // doubles as the part-join exchange (the q21/q17 shape).
    "q2_min_cost_supplier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val asiaOffers = Tables.partsupp(s, d)
        .join(Tables.supplier(s, d)
            .select("s_suppkey", "s_nationkey", "s_acctbal", "s_name"),
          col("ps_suppkey") === col("s_suppkey")) // SF-scaled: AQE decides
        .join(broadcast(Tables.nation(s, d)
            .select("n_nationkey", "n_regionkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
      val w = Window.partitionBy("ps_partkey")
      asiaOffers
        .withColumn("min_cost", min(col("ps_supplycost")).over(w))
        .filter(col("ps_supplycost") === col("min_cost"))
        .join(Tables.part(s, d)
            .filter(col("p_size").between(10, 20))
            .select("p_partkey", "p_brand"),
          col("ps_partkey") === col("p_partkey")) // SF-scaled: AQE decides
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"), col("p_brand"))
        .limit(100)
    }),

    // Q8-shape — national market share: 8-way join through two nation
    // roles, conditional decimal volume sums, one final division.
    "q8_market_share" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q8Sql)
    }),

    // Q9-shape — product-type profit by nation and year (5-way join,
    // negative-capable decimal amounts).
    "q9_product_profit" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q9Raw)
    }),

    // Q11-shape — important inventory value: grouped HAVING against a
    // scalar-subquery fraction of the total.
    // The HAVING scalar subquery references partsupp a second time — over
    // the cached view both references scan ONE InMemoryRelation instead of
    // re-running the lineitem aggregation twice (was 36% of the sweep).
    // Probed this round for a q2/q18-style single-scan rewrite and kept
    // the SQL text deliberately: the grand total is a global reduction,
    // so ANY formulation needs a second pass over the region-filtered
    // offers, and the executed decorrelated plan is already minimal for
    // that — the supplier/nation broadcast exchanges are ReusedExchange
    // in the subquery leg, and the duplicated probe runs over the
    // CACHED partsupp (at 100 TB: the materialized bucketed table), not
    // over lineitem. A shared-groupBy + broadcast-total DataFrame
    // variant plans the identical two InMemoryTableScans (AQE does not
    // reuse the ps_partkey shuffle across the BNLJ build boundary), so
    // it would only relabel the same cost.
    "q11_important_stock" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q11Raw)
    }),

    // Q16-shape — supplier count by part attributes with a NOT IN
    // exclusion set.
    "q16_supplier_count" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q16Raw)
    }),

    // Q17-shape — small-quantity-order revenue: correlated avg subquery
    // (quantity below 20% of the part's own average).
    // Q17 — correlated avg: quantity below 20% of the part's own average.
    // The oracle keeps the literal correlated-subquery text (q17Sql);
    // Spark's decorrelation of that text aggregates the FULL lineitem by
    // l_partkey (a second complete fact scan + a full-grain shuffle —
    // the part filter does not push into the decorrelated agg). The
    // Spark path instead computes the per-part average as a window over
    // the part-filtered join itself: the join preserves every lineitem
    // row of each surviving partkey, so the window partition holds
    // exactly the subquery's correlation group. One fact scan; under
    // the at-scale shuffled join the window reuses the join's
    // l_partkey partitioning (same shape PlanSpec pins for q21).
    // Arithmetic mirrors the SQL term-for-term (exact DECIMAL sum,
    // then one double division) so the result stays hash-exact.
    "q17_small_quantity" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val part = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#11" && col("p_size") < 25)
        .select("p_partkey")
      val w = Window.partitionBy("l_partkey")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(part, col("l_partkey") === col("p_partkey")) // SF-scaled: AQE decides
        .withColumn("qty_threshold",
          lit(0.2) * (sum(col("l_quantity").cast("decimal(18,2)")).over(w)
            .cast("double") / count(lit(1)).over(w)))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / lit(7.0)).as("avg_yearly"))
    }),

    // Q20 — nested IN chains over partsupp: availability above half the
    // date-windowed shipped quantity (correlated scalar agg), part
    // pattern IN, nation IN region set.
    // Probed for a q17-class rewrite in round 14 and KEPT deliberately
    // (the q11/q22 adjudication class). Unlike q17/q18/q21, Spark's
    // decorrelation of this text has NO duplicated fact leg to kill:
    // the executed plan scans lineitem ONCE (the correlated sum becomes
    // the pair-grain agg that feeds the join directly — PlanSpec pins
    // it) and already semi-prunes partsupp by the part pattern BEFORE
    // the pair-grain join. The only remaining candidate win — semi-
    // joining the small-part keys into the date-filtered fact BELOW
    // the agg so only ~4% of the windowed rows aggregate — trades that
    // smaller agg for an extra full-fact probe + two more exchanges,
    // and MEASURED A LOSS at every scale point — the committed
    // ABRW.json (whose numbers SCALE.md quotes under the doc-sync gate;
    // the A/B harness that wrote it is at commit dad73c5) has the
    // literal at 0.81/1.89/2.50 s vs the probe's 1.18/2.29/2.81 s at
    // ×1/×10/×30; the smaller-agg advantage grows
    // with the fact but never catches the extra probe, and the original
    // 8g A/B showed the same ordering. The pair grain is
    // nearly row grain in the window (174k distinct pairs of 175k
    // windowed rows at sf0.1), so the decorrelated agg's map-side
    // combine loses nothing the semi join would save. Boundary
    // semantics (availqty exactly at the 0.5× threshold, empty
    // correlation group → NULL, nation outside the region set) are
    // pinned by TpchRewriteSpec on engineered fixtures.
    "q20_part_promotion" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q20Raw)
    }),

    // Q21-shape — suppliers who kept orders waiting: EXISTS + NOT EXISTS
    // self-joins on lineitem with non-equality correlation (the hardest
    // decorrelation shape in the suite). The oracle keeps that literal
    // text (q21Sql); the Spark path rewrites the correlated pair into
    // per-order supplier statistics over ONE lineitem⋈orders join:
    //   EXISTS l2 (other supplier, any line)        ⇔ n_supp_total ≥ 2
    //   NOT EXISTS l3 (other supplier, late line)   ⇔ n_supp_late = 1
    //     (l1 itself is late, so the single late supplier IS l1's)
    // Spark's decorrelation of the SQL text plans lineitem THREE times
    // (main + left-semi + left-anti legs — broadcastable at fixture
    // scale, three full fact scans + two fact-fact shuffles at 100 TB);
    // this form scans the fact once, both statistics fuse into ONE
    // Window node, and under the at-scale shuffled join the window's
    // l_orderkey partitioning requirement is satisfied by the join's own
    // exchanges — no fact re-shuffle (PlanSpec pins scan count, window
    // fusion, and the exchange budget under broadcast-off). collect_set
    // fan-in is bounded by lines-per-order (≤ 7 in TPC-H), not data
    // size. Measured at sf0.1: 0.70 s vs 0.76 s for the SQL text even
    // while the self-join legs still broadcast.
    "q21_suppliers_waiting" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")
      val w = Window.partitionBy("l_orderkey")
      val lines = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d)
            .filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late", late)
        // one select → both statistics in ONE Window node (sequential
        // withColumn calls planned two)
        .select(col("*"),
          size(collect_set(col("l_suppkey")).over(w)).as("n_supp_total"),
          size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w))
            .as("n_supp_late"))
      lines
        .filter(col("is_late") && col("n_supp_total") >= 2 &&
          col("n_supp_late") === 1)
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey")) // SF-scaled: AQE decides
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    }),

    // Q19-shape — discounted revenue over disjunctive brand/qty predicates:
    // the classic "OR of ANDs" join filter.
    "q19_disjunctive_filter" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val part = Tables.part(s, d)
      val agg = li.join(part, col("l_partkey") === col("p_partkey")) // SF-scaled: AQE decides
        .filter(
          (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#21" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#12" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
        .agg(quantSum(revExpr, 1e4).as("revenue"),
          count(lit(1)).as("n_rows"),
          max(abs(units(revExpr, 1e4))).as("_mu"))
      agg.withColumn("revenue",
          quantGuarded(col("revenue"), col("_mu"), col("n_rows"),
            "double", "q19_disjunctive_filter"))
        .drop("_mu")
    })
  )

  val oracle: Map[String, String] = Map(
    "q2_min_cost_supplier" -> q2Sql,
    "q8_market_share" -> q8Sql,
    "q9_product_profit" -> q9Sql,
    "q11_important_stock" -> q11Sql,
    "q16_supplier_count" -> q16Sql,
    "q17_small_quantity" -> q17Sql,
    "q20_part_promotion" -> q20Sql,
    "q21_suppliers_waiting" -> q21Sql,
    // long-quantized exact sums, written as the IDENTICAL IEEE ops the
    // Spark entry uses (floor(x*10^s + 0.5) -> BIGINT units, exact
    // integer sum, one final cast) — see the q1 keep-note
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 AS sum_base_price,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS sum_disc_price,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_charge,
           CAST(sum(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 / count(*) AS avg_qty,
           CAST(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 / count(*) AS avg_price,
           CAST(sum(CAST(floor(l_discount * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2 / count(*) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    // q3/q5/q6/q10/q14/q19: long-quantized exact sums, written as the
    // IDENTICAL IEEE ops the Spark entries use (the q1 convention) —
    // floor(expr * 1e4 + 0.5) -> BIGINT units, exact integer sum, one
    // final cast + division; guarded on the Spark side (quantGuarded).
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1999-06-01 00:00:00'
         GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q5_local_supplier" ->
      """SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name ASC""",
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue,
           count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24.0""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
    "q12_priority_shipping" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q14_promo_effect" ->
      """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END) AS DOUBLE) / 1e4 * 100.0 /
           (CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4)
             AS promo_revenue_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1999-09-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1999-10-01 00:00:00'""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q7_nation_volume" ->
      """SELECT n1.n_regionkey AS supp_region, n2.n_regionkey AS cust_region,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_regionkey IN (0, 1)
           AND n2.n_regionkey IN (0, 1)
           AND n1.n_regionkey <> n2.n_regionkey
         GROUP BY 1, 2, 3 ORDER BY supp_region, cust_region, l_year""",
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q15_top_supplier" -> q15Sql,
    "q18_large_volume" ->
      """SELECT c_custkey, o_orderkey, o_totalprice,
           sum(l_quantity) AS total_qty
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(l_quantity) > 150)
         GROUP BY c_custkey, o_orderkey, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
    "q22_global_sales" ->
      """SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
           count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                 AS DOUBLE) / count(*)
               FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT'
                             AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY 1 ORDER BY cntrycode""",
    "q19_disjunctive_filter" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue,
           count(*) AS n_rows
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#21' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#12' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)"""
  )
}

