package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.TpchQueries
import graft.sources.Tables

/** Equivalence of the single-scan rewrites (q2 window-min, q18
  * agg-first, and — round 14 — q17/q21's windows) against the LITERAL
  * correlated/IN-subquery SQL they replace, plus a boundary-semantics
  * pin of the probed-and-KEPT q20 text, on engineered fixtures the
  * driver data cannot guarantee to contain:
  *
  *  - q2: two ASIA suppliers TIED at a part's min supplycost (both rows
  *    must survive the `ps_supplycost = (SELECT min ...)` equality); a
  *    cheaper NON-ASIA offer on the same part (must NOT lower the ASIA
  *    min — the correlated subquery is region-scoped); a part with no
  *    ASIA offers (no correlation group → excluded); both p_size
  *    BETWEEN bounds (10 and 20 inclusive).
  *  - q18: an order summing to EXACTLY the HAVING threshold (150 —
  *    strict >, must be excluded); one at 150.5 (included); a lineitem
  *    orderkey with no orders row and an order with no customer row
  *    (inner joins drop them in both forms).
  *
  * The reference plan here is Spark ITSELF executing the subquery text
  * (`SparkEntry.oracleSql`) over the same views — independent of the
  * DuckDB gate, which only sees driver-generated data. Both sides run
  * on the same mini parquet dir through the ordinary Tables loaders,
  * so the derived partsupp view semantics (min extendedprice per
  * (partkey, suppkey) pair — Tables.partsuppViewSql) apply identically.
  */
class TpchRewriteSpec extends GraftSuite
    with org.scalatest.BeforeAndAfterAll {

  /** Dedicated session: this spec registers temp views named like the
    * shared fixtures (`lineitem`, `orders`, ...) over its mini tables,
    * and `Tables.partsupp` derives through the session's `lineitem`
    * view — on the shared session that races with concurrently-running
    * suites (observed: PlanSpec's q2 plan collapsed to an empty
    * relation when this suite's 10-row lineitem view won the race).
    * `newSession()` shares the SparkContext but isolates the temp-view
    * catalog, and the per-session partsupp/view registration keys off
    * it too. */
  private lazy val s2 = spark.newSession()

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-rw-").toString
    import spark.implicits._

    Seq((0, "ASIA"), (1, "OTHER"))
      .toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$d/region.parquet")

    // Nation 2 sits in region 3 — OUTSIDE q20's n_regionkey IN (0,1,2)
    // set (and has no region row, so q2's region join drops it too).
    Seq((0, "N_ASIA", 0), (1, "N_OTHER", 1), (2, "N_FAR", 3))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")

    // s1/s2/s4 ASIA, s3 non-ASIA. s1 and s2 share s_acctbal so the q2
    // ORDER BY falls through to the later tie-break keys. s5 lives in
    // the out-of-set region 3 (q20's nation-IN-region exclusion).
    Seq((1L, "S#1", 0, 50.0), (2L, "S#2", 0, 50.0),
        (3L, "S#3", 1, 99.0), (4L, "S#4", 0, 10.0),
        (5L, "S#5", 2, 77.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$d/supplier.parquet")

    // p1 in-range tie case; p2 ASIA-less; p3 size out of range;
    // p4/p5 at the inclusive BETWEEN bounds 10 and 20.
    // p6/p7 match q20's `LIKE 'small%'` (size 5 keeps them out of q2's
    // 10–20 window); p8 is the q17 Brand#11 part (size 24 < 25 for q17,
    // > 20 so q2 ignores its offers); p9 carries the q21 lines (size 99,
    // non-small, non-Brand#11 — invisible to q2/q17/q20).
    Seq((1L, "p1", "B#1", "T", 15, 1.0), (2L, "p2", "B#2", "T", 15, 1.0),
        (3L, "p3", "B#3", "T", 99, 1.0), (4L, "p4", "B#4", "T", 10, 1.0),
        (5L, "p5", "B#5", "T", 20, 1.0),
        (6L, "small anodized brass", "B#6", "T", 5, 1.0),
        (7L, "small burnished tin", "B#7", "T", 5, 1.0),
        (8L, "p8", "Brand#11", "T", 24, 1.0),
        (9L, "p9", "B#9", "T", 99, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$d/part.parquet")

    Seq((10L, "C#10", 0, 0.0, "M"), (11L, "C#11", 0, 0.0, "M"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")

    // Order 104's o_custkey=99 has no customer row; lineitem order 103
    // has no orders row. Orders 105–107 are the q21 waiting-supplier
    // cases (their quantity sums stay ≤ 150, invisible to q18).
    Seq((100L, 10L, "F", 1000.0, "1996-01-01 00:00:00", "1-URGENT"),
        (101L, 10L, "F", 2000.0, "1996-01-02 00:00:00", "1-URGENT"),
        (102L, 11L, "F", 3000.0, "1996-01-03 00:00:00", "1-URGENT"),
        (104L, 99L, "F", 4000.0, "1996-01-04 00:00:00", "1-URGENT"),
        (105L, 10L, "F", 500.0, "1996-01-05 00:00:00", "1-URGENT"),
        (106L, 11L, "F", 600.0, "1996-01-05 00:00:00", "1-URGENT"),
        (107L, 10L, "F", 700.0, "1996-01-05 00:00:00", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate_s", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate_s")))
      .drop("o_orderdate_s")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")

    // (orderkey, partkey, suppkey, linenumber, quantity, extprice):
    //  - derived partsupp cost = min(l_extendedprice) per (part, supp):
    //    part 1 → s1 min 10.0, s2 min 10.0 (TIE), s3 min 5.0 (non-ASIA,
    //    ignored by the ASIA-scoped correlated min);
    //    part 2 → s3 only; part 3 → s1; part 4 → s4; part 5 → s4.
    //  - q18 sums per order: 100 → exactly 150 (out, strict >);
    //    101 → 150.5 (in); 102 → 200 across 4 lines (in);
    //    103 → 400 but no orders row (out); 104 → 300 with an orders
    //    row but no customer row (out).
    // Rows 2xx have NO orders row: inner joins drop them from q18/q21,
    // so they exist purely for the q17/q20 per-pair semantics.
    //  - q20 (derived ps_availqty = sum of ALL qty per pair; window is
    //    shipdate ∈ [1997-01-01, 1999-01-01)):
    //      (p6,s1) windowed 5+5=10, availqty 10 > 5   → s1 QUALIFIES;
    //      (p6,s2) one windowed qty-0 line → availqty 0, threshold 0,
    //              strict > at the EXACT boundary      → excluded;
    //      (p7,s4) only an out-of-window line → correlated sum NULL
    //              (availqty > NULL is false)          → excluded;
    //      (p7,s5) windowed 20, availqty 20 > 10 — qualifies on
    //              quantity but s5's nation sits in region 3, outside
    //              the IN (0,1,2) set                  → excluded.
    //  - q17 (part 8, Brand#11): quantities 0.5/1/8.5/10 → exact
    //    DECIMAL sum 20.00, avg 5, threshold 0.2×5 = 1.0 (an EXACT
    //    double); the qty-1.0 line sits AT the boundary (strict <,
    //    out), only the qty-0.5 line survives → avg_yearly = 7.0/7.
    //  - q21 (part 9): order 105 — s1 late TWICE + s2 on time → s1
    //    counts BOTH late lines (the l3 leg only excludes OTHER late
    //    suppliers); order 106 — two DIFFERENT late suppliers → both
    //    excluded; order 107 — single-supplier order → EXISTS l2 fails.
    val li = Seq(
      (100L, 1L, 1L, 1, 50.0, 10.0, "1996-02-01 00:00:00"),
      (100L, 1L, 1L, 2, 50.0, 12.0, "1996-02-01 00:00:00"),
      (100L, 1L, 2L, 3, 50.0, 10.0, "1996-02-01 00:00:00"),
      (101L, 1L, 3L, 1, 75.0, 5.0, "1996-02-01 00:00:00"),
      (101L, 2L, 3L, 2, 75.5, 7.0, "1996-02-01 00:00:00"),
      (102L, 3L, 1L, 1, 50.0, 8.0, "1996-02-01 00:00:00"),
      (102L, 4L, 4L, 2, 50.0, 9.0, "1996-02-01 00:00:00"),
      (102L, 5L, 4L, 3, 50.0, 9.5, "1996-02-01 00:00:00"),
      (102L, 5L, 4L, 4, 50.0, 11.0, "1996-02-01 00:00:00"),
      (103L, 4L, 4L, 1, 400.0, 9.0, "1996-02-01 00:00:00"),
      (104L, 4L, 4L, 1, 300.0, 9.0, "1996-02-01 00:00:00"),
      // q20
      (200L, 6L, 1L, 1, 5.0, 2.0, "1997-06-01 00:00:00"),
      (200L, 6L, 1L, 2, 5.0, 3.0, "1997-06-01 00:00:00"),
      (201L, 6L, 2L, 1, 0.0, 2.5, "1997-06-01 00:00:00"),
      (202L, 7L, 4L, 1, 12.0, 2.0, "1996-06-01 00:00:00"),
      (203L, 7L, 5L, 1, 20.0, 2.2, "1997-06-01 00:00:00"),
      // q17
      (210L, 8L, 3L, 1, 0.5, 7.0, "1996-02-01 00:00:00"),
      (211L, 8L, 3L, 1, 1.0, 100.0, "1996-02-01 00:00:00"),
      (212L, 8L, 3L, 1, 8.5, 100.0, "1996-02-01 00:00:00"),
      (213L, 8L, 3L, 1, 10.0, 100.0, "1996-02-01 00:00:00"),
      // q21 (order dates 1996-01-05 → late means shipped after 03-05)
      (105L, 9L, 1L, 1, 1.0, 1.0, "1996-06-01 00:00:00"),
      (105L, 9L, 1L, 2, 1.0, 1.0, "1996-07-01 00:00:00"),
      (105L, 9L, 2L, 3, 1.0, 1.0, "1996-01-10 00:00:00"),
      (106L, 9L, 2L, 1, 1.0, 1.0, "1996-06-01 00:00:00"),
      (106L, 9L, 4L, 2, 1.0, 1.0, "1996-06-01 00:00:00"),
      (107L, 9L, 4L, 1, 1.0, 1.0, "1996-06-01 00:00:00"),
      // q15 (ship dates inside [1999-01-01, 1999-04-01) — OUTSIDE every
      // other test's window): s1 and s2 TIED at the max revenue 100.0
      // (both must survive the max-equality), s4 below at 50.0.
      (300L, 9L, 1L, 1, 1.0, 60.0, "1999-02-01 00:00:00"),
      (300L, 9L, 1L, 2, 1.0, 40.0, "1999-02-01 00:00:00"),
      (300L, 9L, 2L, 3, 1.0, 100.0, "1999-02-01 00:00:00"),
      (300L, 9L, 4L, 4, 1.0, 50.0, "1999-02-01 00:00:00"))
    li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_shipdate_s")
      .withColumn("l_discount", lit(0.0))
      .withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N"))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", to_timestamp(col("l_shipdate_s")))
      .drop("l_shipdate_s")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  /** The oracle text over the mini dir's views (registered into the
    * dedicated session's catalog; registerAll registers the seven
    * TPC-H tables the dir holds). The oracle texts carry their own
    * `WITH partsupp AS (...)` CTE, so the cached partsupp view is not
    * read. */
  private def literalSql(name: String): DataFrame = {
    Tables.registerAll(s2, dir)
    s2.sql(SparkEntry.oracleSql(name))
  }

  override def afterAll(): Unit = {
    // Unpersist the mini-dir partsupp cache this suite materialized.
    Tables.partsupp(s2, dir).unpersist(blocking = true)
    super.afterAll()
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("q2 window rewrite == correlated-min SQL on tie/region boundaries") {
    val rewrite = rowsOf(TpchQueries.queries("q2_min_cost_supplier")(s2, dir))
    val literal = rowsOf(literalSql("q2_min_cost_supplier"))
    assert(rewrite === literal)
    // The engineered semantics, asserted directly so a future fixture
    // edit cannot silently weaken the case: part 1 keeps BOTH tied ASIA
    // suppliers (the non-ASIA 5.0 offer did not lower the min), part 2
    // is ASIA-less, part 3 out of size range, parts 4/5 hit both
    // inclusive bounds through s4.
    val byPart = rewrite.groupBy(_.getAs[Long]("p_partkey"))
    assert(byPart(1L).map(_.getAs[String]("s_name")).sorted === Seq("S#1", "S#2"))
    assert(!byPart.contains(2L) && !byPart.contains(3L))
    assert(byPart(4L).map(_.getAs[String]("s_name")) === Seq("S#4"))
    assert(byPart(5L).map(_.getAs[String]("s_name")) === Seq("S#4"))
  }

  test("q18 agg-first rewrite == IN-subquery SQL at the HAVING boundary") {
    val rewrite = rowsOf(TpchQueries.queries("q18_large_volume")(s2, dir))
    val literal = rowsOf(literalSql("q18_large_volume"))
    assert(rewrite === literal)
    val keys = rewrite.map(r =>
      (r.getAs[Long]("o_orderkey"), r.getAs[Double]("total_qty")))
    // 100 (exactly 150) excluded by strict >; 103 (no orders row) and
    // 104 (no customer row) dropped by the inner joins in both forms.
    assert(keys.toSet === Set((101L, 150.5), (102L, 200.0)))
  }

  test("q17 window rewrite == correlated-avg SQL at the 0.2×avg boundary") {
    val rewrite = rowsOf(TpchQueries.queries("q17_small_quantity")(s2, dir))
    val literal = rowsOf(literalSql("q17_small_quantity"))
    assert(rewrite === literal)
    // Part 8's quantities 0.5/1/8.5/10 average to exactly 5, so the
    // threshold 0.2×5 is the EXACT double 1.0: the qty-1.0 line sits AT
    // the boundary and the strict < drops it in both forms; only the
    // qty-0.5 line (extprice 7.0) survives → avg_yearly = 7.0/7 = 1.0.
    assert(rewrite.size === 1)
    assert(rewrite.head.getAs[Double]("avg_yearly") === 1.0)
  }

  test("q20 kept text holds its boundary semantics at the 0.5× threshold") {
    // q20 is a probed-and-KEPT SQL text (TpchQueries keep-note; the
    // candidate rewrite measured a loss at every scale point), so there
    // is no rewrite to prove equal — but the driver's oracle only sees
    // generated data, and these engineered boundaries pin the kept
    // text's semantics: (p6,s2)'s windowed sum is 0 and its derived
    // availqty is 0 — strict > at the EXACT 0.5× threshold excludes
    // s2; (p7,s4) has shipped lines only OUTSIDE the date window — the
    // correlated sum is NULL and `availqty > NULL` is false; (p7,s5)
    // passes the quantity test but s5's nation is in region 3, outside
    // the IN (0,1,2) set. Only s1 (p6 windowed 10, availqty 10 > 5)
    // qualifies. (Evaluated through the oracle text with its partsupp
    // CTE — the catalog entry is the same text over the CACHED partsupp
    // derivation, whose decimal sum/min is bit-identical.)
    val rows = rowsOf(literalSql("q20_part_promotion"))
    assert(rows.map(r => (r.getAs[Long]("s_suppkey"),
      r.getAs[String]("s_name"))) === Seq((1L, "S#1")))
  }

  test("q21 window rewrite == EXISTS/NOT-EXISTS SQL on late-supplier shapes") {
    val rewrite = rowsOf(TpchQueries.queries("q21_suppliers_waiting")(s2, dir))
    val literal = rowsOf(literalSql("q21_suppliers_waiting"))
    assert(rewrite === literal)
    // Order 105: s1 is late on TWO lines and is the ONLY late supplier
    // (s2 shipped on time, satisfying EXISTS l2) — the NOT-EXISTS leg
    // excludes only OTHER late suppliers, so BOTH of s1's late lines
    // count (numwait 2, not 1). Order 106 has two DIFFERENT late
    // suppliers (each sees the other → NOT EXISTS fails for both);
    // order 107 is single-supplier (EXISTS l2 fails). Earlier orders
    // ship before their +60-day cutoffs and the 2xx lines have no
    // orders row.
    assert(rewrite.map(r => (r.getAs[String]("s_name"),
      r.getAs[Long]("numwait"))) === Seq(("S#1", 2L)))
  }

  /** A lineitem frame with q1's exact column surface and controllable
    * price/quantity magnitudes — built on the DEDICATED session (s2) so
    * the ANSI toggle below cannot leak into concurrently-running
    * suites. */
  private def q1Fixture(price: Double, rows: Int,
      qty: Double = 1.0): DataFrame = {
    import s2.implicits._
    (1 to rows).map(_ => (qty, price, 0.0, 0.05, "N", "O"))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus")
      .withColumn("l_shipdate", to_timestamp(lit("1997-01-01 00:00:00")))
  }

  private def messageChain(e: Throwable): String = {
    var t = e; val sb = new StringBuilder
    while (t != null) { sb.append(t.getMessage).append('\n'); t = t.getCause }
    sb.toString
  }

  test("q1 quantized sums REFUSE past the 2^62 bound instead of wrapping") {
    // charge units = price·(1-d)·(1+t)·10^6 ≈ 4.99e18 per row ≥ the
    // 4.6e18 guard bound even at ONE row. A single row never overflows
    // the sum itself (no addition), so under the session default (ANSI
    // on, Spark 4) nothing else throws — proving the guard refuses on
    // a-priori RISK, before any wrap, with an actionable message.
    val e = intercept[Exception] {
      Force.run(TpchQueries.q1Body(q1Fixture(5.0e12, rows = 1)))
    }
    assert(messageChain(e).contains("long-quantized sum overflow risk"),
      s"expected the quantGuarded refusal, got: ${messageChain(e)}")

    // The scenario the guard exists for: with spark.sql.ansi.enabled
    // =false (common in sessions migrated from Spark 3), sum(long)
    // WRAPS silently and the huge-double→long cast saturates silently —
    // only the guard stands between the caller and a wrong answer.
    s2.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e2 = intercept[Exception] {
        Force.run(TpchQueries.q1Body(q1Fixture(5.0e12, rows = 3)))
      }
      assert(messageChain(e2).contains("long-quantized sum overflow risk"),
        s"expected the quantGuarded refusal, got: ${messageChain(e2)}")
    } finally s2.conf.unset("spark.sql.ansi.enabled")

    // The guard carrier is the GREATEST unit magnitude across the
    // quantized expressions, not charge alone: a huge QUANTITY with a
    // tiny price (charge units ~1e6, qty units 5e18) must refuse too —
    // qty/disc magnitudes are independent of charge's.
    val eq = intercept[Exception] {
      Force.run(TpchQueries.q1Body(q1Fixture(1.0, rows = 1, qty = 5.0e16)))
    }
    assert(messageChain(eq).contains("long-quantized sum overflow risk"),
      s"expected the qty-magnitude refusal, got: ${messageChain(eq)}")

    // Well inside the bound: passes through untouched, guard column gone.
    val ok = TpchQueries.q1Body(q1Fixture(1000.0, rows = 3)).collect()
    assert(ok.length === 1 && ok.head.getAs[Long]("count_order") === 3L)
    assert(!ok.head.schema.fieldNames.contains("_q1_max_units"))
    // charge = 1000 · (1-0.0) · (1+0.05) = 1050 per row × 3 rows
    assert(math.abs(ok.head.getAs[Double]("sum_charge") - 3150.0) < 1e-9)
  }

  test("quantGuarded treats an EMPTY global aggregate as in-bound") {
    // A global .agg over zero matching rows still emits one row:
    // count 0, max(abs(units)) NULL, sum NULL. No wrap is possible on
    // zero rows, so the guard must pass the NULL sum through — before
    // the explicit NULL/zero arm, the predicate (NULL·0 < bound)
    // evaluated NULL and fell through to raise_error, a spurious
    // refusal on a legitimate empty filter match (q19's narrow
    // brand/size predicates can match nothing at small SF) while the
    // DuckDB oracle returns the NULL-revenue row.
    import graft.queries.OracleSafe._
    val empty = q1Fixture(1000.0, rows = 3)
      .filter(col("l_quantity") < 0.0) // matches nothing
    val e = col("l_extendedprice") * col("l_discount")
    val out = empty
      .agg(quantSum(e, 1e4).as("revenue"), count(lit(1)).as("n_rows"),
        max(abs(units(e, 1e4))).as("_mu"))
      .withColumn("revenue", quantGuarded(col("revenue"), col("_mu"),
        col("n_rows"), "double", "empty_pin"))
      .drop("_mu")
      .collect()
    assert(out.length === 1)
    assert(out.head.isNullAt(out.head.fieldIndex("revenue")))
    assert(out.head.getAs[Long]("n_rows") === 0L)
  }

  test("headline quantized revenue sums agree with the decimal policy") {
    // Round-17 rollout of the q1 technique to q3/q5/q6/q10/q14/q19:
    // their oracle texts now carry the identical quantized expressions
    // (co-varying by design), so the independent semantic check is
    // here — on real fixture data, per grouping of each query's row
    // set, the quantized sum must agree with the decimal-cast policy
    // within per-row quantization tolerance (|Δ| ≤ n·10^-4).
    import graft.queries.OracleSafe._
    val li = Tables.lineitem(spark, sf)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val pairs = Seq(
      // (label, row set, grouping) covering the adopted groupings
      ("q6_global", li.filter(col("l_discount") >= 0.05), Seq.empty[String]),
      ("q3_per_order", li, Seq("l_orderkey")),
      ("q10_style", li.filter(col("l_returnflag") === "R"), Seq("l_suppkey")))
    pairs.foreach { case (label, df, keys) =>
      val agg = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.head, keys.tail: _*)
      val rows = agg.agg(
          quantSum(rev, 1e4).as("q"),
          moneySum(rev, 4).as("dec"),
          count(lit(1)).as("n"))
        .collect()
      assert(rows.nonEmpty, label)
      rows.foreach { r =>
        val d = math.abs(r.getAs[Double]("q") - r.getAs[Double]("dec"))
        val n = r.getAs[Long]("n").toDouble
        assert(d <= n * 1e-4 + 1e-9,
          s"$label diverged beyond quantization tolerance: |Δ|=$d n=$n")
      }
    }
  }

  test("grouped quantized revenue REFUSES past the bound (q3 wiring)") {
    // the q1 refusal pin covers quantGuarded itself; this pins the
    // grouped quantRevenueAgg/quantRevenueGuard wiring in q3Body with
    // crafted base relations — one order's revenue units ≥ the bound.
    import s2.implicits._
    // scale 1e4: units = 5e14·1e4 = 5e18 ≥ the 4.6e18 bound at ONE row
    // (one row sums without addition, so ANSI mode has nothing to catch
    // — only the a-priori guard refuses, as in the q1 pin)
    val li = Seq((1L, 5.0e14, 0.0, "1999-07-01"))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate_s")
      .withColumn("l_shipdate", to_timestamp(col("l_shipdate_s")))
      .drop("l_shipdate_s")
    val ord = Seq((1L, 10L, "1999-01-01", "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate_s", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate_s")))
      .drop("o_orderdate_s")
    val cust = Seq((10L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val e = intercept[Exception] {
      Force.run(TpchQueries.q3Body(li, ord, cust))
    }
    assert(messageChain(e).contains("long-quantized sum overflow risk"),
      s"expected the grouped refusal, got: ${messageChain(e)}")
  }

  test("q15 single-scan rewrite == literal CTE/scalar-max SQL on a max tie") {
    // s1 reaches the max 100.0 across TWO lines (60+40 — the quantized
    // sum must aggregate before comparing), s2 ties it on one line;
    // both must survive the max-equality; s4 (50.0) must not.
    val rewrite = rowsOf(TpchQueries.queries("q15_top_supplier")(s2, dir))
    val literal = rowsOf(literalSql("q15_top_supplier"))
    graft.ops.Pipeline.releaseCaches()
    assert(rewrite === literal)
    assert(rewrite.map(r => (r.getAs[Long]("s_suppkey"),
      r.getAs[Double]("total_revenue"))) === Seq((1L, 100.0), (2L, 100.0)))
  }

  test("quantized guards survive column pruning in the optimized plan") {
    // The guard is attached per quantized output column precisely
    // because Catalyst prunes unreferenced project expressions — this
    // pins that a caller selecting ANY single quantized column still
    // carries a RaiseError in the optimized plan (a future refactor
    // back to a single designated guard column would fail here).
    def pruned(name: String, keep: String) = TpchQueries
      .queries(name)(spark, sf).select(keep)
      .queryExecution.optimizedPlan.toString
    assert(pruned("q1_pricing_summary", "sum_charge").contains("raise_error"))
    assert(pruned("q1_pricing_summary", "avg_disc").contains("raise_error"))
    assert(pruned("q3_shipping_priority", "revenue").contains("raise_error"))
    assert(pruned("q6_forecast_revenue", "revenue").contains("raise_error"))
    assert(pruned("q14_promo_effect", "promo_revenue_pct")
      .contains("raise_error"))
    // and the inverse documents the DESIGN: a projection of only
    // unguarded columns (exact counts) legitimately prunes the guard —
    // those values cannot be wrong, so nothing needs refusing
    assert(!pruned("q1_pricing_summary", "count_order")
      .contains("raise_error"))
  }

  test("q1 quantized form stays falsifiable against the decimal policy") {
    // The ORACLE text carries the identical quantized expressions (both
    // sides co-vary), so the independent semantic check is here: on real
    // fixture data the quantized sums must agree with the decimal-cast
    // policy within per-row quantization tolerance (each row's unit
    // rounding differs from the decimal rounding by at most one 10^-s
    // unit, only at representation boundaries → |Δ| ≤ n·10^-s).
    val li = Tables.lineitem(spark, sf)
    val q = TpchQueries.q1Body(li).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val d = TpchQueries.q1Decimal(li).collect()
    assert(d.nonEmpty && d.length === q.size)
    d.foreach { r =>
      val qr = q((r.getString(0), r.getString(1)))
      val n = r.getAs[Long]("count_order").toDouble
      assert(qr.getAs[Long]("count_order") === r.getAs[Long]("count_order"))
      for ((col, s) <- Seq("sum_base_price" -> 1e-2, "sum_disc_price" -> 1e-4,
          "sum_charge" -> 1e-6, "avg_qty" -> 1e-2, "avg_price" -> 1e-2,
          "avg_disc" -> 1e-2)) {
        val dq = math.abs(qr.getAs[Double](col) - r.getAs[Double](col))
        assert(dq <= n * s + 1e-9,
          s"$col diverged beyond quantization tolerance: |Δ|=$dq n=$n s=$s")
      }
    }
  }
}
