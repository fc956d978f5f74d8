package graft

import org.apache.spark.sql.functions._
import graft.ops.Joins
import graft.sources.Tables

/** Scale-mechanics join tests: salted joins preserve semantics; bucketed
  * tables join without a shuffle. */
class JoinsSpec extends GraftSuite {

  test("range join equals the naive theta join and plans an equi join") {
    import spark.implicits._
    // Points 0..999, intervals of mixed lengths (some spanning many bins,
    // some within one), including boundary-touching cases.
    val points = (0L until 1000L).map(p => (p, p * 10L)).toDF("pid", "p")
    val intervals = (0L until 200L)
      .map(i => (i, i * 37L, i * 37L + (i % 5) * 40L))
      .toDF("iid", "s", "e")
    val binned = Joins.rangeJoin(points, intervals,
      col("p"), col("s"), col("e"), binSize = 64L)
    val naive = points.join(intervals, col("p").between(col("s"), col("e")))
    assert(binned.count() === naive.count())
    assert(binned.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(binned).count() === 0)
    // the point of the operator: NO pairwise scan in the plan — the bins
    // make it an equi join (hash/sort-merge/broadcast-hash all fine).
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("salted join returns exactly the plain join's rows") {
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    val plain = ord.join(cust, col("o_custkey") === col("c_custkey"))
    val salted = Joins.salted(ord, cust, "o_custkey", "c_custkey", salt = 8)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted join handles a planted hot key and actually spreads it") {
    import spark.implicits._
    // hot key: 25% of all left rows share k=7 — the shape where one
    // reducer would take a whole executor's memory at 100 TB.
    val left = (1 to 20000)
      .map(i => (if (i % 4 == 0) 7L else (i % 997).toLong, i))
      .toDF("k", "v")
    val right = (0 until 997).map(i => (i.toLong, s"r$i")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
    val salted = Joins.salted(left, right, "k", "rk", salt = 8)
    // identical semantics...
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // ...and the hot key's rows really land in multiple salt groups, i.e.
    // multiple reducers: the 5000 k=7 rows spread across ≥ 6 of 8 salts.
    val spread = left.filter(col("k") === 7L)
      .withColumn("__salt", pmod(hash(left.columns.map(col): _*), lit(8)))
      .select("__salt").distinct().count()
    assert(spread >= 6, s"hot key only reached $spread of 8 salt groups")
  }

  test("content-hash salt cannot spread identical rows; saltedUniform can") {
    import spark.implicits._
    // The adversarial case the scaladoc documents: the hot key's rows are
    // BYTE-IDENTICAL, so the content-hash salt puts every one of them in
    // a single bucket — while the row-counter salt spreads them.
    val left = ((1 to 5000).map(_ => (7L, "dup")) ++
      (0 until 997).map(i => (i.toLong, s"u$i"))).toDF("k", "v")
      .repartition(8)
    val right = (0 until 997).map(i => (i.toLong, s"r$i")).toDF("rk", "name")
    val hotContentBuckets = left.filter(col("k") === 7L && col("v") === "dup")
      .withColumn("__salt", pmod(hash(left.columns.map(col): _*), lit(8)))
      .select("__salt").distinct().count()
    assert(hotContentBuckets === 1,
      "identical rows were expected to collapse into one content-hash bucket")
    val hotUniformBuckets = left.filter(col("k") === 7L)
      .withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(hotUniformBuckets >= 6,
      s"uniform salt only reached $hotUniformBuckets of 8 buckets")
    // and the uniform variant is still exactly the plain join
    val plain = left.join(right, col("k") === col("rk"))
    val uniform = Joins.saltedUniform(left, right, "k", "rk", salt = 8)
    assert(uniform.count() === plain.count())
    assert(uniform.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(uniform).count() === 0)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    Tables.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
      "orders_b", 4, "o_custkey")
    Tables.writeBucketed(
      Tables.customer(spark, sf).select("c_custkey", "c_acctbal"),
      "customer_b", 4, "c_custkey")
    // force a sort-merge join (broadcast would hide the bucketing effect)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
