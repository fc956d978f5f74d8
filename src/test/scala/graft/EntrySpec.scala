package graft

import org.apache.spark.sql.functions._

/** Harness-contract checks: every query runs at sf0.001, names are unique,
  * every oracle key exists, flagship entry returns rows. */
class EntrySpec extends GraftSuite {

  test("query names are globally unique across packs") {
    val names = SparkEntry.packs.flatMap(_.queries.keys)
    assert(names.distinct.size === names.size,
      s"duplicates: ${names.groupBy(identity).filter(_._2.size > 1).keys}")
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle without query: $orphans")
    // the timed harnesses time only what the catalog ships
    val timed = (Bench.headline ++ Bench.llm ++ ScaleCurve.tpchSuite ++
      ScaleCurve.llmSuite).toSet -- qs
    assert(timed.isEmpty, s"timed row without query: $timed")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Queries whose empty result at tiny SF is semantically legitimate
  // (near-dup pair finders over mostly-unique fixtures, anti joins).
  private val mayBeEmpty =
    Set("j10_join_anti", "dd3_minhash_dup_pairs", "dd8_simhash_pairs")

  test("all queries execute and return rows at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, sf).count()
          if (n == 0 && !mayBeEmpty(name)) Some(s"$name: 0 rows") else None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("q1 flagship values are sane") {
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    val rows = q1.collect()
    assert(rows.length === 6) // 3 returnflags × 2 linestatuses
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val liCount = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp")).count()
    assert(total === liCount)
  }
}
