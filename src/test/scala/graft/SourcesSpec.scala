package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source/DDL coverage (SURVEY.md §2a): the reference's pipe-delimited CSV
  * loader with declared schema (S1/S2), eager materialization, and the
  * five reference primitive types — rebuilt over Spark's CSV source —
  * plus `Tables.registerAll`'s per-session views and `Tables.load`'s
  * per-session relation memo over a dir whose tables are swapped while
  * the session lives. */
class SourcesSpec extends GraftSuite {

  test("pipe-delimited CSV round-trips the nation table") {
    val dir = Files.createTempDirectory("graft-csv-").toString
    val nation = Tables.nation(spark, sf)
    nation.write.mode("overwrite").option("delimiter", "|").csv(dir)
    val schema = Tables.referenceSchema(
      "n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int")
    val loaded = Tables.createCsvTable(spark, "nation_csv", dir, schema)
    // reference uppercases registered names (Microbase.scala:953-958)
    assert(loaded.columns.toSeq === Seq("N_NATIONKEY", "N_NAME", "N_REGIONKEY"))
    assert(loaded.count() === nation.count())
    val viaSql = spark.sql(
      "SELECT count(*) AS n FROM nation_csv WHERE N_REGIONKEY = 0")
      .collect().head.getLong(0)
    val expected = nation.filter(col("n_regionkey") === 0).count()
    assert(viaSql === expected)
  }

  test("eager load materializes at create (cache) like the reference") {
    val dir = Files.createTempDirectory("graft-csv2-").toString
    Tables.region(spark, sf).write.mode("overwrite")
      .option("delimiter", "|").csv(dir)
    val schema = Tables.referenceSchema(
      "r_regionkey" -> "int", "r_name" -> "string")
    val df = Tables.createCsvTable(spark, "region_csv", dir, schema,
      eager = true)
    df.count() // force
    assert(df.storageLevel.useMemory, "eager table should be cached")
    df.unpersist()
  }

  test("reference type mapping covers exactly the five primitive types") {
    import org.apache.spark.sql.types._
    assert(Tables.referenceType("int") === IntegerType)
    assert(Tables.referenceType("float") === FloatType)
    assert(Tables.referenceType("double") === DoubleType)
    assert(Tables.referenceType("date") === DateType)
    assert(Tables.referenceType("string") === StringType)
    intercept[IllegalArgumentException](Tables.referenceType("decimal"))
  }

  test("partitioned parquet writes prune partitions at read time") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-part-").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-05").cast("date"))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    // the day predicate must land in PartitionFilters (directory pruning),
    // NOT in PushedFilters/post-scan Filter — at 100 TB this is the
    // difference between listing one directory and scanning everything.
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("day"), plan)
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date")).count()
    assert(pruned.count() === expected)
  }

  test("fixture dtype contract: events/documents/embeddings pin their types") {
    import org.apache.spark.sql.types._
    // The loader surface GUARANTEES these downstream types. The driver
    // has regenerated fixtures with changed physical types before (events
    // ts: TIMESTAMP(NANOS) → TIMESTAMP(MICROS) across rounds, round 7
    // broke 64 queries before the schema-adaptive loader) — this test
    // exists so any future dtype drift in ANY of the three beyond-TPC-H
    // fixtures fails HERE, loudly, instead of as 64 mysterious query
    // regressions.
    def assertSchema(
        name: String, df: org.apache.spark.sql.DataFrame,
        expected: Seq[(String, DataType)]): Unit = {
      val got = df.schema.map(f => f.name -> f.dataType)
      assert(got === expected,
        s"$name fixture drifted: got $got, contract is $expected")
    }
    assertSchema("events", Tables.events(spark, sf), Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType))
    assertSchema("documents", Tables.documents(spark, sf), Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assertSchema("embeddings", Tables.embeddings(spark, sf), Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))
    // Negative leg: a synthetic drifted fixture MUST trip the same check
    // (proves the contract detects drift rather than vacuously passing).
    val dir = Files.createTempDirectory("graft-drift-").toString
    Tables.documents(spark, sf)
      .withColumn("n_chars", col("n_chars").cast("int"))   // long → int
      .withColumn("doc_id", col("doc_id").cast("string")) // long → string
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    intercept[org.scalatest.exceptions.TestFailedException] {
      assertSchema("documents", Tables.documents(spark, dir), Seq(
        "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
    }
  }

  test("date columns parse as epoch-day-equivalent DateType") {
    val dir = Files.createTempDirectory("graft-csv3-").toString
    Files.writeString(java.nio.file.Paths.get(dir, "s.data"),
      "1|hello|2020-03-15\n2|world|1999-12-31\n")
    val schema = Tables.referenceSchema(
      "c" -> "int", "b" -> "string", "a" -> "date")
    val df = Tables.createCsvTable(spark, "s_csv", dir, schema)
    val dates = df.orderBy("C").select("A").collect()
      .map(_.getDate(0).toString)
    assert(dates === Array("2020-03-15", "1999-12-31"))
  }

  // ---- registerAll over a live dir ----------------------------------
  // Each case runs on its own temp copy of the fixture dir and its own
  // session, so swapping a table touches no other suite's views.

  private def fixtureCopy(): String = {
    val src = Paths.get(sf)
    val dst = Files.createTempDirectory("graft-swap-")
    scala.util.Using.resource(Files.walk(src)) { paths =>
      paths.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }
    dst.toString
  }

  /** Replace `table` under `dir` the way an ingest job does: write
    * `<table>.next`, move the live path aside, atomically move the new
    * version in, then delete the old one. */
  private def swap(s: SparkSession, dir: String, table: String)(
      change: DataFrame => DataFrame): Unit = {
    val live = Paths.get(dir, s"$table.parquet")
    val next = Paths.get(dir, s"$table.next")
    val prev = Paths.get(dir, s"$table.prev")
    change(Tables.load(s, dir, table)).write.parquet(next.toString)
    Files.move(live, prev)
    Files.move(next, live, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.forceDelete(prev.toFile)
  }

  test("registerAll re-registers a table swapped in a live session") {
    val d = fixtureCopy()
    val s = spark.newSession()
    SparkEntry.queries("q4_order_priority")(s, d).collect()
    val before = Tables.orders(s, d).count()
    swap(s, d, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    // the SQL path re-lists orders instead of reading the deleted files
    SparkEntry.queries("q4_order_priority")(s, d).collect()
    val viaSql = s.sql("SELECT count(*) FROM orders").head.getLong(0)
    assert(viaSql === Tables.orders(s, d).count())
    assert(viaSql < before)
  }

  test("a lineitem swap rebuilds the cached partsupp from the new data") {
    val d = fixtureCopy()
    val s = spark.newSession()
    def rows(df: DataFrame) =
      df.orderBy("ps_partkey", "ps_suppkey").collect().toSeq
    val old = rows(Tables.partsupp(s, d)) // materializes the cache
    swap(s, d, "lineitem")(_.filter(col("l_linenumber") === 1))
    Tables.registerAll(s, d)
    val fresh = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("ps_availqty"),
        min(col("l_extendedprice")).cast("double").as("ps_supplycost"))
    val view = rows(s.table("partsupp"))
    assert(view === rows(fresh))
    assert(view !== old)
    assert(Tables.partsupp(s, d).storageLevel.useMemory)
  }

  test("partsupp is cached again after a session-wide clearCache") {
    // the memoized frame outlives its cache entry; without the re-cache
    // every later partsupp query silently re-derived it from lineitem
    val d = fixtureCopy()
    val s = spark.newSession()
    assert(Tables.partsupp(s, d).storageLevel.useMemory)
    s.catalog.clearCache()
    assert(Tables.partsupp(s, d).storageLevel.useMemory)
    Tables.partsupp(s, d).unpersist(blocking = true)
  }

  test("registerAll on an unchanged dir discovers no files") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val d = fixtureCopy()
    val s = spark.newSession()
    val c0 = METRIC_FILES_DISCOVERED.getCount
    Tables.registerAll(s, d)
    val c1 = METRIC_FILES_DISCOVERED.getCount
    Tables.registerAll(s, d)
    assert(c1 > c0, "the first registration lists the tables")
    assert(METRIC_FILES_DISCOVERED.getCount - c1 === 0)
  }

  // ---- Tables.load's per-session relation memo ----------------------

  private def filesDiscovered(body: => Unit): Long = {
    import org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val c0 = METRIC_FILES_DISCOVERED.getCount
    body
    METRIC_FILES_DISCOVERED.getCount - c0
  }

  test("a second load of an unchanged table lists no files and starts no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val d = fixtureCopy()
    val s = spark.newSession()
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(filesDiscovered(Tables.lineitem(s, d)) > 0, "the first load lists")
      assert(filesDiscovered(Tables.events(s, d)) > 0)
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      val before = jobs.get
      assert(filesDiscovered(Tables.lineitem(s, d)) === 0)
      assert(filesDiscovered(Tables.events(s, d)) === 0)
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      assert(jobs.get - before === 0, "a warm load read a footer")
    } finally sc.removeSparkListener(listener)
  }

  test("load after a swap returns the new rows") {
    val d = fixtureCopy()
    val s = spark.newSession()
    val before = Tables.orders(s, d).count()
    swap(s, d, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    val after = Tables.orders(s, d)
    assert(after.filter(col("o_orderkey") % 2 =!= 0).count() === 0)
    assert(after.count() === s.read.parquet(s"$d/orders.parquet").count())
    assert(after.count() < before)
  }

  test("two loads of lineitem have disjoint ids and self-join like two reads") {
    val d = fixtureCopy()
    val s = spark.newSession()
    val (l1, l2) = (Tables.lineitem(s, d), Tables.lineitem(s, d))
    assert(l1.queryExecution.analyzed.output.map(_.exprId)
      .intersect(l2.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    def joined(a: DataFrame, b: DataFrame) =
      a.join(b, a("l_orderkey") === b("l_orderkey") &&
          a("l_linenumber") =!= b("l_linenumber"))
        .select(a("l_orderkey").as("k"), a("l_linenumber").as("n1"),
          b("l_linenumber").as("n2"))
        .orderBy("k", "n1", "n2").collect().toSeq
    val p = s"$d/lineitem.parquet"
    val viaReads = joined(s.read.parquet(p), s.read.parquet(p))
    assert(viaReads.nonEmpty)
    assert(joined(l1, l2) === viaReads)
    // a cached load still serves a later load of the same table
    l1.cache()
    try assert(Tables.lineitem(s, d).queryExecution.withCachedData.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    finally l1.unpersist(blocking = true)
  }

  test("loading a missing table raises PATH_NOT_FOUND, and is not memoized") {
    import org.apache.spark.sql.AnalysisException
    val d = Files.createTempDirectory("graft-missing-").toString
    val s = spark.newSession()
    for (dir <- Seq(d, s"$d/absent")) {
      val e = intercept[AnalysisException](Tables.load(s, dir, "orders"))
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    }
    Tables.orders(spark, sf).write.parquet(s"$d/orders.parquet")
    assert(Tables.load(s, d, "orders").count() === Tables.orders(spark, sf).count())
  }

  test("registerAll after an orders swap re-lists only orders") {
    val d = fixtureCopy()
    val s = spark.newSession()
    Tables.registerAll(s, d)
    swap(s, d, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    val listed = filesDiscovered(Tables.registerAll(s, d))
    val ordersAlone = filesDiscovered(s.read.parquet(s"$d/orders.parquet"))
    assert(ordersAlone > 0)
    assert(listed === ordersAlone)
    assert(s.sql("SELECT count(*) FROM orders").head.getLong(0) ===
      Tables.orders(s, d).count())
  }

  test("a session nobody references is collected with its registration") {
    val d = fixtureCopy()
    // no shuffle runs: a shuffle's bookkeeping keeps its session reachable
    // for a while whatever Tables does
    def registered(): java.lang.ref.WeakReference[SparkSession] = {
      val s = spark.newSession()
      Tables.region(s, d).collect()
      Tables.registerAll(s, d)
      Tables.partsupp(s, d).unpersist(blocking = true)
      new java.lang.ref.WeakReference(s)
    }
    val ref = registered()
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    var tries = 0
    while (ref.get != null && tries < 20) {
      System.gc()
      Thread.sleep(100)
      tries += 1
    }
    assert(ref.get == null, "the registration kept its session reachable")
  }
}
