package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Sources + catalog.
  *
  * Spark-first rebuild of the reference's catalog/loader surface
  * (Microbase.scala:950-1024: CREATE TABLE ... USING csv OPTIONS(path,
  * delimiter), eager materialization, uppercased registration). Here the
  * catalog is Spark's own (temp views), materialization is `.cache()`, and
  * the primary format is Parquet (columnar, splittable, min-max pruned) —
  * the right call at 100 TB where an eager driver-side load is impossible.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Parquet scan of one fixture table. Column pruning + predicate pushdown
    * reach the scan automatically because this stays a plain relation. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** Schema-adaptive events load: fixtures have shipped `ts` as both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across regenerations, and a
    * real user's parquet varies the same way — so branch on the schema the
    * file actually declares instead of assuming a byte layout.
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it by default; retry with
    *    the nanos-as-long legacy conf and convert via integer division
    *    (int64 nanos ~1.7e18 exceed double's 2^53 mantissa — a float
    *    division would silently corrupt timestamps).
    *  - TIMESTAMP(MICROS) without UTC adjustment reads as TIMESTAMP_NTZ;
    *    normalize once to session-local TimestampType (session TZ is UTC
    *    everywhere in this engine, so the cast is value-preserving) so
    *    every downstream operator sees one `ts` type.
    *  - Already TimestampType: pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw =
      try load(s, d, "events")
      catch { case e: Exception if e.getMessage != null &&
          e.getMessage.contains("NANOS") =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        load(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private val accessors: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** partsupp stand-in: the fixtures ship no partsupp.parquet, so the
    * part↔supplier link is DERIVED from lineitem — one row per observed
    * (l_partkey, l_suppkey) pair, with total shipped quantity standing in
    * for ps_availqty and the minimum extended price for ps_supplycost.
    * This is the single place the adaptation lives: the TPC-H query pack
    * embeds this exact text as a `WITH partsupp AS (...)` CTE on BOTH the
    * Spark and DuckDB-oracle sides (shared constant — the engines cannot
    * drift), and [[registerAll]] registers the same definition as a temp
    * view so interactive `spark.sql` users can name `partsupp` directly.
    * Scale shape: one map-side-partial groupBy over lineitem; at 100 TB a
    * deployment would materialize it bucketed on ps_partkey once. */
  val partsuppViewSql: String =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty,
         CAST(min(l_extendedprice) AS DOUBLE) AS ps_supplycost
       FROM lineitem GROUP BY l_partkey, l_suppkey"""

  // One registration per session: the fixture dir its temp views point
  // at, a version stamp per table, and the memoized partsupp frame. Views
  // are global per session, so the memo is "current dir per session";
  // asking for a different dir re-registers. The un-memoized registration
  // re-read ten parquet footers per call (measured ~0.5 s), and EVERY
  // SQL-path catalog query calls registerAll — a flat tax on the whole
  // sweep.
  //
  // partsupp is cached rather than a plain `CREATE TEMP VIEW`, which
  // inlines the CTE body at every reference — q11's HAVING scalar
  // subquery then recomputes the full lineitem groupBy TWICE per
  // execution (measured: 36% of the tpch22 sweep). Caching the derivation
  // is the single-node analog of the 100 TB deployment story
  // (materialize bucketed on ps_partkey once, reuse across the query
  // mix); the decimal sum/min derivation is order-insensitive, so cached
  // and inline results are bit-identical and the DuckDB oracle keeps
  // running the CTE text.
  private final case class Registration(
      dir: String, stamps: Map[String, Long], partsupp: Option[DataFrame])
  private val registrations =
    scala.collection.mutable.Map.empty[SparkSession, Registration] // guarded by `register`

  /** One version stamp per fixture table present under `dir`: the table
    * path's modification time, all read with ONE directory listing. A
    * parquet write sets its directory's mtime when it commits, and a swap
    * (write `t.next`, move the old path aside, move the new one in)
    * changes the stamp, so a live session sees a replaced table instead
    * of reading the files the old view listed. */
  private def versionStamps(spark: SparkSession, dir: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val byName = all.map(n => s"$n.parquet" -> n).toMap
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .flatMap(st => byName.get(st.getPath.getName).map(_ -> st.getModificationTime))
      .toMap
  }

  /** Bring the session's views in line with `dir`: a no-op while the dir
    * and every stamp are unchanged; otherwise re-register every table
    * present under `dir` (views of absent tables are dropped, so none can
    * keep serving another dir's data) and keep the partsupp frame only if
    * `lineitem`'s stamp held — a stale one is unpersisted and rebuilt.
    * A partsupp frame whose cache entry a session-wide uncache
    * (`spark.catalog.clearCache()`) dropped is cached again, so it is not
    * re-derived by every later query. */
  private def register(spark: SparkSession, dir: String): Registration =
    synchronized {
      val stamps = versionStamps(spark, dir)
      val prev = registrations.get(spark)
      val reg = prev.filter(r => r.dir == dir && r.stamps == stamps).getOrElse {
        all.foreach { n =>
          if (stamps.contains(n)) accessors(n)(spark, dir).createOrReplaceTempView(n)
          else spark.catalog.dropTempView(n)
        }
        val kept = prev.filter(r => r.dir == dir &&
          r.stamps.get("lineitem") == stamps.get("lineitem")).flatMap(_.partsupp)
        if (kept.isEmpty) prev.flatMap(_.partsupp).foreach(_.unpersist(blocking = true))
        val ps = kept.orElse(
          if (stamps.contains("lineitem")) Some(spark.sql(partsuppViewSql).cache())
          else None)
        ps match {
          case Some(df) => df.createOrReplaceTempView("partsupp")
          case None     => spark.catalog.dropTempView("partsupp")
        }
        val r = Registration(dir, stamps, ps)
        registrations(spark) = r
        r
      }
      reg.partsupp.filter(_.storageLevel == StorageLevel.NONE).foreach(_.cache())
      reg
    }

  /** The derived partsupp as a DataFrame, cached on first use (lazy — no
    * cost until a partsupp-family query materializes it). Registers the
    * session's views from `dir` first, so the SQL derivation binds to the
    * right fixture even when called before [[registerAll]]. */
  def partsupp(spark: SparkSession, dir: String): DataFrame =
    register(spark, dir).partsupp.getOrElse(
      throw new IllegalArgumentException(s"no lineitem.parquet under $dir"))

  /** Register every fixture table as a temp view so `spark.sql` text queries
    * resolve — the Spark analog of the reference's global `hm` catalog map
    * (Microbase.scala:29). Memoized per session and checked against the
    * tables' version stamps on every call; events is registered
    * normalized; the derived partsupp stand-in registers as a CACHED
    * `partsupp` view (see [[partsupp]]) so the q2/q9/q11/q16/q20 family
    * reuses one materialization instead of re-deriving per reference. */
  def registerAll(spark: SparkSession, dir: String): Unit = register(spark, dir)

  /** Reference-style CSV DDL (Microbase.scala:960-983): delimiter-split
    * text with a user-declared schema. `eager=true` mirrors the reference's
    * load-at-CREATE via Spark's cache (materialized on first action,
    * distributed instead of driver-heap). */
  def createCsvTable(
      spark: SparkSession,
      name: String,
      path: String,
      schema: StructType,
      delimiter: String = "|",
      eager: Boolean = false): DataFrame = {
    val df = spark.read
      .option("delimiter", delimiter)
      .option("header", "false")
      .schema(schema)
      .csv(path)
    val out = if (eager) df.cache() else df
    out.createOrReplaceTempView(name)
    out
  }

  /** Bucketed write: pre-partitions and pre-sorts by the join key so
    * subsequent equi-joins/aggregations on that key need NO shuffle — the
    * durable replacement for the reference's in-heap hash index (S5,
    * Microbase.scala:994-1006) that actually works at 100 TB (bucket count
    * chosen so each bucket ≈ one task's worth of data). Requires
    * saveAsTable (bucket metadata lives in the catalog). */
  def writeBucketed(
      df: DataFrame, name: String, buckets: Int, keyCol: String): Unit =
    // repartition on the bucket key first: Spark's repartition hash and the
    // bucket-id hash are the same (Murmur3 pmod n), so each write task holds
    // exactly one bucket → ONE file per bucket. That is the condition under
    // which the scan exposes the sortBy ordering (multiple files per bucket
    // void it), letting sort-merge joins skip both the Exchange AND the Sort.
    df.repartition(buckets, org.apache.spark.sql.functions.col(keyCol))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .saveAsTable(name)

  /** The five primitive types the reference supports (Microbase.scala:
    * 971-977) mapped to Spark types; our engine supersets these (long,
    * decimal, timestamp, boolean, array, map, struct all work natively). */
  def referenceType(name: String): DataType = name.toLowerCase match {
    case "int" | "integer" => IntegerType
    case "float"           => FloatType
    case "double"          => DoubleType
    case "date"            => DateType
    case "string"          => StringType
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Build a StructType from (name, refType) pairs, uppercasing names like
    * the reference's registration (Microbase.scala:953-958). */
  def referenceSchema(cols: (String, String)*): StructType =
    StructType(cols.map { case (n, t) =>
      StructField(n.toUpperCase, referenceType(t), nullable = true)
    })
}
