package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
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
    * reach the scan automatically because this stays a plain relation.
    *
    * The relation is resolved once per session and table version: the
    * first load lists the table's files and reads its parquet footer, and
    * later loads reuse that resolved relation, so they list no files and
    * start no job. Each call hands out a fresh DataFrame with new
    * attribute ids, so two loads of one table self-join like two reads.
    * The version is the table path's modification time, checked on every
    * call: a table replaced in place (written beside, then moved in) is
    * resolved again, but a rewrite that keeps the path's mtime is not
    * seen. A missing table is not memoized and fails as a plain read does.
    * Only plans are kept, never data. Registers no view and caches
    * nothing. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    frame(spark, dir, name, stampOf(spark, dir, name))

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
  def events(s: SparkSession, d: String): DataFrame =
    eventsFrame(s, d, stampOf(s, d, "events"))

  // The raw relation is memoized like any table's, so the nanos retry runs
  // once per version; the `ts` normalization is re-applied on every call.
  private def eventsFrame(s: SparkSession, d: String, stamp: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw =
      try frame(s, d, "events", stamp)
      catch { case e: Exception if e.getMessage != null &&
          e.getMessage.contains("NANOS") =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        frame(s, d, "events", stamp)
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

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

  // One registration per session: the resolved relation of every table
  // loaded (keyed by path, with the stamp it was resolved under), the
  // fixture dir the temp views point at with the stamps they were built
  // from, and the memoized partsupp frame. Views are global per session,
  // so the view memo is "current dir per session"; asking for a different
  // dir re-registers, from the memoized relations. EVERY SQL-path catalog
  // query calls registerAll, and every DataFrame-path one loads its
  // tables, so an unmemoized resolution (a file listing and a footer-read
  // job per table) was a flat tax on the whole sweep.
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
  //
  // The session itself holds its registration, in its extra-strategies
  // list (a strategy that plans nothing): the memoized relations
  // reference their session, so a registry outside the session, even a
  // weakly keyed one, would keep every session ever registered reachable.
  // This way a session nobody references is collected with its plans.
  // `ownedBy` tells a session's own registration from the one a
  // `cloneSession()` copies out of its parent's list.
  private final case class Resolved(stamp: Long, relation: LogicalRelation)
  private final class Registration(owner: SparkSession) extends SparkStrategy {
    def ownedBy(s: SparkSession): Boolean = owner eq s
    def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
    val relations = scala.collection.mutable.Map.empty[String, Resolved]
    var dir: Option[String] = None
    var stamps = Map.empty[String, Long]
    var partsupp: Option[DataFrame] = None
  }

  private def registration(spark: SparkSession): Registration = synchronized {
    spark.experimental.extraStrategies
      .collectFirst { case r: Registration if r.ownedBy(spark) => r }
      .getOrElse {
        val r = new Registration(spark)
        GraftBridge.registerStrategy(spark, r)
        r
      }
  }

  /** One version stamp per parquet table present under `dir`: the table
    * path's modification time, all read with ONE directory listing. A
    * parquet write sets its directory's mtime when it commits, and a swap
    * (write `t.next`, move the old path aside, move the new one in)
    * changes the stamp, so a live session sees a replaced table instead
    * of reading the files the old relation listed. */
  private def versionStamps(spark: SparkSession, dir: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .collect { case st if st.getPath.getName.endsWith(".parquet") =>
        st.getPath.getName.stripSuffix(".parquet") -> st.getModificationTime }
      .toMap
  }

  /** `name`'s stamp, or None when it or `dir` is absent. */
  private def stampOf(spark: SparkSession, dir: String, name: String): Option[Long] =
    try versionStamps(spark, dir).get(name)
    catch { case _: java.io.FileNotFoundException => None }

  /** A fresh DataFrame over `name`'s relation, resolved at most once per
    * stamp. The stamp is read before resolving, so a swap racing the
    * resolution can only cost one more resolution, never a stale hit. */
  private def frame(
      spark: SparkSession, dir: String, name: String, stamp: Option[Long]): DataFrame = {
    val path = s"$dir/$name.parquet"
    val rel = synchronized {
      val memo = registration(spark).relations
      memo.get(path).filter(r => stamp.contains(r.stamp)).map(_.relation).getOrElse {
        // the analyzed plan: the reader's logical plan is still an
        // unresolved data-source node, which would list again on use
        val resolved = spark.read.parquet(path).queryExecution.analyzed match {
          case lr: LogicalRelation => lr
          case other => throw new IllegalStateException(
            s"$path resolved to ${other.nodeName}, not a file relation")
        }
        stamp.foreach(st => memo(path) = Resolved(st, resolved))
        resolved
      }
    }
    GraftBridge.ofRows(spark, rel.newInstance())
  }

  /** Bring the session's views in line with `dir`: a no-op while the dir
    * and every stamp are unchanged; otherwise re-register every table
    * present under `dir` from its memoized relation (only a table whose
    * stamp changed is resolved again; views of absent tables are dropped,
    * so none can keep serving another dir's data) and keep the partsupp
    * frame only if `lineitem`'s stamp held — a stale one is unpersisted
    * and rebuilt. A partsupp frame whose cache entry a session-wide
    * uncache (`spark.catalog.clearCache()`) dropped is cached again, so it
    * is not re-derived by every later query. */
  private def register(spark: SparkSession, dir: String): Registration =
    synchronized {
      val stamps = versionStamps(spark, dir)
      val reg = registration(spark)
      if (!reg.dir.contains(dir) || reg.stamps != stamps) {
        all.foreach { n =>
          stamps.get(n) match {
            case Some(st) =>
              val df = if (n == "events") eventsFrame(spark, dir, Some(st))
                else frame(spark, dir, n, Some(st))
              df.createOrReplaceTempView(n)
            case None => spark.catalog.dropTempView(n)
          }
        }
        val kept = reg.partsupp.filter(_ => reg.dir.contains(dir) &&
          reg.stamps.get("lineitem") == stamps.get("lineitem"))
        if (kept.isEmpty) reg.partsupp.foreach(_.unpersist(blocking = true))
        reg.partsupp = kept.orElse(
          if (stamps.contains("lineitem")) Some(spark.sql(partsuppViewSql).cache())
          else None)
        reg.partsupp match {
          case Some(df) => df.createOrReplaceTempView("partsupp")
          case None     => spark.catalog.dropTempView("partsupp")
        }
        reg.dir = Some(dir)
        reg.stamps = stamps
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
    * (Microbase.scala:29). The views are built from the same memoized
    * relations [[load]] hands out, so the SQL path and the DataFrame path
    * resolve each table once, under the same version stamps: checked on
    * every call, a changed stamp re-registers the views and re-resolves
    * only the tables it changed. events is registered normalized; the
    * derived partsupp stand-in registers as a CACHED `partsupp` view (see
    * [[partsupp]]) so the q2/q9/q11/q16/q20 family reuses one
    * materialization instead of re-deriving per reference. */
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
