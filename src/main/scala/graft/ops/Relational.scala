package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational operator library — the Spark-first rebuild of the reference's
  * volcano interpreter (SURVEY.md §2b/§2e). Each reference operator becomes
  * a composable `DataFrame => DataFrame` that stays fully declarative so
  * Catalyst keeps pushdown / pruning / codegen; nothing here materializes
  * on the driver.
  *
  * Reference citations: project Microbase.scala:500-522, filter :621-645,
  * indexed-range filter :530-561, sort :246-287, limit :296-301,
  * union :289-295, subquery alias :99-123.
  */
object Relational {

  /** P1/P2 — projection incl. computed columns + aliases. The reference
    * resolves stars/aliases by hand (M:216-244); Spark's analyzer does it. */
  def project(cols: Column*)(df: DataFrame): DataFrame = df.select(cols: _*)

  /** F1 — generic predicate filter (M:621-645). Declarative, so predicates
    * on base-table columns reach the parquet scan as PushedFilters — the
    * scale-out replacement for the reference's tree-index range scan (F2,
    * M:530-561): parquet row-group min/max stats prune I/O instead of a
    * driver-heap TreeMap. */
  def filter(cond: Column)(df: DataFrame): DataFrame = df.filter(cond)

  /** O1 — multi-key sort, asc/desc with explicit null ordering (the
    * reference ignores NullOrdering, M:263; we follow ANSI). Spark executes
    * as a range-partitioned distributed sort, not a single-node sortWith. */
  def sort(keys: Column*)(df: DataFrame): DataFrame = df.orderBy(keys: _*)

  /** O2 — limit (M:296-301). */
  def limit(n: Int)(df: DataFrame): DataFrame = df.limit(n)

  /** O5 — top-k: sort+limit composed; Catalyst plans TakeOrderedAndProject,
    * a per-partition heap + driver merge — O(n log k), no global sort. */
  def topK(k: Int, keys: Column*)(df: DataFrame): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** O3 — UNION ALL (the reference's union never dedups, M:289-295). */
  def unionAll(dfs: DataFrame*): DataFrame = dfs.reduce(_ union _)

  /** UNION (distinct) — beyond the reference. */
  def unionDistinct(dfs: DataFrame*): DataFrame = dfs.reduce(_ union _).distinct()

  /** Position-independent union — beyond the reference (it ignores byName,
    * M:294). */
  def unionByName(dfs: DataFrame*): DataFrame = dfs.reduce(_ unionByName _)

  /** INTERSECT / EXCEPT — absent from the reference (SURVEY §2e "not
    * implemented"); free Spark built-ins. */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** DISTINCT — absent from the reference; hash-aggregate based, partial
    * (map-side) dedup before the shuffle. */
  def distinct(df: DataFrame): DataFrame = df.distinct()

  /** O4 — derived-table / subquery alias (M:99-123). Spark's analyzer
    * handles scoping; this is just the ergonomic wrapper. */
  def subquery(name: String)(df: DataFrame): DataFrame = df.alias(name)

  /** Keyset (cursor) pagination — the at-scale replacement for
    * LIMIT/OFFSET ([[limit]]/o6): page N via OFFSET forces the engine to
    * produce and discard all N·pageSize earlier rows EVERY page (O(n²)
    * over a full pagination sweep), where the keyset predicate
    * `(k₁,k₂,…) > (after₁,after₂,…)` makes every page the same cheap
    * plan: the lexicographic filter PUSHES DOWN to the parquet scan
    * (min/max row-group pruning on the leading key) and the sort+limit
    * plans `TakeOrderedAndProject` — per-partition heap, no global sort,
    * cost independent of how deep into the result set the cursor sits.
    * Requires what correct pagination requires anyway: a total order
    * (make the last key a unique id).
    *
    * `keys` pairs each order column with the cursor value from the last
    * row of the previous page. */
  def keysetPage(df: DataFrame, keys: Seq[(Column, Column)], pageSize: Int)
      : DataFrame = {
    require(keys.nonEmpty, "keyset pagination needs at least one key")
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    // lexicographic >: k1 > a1 OR (k1 = a1 AND k2 > a2) OR …
    val pred = keys.indices.map { i =>
      keys.take(i).map { case (k, a) => k === a }
        .foldRight(keys(i)._1 > keys(i)._2)(_ && _)
    }.reduce(_ || _)
    df.filter(pred).orderBy(keys.map(_._1): _*).limit(pageSize)
  }

  /** ANALYZE-style column statistics in ONE scan: per requested column a
    * row `(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)`.
    * This is the statistics collection a cost-based optimizer feeds on
    * (row counts, NDV, null fractions, min/max for selectivity) — the
    * reference has nothing comparable; its "indexes" (M:994-1024) are the
    * closest analog and are driver-heap structures.
    *
    * Shape: one global aggregate over the table computes every metric for
    * every column simultaneously (Spark plans the multi-distinct via
    * Expand — still a single pass over the parquet scan), then `stack`
    * unpivots the 1×(4k+1) row into k long-format rows. At 100 TB you
    * swap `count_distinct` for `approx_count_distinct` (the sketch is
    * already covered by `agg_approx_distinct`) and keep the shape;
    * exact NDV here keeps the operator oracle-checkable.
    *
    * Columns must be numeric (min/max emit as double). */
  def analyzeStats(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "analyzeStats needs at least one column")
    val aggs = count(lit(1)).as("__rows") +: columns.flatMap { c => Seq(
      count(col(c)).as(s"__n_$c"),
      count_distinct(col(c)).as(s"__d_$c"),
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c")) }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = columns.map { c =>
      s"'$c', __rows - __n_$c, __d_$c, __min_$c, __max_$c" }.mkString(", ")
    wide.selectExpr(
      "__rows AS n_rows",
      s"stack(${columns.size}, $stackArgs) AS " +
        "(col_name, n_nulls, n_distinct, min_val, max_val)")
      .select("col_name", "n_rows", "n_nulls", "n_distinct",
        "min_val", "max_val")
  }

  /** Storage-encoding advisory for string columns — the layout-tuning
    * companion to [[analyzeStats]]: per column, cardinality and average
    * width, and the encoding a columnar writer should pick (low-NDV
    * columns dictionary-encode; near-unique ones stay plain — the
    * decision parquet writers make per row group, surfaced table-wide so
    * a 100 TB pipeline can set per-column dictionary thresholds instead
    * of guessing). ONE aggregate pass for all columns; both ratios are
    * exact-integer IEEE divisions, bit-identical cross-engine. */
  def encodingAdvice(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "encodingAdvice needs at least one column")
    val aggs = count(lit(1)).as("__rows") +: columns.flatMap { c => Seq(
      count_distinct(col(c)).as(s"__d_$c"),
      sum(length(col(c)).cast("long")).as(s"__len_$c"),
      count(col(c)).as(s"__n_$c")) }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = columns.map { c =>
      s"'$c', __d_$c, CAST(__len_$c AS DOUBLE) / CAST(__n_$c AS DOUBLE), " +
      s"CAST(__d_$c AS DOUBLE) / CAST(__rows AS DOUBLE)" }.mkString(", ")
    wide.selectExpr(
      "__rows AS n_rows",
      s"stack(${columns.size}, $stackArgs) AS " +
        "(col_name, n_distinct, avg_len, ndv_ratio)")
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("avg_len"), col("ndv_ratio"),
        when(col("ndv_ratio") <= 0.01, "dictionary")
          .when(col("ndv_ratio") <= 0.5, "dictionary-candidate")
          .otherwise("plain").as("advice"))
  }

  /** Per-group 2D skyline: the Pareto frontier WITHIN each group (best
    * price/size frontier per brand, per supplier, …). Same sort-based
    * rule as [[skyline2D]], but the running min partitions by the group
    * key — groups parallelize natively, so no two-phase machinery is
    * needed; the global frontier is the degenerate one-group case where
    * [[skyline2D]]'s range-partition scheme takes over. */
  def skylineByGroup(
      df: DataFrame, groupCol: Column, xCol: Column, yCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df
      .where(xCol.isNotNull && yCol.isNotNull)
      .groupBy(groupCol.as("grp"), xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy(col("grp")).orderBy(col("x"), col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("_prefix_min", min(col("y")).over(w))
      .where(col("_prefix_min").isNull || col("y") < col("_prefix_min"))
      .select(col("grp"), col("x"), col("y"), col("n_rows"))
  }

  /** Distributed 2D skyline (Pareto frontier, minimizing both axes): the
    * distinct points `(x, y)` not strictly dominated by any other point
    * (q dominates p iff q.x ≤ p.x ∧ q.y ≤ p.y with at least one strict).
    * Output: `(x, y, n_rows)` — each frontier point with how many input
    * rows sit exactly on it.
    *
    * The textbook sort-based algorithm orders by `(x, y)` and keeps a row
    * iff every preceding row has a larger `y` — after DISTINCT, a
    * preceding row with `y ≤` this one's always dominates (its `x` is ≤,
    * and equality on both is impossible). A naive Spark rendering of
    * "preceding running min" is a global-order window — one task, dead at
    * 100 TB. This is the same rule as [[skylineByGroup]]'s window, run
    * as the global prefix scan behind [[Pipeline.packByTokenBudget]]: the
    * exclusive running min of `y` under `(x, y)` ([[Pipeline.prefixScan]]
    * with `ExclusiveMin` — one range exchange, one tiny per-partition
    * minimum on the driver, one seeded pass per partition, all inside
    * execution), and a row is kept iff its `y` is below that minimum or
    * no row precedes it. Every stage is balanced; no SinglePartition
    * anywhere in the emitting scan (PlanSpec asserts).
    *
    * `x`/`y` must be orderable; `y` is compared in its own type. */
  def skyline2D(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val pts = df
      .where(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("n_rows"))
    Pipeline.prefixScan(pts, col("y"), graft.plans.PrefixFold.ExclusiveMin,
        "_prefix_min", Seq(col("x"), col("y")))
      .where(col("_prefix_min").isNull || col("y") < col("_prefix_min"))
      .select(col("x"), col("y"), col("n_rows"))
  }
}
