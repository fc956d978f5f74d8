package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline utilities: stratified sampling, reproducible
  * shuffling, and context-window packing. All distributed, deterministic
  * (seeded / hash-ordered), and driver-state-free.
  */
object Pipeline {

  /** Every frame [[pin]] persisted and [[releaseCaches]] has not yet
    * unpersisted. Every pin exists for reuse only: no operator's answer
    * depends on a pinned frame staying cached (the two-phase prefix
    * scans compute inside execution, see [[graft.plans.PrefixScanExec]]).
    * The queue is shared by every caller in the JVM, and Spark's cache
    * manager keys entries by canonicalized PLAN (plan-identical frames
    * share one entry), so one caller's release can cost another caller
    * a recompute, never a wrong answer. */
  private[graft] val pinned =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** The one way an operator keeps an intermediate past the consuming
    * action: persist `df` at MEMORY_AND_DISK, queue it for
    * [[releaseCaches]], and return the persisted frame. Pin only a
    * subtree the final plan cannot share by itself — Catalyst's exchange
    * reuse already computes a subtree once when both readers sit in one
    * query under plan-identical exchanges. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val persisted =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.add(persisted)
    persisted
  }

  /** Unpersist every pinned frame (the LSH signature frames, the
    * funnel's stage completions, the k-hop adjacency, …). Call AFTER the
    * action(s) consuming their results; releasing earlier only costs a
    * recompute of the pinned stage.
    *
    * CALLER CONTRACT for direct library use: a session that invokes a
    * pinning operator and never releases leaks one persisted frame per
    * call (Spark's LRU bounds the memory, but disk blocks and
    * cache-manager entries persist for the session). Every operator
    * persist that outlives its operator goes through [[pin]], so the
    * harness loops (graft.Verify, graft.Bench, graft.ScaleCurve), which
    * call this between queries, end a full-catalog session with zero
    * graft-pinned cache entries (PipelineSpec checks it per pinning
    * operator); long-lived library callers should do the same after
    * each consuming action. */
  def releaseCaches(): Unit = {
    var df = pinned.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = pinned.poll()
    }
  }

  /** Exact-k deterministic per-stratum sample: within each stratum, rank
    * rows by a seeded md5 of their key and keep the k smallest. Unlike
    * the Bernoulli [[stratifiedSamplePortable]] (output SIZE is random),
    * this returns EXACTLY min(k, |stratum|) rows per stratum — the shape
    * needed when downstream capacity is fixed (eval subsets, per-domain
    * quotas). Deterministic on any partitioning/cluster layout (pure
    * function of seed + key, like [[assignSplitPortable]]), and
    * engine-portable: md5 is identically defined everywhere, so the
    * selection itself is oracle-checkable — ties in the hash (only
    * possible for duplicate keys) break on the key itself.
    *
    * Scale shape: one shuffle on the stratum key; the per-stratum window
    * is partitioned, never global. A stratum so hot it swamps one task
    * would use the two-phase top-k (per-partition top-k, then merge) —
    * at per-stratum k this window form is the simpler, standard shape. */
  def exactKPerStratum(
      df: DataFrame, strataCol: String, k: Int, seed: Long,
      keyCol: Column): DataFrame = {
    require(k > 0, "k must be positive")
    val rank = row_number().over(
      Window.partitionBy(col(strataCol))
        .orderBy(md5(concat_ws("|", lit(seed), keyCol)), keyCol))
    df.withColumn("_rk", rank).filter(col("_rk") <= k).drop("_rk")
  }

  /** Weighted sample WITHOUT replacement, exactly k rows, inclusion
    * probability ∝ weight — Efraimidis–Spirakis A-ES: each row gets the
    * key u^(1/w) with u uniform in [0,1), and the k largest keys win.
    * u derives from a seeded xxhash64 of the row key (the same
    * pure-function-of-(seed,key) construction as
    * [[assignSplitPortable]]), so the sample is deterministic on any
    * partitioning and replays bit-identically — no RNG state, no
    * `rand()`. The quality-weighted subset-selection primitive ("sample
    * 1M docs ∝ quality score").
    *
    * Scale shape: the key is scan-local; the global top-k plans
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    * one reducer) — k rows cross the network, not the corpus. Rows with
    * weight ≤ 0 are excluded (their inclusion probability is 0).
    *
    * Cross-engine note: `pow` is not IEEE correctly-rounded, so the
    * exact selection near the rank boundary is engine-local — the
    * catalog entry is rows-only with PipelineSpec invariants, like the
    * Bernoulli samplers. */
  def weightedSample(
      df: DataFrame, k: Int, seed: Long,
      weightCol: Column, keyCols: Column*): DataFrame = {
    require(k > 0, "k must be positive")
    val u = shiftrightunsigned(xxhash64(lit(seed) +: keyCols: _*), 1)
      .cast("double") / 9.223372036854776e18
    df.filter(weightCol > 0)
      .withColumn("_aes", pow(u, lit(1.0) / weightCol))
      .orderBy(col("_aes").desc +: keyCols: _*)
      .limit(k)
      .drop("_aes")
  }

  /** Appends `name`, the `fold` of `value` under the total order
    * `orderCols` (plain or `asc`/`desc` columns), as one
    * [[graft.plans.PrefixScan]]. A naive global window
    * (`Window.orderBy(key)` with no partitionBy) funnels the whole
    * dataset through ONE task; the prefix scan range-partitions by the
    * order instead, folds each partition to one subtotal, and streams
    * every partition once, seeded by the subtotals before it (the plan
    * and why it needs no guard: [[graft.plans.PrefixScanExec]]). All of
    * it runs when the frame is executed: building it starts no job and
    * caches nothing. */
  private[graft] def prefixScan(
      df: DataFrame, value: Column, fold: graft.plans.PrefixFold,
      name: String, orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val spark = df.sparkSession
    GraftBridge.registerStrategy(spark, graft.plans.PrefixScanStrategy)
    // let the analyzer resolve the columns against df's own output
    val (order, child) = df.sort(orderCols: _*).queryExecution.analyzed match {
      case Sort(o, true, c, _) => (o, c)
      case other => throw new IllegalArgumentException(
        s"prefix-scan order must use columns of the frame, got:\n$other")
    }
    val v = df.select(value.as(name)).queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), _) => e
      case other => throw new IllegalArgumentException(
        s"prefix-scan value must be a column expression, got:\n$other")
    }
    val out = AttributeReference(name, fold.resultType(v.dataType), fold.nullable)()
    GraftBridge.ofRows(spark, graft.plans.PrefixScan(v, order, fold, out, child))
  }

  /** Returns `df` plus `name`: the INCLUSIVE global running sum of
    * `perRow` (cast to long; a null counts as 0) under the total order
    * `orderCols`. */
  private def globalRunningSum(
      df: DataFrame, perRow: Column, name: String,
      orderCols: Seq[Column]): DataFrame =
    prefixScan(df, perRow.cast("long"), graft.plans.PrefixFold.InclusiveSum,
      name, orderCols)

  /** Curriculum difficulty buckets: `ntile(n)` within each stratum under
    * a total per-stratum order (tie-broken by the trailing key so the
    * assignment is deterministic) — the standard length/difficulty
    * staging for curriculum learning schedules. The window partitions by
    * stratum, so a million-language corpus parallelizes per language; for
    * a single giant stratum, compose [[globalPosition]] with an explicit
    * `ceil(pos·n/N)` instead (two-phase, no one-task window). */
  def curriculumBuckets(
      df: DataFrame, strata: Seq[Column], order: Seq[Column], n: Int)
      : DataFrame = {
    require(n > 0, s"bucket count must be positive, got $n")
    val w = Window.partitionBy(strata: _*).orderBy(order: _*)
    df.withColumn("bucket", ntile(n).over(w))
  }

  /** Context-window packing: assign documents (in a stable id order) to
    * training bins by prefix token sums — bin b holds the docs whose
    * preceding cumulative token count falls in [b*budget, (b+1)*budget).
    * Prefix-sum semantics (a doc may straddle its boundary) rather than
    * stateful first-fit: exact first-fit would need a sequential scan.
    * Distributed via the two-phase prefix sum ([[prefixScan]]) — no
    * single-task window stage anywhere in the plan (PlanSpec asserts
    * this). */
  def packByTokenBudget(
      df: DataFrame, idCol: Column, tokensCol: Column,
      budget: Int): DataFrame =
    globalRunningSum(df, tokensCol, "cum_tokens", Seq(idCol))
      .withColumn("bin",
        floor((col("cum_tokens") - tokensCol).cast("double") / budget)
          .cast("int"))

  /** Mixture sampling: downsample sources so the OUTPUT hits target
    * proportions (the domain-mixing step of training-data assembly —
    * e.g. 60% web / 30% code / 10% books regardless of raw availability).
    * The binding source is kept whole (its share is the budget); every
    * other source downsamples to match. Per-source fractions derive from
    * one small count aggregate (rows = #sources on the driver — O(1)
    * per source, not per row); the sampling itself is the portable
    * per-stratum hash-Bernoulli of [[stratifiedSamplePortable]], a pure
    * function of (salt, key) — layout-independent and
    * engine-recomputable — so the whole thing is scan + one tiny agg, no
    * shuffle of the data.
    *
    * Sources present in the data but absent from `targetShares` are
    * dropped (share 0). Shares are normalized. */
  def mixtureSamplePortable(
      df: DataFrame, sourceCol: String,
      targetShares: Map[String, Double], salt: String,
      keyCol: Column): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0),
      "target shares must be positive")
    val total = targetShares.values.sum
    val want = targetShares.map { case (k, v) => k -> v / total }
    val wanted = df.filter(col(sourceCol).isin(want.keys.toSeq: _*))
    val have: Map[String, Long] = wanted
      .groupBy(sourceCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = want.keySet.diff(have.keySet)
    require(missing.isEmpty, s"no rows for requested sources: $missing")
    // the binding source maximizes want/have — it is kept whole, and the
    // total output size is have(binding)/want(binding). Its fraction is
    // pinned to EXACTLY 1.0 rather than recomputed as
    // (have/want)*want/have, which in floating point can round to
    // 1-2^-52 and turn "kept whole" into "almost surely kept whole"
    // under Bernoulli sampling.
    val bindingKey = have.minBy { case (k, n) => n / want(k) }._1
    val outTotal = have(bindingKey) / want(bindingKey)
    val fractions = want.map { case (k, w) =>
      k -> (if (k == bindingKey) 1.0
            else math.min(1.0, outTotal * w / have(k)))
    }
    stratifiedSamplePortable(wanted, sourceCol, fractions, salt, keyCol)
  }

  /** `frac` of the 128-bit md5 space as a 32-digit lowercase hex string —
    * comparing an md5 hex digest `< md5Bound(frac)` keeps a `frac`
    * Bernoulli share, identically in every engine (equal-length lowercase
    * hex compares exactly as the 128-bit value it encodes). */
  def md5Bound(frac: Double): String = {
    val v = (BigDecimal(frac) * BigDecimal(BigInt(1) << 128)).toBigInt
    String.format("%032x", v.bigInteger)
  }

  /** Cumulative md5-range boundaries for [[assignSplitPortable]]: for all
    * but the last split, the EXCLUSIVE upper bound of its share of the
    * 128-bit md5 space as a 32-digit lowercase hex string (the last split
    * takes the remainder). Public so a query and its oracle SQL embed the
    * SAME constants — the two sides cannot drift. */
  def md5SplitBounds(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits need positive weights")
    val total = splits.map(_._2).sum
    // each split's cumulative upper bound in (0, 1], the last one 1 up to
    // rounding
    splits.map(_._1).zip(
      splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail)
      .init.map { case (name, frac) => name -> md5Bound(frac) }
  }

  /** Portable per-stratum Bernoulli sample: a row is kept iff the md5 of
    * (salt ++ key) lands under its stratum's fraction of the hash space.
    * Unlike an RNG sample (`sampleBy`), the selection is a pure
    * function of (salt, key) — the same rows are kept on any cluster,
    * any partitioning, any engine (a resumed job with a different
    * layout keeps the SAME sample, and DuckDB can recompute the
    * selection outright). Strata absent from `fractions` are dropped,
    * matching sampleBy. Scan-local, no shuffle, no RNG state. */
  def stratifiedSamplePortable(
      df: DataFrame, strataCol: String, fractions: Map[String, Double],
      salt: String, keyCol: Column): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val h = md5(concat(lit(salt), keyCol.cast("string")).cast("binary"))
    val keep = fractions.foldLeft(lit(false)) { case (acc, (s, f)) =>
      when(col(strataCol) === s,
        if (f >= 1.0) lit(true) else h < lit(md5Bound(f))).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Deterministic dataset split (train/val/test …): each row's split is
    * a pure function of (salt, key) — the same row lands in the same
    * split on any cluster, any partitioning, any run, and rows are never
    * duplicated or dropped across splits (disjoint + exhaustive by
    * construction: one hash, one bucket). Weights are normalized
    * proportions. Scan-local — no shuffle, no RNG state. The standard
    * leakage-safe alternative to `randomSplit`, whose per-partition RNG
    * reassigns rows when the input partitioning changes.
    *
    * The unit-interval draw is the md5 hex digest of (salt ++ key)
    * compared against the precomputed [[md5SplitBounds]] range
    * boundaries. md5 is the SAME function in every engine (unlike
    * xxhash64, which is Spark-internal), so the assignment reproduces
    * bit-identically in DuckDB / Trino / Python — the split of a 100 TB
    * corpus survives an engine migration, and the query becomes
    * oracle-checkable. Equal-length lowercase hex compares
    * lexicographically exactly as the 128-bit value it encodes. */
  def assignSplitPortable(
      df: DataFrame, keyCol: Column, salt: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val h = md5(concat(lit(salt), keyCol.cast("string")).cast("binary"))
    val expr = md5SplitBounds(splits).foldRight(lit(splits.last._1): Column) {
      case ((name, bound), elseExpr) =>
        when(h < lit(bound), lit(name)).otherwise(elseExpr)
    }
    df.withColumn("split", expr)
  }

  /** Attach data-quality counters to a frame via Spark's `observe` —
    * metrics accumulate on the EXECUTORS during whatever action runs the
    * frame (zero extra passes, zero shuffles, unlike a separate
    * `df.agg(...)` audit job that re-reads the input) and surface on the
    * driver afterwards. The standard pipeline-instrumentation primitive:
    * row counts, null rates, and domain violations observed on the same
    * scan that produces the output. Read back with [[observedMetrics]]. */
  def withQualityMetrics(
      df: DataFrame, name: String, metrics: (String, Column)*): DataFrame = {
    require(metrics.nonEmpty, "at least one metric")
    val cols = metrics.map { case (alias, c) => c.as(alias) }
    df.observe(name, cols.head, cols.tail: _*)
  }

  /** Observed metrics of the LAST completed action on `df` — pass the
    * frame (or a descendant of it) whose OWN QueryExecution ran: metrics
    * live on the executed plan, and shortcuts like `df.count()` spawn a
    * separate QueryExecution whose metrics this frame never sees. Run
    * `df.collect()`/`write` on the frame itself, then read. */
  def observedMetrics(df: DataFrame, name: String): Map[String, Any] = {
    val row = df.queryExecution.observedMetrics.getOrElse(name,
      throw new NoSuchElementException(
        s"no observed metrics '$name' — did an action run?"))
    row.schema.fieldNames.zip(row.toSeq).toMap
  }

  /** Total bytes under a path via the Hadoop FileSystem API — works on
    * any supported filesystem (local, HDFS, object stores) and recurses
    * into partitioned layouts, unlike java.io.File which silently reports
    * 0 for non-local URIs. */
  def directoryBytes(
      spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(path).getLength
  }

  /** Size-targeted compaction: rewrite a directory of (typically many
    * small) parquet files into ~`targetBytes` files — the small-files
    * fix every long-running ingestion needs (file-count explosions turn
    * scan planning and commit protocols into the bottleneck long before
    * data size does). Partition count derives from the actual input
    * bytes; `repartition` (round-robin) balances rows regardless of the
    * input layout. Returns the partition count chosen. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long): Int = {
    require(targetBytes > 0)
    val inputBytes = directoryBytes(spark, inDir)
    val parts = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(parts)
      .write.mode("overwrite").parquet(outDir)
    parts
  }

  /** Winsorize: clip `value` to its exact [pLo, pHi] percentile range —
    * the standard outlier treatment before length/score features feed a
    * curriculum or mixture weighting (a single 100 MB document must not
    * dominate a mean). Exact linear-interpolated percentiles (one global
    * aggregate) broadcast back over the scan as a 1-row cross join — no
    * window, no second sorted pass; at 100 TB swap in approx_percentile
    * and keep the shape. Output column is `<name>_w`, double. */
  def winsorize(
      df: DataFrame, value: Column, name: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"bad percentiles $pLo..$pHi")
    val bounds = df.agg(
      percentile(value, lit(pLo)).as("_w_lo"),
      percentile(value, lit(pHi)).as("_w_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${name}_w",
        least(greatest(value.cast("double"), col("_w_lo")), col("_w_hi")))
      .drop("_w_lo", "_w_hi")
  }

  /** Morton (Z-order) value: bit-interleave of two non-negative integer
    * columns — x's bit i lands at position 2i, y's at 2i+1, so sorting by
    * the z-value clusters rows that are close in BOTH dimensions. This is
    * the layout primitive behind multi-dimensional scan pruning
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`): parquet min/max row-group
    * stats on z-sorted data prune a 2-D box predicate to ~√(selectivity)
    * of the files, where a single-column sort prunes only its own
    * dimension and scans everything for a predicate on the other.
    *
    * Pure closed-form column arithmetic (shift/and/or fold, disjoint
    * bits), whole-stage-codegen'd and engine-portable — the same
    * expression evaluates bit-identically in any SQL engine, so z-values
    * are oracle-checkable. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` clustered by z-value into `files` range-partitioned,
    * internally sorted parquet files: rows co-located in 2-D space land in
    * the same file, so each file's min/max stats cover a tight z-range
    * (≈ a quadrant of the key space) and box predicates on EITHER OR BOTH
    * dimensions prune files. One range shuffle (sampled bounds), then a
    * partition-local sort — no global sort stage. */
  def zorderWrite(
      df: DataFrame, outDir: String, z: Column, files: Int): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Token-window chunking: split each document into chunks of
    * `chunkSize` whitespace tokens starting every `stride` tokens
    * (stride < chunkSize ⇒ overlapping context windows, the standard
    * training-data shape). Purely scan-local — tokenize, explode one row
    * per chunk, slice — no shuffle anywhere, so it scales with readers.
    * Chunk starts are 0, stride, 2·stride, … while they fall inside the
    * document, so every token lands in ≥ 1 chunk and the last chunk may
    * be short — which requires stride ≤ chunkSize (enforced; a larger
    * stride would silently drop the tokens between windows).
    * Deterministic (single-space tokenizer, positional slices):
    * oracle-checked by md5 of each chunk's re-joined text. */
  def chunkByTokens(
      df: DataFrame, idCol: Column, textCol: Column,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"chunkSize/stride must be positive, got $chunkSize/$stride")
    require(stride <= chunkSize,
      s"stride ($stride) > chunkSize ($chunkSize) would drop the tokens " +
      "between consecutive windows")
    df.select(idCol.as("doc_id"), split(textCol, " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          ((col("n") - 1) / lit(stride)).cast("int"))))
      .withColumn("start", col("chunk_idx") * stride)
      .withColumn("chunk_toks",
        slice(col("toks"), col("start") + 1, lit(chunkSize)))
      .select(
        col("doc_id"), col("chunk_idx"),
        size(col("chunk_toks")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_md5"))
  }

  /** Global 1-based position of each row under `orderCols` — the scalable
    * form of `row_number()` over an unpartitioned window (the same
    * prefix scan as [[runningTotal]], summing 1 per row).
    *
    * PRECONDITION (shared with [[runningTotal]] and every other
    * prefix-sum entry point): `orderCols` must be a TOTAL order with
    * UNIQUE keys per row — the repo's determinism convention. Rows with
    * equal keys are numbered in shuffle-arrival order, which can differ
    * between runs and layouts. */
  def globalPosition(
      df: DataFrame, posName: String, orderCols: Column*): DataFrame =
    globalRunningSum(df, lit(1L), posName, orderCols)

  /** Global inclusive running total of `valueCol` (LONG) under
    * `orderCols` — `sum() OVER (ORDER BY …)` without the SinglePartition
    * window (same two-phase scheme as [[globalPosition]]). The growth
    * curve / cumulative-count primitive. Same unique-total-order
    * precondition as [[globalPosition]], for determinism. */
  def runningTotal(
      df: DataFrame, valueCol: Column, totalName: String,
      orderCols: Column*): DataFrame =
    globalRunningSum(df, valueCol, totalName, orderCols)

  /** Deterministic source-interleaved training order: rank docs within
    * each source (keyed window), then order globally by (within-source
    * position, source) — a round-robin through the sources, so EVERY
    * prefix and window of the training order is source-balanced. The
    * data-ordering fix for loaders that would otherwise see long
    * single-source runs (concatenated corpora destabilize early
    * training; a random shuffle balances only in expectation, this
    * balances by construction and is reproducible). Composes with pl2's
    * md5 shuffle as the within-source order when randomness-within-
    * source is wanted. Keyed window + the [[globalPosition]] two-phase
    * rank — no SinglePartition stage. */
  def interleaveBySource(
      df: DataFrame, idCol: Column, srcCol: Column): DataFrame = {
    val w = Window.partitionBy(col("_src")).orderBy(col("_id").asc)
    val within = df.select(idCol.as("_id"), srcCol.as("_src"))
      .withColumn("within_pos", row_number().over(w).cast("long"))
    globalPosition(within, "train_pos",
      col("within_pos").asc, col("_src").asc)
      .select(col("_id").as("doc_id"), col("_src").as("source"),
        col("within_pos"), col("train_pos"))
  }

  /** Token-budget shard planner — the "write the final corpus" step: pack
    * docs IN ORDER into consecutive shards of ~`targetTokens` tokens each
    * (WebDataset/Arrow-shard style: a loader streams whole shards, so
    * shard token counts bound loader memory and shard count sets read
    * parallelism). A doc opens a new shard when the tokens BEFORE it
    * reach the next target multiple — greedy sequential packing, so a
    * shard overshoots by at most its last doc (never splits a doc).
    * Deterministic: the cut depends only on (order, token counts), via
    * the [[runningTotal]] two-phase scheme — no SinglePartition window.
    * Callers choose the order by pre-sorting ids (curriculum order,
    * source grouping, [[globalPosition]] shuffle order, …); id ASC here.
    * Emits the per-shard MANIFEST (what an orchestrator actually
    * consumes): (shard_id, n_docs, n_tokens, first_doc, last_doc). */
  def shardPlan(
      df: DataFrame, idCol: Column, tokensCol: Column,
      targetTokens: Long): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be positive, got $targetTokens")
    val measured = df.select(idCol.as("_id"), tokensCol.cast("long").as("_tok"))
    runningTotal(measured, col("_tok"), "_cum", col("_id").asc)
      .withColumn("shard_id",
        floor((col("_cum") - col("_tok")) / targetTokens).cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("n_tokens"),
        min(col("_id")).as("first_doc"),
        max(col("_id")).as("last_doc"))
  }

  /** Length-sorted training batches: rank rows by (length, id), cut into
    * fixed-size batches, and report per-batch padding waste
    * (`n·max(len) − Σlen` — the tokens a dense [batch, max_len] tensor
    * pads with). Length-grouped batching is THE standard fix for padding
    * blow-up in LLM fine-tuning loaders (near-uniform lengths within a
    * batch ⇒ waste ≈ 0; arrival-order batching wastes up to the corpus
    * length spread). The global sort rank uses [[globalPosition]]'s
    * two-phase scheme — no SinglePartition window — and everything after
    * it is one keyed aggregation on batch_id; all stats are exact
    * integers. */
  def lengthBatches(
      df: DataFrame, lenCol: Column, idCol: Column,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val measured =
      df.select(idCol.as("_id"), lenCol.cast("long").as("_len"))
    globalPosition(measured, "_pos", col("_len").asc, col("_id").asc)
      .withColumn("batch_id", ((col("_pos") - 1L) / batchSize).cast("long"))
      .groupBy("batch_id")
      .agg(
        count(lit(1)).as("n_rows"),
        max("_len").as("max_len"),
        sum("_len").as("sum_len"))
      .withColumn("padding_waste",
        col("n_rows") * col("max_len") - col("sum_len"))
  }

  /** The whole preprocessing pipeline as ONE declarative plan — the
    * flagship composition of the LLM-data track: Gopher quality gates →
    * exact-duplicate canonical election → eval-set decontamination →
    * balanced per-language cap, emitting a full per-document DECISION
    * RECORD (every gate's verdict plus the final keep) rather than just
    * the survivors. The audit shape matters in production: "why did doc
    * X get dropped" must be answerable without re-running anything.
    *
    * Every stage is an already-proven operator
    * ([[graft.ops.TextAnalysis.gopherRules]],
    * [[graft.ops.Dedup.contaminationReport]], the dd1 min-id window,
    * [[balancedDownsample]]'s rank-cap) — the point here is that they
    * compose into one lazy plan Catalyst optimizes END TO END: no stage
    * materializes an intermediate corpus, the contamination join is
    * gram-keyed, the dup window is text-keyed, the balance window is
    * language-keyed. (The physical plan re-reads the parquet for the
    * gram and balance branches — scans are cheap and column-pruned; the
    * thing avoided is a driver-side staged workflow with materialized
    * intermediate tables.) Deterministic throughout → oracle
    * hash-exact. */
  def corpusPipeline(
      docs: DataFrame, isEval: Column, nGram: Int, minWords: Int,
      contThreshold: Double = 0.1): DataFrame = {
    val train = docs.filter(!isEval)
    val eval_ = docs.filter(isEval)
    val quality = train.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), col("text"),
      graft.ops.TextAnalysis.gopherRules(col("text"), minWords)
        .last.as("pass_quality")) // .last IS the conjunction column
    val flagged = quality
      .withColumn("is_canonical",
        col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val cont = graft.ops.Dedup.contaminationReport(
      train, eval_, col("doc_id"), col("text"), nGram, contThreshold)
      .select(col("doc_id"), col("flagged").as("_cont"))
    val joined = flagged.join(cont, Seq("doc_id"), "left_outer")
      .withColumn("is_contaminated", coalesce(col("_cont"), lit(false)))
    val elig = joined
      .filter(col("pass_quality") && col("is_canonical") &&
        !col("is_contaminated"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val target = elig.groupBy("lang").agg(count(lit(1)).as("_n"))
      .agg(min("_n").as("_target"))
    val bal = elig
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .crossJoin(broadcast(target))
      .select(col("doc_id"), (col("_rk") <= col("_target")).as("_kept"))
    joined.join(bal, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("pass_quality"), col("is_canonical"), col("is_contaminated"),
        coalesce(col("_kept"), lit(false)).as("kept_balance"),
        (col("pass_quality") && col("is_canonical") &&
          !col("is_contaminated") && coalesce(col("_kept"), lit(false)))
          .as("final_keep"))
  }

  /** Balanced downsampling: cap every stratum at the size of the
    * SMALLEST stratum, keeping the first `target` rows per stratum under
    * a caller-chosen deterministic priority order — the class-balancing
    * step before training a classifier (language-ID, quality) on skewed
    * data, where the majority class otherwise swamps the loss. The
    * deterministic order makes the keep-set auditable and reproducible
    * (pass a quality ranking to keep the BEST of each class, or an id
    * order for an unbiased-as-the-ids slice; salted-hash balancing is
    * [[mixtureSamplePortable]]'s territory).
    *
    * Scale shape: one keyed count to find the minimum (broadcast back as
    * a 1-row frame), one rank window partitioned BY STRATUM — state is
    * one stratum's rows, never a global order. Deterministic →
    * oracle hash-exact. */
  def balancedDownsample(
      df: DataFrame, stratum: Column, order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "need a deterministic priority order")
    val tagged = df.withColumn("_s", stratum)
    val target = tagged.groupBy("_s").agg(count(lit(1)).as("_n"))
      .agg(min("_n").as("_target"))
    val w = Window.partitionBy(col("_s")).orderBy(order: _*)
    tagged.withColumn("_rk", row_number().over(w))
      .crossJoin(broadcast(target))
      .filter(col("_rk") <= col("_target"))
      .drop("_s", "_rk", "_target")
  }

  /** Population Stability Index between a reference split and a
    * comparison split of the same column — THE production drift monitor
    * for a feature/quality score between two corpus snapshots or between
    * train and serve. Buckets are the reference split's exact interpolated
    * quantiles (drift is measured against where the REFERENCE mass sat,
    * the standard PSI construction), and each bucket row carries both
    * shares plus its additive term (p_ref − p_cmp)·ln(p_ref/p_cmp);
    * PSI = Σ terms (rule of thumb: < 0.1 stable, > 0.25 shifted). A
    * bucket empty on either side emits a null term — the honest
    * "ln 0 undefined" answer, not an epsilon fudge.
    *
    * Scale shape: one exact-percentile aggregation over the reference,
    * edges broadcast as a 1-row frame, bucket assignment a scan-local
    * fold over ≤ nBuckets−1 edges, then one keyed count per (bucket,
    * split) — scan-shaped at any corpus size. Counts are exact longs,
    * shares exact-integer ratios, and each term is one fixed double
    * expression per row (never a cross-row float sum) → oracle
    * hash-exact. */
  def psiDrift(
      df: DataFrame, value: Column, isRef: Column,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"need >= 2 buckets, got $nBuckets")
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets)
    val edges = df.filter(isRef)
      .agg(percentile(value, lit(probes.toArray)).as("_edges"))
    val bucketed = df
      .select(value.cast("double").as("_v"), isRef.as("_ref"))
      .crossJoin(broadcast(edges))
      .withColumn("bucket",
        aggregate(col("_edges"), lit(0),
          (acc, e) => acc + when(col("_v") > e, 1).otherwise(0)))
    val counts = bucketed.groupBy("bucket").agg(
      sum(when(col("_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("_ref"), 0L).otherwise(1L)).as("n_cmp"))
    val totals = counts.agg(
      sum("n_ref").as("_t_ref"), sum("n_cmp").as("_t_cmp"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_ref", col("n_ref").cast("double") / col("_t_ref"))
      .withColumn("p_cmp", col("n_cmp").cast("double") / col("_t_cmp"))
      .select(col("bucket"), col("n_ref"), col("n_cmp"),
        col("p_ref"), col("p_cmp"),
        when(col("n_ref") > 0L && col("n_cmp") > 0L,
          (col("p_ref") - col("p_cmp")) * log(col("p_ref") / col("p_cmp")))
          .as("psi_term"))
  }

  // ---- BPE tokenizer training ------------------------------------------

  /** Frequency-weighted word table: (word, freq) over whitespace tokens,
    * single-char words dropped (nothing to merge). The shuffle keys on
    * the word — at 100 TB this is the standard first pass of every
    * tokenizer trainer (the corpus collapses to its vocabulary). */
  def wordFrequencies(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(split(lower(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** One BPE iteration's merge statistics: adjacent character-pair counts
    * weighted by word frequency (Sennrich et al. 2016 pick the argmax of
    * exactly this table each round). Pair generation is a scan-local
    * array expression over the (vocabulary-sized) word table; the only
    * shuffles key on word then pair. Output: (pair, pair_count) top-k by
    * count, ties lexicographic. */
  def bpeMergePairs(
      docs: DataFrame, textCol: Column, topK: Int = 20): DataFrame = {
    val wf = wordFrequencies(docs, textCol)
    wf.select(explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(topK)
  }

  /** BPE training: `merges` rounds of count-pairs → pick argmax → rewrite
    * every word's symbol sequence with the merged token (greedy
    * left-to-right, the reference BPE semantics). The corpus collapses
    * to the word table once; each round is one pair aggregation plus a
    * scan-local fold that rewrites symbol arrays — only the chosen merge
    * (two strings) crosses the driver per round, the argmax of a
    * k-row aggregate (bounded driver read, same contract as `kmeans`).
    * Returns the merge list in order. `appliedVocab` exposes the
    * resulting symbol table for inspection/spec. */
  def bpeTrain(
      docs: DataFrame, textCol: Column, merges: Int): Seq[(String, String)] = {
    var words = wordFrequencies(docs, textCol)
      .select(split(col("word"), "").as("syms"), col("freq"))
      .localCheckpoint(eager = false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 1 to merges) {
      val top = words
        .select(explode(transform(
            sequence(lit(0), size(col("syms")) - 2),
            i => struct(
              get(col("syms"), i).as("l"),
              get(col("syms"), i + 1).as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) return out.toSeq
      val (l, r) = (top.head.getString(0), top.head.getString(1))
      out += ((l, r))
      words = words
        .withColumn("syms", mergeAdjacent(col("syms"), l, r))
        .localCheckpoint(eager = false) // truncate the per-round lineage
    }
    out.toSeq
  }

  /** Greedy left-to-right merge of adjacent (l, r) symbol occurrences —
    * a sequential fold, exactly the reference BPE apply rule (overlaps
    * consume left-first: a a a with merge (a,a) → [aa, a]). */
  private def mergeAdjacent(syms: Column, l: String, r: String): Column =
    // get() (0-based, null out of bounds) keeps the empty-accumulator
    // probe ANSI-safe; null === l is null -> when falls through to append
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** The vocabulary after applying `bpeTrain`'s merges: distinct symbols
    * with frequency-weighted counts. */
  def appliedVocab(
      docs: DataFrame, textCol: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = merges.foldLeft(split(col("word"), "")) {
      case (c, (l, r)) => mergeAdjacent(c, l, r)
    }
    wordFrequencies(docs, textCol)
      .select(explode(syms).as("symbol"), col("freq"))
      .groupBy("symbol").agg(sum(col("freq")).as("n"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how target-like its hashed-bigram bag is,
    * w(doc) = Σ_occurrences log p_target(b)/p_raw(b), under two add-one-
    * smoothed bag-of-hashed-bigram models — the standard pretraining
    * data-selection lever (fit cheap bag models on a trusted target
    * corpus and the raw crawl, weight raw docs, resample by weight).
    *
    * Engine-exact re-derivation of both halves:
    *  - features are md5-prefix buckets (substr(md5(bigram), 1, 4):
    *    65 536 virtual buckets) — md5 is the same function in every
    *    engine, unlike xxhash64 (same portability argument as
    *    [[assignSplitPortable]]);
    *  - the per-bucket log-ratio is replaced by its (1,1)-Padé
    *    surrogate 2(r−1)/(r+1), r the smoothed probability ratio:
    *    strictly monotone in r, equal to ln r to third order around
    *    r = 1 (hashed-bucket ratios concentrate there), and composed
    *    ONLY of correctly-rounded IEEE ops — so every engine produces
    *    the identical double, where ln drifts in the last ulp across
    *    libm implementations (the same family as the rational idf in
    *    TextAnalysis.bm25Search);
    *  - per-doc summation quantizes each term to nano-units
    *    (floor(w·1e9) as BIGINT) and sums exact integers — order-
    *    independent, unlike double summation, and engine-exact, unlike
    *    decimal casts of arbitrary doubles (Spark rounds half-up on the
    *    shortest repr; DuckDB truncates x·10^scale).
    *
    * Docs with fewer than two tokens have no bigram features and no row.
    *
    * Scale shape: the bucket-count model tables are ≤ 65 536 rows —
    * broadcast; corpus totals are one row — broadcast; the only corpus-
    * sized shuffles are the bucket groupBys and the per-doc agg. At
    * 100 TB the target model is built once per target snapshot and the
    * scoring pass is scan + broadcast-join + one keyed agg. */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val buckets = 65536L // 16-bit md5 prefix
    val occ = docs.select(
        col(idCol).as("doc_id"), isTarget.as("is_target"),
        explode(TextAnalysis.wordNgrams(
          TextAnalysis.tokens(col(textCol)), 2)).as("bg"))
      .withColumn("b", substring(md5(col("bg").cast("binary")), 1, 4))
      .select("doc_id", "is_target", "b")
    val raw = occ.groupBy("b").agg(count(lit(1)).as("c_r"))
    val tgt = occ.filter(col("is_target"))
      .groupBy("b").agg(count(lit(1)).as("c_t"))
    val model = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("c_t"))
    val totals = model.agg(
      sum(col("c_r")).as("nr"), sum(col("c_t")).as("nt"))
    // smoothed ratio r = p_t(b)/p_r(b): numerator and denominator are
    // exact integer products (< 2^53 — counts and totals are corpus
    // bigram occurrences), so the single division is the only rounding
    val r = ((col("c_t") + lit(1L)).cast("double") *
             (col("nr") + lit(buckets)).cast("double")) /
            ((col("c_r") + lit(1L)).cast("double") *
             (col("nt") + lit(buckets)).cast("double"))
    val w = lit(2.0) * (r - lit(1.0)) / (r + lit(1.0))
    occ.select("doc_id", "b")
      .join(broadcast(model), "b")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), floor(w * lit(1e9)).as("w_nano"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        sum(col("w_nano")).as("w_nano_sum"))
      .withColumn("dsir_weight",
        col("w_nano_sum").cast("double") / lit(1e9))
  }

  /** Data-constrained epoch schedule (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": repeating data up to ~4 epochs
    * costs little vs fresh tokens; beyond that returns decay fast): given
    * per-source token inventories and a total training-token budget,
    * allocate each source a √-share target ([[temperatureMixture]]'s
    * α = ½ lever — upweights small/rare sources) and cap repetition at
    * `maxEpochs`. Emits the planning record per source: inventory,
    * target, epochs implied, achieved tokens after the cap, and the
    * unfillable deficit — the "can this mixture even be trained at this
    * budget" audit that precedes any 100 TB run.
    *
    * All engine-exact: integer inventories, micro-unit sqrt shares
    * (exact BIGINT sums), floor targets, the cap as an exact integer
    * min(target, maxEpochs·n) — maxEpochs·n is an exact double product
    * for integer maxEpochs-scaled values, floored identically anywhere.
    * Scale shape: one keyed agg to the #sources-row table; everything
    * after is arithmetic on that bounded table. */
  def epochSchedule(
      docs: DataFrame, sourceCol: String, tokenCol: Column,
      budgetTokens: Column, maxEpochs: Double = 4.0): DataFrame = {
    require(maxEpochs > 0, "maxEpochs must be positive")
    val counts = docs.groupBy(sourceCol)
      .agg(sum(tokenCol).as("n_tokens"))
      .withColumn("q_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)))
    val tot = counts.agg(sum(col("q_micro")).as("sq_micro"),
      budgetTokens.as("budget"))
    counts.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        floor(col("q_micro").cast("double") / col("sq_micro").cast("double") *
          col("budget").cast("double")))
      .withColumn("cap_tokens",
        floor(lit(maxEpochs) * col("n_tokens").cast("double")))
      .withColumn("achieved_tokens",
        least(col("target_tokens"), col("cap_tokens")))
      .withColumn("deficit_tokens",
        col("target_tokens") - col("achieved_tokens"))
      .withColumn("epochs",
        col("achieved_tokens").cast("double") /
          col("n_tokens").cast("double"))
      .select(sourceCol, "n_tokens", "target_tokens", "achieved_tokens",
        "deficit_tokens", "epochs")
  }

  /** Temperature-scaled source mixture — the multilingual / data-mixing
    * lever of mT5 (Xue et al. 2021) and XLM-R (Conneau et al. 2020):
    * sample source s with probability ∝ n_s^α, α < 1 upweighting small
    * sources. Each source is deterministically downsampled to
    * t_s = ⌊budget · n_s^α / Σ_t n_t^α⌋ rows via the portable
    * md5-Bernoulli rule ([[stratifiedSamplePortable]]'s mechanics).
    *
    * α is FIXED at ½ because sqrt is an IEEE correctly-rounded operation
    * (pow/exp/ln are not): every derived quantity — per-source share,
    * target count, keep fraction, 60-bit hash threshold — reproduces
    * bit-identically on any engine, so the sample survives an engine
    * migration and is oracle-checkable outright. The per-source sqrt
    * terms are quantized to micro-units and summed as exact integers
    * (order-independence; same mechanics as [[dsirWeights]]).
    *
    * The keep test compares the first 15 hex digits of md5(salt‖key) —
    * a uniform 60-bit draw — against ⌊f_s·2^60⌋ rendered as a 15-digit
    * zero-padded hex literal: equal-length lowercase hex compares
    * lexicographically exactly as the integers it encodes. Sources whose
    * target meets or exceeds their count are kept whole.
    *
    * Scale shape: the per-source share table is #sources rows —
    * broadcast; the keep test is a pure scan-local expression on the
    * fact side. No fact shuffle at all. */
  def temperatureMixture(
      df: DataFrame, sourceCol: String, keyCol: Column, salt: String,
      budgetFrac: Double = 0.5): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1.0, "budgetFrac in (0, 1]")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n_s"))
      .withColumn("q_micro",
        floor(sqrt(col("n_s").cast("double")) * lit(1e6)))
    val tot = counts.agg(sum(col("q_micro")).as("sq_micro"),
      sum(col("n_s")).as("n_total"))
    val shares = counts.crossJoin(broadcast(tot))
      .withColumn("budget",
        floor(col("n_total").cast("double") * lit(budgetFrac)))
      .withColumn("t_s",
        floor(col("q_micro").cast("double") / col("sq_micro").cast("double") *
          col("budget").cast("double")))
      .withColumn("f_s",
        col("t_s").cast("double") / col("n_s").cast("double"))
      .withColumn("_bound", format_string("%015x",
        floor(col("f_s") * lit(1152921504606846976.0 /* 2^60 */))))
      .select(col(sourceCol), col("t_s").as("_t_s"), col("n_s").as("_n_s"),
        col("_bound"))
    val h = substring(
      md5(concat(lit(salt), keyCol.cast("string")).cast("binary")), 1, 15)
    df.join(broadcast(shares), Seq(sourceCol))
      .filter(col("_t_s") >= col("_n_s") || h < col("_bound"))
      .drop("_t_s", "_n_s", "_bound")
  }

  /** Per-source document cap (domain balancing — the RefinedWeb/C4 move
    * against crawl head domains): within each source, rank docs by
    * (quality desc, id asc) and keep only the top `cap`. Unlike the
    * share-proportional mixtures (pl7/pl15/pl24) this is an absolute
    * ceiling — the tool for "no single domain may contribute more than
    * N docs no matter how big it is", which proportional reweighting
    * cannot express (a 10^9-page domain still dominates any fixed
    * fraction). Emits the per-doc decision record (doc_id, source,
    * src_rank, is_kept) so the drop is auditable, joinable, and
    * reversible — the same contract as dd19/dd25.
    *
    * Scale shape: one window keyed on source (the shuffle is by source;
    * skewed head domains are exactly the rows being capped — at 100 TB
    * pre-aggregate |source| counts and short-circuit sources under the
    * cap before the window, or salt the rank's first phase per the
    * SCALE.md skew rule). No driver state, no collect. */
  def sourceCaps(
      df: DataFrame, idCol: Column, sourceCol: Column,
      qualityCol: Column, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = Window.partitionBy(col("_src"))
      .orderBy(col("_q").desc, col("_id").asc)
    df.select(idCol.as("_id"), sourceCol.as("_src"), qualityCol.as("_q"))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .select(col("_id").as("doc_id"), col("_src").as("source"),
        col("src_rank"), (col("src_rank") <= cap).as("is_kept"))
  }
}
