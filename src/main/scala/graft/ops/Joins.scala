package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operator library (SURVEY.md §2c).
  *
  * The reference implements exactly one join algorithm: single-threaded
  * build-right hash join with inner semantics regardless of the requested
  * type (Microbase.scala:686-719), plus a cartesian fallback (M:688-695).
  * Spark-first, all join types are declarative and Catalyst/AQE pick the
  * physical algorithm (broadcast-hash, shuffled-hash, sort-merge) from
  * statistics at plan or runtime — which is the only approach that holds at
  * 100 TB, where the build side must be chosen by size, skew handled by AQE
  * skew-join splitting, and small dims broadcast to avoid shuffling the
  * fact table at all.
  */
object Joins {

  /** J1 — equi inner join (M:686-719). */
  def inner(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "inner")

  /** J1 with an explicit broadcast hint on the (small) right side: at scale
    * this turns a fact-dim join into a map-side join with zero shuffle of
    * the fact table. AQE would usually do this from stats; the hint makes
    * it deterministic for known-small dims (region/nation/supplier). */
  def broadcastInner(fact: DataFrame, dim: DataFrame, cond: Column): DataFrame =
    fact.join(broadcast(dim), cond, "inner")

  /** J2 — cartesian product (M:688-695). */
  def cross(l: DataFrame, r: DataFrame): DataFrame = l.crossJoin(r)

  /** Beyond-reference join types (SURVEY §2c "not implemented"): outer /
    * semi / anti — Spark built-ins, one string apart. */
  def left(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "left_outer")
  def right(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "right_outer")
  def full(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "full_outer")
  /** EXISTS — semi join keeps left columns only, stops at first match. */
  def semi(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "left_semi")
  /** NOT EXISTS — anti join. */
  def anti(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond, "left_anti")

  /** Theta (non-equi) join — the reference can only leave these as a
    * residual filter above a cartesian product (SURVEY §2c). Spark plans
    * BroadcastNestedLoopJoin when one side is small. */
  def theta(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    l.join(r, cond)

  /** Range join (point-in-interval) via bin bucketing — the scale path
    * for `point BETWEEN start AND end` joins, which Spark otherwise plans
    * as a nested-loop/cartesian scan (O(n·m) — the #1 silent killer for
    * time-interval joins at 100 TB).
    *
    * Bin trick: pick `binSize` ≈ the typical interval length. Each left
    * point keys on its single bin `floor(point / binSize)`; each right
    * interval explodes into the bins it covers (≈ len/binSize + 1 rows).
    * The join is then a plain EQUI join on the bin key (shuffle/broadcast
    * on bins — never the pair space) with the exact BETWEEN as a residual
    * filter. No dedup pass is needed: a (point, interval) pair meets in
    * exactly one bin — the point's own.
    *
    * Monotonicity makes the bin math safe: point ∈ [start, end] implies
    * bin(point) ∈ [bin(start), bin(end)] for any positive binSize, so no
    * qualifying pair is missed. Columns are numeric (cast timestamps with
    * `unix_micros`); left/right column names must not collide. */
  def rangeJoin(
      left: DataFrame, right: DataFrame,
      point: Column, start: Column, end: Column, binSize: Long): DataFrame = {
    require(binSize > 0, s"binSize must be positive, got $binSize")
    val l = left.withColumn("_rj_bin", floor(point / binSize).cast("long"))
    val r = right.withColumn("_rj_bin",
      explode(sequence(floor(start / binSize).cast("long"),
                       floor(end / binSize).cast("long"))))
    l.join(r, l("_rj_bin") === r("_rj_bin") && point.between(start, end))
      .drop("_rj_bin")
  }

  /** J4 — self join; Spark's DeduplicateRelations handles exprId clashes
    * that the reference re-aliases by hand (M:124-146). Callers alias both
    * sides for readable conditions. */
  def self(df: DataFrame, leftName: String, rightName: String, cond: Column): DataFrame =
    df.alias(leftName).join(df.alias(rightName), cond)

  /** Native as-of join (backward, inclusive): for every left row, the
    * single right row with equal keys and the greatest right time ≤ the
    * left time (ties broken by `rightTieBreak` ascending — greatest wins);
    * unmatched left rows keep null right columns.
    *
    * This is the custom-operator path (SURVEY §2c superset): a
    * `graft.plans.AsOfJoin` logical node planned by
    * `graft.plans.AsOfJoinStrategy` into a sort-merge physical operator —
    * one shuffle per side on the keys, one forward merge pass per
    * partition, O(|l|+|r|) with a single buffered row. The compositional
    * form (`j12`: equi join → time filter → row_number rank) materializes
    * every (left, earlier-right) pair per key before rank-filtering; at
    * 100 TB that intermediate is the whole history crossed with itself
    * per key. Results are identical (spec-asserted).
    *
    * The strategy is registered idempotently on the call's session, so
    * this works on any session, however it was built. */
  def asOf(
      left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val spark = left.sparkSession
    GraftBridge.registerStrategy(spark, graft.plans.AsOfJoinStrategy)
    // Self-join safety: re-alias the right side so its attribute ids are
    // fresh (the analyzer's DeduplicateRelations only rewrites built-in
    // Join nodes).
    val rightFresh = right.select(right.columns.map(c => right(c).as(c)).toSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightFresh.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => caseInsensitiveResolution(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val lKeyAttrs = keys.map(k => resolve(lPlan, k._1))
    val rKeyAttrs = keys.map(k => resolve(rPlan, k._2))
    val lTimeAttr = resolve(lPlan, leftTime)
    val rTimeAttr = resolve(rPlan, rightTime)
    // The physical merge compares right-side rows with orderings built from
    // the LEFT types; a silent type mismatch would read the wrong bytes, so
    // fail analysis-style up front (callers cast explicitly — no implicit
    // coercion that could change as-of semantics, e.g. date vs timestamp).
    (lKeyAttrs zip rKeyAttrs).foreach { case (la, ra) =>
      require(la.dataType == ra.dataType,
        s"as-of key type mismatch: ${la.name}: ${la.dataType.sql} vs ${ra.name}: ${ra.dataType.sql}")
    }
    require(lTimeAttr.dataType == rTimeAttr.dataType,
      s"as-of time type mismatch: ${lTimeAttr.name}: ${lTimeAttr.dataType.sql} " +
        s"vs ${rTimeAttr.name}: ${rTimeAttr.dataType.sql}")
    GraftBridge.ofRows(spark, graft.plans.AsOfJoin(
      lPlan, rPlan,
      lKeyAttrs, rKeyAttrs, lTimeAttr, rTimeAttr,
      rightTieBreak.map(resolve(rPlan, _))))
  }

  /** Forward as-of join with optional tolerance: for every left row, the
    * single right row with equal keys and the SMALLEST right time ≥ the
    * left time (inclusive); with `toleranceMicros`, a match further than
    * the tolerance is nulled out (the row survives with null right
    * columns, like pandas `merge_asof(tolerance=...)`). Ties on the right
    * time pick the GREATEST `rightTieBreak`.
    *
    * Implemented on the NATIVE backward as-of ([[asOf]]) over a negated
    * epoch-micros time axis — time reversal turns "greatest ≤" into
    * "smallest ≥", so the same one-shuffle sort-merge physical operator
    * (AsOfJoinExec) serves both directions; no second plan node to
    * maintain. Both time columns must be timestamps. The tolerance is a
    * post-filter, which is exact: if the nearest forward match is beyond
    * the tolerance, no in-tolerance match exists.
    *
    * The right side is renamed to positional temp names for the join and
    * restored at the end: the post-join tolerance expressions must address
    * RIGHT columns even when left and right share names (both time
    * columns named `ts` is the most common as-of shape) — a bare
    * `col("ts")` would be ambiguous there, and `withColumn("ts", …)`
    * would collapse both sides' columns into one. Shared names survive
    * into the output as duplicates, exactly like Spark's own join. */
  def asOfForward(
      left: DataFrame, right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None): DataFrame = {
    val lNeg = "__asof_lneg"
    val rCols = right.columns.toSeq
    val rTmpName = rCols.zipWithIndex.map { case (c, i) => c -> s"__asof_r$i" }
    def rTmp(name: String): String =
      rTmpName.collectFirst {
        case (c, t) if org.apache.spark.sql.catalyst.analysis
          .caseInsensitiveResolution(c, name) => t
      }.getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${rCols.mkString(", ")}"))
    val rRenamed = right.select(
      rTmpName.map { case (c, t) => right(c).as(t) }: _*)
    val l2 = left.withColumn(lNeg, -unix_micros(col(leftTime)))
    val r2 = rRenamed.withColumn(rTmp(rightTime) + "_neg",
      -unix_micros(col(rTmp(rightTime))))
    val rNeg = rTmp(rightTime) + "_neg"
    val joined = asOf(l2, r2, keys.map { case (lk, rk) => lk -> rTmp(rk) },
      lNeg, rNeg, rightTieBreak.map(rTmp))
    val result = toleranceMicros match {
      case None => joined
      case Some(t) =>
        // evaluate the tolerance BEFORE nulling any right column the
        // predicate reads (fold order would otherwise see nulled inputs)
        val rT = col(rTmp(rightTime))
        val within = rT.isNull ||
          (unix_micros(rT) - unix_micros(col(leftTime))) <= t
        val marked = joined.withColumn("__asof_within", within)
        rCols.foldLeft(marked) { (df, c) =>
          df.withColumn(rTmp(c), when(col("__asof_within"), col(rTmp(c))))
        }.drop("__asof_within")
    }
    // restore the right side's original names (left names are unique in
    // the joined frame — the right side is temp-named — so left columns
    // resolve unambiguously); lNeg/rNeg drop by omission
    result.select(
      left.columns.toSeq.map(c => result(c)) ++
      rCols.map(c => col(rTmp(c)).as(c)): _*)
  }

  /** Salted equi join for skewed keys: the skewed (left/fact) side gets a
    * deterministic salt in [0, salt), the right side is replicated `salt`
    * ways, and the join key becomes (key, salt) — splitting each hot key's
    * rows across `salt` reducers. AQE's skew-join handles moderate skew
    * automatically; explicit salting is the tool when one key dominates a
    * whole executor's memory at 100 TB. Semantically identical to
    * `l.join(r, key)` (spec-checked). Right side should be the smaller
    * relation — it is replicated `salt` times.
    *
    * CAVEAT: the salt is a content hash of the whole left row, so
    * BYTE-IDENTICAL duplicate rows of a hot key all hash to the SAME
    * salt bucket — if the skew comes from verbatim duplicates (the
    * adversarial case for exactly this operator), the hot bucket is as
    * skewed as the unsalted join. The trade is exact reproducibility.
    * When rows may be identical and reproducibility of the intermediate
    * bucketing is not required, use [[saltedUniform]] (spec-checked on a
    * planted identical-row hot key). */
  def salted(
      l: DataFrame, r: DataFrame,
      leftKey: String, rightKey: String,
      salt: Int = 8): DataFrame = {
    // deterministic salt from the row content keeps the operator
    // reproducible (no rand()) while still spreading a hot key: hash all
    // left columns, mod salt.
    val saltedL = l.withColumn("__salt",
      pmod(hash(l.columns.map(col): _*), lit(salt)))
    join2(saltedL, r, salt, leftKey, rightKey)
  }

  /** Like [[salted]], but the salt is a partition-local row counter
    * (`monotonically_increasing_id mod salt`), which spreads a hot key's
    * rows round-robin across buckets even when they are byte-identical.
    * The join RESULT is still exactly `l.join(r, key)`; only the
    * intermediate bucket assignment depends on the physical layout of
    * `l` at execution time, so it is not stable across repartitions —
    * prefer [[salted]] when the lineage must replay bit-identically. */
  def saltedUniform(
      l: DataFrame, r: DataFrame,
      leftKey: String, rightKey: String,
      salt: Int = 8): DataFrame = {
    val saltedL = l.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salt.toLong)).cast("int"))
    join2(saltedL, r, salt, leftKey, rightKey)
  }

  private def join2(
      saltedL: DataFrame, r: DataFrame, salt: Int,
      leftKey: String, rightKey: String): DataFrame = {
    val saltedR = r.withColumn("__salt",
      explode(array((0 until salt).map(lit(_)): _*)))
    saltedL.join(saltedR,
        saltedL(leftKey) === saltedR(rightKey) &&
        saltedL("__salt") === saltedR("__salt"))
      .drop("__salt")
  }
}
