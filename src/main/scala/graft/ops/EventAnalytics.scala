package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.OracleSafe

/** Batch behavioral analytics over an event log (user_id, ts, event_type,
  * value) — the product-analytics staples every warehouse engine ships
  * (funnels, cohort retention, anomaly flags). The reference has nothing
  * here (beyond-reference track); these are the batch duals of the
  * §2g streaming slice, built to the same cross-engine-exact rules:
  * integer ratios and exact-decimal sums only, no engine-specific
  * date/float behavior in compared output.
  *
  * Scale shape (all three): every shuffle keys on user_id (or a small
  * derived key); per-user work is a window over that user's own rows.
  * Nothing collects, nothing is quadratic, no global single-partition
  * window anywhere (PlanSpec-style guarantee: the frames are all
  * PARTITION BY user).
  */
object EventAnalytics {

  /** Ordered-funnel analysis: how many users complete each prefix of
    * `steps`, where step i+1 must occur STRICTLY AFTER the user's
    * earliest completion of step i (the classic "earliest-event chain"
    * funnel — immune to event multiplicity, deterministic).
    *
    * Output: (stage INT 1-based, step, users BIGINT), one row per stage.
    * Implementation is stage-by-stage: filter to the step's events,
    * semi-join on the previous stage's per-user completion time, take
    * min(ts). Each stage is one keyed aggregation + one equi join on
    * user — at 100 TB this is k passes that each shuffle only the rows
    * of one event type, and AQE broadcasts the (distinct-user-sized)
    * completion frame when it fits. */
  def funnel(
      events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxGapUs: Long = Long.MaxValue): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGapUs > 0, s"maxGapUs must be positive, got $maxGapUs")
    // per-stage per-user earliest completion times, chained; with a
    // finite maxGapUs each stage must also land within the conversion
    // window after the previous stage's earliest completion — the
    // standard first-touch windowed funnel (greedy-earliest anchoring,
    // NOT maximal matching over all event combinations: the analytics
    // convention, and the only deterministic one)
    val completions: Seq[DataFrame] = steps.zipWithIndex
      .foldLeft(Vector.empty[DataFrame]) { case (acc, (step, i)) =>
        val stepEvents = events.filter(col(typeCol) === step)
          .select(col(userCol).as("u"), col(tsCol).as("t"))
        val reached =
          if (i == 0) stepEvents
          else {
            val chained = stepEvents.join(
              acc.last.select(col("u"), col("t").as("prev_t")), Seq("u"))
              .filter(col("t") > col("prev_t"))
            val bounded =
              if (maxGapUs == Long.MaxValue) chained
              else chained.filter(
                unix_micros(col("t")) - unix_micros(col("prev_t")) <=
                  maxGapUs)
            bounded.select(col("u"), col("t"))
          }
        // pin each stage's (distinct-user-sized) completion frame:
        // stage i+1 joins on it AND the final union counts it, and the
        // union's branches do NOT share the chained subplans (plan-
        // verified: 1 of 22 exchanges reused — AQE re-plans each branch)
        // — so without the pin stage i's filter+agg re-ran once per later
        // stage: ev1's plan scans the event log 5× instead of once.
        acc :+ Pipeline.pin(reached.groupBy("u").agg(min(col("t")).as("t")))
      }
    val counts = completions.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage"), lit(steps(i)).as("step"),
          col("users"))
    }
    counts.reduce(_.union(_)).orderBy("stage")
  }

  /** Cohort retention matrix: users grouped by the week of their first
    * event (cohort), counted in each later week they were active.
    * Weeks are integer offsets from the corpus's earliest event day —
    * floor(days-since-epoch-min / 7) — NOT calendar weeks, so no
    * engine-specific week-start/ISO rules can leak into the compared
    * output. Output: (cohort_week INT, week_offset INT, users BIGINT).
    *
    * Scale shape: min-date is a one-row broadcast; the activity distinct
    * shuffles on (user, week), then the per-user cohort week is ONE
    * whole-partition min window (the groupBy-then-join-back alternative
    * re-derived the weekly frame and shuffled it twice more); the final
    * rollup keys on the (cohort, offset) pair — cardinality weeks².
    * Null user ids are excluded explicitly — the join-back form dropped
    * them as a side effect of null never equi-matching, and a window
    * would silently resurrect them as a phantom cohort. */
  def retentionCohorts(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = datediff(col(tsCol).cast("date"), lit("1970-01-01").cast("date"))
    val base = events.filter(col(userCol).isNotNull)
      .select(col(userCol).as("u"), day.as("d"))
    val minDay = base.agg(min(col("d")).as("d0"))
    val weekly = base.crossJoin(broadcast(minDay))
      .select(col("u"), floor((col("d") - col("d0")) / 7).cast("int").as("w"))
      .distinct() // one row per (user, active week)
    weekly
      .withColumn("cohort_week",
        min(col("w")).over(Window.partitionBy(col("u"))))
      .groupBy(col("cohort_week"), (col("w") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** Trailing-window spike detection: flag events whose value exceeds
    * `k ×` the user's trailing mean over the previous `lookback` events
    * (ordered by ts, id-tiebroken). The trailing mean uses the exact
    * decimal-sum policy (OracleSafe) so it is order-independent and
    * bit-identical on any cluster or engine; the flag is a comparison of
    * two deterministic doubles. Events with fewer than `minPrev` prior
    * events get a null mean and false flag (cold start).
    *
    * Output: (id, user, ts, value, n_prev, trailing_mean, is_spike).
    * Scale shape: one window partitioned by user — state is bounded by
    * `lookback` rows per user, shuffle keys on user_id. */
  def trailingSpikes(
      events: DataFrame, idCol: String, userCol: String, tsCol: String,
      valCol: String, lookback: Int = 10, minPrev: Int = 3,
      k: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(-lookback, -1)
    val nPrev = count(lit(1)).over(w)
    val meanPrev = (sum(OracleSafe.dec(col(valCol), 6)).over(w).cast("double") /
      nPrev.cast("double"))
    events.select(col(idCol), col(userCol), col(tsCol), col(valCol))
      .withColumn("n_prev", nPrev)
      .withColumn("trailing_mean",
        when(col("n_prev") >= minPrev, meanPrev))
      .withColumn("is_spike",
        coalesce(col(valCol) > col("trailing_mean") * k, lit(false)))
  }

  /** Bot-likeness via inter-event timing regularity: per user, the
    * coefficient of variation of the gaps between consecutive events —
    * humans are bursty (CV ≳ 1), schedulers are metronomes (CV ≈ 0).
    * The classic cheap bot/spam heuristic a training-data pipeline runs
    * on behavioral logs before trusting engagement signals.
    *
    * Gaps are exact integer microseconds (`unix_micros` lead diffs, the
    * proven cross-engine time idiom); Σgap and Σgap² are exact DECIMAL
    * sums; mean/variance/CV are one fixed double expression — the same
    * moment discipline as [[autocorrelation]]. One user-keyed window +
    * one keyed aggregation. Users with < `minGaps` gaps are dropped (no
    * meaningful regularity signal). */
  def gapRegularity(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      minGaps: Long = 5L, botCv: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("_t").asc, col(idCol).asc)
    val gaps = events
      .select(col(userCol), unix_micros(col(tsCol)).as("_t"), col(idCol))
      .withColumn("_gap", lead(col("_t"), 1).over(w) - col("_t"))
      .filter(col("_gap").isNotNull)
    def d(c: Column) = c.cast(DecimalType(18, 0))
    val agged = gaps.groupBy(col(userCol))
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(d(col("_gap"))).cast("double").as("_sx"),
        sum(d(col("_gap")) * d(col("_gap"))).cast("double").as("_sx2"))
      .filter(col("_n") >= minGaps.toDouble)
    val mean = col("_sx") / col("_n")
    val cv = sqrt(col("_sx2") / col("_n") - mean * mean) / mean
    agged.select(col(userCol),
      col("_n").cast("long").as("n_gaps"),
      mean.as("mean_gap_us"),
      cv.as("cv_gap"),
      (cv < botCv).as("is_bot"))
  }

  /** Longest consecutive-day activity streak per user — the engagement/
    * retention metric gamified products live on. Gaps-and-islands on the
    * user's DISTINCT active days: `day − row_number` is constant within a
    * consecutive run, so one keyed window + two keyed aggregations give
    * every streak; the longest (earliest start on ties) is picked by a
    * second per-user window. Every window PARTITIONS BY user — state is
    * one user's days, nothing global. Output: (user, n_active_days,
    * longest_streak, streak_start_day). */
  def longestStreaks(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val ud = events.select(col(userCol).as("u"), day.as("day")).distinct()
    val seq0 = Window.partitionBy(col("u")).orderBy(col("day").asc)
    val streaks = ud
      .withColumn("_island", col("day") - row_number().over(seq0))
      .groupBy(col("u"), col("_island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
    val pick = Window.partitionBy(col("u"))
      .orderBy(col("len").desc, col("start").asc)
    streaks
      .withColumn("_rn", row_number().over(pick))
      .withColumn("_days", sum(col("len")).over(Window.partitionBy(col("u"))))
      .filter(col("_rn") === 1)
      .select(col("u").as(userCol), col("_days").as("n_active_days"),
        col("len").as("longest_streak"), col("start").as("streak_start_day"))
  }

  /** Rolling N-day active users (WAU at N=7): for every calendar day
    * with activity, the count of DISTINCT users active in the trailing
    * N-day window — the engagement curve a product team actually reads
    * (daily actives double-count bursty users; lifetime distinct never
    * moves).
    *
    * Sliding DISTINCT cannot be two-phased like a sum, so the exact
    * distributed form goes through the day grain: distinct (user, day)
    * pairs (the only corpus-sized pass), each fanned to the N probe days
    * it keeps the user "active" for, re-distinct-ed, and counted per
    * probe day — all shuffles keyed on (user, day)-sized keys, state
    * linear in users × N, no window over a global order anywhere. A
    * fanned row marks whether it IS its own probe day, so "days with
    * activity" falls out of the same rollup (a separate present-days
    * frame would rescan the events for a second distinct + join). The
    * approximate companion at much larger N is an HLL sketch per day +
    * window union (agg_hll_sketch shows the merge). */
  def rollingActiveUsers(
      events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val ud = events.select(col(userCol).as("u"), day.as("day")).distinct()
    ud
      .withColumn("k", explode(array((0 until windowDays).map(lit): _*)))
      .select(col("u"), (col("day") + col("k")).as("probe_day"),
        (col("k") === 0).cast("int").as("self"))
      .groupBy("u", "probe_day").agg(max(col("self")).as("self"))
      .groupBy("probe_day")
      .agg(count(lit(1)).as("wau"), max(col("self")).as("present"))
      .filter(col("present") === 1)
      .select(col("probe_day").as("day"), col("wau"))
  }

  /** Sample autocorrelation of the daily event-count series at lags
    * 1..`maxLag` — the seasonality detector (a weekly cycle shows as a
    * peak at lag 7) run before choosing a forecast model or an anomaly
    * baseline. Pearson-at-lag form: `r_k = corr(x_t, x_{t+k})` over the
    * calendar-day pairs that exist k days apart.
    *
    * Shape: the corpus collapses to day grain first (one keyed
    * aggregation — the 100 TB part), then lag pairs come from an
    * equi-join on `day + k` over the exploded lag range — never a window
    * over the whole series, and the series itself is only ever
    * day-grain-sized. Exactness is the [[Aggregates.linregByKey]]
    * discipline: counts are exact longs, every moment (Σx, Σy, Σxy, Σx²,
    * Σy²) is an exact DECIMAL sum (merge-order-independent), and r_k is
    * one fixed double expression — bit-identical cross-engine. */
  def autocorrelation(
      events: DataFrame, tsCol: String, maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxLag >= 1, "maxLag must be >= 1")
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val daily = events.groupBy(day.as("day")).agg(count(lit(1)).as("x"))
    val a = daily.select(col("day"), col("x").as("xa"))
      .withColumn("lag", explode(array((1 to maxLag).map(lit(_)): _*)))
      .withColumn("day_b", col("day") + col("lag"))
    val b = daily.select(col("day").as("day_b"), col("x").as("xb"))
    def d(c: Column) = c.cast(DecimalType(18, 0))
    a.join(b, "day_b")
      .groupBy("lag")
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(d(col("xa"))).cast("double").as("_sx"),
        sum(d(col("xb"))).cast("double").as("_sy"),
        sum(d(col("xa")) * d(col("xb"))).cast("double").as("_sxy"),
        sum(d(col("xa")) * d(col("xa"))).cast("double").as("_sxx"),
        sum(d(col("xb")) * d(col("xb"))).cast("double").as("_syy"))
      .select(col("lag"),
        col("_n").cast("long").as("n_pairs"),
        ((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx")) *
               (col("_n") * col("_syy") - col("_sy") * col("_sy"))))
          .as("acf"))
  }

  /** Exponentially weighted moving average (adjusted form, pandas
    * `adjust=True`): per key, over the trailing `lookback` events in
    * (ts, id) order, `ewma_t = Σ_j w_j·x_{t−j} / Σ_j w_j` with
    * `w_j = (1−α)^j` — the standard smoother for noisy per-user metrics.
    *
    * α is fixed at 1/2 so every weight is an exact power of two: each
    * term `x·2^−j` is a lossless IEEE scaling, the numerator is a
    * left-to-right ordered fold written identically in both engines (the
    * proven dd6/ss1/gr4 pattern), and the denominator collapses to the
    * closed form `2 − 2^(1−n)` (exact). One final division → hash-exact
    * cross-engine despite being float arithmetic throughout.
    *
    * Scale shape: one shuffle keyed on `keyCol`; the trailing frame is
    * bounded (`lookback` rows), so per-row state is O(lookback) — no
    * unbounded running frame, no global window. The collected frame is
    * sorted by (ts, id) via `array_sort` rather than trusting collection
    * order, so the fold order is deterministic under any shuffle. */
  def ewma(
      events: DataFrame, idCol: String, userCol: String, tsCol: String,
      valCol: String, lookback: Int = 16): DataFrame = {
    require(lookback >= 1, "lookback must be >= 1")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(-(lookback - 1), 0)
    val xsRaw = collect_list(
      struct(unix_micros(col(tsCol)).as("t"), col(idCol).as("i"),
        col(valCol).cast("double").as("x"))).over(w)
    val withXs = events.select(col(idCol), col(userCol), col(tsCol), col(valCol))
      .withColumn("_xs", transform(array_sort(xsRaw), s => s.getField("x")))
      .withColumn("n_window", size(col("_xs")))
    val n = col("n_window").cast("double")
    // oldest-first terms: element i (0-based) is j = n−1−i steps back
    val terms = transform(col("_xs"),
      (x, i) => x * pow(lit(0.5), (col("n_window") - 1 - i).cast("double")))
    withXs
      .withColumn("ewma",
        aggregate(terms, lit(0.0), (acc, x) => acc + x) /
          (lit(2.0) - pow(lit(2.0), lit(1.0) - n)))
      .drop("_xs")
  }

  /** SCD Type-2 history build: collapse each key's attribute stream into
    * change-tracked validity intervals — (key, attr, valid_from,
    * valid_to, n_events, is_current), where consecutive events with the
    * SAME attribute value merge into one interval and `valid_to` is the
    * next interval's start (null while current). The dimension-table
    * "latest plus full history" shape every warehouse maintains.
    *
    * Gaps-and-islands: one `lag` flags change points, one running sum
    * numbers the runs, one aggregate per run, one `lead` closes the
    * interval — all four windows PARTITIONED by key and totally ordered
    * by (ts, id), so duplicate timestamps collapse deterministically.
    * Scale shape: shuffles once on the key; per-key state is that key's
    * own rows. The streaming analog is `upsertLatestByKey` (CDC latest
    * state); this is the batch full-history dual. */
  def scd2History(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      attrCol: String): DataFrame = {
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val changed = when(
      lag(col(attrCol), 1).over(order).isNull ||
        lag(col(attrCol), 1).over(order) =!= col(attrCol), 1).otherwise(0)
    val runs = events
      .withColumn("chg", changed)
      .withColumn("run_id",
        sum(col("chg")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("run_id"), col(attrCol))
      .agg(min(col(tsCol)).as("valid_from"), count(lit(1)).as("n_events"))
    // runs are numbered in time order, so ordering by run_id (unique per
    // key) keeps lead() deterministic even when two runs share a
    // boundary timestamp
    val byStart = Window.partitionBy(col(keyCol)).orderBy(col("run_id").asc)
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(attrCol), col("valid_from"),
        col("valid_to"), col("n_events"), col("is_current"))
  }

  /** First-order Markov transition matrix over each user's event sequence:
    * for every ordered (from_type → to_type) step, its count and its
    * conditional probability P(to | from). The classic behavioral-model /
    * next-action-prediction primitive.
    *
    * The successor comes from a lag-1 window PARTITIONED BY USER (never a
    * global order — millions of users parallelize, PlanSpec asserts no
    * SinglePartition), ordered by (ts, id) so concurrent events break
    * ties deterministically. P(to|from) divides by the from-type's total
    * outgoing transitions via a tiny (k types × k types) aggregate — the
    * per-from normalizer is a window over the k² result, negligible at
    * any corpus size because the matrix, not the corpus, is its input. */
  def transitionMatrix(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      typeCol: String): DataFrame = {
    val seq0 = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val steps = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(seq0))
      .where(col("to_type").isNotNull)
    val counts = steps.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
    val byFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p",
        col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(byFrom).cast("double"))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("p"))
  }

  /** Sequence-anomaly score under the corpus Markov model — the
    * principled bot/scripted-traffic detector behind "this user's event
    * ORDER is improbable, whatever its volume": score each user by the
    * mean negative log-likelihood of their transitions under
    * [[transitionMatrix]]'s corpus P(next|prev). Organic users follow
    * common paths (low NLL); scripted loops and fuzzers take transitions
    * the corpus rarely does (high NLL). Volume detectors (ev16/ev26)
    * miss exactly these; order detectors miss whales — they compose.
    * Output: (user_id, n_transitions, mean_nll), higher = more anomalous.
    *
    * Exactness: P is a ratio of exact counts, −ln(P) a per-row double
    * (identical cross-engine on identical ratios — the pl23/ta28 ln
    * discipline), and the per-user mean goes through DECIMAL(18,9)
    * quantization so the reduction is order-independent.
    *
    * Scale shape: transitions from the per-user lag window (state = one
    * user's events); the transition-probability table is types² rows —
    * bounded, broadcast back onto the pair stream; one keyed agg on
    * user closes. No driver state. */
  def sequenceAnomaly(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      typeCol: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val seq0 = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val steps = events
      .select(col(userCol).as("user_id"), col(tsCol), col(idCol),
        col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(seq0))
      .where(col("to_type").isNotNull)
      .select("user_id", "from_type", "to_type")
    val probs = steps.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_pair"))
      .withColumn("n_from",
        sum(col("n_pair")).over(Window.partitionBy(col("from_type"))))
    steps.join(broadcast(probs), Seq("from_type", "to_type"))
      .withColumn("nll",
        -log(col("n_pair").cast("double") / col("n_from").cast("double")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_transitions"),
        (sum(graft.queries.OracleSafe.dec(col("nll"), 9)).cast("double") /
          count(lit(1)).cast("double")).as("mean_nll"))
  }

  /** Conversion attribution: for every `conversionType` event, credit the
    * user's FIRST and LAST preceding non-conversion touch (first-touch /
    * last-touch models), rolled up to `(model, channel, conversions)`.
    * Conversions with no preceding touch credit the `(direct)` channel.
    *
    * Both touches come from one user-partitioned window pass
    * (`first`/`last` with ignoreNulls over the strict-preceding frame,
    * (ts, id)-ordered) — per-user sequential state, fully parallel across
    * users, the same bounded-window discipline as every ev* operator.
    * The rollup keys on (model, channel): k·channels rows total. */
  def attribution(
      events: DataFrame, userCol: String, tsCol: String, idCol: String,
      typeCol: String, conversionType: String): DataFrame = {
    val preceding = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol) =!= conversionType, col(typeCol))
    val credited = events
      .withColumn("first_touch",
        first(touch, ignoreNulls = true).over(preceding))
      .withColumn("last_touch",
        last(touch, ignoreNulls = true).over(preceding))
      .where(col(typeCol) === conversionType)
    def rollup(model: String, c: Column): DataFrame = credited
      .select(coalesce(c, lit("(direct)")).as("channel"))
      .groupBy("channel")
      .agg(count(lit(1)).as("conversions"))
      .select(lit(model).as("model"), col("channel"), col("conversions"))
    rollup("first_touch", col("first_touch"))
      .unionByName(rollup("last_touch", col("last_touch")))
  }

  /** CUSUM level-shift detection over per-type daily counts: for each
    * (event_type, day), the running cumulative sum of (count − the type's
    * own mean daily count). A sustained rate change makes |cusum| grow
    * linearly — the classic changepoint signal that a spike detector
    * (ev3) misses. Day = epoch-day (no calendar/week-rule divergence).
    * Numeric policy: Σ(n_d − μ) over d ≤ t is algebraically
    * (Σn_d) − t·μ — the running Σn_d stays an exact LONG and only one
    * multiply + subtract happens in doubles, so the value is bit-identical
    * on any engine and any merge order (a naive running DOUBLE sum is
    * not: window-aggregate trees sum in engine-specific order).
    *
    * Scale shape: the raw corpus collapses to (type, day) counts in one
    * keyed aggregation; everything after runs on that tiny frame, with
    * the running sum partitioned per type. */
  def cusumDaily(
      events: DataFrame, tsCol: String, typeCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy(col("event_type"))
    val seq0 = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val run = seq0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("mean_daily",
        sum(col("n_events")).over(byType).cast("double") /
          count(lit(1)).over(byType).cast("double"))
      .withColumn("cusum",
        sum(col("n_events")).over(run).cast("double") -
          row_number().over(seq0).cast("double") * col("mean_daily"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("mean_daily"), col("cusum"))
  }

  /** Sequential-pattern support: for every ordered type pair (a ⇒ b),
    * how many users have SOME a event strictly before SOME b event
    * (not necessarily adjacent — the "viewed then eventually purchased"
    * question ev5's adjacent-step matrix cannot answer), plus the support
    * fraction over all active users.
    *
    * The classic GSP/PrefixSpan support-count primitive restricted to
    * length-2 patterns. Scale shape: the corpus collapses to per-user
    * per-type [min_ts, max_ts] spans in ONE keyed aggregation (k rows per
    * user, k = |type alphabet|); the pair test "∃ a before b" is exactly
    * `min_ts(a) < max_ts(b)`, evaluated by a per-user k×k span self-join
    * — cost ∝ users·k², never events². Self-pairs (a ⇒ a) mean "two a
    * events at distinct times". */
  def sequencePatternSupport(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String)
      : DataFrame = {
    val spans = events.groupBy(col(userCol).as("u"), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("t_min"), max(col(tsCol)).as("t_max"))
    val nUsers = events.select(col(userCol)).distinct()
      .agg(count(lit(1)).as("n_users"))
    val supported = spans.alias("a")
      .join(spans.alias("b"), col("a.u") === col("b.u") &&
        col("a.t_min") < col("b.t_max"))
      .groupBy(col("a.t").as("first_type"), col("b.t").as("then_type"))
      .agg(count(lit(1)).as("n_users_support"))
    supported.crossJoin(broadcast(nUsers))
      .select(col("first_type"), col("then_type"), col("n_users_support"),
        (col("n_users_support").cast("double") / col("n_users").cast("double"))
          .as("support"))
  }

  /** Funnel latency: per user, seconds from the FIRST `fromType` event to
    * the first `toType` event strictly after it, rolled up to one stats
    * row (count, mean, exact median, min, max). The "how long from first
    * view to purchase" product metric.
    *
    * Scale shape: two filtered keyed aggregations (first-from per user,
    * first-to-after per user) + one equi join on user. Latencies are
    * exact integer MICROseconds (`unix_micros` — the fixtures carry
    * sub-second precision, and seconds-truncation rounding differs
    * between engines), so mean is one exact-ratio division and the exact
    * interpolated median stays arithmetic on exact longs — both
    * bit-identical cross-engine. At 100 TB swap the exact percentile for
    * approx_percentile (covered by `agg_approx_percentile`) and keep the
    * shape. */
  def timeToConvert(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      fromType: String, toType: String): DataFrame = {
    val firstFrom = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol).as("u"))
      .agg(min(col(tsCol)).as("t_from"))
    val firstToAfter = events.filter(col(typeCol) === toType)
      .select(col(userCol).as("u"), col(tsCol).as("t_to"))
      .join(firstFrom, "u")
      .filter(col("t_to") > col("t_from"))
      .groupBy(col("u"), col("t_from"))
      .agg(min(col("t_to")).as("t_to"))
    firstToAfter
      .select((unix_micros(col("t_to")) - unix_micros(col("t_from")))
        .as("latency_us"))
      .agg(
        count(lit(1)).as("n_converted"),
        (sum(col("latency_us")).cast("double") /
          count(lit(1)).cast("double")).as("mean_us"),
        expr("percentile(latency_us, 0.5)").as("p50_us"),
        min(col("latency_us")).as("min_us"),
        max(col("latency_us")).as("max_us"))
  }

  /** User growth curve: per day, the number of first-seen users and the
    * cumulative distinct user count to date — the "distinct users ever"
    * series that a naive per-day `count_distinct` over growing windows
    * recomputes quadratically. First-seen day per user is one keyed
    * aggregation (the corpus collapses to one row per user, then to one
    * row per day); the cumulative sum runs over the DAY-grain frame via
    * the two-phase [[Pipeline.runningTotal]] — no SinglePartition window
    * even though the order is global. */
  def userGrowth(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val firstSeen = events
      .groupBy(col(userCol).as("u"))
      .agg(min(day).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val activeDays = events.select(day.as("day")).distinct()
    val daily = activeDays.join(firstSeen, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
    Pipeline.runningTotal(daily, col("new_users"), "users_to_date", col("day"))
  }

  /** Lorenz / Pareto concentration curve: users ranked by activity
    * (busiest first), each with their cumulative event count and share —
    * the "top k% of users drive p% of traffic" curve behind every 80/20
    * capacity claim. The corpus collapses to user grain in one keyed
    * aggregation; rank and cumulative count are BOTH two-phase global
    * operators ([[Pipeline.globalPosition]] / [[Pipeline.runningTotal]])
    * joined back on the user key, so nothing funnels through one task
    * even with a billion users; the grand total is a 1-row broadcast. */
  def lorenzCurve(
      events: DataFrame, userCol: String): DataFrame = {
    // the user-grain rollup feeds globalPosition, runningTotal and the
    // grand total inside one plan: the events are scanned and
    // user-shuffled once, and the other readers are ReusedExchanges
    val per = events.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"))
    val order = Seq(col("n_events").desc, col(userCol).asc)
    val ranked = Pipeline.globalPosition(per, "rank", order: _*)
      .select(col(userCol), col("rank"))
    val cum = Pipeline.runningTotal(per, col("n_events"), "cum_events", order: _*)
    val total = per.agg(sum(col("n_events")).as("total_events"))
    cum.join(ranked, userCol)
      .crossJoin(broadcast(total))
      .select(col(userCol), col("rank"), col("n_events"), col("cum_events"),
        (col("cum_events").cast("double") / col("total_events").cast("double"))
          .as("cum_share"))
  }

  /** RFM segmentation: per user, Recency (days since last event,
    * relative to the corpus max day), Frequency (event count), Monetary
    * (exact-decimal value total), each scored 1–4 (4 = best) against the
    * metric's own exact quartile THRESHOLDS — `1 + Σ(metric ≥ pₖ)` for
    * higher-better, the mirrored `≤` form for recency. Threshold scoring
    * (not ntile) is deliberate: the quartile cut-points are one tiny
    * global aggregate broadcast to the scan (the winsorize/histogram
    * shape), so scoring is scan-local with no global-order window, and
    * equal metric values always land in the same bucket (an ntile splits
    * ties arbitrarily across buckets). */
  def rfmScores(
      events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val day = datediff(to_date(col(tsCol)), lit("1970-01-01"))
    val per = events.groupBy(col(userCol))
      .agg(
        max(day).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("monetary"))
    val maxDay = per.agg(max(col("last_day")).as("max_day"))
    val perR = per.crossJoin(broadcast(maxDay))
      .withColumn("recency_days", col("max_day") - col("last_day"))
    val cuts = perR.agg(
      expr("percentile(recency_days, array(0.25, 0.5, 0.75))").as("r_cuts"),
      expr("percentile(frequency, array(0.25, 0.5, 0.75))").as("f_cuts"),
      expr("percentile(monetary, array(0.25, 0.5, 0.75))").as("m_cuts"))
    def upScore(c: Column, cuts: Column): Column =
      lit(1) + (c >= element_at(cuts, 1)).cast("int") +
        (c >= element_at(cuts, 2)).cast("int") +
        (c >= element_at(cuts, 3)).cast("int")
    def downScore(c: Column, cuts: Column): Column =
      lit(1) + (c <= element_at(cuts, 3)).cast("int") +
        (c <= element_at(cuts, 2)).cast("int") +
        (c <= element_at(cuts, 1)).cast("int")
    perR.crossJoin(broadcast(cuts))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"),
        downScore(col("recency_days").cast("double"), col("r_cuts"))
          .as("r_score"),
        upScore(col("frequency").cast("double"), col("f_cuts")).as("f_score"),
        upScore(col("monetary"), col("m_cuts")).as("m_score"))
  }

  /** Time-weighted average of `valueCol` per key: each observation holds
    * until the key's next event, so its weight is that duration (the last
    * observation carries no weight — no successor defines its span). The
    * irregular-sampling mean (TWAP) that a plain AVG gets wrong whenever
    * sampling is bursty.
    *
    * Numeric policy: durations are WHOLE SECONDS from exact microsecond
    * differences (`(next_us − us) div 1e6` — identical integer floor on
    * both engines; sub-second remainders are deliberately dropped, a
    * defined semantic), values cast to DECIMAL(18,6) (deterministic
    * rounding), so Σ v·dt is an exact decimal sum whose unscaled value
    * stays far below 2^53 — merge-order-independent AND exactly
    * double-convertible — and the final ratio is one double division.
    * Per-key lead window, fully parallel across keys. Keys with <2
    * events have no weighted span and are dropped; zero-second spans
    * (same-second successor) carry zero weight. */
  def timeWeightedAvg(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val seq0 = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val spans = events
      .withColumn("_next_us", lead(unix_micros(col(tsCol)), 1).over(seq0))
      .where(col("_next_us").isNotNull)
      .withColumn("_dt",
        expr("(_next_us - unix_micros(" + tsCol + ")) div 1000000"))
    spans.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("_dt")).as("total_s"),
        (sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
             col("_dt")).cast("double") /
          sum(col("_dt")).cast("double")).as("twap"))
      // a key whose every span rounds to zero seconds has no defined TWAP
      .where(col("total_s") > 0)
  }

  /** Per-user transition concentration: the Herfindahl index Σp² over a
    * user's (from_type → to_type) event transitions, plus its Hill-2
    * reciprocal ("effective transition variety") — the behavioral
    * cousin of [[gapRegularity]]: gap CV catches metronome TIMING, this
    * catches deterministic SEQUENCES (a scraper looping view→view→view
    * concentrates to 1.0 effective transitions; organic browsing spreads
    * across many pairs). Same rational-exactness design as the χ² and
    * diversity operators: Σn² is an exact integer, both outputs are
    * single divisions — no transcendentals, hash-exact by construction
    * (the Shannon form of this metric is NOT cross-engine-hashable; see
    * `TextAnalysis.charDiversity`).
    *
    * Scale shape: one user-keyed lag window, one (user, from, to) count,
    * one per-user aggregation — never global. */
  def transitionConcentration(
      events: DataFrame, userCol: String, tsCol: String,
      eventIdCol: String, typeCol: String,
      minTransitions: Long = 5L): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(eventIdCol).asc)
    val pairs = events
      .select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(eventIdCol).as("event_id"), col(typeCol).as("to_type"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
    pairs.groupBy("user_id", "from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(sum("n").as("n_transitions"),
        count(lit(1)).as("n_distinct_pairs"),
        sum(col("n") * col("n")).as("_sum_sq"))
      .filter(col("n_transitions") >= minTransitions)
      .select(col("user_id"), col("n_transitions"),
        col("n_distinct_pairs"),
        (col("_sum_sq").cast("double") /
          (col("n_transitions") * col("n_transitions")).cast("double"))
          .as("herfindahl"),
        ((col("n_transitions") * col("n_transitions")).cast("double") /
          col("_sum_sq").cast("double")).as("effective_transitions"))
  }

  /** Day-of-week seasonality per event type: peak weekday plus a
    * chi-square uniformity statistic — the "is this traffic humanlike or
    * a cron job?" detector (organic traffic dips on weekends; a
    * scheduled scraper is flat, chi2 ≈ 0; a weekly batch job is a spike,
    * chi2 huge).
    *
    * The statistic is computed from the algebraic identity
    * χ² = Σ_d (n_d − T/7)² / (T/7) = (7·Σ n_d² − T²) / T, which needs
    * only integer count aggregates — absent weekdays (n_d = 0) contribute
    * correctly without generating zero rows, every sum is exact, and the
    * single closing division is bit-identical across engines. Weekday is
    * ISO (1 = Monday … 7 = Sunday: Spark `weekday()+1` ≡ DuckDB
    * `isodow()`). Peak ties break to the earliest weekday. Two keyed
    * aggregations on (type, dow) then type — scan-shaped at any scale. */
  /** Batch sessionization: split each user's event stream into sessions
    * at inactivity gaps > `gapUs` and emit per-session stats — the batch
    * twin of the streaming session window (`st3`/`st8`), run over the
    * historical log where watermarks don't apply. Session identity is
    * the classic gaps-and-islands construction: a new-session flag from
    * the keyed lag, then a running count of flags — both windows
    * partitioned BY USER (state = one user's events, never a global
    * order), then one keyed aggregation. Exact-µs gap arithmetic
    * (`unix_micros`, the cross-engine-safe time representation) and a
    * deterministic (ts, event_id) tie-break → oracle hash-exact. */
  def sessionize(
      events: DataFrame, userCol: String, tsCol: String,
      eventIdCol: String, gapUs: Long): DataFrame = {
    val base = events.select(col(userCol).as("user_id"),
      col(tsCol).as("ts"), col(eventIdCol).as("event_id"))
      .withColumn("_t", unix_micros(col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val prev = lag(col("_t"), 1).over(w)
    base
      .withColumn("_new",
        when(prev.isNull || col("_t") - prev > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(col("_t")) - min(col("_t"))).as("duration_us"))
  }

  /** Per-user contribution capping — the bounded-sensitivity primitive
    * of DP-style data prep (and the anti-bot/anti-whale normalizer for
    * behavioral stats): within each (user, UTC day) keep at most
    * `maxPerDay` events — the FIRST k by (ts, event_id), so the cap is
    * deterministic and replayable — and report per-user totals. Capping
    * each unit's contribution is what turns "one scripted account wrote
    * 40% of the corpus" into a bounded bias; the per-user record
    * (n_events, n_kept, n_clipped, n_days) is the audit trail.
    *
    * Day is an exact integer-µs floor division (`unix_micros div
    * 86_400_000_000`), not a DATE cast — the cross-engine-safe time
    * representation (same rule as the survival/retention family).
    *
    * Scale shape: one window keyed on (user, day) — state is a single
    * day of a single user's events — then one keyed agg on user. A
    * hot-key user IS the thing being capped: at 100 TB the rank's
    * count-limit semantics allow a pre-agg short-circuit for
    * (user, day) groups under the cap, same as [[graft.ops.Pipeline.sourceCaps]]. */
  def contributionCap(
      events: DataFrame, userCol: String, tsCol: String,
      eventIdCol: String, maxPerDay: Int): DataFrame = {
    require(maxPerDay > 0, s"maxPerDay must be positive, got $maxPerDay")
    val base = events.select(col(userCol).as("user_id"),
      col(tsCol).as("ts"), col(eventIdCol).as("event_id"))
      .withColumn("_day",
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
    val w = Window.partitionBy(col("user_id"), col("_day"))
      .orderBy(col("ts").asc, col("event_id").asc)
    base
      .withColumn("_rn", row_number().over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("_rn") <= maxPerDay, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_rn") > maxPerDay, 1L).otherwise(0L)).as("n_clipped"),
        countDistinct(col("_day")).as("n_days"))
  }

  def dowSeasonality(
      events: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val counts = events
      .select(col(typeCol).as("event_type"),
        (weekday(to_date(col(tsCol))) + 1).as("dow"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"))
    val stats = counts.groupBy("event_type").agg(
      sum("n").as("total"),
      sum(col("n") * col("n")).as("_sum_sq"),
      max("n").as("_max_n"))
    val peaks = counts
      .join(stats.select(col("event_type"), col("_max_n")), "event_type")
      .filter(col("n") === col("_max_n"))
      .groupBy("event_type")
      .agg(min("dow").as("peak_dow"), max("n").as("peak_count"))
    stats.join(peaks, "event_type")
      .select(col("event_type"), col("total"),
        col("peak_dow").cast("int").as("peak_dow"), col("peak_count"),
        ((lit(7L) * col("_sum_sq") - col("total") * col("total"))
          .cast("double") / col("total")).as("chi2_uniform"))
  }

  /** Calendar-keyed seasonal baseline: per (event_type, ISO weekday,
    * hour-of-day) cell, its event count, its LIFT over the uniform
    * 7×24-cell expectation, and its exact-decimal mean value. The
    * hour-of-week profile is the standard seasonal baseline behind
    * "traffic is 3× its usual Tuesday-9am level" alerting — [[dowSeasonality]]
    * answers "is this type seasonal at all?", this op hands the alerting
    * system the baseline itself (`hot` marks cells ≥ `hotLift`).
    *
    * Cross-engine exactness: counts are longs, lift = n·168/total is one
    * double division of exact longs, and mean value goes through a
    * DECIMAL(18,6) sum (float summation order never surfaces). Shape at
    * 100 TB: one map-side-partial groupBy to ≤ types·168 cells, then a
    * per-type normalizer window over that tiny result — the corpus is
    * touched exactly once, scan-shaped. */
  def seasonalProfile(
      events: DataFrame, typeCol: String, tsCol: String, valueCol: String,
      hotLift: Double = 2.0): DataFrame = {
    val cells = events
      .select(col(typeCol).as("event_type"),
        (weekday(to_date(col(tsCol))) + 1).as("dow"),
        hour(col(tsCol)).as("hour"),
        col(valueCol).cast("decimal(18,6)").as("_v"))
      .groupBy("event_type", "dow", "hour")
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("_v_sum"))
    val byType = Window.partitionBy(col("event_type"))
    cells
      .withColumn("_total", sum(col("n")).over(byType))
      .select(
        col("event_type"), col("dow").cast("int").as("dow"),
        col("hour").cast("int").as("hour"), col("n"),
        ((col("n") * lit(168L)).cast("double") /
          col("_total").cast("double")).as("lift"),
        (col("_v_sum").cast("double") / col("n").cast("double"))
          .as("mean_value"))
      .withColumn("hot", col("lift") >= lit(hotLift))
  }

  /** Kaplan–Meier survival curve for time-to-first-`targetType` per user
    * (right-censored at the user's LAST event when the target never
    * fires) — THE estimator behind "how long until a user errors /
    * converts / churns" when not every subject has reached the event
    * yet; naive mean-time-to-event over observed users only is biased
    * exactly because it drops the censored long-lived ones.
    *
    * Duration buckets are integer HOURS (exact `div` on µs longs), so
    * the curve table is bounded by the corpus time span — which is what
    * makes the final sequential product honest at scale: per-user
    * reduction and the (duration → d, c) rollup are keyed aggs over the
    * full data, the ordered Π(1 − dᵢ/nᵢ) fold then runs over the TINY
    * bucket table inside one flatMap (bounded rows, the ta25 broadcast-
    * aggregate argument — a product is order-sensitive in IEEE, so it
    * must be sequential, not a parallel window). n_at_risk is a suffix
    * integer sum; rows with only censors carry factor 1 (the curve steps
    * at event times only, per the estimator).
    * Output: (duration_h, n_at_risk, d_events, c_censored, survival). */
  def kaplanMeier(
      events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, targetType: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val us = events.groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as("_start"),
        min(when(col(typeCol) === targetType, unix_micros(col(tsCol))))
          .as("_tgt"),
        max(unix_micros(col(tsCol))).as("_last"))
      .select(
        expr("(coalesce(_tgt, _last) - _start) div 3600000000")
          .as("duration_h"),
        col("_tgt").isNotNull.as("observed"))
    val buckets = us.groupBy("duration_h").agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("observed"), 1L).otherwise(0L)).as("c"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("duration_h",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_at_risk",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("d_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_censored",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("survival",
        org.apache.spark.sql.types.DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    buckets
      .agg(array_sort(collect_list(
        struct(col("duration_h"), col("d"), col("c")))).as("rows"))
      .flatMap { packed =>
        val rows = packed.getSeq[org.apache.spark.sql.Row](0)
        val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
        var atRisk = total
        var s = 1.0
        rows.map { r =>
          val (t, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
          val n = atRisk
          s = s * (1.0 - d.toDouble / n.toDouble)
          atRisk -= d + c
          org.apache.spark.sql.Row(t, n, d, c, s)
        }
      }(enc)
  }
}
