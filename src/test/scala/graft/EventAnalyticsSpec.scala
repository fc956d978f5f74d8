package graft

import org.apache.spark.sql.functions._
import graft.ops.EventAnalytics

/** Planted-fixture coverage for the batch behavioral-analytics operators
  * (ev1/ev2/ev3 are oracle-checked on the real fixture; this spec pins
  * the semantic edge cases: ordering constraints in the funnel, cohort
  * anchoring, cold-start and threshold behavior in spike detection). */
class EventAnalyticsSpec extends GraftSuite {

  private def ts(min: Int) = java.sql.Timestamp.valueOf(
    f"2024-01-01 00:$min%02d:00")

  test("funnel counts only users whose steps occur in order") {
    import spark.implicits._
    val events = Seq(
      // u1 completes the whole funnel in order
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // u2 clicked BEFORE its first view -> stalls at stage 1
      (2L, ts(1), "click"), (2L, ts(2), "view"), (2L, ts(3), "purchase"),
      // u3 views and clicks, never purchases
      (3L, ts(1), "view"), (3L, ts(2), "click"),
      // u4 purchases without ever viewing -> counted nowhere
      (4L, ts(1), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics
      .funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      (1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("funnel: purchase strictly after click (equal ts does not count)") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(2), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = EventAnalytics
      .funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got === Map(1 -> 1L, 2 -> 1L, 3 -> 0L))
  }

  test("retention cohorts anchor weeks to the corpus min day") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-${1 + n}%02d 12:00:00")
    val events = Seq(
      (1L, day(0)), (1L, day(7)),  // cohort week 0, active weeks 0 and 1
      (2L, day(8)), (2L, day(9))   // first seen week 1 -> cohort 1
    ).toDF("user_id", "ts")
    val got = EventAnalytics
      .retentionCohorts(events, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((0, 0, 1L), (0, 1, 1L), (1, 0, 1L)))
  }

  test("retention cohorts exclude null user ids") {
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-${1 + n}%02d 12:00:00")
    val events = Seq(
      (Option(1L), day(14)),
      // the null user's event is strictly EARLIEST: if null rows leaked
      // into the min-day, user 1's cohort would shift to week 2
      (Option.empty[Long], day(0)), (Option.empty[Long], day(7)))
      .toDF("user_id", "ts")
    val got = EventAnalytics.retentionCohorts(events, "user_id", "ts")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // the null user must not form a phantom cohort, inflate counts, or
    // shift the corpus min-day the cohort weeks are anchored to
    assert(got.toSeq === Seq((0, 0, 1L)))
  }

  test("trailingSpikes: cold start is null/false, spike needs > k x mean") {
    import spark.implicits._
    val events = Seq(
      (1L, 100L, ts(1), 1.0), (2L, 100L, ts(2), 1.0), (3L, 100L, ts(3), 1.0),
      (4L, 100L, ts(4), 3.0),  // mean(1,1,1)=1; 3.0 is NOT > 3*1 (strict)
      (5L, 100L, ts(5), 10.0), // mean(1,1,1,3)=1.5; 10 > 4.5 -> spike
      (6L, 200L, ts(1), 99.0)  // other user, cold start
    ).toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics
      .trailingSpikes(events, "event_id", "user_id", "ts", "value",
        lookback = 10, minPrev = 3, k = 3.0)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(4), Option(r.get(5)), r.getBoolean(6)))
      .toMap
    assert(got(1L) === ((0L, None, false)))
    assert(got(3L) === ((2L, None, false)))         // below minPrev
    assert(got(4L) === ((3L, Some(1.0), false)))    // boundary: not strict >
    assert(got(5L) === ((4L, Some(1.5), true)))
    assert(got(6L) === ((0L, None, false)))
  }

  test("scd2History collapses equal runs, closes intervals, marks current") {
    import spark.implicits._
    val events = Seq(
      // u1: a,a,b,a -> three intervals, the last open
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(2), "a"),
      (3L, 1L, ts(3), "b"), (4L, 1L, ts(4), "a"),
      // u2: single event -> one open interval
      (5L, 2L, ts(1), "x")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics
      .scd2History(events, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq === Seq(
      (1L, "a", ts(1), Some(ts(3)), 2L, false),
      (1L, "b", ts(3), Some(ts(4)), 1L, false),
      (1L, "a", ts(4), None, 1L, true),
      (2L, "x", ts(1), None, 1L, true)))
  }

  test("scd2History: duplicate boundary timestamps stay deterministic") {
    import spark.implicits._
    // same ts for both events -> id order decides: a closes at ts(1), b
    // is current from ts(1)
    val events = Seq(
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(1), "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics
      .scd2History(events, "user_id", "ts", "event_id", "event_type")
      .orderBy("valid_from", "event_type")
      .collect()
      .map(r => (r.getString(1), Option(r.getTimestamp(3)), r.getBoolean(5)))
    assert(got.toSeq === Seq(
      ("a", Some(ts(1)), false), ("b", None, true)))
  }

  test("trailingSpikes window is capped at lookback rows") {
    import spark.implicits._
    val events = (1 to 15).map(i => (i.toLong, 1L, ts(i), i.toDouble))
      .toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics
      .trailingSpikes(events, "event_id", "user_id", "ts", "value",
        lookback = 10, minPrev = 3, k = 3.0)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got(15L) === 10L) // only the previous 10, not all 14
    assert(got(11L) === 10L)
  }

  test("attribution: first/last touch credited, direct when no touch") {
    import spark.implicits._
    val events = Seq(
      // user 1: view → click → purchase → purchase (both purchases credit
      // view as first touch; last touch is click, then purchase #2's last
      // preceding NON-conversion touch is still click)
      (1L, 1L, ts(1), "view"), (2L, 1L, ts(2), "click"),
      (3L, 1L, ts(3), "purchase"), (4L, 1L, ts(4), "purchase"),
      // user 2: cold purchase → (direct) in both models
      (5L, 2L, ts(1), "purchase"),
      // user 3: touches but no purchase → contributes nothing
      (6L, 3L, ts(1), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics
      .attribution(events, "user_id", "ts", "event_id", "event_type", "purchase")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("first_touch", "view") -> 2L, ("first_touch", "(direct)") -> 1L,
      ("last_touch", "click") -> 2L, ("last_touch", "(direct)") -> 1L))
  }

  test("cusum: planted level shift drifts then recovers to zero") {
    import spark.implicits._
    // 4 days at 10 events then 4 days at 20 → mean 15; cusum walks
    // -5,-10,-15,-20 then +5 per day back to 0 on the last day
    val events = (for {
      day <- 0 until 8
      n = if (day < 4) 10 else 20
      i <- 0 until n
    } yield (day.toLong * 1000 + i, 1L,
      new java.sql.Timestamp(day.toLong * 86400000L), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.cusumDaily(events, "ts", "event_type")
      .orderBy("day").collect()
      .map(r => (r.getInt(1), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._2).forall(_ == 15.0))
    assert(got.map(_._3).toSeq ===
      Seq(-5.0, -10.0, -15.0, -20.0, -15.0, -10.0, -5.0, 0.0))
  }

  test("sequence patterns: eventually-before support, not adjacency") {
    import spark.implicits._
    val events = Seq(
      // user 1: a@1, c@2, b@3 — a⇒b supported though not adjacent
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(2), "c"), (3L, 1L, ts(3), "b"),
      // user 2: b@1, a@2 — b⇒a but NOT a⇒b (a is last)
      (4L, 2L, ts(1), "b"), (5L, 2L, ts(2), "a"),
      // user 3: two a's at distinct times — self-pair a⇒a
      (6L, 3L, ts(1), "a"), (7L, 3L, ts(2), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics
      .sequencePatternSupport(events, "user_id", "ts", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(("a", "b")) === ((1L, 1.0 / 3)))   // only user 1
    assert(got(("b", "a")) === ((1L, 1.0 / 3)))   // only user 2
    assert(got(("a", "a")) === ((1L, 1.0 / 3)))   // only user 3's repeat
    assert(got(("a", "c")) === ((1L, 1.0 / 3)))
    assert(got(("c", "b")) === ((1L, 1.0 / 3)))
    assert(!got.contains(("c", "a")))             // c never precedes an a
    assert(got.size === 5)
  }

  test("userGrowth: new users per day, cumulative to date, zero-new days kept") {
    import spark.implicits._
    def at(day: Int) = new java.sql.Timestamp(day.toLong * 86400000L + 3600000L)
    val events = Seq(
      (1L, 1L, at(0), "view"), (2L, 2L, at(0), "view"),   // day 0: users 1,2
      (3L, 1L, at(1), "view"), (4L, 3L, at(1), "view"),   // day 1: new user 3
      (5L, 2L, at(2), "view"))                            // day 2: nobody new
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.userGrowth(events, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0, 2L, 2L), (1, 1L, 3L), (2, 0L, 3L)))
  }

  test("lorenzCurve: busiest-first ranks, cumulative share reaches 1") {
    import spark.implicits._
    // user 1: 6 events, user 2: 3, user 3: 1 → shares 0.6, 0.9, 1.0
    val events = ((1 to 6).map(i => (i.toLong, 1L)) ++
      (7 to 9).map(i => (i.toLong, 2L)) ++ Seq((10L, 3L)))
      .map { case (id, u) => (id, u, ts(id.toInt)) }
      .toDF("event_id", "user_id", "ts")
    val got = EventAnalytics.lorenzCurve(events, "user_id")
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    graft.ops.Pipeline.releaseCaches()
    assert(got.toSeq === Seq(
      (1L, 1L, 6L, 0.6), (2L, 2L, 9L, 0.9), (3L, 3L, 10L, 1.0)))
  }

  test("funnel and lorenzCurve pin their reused frames; release frees them") {
    import spark.implicits._
    // funnel: each stage's completion frame feeds BOTH the next stage's
    // join and the final union count, and union branches do not share
    // exchanges (plan-verified, 1 of 22 reused) — unpinned that is O(k²)
    // scans of the event log. lorenzCurve: the user-grain rollup feeds
    // two prefix-sum offset jobs (separate actions — no cross-job
    // exchange reuse) plus the grand total — three corpus scans unpinned
    // (round-16 review).
    val cm = spark.sharedState.cacheManager
    graft.ops.Pipeline.releaseCaches()
    val cleanBefore = cm.isEmpty
    val events = (1 to 30).map(i =>
      (i.toLong, (i % 5).toLong, ts(i), Seq("a", "b", "c")(i % 3)))
      .toDF("event_id", "user_id", "ts", "event_type")
    EventAnalytics.funnel(events, "user_id", "ts", "event_type",
      Seq("a", "b", "c")).count()
    assert(!cm.isEmpty, "funnel must pin per-stage completions")
    graft.ops.Pipeline.releaseCaches()
    EventAnalytics.lorenzCurve(events, "user_id").count()
    assert(!cm.isEmpty, "lorenzCurve must pin the user rollup")
    graft.ops.Pipeline.releaseCaches()
    if (cleanBefore) assert(cm.isEmpty)
  }

  test("gapRegularity: metronome flagged as bot, bursty human is not") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // user 1: exact 60 s metronome (CV = 0); user 2: bursty gaps
    // {10,600,20,900,30} s; user 3: only 3 events → below minGaps, dropped
    val bot = (0 to 6).map(i => (1L, t(i * 60)))
    val human = Seq(0, 10, 610, 630, 1530, 1560).map(s => (2L, t(s)))
    val few = Seq(0, 5, 10).map(s => (3L, t(s)))
    val events = (bot ++ human ++ few).zipWithIndex
      .map { case ((u, ts), i) => (i.toLong, u, ts) }
      .toDF("event_id", "user_id", "ts")
    val got = EventAnalytics
      .gapRegularity(events, "user_id", "ts", "event_id", 5L, 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L)._1 === 6L && got(1L)._2 === 0.0 && got(1L)._3)
    assert(got(2L)._2 > 1.0 && !got(2L)._3)
  }

  test("longestStreaks: islands split on gaps, earliest start wins ties") {
    import spark.implicits._
    def t(day: Int) =
      new java.sql.Timestamp(day.toLong * 86400000L + 43200000L)
    // user 1: days 0,1,2 then 5,6 → longest 3 starting day 0 (5 active)
    // user 2: days 3,4 and 8,9 → tie of 2s, earliest start 3 wins
    val events = (Seq(0, 1, 2, 5, 6).map(d => (1L, t(d))) ++
      Seq(3, 4, 8, 9).map(d => (2L, t(d))) ++ Seq((1L, t(1)))) // dup day
      .zipWithIndex.map { case ((u, ts), i) => (i.toLong, u, ts) }
      .toDF("event_id", "user_id", "ts")
    val got = EventAnalytics.longestStreaks(events, "user_id", "ts")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 5L, 3L, 0), (2L, 4L, 2L, 3)))
  }

  test("rollingActiveUsers: trailing window, distinct users, active days only") {
    import spark.implicits._
    def t(day: Int) =
      new java.sql.Timestamp(day.toLong * 86400000L + 43200000L) // noon UTC
    // user 1 active on days 0 and 8; user 2 on day 0 (twice — distinct);
    // only days 0 and 8 have activity, so only they are reported
    val events = Seq((1L, 1L, t(0)), (2L, 2L, t(0)), (3L, 2L, t(0)),
      (4L, 1L, t(8)))
      .toDF("event_id", "user_id", "ts")
    val got = EventAnalytics.rollingActiveUsers(events, "user_id", "ts", 7)
      .orderBy("day").collect().map(r => (r.getInt(0), r.getLong(1)))
    // day 0: users {1,2}; day 8: {1} (day-0 activity fell out of the
    // 7-day window at day 7)
    assert(got.toSeq === Seq((0, 2L), (8, 1L)))
  }

  test("autocorrelation: alternating daily series gives lag1 -1, lag2 +1") {
    import spark.implicits._
    def t(day: Int, i: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$day 12:0$i:00")
    // daily counts 1,2,1,2 → perfectly anti-correlated at lag 1,
    // perfectly correlated at lag 2
    val events = Seq(t(1, 0), t(2, 0), t(2, 1), t(3, 0), t(4, 0), t(4, 1))
      .zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("event_id", "ts")
    val got = EventAnalytics.autocorrelation(events, "ts", maxLag = 2)
      .orderBy("lag").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1, 3L, -1.0), (2, 2L, 1.0)))
  }

  test("ewma: adjusted alpha=1/2 weights, lookback cap, exact values") {
    import spark.implicits._
    // values 8, 4, 2 → every term/denominator an exact binary fraction
    val events = Seq(
      (1L, 1L, ts(1), 8.0), (2L, 1L, ts(2), 4.0), (3L, 1L, ts(3), 2.0))
      .toDF("event_id", "user_id", "ts", "value")
    def run(lb: Int) = EventAnalytics
      .ewma(events, "event_id", "user_id", "ts", "value", lookback = lb)
      .orderBy("event_id").collect()
      .map(r => (r.getInt(4), r.getDouble(5))).toSeq
    // n=1: 8; n=2: (8/2+4)/1.5 = 16/3; n=3: (8/4+4/2+2)/1.75 = 24/7
    assert(run(16) === Seq((1, 8.0), (2, 16.0 / 3.0), (3, 24.0 / 7.0)))
    // lookback 2 drops the oldest event at t3 (n_window stays 2):
    // (4/2+2)/1.5 = 8/3
    assert(run(2) === Seq((1, 8.0), (2, 16.0 / 3.0), (2, 8.0 / 3.0)))
  }

  test("timeWeightedAvg: hold-time weights, last event unweighted") {
    import spark.implicits._
    // user 1: v=10 held 60 s, v=20 held 180 s, v=99 last (no weight)
    // → twap = (10·60 + 20·180) / 240 = 17.5
    val events = Seq(
      (1L, 1L, ts(1), 10.0), (2L, 1L, ts(2), 20.0), (3L, 1L, ts(5), 99.0),
      // user 2: single event → dropped
      (4L, 2L, ts(1), 50.0))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumnRenamed("value", "value")
    val got = EventAnalytics
      .timeWeightedAvg(events, "user_id", "ts", "event_id", "value")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) === ((2L, 240L, 17.5)))
  }

  test("timeToConvert: first view to first later purchase, strict order") {
    import spark.implicits._
    val events = Seq(
      // user 1: view@1, purchase@3 → 2 min latency (first purchase wins)
      (1L, 1L, ts(1), "view"), (2L, 1L, ts(3), "purchase"),
      (3L, 1L, ts(9), "purchase"),
      // user 2: purchase BEFORE any view → excluded
      (4L, 2L, ts(1), "purchase"), (5L, 2L, ts(2), "view"),
      // user 3: view@1, purchase@5 → 4 min
      (6L, 3L, ts(1), "view"), (7L, 3L, ts(5), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val r = EventAnalytics
      .timeToConvert(events, "user_id", "ts", "event_type", "view", "purchase")
      .collect()(0)
    assert(r.getLong(0) === 2L)                       // users 1 and 3
    assert(r.getDouble(1) === 3 * 60e6)               // mean of 2 and 4 min
    assert(r.getDouble(2) === 3 * 60e6)               // median
    assert(r.getLong(3) === 2 * 60 * 1000000L)
    assert(r.getLong(4) === 4 * 60 * 1000000L)
  }

  test("transitionConcentration: looper at 1.0, varied browser lower") {
    import spark.implicits._
    // u1 loops view→view… → one transition pair, herfindahl 1.0;
    // u2 spreads 6 transitions over 6 distinct pairs → 1/6 each;
    // u3 has only 2 transitions → dropped by minTransitions = 5
    val loops = (1 to 8).map(i => (i.toLong, 1L, ts(i), "view"))
    val varied = Seq("view", "click", "view", "buy", "click", "buy", "view")
      .zipWithIndex.map { case (t, i) => (20L + i, 2L, ts(i), t) }
    val few = Seq((40L, 3L, ts(1), "view"), (41L, 3L, ts(2), "click"),
      (42L, 3L, ts(3), "view"))
    val events = (loops ++ varied ++ few)
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.transitionConcentration(
        events, "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((7L, 1L, 1.0, 1.0))) // pure loop: max concentration
    // 6 transitions, all distinct pairs: Σn² = 6 → H = 6/36, Hill-2 = 6
    assert(got(2L) === ((6L, 6L, 6.0 / 36.0, 6.0)))
  }

  test("windowed funnel: boundary gap counts, overflow and re-touch don't") {
    import spark.implicits._
    val events = Seq(
      // u1: click exactly AT the 10-min window (counts), purchase 15 min
      // after the click (overflows)
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(25), "purchase"),
      // u2: click 21 min after the FIRST view — the later view at 20 min
      // does not re-anchor (first-touch greedy-earliest semantics)
      (2L, ts(0), "view"), (2L, ts(20), "view"), (2L, ts(21), "click"))
      .toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapUs = 10L * 60 * 1000000)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got === Map(1 -> 2L, 2 -> 1L, 3 -> 0L))
    // unbounded default reproduces the plain funnel on the same fixture
    val plain = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(plain === Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
  }

  test("sessionize: gap rule strict, boundary stays, singleton session") {
    import spark.implicits._
    // user 1: 0 / 10min (same session) / 40min (gap 30min exactly — NOT
    // > gap, stays) / 75min (gap 35min → new session); user 2: one event
    def tm(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val events = Seq(
      (1L, 1L, tm(0)), (2L, 1L, tm(10)), (3L, 1L, tm(40)), (4L, 1L, tm(75)),
      (5L, 2L, tm(5)))
      .toDF("event_id", "user_id", "ts")
    val got = EventAnalytics
      .sessionize(events, "user_id", "ts", "event_id",
        gapUs = 30L * 60 * 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getTimestamp(2), r.getTimestamp(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.keySet === Set((1L, 1L), (1L, 2L), (2L, 1L)))
    // first session spans 0..40min inclusive (the exact-gap event stays)
    assert(got((1L, 1L)) === ((tm(0), tm(40), 3L, 40L * 60 * 1000000)))
    assert(got((1L, 2L)) === ((tm(75), tm(75), 1L, 0L)))
    assert(got((2L, 1L)) === ((tm(5), tm(5), 1L, 0L)))
  }

  test("dowSeasonality: ISO weekday, chi2 identity, tie to earliest dow") {
    import spark.implicits._
    def day(d: String) = java.sql.Timestamp.valueOf(s"2024-01-0$d 12:00:00")
    // 2024-01-01 is a Monday (ISO dow 1)
    val events = Seq(
      // x: 3 Monday hits, 1 Tuesday hit
      ("x", day("1")), ("x", day("1")), ("x", day("1")), ("x", day("2")),
      // y: Mon/Tue tie -> peak must break to Monday
      ("y", day("1")), ("y", day("2")))
      .toDF("event_type", "ts")
    val got = EventAnalytics.dowSeasonality(events, "event_type", "ts")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))).toMap
    // x: T=4, Σn² = 9+1 = 10 → χ² = (7·10 − 16)/4 = 13.5; absent
    //    weekdays contribute via the identity without zero-fill rows
    assert(got("x") === ((4L, 1, 3L, 13.5)))
    // y: T=2, Σn² = 2 → χ² = (14 − 4)/2 = 5.0; tie → earliest dow
    assert(got("y") === ((2L, 1, 1L, 5.0)))
  }

  test("seasonalProfile: hour-of-week cells, uniform lift, hot flag") {
    import spark.implicits._
    def at(d: Int, h: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-0$d%d $h%02d:00:00")
    // 2024-01-01 is a Monday (ISO dow 1). Type x: 3 events Mon 09h,
    // 1 event Tue 14h → total 4.
    // Type y: 167 events Mon 09h + 1 Tue 14h → the Tue cell holds
    // exactly its uniform share (lift 1.0) and must NOT be hot.
    val events = (Seq(
      ("x", at(1, 9), 1.0), ("x", at(1, 9), 2.0), ("x", at(1, 9), 3.0),
      ("x", at(2, 14), 10.0)) ++
      Seq.fill(167)(("y", at(1, 9), 5.0)) :+ ("y", at(2, 14), 7.0))
      .toDF("event_type", "ts", "value")
    val got = EventAnalytics
      .seasonalProfile(events, "event_type", "ts", "value", hotLift = 2.0)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    // x Mon-09: n=3, lift = 3·168/4 = 126, mean = 2.0, hot
    assert(got(("x", 1, 9)) === ((3L, 126.0, 2.0, true)))
    // x Tue-14: n=1, lift = 168/4 = 42, mean = 10.0, hot
    assert(got(("x", 2, 14)) === ((1L, 42.0, 10.0, true)))
    // y Tue-14: n=1 of 168 → lift exactly 1.0 → NOT hot
    assert(got(("y", 2, 14)) === ((1L, 1.0, 7.0, false)))
    assert(got(("y", 1, 9))._1 === 167L)
    // only cells with events appear — no zero-fill rows
    assert(got.size === 4)
  }

  test("kaplanMeier: hand-computed dyadic curve, censoring keeps at-risk honest") {
    import spark.implicits._
    def hs(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // u1 errors at +1h; u2 errors at +2h; u3 censored at +1h (never
    // errors); u4 censored at +3h. Buckets: t=1 (d=1,c=1,n=4 → s=3/4);
    // t=2 (d=1,c=0,n=2 → s=3/8); t=3 (d=0,c=1,n=1 → s unchanged).
    // All factors dyadic, so the products are IEEE-exact.
    val ev = Seq(
      (1L, hs(0), 1L, "view"), (2L, hs(1), 1L, "error"),
      (3L, hs(0), 2L, "view"), (4L, hs(2), 2L, "error"),
      (5L, hs(0), 3L, "view"), (6L, hs(1), 3L, "click"),
      (7L, hs(0), 4L, "view"), (8L, hs(3), 4L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventAnalytics.kaplanMeier(ev, "user_id", "ts",
        "event_type", "error")
      .orderBy("duration_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got === Seq(
      (1L, 4L, 1L, 1L, 0.75),
      (2L, 2L, 1L, 0L, 0.375),
      (3L, 1L, 0L, 1L, 0.375)))
  }

  test("sequenceAnomaly scores rare transitions above common ones") {
    import spark.implicits._
    // four users, one transition each: A→B three times (P = 3/4),
    // A→C once (P = 1/4) — the A→C user must score ln(4), the others
    // ln(4/3), exactly.
    val events = Seq(
      (1L, ts(0), 10L, "A"), (1L, ts(1), 11L, "B"),
      (2L, ts(0), 20L, "A"), (2L, ts(1), 21L, "B"),
      (3L, ts(0), 30L, "A"), (3L, ts(1), 31L, "B"),
      (4L, ts(0), 40L, "A"), (4L, ts(1), 41L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.sequenceAnomaly(
        events, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(got.forall(_._2 === 1L))
    val common = math.log(4.0 / 3.0)
    val rare = math.log(4.0)
    got.take(3).foreach { case (_, _, nll) =>
      assert(math.abs(nll - common) < 1e-8, s"common-path nll $nll")
    }
    assert(math.abs(got(3)._3 - rare) < 1e-8, s"rare-path nll ${got(3)._3}")
    assert(got(3)._3 > got.head._3, "rare transition must score higher")
  }

  test("contributionCap clips per (user, day), keeps the first k by time") {
    import spark.implicits._
    def at(day: Int, min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-$day%02d 00:$min%02d:00")
    val events = Seq(
      // user 1, day 1: five events → 3 kept (earliest), 2 clipped
      (1L, at(1, 0), 10L), (1L, at(1, 1), 11L), (1L, at(1, 2), 12L),
      (1L, at(1, 3), 13L), (1L, at(1, 4), 14L),
      // user 1, day 2: one event → kept (the cap is per day, not global)
      (1L, at(2, 0), 15L),
      // user 2: two events, under the cap → nothing clipped
      (2L, at(1, 0), 20L), (2L, at(1, 1), 21L))
      .toDF("user_id", "ts", "event_id")
    val got = EventAnalytics.contributionCap(
      events, "user_id", "ts", "event_id", maxPerDay = 3)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, 6L, 4L, 2L, 2L),
      (2L, 2L, 2L, 0L, 1L)))
    // the kept set is the FIRST k by (ts, event_id): re-running on a
    // shuffled frame must clip the same events (determinism bar)
    val again = EventAnalytics.contributionCap(
      events.repartition(5), "user_id", "ts", "event_id", maxPerDay = 3)
    assert(again.exceptAll(EventAnalytics.contributionCap(
      events, "user_id", "ts", "event_id", maxPerDay = 3)).count() === 0)
  }
}
