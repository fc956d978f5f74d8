package graft

import org.apache.spark.sql.functions._
import graft.ops.{Aggregates, DataQuality, EventAnalytics, Relational, TextAnalysis}
import graft.ops.DataQuality.Check

/** Round-7 batch: data-quality audit, 2D skyline, boilerplate strip,
  * PII redaction, Markov transitions, exact corr matrix, HLL sketches.
  * Planted fixtures with hand-computed expectations, plus naive-reference
  * cross-checks where the operator is an optimized form of a simple rule.
  */
class DataQualitySpec extends GraftSuite {
  import spark.implicits._

  // ---- DataQuality ------------------------------------------------------

  test("audit: one aggregate, per-check violation counts, null semantics") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, -5.0), (null, 3.0), (4L, null))
      .toDF("k", "v")
    val rep = DataQuality.audit(df, "t", Seq(
      Check("k_not_null", col("k").isNull),
      Check("v_positive", col("v").isNull || col("v") <= 0.0)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(rep("k_not_null") == ((1L, 4L, false)))
    assert(rep("v_positive") == ((2L, 4L, false))) // -5.0 and the null
  }

  test("uniqueness: extra rows beyond first per key; null keys violate") {
    val df = Seq[java.lang.Long](1L, 1L, 2L, null).toDF("k")
    val r = DataQuality.uniqueness(df, Seq("k"), "k_unique", "t").collect()(0)
    // 4 rows, 2 distinct non-null keys → 2 violations (the dup + the null)
    assert((r.getLong(2), r.getLong(3), r.getBoolean(4)) == ((2L, 4L, false)))
  }

  test("referential integrity: orphan distinct child keys, nulls skipped") {
    val child = Seq[java.lang.Long](1L, 1L, 2L, 9L, null).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = DataQuality.referentialIntegrity(
      child, "fk", parent, "pk", "fk_in_pk", "t").collect()(0)
    // distinct non-null child keys {1,2,9}; orphan {9}
    assert((r.getLong(2), r.getLong(3), r.getBoolean(4)) == ((1L, 3L, false)))
  }

  // ---- skyline2D --------------------------------------------------------

  private def naiveSkyline(pts: Seq[(Double, Long)]): Set[(Double, Long)] = {
    val distinct = pts.distinct
    distinct.filter { case (px, py) =>
      !distinct.exists { case (qx, qy) =>
        qx <= px && qy <= py && (qx < px || qy < py) }
    }.toSet
  }

  test("skyline2D: hand fixture with axis ties and duplicate points") {
    // (1,5) and (3,2) and (2,3) are the frontier; (3,5),(4,2),(2,3)-dup
    // dominated or coincident; duplicate frontier point counted n_rows=2
    val pts = Seq(
      (1.0, 5L), (3.0, 2L), (2.0, 3L), (3.0, 5L), (4.0, 2L),
      (2.0, 3L), (5.0, 5L))
    val out = Relational.skyline2D(pts.toDF("x", "y"), col("x"), col("y"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == naiveSkyline(pts))
    assert(out((2.0, 3L)) == 2L) // duplicate rows on one frontier point
  }

  test("skyline2D: fuzz vs naive dominance on seeded random points") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(300)((rnd.nextInt(40).toDouble, rnd.nextInt(40).toLong))
    val out = Relational.skyline2D(pts.toDF("x", "y"), col("x"), col("y"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSet
    assert(out == naiveSkyline(pts))
  }

  test("skylineByGroup: independent frontiers per group") {
    val pts = Seq(
      ("g1", 1.0, 5L), ("g1", 3.0, 2L), ("g1", 3.0, 5L),
      ("g2", 9.0, 9L)) // dominated in g1's terms but alone in g2 → kept
      .toDF("g", "x", "y")
    val got = Relational.skylineByGroup(pts, col("g"), col("x"), col("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === Set(("g1", 1.0, 5L), ("g1", 3.0, 2L), ("g2", 9.0, 9L)))
  }

  test("rfm: strictly increasing metrics score 1..4 against quartile cuts") {
    def at(day: Int) = new java.sql.Timestamp(day.toLong * 86400000L)
    // user u has u events of value 10·u, last event on day u →
    // frequency and monetary rise with u, recency falls with u
    val events = (1 to 4).flatMap { u =>
      (1 to u).map(i => (u.toLong * 100 + i, u.toLong, at(u), 10.0 * u))
    }.toDF("event_id", "user_id", "ts", "value")
    val got = graft.ops.EventAnalytics
      .rfmScores(events, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    (1 to 4).foreach { u =>
      assert(got(u.toLong) === ((u, u, u)), s"user $u: ${got(u.toLong)}")
    }
  }

  // ---- stripBoilerplateChunks -------------------------------------------

  test("boilerplate strip: shared chunk excised, unique text kept in order") {
    val boiler = (1 to 8).map(i => s"nav$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$boiler iota kappa lambda mu nu xi omicron pi"),
      (3L, boiler), // pure boilerplate → empty text
      (4L, "rho sigma tau upsilon phi chi psi omega"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplateChunks(
      docs, col("doc_id"), col("text"), chunkSize = 8, maxDocFreq = 1)
      .collect().map(r =>
        r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) ==
      (("alpha beta gamma delta epsilon zeta eta theta", 2L, 1L)))
    assert(out(2L) == (("iota kappa lambda mu nu xi omicron pi", 2L, 1L)))
    assert(out(3L) == (("", 1L, 0L)))
    assert(out(4L) == (("rho sigma tau upsilon phi chi psi omega", 1L, 1L)))
  }

  test("boilerplate strip: chunk order is preserved across many chunks") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ") // 5 chunks of 8
    val out = TextAnalysis.stripBoilerplateChunks(
      Seq((1L, text)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), chunkSize = 8, maxDocFreq = 1)
      .collect()(0)
    assert(out.getString(1) == text && out.getLong(3) == 5L)
  }

  // ---- redactPii --------------------------------------------------------

  test("PII redaction replaces every email and phone occurrence") {
    val dirty = "write a.user+tag@sub.example.org or ops@x.co " +
      "call 555-867-5309 then 555-000-1234 done"
    val out = Seq(dirty).toDF("t")
      .select(TextAnalysis.redactPii(col("t"))).collect()(0).getString(0)
    assert(out == "write [EMAIL] or [EMAIL] call [PHONE] then [PHONE] done")
  }

  // ---- transitionMatrix -------------------------------------------------

  test("transition matrix: per-user lag pairs, exact P(to|from)") {
    val ev = Seq(
      (1L, 1L, 100L, "a"), (2L, 1L, 200L, "b"), (3L, 1L, 300L, "a"),
      (4L, 2L, 100L, "a"), (5L, 2L, 200L, "b"),
      (6L, 3L, 100L, "b")) // single event → no transition
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventAnalytics.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // a→b twice (users 1,2), b→a once (user 1)
    assert(out == Map(
      ("a", "b") -> ((2L, 1.0)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("transition matrix: equal timestamps break ties on event id") {
    val ev = Seq(
      (2L, 1L, 100L, "y"), (1L, 1L, 100L, "x"), (3L, 1L, 200L, "z"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventAnalytics.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("x", "y"), ("y", "z")))
  }

  // ---- corrMatrixExact --------------------------------------------------

  test("exact corr matrix matches a hand-computed correlation, det runs") {
    // perfectly anti-correlated pair plus an uncorrelated third
    // z = (1,5,5,1) is symmetric about x's midpoint → corr(x,z) exactly 0
    val df = Seq(
      (1.0, 4.0, 1.0), (2.0, 3.0, 5.0), (3.0, 2.0, 5.0), (4.0, 1.0, 1.0))
      .toDF("x", "y", "z")
    val out = Aggregates.corrMatrixExact(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(out(("x", "y")) - (-1.0)) < 1e-12)
    assert(math.abs(out(("x", "z"))) < 1e-12)
    // determinism across runs (merge-order independence is the point)
    val again = Aggregates.corrMatrixExact(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out == again)
  }

  test("exact corr matrix agrees with built-in corr within float tolerance") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = Aggregates.corrMatrixExact(li, Seq("l_quantity", "l_discount"))
      .collect()(0).getDouble(3)
    val builtin = li.agg(corr(col("l_quantity"), col("l_discount")))
      .collect()(0).getDouble(0)
    assert(math.abs(exact - builtin) < 1e-6)
  }

  // ---- encodingAdvice ---------------------------------------------------

  test("encoding advice trips dictionary/candidate/plain boundaries") {
    val df = (1 to 200).map { i =>
      ("k", s"g${i % 60}", s"u$i") }.toDF("low", "mid", "uniq")
    val got = Relational.encodingAdvice(df, Seq("low", "mid", "uniq"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getString(5)))).toMap
    assert(got("low") === ((1L, "dictionary")))          // ndv_ratio 0.005
    assert(got("mid") === ((60L, "dictionary-candidate"))) // 0.3
    assert(got("uniq") === ((200L, "plain")))            // 1.0
  }

  test("benford: integer-cents leading digit, exact shares, null/neg dropped") {
    val df = Seq[java.lang.Double](123.45, 0.02, 999.99, 150.0, null, -5.0,
      0.0).toDF("v")
    val got = DataQuality.benford(df, col("v")).orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // 123.45→12345, 150.0→15000 (digit 1); 0.02→2 cents (digit 2);
    // 999.99→99999 (digit 9); null/−5/0 excluded
    assert(got.toSeq === Seq(
      (1, 2L, 0.5, math.log10(1.0 + 1.0 / 1)),
      (2, 1L, 0.25, math.log10(1.0 + 1.0 / 2)),
      (9, 1L, 0.25, math.log10(1.0 + 1.0 / 9))))
  }

  // ---- Snapshot.diff / Snapshot.merge -----------------------------------

  test("snapshot diff classifies added/removed/changed, drops unchanged") {
    import graft.ops.Snapshot
    val oldS = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("k", "v", "s")
    val newS = Seq((1L, 10.0, "A"), (2L, 25.0, "B"), (4L, 40.0, "D"))
      .toDF("k", "v", "s")
    val got = Snapshot.diff(oldS, newS, Seq("k"), Seq("v", "s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("snapshot diff treats null values null-safely") {
    import graft.ops.Snapshot
    val oldS = Seq[(java.lang.Long, java.lang.Double)]((1L, null), (2L, 2.0))
      .toDF("k", "v")
    val newS = Seq[(java.lang.Long, java.lang.Double)]((1L, null), (2L, null))
      .toDF("k", "v")
    val got = Snapshot.diff(oldS, newS, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed")) // null <=> null is equal, not a change
  }

  test("merge applies update, insert, and delete in one pass") {
    import graft.ops.Snapshot
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val changes = Seq(
      (2L, 99.0, false),  // update
      (3L, 0.0, true),    // delete
      (4L, 40.0, false))  // insert
      .toDF("k", "v", "is_delete")
    val got = Snapshot.merge(base, changes, Seq("k"), col("is_delete"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 10.0, 2L -> 99.0, 4L -> 40.0))
  }

  // ---- Ivm: maintained grouped view ≡ full recompute ---------------------

  test("ivm maintains sum/count: update pair, group-to-zero, new group") {
    import graft.ops.Ivm
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("g", "v")
    val view = Ivm.sumCountAgg(base, Seq("g"), col("v"))
    // update a(10→15) as a D/I pair; delete b's only row (the group must
    // vanish, no tombstone); insert a brand-new group c
    val changes = Seq(
      ("D", "a", 10.0), ("I", "a", 15.0), ("D", "b", 5.0), ("I", "c", 7.0))
      .toDF("op", "g", "v")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getDouble(2)))).toMap
    val maintained = shape(Ivm.finish(
      Ivm.maintainSumCount(view, changes, col("op"), Seq("g"), col("v")),
      "total"))
    assert(maintained === Map("a" -> ((2L, 35.0)), "c" -> ((1L, 7.0))))
    // and bit-equal to recomputing the view from the final state
    val finalState = Seq(("a", 20.0), ("a", 15.0), ("c", 7.0)).toDF("g", "v")
    assert(maintained ===
      shape(Ivm.finish(Ivm.sumCountAgg(finalState, Seq("g"), col("v")),
        "total")))
  }

  test("merge of diff-derived changes reconstructs the new snapshot") {
    import graft.ops.Snapshot
    // old: keys 1..300; new: 1..330 minus multiples of 7, %5 keys revalued
    def v(k: Int): Double = (k % 13).toDouble
    val oldS = (1 to 300).map(k => (k.toLong, v(k))).toDF("k", "v")
    val newS = (1 to 330).filterNot(_ % 7 == 0)
      .map(k => (k.toLong, if (k % 5 == 0) v(k) + 100.0 else v(k)))
      .toDF("k", "v")
    val d = Snapshot.diff(oldS, newS, Seq("k"), Seq("v"))
    val upserts = d.where(col("change_type").isin("added", "changed"))
      .join(newS, "k").select(col("k"), col("v"), lit(false).as("is_delete"))
    val deletes = d.where(col("change_type") === "removed")
      .select(col("k"), lit(0.0).as("v"), lit(true).as("is_delete"))
    val rebuilt = Snapshot.merge(
      oldS, upserts.unionByName(deletes), Seq("k"), col("is_delete"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = newS.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rebuilt === expected)
  }

  // ---- linregByKey ------------------------------------------------------

  test("linreg recovers an exact planted line per group") {
    val df = Seq(
      ("g1", 1.0, 3.0), ("g1", 2.0, 5.0), ("g1", 3.0, 7.0),   // y = 2x + 1
      ("g2", 1.0, 10.0), ("g2", 2.0, 8.0), ("g2", 3.0, 6.0))  // y = -2x + 12
      .toDF("g", "x", "y")
    val got = Aggregates.linregByKey(df, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got("g1") === ((2.0, 1.0)))
    assert(got("g2") === ((-2.0, 12.0)))
  }

  // ---- HLL sketches -----------------------------------------------------

  test("hll sketch estimate within 5% of exact; union covers global distinct") {
    val ev = graft.sources.Tables.events(spark, sf)
    val exact = ev.agg(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val sketched = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .collect()(0).getLong(0)
    assert(math.abs(sketched - exact).toDouble / exact < 0.05,
      s"sketch $sketched vs exact $exact")
    // mergeability: per-type sketches unioned ≈ global sketch
    val merged = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .collect()(0).getLong(0)
    assert(merged == sketched,
      "union of per-type sketches must equal the single-pass sketch " +
      "(same hash inputs, same lgK)")
  }

  test("robustOutliers: hand median/MAD, zero-MAD degenerate limit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // group a: nine identical values + one spike → MAD 0 (degenerate):
    // only values strictly off the median flag, no divide-by-zero.
    // group b: 1..9 + 1000 → median 5.5, devs sorted give MAD 2.5;
    // 0.6745·dev > 3.5·2.5 ⇔ dev > ~12.97 → only the 1000 flags.
    val rows =
      (1 to 9).map(i => ("a", 10.0)) ++ Seq(("a", 100.0)) ++
      (1 to 9).map(i => ("b", i.toDouble)) ++ Seq(("b", 1000.0))
    val got = graft.ops.DataQuality.robustOutliers(
        rows.toDF("t", "v"), col("t"), col("v"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got("a") === ((10L, 10.0, 0.0, 1L)))
    assert(got("b") === ((10L, 5.5, 2.5, 1L)))
  }
}
