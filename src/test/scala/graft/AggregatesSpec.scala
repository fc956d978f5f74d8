package graft

import org.apache.spark.sql.functions._
import graft.ops.Aggregates
import graft.sources.Tables

/** Invariant specs for aggregates whose outputs are intentionally
  * oracle-less (engine-specific sketches). */
class AggregatesSpec extends GraftSuite {

  test("approx_count_distinct error is bounded by its rsd parameter") {
    // agg_approx_distinct now EMITS its ε-bounds verdict (exact count +
    // within_bounds at 4·rsd, oracle-checked); the spec asserts the
    // verdict and additionally holds a tightened sketch (rsd 0.01) to 5%
    // on both a high-cardinality key and a grouped shape. Deterministic:
    // HLL++ has no RNG, so these are fixed values on fixed fixtures, not
    // flaky draws.
    val r = SparkEntry.queries("agg_approx_distinct")(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("exact_orders")) > 0)
    assert(r.getBoolean(r.fieldIndex("within_bounds")),
      "default-rsd estimate fell outside 4·rsd of exact")

    val tight = Tables.lineitem(spark, sf)
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("a"),
           countDistinct(col("l_orderkey")).as("e"))
      .collect().head
    val (ta, te) = (tight.getLong(0).toDouble, tight.getLong(1).toDouble)
    assert(math.abs(ta - te) / te < 0.05, s"rsd=0.01 approx=$ta exact=$te")

    val grouped = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("a"),
           countDistinct(col("l_partkey")).as("e"))
      .collect()
    grouped.foreach { g =>
      val a = g.getLong(g.fieldIndex("a")).toDouble
      val e = g.getLong(g.fieldIndex("e")).toDouble
      assert(e > 0 && math.abs(a - e) / e < 0.05,
        s"group ${g.getString(0)}: approx=$a exact=$e")
    }
  }

  test("misra-gries heavy hitters keep every item above the error bound") {
    // MG guarantee (holds under ANY partition/merge order, so this is
    // deterministic even though the sketch contents are not): estimates
    // undercount by at most N/(k+1), hence every token with true count
    // > N/(k+1) must be present.
    val k = 8
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (k + 1)
    val sketchRow = toks.agg(
      Aggregates.heavyHitters(col("tok"), k).as("sketch")).collect().head
    val sketch = sketchRow.getMap[String, Long](0).toMap
    assert(sketch.size <= k)
    val mustSurvive = exact.filter(_._2 > bound).keySet
    assert(mustSurvive.subsetOf(sketch.keySet),
      s"missing heavy hitters: ${mustSurvive.diff(sketch.keySet)}")
    sketch.foreach { case (tok, est) =>
      val truth = exact(tok)
      assert(est <= truth, s"$tok overcounted: $est > $truth")
      assert(est >= truth - bound, s"$tok undercounted past bound: $est < $truth - $bound")
    }

    // null inputs are skipped like builtin aggregates, never map keys
    val withNulls = toks.union(
      spark.range(10).select(lit(null).cast("string").as("tok")))
    val m2 = withNulls.agg(Aggregates.heavyHitters(col("tok"), k))
      .collect().head.getMap[String, Long](0)
    assert(!m2.keySet.exists(_ == null))
  }

  test("approx_percentile rank error is bounded by 1/accuracy") {
    // GK sketch contract: the returned value's RANK is within n/accuracy
    // of the target rank (the value itself has no generic bound — a
    // heavy-tailed column can move arbitrarily far in one rank step).
    // The query emits the verdicts (oracle-checked); this spec asserts
    // them AND recomputes the rank error independently from a local sort,
    // so a bug in the query's strictly-below/at-or-below counting can't
    // vouch for itself.
    val rows = SparkEntry.queries("agg_approx_percentile")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("p50_rank_ok")) &&
        r.getBoolean(r.fieldIndex("p95_rank_ok")),
        s"${r.getString(0)}: verdict false")
    }
    val approxByFlag = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(1000)).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    approxByFlag.foreach { case (flag, approx) =>
      val sorted = Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === flag)
        .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
      val n = sorted.length
      for ((target, v) <- Seq(0.5, 0.95).zip(approx)) {
        val rank = sorted.count(_ <= v).toDouble
        val err = math.abs(rank - target * n) / n
        assert(err <= 1.0 / 1000 + 1.0 / n,
          s"$flag p$target: value=$v rank=$rank/$n err=$err")
      }
    }
  }

  test("mis-parameterized sketches FAIL their published ε-bounds") {
    // The audits' teeth: a sketch built coarser than the parameter the
    // bound is quoted at must produce FALSE verdicts — otherwise the
    // oracle's all-TRUE assertion would be vacuous. One case per family,
    // each deterministic on the fixed fixture.
    val li = Tables.lineitem(spark, sf)

    // HLL built at rsd=0.39 graded against an rsd=0.01 claim
    val acd = li.agg(approx_count_distinct(col("l_orderkey"), 0.39).as("a"),
        countDistinct(col("l_orderkey")).as("e"))
      .select(Aggregates.cardinalityWithinBounds(col("a"), col("e"),
        rsd = 0.01).as("ok"))
      .collect().head.getBoolean(0)
    assert(!acd, "a 39%-rsd sketch passed a 4x0.01 bound")

    // GK at accuracy=10 graded against the accuracy=1000 rank budget
    val ap = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(10)).as("_p"))
      .select(col("l_returnflag"),
        element_at(col("_p"), 1).as("_p50"),
        element_at(col("_p"), 2).as("_p95"))
    val pct = li.join(broadcast(ap), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("_p50"), 1L).otherwise(0L))
          .as("lt"),
        sum(when(col("l_extendedprice") <= col("_p50"), 1L).otherwise(0L))
          .as("le"))
      .select(Aggregates.rankWithinEps(col("lt"), col("le"), col("n"),
        q = 0.5, eps = 0.001).as("ok"))
      .collect()
    assert(pct.forall(!_.getBoolean(0)),
      "an accuracy=10 sketch passed the accuracy=1000 rank budget")

    // CMS at width=4 graded against the width-256 epsilon
    val keyed = Tables.events(spark, sf)
      .select(concat_ws("_", col("event_type"), col("user_id")).as("k"))
    val sk = keyed.agg(udaf(new Aggregates.CountMin(4, 4)).apply(col("k"))
      .as("sk")).collect().head.getSeq[Long](0).toArray
    val n = sk.slice(0, 4).sum
    val estU = udf((k: String) => Aggregates.cmsEstimate(sk, 4, 4, k))
    val cmsViol = keyed.groupBy("k").agg(count(lit(1)).as("e"))
      .withColumn("_est", estU(col("k")))
      .filter(!Aggregates.cmsWithinEps(col("_est"), col("e"), 256, n))
      .count()
    assert(cmsViol > 0, "a width-4 CMS passed the width-256 epsilon")

    // Misra–Gries at k=4 graded against the k=64 audit: ~30 tokens clear
    // n/65 and cannot all fit in 4 counters, so missing/undercounted
    // verdicts are guaranteed under ANY merge order
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val skMg = toks.agg(Aggregates.heavyHitters(col("tok"), 4).as("_sk"))
    val tot = toks.agg(count(lit(1)).cast("double").as("_n"))
    val est = coalesce(element_at(col("_sk"), col("tok")), lit(0L))
    val mgViol = toks.groupBy("tok").agg(count(lit(1)).as("e"))
      .crossJoin(broadcast(skMg)).crossJoin(broadcast(tot))
      .filter(col("e").cast("double") > col("_n") / lit(65))
      .filter(element_at(col("_sk"), col("tok")).isNull ||
        (col("e") - est).cast("double") > col("_n") / lit(65))
      .count()
    assert(mgViol > 0, "a k=4 MG summary passed the k=64 audit")

    // Theta at lgNomEntries=4 (16 entries, sampling at ~140 grams/src)
    // graded against the lgK=12 bound
    val grams = Tables.documents(spark, sf)
      .select(col("source").as("src"),
        explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
          split(col("text"), " "), 3))).as("gram"))
    val thetaViol = grams.groupBy("src")
      .agg(expr("theta_sketch_agg(gram, 4)").as("sk"),
        countDistinct("gram").as("e"))
      .select(Aggregates.cardinalityWithinBounds(
        expr("theta_sketch_estimate(sk)"), col("e"),
        rsd = 1.0 / math.sqrt(4095.0)).as("ok"))
      .filter(!col("ok")).count()
    assert(thetaViol > 0, "a 16-entry theta sketch passed the 4096-entry bound")
  }

  test("modeByKey: argmax by count, smallest value wins ties, layout-stable") {
    import spark.implicits._
    val df = Seq(
      ("a", 3.0), ("a", 3.0), ("a", 1.0), ("a", 1.0), ("a", 2.0), // tie 3 vs 1
      ("b", 7.0), ("b", 7.0), ("b", 5.0))
      .toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Aggregates.modeByKey(d, Seq("g"), "v")
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
        .toMap
    val got = run(df)
    assert(got === Map("a" -> ((1.0, 2L)), "b" -> ((7.0, 2L))))
    assert(run(df.repartition(7)) === got) // merge order cannot flip ties
  }

  test("bitsetDistinct: bucketed bitmaps count exactly, merge-order stable") {
    import spark.implicits._
    // ids straddle the 1024 bucket boundary and repeat heavily
    val ids = Seq(0L, 1L, 1L, 63L, 64L, 1023L, 1024L, 1025L, 1025L, 2048L)
    val df = ids.map(("g", _)).toDF("g", "id")
    def run(d: org.apache.spark.sql.DataFrame) = d
      .select(col("g"), expr("id div 1024").as("bucket"),
        pmod(col("id"), lit(1024)).cast("long").as("slot"))
      .groupBy("g", "bucket")
      .agg(graft.ops.Aggregates.bitsetDistinct1024(col("slot")).as("n"))
      .groupBy("g").agg(sum(col("n")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // {0,1,63,64,1023} + {1024,1025} + {2048} = 8 distinct
    assert(run(df) === Map("g" -> 8L))
    assert(run(df.repartition(7)) === Map("g" -> 8L))
  }

  test("count-min sketch: row sums = N, never undercounts, merge-order stable") {
    import spark.implicits._
    import graft.ops.Aggregates
    val depth = 4; val width = 1024
    // skewed stream: key_i occurs i times, N = 1+2+…+50 = 1275
    val items = (1 to 50).flatMap(i => Seq.fill(i)(s"key_$i"))
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def sketchOf(parts: Int): Array[Long] = items.toDF("k").repartition(parts)
      .agg(udaf(new Aggregates.CountMin(depth, width)).apply(col("k")).as("sk"))
      .collect()(0).getSeq[Long](0).toArray
    val sketch = sketchOf(5)
    // every row of the matrix independently sums to the stream length
    (0 until depth).foreach { d =>
      assert(sketch.slice(d * width, (d + 1) * width).sum === 1275L)
    }
    // point estimates never undercount (the one-sided CMS guarantee)
    exact.foreach { case (k, n) =>
      val est = Aggregates.cmsEstimate(sketch, depth, width, k)
      assert(est >= n, s"$k: est $est under true $n")
      // 50 keys across 4×1024 counters: the min-row is collision-free
      // for this fixed fixture, so the estimate is exact
      assert(est === n, s"$k: est $est != exact $n at width $width")
    }
    // merge order must not matter: different partitioning, same sketch
    assert(sketchOf(1).toSeq === sketch.toSeq)
    // a deliberately undersized sketch (width 2) forces collisions —
    // estimates inflate but still never undercount
    val tiny = items.toDF("k")
      .agg(udaf(new Aggregates.CountMin(2, 2)).apply(col("k")).as("sk"))
      .collect()(0).getSeq[Long](0).toArray
    exact.foreach { case (k, n) =>
      assert(Aggregates.cmsEstimate(tiny, 2, 2, k) >= n)
    }
  }

  test("skewKurtosis: symmetric group skew 0, formula bit-replicated") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 1), ("b", 4))
      .toDF("g", "x")
    val got = graft.ops.Aggregates.skewKurtosis(df, Seq("g"), "x")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    def ref(sx: Double, sx2: Double, sx3: Double, sx4: Double, n: Double) = {
      val mu = sx / n
      val m2 = sx2 / n - mu * mu
      val m3 = sx3 / n - 3.0 * mu * (sx2 / n) + 2.0 * mu * mu * mu
      val m4 = sx4 / n - 4.0 * mu * (sx3 / n) + 6.0 * mu * mu * (sx2 / n) -
        3.0 * mu * mu * mu * mu
      (m3 / (m2 * math.sqrt(m2)), m4 / (m2 * m2) - 3.0)
    }
    val (skA, kuA) = ref(6, 14, 36, 98, 3)
    val (skB, kuB) = ref(6, 18, 66, 258, 3)
    assert(got.toSeq === Seq(("a", 3L, skA, kuA), ("b", 3L, skB, kuB)))
    assert(skA === 0.0)  // symmetric {1,2,3}
    assert(skB > 0.5)    // right tail {1,1,4}
  }

  test("weightedPercentile: weight mass, not row count, picks the value") {
    import spark.implicits._
    val df = Seq((10.0, 1L, 1L), (20.0, 2L, 2L), (30.0, 1L, 3L))
      .toDF("v", "w", "id")
    def wp(num: Long, den: Long) = graft.ops.Aggregates
      .weightedPercentile(df, col("v"), col("w"), num, den, col("id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // W=4: median needs cum ≥ 2 → 20 (row median would also be 20, but
    // with w(10)=3 the answer flips to 10 — mass decides)
    assert(wp(1, 2).toSeq === Seq((20.0, 3L, 4L)))
    assert(wp(1, 1).toSeq === Seq((30.0, 4L, 4L))) // p=1 → max
    val heavy = Seq((10.0, 3L, 1L), (20.0, 2L, 2L), (30.0, 1L, 3L))
      .toDF("v", "w", "id")
    val got = graft.ops.Aggregates
      .weightedPercentile(heavy, col("v"), col("w"), 1L, 2L, col("id"))
      .collect().map(r => r.getDouble(0))
    assert(got.toSeq === Seq(10.0))
  }

  test("equiDepthHistogram: integer bucket bounds, counts differ by <= 1 run") {
    import spark.implicits._
    // 10 rows, 4 buckets: ⌊(rk−1)·4/10⌋ → sizes 3,2,3,2
    val df = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val got = graft.ops.Aggregates
      .equiDepthHistogram(df, col("v"), 4, col("id"))
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0, 1.0, 3.0, 3L), (1, 4.0, 5.0, 2L),
      (2, 6.0, 8.0, 3L), (3, 9.0, 10.0, 2L)))
  }
}
