package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the "would this survive 100×" checks.
  * Correctness tests say the answer is right; these say the *plan* is the
  * one that scales: filters reach the parquet scan, scans prune columns,
  * dim joins broadcast, top-k avoids a global sort.
  */
class PlanSpec extends GraftSuite {
  import PlanSpec.allNodes

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("f2 range filter is pushed to the parquet scan") {
    val p = plan(SparkEntry.queries("f2_filter_range")(spark, sf))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
           p.contains("IsNotNull(l_shipdate"), p)
  }

  test("o9 keyset page pushes the cursor to the scan and plans top-k") {
    val p = plan(SparkEntry.queries("o9_keyset_page")(spark, sf))
    // the leading-key half of the lexicographic cursor reaches parquet
    // (row-group min/max pruning on o_orderdate at scale)…
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(o_orderdate") ||
           p.contains("Or(GreaterThan(o_orderdate"), p)
    // …and the page is a per-partition heap, not a global sort + skip
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p1 projection prunes the scan schema to 4 columns") {
    val p = plan(SparkEntry.queries("p1_project_compute")(spark, sf))
    // ReadSchema must not include unused cols like l_comment/l_returnflag.
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"), read)
    assert(!read.contains("l_returnflag") && !read.contains("l_shipdate"), read)
  }

  test("q5 joins the dims with broadcast, not shuffle") {
    val p = plan(SparkEntry.queries("q5_local_supplier")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q3's customer join broadcasts from stats, not a forced hint") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    // customer scales with SF: a forced broadcast would fail outright at
    // 100 TB (explicit hints bypass autoBroadcastJoinThreshold), so q3
    // must carry no hint at all...
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"q3 carries broadcast hints: $hints")
    // ...yet at fixture scale the planner still picks a broadcast join FOR
    // THE CUSTOMER RELATION on its own from size estimates (asserting the
    // build side outputs c_custkey — any other relation broadcasting would
    // not satisfy this).
    df.collect()
    val custBroadcast = allNodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastHashJoinExec =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        build.output.exists(_.name == "c_custkey")
    }
    assert(custBroadcast.contains(true),
      s"no BroadcastHashJoin builds on customer:\n${df.queryExecution.executedPlan}")
  }

  test("broadcast hints target only bounded dims, never SF-scaled tables") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // Relations that grow with scale factor; a hint whose subtree reads one
    // is a 100 TB job-killer. Guard on BOTH the hinted subtree's output
    // columns AND its leaf scan paths — a hint over a renamed/aliased
    // projection (as q5/q7 do for nation) carries none of the key names,
    // so the column check alone could be slipped.
    val sfScaled = Set("c_custkey", "s_suppkey", "p_partkey",
      "l_orderkey", "o_orderkey")
    val sfTables = Set("customer", "supplier", "part", "lineitem", "orders")
    val headline = Seq("q3_shipping_priority", "q5_local_supplier",
      "q7_nation_volume", "q10_returned_items", "q12_priority_shipping",
      "q14_promo_effect", "q19_disjunctive_filter")
    for (name <- headline) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.analyzed.collect { case h: ResolvedHint =>
        val cols = h.child.output.map(_.name).toSet
        assert(cols.intersect(sfScaled).isEmpty,
          s"$name force-broadcasts an SF-scaled relation: $cols")
        val scanned = h.child.collectLeaves().flatMap {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
            case _ => Nil
          }
          case other => Seq(other.nodeName)
        }
        val offending = scanned.filter(p =>
          sfTables.exists(t => p.startsWith(s"$t.")))
        assert(offending.isEmpty,
          s"$name force-broadcasts a subtree scanning SF-scaled $offending")
      }
    }
  }

  test("j14 range join plans an equi join on bin keys, never a pairwise scan") {
    val df = SparkEntry.queries("j14_range_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j15 interval-overlap join plans an equi join, never a pairwise scan") {
    val df = SparkEntry.queries("j15_interval_overlap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s8 analyze stats computes every column's metrics in ONE scan") {
    val p = plan(SparkEntry.queries("s8_analyze_stats")(spark, sf))
    // formatted explain prints each node in the tree AND in the detail
    // section — count the numbered detail headers, one per real node
    val scans = p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet\s*"""))
    assert(scans === 1, p)
  }

  test("w8 interval merge windows per supplier, no single-partition stage") {
    val p = plan(SparkEntry.queries("w8_interval_merge")(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("o5 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("o5_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1 aggregate is partial (map-side) before the shuffle") {
    val p = plan(SparkEntry.queries("q1_pricing_summary")(spark, sf))
    // Two HashAggregate nodes (partial + final) around one Exchange.
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, p)
  }

  test("q4 EXISTS plans a semi join that never broadcasts lineitem") {
    // Q4's EXISTS must become a LEFT SEMI join of orders against
    // lineitem. The scale constraint is one-directional: lineitem is the
    // FACT side, so it must be the streamed/probe input — a plan that
    // builds a broadcast from lineitem ships the biggest table in the
    // warehouse to every executor and dies at 100 TB. (A shuffled semi
    // join — SortMergeJoin/ShuffledHashJoin LeftSemi — is the correct
    // 100× shape; a broadcast of the *orders-window* side would also be
    // acceptable, but Spark's semi join always builds from the subquery
    // side, so the only wrong plan is a lineitem broadcast.)
    val df = SparkEntry.queries("q4_order_priority")(spark, sf)
    val p = plan(df)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // No BroadcastExchange may sit on the lineitem scan: every broadcast
    // subtree in the formatted plan must be free of lineitem columns.
    val broadcastBuild = p.linesIterator
      .filter(_.contains("BroadcastExchange")).mkString
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val broadcasts = df.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeLike => b.child.output.map(_.name).toSet
    }
    broadcasts.foreach { cols =>
      assert(!cols.exists(_.startsWith("l_")),
        s"lineitem columns on a broadcast build side: $cols\n$broadcastBuild")
    }
    // The orders date window reaches the parquet scan.
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q21/q17 scan lineitem once; fused windows reuse the join's fact partitioning") {
    // The q21 rewrite exists to kill the decorrelated EXISTS/NOT-EXISTS
    // plan's THREE lineitem legs (main + semi + anti — three fact scans
    // and two extra fact-fact shuffles at 100 TB). Pin the two structural
    // wins under the at-scale shape (broadcast off, so the fact join is
    // a shuffled join like it must be at 100 TB):
    //  1. lineitem appears in exactly ONE scan;
    //  2. both per-order supplier statistics evaluate in ONE Window node
    //     whose required l_orderkey partitioning is satisfied by the
    //     join's own exchanges — exactly 2 hashpartitioning(l_orderkey)
    //     exchanges in the whole plan (the two join inputs), a third
    //     would mean the window re-shuffled the fact.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q21_suppliers_waiting")(spark, sf)
      df.collect() // finalize the adaptive plan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.window.WindowExec
      val nodes = allNodes(df.queryExecution.executedPlan)
      val windows = nodes.collect { case w: WindowExec => w }
      assert(windows.size === 1,
        s"expected one fused Window node, got ${windows.size}")
      assert(windows.head.windowExpression.size === 2,
        "both supplier statistics must evaluate in the single Window node")
      val liScans = nodes.count(n => n.nodeName.contains("Scan") &&
        n.output.map(_.name).contains("l_suppkey"))
      assert(liScans === 1, s"lineitem scanned $liScans times, expected 1")
      val orderkeyExchanges = nodes.collect {
        case e: ShuffleExchangeLike if e.outputPartitioning.toString
          .contains("l_orderkey") || e.outputPartitioning.toString
          .contains("o_orderkey") => e
      }
      assert(orderkeyExchanges.size <= 2,
        s"window added a fact re-shuffle: ${orderkeyExchanges.size} orderkey exchanges")

      // q17 carries the same rewrite (correlated per-part avg → window
      // over the part-filtered join): one lineitem scan — the
      // decorrelated subquery text would scan and full-grain-aggregate
      // the fact a second time — and no third partkey exchange.
      val df17 = SparkEntry.queries("q17_small_quantity")(spark, sf)
      df17.collect()
      val n17 = allNodes(df17.queryExecution.executedPlan)
      val li17 = n17.count(n => n.nodeName.contains("Scan") &&
        n.output.map(_.name).contains("l_quantity"))
      assert(li17 === 1, s"q17 scanned lineitem $li17 times, expected 1")
      val partkeyExchanges = n17.collect {
        case e: ShuffleExchangeLike if e.outputPartitioning.toString
          .contains("partkey") => e
      }
      assert(partkeyExchanges.size <= 2,
        s"q17 window added a fact re-shuffle: ${partkeyExchanges.size} partkey exchanges")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q18/q2 scan their fact side once (agg-first / window rewrites)") {
    // q18's IN-subquery text plans lineitem twice (outer join-agg + the
    // left-semi HAVING leg); the agg-first rewrite must keep it at ONE
    // scan, with the >150 filter applied post-agg before any join.
    val df18 = SparkEntry.queries("q18_large_volume")(spark, sf)
    df18.collect()
    val n18 = allNodes(df18.queryExecution.executedPlan)
    val li18 = n18.count(n => n.nodeName.contains("Scan") &&
      n.output.map(_.name).contains("l_quantity"))
    assert(li18 === 1, s"q18 scanned lineitem $li18 times, expected 1")

    // q2's correlated-min text plans the ASIA offer join twice (outer +
    // aggregated-subquery legs): the cached partsupp AND supplier would
    // each appear in two scans. The window rewrite keeps both at ONE.
    val df2 = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
    df2.collect()
    val n2 = allNodes(df2.queryExecution.executedPlan)
    val ps2 = n2.count(n => n.nodeName.contains("Scan") &&
      n.output.map(_.name).contains("ps_supplycost"))
    assert(ps2 === 1, s"q2 scanned partsupp $ps2 times, expected 1")
    val supp2 = n2.count(n => n.nodeName.contains("Scan") &&
      n.output.map(_.name).contains("s_acctbal"))
    assert(supp2 === 1, s"q2 scanned supplier $supp2 times, expected 1")
  }

  test("q20 kept text: one fact scan, part-pruned partsupp before the pair join") {
    // q20 is a probed-and-KEPT SQL text (see the TpchQueries keep-note):
    // this pins the evidence the keep cites. Spark's decorrelation of
    // the nested-IN text scans lineitem exactly ONCE — the correlated
    // sum becomes the (partkey, suppkey)-grain agg that feeds the join
    // directly, with no duplicated fact leg (the q17/q18/q21 disease
    // this query does NOT have) — and partsupp is semi-pruned by the
    // `p_name LIKE 'small%'` pattern BELOW the pair-grain join, so that
    // exchange never carries non-matching pairs. If a Spark upgrade
    // breaks either property, the round-14 rewrite probe (semi-join the
    // part keys into the fact below the agg) becomes worth re-measuring;
    // as measured it LOST at ×1/×10/×30.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val df = SparkEntry.queries("q20_part_promotion")(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = allNodes(df.queryExecution.executedPlan)
    val liScans = nodes.count(n => n.nodeName.contains("Scan") &&
      n.output.map(_.name).contains("l_quantity"))
    assert(liScans === 1, s"q20 scanned lineitem $liScans times, expected 1")
    assert(nodes.exists {
      case a: BaseAggregateExec =>
        a.groupingExpressions.map(_.name).toSet == Set("l_partkey", "l_suppkey")
      case _ => false
    }, "q20 lost its decorrelated (partkey, suppkey)-grain agg")
    val pairJoins = nodes.collect {
      case j: BaseJoinExec if j.leftKeys.size == 2 &&
        (j.leftKeys ++ j.rightKeys).map(_.toString).mkString
          .contains("ps_partkey") => j
    }
    assert(pairJoins.nonEmpty, "pair-grain partsupp join missing")
    assert(pairJoins.exists(pj => allNodes(pj).exists {
      case s: BaseJoinExec => s.joinType == LeftSemi &&
        (s.leftKeys ++ s.rightKeys).map(_.toString).mkString
          .contains("p_partkey")
      case _ => false
    }), "partsupp must be part-pruned below the pair-grain join")
  }

  test("no query plans an accidental cartesian product") {
    // Queries that are *intentionally* pairwise (bounded/blocked baselines
    // or explicit cross joins) — everything else must never plan a
    // CartesianProduct, the #1 silent scale-killer.
    val intentional = Set(
      "j2_join_cross",        // explicit cartesian
      "ss1_cosine_topk",      // bounded brute-force baseline
      "dd5_ngram_neardup_pairs", // blocked pairwise (same-source)
      "dd6_embedding_neardup" // bounded pairwise baseline
    )
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !intentional(name) =>
        val p = plan(fn(spark, sf))
        if (p.contains("CartesianProduct")) Some(name) else None
      case _ => None
    }
    assert(offenders.isEmpty, s"unexpected cartesian products: $offenders")
  }

  // The prefix sums must never funnel through one task — the one-task
  // global window was the original hazard — nor shuffle twice: the old
  // Window.partitionBy(_pid) phase 2 made Spark insert a SECOND
  // full-data Exchange hashpartitioning(_pid) after the range shuffle.
  private def assertOnePrefixScanStage(q: String): Unit = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    val bad = PlanSpec.prefixScanViolations(df)
    assert(bad.isEmpty, s"$q: ${bad.mkString("; ")}")
    assert(!plan(df).contains("SinglePartition"), s"$q:\n${plan(df)}")
  }

  test("pl3 context packing plans no single-partition stage, no pid re-shuffle") {
    assertOnePrefixScanStage("pl3_context_packing")
  }

  test("pl2 shuffle position plans no single-partition or pid re-shuffle stage") {
    assertOnePrefixScanStage("pl2_deterministic_shuffle")
  }

  test("pl5 vocabulary id assignment plans no single-partition or pid re-shuffle stage") {
    assertOnePrefixScanStage("pl5_vocabulary")
  }

  test("event analytics and trending windows are partitioned, never single-task") {
    Seq("ev3_spikes", "ev4_scd2_history", "st10_trending").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("Window"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
  }

  test("kmeans and semantic dedup broadcast the bounded centroid side") {
    // the corpus-side scan must stream against broadcast centroids — a
    // shuffled join here would move the whole corpus per Lloyd round
    Seq("ss6_kmeans", "dd14_semantic_dedup").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("Broadcast"), s"$q:\n$p")
    }
  }

  test("skyline, transitions, boilerplate strip plan no single-task stage") {
    // ev5: the lag window partitions by user and the normalizer by
    // from_type; ta14: the rebuild is an aggregation, not a window at all.
    Seq("ev5_transition_matrix").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("Window"), s"$q:\n$p")
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
    val p = plan(SparkEntry.queries("ta14_boilerplate_strip")(spark, sf))
    assert(!p.contains("SinglePartition"), p)
    // The global-order operators — running sum (ev10, ev13, weighted
    // median), rank (ev13, equi-depth) and the skyline's running min
    // (o7) — each plan one PrefixScanExec over exactly one range
    // exchange: no cached frame, no window, no single-partition stage.
    Seq("ev10_user_growth", "o7_skyline").foreach(assertOnePrefixScanStage)
    // ev13, agg_equidepth and agg_weighted_median end with a LEGITIMATE
    // SinglePartition (the 1-row grand-total merge every ungrouped
    // aggregate ends with), and ev13 reads its pinned user rollup, so
    // their shape is asserted beneath each scan; any window elsewhere
    // must be partitioned.
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("ev13_lorenz_curve", "agg_equidepth", "agg_weighted_median")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect()
        val bad = PlanSpec.prefixScanViolations(df,
          pinnedInput = q == "ev13_lorenz_curve")
        assert(bad.isEmpty, s"$q: ${bad.mkString("; ")}")
        allNodes(df.queryExecution.executedPlan).collect {
          case w: WindowExec => w }.foreach { w =>
          assert(w.partitionSpec.nonEmpty,
            s"$q window must be partitioned, got: $w")
        }
      }
    graft.ops.Pipeline.releaseCaches()
  }

  test("pl9 exact-k sample and st8 sessionize window per stratum/user") {
    // both are window operators — the windows must be PARTITIONED
    // (stratum / user), never a single-task global window
    val p9 = plan(SparkEntry.queries("pl9_exact_k_sample")(spark, sf))
    assert(!p9.contains("SinglePartition"), p9)
    val s8 = plan(SparkEntry.queries("st8_sessionize")(spark, sf))
    assert(!s8.contains("SinglePartition"), s8)
  }

  test("late-round-7 window ops are keyed, never single-task") {
    // ev18 sessionize lag/sum windows partition by user; dd19's election
    // window by cluster — every window must stay keyed. (pl18 rides
    // globalPosition's prefix scan, whose plan shape is asserted in the
    // ev13 test above.)
    Seq("ev18_sessions", "dd19_cluster_reps")
      .foreach { q =>
        val p = plan(SparkEntry.queries(q)(spark, sf))
        assert(p.contains("Window"), s"$q:\n$p")
        assert(!p.contains("SinglePartition"), s"$q:\n$p")
      }
    import org.apache.spark.sql.execution.window.WindowExec
    // pl19/pl21's ungrouped min-target aggregate legitimately merges on
    // one row (the ev13 exemption) — assert the precise property
    // instead: every WINDOW stage is partitioned
    Seq("pl19_balanced_sample", "pl21_corpus_pipeline").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val windows = allNodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q should plan window stages")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$q window must be partitioned, got: $w")
      }
    }
  }

  test("ta10 bm25 plans broadcast corpus stats and top-k, no global sort") {
    val df = SparkEntry.queries("ta10_bm25_search")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the one-row corpus-stats frame joins via broadcast (nested-loop on
    // a single row), never a shuffled or cartesian join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // LIMIT over ORDER BY plans TakeOrderedAndProject — per-partition
    // top-k then merge, not a global sort of every scored doc
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("runtime bloom filter injects on a selective dim→fact shuffle join") {
    // At 100 TB, a fact scan joined to a FILTERED dim too big to
    // broadcast is cut by a runtime bloom filter on the join key
    // (Catalyst's InjectRuntimeFilter) — rows that cannot match are
    // dropped at the fact scan before the shuffle. This works only when
    // the join stays a plain declarative equi join, which is exactly our
    // shape; the thresholds here mimic at-scale conditions (broadcast
    // off = dim doesn't fit; app-side scan threshold 0 = fact "large").
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val ord = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
    val li = Tables.lineitem(spark, sf)
    val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter injected:\n${opt.take(3000)}")
      assert(joined.count() === expected, "bloom filter changed the result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dsir and temperature-mixture broadcast their bounded model side") {
    // pl23: the 65536-row bucket model and the one-row totals must join
    // via broadcast — the corpus side never shuffles for the model join
    val dsir = SparkEntry.queries("pl23_dsir_weights")(spark, sf)
    dsir.collect()
    val pd = dsir.queryExecution.executedPlan.toString
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(pd.contains("BroadcastNestedLoopJoin"), pd) // one-row totals
    assert(!pd.contains("CartesianProduct"), pd)
    // pl24: the #sources share table broadcasts; the fact side's only
    // join is a BroadcastHashJoin (keep test is scan-local)
    val mix = SparkEntry.queries("pl24_temperature_mixture")(spark, sf)
    mix.collect()
    val pm = mix.queryExecution.executedPlan.toString
    assert(pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("SortMergeJoin"), pm)
  }

  test("round-9 ops: keyed windows, broadcast centroids, no single-task stage") {
    // pl26 shard plan rides the two-phase running total — the cut must
    // never funnel the corpus through one task
    val p26 = plan(SparkEntry.queries("pl26_shard_plan")(spark, sf))
    assert(!p26.contains("SinglePartition"), p26)
    // mm7 scene cuts: the lag window partitions by media_id
    val p7 = plan(SparkEntry.queries("mm7_scene_cuts")(spark, sf))
    assert(!p7.contains("SinglePartition"), p7)
    // ss17: the labels×1 centroid table joins back via broadcast — the
    // corpus side never sort-merge-joins for it
    val o = SparkEntry.queries("ss17_centroid_outliers")(spark, sf)
    o.collect()
    val po = o.queryExecution.executedPlan.toString
    assert(po.contains("BroadcastHashJoin"), po)
    assert(!po.contains("SortMergeJoin"), po)
  }

  test("round-10 ops: keyed windows and partial aggs, no single-task stage") {
    // dd26 dup spans: the recurrence count must partial-aggregate before
    // its gram shuffle, and the span-merge window partitions by doc —
    // never a global order
    val d26 = SparkEntry.queries("dd26_dup_spans")(spark, sf)
    val p26 = plan(d26)
    assert(!p26.contains("SinglePartition"), p26)
    assert(p26.linesIterator.count(_.contains("HashAggregate")) >= 2, p26)
    // pl29 source caps / ev26 + st15 contribution caps: ranks window on
    // (source) / (user, day) keys
    Seq("pl29_source_caps", "ev26_contribution_cap",
        "st15_contribution_cap").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
    }
    // ta28 zipf: the token count partial-aggregates (map-side combine on
    // the one data-sized shuffle) and the top-100 is a bounded
    // TakeOrderedAndProject, not a global sort; its 100-row OLS window
    // is the documented intentional single-partition stage.
    val pz = plan(SparkEntry.queries("ta28_zipf_slope")(spark, sf))
    assert(pz.contains("TakeOrderedAndProject"), pz)
    assert(pz.linesIterator.count(_.contains("HashAggregate")) >= 2, pz)
  }

  test("single-scan rollups read the corpus once with bounded exchanges") {
    // dd12 / ta18 / dd26 were rewritten from groupBy-then-join-back to
    // one-pass window/partial-aggregate shapes; these counts pin that a
    // future edit can't silently reintroduce the second corpus scan or
    // the extra data-sized shuffle. Formatted explain prints each
    // physical node once as a `(n) Name` detail line — count those.
    def nodes(p: String, name: String): Int =
      p.linesIterator.count(_.matches(s"\\(\\d+\\) $name(\\s.*)?"))
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val shapes = Seq(
      // chunk_md5 window + doc_id rollup
      ("dd12", graft.ops.Dedup.repeatedChunkStats(
        docs, col("doc_id"), col("text"), 50), 2),
      // (doc, sent) partial agg + doc rollup
      ("ta18", graft.ops.TextAnalysis.dedupSentences(
        docs, col("doc_id"), col("text")), 2),
      // gram window + doc window; the span rollup groups on
      // (doc_id, span_id) — a superset of the window's doc_id hash
      // partitioning, so it reuses that exchange
      ("dd26", graft.ops.Dedup.duplicateSpans(
        docs, col("doc_id"), col("text"), 5), 2),
      // gram-df window + doc rollup
      ("ta20", graft.ops.TextAnalysis.ngramNovelty(
        docs, col("doc_id"), col("text"), 3), 2))
    for ((tag, df, maxExchanges) <- shapes) {
      val p = plan(df)
      assert(nodes(p, "Scan parquet") == 1,
        s"$tag should scan documents exactly once:\n$p")
      assert(nodes(p, "Exchange") <= maxExchanges,
        s"$tag should shuffle at most $maxExchanges times:\n$p")
    }
  }

  test("whole-stage codegen covers the q6 scan-filter-agg pipeline") {
    // AQE only materializes the final physical plan after execution, so
    // run the query first and inspect executedPlan.
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    df.collect()
    // Codegen stages render as `*(n)` prefixes in the plan string.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }
}

object PlanSpec {
  import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.window.WindowExec

  /** Every node of an executed plan. Walks through AQE wrappers: query
    * stages (incl. Spark 4's ResultQueryStage) are leaf nodes, so a plain
    * collect() never descends into them; `throughReuse` also walks into
    * the exchange a ReusedExchange stands for. */
  def allNodes(p: SparkPlan, throughReuse: Boolean = false): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case r: ReusedExchangeExec if throughReuse => r +: walk(r.child)
      case other => other +: other.children.flatMap(walk)
    }
    walk(p)
  }

  /** How an executed `df` departs from the prefix-scan plan shape:
    * it must hold a PrefixScanExec, and beneath each one exactly one
    * range exchange (a reused one counts once), no window and no
    * single-partition exchange, and no cached frame — or, with
    * `pinnedInput`, only cached frames that hold no range partitioning
    * (an operator's reuse pin, not a prefix-scan cache). */
  def prefixScanViolations(
      df: DataFrame, pinnedInput: Boolean = false): Seq[String] = {
    def ranged(nodes: Seq[SparkPlan]) = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RangePartitioning] => e }
    val scans = allNodes(df.queryExecution.executedPlan).collect {
      case s: graft.plans.PrefixScanExec => s }
    if (scans.isEmpty) return Seq("no PrefixScanExec in the plan")
    scans.flatMap { s =>
      val nodes = allNodes(s.child, throughReuse = true)
      val cached = nodes.collect { case c: InMemoryTableScanExec => c }
      Seq(
        Option.when(ranged(nodes).size != 1)(
          s"${ranged(nodes).size} range exchanges beneath $s"),
        Option.when(nodes.exists(_.isInstanceOf[WindowExec]))(
          s"a window beneath $s"),
        Option.when(nodes.exists {
          case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
          case _ => false
        })(s"a single-partition exchange beneath $s"),
        Option.when(if (pinnedInput)
            cached.exists(c => ranged(allNodes(c.relation.cachedPlan)).nonEmpty)
          else cached.nonEmpty)(s"a cached frame beneath $s")
      ).flatten
    }
  }
}
