package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Benchmark main — 8-query TPC-H-class headline suite (the shapes the
  * reference's README bench claims, README.md:5) on
  * SPARK_GRAFT_SF_DIR, one JSON contract line on stdout.
  *
  * Methodology mirrors the reference's own setup (BASELINE.md): tables are
  * pre-loaded before the timed loop (the reference eagerly materializes at
  * CREATE, Microbase.scala:960-983 — here `cache()` + force), three warmup
  * passes absorb plan/codegen compilation and JIT stragglers, then each
  * query is timed end-to-end (5 reps INTERLEAVED round-robin across
  * queries; median AND min reported, ALL reps + GC time emitted so an
  * outlier rep is diagnosable from the artifact alone). An informational
  * `tpch22_total` sums every TPC-H shape's min of 3 reps, taken after
  * two warmup passes.
  *
  * The JSON line is printed to stdout and also written to
  * `BENCH_LAST.json` (launchers like sbt prefix stdout, which defeats a
  * log-scrape json parse).
  *
  * `BENCH_LAST.json` is the MOST RECENT capture, overwritten by every
  * run (including the driver's end-of-round run). The capture OF RECORD
  * — the one SCALE.md quotes and `tools/doc_sync_check.py` gates — is
  * `BENCH_RECORD.json`, promoted by an explicit
  * `cp BENCH_LAST.json BENCH_RECORD.json` + commit after adjudicating
  * the capture (keep-best across spaced runs; stall_flags carry the
  * noise provenance). This split exists because the r12 and
  * r13 end-of-round driver runs both overwrote the then-gated
  * BENCH_LAST.json with tenancy-contaminated captures, and each
  * following round had to spend its opening re-adjudicating the docs.
  */
object Bench {

  /** The timed suite: 8 TPC-H-class queries (scan/filter/agg, 3-to-6-way
    * broadcast joins, conditional aggregation, disjunctive predicates). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "q12_priority_shipping",
    "q14_promo_effect", "q19_disjunctive_filter")

  /** The llm suite: the LLM-data-pipeline rows timed after tpch22.
    * `ss20_serve` is not a catalog entry: it serves a query batch against
    * the IVF-PQ model the bench trains once. */
  val llm: Seq[String] = Seq(
    "dd1_exact_dedup", "dd3_minhash_dup_pairs", "dd12_repeated_chunks",
    "dd16_sorted_neighborhood",
    "ta2_quality_score", "ta16_gopher_rules", "ta14_boilerplate_strip",
    "ta18_sentence_dedup",
    "ss4_ivf_topk", "pl3_context_packing", "ev5_transition_matrix",
    "ev16_rolling_wau",
    // the composed flagship (quality+dedup+decontamination+balance
    // in one plan) and the batch sessionizer — both late-round-7
    "pl21_corpus_pipeline", "ev18_sessions",
    // round-9 additions: the Bloom exact-dup ingest gate, the
    // multi-signal agreement audit, scene cuts, the shard planner,
    // and the lexical-diversity audit
    "dd22_bloom_ingest_gate",
    "mm7_scene_cuts", "pl26_shard_plan", "ta26_lexical_diversity",
    "ss18_mmr_topk", "dd24_semantic_decontamination",
    "ss19_rocchio_expand", "pl27_source_interleave",
    // the crawl-admission flagship (all three ingest gates composed)
    "dd25_ingest_pipeline",
    // round-20 addition: the payload-slimmed sorted-neighborhood
    // path (xxhash64 grams, 8 B/gram through the id-join exchanges)
    // cataloged as dd28 in the r20 build — timed NEXT TO dd16 so the
    // string-oracle form and the shipped 100 TB form stay comparable
    // in every capture (ABRW "dd16hash" measured the pair at
    // 1.37–1.39× across ×1/×10/×30; llm_total grows by this row's
    // cost at the r19→r20 boundary — compare per-query)
    "dd28_sorted_neighborhood_hashed",
    // round-10 additions: span-level dedup, the source-cap/
    // contribution-cap balancers, and the IVF-PQ SERVE row —
    // round 18 split the old ss20_ivfpq_topk bundle: codebook
    // training (once-per-corpus at 100 TB, and the stall source in
    // the r16+r17 gated captures) is timed separately as
    // `ss20_train`; this row is the per-query serve cost against
    // the pinned trained model (scoped pins keep the model alive
    // across the per-rep releaseCaches)
    "dd26_dup_spans", "pl29_source_caps", "ev26_contribution_cap",
    "ss20_serve",
    // round-17 addition: the scale-path signal-agreement matrix
    // (dd23's timed dual over bucketed signals — see the dd23 note)
    "dd27_lsh_signal_agreement",
    // round-21 addition: the hashed-feature classifier scan (its
    // interpreted per-feature aggregate fold went native this round
    // — r20 verdict item 4 asked for the row to be bench-visible;
    // additions-only, llm_total grows by this row's cost at the
    // r20→r21 boundary — compare per-query)
    "ta22_hashed_classifier")

  /** Stall sentinel (r12 lesson): the r12 driver run recorded ss20 reps
    * of 8.8/8.1/12.9 s with 599–798 ms GC per rep and q21 reps
    * [1.57, 3.25, 5.40] on code commit-identical to a round that
    * measured 2.84 s / [1.2, 1.1, 0.98] — a background-load signature
    * that was only diagnosable by hand-reading rep arrays. A rep is
    * flagged when its stop-the-world GC exceeds `gcThresholdMs` (clean
    * runs top out well under 100 ms per rep; contaminated reps measured
    * 468–798 ms) or its wall time exceeds `ratio`× that query's own min
    * (a one-sided environment stall; a real plan regression moves ALL
    * reps). Sub-50 ms query mins are exempt from the ratio rule
    * (scheduler jitter alone can triple them). A run with a non-trivial
    * stall_flag_count is machine-detectably contaminated and must not
    * become the artifact of record without adjudication. Detection only:
    * flagged reps are reported as measured, never re-run or replaced. */
  private[graft] def repFlagged(sec: Double, gcMs: Long, minSec: Double,
      gcThresholdMs: Long, ratio: Double): Boolean =
    (minSec > 0.05 && sec > ratio * minSec) || gcMs > gcThresholdMs

  /** One JSON object string per rep that [[repFlagged]] flags. */
  private[graft] def stallFlags(section: String,
      rows: Seq[(String, Seq[Double], Seq[Long])],
      gcThresholdMs: Long = 150L, ratio: Double = 2.5): Seq[String] =
    rows.flatMap { case (q, reps, gcs) =>
      val mn = if (reps.nonEmpty) reps.min else 0.0
      reps.zipWithIndex.flatMap { case (v, i) =>
        val gc = if (i < gcs.size) gcs(i) else 0L
        if (repFlagged(v, gc, mn, gcThresholdMs, ratio))
          Some(s"""{"section":"$section","query":"$q","rep":${i + 1},""" +
            f""""sec":$v%.4f,"min":$mn%.4f,"gc_ms":$gc}""")
        else None
      }
    }

  /** The session every main (Bench, ScaleCurve, PlanDump, Verify,
    * StrictStrata, Repl) runs under, so their timings, plans and answers
    * are the bench's. */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors(), 32).toString)
    // a fresh warehouse per session, removed at exit unless a table was
    // saved into it
    val warehouse = java.nio.file.Files.createTempDirectory(s"$appName-wh-").toFile
    warehouse.deleteOnExit()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      // The fixtures are single small parquet files; at the default 128 MB
      // maxPartitionBytes each table scans (and caches) as ONE partition,
      // so every query's scan stage runs single-threaded regardless of
      // cores. Split to ~1 MB so the cached tables hold tens of
      // partitions and scans use the machine. (At cluster scale this knob
      // goes the other way — 256–512 MB — per SCALE.md; it is a
      // data-size-to-parallelism dial either way.)
      .config("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Spark keeps compiled generated classes in one JVM-wide LRU of 100
      // entries. A pass over the tpch22 list generates ~430 classes and
      // one over the llm list ~590, so at 100 (and at 250 or 500 for llm)
      // each warm rep evicted every class before its next use and
      // compiled them all again. At 1000 both lists fit. A static conf:
      // it must be set when the session is built.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Total stop-the-world GC time across all collectors, in ms. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** The one timing discipline every timed section shares (Bench's
    * headline, tpch22, llm and ss20_train, and ScaleCurve's points — the
    * stall sentinel and drift watch compare across sections, so they
    * must never diverge): gc delta + wall clock around the body. */
  private[graft] def timedBody(body: => Unit): (Double, Long) = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, gcMillis() - gc0)
  }

  /** One timed end-to-end execution of `plan(q)` — the same measurement
    * for every warmup and rep of every section. Graft-pinned frames
    * are released AFTER the timed window (round-18 honesty fix: q15
    * persists+pins its per-supplier aggregate at construction, and
    * Spark's cache manager matches plan-identical frames — without the
    * release, every rep after the warmup read the warmup's cached
    * aggregate instead of executing the query, so the tpch22 q15 row
    * timed a cache read; captures from r18 on pay the honest
    * re-execution, ~0.33 → ~0.7 s at sf0.1). */
  def timedRun(plan: String => DataFrame)(q: String): (Double, Long) = {
    val r = timedBody(Force.run(plan(q)))
    graft.ops.Pipeline.releaseCaches()
    r
  }

  /** The one timed loop: `warmups` passes whose timings are discarded
    * (plan + codegen for every query, so rep 1 of query 1 doesn't pay a
    * JIT storm its neighbors skip), then `reps` passes INTERLEAVED
    * round-robin across queries (rep 1 of every query, then rep 2 of
    * every query, …), not back-to-back per query: a multi-second
    * environment stall (page-cache writeback, a competing process, a JIT
    * deopt storm) then lands in at most one rep of each query — where
    * the median/min discards it — instead of concentrating in one
    * query's reps (the r6 "q3 regression" and the r3→r4 "q10
    * regression" were exactly this ambiguity). EVERY rep and its GC
    * delta go to the artifact, so an outlier is diagnosable from the
    * JSON alone: a noisy environment shows one blown rep among steady
    * ones (usually with a fat gc_ms), a real regression shows
    * consistently slow reps. `settleGc` forces a full collection and
    * gives concurrent phases a beat to finish before the timed reps, so
    * they start from a compacted heap instead of paying the warmups'
    * garbage.
    *
    * Returns the (query, reps, gc per rep) rows in `names` order, exactly
    * as measured: a stall-flagged rep stays in its row. */
  def timedSuite(names: Seq[String], warmups: Int, reps: Int,
      settleGc: Boolean = false)(run: String => (Double, Long))
      : Seq[(String, Seq[Double], Seq[Long])] = {
    (1 to warmups).foreach(_ => names.foreach(run))
    if (settleGc) { System.gc(); Thread.sleep(1000) }
    val acc = collection.mutable.Map(names.map(_ -> Vector.empty[(Double, Long)]): _*)
    (1 to reps).foreach(_ => names.foreach(q => acc(q) :+= run(q)))
    names.map(q => (q, acc(q).map(_._1), acc(q).map(_._2)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session("graft-bench")

    // Pre-computation (reference parity): cache + force the TPC-H tables.
    // Queries re-reading the same parquet paths hit the cached
    // InMemoryRelation via logical-plan cache matching.
    Tables.tpch.foreach { t => Tables.load(spark, sfDir, t).cache().count() }

    val catalog: String => DataFrame = q => SparkEntry.queries(q)(spark, sfDir)

    // Headline: THREE warmup passes — the first absorbs plan +
    // whole-stage-codegen compilation, the second catches the stragglers
    // (C2 recompiles, the first GC young-gen resize), the third settles
    // allocation-rate ergonomics; at sub-second magnitudes one straggler
    // rep moves even a median-of-5 (r8's recorded headline doubled vs r6
    // purely from rep-loop GC churn; per-query gc_ms up to 1.16 s proved
    // it). Then 5 reps per query, median reported; the per-query MIN is
    // emitted alongside: min is immune to one-sided noise, so median >>
    // min flags "stalled environment" while median ≈ min ≫ last round
    // flags a real plan regression. Each rep is end-to-end (plan +
    // execute + materialize), same warmed-cache methodology as the
    // reference's pre-loaded tables.
    val repCount = 5
    val timed = timedSuite(headline, warmups = 3, reps = repCount,
      settleGc = true)(timedRun(catalog))
    val results = timed.map { case (q, reps, _) =>
      q -> reps.sorted.apply(repCount / 2)
    }
    val mins = timed.map { case (q, reps, _) => q -> reps.min }

    // Informational sweeps are wrapped: a crash in one must NOT kill the
    // headline artifact (round 7's driver bench lost its number exactly
    // this way — a loader regression threw inside the tpch22 sweep and the
    // whole process exited rc=1 with nothing recorded).
    // NonFatal only: an OutOfMemoryError or similar fatal JVM state must
    // kill the process rather than record a healthy-looking headline from
    // an unreliable JVM.
    def informational[A](label: String)(body: => Seq[A]): Seq[A] =
      try body catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $label sweep failed, omitting: ${e.getMessage}")
          Nil
      }

    // Informational full-suite sweep: every TPC-H shape in the catalog —
    // not part of the headline metric (BASELINE.md defines the 8-query
    // suite) but a regression in e.g. q9/q18/q21 becomes visible
    // round-over-round instead of timed nowhere. Two warmup passes (with
    // one, rep 1 was still on the warm-up curve and tripped the stall
    // sentinel), then 3 reps with the per-query MIN reported (r10
    // committed a single-rep sweep whose heavy rows contradicted the same
    // JVM's rep'd sections and was un-adjudicable from the JSON alone).
    val tpch22Raw: Seq[(String, Seq[Double], Seq[Long])] = informational("tpch22") {
      val qs = graft.queries.TpchQueries.queries.keys.toSeq
        .sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt)
      timedSuite(qs, warmups = 2, reps = 3)(timedRun(catalog))
    }
    // per-query min = steady-state cost; the total is a sum of mins
    val tpch22: Seq[(String, Double)] =
      tpch22Raw.map { case (q, reps, _) => q -> reps.min }

    // Informational LLM-pipeline sweep: representative beyond-reference
    // operators (dedup, similarity join, text filters, packing,
    // behavioral) — the throughput evidence for the non-TPC-H half of the
    // catalog, which the headline metric never touches. Two warmup passes
    // (as tpch22), then 3 reps per query with the per-query MIN reported (r9's
    // single-rep sweep "showed" dd16 4.7→26 s and ta14 0.13→1.7 s while
    // pl21 — which composes ta14 — improved 5×; a single rep in a
    // 24-query sweep attributes environment stalls and cache evictions to
    // whichever query they land on).
    // dd3 (MinHash-LSH) is the timed similarity join — the scale path.
    // The exactness baselines are deliberately NOT here: dd7's global
    // PPJoin admits huge candidate sets on the shared-token word-salad
    // fixtures (measured 107 s at sf0.1 vs 3 s at sf0.01) and dd5's demo
    // blocking brute-forces inside blocks (26 s) — both are documented as
    // oracle baselines whose 100 TB path is dd3/dd12, and a minutes-long
    // informational entry would dominate the whole bench run. dd23
    // (signal agreement) left the suite in round 16 for the same reason:
    // its signals deliberately reuse the dd5/dd15 BASELINE generators
    // (trigram Jaccard + containment — the methodology audit compares
    // against exact truth, that is its point), so its honest Force-timed
    // cost is the baselines' quadratic 18 s, which would be a third of
    // llm_total while measuring the generators the suite already
    // excludes. Round 17 restores the timed row as dd27: the SAME
    // agreement matrix composed over the bucketed scale-path signals
    // (exact/prefix md5 equi-joins + dd3's MinHash-LSH + dd8's SimHash
    // buckets) — the 100 TB form, every input shuffle-keyed, never n².
    // --- ss20 train/serve split (round 18) -------------------------------
    // The old ss20_ivfpq_topk llm row bundled PQ codebook TRAINING
    // (k-means — once-per-corpus at 100 TB) with query SERVING, so the
    // per-query figure misstated the serve cost and the training job was
    // the stall source in two consecutive gated captures. Split: the
    // model is trained ONCE into its own pin scope (which the per-rep
    // releaseCaches cannot touch — the scoped-pinning contract), serve
    // reps probe the pinned code frame, and training cost is its own
    // gated section (`ss20_train`: reps + min + gc + stall sentinel,
    // fresh scope per rep released outside the timed window).
    // `ss20_ivfpq_topk` (the composed one-call form) stays the
    // oracle-checked catalog entry; it is not re-timed here.
    val ss20Scope = new graft.ops.Pipeline.PinScope
    var ss20Model: Option[graft.ops.Similarity.IvfPqModel] = None
    // Parameters track the catalog entry's round-19 adopted operating
    // point (nprobe=4, m=8, cb=32 — see the ss20_ivfpq_topk keep-note):
    // measured at 32g/sf0.1, ss20_serve moved 0.91–0.98 → ~1.48 s and
    // ss20_train 1.7–1.9 → ~2.8 s for recall_l2@20 0.835 → 0.934, so
    // compare the two rows across the r18→r19 boundary
    // per-configuration, not per-row.
    def ss20Train(): graft.ops.Similarity.IvfPqModel =
      graft.ops.Similarity.ivfPqTrain(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        dim = 64, numCoarse = 8, m = 8, codebookSize = 32, updates = 1)
    def ss20Trained(): graft.ops.Similarity.IvfPqModel =
      ss20Model.getOrElse {
        val mdl = graft.ops.Pipeline.withScope(ss20Scope)(ss20Train())
        Force.run(mdl.encoded) // materialize the code frame train-side
        // serving reads only the code frame; the corpus-sized residual
        // cache would otherwise sit in memory across the whole llm
        // sweep, competing under LRU with the cached tables the timed
        // reps read (r18 review) — drop it once the codes exist
        mdl.residuals.unpersist(blocking = false)
        ss20Model = Some(mdl)
        mdl
      }
    def ss20ServePlan(): DataFrame = {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(spark, sfDir)
      graft.ops.Similarity.ivfPqServe(
        emb.filter(col("vec_id") < 20), ss20Trained(),
        "vec_id", "embedding", 5, nprobe = 4)
    }
    // One timed end-to-end training run: coarse collect + residual
    // materialization + Lloyd rounds + encoded-frame materialization,
    // pinned into a throwaway scope released AFTER the timed window.
    def ss20TrainTimed(): (Double, Long) = {
      // MUST run only after ss20Scope is released: Spark's cache manager
      // matches plan-identical frames, so a still-pinned serve model
      // would turn this "training" run into a cache READ, and this
      // scope's release would then unpersist the serve model out from
      // under any later consumer (r18 review finding). Both halves
      // checked: the scope queue is drained AND the model's encoded frame
      // has actually left the cache manager (release() removes entries
      // synchronously even with blocking=false).
      require(ss20Scope.isEmpty && ss20Model.forall(
          _.encoded.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
        "ss20TrainTimed must run only after ss20Scope.release(): a " +
          "cached plan-identical serve model would make this a cache " +
          "read, and releasing the throwaway scope would unpersist the " +
          "serve model (r18 cache-identity finding)")
      val scope = new graft.ops.Pipeline.PinScope
      val r = timedBody {
        val mdl = graft.ops.Pipeline.withScope(scope)(ss20Train())
        Force.run(mdl.encoded)
      }
      scope.release()
      r
    }

    val llmRepsFull: Seq[(String, Seq[Double], Seq[Long])] = informational("llm") {
      // ss20_serve resolves through the shared model (its warmup also
      // trains+pins the model it serves against); every other row is
      // its unmodified SparkEntry catalog entry
      def llmPlan(q: String): DataFrame =
        if (q == "ss20_serve") ss20ServePlan() else catalog(q)
      timedSuite(llm, warmups = 2, reps = 3)(timedRun(llmPlan))
    }
    // The serve model's pins are no longer needed once the llm sweep has
    // run — and they MUST be gone before the training rows below (see
    // ss20TrainTimed).
    ss20Scope.release()
    // Gated training rows: same reps+min+gc discipline as every timed
    // section. Runs AFTER the llm sweep so its throwaway training scopes
    // never interleave with serve reps.
    val ss20TrainRaw: Seq[(String, Seq[Double], Seq[Long])] =
      informational("ss20_train") {
        timedSuite(Seq("ss20_train"), warmups = 1, reps = 3)(_ => ss20TrainTimed())
      }
    // Per-query MIN is the reported number (steady-state cost; immune to
    // the one-sided stalls a 24-query sweep accumulates).
    val llmMins: Seq[(String, Double)] =
      llmRepsFull.map { case (q, reps, _) => q -> reps.min }

    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsonRepMap(kvs: Seq[(String, Seq[Double])]): String =
      kvs.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => f"$v%.4f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def jsonGcMap(kvs: Seq[(String, Seq[Long])]): String =
      kvs.map { case (k, vs) =>
        "\"" + k + "\":" + vs.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val repsField = jsonRepMap(timed.map { case (q, reps, _) => (q, reps) })
    // artifact-schema continuity: headline gc_ms stays the per-query SUM
    // across reps (as in every prior round); the per-rep values feed the
    // stall sentinel below.
    val gcField = jsonMap(timed.map { case (q, _, gcMs) => (q, gcMs.sum.toDouble) })
    val minField = jsonMap(mins)
    val tpch22Field =
      if (tpch22.isEmpty) ""
      else s""","tpch22_total":${tpch22.map(_._2).sum},"tpch22":${jsonMap(tpch22)}""" +
        s""","tpch22_reps":${jsonRepMap(tpch22Raw.map { case (q, r, _) => (q, r) })}""" +
        s""","tpch22_gc_ms":${jsonGcMap(tpch22Raw.map { case (q, _, g) => (q, g) })}"""
    val llmField =
      if (llmMins.isEmpty) ""
      else s""","llm_total":${llmMins.map(_._2).sum},"llm":${jsonMap(llmMins)}""" +
        s""","llm_reps":${jsonRepMap(llmRepsFull.map { case (q, r, _) => (q, r) })}""" +
        s""","llm_gc_ms":${jsonGcMap(llmRepsFull.map { case (q, _, g) => (q, g) })}"""
    val ss20TrainField =
      if (ss20TrainRaw.isEmpty) ""
      else {
        val (_, reps, gcs) = ss20TrainRaw.head
        s""","ss20_train_sec":${reps.min}""" +
          s""","ss20_train_reps":${reps.map(r => f"$r%.4f").mkString("[", ",", "]")}""" +
          s""","ss20_train_gc_ms":${gcs.mkString("[", ",", "]")}"""
      }
    // Stall sentinel over every rep'd section, on the reps as measured
    // (thresholds + rationale on the stallFlags method, which
    // BenchSentinelSpec pins).
    val allFlags =
      stallFlags("headline", timed) ++
      stallFlags("tpch22", tpch22Raw) ++
      stallFlags("llm", llmRepsFull) ++
      stallFlags("ss20_train", ss20TrainRaw)
    val stallField =
      s""","stall_flag_count":${allFlags.size}""" +
        s""","stall_flags":${allFlags.mkString("[", ",", "]")}"""
    // sf is the NUMERIC scale factor (matching the driver's BENCH_r{N}
    // encoding — the r12 advice flagged the path-vs-number mismatch);
    // the directory travels separately as sf_dir.
    val sfNum = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir).map(_.group(1))
    val sfField = sfNum.getOrElse("\"" + sfDir + "\"")
    val totalMin = mins.map(_._2).sum
    // stdout carries the STRICT contract line only — exactly the five
    // documented fields {metric,value,unit,queries,sf}, nothing else:
    // r8's full line outgrew the driver's log-scrape window and r9's slim
    // line still carried value_min/queries_min beyond the documented
    // shape; both rounds recorded `"parsed": null`. Every extra field
    // (min, reps, gc, informational sections) lives in BENCH_LAST.json.
    val slim =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results)},"sf":$sfField}"""
    val full =
      s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","queries":${jsonMap(results)},"queries_min":$minField,"reps":$repsField,"gc_ms":$gcField$tpch22Field$llmField$ss20TrainField$stallField,"sf":$sfField,"sf_dir":"$sfDir"}"""
    println(slim)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), full + "\n")
    spark.stop()
  }
}
