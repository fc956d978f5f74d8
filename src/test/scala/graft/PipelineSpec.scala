package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pipeline, Relational}
import graft.sources.Tables

/** Invariants for the training-pipeline utilities. */
class PipelineSpec extends GraftSuite {

  private lazy val docs = Tables.documents(spark, sf)

  test("mixture sampling keeps the binding source whole and is reproducible") {
    val target = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val mixed = Pipeline.mixtureSamplePortable(
      docs, "source", target, salt = "11:", col("doc_id"))
    val got = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // only requested sources survive
    assert(got.keySet.subsetOf(target.keySet))
    val have = docs.filter(col("source").isin(target.keys.toSeq: _*))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // equal availability + largest share → src0 binds and is kept WHOLE
    assert(got("src0") === have("src0"))
    // downsampled sources never exceed availability or the binding source
    got.foreach { case (s, n) => assert(n <= have(s)) }
    // salted: bit-for-bit reproducible
    val again = Pipeline.mixtureSamplePortable(
      docs, "source", target, salt = "11:", col("doc_id"))
    assert(mixed.exceptAll(again).count() === 0)
    assert(again.exceptAll(mixed).count() === 0)
  }

  test("split assignment is deterministic, exhaustive, and proportional") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Pipeline.assignSplitPortable(
      docs, col("doc_id"), salt = "7:", splits)
    // exhaustive: every row gets exactly one valid split label
    val bymSplit = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bymSplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bymSplit.values.sum === docs.count())
    // proportional within a loose tolerance at fixture size
    val n = docs.count().toDouble
    assert(math.abs(bymSplit("train") / n - 0.8) < 0.1, bymSplit)
    // deterministic: same salt → identical assignment; the split is a
    // pure function of the KEY, so repartitioning cannot move rows
    // (unlike randomSplit)
    val again = Pipeline.assignSplitPortable(
      docs.repartition(7), col("doc_id"), salt = "7:", splits)
    assert(assigned.select("doc_id", "split")
      .exceptAll(again.select("doc_id", "split")).count() === 0)
    // different salt → a different assignment
    val other = Pipeline.assignSplitPortable(
      docs, col("doc_id"), salt = "8:", splits)
    assert(assigned.select("doc_id", "split")
      .exceptAll(other.select("doc_id", "split")).count() > 0)
  }

  test("observe metrics count rows and violations on the producing scan") {
    val observed = Pipeline.withQualityMetrics(
      docs, "quality",
      "n_rows" -> count(lit(1)),
      "null_text" -> count(when(col("text").isNull, 1)),
      "bad_lang" -> count(when(!col("lang").isin("en", "de", "fr", "es", "zh"), 1)))
    // collect() on the DERIVED frame: metrics attach to the QueryExecution
    // that actually ran (df.count() would spawn a separate one and leave
    // this plan's metrics empty — same trap as the bench plan gate)
    val out = observed.filter(col("n_chars") > 0)
    val produced = out.collect().length.toLong
    val m = Pipeline.observedMetrics(out, "quality")
    assert(m("n_rows") === docs.count())
    assert(m("null_text") === 0L)
    assert(m("bad_lang") === 0L)
    assert(produced > 0)
  }

  test("compaction rewrites many small files into size-targeted ones") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("graft-frag-").toString
    // fragment the docs table into many tiny files
    docs.repartition(64).write.mode("overwrite").parquet(inDir)
    val nIn = new java.io.File(inDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nIn >= 32, s"expected a fragmented input, got $nIn files")
    val outDir = Files.createTempDirectory("graft-compact-").toString
    val inputBytes = new java.io.File(inDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = inputBytes / 4 // aim for ~4 output files
    val parts = Pipeline.compact(spark, inDir, outDir, target)
    val outFiles = new java.io.File(outDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts >= 4 && parts <= 6, s"parts=$parts")
    assert(outFiles === parts, s"outFiles=$outFiles parts=$parts")
    // content unchanged
    assert(spark.read.parquet(outDir).exceptAll(docs).count() === 0)
    assert(docs.exceptAll(spark.read.parquet(outDir)).count() === 0)
  }

  test("token chunking covers every token with the declared overlap") {
    val chunkSize = 64; val stride = 48
    val chunks = Pipeline.chunkByTokens(
        docs, col("doc_id"), col("text"), chunkSize, stride)
      .collect()
      .groupBy(_.getLong(0))
    val tokenCounts = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.keySet === tokenCounts.keySet)
    chunks.foreach { case (docId, rows) =>
      val n = tokenCounts(docId)
      val byIdx = rows.sortBy(_.getInt(1))
      // chunk indices are dense from 0 and the count is the stride formula
      assert(byIdx.map(_.getInt(1)).toSeq === (0 until rows.length))
      assert(rows.length === (n - 1) / stride + 1)
      byIdx.zipWithIndex.foreach { case (r, i) =>
        // every chunk holds exactly the tokens from its start to
        // min(start + chunkSize, n) — so consecutive chunks overlap by
        // chunkSize - stride tokens and the union covers 0 until n
        assert(r.getInt(2) === math.min(i * stride + chunkSize, n) - i * stride)
      }
      val lastStart = (rows.length - 1) * stride
      assert(lastStart < n && lastStart + chunkSize >= n)
    }
  }

  test("stratified sample hits requested per-stratum rates (±tolerance)") {
    val fr = Map("en" -> 0.8, "de" -> 0.2, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.5)
    val sampled = Pipeline.stratifiedSamplePortable(
      docs, "lang", fr, salt = "42:", col("doc_id"))
    val rates = sampled.groupBy("lang").agg(count(lit(1)).as("n"))
      .join(docs.groupBy("lang").agg(count(lit(1)).as("total")), "lang")
      .withColumn("rate", col("n").cast("double") / col("total"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rate")).toMap
    fr.foreach { case (k, f) =>
      assert(math.abs(rates.getOrElse(k, 0.0) - f) < 0.25,
        s"stratum $k rate ${rates.get(k)} vs $f")
    }
  }

  test("stratified sample is reproducible for a fixed seed") {
    val fr = Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.5)
    // the draw is a pure function of (salt, key): another layout of the
    // same rows keeps the same sample
    val a = Pipeline.stratifiedSamplePortable(
        docs, "lang", fr, salt = "42:", col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Pipeline.stratifiedSamplePortable(
        docs.repartition(7), "lang", fr, salt = "42:", col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("deterministic shuffle is a stable permutation") {
    val base = docs.select("doc_id")
    // pl2's shuffle key: the md5 digest of (salt ++ doc_id), numbered by
    // globalPosition
    def shuffled(salt: String): Seq[Long] = Pipeline.globalPosition(base,
        "shuffle_pos",
        md5(concat(lit(salt), col("doc_id").cast("string")).cast("binary")),
        col("doc_id"))
      .orderBy("shuffle_pos").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val s1 = shuffled("7:")
    val s2 = shuffled("7:")
    assert(s1 === s2, "same seed must give the same order")
    assert(s1.sorted === base.collect().map(_.getLong(0)).toSeq.sorted)
    val other = shuffled("8:")
    assert(s1 !== other, "different seeds should permute differently")
  }

  test("two-phase packing matches the naive global-window prefix sum") {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
    val fast = Pipeline.packByTokenBudget(
        base, col("doc_id"), col("n_tokens"), budget = 8192)
      .orderBy("doc_id").select("doc_id", "cum_tokens", "bin")
      .collect().toSeq
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = base
      .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / 8192)
          .cast("int"))
      .orderBy("doc_id").select("doc_id", "cum_tokens", "bin")
      .collect().toSeq
    assert(fast === naive)
  }

  test("exact-k per stratum: exact sizes, deterministic, layout-stable") {
    val have = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = Pipeline.exactKPerStratum(docs, "source", 10, 7L, col("doc_id"))
    val sizes = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // EXACTLY min(k, |stratum|) per stratum — not "approximately"
    assert(sizes === have.map { case (k, n) => k -> math.min(10L, n) })
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    // pure function of (seed, key): identical on any partitioning
    val ids2 = Pipeline.exactKPerStratum(
        docs.repartition(13), "source", 10, 7L, col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // a different seed picks a (virtually surely) different sample
    val ids3 = Pipeline.exactKPerStratum(docs, "source", 10, 8L, col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 !== ids3)
  }

  test("weighted sample: exact k, deterministic, weight-monotone") {
    import spark.implicits._
    val s1 = Pipeline.weightedSample(
      docs, k = 50, seed = 3L, col("n_chars"), col("doc_id"))
    assert(s1.count() === 50)
    // pure function of (seed, key, weight): identical on any layout
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Pipeline.weightedSample(
        docs.repartition(11), k = 50, seed = 3L,
        col("n_chars"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
    // a dominant weight is (effectively) always selected: u^(1/w) → 1
    // as w grows, while unit-weight keys stay uniform
    (1L to 5L).foreach { seed =>
      val rows = (0L until 100L).map(i => (i, if (i == 42L) 1e6 else 1.0))
        .toDF("id", "w")
      val picked = Pipeline.weightedSample(rows, k = 10, seed, col("w"),
          col("id"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(picked.contains(42L), s"seed $seed")
      assert(picked.size === 10)
    }
    // zero/negative weights are excluded outright
    val withZero = Seq((1L, 0.0), (2L, -3.0), (3L, 2.0)).toDF("id", "w")
    val kept = Pipeline.weightedSample(withZero, 3, 1L, col("w"), col("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
  }

  private lazy val events = Tables.events(spark, sf)

  // funnel pins each stage's completion frame (reuse only): the pinning
  // operator these lifecycle specs drive
  private def funnel() = graft.ops.EventAnalytics.funnel(
    events, "user_id", "ts", "event_type", Seq("view", "click", "purchase"))

  test("releaseCaches frees an operator's pinned frames after the action") {
    val cm = spark.sharedState.cacheManager
    Pipeline.releaseCaches() // drain pins left over from earlier tests
    val cleanBefore = cm.isEmpty
    val stages = funnel()
    stages.count() // the consuming action
    // the operator pinned its stage completions
    assert(!cm.isEmpty)
    assert(!Pipeline.defaultScope.isEmpty)
    Pipeline.releaseCaches()
    assert(Pipeline.defaultScope.isEmpty)
    // releasing drops the pin; when no other suite left caches behind,
    // the session's cache manager ends the run empty (the Verify-loop
    // contract: zero graft-pinned entries at exit)
    if (cleanBefore) assert(cm.isEmpty)
  }

  test("pin scopes isolate concurrent callers from releaseCaches") {
    // A caller that wraps its operator calls in withScope owns its pins:
    // a releaseCaches() fired by ANOTHER caller (the global/default
    // release point) must not unpersist its in-flight frames. Two scoped
    // callers on their own threads + a default-scope caller, interleaved
    // releases.
    // KNOWN LIMIT (pinned in the PinScope scaladoc): Spark's cache is
    // plan-keyed, so these two callers — whose pinned completions are
    // identical — actually share ONE cache entry, and the FIRST
    // scope.release() drops it for both. That costs the survivor a
    // recompute, never a wrong answer: no operator's result depends on
    // a pin staying cached. This test therefore pins the scope LIFECYCLE
    // semantics: default-release can't touch scoped queues, each scope
    // drains only its own.
    Pipeline.releaseCaches() // drain pins left over from earlier tests
    val scopeA = new Pipeline.PinScope
    val scopeB = new Pipeline.PinScope
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val built = new CountDownLatch(2)
    val released = new CountDownLatch(1)
    def scopedRun(scope: Pipeline.PinScope) = pool.submit(
      new java.util.concurrent.Callable[Seq[org.apache.spark.sql.Row]] {
        def call() = Pipeline.withScope(scope) {
          val stages = funnel()
          built.countDown()
          released.await() // hostile releaseCaches fires BEFORE our action
          stages.collect().toSeq
        }
      })
    val (ra, rb) = try {
      val fa = scopedRun(scopeA)
      val fb = scopedRun(scopeB)
      assert(built.await(120, TimeUnit.SECONDS), "scoped callers never built")
      // both scoped callers have pinned; the default scope has not
      assert(!scopeA.isEmpty && !scopeB.isEmpty)
      assert(Pipeline.defaultScope.isEmpty)
      // the hostile global release: must not touch either scope's pins
      Pipeline.releaseCaches()
      assert(!scopeA.isEmpty && !scopeB.isEmpty)
      released.countDown()
      (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    } finally {
      // a failed assertion must not leave the callers parked on the latch
      released.countDown()
      pool.shutdown()
    }
    // both callers got the full, identical answer (one row per stage)
    assert(ra.map(_.getInt(0)) === Seq(1, 2, 3))
    assert(ra === rb)
    // each caller releases its own token; the other's QUEUE survives —
    // but pin the documented plan-identity LIMIT against real cache
    // state: these two callers' pinned frames are plan-identical, so
    // they shared ONE cache entry and A's release dropped it for B too
    val bFrames = scopeB.snapshot
    assert(bFrames.nonEmpty)
    scopeA.release()
    assert(scopeB.isEmpty === false)
    assert(bFrames.forall(_.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE),
      "plan-identical cross-scope entries share cache: A's release " +
        "must have dropped B's entry too (if this ever starts FAILING, " +
        "Spark made caching handle-scoped and the PinScope scaladoc " +
        "should be revisited)")
    scopeB.release()
    assert(scopeA.isEmpty && scopeB.isEmpty)
    // and an unwrapped call still lands in the default scope, released
    // by the classic harness release point (back-compat contract)
    funnel().count()
    assert(!Pipeline.defaultScope.isEmpty)
    Pipeline.releaseCaches()
    assert(Pipeline.defaultScope.isEmpty)
  }

  test("every pinning operator leaves no cache entry after releaseCaches") {
    // One case per operator that still pins, through its catalog entry:
    // minhash (dd3), char-gram Jaccard (dd7), simhash (dd8) and SRP
    // (dd9) near-dup pairs, incrementalNearDups (dd21), funnel (ev1),
    // kHopCounts (gr7), ivfPqTrain (behind ss20) and q15. Each builds,
    // runs one action and releases; the cache must then hold nothing
    // but Tables' partsupp, a session-catalog cache dropped here too.
    // Then the fault: a session-wide clearCache() between construction
    // and action must give the clean run's rows, as every pin is reuse
    // only.
    val cm = spark.sharedState.cacheManager
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def release(name: String): Unit = {
      val pinned = !Pipeline.defaultScope.isEmpty
      Pipeline.releaseCaches()
      Tables.partsupp(spark, sf).unpersist(blocking = true)
      assert(cm.isEmpty, s"$name left a cache entry after releaseCaches")
      assert(pinned, s"$name pinned nothing")
    }
    Seq("dd3_minhash_dup_pairs", "dd7_jaccard_simjoin", "dd8_simhash_pairs",
      "dd9_srp_neardup_pairs", "dd21_incremental_ingest", "ev1_funnel",
      "gr7_khop", "ss20_ivfpq_topk", "q15_top_supplier").foreach { name =>
      val build = SparkEntry.queries(name)
      spark.catalog.clearCache()
      val clean = rowsOf(build(spark, sf))
      release(name)
      val faulted = build(spark, sf)
      spark.catalog.clearCache() // between construction and action
      assert(rowsOf(faulted) === clean, s"$name: rows changed under clearCache")
      release(name)
    }
  }

  test("globalPosition matches a global row_number window") {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select("doc_id")
    val fast = Pipeline.globalPosition(
        base, "pos", xxhash64(lit(7L), col("doc_id")), col("doc_id"))
      .orderBy("doc_id").select("doc_id", "pos").collect().toSeq
    val naive = base
      .withColumn("pos", row_number().over(
          Window.orderBy(xxhash64(lit(7L), col("doc_id")), col("doc_id")))
        .cast("long"))
      .orderBy("doc_id").select("doc_id", "pos").collect().toSeq
    assert(fast === naive)
  }

  test("zValue matches a local bit-interleave reference") {
    import spark.implicits._
    def zRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (7L, 2L),
      (255L, 255L), (1023L, 511L), (65535L, 65535L), (12345L, 54321L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Pipeline.zValue(col("x"), col("y"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === zRef(x, y, 16), s"z($x,$y)")
    }
    // canonical small values: z(1,0)=1, z(0,1)=2, z(1,1)=3
    assert(got((1L, 0L)) === 1L && got((0L, 1L)) === 2L && got((1L, 1L)) === 3L)
  }

  test("z-ordered layout prunes a single-dimension band to fewer files") {
    import spark.implicits._
    // 64×64 grid; a y-band predicate is the layout's worst case for an
    // x-sorted table (every x-stripe contains every y → all files touched)
    // and the showcase for z-order (files are ~quadrants → only the
    // quadrant rows intersecting the band are touched).
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y)))
      .toDF("x", "y")
    val zDir = java.nio.file.Files
      .createTempDirectory("graft-z-").toString + "/t"
    val xDir = java.nio.file.Files
      .createTempDirectory("graft-x-").toString + "/t"
    Pipeline.zorderWrite(grid, zDir,
      Pipeline.zValue(col("x"), col("y"), 6), files = 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("y") >= 8 && col("y") < 16)
        .select(input_file_name()).distinct().count()
    val zFiles = filesTouched(zDir)
    val xFiles = filesTouched(xDir)
    // x-sorted: the band lives in (essentially) every nonempty file;
    // z-ordered: only the quadrant row intersecting the band (~4 of 16,
    // plus range-boundary slop). Range sampling can leave a partition
    // empty, so compare the two layouts rather than pinning exact counts.
    assert(xFiles >= 12L, s"x-layout expected to touch ~all files: $xFiles")
    assert(zFiles * 2 <= xFiles,
      s"z-layout should touch at most half the files x-layout does: " +
      s"z=$zFiles x=$xFiles")
    // and both layouts return the same rows, obviously
    assert(spark.read.parquet(zDir)
      .filter(col("y") >= 8 && col("y") < 16).count() === 64L * 8)
  }

  test("winsorize clips exactly at the requested percentiles") {
    import spark.implicits._
    // 0..100: p05 = 5.0, p95 = 95.0 under linear interpolation
    val df = (0 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val w = Pipeline.winsorize(df, col("v"), "v", 0.05, 0.95)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(0L) === 5.0 && w(3L) === 5.0 && w(5L) === 5.0)
    assert(w(50L) === 50.0)
    assert(w(95L) === 95.0 && w(99L) === 95.0 && w(100L) === 95.0)
  }

  test("bpeTrain reproduces hand-computed Sennrich merges") {
    import spark.implicits._
    // words: aaab ×2, ab ×1
    // round 1: (a,a)=4 beats (a,b)=3 -> "aa"; greedy rewrite aaab=[aa,a,b]
    // round 2: (a,b)=3 beats (aa,a)=2 -> "ab"
    // round 3: (aa,ab)=2 -> "aaab"
    val docs = Seq("aaab aaab ab").toDF("text")
    val merges = Pipeline.bpeTrain(docs, col("text"), merges = 3)
    assert(merges === Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    val vocab = Pipeline.appliedVocab(docs, col("text"), merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab === Map("aaab" -> 2L, "ab" -> 1L))
  }

  test("bpe merge apply consumes overlaps left-first") {
    import spark.implicits._
    // "aaa": (a,a) counted at both positions; after the merge the greedy
    // left-first rewrite leaves [aa, a], so round 2 merges (aa, a)
    val docs = Seq("aaa aaa").toDF("text")
    val merges = Pipeline.bpeTrain(docs, col("text"), merges = 2)
    assert(merges === Seq(("a", "a"), ("aa", "a")))
  }

  test("bpeMergePairs weights pairs by word frequency") {
    import spark.implicits._
    val docs = Seq("aaab aaab ab").toDF("text")
    val got = Pipeline.bpeMergePairs(docs, col("text"), topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.head === ("aa" -> 4L)) // two positions × freq 2
    assert(got.toMap.apply("ab") === 3L)
  }

  test("context packing fills bins to the budget in id order") {
    val packed = Pipeline.packByTokenBudget(
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.wsTokenCount(col("text")).as("n_tokens")),
      col("doc_id"), col("n_tokens"), budget = 1000)
    // bins are contiguous in id order and nonnegative
    val bins = packed.orderBy("doc_id").select("bin").collect().map(_.getInt(0))
    assert(bins.head === 0)
    assert(bins.zip(bins.tail).forall { case (a, b) => b >= a })
    // every bin's token sum (minus its possibly-straddling last doc) fits
    val over = packed.groupBy("bin").agg(sum(col("n_tokens")).as("s"),
        max(col("n_tokens")).as("m"))
      .filter(col("s") - col("m") > 1000).count()
    assert(over === 0)
  }

  test("runningTotal matches the naive global running-sum window") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val got = Pipeline.runningTotal(df.repartition(5), col("v"), "cum", col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var acc = 0L
    (1 to 500).foreach { i =>
      acc += i % 7
      assert(got(i.toLong) === acc, s"at id $i")
    }
  }

  test("prefix-sum phase 2 adds no second shuffle (one range exchange)") {
    import spark.implicits._
    // Each prefix sum plans one PrefixScanExec over exactly one range
    // exchange: subtotals and output are read from that one shuffle, with
    // no cached frame, no window and no re-shuffle in between.
    val df = (1 to 400).map(i => (i.toLong, (i % 5).toLong)).toDF("id", "v")
    for (out <- Seq(
        Pipeline.runningTotal(df, col("v"), "cum", col("id")),
        Pipeline.globalPosition(df, "pos", col("id")),
        Pipeline.packByTokenBudget(df, col("id"), col("v"), budget = 7))) {
      out.collect()
      val bad = PlanSpec.prefixScanViolations(out)
      assert(bad.isEmpty,
        s"${bad.mkString("; ")}\n${out.queryExecution.executedPlan}")
    }
  }

  test("prefix scans equal their one-window references on every layout and start no job when built") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rows = Seq(
      (7L, Some(3L), 4.0, 2L), (2L, None, 1.0, 9L), (9L, Some(-5L), 2.0, 8L),
      (1L, Some(4L), 5.0, 1L), (5L, Some(0L), 3.0, 3L),
      (10L, Some(11L), 2.0, 6L), (3L, Some(2L), 6.0, 1L), (8L, None, 1.0, 7L),
      (4L, Some(9L), 4.0, 2L), (6L, Some(1L), 7.0, 0L))
    val data = rows.toDF("id", "v", "x", "y")
    val empty = rows.take(0).toDF("id", "v", "x", "y")
    // the operators under test, and the same answers from one global
    // window each (a null value counts as 0 in the running total)
    def ops(df: DataFrame): Seq[DataFrame] = Seq(
      Pipeline.runningTotal(df, col("v"), "cum", col("id")).select("id", "cum"),
      Pipeline.globalPosition(df, "pos", col("id")).select("id", "pos"),
      Relational.skyline2D(df, col("x"), col("y")))
    def references(df: DataFrame): Seq[DataFrame] = Seq(
      df.select(col("id"), sum(coalesce(col("v"), lit(0L))).over(Window
        .orderBy("id").rowsBetween(Window.unboundedPreceding, 0)).as("cum")),
      df.select(col("id"), row_number().over(Window.orderBy("id"))
        .cast("long").as("pos")),
      Relational.skylineByGroup(df.withColumn("g", lit(0)), col("g"),
        col("x"), col("y")).drop("grp"))
    def rowsOf(df: DataFrame) =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def check(label: String, df: DataFrame): Seq[DataFrame] = {
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      val before = jobs.get
      val built = ops(df)
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      assert(jobs.get - before === 0, s"$label: building started jobs")
      val want = references(df).map(rowsOf)
      spark.catalog.clearCache() // between construction and action
      built.zip(want).zipWithIndex.foreach { case ((got, ref), i) =>
        assert(rowsOf(got) === ref, s"$label: operator $i")
        assert(rowsOf(got) === ref, s"$label: operator $i, second collect")
      }
      built
    }

    // AQE coalescing forced on (64 MB advisory: every partition merges
    // into one read) and off (1 byte), and AQE disabled
    val modes = Seq("coalesced" -> ("true", "64m"),
      "uncoalesced" -> ("true", "1b"), "no AQE" -> ("false", "64m"))
    def confs(parts: Int, aqe: String, advisory: String) = Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> aqe,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val saved = confs(0, "", "").keys.map(k => k -> spark.conf.getOption(k))
    sc.addSparkListener(listener)
    try {
      for (parts <- Seq(1, 3, 64); (mode, (aqe, advisory)) <- modes) {
        confs(parts, aqe, advisory).foreach { case (k, v) => spark.conf.set(k, v) }
        val built = check(s"$parts partitions, $mode", data)
        if (mode == "coalesced" && parts > 1) {
          built.head.collect()
          val p = built.head.queryExecution.executedPlan.toString
          assert(p.contains("AQEShuffleRead coalesced"), p)
        }
        check(s"$parts partitions, $mode, empty input", empty)
      }
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("source reweighting: weights positive and sum to 1") {
    val w = SparkEntry.queries("pl15_source_reweight")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(w.nonEmpty)
    w.foreach { case (n, q, wt) =>
      assert(n > 0 && q > 0.0 && q <= 1.0 && wt > 0.0)
    }
    assert(math.abs(w.map(_._3).sum - 1.0) < 1e-9)
  }

  test("curriculumBuckets: quartiles per stratum in length order, stable") {
    import spark.implicits._
    val docs = ((1 to 8).map(i => (i.toLong, "en", i * 10)) ++
      (9 to 11).map(i => (i.toLong, "fr", i)))
      .toDF("doc_id", "lang", "n_chars")
    val got = Pipeline.curriculumBuckets(docs,
        strata = Seq(col("lang")),
        order = Seq(col("n_chars").asc, col("doc_id").asc), n = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // en: 8 docs → 2 per quartile in length order
    assert((1 to 8).map(got(_)).toSeq === Seq(1, 1, 2, 2, 3, 3, 4, 4))
    // fr: 3 docs over 4 buckets → sizes 1,1,1 (ntile leaves bucket 4 empty)
    assert((9 to 11).map(got(_)).toSeq === Seq(1, 2, 3))
    // deterministic under a different physical layout
    val re = Pipeline.curriculumBuckets(docs.repartition(7),
        strata = Seq(col("lang")),
        order = Seq(col("n_chars").asc, col("doc_id").asc), n = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(re === got)
  }

  test("leakage-safe split: near-dup cluster members never straddle splits") {
    import spark.implicits._
    // the whole point: every near-dup cluster lands in ONE split — a
    // doc-id-keyed hash split would scatter members across the cut and
    // leak paraphrases of training docs into the eval set
    val out = graft.SparkEntry
      .queries("pl28_leakage_safe_split")(spark, sf)
    val straddling = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .count()
    assert(straddling === 0L, "a cluster crossed the split boundary")
    // multi-member clusters exist in the fixture, so the invariant is
    // not vacuous, and all three splits are populated
    val multi = out.groupBy("cluster_id").count().filter(col("count") > 1)
    assert(multi.count() > 0L)
    assert(out.select("split").distinct().count() === 3L)
  }

  test("interleaveBySource: round-robin order, no SinglePartition, layout-stable") {
    import spark.implicits._
    // A has 3 docs, B has 2 → training order A1 B1 A2 B2 A3
    val docs = Seq((10L, "A"), (11L, "A"), (12L, "A"), (20L, "B"),
      (21L, "B")).toDF("doc_id", "source")
    def run(df: org.apache.spark.sql.DataFrame) = Pipeline
      .interleaveBySource(df, col("doc_id"), col("source"))
      .orderBy("train_pos").collect()
      .map(r => (r.getLong(3), r.getLong(0))).toSeq
    val got = run(docs)
    assert(got === Seq((1L, 10L), (2L, 20L), (3L, 11L), (4L, 21L),
      (5L, 12L)))
    assert(run(docs.repartition(4)) === got)
    val p = Pipeline.interleaveBySource(docs, col("doc_id"), col("source"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("SinglePartition"), p)
  }

  test("shardPlan: greedy cut at target, oversize doc unsplit, layout-stable") {
    import spark.implicits._
    // tokens in id order: 3,3,3,3 at target 5 → exclusive cums 0,3,6,9
    // → shards 0,0,1,1 (a shard overshoots by its last doc, never splits)
    val even = Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "tok")
    def run(df: org.apache.spark.sql.DataFrame, target: Long) = Pipeline
      .shardPlan(df, col("doc_id"), col("tok"), target)
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(run(even, 5L) === Seq((0L, 2L, 6L, 1L, 2L), (1L, 2L, 6L, 3L, 4L)))
    // a doc bigger than the target still lands whole; the NEXT doc opens
    // a fresh shard (cums 0,12 → shards 0,2 — shard ids need not be
    // consecutive when one doc spans multiple target multiples)
    val big = Seq((1L, 12L), (2L, 2L)).toDF("doc_id", "tok")
    assert(run(big, 5L) === Seq((0L, 1L, 12L, 1L, 1L), (2L, 1L, 2L, 2L, 2L)))
    // deterministic under a different physical layout (two-phase total)
    assert(run(even.repartition(3), 5L) === run(even, 5L))
  }

  test("lengthBatches: sort order, batch cut, exact padding waste") {
    import spark.implicits._
    // lengths sorted (len, id): (2,1),(5,2),(3,5),(4,5),(1,10)
    val rows = Seq((1L, 10L), (2L, 1L), (3L, 5L), (4L, 5L), (5L, 2L))
      .toDF("doc_id", "len")
    val got = Pipeline
      .lengthBatches(rows, col("len"), col("doc_id"), batchSize = 2)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (0L, 2L, 2L, 3L, 1L),    // [(2,len1),(5,len2)]: pads len-1 → 2
      (1L, 2L, 5L, 10L, 0L),   // equal lengths → zero waste
      (2L, 1L, 10L, 10L, 0L))) // ragged final batch, no waste alone
    // deterministic under a different physical layout (two-phase rank)
    val re = Pipeline
      .lengthBatches(rows.repartition(5), col("len"), col("doc_id"), 2)
      .orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(re.toSeq === got.toSeq)
  }

  test("corpusPipeline: each gate drops its doc, decisions are auditable") {
    import spark.implicits._
    val t1 = "these have been words that stay"
    val docs = Seq(
      // eval doc (excluded from output, contamination reference)
      (0L, "the cat and dog run fast", "en", "s", 24L),
      (1L, "zz xx", "en", "s", 5L),                      // fails quality
      (2L, t1, "en", "s", 31L),                          // dup canonical
      (3L, t1, "en", "s", 31L),                          // dup copy
      (4L, "the cat and dog swim well", "en", "s", 25L), // contaminated
      (5L, "those have been symbols that stand", "en", "s", 40L),
      (6L, "words that move and feel alive", "fr", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Pipeline.corpusPipeline(docs, col("doc_id") === 0L,
        nGram = 2, minWords = 3, contThreshold = 0.1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L)) // eval absent
    //                 (quality, canonical, contaminated, balance, keep)
    assert(got(1L) === ((false, true, false, false, false)))
    // eligible en docs {2 (31 chars), 5 (40)}; fr {6} → target 1, so the
    // longer en doc 5 wins the balance cap and 2 is the documented loser
    assert(got(2L) === ((true, true, false, false, false)))
    assert(got(3L) === ((true, false, false, false, false)))
    assert(got(4L) === ((true, true, true, false, false)))
    assert(got(5L) === ((true, true, false, true, true)))
    assert(got(6L) === ((true, true, false, true, true)))
  }

  test("balancedDownsample: min-stratum cap, priority order, tie-break") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0),
      ("b", 4L, 1.0),
      ("c", 5L, 2.0), ("c", 6L, 7.0))
      .toDF("lang", "doc_id", "score")
    val got = Pipeline.balancedDownsample(rows, col("lang"),
        Seq(col("score").desc, col("doc_id").asc))
      .collect().map(r => r.getLong(1)).toSet
    // min stratum (b) has 1 row → one winner per stratum: a's score tie
    // at 9.0 breaks to the smaller id 2; c keeps its best 6
    assert(got === Set(2L, 4L, 6L))
  }

  test("psiDrift: identical halves → 0, shifted half → null + positive") {
    import spark.implicits._
    def run(cmp: Seq[Long]) = Pipeline.psiDrift(
        (Seq(1L, 2L, 3L, 4L).map((_, true)) ++ cmp.map((_, false)))
          .toDF("v", "is_ref"),
        col("v"), col("is_ref"), nBuckets = 2)
      .orderBy("bucket").collect()
    // same distribution on both sides: every term exactly 0.0
    val same = run(Seq(1L, 2L, 3L, 4L))
    assert(same.map(_.getInt(0)).toSeq === Seq(0, 1))
    assert(same.forall(r => r.getDouble(5) === 0.0))
    // cmp mass all above the ref median: bucket 0 empty on the cmp side
    // → null term (not a divide/ln crash); bucket 1 term = −0.5·ln 0.5
    val shifted = run(Seq(100L, 200L))
    assert(shifted(0).getLong(1) === 2L && shifted(0).getLong(2) === 0L)
    assert(shifted(0).isNullAt(5))
    assert(shifted(1).getDouble(5) === -0.5 * math.log(0.5))
  }

  test("dsirWeights: target-like docs outscore non-target, bounds hold") {
    import spark.implicits._
    // target slice shares vocabulary with doc 30 (target-like) but not
    // with doc 31 (alien vocabulary): DSIR must rank 30 above 31
    val rows = (1L to 20L).map(i => (i, true, "the quick brown fox jumps")) ++
      Seq((30L, false, "the quick brown fox runs"),
          (31L, false, "zqx wvu ytr plk mno"))
    val got = Pipeline.dsirWeights(
        rows.toDF("doc_id", "is_t", "text"), "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every doc has >= 2 tokens -> n_features = n_tokens - 1
    assert(got(1L)._1 === 4L && got(31L)._1 === 4L)
    // Padé surrogate of the log-ratio is bounded: |w| < 2 per feature
    got.values.foreach { case (nf, nano, _) =>
      assert(math.abs(nano) < 2e9 * nf) }
    // the shared-vocab doc scores strictly above the alien-vocab doc,
    // and pure-target docs score above both
    assert(got(30L)._3 > got(31L)._3)
    assert(got(1L)._3 > got(30L)._3)
    // weight column is exactly the nano sum over 1e9 (the exact path)
    got.values.foreach { case (_, nano, w) => assert(w === nano / 1e9) }
  }

  test("epochSchedule: exact sqrt-share targets, 4-epoch cap and deficit") {
    import spark.implicits._
    // inventories 10000 vs 100 tokens; sqrt shares 10:1; budget
    // 3.5x inventory = 35350 -> targets 32136 / 3213 (exact floors);
    // the small source's target implies 32 epochs -> capped at 400
    val df = Seq(("A", 10000L), ("B", 100L)).toDF("source", "t")
    val got = Pipeline.epochSchedule(df, "source", col("t"),
        floor(sum(col("n_tokens")).cast("double") * lit(3.5)))
      .orderBy("source").collect()
    val a = got(0); val b = got(1)
    assert(a.getLong(1) === 10000L && b.getLong(1) === 100L)
    assert(a.getLong(2) === 32136L, a) // floor(1e8/1.1e8 * 35350)
    assert(b.getLong(2) === 3213L, b)
    assert(a.getLong(3) === 32136L && a.getLong(4) === 0L)
    assert(b.getLong(3) === 400L && b.getLong(4) === 2813L)
    assert(a.getDouble(5) === 3.2136 && b.getDouble(5) === 4.0)
  }

  test("temperatureMixture: sqrt-share targets, upweights small sources") {
    import spark.implicits._
    // 400 vs 100 rows: alpha=1/2 shares are 2/3 vs 1/3 of the budget
    // (250), so targets are 166 vs 83 -> keep fractions 0.415 vs 0.83:
    // the SMALL source keeps a strictly larger fraction (the mixing
    // lever this operator exists for)
    val rows = (1L to 400L).map((_, "big")) ++ (401L to 500L).map((_, "small"))
    val df = rows.toDF("doc_id", "source")
    val kept = Pipeline.temperatureMixture(df, "source", col("doc_id"), "t:")
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fBig = bySrc("big") / 400.0
    val fSmall = bySrc("small") / 100.0
    assert(fSmall > fBig, s"small kept $fSmall <= big kept $fBig")
    // kept counts concentrate on the exact targets (binomial, 4 sigma)
    assert(math.abs(bySrc("big") - 166L) <= 40, bySrc)
    assert(math.abs(bySrc("small") - 83L) <= 16, bySrc)
    // pure function of (salt, key): bit-reproducible
    val again = Pipeline.temperatureMixture(df, "source", col("doc_id"), "t:")
    assert(kept.exceptAll(again).count() === 0)
    assert(again.exceptAll(kept).count() === 0)
    // a different salt draws a different sample (not degenerate)
    val other = Pipeline.temperatureMixture(df, "source", col("doc_id"), "u:")
    assert(other.exceptAll(kept).count() > 0)
  }

  test("sourceCaps: absolute per-source ceiling, quality order, stable") {
    import spark.implicits._
    // source A: 3 docs, cap 2 → lowest-quality one dropped;
    // source B: 1 doc → untouched. Quality ties break to the lower id.
    val df = Seq(
      (1L, "A", 0.9), (2L, "A", 0.5), (3L, "A", 0.9), (4L, "B", 0.1))
      .toDF("doc_id", "source", "q")
    val res = Pipeline.sourceCaps(
      df, col("doc_id"), col("source"), col("q"), cap = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getBoolean(3)))
    assert(res === Array(
      (1L, "A", 1L, true),   // 0.9, tie with doc 3 → lower id ranks first
      (2L, "A", 3L, false),  // lowest quality in A → over the cap
      (3L, "A", 2L, true),
      (4L, "B", 1L, true)))  // a small source is never inflated
    // deterministic under repartitioning (the 100 TB reproducibility bar)
    val again = Pipeline.sourceCaps(
      df.repartition(7), col("doc_id"), col("source"), col("q"), cap = 2)
    assert(again.exceptAll(Pipeline.sourceCaps(
      df, col("doc_id"), col("source"), col("q"), cap = 2)).count() === 0)
  }
}
