package graft

import org.apache.spark.sql.functions._
import graft.functions.RollingMinHash
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.unsafe.types.UTF8String

/** Invariant tests for the oracle-less dedup/fingerprint operators. */
class DedupSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("rolling_min_hash matches a direct reference fold") {
    def reference(s: String, w: Int): Long = {
      val b = s.getBytes("UTF-8")
      if (b.isEmpty) 0L
      else {
        val ww = math.min(w, b.length)
        (0 to b.length - ww).map { st =>
          b.slice(st, st + ww).foldLeft(0L)((h, x) => h * 257L + (x & 0xff))
        }.min
      }
    }
    val samples = Seq("hello world, this is a document", "tiny", "",
      "aaaaaaaaaaaaaaaaaaaaaaa", "unicode: café über straße")
    samples.foreach { s =>
      assert(RollingMinHash.compute(UTF8String.fromString(s), 16)
        === reference(s, 16), s"mismatch for '$s'")
    }
  }

  test("rolling_min_hash works through SQL registration and codegen") {
    RollingMinHash.register(spark)
    val out = docs.limit(50).selectExpr("doc_id", "rolling_min_hash(text, 16) AS fp")
    assert(out.count() === 50)
    // native signature expressions through the SQL path too
    graft.functions.Signatures.register(spark)
    val sigs = docs.limit(20).selectExpr(
      "min_hash(split(lower(text), '\\\\s+'), 8) AS mh",
      "sim_hash(split(lower(text), '\\\\s+')) AS sh")
    assert(sigs.count() === 20)
    assert(sigs.selectExpr("size(mh)").distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(8))
    // same text → same fingerprint (applied twice stays equal)
    val twice = docs.limit(50)
      .select(RollingMinHash.rolling_min_hash(col("text"), 16).as("a"),
        RollingMinHash.rolling_min_hash(col("text"), 16).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(twice === 0)
  }

  test("rolling_min_hash refuses window <= 0 at analysis time") {
    // SQL-reachable: a negative window read bytes(-2) (crash) and
    // window=0 fingerprinted EVERY document to 0L — silently collapsing
    // a fingerprint-keyed dedup into one duplicate group (round-15
    // review). Both now refuse before execution.
    RollingMinHash.register(spark)
    Seq(0, -2).foreach { w =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        docs.limit(1).selectExpr(s"rolling_min_hash(text, $w)").collect()
      }
      assert(e.getMessage.contains("window > 0"))
    }
  }

  test("minhash signature is identical for identical texts") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document about spark joins"))
      .toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"),
      Dedup.minhashSignature(
        array_distinct(Dedup.wordShingles(TextAnalysis.tokens(col("text")), 3)),
        32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("minhash-LSH finds the known near-dup pairs that exact jaccard finds") {
    // Ground truth: exact word-shingle jaccard >= 0.8 across all pairs.
    val t = docs.select(col("doc_id"),
      array_distinct(Dedup.wordShingles(TextAnalysis.tokens(col("text")), 3))
        .as("sh"))
    val truth = t.alias("a").join(t.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", Dedup.jaccard(col("a.sh"), col("b.sh")))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
        threshold = 0.8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with 32 hashes / 8 bands, P(candidate) at j=0.8 is ~1; every truth
    // pair must surface, and verification keeps exactly the truth set.
    assert(found === truth)
  }

  test("prefix-filtered similarity join equals brute-force ground truth") {
    val t = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.array_sort(
        Dedup.charNgrams(col("text"), 3)).as("grams"))
    val truth = t.alias("a").join(t.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", Dedup.jaccardSorted(col("a.grams"), col("b.grams")))
      .filter(col("j") >= 0.6)
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.jaccardSimilarityJoin(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.6)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === truth, "prefix filtering must be lossless")
  }

  test("simhash: identical texts equal; hamming grows with difference") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "spark shuffles data between stages for wide dependencies"),
      (2L, "spark shuffles data between stages for wide dependencies"),
      (3L, "spark shuffles data between stages for wide dependency"),
      (4L, "entirely unrelated content regarding cooking pasta al dente"))
      .toDF("doc_id", "text")
    val m = df.select(col("doc_id"),
        Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(hamming(m(1L), m(3L)) < hamming(m(1L), m(4L)))
  }

  test("simhash pair-finding recovers planted near-identical docs") {
    val base = "spark executes declarative plans with whole stage codegen " +
      "and adaptive query execution over columnar parquet data"
    val planted = Seq(
      (1000001L, base),
      (1000002L, base.replace("columnar", "vectorized")), // 1-token edit
      (1000003L, "completely different text about cooking pasta with basil"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(planted, col("doc_id"), col("text"),
        maxHamming = 8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000001L, 1000002L)))
    assert(!pairs.contains((1000001L, 1000003L)))
  }

  test("connected components produce consistent, canonical dup clusters") {
    import org.apache.spark.sql.DataFrame
    // synthetic graph with known components: a chain (diameter > 1, so
    // propagation must iterate), a triangle, an isolated pair, singletons
    val nodes = (1L to 12L).toDF("id")
    val edges: DataFrame = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain 1-5
      (6L, 7L), (7L, 8L), (6L, 8L),           // triangle 6-8
      (9L, 10L)                               // pair
    ).toDF("a", "b")                          // 11, 12 isolated
    val got = Dedup.connectedComponents(nodes, col("id"), edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 9L,
      11L -> 11L, 12L -> 12L)
    assert(got === expected)

    // on the real near-dup graph: every edge's endpoints share a cluster,
    // and every cluster id is its own member (the canonical keeper)
    val realEdges = Dedup.ngramJaccardPairs(
      docs, col("doc_id"), col("text"), col("source"))
    val labels = Dedup.connectedComponents(
      docs, col("doc_id"), realEdges, "id_a", "id_b")
    val lblMap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    realEdges.select("id_a", "id_b").collect().foreach { r =>
      assert(lblMap(r.getLong(0)) === lblMap(r.getLong(1)),
        s"edge ${r.getLong(0)}-${r.getLong(1)} spans clusters")
    }
    lblMap.values.toSet.foreach { (c: Long) => assert(lblMap(c) === c) }
  }

  test("connected components converge on long chains or fail loudly") {
    import org.apache.spark.sql.DataFrame
    // a 30-node chain needs ~29 propagation rounds at stride 1 — beyond
    // the default budget the operator must throw, never return wrong
    // labels silently
    val nodes = (1L to 30L).toDF("id")
    val chain: DataFrame = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, col("id"), chain, "a", "b",
        maxIterations = 5)
    }
    assert(ex.getMessage.contains("did not converge"))
    // with budget, the whole chain resolves to one cluster
    val ok = Dedup.connectedComponents(nodes, col("id"), chain, "a", "b",
      maxIterations = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("exact dedup keeps exactly one canonical row per text") {
    val kept = Dedup.exactDedupKeep(docs, col("text"), col("doc_id"))
      .filter(col("is_kept"))
    assert(kept.count() === docs.select("text").distinct().count())
  }

  test("decontamination flags planted eval overlap and nothing else") {
    import spark.implicits._
    val eval_ = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // verbatim copy: 3 shared 3-grams
      (2L, "zeta alpha beta gamma eta"),      // one shared 3-gram
      (3L, "theta iota kappa lambda mu")      // clean
    ).toDF("doc_id", "text")
    val flagged = Dedup.decontaminate(
      train, eval_, col("doc_id"), col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged === Map(1L -> 3L, 2L -> 1L))
  }

  test("repeatedChunkStats flags shared passages, not unique text") {
    // 4-token chunks: docs 1 and 2 share their first window verbatim;
    // doc 3 is fully unique. Short tails (doc 2's 5th token) chunk alone.
    val d = Seq(
      (1L, "a b c d x1 x2 x3 x4"), // chunks: "a b c d" (shared), "x1..x4"
      (2L, "a b c d y1"),          // chunks: "a b c d" (shared), "y1"
      (3L, "p q r s t u v w")      // chunks unique
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedChunkStats(d, col("doc_id"), col("text"), 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 0L))))
  }

  test("edit-distance pairs: deletion-variant blocking is lossless at dist 1") {
    import spark.implicits._
    val rows = Seq(
      (1L, "kitten"),  // ↔ mitten (sub), kitte (del), kittens (ins)
      (2L, "mitten"),
      (3L, "kitte"),
      (4L, "kittens"),
      (5L, "sitting"), // dist 3 from kitten — excluded
      (6L, "mitten"),  // exact duplicate of 2 → dist 0 pair
      (7L, "x"),       // short strings: x↔y is a substitution
      (8L, "y"),
      (9L, "")         // empty ↔ "x"/"y" is one insert
    ).toDF("id", "s")
    val got = Dedup.editDistancePairs(rows, col("id"), col("s"))
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // reference: brute-force theta join (the blocking must lose nothing)
    val naive = rows.alias("a").join(rows.alias("b"),
        col("a.id") < col("b.id") &&
        levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.s"), col("b.s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naive)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)) &&
           got.contains((1L, 4L, 1)) && got.contains((2L, 6L, 0)) &&
           got.contains((7L, 8L, 1)) && got.contains((7L, 9L, 1)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
    // the candidate generator is an equi join on variant keys, not a scan
    val plan = Dedup.editDistancePairs(rows, col("id"), col("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containmentPairs flags subset quotes that Jaccard misses") {
    import spark.implicits._
    val short = "q w e r t y u i"                  // 6 distinct trigrams
    val long = short + " o p a s d f g h"          // 14, superset of short
    val docs = Seq(
      (1L, short), (2L, long), (3L, "z x c v b n m k"))
      .toDF("doc_id", "text")
    val got = Dedup
      .containmentPairs(docs, col("doc_id"), col("text"), n = 3,
        threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // full quote: containment 1.0 on 6 shared grams — while jaccard is
    // 6/14 ≈ 0.43, far below the 0.8 bar
    assert(got.toSeq === Seq((1L, 2L, 6L, 1.0)))
    // the equi join on the gram key is the candidate generator — no scan
    val plan = Dedup
      .containmentPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("contaminationReport: graded fractions, short docs absent") {
    import spark.implicits._
    // eval doc = "a b c d"; train 1 contains it verbatim inside 5 tokens
    // (2 of its 2 trigrams overlap → 1.0 wait n=3: "a b c d e" grams
    // {a b c, b c d, c d e}; eval grams {a b c, b c d} → 2/3); train 2
    // shares nothing; train 3 too short for a trigram → absent
    val docs = Seq(
      (50L, "a b c d"), // eval (id % 50 == 0)
      (1L, "a b c d e"), (2L, "x y z w"), (3L, "p q"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((3L, 2L, 2.0 / 3.0, true)))
    assert(got(2L) === ((2L, 0L, 0.0, false)))
    assert(!got.contains(3L)) // shorter than n tokens → no grams
  }

  test("sortedNeighborhood: window bounds comparisons, sort brings dups together") {
    import spark.implicits._
    // sort key = whole text (identity): 1 and 2 are adjacent near-dups;
    // 4 is a near-dup of 1 TOO FAR AWAY in sort order (window 2 only
    // compares successors at distance 1), so SNM must miss it — the
    // documented recall trade of windowing.
    val docs = Seq(
      (1L, "aaaa bbbb cccc"), (2L, "aaaa bbbb cccd"),
      (3L, "mmmm nnnn oooo"), (4L, "aazz bbbb cccc"))
      .toDF("doc_id", "text")
    def run(w: Int) = Dedup.sortedNeighborhoodPairs(
        docs, col("doc_id"), col("text"), col("text"),
        window = w, n = 3, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sort order by text: 1, 2, 4, 3 — window 2 compares (1,2) J=9/10,
    // (2,4) J=6/14 (below bar), (4,3) J≈0
    assert(run(2) === Set((1L, 2L)))
    // window 3 reaches (1,4) at sort distance 2: J=6/13 ≥ 0.45
    assert(run(3) === Set((1L, 2L), (1L, 4L)))
  }

  test("sourceOverlapMatrix: gram-set jaccard, containments, zero pair") {
    import spark.implicits._
    // 2-gram sets: A = {a b, b c} (both docs identical → set dedup),
    // B = {a b, b d}, C = {x y}
    val docs = Seq(
      ("A", "a b c"), ("A", "a b c"), ("B", "a b d"), ("C", "x y"))
      .toDF("source", "text")
    val got = Dedup
      .sourceOverlapMatrix(docs, col("source"), col("text"), n = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    assert(got.size === 3) // all pairs, including zero-overlap ones
    // A∩B = {a b}: jaccard 1/3, half of each side contained
    assert(got(("A", "B")) === ((2L, 2L, 1L, 1.0 / 3.0, 0.5, 0.5)))
    assert(got(("A", "C")) === ((2L, 1L, 0L, 0.0, 0.0, 0.0)))
    assert(got(("B", "C")) === ((2L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("thetaSourceOverlap estimates track the exact matrix within 5%") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val exact = Dedup
      .sourceOverlapMatrix(docs, col("source"), col("text"), n = 3)
      .collect().map(r => key(r) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val est = Dedup
      .thetaSourceOverlap(docs, col("source"), col("text"), n = 3)
      .collect().map(r => key(r) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(est.keySet === exact.keySet) // every pair, including zeros
    def close(e: Long, x: Long): Boolean =
      if (x == 0L) e == 0L else math.abs(e - x).toDouble / x <= 0.05
    est.foreach { case (k, (ea, eb, es)) =>
      val (xa, xb, xs) = exact(k)
      assert(close(ea, xa) && close(eb, xb) && close(es, xs),
        s"$k: est ($ea,$eb,$es) vs exact ($xa,$xb,$xs)")
    }
  }

  test("duplicateSpans gram stream: native word_ngrams identical to the retired transform form") {
    // round-20 swapped dd26's gram builder from an interpreted
    // transform(sequence(1, size−k+1), i => concat_ws(" ", slice(toks,
    // i, k))) HOF to the native codegen'd word_ngrams loop, on the
    // claim that both emit the SAME strings at the SAME positions (full
    // windows only, space-joined, position order) — pin it on the real
    // corpus, positions included
    val k = 5
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
    def stream(gramArr: org.apache.spark.sql.Column) = docs
      .select(col("doc_id"), posexplode(gramArr).as(Seq("p0", "gram")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val native = stream(graft.ops.TextAnalysis.wordNgrams(col("toks"), k))
    val retired = stream(transform(
      sequence(lit(1), size(col("toks")) - (k - 1)),
      i => concat_ws(" ", slice(col("toks"), i, lit(k)))))
    assert(native.nonEmpty && native === retired)
  }

  test("duplicateSpans hashed count key: span set identical to the string-keyed form") {
    // round-21 keys the corpus-wide occurrence count on xxhash64(gram)
    // (8 B/key through the one corpus-sized exchange instead of the
    // ~40 B 5-gram string — the dd28 pattern, r20 verdict item 1) on the
    // claim that hash-keyed recurrence equals string-keyed recurrence
    // absent a 64-bit collision between distinct grams. Pin the FULL
    // output (doc_id, span_id, start, end, tokens) set equal on the
    // real corpus; the dd26 oracle dual stays string-gram, so the
    // catalog row remains independently checked end-to-end.
    val k = 5
    def spans(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val hashed = spans(Dedup.duplicateSpans(
      docs, col("doc_id"), col("text"), k))
    val stringKeyed = spans(Dedup.duplicateSpansStringKeyed(
      docs, col("doc_id"), col("text"), k))
    assert(hashed.nonEmpty && hashed === stringKeyed)
  }

  test("repeatedChunkStats hashed count key: output identical to the string-keyed form") {
    // same round-21 pattern as duplicateSpans: the occurrence count keys
    // on xxhash64(chunk_md5) instead of the 32-char hex string; the
    // full (doc_id, n_chunks, n_dup_chunks, dup_chunk_frac) output is
    // pinned equal on the real corpus
    def rows(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val hashed = rows(Dedup.repeatedChunkStats(
      docs, col("doc_id"), col("text"), 16))
    val stringKeyed = rows(Dedup.repeatedChunkStatsStringKeyed(
      docs, col("doc_id"), col("text"), 16))
    assert(hashed.nonEmpty && hashed === stringKeyed)
  }

  test("verification pre-gate: gated pair set bit-identical to ungated (dd16 pin)") {
    // the round-19 constant-factor pass on the verification stage (mask
    // pre-gate + early-exit merge) must be a pure cost change: ids AND
    // jaccard doubles identical to the ungated full merge on the real
    // corpus — the ABRW "dd16gate" adoption rests on this pin
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val key = substring(
      regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 12)
    def run(gate: Boolean) = Dedup.sortedNeighborhoodPairs(
        docs, col("doc_id"), col("text"), key, window = 5, n = 3,
        threshold = 0.5, preGate = gate)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val gated = run(true)
    val full = run(false)
    assert(full.nonEmpty && gated === full)
  }

  test("jaccardGe and the mask-bound prune are lossless vs the full merge") {
    // randomized (fixed seed) adversarial check of the two round-19
    // primitives directly against the reference merge:
    //  - jaccardGe returns the BIT-IDENTICAL double for any pair at or
    //    above t, and something < t (the early-exit -1 or the true
    //    value) below it;
    //  - the mask upper bound never falls below the exact jaccard, so
    //    the pre-gate can never kill a surviving pair — at ANY width,
    //    including a deliberately saturated 1-word mask.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.SortedArrays
    val rnd = new scala.util.Random(7)
    val pool = (0 until 400).map(i => f"g$i%03d")
    def randSet(): Array[String] =
      rnd.shuffle(pool).take(1 + rnd.nextInt(60)).sorted.toArray
    def ad(a: Array[String]) =
      new GenericArrayData(a.map(UTF8String.fromString).toSeq)
    (1 to 300).foreach { _ =>
      val a = randSet(); val b = randSet()
      val aa = ad(a); val bb = ad(b)
      val inter = SortedArrays.intersectCount(aa, bb)
      val exact = inter.toDouble / (a.length + b.length - inter).toDouble
      for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); words <- Seq(1, 32)) {
        val ge = SortedArrays.jaccardGe(aa, bb, t)
        if (exact >= t) assert(ge === exact, s"t=$t")
        else assert(ge < t, s"t=$t got $ge exact $exact")
        val ma = SortedArrays.gramMask(aa, words)
        val mb = SortedArrays.gramMask(bb, words)
        val upper = math.min(
          a.length - SortedArrays.maskDiffBits(ma, mb),
          b.length - SortedArrays.maskDiffBits(mb, ma))
        val bound =
          upper.toDouble / (a.length + b.length - upper).toDouble
        assert(bound >= exact, s"mask bound $bound < exact $exact")
      }
    }
  }

  test("sortedNeighborhoodPairsHashed: pair set identical to the string form") {
    // the payload-slimmed variant must agree with the catalog form on
    // the real corpus — ids AND jaccard doubles (equal set sizes and
    // intersection counts give bit-equal divisions); a 64-bit gram
    // collision is the only divergence mode (~1e-14/pair, absent here)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val key = substring(
      regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 12)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val str = collect(Dedup.sortedNeighborhoodPairs(
      docs, col("doc_id"), col("text"), key, window = 5, n = 3,
      threshold = 0.5))
    val hashed = collect(Dedup.sortedNeighborhoodPairsHashed(
      docs, col("doc_id"), col("text"), key, window = 5, n = 3,
      threshold = 0.5))
    assert(str.nonEmpty && hashed === str)
  }

  test("charNgramHashesSorted = sorted distinct hashes of charNgramsSorted") {
    // the hashed gram set must be EXACTLY the image of the string gram
    // set under xxhash64(seed 42) — same substring extraction, same
    // dedup semantics — so hash-Jaccard provably equals string-Jaccard
    // in the absence of collisions
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import graft.functions.Ngrams
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val len = 1 + rnd.nextInt(80)
      val s = UTF8String.fromString(
        (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      val viaStrings = {
        val g = Ngrams.charNgramsSorted(s, 3)
        (0 until g.numElements())
          .map(i => XXH64.hashUTF8String(g.getUTF8String(i), 42L))
          .sorted.toSeq
      }
      val direct = {
        val h = Ngrams.charNgramHashesSorted(s, 3)
        (0 until h.numElements()).map(h.getLong).toSeq
      }
      assert(direct === viaStrings, s"input len $len")
    }
  }

  test("thetaOverlapAudit: exact columns match dd18, every verdict true") {
    // the dd20 catalog entry: exact columns must equal the exact matrix
    // (they're the same computation — this pins the join didn't drop or
    // duplicate pairs) and every ε-bounds verdict is TRUE at the default
    // sketch size. The sampling regime's teeth live in AggregatesSpec's
    // mis-parameterization test (a 16-entry sketch must FAIL this bound).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val audit = Dedup
      .thetaOverlapAudit(docs, col("source"), col("text"), n = 3)
      .collect()
    val exact = Dedup
      .sourceOverlapMatrix(docs, col("source"), col("text"), n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(audit.length === exact.size)
    audit.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) === exact(k),
        s"$k exact columns diverge from dd18")
      assert(r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8),
        s"$k: a theta verdict is false")
    }
  }

  test("electRepresentatives: quality argmax, id tie-break, redirects") {
    import spark.implicits._
    // cluster 1: doc 3 has top quality; cluster 2: tie → smallest id 4
    val members = Seq(
      (1L, 1L, 5.0), (2L, 1L, 7.0), (3L, 1L, 9.0),
      (4L, 2L, 4.0), (5L, 2L, 4.0),
      (6L, 6L, 1.0)) // singleton keeps itself
      .toDF("doc_id", "cluster_id", "q")
    val got = Dedup
      .electRepresentatives(members, "doc_id", "cluster_id", col("q"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      1L -> ((3L, false)), 2L -> ((3L, false)), 3L -> ((3L, true)),
      4L -> ((4L, true)), 5L -> ((4L, false)),
      6L -> ((6L, true))))
  }

  test("electRepresentatives drops null cluster ids like the old equi-join did") {
    import spark.implicits._
    val members = Seq(
      (1L, Option(1L), 5.0), (2L, Option(1L), 7.0),
      (3L, Option.empty[Long], 9.0)) // unclustered: must not elect itself
      .toDF("doc_id", "cluster_id", "q")
    val got = Dedup
      .electRepresentatives(members, "doc_id", "cluster_id", col("q"))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("incrementalNearDups: batch probes corpus, argmax match, clean doc absent") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val existing = Seq(
      (1L, base),
      // doc 2: one word changed -> high but lower jaccard than doc 1
      (2L, base.replace("lazy", "sleepy")),
      (3L, "completely unrelated text about database query planning " +
        "with columnar storage and vectorized execution engines"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // near-copy of doc 1 (one trailing word changed): must match BOTH
      // 1 and 2, best match = 1 (highest jaccard)
      (100L, base.replace("tonight", "today")),
      // clean doc: no row at all
      (101L, "a brand new page about cooking pasta with fresh basil " +
        "tomatoes olive oil and garlic for dinner guests"))
      .toDF("doc_id", "text")
    // 16 bands of 2 rows: candidate probability at the weaker match's
    // j≈0.6 is 1−(1−0.6²)^16 ≈ 0.999 (8×4 banding would miss it ~28% of
    // the time — the test pins recall at a banding suited to τ=0.5)
    val got = Dedup.incrementalNearDups(
        existing, incoming, col("doc_id"), col("text"),
        numHashes = 32, bands = 16, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(got.keySet === Set(100L))
    val (matched, nMatches) = got(100L)
    assert(matched === 1L, "best match must be the highest-jaccard doc")
    assert(nMatches === 2L, "both near-dup corpus docs verified")
  }

  test("incrementalNearDups: exact-duplicate tie breaks to smallest id") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val existing = Seq((7L, t), (3L, t)).toDF("doc_id", "text")
    val incoming = Seq((50L, t)).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(
        existing, incoming, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((50L, 3L, 1.0)))
  }

  test("band index: durable probe equals inline gate, corpus side unshuffled") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val existing = Seq(
      (1L, base), (2L, base.replace("lazy", "sleepy")),
      (3L, "completely unrelated text about database query planning " +
        "with columnar storage and vectorized execution engines"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base.replace("tonight", "today")),
      (101L, "a brand new page about cooking pasta with fresh basil " +
        "tomatoes olive oil and garlic for dinner guests"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(existing, col("doc_id"), col("text"),
      "band_idx_t", buckets = 4, bands = 16)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast would hide the bucketing; the 100 TB question is a
      // batch too big to broadcast probing a corpus-sized index
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Dedup.probeBandIndex(spark, "band_idx_t", incoming,
        col("doc_id"), col("text"), bands = 16, threshold = 0.5)
      val inline = Dedup.incrementalNearDups(existing, incoming,
        col("doc_id"), col("text"), bands = 16, threshold = 0.5)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val got = rows(probe)
      assert(got === rows(inline) && got.nonEmpty,
        "durable probe must reproduce the inline gate exactly")
      // plan shape: the band join's index side must contain ZERO shuffle
      // exchanges — the bucketed scan already carries the join hash
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case q: QueryStageExec => unwrap(q.plan)
        case o => o
      }
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val u = unwrap(p)
        u +: u.children.flatMap(nodes)
      }
      val joinSides = nodes(probe.queryExecution.executedPlan).collectFirst {
        case j: SortMergeJoinExec => (j.left, j.right)
        case j: ShuffledHashJoinExec => (j.left, j.right)
      }
      assert(joinSides.nonEmpty, "expected a shuffled band equi-join")
      val (l, r) = joinSides.get
      val exSide =
        if (l.toString.contains("band_idx_t")) l
        else { assert(r.toString.contains("band_idx_t")); r }
      val exShuffles = nodes(exSide).count(_.isInstanceOf[ShuffleExchangeLike])
      assert(exShuffles === 0,
        s"index side must not shuffle, found $exShuffles:\n$exSide")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS band_idx_t")
    }
  }

  test("ingestPipeline: each gate rejects its doc, the clean doc is admitted") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight with friends " +
      "that have come along to watch the stars and rivers"
    val existing = Seq(
      (1L, base),
      (2L, "completely unrelated corpus text about database query " +
        "planning and the columnar storage engines that have vectorized " +
        "execution with many operators and tasks to schedule tonight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // exact prefix dup of doc 1 → exact gate (also a near dup)
      (10L, base),
      // paraphrase of doc 1: different prefix, high shingle overlap
      (11L, ("xx " + base).replace("tonight", "today")),
      // clean and high quality → admitted
      (12L, "a wholly novel page describing the craft of baking bread " +
        "with flour and water and salt and patience that have been " +
        "passed down through families to be shared with neighbors"),
      // novel but garbage: symbol spam fails the gopher gate
      (13L, "buy now $$$ !!! " * 20))
      .toDF("doc_id", "text")
    val got = Dedup.ingestPipeline(existing, incoming,
        col("doc_id"), col("text"),
        bloomKey = substring(col("text"), 1, 64), expectedItems = 10L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4))))
      .toMap
    assert(got(10L)._1 && !got(10L)._4, "exact dup rejected")
    assert(!got(11L)._1 && got(11L)._2 && !got(11L)._4,
      "paraphrase caught by the near-dup gate only")
    assert(got(12L) === ((false, false, true, true)), "clean doc admitted")
    assert(!got(13L)._3 && !got(13L)._4, "symbol spam fails quality")
  }

  test("signalAgreement: hand-computed overlap, empty signal kept at n=0") {
    import spark.implicits._
    val a = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (4L, 5L), (6L, 7L), (8L, 9L)).toDF("id_a", "id_b")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.signalAgreement(Seq(
        "sa" -> a, "sb" -> b, "sc" -> empty))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toSet
    // |a|=3, |b|=4, a∩b={（1,2),(4,5)} → J = 2/(3+4-2) = 0.4; the empty
    // signal stays present with n=0 and J=0 against non-empty sides,
    // null only when BOTH sides are empty (not the case here).
    assert(got === Set(
      ("sa", "sb", 3L, 4L, 2L, Some(0.4)),
      ("sa", "sc", 3L, 0L, 0L, Some(0.0)),
      ("sb", "sc", 4L, 0L, 0L, Some(0.0))))
    // duplicate rows in an input pair set must not inflate its size
    val dup = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val one = Dedup.signalAgreement(Seq("sa" -> dup, "sb" -> a))
      .collect().head
    assert(one.getLong(2) === 1L)
    // the tagged union feeds the sizes aggregate and both self-join
    // sides: exchange reuse computes each pair set once, with no cache
    val bad = PlanSpec.reuseViolations(spark, {
        case l: org.apache.spark.sql.execution.LocalTableScanExec =>
          l.output.exists(_.name == "id_a") // a pair set, not the names
        case _ => false
      }, inputs = 2)(Dedup.signalAgreement(Seq("sa" -> a, "sb" -> b)))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("bloomIngestGate: exact verdict survives a high-fp bloom; corpus never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val existing = Seq(
      (1L, "shared boilerplate header about terms of service and cookies"),
      (2L, "an original article describing distributed query execution"),
      (3L, "another unique page on columnar storage layout internals"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "shared boilerplate header about terms of service and cookies"),
      (11L, "fresh never-seen content about garlic pasta for dinner"),
      (12L, "yet more novel text with no counterpart in the corpus"))
      .toDF("doc_id", "text")
    // expectedItems=1 deliberately undersizes the bloom (high fp rate):
    // the exact verification must still produce the brute-force verdict,
    // because candidates are a SUPERSET of true dups (no false negatives)
    // and every false positive dies in the semi join.
    val got = Dedup.bloomIngestGate(existing, incoming,
        col("doc_id"), col("text"), expectedItems = 1L, fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(got === Map(10L -> true, 11L -> false, 12L -> false))
    // Fixture-scale end-to-end: the gate's verdict over the real corpus
    // split must equal the brute-force EXISTS — false positives from the
    // (deliberately tiny) bloom all die in the exact verification.
    val ex = docs.filter(col("doc_id") % 5 =!= 0)
    val in = docs.filter(col("doc_id") % 5 === 0)
    val key = substring(col("text"), 1, 64)
    val gate = Dedup.bloomIngestGate(ex, in, col("doc_id"), key,
      expectedItems = 10L, fpp = 0.5)
    val brute = in.select(col("doc_id").as("incoming_id"), key.as("k"))
      .join(ex.select(key.as("k")).distinct()
        .withColumn("is_dup", lit(true)), Seq("k"), "left")
      .na.fill(false, Seq("is_dup"))
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select("incoming_id", "is_dup").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val gateV = verdicts(gate)
    assert(gateV === verdicts(brute))
    assert(gateV.valuesIterator.exists(identity),
      "fixture should contain at least one cross-split prefix dup")
    // plan shape: every join is broadcast (BuildRight on the batch-sized
    // candidate/dup-digest side) — the corpus digest scan is read once
    // and never exchanged for a join; the only shuffles are the
    // candidate-bounded distincts, which sit structurally above the bloom
    // probe / semi join. A SortMergeJoin or ShuffledHashJoin anywhere
    // would mean the corpus side exchanged — the 100 TB failure mode.
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case o => o
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val u = unwrap(p)
      u +: u.children.flatMap(nodes)
    }
    gate.collect() // execute so AQE finalizes the stages
    val all = nodes(gate.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "expected candidate-side distinct shuffles")
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    assert(!all.exists(p =>
        p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"corpus-side join must be broadcast, got:\n${all.mkString("\n")}")
  }

  test("duplicateSpans merges overlapping k-gram hits to maximal spans") {
    // Docs 1 and 2 share the 4-token passage "p q r s" (with k=3 that's
    // two overlapping 3-gram hits at positions 3 and 4 → ONE merged span
    // [3,6]); doc 3 repeats its own 3-gram intra-doc; doc 4 is clean.
    val docs = Seq(
      (1L, "a b p q r s x y"),
      (2L, "c d p q r s z w"),
      (3L, "m n o t t m n o"), // "m n o" at pos 1 and 6 — intra-doc dup
      (4L, "unique tokens only here never repeated"),
      (5L, "p q"),             // sub-k doc: no 3-gram exists — must not
      (6L, ""))                // crash (sequence(1,0) trap) nor emit
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, 1L, 3L, 6L, 4L),   // shared passage, hits at 3 and 4 merged
      (2L, 1L, 3L, 6L, 4L),
      (3L, 1L, 1L, 3L, 3L),   // intra-doc repeat: both occurrences
      (3L, 2L, 6L, 8L, 3L)))  // …as separate (non-adjacent) spans
    // no false positives: doc 4 emits nothing; sub-k docs 5/6 emit
    // nothing (and the query did not throw on them)
    assert(!got.exists(r => r._1 >= 4L))
    // deterministic under repartitioning
    val again = Dedup.duplicateSpans(
      docs.repartition(5), col("doc_id"), col("text"), k = 3)
    assert(again.exceptAll(
      Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 3))
      .count() === 0)
  }

  test("SignatureTruth matches the operator outputs bit-for-bit") {
    // The dd2/dd4/dd9/ta5/ta22/ss2 oracles compare against
    // SignatureTruth's independent scalar recomputation — pin the two
    // implementations to each other locally so drift in either (hash
    // mixing, tokenization, fold order, tie-breaks) fails here before it
    // fails in the driver's round report.
    val dir = java.nio.file.Files.createTempDirectory("graft-struth-").toString
    graft.ops.SignatureTruth.write(spark, sf, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val truthDocs = spark.read.parquet(s"$dir/docs.parquet")
    assert(rows(SparkEntry.queries("dd2_minhash_signature")(spark, sf)) ===
      rows(truthDocs.select("doc_id", "mh_0", "mh_1").orderBy("doc_id")),
      "minhash signatures drifted")
    assert(rows(SparkEntry.queries("dd4_simhash")(spark, sf)) ===
      rows(truthDocs.select("doc_id", "simhash", "chunk0").orderBy("doc_id")),
      "simhash drifted")
    assert(rows(SparkEntry.queries("ta5_rolling_fingerprint")(spark, sf)) ===
      rows(truthDocs.select("doc_id", "fingerprint").orderBy("doc_id")),
      "rolling fingerprint drifted")
    assert(rows(SparkEntry.queries("ta22_hashed_classifier")(spark, sf)
        .select("doc_id", "score")) ===
      rows(truthDocs.select("doc_id", "cls_score").orderBy("doc_id")),
      "classifier scores drifted")
    assert(rows(SparkEntry.queries("dd9_srp_neardup_pairs")(spark, sf)) ===
      rows(spark.read.parquet(s"$dir/srp_pairs.parquet")
        .orderBy("id_a", "id_b")),
      "srp near-dup pairs drifted")
    assert(rows(SparkEntry.queries("ss2_srp_ann_topk")(spark, sf)) ===
      rows(spark.read.parquet(s"$dir/ss2.parquet").orderBy("qid", "rank")),
      "srp ann top-k drifted")
    assert(rows(SparkEntry.queries("ss20_ivfpq_topk")(spark, sf)) ===
      rows(spark.read.parquet(s"$dir/ss20.parquet").orderBy("qid", "rank")),
      "ivf-pq adc top-k drifted")
  }

  test("brute-force baselines refuse at-scale inputs (maxRows guard)") {
    // dd5/dd6/dd7 are labeled oracle baselines (the only `weak` marks in
    // the scale audit): the guard makes the all-pairs path impossible to
    // invoke at corpus scale by ACCIDENT — refuse loudly above maxRows,
    // overridable only explicitly (round-16 verdict item 7). Exercised
    // with a tiny maxRows so the spec stays fixture-sized.
    //
    // Round 17: the guard is DEFERRED (ScaleGuard.maxRowsDeferred) —
    // construction and explain stay job-free; the refusal surfaces at
    // the first ACTION, wrapped in Spark's task-failure chain.
    def chain(e: Throwable): String = {
      var t = e; val sb = new StringBuilder
      while (t != null) { sb.append(t.getMessage).append('\n'); t = t.getCause }
      sb.toString
    }
    // construction alone runs NO job and throws nothing (laziness pin)
    val deferred = Dedup.ngramJaccardPairs(docs, col("doc_id"),
      col("text"), col("source"), n = 3, threshold = 0.6, maxRows = 3L)
    deferred.explain() // plan-only use: must not throw either
    val e1 = intercept[Exception] { Force.run(deferred) }
    assert(chain(e1).contains("minhashNearDupPairs"))
    val e2 = intercept[Exception] {
      Force.run(Dedup.jaccardSimilarityJoin(docs, col("doc_id"),
        col("text"), n = 3, threshold = 0.6, maxRows = 3L))
    }
    assert(chain(e2).contains("maxRows"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val e3 = intercept[Exception] {
      Force.run(graft.ops.Similarity.bruteForceNearDupPairs(
        emb, "vec_id", "embedding", 0.4, maxRows = 3L))
    }
    assert(chain(e3).contains("srpNearDupPairs"))
    // the guard survives even a bare count (filter-based: column
    // pruning cannot remove it — the round-16 pruning lesson)
    val e4 = intercept[Exception] {
      Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        col("source"), n = 3, threshold = 0.6, maxRows = 3L).count()
    }
    assert(chain(e4).contains("minhashNearDupPairs"))
    // the defaults admit every fixture (the catalog queries stay green)
    assert(Dedup.ngramJaccardPairs(docs.limit(20), col("doc_id"),
      col("text"), col("source")).count() >= 0L)
  }
}
