package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash-LSH
  * near-dup, SimHash, and char-n-gram Jaccard.
  *
  * Scale design: every variant is join/aggregate based — no driver-side
  * state, no O(n²) cross join. MinHash-LSH shuffles once on band keys
  * (candidates only), which is the 100 TB path: n² pair comparison is
  * replaced by banding so only probable-duplicate pairs are ever
  * materialized. All hashes are deterministic (xxhash64 + fixed affine
  * constants) so signatures agree across executors and runs.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Exact dedup with a deterministic canonical representative: keep the
    * row whose id is the minimum within its text group. Equivalent to
    * dropDuplicates but with an explicit, auditable keep-rule (needed when
    * 100 TB pipelines must explain *which* copy survived).
    *
    * The window partitions on a 128-bit digest of the text, NOT the raw
    * text: shuffle keys stay 32 bytes instead of multi-KB documents (the
    * shuffled VALUE still carries the text — that's the payload — but key
    * comparison, sorting, and the hash partitioner never touch it). An
    * md5 collision would need 2^64 docs, far beyond any corpus; the digest
    * is a pure function of the text, so group membership is unchanged. */
  def exactDedupKeep(df: DataFrame, text: Column, id: Column): DataFrame =
    df.withColumn("canonical_id",
        min(id).over(Window.partitionBy(md5(text.cast("string")))))
      .withColumn("is_kept", id === col("canonical_id"))

  // ---- MinHash-LSH -------------------------------------------------------

  /** Word n-gram shingles over a token array (at least one shingle even for
    * short docs). */
  def wordShingles(toks: Column, n: Int): Column =
    // native: the transform/sequence form re-evaluated the token-array
    // child per element (see charNgrams) — one codegen'd loop instead
    graft.functions.Ngrams.word_shingles(toks, n)

  /** `array_sort(array_distinct(wordShingles(...)))` fused into the
    * native loop — the canonical shingle-set form the MinHash pipelines
    * persist (sorted for the merge-count Jaccard, distinct for set
    * semantics), without two interpreted collection passes per row. */
  def wordShinglesSorted(toks: Column, n: Int): Column =
    graft.functions.Ngrams.word_shingles_sorted(toks, n)

  /** MinHash signature — native expression (graft.functions.Signatures):
    * each shingle is xxhash64'd once and mixed per family in a tight JVM
    * loop with codegen, vs the declarative HOF form that re-hashes every
    * shingle numHashes times interpreted. Deterministic across executors. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.Signatures.min_hash(shingles, numHashes)

  /** Band keys for LSH: murmur3 over each r-row slice of the signature. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      hash(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate pairs from banding: docs sharing any band key. Input must
    * have columns (id, bkeys). Output (id_a, id_b), id_a < id_b, distinct.
    * The self-join shuffles on (band, key) — candidates only, never n². */
  def lshCandidatePairs(df: DataFrame, id: String, bkeys: String): DataFrame = {
    val exploded = df.select(col(id), posexplode(col(bkeys)).as(Seq("band", "key")))
    exploded.alias("a")
      .join(exploded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. Integer
    * size arithmetic + one double division — cross-engine exact. The
    * intersection is bound to a lambda variable so it is computed once. */
  def jaccard(a: Column, b: Column): Column =
    element_at(
      transform(array(size(array_intersect(a, b))), inter =>
        inter.cast("double") / (size(a) + size(b) - inter).cast("double")),
      1)

  /** Jaccard over pre-SORTED distinct arrays via the native merge-count
    * expression — identical values (same integer counts), ~an order of
    * magnitude cheaper per pair than hash-based array_intersect. */
  def jaccardSorted(a: Column, b: Column): Column =
    element_at(
      transform(array(graft.functions.SortedArrays.sorted_intersect_count(a, b)),
        inter =>
          inter.cast("double") / (size(a) + size(b) - inter).cast("double")),
      1)

  /** Lossless size-ratio prune for a Jaccard threshold: |∩| ≤ min(|A|,|B|)
    * and |∪| ≥ max(|A|,|B|), so j ≤ min/max — pairs failing
    * min/max ≥ t can never reach j ≥ t. Applied inside the join condition
    * so pruned pairs are never materialized. */
  def jaccardSizePrune(sizeA: Column, sizeB: Column, t: Double): Column =
    least(sizeA, sizeB).cast("double") / greatest(sizeA, sizeB) >= t

  /** Mask width (64-bit words) for [[gramMask]]: 2048 bits ≈ 4–8× the
    * fixture corpus' distinct char-trigram counts (docs are ≤577 chars →
    * ≤575 distinct grams, ~250 typical), keeping the OR-mask load factor
    * low enough that dissimilar pairs are killed by the bound. Lossless
    * at ANY width — a saturated mask only weakens the bound to "no
    * prune", never to a wrong one. */
  val GramMaskWords: Int = 32

  /** Per-doc gram OR-mask for [[jaccardMaskPrune]] — computed ONCE per
    * doc in the gram frame (O(|grams|) hashes), amortized across every
    * candidate pair the doc appears in. */
  def gramMask(grams: Column): Column =
    graft.functions.SortedArrays.gram_mask(grams, GramMaskWords)

  /** Lossless mask-bound prune for a Jaccard threshold (round 19):
    * popcount(mA & ~mB) ≤ |A\B| (every such bit was set by a gram B
    * lacks), so inter = |A| − |A\B| ≤ |A| − popcount(mA & ~mB), ditto
    * mirrored — the tighter of the two upper-bounds the pair's Jaccard.
    * Pure bit ops per pair (2×[[GramMaskWords]] words) vs the O(|A|+|B|)
    * string merge it front-runs; fl() monotonicity makes the rounded
    * bound dominate the rounded exact value, so no ≥ t pair is pruned. */
  def jaccardMaskPrune(sizeA: Column, sizeB: Column,
      maskA: Column, maskB: Column, t: Double): Column = {
    import graft.functions.SortedArrays.mask_diff_bits
    val upper = least(sizeA - mask_diff_bits(maskA, maskB),
      sizeB - mask_diff_bits(maskB, maskA))
    upper.cast("double") / (sizeA + sizeB - upper).cast("double") >= t
  }

  /** Threshold-gated exact Jaccard: same double as [[jaccardSorted]]
    * for any pair that can still reach `t`; −1.0 (filtered by the ≥ t
    * consumer) the moment the sorted merge proves it cannot. See
    * [[graft.functions.SortedArrays.jaccardGe]] for the losslessness
    * argument. */
  def jaccardSortedGe(a: Column, b: Column, t: Double): Column =
    graft.functions.SortedArrays.sorted_jaccard_ge(a, b, t)

  /** Full MinHash-LSH near-dup pipeline over (id, text): signature → bands
    * → candidate pairs → exact-Jaccard verification at `threshold`. */
  def minhashNearDupPairs(
      docs: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame = {
    val r = numHashes / bands
    // Pinned: the signature+shingle frame feeds the band join and both
    // verification joins, whose readers prune different columns, so no
    // exchange is shared — unpinned, dd3's plan scans the documents 3×
    // and runs the hash pipeline per scan.
    val prepared = Pipeline.pin(docs.select(
      id.as("mh_id"),
      wordShinglesSorted(TextAnalysis.tokens(text), shingleN)
        .as("shingles"))
      .withColumn("sig", minhashSignature(col("shingles"), numHashes))
      .withColumn("bkeys", bandKeys(col("sig"), bands, r)))
    val pairs = lshCandidatePairs(
      prepared.select(col("mh_id"), col("bkeys")), "mh_id", "bkeys")
    val sets = prepared.select(col("mh_id"), col("shingles"))
    pairs
      .join(sets.withColumnRenamed("mh_id", "id_a")
        .withColumnRenamed("shingles", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("mh_id", "id_b")
        .withColumnRenamed("shingles", "sh_b"), "id_b")
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over a token array: per-bit ±1 votes from each token's
    * xxhash64, sign of the vote sum becomes the bit. Near-dup docs land at
    * small Hamming distance; bucketing by 16-bit chunks gives the LSH-style
    * candidate join (a pair within Hamming ≤ 3 of a 4-chunk split must
    * share at least one exact chunk). Native codegen'd expression. */
  def simhash64(toks: Column): Column =
    graft.functions.Signatures.sim_hash(toks)

  /** The four 16-bit chunks of a simhash (candidate-bucket keys). */
  def simhashChunks(sim: Column): Column =
    array((0 until 4).map(c =>
      shiftright(sim, c * 16).bitwiseAND(lit(0xffffL))): _*)

  /** SimHash near-dup pairs: candidates from shared 16-bit chunks (by the
    * pigeonhole principle, Hamming ≤ 3 over a 4-chunk split guarantees at
    * least one identical chunk — lossless for maxHamming ≤ 3), verified
    * with an exact popcount of the XOR. Shuffles on (chunk index, chunk
    * value) only. */
  def simhashNearDupPairs(
      docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    // Pinned: both sides of the chunk self-join read the signatures, and
    // with broadcast joins on they share no exchange — unpinned, dd8's
    // plan scans and hashes the documents twice.
    val sigs = Pipeline.pin(docs.select(id.as("sh_id"),
      simhash64(TextAnalysis.tokens(text)).as("sim")))
    val buckets = sigs.select(col("sh_id"), col("sim"),
      posexplode(simhashChunks(col("sim"))).as(Seq("chunk_idx", "chunk")))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.sh_id") < col("b.sh_id"))
      .select(col("a.sh_id").as("id_a"), col("b.sh_id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- char n-gram Jaccard ----------------------------------------------

  /** Distinct character n-grams of the lowercased text. Native expression:
    * the earlier `transform(sequence(...), i => lower(text).substr(i, n))`
    * re-lowered the whole string per position (HOF lambdas re-evaluate
    * embedded subtrees, interpreted — O(len²) per doc; 5.8 s of dd16's
    * 6.2 s at sf0.1). `lower` is now the expression's child, evaluated
    * once; the gram loop is one codegen'd static call. Same output. */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(graft.functions.Ngrams.char_ngrams(lower(text), n))

  /** `array_sort(charNgrams(...))` fused into the native loop (sort-then-
    * dedup ≡ distinct-then-sort under a total string order) — skips two
    * further interpreted collection passes on the hot dedup paths. */
  def charNgramsSorted(text: Column, n: Int): Column =
    graft.functions.Ngrams.char_ngrams_sorted(lower(text), n)

  /** GLOBAL exact Jaccard similarity join via prefix filtering (PPJoin
    * family): order each record's grams by ascending document frequency
    * (rarest first), keep only the prefix of length |A|-⌈t·|A|⌉+1, and
    * join on shared prefix grams — two sets with j ≥ t MUST share at
    * least one prefix gram, so the candidate join is lossless while only
    * touching the rare-token inverted index. Candidates then pass the
    * size-ratio prune and exact sorted-merge verification.
    *
    * This is the no-blocking, no-false-negative scale path for exact
    * thresholds (MinHash-LSH trades a little recall for even less work).
    * Shuffles: gram df-count, per-doc re-sort, prefix-token join — all on
    * keys, never n².
    *
    * SCALE-GUARDED: refuses inputs above `maxRows` (a DEFERRED one-row
    * count embedded in the plan — construction/explain stay job-free,
    * the refusal fires at first execution; see [[ScaleGuard]]).
    * Prefix filtering is lossless but admits huge candidate sets on
    * shared-token corpora (measured 107 s at sf0.1 vs 3 s at sf0.01 —
    * the steepest curve in the catalog), so this stays a labeled oracle
    * baseline: the default admits every fixture with a 10× margin, and
    * the 100 TB near-dup path is minhashNearDupPairs / dd12. Raise
    * maxRows explicitly for a larger exact-threshold run. */
  def jaccardSimilarityJoin(
      docs: DataFrame, id: Column, text: Column,
      n: Int = 3, threshold: Double = 0.6,
      maxRows: Long = 50000L): DataFrame = {
    val guarded = ScaleGuard.maxRowsDeferred(docs, maxRows,
      "jaccardSimilarityJoin is a labeled oracle baseline - use " +
        "minhashNearDupPairs at scale")
    // Pinned: the gram frame feeds the df count, the rarity re-sort and
    // both verification joins under different column prunings, so no
    // exchange is shared — unpinned, dd7's plan builds the grams twice
    // (4 document scans instead of 2).
    val base = Pipeline.pin(guarded.select(id.as("sj_id"),
        charNgrams(text, n).as("grams0"))
      .withColumn("grams", array_sort(col("grams0")))
      .withColumn("sz", size(col("grams"))))
    val exploded = base.select(col("sj_id"), col("sz"),
      explode(col("grams0")).as("g"))
    val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    // per doc: grams ordered rarest-first ((df, g) struct sort)
    val ordered = exploded.join(freq, "g")
      .groupBy("sj_id")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("o"),
        first(col("sz")).as("sz"))
      .select(col("sj_id"), col("sz"),
        transform(col("o"), s => s.getField("g")).as("by_rarity"))
    val withPrefix = ordered
      .withColumn("plen",
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))
      .select(col("sj_id"), col("sz"),
        explode(slice(col("by_rarity"), lit(1), col("plen"))).as("g"))
    val candidates = withPrefix.alias("a")
      .join(withPrefix.alias("b"),
        col("a.g") === col("b.g") && col("a.sj_id") < col("b.sj_id") &&
        jaccardSizePrune(col("a.sz"), col("b.sz"), threshold))
      .select(col("a.sj_id").as("id_a"), col("b.sj_id").as("id_b"))
      .distinct()
    val sets = base.select(col("sj_id"), col("grams"))
    candidates
      .join(sets.withColumnRenamed("sj_id", "id_a")
        .withColumnRenamed("grams", "ga"), "id_a")
      .join(sets.withColumnRenamed("sj_id", "id_b")
        .withColumnRenamed("grams", "gb"), "id_b")
      .withColumn("jaccard", jaccardSorted(col("ga"), col("gb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over near-dup PAIRS — the cluster-resolution
    * step production dedup needs after any pair finder (dd3/dd5/dd9 emit
    * pairs; dropping duplicates requires knowing which docs form one
    * cluster and a keep rule). Deterministic min-label propagation: every
    * node starts labeled with its own id; each round every node takes the
    * min of its label and its neighbors' labels; fixpoint = every node
    * carries its component's min id (the canonical cluster id and the
    * auditable "keep the smallest id" survivor).
    *
    * Scale shape: one shuffle per round (join edges⋈labels + min-agg),
    * rounds = cluster diameter — small for near-dup clusters, which are
    * dense by construction. The only driver-side datum is one changed-row
    * count per round (the convergence check). Each round's labels are
    * `localCheckpoint`ed: iterative self-joins otherwise accumulate a
    * lineage whose PLAN grows exponentially with rounds and kills the
    * driver long before the data does — truncation per round is the
    * standard fix for iterative algorithms on Spark (executor-local
    * blocks; a long-lived production job would use reliable
    * checkpointing to survive executor loss). For adversarially long
    * chains the alternating large-star/small-star algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") halves rounds;
    * not needed at near-dup cluster diameters.
    *
    * Throws IllegalStateException if labels have not converged within
    * `maxIterations` — un-converged labels are silently wrong (edge
    * endpoints can still disagree), never returned.
    *
    * Output: (cc_id, cluster_id) — one row per node. */
  def connectedComponents(
      nodes: DataFrame, idCol: Column,
      edges: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val und = edges.select(col(aCol).as("src"), col(bCol).as("nbr"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("nbr")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(idCol.as("cc_id"), idCol.as("lbl"))
      .localCheckpoint(true)
    var iterations = 0
    var converged = false
    while (!converged && iterations < maxIterations) {
      val neighborMin = und
        .join(labels, col("src") === col("cc_id"))
        .groupBy(col("nbr"))
        .agg(min(col("lbl")).as("nmin"))
      val updated = labels
        .join(neighborMin, col("cc_id") === col("nbr"), "left_outer")
        .select(col("cc_id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .localCheckpoint(true) // truncate lineage; old blocks GC-reclaimed
      val changed = updated.alias("u")
        .join(labels.alias("p"), col("u.cc_id") === col("p.cc_id"))
        .filter(col("u.lbl") =!= col("p.lbl"))
        .count()
      labels = updated
      converged = changed == 0
      iterations += 1
    }
    und.unpersist()
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations " +
        "iterations — a component's diameter exceeds the budget; raise " +
        "maxIterations (rounds needed = max cluster diameter)")
    }
    labels.select(col("cc_id"), col("lbl").as("cluster_id"))
  }

  /** Eval-set decontamination: flag training documents sharing at least
    * one word n-gram with any eval document, with the count of distinct
    * shared n-grams (the standard train/test-overlap audit — production
    * pipelines use n of 8–13; the fixture word-salad only collides at
    * n=3). Scale shape: distinct n-grams on each side, one equi join
    * shuffled on the gram key, one count agg — candidates come from the
    * key join, never a pairwise scan, so this runs at any corpus size.
    * Exact integer outputs → oracle hash-exact. */
  def decontaminate(
      train: DataFrame, eval_ : DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    def grams(df: DataFrame, cols: Column*) = df.select(cols :+
      explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
        split(text, " "), n))).as("gram"): _*)
    val evalGrams = grams(eval_).distinct()
    grams(train, id.as("doc_id"))
      .join(evalGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("overlap_ngrams"))
  }

  /** GRADED contamination report — the percentage form of
    * [[decontaminate]] (which flags any-overlap): per training doc, the
    * fraction of its distinct word n-grams that appear anywhere in the
    * eval corpus, plus a threshold verdict. This is the GPT-3/PaLM-style
    * decontamination metric (docs are dropped above a contamination
    * fraction, not on a single shared phrase — one ubiquitous idiom
    * shouldn't kill a document). Same scale shape as dd11: distinct-gram
    * inverted-index equi join keyed on the gram — never pairwise; docs
    * shorter than n grams produce no grams and are absent (nothing to
    * leak). The eval side is gram-DISTINCT, so the left join is 1:1 and
    * one doc-keyed rollup counts total and matched grams together —
    * the train corpus is tokenized once (a separate totals aggregate
    * would re-derive every train gram for its own pass). */
  def contaminationReport(
      train: DataFrame, eval_ : DataFrame, id: Column, text: Column,
      n: Int = 8, threshold: Double = 0.1): DataFrame = {
    def grams(df: DataFrame, cols: Column*) = df.select(cols :+
      explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
        split(text, " "), n))).as("gram"): _*)
    val evalGrams = grams(eval_).distinct()
    val counted = grams(train, id.as("doc_id"))
      .join(evalGrams.withColumn("_hit", lit(1L)), Seq("gram"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("overlap_ngrams"))
    val frac = col("overlap_ngrams").cast("double") /
      col("n_grams").cast("double")
    counted.select(col("doc_id"), col("n_grams"), col("overlap_ngrams"),
      frac.as("contamination"),
      (frac >= threshold).as("flagged"))
  }

  /** N-gram Jaccard near-dup pairs inside blocking buckets (same `block`
    * value), exact pairwise within a bucket. Demonstration-scale blocking;
    * the 100 TB path is minhashNearDupPairs.
    *
    * SCALE-GUARDED: refuses inputs above `maxRows` (a DEFERRED one-row
    * count embedded in the plan — see [[ScaleGuard]]) — within-block
    * work is |block|², so a fat block at corpus scale brute-forces by
    * accident; the default admits every fixture with a 10× margin,
    * raise it explicitly for a larger labeled oracle run. */
  def ngramJaccardPairs(
      docs: DataFrame, id: Column, text: Column, block: Column,
      n: Int = 3, threshold: Double = 0.6,
      maxRows: Long = 50000L): DataFrame = {
    val guarded = ScaleGuard.maxRowsDeferred(docs, maxRows,
      "ngramJaccardPairs is a blocked BRUTE-FORCE oracle baseline - " +
        "use minhashNearDupPairs at scale")
    val t = guarded.select(id.as("ng_id"), block.as("blk"),
      charNgramsSorted(text, n).as("grams"))
      .withColumn("gsz", size(col("grams")))
    t.alias("a")
      .join(t.alias("b"),
        col("a.blk") === col("b.blk") && col("a.ng_id") < col("b.ng_id") &&
        // lossless prune: most non-dup pairs die on sizes alone, before
        // any intersection work
        jaccardSizePrune(col("a.gsz"), col("b.gsz"), threshold))
      .withColumn("jaccard", jaccardSorted(col("a.grams"), col("b.grams")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.ng_id").as("id_a"), col("b.ng_id").as("id_b"),
        col("jaccard"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995's
    * merge/purge method): sort the corpus ONCE by a blocking sort key,
    * then compare each record only to its `window−1` successors in that
    * order — cost strictly linear in n·window, the classic when near-dups
    * cluster under a sort-key prefix (titles, URLs, normalized names).
    * Complementary to LSH banding (content-hash buckets, `dd3`) and
    * prefix filtering (global exact threshold, `dd7`).
    *
    * Distributed shape: the global order comes from
    * [[Pipeline.globalPosition]] (two-phase range partitioning — no
    * SinglePartition window), and the neighborhood "slide" is an
    * equi-join of positions `p ⋈ p+j, j ∈ [1, window)` — one shuffle on
    * a long key, never a global sort on one task and never n² pairs.
    * Verification = exact sorted-merge char-n-gram Jaccard. */
  def sortedNeighborhoodPairs(
      docs: DataFrame, id: Column, text: Column, sortKey: Column,
      window: Int = 5, n: Int = 3, threshold: Double = 0.5,
      preGate: Boolean = false): DataFrame = {
    require(window >= 2, "window must be >= 2")
    verifySortedNeighborhoodCand(docs, id, text, n, threshold,
      sortedNeighborhoodCandidates(docs, id, sortKey, window), preGate)
  }

  /** The two-phase candidate stage shared by the string and hashed
    * sorted-neighborhood variants. Positions travel SLIM (id, key,
    * pos): the gram arrays are ~KBs per row, and carrying them through
    * the w−1-way explode would replicate them across the offset shuffle
    * (measured 4× the whole operator's cost at sf0.1) — candidate ID
    * pairs are built first, grams join in afterwards by id, each side
    * shuffled exactly once. */
  private def sortedNeighborhoodCandidates(
      docs: DataFrame, id: Column, sortKey: Column,
      window: Int): DataFrame = {
    val slim = docs.select(id.as("sn_id"), sortKey.as("sn_key"))
    val pos = Pipeline.globalPosition(slim, "sn_pos",
        col("sn_key"), col("sn_id"))
      .select(col("sn_id"), col("sn_pos"))
    pos
      .withColumn("_tgt", explode(array(
        (1 until window).map(j => col("sn_pos") + lit(j.toLong)): _*)))
      .select(col("sn_id").as("id_l"), col("_tgt"))
      .join(pos.select(col("sn_id").as("id_r"), col("sn_pos").as("r_pos")),
        col("_tgt") === col("r_pos"))
      .select(col("id_l"), col("id_r"))
  }

  /** Payload-slimmed sorted-neighborhood variant (round 19 — the 100 TB
    * remedy the dd16gate wash diagnosed): identical candidate stage,
    * but verification carries sorted-distinct xxhash64 GRAM HASHES
    * (array<bigint>, 8 fixed bytes/gram) instead of the gram strings
    * (~16 B/gram padded in UnsafeArrayData at n=3) — the join payload
    * both r15 and r19 A/Bs proved is where dd16's cost lives roughly
    * halves, the per-doc sort and the per-pair merge compare longs
    * instead of byte-wise strings, and the early-exit merge rides
    * along. Hash-Jaccard equals string-Jaccard unless two distinct
    * grams in a pair's union collide in 64 bits (≈|union|²/2⁶⁵ ≈ 1e-14
    * per pair at 500 grams) — a collision can only merge two set
    * elements, shifting one pair's Jaccard by ~1/|union|, never
    * corrupting others. The string form stays the oracle-exact catalog
    * entry; this is the library scale path, A/B'd as "dd16hash" in
    * ABRW.json with pair-set equality pinned in DedupSpec.
    *
    * MEASURED (round 19, gated): a consistent 1.37–1.39× WIN at every
    * scale — 2.03 vs 2.82 s (×1), 18.92 vs 26.21 (×10), 56.46 vs 77.26
    * (×30), hashed listed first — confirming the dd16gate diagnosis
    * (the operator is payload-bound, so halving bytes/gram and
    * replacing string compares with longs moves it where per-pair
    * gating could not). ROUND-AUDITED since round 20: cataloged as
    * `dd28_sorted_neighborhood_hashed` against dd16's EXISTING
    * independent DuckDB string-gram dual — legitimate because the
    * outputs are pair-set + jaccard bit-equal to the string form
    * (pinned in DedupSpec), so the oracle audits RESULTS, not hash
    * internals; DuckDB cannot reproduce xxhash64 and doesn't need to.
    * A ~1e-14 gram collision would fail that row loudly (correct
    * behavior). dd16 keeps the string form so the gram construction
    * itself also stays independently checked. At 100 TB, use this
    * form. */
  def sortedNeighborhoodPairsHashed(
      docs: DataFrame, id: Column, text: Column, sortKey: Column,
      window: Int = 5, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val cand = sortedNeighborhoodCandidates(docs, id, sortKey, window)
    // the gram side is built once: its second reader is a ReusedExchange
    val grams = docs.select(id.as("g_id"),
        graft.functions.Ngrams.char_ngram_hashes_sorted(lower(text), n)
          .as("g"))
      .withColumn("gsz", size(col("g")))
    def side(tag: String) = grams.select(col("g_id").as(s"id_$tag"),
      col("g").as(s"g_$tag"), col("gsz").as(s"sz_$tag"))
    cand
      .join(side("l"), "id_l")
      .join(side("r"), "id_r")
      .filter(jaccardSizePrune(col("sz_l"), col("sz_r"), threshold))
      .withColumn("jaccard", graft.functions.SortedArrays
        .sorted_jaccard_ge_long(col("g_l"), col("g_r"), threshold))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("jaccard"))
  }

  /** Verification leg of [[sortedNeighborhoodPairs]]: join
    * the candidate ID pairs back to per-doc sorted char-n-gram sets and
    * keep pairs at/above the Jaccard threshold. Grams shuffle exactly
    * once per side, by id.
    *
    * `preGate=true` (round 19, the ta16 playbook applied to the stage
    * both round-15 A/B variants shared): two additional LOSSLESS kills
    * before/inside the O(|A|+|B|) sorted-merge —
    *   1. [[jaccardMaskPrune]]: a per-doc 2048-bit gram OR-mask bound
    *      (pure bit ops per pair) rejects dissimilar pairs without
    *      touching the gram arrays;
    *   2. [[jaccardSortedGe]]: survivors merge with threshold-aware
    *      early exit (abort once matched + min(remaining) < required).
    * Same pair set, bit-identical jaccards (pinned in DedupSpec); only
    * the constant factor moves.
    *
    * KEEP-NOTE (round 19, measured in ABRW.json "dd16gate", gated A/B
    * at ×1/×10/×30): a WASH — gated vs ungated mins 2.52 vs 2.47 s
    * (×1), 23.45 vs 22.83 (×10), 73.20 vs 79.27 (×30, reps noisy both
    * sides) — so the UNGATED incumbent stays the default
    * (preGate=false), per the dd26 wash rule. The diagnosis the wash
    * buys: after the r15 candidate-stage wash, this rules out the merge
    * COMPUTE too — dd16's cost is the gram-array payload (KBs/row)
    * moving through the two id-joins' exchanges plus the per-doc gram
    * construction, which no per-pair gate touches. The gate's extra
    * mask bytes per row would only grow that shuffle at 100 TB, so the
    * ungated default is also the scale-correct call; the gated form
    * stays the measured library alternative for corpora where pair
    * count ≫ doc count (fatter windows, heavier blocking). */
  private def verifySortedNeighborhoodCand(
      docs: DataFrame, id: Column, text: Column, n: Int, threshold: Double,
      cand: DataFrame, preGate: Boolean): DataFrame = {
    val base = docs.select(id.as("g_id"),
        charNgramsSorted(text, n).as("g"))
      .withColumn("gsz", size(col("g")))
    // built once: the second side's reader is a ReusedExchange
    val grams = if (preGate) base.withColumn("gmask", gramMask(col("g")))
      else base
    def side(tag: String) = grams.select(Seq(
        col("g_id").as(s"id_$tag"), col("g").as(s"g_$tag"),
        col("gsz").as(s"sz_$tag")) ++
      (if (preGate) Seq(col("gmask").as(s"gm_$tag")) else Nil): _*)
    val sized = cand
      .join(side("l"), "id_l")
      .join(side("r"), "id_r")
      // lossless size prune kills hopeless pairs before any merge work
      .filter(jaccardSizePrune(col("sz_l"), col("sz_r"), threshold))
    val gated = if (preGate) sized.filter(jaccardMaskPrune(
        col("sz_l"), col("sz_r"), col("gm_l"), col("gm_r"), threshold))
      else sized
    gated
      .withColumn("jaccard",
        if (preGate) jaccardSortedGe(col("g_l"), col("g_r"), threshold)
        else jaccardSorted(col("g_l"), col("g_r")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("jaccard"))
  }

  /** Repeated-passage detection — the chunk-level form of exact-substring
    * dedup (cf. Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": verbatim passages recur across crawled
    * documents far more often than whole-document duplicates). Each
    * document is split into non-overlapping `chunkSize`-token windows
    * ([[Pipeline.chunkByTokens]] with stride = chunkSize), each window is
    * content-hashed, and a window whose hash occurs more than once
    * corpus-wide marks a repeated passage.
    *
    * Output: one row per document — (doc_id, n_chunks, n_dup_chunks,
    * dup_chunk_frac). Filter on `dup_chunk_frac` to drop
    * boilerplate-heavy documents, or join back to the chunk level to
    * excise just the repeated spans.
    *
    * Scale shape: chunking is scan-local and runs ONCE — the corpus-wide
    * occurrence count is a whole-partition window over the 32-byte chunk
    * hash (the groupBy-then-join-back alternative re-tokenizes and
    * re-hashes the corpus for the join's second scan), then one doc_id
    * rollup; never raw text, never pairs. A true suffix-automaton
    * substring dedup is sequential; chunk hashing is the standard
    * distributed approximation (window boundaries quantize match
    * positions; overlapping strides trade cost for recall). */
  def repeatedChunkStats(
      docs: DataFrame, id: Column, text: Column, chunkSize: Int): DataFrame = {
    val chunks = Pipeline.chunkByTokens(docs, id, text, chunkSize, chunkSize)
    chunks
      // round 21 (the dd26/dd28 pattern): the occurrence count keys on
      // xxhash64(chunk_md5) — 8 fixed bytes through the corpus-sized
      // exchange instead of the 32-char md5 hex string (~44 B padded),
      // and the window sorts longs. Nothing downstream needs the md5
      // text; a 64-bit collision between distinct md5s (≈ C²/2⁶⁵) could
      // only mark a unique chunk as repeated and would fail dd12's
      // string-md5 DuckDB dual loudly. String-keyed twin pinned equal in
      // DedupSpec ([[repeatedChunkStatsStringKeyed]]).
      .select(col("doc_id"), xxhash64(col("chunk_md5")).as("ckey"))
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("ckey"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** The retired string-keyed form of [[repeatedChunkStats]] — kept as
    * the A/B baseline and the equality anchor for the hashed count key
    * (DedupSpec pins the full output equal on the real corpus). */
  private[graft] def repeatedChunkStatsStringKeyed(
      docs: DataFrame, id: Column, text: Column, chunkSize: Int): DataFrame = {
    val chunks = Pipeline.chunkByTokens(docs, id, text, chunkSize, chunkSize)
    chunks
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("chunk_md5"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Fuzzy self-join: id-ordered pairs with Levenshtein distance ≤ 1
    * (0 included — exact duplicates under different ids are still pairs),
    * via symmetric-delete blocking (SymSpell / Norvig):
    * two strings are within edit distance 1 iff their deletion
    * neighborhoods {s} ∪ {s minus one char} intersect, so candidates come
    * from an EQUI join on variant keys — never a pairwise scan. The exact
    * `levenshtein` residual then removes the dist-2 pairs the blocking
    * admits (x and y each one delete from a shared variant).
    *
    * Scale shape: |s|+1 variant rows per input row, shuffled on the
    * variant string — linear blow-up, key-joined, the same
    * candidate-generator discipline as MinHash-LSH (dd3). Lossless for
    * dist ≤ 1 (substitution/insert/delete each leave a shared variant),
    * so the result is oracle-checkable against the naive theta join. */
  def editDistancePairs(df: DataFrame, id: Column, str: Column): DataFrame = {
    val base = df.select(id.as("ed_id"), str.as("ed_s"))
    // {s} ∪ deletion neighborhood, via SQL substring (expression positions)
    val variants = base.select(col("ed_id"), col("ed_s"),
      explode(expr(
        """array_union(
             array(ed_s),
             array_distinct(transform(
               sequence(1, greatest(length(ed_s), 1)),
               i -> concat(substring(ed_s, 1, i - 1),
                           substring(ed_s, i + 1, length(ed_s))))))"""))
        .as("variant"))
    variants.alias("a")
      .join(variants.alias("b"),
        col("a.variant") === col("b.variant") &&
        col("a.ed_id") < col("b.ed_id"))
      .select(col("a.ed_id").as("id_a"), col("a.ed_s").as("s_a"),
        col("b.ed_id").as("id_b"), col("b.ed_s").as("s_b"))
      .distinct() // a pair may share several variants (e.g. equal strings)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
  }

  /** Containment similarity join: pairs whose distinct word-n-gram
    * overlap covers ≥ `threshold` of the SMALLER document's gram set —
    * C(A,B) = |A∩B| / min(|A|,|B|). The asymmetric cousin of Jaccard
    * (dd7): a short document wholly quoted inside a long one scores ~1
    * here but low on Jaccard, which is why containment is the standard
    * quote/subset-dup detector alongside symmetric near-dup.
    *
    * Shape: distinct grams per doc → inverted-index equi join on the
    * gram key → per-pair shared count vs the (broadcastable) per-doc
    * gram counts; the exact integer ratio is oracle-safe. Shuffles key
    * on gram then (id_a, id_b) — never a pairwise scan. At 100 TB the
    * gram join inherits dd7's prefix-filter option (join only each
    * doc's rarest grams — lossless for a containment threshold because
    * ≥ t·|A| shared grams must include a rare one once |A|·(1−t) <
    * the prefix length); the plain inverted index is exact already. */
  def containmentPairs(
      docs: DataFrame, id: Column, text: Column,
      n: Int, threshold: Double): DataFrame = {
    val grams = docs.select(id.as("ct_id"),
      explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
        split(text, " "), n))).as("gram"))
    val counts = grams.groupBy("ct_id").agg(count(lit(1)).as("n_grams"))
    val shared = grams.alias("a")
      .join(grams.alias("b"),
        col("a.gram") === col("b.gram") && col("a.ct_id") < col("b.ct_id"))
      .groupBy(col("a.ct_id").as("id_a"), col("b.ct_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.select(col("ct_id").as("id_a"), col("n_grams").as("na")),
        "id_a")
      .join(counts.select(col("ct_id").as("id_b"), col("n_grams").as("nb")),
        "id_b")
      .withColumn("containment",
        col("shared").cast("double") /
          least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "shared", "containment")
  }

  /** Pairwise source-overlap matrix: for every pair of corpus sources,
    * the exact Jaccard of their distinct word-n-gram SETS plus both
    * directed containments — the "how much of CommonCrawl is already in
    * Books" audit that decides cross-source dedup order and mixture
    * double-counting. Source-level, not doc-level: [[decontaminate]]
    * flags individual docs; this grades whole corpora against each other.
    *
    * Scale shape: one distinct on (source, gram) — the gram sets of a
    * source dedup map-side before the shuffle — then a self-equi-join
    * keyed ON THE GRAM (never pairwise across docs) and one count per
    * source pair. The pair frame is |sources|² ≤ tiny, so the size join
    * at the end broadcasts. All-integer counts → one division each for
    * jaccard/containment → oracle hash-exact. Pairs with zero shared
    * grams still appear (overlap 0 is the finding that matters most). */
  def sourceOverlapMatrix(
      docs: DataFrame, source: Column, text: Column, n: Int): DataFrame = {
    val grams = docs.select(source.as("src"),
      explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
        split(text, " "), n))).as("gram"))
      .distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("sz"))
    val inter = grams.alias("a")
      .join(grams.alias("b"),
        col("a.gram") === col("b.gram") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    sizes.alias("x")
      .join(sizes.alias("y"), col("x.src") < col("y.src"))
      .select(col("x.src").as("src_a"), col("y.src").as("src_b"),
        col("x.sz").as("grams_a"), col("y.sz").as("grams_b"))
      .join(inter, Seq("src_a", "src_b"), "left_outer")
      .withColumn("shared_grams", coalesce(col("shared_grams"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        col("shared_grams"),
        (col("shared_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared_grams"))
            .cast("double")).as("jaccard"),
        (col("shared_grams").cast("double") / col("grams_a").cast("double"))
          .as("frac_a_in_b"),
        (col("shared_grams").cast("double") / col("grams_b").cast("double"))
          .as("frac_b_in_a"))
  }

  /** Approximate source-overlap via Theta sketches (Apache DataSketches,
    * shipped with Spark 4) — the 100 TB path for [[sourceOverlapMatrix]].
    * The exact matrix shuffles every distinct (source, gram) row and
    * self-joins on the gram; here each source's gram set collapses to a
    * fixed-size (default 4096-entry) mergeable sketch built map-side —
    * no pre-`distinct` needed, the sketch dedups by construction — and
    * the pairwise stage intersects |sources|² tiny sketches on the
    * driver-side broadcast scale. Unlike HLL (union-only), Theta
    * sketches support INTERSECTION, which is exactly what an overlap
    * matrix needs; relative error ~1/√k once sets exceed the sketch
    * size, exact below it.
    *
    * Rows-only by design (sketch estimates are engine-specific);
    * DedupSpec bounds the estimates against the exact matrix. */
  def thetaSourceOverlap(
      docs: DataFrame, source: Column, text: Column, n: Int): DataFrame = {
    val grams = docs.select(source.as("src"),
      explode(array_distinct(graft.ops.TextAnalysis.wordNgrams(
        split(text, " "), n))).as("gram"))
    val sk = grams.groupBy("src")
      .agg(expr("theta_sketch_agg(gram)").as("sk"))
    val a = sk.select(col("src").as("src_a"), col("sk").as("_sk_a"))
    val b = sk.select(col("src").as("src_b"), col("sk").as("_sk_b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("est_a", expr("theta_sketch_estimate(_sk_a)"))
      .withColumn("est_b", expr("theta_sketch_estimate(_sk_b)"))
      .withColumn("est_shared",
        expr("theta_sketch_estimate(theta_intersection(_sk_a, _sk_b))"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_shared"),
        (col("est_shared").cast("double") /
          (col("est_a") + col("est_b") - col("est_shared")).cast("double"))
          .as("jaccard_est"))
  }

  /** ε-bounds audit of [[thetaSourceOverlap]] against the exact matrix —
    * the recall-audit pattern (ss14 precedent) applied to set-overlap
    * sketches: run the sketch path AND [[sourceOverlapMatrix]], join on
    * the pair, and grade each theta estimate against its published error
    * at the configured size. For a 2^lgK-entry sketch the per-set
    * relative standard error is 1/√(2^lgK − 1); intersections are graded
    * relative to the pair's UNION size (the DataSketches guidance: the
    * intersection error scales with the union, not the intersection —
    * a tiny true overlap of two big sets is exactly where the estimate
    * is noisiest). Verdicts quoted at 4σ; below 2^lgK distinct grams a
    * theta sketch is in exact mode and the verdicts are trivially true
    * (sf0.01 fixtures), above it sampling kicks in (sf0.1: observed
    * ≤ 1.03σ per-set, ≤ 0.76σ on intersections).
    *
    * Output: the exact columns (src_a, src_b, grams_a, grams_b,
    * shared_grams, jaccard — all DuckDB-recomputable) + three boolean
    * verdicts (ok_a, ok_b, ok_shared) the oracle asserts TRUE. The
    * sketch path keeps its 100 TB shape; the exact leg is the audit
    * harness, same as every recall audit. */
  def thetaOverlapAudit(
      docs: DataFrame, source: Column, text: Column, n: Int,
      lgK: Int = 12): DataFrame = {
    val rse = 1.0 / math.sqrt((1 << lgK) - 1.0)
    val bound = lit(4.0 * rse)
    val est = thetaSourceOverlap(docs, source, text, n)
      .select(col("src_a"), col("src_b"),
        col("est_a"), col("est_b"), col("est_shared"))
    val exact = sourceOverlapMatrix(docs, source, text, n)
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        col("shared_grams"), col("jaccard"))
    val union = (col("grams_a") + col("grams_b") - col("shared_grams"))
      .cast("double")
    exact.join(est, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        col("shared_grams"), col("jaccard"),
        (abs(col("est_a").cast("double") - col("grams_a").cast("double")) <=
          bound * col("grams_a").cast("double")).as("ok_a"),
        (abs(col("est_b").cast("double") - col("grams_b").cast("double")) <=
          bound * col("grams_b").cast("double")).as("ok_b"),
        (abs(col("est_shared").cast("double") -
            col("shared_grams").cast("double")) <= bound * union)
          .as("ok_shared"))
  }

  /** Survivor election after clustering: given cluster membership
    * (doc, cluster) and a per-doc quality score, pick ONE representative
    * per cluster — highest quality, ties to the smallest id — and emit
    * every doc with its redirect target. This is the step between "LSH
    * found the duplicate clusters" and "write the deduped corpus": the
    * keep-rule must be auditable (deterministic argmax, not "first seen"),
    * and the losers' `rep_id` column IS the redirect map a downstream
    * join uses to repoint references at the surviving copy.
    *
    * Scale shape: ONE window within each cluster (keyed partition, never
    * SinglePartition): the representative is `first` over the full
    * cluster frame under the deterministic total order (quality desc,
    * id asc) — the rank-then-join-the-winners-back alternative
    * recomputes the members lineage (here: the whole connected-
    * components iteration) for the join's second scan. Oracle
    * hash-exact. */
  def electRepresentatives(
      members: DataFrame, idCol: String, clusterCol: String,
      quality: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(quality.desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members
      // a null cluster id means "in no cluster" — excluded explicitly
      // (the join-back form dropped those rows because null never
      // equi-matches; a bare window would elect a phantom representative
      // for the null partition)
      .filter(col(clusterCol).isNotNull)
      .withColumn("rep_id", first(col(idCol)).over(w))
      .select(col(idCol).as("doc_id"), col(clusterCol).as("cluster_id"),
        col("rep_id"), (col(idCol) === col("rep_id")).as("kept"))
  }

  /** Incremental ingestion dedup: flag INCOMING docs that near-duplicate
    * any EXISTING corpus doc — the continuous-crawl gate ("is this newly
    * crawled page already in the training set?"), which [[minhashNearDupPairs]]'
    * whole-corpus self-join cannot serve: re-deduping the corpus per batch
    * is quadratic in ingests. Same banded MinHash-LSH machinery, but the
    * band join is ASYMMETRIC (incoming probes existing), so per-ingest
    * work scales with the BATCH: at 100 TB the existing side's band table
    * is a precomputed artifact bucketed on band key (one row per
    * (band, doc), maintained additively as batches commit), the incoming
    * bands equi-join into it, and only colliding candidates pay exact
    * Jaccard verification. Emits one row per matched incoming doc:
    * its best existing match (highest jaccard, ties to the smallest
    * existing id via the struct-max trick — ids must be numeric) and the
    * verified-match count. */
  def incrementalNearDups(
      existing: DataFrame, incoming: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val r = numHashes / bands
    // Pinned: each side feeds the band join and the verification join,
    // whose readers prune different columns, so no exchange is shared —
    // unpinned, each side's minhash pipeline runs twice (4 scans).
    def prepared(df: DataFrame, pfx: String): DataFrame = Pipeline.pin(
      df.select(
        id.as(s"${pfx}_id"),
        wordShinglesSorted(TextAnalysis.tokens(text), shingleN)
          .as(s"${pfx}_sh"))
      .withColumn(s"${pfx}_bkeys",
        bandKeys(minhashSignature(col(s"${pfx}_sh"), numHashes), bands, r)))
    val ex = prepared(existing, "ex")
    val in = prepared(incoming, "in")
    val cand = in.select(col("in_id"), explode(col("in_bkeys")).as("bkey"))
      .join(ex.select(col("ex_id"), explode(col("ex_bkeys")).as("bkey")),
        "bkey")
      .select("in_id", "ex_id").distinct()
    cand
      .join(in.select(col("in_id"), col("in_sh")), "in_id")
      .join(ex.select(col("ex_id"), col("ex_sh")), "ex_id")
      .withColumn("jaccard", jaccardSorted(col("in_sh"), col("ex_sh")))
      .filter(col("jaccard") >= threshold)
      .groupBy("in_id")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard").as("j"), (-col("ex_id")).as("neg")))
          .as("_m"))
      .select(col("in_id").as("incoming_id"),
        (-col("_m.neg")).as("matched_id"),
        col("_m.j").as("jaccard"), col("n_matches"))
  }

  /** Materialize the EXISTING-corpus side of [[incrementalNearDups]] as a
    * durable band index: one row per (band key, doc), bucketed on the
    * band key so every future ingest probe joins it WITHOUT shuffling
    * the corpus side — the precomputed artifact the incremental gate's
    * 100 TB story presumes. The doc's shingle set rides along so the
    * exact-Jaccard verification also needs no second corpus pass; new
    * batches are appended additively as they commit (same bucketing →
    * still one file per bucket per batch, scans stay bucket-pruned). */
  def writeBandIndex(
      docs: DataFrame, id: Column, text: Column, table: String,
      buckets: Int, shingleN: Int = 3, numHashes: Int = 32,
      bands: Int = 8): Unit = {
    val r = numHashes / bands
    val prepared = docs.select(
        id.as("ex_id"),
        wordShinglesSorted(TextAnalysis.tokens(text), shingleN).as("ex_sh"))
      .withColumn("bkey",
        explode(bandKeys(minhashSignature(col("ex_sh"), numHashes), bands, r)))
      .select("bkey", "ex_id", "ex_sh")
    graft.sources.Tables.writeBucketed(prepared, table, buckets, "bkey")
    // Parameter sidecar: a probe run with different LSH parameters would
    // SILENTLY return zero matches (band keys never collide), so the
    // parameters are persisted with the index and validated at probe time.
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((shingleN, numHashes, bands)).toDF("shingle_n", "num_hashes", "bands")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_lshparams")
  }

  /** Ingest-gate probe against a [[writeBandIndex]] table: identical
    * semantics to [[incrementalNearDups]], but the existing side is the
    * durable bucketed band index — its scan carries the bucket hash, so
    * the band equi-join plans NO shuffle on the corpus side (PlanSpec/
    * DedupSpec-asserted); only the incoming batch hashes, explodes and
    * exchanges. Per-ingest cost is batch-sized at any corpus size. */
  def probeBandIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      incoming: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // Validate against the sidecar [[writeBandIndex]] persisted: band keys
    // from mismatched parameters never collide, so a silent mismatch reads
    // as "no duplicates" — the worst possible failure mode for a dedup
    // gate. Loud beats wrong.
    val side =
      try spark.table(s"${table}_lshparams").collect().headOption
      catch { case scala.util.control.NonFatal(_) => None }
    side match {
      case Some(p) =>
        require(
          p.getInt(0) == shingleN && p.getInt(1) == numHashes &&
            p.getInt(2) == bands,
          s"probeBandIndex($table): probe parameters (shingleN=$shingleN, " +
          s"numHashes=$numHashes, bands=$bands) do not match the index " +
          s"(shingleN=${p.getInt(0)}, numHashes=${p.getInt(1)}, " +
          s"bands=${p.getInt(2)}) — a mismatched probe silently returns " +
          "zero matches")
      case None => throw new IllegalStateException(
        s"probeBandIndex($table): no ${table}_lshparams sidecar — index " +
        "was not written by writeBandIndex (or the sidecar was dropped); " +
        "refusing to probe with unverifiable parameters")
    }
    val r = numHashes / bands
    val ex = spark.table(table)
    val in = incoming.select(
        id.as("in_id"),
        wordShinglesSorted(TextAnalysis.tokens(text), shingleN).as("in_sh"))
      .withColumn("bkey",
        explode(bandKeys(minhashSignature(col("in_sh"), numHashes), bands, r)))
    in.join(ex, "bkey")
      .select(col("in_id"), col("in_sh"), col("ex_id"), col("ex_sh"))
      .withColumn("jaccard", jaccardSorted(col("in_sh"), col("ex_sh")))
      .filter(col("jaccard") >= threshold)
      .select("in_id", "ex_id", "jaccard").distinct()
      .groupBy("in_id")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard").as("j"), (-col("ex_id")).as("neg")))
          .as("_m"))
      .select(col("in_id").as("incoming_id"),
        (-col("_m.neg")).as("matched_id"),
        col("_m.j").as("jaccard"), col("n_matches"))
  }

  /** Continuous-crawl ADMISSION pipeline — the ingest-side counterpart
    * of Pipeline.corpusPipeline's flagship: every gate this file builds,
    * composed as ONE lazy plan over an incoming batch, emitting a
    * per-doc DECISION RECORD (each gate's verdict + the final admit), so
    * "why was this page rejected" is answerable without re-running:
    *  1. [[bloomIngestGate]] — exact-dup verdict, corpus-shuffle-free;
    *  2. [[incrementalNearDups]] — asymmetric LSH near-dup probe,
    *     per-ingest work batch-sized;
    *  3. Gopher hard filters ([[TextAnalysis.gopherRules]]) — scan-local
    *     quality gate;
    *  admitted = not exact-dup AND not near-dup AND quality-pass.
    * Runs unmodified per micro-batch under foreachBatch (the st14
    * pattern) — the batch dual is the oracle. Catalyst plans the three
    * gates off one pass over the batch; the corpus side costs are each
    * gate's documented shape (bloom broadcast, band index, none). */
  def ingestPipeline(
      existing: DataFrame, incoming: DataFrame, id: Column, text: Column,
      bloomKey: Column, expectedItems: Long,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      nearDupThreshold: Double = 0.5, minWords: Int = 20): DataFrame = {
    val exact = bloomIngestGate(existing, incoming, id, bloomKey,
        expectedItems)
      .select(col("incoming_id"), col("is_dup").as("exact_dup"))
    val near = incrementalNearDups(existing, incoming, id, text,
        shingleN, numHashes, bands, nearDupThreshold)
      .select(col("incoming_id"), lit(true).as("near_dup"))
    incoming
      .select(id.as("incoming_id"),
        TextAnalysis.gopherRules(text, minWords).last.as("gopher_pass"))
      .join(exact, Seq("incoming_id"))
      .join(near, Seq("incoming_id"), "left")
      .na.fill(false, Seq("near_dup"))
      .withColumn("admitted",
        !col("exact_dup") && !col("near_dup") && col("gopher_pass"))
      .select("incoming_id", "exact_dup", "near_dup", "gopher_pass",
        "admitted")
  }

  /** Pairs of ids whose dedup KEY is identical (full text, a prefix
    * fingerprint, a normalized form, …): the exact-equality signal in a
    * multi-signal dedup comparison. Self-join on the md5 digest of the
    * key — shuffle keys stay 32 bytes (the [[exactDedupKeep]] rule), pair
    * fan-out is per-group², candidate-bounded. */
  def keyEqualityPairs(docs: DataFrame, id: Column, key: Column): DataFrame = {
    val t = docs.select(id.as("ke_id"), md5(key).as("digest"))
    t.alias("a")
      .join(t.alias("b"),
        col("a.digest") === col("b.digest") &&
          col("a.ke_id") < col("b.ke_id"))
      .select(col("a.ke_id").as("id_a"), col("b.ke_id").as("id_b"))
  }

  /** Multi-signal dedup AGREEMENT report: given several near/exact-dup
    * pair sets (each tagged with its signal name, canonical id_a < id_b),
    * emit per-signal sizes and every signal pair's overlap + Jaccard —
    * the methodology audit behind choosing a production dedup stack ("do
    * prefix fingerprints recover what trigram Jaccard finds? is the
    * containment signal redundant?"). Corpus pipelines tune thresholds
    * against exactly this table before committing to one signal at scale.
    *
    * Scale shape: inputs are candidate-bounded pair sets (never the
    * corpus); the overlap self-join shuffles on (id_a, id_b) — pair-set-
    * sized; the signal-name cross join is |signals|² rows, so
    * zero-overlap signal pairs are preserved (the dd18 sizes trick).
    * Signals with EMPTY pair sets stay present with n = 0 and a null
    * Jaccard when both sides are empty. */
  def signalAgreement(signals: Seq[(String, DataFrame)]): DataFrame = {
    val spark = signals.head._2.sparkSession
    import spark.implicits._
    // the tagged union feeds the sizes aggregate AND both sides of the
    // overlap self-join; each leaf's distinct ends in an exchange, so the
    // expensive pair generators under it run once and the other readers
    // are ReusedExchanges
    val tagged = signals.map { case (name, df) =>
      df.select(lit(name).as("sig"), col("id_a"), col("id_b")).distinct()
    }.reduce(_.unionByName(_))
    val sizes = tagged.groupBy("sig").agg(count(lit(1)).as("n"))
    val names = signals.map(_._1).toDF("sig")
    val common = tagged.alias("x")
      .join(tagged.alias("y"),
        col("x.id_a") === col("y.id_a") && col("x.id_b") === col("y.id_b") &&
          col("x.sig") < col("y.sig"))
      .groupBy(col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .agg(count(lit(1)).as("n_common"))
    names.select(col("sig").as("sig_a"))
      .crossJoin(names.select(col("sig").as("sig_b")))
      .filter(col("sig_a") < col("sig_b"))
      .join(common, Seq("sig_a", "sig_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(sizes.select(col("sig").as("sig_a"), col("n").as("n_a")),
        Seq("sig_a"), "left")
      .join(sizes.select(col("sig").as("sig_b"), col("n").as("n_b")),
        Seq("sig_b"), "left")
      .na.fill(0L, Seq("n_a", "n_b"))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_common") === 0,
          lit(null).cast("double"))
        .otherwise(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")))
      .select("sig_a", "sig_b", "n_a", "n_b", "n_common", "jaccard")
  }

  /** Bloom-filter EXACT-dup ingest pre-gate: flag incoming docs whose
    * dedup key (e.g. an md5 of the text, or of a leading-prefix
    * fingerprint) already occurs in the existing corpus — the cheap front
    * door that runs BEFORE [[incrementalNearDups]]' near-dup probe in a
    * continuous-crawl pipeline. Completes the ingest-gate family: st12 is
    * the exact anti-join over a digest table, dd21/probeBandIndex the
    * near-dup LSH probe, this is the probabilistic pre-filter that makes
    * the exact check corpus-shuffle-free.
    *
    * Scale shape (the reason this exists next to a plain anti-join):
    *  1. the Bloom filter is built from corpus digests with a mergeable
    *     per-partition sketch (`DataFrameStatFunctions.bloomFilter`, a
    *     treeAggregate) — ~1.2 GB per 10⁹ keys at 1% fpp, a broadcast-able
    *     snapshot artifact reused across many ingest batches; beyond
    *     ~10¹⁰ keys, shard it by digest prefix or scope it to the
    *     recent-crawl window and let st12's anti-join own the long tail;
    *  2. the probe is a scan-local filter on the incoming batch — ZERO
    *     shuffle, zero corpus access — passing only true dups plus an
    *     expected fpp fraction of the batch as candidates (Bloom filters
    *     have no false negatives, so nothing is missed);
    *  3. only the candidates are verified exactly: the corpus digest scan
    *     broadcast-semi-joins the batch-sized candidate set, so the
    *     corpus is read once and NEVER shuffled (asserted in DedupSpec).
    * The emitted verdict is therefore EXACT — false positives die in
    * step 3 — which is what makes the query oracle-checkable even though
    * the Bloom bits themselves are engine-local.
    *
    * Returns one row per incoming doc: (incoming_id, digest, is_dup). */
  def bloomIngestGate(
      existing: DataFrame, incoming: DataFrame, id: Column, key: Column,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    bloomIngestGate(existing, incoming, id, key,
      buildDigestBloom(existing, key, expectedItems, fpp))

  /** The corpus-snapshot Bloom artifact on its own: built once per
    * snapshot (a treeAggregate over the digest scan), then reused across
    * every ingest batch — the streaming form rebuilds it never, only the
    * per-batch probe+verify runs per micro-batch. */
  def buildDigestBloom(
      existing: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    existing.select(md5(key).as("digest"))
      .stat.bloomFilter("digest", expectedItems, fpp)

  // One Spark broadcast per DISTINCT bloom object, not per call: the
  // streaming gate invokes [[bloomIngestGate]] once per micro-batch with
  // the SAME snapshot bloom, and a fresh sc.broadcast each trigger would
  // accumulate broadcast blocks for the life of the stream (the dd21
  // cache-leak lesson, broadcast flavor). Weak keys: when the caller
  // drops its bloom, the entry clears and Spark's ContextCleaner
  // reclaims the broadcast.
  private val bloomBroadcasts = new java.util.WeakHashMap[
    org.apache.spark.util.sketch.BloomFilter,
    org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter]]()

  /** [[bloomIngestGate]] against a prebuilt snapshot bloom. */
  def bloomIngestGate(
      existing: DataFrame, incoming: DataFrame, id: Column, key: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val ex = existing.select(md5(key).as("digest"))
    val in = incoming.select(id.as("incoming_id"), md5(key).as("digest"))
    val bc = bloomBroadcasts.synchronized {
      var b = bloomBroadcasts.get(bloom)
      if (b == null) {
        b = existing.sparkSession.sparkContext.broadcast(bloom)
        bloomBroadcasts.put(bloom, b)
      }
      b
    }
    val probe = udf((d: String) => d != null && bc.value.mightContainString(d))
    // step 2: scan-local pre-filter — candidates = dups + ~fpp of the batch
    val candDigests = in.filter(probe(col("digest")))
      .select("digest").distinct()
    // step 3: corpus side scans once, broadcast-semi-joins the tiny
    // candidate set (no corpus shuffle); distinct AFTER the semi join so
    // only matched rows (≤ candidate count) ever exchange
    val dupDigests = ex
      .join(broadcast(candDigests), Seq("digest"), "left_semi")
      .distinct()
    in.join(broadcast(dupDigests.withColumn("is_dup", lit(true))),
        Seq("digest"), "left")
      .na.fill(false, Seq("is_dup"))
      .select("incoming_id", "digest", "is_dup")
  }

  /** Duplicate-SPAN detection (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): find every
    * position where a `k`-token gram recurs ANYWHERE in the corpus
    * (other docs or the same doc) and merge overlapping/adjacent hits
    * into maximal token spans per doc — the span-level record behind
    * "cut the duplicated passage out of the document" dedup, which
    * doc-level (dd1) and chunk-level (dd12) filters cannot express
    * (they keep or drop whole units; memorization lives in the spans).
    * Output: (doc_id, span_id, span_start, span_end, span_tokens),
    * token positions 1-based inclusive.
    *
    * The paper builds a corpus suffix array; the distributed analog is
    * positional k-gram inversion — every (doc, pos, gram) keyed by gram,
    * recurring grams marked, per-doc interval union of the hits. A hit
    * at pos covers [pos, pos+k−1]; the gaps-and-islands merge (running
    * max of span ends, new span when a start clears prevMax+1) yields
    * exactly the maximal covered runs.
    *
    * Scale shape: gram construction is scan-local (one transform over
    * the token array — positions come from the array index, no window);
    * the recurrence mark is ONE gram-keyed shuffle (count over the gram
    * partition — the groupBy-then-join-back alternative shuffles the
    * positional frame twice for the same answer; a hot boilerplate gram
    * routes to one task under either plan, and WindowExec spills, so the
    * window costs nothing extra under skew — MEASURED, round 17
    * (DevSkew, ×10 docs, one chunk planted in every document): window
    * 0.42/0.37 s organic/skewed vs join-back 0.58/0.59 s — the window
    * form wins BOTH regimes, the join-back's second shuffle + SMJ sort
    * costs more than the window's buffering even at a 50k-occurrence
    * hot key; AQE's skew-join splitting would only matter at hot keys
    * orders of magnitude past that, where the join's own sort degrades
    * too); the span merge windows per doc (state = one doc's hit list).
    * Driver state: none.
    *
    * ROUND 21 (the dd28 pattern, verdict item 1): the count keys on
    * `xxhash64(gram)` — the gram STRING (~40 B for a 5-gram of words vs
    * 8 fixed bytes of hash) is dropped scan-side, before the one
    * corpus-sized exchange, and the window's sort compares longs
    * instead of byte-wise strings. Nothing downstream of the count ever
    * needs the gram text (hits project (doc_id, pos) only). Hash-keyed
    * recurrence equals string-keyed recurrence unless two DISTINCT
    * grams collide in 64 bits (≈ G²/2⁶⁵ for G distinct grams — ~1e-10
    * at fixture scale, ~1e-4 even at 10¹² grams); a collision can only
    * mark a unique gram as recurring (never un-mark a real dup), adding
    * one false span — and would fail dd26's string-gram DuckDB dual
    * loudly. The string-keyed form stays below as the pinned
    * bit-equality anchor ([[duplicateSpansStringKeyed]], DedupSpec). */
  def duplicateSpans(
      df: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val grams = df
      .select(idCol.as("doc_id"), TextAnalysis.tokens(textCol).as("toks"))
      // a doc below k tokens has no k-gram at all; without this guard
      // sequence(1, size-(k-1)) would be sequence(1, 0) = [1, 0]
      // (descending) and slice(toks, 0, k) throws at position 0
      .filter(size(col("toks")) >= k)
      // native word_ngrams (round 20): one codegen'd loop per doc —
      // bit-identical to the retired transform(sequence(1, size−k+1),
      // i => concat_ws(" ", slice(toks, i, k))) form (full windows only,
      // space-joined, in position order; Ngrams.joinSlice IS concat_ws),
      // which re-ran an interpreted HOF lambda per gram position
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordNgrams(col("toks"), k))
        .as(Seq("p0", "gram")))
      // round 21: hash the gram scan-side and DROP the string — the
      // exchange ships (doc_id, pos, 8-byte key) instead of the text
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        xxhash64(col("gram")).as("gkey"))
    duplicateSpansFromKeyedGrams(grams, k)
  }

  /** The retired string-keyed form of [[duplicateSpans]] — kept (q20/
    * dd16/vec_dot convention) as the re-measurable A/B baseline and the
    * equality anchor for the hashed count key (DedupSpec pins the full
    * span set equal on the real corpus; the oracle dual is string-gram
    * too, so dd26 stays independently checked end-to-end). */
  private[graft] def duplicateSpansStringKeyed(
      df: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val grams = df
      .select(idCol.as("doc_id"), TextAnalysis.tokens(textCol).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(
        TextAnalysis.wordNgrams(col("toks"), k))
        .as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("gram").as("gkey"))
    duplicateSpansFromKeyedGrams(grams, k)
  }

  /** Shared tail of the duplicateSpans variants: corpus-wide occurrence
    * count over the (hashed or string) gram key, then the per-doc
    * gaps-and-islands span merge. Input: (doc_id, pos, gkey). */
  private def duplicateSpansFromKeyedGrams(
      grams: DataFrame, k: Int): DataFrame = {
    // grams that recur anywhere in the corpus (count over ALL positions,
    // so an intra-doc repeat is a dup too — the paper's semantics);
    // whole-partition window frame = the corpus-wide occurrence count
    val hits = grams
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("gkey"))))
      .filter(col("_n") > 1L)
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + (k - 1)).cast("long").as("e"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").asc, col("e").asc)
    val prevMax = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("_nf",
        when(prevMax.isNull || col("s") > prevMax + 1L, 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("_nf")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "span_id")
      .agg(
        min(col("s")).as("span_start"),
        max(col("e")).as("span_end"),
        (max(col("e")) - min(col("s")) + 1L).as("span_tokens"))
  }
}
