package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale playbook:
  *  - `bruteForceTopK`: exact cosine top-k via a bounded cross join —
  *    the baseline, correct at any k, O(|queries| * |corpus|). Fine when
  *    the query side is small or the corpus is broadcastable.
  *  - SRP-LSH (`srpSignature` + `annTopK`): signed-random-projection
  *    signatures bucket the corpus so the join touches only
  *    same/neighboring buckets — the 100 TB path (shuffle on bucket keys,
  *    never n²). Hyperplanes are derived from a deterministic splitmix64
  *    stream, so signatures are reproducible cluster-wide.
  *
  * Cosine is computed in double (cast from float) with a sequential
  * left-fold per row — deterministic, and exactly matching a sequential
  * oracle evaluation.
  */
object Similarity {

  /** Elementwise float→double — native codegen'd expression (round 21).
    * Exactly the declarative `transform(v, _.cast("double"))` it
    * replaces — same containsNull in the result type, null elements
    * propagate, float→double upcasts are exact — but one tight JVM loop
    * inside whole-stage codegen instead of an interpreted lambda per
    * element. This was the last interpreted expression on every
    * ANN/k-means corpus scan (round-20 "Not yet optimized" item 5;
    * SimilaritySpec pins schema + raw bits vs [[asDoubleDeclarative]]). */
  def asDouble(v: Column): Column = graft.functions.Vectors.vec_to_double(v)

  /** The retired declarative form of [[asDouble]] — kept (q20/dd16/
    * vec_dot convention) as the re-measurable A/B baseline and the
    * bit-equality + schema oracle for the native expression. */
  private[graft] def asDoubleDeclarative(v: Column): Column =
    transform(v, x => x.cast("double"))

  /** Dot product — native codegen'd expression (same ascending sequential
    * double fold as the declarative aggregate(zip_with) form, so results
    * are bit-identical; ~60× faster on pairwise scans). */
  def dot(a: Column, b: Column): Column =
    graft.functions.Vectors.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each row of `queries` against `corpus`.
    * Output: (qid, rank, vec_id, cos). Both inputs need (idCol, vecCol). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms are precomputed per ROW (n + m evaluations) instead of inside
    // the pair loop (n × m) — same values, so same cosines bit-for-bit.
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qnorm"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cnorm"))
    val scored = q.crossJoin(c)
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * two bounded ranked retrieval lists — the standard hybrid
    * lexical+vector retrieval combiner: fused score(d) =
    * Σ_channels 1/(k + rank_ch(d)) over the channels that retrieved d.
    * Rank-based, so the channels' incomparable score scales (BM25 vs
    * cosine) never mix, and a doc surfaced by BOTH channels outranks
    * one surfaced by either alone at similar depth.
    *
    * Scale shape: the inputs are top-m lists (≤ m rows each), so at ANY
    * corpus scale the fusion itself is a join of two tiny frames — one
    * full-outer join on doc id plus rank arithmetic, no new shuffle
    * shape. The expensive work stays in the channels, which scale
    * independently ([[TextAnalysis.bm25Search]] for lexical,
    * [[bruteForceTopK]]/[[ivfTopK]]/[[ivfPqServe]] for vector). The
    * final re-rank is a row_number over ≤ 2m fused rows — a bounded
    * single-partition window, the grand-total class.
    *
    * Determinism: 1/(k+rank) is one IEEE division per channel and one
    * fixed-order (lex + vec) sum; ties break by doc id — hash-exact vs
    * the DuckDB dual (catalog row `ss21_hybrid_rrf`). */
  def rrfFuse(
      lex: DataFrame, lexId: String, lexRank: String,
      vec: DataFrame, vecId: String, vecRank: String,
      k: Int = 60, topK: Int = 20): DataFrame = {
    require(k >= 0 && topK > 0)
    val l = lex.select(col(lexId).as("doc_id"),
      col(lexRank).cast("int").as("lex_rank"))
    val v = vec.select(col(vecId).as("doc_id"),
      col(vecRank).cast("int").as("vec_rank"))
    // null rank (channel missed the doc) → null contribution → 0
    def contrib(rank: Column): Column =
      coalesce(lit(1.0) / (lit(k) + rank).cast("double"), lit(0.0))
    val fused = l.join(v, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        contrib(col("lex_rank")) + contrib(col("vec_rank")))
    val w = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    fused
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .select("doc_id", "lex_rank", "vec_rank", "rrf", "fused_rank")
  }

  /** k-NN classification: majority label among the query's top-k cosine
    * neighbors (self excluded), ties to the smallest label — the
    * classic embedding-space labeler (weak-label propagation from a
    * seed-annotated corpus slice onto the rest; the evaluation loop of
    * every embedding model). Deterministic end to end: exact ordered-fold
    * cosines, total (cos, id) tie-break in the top-k, total (votes,
    * label) tie-break in the vote — oracle hash-exact. The neighbor
    * generator swaps freely: compose with [[annTopK]]/[[ivfTopK]]/
    * [[pqTopK]] for the 100 TB path, identical vote stage. */
  def knnClassify(
      queriesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(queriesDf, corpus, idCol, vecCol, k)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nbr_label").asc)
    topk
      .join(corpus.select(col(idCol).as("vec_id"),
        col(labelCol).as("nbr_label")), "vec_id")
      .groupBy("qid", "nbr_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("qid"), col("nbr_label").as("predicted_label"),
        col("votes"))
  }

  /** Rocchio pseudo-relevance feedback (one round): refine each query as
    * `q' = alpha·q + beta·mean(top-kFb round-1 results)` and re-rank the
    * corpus against q' — the classic recall amplifier when one example
    * under-specifies what to retrieve (seed expansion for data curation:
    * "find more docs like these" from one seed). alpha/beta default ½/½
    * (dyadic-exact).
    *
    * Exactness: the feedback centroid uses the DECIMAL(18,9) per-dim
    * mean ([[kmeans]]' policy — order-independent), q' is one exact IEEE
    * expression per dim, and both scoring rounds are ordered-fold
    * cosines with total tie-breaks → oracle hash-exact.
    * Scale shape: round 1 is any top-k generator (brute force here, ANN
    * at corpus scale); the per-dim mean shuffles ≤ queries × dims rows
    * after a map-side combine; q' re-assembles per query (the ss17
    * array_sort(struct) trick) and round 2 is the same scan shape as
    * round 1. Output: (qid, rank, vec_id, cos) against q'. */
  def rocchioExpand(
      queriesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, kFb: Int, k: Int,
      alpha: Double = 0.5, beta: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val fb = bruteForceTopK(queriesDf, corpus, idCol, vecCol, kFb)
      .join(corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("fvec")), "vec_id")
      .select(col("qid"), posexplode(col("fvec")).as(Seq("dim", "v")))
      .groupBy("qid", "dim")
      .agg((sum(graft.queries.OracleSafe.dec(col("v"), 9)).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
      .groupBy("qid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mu")))),
        p => p.getField("mu")).as("fbvec"))
    val refined = queriesDf
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .join(fb, "qid")
      .select(col("qid"),
        zip_with(col("qvec"), col("fbvec"),
          (q, m) => lit(alpha) * q + lit(beta) * m).as("rvec"))
    val c = corpus.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("cvec"), norm(col(vecCol)).as("cnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    broadcast(refined.withColumn("rnorm", sqrt(dot(col("rvec"), col("rvec")))))
      .crossJoin(c)
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        dot(col("rvec"), col("cvec")) / (col("rnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** SEMANTIC eval-set decontamination — the embedding-space complement
    * of the n-gram overlap gate (dd11/dd17): flag training docs whose
    * embedding lands within cosine `threshold` of ANY eval doc, catching
    * paraphrased/translated/reformatted leakage that shares no surface
    * n-grams. Output mirrors the ingest gate: one row per flagged train
    * doc with its closest eval match (ties to the smallest eval id via
    * the struct-max trick) and the match count.
    *
    * Scale shape: eval sets are SMALL by nature (thousands of rows), so
    * the eval side broadcasts and the scoring pass is scan-local over
    * the training corpus — zero shuffle except the final per-doc argmax
    * agg, which carries only flagged rows. An eval set too big to
    * broadcast swaps in the SRP/IVF bucketed join ([[srpNearDupPairs]]'
    * shape) with this same verify/argmax tail. */
  def semanticDecontamination(
      train: DataFrame, evalSet: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val t = train.select(col(idCol).as("train_id"),
      asDouble(col(vecCol)).as("tvec"), norm(col(vecCol)).as("tnorm"))
    val e = evalSet.select(col(idCol).as("eval_id"),
      asDouble(col(vecCol)).as("evec"), norm(col(vecCol)).as("enorm"))
    t.crossJoin(broadcast(e))
      .withColumn("cos",
        dot(col("tvec"), col("evec")) / (col("tnorm") * col("enorm")))
      .filter(col("cos") >= threshold)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("cos").as("c"), (-col("eval_id")).as("neg")))
          .as("_m"))
      .select(col("train_id"), (-col("_m.neg")).as("matched_eval_id"),
        col("_m.c").as("cos"), col("n_matches"))
  }

  /** Hard-negative mining for contrastive/retrieval training sets: for
    * each anchor, the top-k most-similar corpus vectors with a DIFFERENT
    * label — "close in embedding space but semantically wrong", the
    * negatives that actually move a contrastive loss (easy random
    * negatives are already far away and contribute ~zero gradient).
    * Deterministic end to end: exact ordered-fold cosines, total
    * (cos desc, id asc) tie-break → oracle hash-exact.
    *
    * BRUTE-FORCE scoring baseline, same bounded-anchor contract as
    * [[bruteForceTopK]]; at corpus scale the candidate generator swaps
    * to [[annTopK]]/[[ivfTopK]] with an over-fetch factor (ANN returns
    * k·φ neighbors, the label filter then keeps ≥ k with high
    * probability), and the filter/rank stage below is unchanged. */
  def hardNegatives(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      anchors: Column, k: Int): DataFrame = {
    val q = df.filter(anchors).select(
      col(idCol).as("qid"), col(labelCol).as("anchor_label"),
      col(vecCol).as("qvec"), norm(col(vecCol)).as("qnorm"))
    val c = df.select(
      col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
      col(vecCol).as("cvec"), norm(col(vecCol)).as("cnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neg_id").asc)
    q.crossJoin(c)
      .filter(col("anchor_label") =!= col("neg_label"))
      .withColumn("cos",
        dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "anchor_label", "rank", "neg_id", "neg_label", "cos")
  }

  /** Label-conditional embedding outlier audit — the mislabeled/noisy-
    * sample detector run before a labeled slice seeds [[knnClassify]]
    * weak labeling or a classifier head: score every vector by its
    * squared L2 distance to ITS OWN label's centroid and rank the
    * farthest per label. A clean sample sits near its centroid; a
    * mislabeled or garbage embedding lands in the tail.
    *
    * Exactness: centroids use the per-dim DECIMAL(18,9)-sum mean (the
    * [[kmeans]] policy — order-independent, so reproducible at any
    * partitioning), and the distance is a nano-quantized BIGINT sum
    * (`Σ_i floor((x_i−c_i)²·10⁹)`): every term is composed of exactly-
    * rounded IEEE ops on identical inputs and integer addition commutes,
    * so the score is bit-identical on any engine and any merge order —
    * which is what makes this oracle-checkable (a plain double sum of 64
    * terms would hash-diverge cross-engine on summation order).
    *
    * Scale shape: the posexplode inflation happens scan-local BEFORE the
    * map-side combine, so the centroid shuffle carries ≤ partitions ×
    * labels × dims rows (bounded, never data-sized); the centroid table
    * (labels × 1 array row) broadcasts back; scoring is scan-local; the
    * only data-sized shuffle is the per-label rank window. */
  def centroidOutliers(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val corp = df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      asDouble(col(vecCol)).as("vec"))
    val cents = corp
      .select(col("label"), posexplode(col("vec")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((sum(graft.queries.OracleSafe.dec(col("v"), 9)).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mu")))),
        p => p.getField("mu")).as("cvec"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_nano").desc, col("vec_id").asc)
    corp.join(broadcast(cents), "label")
      .withColumn("dist2_nano",
        aggregate(
          zip_with(col("vec"), col("cvec"),
            (x, c) => floor((x - c) * (x - c) * lit(1e9)).cast("long")),
          lit(0L), (acc, t) => acc + t))
      .withColumn("rank", row_number().over(w))
      .withColumn("is_outlier", col("rank") <= topN)
      .select("label", "vec_id", "dist2_nano", "rank", "is_outlier")
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily re-rank a top-`m` candidate set so each pick
    * maximizes `lambda·rel(c) − (1−lambda)·max_{s∈selected} sim(c, s)` —
    * relevance traded against redundancy. THE diverse-example selector:
    * plain top-k hands a few-shot prompt (or a retrieval-augmented
    * context) near-duplicate passages; MMR spends the same k slots on
    * coverage. First pick = highest relevance (empty-selection diversity
    * is 0); ties break to the smallest id at every step.
    *
    * Scale shape: the candidate generator is any top-m op (brute force
    * here; [[annTopK]]/[[ivfTopK]] at corpus scale — the re-rank stage is
    * unchanged); the greedy loop runs per query group over m candidates
    * via flatMapGroups — per-group state m×dim doubles, bounded, and the
    * shuffle is (qid → m rows), candidate-sized. The sequential loop is
    * INHERENT to MMR (each pick conditions on the previous); running it
    * inside the group is the distributed form, not a compromise.
    * Deterministic end to end (ordered-fold cosines, total tie-breaks,
    * fixed `lambda·rel − (1−lambda)·div` evaluation order) → the truth
    * recompute is hash-exact including scores.
    * Output: (qid, sel_rank, vec_id, mmr_score). */
  def mmrTopK(
      queriesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, lambda: Double = 0.5): DataFrame =
    mmrRerank(bruteForceTopK(queriesDf, corpus, idCol, vecCol, m),
      corpus, idCol, vecCol, k, lambda)

  /** The MMR re-rank stage alone, over an EXTERNAL candidate set
    * `(qid, vec_id, cos)` — exactly what [[mmrTopK]] runs after its
    * brute-force generator ([[mmrTopK]] IS this method composed with
    * [[bruteForceTopK]], so the shipped ss18 path is unchanged). Feed it
    * [[annTopK]]/[[ivfTopK]] output to compose diversity re-ranking with
    * an ANN candidate generator at corpus scale — the round-18 planted
    * sweep measures that composition's selection recall vs the
    * exact-candidate selection. */
  def mmrRerank(
      candidates: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withVec = candidates
      .join(corpus.select(col(idCol).as("vec_id"),
        asDouble(col(vecCol)).as("cvec")), "vec_id")
      .select("qid", "vec_id", "cos", "cvec")
    val outSchema = StructType(Seq(
      StructField("qid", LongType),
      StructField("sel_rank", IntegerType),
      StructField("vec_id", LongType),
      StructField("mmr_score", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    withVec.groupByKey(_.getLong(0))
      .flatMapGroups { (qid: Long, it: Iterator[org.apache.spark.sql.Row]) =>
        // (vec_id, rel, vec) sorted by (rel desc, id asc) — the same total
        // order as the generator's rank
        val cands = it.map { r =>
          (r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray)
        }.toArray.sortBy { case (id, rel, _) => (-rel, id) }
        def dotd(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var acc = 0.0
          var i = 0
          while (i < n) { acc += a(i) * b(i); i += 1 }
          acc
        }
        val nrm = cands.map { case (_, _, v) => math.sqrt(dotd(v, v)) }
        val idx = cands.indices.toArray
        def sim(i: Int, j: Int): Double =
          dotd(cands(i)._3, cands(j)._3) / (nrm(i) * nrm(j))
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val remaining = scala.collection.mutable.LinkedHashSet(idx: _*)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        var step = 1
        while (step <= k && remaining.nonEmpty) {
          val best = remaining.toSeq.map { c =>
            val div =
              if (selected.isEmpty) 0.0
              else selected.map(s => sim(c, s)).max
            (c, lambda * cands(c)._2 - (1.0 - lambda) * div)
          }.minBy { case (c, s) => (-s, cands(c)._1) }
          out += org.apache.spark.sql.Row(
            qid, step, cands(best._1)._1, best._2)
          selected += best._1
          remaining -= best._1
          step += 1
        }
        out.iterator
      }(enc)
  }

  /** Exact max-inner-product top-k (MIPS) — the retrieval objective when
    * vectors are NOT unit-normalized (recommender/user–item scores, where
    * magnitude encodes popularity): cosine ranks direction only, MIPS
    * rewards magnitude too. BRUTE-FORCE BASELINE, same contract as
    * [[bruteForceTopK]]: every query is scored against the whole corpus.
    * Dot is the ordered left fold → oracle hash-exact. */
  def mipsTopK(
      queriesDf: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, topK: Int): DataFrame = {
    val q = queriesDf.select(col(idCol).as("qid"),
      asDouble(col(vecCol)).as("qvec"))
    val c = corpus.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("cvec"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ip").desc, col("vec_id").asc)
    q.crossJoin(c)
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("ip", dot(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "vec_id", "ip")
  }

  /** All pairs above a cosine threshold — BRUTE-FORCE BASELINE (bounded
    * all-pairs comparison). This is the verification/oracle tool, not the
    * scale path: use `srpNearDupPairs` for the bucketed variant that
    * shuffles on LSH keys instead of materializing n² pairs.
    *
    * SCALE-GUARDED: refuses inputs above `maxRows` (a DEFERRED one-row
    * count embedded in the plan — construction/explain stay job-free,
    * the refusal fires at first execution; see [[ScaleGuard]]) so the
    * n² path cannot be invoked at corpus scale by accident; the default
    * admits every fixture (≤ 5k rows at sf0.1) with a 10× margin.
    * Raise it EXPLICITLY for a bigger labeled oracle run. */
  def bruteForceNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 50000L): DataFrame = {
    val guarded = ScaleGuard.maxRowsDeferred(df, maxRows,
      "bruteForceNearDupPairs is an ALL-PAIRS oracle baseline - use " +
        "srpNearDupPairs (bucketed LSH) at scale")
    val t = guarded.select(col(idCol).as("sim_id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
    t.alias("a").join(t.alias("b"), col("a.sim_id") < col("b.sim_id"))
      .withColumn("cos",
        dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.sim_id").as("id_a"), col("b.sim_id").as("id_b"))
  }

  /** Symmetric int8 quantization of an embedding column, reported as
    * per-vector reconstruction-error stats — the storage/bandwidth lever
    * for ANN at scale (4× smaller vectors, SIMD int8 dot products).
    * scale = 127 / max|x|; q_i = floor(x_i·scale + 0.5) — floor of a
    * shifted value, NOT round(): round's half-tie behavior diverges
    * across engines, floor is exact everywhere. Error stats rather than
    * the int8 array go in the compared output (array columns don't
    * hash-compare); the stats are sequential double folds in array
    * order, so they are bit-identical in the oracle. Scan-local. */
  def quantizationError(
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = asDouble(col(vecCol))
    val mx = greatest(array_max(transform(x, abs(_))), lit(1e-30))
    val scale = lit(127.0) / mx
    val q = transform(x, v => floor(v * scale + lit(0.5)))
    val err = zip_with(x, q, (v, qi) => abs(v - qi / scale))
    df.select(col(idCol).as("vec_id"),
      mx.as("max_abs"),
      array_max(err).as("max_err"),
      (aggregate(err, lit(0.0), (acc, e) => acc + e * e) /
        size(col(vecCol))).as("mse"))
  }

  // ---- SRP-LSH (signed random projection) --------------------------------

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1).
    * Seed-injective only for dim ≤ 4099 and (bits−1)·4099 + dim ≤ 262147
    * — the native expression ([[graft.functions.SrpBuckets]]) enforces
    * that envelope at analysis time; this reference form exists only for
    * the bit-identity cross-check at fixture parameters. */
  private def plane(table: Int, bit: Int, dim: Int): Double =
    (splitmix64(table.toLong * 262147 + bit.toLong * 4099 + dim).toDouble /
      Long.MaxValue.toDouble)

  /** `bits`-bit SRP signature for hash table `table`: bit i =
    * sign(v · r_i). Returned as an int bucket key. DECLARATIVE REFERENCE
    * form — inlines tables × bits × dim hyperplane literals into the plan,
    * so it is kept only as the cross-check oracle for the native
    * expression (SimilaritySpec asserts bit-identical outputs); production
    * paths use `srpBuckets` below. */
  def srpSignatureReference(vec: Column, table: Int, bits: Int, dim: Int): Column = {
    val vd = asDouble(vec)
    (0 until bits).map { b =>
      val planeArr = array((0 until dim).map(j => lit(plane(table, b, j))): _*)
      when(dot(vd, planeArr) > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** All (table, signature) bucket keys for multi-table SRP-LSH — native
    * codegen'd expression: constant plan size in (tables, bits, dim),
    * hyperplanes derived on the fly from the same splitmix64 stream,
    * outputs bit-identical to the literal-plane reference form. */
  def srpBuckets(vec: Column, tables: Int, bits: Int, dim: Int): Column =
    graft.functions.Srp.srp_buckets(vec, tables, bits, dim)

  /** Near-duplicate pairs above a cosine threshold via multi-table
    * SRP-LSH — the scale path (mirror of `Dedup.minhashNearDupPairs`'s
    * shape): bucket every vector into `tables` signature buckets, take
    * ids colliding in ANY bucket as candidates (shuffle on (table, sig)
    * keys — never the n² pair space), then verify candidates with the
    * exact cosine. A pair at true cosine c collides per table with
    * probability p^bits where p = 1 - acos(c)/π, so recall
    * 1-(1-p^bits)^tables is tuned by (tables, bits) — at the defaults a
    * 0.90-cosine pair is found with P ≈ 0.98. */
  def srpNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      tables: Int = 16, bits: Int = 6, dim: Int = 64): DataFrame = {
    // Pinned: the bucket self-join and both verification joins read this
    // frame under different column prunings, so no exchange is shared —
    // unpinned, dd9's plan scans the embeddings 3×.
    val prepared = Pipeline.pin(df.select(col(idCol).as("sim_id"),
        col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"),
        srpBuckets(col(vecCol), tables, bits, dim).as("buckets")))
    val keyed = prepared.select(col("sim_id"), explode(col("buckets")).as("tb"))
    val candidates = keyed.alias("a")
      .join(keyed.alias("b"),
        col("a.tb") === col("b.tb") && col("a.sim_id") < col("b.sim_id"))
      .select(col("a.sim_id").as("id_a"), col("b.sim_id").as("id_b"))
      .distinct()
    val vecs = prepared.select(col("sim_id"), col("vec"), col("nrm"))
    candidates
      .join(vecs.select(col("sim_id").as("id_a"), col("vec").as("vec_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(vecs.select(col("sim_id").as("id_b"), col("vec").as("vec_b"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos",
        dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
  }

  /** ANN top-k via IVF (inverted-file) coarse quantization: assign every
    * corpus vector to its nearest of `numCentroids` fixed coarse
    * centroids, then search each query against only the lists of its
    * `nprobe` nearest centroids.
    *
    * Centroids are the K smallest-id corpus vectors (a bounded
    * TakeOrderedAndProject, valid for ANY id space — sparse, offset, or
    * hash-derived ids all work); under the fixtures' uniform ids that is
    * a random sample, the standard coarse-quantizer bootstrap.
    *
    * Scale shape: centroids broadcast (bounded, ~K rows); assignment is
    * scan-local (one pass over the corpus against K broadcast vectors);
    * the only shuffle keys on centroid id; each query touches
    * nprobe/K of the corpus instead of all of it. Unlike the SRP-LSH
    * path this is fully deterministic (fixed centroids, exact cosines,
    * total tie-breaks) — so it is ORACLE-CHECKED against DuckDB, not just
    * recall-spec'd.
    *
    * Output: (qid, rank, vec_id, cos) like `bruteForceTopK`. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cent = corpus.orderBy(col(idCol).asc).limit(numCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"))
    def nearest(df: DataFrame, id: String, vecAs: String, normAs: String,
        keep: Int) = {
      val scored = df
        .select(col(idCol).as(id), col(vecCol).as(vecAs),
          norm(col(vecCol)).as(normAs))
        .crossJoin(broadcast(cent))
        .withColumn("ccos",
          dot(col(vecAs), col("cvec")) / (col(normAs) * col("cnorm")))
      val w = Window.partitionBy(col(id))
        .orderBy(col("ccos").desc, col("cid").asc)
      scored.withColumn("crn", row_number().over(w))
        .filter(col("crn") <= keep)
        .select(col(id), col("cid"), col(vecAs), col(normAs))
    }
    val assigned = nearest(corpus, "vec_id", "vec", "nrm", 1)
    val probed = nearest(queries, "qid", "qvec", "qnorm", nprobe)
    probed.join(assigned, "cid")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        dot(col("qvec"), col("vec")) / (col("qnorm") * col("nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Persist an IVF index LAYOUT: the corpus written to `path` as parquet
    * hive-partitioned by assigned centroid id (same deterministic
    * lowest-id-centroid assignment as [[ivfTopK]]). An nprobe query then
    * reads ONLY the probed cells — `cid IN (probes)` becomes a
    * PartitionFilter, so the scan touches nprobe/numCentroids of the
    * files (spec-measured, the same pruning mechanism as the Z-order
    * layout). This is the at-rest half of the IVF story: ivfTopK prunes
    * candidates at runtime, the layout prunes I/O before a byte is read —
    * at 100 TB the difference between scanning 64 cells and 4.
    * Returns the assignment frame (vec_id, cid) for inspection. */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, path: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cent = corpus.orderBy(col(idCol).asc).limit(numCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("cid").asc)
    val assigned = corpus
      .withColumn("nrm", norm(col(vecCol)))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col(vecCol), col("cvec")) / (col("nrm") * col("cnorm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .drop("cvec", "cnorm", "ccos", "crn", "nrm")
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)
    assigned.select(col(idCol), col("cid"))
  }

  /** ANN top-k via multi-table SRP-LSH: L independent hash tables of
    * `bits` hyperplanes each; a pair is a candidate if it collides in ANY
    * table (P = 1-(1-p^bits)^tables for per-plane agreement p), then
    * exact-cosine rerank keeps top-k. The shuffle touches only
    * (table, bucket) groups — never the n² pair space — which is the
    * 100 TB path; recall/cost is tuned by (tables, bits) with cost
    * ∝ tables × |data|. */
  def annTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int = 16, bits: Int = 6, dim: Int = 64): DataFrame = {
    def bucketed(df: DataFrame, id: String, vecAs: String, normAs: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vecAs),
          norm(col(vecCol)).as(normAs),
          explode(srpBuckets(col(vecCol), tables, bits, dim)).as("tb"))
        .select(col(id), col(vecAs), col(normAs),
          col("tb.t").as("t"), col("tb.sig").as("sig"))
    val c = bucketed(corpus, "vec_id", "cvec", "cnorm")
    val q = bucketed(queries, "qid", "qvec", "qnorm")
    val scored = q.join(c, Seq("t", "sig"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .select("qid", "vec_id", "cos").distinct()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "cos")
  }

  /** Squared L2 distance as a sequential left fold in dimension order —
    * the k-means metric, bit-identical to a sequential oracle
    * evaluation. */
  def sqDist(a: Column, b: Column): Column =
    // native codegen'd expression (round 20) — same ascending sequential
    // double fold as [[sqDistDeclarative]], so results are bit-identical;
    // the PQ encoder evaluates m·codebookSize of these per corpus row and
    // the HOF form ran every one through the interpreter
    graft.functions.Vectors.vec_sqdist(a, b)

  /** The retired declarative form of [[sqDist]] — kept (q20/dd16/vec_dot
    * convention) as the re-measurable A/B baseline and the bit-equality
    * oracle for the native expression (SimilaritySpec pins native ==
    * declarative on planted + random vectors). */
  private[graft] def sqDistDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)

  /** Elementwise difference — native codegen'd expression (round 21);
    * bit-identical per element to the declarative
    * `zip_with(a, b, (x, y) => x − y)` it replaces on the IVF-PQ
    * residual paths (the last interpreted expression in those plans
    * after the asDouble swap; SimilaritySpec pins schema + raw bits vs
    * [[vecSubDeclarative]], ragged throws per the vec_dot rule). */
  private def vecSub(a: Column, b: Column): Column =
    graft.functions.Vectors.vec_sub(a, b)

  /** The retired declarative form of [[vecSub]] — the A/B baseline and
    * bit-equality oracle for the native expression. */
  private[graft] def vecSubDeclarative(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** Lloyd's k-means over the embedding column, fully deterministic:
    *  - init: the `k` lowest-id vectors are the seed centroids (the same
    *    deterministic-seed rule as `ivfTopK`);
    *  - assign: nearest centroid by squared L2, ties to the lowest cid;
    *  - update: per-dimension mean under the exact-decimal policy
    *    (DECIMAL(18,9) sums → one double division), so centroids are
    *    order-independent — float means that drift with partition merge
    *    order are a real 100 TB reproducibility bug, and also why this
    *    operator can be ORACLE-CHECKED against DuckDB at all.
    * `updates` Lloyd rounds run, then the final assignment is returned:
    * (vec_id, cid, d2).
    *
    * Scale shape: centroids live on the driver between rounds (k × dim
    * doubles — bounded, the same contract as Spark MLlib's KMeans) and
    * broadcast into a scan-local assignment pass; the update shuffles on
    * (cid, dim) — cardinality k × dim, never data-sized. Empty clusters
    * keep their previous centroid (can't happen with sane k; documented
    * so the SQL dual — which has no such rule — stays equivalent).
    *
    * This is also the trainer for `ivfTopK`-style coarse quantizers and
    * the clustering stage of `semanticDedup`. */
  def kmeans(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, updates: Int = 2): DataFrame = {
    val corp = kmeansCorp(df, idCol, vecCol)
    kmeansAssign(corp, kmeansCentroids(df, idCol, vecCol, k, updates))
      .select("vec_id", "cid", "d2")
  }

  private def kmeansCorp(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("vec"))

  private def kmeansAssign(
      corp: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val spark = corp.sparkSession
    import spark.implicits._
    val centDf = cents.toDF("cid", "cvec")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    corp.crossJoin(broadcast(centDf))
      .withColumn("d2", sqDist(col("vec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("vec"), col("d2"))
  }

  /** The driver-side state of [[kmeans]], exposed for quantizer
    * construction ([[pqTopK]]): the k trained centroids as
    * (cid, centroid), same deterministic seed/assign/update rules. */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, updates: Int = 2): Seq[(Long, Seq[Double])] = {
    require(k > 0 && updates >= 0)
    val corp = kmeansCorp(df, idCol, vecCol)
    var cents: Seq[(Long, Seq[Double])] = corp
      .orderBy(col("vec_id").asc).limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq
    for (_ <- 1 to updates) {
      // per-dim exact-decimal mean; collected = k × dim rows (bounded)
      val means = kmeansAssign(corp, cents)
        .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg((sum(graft.queries.OracleSafe.dec(col("v"), 9)).cast("double") /
          count(lit(1)).cast("double")).as("mu"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val updated = means.groupBy(_._1).map { case (cid, rows) =>
        (cid, rows.sortBy(_._2).map(_._3).toSeq)
      }
      cents = cents.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
    }
    cents
  }

  /** Product quantization ANN (Jégou, Douze & Schmid 2011, "Product
    * quantization for nearest neighbor search"): split the D-dim space
    * into `m` orthogonal subspaces, learn a `codebookSize`-entry codebook
    * per subspace ([[kmeansCentroids]] on the slice — deterministic),
    * store each corpus vector as m small integer codes, and answer
    * queries by ASYMMETRIC distance (ADC): the query stays exact and the
    * estimated distance is `Σ_j lut_j[code_j]`, where `lut_j` is the
    * query's precomputed distance table to subspace j's codebook.
    *
    * THE memory lever of billion-scale ANN: 64 float dims (256 B) shrink
    * to m=8 codes (8 B, 32×), and the scan reads codes, not vectors.
    * Here codebooks are bounded driver state (k·D doubles — the same
    * contract as [[kmeans]]) compiled INTO the plan as literals, so both
    * the encoder (argmin over per-code squared distances) and the ADC
    * lookup are scan-local whole-stage-codegen expressions; the only
    * shuffle is the per-query top-k window. Training scans the corpus
    * per Lloyd round — at 100 TB you train on a sample; encode/ADC are
    * unchanged. Fully deterministic (fixed fold order, ties to the
    * lowest code / lowest id), but the layout is engine-specific →
    * rows-only + SimilaritySpec. */
  def pqTopK(
      queriesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, topK: Int, dim: Int, m: Int = 8,
      codebookSize: Int = 16, updates: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(dim % m == 0, "dim must be divisible by m")
    val sub = dim / m
    val corp = corpus.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("vec"))
    // per-subspace codebooks (codes dense 0..k−1 in seed-id order) —
    // all m trained in one pass per round, [[trainSubspaceBooks]]
    val books: Seq[Seq[Seq[Double]]] =
      trainSubspaceBooks(corp, "vec", m, sub, codebookSize, updates)
    def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)
    def codeExpr(j: Int): Column = {
      val dists = array(books(j).map(c =>
        sqDist(slice(col("vec"), j * sub + 1, sub), litVec(c))): _*)
      // argmin; array_position takes the FIRST minimum → lowest code wins
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val encoded = corp.select(
      col("vec_id") +: (0 until m).map(j => codeExpr(j).as(s"_c$j")): _*)
    val luts = queriesDf
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .select(col("qid") +: (0 until m).map { j =>
        array(books(j).map(c =>
          sqDist(slice(col("qvec"), j * sub + 1, sub), litVec(c))): _*)
          .as(s"_lut$j") }: _*)
    val adc = (0 until m)
      .map(j => element_at(col(s"_lut$j"), col(s"_c$j") + 1))
      .reduce(_ + _) // fixed left-to-right fold order
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
    encoded.crossJoin(broadcast(luts))
      .withColumn("approx_d2", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"), col("approx_d2"))
  }

  /** Train all `m` per-subspace PQ codebooks over `frame`'s `vecCol`
    * (a full-dim double array; subspace `j` is its slice
    * `[j·sub, (j+1)·sub)`) with ONE bounded seed collect and ONE pass
    * over the data per Lloyd round — every subspace's assignment and
    * per-dim values ride a single exploded plan, and the means collect
    * is bounded at m×k×sub rows — instead of the m×(1+updates) separate
    * passes of calling [[kmeansCentroids]] per slice. The math is the
    * per-subspace trainer contract VERBATIM: lowest-id seeds,
    * (d2 asc, seed-id asc) assignment via first-minimum argmin over
    * seed-id-sorted codebooks, exact-DECIMAL(18,9) per-dim means,
    * empty clusters keep their centroid — so the SignatureTruth pins
    * (which model sequential per-subspace training) stay bit-exact.
    * Returns book `j` as `codebookSize` centroids in code order. */
  private def trainSubspaceBooks(
      frame: DataFrame, vecCol: String, m: Int, sub: Int,
      codebookSize: Int, updates: Int): Seq[Seq[Seq[Double]]] = {
    def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)
    def argminCode(j: Int, bk: Seq[Seq[Double]]): Column = {
      val dists = array(bk.map(c =>
        sqDist(slice(col(vecCol), j * sub + 1, sub), litVec(c))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val seedRows: Seq[(Long, Seq[Double])] = frame
      .orderBy(col("vec_id").asc).limit(codebookSize)
      .select("vec_id", vecCol).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    var trained: IndexedSeq[IndexedSeq[(Long, Seq[Double])]] =
      IndexedSeq.tabulate(m) { j =>
        seedRows.map { case (id, rv) =>
          (id, rv.slice(j * sub, j * sub + sub)) }
          .sortBy(_._1).toIndexedSeq
      }
    for (_ <- 1 to updates) {
      val snapshot = trained
      val assigned = frame.select(
        (0 until m).map { j =>
          struct(lit(j).as("j"),
            argminCode(j, snapshot(j).map(_._2)).as("code"),
            slice(col(vecCol), j * sub + 1, sub).as("v")).as(s"_s$j")
        }: _*)
        .select(explode(array((0 until m).map(j => col(s"_s$j")): _*))
          .as("s"))
        .select(col("s.j").as("j"), col("s.code").as("code"),
          posexplode(col("s.v")).as(Seq("dim", "v")))
      val means = assigned.groupBy("j", "code", "dim")
        .agg((sum(graft.queries.OracleSafe.dec(col("v"), 9)).cast("double") /
          count(lit(1)).cast("double")).as("mu"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      trained = IndexedSeq.tabulate(m) { j =>
        trained(j).zipWithIndex.map { case ((cid, old), code) =>
          val dims = (0 until sub).map(dd => means.get((j, code, dd)))
          if (dims.exists(_.isEmpty)) (cid, old)
          else (cid, dims.map(_.get))
        }
      }
    }
    (0 until m).map(j => trained(j).map(_._2))
  }

  /** A trained IVF-PQ index: the bounded driver state (coarse seeds +
    * per-subspace codebooks) plus the PQ-encoded corpus
    * (`vec_id, cid, _c0.._c{m-1}` — persisted and pinned into the
    * caller's [[Pipeline]] scope; at cluster scale this frame is what
    * [[writeIvfIndex]] lays down at rest, partitioned by cid).
    * Train ONCE per corpus with [[ivfPqTrain]]; answer any number of
    * query batches with [[ivfPqServe]] — the round-18 split that keeps
    * the once-per-corpus k-means cost out of the per-query serve path
    * (the bundled ivfPqTopK row stall-flagged in two consecutive gated
    * captures precisely because each rep re-trained). */
  final case class IvfPqModel private[graft] (
      coarse: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]],
      encoded: DataFrame,
      residuals: DataFrame,
      m: Int, sub: Int)

  /** Train the IVF-PQ index over `corpus`: coarse seeds (lowest-id,
    * bounded collect), residual frame (persisted + pinned — re-read by
    * every Lloyd pass and the encoder; uncached that recomputes the
    * assignment m·updates+2 times, measured 7.7 s → 2.6 s at sf0.1),
    * per-subspace codebooks ([[trainSubspaceBooks]]), and the encoded
    * corpus (persisted + pinned: serving reads codes, never re-encodes).
    * Both pins land in the caller's current [[Pipeline]] scope — wrap in
    * `Pipeline.withScope` to keep a long-lived model alive across other
    * callers' release points, or rely on the default-scope
    * `releaseCaches` in single-harness loops. Training is lazy Spark-
    * side: the codebook collects run here, but `encoded` materializes at
    * the caller's first action (force it to charge encoding to train). */
  def ivfPqTrain(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      numCoarse: Int = 8, m: Int = 8, codebookSize: Int = 16,
      updates: Int = 1): IvfPqModel = {
    import org.apache.spark.sql.functions.broadcast
    require(dim % m == 0, "dim must be divisible by m")
    val sub = dim / m
    val corp = kmeansCorp(corpus, idCol, vecCol)
    // coarse quantizer: fixed lowest-id seeds (bounded driver state)
    val coarse: Seq[(Long, Seq[Double])] = corp
      .orderBy(col("vec_id").asc).limit(numCoarse)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // corpus → (vec_id, cid, vec); residual against the assigned centroid
    val spark = corp.sparkSession
    import spark.implicits._
    val coarseDf = broadcast(coarse.toDF("cid", "cvec"))
    val residuals = Pipeline.pin(kmeansAssign(corp, coarse)
      .join(coarseDf, "cid")
      .withColumn("rvec", vecSub(col("vec"), col("cvec")))
      .select("vec_id", "cid", "rvec"))
    // Shared per-subspace residual codebooks — ALL m trained together
    // in one pass per Lloyd round (see [[trainSubspaceBooks]]).
    val books: Seq[Seq[Seq[Double]]] =
      trainSubspaceBooks(residuals, "rvec", m, sub, codebookSize, updates)
    def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)
    def codeExpr(j: Int): Column = {
      val dists = array(books(j).map(c =>
        sqDist(slice(col("rvec"), j * sub + 1, sub), litVec(c))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val encoded = Pipeline.pin(residuals.select(
      col("vec_id") +: col("cid") +:
        (0 until m).map(j => codeExpr(j).as(s"_c$j")): _*))
    IvfPqModel(coarse, books, encoded, residuals, m, sub)
  }

  /** Serve a query batch against a trained [[IvfPqModel]]: probe the
    * nprobe nearest coarse cells per query (same L2/tie rule as the
    * corpus assignment), build a LUT per (query, cell) over the QUERY
    * residual against each codebook, broadcast the probe side into an
    * equi join on cid, and rank by left-fold ADC. Touches only the
    * pinned code frame — no k-means, no encoding, no corpus scan beyond
    * the probed cells. */
  def ivfPqServe(
      queriesDf: DataFrame, model: IvfPqModel, idCol: String,
      vecCol: String, topK: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val IvfPqModel(coarse, books, encoded, _, m, sub) = model
    val coarseDf = broadcast(coarse.toDF("cid", "cvec"))
    def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)
    val probedBase = queriesDf
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .crossJoin(coarseDf)
      .withColumn("d2c", sqDist(col("qvec"), col("cvec")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("d2c").asc, col("cid").asc)))
      .filter(col("prn") <= nprobe)
      .withColumn("qres", vecSub(col("qvec"), col("cvec")))
    val probed = probedBase.select(
      col("qid") +: col("cid") +: (0 until m).map { j =>
        array(books(j).map(c =>
          sqDist(slice(col("qres"), j * sub + 1, sub), litVec(c))): _*)
          .as(s"_lut$j") }: _*)
    val adc = (0 until m)
      .map(j => element_at(col(s"_lut$j"), col(s"_c$j") + 1))
      .reduce(_ + _) // fixed left-to-right fold order
    encoded.join(broadcast(probed), "cid")
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("approx_d2", adc)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("approx_d2").asc, col("vec_id").asc)))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** [[ivfPqServe]] with exact-L2 refinement — the standard IVFADC+R
    * shape (Jégou et al. 2011, "Searching in one billion vectors:
    * re-rank with source coding"): ADC retrieves a candidate POOL of
    * `pool` ≥ topK ids per query, then the pool is re-ranked by EXACT
    * L2 against reconstructed corpus vectors (centroid + stored
    * residual — bit-close to the raw vector, ≤ 1 ulp/component from
    * the train-time subtraction) and the top-k of that order is kept.
    * Re-ranking fixes ADC-noise DISPLACEMENT — the failure mode the
    * round-19 sweep measured (probing more cells DROPPED recall
    * because quantization-noise candidates displaced true neighbors) —
    * without touching candidate GENERATION, so recall is bounded by
    * pool membership but no longer by ADC ordering.
    *
    * Scale shape: the pool is queries × pool rows (bounded by the
    * serve batch, like the probe side), so it BROADCASTS into one
    * equi-join against the pinned residual frame — no corpus shuffle,
    * no second scan beyond the cached residuals; the exact distance
    * evaluates on pool×queries rows only. */
  def ivfPqServeReranked(
      queriesDf: DataFrame, model: IvfPqModel, idCol: String,
      vecCol: String, topK: Int, nprobe: Int, pool: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    require(pool >= topK, "pool must be >= topK")
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val cand = ivfPqServe(queriesDf, model, idCol, vecCol, pool, nprobe)
      .select(col("qid"), col("vec_id"))
    val coarseDf = broadcast(model.coarse.toDF("cid", "cvec"))
    // candidates join FIRST, reconstruction after: xvec evaluates on
    // pool×queries rows, never on the whole (cached) residual frame —
    // the ordering that matters at corpus scale
    val q = queriesDf.select(col(idCol).as("qid"),
      asDouble(col(vecCol)).as("qvec"))
    model.residuals
      .join(broadcast(cand), "vec_id")
      .join(coarseDf, "cid")
      .withColumn("xvec",
        // reconstruction ADDS the centroid back: vec_sub(rvec, −cvec)
        // would obscure the intent; keep the declarative add — it runs
        // only on the rerank path's ≤ rr·|queries| candidate rows, not
        // per corpus row (see the vec_sub adoption note, round 21)
        zip_with(col("rvec"), col("cvec"), (r, c) => r + c))
      .join(broadcast(q), "qid")
      .withColumn("d2", sqDist(col("qvec"), col("xvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("d2").asc, col("vec_id").asc)))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"))
  }

  /** IVF-PQ / IVFADC (Jégou, Douze & Schmid 2011 §IV — the composition
    * billion-scale ANN actually deploys): IVF coarse quantization prunes
    * WHICH lists a query reads, PQ on the RESIDUAL (vec − coarse
    * centroid) compresses WHAT each list stores, and asymmetric distance
    * (ADC) scores codes against an exact per-(query, probed-cell) lookup
    * table. [[ivfTopK]] alone still reads full vectors; [[pqTopK]] alone
    * still scans every code; composed, a query touches nprobe/numCoarse
    * of the corpus at m bytes per vector.
    *
    * Determinism mirrors the ss10 contract exactly: coarse centroids are
    * the numCoarse lowest-id corpus vectors (no Lloyd — fixed seeds);
    * corpus assignment by (squared-L2 asc, cid asc); one shared residual
    * codebook per subspace seeded from the cbSize lowest-id residuals
    * and refined by `updates` Lloyd rounds with exact-DECIMAL(18,9)
    * per-dim means; first-minimum argmin encoding; left-fold ADC; total
    * (approx_d2 asc, vec_id asc) rank, self excluded. Value-checked
    * against SignatureTruth's scalar replication (ss20.parquet).
    *
    * Scale shape: coarse centroids and codebooks are bounded driver
    * state (numCoarse×D + m×cbSize×D/m doubles) compiled into scan-local
    * codegen expressions; encoding never shuffles; the probe side
    * (queries × nprobe rows, with LUTs of m×cbSize doubles each)
    * BROADCASTS into an equi join on cid — the corpus is never
    * replicated, never cross-joined, and at rest the cid key is exactly
    * [[writeIvfIndex]]'s partition column, so the scan prunes to the
    * probed cells before a byte is read. Only the per-query top-k window
    * shuffles.
    *
    * The composed one-call form (train + serve in one plan) — the
    * oracle-checked catalog entry. Identical math to the split form by
    * construction: it IS `ivfPqServe(ivfPqTrain(...))`. */
  def ivfPqTopK(
      queriesDf: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, topK: Int, dim: Int, numCoarse: Int = 8,
      nprobe: Int = 2, m: Int = 8, codebookSize: Int = 16,
      updates: Int = 1): DataFrame =
    ivfPqServe(queriesDf,
      ivfPqTrain(corpus, idCol, vecCol, dim, numCoarse, m,
        codebookSize, updates),
      idCol, vecCol, topK, nprobe)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pruning — cluster the embedding space, then compare
    * pairs ONLY within a cluster and drop every vector that has a
    * lower-id cluster-mate with cosine ≥ `threshold` (the paper's
    * keep-one-per-semantic-group rule, id-deterministic here).
    * Output: (vec_id, cid, keep).
    *
    * Clustering is the deterministic coarse quantizer (nearest of the k
    * lowest-id seed vectors — `kmeans`-trained centroids plug in the
    * same way; the seed rule keeps the oracle SQL self-contained).
    *
    * Scale shape — the SemDeDup bargain: pairwise cost collapses from
    * n² to Σ c_i² over cluster sizes, tuned by k (the paper runs 50k
    * clusters over 5B embeddings); the pair join keys on cid so each
    * cluster compares locally after one shuffle. The within-cluster
    * comparison here is exact (no sampling), so recall within a cluster
    * is 1.0 and the only misses are cross-cluster pairs — the knob the
    * paper accepts for tractability. */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cent = df.orderBy(col(idCol).asc).limit(numCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val assigned = df
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        dot(col("vec"), col("cvec")) / (col("nrm") * col("cnorm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("vec"), col("nrm"))
    val dropped = assigned.alias("a")
      .join(assigned.alias("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") > col("b.vec_id"))
      .withColumn("cos",
        dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(!col("dup"), lit(true)).as("keep"))
  }

  /** Deterministic ±1 sign matrix for random projection: `k` rows (output
    * dims) × `d` columns (input dims), generated from a seeded PRNG on
    * the driver. The SAME call feeds both the Spark expression tree and
    * the generated oracle SQL, so the two engines share the matrix as
    * literal constants — no cross-engine hash function needed. */
  def rpSigns(seed: Long, k: Int, d: Int): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k, d)(rnd.nextInt(2) * 2 - 1)
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas ±1 variant):
    * project each `d`-dim embedding to `k` dims with the [[rpSigns]]
    * matrix and report, per vector, the first projected coordinate and
    * the norm-preservation ratio ‖Px‖²/(k·‖x‖²) (expectation 1 — the JL
    * guarantee this operator measures before a pipeline commits to the
    * reduced dimension). Everything is a fixed left-fold of per-element
    * double arithmetic — scan-local, shuffle-free, bit-identical
    * cross-engine. The SRP-LSH family (ss2/dd9) keeps only the projection
    * SIGNS; this keeps the values, which is what a downstream ANN index
    * on reduced vectors would store. */
  def randomProjectionStats(
      emb: DataFrame, id: Column, vec: Column, k: Int, seed: Long,
      dim: Int): DataFrame = {
    val signs = rpSigns(seed, k, dim)
    def proj(j: Int): Column =
      signs(j).zipWithIndex.map { case (s, i) =>
        element_at(vec, i + 1).cast("double") * lit(s.toDouble)
      }.reduce(_ + _)
    val p2 = (0 until k).map(j => proj(j) * proj(j)).reduce(_ + _)
    emb.select(
      id.as("vec_id"),
      proj(0).as("p0"),
      (p2 / (lit(k.toDouble) * dot(vec, vec))).as("norm_ratio"))
  }

  /** Dimension-truncation quality (the Matryoshka / MRL question: how
    * much of each embedding survives keeping only the first `k` dims?).
    * For a zero-padded prefix, cos(full, prefix) collapses to
    * ‖prefix‖/‖full‖, so per vector this is two norm folds — scan-local,
    * zero shuffle, and the decision input for "can we store 32 of 64
    * dims" at 100 TB (storage and ANN cost halve; this measures the
    * fidelity side of that trade). Output per vector: the retained
    * energy fraction ‖p‖²/‖v‖² and the full-vs-truncated cosine. */
  def truncationQuality(
      emb: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val prefix = slice(vec, 1, k)
    val full2 = dot(vec, vec)
    val pre2 = dot(prefix, prefix)
    emb.select(
      id.as("vec_id"),
      (pre2 / full2).as("energy_retained"),
      sqrt(pre2 / full2).as("cos_trunc"))
  }

  /** Per-cluster cohesion WITHOUT pairwise comparison, via the
    * sum-of-vectors identity: for vectors q₁..qₙ,
    * Σ_{i<j} qᵢ·qⱼ = (‖Σqᵢ‖² − Σ‖qᵢ‖²) / 2 — so the mean pairwise dot
    * product of a cluster needs only its vector SUM and its summed self
    * dots. An n²-pair metric becomes two keyed aggregations (one on
    * (label, dim), one on label); a 10⁶-vector cluster costs 10⁶ rows,
    * not 10¹² pairs — this is the audit that tells you whether a dedup /
    * k-means cluster is tight (boilerplate) or loose (topic drift).
    *
    * Exactness: vectors are first quantized onto a SHARED integer grid
    * (qᵢ = floor(xᵢ·qScale + 0.5) — floor of a shifted value, not round();
    * see [[quantizationError]]), so every sum in the identity is exact
    * 64-bit integer arithmetic in ANY aggregation order — the
    * reproducibility property float dots lose at 1000 executors. The one
    * double emitted (`mean_pair_dot`) is a single division of exact
    * integers, bit-identical across engines. */
  def clusterCohesion(
      df: DataFrame, labelCol: Column, vecCol: Column,
      qScale: Int = 64): DataFrame = {
    val q = transform(asDouble(vecCol),
      v => floor(v * qScale + lit(0.5)).cast("long"))
    val withQ = df.select(labelCol.as("label"), q.as("_q"))
    val self = withQ.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(aggregate(col("_q"), lit(0L), (acc, v) => acc + v * v))
        .as("sum_self_dot"))
    val sums = withQ
      .select(col("label"), posexplode(col("_q")).as(Seq("_dim", "_v")))
      .groupBy("label", "_dim").agg(sum("_v").as("_s"))
      .groupBy("label").agg(sum(col("_s") * col("_s")).as("_norm_sum_sq"))
    self.join(sums, "label")
      .select(col("label"), col("n_vecs"), col("sum_self_dot"),
        ((col("_norm_sum_sq") - col("sum_self_dot")) / lit(2L))
          .cast("long").as("pair_dot_sum"),
        // a singleton cluster has no pairs: emit null, don't let ANSI
        // mode's divide-by-zero kill the job on one size-1 group
        when(col("n_vecs") > 1L,
          (col("_norm_sum_sq") - col("sum_self_dot")).cast("double") /
            (col("n_vecs") * (col("n_vecs") - lit(1L))))
          .as("mean_pair_dot"))
  }

  /** Recall@k of an approximate neighbor list against the exact one —
    * the operational quality gate an ANN deployment runs continuously on
    * a query SAMPLE while the index serves traffic (tune nprobe /
    * tables·bits until the sampled recall clears the SLO, re-audit as
    * the corpus drifts). Composes with ANY neighbor generator: both
    * inputs are plain (qid, vec_id) lists. Per query: hit count, exact
    * count, recall = |approx ∩ exact| / |exact|; queries the approximate
    * index missed entirely still appear (recall 0 via the left join).
    * Shape: two keyed counts + one equi-join on (qid, vec_id) — the
    * sample size, never the corpus, is the cost. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("vec_id"))
    val a = approx.select(col("qid"), col("vec_id"))
    val hits = e.join(a, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    e.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }
}
