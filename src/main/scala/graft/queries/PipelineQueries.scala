package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Pipeline, TextAnalysis}
import graft.sources.Tables

/** Training-data pipeline queries: sampling, splits and a reproducible
  * shuffle (hash draws that are pure functions of salt and key, so the
  * selection does not depend on the layout), and context-window packing
  * (oracle-exact window arithmetic). */
object PipelineQueries extends QueryPack {

  // pl6's split spec and its md5-range boundaries — shared between the
  // Spark query and the generated oracle SQL so the constants cannot
  // drift between the two sides.
  private val pl6Splits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private lazy val pl6Bounds: Seq[(String, String)] =
    Pipeline.md5SplitBounds(pl6Splits)

  val queries: Map[String, Fn] = Map(
    // Dedup-discounted sampling weights: each near-dup CLUSTER's total
    // sampling mass is 1 (weight = 1/cluster_size per member) — the
    // count-once-per-cluster rule corpus pipelines apply instead of hard
    // deletion, preserving coverage while removing duplication bias.
    // Composes the dd10 cluster construction (same-source trigram
    // near-dup edges, min-label connected components) with one keyed
    // size aggregate + join; the single double division of exact longs
    // keeps it oracle hash-exact.
    "pl22_cluster_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), col("source"),
        n = 3, threshold = 0.6)
      val cc = Dedup.connectedComponents(docs, col("doc_id"), edges,
          "id_a", "id_b")
        .select(col("cc_id").as("doc_id"), col("cluster_id"))
      // cluster size as a whole-partition window — the groupBy-join-back
      // form re-derives the (checkpointed but still rescanned) component
      // labels for the join's second input
      cc.withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
        .orderBy("doc_id")
    }),

    // Stratified sample by language — the PORTABLE hash-Bernoulli form:
    // the per-row draw is md5(salt ++ doc_id) against the stratum's
    // share of the hash space, so the selection is a pure function of
    // (salt, key) — layout-independent (a resumed job with different
    // partitioning keeps the same sample, unlike sampleBy's
    // partition-seeded RNG) and oracle-exact (DuckDB recomputes the
    // selection outright). Spec asserts per-stratum rates.
    "pl1_stratified_sample" -> ((s, d) =>
      Pipeline.stratifiedSamplePortable(
        Tables.documents(s, d), "lang",
        Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.5),
        salt = "42:", col("doc_id"))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Reproducible shuffle position: same seed → same permutation. The
    // shuffle key is the md5 hex digest of (salt ++ doc_id) — md5 is the
    // same function in every engine (xxhash64 is Spark-internal), so the
    // permutation reproduces bit-identically in DuckDB and the query is
    // ORACLE-EXACT, not rows-only. The position column comes from the
    // two-phase globalPosition, not a global row_number window (which
    // would funnel everything through one task).
    "pl2_deterministic_shuffle" -> ((s, d) =>
      Pipeline.globalPosition(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        "shuffle_pos",
        md5(concat(lit("7:"), col("doc_id").cast("string")).cast("binary")),
        col("doc_id"))
        .orderBy("doc_id")),

    // Context packing by 8k-token budget over whitespace token counts.
    "pl3_context_packing" -> ((s, d) =>
      Pipeline.packByTokenBudget(
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).as("n_tokens")),
        col("doc_id"), col("n_tokens"), budget = 8192)
        .select("doc_id", "n_tokens", "cum_tokens", "bin")
        .orderBy("doc_id")),

    // DSIR importance weights over hashed-bigram bag models: target =
    // the corpus's 'en' slice, raw = everything. md5-prefix buckets +
    // Padé log-ratio surrogate + nano-unit integer sums make the whole
    // derivation oracle-EXACT; see Pipeline.dsirWeights.
    "pl23_dsir_weights" -> ((s, d) =>
      Pipeline.dsirWeights(
        Tables.documents(s, d), "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id")),

    // Temperature-scaled (α = ½) source mixture: sample ∝ √n_s to half
    // the corpus — sqrt is IEEE-correctly-rounded, so the whole share →
    // target → hash-threshold derivation is oracle-EXACT end to end;
    // see Pipeline.temperatureMixture.
    "pl24_temperature_mixture" -> ((s, d) =>
      Pipeline.temperatureMixture(
        Tables.documents(s, d), "source", col("doc_id"), salt = "24:")
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Data-constrained epoch schedule: √-share token targets vs a
    // 3.5×-inventory budget, repetition capped at 4 epochs — the
    // "can this mixture be trained at this budget" planning record.
    "pl25_epoch_schedule" -> ((s, d) =>
      Pipeline.epochSchedule(
        Tables.documents(s, d)
          .select(col("source"),
            TextAnalysis.wsTokenCount(col("text")).cast("long").as("t")),
        "source", col("t"),
        floor(sum(col("n_tokens")).cast("double") * lit(3.5)))
        .orderBy("source")),

    // Domain-mixture sampling: downsample sources to hit target output
    // proportions (binding source kept whole) — portable hash-Bernoulli
    // core, value-checked against SignatureTruth's scalar replication
    // (the fractions are data-dependent, so the oracle can't be a
    // standalone SQL literal); PipelineSpec asserts structure +
    // reproducibility.
    "pl7_mixture_sample" -> ((s, d) =>
      Pipeline.mixtureSamplePortable(
        Tables.documents(s, d), "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), salt = "11:",
        col("doc_id"))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Deterministic train/val/test split — pure function of (salt, key),
    // stable under any repartitioning (unlike randomSplit) AND portable
    // across engines: the draw is the md5 digest against precomputed
    // 128-bit range boundaries (assignSplitPortable), so the split is
    // ORACLE-EXACT and survives an engine migration. PipelineSpec asserts
    // determinism, exhaustiveness, and proportions.
    "pl6_dataset_split" -> ((s, d) =>
      Pipeline.assignSplitPortable(
        Tables.documents(s, d), col("doc_id"), salt = "7:", pl6Splits)
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // Vocabulary construction: dense token ids by descending frequency —
    // the standard tokenizer-prep step. Counts shuffle once on the token;
    // the id assignment is the two-phase globalPosition (no global-window
    // single-task stage). Oracle-exact: deterministic total order
    // (count desc, token asc).
    "pl5_vocabulary" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      Pipeline.globalPosition(counts, "token_id",
          col("n").desc, col("token").asc)
        .select("token", "n", "token_id")
        .orderBy("token_id")
    }),

    // Overlapping token-window chunking (64-token chunks every 48) —
    // scan-local explode, no shuffle; md5 of each chunk's text makes the
    // oracle compare content, not just counts.
    "pl4_token_chunks" -> ((s, d) =>
      Pipeline.chunkByTokens(
        Tables.documents(s, d), col("doc_id"), col("text"),
        chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")),

    // EXACT top-fraction quality filter: keep the best 20% of documents
    // by quality score, with a deterministic total order (score desc,
    // doc_id). The rank comes from the two-phase globalPosition — a
    // range-partitioned sort plus broadcast offsets, NOT a global
    // row_number window (which would funnel 100 TB through one task);
    // the cutoff k = floor(0.2·n) joins in from a one-row aggregate, so
    // nothing is collected on the driver. The standard exact alternative
    // to threshold-guessing on a score histogram.
    "pl8_quality_topfrac" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val n = scored.agg(count(lit(1)).as("_n"))
      Pipeline.globalPosition(scored, "pos",
          col("quality").desc, col("doc_id").asc)
        .crossJoin(broadcast(n))
        .filter(col("pos") <= floor(col("_n") * 0.2))
        .select(col("doc_id"), col("quality"), col("pos"))
        .orderBy("pos")
    }),

    // Exact-k deterministic per-stratum sample: exactly min(k, |stratum|)
    // rows per source, selected by seeded-md5 rank — engine-portable
    // (md5 is md5 everywhere), hence oracle-exact, unlike Bernoulli pl1
    // whose output size is random and whose hash is engine-local.
    "pl9_exact_k_sample" -> ((s, d) =>
      Pipeline.exactKPerStratum(
        Tables.documents(s, d), "source", k = 10, seed = 7L,
        keyCol = col("doc_id"))
        .select("doc_id", "source")
        .orderBy("source", "doc_id")),

    // Weighted sample ∝ document length (Efraimidis–Spirakis, exact k,
    // deterministic). Value-checked against SignatureTruth's scalar
    // replication (StrictMath.pow in the same fold — pow is engine-local
    // in its last ulp, so a SQL recomputation can't be trusted at the
    // selection boundary, but the JVM-side truth can); PipelineSpec
    // additionally asserts size, determinism, and weight monotonicity.
    "pl10_weighted_sample" -> ((s, d) =>
      Pipeline.weightedSample(
        Tables.documents(s, d), k = 50, seed = 3L,
        weightCol = col("n_chars"), col("doc_id"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // Z-order (Morton) clustering value over (part, supplier) — the
    // multi-dimensional layout key behind `OPTIMIZE ZORDER BY`:
    // range-partitioning by zval co-locates rows close in BOTH dims, so
    // parquet min/max stats prune box predicates on either dimension
    // (PipelineSpec measures the file-pruning win; zorderWrite is the
    // writer). The value itself is a closed-form shift/and/or fold —
    // bit-identical on any engine, hence oracle-exact.
    "pl11_zorder_value" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        Pipeline.zValue(col("l_partkey"), col("l_suppkey"), 16).as("zval"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "zval")),

    // Winsorized document length: clip n_chars to its exact [p05, p95]
    // range (outlier treatment before the length feature weights a
    // mixture). Exact percentiles + clamp are the same IEEE ops on both
    // engines → hash-exact.
    "pl12_winsorize" -> ((s, d) =>
      Pipeline.winsorize(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        col("n_chars"), "n_chars", 0.05, 0.95)
        .orderBy("doc_id")),

    // BPE merge statistics (one Sennrich-iteration pair table): adjacent
    // char-pair counts weighted by word frequency, top-20. The full
    // trainer (Pipeline.bpeTrain) iterates argmax+rewrite and is
    // spec-tested against hand-computed merges.
    "pl13_bpe_pairs" -> ((s, d) =>
      Pipeline.bpeMergePairs(Tables.documents(s, d), col("text"), topK = 20)),

    // Quality-weighted source reweighting: per-source doc count + exact
    // mean quality, normalized to a proposed mixture weight — the
    // data-driven input to pl7's mixture sampling. Source cardinality is
    // bounded (20 here), so the normalizer is a 1-row broadcast over a
    // 20-row aggregate, same shape as agg_histogram's bounds.
    // Dataset card: the one-row corpus datasheet (doc/source/word counts,
    // exact-dup rate, language mix, exact-decimal mean quality, flesch
    // range) — every column an already-proven exact expression, composed
    // in ONE aggregation pass over the corpus.
    "pl17_dataset_card" -> ((s, d) => {
      val e = Tables.documents(s, d).select(col("source"), col("text"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("w"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.fleschScore(col("text")).as("fl"))
      e.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("w")).as("total_words"),
        countDistinct(col("text")).as("n_distinct_texts"),
        ((count(lit(1)) - countDistinct(col("text"))).cast("double") /
          count(lit(1)).cast("double")).as("exact_dup_rate"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("lang") === "de", 1L).otherwise(0L)).as("n_de"),
        sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("n_fr"),
        sum(when(col("lang") === "es", 1L).otherwise(0L)).as("n_es"),
        (OracleSafe.moneySum(col("q"), 12) / count(lit(1)))
          .as("avg_quality"),
        min(col("fl")).as("min_flesch"),
        max(col("fl")).as("max_flesch"))
    }),

    // Budget-capped selection: docs ranked readability-first, greedy
    // prefix under a 10k-token global budget — "the best corpus that
    // fits the compute budget". Cumulative tokens via the two-phase
    // running total; take-while ≡ filter because cum is monotone.
    "pl16_budget_select" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_words"),
        TextAnalysis.fleschScore(col("text")).as("flesch"))
      Pipeline.runningTotal(docs, col("n_words"), "cum_tokens",
          col("flesch").desc, col("doc_id").asc)
        .filter(col("cum_tokens") <= 10000L)
        .select("doc_id", "n_words", "flesch", "cum_tokens")
        .orderBy("cum_tokens")
    }),

    "pl15_source_reweight" -> ((s, d) => {
      val q = Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
      val per = q.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        (OracleSafe.moneySum(col("q"), 12) / count(lit(1)))
          .as("avg_quality"))
      val tot = per.agg(
        OracleSafe.moneySum(col("avg_quality"), 12).as("tot"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("avg_quality"),
          (col("avg_quality") / col("tot")).as("weight"))
        .orderBy("source")
    }),

    // Curriculum staging: length-quartile bucket within each language
    // (ntile over a per-language window, doc_id tie-break) — the
    // easy→hard schedule assignment, parallel per stratum.
    "pl14_curriculum_buckets" -> ((s, d) =>
      Pipeline.curriculumBuckets(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        strata = Seq(col("lang")),
        order = Seq(col("n_chars").asc, col("doc_id").asc), n = 4)
        .orderBy("doc_id")),

    // Length-sorted batches of 32 with per-batch padding waste — the
    // dataloader-efficiency audit (waste ≈ 0 within length-sorted
    // batches; arrival order wastes the corpus length spread). Global
    // rank via the two-phase scheme, then one keyed agg; all integers.
    "pl18_length_batching" -> ((s, d) =>
      Pipeline.lengthBatches(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens")),
        col("n_tokens"), col("doc_id"), batchSize = 32)
        .orderBy("batch_id")),

    // Token-budget shard plan: docs packed in id order into consecutive
    // ~4000-token shards (greedy, never splits a doc) — the write-the-
    // final-corpus manifest; cut via the two-phase running total.
    "pl26_shard_plan" -> ((s, d) =>
      Pipeline.shardPlan(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("n_tokens")),
        col("doc_id"), col("n_tokens"), targetTokens = 4000L)
        .orderBy("shard_id")),

    // Leakage-safe dataset split: pl6's portable md5 split keyed on the
    // near-dup CLUSTER id instead of the doc id, so no cluster straddles
    // train/validation — hash-splitting by doc id leaks every near-dup
    // pair that lands on opposite sides of the cut (the eval set then
    // "contains" paraphrases of training docs). Composes dd10's
    // connected components with assignSplitPortable unchanged.
    "pl28_leakage_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.ngramJaccardPairs(
        docs, col("doc_id"), col("text"), col("source"),
        n = 3, threshold = 0.6)
      Pipeline.assignSplitPortable(
          Dedup.connectedComponents(docs, col("doc_id"), edges,
              "id_a", "id_b")
            .select(col("cc_id").as("doc_id"), col("cluster_id")),
          col("cluster_id"), salt = "28:", pl6Splits)
        .orderBy("doc_id")
    }),

    // Per-source absolute cap (domain balancing): within each source
    // keep the top-50 docs by (quality desc, id asc) — the ceiling
    // proportional reweighting can't express; per-doc decision record.
    "pl29_source_caps" -> ((s, d) =>
      Pipeline.sourceCaps(
        Tables.documents(s, d), col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")), cap = 50)
        .orderBy("doc_id")),

    // Source-interleaved training order: round-robin through sources so
    // every window of the order is source-balanced — deterministic,
    // reproducible, no single-task stage.
    "pl27_source_interleave" -> ((s, d) =>
      Pipeline.interleaveBySource(
        Tables.documents(s, d), col("doc_id"), col("source"))
        .orderBy("train_pos")),

    // The WHOLE preprocessing pipeline as one declarative plan: Gopher
    // gates → exact-dup canonical election → eval decontamination →
    // balanced per-lang cap, emitting a per-doc decision record (every
    // gate's verdict + final keep). One corpus scan feeds all gates;
    // each stage is an already-proven operator.
    "pl21_corpus_pipeline" -> ((s, d) =>
      Pipeline.corpusPipeline(
        Tables.documents(s, d), col("doc_id") % 50 === 0,
        nGram = 3, minWords = 20, contThreshold = 0.1)
        .orderBy("doc_id")),

    // Balanced downsampling: every language capped at the smallest
    // language's size, keeping the longest docs first (deterministic,
    // auditable keep-set) — the class-balancing step before training a
    // classifier on skewed strata.
    "pl19_balanced_sample" -> ((s, d) =>
      Pipeline.balancedDownsample(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        col("lang"), Seq(col("n_chars").desc, col("doc_id").asc))
        .orderBy("doc_id")),

    // PSI drift between the even-id half (reference) and the odd-id half
    // of the corpus over n_chars: exact reference-decile buckets, exact
    // count shares, one fixed double term per bucket (never a cross-row
    // float sum) — the standard corpus-snapshot drift monitor.
    "pl20_psi_drift" -> ((s, d) =>
      Pipeline.psiDrift(
        Tables.documents(s, d), col("n_chars"),
        col("doc_id") % 2 === 0, nBuckets = 10)
        .orderBy("bucket"))
  )

  // The identical shift/and/or fold as Pipeline.zValue, generated
  // term-by-term (disjoint bits, fully parenthesized — bitwise precedence
  // differs across engines).
  private def zSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})",
          s"((($y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")

  val oracle: Map[String, String] = Map(
    // mirrors Pipeline.dsirWeights step by step: md5-prefix buckets,
    // exact-integer smoothed-ratio products, the 2(r−1)/(r+1) Padé
    // surrogate with identical association, nano-unit floor + BIGINT sum.
    "pl23_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, lang = 'en' AS is_target,
             regexp_split_to_array(lower(text), '\s+') AS w
           FROM documents),
         occ AS (SELECT doc_id, is_target, substr(md5(bg), 1, 4) AS b
           FROM (SELECT doc_id, is_target,
                   unnest([w[i] || ' ' || w[i+1]
                           for i in range(1, len(w))]) AS bg
                 FROM tk)),
         raw AS (SELECT b, count(*) AS c_r FROM occ GROUP BY b),
         tgt AS (SELECT b, count(*) AS c_t FROM occ
           WHERE is_target GROUP BY b),
         model AS (SELECT raw.b, c_r, coalesce(c_t, 0) AS c_t
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         t AS (SELECT sum(c_r) AS nr, sum(c_t) AS nt FROM model),
         wt AS (SELECT b, 2.0 * (r - 1.0) / (r + 1.0) AS w
           FROM (SELECT b,
               (CAST(c_t + 1 AS DOUBLE) * CAST(nr + 65536 AS DOUBLE)) /
               (CAST(c_r + 1 AS DOUBLE) * CAST(nt + 65536 AS DOUBLE)) AS r
             FROM model CROSS JOIN t)),
         sc AS (SELECT doc_id,
             CAST(floor(w * 1000000000.0) AS BIGINT) AS w_nano
           FROM occ JOIN wt USING (b))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
           CAST(sum(w_nano) AS BIGINT) AS w_nano_sum,
           CAST(sum(w_nano) AS DOUBLE) / 1000000000.0 AS dsir_weight
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    // mirrors Pipeline.epochSchedule: whitespace token inventories,
    // micro-unit sqrt shares, floor targets vs the 3.5x-inventory
    // budget, 4-epoch cap as exact integer least().
    "pl25_epoch_schedule" ->
      """WITH tok AS (SELECT source,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
               AS t
           FROM documents),
         c AS (SELECT source, CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(floor(sqrt(CAST(sum(t) AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS q_micro
           FROM tok GROUP BY source),
         tt AS (SELECT sum(q_micro) AS sq_micro,
             CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 3.5) AS BIGINT)
               AS budget
           FROM c),
         f AS (SELECT source, n_tokens,
             CAST(floor(CAST(q_micro AS DOUBLE) / CAST(sq_micro AS DOUBLE) *
               CAST(budget AS DOUBLE)) AS BIGINT) AS target_tokens,
             CAST(floor(4.0 * CAST(n_tokens AS DOUBLE)) AS BIGINT)
               AS cap_tokens
           FROM c CROSS JOIN tt)
         SELECT source, n_tokens, target_tokens,
           least(target_tokens, cap_tokens) AS achieved_tokens,
           target_tokens - least(target_tokens, cap_tokens)
             AS deficit_tokens,
           CAST(least(target_tokens, cap_tokens) AS DOUBLE) /
             CAST(n_tokens AS DOUBLE) AS epochs
         FROM f ORDER BY source""",
    // mirrors Pipeline.temperatureMixture: micro-unit sqrt shares,
    // floor target counts, 60-bit hash threshold as 15-hex-digit
    // zero-padded literal, keep-whole when t_s >= n_s.
    "pl24_temperature_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_s,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS q_micro
           FROM documents GROUP BY source),
         t AS (SELECT sum(q_micro) AS sq_micro, sum(n_s) AS n_total
           FROM c),
         f AS (SELECT source, n_s,
             CAST(floor(
               CAST(q_micro AS DOUBLE) / CAST(sq_micro AS DOUBLE) *
               CAST(CAST(floor(CAST(n_total AS DOUBLE) * 0.5) AS BIGINT)
                 AS DOUBLE)) AS BIGINT) AS t_s
           FROM c CROSS JOIN t),
         b AS (SELECT source, n_s, t_s,
             printf('%015x', CAST(floor(
               CAST(t_s AS DOUBLE) / CAST(n_s AS DOUBLE) *
               1152921504606846976.0) AS BIGINT)) AS bound
           FROM f)
         SELECT d.doc_id, d.source
         FROM documents d JOIN b USING (source)
         WHERE t_s >= n_s
            OR substr(md5('24:' || CAST(doc_id AS VARCHAR)), 1, 15) < bound
         ORDER BY d.doc_id""",
    "pl2_deterministic_shuffle" ->
      """SELECT doc_id, n_chars,
           CAST(row_number() OVER (
             ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS shuffle_pos
         FROM documents ORDER BY doc_id""",
    "pl10_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars
          FROM read_parquet('${graft.ops.SignatureTruth.defaultDir}/pl10.parquet/*.parquet')
          ORDER BY doc_id""",
    "pl1_stratified_sample" -> {
      val b = Pipeline.md5Bound(0.5)
      s"""SELECT doc_id, lang FROM documents
          WHERE lang IN ('en','de','fr','es','zh')
            AND md5('42:' || CAST(doc_id AS VARCHAR)) < '$b'
          ORDER BY doc_id"""
    },
    "pl7_mixture_sample" ->
      s"""SELECT doc_id, source
          FROM read_parquet('${graft.ops.SignatureTruth.defaultDir}/pl7.parquet/*.parquet')
          ORDER BY doc_id""",
    "pl6_dataset_split" -> {
      val h = "md5('7:' || CAST(doc_id AS VARCHAR))"
      val cases = pl6Bounds
        .map { case (name, bound) => s"WHEN $h < '$bound' THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id,
            CASE $cases ELSE '${pl6Splits.last._1}' END AS split
          FROM documents ORDER BY doc_id"""
    },
    // the dd10 cluster construction (DedupQueries' shared trigram-pair +
    // min-label-CC CTEs) + a size rollup; the weight is one double
    // division of exact longs on both engines
    "pl22_cluster_weights" ->
      s"""WITH ${DedupQueries.trigramJaccardCtes(perSource = true)},
          e AS MATERIALIZED (SELECT id_a, id_b FROM tj WHERE jaccard >= 0.6),
          ${DedupQueries.minLabelClusterCtes("e")},
          sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM cl GROUP BY cluster_id)
          SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
            CAST(1 AS DOUBLE) / CAST(sz.cluster_size AS DOUBLE) AS weight
          FROM cl JOIN sz USING (cluster_id) ORDER BY cl.doc_id""",

    // stage-by-stage composition of the proven ta16 / dd1 / dd17 / pl19
    // oracle fragments, restricted to the train split.
    "pl21_corpus_pipeline" ->
      """WITH tr AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
          t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
            FROM tr),
          q AS (SELECT doc_id,
              ((len(toks) >= 20 AND len(toks) <= 100000)
               AND (CAST(length(text) - (len(toks) - 1) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) >= 3.0
                    AND CAST(length(text) - (len(toks) - 1) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) <= 10.0)
               AND (CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                      AS DOUBLE) / CAST(len(toks) AS DOUBLE) <= 0.1)
               AND (CAST(len(list_filter(toks,
                      x -> regexp_full_match(x, '[a-z]+'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) >= 0.8)
               AND (CAST(len(list_filter(
                      ['the','be','to','of','and','that','have','with'],
                      w -> list_contains(toks, w))) AS INT) >= 2))
                AS pass_quality
            FROM t),
          dup AS (SELECT doc_id,
              doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canon
            FROM tr),
          g0 AS (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents),
          g AS (SELECT doc_id, unnest(list_distinct(
              [array_to_string(w[i:i+2], ' ')
               for i in range(1, len(w) - 1)])) AS gram
            FROM g0),
          evg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
          tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0),
          tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM tg GROUP BY doc_id),
          ov AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS ov
            FROM tg JOIN evg USING (gram) GROUP BY tg.doc_id),
          cont AS (SELECT tot.doc_id,
              CAST(COALESCE(ov.ov, 0) AS DOUBLE)
                / CAST(tot.n_grams AS DOUBLE) >= 0.1 AS is_cont
            FROM tot LEFT JOIN ov ON ov.doc_id = tot.doc_id),
          flags AS (SELECT tr.doc_id, tr.lang, tr.source, tr.n_chars,
              q.pass_quality, dup.is_canon,
              COALESCE(cont.is_cont, FALSE) AS is_cont
            FROM tr
            JOIN q USING (doc_id) JOIN dup USING (doc_id)
            LEFT JOIN cont ON cont.doc_id = tr.doc_id),
          elig AS (SELECT doc_id, lang, n_chars FROM flags
            WHERE pass_quality AND is_canon AND NOT is_cont),
          tgt AS (SELECT min(n) AS target FROM
            (SELECT lang, count(*) AS n FROM elig GROUP BY lang)),
          rk AS (SELECT doc_id, row_number() OVER (PARTITION BY lang
              ORDER BY n_chars DESC, doc_id ASC) AS rk
            FROM elig),
          bal AS (SELECT rk.doc_id, rk.rk <= tgt.target AS kept
            FROM rk, tgt)
          SELECT f.doc_id, f.lang, f.source, f.n_chars, f.pass_quality,
            f.is_canon AS is_canonical, f.is_cont AS is_contaminated,
            COALESCE(b.kept, FALSE) AS kept_balance,
            (f.pass_quality AND f.is_canon AND NOT f.is_cont
              AND COALESCE(b.kept, FALSE)) AS final_keep
          FROM flags f LEFT JOIN bal b ON b.doc_id = f.doc_id
          ORDER BY f.doc_id""",
    // per-lang counts → global min cap → lang-keyed rank, same
    // (n_chars DESC, doc_id ASC) priority as the Spark window.
    "pl19_balanced_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents
            GROUP BY lang),
          t AS (SELECT min(n) AS target FROM c),
          r AS (SELECT doc_id, lang, n_chars, row_number() OVER (
              PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rk
            FROM documents)
          SELECT doc_id, lang, n_chars FROM r, t
          WHERE rk <= target ORDER BY doc_id""",
    // reference-half deciles via quantile_cont (≡ Spark percentile,
    // proven by pl12); probe literals carry e0 so DuckDB types them
    // DOUBLE, not DECIMAL; bucket = #edges strictly below the value.
    "pl20_psi_drift" ->
      """WITH e AS (SELECT quantile_cont(n_chars,
              [0.1e0, 0.2e0, 0.3e0, 0.4e0, 0.5e0,
               0.6e0, 0.7e0, 0.8e0, 0.9e0]) AS edges
            FROM documents WHERE doc_id % 2 = 0),
          b AS (SELECT CAST(n_chars AS DOUBLE) AS v, doc_id % 2 = 0 AS is_ref
            FROM documents),
          bk AS (SELECT CAST(len([x for x in e.edges if b.v > x]) AS INT)
              AS bucket, b.is_ref
            FROM b, e),
          c AS (SELECT bucket,
              CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                AS n_ref,
              CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                AS n_cmp
            FROM bk GROUP BY bucket),
          t AS (SELECT sum(n_ref) AS t_ref, sum(n_cmp) AS t_cmp FROM c)
          SELECT bucket, n_ref, n_cmp,
            CAST(n_ref AS DOUBLE) / t_ref AS p_ref,
            CAST(n_cmp AS DOUBLE) / t_cmp AS p_cmp,
            CASE WHEN n_ref > 0 AND n_cmp > 0 THEN
              (CAST(n_ref AS DOUBLE) / t_ref - CAST(n_cmp AS DOUBLE) / t_cmp)
                * ln((CAST(n_ref AS DOUBLE) / t_ref) /
                     (CAST(n_cmp AS DOUBLE) / t_cmp))
            END AS psi_term
          FROM c, t ORDER BY bucket""",
    // same whitespace token count as pl8's oracle; (pos-1)//32 is the
    // identical floor batch cut.
    "pl18_length_batching" ->
      """WITH c AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
              AS n_tokens
          FROM documents),
         r AS (SELECT doc_id, n_tokens,
            CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
              AS pos
          FROM c),
         b AS (SELECT (pos - 1) // 32 AS batch_id, n_tokens FROM r)
         SELECT batch_id, CAST(count(*) AS BIGINT) AS n_rows,
           max(n_tokens) AS max_len,
           CAST(sum(n_tokens) AS BIGINT) AS sum_len,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
             AS padding_waste
         FROM b GROUP BY batch_id ORDER BY batch_id""",
    // dd10's cluster dual (shared trigram-pair + min-label-CC CTEs)
    // + pl6's md5 CASE on cluster_id
    "pl28_leakage_safe_split" -> {
      val h = "md5('28:' || CAST(cluster_id AS VARCHAR))"
      val cases = Pipeline.md5SplitBounds(pl6Splits)
        .map { case (name, bound) => s"WHEN $h < '$bound' THEN '$name'" }
        .mkString(" ")
      s"""WITH ${DedupQueries.trigramJaccardCtes(perSource = true)},
          e AS MATERIALIZED (SELECT id_a, id_b FROM tj WHERE jaccard >= 0.6),
          ${DedupQueries.minLabelClusterCtes("e")}
          SELECT doc_id, cluster_id,
            CASE $cases ELSE '${pl6Splits.last._1}' END AS split
          FROM cl ORDER BY doc_id"""
    },
    // same quality CTE as pl8 (term-identical doubles), keyed rank,
    // BIGINT rank cast — integer/boolean output, hash-exact
    "pl29_source_caps" ->
      """WITH t AS (SELECT doc_id, source,
            regexp_split_to_array(lower(text), '\s+') AS toks,
            text FROM documents),
         c AS (SELECT doc_id, source,
            CAST(len(toks) AS INT) AS n_tokens,
            CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
              AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
            CAST(len(list_filter(toks,
              x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
              / greatest(len(toks), 1) AS stopword_ratio
           FROM t),
         q AS (SELECT doc_id, source,
            least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
              + (1.0 - punct_ratio) * 0.3
              + least(stopword_ratio * 5.0, 1.0) * 0.3 AS quality
           FROM c),
         r AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS src_rank
           FROM q)
         SELECT doc_id, source, src_rank, src_rank <= 50 AS is_kept
         FROM r ORDER BY doc_id""",
    "pl27_source_interleave" ->
      """WITH w AS (SELECT doc_id, source,
            CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS within_pos
          FROM documents)
         SELECT doc_id, source, within_pos,
           CAST(row_number() OVER (ORDER BY within_pos, source)
             AS BIGINT) AS train_pos
         FROM w ORDER BY train_pos""",
    // shard cut = exclusive running total // target, same floor division.
    // shard_id MUST be re-cast: sum(BIGINT) in DuckDB is DECIMAL(38,0), so
    // `(cum - tok) // 4000` inherits decimal — and the driver's hasher
    // renders decimals differently from int64 (the round-1 trap; this was
    // the r9 pl26 hash fail — values identical, types not).
    "pl26_shard_plan" ->
      """WITH c AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
              AS tok
          FROM documents),
         r AS (SELECT doc_id, tok,
            sum(tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM c),
         s AS (SELECT doc_id, tok,
            CAST((cum - tok) // 4000 AS BIGINT) AS shard_id FROM r)
         SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM s GROUP BY shard_id ORDER BY shard_id""",
    "pl12_winsorize" ->
      """WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                      quantile_cont(n_chars, 0.95) AS hi FROM documents)
         SELECT doc_id, n_chars,
           least(greatest(CAST(n_chars AS DOUBLE), lo), hi) AS n_chars_w
         FROM documents CROSS JOIN b ORDER BY doc_id""",
    "pl13_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
             FROM documents),
         wf AS (SELECT word, count(*) AS freq FROM w
           WHERE len(word) >= 2 GROUP BY word),
         p AS (SELECT unnest([substr(word, i, 2)
               for i in range(1, len(word))]) AS pair, freq
           FROM wf),
         pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
           FROM p GROUP BY pair)
         SELECT pair, pair_count FROM pc
         ORDER BY pair_count DESC, pair LIMIT 20""",
    "pl11_zorder_value" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            CAST(${zSql("l_partkey", "l_suppkey", 16)} AS BIGINT) AS zval
          FROM lineitem
          ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, zval""",
    "pl14_curriculum_buckets" ->
      """SELECT doc_id, lang, n_chars,
           CAST(ntile(4) OVER (PARTITION BY lang
             ORDER BY n_chars, doc_id) AS INT) AS bucket
         FROM documents ORDER BY doc_id""",
    // one row composing the ta1/ta2/ta17 duals — every column the same
    // proven-exact expression text
    "pl17_dataset_card" ->
      """WITH t AS (SELECT doc_id, source, text,
            regexp_split_to_array(lower(text), '\s+') AS toks,
            lower(text) AS lt, length(text) AS nch,
            greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS snt,
            len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
          FROM documents),
         sc AS (SELECT *,
            len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS s_en,
            len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS s_de,
            len(list_filter(toks, x -> x IN ('le','la','et','les','des','un'))) AS s_fr,
            len(list_filter(toks, x -> x IN ('el','los','de','que','y','una'))) AS s_es
          FROM t),
         e AS (SELECT source, text,
            CAST(len(toks) AS BIGINT) AS w,
            CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                 WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                 WHEN s_fr >= s_es THEN 'fr'
                 ELSE 'es' END AS lang,
            least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
              + (1.0 - CAST(length(regexp_replace(lt, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
                  / greatest(nch, 1)) * 0.3
              + least(CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                  / greatest(len(toks), 1) * 5.0, 1.0) * 0.3 AS q,
            206.835e0
              - 1.015e0 * (CAST(greatest(len(toks), 1) AS DOUBLE)
                           / CAST(snt AS DOUBLE))
              - 84.6e0 * (CAST(sy AS DOUBLE)
                          / CAST(greatest(len(toks), 1) AS DOUBLE)) AS fl
          FROM sc)
         SELECT
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(w) AS BIGINT) AS total_words,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           CAST(count(*) - count(DISTINCT text) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
           CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
           CAST(sum(CAST(q AS DECIMAL(18,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS avg_quality,
           min(fl) AS min_flesch,
           max(fl) AS max_flesch
         FROM e""",
    // flesch dual identical to ta17's; running sum over the same
    // (flesch DESC, doc_id) order ≡ the two-phase runningTotal
    "pl16_budget_select" ->
      s"""WITH t AS (SELECT doc_id,
            CAST(len(regexp_split_to_array(lower(text), '\\s+'))
              AS BIGINT) AS n_words,
            greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
            len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
          FROM documents),
          f AS (SELECT doc_id, n_words,
            206.835e0
              - 1.015e0 * (CAST(greatest(n_words, 1) AS DOUBLE)
                           / CAST(s AS DOUBLE))
              - 84.6e0 * (CAST(sy AS DOUBLE)
                          / CAST(greatest(n_words, 1) AS DOUBLE)) AS flesch
          FROM t),
          r AS (SELECT doc_id, n_words, flesch,
            CAST(sum(n_words) OVER (ORDER BY flesch DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM f)
          SELECT doc_id, n_words, flesch, cum_tokens FROM r
          WHERE cum_tokens <= 10000
          ORDER BY cum_tokens""",
    // qualityScore dual identical to ta2's oracle; per-source exact
    // DECIMAL(18,12) mean, totals normalized over the bounded source set
    "pl15_source_reweight" ->
      """WITH t AS (SELECT source,
            regexp_split_to_array(lower(text), '\s+') AS toks,
            lower(text) AS lt, length(text) AS n FROM documents),
         c AS (SELECT source,
            least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
              + (1.0 - CAST(length(regexp_replace(lt, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
                  / greatest(n, 1)) * 0.3
              + least(CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
                  / greatest(len(toks), 1) * 5.0, 1.0) * 0.3 AS q
          FROM t),
         per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CAST(q AS DECIMAL(18,12))) AS DOUBLE) / count(*)
              AS avg_quality
          FROM c GROUP BY source),
         tot AS (SELECT CAST(sum(CAST(avg_quality AS DECIMAL(18,12))) AS DOUBLE)
              AS tot FROM per)
         SELECT source, n_docs, avg_quality, avg_quality / tot AS weight
         FROM per CROSS JOIN tot ORDER BY source""",
    "pl3_context_packing" ->
      """SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(floor(CAST(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE) / 8192)
             AS INT) AS bin
         FROM (SELECT doc_id,
                 CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT)
                   AS n_tokens
               FROM documents)
         ORDER BY doc_id""",
    "pl5_vocabulary" ->
      """WITH c AS (SELECT token, count(*) AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS token
                 FROM documents) toks
           GROUP BY token)
         SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
             AS token_id
         FROM c ORDER BY token_id""",
    "pl4_token_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
          c AS (SELECT doc_id,
            [{ci: i,
              nt: least((i*48) + 64, len(toks)) - (i*48),
              h: md5(array_to_string(
                   toks[(i*48)+1 : least((i*48)+64, len(toks))], ' '))}
             for i in range(0,
               CAST(floor((len(toks) - 1) / 48) AS INT) + 1)] AS chunks
            FROM t)
          SELECT doc_id, CAST(u.ci AS INT) AS chunk_idx,
            CAST(u.nt AS INT) AS n_tokens, u.h AS chunk_md5
          FROM (SELECT doc_id, unnest(chunks) AS u FROM c)
          ORDER BY doc_id, chunk_idx""",
    "pl8_quality_topfrac" ->
      """WITH t AS (SELECT doc_id, text,
            regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
         c AS (SELECT doc_id,
            CAST(len(toks) AS INT) AS n_tokens,
            CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g'))
              AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
            CAST(len(list_filter(toks,
              x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
              / greatest(len(toks), 1) AS stopword_ratio
           FROM t),
         q AS (SELECT doc_id,
            least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
              + (1.0 - punct_ratio) * 0.3
              + least(stopword_ratio * 5.0, 1.0) * 0.3 AS quality
           FROM c),
         r AS (SELECT doc_id, quality,
            CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
              AS pos
           FROM q)
         SELECT doc_id, quality, pos FROM r
         WHERE pos <= (SELECT CAST(floor(count(*) * 0.2) AS BIGINT) FROM q)
         ORDER BY pos""",
    // pl1/pl2: rows-only — seeded sampling and hash order are engine-local;
    //   PipelineSpec covers rates and determinism.
    "pl9_exact_k_sample" ->
      """WITH r AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY md5(concat_ws('|', 7, doc_id)), doc_id) AS rk
          FROM documents)
         SELECT doc_id, source FROM r WHERE rk <= 10
         ORDER BY source, doc_id"""
  )
}
