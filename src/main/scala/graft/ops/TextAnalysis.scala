package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (marker-word heuristic), quality scoring, token counting,
  * and document fingerprinting. All pure column expressions (codegen'd,
  * no UDFs), so they run at full scan speed and every one is expressible
  * as oracle SQL.
  */
object TextAnalysis {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Marker-word lists per language. Deterministic heuristic: the language
    * with the most marker-token hits wins, ties broken in declaration
    * order (en, de, fr, es). The fixture docs are synthetic English word
    * salads, so 'en' dominates — what matters is that the heuristic is
    * deterministic, scan-local, and shuffle-free at 100 TB. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "de", "que", "y", "una"))

  /** Count of tokens that appear in `words` — native codegen'd
    * expression (round 21): the declarative
    * `size(filter(toks, _.isin(words)))` ran one interpreted lambda per
    * token on every marker scan (stopwordRatio evaluates it twice per
    * doc in ta2, langId four times). Integer count, repeats count,
    * null tokens are not hits — exactly the filter's semantics
    * (TextAnalysisSpec pins equality vs [[markerHitsDeclarative]] on
    * the real corpus). */
  def markerHits(toks: Column, words: Seq[String]): Column =
    graft.functions.Signatures.marker_hit_count(toks, words)

  /** The retired declarative form of [[markerHits]] — the A/B baseline
    * and equality anchor for the native expression. */
  private[graft] def markerHitsDeclarative(
      toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Predicted language code from marker hits (argmax, first-wins ties). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = langMarkers.map { case (lang, words) =>
      lang -> markerHits(toks, words)
    }
    // argmax with declaration-order tie-break: lang_i wins if its score is
    // >= all later scores and > handled by earlier branches.
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, score), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        if (laterScores.isEmpty) elseCol
        else when(laterScores.map(score >= _).reduce(_ && _), lang)
          .otherwise(elseCol)
    }
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: runs of letters, digits, or single other
    * non-space chars — the standard pre-tokenizer regex shape. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Sentence count: runs of terminal punctuation, floored at 1 so
    * fragments still score. Exact integer in any engine. */
  def sentenceCount(text: Column): Column =
    greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("int")

  /** Syllable proxy: vowel-group runs over the lowercased text (word
    * boundaries break runs, so no per-word explode needed) — the
    * standard cheap estimator; off-by-a-bit per word, consistent in
    * aggregate, and exact-integer reproducible. */
  def syllableCount(text: Column): Column =
    regexp_count(lower(text), lit("[aeiouy]+")).cast("int")

  /** Flesch reading ease: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) — the quality-filter companion to
    * [[qualityScore]] (training corpora routinely gate on readability
    * bands). All three inputs are exact integers and the formula is one
    * fixed double expression with literal coefficients → bit-identical
    * cross-engine. Scan-local, codegen'd, no explode. */
  def fleschScore(text: Column): Column = {
    val w = greatest(wsTokenCount(text), lit(1)).cast("double")
    val s = sentenceCount(text).cast("double")
    val sy = syllableCount(text).cast("double")
    lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w)
  }

  /** Ratio of non-alphanumeric-non-space chars to all chars. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Ratio of English stopword tokens to all tokens. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    markerHits(toks, langMarkers.head._2).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length credit + clean-charset
    * credit + natural-language credit. Exact per-row double arithmetic —
    * deterministic on any cluster and hash-identical in the oracle. */
  def qualityScore(text: Column): Column = {
    val lengthCredit = least(wsTokenCount(text).cast("double") / 100.0, lit(1.0))
    val cleanCredit = lit(1.0) - punctRatio(text)
    val naturalCredit = least(stopwordRatio(text) * 5.0, lit(1.0))
    lengthCredit * 0.4 + cleanCredit * 0.3 + naturalCredit * 0.3
  }

  /** Content-hash fingerprint over normalized text (md5 prefix) — the
    * oracle-friendly fingerprint; `rolling_min_hash` is the native
    * Expression variant. */
  def md5Fingerprint(text: Column, hexLen: Int = 16): Column =
    substring(md5(lower(trim(text))), 1, hexLen)

  /** Word n-grams as space-joined strings over a token array (empty array
    * when the doc has fewer than n tokens). Scan-local expression — no
    * explode, no shuffle. */
  def wordNgrams(toks: Column, n: Int): Column =
    // native: the transform/sequence form re-evaluated the token-array
    // child per element per gram position (interpreted HOF lambda) —
    // one codegen'd loop instead; same empty-when-short contract
    graft.functions.Ngrams.word_ngrams(toks, n)

  /** Fraction of n-grams that are repeats of an earlier n-gram in the
    * same document — the Gopher-class intra-document repetition signal
    * (Rae et al. 2021 filter docs on exactly this family). 0 for docs
    * shorter than n tokens. Exact integer ratio → bit-identical double
    * on any engine. */
  def dupNgramFrac(toks: Column, n: Int): Column = {
    val gs = wordNgrams(toks, n)
    (size(gs) - size(array_distinct(gs))).cast("double") /
      greatest(size(gs), lit(1)).cast("double")
  }

  /** BM25 ranked retrieval over the corpus for a fixed term set — the
    * classic sparse-retrieval scorer (Robertson–Spärck Jones/Okapi),
    * built from the same statistics as the inverted index (ta8):
    *
    *   score(D, Q) = Σ_{t ∈ Q}  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
    *
    * with the RATIONAL idf variant idf(t) = (N − df + 0.5)/(df + 0.5) —
    * log-free on purpose: `ln` is not correctly-rounded-mandated by
    * IEEE 754, so JVM Math.log and DuckDB's libm can differ in the last
    * ulp and break cross-engine hash parity; the rational form is a
    * strictly monotone transform of the Robertson idf's argument, keeps
    * rare terms weighted above stopwords, and is exact IEEE arithmetic
    * end-to-end. (Swap `ln` back in when bit-parity across engines is
    * not a requirement.) Per-document term-score sums are source-ordered
    * sequential folds (the dd6/ss1 pattern), so the whole score is
    * bit-reproducible.
    *
    * Scale shape: tokenize+filter is scan-local; tf is one shuffle on
    * (doc, term); df and the corpus stats are tiny aggregates (df ≤ |Q|
    * rows, stats broadcast as a one-row frame); the final top-k is
    * TakeOrderedAndProject. Docs containing no query term never leave
    * the scan. */
  def bm25Search(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      terms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && topK > 0)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    val dl = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl"))
    // corpus stats: one row, broadcast — N and avgdl = Σdl / N (exact
    // long sum, one IEEE division)
    val corpus = dl.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val tf = toks.filter(col("token").isin(terms.map(_.asInstanceOf[Any]): _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    // expression shapes mirror the oracle SQL exactly (left-associative),
    // so every intermediate double is bit-identical across engines
    val idf = ((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    val denom = tfD +
      lit(k1) * ((lit(1.0) - lit(b)) + (lit(b) * dlD) / col("avgdl"))
    val termScore = idf * (tfD * (lit(k1) + lit(1.0))) / denom
    tf.join(dl, "doc_id")
      .join(dfreq, "token")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("token"), termScore.as("sc"))
      .groupBy("doc_id")
      .agg(
        aggregate(
          transform(
            array_sort(collect_list(struct(col("token"), col("sc")))),
            x => x.getField("sc")),
          lit(0.0), (acc, x) => acc + x).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Windowed token co-occurrence with PMI-style association strength —
    * the embedding-prep / collocation-mining primitive. For every
    * unordered token pair co-occurring within `window` positions:
    *
    *   lift(x, y) = P(x,y) / (P(x)·P(y))
    *              = (c_xy · N_tok²) / (N_pair · c_x · c_y)
    *
    * — PMI without the log (PMI = ln lift): a monotone transform that
    * keeps the whole statistic exact-integer ratios evaluated in IEEE
    * doubles, hence bit-reproducible across engines (`ln` is not; see
    * [[bm25Search]]). lift > 1 ⇒ the pair co-occurs more than chance.
    *
    * Scale shape: pair generation is SCAN-LOCAL — a nested
    * transform/flatten over each document's token array (never a
    * positional self-join, which would shuffle the corpus against
    * itself); the only shuffles are the two groupBy counts (pair,
    * unigram). Corpus totals broadcast as a one-row frame. `minCount`
    * prunes the hapax tail before the join fan-in. */
  def cooccurrenceLift(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      window: Int = 2, minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    require(window >= 1 && minCount >= 1)
    // The token array must be a BOUND column before the nested lambdas:
    // HOF lambda bodies re-evaluate embedded subtrees per element
    // interpreted, so an inline split(text) would re-split the whole
    // document for every (i, j) pair — O(n²·len) per doc (the same trap
    // the native n-gram expressions fixed). As an attribute, the
    // per-element reference is a pointer read.
    val toks = col("_toks")
    val n = size(toks)
    val pairsArr = flatten(transform(sequence(lit(0), n - 2), i =>
      transform(sequence(i + 1, least(i + lit(window), n - 1)), j =>
        struct(
          least(element_at(toks, i + 1), element_at(toks, j + 1)).as("a"),
          greatest(element_at(toks, i + 1), element_at(toks, j + 1))
            .as("b")))))
    val pairs = docs
      .select(split(col(textCol), " ").as("_toks"))
      // guard: sequence(0, n-2) is invalid for single-token docs
      .select(explode(when(n >= 2, pairsArr)
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairCounts = pairs.groupBy("a", "b")
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val uni = docs.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).cast("double").as("nt"))
      .crossJoin(broadcast(
        pairs.agg(count(lit(1)).cast("double").as("np"))))
    pairCounts
      .join(uni.select(col("token").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("token").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("pair_count"),
        ((col("pair_count").cast("double") * col("nt") * col("nt")) /
          (col("np") * col("ca").cast("double") * col("cb").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
  }

  /** Share of tokens taken by the single most frequent token (the other
    * standard repetition signal). Implemented as a scan-local expression:
    * per distinct token, count its occurrences with a nested array
    * filter — O(distinct × len) per document, bounded by document length,
    * and shuffle-free, which beats an explode + two-level aggregation at
    * scan time for bounded docs. */
  def topTokenFrac(toks: Column): Column = {
    val counts = transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(array_max(counts).cast("double") / size(toks).cast("double"))
  }

  /** TF-IDF keyword extraction: the top-k highest-weighted tokens per
    * document. Uses the RATIONAL idf (N − df + 0.5)/(df + 0.5) — same
    * log-free family as `bm25Search` and for the same reason: `ln` is not
    * correctly-rounded-mandated by IEEE 754, so a log-based idf can differ
    * in the last ulp across engines; the rational form is a strictly
    * monotone transform of the Robertson idf argument, so it ranks tokens
    * identically and stays bit-reproducible.
    *
    * Scale shape: two hash aggregations (doc×token tf, token df) and one
    * per-document window for the top-k — all shuffles key on token or
    * doc id, and df (vocabulary-sized) broadcasts into the scoring join.
    * No vocabulary collect, no all-pairs anything. */
  def tfidfKeywords(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, topK: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    require(topK > 0)
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    // left-associative, mirroring the oracle SQL term by term
    val idf = ((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf").cast("double") * idf).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
  }

  /** Per-document bigram-LM quality score — the CCNet-style LM filter
    * shape (Wenzek et al. 2020 rank docs by LM score and keep the head;
    * Microbase has nothing like it — beyond-reference track). The LM is
    * the corpus's own MLE bigram model (the `ta9` statistics); each
    * document is scored by
    *   - `rare_frac`: fraction of its bigrams seen ≤ `rareMax` times in
    *     the corpus (exact integer ratio — the robust signal), and
    *   - `avg_p`: mean conditional probability P(next|prev) of its
    *     bigrams, summed under the exact-decimal policy (OracleSafe) so
    *     the mean is order-independent and hash-exact on any cluster.
    * High rare_frac / low avg_p ⇒ improbable text under the corpus LM
    * (boilerplate salad, OCR noise) — the standard pretraining filter.
    * Documents with < 2 tokens have no bigrams and drop out (join
    * semantics; documented contract).
    *
    * Scale shape: the LM is a bigram-keyed aggregation (shuffles on the
    * 2-gram string); scoring re-joins docs' bigrams to the LM on the same
    * key; the per-doc rollup keys on doc id. Nothing collects, nothing is
    * n². */
  def lmDocScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, rareMax: Long = 2)
      : org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val bg = docs.select(col(idCol).as("doc_id"),
      explode(wordNgrams(toks, 2)).as("bigram"))
    val prevW = Window.partitionBy("prev")
    val lm = bg.groupBy("bigram").agg(count(lit(1)).as("pair_count"))
      .withColumn("prev", split(col("bigram"), " ").getItem(0))
      .withColumn("prev_count", sum(col("pair_count")).over(prevW))
      .select(col("bigram"), col("pair_count"),
        (col("pair_count").cast("double") / col("prev_count").cast("double"))
          .as("p"))
    bg.join(lm, "bigram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum((col("pair_count") <= rareMax).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("rare_frac"),
        (graft.queries.OracleSafe.moneySum(col("p"), 12) /
          count(lit(1))).as("avg_p"))
  }

  /** Boilerplate passage stripping (the removal step of CCNet/RefinedWeb
    * line-dedup, adapted to chunk granularity — the fixtures carry no
    * newlines, so the "line" unit is a fixed non-overlapping token
    * window). dd12 DETECTS repeated passages; this REWRITES the corpus:
    * any chunk appearing in more than `maxDocFreq` distinct documents
    * (navigation chrome, license footers, scraped templates) is removed
    * and each document's remaining chunks are re-joined in order.
    * Documents that were pure boilerplate come back with empty text —
    * kept (not dropped) so the caller decides their fate.
    *
    * Output: `(doc_id, clean_text, n_chunks, n_kept)`.
    *
    * Scale shape: chunking is scan-local and runs ONCE; doc-frequency
    * keys on the 32-byte chunk md5 with BOTH window functions sharing
    * the one (chunk_md5) clustering (round-18 adoption — the retired
    * two-window form below paid a second full-data exchange+sort for
    * its (md5, doc) marker clustering; gated A/B: 1.03–1.13× at
    * ×1/×10/×30, exchange census 4→3, sorts 3→2): a lag-based doc-run
    * boundary marker under (doc_id nulls-first, chunk_idx) ordering is
    * 1 exactly where a non-null doc's run begins, so the partition sum
    * IS the distinct-non-null-doc count, with counter-only window state
    * (a collect_set window would buffer every doc id of a universal
    * boilerplate chunk on one row; the doc-frequency-table-joined-back
    * alternative re-chunks the corpus for the join's second scan) —
    * never pairwise; the rebuild keys on doc_id with an order-stable
    * array_sort re-join, not a window. Bit-equivalence vs the retired
    * form pinned in TextAnalysisSpec on dup-within-doc / cross-doc /
    * null-doc / pure-boilerplate shapes. */
  def stripBoilerplateChunks(
      docs: org.apache.spark.sql.DataFrame,
      id: Column, text: Column,
      chunkSize: Int, maxDocFreq: Long): org.apache.spark.sql.DataFrame =
    stripBoilerplateChunksImpl(docs, id, text, chunkSize, maxDocFreq,
      sortedFieldVals)

  /** [[stripBoilerplateChunks]] with the retired declarative rebuild
    * projection — the A/B baseline isolating the round-21 native
    * struct_field_values swap (window shape identical). */
  private[graft] def stripBoilerplateChunksRebuildHof(
      docs: org.apache.spark.sql.DataFrame,
      id: Column, text: Column,
      chunkSize: Int, maxDocFreq: Long): org.apache.spark.sql.DataFrame =
    stripBoilerplateChunksImpl(docs, id, text, chunkSize, maxDocFreq,
      sortedFieldValsDeclarative)

  private def stripBoilerplateChunksImpl(
      docs: org.apache.spark.sql.DataFrame,
      id: Column, text: Column,
      chunkSize: Int, maxDocFreq: Long,
      extract: (Column, String) => Column): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val chunks = chunked(docs, id, text, chunkSize)
    val wOrdered = Window.partitionBy(col("chunk_md5"))
      .orderBy(col("doc_id").asc_nulls_first, col("chunk_idx").asc)
    val wChunk = Window.partitionBy(col("chunk_md5"))
    val prevDoc = lag(col("doc_id"), 1).over(wOrdered)
    // run-boundary marker: 1 at the first row of each non-null doc_id's
    // run (partition head, or previous row's doc differs / was null —
    // nulls sort first, so a null prev means this non-null doc is still
    // its own first occurrence). Mirrors count_distinct's null handling:
    // a null doc id never counts toward chunk_df.
    val first = when(col("doc_id").isNotNull &&
      (prevDoc.isNull || prevDoc =!= col("doc_id")), 1L).otherwise(0L)
    rebuild(docs, id, maxDocFreq,
      chunks.withColumn("_first", first)
        .withColumn("chunk_df", sum(col("_first")).over(wChunk)),
      extract)
  }

  /** The retired pre-round-18 ta14 form, kept re-runnable as the gated
    * A/B literal (the dd16 convention): first-occurrence marker via
    * row_number over (chunk_md5, doc_id), partition-total sum over
    * (chunk_md5) — two DIFFERENT window clusterings, so the planner
    * inserts two full-data exchange+sort passes where the adopted form
    * needs one. Output bit-identical to [[stripBoilerplateChunks]]. */
  private[graft] def stripBoilerplateChunksTwoWindow(
      docs: org.apache.spark.sql.DataFrame,
      id: Column, text: Column,
      chunkSize: Int, maxDocFreq: Long): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val chunks = chunked(docs, id, text, chunkSize)
    val wDocMark = Window.partitionBy(col("chunk_md5"), col("doc_id"))
      .orderBy(col("chunk_idx").asc)
    val wChunk = Window.partitionBy(col("chunk_md5"))
    val first = when(row_number().over(wDocMark) === 1 &&
      col("doc_id").isNotNull, 1L).otherwise(0L)
    rebuild(docs, id, maxDocFreq,
      chunks.withColumn("_first", first)
        .withColumn("chunk_df", sum(col("_first")).over(wChunk)))
  }

  /** Shared ta14 chunking prelude: scan-local token windows + md5. */
  private def chunked(docs: org.apache.spark.sql.DataFrame,
      id: Column, text: Column, chunkSize: Int)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(id.as("doc_id"), split(text, " ").as("toks"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          ((size(col("toks")) - 1) / lit(chunkSize)).cast("int"))))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_idx") * chunkSize + 1, lit(chunkSize)))
          .as("chunk_text"))
      .withColumn("chunk_md5", md5(col("chunk_text")))

  /** Sorted reassembly of the collect_list(struct(ord, payload))
    * rebuilds — native since round 21: `sort_array` (JVM ordering, no
    * per-comparison lambda) + the codegen'd `struct_field_values`
    * projection replace `array_sort` (a CodegenFallback HOF whose
    * DEFAULT comparator still evaluates an interpreted lambda per
    * comparison — n·log n interpreted calls per doc) + the interpreted
    * `transform(getField)` (one more per element). Equivalent because
    * the collected arrays are null-free (collect_list skips nulls and
    * the struct children are non-null expressions): sort_array
    * (nulls-first) and array_sort (nulls-last) order null-free arrays
    * identically, struct natural ordering both ways. Full-output
    * equality vs the retired form pinned in TextAnalysisSpec. */
  private def sortedFieldVals(arr: Column, name: String): Column =
    graft.functions.StructArrays.struct_field_values(sort_array(arr), name)

  /** The retired declarative form of [[sortedFieldVals]] — the A/B
    * baseline and equality anchor for the native reassembly. */
  private[graft] def sortedFieldValsDeclarative(
      arr: Column, name: String): Column =
    transform(array_sort(arr), x => x.getField(name))

  /** Pure projection twin of [[graft.functions.StructArrays
    * .struct_field_values]] (no sort) — the semantics anchor for the
    * expression itself, null elements included (TextAnalysisSpec). */
  private[graft] def fieldValsDeclarative(arr: Column, name: String): Column =
    transform(arr, x => x.getField(name))

  /** Shared ta14 rebuild: drop over-frequent chunks, re-join in order,
    * restore pure-boilerplate/empty docs via the left join. */
  private def rebuild(docs: org.apache.spark.sql.DataFrame, id: Column,
      maxDocFreq: Long, marked: org.apache.spark.sql.DataFrame,
      extract: (Column, String) => Column = sortedFieldVals)
      : org.apache.spark.sql.DataFrame = {
    val rebuilt = marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count_if(col("chunk_df") <= maxDocFreq).as("n_kept"),
        concat_ws(" ", extract(
          collect_list(when(col("chunk_df") <= maxDocFreq,
            struct(col("chunk_idx"), col("chunk_text")))),
          "chunk_text")).as("clean_text"))
    docs.select(id.as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** PII redaction: email addresses and NANP-style phone numbers replaced
    * with `[EMAIL]` / `[PHONE]` placeholder tokens — the standard scrub
    * pass before a corpus feeds a training run. Pure regexp_replace column
    * expressions (codegen'd, scan-local, zero shuffle): at 100 TB this
    * runs at parquet-scan speed like every other ta* operator. The
    * patterns use portable regex (character classes + bounded repeats
    * only), so the exact same pattern text runs on the oracle engine. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  /** Gopher-style quality-rule table (Rae et al. 2021 §A1.1): one row per
    * document with each rule's metric, its boolean verdict, and the
    * conjunction. Unlike [[qualityScore]]'s soft composite, this is the
    * auditable hard-filter form production corpus pipelines ship — a
    * rejected doc names the rule that killed it. All metrics are exact
    * integer counts or single divisions of them (bit-identical
    * cross-engine); scan-local column expressions, zero shuffle.
    *
    * Rules (thresholds per the paper, bullet/ellipsis rules replaced by an
    * alphabetic-word rule — the fixtures have no line structure):
    * word count in [`minWords`, 100000]; mean word length in [3, 10];
    * symbol-to-word ratio ≤ 0.1; alphabetic-word fraction ≥ 0.8;
    * ≥ 2 distinct Gopher stopwords present.
    *
    * Constant-factor pass (round 17 — this is the 100 TB text-filtering
    * workhorse, ~190 µs/doc at the ×100 point before it): stop-hits
    * run ONE `array_intersect` hash-probe pass over the tokens (the
    * old form — 8 interpreted `array_contains` lambda scans, one per
    * stopword — was the single costliest metric, ~4× this one,
    * measured in the gated ta16 A/B rows); the symbol count uses
    * `regexp_count` of the negated class instead of building a
    * stripped copy of the document just to take its length (~25%
    * off that metric). Both produce bit-identical values (distinct
    * stopwords present; count of non-[a-z0-9 ] chars), pinned by
    * TextAnalysisSpec and the unchanged DuckDB oracle text. The
    * alpha-word HOF filter measured a wash against a lookaround
    * regexp and is KEPT (the dd16 rule). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(text: Column, minWords: Int = 50): Seq[Column] = {
    val toks = split(text, " ")
    val nWords = size(toks)
    // total chars minus the (nWords-1) separating spaces, over words
    val meanWordLen =
      (length(text) - (nWords - lit(1))).cast("double") / nWords.cast("double")
    val symbolRatio =
      regexp_count(text, lit("[^a-z0-9 ]")).cast("double") /
        nWords.cast("double")
    val alphaFrac =
      size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") /
        nWords.cast("double")
    // distinct stopwords present: one hash-probe intersect pass
    val stopHits = size(array_intersect(toks, typedLit(gopherStopwords)))
    val wordsOk = nWords >= minWords && nWords <= 100000
    val lenOk = meanWordLen >= 3.0 && meanWordLen <= 10.0
    val symOk = symbolRatio <= 0.1
    val alphaOk = alphaFrac >= 0.8
    val stopOk = stopHits >= 2
    Seq(
      nWords.as("n_words"), meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
      stopHits.as("stopword_hits"),
      wordsOk.as("words_ok"), lenOk.as("len_ok"), symOk.as("symbol_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wordsOk && lenOk && symOk && alphaOk && stopOk).as("pass"))
  }

  /** Unicode script profile: per-script character counts (Latin, digit,
    * CJK, Cyrillic) and the dominant script — the routing signal a
    * multilingual pipeline applies BEFORE tokenizer/language-id choice
    * (ta1's stopword langid only separates Latin languages; a CJK page
    * needs a different tokenizer entirely, and mixed-script text is a
    * spam/obfuscation smell). Pure counting expressions — scan-local,
    * exact integers; dominance ties break latin > cjk > cyrillic >
    * digit, mirrored in the oracle CASE. */
  def scriptCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit("[A-Za-z]")).cast("long").as("n_latin"),
    regexp_count(text, lit("[0-9]")).cast("long").as("n_digit"),
    regexp_count(text, lit("[\\u4e00-\\u9fff]")).cast("long").as("n_cjk"),
    regexp_count(text, lit("[\\u0400-\\u04ff]")).cast("long")
      .as("n_cyrillic"))

  def dominantScript(
      latin: Column, digit: Column, cjk: Column, cyr: Column): Column =
    when(latin >= cjk && latin >= cyr && latin >= digit, lit("latin"))
      .when(cjk >= cyr && cjk >= digit, lit("cjk"))
      .when(cyr >= digit, lit("cyrillic"))
      .otherwise(lit("digit"))

  /** Intra-document sentence dedup — the within-doc form of C4's
    * repeated-line removal (Raffel et al. 2020 dedup "three-sentence
    * spans"; boilerplate sentences repeat INSIDE crawled pages too):
    * split on terminal punctuation, keep each distinct sentence's FIRST
    * occurrence, reassemble in original order. Returns (doc_id,
    * n_sentences, n_kept, clean_text).
    *
    * Scale shape: one explode, then a single two-level keyed rollup —
    * (doc, sentence) partial-aggregates map-side into first-index +
    * occurrence count, and the doc-level pass derives n_sentences
    * (Σ counts), n_kept, and the reassembly in the same aggregate, so
    * nothing re-reads the exploded frame (the earlier window + stats
    * branch + join shuffled it three times for the same answer); state
    * is a single document's sentences, never corpus-global (the
    * CROSS-doc form is `Dedup.repeatedChunkStats`), and
    * `array_sort(struct(idx, …))` makes the reassembly order
    * deterministic under any shuffle. */
  def dedupSentences(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column)
      : org.apache.spark.sql.DataFrame =
    dedupSentencesImpl(docs, id, text, sortedFieldVals)

  /** [[dedupSentences]] with the retired declarative rebuild projection —
    * the A/B baseline isolating the round-21 native struct_field_values
    * swap (aggregation shape identical). */
  private[graft] def dedupSentencesRebuildHof(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column)
      : org.apache.spark.sql.DataFrame =
    dedupSentencesImpl(docs, id, text, sortedFieldValsDeclarative)

  private def dedupSentencesImpl(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      extract: (Column, String) => Column)
      : org.apache.spark.sql.DataFrame = {
    val sents = docs
      .select(id.as("d_id"),
        posexplode(split(text, "[.!?]+\\s*")).as(Seq("idx", "sent")))
      .withColumn("sent", trim(col("sent")))
      .filter(length(col("sent")) > 0)
    sents
      // null doc ids are excluded explicitly (the join-back form dropped
      // them because null never equi-matches; a bare rollup would emit a
      // phantom null-doc row)
      .filter(col("d_id").isNotNull)
      .groupBy(col("d_id"), col("sent"))
      .agg(min(col("idx")).as("idx"), count(lit(1)).as("cnt"))
      .groupBy(col("d_id"))
      .agg(sum(col("cnt")).as("n_sentences"),
        count(lit(1)).as("n_kept"),
        array_join(
          extract(
            collect_list(struct(col("idx"), col("sent"))),
            "sent"),
          ". ").as("clean_text"))
      .withColumnRenamed("d_id", "doc_id")
  }

  /** Per-document character-repertoire diversity — the gibberish /
    * encoded-blob / run-spam detector: natural language shows ~12–18
    * "effective characters", base64 near its alphabet size, `aaaa…` runs
    * near 1. Cheap enough to run scan-side before any model-based
    * quality pass. Emits:
    *  - `simpson`: 1 − Σp² (probability two sampled chars differ),
    *  - `effective_chars`: N²/Σn² (Hill number of order 2 — the
    *    diversity in "equally-common character" units),
    *  - `entropy_bits`: Shannon H via a char-sorted deterministic fold.
    *
    * Exactness: Σn² is an exact integer, so `simpson`/`effective_chars`
    * are single divisions of exact integers — hash-exact by
    * construction. Shannon needs one transcendental PER CHARACTER, and
    * JVM `Math.log` disagrees with a C runtime's by 1 ulp on ~1 in 3·10⁴
    * arguments (measured here), so across-engine hash-exactness is
    * structurally impossible for it — the oracle query checks the
    * rational columns and the spec pins Shannon on hand fixtures; the
    * Hill-2 column is the cross-engine-reproducible stand-in (same
    * detector, log-free units). Scale shape: chars explode scan-locally,
    * one (doc, char) count, one per-doc reassembly — alphabet-bounded
    * state per doc, all keyed. */
  def charDiversity(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column)
      : org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(id.as("doc_id"), explode(split(text, "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
    counts.groupBy("doc_id")
      .agg(sum("n").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * col("n")).as("_sum_sq"),
        array_sort(collect_list(struct(col("ch"), col("n")))).as("_cs"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (lit(1.0) - col("_sum_sq").cast("double") /
          (col("n_chars") * col("n_chars")).cast("double")).as("simpson"),
        ((col("n_chars") * col("n_chars")).cast("double") /
          col("_sum_sq").cast("double")).as("effective_chars"),
        (-aggregate(col("_cs"), lit(0.0),
          (acc, x) => acc +
            (x.getField("n") / col("n_chars")) *
              (log(x.getField("n") / col("n_chars")) / log(lit(2.0)))))
          .as("entropy_bits"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's DISTINCT word
    * n-grams that appear in no other document — the doc-level
    * "how much of this is boilerplate seen elsewhere" score. Complements
    * the pairwise operators (`Dedup.containmentPairs` says WHO you
    * overlap with; this says HOW MUCH of you is original at all), and a
    * `novelty ≈ 0` filter is the cheap pre-pass that drops mirror/
    * template sludge before any pairwise machinery runs.
    *
    * Scale shape: grams are per-doc DISTINCT (array_distinct before the
    * explode), so the corpus-wide document frequency of a gram is a
    * whole-partition count window over the gram — ONE gram-keyed
    * shuffle of a frame built in ONE corpus scan (the
    * document-frequency-table-joined-back alternative re-tokenizes the
    * corpus for the join's second scan), then a doc-keyed rollup.
    * Never pairwise, never a global window. All-integer counts → one
    * division → oracle hash-exact. Docs shorter than n words have no
    * grams and are absent (nothing to judge). */
  def ngramNovelty(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      n: Int): org.apache.spark.sql.DataFrame = {
    // round 21 (the dd26/dd28 pattern): the document-frequency count
    // keys on xxhash64(gram), dropping the gram string scan-side — the
    // one corpus-sized exchange ships (doc_id, 8-byte key) and the
    // window sorts longs. A 64-bit collision between distinct grams
    // could only mark a unique gram as shared (novelty one notch low
    // for one doc) and would fail ta20's string-gram DuckDB dual
    // loudly. String-keyed twin pinned equal in TextAnalysisSpec.
    val grams = docs.select(id.as("doc_id"),
        explode(array_distinct(wordNgrams(split(text, " "), n))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gkey"))
    grams
      .withColumn("_df",
        count(lit(1)).over(Window.partitionBy(col("gkey"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") > 1L, 1L).otherwise(0L)).as("shared_grams"))
      .select(col("doc_id"), col("n_grams"), col("shared_grams"),
        ((col("n_grams") - col("shared_grams")).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** The retired string-keyed form of [[ngramNovelty]] — the A/B
    * baseline and equality anchor for the hashed count key. */
  private[graft] def ngramNoveltyStringKeyed(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      n: Int): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(id.as("doc_id"),
      explode(array_distinct(wordNgrams(split(text, " "), n))).as("gram"))
    grams
      .withColumn("_df",
        count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") > 1L, 1L).otherwise(0L)).as("shared_grams"))
      .select(col("doc_id"), col("n_grams"), col("shared_grams"),
        ((col("n_grams") - col("shared_grams")).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** fastText-style hashed-feature linear classifier INFERENCE — the
    * shape under "score every document with a quality classifier", the
    * filtering step the GPT-3 / LLaMA data pipelines ran over their whole
    * crawl (Brown et al. 2020 §A; Touvron et al. 2023 §2). Features are
    * unigrams + bigrams hashed into `dim` buckets (the hashing trick —
    * no vocabulary object at all); here the weight for bucket b is a
    * deterministic pseudo-weight ((b·2654435761) mod 1000003)/1000003 − ½
    * standing in for trained parameters, so results are reproducible
    * without shipping a model file. Swapping in real weights means
    * swapping this one scalar expression for an `element_at` into a
    * broadcast array literal — the plan shape does not change.
    *
    * The entire score is ONE scan-local codegen'd expression chain
    * (split → transform → xxhash64 → aggregate-fold → sigmoid): no UDF,
    * no shuffle, no model state. At 100 TB this runs at full scan
    * throughput on every executor — exactly why the hashing trick is the
    * industry default for corpus-scale classifier filtering. */
  def hashedClassifierScore(text: Column, dim: Int = 1 << 20): Column = {
    val toks = split(lower(trim(text)), "[^\\p{L}\\p{Nd}]+")
    // round 21: the boundary-empty-token cleaner is the builtin
    // array_remove (codegen'd single pass) instead of the interpreted
    // filter(toks, length > 0) HOF — identical here because the split's
    // `+`-collapsed separator can only emit "" at the array edges and
    // split never emits null elements (the two forms' only divergence
    // class). Pinned vs [[hashedClassifierScoreFilterClean]] and the
    // full-HOF twin in TextAnalysisSpec.
    val clean = array_remove(toks, "")
    val feats = concat(clean, wordNgrams(clean, 2))
    // native codegen'd fold (round 21) — the aggregate(feats, 0.0,
    // (acc, f) => acc + weight(f)) HOF it replaces ran one interpreted
    // lambda per unigram+bigram per doc (the same CodegenFallback class
    // round 20's vec_sqdist killed); bit-identity vs the retired form
    // is pinned in TextAnalysisSpec and the ta22 oracle row
    val raw = graft.functions.Signatures.hashed_feat_weight_sum(
      feats, dim.toLong)
    val norm = raw / sqrt(greatest(size(feats), lit(1)).cast("double"))
    lit(1.0) / (lit(1.0) + exp(-norm * lit(4.0)))
  }

  /** [[hashedClassifierScore]] with the retired interpreted
    * filter(length > 0) token cleaner but the native fold — the A/B
    * baseline isolating the round-21 array_remove swap from the
    * round-21 native fold (A4). */
  private[graft] def hashedClassifierScoreFilterClean(
      text: Column, dim: Int = 1 << 20): Column = {
    val toks = split(lower(trim(text)), "[^\\p{L}\\p{Nd}]+")
    val clean = filter(toks, t => length(t) > 0)
    val feats = concat(clean, wordNgrams(clean, 2))
    val raw = graft.functions.Signatures.hashed_feat_weight_sum(
      feats, dim.toLong)
    val norm = raw / sqrt(greatest(size(feats), lit(1)).cast("double"))
    lit(1.0) / (lit(1.0) + exp(-norm * lit(4.0)))
  }

  /** The retired declarative form of [[hashedClassifierScore]] — kept
    * (q20/dd16/vec_dot convention) as the re-measurable A/B baseline and
    * the bit-equality oracle for the native fold. */
  private[graft] def hashedClassifierScoreDeclarative(
      text: Column, dim: Int = 1 << 20): Column = {
    val toks = split(lower(trim(text)), "[^\\p{L}\\p{Nd}]+")
    val clean = filter(toks, t => length(t) > 0)
    val feats = concat(clean, wordNgrams(clean, 2))
    val bucket = (f: Column) => pmod(xxhash64(f), lit(dim.toLong))
    val weight = (f: Column) =>
      pmod(bucket(f) * lit(2654435761L), lit(1000003L)).cast("double") /
        lit(1000003.0) - lit(0.5)
    val raw = aggregate(feats, lit(0.0), (acc, f) => acc + weight(f))
    val norm = raw / sqrt(greatest(size(feats), lit(1)).cast("double"))
    lit(1.0) / (lit(1.0) + exp(-norm * lit(4.0)))
  }

  /** CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3:
    * terciles of LM score; head = most target-like, tail = candidates
    * for dropping): bucket each doc by its [[unigramRarity]] score
    * against the corpus's exact tercile boundaries. LOW rarity = fluent,
    * common vocabulary → head.
    *
    * Scale shape: boundaries come from the exact percentile AGGREGATE
    * (one reduce to a single row — broadcast back; never an ntile/global
    * window, which would funnel the corpus through one task); the
    * bucketing itself is a scan-local comparison. At 100 TB swap the
    * exact percentile for approx_percentile (same plan shape) — the
    * boundary moves within the sketch error; the bucket rule is
    * unchanged. Tie-robust cross-engine: a boundary either equals a
    * tied score (interpolation between equal neighbors is exact) or
    * falls strictly between two distinct scores — both compare
    * identically everywhere. */
  def rarityBuckets(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val scored = unigramRarity(docs, idCol, textCol)
      .select("doc_id", "mean_inv_p")
    val bounds = scored.agg(
      expr("percentile(mean_inv_p, 0.3333333333333333)").as("q33"),
      expr("percentile(mean_inv_p, 0.6666666666666666)").as("q66"))
    scored.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("mean_inv_p"),
        when(col("mean_inv_p") <= col("q33"), lit("head"))
          .when(col("mean_inv_p") <= col("q66"), lit("middle"))
          .otherwise(lit("tail")).as("ccnet_bucket"))
  }

  /** Corpus-LM token-rarity scoring — the perplexity-proxy quality
    * filter (Wenzek et al. 2020 "CCNet" keep/drop documents by LM
    * perplexity; at corpus scale the unigram LM is its shuffle-cheap
    * first approximation). Per document: the arithmetic mean and max of
    * each token's INVERSE unigram probability N/c(tok) — the log-free
    * cousin of perplexity, which is the GEOMETRIC mean of the same
    * per-token inverse probabilities. The arithmetic form keeps every
    * per-token value an exact integer ratio (one correctly-rounded IEEE
    * division → bit-identical on any engine), where ln/exp are not
    * correctly-rounded-mandated and drift in the last ulp across libm
    * implementations (same reasoning as bm25Search's rational idf).
    *
    * Cross-engine-exact mean: per-token values are quantized scan-side
    * to integer micro-units — floor(x·1e6), multiply and floor both
    * deterministic IEEE ops on identical inputs — and summed as BIGINT:
    * an exact, order-independent sum. (Double summation is
    * partition-order-dependent, and decimal casts of arbitrary doubles
    * round DIFFERENTLY across engines: Spark half-up on the shortest
    * repr, DuckDB truncation of x·10^scale — the OracleSafe decimal
    * trick is only safe for decimal-origin money values.)
    *
    * Scale shape: one token-keyed shuffle builds the count table
    * (vocab-sized, a reusable per-corpus-snapshot artifact at 100 TB),
    * the corpus total broadcasts as one row, the token→count join is
    * the only fan-in, and the final agg is keyed on doc_id. */
  def unigramRarity(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    val invP = col("n_total").cast("double") / col("c").cast("double")
    toks.join(counts, "token")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), invP.as("inv_p"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(floor(col("inv_p") * lit(1e6))).as("sum_inv_p_micro"),
        max(col("inv_p")).as("max_inv_p"))
      .withColumn("mean_inv_p",
        col("sum_inv_p_micro").cast("double") / lit(1e6) /
          col("n_tokens").cast("double"))
  }

  /** Per-group lexical diversity — the corpus-health audit behind "is
    * this source templated boilerplate or real language": token count,
    * vocabulary size (types), type-token ratio, and hapax fraction
    * (share of the vocabulary occurring exactly once — collapses toward
    * 0 on templated/duplicated text, sits near ~0.4–0.6 for natural
    * prose per Zipf). All exact long counts + single closing divisions.
    * One shuffle on (group, token) with map-side combine — per-partition
    * state is the distinct (group, token) set, the same cardinality
    * discipline as the inverted index (ta8); a second tiny agg on group. */
  def lexicalDiversity(
      docs: DataFrame, text: Column, groupCol: Column): DataFrame =
    docs.select(groupCol.as("grp"), explode(tokens(text)).as("token"))
      .groupBy("grp", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("grp")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("grp"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_fraction"))

  /** Zipf power-law fit — THE one-number corpus-health check: OLS slope
    * of ln(freq) on ln(rank) over the `topN` most frequent tokens.
    * Natural language sits near −1 (Zipf's law); templated/duplicated
    * corpora flatten toward 0 at the head, OCR noise / tokenizer damage
    * steepen the tail — so a drift in this slope round-over-round is an
    * ingest regression alarm that costs one scan.
    *
    * Exactness: x/y and their products are per-row doubles (identical
    * in any engine given the same integer rank/freq inputs); the four
    * OLS sums go through DECIMAL(18,9) quantization so the reduction is
    * order-independent — the ss17/kmeans discipline, which is what makes
    * a distributed sum hash-comparable to a sequential oracle.
    *
    * Scale shape: one (token)-keyed shuffle with map-side combine, then
    * a bounded TakeOrderedAndProject for the top-`topN`; the rank window
    * and OLS run on `topN` rows (bounded — the one intentional
    * single-partition stage, on ≤ topN rows by construction). */
  def zipfSlope(docs: DataFrame, text: Column, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN must be >= 2 for a slope, got $topN")
    import graft.queries.OracleSafe.dec
    val freqs = docs.select(explode(tokens(text)).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(topN)
    val ranked = freqs.withColumn("rank",
      row_number().over(
        Window.orderBy(col("freq").desc, col("token").asc)).cast("long"))
    val terms = ranked.select(
      log(col("rank").cast("double")).as("x"),
      log(col("freq").cast("double")).as("y"))
    val s = terms.agg(
      count(lit(1)).cast("double").as("n"),
      sum(dec(col("x"), 9)).cast("double").as("sx"),
      sum(dec(col("y"), 9)).cast("double").as("sy"),
      sum(dec(col("x") * col("y"), 9)).cast("double").as("sxy"),
      sum(dec(col("x") * col("x"), 9)).cast("double").as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(
      col("n").cast("long").as("n_ranked"),
      slope.as("zipf_slope"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }
}
