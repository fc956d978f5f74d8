package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.sources.Tables

/** Optimization probe harness (rounds 20–21): same-session A/B of
  * code-shape rewrites over the catalog queries they could move, under
  * the Bench timing discipline (warmup, interleaved order-alternated
  * reps, min reported, GC delta per rep). Same-session interleaving is
  * the house method for A/B decisions — cross-capture ratios are
  * confounded by machine-hour drift (SCALE.md drift watch). (The round-20
  * runtime-conf A/B — AQE SortMergeJoin → ShuffledHashJoin conversion —
  * was settled as a no-op, final adaptive plans byte-identical, and
  * retired; its numbers are in OPTPROBE_r20.json.)
  *
  * Rewrite cases select via SPARK_GRAFT_OPTPROBE_CASES (comma list of
  * labels, default = the round-21 set; the round-20 cases remain
  * defined and selectable so their numbers stay reproducible).
  *
  * Run: `sbt "runMain graft.OptProbe <sfDir>"`. Output: one JSON line
  * per case with min/reps, written to
  * SPARK_GRAFT_OPTPROBE_OUT (default /tmp/optprobe.json) and echoed to
  * stdout.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Bench.session("graft-optprobe")
    Tables.tpch.foreach { t => Tables.load(spark, sfDir, t).cache().count() }
    val reps = sys.env.get("SPARK_GRAFT_OPTPROBE_REPS").map(_.toInt).getOrElse(3)

    // Rewrite probes: code-shape A/Bs (label -> the two plan builders),
    // timed under the same discipline. dd26: the corpus-wide gram
    // occurrence count as a window over hashpartitioning(gram) + string
    // sort (incumbent, 1 exchange always) vs groupBy(gram).count>1 +
    // left-semi join back (partial map-side agg, no sort; AQE broadcasts
    // the dup-gram set when small, degrades to a second gram exchange
    // when not — data-dependent at scale).
    import org.apache.spark.sql.functions._
    def dd26SemiForm(s: SparkSession, d: String): DataFrame = {
      val k = 5
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(1), size(col("toks")) - (k - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(k)))))
          .as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("gram"))
      val dup = grams.groupBy("gram").agg(count(lit(1)).as("_n"))
        .filter(col("_n") > 1L).select("gram")
      val hits = grams.join(dup, Seq("gram"), "left_semi")
        .select(col("doc_id"), col("pos").as("s"),
          (col("pos") + (k - 1)).cast("long").as("e"))
      import org.apache.spark.sql.expressions.Window
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
        .orderBy("doc_id", "span_start")
    }
    // PQ-encoder shape (the ss20_train hot loop): per corpus row, argmin
    // over codebookSize sub-vector distances in each of m subspaces —
    // m·cb distance folds per row. Times the round-20 native vec_sqdist
    // against the retired interpreted aggregate(zip_with) fold on
    // identical plans (both forms bit-identical by SimilaritySpec).
    def pqCodeShape(dist: (Column, Column) => Column): DataFrame = {
      val m = 8; val sub = 8; val cb = 32
      def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)
      val books: Seq[Seq[Seq[Double]]] = Seq.tabulate(m)(j =>
        Seq.tabulate(cb)(c => Seq.tabulate(sub)(dd =>
          ((j * 31 + c * 17 + dd * 7) % 100).toDouble / 50.0 - 1.0)))
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("vec"))
      def codeExpr(j: Int): Column = {
        val dists = array(books(j).map(c =>
          dist(slice(col("vec"), j * sub + 1, sub), litVec(c))): _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
      emb.select(
        col("vec_id") +: (0 until m).map(j => codeExpr(j).as(s"_c$j")): _*)
    }
    // dd26 with the RETIRED interpreted gram builder (the pre-round-20
    // transform/sequence/slice HOF) but the incumbent window shape —
    // isolates the native word_ngrams swap from everything else.
    def dd26RetiredGrams(s: SparkSession, d: String): DataFrame = {
      val k = 5
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(1), size(col("toks")) - (k - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(k)))))
          .as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
          col("gram"))
      import org.apache.spark.sql.expressions.Window
      val hits = grams
        .withColumn("_n",
          count(lit(1)).over(Window.partitionBy(col("gram"))))
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
        .orderBy("doc_id", "span_start")
    }
    // ---- round-21 rewrite shapes -------------------------------------
    // dd26 with the retired STRING count key but today's native gram
    // builder — isolates the r21 hashed-key swap (the catalog form now
    // keys the occurrence count on xxhash64(gram)) from the r20 swaps.
    def dd26StringKey(s: SparkSession, d: String): DataFrame =
      graft.ops.Dedup.duplicateSpansStringKeyed(
          Tables.documents(s, d), col("doc_id"), col("text"), 5)
        .orderBy("doc_id", "span_start")
    // ta22 with the retired interpreted aggregate fold vs the native
    // hashed_feat_weight_sum (catalog form since r21) — same plan
    // otherwise (scan + orderBy).
    def ta22Declarative(s: SparkSession, d: String): DataFrame =
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          graft.ops.TextAnalysis.hashedClassifierScoreDeclarative(
            col("text")).as("score"))
        .withColumn("accepted", col("score") >= lit(0.5))
        .orderBy("doc_id")
    // asDouble isolated shape: the embeddings scan amplified ×200 via a
    // scan-local explode (synthetic amplification — the fixture table is
    // ~5k rows and the cast alone would sit under timer noise; the
    // explode multiplies CAST EVALUATIONS, not input bytes, and both
    // forms run the identical amplified plan). Noop-forced, so every
    // array element materializes.
    def asDoubleShape(cast: Column => Column): DataFrame =
      Tables.embeddings(spark, sfDir)
        .withColumn("_r", explode(array_repeat(lit(1), 200)))
        .select(col("vec_id"), col("_r"), cast(col("embedding")).as("vec"))
    // dd12 / ta20 with the retired STRING count keys (round-21 applied
    // the dd26 hashed-key pattern to the whole count-window family)
    def dd12StringKey(s: SparkSession, d: String): DataFrame =
      graft.ops.Dedup.repeatedChunkStatsStringKeyed(
          Tables.documents(s, d), col("doc_id"), col("text"), 16)
        .orderBy("doc_id")
    def ta20StringKey(s: SparkSession, d: String): DataFrame =
      graft.ops.TextAnalysis.ngramNoveltyStringKeyed(
          Tables.documents(s, d), col("doc_id"), col("text"), 3)
        .orderBy("doc_id")
    // ta2 with the retired declarative markerHits (size(filter(isin)))
    // in both stopwordRatio evaluation sites vs the native
    // marker_hit_count (catalog form since r21)
    def ta2Declarative(s: SparkSession, d: String): DataFrame = {
      import graft.ops.TextAnalysis._
      def swr(text: Column): Column = {
        val toks = tokens(text)
        markerHitsDeclarative(toks, langMarkers.head._2).cast("double") /
          greatest(size(toks), lit(1)).cast("double")
      }
      val lengthCredit =
        least(wsTokenCount(col("text")).cast("double") / 100.0, lit(1.0))
      val cleanCredit = lit(1.0) - punctRatio(col("text"))
      val naturalCredit = least(swr(col("text")) * 5.0, lit(1.0))
      Tables.documents(s, d)
        .select(col("doc_id"),
          wsTokenCount(col("text")).as("n_tokens"),
          punctRatio(col("text")).as("punct_ratio"),
          swr(col("text")).as("stopword_ratio"),
          (lengthCredit * 0.4 + cleanCredit * 0.3 + naturalCredit * 0.3)
            .as("quality"))
        .orderBy("doc_id")
    }
    // ta14 / ta18 with the retired declarative rebuild projection
    // (transform(arr, getField)) vs the native struct_field_values —
    // identical window/aggregation shapes, the swap isolated.
    def ta14Hof(s: SparkSession, d: String): DataFrame =
      graft.ops.TextAnalysis.stripBoilerplateChunksRebuildHof(
          Tables.documents(s, d), col("doc_id"), col("text"),
          chunkSize = 8, maxDocFreq = 1)
        .orderBy("doc_id")
    def ta18Hof(s: SparkSession, d: String): DataFrame =
      graft.ops.TextAnalysis.dedupSentencesRebuildHof(
          Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id")
    // ta22 with the retired interpreted filter(length > 0) token cleaner
    // but the native fold — isolates the round-21 array_remove swap
    // from A4's native fold.
    def ta22FilterClean(s: SparkSession, d: String): DataFrame =
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          graft.ops.TextAnalysis.hashedClassifierScoreFilterClean(
            col("text")).as("score"))
        .withColumn("accepted", col("score") >= lit(0.5))
        .orderBy("doc_id")
    val rewriteCases: Seq[(String, () => DataFrame)] = Seq(
      // round-21 second-pass cases (rebuild projection + token cleaner)
      "ta14_native" ->
        (() => SparkEntry.queries("ta14_boilerplate_strip")(spark, sfDir)),
      "ta14_hof" -> (() => ta14Hof(spark, sfDir)),
      "ta18_native" ->
        (() => SparkEntry.queries("ta18_sentence_dedup")(spark, sfDir)),
      "ta18_hof" -> (() => ta18Hof(spark, sfDir)),
      "ta22_arrayremove" ->
        (() => SparkEntry.queries("ta22_hashed_classifier")(spark, sfDir)),
      "ta22_filterclean" -> (() => ta22FilterClean(spark, sfDir)),
      // round-21 cases
      "ta2_native" ->
        (() => SparkEntry.queries("ta2_quality_score")(spark, sfDir)),
      "ta2_hof" -> (() => ta2Declarative(spark, sfDir)),
      "dd26_hashedkey" ->
        (() => SparkEntry.queries("dd26_dup_spans")(spark, sfDir)),
      "dd26_stringkey" -> (() => dd26StringKey(spark, sfDir)),
      "dd12_hashedkey" ->
        (() => SparkEntry.queries("dd12_repeated_chunks")(spark, sfDir)),
      "dd12_stringkey" -> (() => dd12StringKey(spark, sfDir)),
      "ta20_hashedkey" ->
        (() => SparkEntry.queries("ta20_ngram_novelty")(spark, sfDir)),
      "ta20_stringkey" -> (() => ta20StringKey(spark, sfDir)),
      "ta22_native" ->
        (() => SparkEntry.queries("ta22_hashed_classifier")(spark, sfDir)),
      "ta22_hof" -> (() => ta22Declarative(spark, sfDir)),
      "asdouble_native" ->
        (() => asDoubleShape(graft.ops.Similarity.asDouble)),
      "asdouble_hof" ->
        (() => asDoubleShape(graft.ops.Similarity.asDoubleDeclarative)),
      // round-20 cases (selectable via SPARK_GRAFT_OPTPROBE_CASES)
      "dd26_window" ->
        (() => SparkEntry.queries("dd26_dup_spans")(spark, sfDir)),
      "dd26_retired_grams" -> (() => dd26RetiredGrams(spark, sfDir)),
      "dd26_semi" -> (() => dd26SemiForm(spark, sfDir)),
      "pqcode_native" ->
        (() => pqCodeShape(graft.functions.Vectors.vec_sqdist)),
      "pqcode_hof" ->
        (() => pqCodeShape(graft.ops.Similarity.sqDistDeclarative)))
    val defaultCases = Seq("dd26_hashedkey", "dd26_stringkey",
      "ta22_native", "ta22_hof", "asdouble_native", "asdouble_hof")
    val selectedCases: Seq[(String, () => DataFrame)] = {
      val sel = sys.env.get("SPARK_GRAFT_OPTPROBE_CASES")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(defaultCases)
      sel.map(l => l -> rewriteCases.toMap.apply(l))
    }
    def runCase(f: () => DataFrame): (Double, Long) = {
      val gc0 = Bench.gcMillis(); val t0 = System.nanoTime()
      try {
        Force.run(f())
        ((System.nanoTime() - t0) / 1e9, Bench.gcMillis() - gc0)
      } finally graft.ops.Pipeline.releaseCaches() // r20 advice: also on throw
    }
    val caseAcc = collection.mutable.Map[String, Vector[(Double, Long)]]()
      .withDefaultValue(Vector.empty)
    selectedCases.foreach { case (_, f) => runCase(f) } // warmup
    // Case order ALTERNATES per rep (round-20 lesson: with a fixed
    // order, decaying host load reads as a systematic win for whichever
    // case runs second — the falsified shj "win" of probe run 1).
    (1 to reps).foreach { r =>
      val cs = if (r % 2 == 0) selectedCases.reverse else selectedCases
      cs.foreach { case (l, f) => caseAcc(l) :+= runCase(f) }
    }

    val sb = new StringBuilder
    for ((l, _) <- selectedCases; rs = caseAcc(l) if rs.nonEmpty) {
      val line = s"""{"case":"$l","min":${rs.map(_._1).min},""" +
        s""""reps":${rs.map(r => f"${r._1}%.4f").mkString("[", ",", "]")},""" +
        s""""gc_ms":${rs.map(_._2).mkString("[", ",", "]")}}"""
      println("[optprobe] " + line)
      sb.append(line).append('\n')
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_OPTPROBE_OUT", "/tmp/optprobe.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    spark.stop()
  }
}
