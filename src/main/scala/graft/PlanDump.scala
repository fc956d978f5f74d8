package graft

import graft.sources.Tables

/** Plan-capture harness for the optimization rounds: writes
  * `.explain("formatted")` output for a set of catalog queries to files,
  * so plan-shape claims (Exchange counts, join strategies, PushedFilters)
  * are reviewable without running Spark.
  *
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outDir> [query ...]"`.
  * With no explicit query list, dumps the three timed bench suites
  * (headline, tpch22, llm) — the surfaces the optimization rounds audit.
  * The session is Bench's own ([[Bench.session]]), so the dumped plans
  * are the plans the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r20"
    val spark = Bench.session("graft-plandump")
    Tables.tpch.foreach { t => Tables.load(spark, sfDir, t).cache().count() }

    val llmSuite = Seq(
      "dd1_exact_dedup", "dd3_minhash_dup_pairs", "dd12_repeated_chunks",
      "dd16_sorted_neighborhood", "ta2_quality_score", "ta16_gopher_rules",
      "ta14_boilerplate_strip", "ta18_sentence_dedup", "ss4_ivf_topk",
      "pl3_context_packing", "ev5_transition_matrix", "ev16_rolling_wau",
      "pl21_corpus_pipeline", "ev18_sessions", "dd22_bloom_ingest_gate",
      "mm7_scene_cuts", "pl26_shard_plan", "ta26_lexical_diversity",
      "ss18_mmr_topk", "dd24_semantic_decontamination",
      "ss19_rocchio_expand", "pl27_source_interleave", "dd25_ingest_pipeline",
      "dd26_dup_spans", "pl29_source_caps", "ev26_contribution_cap",
      "dd27_lsh_signal_agreement", "dd28_sorted_neighborhood_hashed",
      "ta22_hashed_classifier")
    val tpch = graft.queries.TpchQueries.queries.keys.toSeq
      .sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt)
    val targets: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else (Bench.headline ++ tpch ++ llmSuite).distinct

    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    // SPARK_GRAFT_PLAN_EXECUTED=1: Force.run the query FIRST so the dump
    // shows the FINAL adaptive plan (AQE's runtime rewrites — SMJ→SHJ
    // conversion, coalesced/skew reads — are invisible in the initial
    // plan an un-executed explain prints).
    val executed = sys.env.get("SPARK_GRAFT_PLAN_EXECUTED").contains("1")
    targets.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        if (executed) Force.run(df)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(dir.resolve(s"${q}_$suffix.txt"), txt)
        graft.ops.Pipeline.releaseCaches()
        println(s"[plandump] $q ok (${txt.count(_ == '\n')} lines)")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
