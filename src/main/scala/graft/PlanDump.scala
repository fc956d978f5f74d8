package graft

import graft.sources.Tables

/** Plan-capture harness for the optimization rounds: writes
  * `.explain("formatted")` output for a set of catalog queries to files,
  * so plan-shape claims (Exchange counts, join strategies, PushedFilters)
  * are reviewable without running Spark.
  *
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outDir> [query ...]"`.
  * Both directories are required, so a run never overwrites the
  * committed dumps under `plans/` by default. With no explicit query
  * list, dumps the three timed bench suites (headline, tpch22, llm) —
  * the surfaces the optimization rounds audit. Each query runs before
  * its dump, so the dump shows the FINAL adaptive plan (AQE's runtime
  * rewrites — SMJ→SHJ conversion, coalesced/skew reads — are invisible
  * in the initial plan an un-executed explain prints). The session is
  * Bench's own ([[Bench.session]]), so the dumped plans are the plans
  * the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Bench.session("graft-plandump")
    Tables.tpch.foreach { t => Tables.load(spark, sfDir, t).cache().count() }

    val tpch = graft.queries.TpchQueries.queries.keys.toSeq
      .sortBy(n => n.drop(1).takeWhile(_.isDigit).toInt)
    val targets: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else (Bench.headline ++ tpch ++ Bench.llm).distinct

    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    targets.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        Force.run(df)
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
