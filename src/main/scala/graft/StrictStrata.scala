package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** ×30 strict-oracle coverage for the sorted-neighborhood family via a
  * STRATIFIED SORT-KEY SAMPLE (round-21, r20 verdict item 6). The full
  * dd16/dd28 DuckDB dual is >60 min CPU-bound at ×30 (STRICT_X30's
  * exclusion note): its cost is the per-pair gram list_intersect over
  * 150k docs. This harness restores above-×10 strict coverage by
  * running BOTH sides on the same deterministic sample of the ×30
  * corpus:
  *
  *  - Strata are CONTIGUOUS bands of the operator's own sort key
  *    (substr(normalized_text, 1, 12)): every doc whose key starts with
  *    a character in ['0'..'9'], ['a'..'e'], or ['m'..'q']. Contiguity
  *    matters — within a band the sorted order, hence the window-w
  *    successor pairs, match the full corpus exactly (only pairs that
  *    straddle a band edge differ, and they differ identically on both
  *    engines); a scattered (hashed) sample would instead manufacture
  *    artificial neighbor pairs that never occur in the real corpus.
  *  - The sampled documents.parquet is the ONLY table in the sample
  *    dir; dd16/dd28 read nothing else, and Verify's truth-table
  *    regeneration (heap-bounded at ×30) is bypassed by dumping the two
  *    catalog functions directly.
  *  - `tools/oracle_check_strict.py <out> <sampleDir> dd16... dd28...`
  *    then replays the UNCHANGED catalog oracle SQL against the sample
  *    — the driver-grade strict comparison, at a corpus ~6× the sf0.1
  *    fixture drawn from the ×30 replica's data distribution.
  *
  * Run: `sbt "runMain graft.StrictStrata [x30dir] [sampleDir] [outDir]"`.
  */
object StrictStrata {
  def main(args: Array[String]): Unit = {
    val x30 = args.headOption.getOrElse("/tmp/graft_scale/x30")
    val sampleDir = if (args.length > 1) args(1)
      else "/tmp/graft_scale/x30strata"
    val outDir = if (args.length > 2) args(2) else "/tmp/strict_x30strata"
    val spark = Bench.session("graft-strict-strata")

    val docs = spark.read.parquet(s"$x30/documents.parquet")
    val firstChar = substring(
      regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 1)
    val sampled = docs.filter(
      firstChar.between("0", "9") || firstChar.between("a", "e") ||
        firstChar.between("m", "q"))
    sampled.coalesce(4).write.mode("overwrite")
      .parquet(s"$sampleDir/documents.parquet")
    val total = docs.count(); val n = spark.read
      .parquet(s"$sampleDir/documents.parquet").count()
    System.err.println(
      s"[strata] sampled $n of $total x30 docs (${"%.1f".format(
        100.0 * n / total)}%) into $sampleDir")

    new java.io.File(outDir).mkdirs()
    val names = Seq("dd16_sorted_neighborhood",
      "dd28_sorted_neighborhood_hashed")
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sampleDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      System.err.println(f"[strata] dumped $name in ${
        (System.nanoTime() - t0) / 1e9}%.1f s")
      graft.ops.Pipeline.releaseCaches()
    }
    val json = names.map(k =>
        s"${Verify.jsonString(k)}: ${Verify.jsonString(SparkEntry.oracleSql(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[strata] wrote $outDir/oracle_sql.json — now run:" +
      s"\n  python3 tools/oracle_check_strict.py $outDir $sampleDir " +
      names.mkString(" "))
    spark.stop()
  }
}
