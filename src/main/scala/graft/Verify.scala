package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in oracle SQL would otherwise make a
    * consumer's json.load fail on the whole oracle_sql.json. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), onlyNames) = args.splitAt(2)
    val only = onlyNames.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // stale sentinels from a previous run into the same outDir must not
    // read as THIS run's failures
    val staleSentinels = new java.io.File(s"$outDir/_failed")
    if (staleSentinels.isDirectory) {
      staleSentinels.listFiles().foreach(_.delete())
      staleSentinels.delete()
    }
    // optional trailing args restrict the dump to named queries (dev loop);
    // the driver passes none and gets the full catalog. A name matching
    // nothing is a hard error — a misspelled dev-loop filter would
    // otherwise exit 0 with an empty outDir and read as "all green".
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
      s"catalog has ${SparkEntry.queries.size} entries")
    // Failed queries must be LOUD: the driver's compare silently drops
    // queries with no dump, so a crash could masquerade as "not graded".
    // Record each failure as a sentinel file and exit nonzero at the end.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        val sentinelDir = Paths.get(s"$outDir/_failed")
        Files.createDirectories(sentinelDir)
        Files.writeString(sentinelDir.resolve(s"$name.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
      // free any frames an operator pinned for this query — the write
      // above consumed them, and a full-catalog session must not
      // accumulate pinned cache entries
      graft.ops.Pipeline.releaseCaches()
    }
    // Multimodal ground truth: the mm2–mm6 oracle SQL reads expected
    // values (independent scalar reimplementation, MediaTruth) back from
    // parquet — regenerate them for this run's fixtures. A failure here
    // must be as loud as a query failure: without the truth tables the
    // mm oracles would error and read as a correctness regression.
    try graft.ops.MediaTruth.write(spark, sfDir, graft.ops.MediaTruth.defaultDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] media truth write failed: ${e.getMessage}")
      failed += "media_truth"
    }
    // Signature ground truth (dd2/dd3/dd4/dd8/dd9/dd21, ta5/ta22) — same
    // contract as the media truth above.
    try graft.ops.SignatureTruth.write(
      spark, sfDir, graft.ops.SignatureTruth.defaultDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] signature truth write failed: ${e.getMessage}")
      failed += "signature_truth"
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
