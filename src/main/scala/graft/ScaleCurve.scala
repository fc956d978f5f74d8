package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Measured scaling curve: the one evidence class the plan-shape asserts
  * can't supply (r10 verdict, ranked gap #2 — "every 100 TB claim rests on
  * plan-shape assertions but zero measured scaling curve").
  *
  * The shipped fixtures top out at sf0.1 (17 MB), so this main SYNTHESIZES
  * larger scale points by key-shifted replication of sf0.1 — the standard
  * dbgen trick of growing fact tables while holding per-key density fixed:
  *
  *  - `region`/`nation` stay fixed (TPC-H semantics: constant across SF);
  *  - every other table is cross-joined with a `copy` index and each
  *    surrogate key is shifted by `copy * (max(key)+1)`, shifting FOREIGN
  *    keys by the referenced table's offset so join fan-out, selectivity,
  *    and group cardinality-per-key are preserved exactly — rows scale
  *    ×F, per-row work stays constant, so a well-behaved operator should
  *    time ~×F (exponent ≈ 1 on a log-log fit);
  *  - `documents.text` is perturbed for copies > 0 (every 7th token gets a
  *    copy-tag suffix) so the near-dup detectors don't see every doc as an
  *    F-clique of exact duplicates — verbatim replication would inflate
  *    LSH candidate pairs ×F² BY CONSTRUCTION and the curve would measure
  *    the synthetic data, not the operator. With ~14% of tokens mutated, a
  *    k-shingle survives only if all k tokens are untouched, so cross-copy
  *    Jaccard collapses below every threshold in the catalog while each
  *    copy keeps the base corpus's intra-copy duplicate structure: pair
  *    counts scale ×F (constant duplicate density), which is the
  *    controlled-experiment design;
  *  - `embeddings` get one dimension nudged per copy (deterministic, no
  *    RNG) so ANN top-k doesn't degenerate into 0-distance ties.
  *
  * Methodology is Bench's, through its one timed loop
  * ([[Bench.timedSuite]]): cached TPC-H tables, a warmup pass per scale
  * point, interleaved reps, per-query MIN reported, GC delta per rep in
  * the artifact. Output: one JSON object in `SCALECURVE.json` with
  * per-query seconds at each factor and the fitted log-log exponent
  * between the smallest and largest factor (α ≈ 1 linear; α > 1.3 is the
  * superlinear surprise this harness exists to catch — e.g. the PPJoin
  * prefix-filter degeneracy documented in SCALE.md).
  *
  * Run: `sbt "runMain graft.ScaleCurve"` (~15 min). Env knobs:
  * SPARK_GRAFT_SCALE_FACTORS (default "3,10"), SPARK_GRAFT_SCALE_WORK
  * (default /tmp/graft_scale), SPARK_GRAFT_SCALE_REGEN=1 to rebuild the
  * synthetic dirs, SPARK_GRAFT_SCALE_REPS (default 3),
  * SPARK_GRAFT_SCALE_QUERIES (comma list of catalog query names to
  * curve instead of the default suite — any `SparkEntry.queries` key),
  * SPARK_GRAFT_SCALE_OUT (artifact path, default SCALECURVE.json — a
  * focused query subset must NOT overwrite the full-suite artifact of
  * record, so it is REQUIRED, not defaulted, whenever
  * SPARK_GRAFT_SCALE_QUERIES is set).
  */
object ScaleCurve {

  /** TPC-H slice of the curve: the headline suite (same IDs as Bench). */
  val tpchSuite: Seq[String] = Bench.headline

  /** LLM-pipeline slice: one representative per cost shape — exact dedup
    * (hash groupBy), LSH pair-gen (band join), sorted-neighborhood (two
    * global sorts), scan-local text scoring ×2, IVF ANN (train + probe),
    * context packing (two-phase prefix sum), sessionization (user window),
    * and the composed corpus pipeline. */
  val llmSuite: Seq[String] = Seq(
    "dd1_exact_dedup", "dd3_minhash_dup_pairs", "dd16_sorted_neighborhood",
    "ta2_quality_score", "ta16_gopher_rules", "ss4_ivf_topk",
    "pl3_context_packing", "ev18_sessions", "pl21_corpus_pipeline")

  def main(args: Array[String]): Unit = {
    // A focused subset must NOT overwrite the full-suite artifact of
    // record — enforce it (r13 advice) BEFORE the session starts and the
    // replica generation runs (the x30 replica alone is minutes of CPU
    // and gigabytes of disk; failing after it would waste all of that):
    // a subset run requires an explicit SPARK_GRAFT_SCALE_OUT, so
    // forgetting the knob fails fast instead of silently clobbering
    // SCALECURVE.json with a partial curve.
    require(!sys.env.contains("SPARK_GRAFT_SCALE_QUERIES") ||
        sys.env.contains("SPARK_GRAFT_SCALE_OUT"),
      "SPARK_GRAFT_SCALE_QUERIES selects a subset: set " +
        "SPARK_GRAFT_SCALE_OUT explicitly (e.g. SCALECURVE_SUBSET" +
        ".json) so the run cannot overwrite SCALECURVE.json")
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_WORK", "/tmp/graft_scale")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "3,10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val regen = sys.env.get("SPARK_GRAFT_SCALE_REGEN").contains("1")

    val spark = Bench.session("graft-scale-curve")

    // ---- synthetic scale points -------------------------------------
    val dirs: Seq[(Int, String)] =
      (1 -> baseDir) +: factors.filter(_ > 1).map { f =>
        f -> replica(spark, baseDir, workDir, f, regen)
      }

    // ---- timed passes ------------------------------------------------
    // (factor, query) -> (reps, gcPerRep); Bench's timed loop per scale
    // point: cache tpch tables, one warmup pass, GC settle, interleaved
    // reps (the curve reports every rep as measured, and its min).
    val suite = sys.env.get("SPARK_GRAFT_SCALE_QUERIES") match {
      case Some(qs) =>
        // (the SPARK_GRAFT_SCALE_OUT requirement for subset runs is
        // enforced at the very top of main, before generation costs)
        val names = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown catalog queries: $unknown")
        names
      case None => tpchSuite ++ llmSuite
    }
    val rows = collection.mutable.Map.empty[(Int, String), (Seq[Double], Seq[Long])]
    val tableRows = collection.mutable.Map.empty[(Int, String), Long]
    dirs.foreach { case (f, dir) =>
      System.err.println(s"[scale] === factor $f ($dir) ===")
      Tables.tpch.foreach { t => Tables.load(spark, dir, t).cache().count() }
      Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
        tableRows((f, t)) = Tables.load(spark, dir, t).count()
      }
      // events goes through the schema-adaptive loader (raw parquet fixtures
      // carry TIMESTAMP(NANOS) timestamps Spark's vectorized reader rejects;
      // Tables.events normalizes them — a bare Tables.load here threw on
      // such fixtures even with replicas already generated).
      tableRows((f, "events")) = Tables.events(spark, dir).count()
      val timed = Bench.timedSuite(suite, warmups = 1, reps = reps)(
        Bench.timedRun(q => SparkEntry.queries(q)(spark, dir)))
      timed.foreach { case (q, secs, gcs) => rows((f, q)) = (secs, gcs) }
      spark.catalog.clearCache()
    }

    // ---- artifact ----------------------------------------------------
    val allF = dirs.map(_._1)
    val fLo = allF.min
    val fHi = allF.max
    def minOf(f: Int, q: String): Double = rows((f, q))._1.min
    def exponent(q: String): Double =
      math.log(minOf(fHi, q) / minOf(fLo, q)) / math.log(fHi.toDouble / fLo)
    def jnum(d: Double): String = f"$d%.4f"
    val perQuery = suite.map { q =>
      val scales = allF.map(f => s""""x$f":${jnum(minOf(f, q))}""").mkString(",")
      val repsJson = allF.map { f =>
        s""""x${f}_reps":${rows((f, q))._1.map(jnum).mkString("[", ",", "]")},""" +
          s""""x${f}_gc_ms":${rows((f, q))._2.mkString("[", ",", "]")}"""
      }.mkString(",")
      s""""$q":{$scales,"exponent":${jnum(exponent(q))},$repsJson}"""
    }.mkString("{", ",", "}")
    val rowsJson = allF.map { f =>
      val ts = Seq("lineitem", "orders", "documents", "embeddings", "events")
        .map(t => s""""$t":${tableRows((f, t))}""").mkString(",")
      s""""x$f":{$ts}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"base":"$baseDir","factors":${allF.mkString("[", ",", "]")},""" +
        s""""reps":$reps,"span":"x$fLo->x$fHi","table_rows":$rowsJson,""" +
        s""""queries":$perQuery}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_SCALE_OUT", "SCALECURVE.json")), json + "\n")
    // Human-readable summary on stderr (stdout stays clean for harnesses).
    System.err.println(f"${"query"}%-28s ${allF.map(f => f"x$f%-8d").mkString} alpha")
    suite.foreach { q =>
      val cells = allF.map(f => f"${minOf(f, q)}%-8.3f").mkString
      System.err.println(f"$q%-28s $cells ${exponent(q)}%.2f")
    }
    spark.stop()
  }

  /** The factor-`f` replica of `baseDir` under `workDir`, returned as its
    * directory. Its `_GRAFT_FACTOR` marker names the factor and base it
    * was built from; the replica is reused only when the marker says
    * exactly that (and `regen` is off), so a run on another base never
    * mixes that base's replicas into its curve. The marker is removed
    * before generating, so an interrupted generation is never reused. */
  private[graft] def replica(spark: SparkSession, baseDir: String,
      workDir: String, f: Int, regen: Boolean): String = {
    import java.nio.file.{Files, Paths}
    val out = s"$workDir/x$f"
    val marker = Paths.get(out, "_GRAFT_FACTOR")
    val stamp = s"$f of $baseDir\n"
    if (regen || !Files.exists(marker) || Files.readString(marker) != stamp) {
      System.err.println(s"[scale] generating ${f}x replica of $baseDir at $out")
      Files.deleteIfExists(marker)
      generate(spark, baseDir, out, f)
      Files.writeString(marker, stamp)
    } else System.err.println(s"[scale] reusing $out")
    out
  }

  /** Copy-tag every 7th token of `text` for copies > 0 (the near-dup
    * density control documented on [[generate]]). Copy 0 AND zero-length
    * texts pass through verbatim: `split("", " ")` yields one empty token,
    * so an ungated transform would turn an empty doc into a non-empty
    * "x<copy>" — a fidelity break (replica empty-doc counts and length
    * distributions would diverge from the base corpus). */
  private[graft] def perturbedText(
      text: org.apache.spark.sql.Column,
      copy: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(copy === 0 || length(text) === 0, text).otherwise(
      array_join(transform(split(text, " "), (t, i) =>
        when(i % 7 === 0, concat(t, lit("x"), copy.cast("string")))
          .otherwise(t)), " "))

  /** Write a factor-F key-shifted replica of `baseDir` into `outDir`. */
  def generate(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val copies = broadcast(
      spark.range(factor).toDF("copy").withColumn("copy", col("copy").cast("long")))
    def keyOffset(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    def shifted(df: DataFrame, shifts: Seq[(String, Long)]): DataFrame =
      shifts.foldLeft(df.crossJoin(copies)) { case (d, (k, off)) =>
        d.withColumn(k, col(k) + col("copy") * off)
      }
    def write(df: DataFrame, name: String): Unit =
      df.drop("copy").write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims fixed — copy verbatim so FK domains (nationkey) stay valid
    Seq("region", "nation").foreach { t =>
      write(Tables.load(spark, baseDir, t).withColumn("copy", lit(0L)), t)
    }
    val cust = Tables.load(spark, baseDir, "customer")
    val supp = Tables.load(spark, baseDir, "supplier")
    val part = Tables.load(spark, baseDir, "part")
    val ord = Tables.load(spark, baseDir, "orders")
    val li = Tables.load(spark, baseDir, "lineitem")
    val offCust = keyOffset(cust, "c_custkey")
    val offSupp = keyOffset(supp, "s_suppkey")
    val offPart = keyOffset(part, "p_partkey")
    val offOrd = keyOffset(ord, "o_orderkey")
    write(shifted(cust, Seq("c_custkey" -> offCust)), "customer")
    write(shifted(supp, Seq("s_suppkey" -> offSupp)), "supplier")
    write(shifted(part, Seq("p_partkey" -> offPart)), "part")
    write(shifted(ord, Seq("o_orderkey" -> offOrd, "o_custkey" -> offCust)), "orders")
    write(shifted(li, Seq("l_orderkey" -> offOrd, "l_partkey" -> offPart,
      "l_suppkey" -> offSupp)), "lineitem")

    val ev = Tables.events(spark, baseDir)
    write(shifted(ev, Seq(
      "event_id" -> keyOffset(ev, "event_id"),
      "user_id" -> keyOffset(ev, "user_id"))), "events")

    val docs = Tables.load(spark, baseDir, "documents")
    val docsScaled = shifted(docs, Seq("doc_id" -> keyOffset(docs, "doc_id")))
      .withColumn("text", perturbedText(col("text"), col("copy")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docsScaled, "documents")

    val emb = Tables.load(spark, baseDir, "embeddings")
    val embScaled = shifted(emb, Seq("vec_id" -> keyOffset(emb, "vec_id")))
      .withColumn("embedding", when(col("copy") === 0, col("embedding")).otherwise(
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("copy"), size(col("embedding"))),
            x + lit(0.0017f) * col("copy").cast("float")).otherwise(x))))
    write(embScaled, "embeddings")
  }
}
