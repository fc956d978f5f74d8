package graft

import org.apache.spark.sql.functions._

/** Fidelity invariants for the ScaleCurve replica generator: the measured
  * scaling curve (SCALECURVE.json) is only evidence if the synthetic ×F
  * data actually preserves the base distribution's join fan-out, per-key
  * density, and duplicate structure. Pins each documented property of
  * [[ScaleCurve.generate]] on a factor-2 replica of sf0.001.
  */
class ScaleCurveSpec extends GraftSuite {

  private lazy val outDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-scale-spec-").toString
    ScaleCurve.generate(spark, sf, d, 2)
    d
  }
  private def base(t: String) = spark.read.parquet(s"$sf/$t.parquet")
  private def rep(t: String) = spark.read.parquet(s"$outDir/$t.parquet")

  test("row counts scale by exactly F; dims stay fixed") {
    Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      assert(rep(t).count() === 2 * base(t).count(), s"table $t")
    }
    Seq("region", "nation").foreach { t =>
      assert(rep(t).count() === base(t).count(), s"dim $t")
    }
  }

  test("shifted keys are disjoint across copies (no surrogate collisions)") {
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id").foreach { case (t, k) =>
      val b = base(t).select(countDistinct(col(k))).head().getLong(0)
      val r = rep(t).select(countDistinct(col(k))).head().getLong(0)
      assert(r === 2 * b, s"$t.$k distinct count")
    }
  }

  test("join fan-out and per-key density are preserved") {
    // The lineitem⋈orders match count must scale exactly ×F: every FK was
    // shifted by its referenced table's offset, so each copy joins only
    // within itself and per-key fan-out is untouched.
    def joined(li: org.apache.spark.sql.DataFrame, ord: org.apache.spark.sql.DataFrame) =
      li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined(rep("lineitem"), rep("orders"))
      === 2 * joined(base("lineitem"), base("orders")))
    // max lines-per-order (per-key density) identical, not doubled
    def maxGroup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_orderkey").count().agg(max("count")).head().getLong(0)
    assert(maxGroup(rep("lineitem")) === maxGroup(base("lineitem")))
  }

  test("copy 0 is the base corpus verbatim; copy 1 text is perturbed") {
    val off = base("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    val copy0 = rep("documents").where(col("doc_id") < off)
    // copy 0 docs byte-identical to base (anti-join on (doc_id, text) empty)
    val drifted = copy0.select("doc_id", "text")
      .exceptAll(base("documents").select("doc_id", "text")).count()
    assert(drifted === 0L)
    // copy 1: every doc differs from its source text except zero-length
    // ones (which the perturbation passes through verbatim — none in this
    // fixture, so the unperturbed count is exactly the empty-doc count),
    // and n_chars was recomputed to match the perturbed text
    val copy1 = rep("documents").where(col("doc_id") >= off)
      .withColumn("src_id", col("doc_id") - off)
    val unperturbed = copy1.alias("r")
      .join(base("documents").alias("b"), col("src_id") === col("b.doc_id"))
      .where(col("r.text") === col("b.text"))
      .count()
    val emptyDocs = base("documents").where(length(col("text")) === 0).count()
    assert(unperturbed === emptyDocs)
    val badLen = rep("documents")
      .where(col("n_chars") =!= length(col("text"))).count()
    assert(badLen === 0L)
  }

  test("text perturbation gates on emptiness: empty docs stay empty, tokens get copy-tagged") {
    // The fixtures carry no zero-length docs, so the generate-level check
    // above can't exercise the gate; drive the perturbation column
    // directly. An ungated transform turns "" into "x1" (split("", " ")
    // yields one empty token that the i%7==0 branch tags).
    import spark.implicits._
    val got = Seq(
      ("", 1L), ("", 0L), ("one two three four five six seven eight", 1L),
      ("solo", 2L), ("solo", 0L))
      .toDF("text", "copy")
      .select(ScaleCurve.perturbedText(col("text"), col("copy")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "",     // empty stays empty even on copy 1 (the gate under test)
      "",     // copy 0 verbatim
      "onex1 two three four five six seven eightx1", // tokens 0 and 7 tagged
      "solox2",
      "solo"))
  }

  test("perturbation keeps duplicate density constant: cross-copy signature matches collapse") {
    // Verbatim replication would make EVERY copy-1 doc a full minhash
    // match of its copy-0 source (signatures are deterministic in the
    // text), inflating LSH candidate pairs ×F² by construction. The
    // perturbation can't drive per-doc matches to exactly zero — on a
    // short doc the ~1/7 mutated tokens may not be the argmin of any of
    // the 16 hash families — so the pinned invariant is the aggregate
    // one the curve depends on: the cross-copy full-signature match rate
    // stays a few-percent residue, not the 100% of verbatim copies.
    graft.functions.Signatures.register(spark)
    val off = base("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    val total = base("documents").count()
    val sigs = rep("documents")
      .selectExpr("doc_id", "min_hash(split(lower(text), '\\\\s+'), 16) AS mh")
    val joinedSigs = sigs.where(col("doc_id") >= off)
      .withColumn("src_id", col("doc_id") - off).alias("r")
      .join(sigs.where(col("doc_id") < off).alias("b"),
        col("src_id") === col("b.doc_id"))
      .where(col("r.mh") === col("b.mh"))
      .count()
    assert(joinedSigs.toDouble / total < 0.05,
      s"$joinedSigs of $total copy-1 docs kept their source's full minhash signature")
  }

  test("a replica is regenerated when its marker names another base") {
    // base A = the fixture, base B = its factor-2 replica: asking for
    // factor 2 of B where factor 2 of A lies must rebuild, not reuse
    val work = java.nio.file.Files.createTempDirectory("graft-scale-work-").toString
    def lineitems(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet").count()
    val a = ScaleCurve.replica(spark, sf, work, 2, regen = false)
    assert(lineitems(a) === 2 * base("lineitem").count())
    val b = ScaleCurve.replica(spark, outDir, work, 2, regen = false)
    assert(b === a)
    assert(lineitems(b) === 4 * base("lineitem").count())
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(b, "_GRAFT_FACTOR")) === s"2 of $outDir\n")
  }

  test("embedding dimension count unchanged; copy-1 vectors differ from source") {
    val off = base("embeddings").agg(max(col("vec_id"))).head().getLong(0) + 1
    val dims = rep("embeddings").select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSet
    val baseDims = base("embeddings").select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(dims === baseDims)
    val identical = rep("embeddings").where(col("vec_id") >= off)
      .withColumn("src_id", col("vec_id") - off).alias("r")
      .join(base("embeddings").alias("b"), col("src_id") === col("b.vec_id"))
      .where(col("r.embedding") === col("b.embedding")).count()
    assert(identical === 0L)
  }
}
