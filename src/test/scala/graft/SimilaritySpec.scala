package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Recall/consistency tests for the ANN path vs the exact baseline. */
class SimilaritySpec extends GraftSuite {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("srp-lsh ann reaches >=50% recall@5 vs brute force") {
    val q = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val ann = pairs(
      Similarity.annTopK(q, emb, "vec_id", "embedding", 5,
        tables = 16, bits = 6, dim = 64))
    val recall = (exact intersect ann).size.toDouble / exact.size
    // fixture embeddings are uniform random, the hardest case for LSH
    // (neighbors barely closer than strangers) — 0.5 is the floor here;
    // clustered real-world embeddings recall far higher.
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("rrf fusion: planted recall beats both channels, arithmetic exact") {
    // Planted hybrid-retrieval fixture: 10 relevant docs (1-10). The
    // lexical channel surfaces relevant 1-5 at ranks 1-5 (irrelevant
    // 101+ below), the vector channel surfaces relevant 6-10 at ranks
    // 1-5 (irrelevant 201+ below) — each channel alone has recall@10
    // 0.5. RRF (k=60): every relevant doc scores >= 1/65 (rank <= 5 in
    // its channel) while every irrelevant doc scores <= 1/66 (rank >= 6
    // in exactly one channel), so the fused top-10 is EXACTLY the
    // relevant set — recall 1.0 > max(0.5, 0.5), the fusion >=
    // max(single-channel) property the operator exists for.
    import spark.implicits._
    val lex = ((1L to 5L) ++ (101L to 115L)).zipWithIndex
      .map { case (id, i) => (id, i + 1) }.toDF("doc_id", "lex_rank")
    val vec = ((6L to 10L) ++ (201L to 215L)).zipWithIndex
      .map { case (id, i) => (id, i + 1) }.toDF("doc_id", "vec_rank")
    val relevant = (1L to 10L).toSet
    def recallAt10(ids: Seq[Long]): Double =
      (ids.take(10).toSet intersect relevant).size.toDouble / relevant.size
    val lexIds = lex.orderBy("lex_rank").collect().map(_.getLong(0)).toSeq
    val vecIds = vec.orderBy("vec_rank").collect().map(_.getLong(0)).toSeq
    val good = Similarity.rrfFuse(
        lex, "doc_id", "lex_rank", vec, "doc_id", "vec_rank",
        k = 60, topK = 20)
      .orderBy("fused_rank").collect()
    val fusedIds = good.map(_.getLong(0)).toSeq
    assert(recallAt10(fusedIds) == 1.0)
    assert(recallAt10(fusedIds) >= math.max(recallAt10(lexIds), recallAt10(vecIds)))
    // exact RRF arithmetic on a doc present in one channel only:
    // doc 1 (lex rank 1) scores exactly 1/61
    val d1 = good.find(_.getLong(0) == 1L).get
    assert(d1.getDouble(3) == 1.0 / 61.0)
    // ranks carried through: doc 6 came from the vector channel only
    val d6 = good.find(_.getLong(0) == 6L).get
    assert(d6.isNullAt(1) && d6.getInt(2) == 1)
  }

  test("ann results are a subset of valid ids and ranked consistently") {
    val q = emb.filter(col("vec_id") < 5)
    val res = Similarity.annTopK(q, emb, "vec_id", "embedding", 5)
      .collect()
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(1)).sorted
      assert(ranks === (1 to ranks.length).toArray)
      val coss = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b })
    }
  }

  test("srp near-dup pairs are precise and high-recall vs brute force") {
    // Deterministic hyperplanes + fixed fixtures → stable, not flaky.
    // Fixture embeddings are uniform random — the hardest case for LSH
    // (0.4-cosine pairs are barely above the noise floor where per-table
    // collision probability is lowest), hence a recall floor, not ⊇.
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.bruteForceNearDupPairs(emb, "vec_id", "embedding", 0.4))
    val lsh = pairs(
      Similarity.srpNearDupPairs(emb, "vec_id", "embedding", 0.4,
        tables = 32, bits = 4, dim = 64))
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    // exact-cosine verification makes every emitted pair a true pair:
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall = $recall, missed ${exact.diff(lsh)}")
  }

  test("ivf ann probes a corpus subset yet overlaps brute-force top-k") {
    val q = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val ivf = pairs(
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", 5,
        numCentroids = 16, nprobe = 4))
    // nprobe/K = 1/4 of the corpus searched; on uniform-random fixtures
    // (ANN's hardest case) expected recall ~ the probed fraction.
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.25, s"recall@5 = $recall")
    // every query answers k results with consistent ranks
    val res = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 5).collect()
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to rows.length))
    }
  }

  test("ivf-pq train/serve split: one model serves many batches, scoped pins") {
    // The round-18 split of the bundled ss20 row: training (k-means
    // codebooks + encoded corpus) happens ONCE per corpus; serving is a
    // pure probe. The split form must be bit-identical to the one-call
    // form, the model's pins must live in the caller's scope (immune to
    // the global releaseCaches between bench reps), and a SECOND query
    // batch must serve correctly off the same pinned model.
    import graft.ops.Pipeline
    val q1 = emb.filter(col("vec_id") < 20)
    val q2 = emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select("qid", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val oneCall = rows(Similarity.ivfPqTopK(
      q1, emb, "vec_id", "embedding", 5, dim = 64, numCoarse = 8,
      nprobe = 2, m = 8, codebookSize = 16, updates = 1))
    Pipeline.releaseCaches()
    val scope = new Pipeline.PinScope
    val model = Pipeline.withScope(scope) {
      Similarity.ivfPqTrain(emb, "vec_id", "embedding", dim = 64,
        numCoarse = 8, m = 8, codebookSize = 16, updates = 1)
    }
    // train pinned into the caller's scope, not the default queue
    assert(!scope.isEmpty && Pipeline.defaultScope.isEmpty)
    // a hostile global release (what the bench rep loop fires) must not
    // unpersist the model
    Pipeline.releaseCaches()
    assert(model.encoded.storageLevel.useMemory,
      "model code frame must stay persisted across releaseCaches")
    val served = rows(Similarity.ivfPqServe(
      q1, model, "vec_id", "embedding", 5, nprobe = 2))
    assert(served === oneCall)
    // second batch off the SAME model: sane shape, no self matches
    val b2 = rows(Similarity.ivfPqServe(
      q2, model, "vec_id", "embedding", 5, nprobe = 2))
    assert(b2.nonEmpty)
    b2.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._2).sorted === (1 to rs.length))
      assert(!rs.exists(_._3 == qid))
    }
    // the serve PLAN must read the pinned code frame (InMemory scan),
    // not re-derive codes from a fresh corpus scan — re-encoding per
    // query batch is exactly the cost the train/serve split removes
    val servePlan = Similarity.ivfPqServe(
      q1, model, "vec_id", "embedding", 5, nprobe = 2)
    servePlan.collect()
    val planStr = servePlan.queryExecution.executedPlan.toString
    assert(planStr.contains("InMemoryTableScan"),
      "serve must scan the pinned encoded frame, not recompute it")
    scope.release()
    assert(scope.isEmpty)
    assert(model.encoded.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("ivf-pq reranked serve: full probe + full pool = exact L2 top-k") {
    // IVFADC+R sanity pin: with every coarse cell probed and the pool
    // covering the whole corpus, the ADC stage is candidate-complete
    // and the exact-L2 rerank must reproduce the exact L2 top-5
    // (reconstruction is centroid + stored residual — within an ulp of
    // the raw vector, far below the fixture's distance gaps). A small
    // pool must still emit dense ranks 1..k per query.
    val n = emb.count().toInt
    val q = emb.filter(col("vec_id") < 10)
    val model = Similarity.ivfPqTrain(emb, "vec_id", "embedding",
      dim = 64, numCoarse = 8, m = 8, codebookSize = 16, updates = 1)
    val rr = Similarity.ivfPqServeReranked(
        q, model, "vec_id", "embedding", topK = 5, nprobe = 8, pool = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val qq = q.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qvec"))
    val cc = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("cvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2").asc, col("vec_id").asc)
    val exactL2 = qq.crossJoin(cc).filter(col("qid") =!= col("vec_id"))
      .withColumn("d2", aggregate(
        zip_with(col("qvec"), col("cvec"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rr.toSet === exactL2.toSet)
    val small = Similarity.ivfPqServeReranked(
        q, model, "vec_id", "embedding", topK = 5, nprobe = 2, pool = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    small.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"qid $qid ranks")
    }
    graft.ops.Pipeline.releaseCaches()
  }

  test("ivf-pq serve and mmr rerank edge shapes: empty batch, unknown ids") {
    import graft.ops.Pipeline
    val scope = new Pipeline.PinScope
    val model = Pipeline.withScope(scope) {
      Similarity.ivfPqTrain(emb, "vec_id", "embedding", dim = 64,
        numCoarse = 8, m = 8, codebookSize = 16, updates = 1)
    }
    // an empty query batch serves to an empty result, no error — the
    // shape a scheduler hits between arriving batches
    val empty = emb.filter(col("vec_id") < 0)
    assert(Similarity.ivfPqServe(
      empty, model, "vec_id", "embedding", 5, nprobe = 2).count() === 0L)
    scope.release()
    // double release is idempotent (the second drains an empty queue)
    scope.release()
    assert(scope.isEmpty)
    // mmrRerank drops candidates whose vec_id is absent from the corpus
    // (inner vector join) instead of failing or emitting null vectors
    import spark.implicits._
    val cands = Seq((1L, 2L, 0.9), (1L, 999999999L, 0.8))
      .toDF("qid", "vec_id", "cos")
    val got = Similarity.mmrRerank(cands, emb, "vec_id", "embedding",
      k = 2, lambda = 0.5).collect()
    assert(got.map(_.getLong(2)).toSet === Set(2L),
      s"unknown candidate id must drop, got: ${got.mkString}")
  }

  test("ivf-pq ann joins codes to broadcast LUTs and overlaps exact top-k") {
    val q = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val res = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
      dim = 64, numCoarse = 8, nprobe = 2, m = 8, codebookSize = 16,
      updates = 1)
    val ivfpq = pairs(res)
    // nprobe/numCoarse = 1/4 of the corpus probed AND distances are
    // PQ-approximate — on uniform-random fixtures (ANN's hardest case)
    // recall compounds both effects; 0.1 is the structural floor.
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    assert(recall >= 0.1, s"recall@5 = $recall")
    // ranks are dense 1..k per query, never a self match
    val rows = res.collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length))
      assert(!rs.exists(_.getLong(2) == qid), s"self match for $qid")
    }
    // the ADC scoring join must be corpus-side shuffle-free: codes join
    // BROADCAST LUTs on cid — a sort-merge/shuffled-hash join here means
    // the full corpus re-shuffles per query batch (the plan IVF-PQ
    // exists to avoid)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.SparkPlan
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case qs: QueryStageExec => flatten(qs.plan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(flatten)
    }
    res.collect() // finalize adaptive plan
    val all = flatten(res.queryExecution.executedPlan)
    assert(!all.exists(p =>
        p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      "ivf-pq planned a shuffled join on the corpus side")
  }

  test("native srp_buckets matches the literal-plane reference form") {
    // The native expression derives hyperplanes on the fly; the reference
    // form inlines them as literals. Same splitmix64 stream + same fold
    // order → every (table, signature) key must be bit-identical.
    val tables = 16; val bits = 6; val dim = 64
    val ref = array((0 until tables).map { t =>
      struct(lit(t).as("t"),
        Similarity.srpSignatureReference(col("embedding"), t, bits, dim).as("sig"))
    }: _*)
    val mismatches = emb
      .select(
        Similarity.srpBuckets(col("embedding"), tables, bits, dim).as("native"),
        ref.as("reference"))
      .filter(col("native") =!= col("reference"))
      .count()
    assert(mismatches === 0)
  }

  test("srp_buckets refuses parameters outside the seed-injectivity envelope") {
    // beyond dim <= 4099 / (bits-1)*4099 + dim <= 262147 the plane seed
    // formula collides across (bit, j) and signature bits silently
    // correlate — the expression must refuse at analysis time, not
    // degrade bucket quality (round-15 review)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(Similarity.srpBuckets(
        col("embedding"), tables = 2, bits = 3, dim = 5000)).collect()
    }
    assert(e.getMessage.contains("seed envelope"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      emb.select(Similarity.srpBuckets(
        col("embedding"), tables = 2, bits = 0, dim = 64)).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("bits"))
  }

  test("vec_dot throws loudly on ragged vectors instead of truncating") {
    import spark.implicits._
    // the declarative dual yields NULL here (zip_with null-pads); a
    // silent partial product OR a silent null would corrupt downstream
    // ranks — ragged embeddings are data corruption, surface them
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.functions.Vectors.vec_dot(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).map(chain).getOrElse(Nil)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("length mismatch"))))
  }

  test("vec_sqdist: bit-identical to the declarative fold; ragged throws") {
    import spark.implicits._
    // Deterministic non-round values (div by 7/11 → full mantissas) so
    // the equality below is a real IEEE bit check, not an artifact of
    // short decimals. The native expression must equal the retired
    // aggregate(zip_with) fold EXACTLY — same ascending sequential
    // order — because round-20 swapped it under the oracle-checked
    // kmeans/IVF-PQ paths on that bit-identity claim.
    val rows = (0 until 97).map { i =>
      (Seq.tabulate(64)(j => (i * 64 + j).toDouble / 7.0),
        Seq.tabulate(64)(j => (j * 97 + i).toDouble / 11.0))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.Vectors.vec_sqdist(col("a"), col("b")).as("n"),
      Similarity.sqDistDeclarative(col("a"), col("b")).as("d")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != declarative ${r.getDouble(1)}")
    }
    // float flavor: same fold over float→double upcasts
    val fdf = Seq((Seq(1.5f, -2.25f, 3.0f), Seq(0.5f, 2.75f, -1.0f)))
      .toDF("a", "b")
    val f = fdf.select(
      graft.functions.Vectors.vec_sqdist(col("a"), col("b"))).head.getDouble(0)
    assert(f == (1.0 + 25.0 + 16.0))
    // Upcast-first, pinned on floats that are NOT exactly representable
    // (0.1f, 1f/3, 2f/7, …): each element widens to double BEFORE the
    // subtraction, so the result is the ascending double fold of
    // (x.toDouble − y.toDouble)², not a fold of float-precision squares.
    // The exact values above cannot tell the two semantics apart.
    val fracs = Seq(0.1f, 1f / 3, 2f / 7, 0.7f, 5f / 9, 1.1f, 3f / 11)
    val frows = (0 until 16).map { i =>
      (fracs.indices.map(j => fracs((i + j) % fracs.size) * (i + 1)),
        fracs.indices.map(j => fracs((i * 3 + j + 1) % fracs.size) - j))
    }
    val fgot = frows.toDF("a", "b").select(
      graft.functions.Vectors.vec_sqdist(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    def upcastFirst(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        val d = x.toDouble - y.toDouble; acc + d * d }
    def floatFirst(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        val d = x - y; acc + (d * d).toDouble }
    frows.zip(fgot).foreach { case ((a, b), g) =>
      assert(java.lang.Double.doubleToRawLongBits(g) ==
        java.lang.Double.doubleToRawLongBits(upcastFirst(a, b)),
        s"native $g != upcast-first fold ${upcastFirst(a, b)}")
    }
    // the inputs do separate the two semantics
    assert(frows.exists { case (a, b) => upcastFirst(a, b) != floatFirst(a, b) })
    // ragged vectors throw (vec_dot rule) — the declarative dual would
    // yield NULL via zip_with's null padding, silently corrupting ranks
    val ragged = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(
        graft.functions.Vectors.vec_sqdist(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).map(chain).getOrElse(Nil)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("length mismatch"))))
  }

  test("vec_to_double: schema and bits identical to the declarative transform(cast)") {
    import spark.implicits._
    // round-21 swapped asDouble from transform(v, _.cast("double")) to
    // the native expression on an EXACT-parity claim — round 20 had
    // declined a plain Cast precisely because it flips the array's
    // containsNull and risks schema_match drift in dumped parquet. Pin
    // all of it: result schema (containsNull included), raw bits of
    // every element, null-element propagation, null-input propagation —
    // on the float flavor every production call site feeds it.
    val rows = Seq(
      (1L, Seq[java.lang.Float](1.1f, -2.7f, 3.3e-7f, 7f / 11f)),
      (2L, Seq[java.lang.Float](0.1f, null, Float.MaxValue, -0f)),
      (3L, null))
    val df = rows.toDF("id", "v")
    val native = df.select(col("id"), Similarity.asDouble(col("v")).as("d"))
    val retired = df.select(col("id"),
      Similarity.asDoubleDeclarative(col("v")).as("d"))
    assert(native.schema === retired.schema,
      s"schema drift: ${native.schema} vs ${retired.schema}")
    val n = native.orderBy("id").collect()
    val r = retired.orderBy("id").collect()
    n.zip(r).foreach { case (a, b) =>
      (a.isNullAt(1), b.isNullAt(1)) match {
        case (true, true) => ()
        case (false, false) =>
          val as = a.getSeq[Any](1); val bs = b.getSeq[Any](1)
          assert(as.length == bs.length)
          as.zip(bs).foreach {
            case (null, null) => ()
            case (x: Double, y: Double) =>
              assert(java.lang.Double.doubleToRawLongBits(x) ==
                java.lang.Double.doubleToRawLongBits(y))
            case other => fail(s"element mismatch: $other")
          }
        case other => fail(s"null-row mismatch: $other")
      }
    }
    // double flavor: pass-through copy, bits preserved
    val ddf = Seq(Seq(1.0 / 3.0, -0.0, 4.9e-324)).toDF("v")
    val dn = ddf.select(Similarity.asDouble(col("v"))).head.getSeq[Double](0)
    val dr = ddf.select(Similarity.asDoubleDeclarative(col("v")))
      .head.getSeq[Double](0)
    dn.zip(dr).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToRawLongBits(x) ==
        java.lang.Double.doubleToRawLongBits(y))
    }
  }

  test("vec_sub: schema and bits identical to the declarative zip_with; ragged throws") {
    import spark.implicits._
    // round-21 swapped the IVF-PQ residual step from
    // zip_with(a, b, (x, y) => x − y) to the native expression; pin
    // schema (containsNull = OR of the children's, like zip_with's
    // nullable lambda), per-element raw bits, null-element propagation,
    // and the ragged-throw contract (the declarative form null-pads).
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0 / 7.0, -2.5, 3.25e-8),
        Seq[java.lang.Double](2.0 / 11.0, 0.5, -1.0)),
      (2L, Seq[java.lang.Double](1.0, null, 3.0),
        Seq[java.lang.Double](0.5, 1.5, null)))
    val df = rows.toDF("id", "a", "b")
    val native = df.select(col("id"),
      graft.functions.Vectors.vec_sub(col("a"), col("b")).as("d"))
    val retired = df.select(col("id"),
      Similarity.vecSubDeclarative(col("a"), col("b")).as("d"))
    assert(native.schema === retired.schema,
      s"schema drift: ${native.schema} vs ${retired.schema}")
    val n = native.orderBy("id").collect()
    val r = retired.orderBy("id").collect()
    n.zip(r).foreach { case (x, y) =>
      val xs = x.getSeq[Any](1); val ys = y.getSeq[Any](1)
      assert(xs.length == ys.length)
      xs.zip(ys).foreach {
        case (null, null) => ()
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ==
            java.lang.Double.doubleToRawLongBits(b))
        case other => fail(s"element mismatch: $other")
      }
    }
    val ragged = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(
        graft.functions.Vectors.vec_sub(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).map(chain).getOrElse(Nil)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("length mismatch"))))
  }

  test("srp_buckets throws on vectors whose length differs from dim") {
    import spark.implicits._
    // ragged-input policy must AGREE across forms: the literal-plane
    // reference form feeds vec_dot a dim-length plane so a mismatched
    // vector throws there; the native form used to silently truncate at
    // min(len, dim), which would latently break the documented
    // bit-identity cross-check at non-fixture dims (round-16 advice)
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).map(chain).getOrElse(Nil)
    for (vec <- Seq(Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f, 4.0f, 5.0f))) {
      val df = Seq(Tuple1(vec)).toDF("v")
      val e = intercept[Exception] {
        df.select(Similarity.srpBuckets(col("v"), tables = 2, bits = 4,
          dim = 4)).collect()
      }
      assert(chain(e).exists(c => Option(c.getMessage)
          .exists(_.contains("vector length"))),
        s"len ${vec.length} vs dim 4 must throw the srp_buckets message")
    }
  }

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(10)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    one.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("kmeans recovers planted clusters and is restart-stable") {
    import spark.implicits._
    // three tight planted clusters around orthogonal axes, 64-dim; ids
    // interleaved so seed centroids (lowest 3 ids) land one per cluster
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == axis) 1.0f else 0.0f) +
          (if (i == (axis + 7) % 64) jitter.toFloat else 0.0f))
    val rows = (0 until 12).map { id =>
      (id.toLong, v(id % 3 * 10, 0.01 * (id / 3)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 3, updates = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vector lands with its planted cluster's seed (ids 0,1,2)
    rows.foreach { case (id, _) =>
      assert(got(id) === (id % 3), s"vec $id")
    }
    // determinism: a second run returns the identical assignment
    val again = Similarity.kmeans(df, "vec_id", "embedding", k = 3, updates = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("semanticDedup keeps the lowest id per semantic group") {
    import spark.implicits._
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until 64).map(i =>
        (if (i == axis) 1.0f else 0.0f) +
          (if (i == (axis + 1) % 64) jitter.toFloat else 0.0f))
    // seeds are the two lowest ids, so 0 (axis 0) and 1 (axis 30) anchor
    // the two clusters; 2 duplicates 0, 4/5 duplicate 1, 3 is alone
    val df = Seq(
      (0L, v(0, 0.0)), (1L, v(30, 0.0)), (2L, v(0, 0.001)),
      (3L, v(3, 0.0)), (4L, v(30, 0.002)), (5L, v(30, 0.004))
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedup(df, "vec_id", "embedding",
        threshold = 0.9, numCentroids = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(0L -> true, 1L -> true, 2L -> false,
      3L -> true, 4L -> false, 5L -> false))
    // within-cluster recall is exact: dropped set == brute-force pairs'
    // higher ids when clustering does not split a semantic group
    val bruteHi = Similarity
      .bruteForceNearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    assert(got.filter(!_._2).keySet === bruteHi)
  }

  test("int8 quantization error is bounded by half a quantization step") {
    // q = floor(x·scale + 0.5) is within 0.5 of x·scale, so the
    // reconstruction error is ≤ 0.5/scale = max_abs/254 per element.
    val rows = Similarity.quantizationError(emb, "vec_id", "embedding")
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val maxAbs = r.getDouble(1); val maxErr = r.getDouble(2)
      val mse = r.getDouble(3)
      assert(maxErr <= maxAbs / 254.0 * (1 + 1e-12), s"maxErr=$maxErr")
      assert(mse <= maxErr * maxErr + 1e-18)
    }
  }

  test("IVF index layout: probed cells prune partitions and files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-").toString
    val assigned = Similarity.writeIvfIndex(
      emb, "vec_id", "embedding", numCentroids = 16, path = dir)
    val cids = assigned.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(cids.length > 4, s"want >4 occupied cells, got ${cids.length}")
    val all = spark.read.parquet(dir)
    assert(all.count() === emb.count())
    // probe 4 cells: the scan must carry a PartitionFilter on cid and
    // touch strictly fewer files than the full index
    val probes = cids.take(4)
    val pruned = all.where(col("cid").isin(probes.map(Long.box): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"), plan)
    // files actually READ (input_file_name over the filtered scan — a
    // DataFrame's static inputFiles listing ignores partition pruning)
    val touched = pruned.select(input_file_name()).distinct().count()
    val total = all.select(input_file_name()).distinct().count()
    assert(touched * 2 <= total,
      s"probing 4/${cids.length} cells should read ≤ half the files: " +
      s"$touched of $total")
    // and the pruned read returns exactly the probed cells' rows
    val expect = assigned.where(col("cid").isin(probes.map(Long.box): _*)).count()
    assert(pruned.count() === expect)
  }

  test("random projection: basis vector picks its sign; norms preserved") {
    import spark.implicits._
    val signs = Similarity.rpSigns(42L, 8, 64)
    // e_5 (1 at index 5): p0 = signs(0)(5), and ‖Pe‖² = Σ_j s_j5² = 8
    // → norm_ratio exactly 1 for any basis vector
    val e5 = Array.tabulate(64)(i => if (i == 5) 1.0f else 0.0f)
    val r = Similarity.randomProjectionStats(
      Seq((1L, e5)).toDF("vec_id", "embedding"),
      col("vec_id"), col("embedding"), k = 8, seed = 42L, dim = 64)
      .collect()(0)
    assert(r.getDouble(1) === signs(0)(5).toDouble)
    assert(r.getDouble(2) === 1.0)
    // corpus: JL expectation — mean ratio near 1, every ratio positive
    val ratios = Similarity.randomProjectionStats(
      emb, col("vec_id"), col("embedding"), k = 8, seed = 42L, dim = 64)
      .collect().map(_.getDouble(2))
    assert(ratios.forall(_ > 0.0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
    // determinism: same seed → same matrix
    assert(Similarity.rpSigns(42L, 8, 64) === signs)
  }

  test("truncation quality: hand vector and whole-corpus invariants") {
    import spark.implicits._
    // (3,4): keeping dim 1 of 2 retains 9/25 energy, cos = 3/5
    val one = Seq((1L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val r = Similarity.truncationQuality(one, col("vec_id"), col("embedding"), 1)
      .collect()(0)
    assert(r.getDouble(1) === 9.0 / 25.0)
    assert(r.getDouble(2) === 3.0 / 5.0)
    // corpus: energy in (0,1], cosine = sqrt(energy), k=64 retains all
    val q = Similarity.truncationQuality(emb, col("vec_id"), col("embedding"), 32)
      .collect()
    q.foreach { row =>
      val e = row.getDouble(1)
      assert(e > 0.0 && e <= 1.0)
      assert(row.getDouble(2) === math.sqrt(e))
    }
    val full = Similarity.truncationQuality(emb, col("vec_id"), col("embedding"), 64)
      .collect()
    full.foreach(row => assert(row.getDouble(1) === 1.0))
  }

  test("knn classify: majority vote, smallest label on tie, self excluded") {
    import spark.implicits._
    // query 1 at origin-ish; neighbors: two label-7 close, one label-3
    // close, two label-9 far → k=3 picks {7,7,3} → 7; k=5 adds {9,9} →
    // 7:2, 9:2, 3:1 → tie 7 vs 9 → smallest label 7
    val docs = Seq(
      (1L, Array(1.0, 0.0), 0),
      (2L, Array(0.99, 0.1), 7), (3L, Array(0.98, 0.12), 7),
      (4L, Array(0.97, 0.2), 3),
      (5L, Array(0.0, 1.0), 9), (6L, Array(0.1, 1.0), 9))
      .toDF("vec_id", "embedding", "label")
    val q = docs.filter(col("vec_id") === 1L)
    def run(k: Int) = Similarity
      .knnClassify(q, docs, "vec_id", "embedding", "label", k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(run(3) === Seq((1L, 7, 2L)))
    assert(run(5) === Seq((1L, 7, 2L))) // 7 vs 9 tie → smallest label
  }

  test("hard negatives: same-label excluded even when nearest; rank order") {
    import spark.implicits._
    // anchor 1 (label 0): vector 2 is its NEAREST neighbor but shares the
    // label → must be excluded; the mined negatives are the other-label
    // vectors in cosine order: 3 (closest, label 7), then 4 (label 3),
    // then 5 (label 9, orthogonal-ish).
    val docs = Seq(
      (1L, Array(1.0, 0.0), 0),
      (2L, Array(0.999, 0.01), 0), // same label: never a negative
      (3L, Array(0.98, 0.1), 7),
      (4L, Array(0.9, 0.3), 3),
      (5L, Array(0.0, 1.0), 9))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
        docs, "vec_id", "embedding", "label", col("vec_id") === 1L, 3)
      .collect().map(r => (r.getInt(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got === Seq((1, 3L), (2, 4L), (3, 5L)))
  }

  test("semantic decontamination: paraphrase flagged, clean doc passes, eval tie by id") {
    import spark.implicits._
    // train 100 sits on eval 1's direction (leaked paraphrase), train
    // 101 is orthogonal to both evals; evals 1 and 2 are identical so
    // the best-match tie breaks to the smaller eval id.
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)), // eval twins
      (100L, Array(0.999, 0.04)),                    // leaked train doc
      (101L, Array(0.0, 1.0)))                       // clean train doc
      .toDF("vec_id", "embedding")
    val evalSet = emb.filter(col("vec_id") < 100L)
    val train = emb.filter(col("vec_id") >= 100L)
    val out = Similarity.semanticDecontamination(
      train, evalSet, "vec_id", "embedding", threshold = 0.9)
    out.collect() // finalize AQE stages for the plan check
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got === Seq((100L, 1L, 2L)), "leaked doc → both evals, tie to 1")
    // scale shape: the eval side broadcasts — the training corpus never
    // sort-merge-joins for the decontamination scan
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rocchio: beta=0 degenerates to plain top-k; feedback flips ranks") {
    import spark.implicits._
    // unit vectors: s/t mirror each other around the query axis (equal
    // round-1 relevance, tie to s by id), u sits toward s's side.
    val docs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),                 // query
      (2L, Array(0.9, 0.43589, 0.0)),            // s: feedback doc
      (3L, Array(0.9, -0.43589, 0.0)),           // t: mirrored twin
      (4L, Array(0.6, 0.8, 0.0)))                // u: s-side topic doc
      .toDF("vec_id", "embedding")
    val q = docs.filter(col("vec_id") === 1L)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect().map(_.getLong(2)).toSeq
    // law: alpha=1, beta=0 → q' = q exactly → identical to bruteForceTopK
    val plain = Similarity.bruteForceTopK(q, docs, "vec_id", "embedding", 3)
    val degen = Similarity.rocchioExpand(q, docs, "vec_id", "embedding",
      kFb = 2, k = 3, alpha = 1.0, beta = 0.0)
    assert(ranks(degen) === ranks(plain))
    assert(ranks(plain) === Seq(2L, 3L, 4L)) // s, t (tie→s first), u
    // feedback on s (kFb=1, round-1 winner by tie) pulls the refined
    // query toward s's side: the topic doc u overtakes the mirror twin t
    val fed = Similarity.rocchioExpand(q, docs, "vec_id", "embedding",
      kFb = 1, k = 3, alpha = 0.2, beta = 0.8)
    assert(ranks(fed) === Seq(2L, 4L, 3L), "u must overtake t")
  }

  test("mmr: redundant twin demoted below the orthogonal doc, ties by id") {
    import spark.implicits._
    // anchor 1 = [1,0]; c2 and c3 are IDENTICAL max-relevance docs
    // (rel 1, mutual sim 1), c4 is orthogonal (rel 0, sim-to-selected 0).
    // Plain top-2 returns the twins; MMR at lambda=0.3:
    //   step 1: c2 (rel tie 1.0 → smallest id)
    //   step 2: c3 scores 0.3·1 − 0.7·1 = −0.4, c4 scores 0 → c4 wins
    //   step 3: c3 last
    val docs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(1.0, 0.0)), (4L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(
        docs.filter(col("vec_id") === 1L), docs, "vec_id", "embedding",
        m = 3, k = 3, lambda = 0.3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq((1, 2L), (2, 4L), (3, 3L)))
    assert(got(0)._3 === 0.3 && got(1)._3 === 0.0 &&
      got(2)._3 === (0.3 * 1.0 - 0.7 * 1.0)) // IEEE: not exactly −0.4
    // plain top-3 keeps the twins adjacent — the redundancy MMR fixes
    val plain = Similarity.bruteForceTopK(
        docs.filter(col("vec_id") === 1L), docs, "vec_id", "embedding", 2)
      .collect().map(_.getLong(2)).toSeq
    assert(plain === Seq(2L, 3L))
  }

  test("centroid outliers: planted far vector ranks first, exact distance") {
    import spark.implicits._
    // label 0: three identical vectors at (1,0) plus one at (5,0) —
    // centroid = (2, 0); label 1: two identical vectors (dist 0, tie by
    // id). dist2_nano is exact integer arithmetic: for the planted
    // outlier (5-2)² = 9 → 9e9; for the cluster (1-2)² = 1 → 1e9.
    val docs = Seq(
      (1L, Array(1.0, 0.0), 0), (2L, Array(1.0, 0.0), 0),
      (3L, Array(1.0, 0.0), 0), (4L, Array(5.0, 0.0), 0),
      (10L, Array(2.0, 2.0), 1), (11L, Array(2.0, 2.0), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .centroidOutliers(docs, "vec_id", "embedding", "label", topN = 1)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getBoolean(4)))
      .toSet
    assert(got === Set(
      (0, 4L, 9000000000L, 1, true),
      (0, 1L, 1000000000L, 2, false),
      (0, 2L, 1000000000L, 3, false),
      (0, 3L, 1000000000L, 4, false),
      (1, 10L, 0L, 1, true),
      (1, 11L, 0L, 2, false)))
  }

  test("mips: a magnitude-flip corpus separates inner-product from cosine ranking") {
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // (on the fixture MIPS ≡ cosine ranking — the vectors are
    // unit-normalized — so magnitude-awareness needs its own corpus)
    import spark.implicits._
    val docs = Seq(
      (1L, Array(1.0, 0.0)),   // query
      (2L, Array(0.9, 0.1)),   // best direction, small magnitude
      (3L, Array(5.0, 4.0)))   // worse direction, big magnitude
      .toDF("vec_id", "embedding")
    val qd = docs.filter(col("vec_id") === 1L)
    val mips = triples(Similarity.mipsTopK(qd, docs, "vec_id", "embedding", 2))
    val cos = triples(
      Similarity.bruteForceTopK(qd, docs, "vec_id", "embedding", 2))
    assert(mips === Set((1L, 1, 3L), (1L, 2, 2L))) // ip 5.0 beats 0.9
    assert(cos === Set((1L, 1, 2L), (1L, 2, 3L)))  // cosine flips them
  }

  test("pq: codebook-aligned corpus makes ADC exact, ranking = brute force") {
    import spark.implicits._
    // k = corpus size and 0 Lloyd updates → codebooks ARE the corpus
    // subvectors, every vector reconstructs exactly, ADC ≡ true sq-dist
    val docs = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)), (1L, Array(1.0, 0.0, 0.0, 1.0)),
      (2L, Array(2.0, 2.0, 1.0, 1.0)), (3L, Array(5.0, 5.0, 3.0, 3.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(
        docs.filter(col("vec_id") === 1L), docs, "vec_id", "embedding",
        topK = 4, dim = 4, m = 2, codebookSize = 4, updates = 0)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // exact d² from q=v1: v1=0, v0=2, v2=6, v3=54
    assert(got.toSeq === Seq(
      (1, 1L, 0.0), (2, 0L, 2.0), (3, 2L, 6.0), (4, 3L, 54.0)))
  }

  test("pq ann recalls a useful fraction of exact L2 top-5") {
    val q = emb.filter(col("vec_id") < 20)
    val corp = emb.select(col("vec_id").as("c_id"),
      Similarity.asDouble(col("embedding")).as("cvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2").asc, col("c_id").asc)
    val exact = q.select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qvec"))
      .crossJoin(corp)
      .withColumn("d2", Similarity.sqDist(col("qvec"), col("cvec")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5,
        dim = 64, m = 8, codebookSize = 16, updates = 1)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    // uniform random embeddings are PQ's worst case (no cluster
    // structure to quantize); deterministic pipeline → stable value
    assert(recall >= 0.2, s"pq recall@5 = $recall")
    assert(pq.size === exact.size)
  }

  test("clusterCohesion matches hand-computed sums and brute-force pairs") {
    import spark.implicits._
    // label a: q = [64,0],[64,0],[0,64]; label b: a lone vector
    val df = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)), ("a", Seq(0.0f, 1.0f)),
      ("b", Seq(0.5f, 0.5f)))
      .toDF("label", "embedding")
    val rows = Similarity
      .clusterCohesion(df, col("label"), col("embedding"), qScale = 64)
      .collect()
      .map(r => r.getString(0) -> r).toMap
    // a: sum_self = 3·64² = 12288; Σq = [128,64] → ‖Σq‖² = 20480;
    //    pair_dot_sum = (20480−12288)/2 = 4096 — exactly the brute-force
    //    q1·q2 + q1·q3 + q2·q3 = 4096 + 0 + 0; mean over ordered pairs
    //    = 8192/6
    val a = rows("a")
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getDouble(4)) ===
      ((3L, 12288L, 4096L, 8192.0 / 6.0)))
    // b: q = [32,32] (floor(0.5·64 + 0.5) = 32, shared-grid rule);
    //    a singleton has no pairs → sum 0, mean null (guarded against
    //    ANSI divide-by-zero), the honest "undefined" answer
    val b = rows("b")
    assert(b.getLong(1) === 1L)
    assert(b.getLong(2) === 2L * 32L * 32L)
    assert(b.getLong(3) === 0L)
    assert(b.isNullAt(4))
  }

  test("recallAtK: exact arithmetic, zero-hit query kept, audit ivf floor") {
    import spark.implicits._
    // q1: 2 of 3 recovered; q2: none (must still appear at recall 0)
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("qid", "vec_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 98L))
      .toDF("qid", "vec_id")
    val got = graft.ops.Similarity.recallAtK(exact, approx)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 3L, 2.0 / 3.0)),
      2L -> ((0L, 1L, 0.0))))
    // REGRESSION GATES on the catalog audit — the audit used to only
    // measure; now a deliberate recall break turns the suite red. Floors
    // sit just under the measured operating points on the uniform-random
    // fixtures (ANN's hardest case: neighbors barely beat strangers —
    // IVF nprobe=4/16 measures 0.85, SRP 0.62 here; clustered real-world
    // embeddings recall far higher, and the dedup-relevant SRP pair path
    // is already gated at >=0.9 in the srpNearDupPairs test above).
    val audit = SparkEntry.queries("ss14_ann_recall_audit")(spark, sf)
      .collect()
    val ivfRows = audit.filter(_.getString(0) == "ivf")
    assert(ivfRows.length === 20)
    val ivfMacro = ivfRows.map(_.getDouble(4)).sum / ivfRows.length
    assert(ivfMacro >= 0.8, s"ivf macro recall@5 $ivfMacro < 0.8")
    val srpRows = audit.filter(_.getString(0) == "srp")
    assert(srpRows.length === 20)
    val srpMacro = srpRows.map(_.getDouble(4)).sum / srpRows.length
    // measured 0.52 at the suite's sf0.001 (0.62 at sf0.01) — floor sits
    // under the smaller fixture's operating point
    assert(srpMacro >= 0.5, s"srp macro recall@5 $srpMacro < 0.5")
  }

  test("ivf tuning curve: recall monotone in nprobe, exact at full probe") {
    val curve = SparkEntry.queries("ss15_ivf_tuning_curve")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(curve.keySet === Set(1, 2, 4, 8))
    assert(curve(1) <= curve(2) && curve(2) <= curve(4) &&
      curve(4) <= curve(8), s"recall not monotone: $curve")
    // absolute gates at the two operating points the docs recommend
    // (measured 0.85 / 0.93 on the fixtures — floors just underneath so
    // a recall regression fails loudly instead of shipping silently)
    assert(curve(4) >= 0.8, s"nprobe=4 recall ${curve(4)} < 0.8")
    assert(curve(8) >= 0.9, s"nprobe=8 recall ${curve(8)} < 0.9")
    // probing every list IS brute force — recall must be exactly 1
    import graft.ops.Similarity
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
    val full = Similarity.recallAtK(exact, Similarity.ivfTopK(
        q, emb, "vec_id", "embedding", 5, numCentroids = 16, nprobe = 16))
      .agg(sum("n_hits").cast("double") / sum("n_exact").cast("double"))
      .collect().head.getDouble(0)
    assert(full === 1.0, s"full-probe recall $full != 1.0")
  }
}
