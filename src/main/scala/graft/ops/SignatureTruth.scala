package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Independent ground-truth generator for the engine-seeded signature
  * queries (dd2/dd3/dd4/dd8/dd9/dd21, ta5/ta22) — the text/vector analog
  * of [[MediaTruth]], moving the deterministic half of the rows-only set
  * to value-checked.
  *
  * These queries were rows-only because their hash families (xxhash64 +
  * splitmix64 minhash, SimHash votes, SRP hyperplanes, Karp–Rabin rolling
  * hash) are engine-local — DuckDB cannot recompute them. But they are
  * fully DETERMINISTIC, so this object recomputes the per-document /
  * per-vector primitives as plain driver-side scalar Scala (tokenize →
  * shingle → hash → band; one tight loop per doc, no Spark expressions,
  * no DataFrames in the math) and writes them as truth parquet. The
  * DuckDB oracle then:
  *   - reads primitive values back directly (dd2 signatures, dd4 simhash,
  *     ta5 fingerprints, ta22 scores, dd9 verified pairs), and
  *   - RECOMPUTES the pair pipelines itself in SQL where the math is
  *     exact (dd3/dd21: band-collision candidates + set-Jaccard verify
  *     via list_intersect; dd8: Hamming via bit_count/xor) — so the
  *     distributed join/dedup/argmax machinery is value-checked end to
  *     end, not just the hashes.
  *
  * The only shared code with the engine is Spark's published hash
  * utilities (XXH64, Murmur3_x86_32) — stable public algorithms, reused
  * the way one reuses a crypto library; every pipeline step around them
  * is re-derived from the spec. Driver-side `.collect()` is deliberate
  * and bounded: this runs only inside graft.Verify at verification scale.
  */
object SignatureTruth {

  /** Where graft.Verify writes the truth tables and where the oracle SQL
    * reads them back: `sig_truth` under the JVM's working directory (the
    * checkout, under sbt), an absolute path because the oracle SQL embeds
    * it and runs from an unknown cwd. Each checkout verifies into its own. */
  val defaultDir: String =
    java.nio.file.Paths.get(sys.props("user.dir"), "sig_truth").toString

  // ---- scalar re-specifications ----

  private def xxh64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(UTF8String.fromString(s), 42L)

  /** splitmix64-based minhash family mix (masked non-negative). */
  private def mix(h: Long, i: Int): Long = {
    var z = h + 0x9e3779b97f4a7c15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private def tokens(text: String): Array[String] =
    text.toLowerCase.split("\\s+", -1)

  private def wordShingles(toks: Array[String], n: Int): Array[String] = {
    val count = math.max(toks.length - (n - 1), 1)
    Array.tabulate(count)(i =>
      toks.slice(i, math.min(i + n, toks.length)).mkString(" "))
  }

  private def minhash(shingles: Iterable[String], numHashes: Int): Array[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h = xxh64(s)
      var i = 0
      while (i < numHashes) {
        val m = mix(h, i)
        if (m < mins(i)) mins(i) = m
        i += 1
      }
    }
    mins
  }

  /** Spark `hash(lit(band), slice(sig, …))`: murmur3 seed 42, int then
    * each long element folded through the running hash. */
  private def bandKey(band: Int, slice: Array[Long]): Int = {
    var h = Murmur3_x86_32.hashInt(band, 42)
    slice.foreach(e => h = Murmur3_x86_32.hashLong(e, h))
    h
  }

  private def simhash(toks: Array[String]): Long = {
    val votes = new Array[Int](64)
    toks.foreach { t =>
      val h = xxh64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** Karp–Rabin rolling min-hash: base-257 wrap-around polynomial over
    * UTF-8 bytes, minimum over all windows of `window` bytes. */
  private def rollingMin(text: String, window: Int): Long = {
    val bytes = text.getBytes("UTF-8")
    val n = bytes.length
    if (n == 0) return 0L
    val w = math.min(window, n)
    var pw = 1L
    var i = 0
    while (i < w) { pw *= 257L; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * 257L + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = w
    while (i < n) {
      h = h * 257L + (bytes(i) & 0xff) - pw * (bytes(i - w) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }

  private def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }

  /** Hashed-feature linear classifier score (ta22): token+bigram features,
    * xxhash64 bucket → deterministic weight, sum / sqrt(n), sigmoid. */
  private def classifierScore(text: String, dim: Long = 1L << 20): Double = {
    val toks = text.trim.toLowerCase.split("[^\\p{L}\\p{Nd}]+", -1)
      .filter(_.nonEmpty)
    val bigrams =
      if (toks.length < 2) Array.empty[String]
      else Array.tabulate(toks.length - 1)(i => s"${toks(i)} ${toks(i + 1)}")
    val feats = toks ++ bigrams
    var raw = 0.0
    feats.foreach { f =>
      val bucket = pmod(xxh64(f), dim)
      raw += pmod(bucket * 2654435761L, 1000003L).toDouble / 1000003.0 - 0.5
    }
    val norm = raw / math.sqrt(math.max(feats.length, 1).toDouble)
    // StrictMath, not Math: Spark's whole-stage codegen emits
    // java.lang.StrictMath.exp, which differs from Math.exp by 1 ulp on
    // some inputs (observed at sf0.01 row 38) — sqrt is exempt (IEEE
    // exactly-rounded in both).
    1.0 / (1.0 + StrictMath.exp(-norm * 4.0))
  }

  // SRP hyperplanes — same deterministic splitmix64 stream as the native
  // expression (unmasked: sign carries into the plane component).
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def plane(table: Int, bit: Int, j: Int): Double =
    splitmix64(table.toLong * 262147 + bit.toLong * 4099 + j).toDouble /
      Long.MaxValue.toDouble

  private def srpSigs(
      vec: Array[Float], tables: Int, bits: Int, dim: Int): Array[Int] = {
    val n = math.min(vec.length, dim)
    Array.tabulate(tables) { t =>
      var sig = 0
      var b = 0
      while (b < bits) {
        var acc = 0.0
        var j = 0
        while (j < n) { acc += vec(j).toDouble * plane(t, b, j); j += 1 }
        if (acc > 0) sig |= 1 << b
        b += 1
      }
      sig
    }
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  // ---- truth-table emission ----

  /** Write the signature truth tables for `sfDir`'s fixtures under
    * `outDir`: `docs.parquet` (per-doc primitives: sorted-distinct
    * shingle set, first two minhash values, simhash + first chunk,
    * rolling fingerprint, classifier score), `bands.parquet` (exploded
    * LSH band keys for the shingleN=3/numHashes=32/bands=8 config shared
    * by dd2/dd3/dd21), and `srp_pairs.parquet` (dd9's verified
    * cosine-pair set at threshold 0.4, tables=32/bits=4). */
  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import spark.implicits._
    val numHashes = 32
    val bands = 8
    val r = numHashes / bands

    val docsFull = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source", "n_chars").collect()
      .map(rw => (rw.getLong(0), rw.getString(1), rw.getString(2),
        rw.getLong(3)))
    val docs = docsFull.map { case (id, text, _, _) => (id, text) }

    val perDoc = docs.map { case (id, text) =>
      val toks = tokens(text)
      val shingleSet =
        wordShingles(toks, 3).distinct.sorted(Ordering.String)
      val sig = minhash(shingleSet, numHashes)
      val sh = simhash(toks)
      (id, shingleSet.toSeq, sig(0), sig(1), sh, sh & 0xffffL,
        rollingMin(text, 16), classifierScore(text),
        Seq.tabulate(bands)(b =>
          bandKey(b, sig.slice(b * r, b * r + r))))
    }
    perDoc.toSeq.toDF("doc_id", "shingles", "mh_0", "mh_1", "simhash",
        "chunk0", "fingerprint", "cls_score", "bkeys")
      .drop("bkeys")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/docs.parquet")
    perDoc.flatMap { case (id, _, _, _, _, _, _, _, bkeys) =>
      bkeys.zipWithIndex.map { case (k, b) => (id, b, k) }
    }.toSeq.toDF("doc_id", "band", "key")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/bands.parquet")

    // dd9: SRP-LSH near-dup pairs over embeddings, verified with the
    // exact-cosine formula in the same fold order as the engine (float
    // widened to double, ascending index) — the float math cannot be
    // recomputed bit-exactly in SQL, so the PAIRS are the truth.
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(rw => (rw.getLong(0), rw.getSeq[Float](1).toArray))
    val sigs = emb.map { case (id, v) => id -> srpSigs(v, 32, 4, 64) }
    val byBucket = scala.collection.mutable.HashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Long]]
    sigs.foreach { case (id, ss) =>
      ss.zipWithIndex.foreach { case (s, t) =>
        byBucket.getOrElseUpdate((t, s),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
    }
    val cand = scala.collection.mutable.HashSet.empty[(Long, Long)]
    byBucket.values.foreach { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        cand += ((sorted(i), sorted(j)))
    }
    val vecs = emb.toMap
    val nrm = emb.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val pairs = cand.toSeq
      .filter { case (a, b) =>
        dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b)) >= 0.4 }
      .sorted
    pairs.toDF("id_a", "id_b")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/srp_pairs.parquet")

    // ---- ANN truth (ss2/ss14/ss15): brute-force, SRP and IVF top-k are
    // all deterministic (same cosine fold, total (cos desc, id asc)
    // tie-breaks), so their outputs and the recall audits derived from
    // them are recomputable exactly.
    def cos(a: Long, b: Long): Double = dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b))
    val qids = emb.map(_._1).filter(_ < 20).sorted
    val corpusIds = emb.map(_._1).sorted
    def topK(qid: Long, candidates: Iterable[Long], k: Int): Seq[(Long, Double)] =
      candidates.filter(_ != qid).map(id => id -> cos(qid, id)).toSeq
        .sortBy { case (id, c) => (-c, id) }.take(k)

    val exactTop = qids.map(q => q -> topK(q, corpusIds, 5)).toMap

    // ss18 MMR truth: the greedy maximal-marginal-relevance spec
    // re-implemented (m=10, k=5, lambda=0.5) — same candidate order,
    // same `lambda·rel − (1−lambda)·max-sim` evaluation, same total
    // tie-breaks, so scores compare hash-exact.
    val mmrRows = qids.flatMap { q =>
      val cands = topK(q, corpusIds, 10)
      val rel = cands.toMap
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val remaining =
        scala.collection.mutable.LinkedHashSet(cands.map(_._1): _*)
      val rows =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      var step = 1
      while (step <= 5 && remaining.nonEmpty) {
        val best = remaining.toSeq.map { c =>
          val div =
            if (selected.isEmpty) 0.0
            else selected.map(s => cos(c, s)).max
          (c, 0.5 * rel(c) - (1.0 - 0.5) * div)
        }.minBy { case (c, s) => (-s, c) }
        rows += ((q, step, best._1, best._2))
        selected += best._1
        remaining -= best._1
        step += 1
      }
      rows
    }
    mmrRows.toSeq.toDF("qid", "sel_rank", "vec_id", "mmr_score")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mmr.parquet")

    // SRP ANN (tables=16, bits=6): candidates share any (table, sig).
    val sigs6 = emb.map { case (id, v) => id -> srpSigs(v, 16, 6, 64) }.toMap
    val srpBuckets6 = scala.collection.mutable.HashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Long]]
    corpusIds.foreach { id =>
      sigs6(id).zipWithIndex.foreach { case (s, t) =>
        srpBuckets6.getOrElseUpdate((t, s),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
      }
    }
    val srpTop = qids.map { q =>
      val candIds = sigs6(q).zipWithIndex.flatMap { case (s, t) =>
        srpBuckets6.getOrElse((t, s), Nil)
      }.toSet
      q -> topK(q, candIds, 5)
    }.toMap
    srpTop.toSeq.sortBy(_._1).flatMap { case (q, top) =>
      top.zipWithIndex.map { case ((id, _), i) => (q, i + 1, id) }
    }.toDF("qid", "rank", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ss2.parquet")

    // IVF: 16 lowest-id centroids; corpus assigned to its nearest (by
    // cosine, ties to lowest cid); queries probe their nprobe nearest.
    val centIds = corpusIds.take(16)
    def nearestCents(id: Long, keep: Int): Seq[Long] =
      centIds.map(c => c -> cos(id, c)).sortBy { case (c, cc) => (-cc, c) }
        .take(keep).map(_._1)
    val assigned: Map[Long, Seq[Long]] =
      corpusIds.toSeq.groupBy(id => nearestCents(id, 1).head)
    def ivfTop(q: Long, nprobe: Int): Seq[(Long, Double)] =
      topK(q, nearestCents(q, nprobe).flatMap(c =>
        assigned.getOrElse(c, Seq.empty[Long])), 5)

    def recallRows(approx: Map[Long, Seq[(Long, Double)]]) =
      qids.map { q =>
        val e = exactTop(q).map(_._1).toSet
        val hits = approx(q).map(_._1).count(e.contains)
        (q, hits.toLong, e.size.toLong, hits.toDouble / e.size.toDouble)
      }
    val ivf4 = qids.map(q => q -> ivfTop(q, 4)).toMap
    (recallRows(ivf4).map { case (q, h, e, r) => ("ivf", q, h, e, r) }.toSeq ++
      recallRows(srpTop).map { case (q, h, e, r) => ("srp", q, h, e, r) }.toSeq)
      .toDF("method", "qid", "n_hits", "n_exact", "recall")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ss14.parquet")

    Seq(1, 2, 4, 8).map { np =>
      val rows = recallRows(qids.map(q => q -> ivfTop(q, np)).toMap)
      val hits = rows.map(_._2).sum
      val possible = rows.map(_._3).sum
      (np, hits, possible, hits.toDouble / possible.toDouble)
    }.toDF("nprobe", "hits", "possible", "macro_recall")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ss15.parquet")

    // ---- PQ/ADC truth (ss10): deterministic end to end — lowest-id
    // codebook seeds, ONE Lloyd round with exact-DECIMAL(18,9) per-dim
    // means, first-minimum argmin encoding, left-fold ADC sum, total
    // (approx_d2 asc, vec_id asc) rank. Replicated with the same decimal
    // rounding (HALF_UP at scale 9) and fold orders.
    val dim = 64; val m = 8; val sub = dim / m; val cbSize = 16
    val dvecs: Map[Long, Array[Double]] =
      emb.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def slice(id: Long, j: Int): Array[Double] =
      dvecs(id).slice(j * sub, j * sub + sub)
    def sqd(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val books: Seq[Seq[Array[Double]]] = (0 until m).map { j =>
      var cents: Seq[(Long, Array[Double])] =
        corpusIds.take(cbSize).map(id => id -> slice(id, j)).toSeq
      // one Lloyd update: assign by (d2 asc, cid asc), per-dim decimal mean
      val byCid = corpusIds.toSeq.groupBy { id =>
        cents.map { case (cid, cv) => (cid, sqd(slice(id, j), cv)) }
          .minBy { case (cid, d2) => (d2, cid) }._1
      }
      cents = cents.map { case (cid, old) =>
        val members = byCid.getOrElse(cid, Seq.empty)
        if (members.isEmpty) cid -> old
        else cid -> Array.tabulate(sub) { d =>
          val s = members.map(id =>
            JBD.valueOf(slice(id, j)(d)).setScale(9, RM.HALF_UP))
            .reduce(_ add _)
          s.doubleValue() / members.size.toDouble
        }
      }
      cents.sortBy(_._1).map(_._2)
    }
    val codes: Map[Long, Array[Int]] = corpusIds.map { id =>
      id -> Array.tabulate(m) { j =>
        val dists = books(j).map(c => sqd(slice(id, j), c))
        dists.indexOf(dists.min) // first minimum = lowest code
      }
    }.toMap
    qids.flatMap { q =>
      val luts = (0 until m).map(j => books(j).map(c => sqd(slice(q, j), c)))
      corpusIds.map { id =>
        var d2 = 0.0
        var j = 0
        while (j < m) { d2 += luts(j)(codes(id)(j)); j += 1 }
        (q, id, d2)
      }.sortBy { case (_, id, d2) => (d2, id) }.take(5).zipWithIndex
        .map { case ((qq, id, _), i) => (qq, i + 1, id) }
    }.toSeq.toDF("qid", "rank", "vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ss10.parquet")

    // ---- IVF-PQ/ADC truth (ss20): coarse = 8 lowest-id vectors (fixed
    // seeds, no Lloyd), corpus assigned by (squared-L2 asc, cid asc);
    // shared residual codebooks per subspace seeded from the cb20=32
    // lowest-id residual slices + ONE decimal-mean Lloyd round;
    // first-minimum encoding; left-fold ADC over the nprobe=4 probed
    // cells; top-5 by (d2 asc, id asc), self excluded. Same decimal
    // rounding / fold orders as the ss10 replication above. (nprobe/
    // cb20 track the catalog entry's round-19 adopted operating point;
    // ss10 keeps the shared cbSize=16 tree.)
    {
      val nCoarse = 8; val nprobe = 4; val cb20 = 32
      val coarse: Seq[(Long, Array[Double])] =
        corpusIds.take(nCoarse).map(id => id -> dvecs(id)).toSeq
      val cById = coarse.toMap
      def residOf(id: Long, cid: Long): Array[Double] = {
        val v = dvecs(id); val c = cById(cid)
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
      val assignedCid: Map[Long, Long] = corpusIds.map { id =>
        id -> coarse.map { case (cid, cv) => (cid, sqd(dvecs(id), cv)) }
          .minBy { case (cid, d2) => (d2, cid) }._1
      }.toMap
      def rslice(id: Long, j: Int): Array[Double] =
        residOf(id, assignedCid(id)).slice(j * sub, j * sub + sub)
      val books20: Seq[Seq[Array[Double]]] = (0 until m).map { j =>
        var cents: Seq[(Long, Array[Double])] =
          corpusIds.take(cb20).map(id => id -> rslice(id, j)).toSeq
        // one Lloyd update: assign by (d2 asc, seed-id asc), decimal mean
        val byCid = corpusIds.toSeq.groupBy { id =>
          cents.map { case (cid, cv) => (cid, sqd(rslice(id, j), cv)) }
            .minBy { case (cid, d2) => (d2, cid) }._1
        }
        cents = cents.map { case (cid, old) =>
          val members = byCid.getOrElse(cid, Seq.empty)
          if (members.isEmpty) cid -> old
          else cid -> Array.tabulate(sub) { d =>
            val s = members.map(id =>
              JBD.valueOf(rslice(id, j)(d)).setScale(9, RM.HALF_UP))
              .reduce(_ add _)
            s.doubleValue() / members.size.toDouble
          }
        }
        cents.sortBy(_._1).map(_._2)
      }
      val codes20: Map[Long, Array[Int]] = corpusIds.map { id =>
        id -> Array.tabulate(m) { j =>
          val dists = books20(j).map(c => sqd(rslice(id, j), c))
          dists.indexOf(dists.min)
        }
      }.toMap
      qids.flatMap { q =>
        val probes = coarse
          .map { case (cid, cv) => (cid, sqd(dvecs(q), cv)) }
          .sortBy { case (cid, d2) => (d2, cid) }.take(nprobe).map(_._1)
        probes.flatMap { cid =>
          val qres = residOf(q, cid)
          val luts = (0 until m).map(j =>
            books20(j).map(c => sqd(qres.slice(j * sub, j * sub + sub), c)))
          corpusIds.filter(id => assignedCid(id) == cid && id != q)
            .map { id =>
              var d2 = 0.0; var j = 0
              while (j < m) { d2 += luts(j)(codes20(id)(j)); j += 1 }
              (id, d2)
            }
        }.sortBy { case (id, d2) => (d2, id) }.take(5).zipWithIndex
          .map { case ((id, _), i) => (q, i + 1, id) }
      }.toSeq.toDF("qid", "rank", "vec_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ss20.parquet")
    }

    // ---- weighted-sample truth (pl10): A-ES (exponential-sort) weighted
    // k-sample with the xxhash64-derived uniform draw — deterministic
    // pure function of (seed, key). StrictMath.pow matches Spark's
    // codegen (same 1-ulp caveat as the classifier sigmoid).
    val hSeed = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(3L, 42L)
    docsFull.map { case (id, _, source, nChars) =>
      val u = (org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(id, hSeed) >>> 1).toDouble / 9.223372036854776e18
      val aes = StrictMath.pow(u, 1.0 / nChars.toDouble)
      (id, source, nChars, aes)
    }.toSeq
      .sortBy { case (id, _, _, aes) => (-aes, id) }.take(50)
      .map { case (id, source, nChars, _) => (id, source, nChars) }
      .sortBy(_._1)
      .toDF("doc_id", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/pl10.parquet")

    // ---- mixture-sample truth (pl7): the portable hash-Bernoulli
    // mixture — replicate the data-dependent fraction math (normalized
    // shares, binding source kept whole at EXACTLY 1.0, per-source
    // downsample fractions) and the md5-range selection.
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shares = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val wantTotal = shares.values.sum
    val want = shares.map { case (k, v) => k -> v / wantTotal }
    val have: Map[String, Long] = docsFull
      .filter { case (_, _, src, _) => want.contains(src) }
      .groupBy(_._3).map { case (k, rows) => k -> rows.length.toLong }
    val bindingKey = have.minBy { case (k, n) => n / want(k) }._1
    val outTotal = have(bindingKey) / want(bindingKey)
    val fracs = want.map { case (k, w) =>
      k -> (if (k == bindingKey) 1.0
            else math.min(1.0, outTotal * w / have(k)))
    }
    docsFull.collect {
      case (id, _, src, _) if want.contains(src) &&
          (fracs(src) >= 1.0 ||
            md5hex(s"11:$id") < Pipeline.md5Bound(fracs(src))) =>
        (id, src)
    }.toSeq.sortBy(_._1).toDF("doc_id", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/pl7.parquet")
  }
}
