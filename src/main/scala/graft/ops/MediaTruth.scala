package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Independent ground-truth generator for the multimodal catalog queries
  * (mm2–mm6) — the "pseudo-oracle" that moves them from rows-only to
  * value-checked.
  *
  * The media fixture is synthesized deterministically from the documents
  * table ([[Multimodal.mediaFromDocuments]]: text bytes as payload, kind
  * cycling by doc_id). Nothing in DuckDB can recompute a perceptual hash,
  * so instead this object REIMPLEMENTS the deterministic decode/feature
  * math as plain driver-side Scala — a second, Spark-free implementation
  * of the same specs (stub decode, 8×8/9×8 box-grid aHash/dHash, 65-frame
  * energy-gradient audio fingerprint, 32-bin pooled features, stride
  * frame sampling) — and writes the expected values as tiny parquet
  * tables. The driver's DuckDB oracle then reads those tables back (and
  * for mm5/mm6 recomputes the Hamming-pair joins ITSELF in SQL via
  * bit_count/xor over the truth hashes), so a change in either
  * implementation, the fixture bytes, or the pair logic surfaces as a
  * hash mismatch instead of passing silently.
  *
  * Driver-side `.collect()` is deliberate and bounded: this runs only
  * inside graft.Verify at the verification scale factor (hundreds of
  * rows), never in the library's scale paths.
  */
object MediaTruth {

  /** Where graft.Verify writes the truth tables and where the mm oracle
    * SQL reads them back: `media_truth` under the JVM's working directory
    * (the checkout, under sbt), an absolute path because the oracle SQL
    * embeds it and runs from an unknown cwd. Each checkout verifies into
    * its own. */
  val defaultDir: String =
    java.nio.file.Paths.get(sys.props("user.dir"), "media_truth").toString

  // ---- scalar re-specifications of the deterministic media math ----
  // (kept intentionally free of any reference to graft.ops.Multimodal:
  //  duplicating the SPEC, not sharing the code, is what makes the
  //  comparison a check rather than a tautology)

  /** Stub pseudo-decode: payload bytes cycled with a position mix. */
  private def fakeDecode(payload: Array[Byte], n: Int): Array[Float] = {
    if (payload == null || payload.isEmpty) Array.fill(n)(0.0f)
    else {
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        val b = payload(i % payload.length) & 0xff
        out(i) = ((b * 31 + i * 7) % 256) / 255.0f
        i += 1
      }
      out
    }
  }

  /** Box-average a row-major w×h grid onto gw×gh (index-floored cells,
    * ≥1 pixel each). */
  private def boxGrid(
      px: Array[Float], w: Int, h: Int, gw: Int, gh: Int): Array[Float] = {
    val out = new Array[Float](gw * gh)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var acc = 0f
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) { acc += px(y * w + x); x += 1 }
          y += 1
        }
        val n = (math.min(y1, h) - y0) * (math.min(x1, w) - x0)
        out(gy * gw + gx) = if (n > 0) acc / n else 0f
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** aHash (8×8 vs strict mean) and dHash (9×8 horizontal gradient). */
  private def hashes(px: Array[Float], w: Int, h: Int): (Long, Long) = {
    val a = boxGrid(px, w, h, 8, 8)
    var mean = 0f
    var i = 0
    while (i < 64) { mean += a(i); i += 1 }
    mean /= 64f
    var ahash = 0L
    i = 0
    while (i < 64) { if (a(i) > mean) ahash |= 1L << i; i += 1 }
    val d = boxGrid(px, w, h, 9, 8)
    var dhash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (d(y * 9 + x) > d(y * 9 + x + 1)) dhash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    (ahash, dhash)
  }

  /** 65-frame mean-energy gradient signature over mono samples. */
  private def audioFp(px: Array[Float]): Long = {
    val frames = 65
    val n = px.length
    val energy = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      val lo = (f.toLong * n / frames).toInt
      val hi = ((f + 1).toLong * n / frames).toInt
      var e = 0.0
      var i = lo
      while (i < hi) { e += px(i).toDouble * px(i); i += 1 }
      energy(f) = if (hi > lo) e / (hi - lo) else 0.0
      f += 1
    }
    var afp = 0L
    var b = 0
    while (b < 64) { if (energy(b + 1) > energy(b)) afp |= 1L << b; b += 1 }
    afp
  }

  /** 32-bin strided pooled feature sum, rounded like Spark's round(_, 4)
    * (HALF_UP over the decimal expansion of the double). */
  private def featSum(decoded: Array[Float]): Double = {
    val featDim = 32
    val feat = new Array[Float](featDim)
    val scale = decoded.length.toFloat / featDim
    var i = 0
    while (i < decoded.length) {
      feat(i % featDim) += decoded(i) / scale
      i += 1
    }
    var s = 0.0
    i = 0
    while (i < featDim) { s += feat(i).toDouble; i += 1 }
    java.math.BigDecimal.valueOf(s)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  // ---- truth-table emission ----

  /** Compute and write the expected mm2–mm6 values for the documents-
    * derived media fixture of `sfDir` as parquet under `outDir`:
    * `mm2.parquet` (media_id, kind, feat_dim, feat_sum), `mm3.parquet`
    * (media_id, frame_idx, frame_len, real_decode), `mm4.parquet`
    * (media_id, kind, real_decode, ahash, dhash), `mm6.parquet`
    * (media_id, real_decode, afp). The oracle SQL in MultimodalQueries
    * reads these back with read_parquet. */
  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val kinds = Array("image", "audio", "video")

    val mm2 = docs.map { case (id, text, _) =>
      val payload = text.getBytes("UTF-8")
      // every fixture payload is a text stand-in: ImageIO/WAV/GFV0 all
      // reject it, so the stub decode (256 samples) feeds the features
      (id, kinds((id % 3).toInt), 32, featSum(fakeDecode(payload, 256)))
    }.toSeq
    mm2.toDF("media_id", "kind", "feat_dim", "feat_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm2.parquet")

    val mm3 = docs.filter { case (id, _, _) => id % 3 == 2 }
      .flatMap { case (id, text, nChars) =>
        val payload = text.getBytes("UTF-8")
        val dur = (nChars * 10).toInt
        val n = math.min(math.max(dur / 1000, 1), 8)
        (0 until n).map { i =>
          val lo = math.min(i * 16, payload.length)
          val hi = math.min(lo + 16, payload.length)
          (id, i, hi - lo, false)
        }
      }.toSeq
    mm3.toDF("media_id", "frame_idx", "frame_len", "real_decode")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm3.parquet")

    val mm4 = docs.map { case (id, text, _) =>
      val payload = text.getBytes("UTF-8")
      val (a, d) = hashes(fakeDecode(payload, 256), 16, 16)
      (id, kinds((id % 3).toInt), false, a, d)
    }.toSeq
    mm4.toDF("media_id", "kind", "real_decode", "ahash", "dhash")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm4.parquet")

    val mm6 = docs.filter { case (id, _, _) => id % 3 == 1 }
      .map { case (id, text, _) =>
        (id, false, audioFp(fakeDecode(text.getBytes("UTF-8"), 1024)))
      }.toSeq
    mm6.toDF("media_id", "real_decode", "afp")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm6.parquet")

    // mm7 scene cuts: per-frame aHash over the same stub frame slicing
    // as mm3 (fixture payloads are text stand-ins → stub path); the
    // oracle recomputes the lag/Hamming/threshold machinery ITSELF in
    // SQL from these per-frame hashes.
    val mm7 = docs.filter { case (id, _, _) => id % 3 == 2 }
      .flatMap { case (id, text, nChars) =>
        val payload = text.getBytes("UTF-8")
        val dur = (nChars * 10).toInt
        val n = math.min(math.max(dur / 1000, 1), 8)
        (0 until n).map { i =>
          val lo = math.min(i * 16, payload.length)
          val hi = math.min(lo + 16, payload.length)
          val frame = java.util.Arrays.copyOfRange(payload, lo, hi)
          (id, i, hashes(fakeDecode(frame, 256), 16, 16)._1)
        }
      }.toSeq
    mm7.toDF("media_id", "frame_idx", "ahash")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/mm7.parquet")
  }
}
