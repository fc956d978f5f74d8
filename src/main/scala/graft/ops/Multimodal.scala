package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads plus typed metadata, with decode / feature-extraction /
  * resize / frame-sampling as partition-batched operators.
  *
  * IMAGE decode is REAL: `javax.imageio` (JDK-only — PNG/GIF/BMP/JPEG,
  * no external codecs needed) decodes `kind=image` payloads to grayscale
  * pixels inside the partition batch loop. AUDIO decode is REAL for
  * RIFF/WAVE PCM16 (a pure container format — hand-rolled chunk walk, no
  * codec): `kind=audio` payloads decode to mono float samples. Payloads
  * VIDEO is real for the engine's GFV0 frame container (length-prefixed
  * PNG/JPEG frames, [[packVideo]]) — frame extraction parses actual byte
  * framing and per-frame pixel work runs ImageIO (this environment ships
  * no general video codecs, so foreign formats can't be parsed). Payloads
  * that are not decodable media (the documents-derived fixture uses text
  * bytes as stand-in payloads) fall back to the deterministic STUB
  * pseudo-decode, flagged `real_decode=false` wherever surfaced.
  * Everything around the decode is the real scale plumbing — schema,
  * binary handling, mapPartitions batching (the Scala analog of
  * `mapInPandas`: one JVM-side batch loop per partition, codec state
  * initialized once per partition, never per row), and fixed-shape feature
  * output ready for the Similarity operators.
  */
object Multimodal {

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", IntegerType))), nullable = true)))

  /** Build a deterministic media table from the documents fixture: the
    * text bytes stand in for an encoded payload (STUB data, real schema).
    * Kind cycles image/audio/video; metadata is derived from sizes. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("n_chars"), lit(64)) + 32).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) + 24).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") * 10).cast("int").as("duration_ms")).as("meta"))

  /** Real image decode via the JDK's ImageIO: payload bytes → row-major
    * grayscale pixels in [0, 1] ((r+g+b) / (3·255)). Returns None when
    * the payload is not a decodable image (ImageIO.read's null contract)
    * so the caller can fall back to the stub pseudo-decode. ImageIO's
    * format sniffing reads the payload's magic bytes — no kind metadata
    * trust needed. */
  private def decodeImagePixels(
      payload: Array[Byte]): Option[(Array[Float], Int, Int)] = {
    if (payload == null || payload.isEmpty) None
    else {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Float](w * h)
        var y = 0
        var i = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            out(i) = (r + g + b) / (3f * 255f)
            i += 1
            x += 1
          }
          y += 1
        }
        Some((out, w, h))
      }
    }
  }

  /** Real audio decode for canonical RIFF/WAVE PCM16: payload bytes →
    * mono float samples in [-1, 1) (multi-channel frames averaged).
    * Hand-rolled RIFF chunk walk — WAV is a pure container format the JDK
    * can parse without codecs, the audio analog of the ImageIO path
    * above. Returns None when the payload is not a PCM16 WAV (magic or
    * fmt mismatch, truncated chunks) so the caller falls back to the
    * stub, same contract as [[decodeImagePixels]]. */
  private def decodeWavSamples(payload: Array[Byte]): Option[Array[Float]] = {
    if (payload == null || payload.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var channels = 0
    var bitsPerSample = 0
    var isPcm = false
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= payload.length) {
      val id = tag(pos)
      val sz = bb.getInt(pos + 4)
      // LONG arithmetic: a corrupt/hostile sz near Int.MaxValue overflows
      // `pos + 8 + sz` in ints, slips past this guard as negative, walks
      // `pos` negative and throws inside the task — violating the
      // fall-back-to-stub contract for undecodable payloads (round-16
      // review). All terms are < 2^31, so the long sum is exact.
      if (sz < 0 || pos.toLong + 8L + sz > payload.length) return None
      if (id == "fmt " && sz >= 16) {
        isPcm = bb.getShort(pos + 8) == 1
        channels = bb.getShort(pos + 10)
        bitsPerSample = bb.getShort(pos + 22)
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = sz
      }
      pos += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (!isPcm || bitsPerSample != 16 || channels < 1 || dataOff < 0) None
    else {
      val nFrames = dataLen / (2 * channels)
      if (nFrames == 0) None
      else {
        val out = new Array[Float](nFrames)
        var f = 0
        while (f < nFrames) {
          var acc = 0f
          var c = 0
          while (c < channels) {
            acc += bb.getShort(dataOff + 2 * (f * channels + c)) / 32768f
            c += 1
          }
          out(f) = acc / channels
          f += 1
        }
        Some(out)
      }
    }
  }

  /** ??? in spirit — deterministic fake decode (video, and image/audio
    * payloads that aren't really encoded media): expands payload bytes
    * into `n` "pixels/samples" by cycling with a position mix. Replace
    * with a real codec call; the partition-batch loop, schema, and
    * shapes stay. */
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

  private val featDim = 32

  /** Decode + fixed-shape feature extraction via mapPartitions: the
    * partition is the batch (codec init once, rows streamed through).
    * Output: (media_id, kind, feature array<float> of featDim). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("feature", ArrayType(FloatType))))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val projected = media.select("media_id", "kind", "payload")
    projected.mapPartitions { rows =>
      // per-partition "codec" init happens HERE (once), not per row —
      // disabling ImageIO's disk cache keeps the decode in-memory for
      // the whole partition batch
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val decoded: Array[Float] = r.getAs[String]("kind") match {
          case "image" =>
            decodeImagePixels(payload).map(_._1)
              .getOrElse(fakeDecode(payload, 256))
          case "audio" =>
            decodeWavSamples(payload).getOrElse(fakeDecode(payload, 256))
          case "video" =>
            // real path: first GFV0 frame's pixels (the thumbnail
            // feature); foreign containers fall back to the stub
            unpackVideo(payload)
              .flatMap(_.headOption)
              .flatMap(decodeImagePixels)
              .map(_._1)
              .getOrElse(fakeDecode(payload, 256))
          case _ => fakeDecode(payload, 256)
        }
        // pooled feature: deterministic, fixed shape regardless of the
        // decoded length (w·h real pixels or 256 stub samples) — each
        // bin sums its strided elements scaled by featDim/length
        val feat = new Array[Float](featDim)
        val scale = decoded.length.toFloat / featDim
        var i = 0
        while (i < decoded.length) {
          feat(i % featDim) += decoded(i) / scale
          i += 1
        }
        Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), feat.toSeq)
      }
    }(encoder)
  }

  /** Box-average `pixels` (row-major w×h grayscale) onto a gw×gh grid.
    * Cell ranges are index-floored with a ≥1-pixel guarantee, so any
    * image size ≥ 1×1 produces a full grid deterministically. */
  private def boxGrid(
      pixels: Array[Float], w: Int, h: Int,
      gw: Int, gh: Int): Array[Float] = {
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
          while (x < math.min(x1, w)) {
            acc += pixels(y * w + x)
            x += 1
          }
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

  /** Perceptual image hashes — the image analog of SimHash (dd4) for
    * near-duplicate image detection:
    *  - aHash: box-average to 8×8, threshold each cell STRICTLY above
    *    the 64-cell mean → bit (row·8+col);
    *  - dHash: box-average to 9×8, bit set when a cell strictly exceeds
    *    its right neighbor (horizontal gradient sign).
    * Visually-near images differ in few bits, so Hamming distance is the
    * dedup metric and [[nearDupImages]]' chunk-bucket join finds pairs
    * at scale without a pairwise scan. Real `javax.imageio` decode for
    * decodable payloads; the deterministic stub pseudo-decode (treated
    * as a 16×16 tile) otherwise, flagged in `real_decode`. Scan-local
    * partition-batch work — no shuffle.
    * Output: (media_id, kind, real_decode, ahash, dhash). */
  def perceptualHash(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("real_decode", BooleanType),
      StructField("ahash", LongType),
      StructField("dhash", LongType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "kind", "payload").mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val decoded = r.getAs[String]("kind") match {
          case "image" => decodeImagePixels(payload)
          case _ => None
        }
        val (px, w, h) = decoded.getOrElse((fakeDecode(payload, 256), 16, 16))
        // aHash: 8×8 cells vs their mean
        val a = boxGrid(px, w, h, 8, 8)
        var mean = 0f
        var i = 0
        while (i < 64) { mean += a(i); i += 1 }
        mean /= 64f
        var ahash = 0L
        i = 0
        while (i < 64) {
          if (a(i) > mean) ahash |= 1L << i
          i += 1
        }
        // dHash: 9×8 cells, horizontal gradient sign
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
        Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
          decoded.isDefined, ahash, dhash)
      }
    }(encoder)
  }

  /** Near-duplicate pairs from any 64-bit perceptual hash column:
    * candidates share one of the four 16-bit chunks (pigeonhole —
    * lossless for Hamming ≤ 3), then an exact popcount verifies. Same
    * scale shape as the SimHash text path: shuffles on (chunk index,
    * chunk value) keys only, never the n² pair space. */
  def nearDupByHash(
      hashes: DataFrame, hashCol: String, maxHamming: Int = 3): DataFrame = {
    val chunks = array((0 until 4).map(c =>
      shiftright(col(hashCol), c * 16).bitwiseAND(lit(0xffffL))): _*)
    val buckets = hashes.select(col("media_id"), col(hashCol),
      posexplode(chunks).as(Seq("chunk_idx", "chunk")))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col(s"a.$hashCol").bitwiseXOR(col(s"b.$hashCol")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate images from [[perceptualHash]] output (aHash leg). */
  def nearDupImages(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    nearDupByHash(hashes, "ahash", maxHamming)

  /** Audio envelope fingerprint — the audio analog of [[perceptualHash]]
    * (the Shazam-family idea reduced to one band): decode (real
    * RIFF/WAVE PCM16, deterministic stub otherwise), split the mono
    * samples into 65 equal time frames, per-frame mean energy, bit i =
    * sign of the energy gradient between frames i and i+1 → a 64-bit
    * signature. Gradient signs survive uniform gain (loudness
    * normalization can't split a duplicate pair) and near-identical
    * clips differ in few bits, so [[nearDupByHash]]'s chunk-bucket join
    * finds pairs at scale with no pairwise scan. Scan-local
    * partition-batch work, same discipline as every decode op.
    * Output: (media_id, kind, real_decode, afp). */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("real_decode", BooleanType),
      StructField("afp", LongType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select("media_id", "kind", "payload").mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val decoded = r.getAs[String]("kind") match {
          case "audio" => decodeWavSamples(payload)
          case _ => None
        }
        val px = decoded.getOrElse(fakeDecode(payload, 1024))
        val frames = 65
        val energy = new Array[Double](frames)
        val n = px.length
        var f = 0
        while (f < frames) {
          // equal partition of [0, n): frame f covers [f*n/65, (f+1)*n/65)
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
        while (b < 64) {
          if (energy(b + 1) > energy(b)) afp |= 1L << b
          b += 1
        }
        Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
          decoded.isDefined, afp)
      }
    }(encoder)
  }

  /** Image resize STUB: keeps the plumbing (binary in → binary out with
    * updated metadata); the byte-stride stands in for a real resampler. */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("payload",
        when(col("kind") === "image",
          // stride-sample the payload to w*h bytes (STUB for resample)
          slice_bytes(col("payload"), w * h))
        .otherwise(col("payload")))
      .withColumn("meta",
        when(col("kind") === "image",
          struct(lit(w).as("width"), lit(h).as("height"),
            col("meta.sample_rate").as("sample_rate"),
            col("meta.duration_ms").as("duration_ms")))
        .otherwise(col("meta")))

  private def slice_bytes(payload: org.apache.spark.sql.Column, n: Int) =
    expr(s"CASE WHEN length(payload) >= $n THEN substring(payload, 1, $n) " +
      s"ELSE payload END")

  /** Video frame-sampling STUB: one "frame" (byte window) per second of
    * duration, capped — demonstrates the explode-to-frames shape that a
    * real pipeline uses before per-frame feature extraction. */
  // ---- video frame container -------------------------------------------

  private val videoMagic: Array[Byte] = "GFV0".getBytes("US-ASCII")

  /** Pack image frames into the engine's minimal video container "GFV0":
    * 4-byte ASCII magic, big-endian int32 frame count, then per frame a
    * big-endian int32 length prefix and the encoded image bytes (PNG /
    * JPEG — anything ImageIO sniffs). The container is OURS (this repo
    * ships no ffmpeg), but everything downstream of it is REAL: frame
    * extraction parses actual byte framing and per-frame pixel work runs
    * javax.imageio decode — the part the earlier stub faked. */
  def packVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(_.length + 4).sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.put(videoMagic).putInt(frames.length)
    frames.foreach { f => bb.putInt(f.length); bb.put(f) }
    bb.array()
  }

  /** Parse a GFV0 container; None for any malformed/foreign payload (the
    * caller falls back to the deterministic stub, same contract as the
    * WAV/ImageIO decoders). */
  private def unpackVideo(payload: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (payload == null || payload.length < 8 ||
      !payload.startsWith(videoMagic)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(payload, 4, payload.length - 4)
      val n = bb.getInt()
      if (n < 0 || n > 100000) return None
      val frames = (0 until n).map { _ =>
        val len = bb.getInt()
        if (len < 0 || len > bb.remaining()) return None
        val f = new Array[Byte](len)
        bb.get(f)
        f
      }
      if (bb.remaining() != 0) None else Some(frames)
    } catch { case _: Exception => None }
  }

  /** Scene-cut detection: per-frame aHash, Hamming distance between
    * consecutive frames, a cut where the distance clears `cutThreshold`
    * of 64 bits — the shot-boundary segmentation that decides where a
    * video corpus gets chunked for captioning/embedding (a training
    * pipeline samples per SCENE, not per fixed stride, or it drowns in
    * near-identical frames). Composes [[sampleFrames]] (real GFV0 frames
    * or the deterministic stub) with the [[perceptualHash]] aHash spec
    * per frame; the only shuffle is the per-video lag window — keyed on
    * media_id, state one video's sampled frames, never corpus-global.
    * Output: one row per frame BOUNDARY (the later frame's index):
    * (media_id, frame_idx, hamming, is_cut). */
  /** Per-frame aHash over [[sampleFrames]] output — the shared decode+
    * hash pass behind [[sceneCuts]] and [[keyframeNearDups]]:
    * (media_id, frame_idx, ahash), video media only, scan-local. */
  private[ops] def frameHashes(
      media: DataFrame, maxFrames: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("ahash", LongType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    sampleFrames(media, maxFrames).mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        // positional access: rows deserialized from the upstream
        // mapPartitions encoder carry no schema for name lookup
        // (sampleFrames output: media_id, frame_idx, frame_bytes, _)
        val bytes = r.getAs[Array[Byte]](2)
        val (px, w, h) = decodeImagePixels(bytes)
          .getOrElse((fakeDecode(bytes, 256), 16, 16))
        val a = boxGrid(px, w, h, 8, 8)
        var mean = 0f
        var i = 0
        while (i < 64) { mean += a(i); i += 1 }
        mean /= 64f
        var ahash = 0L
        i = 0
        while (i < 64) {
          if (a(i) > mean) ahash |= 1L << i
          i += 1
        }
        Row(r.getLong(0), r.getInt(1), ahash)
      }
    }(encoder)
  }

  def sceneCuts(
      media: DataFrame, maxFrames: Int = 8,
      cutThreshold: Int = 10): DataFrame = {
    val hashed = frameHashes(media, maxFrames)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    hashed
      .withColumn("prev_hash", lag(col("ahash"), 1).over(w))
      .filter(col("prev_hash").isNotNull)
      .withColumn("hamming",
        bit_count(col("ahash").bitwiseXOR(col("prev_hash"))).cast("int"))
      .withColumn("is_cut", col("hamming") >= cutThreshold)
      .select("media_id", "frame_idx", "hamming", "is_cut")
  }

  /** Cross-video near-duplicate detection by KEYFRAME fingerprints —
    * the video-dedup composition of [[sceneCuts]] and the
    * [[nearDupByHash]] chunk-bucket join: a video's keyframes are its
    * first frame plus every scene-cut frame (aHash Hamming ≥
    * `cutThreshold` vs the previous frame — the representative frame of
    * each shot), and two DIFFERENT videos are near-dups when any of
    * their keyframes match within `maxHamming` bits. Keyframes are the
    * right unit: re-encodes/watermarks perturb few aHash bits (caught by
    * the Hamming tolerance), while comparing ALL frames would both blow
    * up the pair space and false-match unrelated videos on common black/
    * title frames NOT at shot boundaries. Output: one row per video
    * pair — (id_a, id_b, n_shared_keyframes, min_hamming).
    *
    * Scale shape: decode+hash scan-local ([[frameHashes]]); keyframe
    * selection is a per-video lag window (state = one video's ≤
    * maxFrames hashes); the pair search shuffles on 16-bit hash chunks
    * (exact for maxHamming ≤ 3 by pigeonhole over 4 chunks), never the
    * video×video space; one keyed agg closes. */
  def keyframeNearDups(
      media: DataFrame, maxFrames: Int = 8, cutThreshold: Int = 10,
      maxHamming: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    // both sides of the chunk-bucket self-join derive from this frame;
    // the decode+aHash pass and the lag window run once, and the second
    // side reads a ReusedExchange
    val keyframes = frameHashes(media, maxFrames)
      .withColumn("prev_hash", lag(col("ahash"), 1).over(w))
      .filter(col("prev_hash").isNull ||
        bit_count(col("ahash").bitwiseXOR(col("prev_hash")))
          .cast("int") >= cutThreshold)
      .select("media_id", "frame_idx", "ahash")
    val chunks = array((0 until 4).map(c =>
      shiftright(col("ahash"), c * 16).bitwiseAND(lit(0xffffL))): _*)
    val buckets = keyframes.select(col("media_id"), col("frame_idx"),
      col("ahash"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
    buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.frame_idx").as("frame_a"), col("b.frame_idx").as("frame_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_keyframes"),
        min(col("hamming")).cast("long").as("min_hamming"))
  }

  /** Frame sampling: video → one row per frame, capped at `maxFrames`.
    * GFV0 payloads yield their REAL encoded frames (`real_decode=true`;
    * each frame is then a plain image for [[perceptualHash]]-style
    * per-frame work — MultimodalSpec drives packed PNGs through to
    * hash-identical pixels); other payloads keep the deterministic
    * byte-stride stub with the duration-derived frame count. Scan-local
    * partition-batch parse, no shuffle. */
  def sampleFrames(media: DataFrame, maxFrames: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_bytes", BinaryType),
      StructField("real_decode", BooleanType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("payload"),
        col("meta.duration_ms").as("dur"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getAs[Long]("media_id")
          // payload is nullable in the media schema: every sibling decode
          // path (extractFeatures, perceptualHash, audioFingerprint)
          // null-falls-back via fakeDecode, but the stub branch below
          // reads payload.length — an NPE inside the task on a null video
          // payload (round-16 review). Normalize to empty bytes.
          val payload = Option(r.getAs[Array[Byte]]("payload"))
            .getOrElse(Array.emptyByteArray)
          unpackVideo(payload) match {
            case Some(frames) =>
              frames.take(maxFrames).zipWithIndex.map { case (f, i) =>
                Row(id, i, f, true)
              }
            case None =>
              // meta/duration_ms is nullable: a null must fall back to one
              // frame (matching the old expression path's null propagation)
              // instead of NPE-ing inside the task
              val durIdx = r.fieldIndex("dur")
              val dur = if (r.isNullAt(durIdx)) 1000 else r.getInt(durIdx)
              val n = math.min(math.max(dur / 1000, 1), maxFrames)
              (0 until n).map { i =>
                val lo = math.min(i * 16, payload.length)
                val hi = math.min(lo + 16, payload.length)
                Row(id, i, java.util.Arrays.copyOfRange(payload, lo, hi),
                  false)
              }
          }
        }
      }(encoder)
  }
}
