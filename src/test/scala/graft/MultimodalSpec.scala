package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.sources.Tables

/** Contract tests for the multimodal plumbing (decode is a stub; schema,
  * shapes, determinism, and partition behavior are the real surface). */
class MultimodalSpec extends GraftSuite {

  private lazy val media =
    Multimodal.mediaFromDocuments(Tables.documents(spark, sf))

  test("media table has the canonical schema") {
    val fields = media.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(fields("media_id") === "long")
    assert(fields("kind") === "string")
    assert(fields("payload") === "binary")
    assert(fields("meta") === "struct")
  }

  test("feature extraction is fixed-shape and deterministic") {
    val f1 = Multimodal.extractFeatures(media)
    assert(f1.select(size(col("feature"))).distinct().count() === 1)
    // deterministic: two runs produce identical features
    val a = f1.select("media_id", "feature").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Multimodal.extractFeatures(media)
      .select("media_id", "feature").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a === b)
  }

  test("feature extraction preserves row count across repartitioning") {
    val n = media.count()
    assert(Multimodal.extractFeatures(media.repartition(7)).count() === n)
    assert(Multimodal.extractFeatures(media.repartition(1)).count() === n)
  }

  test("real PNG payloads decode to known pixel values via javax.imageio") {
    import spark.implicits._
    // 2×2 PNG with known colors, encoded in-memory by the same JDK
    // ImageIO stack the operator decodes with
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff) // white  -> gray 1.0
    img.setRGB(1, 0, 0x000000) // black  -> gray 0.0
    img.setRGB(0, 1, 0x404040) // gray64 -> 64/255
    img.setRGB(1, 1, 0xff0000) // red    -> 255/(3*255) = 1/3
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val media = Seq((1L, "image", png)).toDF("media_id", "kind", "payload")
    val feat = Multimodal.extractFeatures(media)
      .collect().head.getSeq[Float](2)
    // 4 pixels pool into bins 0..3 (scale = 4/32): feat(i) = gray(i)/(4f/32)
    val scale = 4f / 32
    assert(feat(0) === 1.0f / scale)
    assert(feat(1) === 0.0f)
    assert(feat(2) === (64 * 3 / (3f * 255f)) / scale)
    assert(feat(3) === (255 / (3f * 255f)) / scale)
    assert(feat.drop(4).forall(_ === 0.0f))
    // non-PNG bytes under kind=image fall back to the stub, not an error
    val fallback = Multimodal.extractFeatures(
      Seq((2L, "image", "not a png".getBytes("UTF-8")))
        .toDF("media_id", "kind", "payload"))
      .collect().head.getSeq[Float](2)
    assert(fallback.length === 32 && fallback.exists(_ !== 0.0f))
  }

  test("real WAV payloads decode to known PCM samples") {
    import spark.implicits._
    // 8-frame stereo PCM16 WAV built by hand (RIFF container, LE):
    // channel 0 ramps, channel 1 is its negation → mono mean = 0 except
    // where we bias channel 1
    val frames = 8
    val channels = 2
    val dataLen = frames * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort) // PCM, stereo
      .putInt(16000).putInt(16000 * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    val samples = (0 until frames).map(i => (i * 4096).toShort)
    samples.foreach { s =>
      bb.putShort(s)              // ch0
      bb.putShort((-s).toShort)   // ch1 — mono mean must be exactly 0
    }
    val wav = bb.array()
    val media = Seq((1L, "audio", wav)).toDF("media_id", "kind", "payload")
    val feat = Multimodal.extractFeatures(media)
      .collect().head.getSeq[Float](2)
    // every mono sample is exactly 0 → all pooled bins are 0; the stub
    // fallback would produce non-zero bins, so zeros prove the real parse
    assert(feat.length === 32 && feat.forall(_ === 0.0f))
    // a biased mono signal pools to the exact per-bin values
    val bb2 = java.nio.ByteBuffer.allocate(44 + frames * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb2.put("RIFF".getBytes("US-ASCII")).putInt(36 + frames * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(16000).putInt(16000 * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(frames * 2)
    samples.foreach(s => bb2.putShort(s))
    val feat2 = Multimodal.extractFeatures(
        Seq((2L, "audio", bb2.array())).toDF("media_id", "kind", "payload"))
      .collect().head.getSeq[Float](2)
    val scale = frames.toFloat / 32
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(feat2(i) === (s / 32768f) / scale)
    }
    assert(feat2.drop(frames).forall(_ === 0.0f))
    // non-WAV bytes under kind=audio fall back to the stub, not an error
    val fallback = Multimodal.extractFeatures(
      Seq((3L, "audio", "not a wav".getBytes("UTF-8")))
        .toDF("media_id", "kind", "payload"))
      .collect().head.getSeq[Float](2)
    assert(fallback.length === 32 && fallback.exists(_ !== 0.0f))
  }

  test("perceptual hashes: known patterns, near-dup pairing, real decode") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val topBottom = png((_, y) => if (y < 4) 0x000000 else 0xffffff)
    // same image with ONE pixel flipped to white
    val nearDup = png((x, y) =>
      if (x == 0 && y == 0) 0xffffff
      else if (y < 4) 0x000000 else 0xffffff)
    val leftRight = png((x, _) => if (x < 4) 0xffffff else 0x000000)
    val media = Seq(
      (1L, "image", topBottom), (2L, "image", nearDup),
      (3L, "image", leftRight),
      (4L, "image", "not a png".getBytes("UTF-8"))
    ).toDF("media_id", "kind", "payload")
    val hashes = Multimodal.perceptualHash(media)
    val rows = hashes.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toMap
    // bottom-half white: exactly cell bits 32..63 above the mean
    assert(rows(1L)._2 === 0xFFFFFFFF00000000L)
    // horizontally uniform rows -> no gradient bits
    assert(rows(1L)._3 === 0L)
    // one flipped pixel = one flipped aHash bit (cell 0 crosses the mean)
    assert(java.lang.Long.bitCount(rows(1L)._2 ^ rows(2L)._2) === 1)
    assert(rows(1L)._1 && rows(2L)._1 && rows(3L)._1)
    assert(!rows(4L)._1) // text payload -> stub, flagged
    // chunk-bucket pairing: the near-dup pair surfaces, the unrelated
    // pattern does not
    val pairs = Multimodal.nearDupImages(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("resize updates image metadata and bounds payload") {
    val resized = Multimodal.resizeImages(media, 8, 8)
    val img = resized.filter(col("kind") === "image")
    assert(img.filter(col("meta.width") =!= 8).count() === 0)
    assert(img.filter(length(col("payload")) > 64).count() === 0)
    // non-images untouched
    val audio = resized.filter(col("kind") === "audio")
    assert(audio.filter(col("meta.width") === 8).count() === 0)
  }

  test("frame sampling explodes one row per frame, capped") {
    val frames = Multimodal.sampleFrames(media, maxFrames = 4)
    val perVideo = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
    assert(perVideo.filter(col("n") > 4).count() === 0)
    assert(frames.count() > 0)
  }

  test("GFV0 video container: real frames out, per-frame hash = source hash") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val f0 = png((_, y) => if (y < 4) 0x000000 else 0xffffff)
    val f1 = png((x, _) => if (x < 4) 0xffffff else 0x000000)
    val vid = Multimodal.packVideo(Seq(f0, f1))
    val m = Seq(
      (1L, "video", vid, (8, 8, 0, 2000)),
      // non-container payload under kind=video → stub path, flagged
      (2L, "video", "plain text stand-in payload".getBytes("UTF-8"),
        (8, 8, 0, 3000)))
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        col("m").cast("struct<width:int,height:int,sample_rate:int," +
          "duration_ms:int>").as("meta"))
    val frames = Multimodal.sampleFrames(m, maxFrames = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getAs[Array[Byte]](2), r.getBoolean(3)))).toMap
    // container frames come back byte-identical and flagged real
    assert(frames((1L, 0))._1.toSeq === f0.toSeq && frames((1L, 0))._2)
    assert(frames((1L, 1))._1.toSeq === f1.toSeq && frames((1L, 1))._2)
    // stub path: duration-derived count (3s → 3 frames), flagged fake
    assert((0 until 3).forall(i => frames.contains((2L, i))))
    assert(!frames((2L, 0))._2 && !frames.contains((2L, 3)))
    // the extracted frame is a plain image: hashing it through the REAL
    // ImageIO path equals hashing the source PNG directly
    val asImages = Seq((10L, "image", f0), (11L, "image", frames((1L, 0))._1))
      .toDF("media_id", "kind", "payload")
    val h = Multimodal.perceptualHash(asImages).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(h(10L) === h(11L) && h(10L)._1)
    // features for a GFV0 video = features of its first frame decoded
    // for real (the thumbnail feature), not the byte-stride stub
    val vf = Multimodal.extractFeatures(m.filter(col("media_id") === 1L))
      .collect().head.getSeq[Float](2)
    val imf = Multimodal.extractFeatures(
        Seq((10L, "image", f0)).toDF("media_id", "kind", "payload"))
      .collect().head.getSeq[Float](2)
    assert(vf === imf)
  }

  test("scene cuts: repeated frame is no cut, pattern flip is a cut") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    // shot A (two identical frames), then a hard cut to shot B: the
    // half-split pattern flips every aHash bit that the mean-threshold
    // sets, so the boundary Hamming is large; the repeat boundary is 0.
    val dark = png((_, _) => 0x000000)
    val a = png((_, y) => if (y < 4) 0x000000 else 0xffffff)
    val b = png((_, y) => if (y < 4) 0xffffff else 0x000000)
    val vid = Multimodal.packVideo(Seq(a, a, b, dark))
    val m = Seq((1L, "video", vid, (8, 8, 0, 4000)))
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        col("m").cast("struct<width:int,height:int,sample_rate:int," +
          "duration_ms:int>").as("meta"))
    val got = Multimodal.sceneCuts(m, maxFrames = 8, cutThreshold = 10)
      .collect()
      .map(r => r.getInt(1) -> ((r.getInt(2), r.getBoolean(3)))).toMap
    assert(got(1) === ((0, false)), "identical frames: Hamming 0, no cut")
    assert(got(2)._1 >= 10 && got(2)._2, "pattern flip must be a cut")
    assert(got.size === 3, "one row per frame boundary")
  }

  test("keyframe near-dup pairs videos sharing a shot, not strangers") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, f(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val a = png((_, y) => if (y < 4) 0x000000 else 0xffffff)   // shot A
    val b = png((_, y) => if (y < 4) 0xffffff else 0x000000)   // shot B
    val c = png((x, _) => if (x < 4) 0x000000 else 0xffffff)   // shot C
    val dark = png((_, _) => 0x000000)
    // v1 ends in shot B, v2 starts in shot B (a re-cut sharing footage),
    // v3 shares nothing — and its repeated frame must yield ONE keyframe
    val m = Seq(
      (1L, "video", Multimodal.packVideo(Seq(a, b)), (8, 8, 0, 2000)),
      (2L, "video", Multimodal.packVideo(Seq(b, dark)), (8, 8, 0, 2000)),
      (3L, "video", Multimodal.packVideo(Seq(c, c)), (8, 8, 0, 2000)))
      .toDF("media_id", "kind", "payload", "m")
      .select(col("media_id"), col("kind"), col("payload"),
        col("m").cast("struct<width:int,height:int,sample_rate:int," +
          "duration_ms:int>").as("meta"))
    val got = Multimodal.keyframeNearDups(
        m, maxFrames = 8, cutThreshold = 10, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map((1L, 2L) -> ((1L, 0L))),
      s"expected exactly the shared-shot pair, got $got")
    // both sides of the chunk self-join read the keyframes: exchange
    // reuse decodes the media once, with no cache
    val bad = PlanSpec.reuseViolations(spark, _.isInstanceOf[
        org.apache.spark.sql.execution.LocalTableScanExec]) {
      Multimodal.keyframeNearDups(
        m, maxFrames = 8, cutThreshold = 10, maxHamming = 3)
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("audio fingerprint: gain-invariant envelope signature, near-dup join") {
    import spark.implicits._
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(16000).putInt(16000 * 2)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // 650 samples = 65 fingerprint frames of 10: frame f holds constant
    // amplitude 100·(f+1) → strictly rising energy → all 64 bits set
    val rising = (0 until 650).map(i => (100 * (i / 10 + 1)).toShort)
    val half = rising.map(s => (s / 2).toShort) // uniform −6 dB gain
    val falling = rising.reverse
    val m = Seq(
      (1L, "audio", wav(rising)), (2L, "audio", wav(half)),
      (3L, "audio", wav(falling)))
      .toDF("media_id", "kind", "payload")
    val fp = Multimodal.audioFingerprint(m).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(fp.values.forall(_._1), "all payloads are real WAVs")
    assert(fp(1L)._2 === -1L, "strictly rising energy sets all 64 bits")
    assert(fp(2L)._2 === fp(1L)._2, "uniform gain cannot change the signature")
    assert(fp(3L)._2 === 0L, "strictly falling energy sets no bits")
    val pairs = Multimodal.nearDupByHash(
        Multimodal.audioFingerprint(m), "afp", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)),
      "only the gain-variant pair is a near-dup; falling is 64 bits away")
  }

  test("MediaTruth ground truth matches the operator outputs bit-for-bit") {
    // The mm2–mm6 oracles compare against MediaTruth's INDEPENDENT
    // scalar reimplementation — this test pins the two implementations
    // to each other locally, so a drift in either fails here (red suite)
    // before it fails in the driver's round report.
    val dir = java.nio.file.Files.createTempDirectory("graft-mtruth-").toString
    graft.ops.MediaTruth.write(spark, sf, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val mm4op = Multimodal.perceptualHash(media)
      .select("media_id", "kind", "real_decode", "ahash", "dhash")
      .orderBy("media_id")
    val mm4tr = spark.read.parquet(s"$dir/mm4.parquet")
      .select("media_id", "kind", "real_decode", "ahash", "dhash")
      .orderBy("media_id")
    assert(rows(mm4op) === rows(mm4tr), "mm4 perceptual hashes drifted")
    val mm6op = Multimodal.audioFingerprint(
        media.filter(col("kind") === "audio"))
      .select("media_id", "real_decode", "afp").orderBy("media_id")
    val mm6tr = spark.read.parquet(s"$dir/mm6.parquet")
      .select("media_id", "real_decode", "afp").orderBy("media_id")
    assert(rows(mm6op) === rows(mm6tr), "mm6 audio fingerprints drifted")
    val mm2op = Multimodal.extractFeatures(media)
      .select(col("media_id"),
        round(aggregate(col("feature"), lit(0.0d),
          (acc, x) => acc + x.cast("double")), 4).as("feat_sum"))
      .orderBy("media_id")
    val mm2tr = spark.read.parquet(s"$dir/mm2.parquet")
      .select("media_id", "feat_sum").orderBy("media_id")
    assert(rows(mm2op) === rows(mm2tr), "mm2 pooled features drifted")
  }

  test("corrupt WAV with an overflowing chunk size falls back, never throws") {
    import spark.implicits._
    // a hostile/corrupt RIFF chunk size near Int.MaxValue used to
    // overflow the int bounds check (pos + 8 + sz), walk the chunk
    // cursor negative and throw inside the task — violating the
    // fall-back-to-stub contract every decode path documents
    // (round-16 review). Valid RIFF/WAVE magic, then one chunk whose
    // declared size is Int.MaxValue - 4.
    val evil = new Array[Byte](64)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, evil, 0, 4)
    System.arraycopy("WAVE".getBytes("US-ASCII"), 0, evil, 8, 4)
    System.arraycopy("fmt ".getBytes("US-ASCII"), 0, evil, 12, 4)
    val bb = java.nio.ByteBuffer.wrap(evil)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, Int.MaxValue - 4) // chunk size: int-overflows pos+8+sz
    val df = Seq((1L, "audio", evil))
      .toDF("media_id", "kind", "payload")
      .withColumn("meta", struct(lit(8).as("width"), lit(8).as("height"),
        lit(16000).as("sample_rate"), lit(1000).as("duration_ms")))
    val row = Multimodal.audioFingerprint(df).collect().head
    assert(row.getBoolean(2) === false, "must fall back to the stub")
    // extractFeatures takes the same decode path — also must not throw
    assert(Multimodal.extractFeatures(df).count() === 1)
  }

  test("null video payload samples stub frames instead of NPE-ing") {
    import spark.implicits._
    // payload is nullable in the media schema and every sibling decode
    // path null-falls-back; the sampleFrames stub branch read
    // payload.length (round-16 review)
    val df = Seq((1L, "video")).toDF("media_id", "kind")
      .withColumn("payload", lit(null).cast("binary"))
      .withColumn("meta", struct(lit(8).as("width"), lit(8).as("height"),
        lit(16000).as("sample_rate"), lit(3000).as("duration_ms")))
    val frames = Multimodal.sampleFrames(df).collect()
    assert(frames.length === 3) // duration-derived frame count, dur/1000
    assert(frames.forall(!_.getBoolean(3)), "stub frames, real_decode=false")
    assert(frames.forall(_.getAs[Array[Byte]](2).length === 0))
  }
}
