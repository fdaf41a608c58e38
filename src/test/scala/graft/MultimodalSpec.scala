package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord

/** Exercises the multimodal binary-column plumbing: typed schema,
  * batched per-partition extraction, deterministic stub features. */
class MultimodalSpec extends SparkTestBase {

  private def media(n: Int): Seq[MediaRecord] =
    (0 until n).map { i =>
      MediaRecord(i.toLong, if (i % 2 == 0) "image" else "audio",
        Array.tabulate(16 + i)(j => ((i * 7 + j) % 256).toByte),
        width = 64, height = 64, durationMs = 0L)
    }

  test("binary payloads round-trip the typed schema and batched extraction") {
    import spark.implicits._
    val ds = spark.createDataset(media(100)).repartition(5)
    val feats = Multimodal.extractFeatures(ds).collect().sortBy(_.mediaId)
    assert(feats.length == 100)
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    assert(feats.zipWithIndex.forall { case (f, i) => f.nBytes == 16 + i })
    // deterministic: same input -> bit-identical features on re-run
    val again = Multimodal.extractFeatures(ds).collect().sortBy(_.mediaId)
    assert(feats.zip(again).forall { case (a, b) => a.features.sameElements(b.features) })
    // partitioning must not change results
    val one = Multimodal.extractFeatures(ds.coalesce(1)).collect().sortBy(_.mediaId)
    assert(feats.zip(one).forall { case (a, b) => a.features.sameElements(b.features) })
  }

  test("frame sampling bounds output per row and skips non-video") {
    import spark.implicits._
    val rows = Seq(
      MediaRecord(1L, "video", Array.tabulate(100)(_.toByte), 0, 0, durationMs = 5000L),
      MediaRecord(2L, "video", Array.tabulate(40)(_.toByte), 0, 0, durationMs = 60000L),
      MediaRecord(3L, "image", Array.tabulate(10)(_.toByte), 8, 8, durationMs = 0L))
    val frames = Multimodal.sampleFrames(spark.createDataset(rows), maxFrames = 8)
      .collect().groupBy(_.mediaId)
    // 5s video -> 5 frames; 60s video capped at 8; image -> none
    assert(frames(1L).length == 5)
    assert(frames(2L).length == 8)
    assert(!frames.contains(3L))
    // frames tile the payload exactly, in order, with monotone ts
    val f1 = frames(1L).sortBy(_.frameIdx)
    assert(f1.map(_.frame.length).sum == 100)
    assert(f1.flatMap(_.frame).toSeq == rows.head.payload.toSeq)
    assert(f1.map(_.tsMs).toSeq == f1.map(_.tsMs).sorted.toSeq)
  }

  test("resize fits images into maxDim preserving aspect; non-images pass through") {
    import spark.implicits._
    val land = pngBytes(192, 108)((x, y) => (x * 7 + y) & 0xFFFFFF)
    val port = pngBytes(108, 192)((x, y) => (x + y * 7) & 0xFFFFFF)
    val fits = pngBytes(10, 10)((_, _) => 0x123456)
    val rows = Seq(
      MediaRecord(1L, "image", land, 192, 108, 0L),
      MediaRecord(2L, "image", port, 108, 192, 0L),
      MediaRecord(3L, "image", fits, 10, 10, 0L), // already fits
      MediaRecord(4L, "audio", Array.tabulate(64)(_.toByte), 0, 0, 9000L))
    val out = Multimodal.resizeImagesDecoded(spark.createDataset(rows).repartition(2), 64)
      .collect().sortBy(_.mediaId)
    // landscape: width lands exactly on maxDim, height scales by the ratio
    assert(out(0).width == 64 && out(0).height == 108 * 64 / 192)
    // portrait: mirrored
    assert(out(1).height == 64 && out(1).width == 108 * 64 / 192)
    // already-fitting image and non-image rows pass through untouched
    assert(out(2).width == 10 && out(2).payload.sameElements(rows(2).payload))
    assert(out(3).durationMs == 9000L && out(3).payload.sameElements(rows(3).payload))
    // resized payload is deterministic across runs
    val again = Multimodal.resizeImagesDecoded(spark.createDataset(rows).repartition(2), 64)
      .collect().sortBy(_.mediaId)
    assert(out.zip(again).forall { case (a, b) => a.payload.sameElements(b.payload) })
  }

  private def pngBytes(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real image decode: exact pixel statistics from a known PNG; undecodable falls back") {
    import spark.implicits._
    // 2x1: red (255,0,0) and blue (0,0,255) -> means r=127,g=0,b=127
    val png = pngBytes(2, 1)((x, _) => if (x == 0) 0xFF0000 else 0x0000FF)
    val junk = Array.tabulate(20)(_.toByte)
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "image", png, 2, 1, 0L),
      MediaRecord(2L, "image", junk, 4, 4, 0L),     // not decodable
      MediaRecord(3L, "audio", png, 0, 0, 1000L)))  // wrong kind -> stub
    val f = Multimodal.extractImageFeatures(ds).collect()
      .map(r => r.mediaId -> r.features).toMap
    assert(f(1L).toSeq == Seq(2f, 1f, 127f, 0f, 127f, 85f, 2f, png.length.toFloat),
      s"decoded stats wrong: ${f(1L).toSeq}")
    // fallback rows carry the stub's payload-fold features (same as decodeBatchStub)
    val stub = Multimodal.extractFeatures(ds).collect()
      .map(r => r.mediaId -> r.features).toMap
    assert(f(2L).sameElements(stub(2L)) && f(3L).sameElements(stub(3L)))
  }

  test("real image resize: output decodes at the fitted dimensions, solid color survives") {
    import spark.implicits._
    val png = pngBytes(100, 40)((_, _) => 0x11AA55)
    val ds = spark.createDataset(Seq(MediaRecord(7L, "image", png, 100, 40, 0L)))
    val out = Multimodal.resizeImagesDecoded(ds, 10).collect().head
    assert(out.width == 10 && out.height == 4)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
    assert(back.getWidth == 10 && back.getHeight == 4)
    // bilinear resample of a constant image is the same constant
    assert((back.getRGB(5, 2) & 0xFFFFFF) == 0x11AA55)
    // already-fitting images pass through byte-identically
    val small = Multimodal.resizeImagesDecoded(
      spark.createDataset(Seq(MediaRecord(8L, "image", png, 100, 40, 0L))), 100)
      .collect().head
    assert(small.payload.sameElements(png))
  }

  test("real audio decode: exact PCM statistics from a generated WAV; non-audio falls back") {
    import spark.implicits._
    // 100 Hz sawtooth-ish alternating block wave at 8 kHz, 16-bit
    // mono little-endian: 800 samples, +1000 for 40 samples then
    // -1000 for 40, repeating -> mean |amp| 1000, peak 1000, and a
    // zero crossing at every 40-sample block boundary after the first
    val rate = 8000f
    val n = 800
    val samples = Array.tabulate(n)(i => if ((i / 40) % 2 == 0) 1000 else -1000)
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](n * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "audio", wav, 0, 0, 100L),
      MediaRecord(2L, "audio", Array.tabulate(16)(_.toByte), 0, 0, 1L), // junk
      MediaRecord(3L, "image", wav, 0, 0, 0L)))                         // wrong kind
    val f = Multimodal.extractAudioFeatures(ds).collect()
      .map(r => r.mediaId -> r.features).toMap
    assert(f(1L).toSeq == Seq(rate, 1f, 800f, 0.1f, 1000f, 1000f, 19f, wav.length.toFloat),
      s"decoded PCM stats wrong: ${f(1L).toSeq}")
    val stub = Multimodal.extractFeatures(ds).collect()
      .map(r => r.mediaId -> r.features).toMap
    assert(f(2L).sameElements(stub(2L)) && f(3L).sameElements(stub(3L)))
  }

  test("image dHash: recompressed/resized copies collide, distinct images diverge, pairs found") {
    import spark.implicits._
    def gray(g0: Int): Int = { val g = math.max(0, math.min(255, g0)); (g << 16) | (g << 8) | g }
    // photo-like deterministic pattern: sine along x, phase drifts by row
    def pat(freq: Double, phase: Double)(w: Int, h: Int)(x: Int, y: Int): Int =
      gray((128 + 100 * math.sin(2 * math.Pi * (x.toDouble / w * freq + y.toDouble / h + phase))).toInt)
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    def render(w: Int, h: Int)(px: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
      img
    }
    val base = render(128, 96)(pat(3.0, 0.0)(128, 96))
    val png = encode(base, "png")
    val jpg = encode(base, "jpg") // lossy recompression of the SAME pixels
    // mild resize: 2x subsample of the same pattern
    val small = encode(render(64, 48)((x, y) => base.getRGB(x * 2, y * 2)), "png")
    val otherA = encode(render(128, 96)(pat(5.0, 0.7)(128, 96)), "png")
    val otherB = encode(render(96, 128)(pat(2.0, 0.31)(96, 128)), "png")
    val rows = Seq(
      MediaRecord(1L, "image", png, 128, 96, 0L),
      MediaRecord(2L, "image", jpg, 128, 96, 0L),
      MediaRecord(3L, "image", small, 64, 48, 0L),
      MediaRecord(4L, "image", otherA, 128, 96, 0L),
      MediaRecord(5L, "image", otherB, 96, 128, 0L),
      MediaRecord(6L, "image", Array.tabulate(9)(_.toByte), 3, 3, 0L), // undecodable
      MediaRecord(7L, "audio", png, 0, 0, 1L))                         // wrong kind
    val ds = spark.createDataset(rows).repartition(3)
    val hashes = Multimodal.imageDHash(ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.keySet == Set(1L, 2L, 3L, 4L, 5L), "decodable images only")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // copies must land INSIDE the block-pair pigeonhole band
    // (Dedup.SimGuarantee = 6): the pair-finding assertion below
    // relies on GUARANTEED recall, not the probabilistic 7..10 band
    assert(ham(hashes(1L), hashes(2L)) <= graft.operators.Dedup.SimGuarantee,
      s"jpeg recompression drifted ${ham(hashes(1L), hashes(2L))} bits")
    assert(ham(hashes(1L), hashes(3L)) <= graft.operators.Dedup.SimGuarantee,
      s"2x resize drifted ${ham(hashes(1L), hashes(3L))} bits")
    assert(ham(hashes(1L), hashes(4L)) > 10 && ham(hashes(1L), hashes(5L)) > 10
      && ham(hashes(4L), hashes(5L)) > 10,
      s"distinct images too close: ${Seq(ham(hashes(1L), hashes(4L)), ham(hashes(1L), hashes(5L)), ham(hashes(4L), hashes(5L)))}")
    // end-to-end: the q37 banding finds exactly the planted trio
    val pairs = Multimodal.imageNearDupPairs(ds, maxHamming = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"pairs: $pairs")
    // determinism across partitionings
    val again = Multimodal.imageDHash(spark.createDataset(rows).repartition(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == hashes)
  }

  test("audio fingerprint: container and gain invariant, distinct audio diverges, pairs found") {
    import spark.implicits._
    def enc(samples: Array[Int],
            tpe: javax.sound.sampled.AudioFileFormat.Type,
            bigEndian: Boolean): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, bigEndian)
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        if (bigEndian) {
          pcm(2 * i) = ((s >> 8) & 0xff).toByte; pcm(2 * i + 1) = (s & 0xff).toByte
        } else {
          pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        tpe, bos)
      bos.toByteArray
    }
    val rnd = new scala.util.Random(7)
    // |amp| <= 8000 so the x2 gain copy cannot clip
    val a = Array.fill(2000)(rnd.nextInt(16001) - 8000)
    val b = Array.fill(2000)(rnd.nextInt(16001) - 8000) // independent noise
    import javax.sound.sampled.AudioFileFormat.Type.{AIFF, WAVE}
    val rows = Seq(
      MediaRecord(1L, "audio", enc(a, WAVE, bigEndian = false), 0, 0, 0L),
      MediaRecord(2L, "audio", enc(a, AIFF, bigEndian = true), 0, 0, 0L), // same PCM, other container
      MediaRecord(3L, "audio", enc(a.map(_ * 2), WAVE, bigEndian = false), 0, 0, 0L), // gain x2
      MediaRecord(4L, "audio", enc(b, WAVE, bigEndian = false), 0, 0, 0L),
      MediaRecord(5L, "audio", Array.tabulate(8)(_.toByte), 0, 0, 0L)) // undecodable
    val fp = Multimodal.audioFingerprint(spark.createDataset(rows).repartition(2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.keySet == Set(1L, 2L, 3L, 4L), s"decoded set: ${fp.keySet}")
    assert(fp(1L) == fp(2L), "container change flipped the fingerprint")
    assert(fp(1L) == fp(3L), "exact gain scaling flipped the fingerprint")
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 10,
      s"independent noise too close: ${java.lang.Long.bitCount(fp(1L) ^ fp(4L))}")
    val pairs = Multimodal.audioNearDupPairs(
      spark.createDataset(rows).repartition(2), maxHamming = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"pairs: $pairs")
  }

  test("asMedia validates the physical schema") {
    import spark.implicits._
    val df = spark.createDataset(media(3)).toDF()
    val ds = Multimodal.asMedia(df)
    assert(ds.collect().map(_.mediaId).sorted.toSeq == Seq(0L, 1L, 2L))
    val bad = df.withColumn("payload",
      org.apache.spark.sql.functions.col("payload").cast("string"))
    intercept[IllegalArgumentException] { Multimodal.asMedia(bad) }
  }
}
