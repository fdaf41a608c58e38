package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal binary-column plumbing: image/audio/video payloads ride
  * as opaque `binary` columns with a typed metadata struct, and
  * decode/feature-extraction runs as a BATCHED per-partition stage so
  * a real decoder (JNI image lib, ONNX runtime session, …) is
  * initialized once per partition and fed fixed-size batches — the
  * Spark-side contract (schema, partitioning, batch shape) is real
  * and tested. IMAGE decode/resize is REAL (the JDK ships
  * javax.imageio — PNG/JPEG/BMP/GIF, headless-safe:
  * [[extractImageFeatures]], [[resizeImagesDecoded]]); only
  * audio/video codecs, which the JDK does not carry, remain stubbed
  * behind the same tested batch plumbing.
  */
object Multimodal {

  /** One media row: payload + typed metadata. */
  case class MediaRecord(
      mediaId: Long,
      kind: String,                // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Int, height: Int, durationMs: Long)

  case class MediaFeatures(
      mediaId: Long,
      kind: String,
      nBytes: Long,
      features: Array[Float])     // fixed FeatureDim-length embedding

  val FeatureDim = 8
  val BatchSize = 32

  /** Aspect-preserving integer fit of the image resize: the larger edge
    * lands EXACTLY on maxDim, the smaller scales by the same ratio
    * (floor, min 1) — deterministic, no float accumulation. */
  private def fitDims(width: Int, height: Int, maxDim: Int): (Int, Int) =
    if (width >= height)
      (maxDim, math.max(1, (height.toLong * maxDim / width).toInt))
    else
      (math.max(1, (width.toLong * maxDim / height).toInt), maxDim)

  /** ========================= STUB =========================
    * Deterministic FAKE decoder standing in for a real image/audio
    * decode + feature extraction (codec libraries are not available
    * in this environment). Real implementation would decode
    * `batch.map(_.payload)` through a per-partition codec/model
    * session. The fake derives stable pseudo-features from payload
    * bytes so tests can assert exact values and batch plumbing.
    * ======================================================== */
  private def decodeBatchStub(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
    batch.map { r =>
      var h = 1125899906842597L // deterministic FNV-ish byte fold
      for (b <- r.payload) h = h * 31 + (b & 0xff)
      val feats = Array.tabulate(FeatureDim) { i =>
        (((h >>> (i * 8)) & 0xff).toFloat - 128f) / 128f
      }
      MediaFeatures(r.mediaId, r.kind, r.payload.length.toLong, feats)
    }

  /** Batched per-partition feature extraction. Batching inside
    * mapPartitions (grouped iterator — lazy, never materializes the
    * partition) is the Scala analog of mapInPandas' arrow batches. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(decodeBatchStub)
    }
  }

  /** REAL image decode (no stub): `javax.imageio` ships in the JDK
    * (PNG/JPEG/BMP/GIF, headless-safe), so image rows need no
    * external codec at all. Features are exact integer statistics of
    * the decoded pixels — width, height, per-channel means, mean
    * luma (the integer (r+g+b)/3 average), pixel count, byte size —
    * so the spec can assert values to the bit from a known PNG.
    * Rows whose payload ImageIO cannot decode (or non-image kinds)
    * fall back to [[decodeBatchStub]]'s payload-fold features — the
    * real/fallback split per ROW, batched per partition exactly like
    * the stub path. */
  def extractImageFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          decodedImage(r) match {
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val px = img.getRGB(x, y)
                  sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
                  x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              MediaFeatures(r.mediaId, r.kind, r.payload.length.toLong,
                Array(w.toFloat, h.toFloat,
                  (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
                  ((sr + sg + sb) / (3 * n)).toFloat,
                  n.toFloat, r.payload.length.toFloat))
            case None => decodeBatchStub(Seq(r)).head
          }
        }
      }
    }
  }

  private def decodedImage(r: MediaRecord): Option[java.awt.image.BufferedImage] =
    if (r.kind != "image" || r.payload.isEmpty) None
    else
      // NonFatal, not just IOException: ImageIO throws RuntimeExceptions
      // (CMMException, IndexOutOfBounds, IllegalArgument) on corrupt
      // bytes — a crawled bad row must fall back, never kill the task
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload)))
      catch { case scala.util.control.NonFatal(_) => None }

  /** REAL audio decode (no stub): `javax.sound.sampled` ships in the
    * JDK (WAV/AIFF/AU container parsing + PCM decoding, headless), so
    * audio rows need no external codec either. Features are exact
    * integer statistics of the decoded 16-bit PCM samples of the
    * first channel — sample rate, channel count, frame count,
    * duration, mean |amplitude|, peak |amplitude|, zero-crossing
    * count — spec-asserted to the bit from a generated sine WAV.
    * Undecodable payloads and non-audio kinds fall back to the
    * deterministic stub per row. Only VIDEO decode, which the JDK
    * does not carry, remains stubbed. */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          decodedPcm(r) match {
            case Some((fmt, samples)) =>
              var sumAbs = 0L; var peak = 0L; var zc = 0L
              var prevNeg = false
              var i = 0
              while (i < samples.length) {
                val s = samples(i).toLong
                val a = math.abs(s)
                sumAbs += a; if (a > peak) peak = a
                val neg = s < 0
                if (i > 0 && neg != prevNeg) zc += 1
                prevNeg = neg
                i += 1
              }
              val n = math.max(1, samples.length).toLong
              MediaFeatures(r.mediaId, r.kind, r.payload.length.toLong,
                Array(fmt.getSampleRate, fmt.getChannels.toFloat,
                  samples.length.toFloat,
                  samples.length.toFloat / fmt.getSampleRate,
                  (sumAbs / n).toFloat, peak.toFloat, zc.toFloat,
                  r.payload.length.toFloat))
            case None => decodeBatchStub(Seq(r)).head
          }
        }
      }
    }
  }

  /** First-channel 16-bit PCM samples of a JDK-decodable audio
    * payload (None for non-audio kinds / containers the JDK cannot
    * parse / non-16-bit encodings). */
  private def decodedPcm(r: MediaRecord)
      : Option[(javax.sound.sampled.AudioFormat, Array[Short])] =
    if (r.kind != "audio" || r.payload.isEmpty) None
    else
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        // frame size can be 0 or NOT_SPECIFIED (-1) on malformed-but-
        // parseable headers — treat as undecodable, don't divide by it
        if (fmt.getSampleSizeInBits != 16 || fmt.getFrameSize <= 0) { in.close(); None }
        else {
          val bytes = in.readAllBytes(); in.close()
          val frameBytes = fmt.getFrameSize
          val nFrames = bytes.length / frameBytes
          val out = new Array[Short](nFrames)
          val be = fmt.isBigEndian
          var i = 0
          while (i < nFrames) {
            val o = i * frameBytes // first channel only
            out(i) =
              (if (be) ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
               else ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)).toShort
            i += 1
          }
          Some((fmt, out))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL image resize (no stub): decode via the JDK's ImageIO,
    * bilinear resample into the aspect-preserving integer fit of
    * [[fitDims]] (larger edge exactly maxDim), re-encode as PNG
    * (lossless — a repeated resize to the same maxDim is a no-op on
    * the DIMENSIONS, which is what downstream batch shapes key on).
    * Undecodable payloads and non-image rows pass through untouched.
    * Same per-partition batching as every media stage. */
  def resizeImagesDecoded(media: Dataset[MediaRecord], maxDim: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    require(maxDim > 0, "maxDim must be positive")
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          decodedImage(r) match {
            case Some(img) if img.getWidth > maxDim || img.getHeight > maxDim =>
              val (w, h) = fitDims(img.getWidth, img.getHeight, maxDim)
              val out = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
              g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              r.copy(payload = bos.toByteArray, width = w, height = h)
            case _ => r
          }
        }
      }
    }
  }

  /** One sampled video frame: parent id + frame index + timestamp +
    * frame payload. */
  case class FrameRecord(mediaId: Long, frameIdx: Int, tsMs: Long, frame: Array[Byte])

  /** ===================== STUB (decode) =====================
    * Frame sampling for video rows: emits up to `maxFrames` evenly
    * time-spaced frames per video (1 per second of duration, capped).
    * The STUB "decode" slices the payload into even windows standing
    * in for decoded frames; a real implementation feeds the payload
    * through a per-partition codec session. The Spark-side contract
    * is real and tested: typed flatMap explosion, per-row OUTPUT
    * BOUNDED by maxFrames (an exploding column must never be
    * unbounded per input row at 100 TB), deterministic frame
    * timestamps, non-video rows contribute nothing.
    * ========================================================= */
  def sampleFrames(media: Dataset[MediaRecord], maxFrames: Int): Dataset[FrameRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    require(maxFrames > 0, "maxFrames must be positive")
    media.flatMap { r =>
      if (r.kind != "video" || r.durationMs <= 0 || r.payload.isEmpty) Iterator.empty
      else {
        val n = math.min(maxFrames.toLong, math.max(1L, r.durationMs / 1000L)).toInt
        (0 until n).iterator.map { i =>
          val start = (r.payload.length.toLong * i / n).toInt
          val end = (r.payload.length.toLong * (i + 1) / n).toInt
          FrameRecord(r.mediaId, i, r.durationMs * i / n,
            java.util.Arrays.copyOfRange(r.payload, start, end))
        }
      }
    }
  }

  /** Perceptual dHash grid: 6 rows × 11 columns of box-averaged luma
    * → 10 left-vs-right comparisons per row = 60 bits, deliberately
    * the SAME width as the text SimHash so
    * [[graft.operators.Dedup.simhashPairs]]'s block-pair banding,
    * hot-bucket cap, and first-clean-pair ownership apply to images
    * VERBATIM (the classic 8×8 dHash is 64-bit; dropping to 10×6
    * comparisons loses nothing the hamming threshold cares about). */
  val DHashCols = 11
  val DHashRows = 6

  /** REAL perceptual image hash (dHash, difference hash): decode via
    * ImageIO, box-average integer luma (r+g+b sums — no float, no
    * Java2D resampling, so the value is bit-exact across JVMs) into
    * the [[DHashRows]]×[[DHashCols]] grid, emit bit 1 where a cell's
    * mean luma exceeds its right neighbor's (cross-multiplied integer
    * compare — cells may cover unequal pixel counts). Near-identical
    * images — recompressed, mildly resized — keep most bits; distinct
    * images land ~30 bits apart (spec plants both). Returns
    * (doc_id, simhash) rows for DECODABLE image rows only, named to
    * feed [[graft.operators.Dedup.simhashPairs]] directly.
    *
    * Test-gated, not an oracle row: the driver's tables carry no
    * image payloads and DuckDB ships no image codec, so there is no
    * cross-engine surface to pin — same standing as the other
    * multimodal decode components (§2.F). */
  def imageDHash(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.flatMap { r =>
          decodedImage(r).map { img => (r.mediaId, dhash60(img)) }
        }
      }
    }.toDF("doc_id", "simhash")
  }

  /** Payload-level entry point for [[imageDHash]]'s hash: decode one
    * image payload and return its 60-bit dHash, None when the JDK
    * cannot decode the bytes. Shared with the STREAMING image dedup
    * ([[graft.streaming.StreamDedup.distinctByImageHash]]), which
    * keys `dropDuplicatesWithinWatermark` on the exact hash value —
    * pixel-identical payloads collide regardless of container format
    * (PNG vs BMP of the same pixels), while lossy-recompressed
    * near-dups (hamming 1..k) need the batch pair machinery. */
  def dHashOf(payload: Array[Byte]): Option[Long] =
    decodedImage(MediaRecord(0L, "image", payload, 0, 0, 0L)).map(dhash60)

  /** The 60-bit dHash of one decoded image (see [[imageDHash]]). */
  private[multimodal] def dhash60(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    // integer box bounds; degenerate dims (w < cols, h < rows) clamp
    // to a nonempty 1-pixel cell so tiny images still hash
    val cols = DHashCols
    val rows = DHashRows
    val sums = Array.ofDim[Long](rows, cols)
    val cnts = Array.ofDim[Long](rows, cols)
    var cy = 0
    while (cy < rows) {
      val y0 = math.min((h.toLong * cy / rows).toInt, h - 1)
      val y1 = math.max(y0 + 1, (h.toLong * (cy + 1) / rows).toInt)
      var cx = 0
      while (cx < cols) {
        val x0 = math.min((w.toLong * cx / cols).toInt, w - 1)
        val x1 = math.max(x0 + 1, (w.toLong * (cx + 1) / cols).toInt)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val px = img.getRGB(x, y)
            s += ((px >> 16) & 0xff) + ((px >> 8) & 0xff) + (px & 0xff)
            x += 1
          }
          y += 1
        }
        sums(cy)(cx) = s
        cnts(cy)(cx) = (y1 - y0).toLong * (x1 - x0)
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    cy = 0
    while (cy < rows) {
      var cx = 0
      while (cx < cols - 1) {
        // mean(cx) > mean(cx+1) without division: cross-multiply
        val gt = sums(cy)(cx) * cnts(cy)(cx + 1) > sums(cy)(cx + 1) * cnts(cy)(cx)
        bits = (bits << 1) | (if (gt) 1L else 0L)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** Image near-dup pairs: [[imageDHash]] → the q37 block-pair
    * machinery ([[graft.operators.Dedup.simhashPairs]] unchanged,
    * including the optional hot-bucket cap). Recall contract is the
    * INHERITED one, same as text simhash: the block-pair pigeonhole
    * GUARANTEES candidates up to hamming
    * [[graft.operators.Dedup.SimGuarantee]] (= 6: 8 blocks, 2 must
    * stay clean); `maxHamming` beyond that only widens the exact
    * post-filter — a pair at hamming 7..maxHamming is reported iff
    * its flipped bits happen to leave two blocks clean (probabilistic,
    * not guaranteed). Same-pixel re-encodes land at hamming 0 and
    * mild lossy/resize copies in low single digits (spec-measured),
    * so the guaranteed band is the band that matters. */
  def imageNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 10,
                        maxBucketPop: Option[Long] = None): DataFrame =
    graft.operators.Dedup.simhashPairs(imageDHash(media), maxHamming, maxBucketPop)

  /** 60-bit AUDIO fingerprint per decodable payload — the audio
    * analog of [[imageDHash]], deliberately 60 bits wide so the q37
    * block-pair machinery applies verbatim: |PCM| energy box-averaged
    * into 61 equal time bins (integer sums, exact cross-multiplied
    * mean compares — no float, no resampling), bit i = mean(bin i) >
    * mean(bin i+1). Invariances that hold EXACTLY: container format
    * (WAV vs AIFF of the same samples decode to the same PCM → same
    * hash) and positive integer gain scaling (both sides of every
    * cross-multiplied compare scale together). Trims / re-encodes
    * land in the low-hamming band the pair machinery's guaranteed
    * hamming ≤ 6 window catches. Undecodable rows are dropped. */
  def audioFingerprint(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.flatMap { r =>
          decodedPcm(r).flatMap { case (_, samples) =>
            audioFp60(samples).map(h => (r.mediaId, h))
          }
        }
      }
    }.toDF("doc_id", "simhash")
  }

  /** Payload-level entry point for [[audioFingerprint]] (the
    * [[dHashOf]] analog, shared with streaming dedup). */
  def audioFpOf(payload: Array[Byte]): Option[Long] =
    decodedPcm(MediaRecord(0L, "audio", payload, 0, 0, 0L))
      .flatMap { case (_, samples) => audioFp60(samples) }

  /** The 61-bin energy-profile hash of one PCM channel; None when
    * there are fewer samples than bins (no meaningful profile). */
  private[multimodal] def audioFp60(samples: Array[Short]): Option[Long] = {
    val bins = 61
    val n = samples.length
    if (n < bins) None
    else {
      val sums = new Array[Long](bins)
      val cnts = new Array[Long](bins)
      var b = 0
      while (b < bins) {
        val i0 = (n.toLong * b / bins).toInt
        val i1 = math.max(i0 + 1, (n.toLong * (b + 1) / bins).toInt)
        var s = 0L
        var i = i0
        while (i < i1) { s += math.abs(samples(i).toLong); i += 1 }
        sums(b) = s
        cnts(b) = (i1 - i0).toLong
        b += 1
      }
      var bits = 0L
      b = 0
      while (b < bins - 1) {
        val gt = sums(b) * cnts(b + 1) > sums(b + 1) * cnts(b)
        bits = (bits << 1) | (if (gt) 1L else 0L)
        b += 1
      }
      Some(bits)
    }
  }

  /** Audio near-dup pairs: [[audioFingerprint]] → the q37 block-pair
    * machinery unchanged ([[graft.operators.Dedup.simhashPairs]],
    * hot-bucket cap included); recall contract inherited — hamming
    * ≤ 6 guaranteed by the block-pair pigeonhole, beyond that the
    * exact post-filter only widens. */
  def audioNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 10,
                        maxBucketPop: Option[Long] = None): DataFrame =
    graft.operators.Dedup.simhashPairs(audioFingerprint(media), maxHamming, maxBucketPop)

  /** Loads a parquet/DataFrame of media rows into the typed Dataset,
    * validating the expected physical schema. */
  def asMedia(df: DataFrame): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(df.schema("payload").dataType == BinaryType, "payload must be binary")
    df.select(
      col("mediaId").cast("long"),
      col("kind").cast("string"),
      col("payload"),
      col("width").cast("int"),
      col("height").cast("int"),
      col("durationMs").cast("long"))
      .as[MediaRecord]
  }
}
