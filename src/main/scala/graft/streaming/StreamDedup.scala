package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the live-ingest analog of the
  * batch exact-dedup query (q34; reference: the dataset pipeline
  * dedups the firehose dump before distillation). A training-data
  * ingest that consumes the event stream directly needs the same
  * guarantee online.
  *
  * Spark-first shape: `dropDuplicatesWithinWatermark` on the content
  * key — state is one entry per distinct key seen within the
  * watermark horizon and is dropped automatically once the watermark
  * passes it, so state size is bounded by (arrival rate × watermark
  * delay), NOT by stream lifetime. Plain `dropDuplicates` on an
  * unbounded stream accumulates keys forever — the classic
  * streaming-state leak; the watermark variant is the only shape that
  * survives an always-on 100 TB/day firehose. Duplicates arriving
  * LATER than the watermark delay are admitted again (they missed the
  * state window) — the standard at-scale trade, matched to the
  * source's replay horizon, and exactly-once *within* the horizon.
  *
  * The key is a fixed 32-char hash per row regardless of document
  * size, so state cost is independent of document length.
  */
object StreamDedup {

  /** One incoming document-ish record (event-time in `ts`). */
  case class Doc(docId: Long, ts: Timestamp, text: String)

  /** Distinct-content stream: first arrival of each content hash
    * within the watermark horizon passes through. The key is the SAME
    * normalized fingerprint the batch q34 dedup groups on
    * (TextFunctions.fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text), so online and batch agree
    * on what counts as a duplicate. */
  def distinctByContent(docs: Dataset[Doc],
                        watermarkDelay: String = "10 seconds"): DataFrame =
    docs
      .withColumn("content_key", graft.functions.TextFunctions.fingerprint(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_key")

  /** One incoming image record (event-time in `ts`). */
  case class Img(imgId: Long, ts: Timestamp, payload: Array[Byte])

  /** Distinct-image stream, keyed on the 60-bit perceptual dHash
    * ([[graft.multimodal.Multimodal.dHashOf]]): the first arrival of
    * each pixel-level-identical image within the watermark horizon
    * passes through, whatever its container format (a PNG and a BMP
    * of the same pixels collide; byte-level dedup would miss them).
    * Undecodable payloads are DROPPED (a crawled image firehose
    * filters them anyway; emit-through would forward junk downstream).
    * Exact-key semantics: lossy near-dups at hamming ≥ 1 pass — the
    * batch `Multimodal.imageNearDupPairs` handles those; state is one
    * 8-byte hash per distinct image in the horizon. */
  def distinctByImageHash(imgs: Dataset[Img],
                          watermarkDelay: String = "10 seconds"): DataFrame =
    firstPerHash(imgs, graft.multimodal.Multimodal.dHashOf, "img_id", "dhash",
      watermarkDelay)

  /** Distinct-audio stream — [[distinctByImageHash]]'s analog keyed
    * on the 60-bit energy-profile fingerprint
    * ([[graft.multimodal.Multimodal.audioFpOf]]): container-format
    * and exact-gain re-encodes of the same recording collide within
    * the watermark horizon; lossy near-dups (hamming ≥ 1) are the
    * batch `Multimodal.audioNearDupPairs`'s job. Undecodable
    * payloads dropped; state one 8-byte hash per distinct clip. */
  def distinctByAudioHash(clips: Dataset[Img],
                          watermarkDelay: String = "10 seconds"): DataFrame =
    firstPerHash(clips, graft.multimodal.Multimodal.audioFpOf, "clip_id", "afp",
      watermarkDelay)

  /** First arrival of each `hashOf(payload)` key within the watermark
    * horizon, as (`idCol`, ts, `keyCol`); payloads `hashOf` cannot
    * decode (None) are dropped. */
  private def firstPerHash(rows: Dataset[Img], hashOf: Array[Byte] => Option[Long],
                           idCol: String, keyCol: String,
                           watermarkDelay: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .flatMap(r => hashOf(r.payload).map(h => (r.imgId, r.ts, h)))
      .toDF(idCol, "ts", keyCol)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)
  }
}
