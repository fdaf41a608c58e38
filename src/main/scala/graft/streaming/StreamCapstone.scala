package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Pin}
import graft.queries.PipelineOps

/** The STREAMING incremental capstone — the daily-ingest deployment
  * the round-13 pieces exist for, composed: the sharded firehose
  * source ([[graft.sources.EventLogSource.readShardedStream]], or any
  * file stream landing (doc_id, text) rows) drives
  * [[PipelineOps.incrementalStep]] inside `foreachBatch`; every
  * micro-batch is a DELTA against the persisted base indexes, its
  * survivors append to the output table, its q71 contamination hits
  * to the quarantine table, and its index delta APPENDS to the base
  * index tables so the next batch dedups against everything before it.
  *
  * Why foreachBatch and not a pure streaming plan: the capstone's
  * dedup semantics are cluster-keyed (connected components + min-id
  * survivor) — cross-row state no watermark bound can carry — and
  * the probe side is a persisted index, not stream state. foreachBatch
  * is Structured Streaming's sanctioned shape for exactly this: the
  * source/checkpoint machinery (exactly-once file progress, restart
  * resume) wraps a batch-exact core, so the stream's cumulative
  * output equals the batch incremental run over the union of deltas
  * (StreamingSpec replays micro-batches and asserts set-equality).
  * Batches must arrive with ids above all base ids (the
  * [[PipelineOps.incrementalCapstone]] contract; Firehose delivery
  * ids are monotone by construction).
  */
object StreamCapstone {

  /** Start the stream. `docs` must be a STREAMING DataFrame carrying
    * (doc_id bigint, text string); `bench` the held-out benchmark
    * docs (static, tiny). Survivor rows (doc_id, clean_text, batch_id)
    * append under `outPath`; quarantine rows (doc_id, batch_id) under
    * `quarantinePath`.
    *
    * Base indexes live as the PERSISTED bucketed tables ([[PipelineOps.persistBaseIndexes]]'s
    * `prefix`), and each micro-batch's index delta APPENDS to them
    * ([[PipelineOps.appendBaseIndexes]]). Per-batch resident state is
    * just the batch's own pins — the 5M-doc soak measured the removed
    * in-memory form (an index union re-pinned per batch) at ~85 s PER
    * BATCH on the full 45M-row union; here a batch pays
    * delta-sized work + two bucketed probes + a delta-sized append,
    * flat at any base size, and the nightly
    * [[PipelineOps.compactBaseIndexes]] job keeps the file counts
    * bounded. Restart semantics: survivors/quarantine stay
    * exactly-once through the checkpoint, while a batch RETRY may
    * re-append its index rows — harmless by construction (duplicate
    * fp rows don't change an anti-join; duplicate band rows only
    * duplicate candidates ahead of the `hitsBase` distinct), so
    * at-least-once appends preserve the output exactly. */
  def incrementalCapstoneStreamPersisted(
      docs: DataFrame,
      prefix: String,
      bench: DataFrame,
      outPath: String,
      quarantinePath: String,
      checkpointDir: String,
      buckets: Int = 32): StreamingQuery = {
    require(docs.isStreaming, "docs must be a streaming DataFrame")
    val spark = docs.sparkSession
    val benchH = Pin(StreamClean.benchHashes(bench), eager = true)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val raw = batch.select(col("doc_id"), col("text"))
          .transform(Pin(_))
        // re-resolve the tables EVERY batch: prior batches' appends
        // must be visible, and a cached relation would pin the old
        // file list
        val idx = PipelineOps.BaseIndexes(
          spark.table(s"${prefix}_rawfp"), spark.table(s"${prefix}_bands"))
        val (surv, delta) = PipelineOps.incrementalStep(idx, raw, bench)
        surv.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
        raw
          .select(col("doc_id"),
            explode(graft.plans.ShingleHashes(trim(col("text")), 5, Dedup.P)).as("h"))
          .join(broadcast(benchH), Seq("h"))
          .select(col("doc_id")).distinct()
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(quarantinePath)
        PipelineOps.appendBaseIndexes(delta, prefix, buckets)
        // drop this batch's pins (raw + incrementalStep's internals);
        // only the static bench hash set survives batches
        spark.catalog.refreshTable(s"${prefix}_rawfp")
        spark.catalog.refreshTable(s"${prefix}_bands")
        val keep = pinnedRddIds(benchH).toSet
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keep(id) }
          .values.foreach(_.unpersist(blocking = false))
        ()
      }
      .start()
  }

  private def pinnedRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
}
