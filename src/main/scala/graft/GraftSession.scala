package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Canonical local SparkSession for every graft entry point: UTC,
  * nanos-as-long parquet timestamps, graft extensions (SQL-registered
  * native expressions), no UI. One definition so the mains and the
  * test session can't drift apart on the configs correctness depends
  * on. */
object GraftSession extends Logging {
  def local(cores: String, shufflePartitions: String,
            logLevel: String = "WARN"): SparkSession = {
    // Spark installs its log4j2 defaults (root INFO) on first use: do
    // that now and apply `logLevel` BEFORE the builder runs, so the
    // ~40 SparkContext start-up INFO lines are never printed.
    initializeLogIfNecessary(false)
    Configurator.setRootLevel(Level.valueOf(logLevel))
    // Unpersisting a locally checkpointed RDD (every Pin.release) warns
    // that its lineage is truncated — the trade-off Pin's doc states.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    // Every streaming query warns twice that it runs without AQE, which
    // this session enables for its batch queries.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream", Level.ERROR)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution", Level.ERROR)
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // The whole-stage-codegen class cache holds 100 entries by
      // default; a 47-query workload evicts earlier queries' compiled
      // classes and pays the multi-second Janino recompile on every
      // re-run (measured: q37's 60-aggregate stage is 0.3 s warm,
      // 4 s when recompiled). Size it to the workload.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE's coalesce FLOOR (default 1 MiB), not the partition count,
      // is what sizes post-shuffle parallelism once shuffles are small:
      // with parallelismFirst (Spark's default) the coalescer packs
      // partitions no smaller than this floor, so an event-stream
      // shuffle that compresses to ~2 MB runs its whole window stack
      // in 1-2 tasks while the other cores idle (round-18 job audit:
      // q62 taskSum ≈ wall, 1 task/stage). 256 KiB re-opens parallelism
      // exactly where work-per-byte is high — measured q62 2.72→1.64 s,
      // q50 1.25→0.63 s, q87 1.10→0.64 s, q12 0.90→0.61 s at sf0.1,
      // while the hash-exchange dedup family is flat (sum over a
      // 9-query probe set 9.14 s→9.12 s; per-conf sweep in
      // OPTIMIZATION_r18.md) — and it is IRRELEVANT at production
      // scale, where coalescing is governed by
      // advisoryPartitionSizeInBytes (64 MiB) long before a sub-MiB
      // floor can bind; it is a floor, not a target — no plan shape
      // changes. A 256K/512K/1M re-sweep kept 256 KiB.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256KB")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
