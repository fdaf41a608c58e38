package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scan-parallelism dial (round 18; guide §2 "derive partitioning from
  * the input, never a constant"): parquet ROW GROUPS are the atomic
  * scan-split unit, so a table written as fewer row groups than the
  * session has cores runs every scan-side projection on that few
  * tasks. For the operators whose cost IS the scan-side projection —
  * per-character native text statistics, classifier design matrices,
  * LM scoring — that serializes the whole operator (round-18 job
  * audit: q97's entire design projection on ONE task, 0.9 s of a
  * 1.0 s query at bench scale).
  *
  * When — and only when — the scan would run at fewer splits than the
  * session's cores, one doc_id-keyed exchange of the raw rows re-opens
  * parallelism: measured q97 0.92 → 0.38 s, q76 0.84 → 0.48 s at
  * sf0.1. The condition reads the PLANNED scan
  * partition count (not the file count — a few huge multi-row-group
  * files split fine), so a production layout is a no-op: at 100 TB the
  * scan parallelism is already ≥ cores and no full-text shuffle is
  * ever added. The key is a deterministic hash of `key` (NOT
  * round-robin, which pays the sort-before-repartition pass and
  * re-draws row placement under task retry — SPARK-38388).
  *
  * Where it does NOT pay (A/B'd, kept off): operators whose heavy
  * stages run AFTER their own keyed exchange (q77/q93 — the h-keyed
  * exchange already re-opens parallelism; the added text shuffle read
  * flat-to-worse).
  */
object Spread {
  def apply(df: DataFrame, key: String = "doc_id"): DataFrame = {
    // The probe builds a throwaway physical plan (toRdd); restrict it
    // to scan-only inputs (projections/filters over one relation —
    // round-19 advice): on a plan containing exchanges, AQE would
    // EXECUTE the upstream shuffle stages just to count partitions.
    // A non-scan input returns unchanged — the dial exists for raw
    // file layouts, nothing else.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def scanOnly(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case pr: Project => scanOnly(pr.child)
      case f: Filter => scanOnly(f.child)
      case _ => false
    }
    if (!scanOnly(df.queryExecution.analyzed)) df
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val splits = df.queryExecution.toRdd.getNumPartitions
      if (splits >= cores) df else df.repartition(cores, col(key))
    }
  }
}
