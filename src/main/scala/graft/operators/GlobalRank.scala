package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dense global row numbering WITHOUT a single-partition window.
  *
  * `Window.orderBy(...)` (no partition spec) plans a SinglePartition
  * exchange — every row through one task — which is the classic
  * scale-killer for "number these rows 1..N in order" requirements
  * (e.g. the appearance-order "Player N" renaming of
  * reference: scripts/anonymize.py). This operator computes the same
  * dense 1-based numbering in three scalable steps:
  *
  *  1. `repartitionByRange` on the sort key: partition i holds a key
  *     range strictly below partition i+1's (range boundaries from
  *     Spark's deterministic reservoir sample);
  *  2. sort within partitions, then read the per-partition 0-based
  *     local position out of `monotonically_increasing_id` (low 33
  *     bits; the high bits are the partition id) — a narrow,
  *     shuffle-free projection;
  *  3. per-partition row counts → prefix-sum offsets. The counts are
  *     O(#partitions) — 32 longs on this session, a few thousand on a
  *     real cluster — collected to the driver exactly like RDD
  *     `zipWithIndex` does, then rejoined as a literal map lookup.
  *
  * The input is materialized once via `localCheckpoint` so the counts
  * job and the final plan share one computation of the upstream
  * pipeline (and the assigned local positions cannot drift between
  * the two reads).
  *
  * Requires `sortCols` to be a TOTAL order (tie-free): with ties the
  * numbering would depend on partition-internal order. Callers rank
  * aggregated key tables (one row per key, key in the sort), so this
  * holds by construction.
  */
object GlobalRank {

  /** Adds `out` = dense 1-based global row number in `sortCols` order
    * (nulls first, matching SQL `NULLS FIRST`). */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String): DataFrame = {
    val (parted, offset) = rangeOffsets(df, sortCols, count(lit(1)), _
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__local", col("__mid").bitwiseAND(lit((1L << 33) - 1))))
    parted
      .withColumn(out, (col("__local") + offset + 1L).cast("long"))
      .drop("__mid", "__pid", "__local")
  }

  /** Steps 1 and 3 above, shared with [[SequencePack.withBin]]: `df`
    * range-partitioned and sorted on `sortCols`, given the columns
    * `perRow` adds (which must include the int partition id `__pid`),
    * pinned eagerly; plus the offset column, per row the aggregate
    * `total` summed over every partition before its own. */
  private[operators] def rangeOffsets(df: DataFrame, sortCols: Seq[Column],
      total: Column, perRow: DataFrame => DataFrame): (DataFrame, Column) = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Range partitioning EXECUTES its child twice — once for the
    // reservoir sample that picks the boundaries, once for the real
    // shuffle — so an expensive upstream projection (q98's quality
    // score, q67/q96/q104's BPE token count: full passes over the
    // text column) runs twice. Pin the input rows once; both the
    // sample and the shuffle read the materialized slim rows. Local
    // pin: it is released a few lines down, so the reliable-checkpoint
    // tier would only add an FS round-trip it can never benefit from.
    val pinned = Pin.local(df, eager = true)
    val parted = pinned
      .repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .transform(perRow)
      .transform(Pin(_, eager = true))
    // parted's eager pin holds the per-row columns now; the input
    // pin's blocks are dead weight (slim, but release them anyway —
    // packBinned callers hold a row per document)
    Pin.release(pinned)
    val totals = parted.groupBy(col("__pid")).agg(total)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // prefix-sum: offset(p) = total of the partitions before p
    val offsets: Map[Int, Long] = {
      var acc = 0L
      totals.keys.toSeq.sorted.map { p =>
        val o = p -> acc; acc += totals(p); o
      }.toMap
    }
    (parted,
      if (offsets.isEmpty) lit(0L) else element_at(typedlit(offsets), col("__pid")))
  }
}
